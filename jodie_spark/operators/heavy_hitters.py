"""Exact heavy hitters at corpus scale: Misra-Gries candidate
generation + exact recount.

The problem: "every value occurring in more than φ of all rows" (top
tokens, dominant hosts, boilerplate lines) over 100 TB. A plain
``groupBy(value).count()`` is exact but shuffles EVERY DISTINCT VALUE —
at token granularity that is a vocabulary-sized exchange per query. The
classic two-phase answer (Misra & Gries 1982; the summary family behind
DataSketches' frequent-items):

1. **Candidate generation** — one pass, per partition, with a
   Misra-Gries summary of k = ⌈1/φ⌉ counters (`mapInPandas`,
   Arrow-batched; per batch the update is a vectorized
   ``value_counts`` merge + one weighted decrement, no per-row Python).
   MG's guarantee is one-sided: any value with partition count
   > n_p/k survives the partition's summary, and a value with GLOBAL
   count > N/k must exceed n_p/k in at least one partition
   (pigeonhole) — so the union of per-partition candidates is a
   SUPERSET of the true heavy hitters. The exchange carries at most
   ``partitions × k`` candidate values, never the vocabulary.
2. **Exact recount** — broadcast the candidate set (bounded,
   partitions × k rows) back over the corpus as a semi join, then an
   exact map-side-combined count of ONLY the candidates, filtered to
   ``count > φ·N``. The output is exactly the SQL answer
   ``GROUP BY value HAVING count(*) > φ * (SELECT count(*) ...)`` —
   the sketch only bounds which values get recounted, so the result is
   value-for-value oracle-checkable despite the approximate first pass.

Two corpus scans total; both aggregate map-side. NULL values are
ignored (neither candidates nor the row total) — document tokens never
null, and SQL users filter nulls anyway.

The reference has no frequent-items operator; this extends its table
utilities with the LLM-pipeline need (stopword discovery, boilerplate
hosts, template lines) the same way the dedup suite does.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _mg_update(counts: pd.Series, vc: pd.Series, k: int) -> pd.Series:
    """One Misra-Gries merge step shared by the flat and grouped
    generators: add a batch's value_counts, then — past k counters —
    subtract the (k+1)-th largest running count from everything and
    drop non-positives. One decrement "round" of δ hits ≥ k+1
    counters, so any value loses at most n_p/(k+1) of its true count,
    preserving the heavy-hitter survival guarantee."""
    counts = vc if counts is None or counts.empty else counts.add(vc, fill_value=0)
    if len(counts) > k:
        thresh = counts.nlargest(k + 1).iloc[-1]
        counts = counts - thresh
        counts = counts[counts > 0]
    return counts


def _summary_schema(vals: DataFrame, *names: str) -> T.StructType:
    """Output schema of a Misra-Gries pass: the given columns (nullable:
    the row-count rows carry a NULL value) plus the count ``n``. A
    StructType, not DDL text, so nested field names need no quoting."""
    return T.StructType(
        [T.StructField(c, vals.schema[c].dataType) for c in names]
        + [T.StructField("n", T.LongType())]
    )


def _mg_candidates(k: int):
    """mapInPandas generator: Misra-Gries summary with k counters per
    partition, emitting candidate values (n=0) plus one row-count row
    (value NULL, n=partition rows)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts = pd.Series(dtype="int64")
        n_rows = 0
        for pdf in batches:
            vals = pdf["value"].dropna()
            n_rows += len(vals)
            if len(vals) == 0:
                continue
            counts = _mg_update(counts, vals.value_counts(), k)
        out = pd.DataFrame({"value": counts.index, "n": 0})
        out = pd.concat(
            [out, pd.DataFrame({"value": [None], "n": [n_rows]})],
            ignore_index=True,
        )
        yield out

    return gen


def _mg_grouped_candidates(k: int):
    """Grouped mapInPandas generator: an independent k-counter
    Misra-Gries summary PER GROUP seen in the partition (state =
    groups-in-partition × k — linear in the group count, as is the
    output itself). Emits (group, value, 0) candidates plus one
    (group, NULL, n) row-count row per group."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        totals: dict = {}
        for pdf in batches:
            pdf = pdf.dropna(subset=["group", "value"])
            if pdf.empty:
                continue
            for g, sub in pdf.groupby("group", sort=False)["value"]:
                totals[g] = totals.get(g, 0) + len(sub)
                counts[g] = _mg_update(counts.get(g), sub.value_counts(), k)
        frames = [
            pd.DataFrame({"group": g, "value": s.index, "n": 0})
            for g, s in counts.items()
        ]
        frames.append(
            pd.DataFrame(
                {
                    "group": list(totals),
                    "value": [None] * len(totals),
                    "n": list(totals.values()),
                }
            )
        )
        yield pd.concat(frames, ignore_index=True)

    return gen


def heavy_hitters(
    df: DataFrame, value_col: str, phi: float, group_col: str | None = None
) -> DataFrame:
    """Every value of ``value_col`` occurring in MORE than ``phi`` of
    the non-null rows, with its exact count — columns ``(value, cnt)``,
    or ``(group, value, cnt)`` with ``group_col`` (φ is then relative
    to EACH group's row count: per-language stopwords, per-domain
    boilerplate lines). NULL values — and, when grouped, NULL groups —
    are ignored.

    Exact despite the sketch: Misra-Gries only proposes candidates
    (a guaranteed superset for thresholds ≥ φ); the returned counts
    come from an exact recount of those candidates.
    """
    if not (0.0 < phi < 1.0):
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    k = max(1, math.ceil(1.0 / phi))
    if group_col is not None:
        return _grouped_heavy_hitters(df, value_col, phi, group_col, k)
    vals = df.select(F.col(value_col).alias("value")).filter(
        F.col("value").isNotNull()
    )
    # the MG pass is the expensive corpus scan and is consumed TWICE
    # below (candidates + row total, two jobs ReuseExchange cannot
    # merge) — localCheckpoint materializes its tiny output
    # (≤ partitions × (k+1) rows) on first use so the scan runs once
    mg = vals.mapInPandas(
        _mg_candidates(k), schema=_summary_schema(vals, "value")
    ).localCheckpoint(eager=False)
    # candidates are bounded (≤ partitions × k) → broadcast; the total
    # is one row → broadcast cross join. No driver-side collect.
    cands = mg.filter(F.col("value").isNotNull()).select("value").distinct()
    total = mg.agg(F.sum("n").alias("__total__"))
    exact = (
        vals.join(F.broadcast(cands), "value", "left_semi")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.join(F.broadcast(total))
        .filter(F.col("cnt") > F.col("__total__") * F.lit(float(phi)))
        .select("value", "cnt")
    )


def _grouped_heavy_hitters(
    df: DataFrame, value_col: str, phi: float, group_col: str, k: int
) -> DataFrame:
    vals = (
        df.select(
            F.col(group_col).alias("group"), F.col(value_col).alias("value")
        )
        .filter(F.col("group").isNotNull() & F.col("value").isNotNull())
    )
    mg = vals.mapInPandas(
        _mg_grouped_candidates(k), schema=_summary_schema(vals, "group", "value")
    ).localCheckpoint(eager=False)
    # candidates/totals are LINEAR IN GROUP CARDINALITY (groups × k /
    # groups rows) — broadcast only while that fits comfortably; at
    # web-domain cardinality fall back to shuffle joins, where the
    # corpus exchange on (group, value) is unavoidable because the
    # output itself is that large. The count probe is cheap: mg is
    # localCheckpointed, so it reads the materialized summary.
    cands = mg.filter(F.col("value").isNotNull()).select("group", "value").distinct()
    totals = mg.groupBy("group").agg(F.sum("n").alias("__total__"))
    small = cands.count() <= 2_000_000
    bcast = F.broadcast if small else (lambda df: df)
    exact = (
        vals.join(bcast(cands), ["group", "value"], "left_semi")
        .groupBy("group", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.join(bcast(totals), "group")
        .filter(F.col("cnt") > F.col("__total__") * F.lit(float(phi)))
        .select(F.col("group").alias(group_col), "value", "cnt")
    )


def token_heavy_hitters(
    df: DataFrame, text_col: str = "text", phi: float = 0.01
) -> DataFrame:
    """Heavy hitters over the corpus's word tokens (same tokenization
    as ``corpus.token_frequencies``: lower-cased, non-letter
    boundaries): tokens carrying more than ``phi`` of all token
    occurrences — stopword/boilerplate discovery in two scans."""
    from jodie_spark.functions.text import _words

    tokens = df.select(F.explode(_words(F.col(text_col))).alias("token"))
    return heavy_hitters(tokens, "token", phi).withColumnRenamed(
        "value", "token"
    )
