"""Persisted MinHash-LSH index: fuzzy incremental dedup against a
corpus that is NOT recomputed per batch.

The incremental-dedup family so far is exact-identity only:
``dedup_against`` anti-joins fingerprints, ``operators/bloom.py``
probes a fingerprint sketch. A recurring-crawl pipeline also needs the
NEAR-dup question — "is this new document a fuzzy duplicate of
anything in the 100 TB historical corpus?" — without re-minhashing or
reshuffling the corpus every batch. Same move as
``operators/ann_index.py``: pay one pass to persist the index as Delta
tables, then every probe touches only the new batch.

Layout under ``index_path``:

- ``postings/``  — (band, bucket, id), PARTITIONED BY band. LSH
  banding: documents sharing any (band, bucket) are candidates.
- ``signatures/`` — (id, sig array<long>), one row per indexed doc,
  for the verify step (estimated Jaccard = fraction of agreeing
  signature components, a standard unbiased MinHash estimate).

Model parameters (num_hashes / bands / shingle_size) are persisted as
table properties on the postings table — the index is self-describing
and probes REFUSE on a geometry mismatch instead of silently hashing
into a different space.

Probe shape (the scale argument): the new batch is the SMALL side, so
its banded keys broadcast and the postings scan is shuffle-free
(plan-contract-tested). The verify join over the candidate set is
left to AQE: candidates are usually tiny (runtime-broadcast), but a
hot LSH bucket can make them corpus-occupancy-bounded rather than
batch-bounded, in which case only the candidate set + signatures
shuffle — never an unbounded driver broadcast. Signature agreement is
computed in whole-stage codegen (zip_with + filter), no Python.
Growing the corpus is an APPEND of signatures then postings
(fail-safe order: orphan signatures are inert, orphan postings would
silently miss matches) — no rebuild.

No reference counterpart (jodie's dedup surface is exact,
DeltaHelpers.scala:243-330); this extends it the way a training-data
pipeline needs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jodie_spark.operators.text_dedup import (
    _banded,
    _word_tokens,
    minhash_signature_from_word_hashes,
)

_PROP_NUM_HASHES = "jodie.minhash.num_hashes"
_PROP_BANDS = "jodie.minhash.bands"
_PROP_SHINGLE = "jodie.minhash.shingle_size"


def _postings_path(index_path: str) -> str:
    from jodie_spark.fs import get_fs

    return get_fs(index_path).join(index_path, "postings")


def _signatures_path(index_path: str) -> str:
    from jodie_spark.fs import get_fs

    return get_fs(index_path).join(index_path, "signatures")


def _signed(df: DataFrame, text_col: str, id_col: str,
            num_hashes: int, bands: int, shingle_size: int) -> DataFrame:
    """(id, sig, banded) for each document — one Arrow-vectorized pass."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(
                _word_tokens(F.col(text_col)), lambda w: F.xxhash64(w)
            ).alias("wh"),
        )
        .withColumn(
            "sig",
            minhash_signature_from_word_hashes(
                F.col("wh"), num_hashes, shingle_size
            ),
        )
        .select("id", "sig", _banded("sig", num_hashes, bands).alias("bb"))
    )


def build_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    mode: str = "error",
) -> None:
    """One pass over the corpus → band postings (one table, not
    partitioned by band) + signatures, geometry persisted as table
    properties."""
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    from jodie_spark.tables.table import write_delta

    # localCheckpoint: the signing pipeline (tokenize + xxhash64 +
    # Arrow-vectorized minhash) is the dominant build cost — reuse its
    # result for both writes instead of executing the scan twice
    signed = _signed(
        df, text_col, id_col, num_hashes, bands, shingle_size
    ).localCheckpoint(eager=False)
    props = {
        _PROP_NUM_HASHES: str(num_hashes),
        _PROP_BANDS: str(bands),
        _PROP_SHINGLE: str(shingle_size),
    }
    # SIGNATURES FIRST: the two tables commit independently, and the
    # probe's postings⋈signatures inner join silently drops postings
    # whose signature is missing. Writing signatures before postings
    # makes a crash between the commits fail SAFE — orphan signatures
    # are inert, whereas orphan postings would silently miss matches.
    # Re-running a torn build/append is result-idempotent (the probe
    # ends in distinct; duplicate rows only cost storage).
    write_delta(
        signed.select("id", "sig"),
        _signatures_path(index_path),
        mode=mode,
        options=props,
    )
    # postings are NOT partitioned by band: every probe joins on
    # (band, bucket) with the batch broadcast, touching ALL bands — the
    # partitioning bought zero pruning while multiplying files per
    # append ×bands (guide §6.2 small-files; a band's postings land
    # sorted together within each file, so min/max skipping still works
    # for band-restricted maintenance scans)
    write_delta(
        signed.select(
            "id", F.explode("bb").alias("bb")
        ).select(F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"), "id"),
        _postings_path(index_path),
        mode=mode,
        options=props,
    )


def _index_geometry(spark: SparkSession, index_path: str) -> tuple[int, int, int]:
    from jodie_spark.tables.table import DeltaTable

    cfg = DeltaTable.forPath(spark, _postings_path(index_path)).snapshot().configuration
    try:
        return (
            int(cfg[_PROP_NUM_HASHES]),
            int(cfg[_PROP_BANDS]),
            int(cfg[_PROP_SHINGLE]),
        )
    except KeyError as e:
        raise ValueError(
            f"{index_path!r} is not a minhash index (missing {e} property) — "
            "build one with build_minhash_index"
        ) from None


def append_to_minhash_index(
    df: DataFrame, text_col: str, id_col: str, index_path: str
) -> None:
    """Grow the index with new documents — an APPEND using the
    PERSISTED geometry (never the caller's idea of it), no rebuild."""
    from jodie_spark.tables.table import write_delta

    num_hashes, bands, shingle_size = _index_geometry(
        df.sparkSession, index_path
    )
    signed = _signed(
        df, text_col, id_col, num_hashes, bands, shingle_size
    ).localCheckpoint(eager=False)
    # signatures first — fail-safe ordering, see build_minhash_index
    write_delta(signed.select("id", "sig"), _signatures_path(index_path), mode="append")
    write_delta(
        signed.select("id", F.explode("bb").alias("bb"))
        .select(F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"), "id"),
        _postings_path(index_path),
        mode="append",
    )


def query_minhash_index(
    spark: SparkSession,
    index_path: str,
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup matches of the new batch against the indexed corpus:
    ``(new_id, index_id, est_jaccard)`` with ``est_jaccard >=
    threshold`` (estimate = fraction of agreeing MinHash components).

    The batch side broadcasts (it is the small side by construction);
    the corpus postings/signatures scan without a corpus-side shuffle.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from jodie_spark.tables.table import DeltaTable

    # one log replay per index table: the postings snapshot serves both
    # the geometry properties and the data read
    pt = DeltaTable.forPath(spark, _postings_path(index_path))
    psnap = pt.snapshot()
    cfg = psnap.configuration
    try:
        num_hashes = int(cfg[_PROP_NUM_HASHES])
        bands = int(cfg[_PROP_BANDS])
        shingle_size = int(cfg[_PROP_SHINGLE])
    except KeyError as e:
        raise ValueError(
            f"{index_path!r} is not a minhash index (missing {e} property) — "
            "build one with build_minhash_index"
        ) from None
    signed = _signed(df, text_col, id_col, num_hashes, bands, shingle_size)
    batch_keys = F.broadcast(
        signed.select(
            F.col("id").alias("new_id"),
            F.col("sig").alias("new_sig"),
            F.explode("bb").alias("bb"),
        ).select(
            "new_id", "new_sig",
            F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
        )
    )
    postings = pt.toDF(_snapshot=psnap)
    sigs = DeltaTable.forPath(spark, _signatures_path(index_path)).toDF()
    # The postings join broadcasts the BATCH side (truly batch-bounded:
    # batch_rows × bands keys). The candidate set it produces is NOT
    # batch-bounded — it scales with corpus bucket occupancy, and a hot
    # LSH bucket (near-empty/boilerplate docs all hashing together) can
    # blow it up to millions of rows — so the verify join deliberately
    # carries NO broadcast hint: AQE broadcasts it at runtime when it
    # is small (the common case, observed in the plan tests) and falls
    # back to a shuffle of just the candidate set + signatures when a
    # hot bucket makes that the only safe plan. Pre-deduping exact
    # copies (exact_dedup / bloom) before indexing keeps buckets cool.
    candidates = postings.join(batch_keys, ["band", "bucket"]).select(
        "new_id", "new_sig", F.col("id").alias("index_id")
    )
    agree = F.size(
        F.filter(
            F.zip_with("new_sig", "sig", lambda x, y: x == y), lambda b: b
        )
    )
    return (
        sigs.join(candidates, candidates["index_id"] == sigs["id"])
        .withColumn(
            "est_jaccard", (agree / F.lit(float(num_hashes))).cast("double")
        )
        .filter(F.col("est_jaccard") >= F.lit(float(threshold)))
        .select("new_id", "index_id", "est_jaccard")
        .distinct()
    )


def minhash_index_filter_new(
    spark: SparkSession,
    index_path: str,
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """The dedup direction: rows of ``df`` with NO near-dup in the
    index (anti-join on the match set — the match set is tiny, the
    batch never reshuffles the corpus)."""
    matches = query_minhash_index(
        spark, index_path, df, text_col, id_col, threshold
    ).select(F.col("new_id").alias(id_col)).distinct()
    return df.join(matches, [id_col], "left_anti")
