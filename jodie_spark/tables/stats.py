"""Per-file statistics extracted from parquet footers.

Produces the Delta protocol's per-file ``stats`` JSON
(``numRecords`` / ``minValues`` / ``maxValues`` / ``nullCount``) without
re-scanning data: parquet row-group metadata already holds min/max/null
counts, so stats collection is O(footer), not O(rows). At 100 TB this is
the difference between free statistics and a second full scan.

Schema parity: reference OperationMetricHelper.scala:78-82 parses exactly
this shape back out of the log.
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq


def _json_safe(value: Any) -> Any:
    """Convert a pyarrow statistics scalar into a JSON-storable value."""
    if value is None:
        return None
    if isinstance(value, bytes):
        try:
            return value.decode("utf-8")
        except UnicodeDecodeError:
            return None  # binary min/max is not representable; skip
    if isinstance(value, _dt.datetime):
        # Delta stats store timestamps as ISO-8601 strings.
        return value.isoformat(sep="T", timespec="microseconds")
    if isinstance(value, _dt.date):
        return value.isoformat()
    if isinstance(value, float) and (math.isnan(value) or math.isinf(value)):
        return None  # NaN/Inf are not valid JSON; Delta skips them too
    if isinstance(value, (int, float, str, bool)):
        return value
    return str(value)


def collect_file_stats(
    file_path: str,
    num_indexed_cols: int | None = None,
    exclude: set[str] | None = None,
) -> dict[str, Any]:
    """Aggregate row-group statistics of one parquet file into Delta's
    stats dict: {"numRecords", "minValues", "maxValues", "nullCount"}.

    Only top-level leaf columns get min/max (nested paths contain '.').
    ``num_indexed_cols`` bounds stats to the first N schema columns —
    ``delta.dataSkippingNumIndexedCols`` semantics: on a 2000-column
    table, per-file stats JSON would otherwise dominate the log.
    ``None`` or a negative value indexes every column. The footer read
    routes through the storage facade, so schemed table paths
    (object stores, test fakes) collect stats the same way."""
    from jodie_spark.fs import get_fs

    try:
        with get_fs(file_path).open_input(file_path) as _fh:
            md = pq.ParquetFile(_fh).metadata
    except (OSError, pa.lib.ArrowInvalid):
        # files with parquet logical types newer than this pyarrow
        # (e.g. Spark 4's VARIANT annotation) cannot be footer-parsed
        # here — the error class varies by pyarrow version (OSError vs
        # ArrowInvalid) — fall back to a Spark count for numRecords and
        # skip min/max/nullCount (wide bounds are always safe for pruning)
        from pyspark.sql import SparkSession

        # stats collection runs in a thread pool: getActiveSession() is
        # thread-local (None in workers), so fall back to the global
        # instantiated session
        spark = SparkSession.getActiveSession() or getattr(
            SparkSession, "_instantiatedSession", None
        )
        if spark is None:
            raise
        n = spark.read.parquet(file_path).count()
        return {
            "numRecords": int(n),
            "minValues": {},
            "maxValues": {},
            "nullCount": {},
        }
    num_records = md.num_rows
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    indexed: set[str] | None = None
    if num_indexed_cols is not None and num_indexed_cols >= 0:
        seen: list[str] = []
        for i in range(len(md.schema)):
            top = md.schema.column(i).path.split(".")[0]
            if top not in seen:
                seen.append(top)
        indexed = set(seen[:num_indexed_cols])

    for rg_idx in range(md.num_row_groups):
        rg = md.row_group(rg_idx)
        for col_idx in range(rg.num_columns):
            chunk = rg.column(col_idx)
            name = chunk.path_in_schema
            if "." in name:  # nested field — Delta only stats leaf columns; we keep top-level only
                continue
            if exclude and name in exclude:
                # physical-only columns (materialized row lineage) stay
                # out of the stats JSON — they are not table columns
                continue
            if indexed is not None and name not in indexed:
                continue
            stats = chunk.statistics
            if stats is None:
                continue
            if stats.null_count is not None:
                nulls[name] = nulls.get(name, 0) + stats.null_count
            if stats.has_min_max:
                try:
                    mn = _truncate_stat(_json_safe(stats.min), is_max=False)
                    mx = _truncate_stat(_json_safe(stats.max), is_max=True)
                except NotImplementedError:
                    # pyarrow cannot decode min/max for some physical
                    # types (e.g. certain decimals) — a column without
                    # skipping stats is fine; a crashed WRITE is not
                    continue
                if mn is not None and (name not in mins or _lt(mn, mins[name])):
                    mins[name] = mn
                if mx is not None and (name not in maxs or _lt(maxs[name], mx)):
                    maxs[name] = mx

    return {
        "numRecords": num_records,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


_MAX_STRING_STAT_LEN = 32


def _truncate_stat(value: Any, is_max: bool) -> Any:
    """Bound stored string stats. A truncated min prefix is still a valid
    lower bound; a truncated max must be *widened* by incrementing its
    last character (the same trick Delta uses), because parquet writers
    may themselves truncate long string min/max and a prefix used as an
    exact upper bound would wrongly prune files."""
    if not isinstance(value, str) or len(value) <= _MAX_STRING_STAT_LEN:
        return value
    prefix = value[:_MAX_STRING_STAT_LEN]
    if not is_max:
        return prefix
    for i in range(len(prefix) - 1, -1, -1):
        ch = prefix[i]
        if ord(ch) < 0x10FFFF:
            nxt = ord(ch) + 1
            # skip the surrogate range: a lone surrogate becomes an
            # unpaired \ud8xx escape in the stats JSON that strict
            # parsers (other engines reading this table) reject
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            return prefix[:i] + chr(nxt)
    return None  # un-widenable; drop the stat rather than over-prune


def _lt(a: Any, b: Any) -> bool:
    try:
        return a < b
    except TypeError:
        return str(a) < str(b)

