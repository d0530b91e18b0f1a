"""Guards added in optimization round 14 (VERDICT r13 items 3-4):
stale caller-owned snapshots are rejected in strict mode, and
``_banded`` survives column names containing backticks."""

import os

import pytest

from jodie_spark.errors import JodieValidationError
from jodie_spark.tables.table import DeltaTable, write_delta


def test_stale_snapshot_rejected_in_strict_mode(spark, tmpdir_path, monkeypatch):
    path = os.path.join(tmpdir_path, "t")
    write_delta(spark.range(10).selectExpr("id", "id % 3 as k"), path)
    t = DeltaTable.forPath(spark, path)
    snap = t.snapshot()
    t.delete("k = 1")  # mutate: snap is now stale
    monkeypatch.setenv("JODIE_STRICT_SNAPSHOT", "1")
    with pytest.raises(JodieValidationError, match="stale _snapshot"):
        t.toDF(_snapshot=snap).count()
    # a fresh snapshot passes the guard
    assert t.toDF(_snapshot=t.snapshot()).count() == 7
    # and without strict mode the (documented, caller-owned) reuse still works
    monkeypatch.delenv("JODIE_STRICT_SNAPSHOT")
    t.toDF(_snapshot=snap)


def test_banded_escapes_backticked_column_names(spark):
    from jodie_spark.operators.text_dedup import _banded

    df = spark.range(4).selectExpr(
        "id", "array(id, id + 1, id + 2, id + 3) as `si``g`"
    )
    rows = df.select(_banded("si`g", num_hashes=4, bands=2).alias("b")).collect()
    assert len(rows) == 4
    assert all(len(r.b) == 2 for r in rows)


def test_merge_sql_fastpath_handles_backticked_names_and_column_assignments(
    spark, tmpdir_path
):
    """Merge output columns are rendered as SQL text, so column names
    that are not plain identifiers (a space, a backtick) must be
    backtick-quoted, and Column-object assignments must land in the
    same result as string assignments."""
    import os

    from pyspark.sql import functions as F

    path = os.path.join(tmpdir_path, "mt")
    write_delta(
        spark.range(6).selectExpr(
            "id as k", "id * 10 as `va l`", "'x' as s", "id as `b``t`"
        ),
        path,
    )
    t = DeltaTable.forPath(spark, path)
    src = spark.range(4, 9).selectExpr("id as k", "id * 100 as nv")
    (
        t.alias("t")
        .merge(src.alias("s"), "t.k = s.k")
        # string assignments on the space and backtick columns, a
        # Column assignment on the plain column
        .whenMatchedUpdate(
            None,
            {
                "va l": "s.nv",
                "s": F.concat(F.lit("u"), F.col("s.k")),
                "b`t": "t.`b``t` + 1",
            },
        )
        .whenNotMatchedInsert(
            values={"k": "s.k", "va l": "s.nv - 1", "s": "'new'", "b`t": "-s.k"}
        )
        .execute()
    )
    got = {
        r["k"]: (r["va l"], r["s"], r["b`t"])
        for r in t.toDF().collect()
    }
    assert got == {
        0: (0, "x", 0),
        1: (10, "x", 1),
        2: (20, "x", 2),
        3: (30, "x", 3),
        4: (400, "u4", 5),
        5: (500, "u5", 6),
        6: (599, "new", -6),
        7: (699, "new", -7),
        8: (799, "new", -8),
    }
