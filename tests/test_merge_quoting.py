"""Merge SQL text must survive hostile names and user fragments.

Every merge output column is one CASE expression rendered as SQL text,
so each name the renderer embeds has to be quoted and each user
fragment (clause condition, string assignment) has to be closed off
from the text around it:
- nested struct field names with a space, dash, colon or backtick
  (CAST targets are rendered from the table schema);
- a clause condition or assignment ending in a ``-- comment``;
- top-level names containing ``.`` or a backtick (star clauses,
  NOT NULL enforcement, change-feed pre-images);
- user ``Column`` values stay lazy: a value that would fail is never
  evaluated for a row that does not take its clause.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jodie_spark.tables.table import DeltaTable, write_delta

NESTED = T.StructType(
    [
        T.StructField("va l", T.LongType()),
        T.StructField("a-b", T.StringType()),
        T.StructField("x:y", T.IntegerType()),
        T.StructField("b`t", T.LongType()),
    ]
)
NESTED_SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("st", NESTED)]
)

# merge paths: copy-on-write, DV merge-on-read, insert-only (anti join)
PATHS = ["cow", "dv", "insert_only"]


def _nested_table(spark, path):
    write_delta(
        spark.createDataFrame(
            [(1, (10, "a", 1, 100)), (2, (20, "b", 2, 200))], NESTED_SCHEMA
        ),
        path,
    )
    return DeltaTable.forPath(spark, path)


@pytest.mark.parametrize("path_kind", PATHS)
def test_merge_casts_to_struct_with_quoted_nested_names(spark, tmpdir_path, path_kind):
    """A string assignment or a non-star insert casts to the struct's
    type text; nested names needing quotes must not break that text."""
    t = _nested_table(spark, os.path.join(tmpdir_path, "t"))
    src = spark.createDataFrame(
        [(2, (21, "B", 3, 201)), (3, (30, "c", 4, 300))], NESTED_SCHEMA
    )
    m = t.alias("t").merge(src.alias("s"), "t.k = s.k")
    if path_kind != "insert_only":
        m = m.whenMatchedUpdate(set={"st": "s.st"})
    m.whenNotMatchedInsert(values={"k": "s.k", "st": "s.st"}).execute(
        deletion_vectors=path_kind == "dv"
    )
    got = {r["k"]: tuple(r["st"]) for r in t.toDF().collect()}
    assert got == {
        1: (10, "a", 1, 100),
        2: (21, "B", 3, 201) if path_kind != "insert_only" else (20, "b", 2, 200),
        3: (30, "c", 4, 300),
    }


@pytest.mark.parametrize("path_kind", PATHS)
def test_merge_condition_and_assignment_may_end_in_line_comment(
    spark, tmpdir_path, path_kind
):
    """A trailing ``-- comment`` in a user fragment must end at the
    fragment, not swallow the rest of the rendered CASE."""
    path = os.path.join(tmpdir_path, "t")
    write_delta(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), path)
    t = DeltaTable.forPath(spark, path)
    src = spark.createDataFrame([(1, "q"), (2, "z"), (3, "q"), (4, "n")], "k long, v string")
    m = t.alias("t").merge(src.alias("s"), "t.k = s.k")
    if path_kind != "insert_only":
        m = m.whenMatchedUpdate(
            "s.v <> 'q' -- only changed", {"v": "upper(s.v) -- shout"}
        )
    m.whenNotMatchedInsert(
        "s.v <> 'q' -- only changed", {"k": "s.k", "v": "s.v -- as is"}
    ).execute(deletion_vectors=path_kind == "dv")
    got = {r["k"]: r["v"] for r in t.toDF().collect()}
    expected = {1: "a", 2: "Z", 4: "n"}
    if path_kind == "insert_only":
        expected[2] = "b"
    assert got == expected


def test_write_delta_not_null_column_with_dot_in_name(spark, tmpdir_path):
    schema = T.StructType(
        [T.StructField("a.b", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    path = os.path.join(tmpdir_path, "t")
    write_delta(spark.createDataFrame([(1, "x"), (2, "y")], schema), path)
    got = sorted(tuple(r) for r in DeltaTable.forPath(spark, path).toDF().collect())
    assert got == [(1, "x"), (2, "y")]


def test_cdf_merge_preimage_with_dot_and_backtick_names(spark, tmpdir_path):
    from jodie_spark.operators.cdf import read_cdf

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("a.b", T.LongType()),
            T.StructField("c`d", T.StringType()),
        ]
    )
    path = os.path.join(tmpdir_path, "t")
    write_delta(
        spark.createDataFrame([(1, 10, "x"), (2, 20, "y")], schema),
        path,
        options={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable.forPath(spark, path)
    src = spark.createDataFrame([(2, 21, "Y"), (3, 30, "z")], schema)
    (
        t.alias("t")
        .merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"a.b": "s.`a.b`", "c`d": "s.`c``d`"})
        .whenNotMatchedInsert(values={"k": "s.k", "a.b": "s.`a.b`", "c`d": "s.`c``d`"})
        .execute()
    )
    assert sorted(tuple(r) for r in t.toDF().collect()) == [
        (1, 10, "x"), (2, 21, "Y"), (3, 30, "z"),
    ]
    changes = sorted(
        (r["_change_type"], r["k"], r["a.b"], r["c`d"])
        for r in read_cdf(spark, path, 1, 1).collect()
    )
    assert changes == [
        ("insert", 3, 30, "z"),
        ("update_postimage", 2, 21, "Y"),
        ("update_preimage", 2, 20, "y"),
    ]


@pytest.mark.parametrize("path_kind", ["cow", "dv"])
def test_update_all_with_dot_and_backtick_names(spark, tmpdir_path, path_kind):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("a.b", T.LongType()),
            T.StructField("c`d", T.StringType()),
        ]
    )
    path = os.path.join(tmpdir_path, "t")
    write_delta(spark.createDataFrame([(1, 10, "x"), (2, 20, "y")], schema), path)
    t = DeltaTable.forPath(spark, path)
    src = spark.createDataFrame([(2, 21, "Y"), (3, 30, "z")], schema)
    (
        t.alias("t")
        .merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute(deletion_vectors=path_kind == "dv")
    )
    assert sorted(tuple(r) for r in t.toDF().collect()) == [
        (1, 10, "x"), (2, 21, "Y"), (3, 30, "z"),
    ]


@pytest.mark.parametrize("path_kind", ["cow", "dv", "insert", "insert_only_star"])
def test_untaken_branch_value_is_never_evaluated(spark, tmpdir_path, path_kind):
    """Under ANSI mode ``1 / d`` with ``d = 0`` and an overflowing cast
    raise. Each value sits on a clause whose condition is false for the
    row that would make it fail, so the merge must succeed on every
    path: the value is only computed for rows that take its branch."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        path = os.path.join(tmpdir_path, "t")
        if path_kind == "insert_only_star":
            # insertAll casts s.w (bigint) into w (int): 2**40 overflows
            write_delta(spark.createDataFrame([(1, 1)], "k long, w int"), path)
            t = DeltaTable.forPath(spark, path)
            src = spark.createDataFrame([(3, 3), (4, 2**40)], "k long, w long")
            (
                t.alias("t")
                .merge(src.alias("s"), "t.k = s.k")
                .whenNotMatchedInsertAll("s.w < 100")
                .execute()
            )
            assert sorted(tuple(r) for r in t.toDF().collect()) == [(1, 1), (3, 3)]
            return
        write_delta(
            spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"), path
        )
        t = DeltaTable.forPath(spark, path)
        src = spark.createDataFrame([(1, 0), (2, 4), (3, 0), (5, 5)], "k long, d long")
        m = t.alias("t").merge(src.alias("s"), "t.k = s.k")
        if path_kind in ("cow", "dv"):
            m = m.whenMatchedUpdate("s.d <> 0", {"v": F.lit(1) / F.col("s.d")})
        m.whenNotMatchedInsert(
            "s.d <> 0", {"k": F.col("s.k"), "v": F.lit(1) / F.col("s.d")}
        ).execute(deletion_vectors=path_kind == "dv")
        got = {r["k"]: r["v"] for r in t.toDF().collect()}
        expected = {1: 1.0, 2: 0.25, 5: 0.2}
        if path_kind == "insert":
            expected[2] = 2.0
        assert got == expected
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
