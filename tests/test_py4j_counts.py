"""Deterministic plan-building cost of a merge: py4j round trips.

Every Column node, cast and alias the merge builds in Python is one
blocking call into the JVM, paid again per micro-batch on the streaming
sinks. Wall time on a shared host is too noisy to guard that cost, but
the number of calls is not: these tests count them around fixed merges
on small tables and fail when a change builds more plan objects.

Memory commands (py4j's ``m``: release of a Python-side JVM reference)
are not counted; when they run depends on the Python garbage collector.
"""

import contextlib
import os

from jodie_spark.tables.table import DeltaTable, write_delta

# the counts these merges cost with every output column rendered as SQL
# text. When star values and Column assignments still went through
# F.when chains they cost 456 and 564; a bound at those values would let
# that construction come back unnoticed.
STRING_MERGE_MAX_CALLS = 308
INSERT_ALL_MERGE_MAX_CALLS = 213


@contextlib.contextmanager
def count_py4j_calls():
    from py4j.clientserver import ClientServerConnection

    original = ClientServerConnection.send_command
    calls = [0]

    def send_command(conn, command):
        if not command.startswith("m\n"):
            calls[0] += 1
        return original(conn, command)

    ClientServerConnection.send_command = send_command
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = original


def _table(spark, path):
    write_delta(
        spark.range(40).selectExpr(
            "id as k", "id as seq", "id * 3 as v", "cast(id as string) as s"
        ),
        path,
    )
    return DeltaTable.forPath(spark, path)


def _string_merge(t, src):
    (
        t.alias("t")
        .merge(src.alias("s"), "t.k = s.k")
        .whenMatchedDelete("s.v < 0")
        .whenMatchedUpdate("s.seq > t.seq", {"seq": "s.seq", "v": "s.v", "s": "s.s"})
        .whenNotMatchedInsert(
            "s.v >= 0", {"k": "s.k", "seq": "s.seq", "v": "s.v", "s": "s.s"}
        )
        .execute()
    )


def _insert_all_merge(t, src):
    t.alias("t").merge(src.alias("s"), "t.k = s.k").whenNotMatchedInsertAll().execute()


def _source(spark):
    return spark.range(30, 50).selectExpr(
        "id as k", "id + 100 as seq", "if(id % 7 = 0, -1, id) as v", "'n' as s"
    )


def _count(spark, tmpdir_path, merge):
    # the first merge of a shape warms lazily created JVM handles; the
    # second, on a fresh table with a fresh source, is the one counted
    for i in range(2):
        t = _table(spark, os.path.join(tmpdir_path, f"t{i}"))
        src = _source(spark)
        with count_py4j_calls() as calls:
            merge(t, src)
    return calls[0]


def test_string_merge_py4j_calls(spark, tmpdir_path):
    n = _count(spark, tmpdir_path, _string_merge)
    assert 0 < n <= STRING_MERGE_MAX_CALLS, n


def test_insert_all_merge_py4j_calls(spark, tmpdir_path):
    n = _count(spark, tmpdir_path, _insert_all_merge)
    assert 0 < n <= INSERT_ALL_MERGE_MAX_CALLS, n
