"""SQL front end: DML/utility statements routed to the native engine."""

import os

import pytest

from jodie_spark.catalog import register_delta_table
from jodie_spark.errors import JodieValidationError
from jodie_spark.sql import sql
from jodie_spark.tables.table import DeltaTable, write_delta


@pytest.fixture()
def tbl(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "sql_t")
    write_delta(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, n int"
        ),
        p,
    )
    return p


def _rows(spark, p):
    return sorted(tuple(r) for r in DeltaTable.forPath(spark, p).toDF().collect())


def test_delete_update_by_path(spark, tbl):
    sql(spark, f"DELETE FROM delta.`{tbl}` WHERE k = 2")
    assert _rows(spark, tbl) == [(1, "a", 10), (3, "c", 30)]
    sql(spark, f"UPDATE delta.`{tbl}` SET v = upper(v), n = n + 1 WHERE k = 3")
    assert _rows(spark, tbl) == [(1, "a", 10), (3, "C", 31)]
    # full-table update, no WHERE
    sql(spark, f"UPDATE delta.`{tbl}` SET n = 0")
    assert [r[2] for r in _rows(spark, tbl)] == [0, 0]


def test_delete_where_in_string_literal_not_split(spark, tbl):
    # the WHERE keyword inside a literal must not confuse the parser
    sql(spark, f"UPDATE delta.`{tbl}` SET v = 'where x' WHERE k = 1")
    assert ("where x" in {r[1] for r in _rows(spark, tbl)})


def test_select_and_describe_history_via_catalog_name(spark, tbl):
    register_delta_table(spark, "sqldemo", tbl)
    assert sql(spark, "SELECT count(*) AS n FROM sqldemo").collect()[0]["n"] == 3
    sql(spark, "DELETE FROM sqldemo WHERE k = 1")
    # SELECT sees the post-DML state (views refreshed per statement)
    assert sql(spark, "SELECT count(*) AS n FROM sqldemo").collect()[0]["n"] == 2
    hist = sql(spark, "DESCRIBE HISTORY sqldemo")
    assert [r["operation"] for r in hist.collect()][0] == "DELETE"


def test_merge_statement_full_clause_set(spark, tbl, tmpdir_path):
    src = os.path.join(tmpdir_path, "sql_src")
    write_delta(
        spark.createDataFrame(
            [(2, "B", 99), (3, "DEL", 0), (4, "d", 40)], "k int, v string, n int"
        ),
        src,
    )
    register_delta_table(spark, "tgt_m", tbl)
    register_delta_table(spark, "src_m", src)
    sql(
        spark,
        """MERGE INTO tgt_m AS t USING src_m AS s ON t.k = s.k
           WHEN MATCHED AND s.v = 'DEL' THEN DELETE
           WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
           WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""",
    )
    assert _rows(spark, tbl) == [(1, "a", 10), (2, "B", 99), (4, "d", 40)]


def test_merge_with_subquery_source_and_star_clauses(spark, tbl):
    sql(
        spark,
        f"""MERGE INTO delta.`{tbl}` t
            USING (SELECT 3 AS k, 'X' AS v, 7 AS n UNION ALL SELECT 9, 'nine', 9) s
            ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""",
    )
    assert _rows(spark, tbl) == [(1, "a", 10), (2, "b", 20), (3, "X", 7), (9, "nine", 9)]


def test_optimize_vacuum_restore(spark, tbl):
    sql(spark, f"DELETE FROM delta.`{tbl}` WHERE k = 1")
    sql(spark, f"OPTIMIZE delta.`{tbl}` ZORDER BY (k)")
    assert _rows(spark, tbl) == [(2, "b", 20), (3, "c", 30)]
    dry = sql(spark, f"VACUUM delta.`{tbl}` RETAIN 0 HOURS DRY RUN")
    assert dry.count() >= 1  # tombstoned files listed, not deleted
    sql(spark, f"RESTORE delta.`{tbl}` TO VERSION AS OF 0")
    assert _rows(spark, tbl) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_unparseable_statements_raise(spark, tbl):
    with pytest.raises(JodieValidationError, match="unsupported SQL"):
        sql(spark, "TRUNCATE TABLE x")
    with pytest.raises(JodieValidationError, match="cannot parse DELETE"):
        sql(spark, "DELETE delta.`/x`")
    with pytest.raises(JodieValidationError, match="cannot parse SET"):
        sql(spark, f"UPDATE delta.`{tbl}` SET just_a_name")


def test_insert_into_and_overwrite(spark, tbl):
    sql(spark, f"INSERT INTO delta.`{tbl}` VALUES (7, 'g', 70), (8, 'h', 80)")
    assert len(_rows(spark, tbl)) == 5
    sql(spark, f"INSERT OVERWRITE delta.`{tbl}` SELECT 99, 'z', 0")
    assert _rows(spark, tbl) == [(99, "z", 0)]
    with pytest.raises(JodieValidationError, match="column count"):
        sql(spark, f"INSERT INTO delta.`{tbl}` VALUES (1, 'x')")


def test_alter_properties_constraints_show(spark, tbl):
    sql(spark, f"ALTER TABLE delta.`{tbl}` SET TBLPROPERTIES ('delta.appendOnly' = 'false', 'team' = 'data')")
    props = {r["key"]: r["value"] for r in sql(spark, f"SHOW TBLPROPERTIES delta.`{tbl}`").collect()}
    assert props["team"] == "data"
    sql(spark, f"ALTER TABLE delta.`{tbl}` ADD CONSTRAINT pos CHECK (n >= 0)")
    with pytest.raises(Exception):
        sql(spark, f"INSERT INTO delta.`{tbl}` VALUES (5, 'neg', -1)")
    sql(spark, f"ALTER TABLE delta.`{tbl}` DROP CONSTRAINT pos")
    sql(spark, f"INSERT INTO delta.`{tbl}` VALUES (5, 'neg', -1)")
    assert (5, "neg", -1) in _rows(spark, tbl)


def test_alter_cluster_by_sql(spark, tbl):
    sql(spark, f"ALTER TABLE delta.`{tbl}` CLUSTER BY (k)")
    assert DeltaTable.forPath(spark, tbl).cluster_by() == ["k"]
    sql(spark, f"ALTER TABLE delta.`{tbl}` CLUSTER BY NONE")
    assert DeltaTable.forPath(spark, tbl).cluster_by() == []


def test_create_drop_convert(spark, tbl, tmpdir_path):
    # CTAS to an explicit path + registration
    dst = os.path.join(tmpdir_path, "ctas")
    sql(spark, f"CREATE TABLE ctas_t LOCATION '{dst}' AS SELECT 1 AS a, 'x' AS b")
    assert sql(spark, "SELECT * FROM ctas_t").collect()[0]["a"] == 1
    assert DeltaTable.forPath(spark, dst).toDF().count() == 1
    sql(spark, "DROP TABLE ctas_t")  # unregisters; data stays
    assert DeltaTable.forPath(spark, dst).toDF().count() == 1

    # register an existing table by location
    sql(spark, f"CREATE TABLE reg_t USING DELTA LOCATION '{tbl}'")
    assert sql(spark, "SELECT count(*) AS n FROM reg_t").collect()[0]["n"] == 3

    # CONVERT a raw parquet directory
    raw = os.path.join(tmpdir_path, "rawpq")
    spark.range(5).selectExpr("id", "id * 2 as v").write.parquet(raw)
    sql(spark, f"CONVERT TO DELTA parquet.`{raw}`")
    assert DeltaTable.forPath(spark, raw).toDF().count() == 5


def test_select_time_travel(spark, tbl):
    register_delta_table(spark, "tt_t", tbl)
    sql(spark, "DELETE FROM tt_t WHERE k = 1")
    assert sql(spark, "SELECT count(*) AS n FROM tt_t").collect()[0]["n"] == 2
    assert (
        sql(spark, "SELECT count(*) AS n FROM tt_t VERSION AS OF 0").collect()[0]["n"]
        == 3
    )
    # path form + join of two versions in one statement
    r = sql(
        spark,
        f"SELECT (SELECT count(*) FROM delta.`{tbl}` VERSION AS OF 0) AS n0, "
        f"(SELECT count(*) FROM tt_t) AS n1",
    ).collect()[0]
    assert (r["n0"], r["n1"]) == (3, 2)


def test_describe_detail(spark, tbl):
    d = sql(spark, f"DESCRIBE DETAIL delta.`{tbl}`").collect()[0]
    assert d["format"] == "delta" and d["numFiles"] >= 1


def test_shallow_clone_sql(spark, tbl, tmpdir_path):
    dst = os.path.join(tmpdir_path, "clone_sql")
    sql(spark, f"CREATE TABLE cl_t LOCATION '{dst}' SHALLOW CLONE delta.`{tbl}`")
    assert sql(spark, "SELECT count(*) AS n FROM cl_t").collect()[0]["n"] == 3
    # clone DML never touches the source
    sql(spark, f"DELETE FROM delta.`{dst}` WHERE k = 1")
    assert DeltaTable.forPath(spark, tbl).toDF().count() == 3
    assert DeltaTable.forPath(spark, dst).toDF().count() == 2


def test_alter_add_column_sql(spark, tbl):
    sql(spark, f"ALTER TABLE delta.`{tbl}` ADD COLUMN extra string")
    rows = sorted(tuple(r) for r in DeltaTable.forPath(spark, tbl).toDF().collect())
    assert rows == [(1, "a", 10, None), (2, "b", 20, None), (3, "c", 30, None)]
    sql(spark, f"ALTER TABLE delta.`{tbl}` ADD COLUMNS (x int, y double)")
    assert [f.name for f in DeltaTable.forPath(spark, tbl).schema().fields] == [
        "k", "v", "n", "extra", "x", "y",
    ]


def test_optimize_where_partition(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "optwhere")
    df = spark.createDataFrame(
        [(i, "p%d" % (i % 2)) for i in range(8)], "k int, part string"
    )
    write_delta(df.repartition(4), p, partition_by=["part"])
    before = DeltaTable.forPath(spark, p).snapshot().add_files()
    before_p1 = {a["path"] for a in before if a["partitionValues"].get("part") == "p1"}
    sql(spark, f"OPTIMIZE delta.`{p}` WHERE part = 'p0'")
    t = DeltaTable.forPath(spark, p)
    after = t.snapshot().add_files()
    # p0's files compacted to one; p1's files untouched
    p0 = [a for a in after if a["partitionValues"].get("part") == "p0"]
    p1 = {a["path"] for a in after if a["partitionValues"].get("part") == "p1"}
    assert len(p0) == 1
    assert p1 == before_p1
    assert t.toDF().count() == 8


def test_optimize_full_reclusters_everything(spark, tmpdir_path):
    """OPTIMIZE <tbl> FULL forces a full re-cluster on a clustered
    table (plain OPTIMIZE is incremental and no-ops with no new data)."""
    from jodie_spark.errors import JodieValidationError

    p = os.path.join(tmpdir_path, "optfull")
    write_delta(
        spark.range(300).selectExpr("id", "id % 3 as v").repartition(3),
        p,
        cluster_by=["id"],
    )
    sql(spark, f"OPTIMIZE delta.`{p}`")  # clusters + tags
    v_after_first = DeltaTable.forPath(spark, p).snapshot().version
    sql(spark, f"OPTIMIZE delta.`{p}`")  # incremental no-op: no commit
    assert DeltaTable.forPath(spark, p).snapshot().version == v_after_first
    sql(spark, f"OPTIMIZE delta.`{p}` FULL")  # forced rewrite commits
    t = DeltaTable.forPath(spark, p)
    assert t.snapshot().version == v_after_first + 1
    assert t.toDF().count() == 300
    with pytest.raises(JodieValidationError, match="FULL"):
        sql(spark, f"OPTIMIZE delta.`{p}` FULL ZORDER BY (id)")


def test_backslash_escape_in_literal(spark, tbl):
    # Spark's default backslash escape: 'O\'Brien' — the scanner must
    # not mis-bracket the literal (ADVICE r3)
    sql(spark, f"UPDATE delta.`{tbl}` SET v = 'O\\'Brien WHERE fake' WHERE k = 1")
    assert "O'Brien WHERE fake" in {r[1] for r in _rows(spark, tbl)}
    # ''-doubling form too
    sql(spark, f"UPDATE delta.`{tbl}` SET v = 'd''Arc, x' WHERE k = 2")
    assert "d'Arc, x" in {r[1] for r in _rows(spark, tbl)}


def test_merge_with_case_when_action(spark, tbl, tmpdir_path):
    # top-level CASE WHEN inside a MERGE action must not split the
    # WHEN-clause chunking (ADVICE r3)
    src = os.path.join(tmpdir_path, "sql_case_src")
    write_delta(
        spark.createDataFrame(
            [(1, "x", 100), (9, "new", 900)], "k int, v string, n int"
        ),
        src,
    )
    register_delta_table(spark, "case_src", src)
    sql(
        spark,
        f"MERGE INTO delta.`{tbl}` t USING case_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = CASE WHEN s.n > 50 THEN 'big' "
        "ELSE 'small' END "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    rows = dict((r[0], r[1]) for r in _rows(spark, tbl))
    assert rows[1] == "big" and rows[9] == "new"


def test_time_travel_views_do_not_leak(spark, tbl):
    register_delta_table(spark, "tt_leak", tbl)
    sql(spark, "DELETE FROM tt_leak WHERE k = 1")

    def tt_views():
        return {
            v.name
            for v in spark.catalog.listTables()
            if v.name.startswith("__tt_")
        }

    before = tt_views()
    for _ in range(3):
        sql(spark, "SELECT count(*) AS n FROM tt_leak VERSION AS OF 0").collect()
    after = tt_views()
    # deterministic name per (path, version): at most ONE new view no
    # matter how many queries ran
    assert len(after - before) <= 1


def test_time_travel_inside_string_literal_not_rewritten(spark, tbl):
    register_delta_table(spark, "tt_str", tbl)
    r = sql(
        spark,
        "SELECT 'tt_str VERSION AS OF 99' AS s, count(*) AS n FROM tt_str",
    ).collect()[0]
    assert r["s"] == "tt_str VERSION AS OF 99" and r["n"] == 3


def test_scanner_fuzz_invariants():
    """Property fuzz of the quote-aware scanners: splitting then
    rejoining is lossless, and keywords inside any literal form are
    never found."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from jodie_spark.sql import _find_top_level, _skip_quoted, _split_top_level

    piece = st.sampled_from(
        ["a", "b1", " ", ",", "(", ")", "'x,y'", "'O\\'B'", "'d''A'",
         "`w, w`", "WHERE", "'WHERE'", "\"q,q\"", "CASE", "END", "WHEN"]
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(piece, min_size=0, max_size=12))
    def check(parts):
        s = "".join(parts)
        # rejoin property (only when parens are balanced — unbalanced
        # input is rejected upstream by the statement matchers)
        got = _split_top_level(s, ",")
        for frag in got:
            assert frag == frag.strip()
        # a WHERE found must not be inside a quoted region
        i = _find_top_level(s, "WHERE")
        if i >= 0:
            j = 0
            while j < i:
                if s[j] in "'\"`":
                    j = _skip_quoted(s, j)
                else:
                    j += 1
            assert j == i or s[i - 1] not in "'\"`" and j <= i
        # _skip_quoted always advances and never loops
        for k, c in enumerate(s):
            if c in "'\"`":
                assert _skip_quoted(s, k) > k

    check()


def test_sql_alter_drop_feature(spark, tmpdir_path):
    import os

    from jodie_spark.sql import sql
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "sql_dropfeat")
    write_delta(spark.range(10).selectExpr("id"), p)
    DeltaTable.forPath(spark, p).delete("id = 1", deletion_vectors=True)
    sql(spark, f"ALTER TABLE delta.`{p}` DROP FEATURE deletionVectors")
    proto = DeltaTable.forPath(spark, p).snapshot().protocol
    assert "deletionVectors" not in (proto.get("writerFeatures") or [])
    assert "checkpointProtection" in proto["writerFeatures"]


def test_sql_merge_with_schema_evolution(spark, tmpdir_path):
    """MERGE WITH SCHEMA EVOLUTION INTO ... (delta-spark SQL syntax)
    routes to withSchemaEvolution — including on a column-mapped
    target (round 7: the last DML refusal closed)."""
    import os

    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "sqlev")
    write_delta(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), p)
    t = DeltaTable.forPath(spark, p)
    t.rename_column("v", "label")  # column-mapped from here on
    spark.createDataFrame(
        [(2, "B", 7), (3, "C", 9)], "k int, label string, score int"
    ).createOrReplaceTempView("sqlev_src")
    sql(
        spark,
        f"MERGE WITH SCHEMA EVOLUTION INTO delta.`{p}` t USING sqlev_src s "
        "ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = {r["k"]: (r["label"], r["score"]) for r in t.toDF().collect()}
    assert got == {1: ("a", None), 2: ("B", 7), 3: ("C", 9)}


def test_sql_unset_tblproperties_and_alter_column_type_and_reorg(spark, tmpdir_path):
    """Round-7 DDL surface: UNSET TBLPROPERTIES [IF EXISTS], ALTER
    COLUMN ... TYPE (metadata-only safe widening with typeChanges +
    protocol upgrade), and REORG TABLE ... APPLY (PURGE)."""
    import os

    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "ddl7")
    write_delta(
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "n int, x float"),
        p,
        options={"myapp.owner": "me", "myapp.tier": "gold"},
    )
    t = DeltaTable.forPath(spark, p)
    sql(spark, f"ALTER TABLE delta.`{p}` UNSET TBLPROPERTIES ('myapp.tier')")
    conf = DeltaTable.forPath(spark, p).snapshot().configuration
    assert "myapp.tier" not in conf and conf["myapp.owner"] == "me"
    with pytest.raises(JodieValidationError, match="IF EXISTS"):
        sql(spark, f"ALTER TABLE delta.`{p}` UNSET TBLPROPERTIES ('nope')")
    sql(spark, f"ALTER TABLE delta.`{p}` UNSET TBLPROPERTIES IF EXISTS ('nope')")

    sql(spark, f"ALTER TABLE delta.`{p}` ALTER COLUMN n TYPE BIGINT")
    t2 = DeltaTable.forPath(spark, p)
    sch = {f.name: f for f in t2.schema().fields}
    assert sch["n"].dataType.typeName() == "long"
    assert dict(sch["n"].metadata)["delta.typeChanges"][0]["toType"] == "long"
    proto = t2.snapshot().protocol
    assert "typeWidening" in (proto.get("writerFeatures") or [])
    # old narrow files still read; wide appends land
    write_delta(
        spark.createDataFrame([(9_000_000_000, 9.5)], "n long, x float"),
        p, mode="append",
    )
    assert sorted(r["n"] for r in t2.toDF().collect()) == [1, 2, 9_000_000_000]
    with pytest.raises(JodieValidationError, match="widening"):
        sql(spark, f"ALTER TABLE delta.`{p}` ALTER COLUMN x TYPE INT")

    # REORG PURGE: put a DV on a file, then rewrite it away
    t2.delete("n = 1", deletion_vectors=True)
    assert any(
        a.get("deletionVector") for a in DeltaTable.forPath(spark, p).snapshot().add_files()
    )
    sql(spark, f"REORG TABLE delta.`{p}` APPLY (PURGE)")
    assert not any(
        a.get("deletionVector") for a in DeltaTable.forPath(spark, p).snapshot().add_files()
    )
    assert sorted(r["n"] for r in DeltaTable.forPath(spark, p).toDF().collect()) == [2, 9_000_000_000]


def test_when_not_matched_by_source(spark, tmpdir_path):
    """Delta 2.3+ whenNotMatchedBySource clauses (API + SQL): target
    rows with NO matching source row update or delete — the full-sync
    pattern. Clause order and conditions resolve per row; matched rows
    still take matched clauses; files holding ONLY by-source-affected
    rows rewrite even though the merge condition never matches them."""
    import os

    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "bysrc")
    write_delta(
        spark.createDataFrame(
            [(1, "a", "live"), (2, "b", "live"), (3, "c", "live"), (4, "d", "live")],
            "k int, v string, status string",
        ),
        p,
    )
    t = DeltaTable.forPath(spark, p)
    src = spark.createDataFrame([(1, "A"), (5, "e")], "k int, v string")
    (
        t.alias("t")
        .merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedInsert(values={"k": "s.k", "v": "s.v", "status": "'live'"})
        .whenNotMatchedBySourceDelete(condition="t.k = 4")
        .whenNotMatchedBySourceUpdate(set={"status": "'stale'"})
        .execute()
    )
    rows = {r["k"]: (r["v"], r["status"]) for r in t.toDF().collect()}
    assert rows == {
        1: ("A", "live"),    # matched update
        2: ("b", "stale"),   # by-source update (second clause)
        3: ("c", "stale"),
        5: ("e", "live"),    # insert
    }
    hist = {r["version"]: r for r in t.history().collect()}
    m = hist[max(hist)]["operationMetrics"]
    assert m["numTargetRowsDeleted"] == "1"  # k=4
    assert m["numTargetRowsUpdated"] == "3"  # k=1 matched + k=2,3 by-source
    assert m["numTargetRowsInserted"] == "1"

    # SQL surface: delete-absent full-sync
    p2 = os.path.join(tmpdir_path, "bysrc_sql")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"), p2
    )
    spark.createDataFrame([(1, "A")], "k int, v string").createOrReplaceTempView(
        "bysrc_feed"
    )
    sql(
        spark,
        f"MERGE INTO delta.`{p2}` t USING bysrc_feed s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.k > 2 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'gone'",
    )
    got = {r["k"]: r["v"] for r in DeltaTable.forPath(spark, p2).toDF().collect()}
    assert got == {1: "A", 2: "gone"}


def test_by_source_only_merge_multi_match_raises(spark, tmpdir_path):
    """Regression (round-8 advice, merge.py multi-match guard): a MERGE
    with ONLY whenNotMatchedBySource clauses still rewrites touched
    files, so matched target rows are 'copy' rows — multiple source
    rows matching one target row must raise (delta-spark raises
    multipleSourceRowMatchingTargetRowInMergeException whenever files
    are rewritten), never silently duplicate the copied row."""
    import os

    import pytest

    from jodie_spark.errors import MergeMultipleMatchesError
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "bysrc_multi")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), p
    )
    t = DeltaTable.forPath(spark, p)
    dup_src = spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string")
    with pytest.raises(MergeMultipleMatchesError):
        (
            t.alias("t")
            .merge(dup_src.alias("s"), "t.k = s.k")
            .whenNotMatchedBySourceDelete()
            .execute()
        )
    # table unchanged — the guard fired before any write
    assert sorted((r["k"], r["v"]) for r in t.toDF().collect()) == [
        (1, "a"),
        (2, "b"),
    ]

    # same shape with a by-source UPDATE + a not-matched INSERT:
    # still guarded (files rewrite, k=1 would otherwise double)
    with pytest.raises(MergeMultipleMatchesError):
        (
            t.alias("t")
            .merge(dup_src.alias("s"), "t.k = s.k")
            .whenNotMatchedInsert(values={"k": "s.k", "v": "s.v"})
            .whenNotMatchedBySourceUpdate(set={"v": "'stale'"})
            .execute()
        )
    assert t.toDF().count() == 2

    # a UNIQUE source through the same clauses still works
    src = spark.createDataFrame([(1, "x")], "k int, v string")
    (
        t.alias("t")
        .merge(src.alias("s"), "t.k = s.k")
        .whenNotMatchedBySourceUpdate(set={"v": "'stale'"})
        .execute()
    )
    got = {r["k"]: r["v"] for r in t.toDF().collect()}
    assert got == {1: "a", 2: "stale"}


def test_generate_symlink_format_manifest(spark, tmpdir_path):
    """GENERATE symlink_format_manifest: per-partition manifest files
    listing exactly the CURRENT data files as absolute URIs; stale
    partition manifests vanish on regeneration; DV tables refuse."""
    import os

    from jodie_spark.errors import DeltaProtocolError
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "genman")
    write_delta(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "x")], "k int, part string"
        ),
        p,
        partition_by=["part"],
    )
    t = DeltaTable.forPath(spark, p)
    sql(spark, f"GENERATE symlink_format_manifest FOR TABLE delta.`{p}`")
    root = os.path.join(p, "_symlink_format_manifest")
    parts = sorted(os.listdir(root))
    assert parts == ["part=x", "part=y"]

    def uris(part):
        with open(os.path.join(root, part, "manifest")) as fh:
            return [ln for ln in fh.read().splitlines() if ln]

    live = {
        os.path.abspath(os.path.join(p, a["path"]))
        for a in t.snapshot().add_files()
    }
    listed = {u[len("file://"):] for part in parts for u in uris(part)}
    assert listed == live
    # delete partition y, regenerate: its manifest dir disappears
    t.delete("part = 'y'")
    t.generate()
    assert sorted(os.listdir(root)) == ["part=x"]
    listed2 = {u[len("file://"):] for u in uris("part=x")}
    assert listed2 == {
        os.path.abspath(os.path.join(p, a["path"]))
        for a in DeltaTable.forPath(spark, p).snapshot().add_files()
    }
    # DV table refuses
    t.delete("k = 1", deletion_vectors=True)
    with pytest.raises(DeltaProtocolError, match="deletion"):
        DeltaTable.forPath(spark, p).generate()


def test_generate_manifest_shallow_clone_stays_in_root(spark, tmpdir_path):
    """Regression (round-8 advice, table.py generate): a shallow
    clone's adds are ABSOLUTE paths into the source table; deriving
    the manifest dir from dirname(add.path) escaped the manifest root
    and wrote a stray 'manifest' file into the source's data dir. The
    partition dir must come from partitionValues, the manifest must
    live under the CLONE's _symlink_format_manifest/, and the URIs
    must still point at the source's files."""
    import os

    from jodie_spark.operators.helpers import shallow_clone
    from jodie_spark.tables.table import DeltaTable, write_delta

    src_p = os.path.join(tmpdir_path, "gensrc")
    write_delta(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "x")], "k int, part string"
        ),
        src_p,
        partition_by=["part"],
    )
    src_t = DeltaTable.forPath(spark, src_p)
    clone_p = os.path.join(tmpdir_path, "genclone")
    shallow_clone(src_t, clone_p)

    before = {
        d: sorted(os.listdir(os.path.join(src_p, d)))
        for d in os.listdir(src_p)
        if os.path.isdir(os.path.join(src_p, d)) and d.startswith("part=")
    }
    written = DeltaTable.forPath(spark, clone_p).generate()
    root = os.path.join(clone_p, "_symlink_format_manifest")
    # every written manifest is inside the clone's manifest root
    assert all(os.path.abspath(w).startswith(os.path.abspath(root)) for w in written)
    assert sorted(os.listdir(root)) == ["part=x", "part=y"]
    # the source table's data dirs gained NO stray files
    after = {
        d: sorted(os.listdir(os.path.join(src_p, d)))
        for d in os.listdir(src_p)
        if os.path.isdir(os.path.join(src_p, d)) and d.startswith("part=")
    }
    assert after == before
    assert not any("manifest" in f for files in after.values() for f in files)
    # URIs resolve to the source's live files
    listed = set()
    for part in ("part=x", "part=y"):
        with open(os.path.join(root, part, "manifest")) as fh:
            listed |= {ln[len("file://"):] for ln in fh.read().splitlines() if ln}
    assert listed and all(os.path.isfile(p) for p in listed)
    assert all(os.path.abspath(p).startswith(os.path.abspath(src_p)) for p in listed)


def test_generate_manifest_unpartitioned_and_mapped_refusal(spark, tmpdir_path):
    """Unpartitioned tables get one root manifest; column-mapped tables
    refuse (symlink readers resolve physical parquet names and would
    mis-read renames — delta-spark parity)."""
    import os

    from jodie_spark.errors import DeltaProtocolError
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "genflat")
    write_delta(spark.createDataFrame([(1,), (2,)], "k int"), p)
    t = DeltaTable.forPath(spark, p)
    written = t.generate()
    assert len(written) == 1
    with open(written[0]) as fh:
        uris = [ln for ln in fh.read().splitlines() if ln]
    assert {u[len("file://"):] for u in uris} == {
        os.path.abspath(os.path.join(p, a["path"]))
        for a in t.snapshot().add_files()
    }
    t.rename_column("k", "key")  # auto-enables column mapping
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        DeltaTable.forPath(spark, p).generate()


def test_fsck_repair_table_sql(spark, tmpdir_path):
    """FSCK REPAIR TABLE <ref> [DRY RUN] routes onto DeltaTable.fsck:
    DRY RUN lists missing files without committing; the repair run
    commits removes so the table reads cleanly again."""
    import glob
    import os

    from jodie_spark import sql
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "fscksql")
    write_delta(
        spark.range(10)
        .selectExpr("id", "id % 2 as part")
        .repartition("part"),
        p,
        partition_by=["part"],
    )
    for f in glob.glob(os.path.join(p, "part=0", "*.parquet")):
        os.remove(f)
    dry = sql(spark, f"FSCK REPAIR TABLE delta.`{p}` DRY RUN")
    assert dry.count() == 1  # detected, not yet repaired
    assert DeltaTable.forPath(spark, p).history().filter(
        "operation = 'FSCK'"
    ).count() == 0
    fixed = sql(spark, f"FSCK REPAIR TABLE delta.`{p}`")
    assert fixed.count() == 1
    t = DeltaTable.forPath(spark, p)
    assert sorted(r["id"] for r in t.toDF().collect()) == [1, 3, 5, 7, 9]
    assert t.history().filter("operation = 'FSCK'").count() == 1


def test_show_create_table(spark, tmpdir_path):
    """SHOW CREATE TABLE reconstructs runnable DDL from the snapshot's
    metadata, and feeding it back through sql() creates an equivalent
    table (columns, partitioning, NOT NULL, properties)."""
    import os

    from jodie_spark import sql
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "sct")
    df = spark.createDataFrame(
        [(1, "a", 1.5)], "id long, k string, v double"
    )
    write_delta(
        df,
        p,
        partition_by=["k"],
        options={"delta.appendOnly": "false", "foo.bar": "baz"},
    )
    stmt = sql(spark, f"SHOW CREATE TABLE delta.`{p}`").collect()[0][0]
    assert "USING DELTA" in stmt and "PARTITIONED BY (`k`)" in stmt
    assert "'foo.bar' = 'baz'" in stmt and f"LOCATION '{os.path.abspath(p)}'" in stmt
    # the emitted DDL is runnable: round-trip into a fresh location
    p2 = os.path.join(tmpdir_path, "sct2")
    sql(spark, stmt.replace(f"delta.`{os.path.abspath(p)}`", f"delta.`{p2}`")
        .replace(f"LOCATION '{os.path.abspath(p)}'", f"LOCATION '{p2}'"))
    t2 = DeltaTable.forPath(spark, p2)
    assert [f.name for f in t2.schema().fields] == ["id", "k", "v"]
    assert t2.snapshot().partition_columns == ["k"]
    assert t2.snapshot().configuration.get("foo.bar") == "baz"


def test_show_create_table_preserves_nested_and_quoted(spark, tmpdir_path):
    """Round-9 review regressions: nested struct field names must not
    be case-mangled, identifiers are backtick-quoted, and TBLPROPERTIES
    values containing single quotes emit SQL-standard ''-doubling that
    the CREATE parser accepts back."""
    import os

    from jodie_spark import sql
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "sctq")
    df = spark.createDataFrame(
        [(1, {"myName": "x"})],
        "id long, s struct<myName:string>",
    )
    write_delta(df, p, options={"team.note": "it's here"})
    stmt = sql(spark, f"SHOW CREATE TABLE delta.`{p}`").collect()[0][0]
    assert "struct<`myName`:string>" in stmt  # nested name NOT uppercased
    assert "`id`" in stmt and "`s`" in stmt
    assert "'team.note' = 'it''s here'" in stmt
    # the emitted DDL round-trips, quotes unescaped on the way back in
    p2 = os.path.join(tmpdir_path, "sctq2")
    sql(spark, stmt.replace(os.path.abspath(p), p2))
    t2 = DeltaTable.forPath(spark, p2)
    assert t2.schema()["s"].dataType["myName"].name == "myName"
    assert t2.snapshot().configuration.get("team.note") == "it's here"


def test_show_create_table_quotes_nested_field_names(spark, tmpdir_path):
    """Nested struct field names with a space, dash, colon or backtick
    are backtick-quoted in the column types, so the emitted DDL parses
    back into the same schema."""
    import os

    from pyspark.sql import types as T

    from jodie_spark import sql
    from jodie_spark.tables.table import DeltaTable, write_delta

    inner = T.StructType(
        [
            T.StructField(n, T.LongType())
            for n in ("va l", "a-b", "x:y", "b`t")
        ]
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("st", inner),
            T.StructField("arr", T.ArrayType(inner)),
            T.StructField("m", T.MapType(T.StringType(), inner)),
        ]
    )
    p = os.path.join(tmpdir_path, "sctn")
    write_delta(spark.createDataFrame([], schema), p)
    stmt = sql(spark, f"SHOW CREATE TABLE delta.`{p}`").collect()[0][0]
    assert "struct<`va l`:bigint,`a-b`:bigint,`x:y`:bigint,`b``t`:bigint>" in stmt
    p2 = os.path.join(tmpdir_path, "sctn2")
    sql(spark, stmt.replace(os.path.abspath(p), p2))
    assert DeltaTable.forPath(spark, p2).schema() == schema


def test_create_or_replace_table(spark, tmpdir_path):
    """CREATE OR REPLACE TABLE overwrites data AND schema in one commit
    while preserving history — delta parity, unlike drop-and-recreate.
    Covers both the column-DDL and CTAS forms."""
    import os

    from jodie_spark import sql
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "cor")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), p)
    sql(
        spark,
        f"CREATE OR REPLACE TABLE delta.`{p}` (k BIGINT, score DOUBLE) USING DELTA",
    )
    t = DeltaTable.forPath(spark, p)
    assert [f.name for f in t.schema().fields] == ["k", "score"]
    assert t.toDF().count() == 0
    # history preserved: the original WRITE is still version 0
    ops = [r["operation"] for r in t.history().collect()]
    assert len(ops) == 2 and t.toDF(version=0).count() == 1

    # CTAS form replaces contents with the query result
    sql(
        spark,
        f"CREATE OR REPLACE TABLE delta.`{p}` AS SELECT 5 AS k, 1.5 AS score",
    )
    t2 = DeltaTable.forPath(spark, p)
    assert [(r["k"], r["score"]) for r in t2.toDF().collect()] == [(5, 1.5)]
    # plain CREATE on an existing table still refuses
    import pytest

    from jodie_spark.errors import JodieValidationError

    with pytest.raises(JodieValidationError, match="already exists"):
        sql(spark, f"CREATE TABLE delta.`{p}` (x INT) USING DELTA")


def test_show_create_table_escapes_backtick_idents_and_quoted_location(
    spark, tmpdir_path
):
    """ADVICE r9: ` in column names must double to `` inside
    backtick-quoted identifiers, and ' in the LOCATION path must
    ''-escape — matching the TBLPROPERTIES treatment, so the emitted
    DDL stays runnable for hostile names."""
    import os

    from jodie_spark import sql
    from jodie_spark.sql import _show_create_table
    from jodie_spark.tables.table import DeltaTable, write_delta

    from pyspark.sql.types import LongType, StructField, StructType

    p = os.path.join(tmpdir_path, "it's a table")
    df = spark.createDataFrame(
        [(1, 2)],
        StructType(
            [StructField("a`b", LongType()), StructField("plain", LongType())]
        ),
    )
    write_delta(df, p)
    t = DeltaTable.forPath(spark, p)
    stmt = _show_create_table(t)
    assert "`a``b` bigint" in stmt
    assert "LOCATION '" + os.path.abspath(p).replace("'", "''") + "'" in stmt
    # the path also appears in the delta.`...` ref — no raw quote issues
    assert stmt.startswith("CREATE TABLE delta.`")
