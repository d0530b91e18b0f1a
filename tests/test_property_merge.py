"""Property-based check: the merge engine against a pure-Python model
over randomized inputs (hypothesis). One Spark session, many small
cases — catches clause-ordering / null / duplicate-key edge cases the
example tests don't enumerate. The second test randomizes the clause
set itself, over column names that need quoting."""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jodie_spark.tables.table import DeltaTable, write_delta

KEYS = st.integers(min_value=0, max_value=6)
VALS = st.sampled_from(["a", "b", "c", None])


def _model_merge(target: dict[int, str | None], source: dict[int, str | None]):
    """Reference semantics: delete matched rows with v='a' (clause 1),
    update the rest (clause 2), insert unmatched source rows."""
    out = {}
    for k, v in target.items():
        if k in source:
            if v == "a":
                continue  # whenMatchedDelete("old.v = 'a'")
            out[k] = source[k]  # whenMatchedUpdate
        else:
            out[k] = v  # untouched
    for k, v in source.items():
        if k not in target:
            out[k] = v  # whenNotMatchedInsertAll
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    target=st.dictionaries(KEYS, VALS, max_size=6),
    source=st.dictionaries(KEYS, VALS, max_size=6),
)
def test_merge_matches_model(spark, tmpdir_path, target, source):
    import uuid

    path = os.path.join(tmpdir_path, uuid.uuid4().hex)
    tdf = spark.createDataFrame(
        [(k, v) for k, v in target.items()] or [(None, None)], "k int, v string"
    )
    if not target:
        tdf = tdf.filter("k is not null")
    write_delta(tdf, path)
    t = DeltaTable.forPath(spark, path)
    sdf = spark.createDataFrame(
        [(k, v) for k, v in source.items()] or [(None, None)], "k int, v string"
    )
    if not source:
        sdf = sdf.filter("k is not null")
    (
        t.alias("old")
        .merge(sdf.alias("new"), "old.k = new.k")
        .whenMatchedDelete("old.v = 'a'")
        .whenMatchedUpdate(set={"v": "new.v"})
        .whenNotMatchedInsertAll()
        .execute()
    )
    got = {r["k"]: r["v"] for r in t.toDF().collect()}
    assert got == _model_merge(target, source)


# -- the merge output renderer over hostile names ---------------------------
#
# Random clause sets mixing string, Column-object and star assignments,
# conditions and assignments ending in ``-- comment``, over columns whose
# names need quoting (space, dash, dot, backtick; colon and space inside a
# nested struct). Each set runs as a copy-on-write merge, a deletion-vector
# merge and an insert-only merge, each checked against the Python model.

NESTED = T.StructType(
    [T.StructField("n:m", T.LongType()), T.StructField("p q", T.StringType())]
)
HOSTILE = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("x-y", T.LongType()),
        T.StructField("v a", T.StringType()),
        T.StructField("b`t", T.StringType()),
        T.StructField("a.b", T.LongType()),
        T.StructField("st", NESTED),
    ]
)
COLS = [f.name for f in HOSTILE.fields]
IX = {c: i for i, c in enumerate(COLS)}


def _q(name):
    return "`" + name.replace("`", "``") + "`"


def _add(a, b):
    return None if a is None or b is None else a + b


def _gt(a, b):
    return a is not None and a > b


def _lt(a, b):
    return a is not None and a < b


def _ne(a, b):
    return a is not None and a != b


def _nested(row, i):
    return None if row[IX["st"]] is None else row[IX["st"]][i]


def _int_opts(c):
    """[(value factory: () -> str | Column, model: (t, s) -> value,
    reads the target row)] for a bigint column ``c``."""
    q, i = _q(c), IX[c]
    return [
        (lambda: f"s.{q} + 1 -- bump", lambda t, s: _add(s[i], 1), False),
        (lambda: F.col(f"s.{q}") * 2, lambda t, s: _add(s[i], s[i]), False),
        (lambda: "s.st.`n:m` -- nested", lambda t, s: _nested(s, 0), False),
        (lambda: F.col("s.st.`n:m`") + 10, lambda t, s: _add(_nested(s, 0), 10), False),
        (lambda: f"t.{q} + s.{q}", lambda t, s: _add(t[i], s[i]), True),
    ]


def _str_opts(c):
    q, i = _q(c), IX[c]
    return [
        (
            lambda: f"concat(s.{q}, '!') -- x",
            lambda t, s: None if s[i] is None else s[i] + "!",
            False,
        ),
        (
            lambda: F.upper(F.col(f"s.{q}")),
            lambda t, s: None if s[i] is None else s[i].upper(),
            False,
        ),
        (lambda: "'lit'", lambda t, s: "lit", False),
        (lambda: F.col("s.st.`p q`"), lambda t, s: _nested(s, 1), False),
        (lambda: f"t.{q}", lambda t, s: t[i], True),
    ]


ASSIGN = {
    "x-y": _int_opts("x-y"),
    "a.b": _int_opts("a.b"),
    "v a": _str_opts("v a"),
    "b`t": _str_opts("b`t"),
    "st": [
        (lambda: "s.st", lambda t, s: s[IX["st"]], False),
        (lambda: F.col("s.st"), lambda t, s: s[IX["st"]], False),
        (
            lambda: "named_struct('n:m', s.`x-y`, 'p q', s.`v a`) -- built",
            lambda t, s: (s[IX["x-y"]], s[IX["v a"]]),
            False,
        ),
        (lambda: "t.st", lambda t, s: t[IX["st"]], True),
    ],
}
M_CONDS = [
    (None, lambda t, s: True),
    ("s.`x-y` > 2 -- pos", lambda t, s: _gt(s[IX["x-y"]], 2)),
    ("t.`a.b` IS NOT NULL", lambda t, s: t[IX["a.b"]] is not None),
    ("s.`v a` <> 'q' -- changed", lambda t, s: _ne(s[IX["v a"]], "q")),
]
I_CONDS = [
    (None, lambda t, s: True),
    ("s.`x-y` > 2 -- pos", lambda t, s: _gt(s[IX["x-y"]], 2)),
    ("s.`v a` <> 'q' -- changed", lambda t, s: _ne(s[IX["v a"]], "q")),
    ("s.st.`n:m` < 5", lambda t, s: _lt(_nested(s, 0), 5)),
]

LONGS = st.one_of(st.none(), st.integers(min_value=-1, max_value=6))
STRS = st.sampled_from(["a", "q", "z", None])
ROW = st.tuples(
    LONGS, STRS, STRS, LONGS, st.one_of(st.none(), st.tuples(LONGS, STRS))
)
TABLE = st.dictionaries(KEYS, ROW, max_size=6)


def _assigns(insert):
    """{column: option index}; inserts always assign the key and never
    read the target (which would take them off the insert-only path)."""
    opts = {c: [i for i, o in enumerate(ASSIGN[c]) if not (insert and o[2])] for c in ASSIGN}
    cols = st.fixed_dictionaries(
        {}, optional={c: st.sampled_from(ix) for c, ix in opts.items()}
    )
    if not insert:
        return cols
    return st.builds(lambda key, d: {"k": key, **d}, st.sampled_from([0, 1]), cols)


MATCHED = st.one_of(
    st.tuples(st.just("update"), st.integers(0, len(M_CONDS) - 1), _assigns(False)).filter(
        lambda c: c[2]
    ),
    st.tuples(st.just("update_all"), st.integers(0, len(M_CONDS) - 1), st.just({})),
    st.tuples(st.just("delete"), st.integers(0, len(M_CONDS) - 1), st.just({})),
)
NOT_MATCHED = st.one_of(
    st.tuples(st.just("insert"), st.integers(0, len(I_CONDS) - 1), _assigns(True)),
    st.tuples(st.just("insert_all"), st.integers(0, len(I_CONDS) - 1), st.just({})),
)
KEY_OPTS = [
    (lambda: "s.k -- key", lambda t, s: s[0]),
    (lambda: F.col("s.k"), lambda t, s: s[0]),
]


def _value(col, opt):
    return KEY_OPTS[opt] if col == "k" else ASSIGN[col][opt][:2]


def _apply_clause(kind, assigns, t, s):
    if kind in ("update_all", "insert_all"):
        return s
    row = list(t) if kind == "update" else [None] * len(COLS)
    for col, opt in assigns.items():
        row[IX[col]] = _value(col, opt)[1](t, s)
    return tuple(row)


def _model_clauses(target, source, matched, not_matched):
    """Rows keyed by k; a row is the full tuple in ``COLS`` order."""
    target = {k: (k, *r) for k, r in target.items()}
    out = dict(target)
    for k, s in source.items():
        s = (k, *s)
        t = target.get(k)
        clauses, conds = (matched, M_CONDS) if t is not None else (not_matched, I_CONDS)
        for kind, ci, assigns in clauses:
            if conds[ci][1](t, s):
                if kind == "delete":
                    del out[k]
                else:
                    out[k] = _apply_clause(kind, assigns, t, s)
                break
    return out


def _hostile_df(spark, rows):
    data = [(k, *r) for k, r in sorted(rows.items())]
    return spark.createDataFrame(data, HOSTILE)


def _run_clauses(spark, path, target, source, matched, not_matched, dv):
    import uuid

    path = os.path.join(path, uuid.uuid4().hex)
    write_delta(_hostile_df(spark, target), path)
    t = DeltaTable.forPath(spark, path)
    m = t.alias("t").merge(_hostile_df(spark, source).alias("s"), "t.k = s.k")
    for kind, ci, assigns in matched:
        cond = M_CONDS[ci][0]
        if kind == "delete":
            m = m.whenMatchedDelete(cond)
        elif kind == "update_all":
            m = m.whenMatchedUpdateAll(cond)
        else:
            m = m.whenMatchedUpdate(cond, {c: _value(c, o)[0]() for c, o in assigns.items()})
    for kind, ci, assigns in not_matched:
        cond = I_CONDS[ci][0]
        if kind == "insert_all":
            m = m.whenNotMatchedInsertAll(cond)
        else:
            m = m.whenNotMatchedInsert(cond, {c: _value(c, o)[0]() for c, o in assigns.items()})
    m.execute(deletion_vectors=dv)
    return {
        r[0]: (*r[:5], None if r[5] is None else tuple(r[5]))
        for r in t.toDF().collect()
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    target=TABLE,
    source=TABLE,
    matched=st.lists(MATCHED, max_size=2),
    not_matched=st.lists(NOT_MATCHED, min_size=1, max_size=2),
)
def test_merge_renderer_matches_model(
    spark, tmpdir_path, target, source, matched, not_matched
):
    want = _model_clauses(target, source, matched, not_matched)
    for dv in (False, True):
        got = _run_clauses(spark, tmpdir_path, target, source, matched, not_matched, dv)
        assert got == want, ("dv" if dv else "cow", got, want)
    # the not-matched clauses alone: the anti-join insert-only path,
    # unless a Column value sends the merge through the full join
    got = _run_clauses(spark, tmpdir_path, target, source, [], not_matched, False)
    assert got == _model_clauses(target, source, [], not_matched), ("insert_only", got)
