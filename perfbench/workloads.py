"""The benchmark's two workloads, each with a model built from the seed.

A workload builds its fixture in ``build``, then hands the closed loop one
cycle of ops at a time, from cycle 1; the warm-up before them is part
of set-up and not timed. Every op drives jodie_spark's public API only
(``DeltaTable``, ``write_delta``, the ``jodie_delta`` data source and
``jodie_spark.operators``) and checks what it reads against the model;
a mismatch raises :class:`CheckFailed`, which the loop counts as a
failed op.
"""

from __future__ import annotations

import os
import random
import zlib
from dataclasses import dataclass
from typing import Callable

import jodie_spark.operators as ops
from jodie_spark.operators import cdf as cdf_ops, metrics as metric_ops
from jodie_spark.tables import table as table_mod
from jodie_spark.tables.table import DeltaTable

# a multiplicative hash the model and Spark SQL compute identically
_MUL = 2654435761
_MOD = 1000003


def base_value(k: int, salt: int) -> int:
    return (k * _MUL + salt) % _MOD


def base_value_sql(col: str, salt: int) -> str:
    return f"pmod({col} * {_MUL} + {salt}, {_MOD})"


class CheckFailed(Exception):
    """An output disagreed with the workload's model."""


@dataclass
class Op:
    kind: str  # "read" or "write"
    name: str  # op type
    fn: Callable[[], None]


def expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
    return total


def log_bytes(path: str) -> int:
    return dir_bytes(os.path.join(path, "_delta_log"))


class Workload:
    name = ""
    # time budget per timed cycle: a run times ceil(seconds / this) cycles
    cycle_seconds = 1.0
    # timed cycles of a traced run, at least: a traced run traces every
    # other op of each type, so each needs a traced and an untraced one
    min_traced_cycles = 2
    # commits between checkpoints; Delta's default unless a workload's
    # tables set their own
    checkpoint_interval = 10

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.salt = seed * 97
        self.fixture: dict = {}

    def commit_op(self, name: str, version: int) -> str:
        """Op type of a write that commits ``version``: the commit that
        also writes a checkpoint is an op type of its own, so that like
        is compared with like."""
        return f"{name}.checkpoint" if version % self.checkpoint_interval == 0 else name

    def build(self) -> None:
        """Build the fixture and the model of it."""
        raise NotImplementedError

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def warm_up(self) -> list[list[Op]]:
        """The untimed warm-up at the end of set-up, as chains of ops that
        may run side by side: the ops of a chain run in order."""
        return [self.cycle(0)]

    def cycle_rows(self) -> int:
        """Input rows one cycle processes."""
        return 0

    def final_checks(self) -> list[tuple[str, Callable[[], None]]]:
        return []

    def tables(self) -> list[str]:
        raise NotImplementedError

    def space_amp(self) -> float:
        """Bytes under the table directories ÷ bytes of live data files."""
        on_disk = live = 0
        for path in self.tables():
            on_disk += dir_bytes(path)
            live += DeltaTable.forPath(self.spark, path).deltaLog.snapshot().size_in_bytes()
        return on_disk / live

    def _table_info(self, path: str) -> dict:
        log = DeltaTable.forPath(self.spark, path).deltaLog
        snap = log.snapshot()
        return {
            "files": snap.num_files(),
            "data_bytes": snap.size_in_bytes(),
            "log_bytes": log_bytes(path),
            "version": snap.version,
            "checkpoint_interval": log.checkpoint_interval(snap),
        }


# --------------------------------------------------------------------------
# cdc_merge


class CdcMerge(Workload):
    """Per-micro-batch CDC merge into a keyed table, with the reads and
    the small DML that sit beside it.

    One cycle commits three times: a merge of a 1k-row batch with the
    clause set the streaming CDC sink builds, one selective DML on the
    cold part of the key space (a deletion-vector delete of a few keys
    on odd cycles, a copy-on-write update of a 100-key range on even
    ones), and a second merge, which also writes the checkpoint. After
    each merge a read-back through ``DeltaTable.toDF`` fetches the keys
    the writes since the last read-back touched. Batches update and
    delete keys in a hot window at the tail of the key space and insert
    new keys after it; the fixture is range-clustered on the key, so
    min/max stats prune the DML. The final checks compare the table, read
    through ``DeltaTable.toDF`` and through the ``jodie_delta`` source,
    and every merge's row counts from ``OperationMetricHelper`` with the
    model.
    """

    name = "cdc_merge"
    # a cycle takes 7-10 s on 4 cores; 20 s runs time two cycles
    cycle_seconds = 10.0
    # The fixture is one commit (version 0) and the table checkpoints
    # every third commit. Cycle c commits its first merge at version
    # 3c + 4, its DML at 3c + 5 and its second merge at 3c + 6, so every
    # cycle has exactly one checkpoint merge, its slowest write. The
    # warm-up runs cycles -1 and 0 (versions 1-6).
    checkpoint_interval = 3
    # both DML kinds twice, so each has a traced and an untraced op
    min_traced_cycles = 4

    GUARD = "coalesce(s.seq >= t.seq, true)"
    DELETED = "coalesce(s.deleted, false)"

    def __init__(self, spark, work_dir, seed) -> None:
        super().__init__(spark, work_dir, seed)
        # fixture rows and files, batch rows, inserts per batch, hot key
        # window, keys a DV delete removes, keys an update changes
        self.n0, self.files, self.batch, self.inserts, self.hot = (
            196_000, 28, 1_000, 200, 6_000
        )
        self.delete_keys, self.update_keys = 4, 100
        self.path = os.path.join(work_dir, "cdc_target")
        self.rows: dict[int, tuple[int, int]] = {}  # k -> (seq, v)
        # version -> (version, deleted, inserted, updated, source rows)
        self.merge_counts: dict[int, tuple[int, ...]] = {}
        self.next_key = self.n0
        self.version = -1
        self.pending: list[int] = []  # keys written since the last read-back

    def tables(self) -> list[str]:
        return [self.path]

    def cycle_rows(self) -> int:
        return 2 * self.batch

    def build(self) -> None:
        # range() splits into contiguous key ranges: one file each
        df = (
            self.spark.range(0, self.n0, 1, self.files)
            .selectExpr("id AS k", "1L AS seq", f"{base_value_sql('id', self.salt)} AS v")
            .selectExpr("k", "seq", "v", "concat('s', v) AS s")
        )
        table_mod.write_delta(
            df, self.path, options={"delta.checkpointInterval": str(self.checkpoint_interval)}
        )
        self.rows = {k: (1, base_value(k, self.salt)) for k in range(self.n0)}
        self.version = 0
        self.fixture = self._table_info(self.path)
        self.fixture["rows"] = self.n0

    def _batch(self, b: int) -> list[tuple]:
        rng = random.Random(self.seed * 1_000_003 + b)
        seq = b + 2
        hi = self.next_key
        rows = []
        for k in rng.sample(range(hi - self.hot, hi), self.batch - self.inserts):
            r = rng.random()
            v = rng.randrange(_MOD)
            # 10% flagged deletes, 5% stale (lower sequence than the target)
            rows.append((k, 0 if 0.10 <= r < 0.15 else seq, v, f"s{v}", r < 0.10))
        for k in range(hi, hi + self.inserts):
            v = rng.randrange(_MOD)
            rows.append((k, seq, v, f"s{v}", rng.random() < 0.05))
        self.next_key = hi + self.inserts
        rng.shuffle(rows)
        return rows

    def _apply(self, batch: list[tuple]) -> tuple[dict[str, int], list[int]]:
        """Apply the merge's clause set to the model. Returns the rows it
        deleted, inserted and updated, and one key of each kind."""
        counts = {"delete": 0, "insert": 0, "update": 0}
        touched: dict[str, int] = {}
        for k, seq, v, _s, deleted in batch:
            cur = self.rows.get(k)
            if cur is not None:
                if seq < cur[0]:
                    continue
                kind = "delete" if deleted else "update"
            elif deleted:
                continue
            else:
                kind = "insert"
            if kind == "delete":
                del self.rows[k]
            else:
                self.rows[k] = (seq, v)
            counts[kind] += 1
            touched.setdefault(kind, k)
        return counts, list(touched.values())

    def _model_rows(self, keys) -> list[tuple]:
        return sorted((k, *self.rows[k], f"s{self.rows[k][1]}") for k in keys if k in self.rows)

    def _table(self) -> DeltaTable:
        return DeltaTable.forPath(self.spark, self.path)

    def _read_back(self) -> None:
        """Read back the keys the writes since the last read-back touched."""
        in_list = ",".join(str(k) for k in self.pending)
        rows = self._table().toDF().where(f"k IN ({in_list})").collect()
        expect(
            f"read-back of keys {in_list}",
            sorted(tuple(r) for r in rows),
            self._model_rows(self.pending),
        )
        self.pending = []

    def _merge(self, b: int, version: int) -> Op:
        """Merge batch ``b``, committing ``version``."""
        batch = self._batch(b)
        src = self.spark.createDataFrame(
            batch, "k long, seq long, v long, s string, deleted boolean"
        )

        def merge() -> None:
            (
                self._table()
                .alias("t")
                .merge(src.alias("s"), "t.k = s.k")
                .whenMatchedDelete(f"{self.DELETED} and {self.GUARD}")
                .whenMatchedUpdate(
                    condition=self.GUARD, set={"seq": "s.seq", "v": "s.v", "s": "s.s"}
                )
                .whenNotMatchedInsert(
                    condition=f"not {self.DELETED}",
                    values={"k": "s.k", "seq": "s.seq", "v": "s.v", "s": "s.s"},
                )
                .execute()
            )
            self.version += 1
            counts, touched = self._apply(batch)
            self.pending += touched
            self.merge_counts[self.version] = (
                self.version, counts["delete"], counts["insert"], counts["update"], len(batch)
            )

        return Op("write", self.commit_op("merge", version), merge)

    def cycle(self, i: int) -> list[Op]:
        rng = random.Random(self.seed * 1_000_003 + i + 500_000)
        cold = self.n0 - self.hot  # merges never touch keys below this

        def dv_delete() -> None:
            # a few live keys within one file's key range
            lo = rng.randrange(cold - 2_000)
            live = [k for k in range(lo, lo + 2_000) if k in self.rows]
            keys = sorted(rng.sample(live, self.delete_keys))
            self._table().delete(f"k IN ({','.join(map(str, keys))})", deletion_vectors=True)
            for k in keys:
                del self.rows[k]
            self.version += 1
            self.pending += [*keys, lo + 2_000]

        def cow_update() -> None:
            lo = rng.randrange(cold - self.update_keys)
            hi = lo + self.update_keys - 1
            self._table().update(
                f"k BETWEEN {lo} AND {hi}", {"v": "v + 1", "s": "concat('s', v + 1)"}
            )
            for k in range(lo, hi + 1):
                if k in self.rows:
                    seq, v = self.rows[k]
                    self.rows[k] = (seq, v + 1)
            self.version += 1
            self.pending += [lo - 1, lo, (lo + hi) // 2, hi, hi + 1]

        v = 3 * i + 4
        read = Op("read", "read_back", self._read_back)
        dml = ("dv_delete", dv_delete) if i % 2 else ("cow_update", cow_update)
        return [
            self._merge(2 * i + 2, v),
            read,
            Op("write", self.commit_op(dml[0], v + 1), dml[1]),
            self._merge(2 * i + 3, v + 2),
            read,
        ]

    def warm_up(self) -> list[list[Op]]:
        """Two whole cycles, one with each DML kind: after one, the
        timed merges still got faster from cycle to cycle."""
        return [self.cycle(-1) + self.cycle(0)]

    def final_checks(self):
        def count_and_checksum(df) -> None:
            row = (
                df.selectExpr(
                    "count(*) AS n",
                    "sum(k * 1000003 + seq * 7919 + v + crc32(cast(s AS binary))) AS c",
                )
                .collect()[0]
            )
            want_c = sum(
                k * 1000003 + seq * 7919 + v + zlib.crc32(f"s{v}".encode())
                for k, (seq, v) in self.rows.items()
            )
            expect("row count", row["n"], len(self.rows))
            expect("checksum", int(row["c"]), want_c)

        def merge_metrics() -> None:
            versions = sorted(self.merge_counts)
            rows = metric_ops.OperationMetricHelper(
                self.spark, self.path, versions[0], versions[-1]
            ).get_count_metrics()
            expect(
                "merge metrics by version",
                sorted(r for r in rows if r[0] in self.merge_counts),
                [self.merge_counts[v] for v in versions],
            )

        # the jodie_delta source plans each read in a fresh Python worker;
        # its latency varied by a third between runs, so it is read here,
        # untimed, and not in the loop
        return [
            ("count_and_checksum", lambda: count_and_checksum(self._table().toDF())),
            (
                "jodie_delta_count_and_checksum",
                lambda: count_and_checksum(self.spark.read.format("jodie_delta").load(self.path)),
            ),
            ("merge_metrics", merge_metrics),
        ]


# --------------------------------------------------------------------------
# bulk_batch


class BulkBatch(Workload):
    """One pass of batch operators over fresh tables, repeated: row
    volume, where Spark execution, the parquet writer, shuffles and the
    operators' Python workers do the work and per-op metadata is small."""

    name = "bulk_batch"
    # a pass takes 8-14 s on 4 cores; 20 s runs time two passes
    cycle_seconds = 10.0
    DOC_WORDS = 100
    VOCAB = 5_000

    def __init__(self, spark, work_dir, seed, rows=20_000, docs=200) -> None:
        super().__init__(spark, work_dir, seed)
        self.r, self.docs = rows, docs
        self.d = self.r // 100  # planted duplicate keys, two rows each
        self.a = self.r // 10  # append batch; half its keys are new
        self.s = self.r // 4  # SCD2 dimension rows
        self.changed, self.unchanged, self.new = self.s // 10, self.s // 20, self.s // 50
        self.planted = self.docs // 10  # near-duplicate documents
        self.last: list[str] = []

    def tables(self) -> list[str]:
        return self.last

    def cycle_rows(self) -> int:
        return self.r + self.a + self.s + self.changed + self.unchanged + self.new + self.docs

    def build(self) -> None:
        # each pass writes fresh tables; the fixture is the pass's shape
        self.fixture = {
            "rows_per_pass": self.cycle_rows(),
            "events_rows": self.r,
            "planted_duplicate_keys": self.d,
            "dim_rows": self.s,
            "docs": self.docs,
            "planted_near_duplicates": self.planted,
        }

    def _corpus(self, rng: random.Random) -> list[tuple[int, str]]:
        docs = [
            [f"w{rng.randrange(self.VOCAB)}" for _ in range(self.DOC_WORDS)]
            for _ in range(self.docs - self.planted)
        ]
        for j in range(self.planted):
            near = list(docs[j])
            near[rng.randrange(self.DOC_WORDS)] = f"x{rng.randrange(self.VOCAB)}"
            docs.append(near)
        return [(i, " ".join(words)) for i, words in enumerate(docs)]

    def warm_up(self) -> list[list[Op]]:
        """A small twin's pass: Spark's first run of a query shape is slow
        at any size. The SCD2 table and the corpus are independent of
        the events table, so their ops form a chain of their own."""
        twin = BulkBatch(
            self.spark, os.path.join(self.work_dir, "warm"), self.seed, rows=2_000, docs=60
        )
        ops = twin.cycle(0)
        own = {"scd2", "minhash_dedup"}
        return [[op for op in ops if op.name not in own], [op for op in ops if op.name in own]]

    def cycle(self, i: int) -> list[Op]:
        spark = self.spark
        rng = random.Random(self.seed * 1_000_003 + i)
        salt = self.salt + i
        base = os.path.join(self.work_dir, f"pass{i}")
        events, dim = os.path.join(base, "events"), os.path.join(base, "dim")
        self.last = [events, dim]
        r, d, a, s = self.r, self.d, self.a, self.s
        corpus = self._corpus(rng)

        def write_events() -> None:
            df = spark.range(r).selectExpr(
                "id",
                f"CASE WHEN id < {r - d} THEN id ELSE (id - {r - d}) * 3 END AS k",
                f"{base_value_sql('id', salt)} AS v",
                "concat('e', id) AS s",
            )
            table_mod.write_delta(df, events, options={"delta.enableChangeDataFeed": "true"})

        def append() -> None:
            # even ids re-send existing keys, odd ids carry new ones
            batch = spark.range(a).selectExpr(
                f"{r} + id AS id",
                f"CASE WHEN id % 2 = 0 THEN id * 7 % {r - d} ELSE {10 * r} + id END AS k",
                f"{base_value_sql('id', salt + 1)} AS v",
                "concat('a', id) AS s",
            )
            ops.append_without_duplicates(DeltaTable.forPath(spark, events), batch, ["k"])

        def kill() -> None:
            ops.kill_duplicate_records(DeltaTable.forPath(spark, events), ["k"])

        def scd2() -> None:
            df = spark.range(s).selectExpr(
                "id AS pk",
                f"{base_value_sql('id', salt)} AS a1",
                "concat('c', pmod(id, 97)) AS a2",
                "true AS is_current",
                "timestamp'2024-01-01 00:00:00' AS effective_time",
                "cast(NULL AS timestamp) AS end_time",
            )
            table_mod.write_delta(df, dim)
            c, u = self.changed, self.unchanged
            updates = spark.range(c + u + self.new).selectExpr(
                f"CASE WHEN id < {c} THEN id * 10 WHEN id < {c + u} THEN (id - {c}) * 10 + 1 "
                f"ELSE {s} + id END AS pk",
            ).selectExpr(
                "pk",
                # changed keys get a new a1; the rest carry the base value
                f"{base_value_sql('pk', salt)} + CASE WHEN pk % 10 = 0 AND pk < {s} "
                "THEN 1 ELSE 0 END AS a1",
                "concat('c', pmod(pk, 97)) AS a2",
                "timestamp'2024-02-01 00:00:00' AS effective_time",
            )
            ops.type2_upsert(DeltaTable.forPath(spark, dim), updates, "pk", ["a1", "a2"])

        def optimize() -> None:
            DeltaTable.forPath(spark, events).optimize().executeCompaction()

        def cdf() -> None:
            got = {
                row["_change_type"]: row["count"]
                for row in cdf_ops.read_cdf(spark, events, starting_version=0)
                .groupBy("_change_type")
                .count()
                .collect()
            }
            expect("change feed rows by type", got, {"insert": r + a // 2, "delete": 2 * d})

        def metrics() -> None:
            rows = metric_ops.OperationMetricHelper(spark, events).get_count_metrics()
            got = (sum(x[1] for x in rows), sum(x[2] for x in rows))
            expect("operation metrics (deleted, inserted)", got, (2 * d, r + a // 2))

        def minhash() -> None:
            df = spark.createDataFrame(corpus, "id long, text string")
            n = ops.minhash_dedup(df, "text", "id", verify_threshold=0.7).count()
            expect("documents kept by minhash_dedup", n, self.docs - self.planted)

        return [
            Op("write", "write_delta", write_events),
            Op("write", "append_without_duplicates", append),
            Op("write", "kill_duplicate_records", kill),
            Op("write", "scd2", scd2),
            Op("write", "optimize", optimize),
            Op("read", "read_cdf", cdf),
            Op("read", "operation_metrics", metrics),
            Op("read", "minhash_dedup", minhash),
        ]

    def final_checks(self):
        events, dim = self.last

        def events_rows() -> None:
            n = DeltaTable.forPath(self.spark, events).toDF().count()
            expect("events rows after dedup", n, self.r + self.a // 2 - 2 * self.d)

        def scd2_rows() -> None:
            row = (
                DeltaTable.forPath(self.spark, dim)
                .toDF()
                .selectExpr("count(*) AS n", "count_if(is_current) AS cur")
                .collect()[0]
            )
            expect(
                "SCD2 (rows, current rows)",
                (row["n"], row["cur"]),
                (self.s + self.changed + self.new, self.s + self.new),
            )

        return [("events_rows", events_rows), ("scd2_rows", scd2_rows)]


WORKLOADS = {w.name: w for w in (CdcMerge, BulkBatch)}
