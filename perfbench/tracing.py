"""Layer tracing for the benchmark, installed from outside the package.

The tracer wraps jodie_spark's public entry points (and the py4j
connection every driver-to-JVM call crosses) in place, at every module
that binds them, and records:

- spans ``(id, name, start, end, parent, op)`` kept in memory and
  written out once the run ends;
- exact counters per op (py4j calls, filesystem calls by kind, files
  planned and kept, files and bytes written, log bytes read).

Nothing under ``jodie_spark/`` changes: the wrappers are installed by
``Tracer.install`` and removed by ``Tracer.uninstall``.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import os
import sys
import threading
import time
from typing import Any, Callable

# py4j's memory command ("m\n" + "d\n" + object id) detaches JVM objects
# when Python garbage-collects their proxies; when that happens depends
# on the collector, not on the work an op does, so it is not counted
_PY4J_MEMORY_COMMAND = "m\n"

# filesystem facade methods by request kind (the object-store verbs the
# Delta Lake paper counts: LIST, GET, HEAD, PUT, plus rename/remove)
FS_KINDS = {
    "list": ("listdir", "listdir_sizes", "walk_files", "existing_files"),
    "get": ("open_input", "read_bytes", "read_text"),
    "head": ("exists", "isfile", "isdir", "size", "mtime_ms"),
    "put": ("write_atomic", "write_text_atomic", "create_exclusive"),
    "rename": ("rename",),
    "remove": ("remove", "rmtree"),
}

# (module, attribute path, span name) — the log and DML entry points are
# methods, patched on their class so every caller sees the wrapper
METHOD_SPANS = [
    ("jodie_spark.tables.log", "DeltaLog.snapshot", "log.snapshot"),
    ("jodie_spark.tables.log", "DeltaLog.table_info", "log.table_info"),
    ("jodie_spark.tables.log", "DeltaLog.commit", "log.commit"),
    ("jodie_spark.tables.log", "DeltaLog.write_checkpoint", "log.checkpoint"),
    ("jodie_spark.tables.table", "DeltaTable.toDF", "scan.toDF"),
    ("jodie_spark.tables.table", "DeltaTable.delete", "dml.delete"),
    ("jodie_spark.tables.table", "DeltaTable.update", "dml.update"),
    ("jodie_spark.tables.table", "OptimizeBuilder.executeCompaction", "dml.optimize"),
    ("jodie_spark.tables.merge", "DeltaMergeBuilder.execute", "merge"),
]

# module-level functions, rebound at every jodie_spark module that
# imported them by name (write_data_files lives in writer and is bound
# into table and merge; write_delta is bound into dedup and helpers)
FUNCTION_SPANS = [
    ("jodie_spark.tables.table", "plan_candidate_files", "plan"),
    ("jodie_spark.tables.table", "read_files_df", "scan.read_files_df"),
    ("jodie_spark.tables.writer", "write_data_files", "writer.write_data_files"),
    ("jodie_spark.tables.table", "write_delta", "writer.write_delta"),
]

OPERATOR_FUNCTIONS = [
    ("jodie_spark.operators.dedup", "append_without_duplicates"),
    ("jodie_spark.operators.dedup", "kill_duplicate_records"),
    ("jodie_spark.operators.scd", "type2_upsert"),
    ("jodie_spark.operators.cdf", "read_cdf"),
    ("jodie_spark.operators.metrics", "OperationMetricHelper.get_count_metrics"),
    ("jodie_spark.operators.text_dedup", "minhash_dedup"),
]


def operator_metric(attr: str) -> str:
    """Per-layer metric name of an operator entry point."""
    return f"operators.{attr.split('.')[-1]}.s"


class Tracer:
    """Spans and counters for one benchmark process."""

    def __init__(self) -> None:
        self.spans: list[tuple[int, str, float, float, int | None, int | None]] = []
        self.op_counts: dict[int, collections.Counter] = {}
        self.op_id: int | None = None
        self._op_span: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[Callable[[], None]] = []
        self._last_snapshot: dict[str, Any] = {}

    # -- recording ---------------------------------------------------------

    def add(self, name: str, value: float = 1) -> None:
        if self.op_id is None:
            return
        with self._lock:
            self.op_counts[self.op_id][name] += value

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open_span(self) -> tuple[int, int | None, float]:
        st = self._stack()
        parent = st[-1] if st else self._op_span
        sid = next(self._ids)
        st.append(sid)
        return sid, parent, time.perf_counter()

    def close_span(self, name: str, token: tuple[int, int | None, float]) -> float:
        sid, parent, start = token
        end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append((sid, name, start, end, parent, self.op_id))
        return end - start

    def begin_op(self, op_id: int, op_type: str) -> None:
        """Start an op: its root span is the parent of top-level layer spans."""
        self.op_id = op_id
        self.op_counts[op_id] = collections.Counter()
        self._op_span = next(self._ids)
        self._op_start = time.perf_counter()
        self._op_type = op_type

    def end_op(self) -> None:
        end = time.perf_counter()
        with self._lock:
            self.spans.append(
                (self._op_span, f"op.{self._op_type}", self._op_start, end, None, self.op_id)
            )
        self.op_id = None
        self._op_span = None

    # -- wrappers ------------------------------------------------------------

    def _span_wrapper(self, fn: Callable, name: str, on_result=None) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.op_id is None:
                return fn(*args, **kwargs)
            token = tracer.open_span()
            try:
                result = fn(*args, **kwargs)
            finally:
                dur = tracer.close_span(name, token)
                tracer.add(f"{name}.calls")
                tracer.add(f"{name}.s", dur)
            if on_result is not None:
                on_result(result, args, kwargs)
            return result

        return wrapper

    def _patch(self, owner: Any, attr: str, new: Any) -> None:
        original = owner.__dict__[attr]
        self._undo.append(lambda: setattr(owner, attr, original))
        setattr(owner, attr, new)

    def _patch_everywhere(self, fn: Callable, new: Callable) -> None:
        """Rebind ``fn`` at every loaded jodie_spark module that holds it."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("jodie_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patch(mod, attr, new)

    def _resolve(self, module: str, path: str) -> tuple[Any, str, Any]:
        owner = sys.modules[module]
        *outer, attr = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        return owner, attr, owner.__dict__[attr]

    def install(self) -> None:
        """Wrap every layer boundary; call after jodie_spark is imported."""
        import importlib

        for module in {e[0] for e in METHOD_SPANS + FUNCTION_SPANS + OPERATOR_FUNCTIONS}:
            importlib.import_module(module)
        importlib.import_module("jodie_spark.operators")
        self._install_py4j()
        self._install_fs()
        hooks = {
            "log.snapshot": self._on_snapshot,
            "plan": self._on_plan,
            "scan.read_files_df": self._on_read_files,
            "writer.write_data_files": self._on_write_files,
        }
        for module, path, name in METHOD_SPANS:
            owner, attr, fn = self._resolve(module, path)
            self._patch(owner, attr, self._span_wrapper(fn, name, hooks.get(name)))
        for module, path, name in FUNCTION_SPANS:
            _, _, fn = self._resolve(module, path)
            self._patch_everywhere(fn, self._span_wrapper(fn, name, hooks.get(name)))
        for module, path in OPERATOR_FUNCTIONS:
            owner, attr, fn = self._resolve(module, path)
            name = operator_metric(path)[: -len(".s")]
            wrapped = self._span_wrapper(fn, name)
            if "." in path:
                self._patch(owner, attr, wrapped)
            else:
                self._patch_everywhere(fn, wrapped)

    def uninstall(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()

    def _install_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        original = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(original)
        def send_command(conn, command):
            if tracer.op_id is None or command.startswith(_PY4J_MEMORY_COMMAND):
                return original(conn, command)
            start = time.perf_counter()
            try:
                return original(conn, command)
            finally:
                dur = time.perf_counter() - start
                with tracer._lock:
                    counts = tracer.op_counts.get(tracer.op_id)
                    if counts is not None:
                        counts["py4j.calls"] += 1
                        counts["py4j.s"] += dur

        self._patch(ClientServerConnection, "send_command", send_command)

    def _install_fs(self) -> None:
        from jodie_spark.fs import get_fs

        fs = get_fs(os.sep)  # the process-wide local facade instance
        tracer = self
        for kind, methods in FS_KINDS.items():
            for method in methods:
                original = getattr(fs, method)

                def make(original=original, kind=kind):
                    @functools.wraps(original)
                    def call(*args, **kwargs):
                        local = tracer._local
                        depth = getattr(local, "fs_depth", 0)
                        if depth or tracer.op_id is None:
                            return original(*args, **kwargs)
                        # count the outermost facade call only: the base
                        # class builds read_text on open_input
                        local.fs_depth = 1
                        try:
                            return original(*args, **kwargs)
                        finally:
                            local.fs_depth = 0
                            tracer.add(f"fs.{kind}")
                            if kind == "get" and args:
                                tracer._count_log_bytes(args[0])

                    return call

                # instance attributes shadow the class methods
                fs.__dict__[method] = make()
                self._undo.append(lambda m=method: fs.__dict__.pop(m, None))

    def _count_log_bytes(self, path: Any) -> None:
        p = str(path)
        if f"{os.sep}_delta_log{os.sep}" in p:
            try:
                self.add("log.bytes", os.stat(p).st_size)
            except OSError:
                pass

    # -- per-layer hooks -------------------------------------------------------

    def _on_snapshot(self, snap, args, kwargs) -> None:
        log = args[0]
        self._last_snapshot[log.table_path] = snap

    def _on_plan(self, candidates, args, kwargs) -> None:
        # the file count comes from the last full snapshot of the table;
        # the Spark-side planning tier replays none, so its calls have
        # no total and stay out of the kept ratio
        table_path = args[1] if len(args) > 1 else kwargs.get("table_path")
        snap = self._last_snapshot.get(os.path.abspath(str(table_path)))
        self.add("plan.files_kept", len(candidates))
        if snap is not None and snap._files is not None:
            self.add("plan.files_total", snap.num_files())
            self.add("plan.files_kept_of_total", len(candidates))

    def _on_read_files(self, df, args, kwargs) -> None:
        adds = args[3] if len(args) > 3 else kwargs.get("adds", [])
        self.add("scan.files", len(adds))

    def _on_write_files(self, adds, args, kwargs) -> None:
        self.add("writer.files", len(adds))
        self.add("writer.bytes", sum(int(a.get("size") or 0) for a in adds))

    # -- output ----------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = collections.defaultdict(list)
        for _sid, _name, start, end, parent, _op in self.spans:
            if parent is not None:
                children[parent].append((start, end))
        out = {}
        for sid, _name, start, end, _parent, _op in self.spans:
            out[sid] = (end - start) - covered(children.get(sid, []), start, end)
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sid, name, start, end, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": sid,
                            "name": name,
                            "start": start,
                            "end": end,
                            "parent": parent,
                            "op": op,
                            "self_s": selfs[sid],
                        }
                    )
                    + "\n"
                )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_counts_by_group(event_log_dir: str) -> dict[str, collections.Counter]:
    """Jobs, stages, tasks, executor run time and shuffle bytes per job
    group, from the Spark event log of this process."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    files = sorted(
        os.path.join(event_log_dir, f)
        for f in os.listdir(event_log_dir)
        if not f.startswith(".")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    job_group[ev["Job ID"]] = group
                    out[group]["spark.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        out[stage_group[sid]]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    c = out[group]
                    c["spark.tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    c["spark.shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return out
