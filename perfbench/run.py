#!/usr/bin/env python3
"""Closed-loop benchmark for jodie_spark.

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One client drives one workload
against ``local[nproc]`` for a fixed number of whole cycles, about
``--seconds`` of op time on 4 cores (see ``cycles``), and checks every
output against a model built from ``--seed``. Set-up (session start,
fixture build, untimed warm-up) comes first and is ``setup_s``. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the layer boundaries are wrapped
and the metrics are the per-layer ones (see README.md). The lines
before it carry provenance and detail. Everything the run writes stays
under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import collections  # noqa: E402
import concurrent.futures  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("cdc_merge", "bulk_batch")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def launch_environment(work: str, trace: bool) -> None:
    """Configure Spark's launch from outside the package: everything a
    run writes stays under ``work``, the console progress bar is off,
    and Python workers import jodie_spark from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + events
        # one plain JSON-lines file
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(f"--driver-java-options -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def tail(samples: list[Sample]) -> float:
    """The median over cycles of each cycle's slowest sample. A run has
    too few samples for a percentile with ten beyond it, and the
    maximum of a run rests on one sample; every cycle has the same op
    mix, so its slowest op is the same op type each time."""
    slowest: dict[int, float] = {}
    for s in samples:
        slowest[s.cycle] = max(slowest.get(s.cycle, 0.0), s.seconds)
    return statistics.median(slowest.values())


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
            # never look for a repository above the checkout
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def provenance(args, spark, wl) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.System.getProperty("java.version"),
        "git_commit": git_commit(),
        "fixture": wl.fixture,
    }


@dataclass
class Sample:
    kind: str  # "read" or "write"
    name: str  # op type
    seconds: float
    traced: bool
    op_id: int
    cycle: int


class Loop:
    """The closed loop: one client, the next op only after the last ends."""

    def __init__(self, wl, spark, tracer) -> None:
        self.wl = wl
        self.spark = spark
        self.tracer = tracer
        self.samples: list[Sample] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.loop_s = 0.0
        self.cycles = 0
        self.space_amp: float | None = None
        self.lock = threading.Lock()
        self.timed_by_type: collections.Counter = collections.Counter()
        self.type_order: dict[str, int] = {}  # op type -> order of first timed op
        self.warm_up_s: list[tuple[str, float]] = []  # (op type, seconds)
        self.checks_s: dict[str, float] = {}  # final check -> seconds

    def run_op(self, op, timed: bool, cycle: int = 0) -> None:
        with self.lock:  # warm-up ops run in threads
            self.attempted += 1
            op_id = self.attempted
        traced = False
        if self.tracer is not None:
            # every op of a traced run gets its own Spark job group, so
            # traced and untraced ops pay the same extra call
            self.spark.sparkContext.setJobGroup(str(op_id), op.name)
            # every other timed op of each type is traced; every other
            # type starts with a traced op, so that the order of traced
            # and untraced twins does not bias the tracing overhead
            if timed:
                order = self.type_order.setdefault(op.name, len(self.type_order))
                traced = (self.timed_by_type[op.name] + order) % 2 == 1
            if traced:
                self.tracer.begin_op(op_id, op.name)
        start = time.perf_counter()
        try:
            op.fn()
        except Exception:  # a failed op is counted and the loop goes on
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=4)}")
        else:
            seconds = time.perf_counter() - start
            if timed:
                self.samples.append(Sample(op.kind, op.name, seconds, traced, op_id, cycle))
            else:
                self.warm_up_s.append((op.name, seconds))
        finally:
            if timed:
                self.loop_s += time.perf_counter() - start
                self.timed_by_type[op.name] += 1
            if traced:
                self.tracer.end_op()

    def warm_up(self) -> None:
        """The workload's untimed warm-up: the timed loop starts with
        Spark's code generated and its Python workers running. Its
        chains run in threads, so their cold starts overlap."""
        chains = self.wl.warm_up()
        with concurrent.futures.ThreadPoolExecutor(len(chains)) as pool:
            list(pool.map(lambda ops: [self.run_op(op, timed=False) for op in ops], chains))

    def run(self, cycles: int) -> None:
        for i in range(1, 1 + cycles):
            for op in self.wl.cycle(i):
                self.run_op(op, timed=True, cycle=i)
            self.cycles += 1
        self.space_amp = self.wl.space_amp()
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup("checks", "final checks")

    def check(self) -> None:
        """The workload's whole-table checks. They only read, so they run
        side by side."""

        def one(check) -> None:
            name, fn = check
            with self.lock:
                self.attempted += 1
            start = time.perf_counter()
            try:
                fn()
            except Exception:
                self.failures.append(f"{name}: {traceback.format_exc(limit=4)}")
            self.checks_s[name] = time.perf_counter() - start

        checks = self.wl.final_checks()
        with concurrent.futures.ThreadPoolExecutor(max(1, len(checks))) as pool:
            list(pool.map(one, checks))


def cycles(wl, seconds: float, trace: bool) -> int:
    """Cycles a run times: ``seconds`` over the workload's time budget
    per cycle, rounded up, and at least the workload's
    ``min_traced_cycles`` when traced. Every run of a workload and
    seconds does the same work, so its op mix, checkpoint commits
    included, never depends on machine speed."""
    n = max(1, math.ceil(seconds / wl.cycle_seconds))
    return max(n, wl.min_traced_cycles) if trace else n


def end_to_end(loop: Loop, setup_s: float) -> tuple[dict, dict]:
    reads = [s for s in loop.samples if s.kind == "read"]
    writes = [s for s in loop.samples if s.kind == "write"]
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(loop.samples) / loop.loop_s, "1/s"),
        "rows_per_s": (loop.wl.cycle_rows() * loop.cycles / loop.loop_s, "rows/s"),
        "read_p50_s": (statistics.median(s.seconds for s in reads), "s"),
        "read_tail_s": (tail(reads), "s"),
        "write_p50_s": (statistics.median(s.seconds for s in writes), "s"),
        "write_tail_s": (tail(writes), "s"),
        "space_amp": (loop.space_amp, "ratio"),
        "driver_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
    }
    by_op: dict[str, list[float]] = {}
    for s in loop.samples:
        by_op.setdefault(s.name, []).append(s.seconds)
    detail = {
        "error_rate": len(loop.failures) / loop.attempted,
        "tail_rule": "median over cycles of the slowest op of each cycle",
        "read_samples": len(reads),
        "write_samples": len(writes),
        "cycles": loop.cycles,
        "loop_s": loop.loop_s,
        "p50_s_by_op": {k: statistics.median(v) for k, v in by_op.items()},
        "s_by_op": by_op,
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jodie_spark", "__init__.py")):
        print(f"no jodie_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    launch_environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        from jodie_spark.session import get_spark
        from jodie_spark.sources import register_datasource

        import workloads

        tracer = None
        if args.trace:
            import layers
            from tracing import Tracer

            tracer = Tracer()
            tracer.install()
        t_imports = t = time.time()
        spark = get_spark("perfbench")
        session_start_s = time.time() - t
        register_datasource(spark)
        wl = workloads.WORKLOADS[args.workload](spark, os.path.join(work, "tables"), args.seed)
        t = time.time()
        wl.build()
        build_s = time.time() - t
        loop = Loop(wl, spark, tracer)
        t = time.time()
        loop.warm_up()
        warm_up_s = time.time() - t
        setup_s = time.time() - T0
        loop.run(cycles(wl, args.seconds, bool(args.trace)))
        loop.check()
        prov = provenance(args, spark, wl)
        metrics, detail = end_to_end(loop, setup_s)
        detail["setup_phases_s"] = {
            "imports": t_imports - T0,
            "session": session_start_s,
            "fixture_build": build_s,
            "warm_up": warm_up_s,
            "warm_up_by_op": loop.warm_up_s,
        }
        detail["final_checks_s"] = loop.checks_s
        if tracer is not None:
            tracer.uninstall()
            spark.stop()  # flushes the event log
            metrics, layer_detail = layers.per_layer(
                tracer, loop, os.path.join(work, "events"), session_start_s
            )
            tag = f"{args.workload}-{args.seed}"
            tracer.write(os.path.join(out_dir, f"spans-{tag}.jsonl"))
            with open(os.path.join(out_dir, f"layers-{tag}.json"), "w") as fh:
                json.dump(layer_detail, fh, indent=1, sort_keys=True)
            detail["layers_per_op_type"] = {
                t: v["mean"] for t, v in layer_detail["per_op_type"].items()
            }
        failed = len(loop.failures)
        print(json.dumps({"provenance": prov}))
        print(json.dumps({"detail": detail, "failures": loop.failures}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": loop.attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def stop_spark() -> None:
    """Stop Spark and wait for the JVM this process launched, if any."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
