"""Per-layer metrics of a traced run, from the tracer's counters and spans
and the Spark event log.

Values in the result line are means per traced op. The layers file
(``.perfbench_out/layers-<workload>-<seed>.json``) holds the totals,
the means per op type and the exact counts of every traced op, which
``selftest.py`` compares between runs.
"""

from __future__ import annotations

import collections
import statistics

from tracing import OPERATOR_FUNCTIONS, covered, operator_metric, spark_counts_by_group

# per-layer metric -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "py4j.calls": "count/op",
    "py4j.s": "s/op",
    "log.snapshot.calls": "count/op",
    "log.snapshot.s": "s/op",
    "log.table_info.calls": "count/op",
    "log.commit.calls": "count/op",
    "log.commit.s": "s/op",
    "log.checkpoint.calls": "count/op",
    "log.checkpoint.s": "s/op",
    "log.bytes": "B/op",
    "fs.list": "count/op",
    "fs.get": "count/op",
    "fs.head": "count/op",
    "fs.put": "count/op",
    "fs.rename": "count/op",
    "fs.remove": "count/op",
    "plan.calls": "count/op",
    "plan.s": "s/op",
    "plan.files_total": "count/op",
    "plan.files_kept": "count/op",
    "plan.kept_ratio": "ratio",
    "scan.calls": "count/op",
    "scan.s": "s/op",
    "scan.files": "count/op",
    "merge.calls": "count/op",
    "merge.s": "s/op",
    "dml.delete.s": "s/op",
    "dml.update.s": "s/op",
    "dml.optimize.s": "s/op",
    "writer.calls": "count/op",
    "writer.s": "s/op",
    "writer.files": "count/op",
    "writer.bytes": "B/op",
    **{operator_metric(path): "s/op" for _module, path in OPERATOR_FUNCTIONS},
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.executor_run_s": "s/op",
    "spark.shuffle_bytes": "B/op",
    "session.start_s": "s",
    "trace.overhead_s": "s/op",
    "trace.coverage": "ratio",
}

# counters that must repeat exactly for the same seed (selftest.py)
EXACT = (
    "py4j.calls",
    "log.snapshot.calls",
    "log.table_info.calls",
    "log.commit.calls",
    "log.checkpoint.calls",
    "fs.list",
    "fs.get",
    "fs.head",
    "fs.put",
    "fs.rename",
    "fs.remove",
    "plan.calls",
    "plan.files_total",
    "plan.files_kept",
    "scan.calls",
    "scan.files",
    "merge.calls",
    "writer.calls",
    "writer.files",
    "spark.jobs",
    "spark.stages",
)


def op_metrics(raw: collections.Counter) -> collections.Counter:
    """One op's raw span and counter values plus the derived layer totals."""
    m = collections.Counter(raw)
    m["scan.calls"] = raw["scan.read_files_df.calls"]
    m["scan.s"] = raw["scan.read_files_df.s"]
    # every data write goes through write_data_files (write_delta too)
    m["writer.calls"] = raw["writer.write_data_files.calls"]
    m["writer.s"] = raw["writer.write_data_files.s"]
    return m


def per_layer(tracer, loop, events_dir: str, session_start_s: float) -> tuple[dict, dict]:
    spark = spark_counts_by_group(events_dir)
    traced = [s for s in loop.samples if s.traced]
    ops = {}
    for s in traced:
        ops[s.op_id] = op_metrics(tracer.op_counts[s.op_id])
        ops[s.op_id].update(spark.get(str(s.op_id), {}))

    # share of each op's wall time its top-level layer spans cover
    op_span = {
        op: (sid, start, end)
        for sid, name, start, end, _parent, op in tracer.spans
        if name.startswith("op.")
    }
    children = collections.defaultdict(list)
    for _sid, _name, start, end, parent, _op in tracer.spans:
        if parent is not None:
            children[parent].append((start, end))
    coverage = {}
    for s in traced:
        sid, start, end = op_span[s.op_id]
        coverage[s.op_id] = covered(children[sid], start, end) / (end - start)

    def mean(op_ids, name):
        return sum(ops[o][name] for o in op_ids) / len(op_ids) if op_ids else 0.0

    ids = [s.op_id for s in traced]
    names = sorted(set().union(*ops.values())) if ops else []
    metrics = {name: mean(ids, name) for name in PER_LAYER}
    total_files = sum(ops[o]["plan.files_total"] for o in ids)
    kept = sum(ops[o]["plan.files_kept_of_total"] for o in ids)
    metrics["plan.kept_ratio"] = kept / total_files if total_files else 0.0
    metrics["session.start_s"] = session_start_s
    metrics["trace.coverage"] = statistics.mean(coverage.values()) if coverage else 0.0
    metrics["trace.overhead_s"], no_twin = overhead(loop.samples)

    by_type: dict[str, list[int]] = collections.defaultdict(list)
    for s in traced:
        by_type[s.name].append(s.op_id)
    detail = {
        "traced_ops": len(ids),
        # op types whose tracing overhead is undefined: no untraced twin
        "overhead_undefined_for": no_twin,
        "total": {name: sum(ops[o][name] for o in ids) for name in names},
        "per_op_type": {
            t: {
                "ops": len(o),
                "mean": {name: mean(o, name) for name in names},
                "coverage": statistics.mean(coverage[x] for x in o),
            }
            for t, o in by_type.items()
        },
        "exact_counts": {
            t: [{name: int(ops[x][name]) for name in EXACT} for x in o]
            for t, o in by_type.items()
        },
    }
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}, detail


def overhead(samples) -> tuple[float, list[str]]:
    """Mean per-op cost of tracing: per op type, the median traced op
    minus the median untraced one, weighted by the traced ops. Also the
    traced op types that have no untraced twin, which it leaves out."""
    by = collections.defaultdict(lambda: ([], []))
    for s in samples:
        by[s.name][0 if s.traced else 1].append(s.seconds)
    num = den = 0.0
    no_twin = []
    for name, (traced, untraced) in sorted(by.items()):
        if traced and untraced:
            num += len(traced) * (statistics.median(traced) - statistics.median(untraced))
            den += len(traced)
        elif traced:
            no_twin.append(name)
    return (num / den if den else 0.0), no_twin
