"""Per-layer metrics from the traced operations of one run, the
self-time table, and the span dump written at exit."""

from __future__ import annotations

import json
import os
import statistics
import sys

from tracing import OpTrace, self_times

# self-time layers, in the order the table prints them
SELF_LAYERS = (
    "dialect.translate",
    "engine.sql",
    "write",
    "write.stages",
    "engine.sql.stages",
    "queries.build",
    "queries.build_jobs",
    "catalyst.analysis",
    "catalyst.optimization",
    "catalyst.planning",
    "exec",
    "exec.stages",
    "harness.gap",
)
COVERAGE_TOLERANCE = 0.05


def _span_ms(tr: OpTrace, name: str) -> float:
    return sum(s.ms for s in tr.spans if s.name == name)


def _child_ms(tr: OpTrace, parent: str, child: str) -> float:
    idx = {i for i, s in enumerate(tr.spans) if s.name == parent}
    return sum(s.ms for s in tr.spans if s.name == child and s.parent in idx)


def coverage_error(tr: OpTrace, selfs: dict[str, float]) -> float:
    """|wall − Σ layer self times| / wall, with no layer below zero and the
    unattributed gap left out: both overlap and missing time count."""
    wall = tr.spans[0].ms
    layers = sum(max(v, 0.0) for k, v in selfs.items() if k != "harness.gap")
    return abs(wall - layers) / wall if wall > 0 else 0.0


def per_layer(runner, traces: list[OpTrace], walls, receipt) -> dict[str, tuple[float, str]]:
    n = max(len(traces), 1)
    cores = receipt["nproc"]

    def total(key: str) -> float:
        return sum(tr.counters.get(key, 0.0) for tr in traces)

    def per_op(value: float) -> float:
        return value / n

    spans = lambda name: sum(_span_ms(tr, name) for tr in traces)  # noqa: E731
    selfs = [self_times(tr) for tr in traces]
    errors = [coverage_error(tr, s) for tr, s in zip(traces, selfs)]
    stage_ms = sum(total(f"{k}.union_ms") for k in ("exec.stages", "write.stages", "engine.sql.stages", "queries.build_jobs"))
    exec_layers = ("exec.stages", "write.stages", "engine.sql.stages")
    plain, traced = _paired_medians(walls)
    m = {
        "session.start_ms": (runner.session_ms, "ms"),
        "engine.register_ms": (runner.register_ms, "ms"),
        "dialect.translate_ms": (per_op(spans("dialect.translate")), "ms"),
        "dialect.calls": (per_op(total("dialect.calls")), "count"),
        "engine.sql_ms": (
            per_op(sum(_span_ms(tr, "engine.sql") - _child_ms(tr, "engine.sql", "dialect.translate") for tr in traces)),
            "ms",
        ),
        "queries.build_ms": (per_op(spans("queries.build")), "ms"),
        "queries.py4j_calls": (per_op(total("queries.build.py4j_calls")), "count"),
        "queries.build_jobs": (per_op(total("queries.build_jobs.jobs")), "count"),
        "queries.build_job_ms": (per_op(total("queries.build_jobs.union_ms")), "ms"),
        "catalyst.analysis_ms": (per_op(spans("catalyst.analysis")), "ms"),
        "catalyst.optimization_ms": (per_op(spans("catalyst.optimization")), "ms"),
        "catalyst.planning_ms": (per_op(spans("catalyst.planning")), "ms"),
        "exec.wall_ms": (per_op(spans("exec")), "ms"),
        "exec.stage_wall_ms": (per_op(total("exec.stages.union_ms")), "ms"),
        "exec.offstage_ms": (per_op(sum(s.get("exec", 0.0) for s in selfs)), "ms"),
        "exec.jobs": (per_op(sum(total(f"{k}.jobs") for k in exec_layers)), "count"),
        "exec.stages": (per_op(sum(total(f"{k}.stages") for k in exec_layers)), "count"),
        "exec.tasks": (per_op(sum(total(f"{k}.tasks") for k in exec_layers)), "count"),
        "exec.task_run_ms": (per_op(total("task_run_ms")), "ms"),
        "exec.task_cpu_ms": (per_op(total("task_cpu_ms")), "ms"),
        "exec.gc_ms": (per_op(total("gc_ms")), "ms"),
        "exec.core_busy_ratio": (total("task_run_ms") / (stage_ms * cores) if stage_ms else 0.0, "ratio"),
        "exec.spill_bytes": (per_op(total("spill_bytes")), "bytes"),
        "scan.input_bytes": (per_op(total("input_bytes")), "bytes"),
        "scan.input_rows": (per_op(total("input_rows")), "count"),
        "scan.rows_per_output_row": (total("input_rows") / max(total("out_rows"), 1.0), "ratio"),
        "shuffle.write_bytes": (per_op(total("shuffle_write_bytes")), "bytes"),
        "shuffle.read_bytes": (per_op(total("shuffle_read_bytes")), "bytes"),
        "write.ms": (
            per_op(sum(_span_ms(tr, "write") - _child_ms(tr, "write", "dialect.translate") for tr in traces)),
            "ms",
        ),
        "write.output_bytes": (per_op(total("write_bytes")), "bytes"),
        "write.files": (per_op(total("write_files")), "count"),
        "exec.failed_tasks": (per_op(total("failed_tasks")), "count"),
        "exec.log_errors": (per_op(total("log_errors")), "count"),
        "harness.trace_overhead_pct": (100.0 * (traced / plain - 1.0) if plain else 0.0, "%"),
        "harness.steal_pct": (receipt["steal_pct"] or 0.0, "%"),
        "harness.load_avg": (receipt["load_avg_before"], "load"),
        "harness.unaccounted_pct": (100.0 * statistics.median(errors) if errors else 0.0, "%"),
        "harness.ops_over_5pct": (float(sum(e > COVERAGE_TOLERANCE for e in errors)), "count"),
    }
    _print_table(traces, selfs, errors)
    return m


def _paired_medians(walls) -> tuple[float, float]:
    """Σ over operations run both ways of the median untraced and the
    median traced wall (ms), so the comparison holds the mix fixed."""
    by = {k: {} for k in walls}
    for kind, rows in walls.items():
        for name, ms in rows:
            by[kind].setdefault(name, []).append(ms)
    both = by["plain"].keys() & by["traced"].keys()
    return (
        sum(statistics.median(by["plain"][k]) for k in both),
        sum(statistics.median(by["traced"][k]) for k in both),
    )


def _print_table(traces, selfs, errors) -> None:
    n = max(len(traces), 1)
    wall = sum(tr.spans[0].ms for tr in traces) / n
    print(f"# per-layer self time, mean per traced operation (n={len(traces)}, wall {wall:.1f} ms)", file=sys.stderr)
    for layer in SELF_LAYERS:
        v = sum(s.get(layer, 0.0) for s in selfs) / n
        print(f"#   {layer:<24} {v:9.2f} ms  {100.0 * v / wall if wall else 0:5.1f}%", file=sys.stderr)
    bad = [(tr.name, e) for tr, e in zip(traces, errors) if e > COVERAGE_TOLERANCE]
    for name, e in bad:
        print(f"#   outside: {name} ({100 * e:.1f}%)", file=sys.stderr)
    print(
        f"trace accounting: layer self times within {COVERAGE_TOLERANCE:.0%} of wall for "
        f"{len(traces) - len(bad)}/{len(traces)} operations: {'NOT met' if bad else 'met'}"
    )


def write_trace(root: str, args, traces, metrics, receipt) -> str:
    """Dump every span and the per-layer metrics under .perfbench/traces."""
    out_dir = os.path.join(root, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "receipt": receipt,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "operations": [
                    {
                        "op": tr.op,
                        "name": tr.name,
                        "self_ms": self_times(tr),
                        "counters": tr.counters,
                        "spans": [
                            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
                            for s in tr.spans
                        ],
                    }
                    for tr in traces
                ],
            },
            f,
        )
    print(f"# spans written to {os.path.relpath(path, root)}", file=sys.stderr)
    return path
