"""Turns measured operations and spans into the metrics of the record.

End-to-end metrics come from the untraced run, per-layer metrics from
the traced one; both sets are named in ``BENCHMARK.json``.  A per-layer
value is the median, over traced timed operations, of the per-operation
total; a layer that no timed operation touches (the trainer on
``dt_score``) is read from the set-up operations instead.
"""

from __future__ import annotations

from collections.abc import Callable

from dtbench import stats
from dtbench.trace import Span, self_times

# Spans whose job group runs the operation's Spark work.
EXEC_SPANS = ("ml.trainer.run", "ml.predictor.load", "ml.predictor.exec")
PREDICTOR_SPANS = ("ml.predictor.load", "ml.predictor.transform", "ml.predictor.exec")


class OpSpans:
    """Per-operation totals over one operation's spans."""

    def __init__(self, spans: list[Span], selfs: list[float], extras: dict) -> None:
        self.spans = spans
        self.selfs = selfs
        self.extras = extras

    def has(self, *names: str) -> bool:
        return any(s.name in names for s in self.spans)

    def dur(self, *names: str) -> float:
        return sum(s.duration for s in self.spans if s.name in names)

    def self_time(self, name: str) -> float:
        return sum(t for s, t in zip(self.spans, self.selfs) if s.name == name)

    def py4j(self, *names: str) -> int:
        return sum(s.py4j_calls for s in self.spans if s.name in names)

    def spark(self, key: str, *names: str) -> int:
        """Sum of a status-store counter over the group spans named
        ``names``, or over every group span when none are named."""
        return sum(
            s.spark.get(key, 0)
            for s in self.spans
            if s.group is not None and (not names or s.name in names)
        )

    def sched_gap_ms(self, cores: int) -> float:
        """Wall of the spans that run Spark jobs minus their executor
        run time spread over the cores."""
        return sum(
            s.duration * 1000 - s.spark.get("executor_run_ms", 0) / cores
            for s in self.spans
            if s.name in EXEC_SPANS and s.group is not None
        )


def per_op(spans: list[Span], extras: dict[str, dict]) -> dict[str, OpSpans]:
    """Group a whole trace by operation id, with each span's self time."""
    selfs = self_times(spans)
    grouped: dict[str, tuple[list, list]] = {}
    for s, t in zip(spans, selfs):
        a, b = grouped.setdefault(s.op, ([], []))
        a.append(s)
        b.append(t)
    return {op: OpSpans(a, b, extras.get(op, {})) for op, (a, b) in grouped.items()}


# name -> (unit, spans that must be present, value of one operation).
# Which end-to-end metric each group should move, and where:
# * session.get_spark_s: setup_s on both workloads;
# * config.*, ml.features.*, pipeline.*: driver-side build, a small
#   share of op_s.* on both;
# * ml.trainer.*: op_s.* and rows_per_s on dt_train, setup_s only on
#   dt_score;
# * ml.predictor.exec_s, .tasks, .executor_run_ms and sources.*:
#   rows_per_s and op_s.p50 on dt_score;
# * ml.predictor.load_s, .transform_s, .jobs, .py4j_calls and
#   ml.registry.resolve_s: fixed per-call costs, op_s.* on dt_train;
# * spark.planning_ms and spark.sched_gap_ms: op_s.tail on both;
# * spark.gc_ms: peak_rss_mb and op_s.tail.
Layer = tuple[str, tuple[str, ...], Callable[[OpSpans, int], float]]
LAYERS: dict[str, Layer] = {
    "session.get_spark_s": ("s", ("session.get_spark",), lambda o, c: o.dur("session.get_spark")),
    "config.validate_s": ("s", ("config.validate",), lambda o, c: o.dur("config.validate")),
    "ml.features.assemble_s": (
        "s", ("ml.features.assemble",), lambda o, c: o.dur("ml.features.assemble")
    ),
    "pipeline.run_s": ("s", ("pipeline.run",), lambda o, c: o.dur("pipeline.run")),
    "pipeline.self_s": ("s", ("pipeline.run",), lambda o, c: o.self_time("pipeline.run")),
    "ml.trainer.run_s": ("s", ("ml.trainer.run",), lambda o, c: o.dur("ml.trainer.run")),
    "ml.trainer.fit_s": ("s", ("ml.trainer.fit",), lambda o, c: o.dur("ml.trainer.fit")),
    "ml.trainer.self_s": ("s", ("ml.trainer.run",), lambda o, c: o.self_time("ml.trainer.run")),
    "ml.trainer.jobs": ("count", ("ml.trainer.run",), lambda o, c: o.spark("jobs", "ml.trainer.run")),
    "ml.trainer.stages": (
        "count", ("ml.trainer.run",), lambda o, c: o.spark("stages", "ml.trainer.run")
    ),
    "ml.trainer.tasks": ("count", ("ml.trainer.run",), lambda o, c: o.spark("tasks", "ml.trainer.run")),
    "ml.trainer.executor_run_ms": (
        "ms", ("ml.trainer.run",), lambda o, c: o.spark("executor_run_ms", "ml.trainer.run")
    ),
    "ml.trainer.shuffle_write_bytes": (
        "bytes", ("ml.trainer.run",), lambda o, c: o.spark("shuffle_write_bytes", "ml.trainer.run")
    ),
    "ml.trainer.py4j_calls": ("count", ("ml.trainer.run",), lambda o, c: o.py4j("ml.trainer.run")),
    "ml.predictor.load_s": ("s", ("ml.predictor.load",), lambda o, c: o.dur("ml.predictor.load")),
    "ml.predictor.transform_s": (
        "s", ("ml.predictor.transform",), lambda o, c: o.dur("ml.predictor.transform")
    ),
    "ml.predictor.exec_s": ("s", ("ml.predictor.exec",), lambda o, c: o.dur("ml.predictor.exec")),
    "ml.predictor.jobs": ("count", PREDICTOR_SPANS, lambda o, c: o.spark("jobs", *PREDICTOR_SPANS)),
    "ml.predictor.tasks": (
        "count", ("ml.predictor.exec",), lambda o, c: o.spark("tasks", "ml.predictor.exec")
    ),
    "ml.predictor.executor_run_ms": (
        "ms", ("ml.predictor.exec",), lambda o, c: o.spark("executor_run_ms", "ml.predictor.exec")
    ),
    "ml.predictor.py4j_calls": ("count", PREDICTOR_SPANS, lambda o, c: o.py4j(*PREDICTOR_SPANS)),
    "ml.registry.resolve_s": (
        "s", ("ml.registry.resolve",), lambda o, c: o.dur("ml.registry.resolve")
    ),
    "sources.input_bytes": ("bytes", ("op",), lambda o, c: o.spark("input_bytes")),
    "sources.input_rows": ("count", ("op",), lambda o, c: o.spark("input_rows")),
    "spark.planning_ms": ("ms", ("op",), lambda o, c: o.extras["planning_ms"]),
    "spark.sched_gap_ms": ("ms", EXEC_SPANS, lambda o, c: o.sched_gap_ms(c)),
    "spark.gc_ms": ("ms", ("op",), lambda o, c: o.extras["gc_ms"]),
}


def layer_metrics(
    ops: dict[str, OpSpans], timed: list[str], setup: list[str], cores: int
) -> dict[str, dict]:
    """Median per-op value of every layer metric.  Timed operations are
    used where they touch the layer, the set-up operations otherwise."""
    out = {}
    for name, (unit, needs, value) in LAYERS.items():
        for ids in (timed, setup):
            hits = [ops[i] for i in ids if i in ops and ops[i].has(*needs)]
            if hits:
                out[name] = {"value": stats.median([value(o, cores) for o in hits]), "unit": unit}
                break
        else:
            raise ValueError(f"no traced operation touched layer {name}")
    return out


def overhead_metrics(traced_s: list[float], untraced_s: list[float]) -> dict[str, dict]:
    """Tracing overhead: median traced op wall minus median untraced."""
    base = stats.median(untraced_s)
    delta = stats.median(traced_s) - base
    return {
        "trace.overhead_ms": {"value": delta * 1000, "unit": "ms"},
        "trace.overhead_pct": {"value": 100 * delta / base, "unit": "%"},
    }


def end_to_end(
    setup_s: float, walls: list[float], rows: int, peak_rss_mb: float
) -> tuple[dict[str, dict], dict]:
    """End-to-end metrics of successful operations, plus the detail the
    record keeps beside them (tail percentile and sample counts)."""
    p, tail = stats.tail(walls)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "op_s.p50": {"value": stats.median(walls), "unit": "s"},
        "op_s.tail": {"value": tail, "unit": "s"},
        "rows_per_s": {"value": rows / sum(walls), "unit": "rows/s"},
    }
    detail = {"tail_percentile": p, "op_samples": len(walls)}
    return metrics, detail


def result_line(metrics: dict, attempted: int, failed: int, correct: bool) -> dict:
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
