"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's own files: ``instrument``
wraps the public functions of each program module in place, and the
workloads open spans around the calls they make themselves.  A span is
(name, start, end, parent, op); spans live in memory and are written
out once, when the run ends.

Spans that start Spark jobs also set a job group unique to the span,
so the status store can attribute jobs, stages, tasks and their
metrics to it after the operation completes.  Python-to-JVM calls are
counted by wrapping the py4j client of the live session.
"""

from __future__ import annotations

import functools
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    py4j_calls: int = 0
    group: str | None = None
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


GROUP_KEY = "spark.jobGroup.id"

# Per-stage fields summed per job group, with the name each is
# reported under.  ``inputBytes`` is the stage input metric as Spark
# reports it: reads of cached blocks count in full, while the parquet
# scans here report tens of KB for files of about 100 MB.
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


def group_counters(spark, group: str) -> dict:
    """Jobs, stages and summed stage metrics of one job group, read from
    the status store once the listener bus has drained."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
    seen: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        ids = store.job(job_id).stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, attr in STAGE_FIELDS.items():
                out[key] += getattr(stage, attr)()
    return out


class Py4JCounter:
    """Counts commands sent over the py4j client of one session."""

    def __init__(self) -> None:
        self.count = 0
        self._client = None
        self._orig = None

    def attach(self, spark) -> None:
        self.detach()
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*args, **kwargs):
            self.count += 1
            return orig(*args, **kwargs)

        client.send_command = send_command
        self._client, self._orig = client, orig

    def detach(self) -> None:
        if self._client is not None:
            self._client.send_command = self._orig
            self._client = None


class Tracer:
    """In-memory span recorder.  While ``enabled`` is false every span
    is a no-op, so untraced operations pay only the flag test."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.py4j = Py4JCounter()
        self.spark = None
        self.op = ""
        self._stack: list[int] = []

    def attach(self, spark) -> None:
        self.spark = spark
        self.py4j.attach(spark)

    def span(self, name: str, job_group: bool = False):
        return _SpanContext(self, name, job_group)

    def wrap(self, fn, name: str, job_group: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, job_group):
                return fn(*args, **kwargs)

        return traced

    def collect_spark(self) -> None:
        """Attach status-store counters to this op's job-group spans."""
        for s in self.spans:
            if s.op == self.op and s.group is not None and not s.spark:
                s.spark = group_counters(self.spark, s.group)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, job_group: bool) -> None:
        self.tracer, self.name, self.job_group = tracer, name, job_group

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            self.index = None
            return self
        sc = t.spark.sparkContext if (self.job_group and t.spark) else None
        group = None
        if sc is not None:
            self.prev_group = sc.getLocalProperty(GROUP_KEY)
            group = f"{self.name}#{len(t.spans)}"
            sc.setJobGroup(group, self.name)
        parent = t._stack[-1] if t._stack else None
        self.index = len(t.spans)
        t.spans.append(Span(self.name, 0.0, 0.0, parent, t.op, group=group))
        t._stack.append(self.index)
        self.calls0 = t.py4j.count
        t.spans[self.index].start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.index is None:
            return False
        t = self.tracer
        span = t.spans[self.index]
        span.end = time.perf_counter()
        span.py4j_calls = t.py4j.count - self.calls0
        t._stack.pop()
        if span.group is not None:
            t.spark.sparkContext.setLocalProperty(GROUP_KEY, self.prev_group)
        return False


def instrument(tracer: Tracer) -> list:
    """Wrap the program's public module functions in spans.  Returns
    the (owner, attribute, original) triples ``restore`` puts back."""
    from pyspark.ml.regression import DecisionTreeRegressor

    from decision_tree_analytics_spark import config, pipeline
    from decision_tree_analytics_spark.ml import predictor, registry, trainer

    targets = [
        (config.TrainerConfig, "validate", "config.validate", False),
        (config.PredictorConfig, "validate", "config.validate", False),
        (trainer, "assemble_features", "ml.features.assemble", False),
        (predictor, "assemble_features", "ml.features.assemble", False),
        (pipeline.Pipeline, "run", "pipeline.run", False),
        (trainer.DecisionTreeTrainerStage, "run", "ml.trainer.run", True),
        (DecisionTreeRegressor, "fit", "ml.trainer.fit", False),
        (predictor.DecisionTreePredictorStage, "__init__", "ml.predictor.load", True),
        (predictor.DecisionTreePredictorStage, "transform", "ml.predictor.transform", False),
        (registry, "resolve_version", "ml.registry.resolve", False),
    ]
    saved = []
    for owner, attr, name, job_group in targets:
        # None marks an inherited attribute, which restore deletes.
        saved.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, tracer.wrap(getattr(owner, attr), name, job_group))
    return saved


def restore(saved: list) -> None:
    for owner, attr, orig in reversed(saved):
        if orig is None:
            delattr(owner, attr)
        else:
            setattr(owner, attr, orig)
