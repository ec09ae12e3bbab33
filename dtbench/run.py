"""Benchmark of record for the decision-tree trainer and predictor.

Usage (from the repository root)::

    python3 dtbench/run.py --workload dt_train --seed 1 --seconds 15 --trace 0

One client runs one operation at a time (a closed loop) on
``local[nproc]`` for ``--seconds`` seconds, and at least
``MIN_OPS`` operations so the tail percentile exists.  Inputs are made
from ``--seed`` by ``dtbench/gen.py`` in a separate process and cached
under ``dtbench/_work/inputs``; the program sees only their parquet.

Set-up is session start (a fresh JVM) plus the workload's set-up plus
its warm-up operations, enough for the JIT to settle; timing starts
after it.  Input generation is not part of set-up.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s``: set-up time;
* ``peak_rss_mb``: peak resident memory of the JVM plus this process;
* ``op_s.p50``, ``op_s.tail``: operation wall time, median and the
  highest percentile with ten samples beyond it (the record names it);
* ``rows_per_s``: input rows of successful operations per second of
  their wall time.

``--trace 1`` alternates traced and untraced operations and prints the
per-layer metrics (see ``report.LAYERS``) plus the tracing overhead,
median traced minus median untraced operation wall.

The last line of standard output is the JSON result; the full record
(environment stamp, failures, spans when traced) is written to
``dtbench/_work/records``.  Operations that raise or fail a check count
in ``failed``.  The run exits non-zero without a result if the program
or a set-up step fails.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PROGRAM = "decision_tree_analytics_spark"
WORKLOAD_NAMES = ("dt_train", "dt_score")
MIN_OPS = 11
KEEP_INPUTS = 3
DRIVER_MEM_CAP_MB = 2048

sys.path.insert(0, ROOT)


def program_present() -> bool:
    spec = importlib.util.find_spec(PROGRAM)
    return spec is not None and os.path.dirname(os.path.dirname(spec.origin)) == ROOT


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def program_digest() -> str:
    h = hashlib.sha256()
    base = os.path.join(ROOT, PROGRAM)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def configure(run_dir: str) -> dict:
    """Session settings taken from the machine, exported for
    ``get_spark`` and the JVM it launches."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = min(DRIVER_MEM_CAP_MB, phys_mb // 4)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # A fixed, pre-touched heap: peak RSS then shows the heap size plus
    # what the program adds off-heap and in Python, not how far the
    # collector happened to grow the heap in this run.
    java_opts = f"-Xms{mem_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
            # Python workers import the program too.
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark"),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    "--driver-java-options",
                    shlex.quote(java_opts),
                    "pyspark-shell",
                ]
            ),
        }
    )
    return {"nproc": cpus, "driver_memory_mb": mem_mb, "phys_mem_mb": phys_mb}


def make_inputs(workload, seed: int) -> tuple[dict[str, str], dict[str, str]]:
    """Generate (or reuse) the seeded tables in a child process, so the
    generator's memory never shows in this process's peak."""
    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    paths, tags = {}, {}
    for role, (kind, s, rows) in workload.inputs(seed).items():
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--cache", cache,
             "--kind", kind, "--seed", str(s), "--rows", str(rows)],
            check=True, capture_output=True, text=True, timeout=170,
        )
        paths[role] = out.stdout.strip().splitlines()[-1]
        tags[role] = os.path.basename(paths[role])
    from dtbench import gen

    gen.evict(cache, KEEP_INPUTS)
    return paths, tags


def start_session(app: str):
    from decision_tree_analytics_spark.session import get_spark

    spark = get_spark(app_name=app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans())


def planning_ms(dfs) -> float:
    """Analysis, optimisation and planning time of the materialised
    DataFrames, read from each one's own QueryPlanningTracker."""
    total = 0
    for df in dfs:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            total += it.next()._2().durationMs()
    return total


def run(args) -> int:
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()

    from dtbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload]()
    paths, input_tags = make_inputs(workload, args.seed)
    machine = configure(run_dir)
    os.chdir(run_dir)  # anything Spark writes relative to the cwd stays here

    from dtbench import report, trace
    from dtbench.workloads import CheckFailed, Context

    tracer = trace.Tracer()
    saved = trace.instrument(tracer) if args.trace else []
    model_root = os.path.join(run_dir, "models")
    spark = None
    ops: list[dict] = []
    extras: dict[str, dict] = {}
    try:
        tracer.enabled = bool(args.trace)
        tracer.op = "setup"
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = start_session(f"dtbench-{args.workload}")
        tracer.attach(spark)
        ctx = Context(spark, tracer, model_root)
        with tracer.span("op", job_group=True):
            workload.setup(ctx, paths)
        tracer.collect_spark()
        for w in range(workload.warmup_ops):
            tracer.op = f"warm{w}"
            with tracer.span("op", job_group=True):
                workload.op(ctx)
            tracer.collect_spark()
        setup_s = time.perf_counter() - t0
        tracer.enabled = False

        t_start = time.perf_counter()
        hard_stop = 2 * args.seconds + 30
        while True:
            elapsed = time.perf_counter() - t_start
            if elapsed >= args.seconds and (len(ops) >= MIN_OPS or elapsed >= hard_stop):
                break
            traced = bool(args.trace) and len(ops) % 2 == 0
            op_id = f"op{len(ops)}"
            tracer.op, tracer.enabled = op_id, traced
            ctx.materialised = []
            gc0 = jvm_gc_ms(spark) if traced else 0
            error = None
            t0 = time.perf_counter()
            try:
                with tracer.span("op", job_group=True):
                    rows = workload.op(ctx)
            except CheckFailed as e:
                error = f"check failed: {e}"
            except Exception:  # noqa: BLE001 - any failing operation is counted, not fatal
                error = traceback.format_exc(limit=3)
            wall = time.perf_counter() - t0
            tracer.enabled = False
            if traced:
                tracer.collect_spark()
                extras[op_id] = {
                    "gc_ms": jvm_gc_ms(spark) - gc0,
                    "planning_ms": planning_ms(ctx.materialised),
                }
            ops.append(
                {"op": op_id, "wall_s": wall, "traced": traced,
                 "rows": 0 if error else rows, "error": error}
            )

        peak_rss_mb = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb("self")
        env = {
            **machine,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "load1_start": load_start,
            "load1_end": os.getloadavg()[0],
            "steal_share": steal_share(cpu_start, cpu_times()),
            "inputs": input_tags,
            "git_head": git_head(),
            "program_digest": program_digest(),
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        }
    finally:
        trace.restore(saved)
        tracer.py4j.detach()
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for o in ops if o["error"])
    good = [o for o in ops if not o["error"]]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "setup_s": setup_s,
        "ops": ops,
        "fail_ratio": failed / len(ops),
    }
    if args.trace:
        timed = [o for o in good if o["traced"]]
        untraced = [o for o in good if not o["traced"]]
        by_op = report.per_op(tracer.spans, extras)
        metrics = report.layer_metrics(
            by_op,
            [o["op"] for o in timed],
            ["setup"],
            machine["nproc"],
        )
        metrics.update(
            report.overhead_metrics(
                [o["wall_s"] for o in timed], [o["wall_s"] for o in untraced]
            )
        )
        record["spans"] = tracer.to_json()
    else:
        walls = [o["wall_s"] for o in good]
        metrics, detail = report.end_to_end(
            setup_s, walls, sum(o["rows"] for o in good), peak_rss_mb
        )
        record.update(detail)
    record["metrics"] = metrics

    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    with open(
        os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as fh:
        json.dump(record, fh, indent=1)

    print(
        f"dtbench {args.workload} seed={args.seed} trace={args.trace} "
        f"ops={len(ops)} failed={failed} fail_ratio={record['fail_ratio']:.4f}"
    )
    for o in ops:
        if o["error"]:
            print(f"  {o['op']} FAILED: {o['error'].strip()}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        print(
            f"  (tail = p{record['tail_percentile']} of {record['op_samples']} ops)"
        )
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps(report.result_line(metrics, len(ops), failed, failed == 0)))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(f"dtbench: the {PROGRAM} package is not next to dtbench/", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
