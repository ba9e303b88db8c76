"""Repository benchmark: one closed-loop client per process on
``local[$(nproc)]``.

    python3 perfbench/run.py --workload funnel_report --seed 1 --seconds 10 --trace 0

Run from the repository root. The process starts a Spark session through
``session.get_spark``, warms it up, generates the workload's inputs from
``--seed`` (several times, to time set-up), runs the workload's untimed
warm-up operations, then runs passes of the workload's operations one
after another until ``--seconds`` have been measured. Every operation's output is checked; a
wrong or failed operation counts in ``failed`` and is named on stderr and
in the summary line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
public functions of the engine's modules in spans, alternates traced and
untraced passes, reports per-layer metrics from the traced passes and
writes the spans to ``.perfbench/spans-<workload>-<seed>.jsonl``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name → value and unit). The line before it
is a human-readable summary with the run conditions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "funnel_report_etl_pipeline__spark"
OPERATOR_MODULES = (
    "dedup", "dedup_index", "ann_index", "similarity", "text", "curation", "asof", "multimodal",
)
SETUP_REPEATS = 3
# The end-to-end metric each layer's metrics should move, and where.
SHOULD_MOVE = {
    "session": "setup_s on every workload",
    "plans": "pass_s and op_geomean_s on pipeline_versioned; no change on funnel_report",
    "spark": "pass_s on funnel_report and pipeline_versioned; spark.gc_s also retained_heap_mb",
    **{m: "nothing: no workload runs this module" for m in OPERATOR_MODULES},
    "dedup": "pass_s on pipeline_versioned; no change on funnel_report",
    "readers": "pass_s and input_rows_per_s on funnel_report",
    "funnel": "pass_s on funnel_report",
    "report": "pass_s on funnel_report; grows with entity count",
    "cli": "pass_s on funnel_report",
    "sinks": "pass_s on pipeline_versioned (commit time against read time, and space_amp)",
    "trace": "nothing: the cost and coverage of the tracing itself",
}
_MB = 1024 * 1024


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Per-process state: fresh index/refresh/versioned roots and Spark
    scratch space inside ``work``; the repository root importable by
    Spark's Python workers."""
    for var, sub in (("SPARK_GRAFT_INDEX_DIR", "index"), ("SPARK_GRAFT_REFRESH_DIR", "refresh"),
                     ("SPARK_GRAFT_VERSIONED_DIR", "versioned"), ("SPARK_LOCAL_DIRS", "spark-local"),
                     ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> files from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-memory 1g --driver-java-options "
        f"'-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}' pyspark-shell"
    )


def install_spans(tracer) -> None:
    """Wrap the public functions of the traced modules in spans. Runs
    before the CLI and the query plans are imported, so the names they
    import are the wrapped ones."""
    import importlib
    import inspect

    from pyspark.sql.classic.dataframe import DataFrame

    ops_pkg = importlib.import_module(f"{PACKAGE}.operators")
    targets = [(f"operators.{m}", m) for m in OPERATOR_MODULES] + [
        ("operators.funnel", "funnel"), ("sources.readers", "readers"), ("report", "report"),
    ]
    for path, layer in targets:
        mod = importlib.import_module(f"{PACKAGE}.{path}")
        for name, fn in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            wrapped = tracer.wrap(layer, fn)
            setattr(mod, name, wrapped)
            if getattr(ops_pkg, name, None) is fn:
                setattr(ops_pkg, name, wrapped)
    readers = importlib.import_module(f"{PACKAGE}.sources.readers")
    existing_paths = readers._existing_paths

    def traced_existing_paths(spark, paths):
        # the CSV files read_funnel_csv resolved, counted on its span
        found = existing_paths(spark, paths)
        tracer.note("files", len(found))
        return found

    readers._existing_paths = traced_existing_paths
    cli = importlib.import_module(f"{PACKAGE}.cli")
    cli.run = tracer.wrap("cli", cli.run)
    collect = DataFrame.collect

    def traced_collect(self):
        # the CLI's own collect of the all-entity metrics frame
        if tracer.innermost_layer() == "cli":
            with tracer.span("spark", "spark.collect"):
                return collect(self)
        return collect(self)

    DataFrame.collect = traced_collect


def heap_used_mb(spark) -> float:
    """JVM heap in use right after a full collection (the heap pools'
    collection usage, so nothing allocated after the collection counts).
    Run after ``release_all_caches``, which already collected once: blocks
    the Spark context cleaner released on that collection go on this one."""
    jvm = spark._jvm
    jvm.System.gc()
    used = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        after_gc = pool.getCollectionUsage()
        if pool.getType().toString() == "Heap memory" and after_gc is not None:
            used += after_gc.getUsed()
    return used / _MB


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time by state, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of machine CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        return ref[5:]
    return ref


class Runner:
    """Runs operations, times them, checks them, keeps the samples."""

    def __init__(self, spark, tracer, release):
        self.spark, self.tracer, self.release = spark, tracer, release
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.warmup_op_s: dict[str, list[float]] = {}
        self.heap_mb: list[float] = []

    def run_pass(self, ops, pass_no: int, record: bool) -> float:
        """Run one pass; returns the sum of its operations' latencies."""
        total = 0.0
        for op in ops:
            op.before()
            self.tracer.pass_no = pass_no
            err, result = None, None
            t0 = time.perf_counter()
            try:
                with self.tracer.op(op.name, op.kind):
                    result = op.run()
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                err = f"{type(e).__name__}: {str(e)[:300]}"
            dt = time.perf_counter() - t0
            total += dt
            if err is None:
                try:
                    err = op.check(result)
                except Exception as e:  # noqa: BLE001 — a check that raises is a wrong result
                    err = f"check raised {type(e).__name__}: {str(e)[:300]}"
            counters = op.after()
            del result
            self.tracer.settle()
            gc.collect()  # drops py4j proxies, so the JVM can free what they pin
            traced, self.tracer.enabled = self.tracer.enabled, False
            self.release(self.spark)  # outside the timed region, never traced
            self.tracer.enabled = traced
            if not record:
                self.warmup_op_s.setdefault(op.name, []).append(round(dt, 3))
                if err:
                    print(f"perfbench: warm-up {op.name} failed: {err}", file=sys.stderr)
                continue
            self.heap_mb.append(heap_used_mb(self.spark))
            self.samples.append({"pass": pass_no, "op": op.name, "kind": op.kind, "s": dt,
                                 "ok": err is None, "traced": self.tracer.enabled, **counters})
            if err:
                self.failures.append(f"{op.name}: {err}")
                print(f"perfbench: {op.name} failed: {err}", file=sys.stderr)
        return total


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(samples: list[dict], pass_times: list[float], input_rows: int) -> dict:
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["s"])
    lat = sorted(s["s"] for s in samples)
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0]
    pass_s = statistics.median(pass_times)
    return {
        "pass_s": pass_s,
        "op_geomean_s": math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_op.values())),
        "op_p90_s": p90,
        "op_p90_samples": len(lat),
        "op_p90_samples_above": sum(1 for x in lat if x > p90),
        "input_rows": input_rows,
        "input_rows_per_s": input_rows / pass_s,
        "error_rate": sum(1 for s in samples if not s["ok"]) / len(samples),
        "op_median_s": {k: statistics.median(v) for k, v in sorted(by_op.items())},
    }


def layer_metrics(spans: list[dict], samples: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass (``spans`` and ``samples`` of
    that pass only)."""
    from perfbench.trace import self_time, stage_totals, subtree

    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731

    def outermost(layer: str) -> list[dict]:
        out = []
        for s in spans:
            if s["layer"] != layer:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["layer"] != layer:
                p = by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def tree(roots: list[dict]) -> list[dict]:
        return [x for r in roots for x in subtree(spans, r)]

    m: dict[str, float] = {}
    plans = outermost("plans")
    m["plans.construct_s"] = sum(map(dur, plans))
    m["plans.construct_jobs"] = stage_totals(tree(plans))["jobs"]

    collects = outermost("spark")
    st = stage_totals(collects)
    m["spark.collect_s"] = sum(map(dur, collects))
    for k in ("jobs", "stages", "tasks", "task_s"):
        m[f"spark.{k}"] = st[k]
    m["spark.core_util"] = st["task_s"] / (m["spark.collect_s"] * cores) if collects else 0.0
    for k in ("gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "peak_exec_mem_mb"):
        m[f"spark.{k}"] = st[k]

    for mod in OPERATOR_MODULES:
        roots = outermost(mod)
        m[f"{mod}.construct_s"] = sum(map(dur, roots))
        m[f"{mod}.eager_jobs"] = stage_totals(tree(roots))["jobs"]

    readers = [s for s in outermost("readers") if s["name"] == "readers.read_funnel_csv"]
    m["readers.resolve_s"] = sum(map(dur, readers))
    m["readers.files"] = sum(s.get("files", 0) for s in readers)
    # the CSV scans are the only stages of a cli.run that read input
    clis = outermost("cli")
    scans = stage_totals(tree(clis))
    m["readers.input_mb"] = scans["input_mb"]
    m["readers.rows"] = scans["input_rows"]

    agg = outermost("funnel") + [s for s in collects if by_id.get(s["parent"], {}).get("layer") == "cli"]
    fst = stage_totals(tree(agg))
    m["funnel.aggregate_s"] = sum(map(dur, agg))
    m["funnel.jobs"] = fst["jobs"]
    m["funnel.shuffle_mb"] = fst["shuffle_read_mb"]

    m["report.write_s"] = sum(dur(s) for s in outermost("report") if s["name"].endswith("write_funnel_report"))
    m["report.files"] = sum(s.get("report_files", 0) for s in samples)
    m["report.bytes"] = sum(s.get("report_bytes", 0) for s in samples)
    m["cli.self_s"] = sum(self_time(s, kids.get(s["id"], [])) for s in clis)

    ops = [s for s in spans if s["layer"] == "op"]
    for kind, key in (("commit", "commit"), ("read", "read"), ("changes", "changes")):
        these = [s for s in ops if s["kind"] == kind]
        m[f"sinks.{key}_s"] = sum(map(dur, these))
        m[f"sinks.{key}_jobs"] = stage_totals(tree(these))["jobs"]
    m["sinks.maintenance_s"] = sum(dur(s) for s in ops if s["kind"] == "maintenance")
    m["sinks.bytes_written_mb"] = sum(s.get("bytes_written", 0) for s in samples) / _MB
    m["sinks.files_written"] = sum(s.get("files_written", 0) for s in samples)
    m["sinks.space_amp"] = max((s.get("space_amp", 0.0) for s in samples), default=0.0)

    m["trace.spans"] = len(spans)
    m["trace.uncovered_s"] = sum(self_time(s, kids.get(s["id"], [])) for s in ops)
    return m


# End-to-end metrics BENCHMARK.json cannot gate, printed with their units
# in the summary line: every workload must report every gated metric and
# none may read 0, but write_s, read_s and space_amp exist on
# pipeline_versioned only, error_rate is 0 on a correct run (the result
# line's failed/attempted carries it), and op_p90_s has too few samples
# per run.
WORKLOAD_ONLY_UNITS = {"write_s": "s", "read_s": "s", "space_amp": "ratio",
                       "error_rate": "ratio", "op_p90_s": "s"}


def metric_units(section: str) -> dict[str, str]:
    """Name → unit of the metrics BENCHMARK.json lists in ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {x["name"]: x["unit"] for x in json.load(f)[section]}


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.exists(
        os.path.join(ROOT, "tools", "driver_sim.py")
    ):
        print(f"perfbench: {PACKAGE}/ or tools/driver_sim.py not found under {ROOT}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    args = parse_args(argv)
    load_start = os.getloadavg()
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    import numpy as np

    tracer = Tracer(enabled=False)  # switched on for traced passes only
    if args.trace:
        install_spans(tracer)
    from funnel_report_etl_pipeline__spark.session import get_spark, release_all_caches

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        tracer.attach(spark)
        start_s = time.perf_counter() - t0

        cls = WORKLOADS[args.workload]
        wl = cls(spark, work, args.seed, tracer, ROOT)
        prep = []
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare(k)
            prep.append(time.perf_counter() - t0)

        runner = Runner(spark, tracer, release_all_caches)
        rng = np.random.default_rng(args.seed)
        t0 = time.perf_counter()
        runner.run_pass(list(wl.warmup_ops(rng)), -1, record=False)
        warm_pass_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START - sum(prep) + statistics.median(prep)

        pass_times: dict[bool, list[float]] = {True: [], False: []}
        t_measure = time.perf_counter()
        ticks0 = cpu_ticks()
        n = 0
        while (time.perf_counter() - t_measure < args.seconds
               or (args.trace and (not pass_times[True] or not pass_times[False]))):
            if args.trace:
                tracer.enabled = n % 2 == 0
            pass_times[tracer.enabled].append(runner.run_pass(list(wl.pass_ops(rng)), n, record=True))
            n += 1
        measured_s = time.perf_counter() - t_measure
        steal = steal_share(ticks0, cpu_ticks())
        tracer.enabled = False

        samples = runner.samples
        untraced = [s for s in samples if not s["traced"]]
        e2e = end_to_end(untraced or samples, pass_times[False] or pass_times[True], wl.input_rows)
        e2e["setup_s"] = setup_s
        e2e["retained_heap_mb"] = max(runner.heap_mb)
        for kind, key in (("commit", "write_s"), ("read", "read_s")):
            lat = [s["s"] for s in untraced if s["kind"] == kind]
            if lat:
                e2e[key] = statistics.median(lat)
        amps = [s["space_amp"] for s in samples if "space_amp" in s]
        if amps:
            e2e["space_amp"] = statistics.median(amps)

        conditions = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "passes": n, "measured_s": round(measured_s, 3),
            "pass_times_s": [round(x, 3) for x in pass_times[False] + pass_times[True]],
            "heap_mb": [round(x, 1) for x in runner.heap_mb],
            "session_start_s": round(start_s, 3), "warmup_pass_s": round(warm_pass_s, 3),
            "setup_repeats_s": [round(x, 3) for x in prep], "warmup_op_s": runner.warmup_op_s,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_share_measured": round(steal, 4),
            "nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version, "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "git_commit": git_commit(),
            "closed_loop_clients": 1,
        }
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        if args.trace:
            traced_passes = sorted({s["pass"] for s in tracer.spans})
            per_pass = [
                layer_metrics([s for s in tracer.spans if s["pass"] == p],
                              [s for s in samples if s["pass"] == p], cores)
                for p in traced_passes
            ]
            layers = {k: statistics.median(pm[k] for pm in per_pass) for k in per_pass[0]}
            layers["session.start_s"] = start_s
            layers["session.warmup_s"] = warm_pass_s
            layers["trace.overhead_s"] = median_or_zero(pass_times[True]) - median_or_zero(pass_times[False])
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"),
                        {"conditions": conditions, "layers": layers})
            metrics = {k: {"value": layers[k], "unit": u} for k, u in metric_units("per_layer").items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in metric_units("end_to_end").items()}
        summary = {
            "conditions": conditions, "end_to_end": e2e, "failures": runner.failures,
            "workload_only": {k: {"value": e2e[k], "unit": u}
                              for k, u in WORKLOAD_ONLY_UNITS.items() if k in e2e},
        }
        if args.trace:
            summary["should_move"] = SHOULD_MOVE
        print("perfbench summary: " + json.dumps(summary, default=str))
        failed = sum(1 for s in samples if not s["ok"])
        print(json.dumps({"correct": failed == 0, "attempted": len(samples), "failed": failed,
                          "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    raise SystemExit(main())
