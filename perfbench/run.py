"""Benchmark entry point: one cold, seeded run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository: it imports the
engine (``pyspark_mrdf_spark``) from there and writes only below
``.perfbench_work/`` (scratch, removed at exit) and
``.perfbench_results/records.jsonl`` (one full record per run).

A run starts a fresh SparkSession on ``local[N]`` (N = CPUs this process
may use), warms the Python workers, generates the inputs from the seed,
then times one pass of the workload. ``--seconds`` is accepted for the
command-line contract; the pass is a fixed amount of work, so every
build does the same work. After the timed window the outputs are
checked against an independent reference. With ``--trace 1`` every call into the engine's public
functions is wrapped in a span with its own Spark job group and the
Spark event log is parsed into per-layer metrics.

The second-to-last stdout line is the full record; the last line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WATCHDOG_S = 170
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "recall": "ratio",
    "peak_rss_mb": "MB",
}


class OpFailed(Exception):
    pass


def cpu_count() -> int:
    """What ``env -u OMP_NUM_THREADS nproc`` prints: CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of this process and of every process below it (the
    JVM and its Python workers), by ``pid:name``."""
    out = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def cpu_seconds() -> float:
    """User + system CPU seconds of this process and every process below
    it, including their reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


class Context:
    """What a workload's pass sees: the session, the tracer and the op
    recorder."""

    def __init__(self, spark, tracer, n_cpu: int, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.n_cpu = n_cpu
        self.trace = trace
        self.counts = tracer.counts
        self.ops: list[dict] = []
        self.check_failures: list[str] = []

    def op(self, kind: str, name: str, fn):
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # an engine failure is a measured outcome
            self.ops.append({"kind": kind, "name": name, "s": time.perf_counter() - t0, "ok": False})
            print(f"[perfbench] op {name} failed: {exc!r}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(name) from exc
        self.ops.append({"kind": kind, "name": name, "s": time.perf_counter() - t0, "ok": True})
        return result

    def run_query(self, spec, corpus: str) -> tuple[list[str], list[tuple]]:
        with self.tracer.span("queries.builder"):
            df = spec.builder(self.spark, corpus)
        with self.tracer.span("queries.action"):
            rows = [tuple(r) for r in df.collect()]
        if self.trace:
            self.counts["queries.planning_s"] += planning_seconds(df)
        return list(df.columns), rows

    def note_check(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.check_failures.append(f"{name}: {detail}" if detail else name)
            print(f"[perfbench] check {name} FAILED {detail}", file=sys.stderr)


def planning_seconds(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) the
    DataFrame's own QueryExecution recorded; ``collect`` runs on it."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


def spark_submit_args(work: str, trace: bool) -> str:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xms + AlwaysPreTouch: the heap (SPARK_DRIVER_MEMORY) is committed
        # and touched at start, so the JVM's peak RSS does not depend on GC
        # heuristics; -UsePerfData: no hsperfdata under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{DRIVER_MEMORY}"
            " -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def prepare_env(work: str, n_cpu: int, trace: bool) -> None:
    for d in ("local", "warehouse", "tmp", "eventlog", "inputs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(n_cpu)
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYSPARK_SUBMIT_ARGS"] = spark_submit_args(work, trace)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [ROOT, HERE]


def warm_workers(spark, n_cpu: int) -> None:
    """One task per core that imports the engine inside a Python worker:
    fails (never hangs) when the workers cannot see the package."""

    def probe(batches):
        import pyspark_mrdf_spark  # noqa: F401

        yield from batches

    spark.range(n_cpu * 4, numPartitions=n_cpu).mapInPandas(probe, "id long").count()


def jvm_heap_mb(spark) -> dict:
    """The JVM heap in MB: committed, the summed peak use of its memory
    pools (eden, survivor, old), and what stays live after a full
    collection. Call at the end of the timed window, while the
    workload's results are still referenced."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    pools = {
        pool.getName(): pool.getPeakUsage().getUsed() / 2**20
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    }
    jvm.java.lang.System.gc()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    return {"committed_mb": heap.getCommitted() / 2**20, "live_mb": heap.getUsed() / 2**20,
            "pool_peaks_mb": pools}


def jvm_start_s(spark) -> float:
    return spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getStartTime() / 1000.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still running: kill it
            proc.kill()
            proc.wait(timeout=10)


def previous_untraced_wall(results: str, workload: str) -> float | None:
    if not os.path.exists(results):
        return None
    walls = []
    with open(results, encoding="utf-8") as f:
        for line in f:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if rec.get("workload") == workload and not rec.get("trace") and rec.get("wall_s"):
                walls.append(rec["wall_s"])
    return statistics.median(walls) if walls else None


def run(args, work: str, t_proc: float) -> tuple[dict, dict]:
    from tracing import Tracer, layer_metrics, parse_event_log

    n_cpu = cpu_count()
    run_id = os.path.basename(work)
    wl = WORKLOADS[args.workload]

    # ---- set-up: session, worker warm-up, inputs -------------------------
    t0 = time.perf_counter()
    from pyspark_mrdf_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{n_cpu}]", shuffle_partitions=2 * n_cpu
    )
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t0
    try:
        jvm_fresh = jvm_start_s(spark) >= t_proc - 1.0
        t1 = time.perf_counter()
        warm_error = None
        try:
            warm_workers(spark, n_cpu)
        except Exception as exc:  # counted below as failed ops, not a crash
            warm_error = repr(exc)
            print(f"[perfbench] worker warm-up failed: {exc!r}", file=sys.stderr)
        worker_warm_s = time.perf_counter() - t1

        tracer = Tracer(run_id, bool(args.trace), spark.sparkContext)
        w = wl(n_cpu)
        from pyspark_mrdf_spark import cache
        from pyspark_mrdf_spark.operators import linkage

        registry_fresh = not cache._CACHE and not linkage._AUTO_CACHE
        tracer.install()

        t2 = time.perf_counter()
        inp = w.prepare(args.seed, os.path.join(work, "inputs"))
        prepare_s = time.perf_counter() - t2
        setup_s = get_spark_s + worker_warm_s + prepare_s

        # ---- timed window ------------------------------------------------
        ctx = Context(spark, tracer, n_cpu, bool(args.trace))
        window_start = time.time()
        cpu_start = cpu_seconds()
        t3 = time.perf_counter()
        try:
            if warm_error:
                raise OpFailed(f"worker warm-up: {warm_error}")
            with tracer.span("run.pass"):
                out = w.run(ctx, inp)
        except OpFailed:
            out = None
        wall_s = time.perf_counter() - t3
        cpu_s = cpu_seconds() - cpu_start
        window_end = time.time()
        heap = jvm_heap_mb(spark)
        done = sum(1 for o in ctx.ops if o["ok"])
        attempted = max(done + (out is None), w.planned_ops)
        failed = attempted - done

        # ---- checks (outside the window) -----------------------------------
        t_check = time.perf_counter()
        matched = expected = 0
        if out is None:
            ctx.check_failures.append("no output: an op failed")
        else:
            try:
                matched, expected = w.check(ctx, inp, out)
            except Exception as exc:  # a check that cannot run is a mismatch
                print(f"[perfbench] check raised {exc!r}", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                ctx.check_failures.append(repr(exc))
        mismatches = len(ctx.check_failures)
        check_s = time.perf_counter() - t_check
        if out is not None and "recall" in out:
            recall = out["recall"]
        else:
            recall = matched / expected if expected else 0.0

        cold_problems = []
        if not jvm_fresh:
            cold_problems.append("JVM started before this run")
        if not registry_fresh:
            cold_problems.append("materialization registry not empty at start")
        if tracer.counts["cache.hits"]:
            cold_problems.append(f"cache.hits = {tracer.counts['cache.hits']}")
        for msg in cold_problems:
            print(f"[perfbench] cold-run self-check failed: {msg}", file=sys.stderr)

        rss_by_proc = peak_rss_mb()
        tracer.uninstall()
    finally:
        stop_spark(spark)

    # The driver heap is committed and touched at start, so the JVM's
    # VmHWM holds all of it whether used or not, and the pools' peaks
    # only show where G1 chose to collect. Count the JVM as its memory
    # outside the heap plus the heap still live after a full collection
    # at the end of the window.
    jvm = [k for k in rss_by_proc if k.endswith(":java")]
    jvm_off_heap_mb = sum(rss_by_proc[k] for k in jvm) - heap["committed_mb"]
    python_mb = sum(v for k, v in rss_by_proc.items() if k not in jvm)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "cpu_s": cpu_s,
        "recall": recall,
        "peak_rss_mb": python_mb + jvm_off_heap_mb + heap["live_mb"],
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "run_id": run_id,
        "n_cpu": n_cpu,
        "master": f"local[{n_cpu}]",
        "sizes": w.sizes(),
        "get_spark_s": get_spark_s,
        "worker_warm_s": worker_warm_s,
        "prepare_s": prepare_s,
        "check_s": check_s,
        "rss_mb_by_process": rss_by_proc,
        "jvm_heap_mb": heap,
        "jvm_off_heap_rss_mb": jvm_off_heap_mb,
        "ops": [{k: o[k] for k in ("name", "s", "ok")} for o in ctx.ops],
        "ops_attempted": attempted,
        "ops_failed": failed,
        "ops_failed_ratio": failed / attempted,
        "output_mismatches": mismatches,
        "check_failures": ctx.check_failures,
        "cold_problems": cold_problems,
        **e2e,
    }
    correct = mismatches == 0 and failed == 0 and not cold_problems

    if args.trace:
        jobs, stages, retries = parse_event_log(os.path.join(work, "eventlog"))
        layers = layer_metrics(tracer.spans, jobs, stages, (window_start, window_end), n_cpu)
        layers["spark.task_retries"] = retries
        layers["session.get_spark_s"] = get_spark_s
        layers["session.worker_warm_s"] = worker_warm_s
        layers.update(tracer.counts)
        layers.update(phase_latencies(ctx.ops))
        layers["trace.wall_s"] = wall_s
        base = previous_untraced_wall(args.results, args.workload)
        layers["trace.overhead_s"] = wall_s - base if base is not None else 0.0
        if base is None:
            print("[perfbench] no untraced run of this workload recorded yet; "
                  "trace.overhead_s reads 0", file=sys.stderr)
        record["spans"] = len(tracer.spans)
        record["layers"] = layers
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in per_layer_spec()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    record["metrics"] = metrics
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return record, result


def phase_latencies(ops: list[dict]) -> dict[str, float]:
    """Median time of the build, append and serve ops (0 where a
    workload has none)."""

    def med(kind: str) -> float:
        xs = [o["s"] for o in ops if o["kind"] == kind and o["ok"]]
        return statistics.median(xs) if xs else 0.0

    return {"index.build_s": med("build"), "index.append_p50_s": med("append"),
            "index.serve_p50_s": med("serve")}


def per_layer_spec() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)["per_layer"]


def start_watchdog(work: str) -> None:
    """Abort (non-zero exit, no result line) if the run outlives its
    budget, killing the JVM and workers first."""

    def fire():
        print(f"[perfbench] run exceeded {WATCHDOG_S}s; aborting", file=sys.stderr)
        import signal

        for pid in reversed(descendants(os.getpid())):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()


def main() -> int:
    t_proc = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pyspark_mrdf_spark", "__init__.py")):
        print(f"[perfbench] no engine package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    args.results = os.path.join(ROOT, ".perfbench_results", "records.jsonl")
    work = os.path.join(ROOT, ".perfbench_work", uuid.uuid4().hex[:12])
    n_cpu = cpu_count()
    prepare_env(work, n_cpu, bool(args.trace))
    start_watchdog(work)
    try:
        record, result = run(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(args.results), exist_ok=True)
    with open(args.results, "a", encoding="utf-8") as f:
        f.write(json.dumps(record, default=float) + "\n")
    print(json.dumps({"record": record}, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
