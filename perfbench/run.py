"""Benchmark entry point.

    python3 perfbench/run.py --workload {graph_requests,index_ingest}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  One process, one client thread, a local
Spark session sized to the machine.  Set-up (session start, input
preparation, warm-up) is timed as ``setup_s``; the workload is then
measured for ``--seconds`` seconds, its answers are checked outside the
timed region, and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are the per-layer metrics, taken from spans the
benchmark opens around the engine's public functions, and the spans are
written to ``.perfbench_out/``.

Every file the run writes (catalog, warehouse, checkpoints, Spark and JVM
scratch) lives under a fresh ``.perfbench_run/`` directory in the
repository root, removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("graph_requests", "index_ingest")
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "write_p50_s": "s",
    "read_p50_s": "s",
    "ops_per_s": "1/s",
    "recall": "ratio",
    "peak_rss_mb": "MB",
    "heap_live_mb": "MB",
}


def bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def git_sha() -> str:
    """HEAD of the checkout when it is a git work tree, read from .git directly."""
    try:
        with open(os.path.join(REPO, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        with open(os.path.join(REPO, ".git", head[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def prepare_env(run_root: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python at the run root."""
    for d in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(run_root, d), exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.local.dir": os.path.join(run_root, "local"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(run_root, "events")
        conf["spark.eventLog.compress"] = "false"
        # spans read their job counts from the status tracker after the run
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(run_root, "local"),
        TMPDIR=os.path.join(run_root, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_root}/tmp -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell",
    )
    os.environ.pop("SPARK_MASTER", None)


class Ctx:
    def __init__(self, spark, tracer, run_root, seed):
        self.spark, self.tracer, self.run_root, self.seed = spark, tracer, run_root, seed


def peak_rss_mb(jvm_pid: int) -> float:
    """Driver JVM high-water RSS plus this Python process's."""
    jvm_kb = 0
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the
    engine retains (caches, in-memory checkpoints, broadcast blocks)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def event_log_totals(events_dir: str, window: tuple[float, float]) -> dict:
    """Shuffle, spill and Python-worker totals over every task launched
    in the measured window, from the Spark event log."""
    tot = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0, "python_bytes": 0, "tasks": 0}
    paths = [os.path.join(d, f) for d, _, fs in os.walk(events_dir) for f in fs if not f.startswith(".")]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info") or {}
                if not window[0] * 1000 <= info.get("Launch Time", 0) <= window[1] * 1000:
                    continue
                m = ev.get("Task Metrics") or {}
                tot["tasks"] += 1
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    if "python" in str(acc.get("Name", "")).lower() and str(acc.get("Update", "")).isdigit():
                        tot["python_bytes"] += int(acc["Update"])
    return tot


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [REPO, HERE]
    run_root = os.path.join(REPO, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    prepare_env(run_root, bool(args.trace))
    try:
        return run(args, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass


def run(args, run_root: str) -> int:
    t_setup = time.perf_counter()
    import distributed_graph_db_c_spark.session as session  # fails outside a full checkout

    from tracing import Tracer

    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    gateway_proc = sc._gateway.proc
    jvm_pid = gateway_proc.pid
    tracer = Tracer(spark, bool(args.trace))
    ctx = Ctx(spark, tracer, run_root, args.seed)
    if args.workload == "graph_requests":
        from wl_graph import GraphRequests as W
    else:
        from wl_index import IndexIngest as W
    wl = W(ctx)
    print(
        f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"master={sc.master} cores={sc.defaultParallelism} "
        f"shuffle_partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
        f"driver_memory={DRIVER_MEMORY} git={git_sha()}",
        flush=True,
    )
    try:
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        measure_epoch = time.time()
        wl.measure(args.seconds)
        window = (measure_epoch, time.time())
        rss = peak_rss_mb(jvm_pid)
        heap = live_heap_mb(spark)
        tracer.rid = None
        t_check = time.perf_counter()
        attempted, failed, recall = wl.check()
        check_s = time.perf_counter() - t_check
        rep = wl.report()
        if args.trace:
            tracer.count_jobs()
        layers = wl.per_layer() if args.trace else {}
    finally:
        tracer.restore()
        if hasattr(wl, "teardown"):
            wl.teardown()
        spark.stop()
        sc._gateway.shutdown()
        gateway_proc.terminate()
        gateway_proc.wait(timeout=60)

    e2e = {
        "setup_s": setup_s,
        "write_p50_s": rep["write_p50_s"],
        "read_p50_s": rep["read_p50_s"],
        "ops_per_s": rep["ops_per_s"],
        "recall": recall,
        "peak_rss_mb": rss,
        "heap_live_mb": heap,
    }
    for name, (value, unit, n) in rep["detail"].items():
        print(f"# {name} = {value:.4f} {unit} (n={n})")
    print(f"# failed_frac = {failed / attempted:.4f} ratio ({failed}/{attempted}); checks took {check_s:.1f} s")
    for name, value in e2e.items():
        print(f"# {name} = {value:.4f} {END_TO_END[name]}")

    if args.trace:
        layers["session.start_s"] = start_s
        layers["trace.span_coverage"] = tracer.coverage(wl.window)
        layers["session.warmup_s"] = sum(s.dur for s in tracer.by_name("session.warmup"))
        ev = event_log_totals(os.path.join(run_root, "events"), window)
        n_ops = rep["n_ops"]
        layers["spark.shuffle_bytes_per_op"] = (ev["shuffle_write_bytes"] + ev["shuffle_read_bytes"]) / n_ops
        layers["spark.spill_bytes_per_op"] = ev["spill_bytes"] / n_ops
        layers["spark.tasks_per_op"] = ev["tasks"] / n_ops
        layers["spark.python_bytes_per_op"] = ev["python_bytes"] / n_ops
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        metrics = {}
        for m in bench()["per_layer"]:
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            print(f"# {m['name']} = {metrics[m['name']]['value']:.4f} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench()["end_to_end"]}

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
