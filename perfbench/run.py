"""Layered benchmark for geomesa_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workloads.py``) in one process on
``local[nproc]``: starts Spark, generates the seeded inputs, sets up
three times (``setup_s`` is the median), warms up, then runs the
workload's operation in a closed loop (one client, the next
operation starts when the previous returns) for ``--seconds``, checking
every output against its oracle. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a JSON record with the environment, every sample
and the failures; the same record, and with ``--trace 1`` the spans,
goes to ``.perfbench_run/results/`` in the checkout.

Everything the run writes stays inside the checkout, under
``.perfbench_run/``; the run's stores and Spark scratch are deleted when
it ends. Exit code 2 (and no result line) when the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

# a run stops when free disk falls below this, and counts as failed
MIN_FREE_DISK = 2 << 30
MIN_JOBS = 1
# set-up repetitions in one run; setup_s is their median
SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], p: float) -> float:
    """Percentile with linear interpolation between the closest ranks
    (numpy's default): steadier than the nearest rank on a few samples."""
    s = sorted(values)
    k = p * (len(s) - 1)
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) * 1024
    return out


def environment() -> dict:
    import pyspark

    mem = meminfo()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_bytes": mem["MemTotal"],
        "ram_available_bytes": mem["MemAvailable"],
        "disk_free_bytes": shutil.disk_usage(ROOT).free,
        "loadavg_before": os.getloadavg(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and its Python descendants. Other
    descendants are left out: a child the JVM spawns to run a command
    shares the JVM's memory until it execs, and /proc reports the JVM's
    whole resident size for it."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            if pid != root_pid:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


class Monitor(threading.Thread):
    """Samples the JVM's process tree RSS (the JVM forks the Python
    workers) and the free disk every ``period`` seconds, from session
    start to the end of the run. Over a whole run the peak sees every
    Python worker the workload starts, which one operation alone may not."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_rss = 0
        self.disk_low = False
        self.stop_event = threading.Event()

    def run(self):
        while not self.stop_event.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss(self.jvm_pid))
            if shutil.disk_usage(ROOT).free < MIN_FREE_DISK:
                self.disk_low = True
            self.stop_event.wait(self.period)

    def close(self):
        self.stop_event.set()
        self.join(timeout=5)


def start_spark(work: str, nproc: int, ram: int):
    """local[nproc] session with every scratch directory inside ``work``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's connection file goes here too
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from geomesa_spark import get_spark

    # A small heap, committed and touched in full at start (-Xms,
    # AlwaysPreTouch): the JVM's share of the peak RSS is then the same in
    # every run, whatever the collector would have grown it to. The
    # workloads need far less.
    driver_gb = max(1, min(2, int(ram * 0.4) >> 30))
    spark = get_spark(
        "perfbench", cpus=nproc, shuffle_partitions=2 * nproc,
        extra_conf={
            "spark.driver.memory": f"{driver_gb}g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                                              f" -XX:-UsePerfData -Xms{driver_gb}g"
                                              " -XX:+AlwaysPreTouch"),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny sizes)")
    ap.add_argument("--corrupt", action="store_true",
                    help="check falsified copies of every result instead, one per "
                         "kind of corruption the workload defines (smoke test)")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import geomesa_spark
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(geomesa_spark.__file__))) != ROOT:
        print("perfbench: geomesa_spark resolved outside the checkout", file=sys.stderr)
        return 2

    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    env = environment()
    work = os.path.join(RUN_DIR, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    spark = start_spark(work, env["nproc"], env["ram_bytes"])
    spark_start_s = time.perf_counter() - t0
    log(f"session up after {spark_start_s:.2f} s")
    try:
        return run(args, env, work, spark, spark_start_s, tracing, WORKLOADS[args.workload])
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it forked
    have exited (the JVM exits when its stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    kids = _children()
    tree, todo = [], [proc.pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    alive = [p for p in tree[1:] if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def run(args, env, work, spark, spark_start_s, tracing, wl_cls) -> int:
    env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    monitor = Monitor(spark.sparkContext._gateway.proc.pid)
    monitor.start()
    tracer = tracing.Tracer(spark) if args.trace else tracing.NullTracer()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "env": env,
              "spark_start_s": spark_start_s}
    attempted, failed, failures = 0, 0, []
    caught = {}

    def verify(label, out):
        """Check one output; with --corrupt, check one falsified copy of it
        per kind of corruption instead, each caught one counting as failed."""
        nonlocal attempted, failed
        if not args.corrupt:
            todo = [("", out)]
        else:
            todo = [(k, wl.corrupt(out, k)) for k in wl.CORRUPTIONS]
            todo = [(k, o) for k, o in todo if o is not None]
            attempted += len(todo) - 1
        for kind, o in todo:
            bad = wl.check(o)
            if args.corrupt:
                caught[kind][0 if bad else 1] += 1
            if bad:
                failed += 1
                failures.append(f"{label}{' ' + kind if kind else ''}: " + "; ".join(bad[:3]))

    try:
        wl = wl_cls(spark, work, args.seed, args.scale, tracer)
        caught.update((k, [0, 0]) for k in wl.CORRUPTIONS)
        t0 = time.perf_counter()
        wl.generate()
        record["generate_s"] = time.perf_counter() - t0
        # set-up runs SETUP_REPS times on the one session; the first pays
        # for class loading and JIT, and the median is the steady cost.
        # Only the last, whose stores and frames the jobs use, is traced.
        setup_walls = []
        for r in range(SETUP_REPS):
            if r:
                wl.teardown()
            last = r == SETUP_REPS - 1
            wl.tr = tracer if last else tracing.NullTracer()
            with wl.tr.job("setup") if last else contextlib.nullcontext():
                t0 = time.perf_counter()
                wl.setup()
                setup_walls.append(time.perf_counter() - t0)
        setup_s = statistics.median(setup_walls)
        record["setup_walls_s"] = setup_walls
        log(f"set-up {' '.join(f'{w:.2f}' for w in setup_walls)} s")
        wl.oracle()
        log("oracle ready")
        wl.tr = tracing.NullTracer()
        t0 = time.perf_counter()
        attempted += 1
        try:
            verify("warm-up", wl.warmup())
        except Exception as e:  # an operation that raises is a failed operation
            failed += 1
            failures.append(f"warm-up: {type(e).__name__}: {e}")
        record["warmup_s"] = time.perf_counter() - t0
        log(f"warm-up {record['warmup_s']:.2f} s")
        wl.query_walls = []

        walls, traced_walls = [], []
        query_walls, traced_query_walls = [], []
        # with tracing on, the first half of the window runs untraced so
        # the run can report the tracing overhead on the same inputs
        phases = [(tracing.NullTracer(), walls, query_walls, args.seconds / 2),
                  (tracer, traced_walls, traced_query_walls, args.seconds / 2)] \
            if args.trace else [(tracer, walls, query_walls, args.seconds)]
        i = 1
        for tr, sink, qsink, budget in phases:
            wl.tr = tr
            t_end = time.perf_counter() + budget
            n_phase, first = 0, len(sink)
            while (time.perf_counter() < t_end or n_phase < MIN_JOBS) and not monitor.disk_low:
                attempted += 1
                n_phase += 1
                try:
                    # the traced run reads Spark's metrics when tr.job exits,
                    # outside the timed wall
                    with tr.job(i):
                        t0 = time.perf_counter()
                        out = wl.job(i)
                        wall = time.perf_counter() - t0
                except Exception as e:  # an operation that raises is a failed operation
                    failed += 1
                    failures.append(f"job {i}: {type(e).__name__}: {e}")
                    i += 1
                    continue
                sink.append(wall)
                verify(f"job {i}", out)
                i += 1
            qsink.extend(wl.query_walls or sink[first:])
            wl.query_walls = []
        log(f"{len(walls) + len(traced_walls)} jobs done")
        if monitor.disk_low:
            attempted += 1
            failed += 1
            failures.append(f"stopped: free disk below {MIN_FREE_DISK >> 30} GiB")
        wl.teardown()
    finally:
        monitor.close()

    env["loadavg_after"] = os.getloadavg()
    busy = sum(walls) or float("inf")
    e2e = {
        "setup_s": (setup_s, "s"),
        "job_s": (statistics.median(walls or [0.0]), "s"),
        "rows_per_s": (wl.rows_per_job * len(walls) / busy, "rows/s"),
        "query_p50_ms": (1e3 * statistics.median(query_walls or [0.0]), "ms"),
        "query_p90_ms": (1e3 * percentile(query_walls or [0.0], 0.9), "ms"),
        "queries_per_s": (len(query_walls) / busy, "1/s"),
        "peak_rss_mb": (monitor.peak_rss / 2**20, "MB"),
    }
    if args.corrupt:
        record["corruptions_caught_missed"] = caught
    record.update({
        "attempted": attempted, "failed": failed, "failures": failures[:50],
        "error_rate": failed / attempted, "jobs": len(walls),
        "walls_s": walls, "traced_walls_s": traced_walls, "query_walls_s": query_walls,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    })
    if args.trace:
        layers = tracer.report(walls, traced_walls, failed / attempted)
        record["per_layer"] = layers
        record["spans"] = tracer.spans
        record["executions"] = tracer.executions
        metrics = layers
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    out_dir = os.path.join(RUN_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k not in ("spans", "executions")},
                     default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
