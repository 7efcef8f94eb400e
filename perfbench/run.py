"""kittispark benchmark: one workload, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload kitti_etl --seed 1 --seconds 11 --trace 0

One client submits the next job only after the previous one finished
and was checked, on ``local[nproc // 2]``. The last line of standard output
is one JSON object {"correct", "attempted", "failed", "metrics"}; the
lines before it are a readable report (environment, input sizes,
every sample). With ``--trace 0`` the metrics are the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_MAIN = time.time()  # the interpreter's start-up and stdlib imports end here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
# files of the checkout the benchmark runs: the program and the two
# test helpers it takes its references from
PROGRAM_FILES = ("kittispark/__init__.py", "tests/kitti_fixture.py", "tests/oracle_harness.py")


def process_start_wall() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def cpu_probe_ms() -> float:
    """A fixed pure-Python loop; its time flags a contended machine."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000.0


# ----------------------------------------------------------------------
# Processes: memory of the session's process tree, and stopping it
# ----------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(fields[1]), fields[0])
    return out


def descendants(pid: int) -> dict[int, int]:
    """Live processes below ``pid``, each mapped to its parent."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = {}, [pid]
    while todo:
        parent = todo.pop()
        for c in kids.get(parent, []):
            if table[c][1] != "Z":
                out[c] = parent
                todo.append(c)
    return out


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared between forked
    Python workers are split between them, not counted once each."""
    m = re.search(r"^Pss:\s+(\d+) kB", _read(f"/proc/{pid}/smaps_rollup"), re.M)
    return int(m.group(1)) * 1024 if m else 0


class PyMemSampler(threading.Thread):
    """Peak summed PSS of the Python workers (the Python processes the
    driver JVM forks), sampled every 100 ms."""

    def __init__(self, period_s: float = 0.1):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(self.period_s):
            total = 0
            for p, pp in descendants(me).items():
                # Only Python processes below the JVM count. A child that
                # the JVM or this process has spawned but that has not
                # exec'd yet shares its parent's memory, and shows as
                # java, or as a Python child of this process.
                if pp != me and _exe(p).startswith("python"):
                    total += _pss(p)
            self.peak = max(self.peak, total)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def retained_heap(spark, rounds: int = 5) -> list[int]:
    """Used JVM heap in bytes after each of ``rounds`` full
    collections, half a second apart so that Spark's ContextCleaner
    can drop what the previous one freed (it can take two or three);
    the smallest reading is what the session still holds once its
    garbage is gone. Python collects first, so JVM objects only Python
    garbage points at are released."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(rounds):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
        readings.append(bean.getHeapMemoryUsage().getUsed())
    return readings


def _alive(pid: int) -> bool:
    stat = _read(f"/proc/{pid}/stat")
    return bool(stat) and stat.rsplit(")", 1)[1].split()[0] != "Z"


def stop_session(spark) -> None:
    """Stop the session, end its JVM and wait until every process it
    started (the JVM, the Python worker daemon and workers) is gone."""
    from pyspark import SparkContext

    pids = set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 15
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


# ----------------------------------------------------------------------
# Session set-up
# ----------------------------------------------------------------------


def pin_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and run the program with its own default heap and master."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("KITTISPARK_DRIVER_MEM", None)
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def task_slots(nproc: int) -> int:
    """Spark task slots: half the cores. The driver JVM's GC and JIT
    threads, the Python workers and the driver process run beside the
    tasks; with a slot per core they queue behind them, and the job
    then times the scheduler of a shared host. On 4 cores both
    workloads take as long on 2 slots as on 4."""
    return max(1, nproc // 2)


def set_up(work: str, cores: int, extra_conf: dict | None = None):
    """Ready, warmed session with the query modules imported and the
    package shipped to the workers."""
    from kittispark import registry, session

    spark = session.get_spark(
        "perfbench", cpus=cores, extra_conf={**session_conf(work), **(extra_conf or {})}
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry._load_all()
    registry.ensure_package_shipped(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


# ----------------------------------------------------------------------
# The closed loop
# ----------------------------------------------------------------------


class Loop:
    """Runs the first (cold) job, then the workload's ``warmup_jobs``
    warm-up jobs, then steady jobs until ``seconds`` have passed since
    the first steady job started. Every job's output is checked; only
    the steady jobs are timed.

    A job keeps getting faster for a job or two after the cold one
    (on 4 cores, for example kitti_etl 7.4, 6.5, then 5.6-6.3 s;
    corpus_curation about 11, then 9-10, then 8-10 s): a median over
    that trend moves with how far a run has warmed up. kitti_etl sets
    two warm-up jobs apart, corpus_curation, whose jobs are longer, one.

    With a tracer, spans are recorded in the even jobs and switched
    off in the odd ones, and at least three steady jobs run, so a
    traced run measures its own span overhead on alternating jobs and
    a linear warm-up trend cancels."""

    def __init__(self, workload, spark, seconds: float, tracer=None):
        self.w = workload
        self.spark = spark
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.times: dict[int, float] = {}  # steady jobs that passed their check
        self.windows: dict[int, tuple[float, float]] = {}
        self.last_out = None
        self.cold: float | None = None
        self.warm: list[float | None] = []

    def one(self, job: int) -> float | None:
        if self.tracer is not None:
            self.tracer.job = job
            self.tracer.enabled = job % 2 == 0
        self.attempted += 1
        wall0, t0 = time.time(), time.perf_counter()
        try:
            out = self.w.run_job(self.spark, job, self.tracer)
            dt = time.perf_counter() - t0
            self.windows[job] = (wall0, time.time())
            self.w.check(out)
            self.last_out = out
            return dt
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            if self.tracer is not None:
                self.tracer.job = -1
                self.tracer.enabled = True

    def run(self, t_ready: float) -> float | None:
        """Run the loop; returns ``t_ready`` (seconds from process start
        to a ready session) plus the first job's time, or None if the
        first job failed."""
        first = self.one(0)
        self.cold = first
        first_result = None if first is None else t_ready + first
        self.w.cleanup(0)
        for job in range(1, self.w.warmup_jobs + 1):
            self.warm.append(self.one(job))
            self.w.cleanup(job)
        t_end = time.perf_counter() + self.seconds
        min_jobs = 0 if self.tracer is None else 3
        job = self.w.warmup_jobs + 1
        while time.perf_counter() < t_end or job <= self.w.warmup_jobs + min_jobs:
            dt = self.one(job)
            if dt is not None:
                self.times[job] = dt
            self.w.cleanup(job)
            job += 1
        return first_result


def run_untraced(args, work: str, cores: int) -> dict:
    # Set-up time is the interpreter's start-up plus set_up() itself; the
    # benchmark's own imports and argument checks in between are left out.
    startup = T_MAIN - process_start_wall()
    sampler = PyMemSampler()
    sampler.start()
    t0 = time.time()
    spark = set_up(work, cores)
    setup_s = startup + time.time() - t0

    from perfbench.workloads import WORKLOADS

    untimed = {}  # seconds of the run's steps outside every timed region
    t = time.time()
    w = WORKLOADS[args.workload](work, args.seed)
    sizes = w.prepare()
    untimed["inputs"], t = time.time() - t, time.time()
    w.reference()
    untimed["reference"] = time.time() - t
    print(f"inputs: {json.dumps(sizes)}")
    loop = Loop(w, spark, args.seconds)
    first_result = loop.run(setup_s)
    sampler.stop()
    t = time.time()
    heap_readings = retained_heap(spark)  # after the loop: costs the timings nothing
    heap = min(heap_readings)
    untimed["heap"], t = time.time() - t, time.time()
    stop_session(spark)
    untimed["stop"] = time.time() - t
    print("untimed steps (s): " + ", ".join(f"{k} {v:.2f}" for k, v in untimed.items()))
    print(f"cold job_s: {loop.cold}, warm-up job_s: {loop.warm}")

    print(f"heap after each full GC (MB): {[round(h / 2**20, 1) for h in heap_readings]}")
    print(f"memory (MB): JVM heap retained {heap / 2**20:.1f}, "
          f"Python workers' peak PSS {sampler.peak / 2**20:.1f}")
    print(f"setup_s: {setup_s} (interpreter start-up {startup:.3f})")
    print(f"job_s samples ({len(loop.times)}): {list(loop.times.values())}")
    print(f"attempted={loop.attempted} failed={loop.failed} "
          f"error_rate={loop.failed / loop.attempted}")
    metrics = {}
    if loop.times and first_result is not None:
        job_s = statistics.median(loop.times.values())
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_result_s": (first_result, "s"),
            "job_s": (job_s, "s"),
            "rows_per_s": (w.input_rows / job_s, "1/s"),
            "mem_mb": ((heap + sampler.peak) / 2**20, "MB"),
        }
    return {"loop": loop, "metrics": metrics, "workload": w}


def run_traced(args, work: str, cores: int) -> dict:
    from perfbench import layers
    from perfbench.trace import Tracer, event_log_conf, read_event_log, spark_metrics
    from perfbench.workloads import WORKLOADS

    tracer = Tracer()
    tracer.install()  # before registry._load_all imports the query modules
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = set_up(work, cores, event_log_conf(log_dir))
    w = WORKLOADS[args.workload](work, args.seed)
    print(f"inputs: {json.dumps(w.prepare())}")
    w.reference()
    loop = Loop(w, spark, args.seconds, tracer)
    loop.run(0.0)
    lsh = layers.lsh_precision(tracer)
    stop_session(spark)
    keep = os.path.join(WORK_BASE, "traces", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    tracer.dump(os.path.join(keep, "spans.jsonl"))

    steady = sorted(j for j in loop.windows if j > w.warmup_jobs)
    engine = spark_metrics(read_event_log(log_dir), {j: loop.windows[j] for j in steady},
                           cores)
    metrics = layers.per_layer(w, loop, tracer, engine, steady, lsh)
    shutil.move(log_dir, os.path.join(keep, "eventlog"))
    print(f"spans and event log: {keep}")
    print(f"job_s samples (job: seconds; even jobs traced): {loop.times}")
    print(f"attempted={loop.attempted} failed={loop.failed}")
    return {"loop": loop, "metrics": metrics, "workload": w}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still deletes its work directory (below). The JVM
    # exits when its stdin closes with this process, and the Python
    # worker daemon when the JVM's end of its stdin closes.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # The benchmark measures the kittispark package of the checkout it
    # sits in; without it there is nothing to run. The program is not
    # imported here: importing it is part of the timed set-up.
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program under test not found: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    cores = task_slots(nproc)
    work = os.path.join(WORK_BASE, str(os.getpid()))
    try:
        pin_environment(work)
        res = (run_traced if args.trace else run_untraced)(args, work, cores)
        # taken after the session stopped, so they cost the timings nothing
        load1 = os.getloadavg()[0]
        probe = cpu_probe_ms()
        print(f"env: nproc={nproc} task_slots={cores} loadavg_1m={load1:.2f} "
              f"cpu_probe_ms={probe:.1f} workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace}")
        loop = res["loop"]
        if not res["metrics"]:
            print("perfbench: no job completed", file=sys.stderr)
            return 1
        if args.trace:
            res["metrics"]["env.cpu_probe_ms"] = (probe, "ms")
            res["metrics"]["env.loadavg_1m"] = (load1, "load")
        for name, (value, unit) in res["metrics"].items():
            print(f"{name} = {value} {unit}")
        sys.stdout.flush()
        print(json.dumps({
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": {n: {"value": v, "unit": u}
                        for n, (v, u) in res["metrics"].items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
