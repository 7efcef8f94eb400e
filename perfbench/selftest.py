"""Self-test: every workload on tiny inputs, with its output check.

    python3 perfbench/selftest.py

One traced session runs one job of each workload at the ``tiny`` size,
checks it against its reference, confirms the check rejects a
corrupted output, and confirms the span tracer and the event-log
reader both saw the work. Takes about 40 s on 4 cores.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402


def _corrupt(name: str, out: dict) -> dict:
    if name == "kitti_etl":
        ds, (lo, hi, d, counts) = next(iter(out["cutouts"].items()))
        fid = next(iter(counts))
        bad = {**counts, fid: counts[fid] + 1}
        return {**out, "cutouts": {**out["cutouts"], ds: (lo, hi, d, bad)}}
    q, (cols, rows) = next(iter(out.items()))
    return {**out, q: (cols, rows[:-1])}


def main() -> int:
    from perfbench.trace import Tracer, event_log_conf, read_event_log, spark_metrics
    from perfbench.workloads import WORKLOADS, WrongOutput

    work = os.path.join(run.WORK_BASE, f"selftest-{os.getpid()}")
    cores = run.task_slots(len(os.sched_getaffinity(0)))
    run.pin_environment(work)
    tracer = Tracer()
    tracer.install()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    t0 = time.time()
    spark = run.set_up(work, cores, event_log_conf(log_dir))
    windows = {}
    try:
        for job, (name, cls) in enumerate(WORKLOADS.items(), start=1):
            w = cls(os.path.join(work, name), seed=1, size="tiny")
            w.prepare()
            w.reference()
            tracer.job = job
            a = time.time()
            out = w.run_job(spark, job, tracer)
            windows[job] = (a, time.time())
            tracer.job = -1
            w.check(out)
            try:
                w.check(_corrupt(name, out))
            except WrongOutput:
                pass
            else:
                raise AssertionError(f"{name}: check accepted a corrupted output")
            w.cleanup(job)
            layers = {k for k, v in tracer.self_time({job}).items() if v > 0}
            print(f"ok {name}: output checked, layers traced {sorted(layers)}")
    finally:
        run.stop_session(spark)
    engine = spark_metrics(read_event_log(log_dir), windows, cores)
    for job, counts in engine.items():
        if not counts.get("spark.tasks"):
            raise AssertionError(f"job {job}: no Spark tasks in the event log")
    print(f"selftest passed in {time.time() - t0:.1f} s")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
