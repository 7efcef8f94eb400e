"""Per-layer metrics of a traced run.

Every metric named here is reported on every workload; a layer the
workload never enters reads 0. Per-job figures are medians over the
steady jobs (the first, cold job is excluded).
"""

from __future__ import annotations

import statistics

# Query names reported one by one: the corpus_curation set.
PER_QUERY = (
    "near_dup_pipeline_survivors",
    "semantic_dedup_clustered",
    "exact_substring_removal",
    "stream_jsonl_ingest",
    "incremental_dedup_batch",
)
_LSH = "operators.dedup.minhash_lsh_candidates"
_CC = "operators.dedup.connected_components"
_ENGINE = (
    ("sources.files", "count"), ("sources.rows", "count"), ("sources.bytes", "B"),
    ("streaming.batches", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.scheduler_delay_s", "s"), ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"), ("spark.spill_bytes", "B"),
    ("spark.python_rows", "count"), ("spark.python_bytes", "B"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.busy_share", "ratio"),
    ("spark.task_skew", "ratio"),
)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def lsh_precision(tracer) -> float:
    """Verified pairs per candidate pair of the last near-dup pipeline
    job, counted by Spark after the timed loop, on the live session, on
    the two DataFrames the pipeline hands between its stages: the
    candidate pairs minhash_lsh_candidates returned and the verified
    edges passed to connected_components. 0 if the workload has none."""
    if _LSH not in tracer.captured or _CC not in tracer.captured:
        return 0.0
    _, cands = tracer.captured[_LSH]
    (cc_args, _), _ = tracer.captured[_CC]
    n_cand = cands.count()
    return cc_args[0].count() / n_cand if n_cand else 0.0


def per_layer(workload, loop, tracer, engine, steady, lsh: float) -> dict:
    traced = [j for j in steady if j % 2 == 0]  # Loop records spans in even jobs

    def span_med(pred, field=1):
        return _median([c[field] for c in tracer.per_job(traced, pred)])

    def setup_s(name):
        return sum(s[3] - s[2] for s in tracer.spans if s[5] == -1 and s[0] == name)

    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (setup_s("session.get_spark"), "s"),
        "registry.load_s": (setup_s("registry.load_all"), "s"),
        "registry.ship_s": (setup_s("registry.ensure_package_shipped"), "s"),
    }
    selfs = [tracer.self_time({j}) for j in traced]
    m["sources.call_s"] = (_median([s["sources"] for s in selfs]), "s")
    for layer in ("operators", "queries", "sinks", "streaming"):
        m[f"{layer}.self_s"] = (_median([s[layer] for s in selfs]), "s")

    m["operators.kitti.analyze_s"] = (
        span_med(lambda n: n == "operators.kitti.analyze"), "s")
    keep = getattr(workload, "keep_ratio", None)
    m["operators.kitti.cutout_keep_ratio"] = (
        keep(loop.last_out) if keep and loop.last_out else 0.0, "ratio")
    is_mat = lambda n: n == "operators.util.materialize"  # noqa: E731
    m["operators.util.materialize_calls"] = (span_med(is_mat, 0), "count")
    m["operators.util.materialize_s"] = (span_med(is_mat), "s")
    m["operators.dedup.lsh_precision"] = (lsh, "ratio")

    m["queries.build_s"] = (
        span_med(lambda n: n.startswith("queries.") and n.endswith(".build")), "s")
    m["queries.action_s"] = (
        span_med(lambda n: n.startswith("queries.") and n.endswith(".action")), "s")
    for q in PER_QUERY:
        for part in ("build", "action"):
            name = f"queries.{q}.{part}"
            m[f"queries.{q}.{part}_s"] = (span_med(lambda n, x=name: n == x), "s")

    m["sinks.write_s"] = (span_med(lambda n: n.startswith("sinks.")), "s")
    cut = loop.last_out.get("cutouts", {}) if loop.last_out else {}
    m["sinks.files"] = (float(sum(len(c[3]) for c in cut.values())), "count")
    m["sinks.bytes"] = (float(sum(16 * sum(c[3].values()) for c in cut.values())), "B")
    m["streaming.drain_s"] = (
        span_med(lambda n: n == "streaming.ops.run_available_now"), "s")

    for name, unit in _ENGINE:
        m[name] = (_median([engine[j].get(name, 0.0) for j in steady]), unit)

    on = _median([t for j, t in loop.times.items() if j % 2 == 0])
    off = _median([t for j, t in loop.times.items() if j % 2 == 1])
    m["trace.job_s"] = (on, "s")
    m["trace.spans_off_job_s"] = (off, "s")
    m["trace.overhead_s"] = (on - off, "s")
    m["trace.jobs"] = (float(len(loop.times)), "count")
    m["error_rate"] = (loop.failed / loop.attempted, "ratio")
    return m
