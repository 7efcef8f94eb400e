"""The benchmark workloads: ``kitti_etl`` and ``corpus_curation``.

Each workload generates its inputs from a seed (``prepare``, untimed),
computes its reference output once per input (``reference``, untimed),
runs one job (``run_job``, the timed unit of the closed loop) and
checks one job's output against the reference (``check``, untimed).

A job returns whatever ``check`` needs; ``check`` raises
``WrongOutput`` on a mismatch.

Only the standard library is imported at module level: the benchmark
imports this module before the timed set-up, and numpy, pyarrow and
the test helpers are loaded when a workload first needs them.
"""

from __future__ import annotations

import contextlib
import os
import shutil


class WrongOutput(Exception):
    """A job finished but its output differs from the reference."""


# Input sizes. ``tiny`` is the self-test size: every code path, seconds.
SIZES = {
    "kitti_etl": {"full": {"frames": 8, "points": 120_000},
                  "tiny": {"frames": 2, "points": 2_000}},
    "corpus_curation": {"full": {"corpus_scale": 0.25},
                        "tiny": {"corpus_scale": 0.05}},
}


def _rows_equal(name: str, got_cols, got_rows, want_cols, want_rows) -> None:
    from tests.oracle_harness import _norm_rows

    if sorted(got_cols) != sorted(want_cols):
        raise WrongOutput(f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}")
    if len(got_rows) != len(want_rows):
        raise WrongOutput(f"{name}: {len(got_rows)} rows, oracle {len(want_rows)}")
    for a, b in zip(_norm_rows(got_cols, got_rows), _norm_rows(want_cols, want_rows)):
        if a != b:
            raise WrongOutput(f"{name}: row differs\n  spark={a}\n  oracle={b}")


class KittiEtl:
    """The reference's ``__main__``: analyze a drive, then write the
    minimal-area and center-area cut-out datasets as .bin files."""

    name = "kitti_etl"
    # untimed jobs after the cold one; see run.Loop
    warmup_jobs = 2

    def __init__(self, work_dir: str, seed: int, size: str = "full"):
        self.work_dir = work_dir
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.drive = os.path.join(work_dir, "drive")
        self.out_root = os.path.join(work_dir, "out")

    def prepare(self) -> dict:
        from perfbench.inputs import make_drive

        shutil.rmtree(self.drive, ignore_errors=True)
        self.frames = make_drive(
            self.drive, self.size["frames"], self.size["points"], self.seed
        )
        self.n_points = sum(f["points"].shape[0] for f in self.frames.values())
        n_bytes = sum(
            os.path.getsize(os.path.join(self.drive, sub, name))
            for sub in ("velodyne", "label_2", "calib")
            for name in os.listdir(os.path.join(self.drive, sub))
        )
        self.input_rows = self.n_points
        return {"frames": len(self.frames), "points": self.n_points,
                "labels": sum(len(f["labels"]) for f in self.frames.values()),
                "input_bytes": n_bytes}

    def reference(self) -> None:
        from tests.kitti_fixture import golden_analysis

        self.golden = golden_analysis(self.frames)

    def run_job(self, spark, job: int, trace=None) -> dict:
        from kittispark.operators import kitti as ops
        from kittispark.sinks import write_kitti_bins
        from kittispark.sources import kitti as src

        points = src.read_points(spark, os.path.join(self.drive, "velodyne"))
        labels = src.read_labels(spark, os.path.join(self.drive, "label_2"))
        calib = ops.calib_matrices(
            src.read_calib(spark, os.path.join(self.drive, "calib"))
        )
        res = ops.analyze(points, labels, calib)
        out = {"analysis": res, "cutouts": {}}
        borders = {
            "minimal_area": res.minimal_area,
            "center_area_borders": ops.center_area_borders(res.minimal_area),
        }
        for ds, (lo, hi) in borders.items():
            out_dir = os.path.join(self.out_root, f"job{job}", ds)
            cut = ops.cutout_pipeline(points, calib, lo, hi)
            written = write_kitti_bins(cut, out_dir)
            with _span(trace, "sinks.write_kitti_bins.action", "sinks"):
                counts = {r["frame_id"]: r["n_points"] for r in written.collect()}
            out["cutouts"][ds] = (lo, hi, out_dir, counts)
        return out

    def check(self, out: dict) -> None:
        import numpy as np
        from tests.kitti_fixture import golden_cutout

        got, want = out["analysis"], self.golden
        for field in ("min_point", "max_point", "min_dim", "max_dim", "min_loc",
                      "max_loc", "min_obj_corner", "max_obj_corner"):
            if not np.allclose(getattr(got, field), want[field], rtol=1e-9, atol=0):
                raise WrongOutput(f"{field}: {getattr(got, field)} != {want[field]}")
        for field in ("minimal_area", "maximal_area"):
            if getattr(got, field) != (tuple(want[field][0]), tuple(want[field][1])):
                raise WrongOutput(f"{field}: {getattr(got, field)} != {want[field]}")
        for ds, (lo, hi, out_dir, counts) in out["cutouts"].items():
            ref = golden_cutout(self.frames, np.array(lo), np.array(hi))
            want_counts = {f: a.shape[0] for f, a in ref.items() if a.shape[0]}
            if counts != want_counts:
                raise WrongOutput(f"{ds}: per-frame counts {counts} != {want_counts}")
            for fid, n in want_counts.items():
                size = os.path.getsize(os.path.join(out_dir, f"{fid}.bin"))
                if size != 16 * n:
                    raise WrongOutput(f"{ds}/{fid}.bin: {size} bytes, want {16 * n}")

    def keep_ratio(self, out: dict) -> float:
        """Points written per point scanned, over both cut-outs."""
        written = sum(sum(c[3].values()) for c in out["cutouts"].values())
        return written / (self.n_points * len(out["cutouts"]))

    def cleanup(self, job: int) -> None:
        shutil.rmtree(os.path.join(self.out_root, f"job{job}"), ignore_errors=True)


class CorpusCuration:
    """Iterative dedup and similarity plans, streaming micro-batches and
    a persisted MinHash index, run as registered queries over generated
    tables; each complete result is compared with its DuckDB oracle."""

    name = "corpus_curation"
    warmup_jobs = 1
    query_names = (
        "near_dup_pipeline_survivors",
        "semantic_dedup_clustered",
        "exact_substring_removal",
        "stream_jsonl_ingest",
        "incremental_dedup_batch",
    )

    def __init__(self, work_dir: str, seed: int, size: str = "full"):
        self.work_dir = work_dir
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.sf_dir = os.path.join(work_dir, "tables")

    def prepare(self) -> dict:
        from perfbench.inputs import make_tables

        shutil.rmtree(self.sf_dir, ignore_errors=True)
        rows = make_tables(self.sf_dir, self.seed, **self.size)
        self.input_rows = sum(rows.values())
        n_bytes = sum(os.path.getsize(os.path.join(self.sf_dir, f))
                      for f in os.listdir(self.sf_dir))
        return {**rows, "input_bytes": n_bytes}

    def reference(self) -> None:
        from kittispark import registry
        from tests.oracle_harness import run_oracle

        oracle = registry.oracle_sql()
        self.oracle = {n: run_oracle(oracle[n], self.sf_dir) for n in self.query_names}

    def run_job(self, spark, job: int, trace=None) -> dict:
        from kittispark import registry
        from kittispark.operators.util import release_pins

        fns = registry.queries()
        out = {}
        for name in self.query_names:
            with _span(trace, f"queries.{name}.build", "queries"):
                df = fns[name](spark, self.sf_dir)
            with _span(trace, f"queries.{name}.action", "queries"):
                out[name] = (df.columns, [tuple(r) for r in df.collect()])
            # the consumer's half of materialize()'s pin protocol; a no-op
            # in the default local_checkpoint mode
            release_pins()
        return out

    def check(self, out: dict) -> None:
        for name in self.query_names:
            _rows_equal(name, *out[name], *self.oracle[name])

    def cleanup(self, job: int) -> None:
        pass


WORKLOADS = {w.name: w for w in (KittiEtl, CorpusCuration)}


def _span(trace, name: str, layer: str):
    return contextlib.nullcontext() if trace is None else trace.span(name, layer)
