"""Seeded input generators for the two workloads.

Every generator is a pure function of its seed and size arguments and
writes only below the directory it is given. Nothing here is timed.

- ``make_drive``: a KITTI drive in the file layout of
  ``tests/kitti_fixture.py`` (velodyne/*.bin, label_2/*.txt,
  calib/*.txt), at real KITTI density (about 120k points a frame).
  Geometry is shaped like a real drive: a lidar sweep around the car,
  a velo->cam calibration close to KITTI's axis swap, and objects
  standing on the ground all around the car, so the minimal-area
  cut-out keeps a real share of the points.
- ``make_tables``: the ``documents`` and ``embeddings`` corpus tables,
  with the schemas and value domains of the repository's sf0.1 test
  tables. Row counts scale with ``corpus_scale`` (1.0 = sf0.1 sizes).
  Documents carry seeded near-duplicate clones, so MinHash candidates,
  Jaccard verification and duplicated-span removal all have real work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LABEL_CLASSES = (
    "Car",
    "Van",
    "Truck",
    "Pedestrian",
    "Person_sitting",
    "Cyclist",
    "Tram",
    "Misc",
    "DontCare",
)
# (h, w, l) in metres per class, used as the centre of each box size
_CLASS_DIMS = {
    "Car": (1.5, 1.6, 3.9),
    "Van": (2.2, 1.9, 5.1),
    "Truck": (3.3, 2.6, 10.0),
    "Pedestrian": (1.8, 0.6, 0.8),
    "Person_sitting": (1.3, 0.6, 0.8),
    "Cyclist": (1.7, 0.6, 1.8),
    "Tram": (3.5, 2.6, 15.0),
    "Misc": (1.8, 1.5, 3.0),
    "DontCare": (1.0, 1.0, 1.0),
}


def _fmt(values) -> str:
    return " ".join(repr(float(v)) for v in values)


def make_drive(root: str, n_frames: int, points_per_frame: int, seed: int) -> dict:
    """Write one synthetic KITTI drive under ``root`` and return the
    in-memory frames in the shape ``tests.kitti_fixture.golden_*``
    expects: {frame_id: {"points", "labels", "Tr", "R0"}}."""
    rng = np.random.default_rng(seed)
    for sub in ("velodyne", "label_2", "calib"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)

    frames = {}
    for k in range(n_frames):
        fid = f"{k:06d}"
        n = int(points_per_frame * rng.uniform(0.95, 1.05))
        # 360-degree sweep: range falls off with distance like a real
        # lidar (dense near the car), two thirds of returns on the
        # ground plane about 1.73 m below the sensor.
        r = 2.5 + rng.gamma(2.0, 7.0, n).clip(0, 75)
        phi = rng.uniform(-np.pi, np.pi, n)
        ground = rng.random(n) < 0.66
        z = np.where(
            ground,
            -1.73 + rng.normal(0.0, 0.05, n),
            rng.uniform(-1.7, 2.5, n),
        )
        pts = np.empty((n, 4), dtype=np.float32)
        pts[:, 0] = r * np.cos(phi)
        pts[:, 1] = r * np.sin(phi)
        pts[:, 2] = z
        pts[:, 3] = rng.beta(2.0, 5.0, n)
        pts.tofile(os.path.join(root, "velodyne", f"{fid}.bin"))

        # Objects all around the car in camera coordinates (x right,
        # y down, z forward), standing on the ground (y ~ 1.65).
        labels, lines = [], []
        for j in range(int(rng.integers(6, 16))):
            cls = LABEL_CLASSES[int(rng.integers(0, len(LABEL_CLASSES)))]
            h, w, l = (
                float(np.float32(d * rng.uniform(0.85, 1.15)))
                for d in _CLASS_DIMS[cls]
            )
            rec = {
                "label": cls,
                "truncated": float(np.float32(rng.uniform(0, 1))),
                "occluded": int(rng.integers(0, 4)),
                "alpha": float(np.float32(rng.uniform(-np.pi, np.pi))),
                "bbox": np.float32(rng.uniform(0, 1200, 4)),
                "dimensions": np.float32([h, w, l]),
                "location": np.float32(
                    [
                        rng.uniform(-30.0, 30.0),
                        rng.uniform(1.5, 1.8),
                        rng.uniform(-40.0, 40.0),
                    ]
                ),
                "rotation_y": float(np.float32(rng.uniform(-np.pi, np.pi))),
            }
            labels.append(rec)
            lines.append(
                " ".join(
                    [rec["label"], repr(rec["truncated"]), str(rec["occluded"]),
                     repr(rec["alpha"]), _fmt(rec["bbox"]), _fmt(rec["dimensions"]),
                     _fmt(rec["location"]), repr(rec["rotation_y"])]
                )
            )
        with open(os.path.join(root, "label_2", f"{fid}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")

        # velo->cam: KITTI's axis swap (cam x = -velo y, cam y = -velo z,
        # cam z = velo x) with a small yaw error and the usual offsets;
        # R0_rect a small rotation about x.
        a = float(rng.uniform(-0.02, 0.02))
        ca, sa = np.cos(a), np.sin(a)
        tr = np.array(
            [
                [-sa, -ca, 0.0, rng.uniform(-0.01, 0.01)],
                [0.0, 0.0, -1.0, rng.uniform(-0.08, -0.06)],
                [ca, -sa, 0.0, rng.uniform(-0.29, -0.26)],
            ]
        )
        b = float(rng.uniform(-0.01, 0.01))
        cb, sb = np.cos(b), np.sin(b)
        r0 = np.array([[1.0, 0.0, 0.0], [0.0, cb, -sb], [0.0, sb, cb]])
        p2 = np.hstack([np.eye(3) * 721.5, np.array([[609.6], [172.9], [1.0]])])
        with open(os.path.join(root, "calib", f"{fid}.txt"), "w") as f:
            f.write("P2: " + _fmt(p2.ravel()) + "\n")
            f.write("R0_rect: " + _fmt(r0.ravel()) + "\n")
            f.write("Tr_velo_to_cam: " + _fmt(tr.ravel()) + "\n")
            f.write("\n")
            f.write("Tr_imu_to_velo: 0.0 0.0 0.0 0.0\n")

        frames[fid] = {"points": pts, "labels": labels, "Tr": tr, "R0": r0}
    return frames


# ----------------------------------------------------------------------
# Corpus tables
# ----------------------------------------------------------------------

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("de", "en", "es", "fr", "zh")


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _documents(rng: np.random.Generator, n_docs: int, dup_share: float) -> dict:
    """Random-vocabulary documents plus near-duplicate clones: a clone
    copies a base document and replaces one token in twelve, the shape
    a crawled corpus has (templated pages, mirrors, boilerplate). The
    duplicate structure is fixed by the sizes, not the seed: every
    clone copies a different base document, so near-duplicate clusters
    are pairs and the number of clusters is the number of clones."""
    n_dup = int(n_docs * dup_share)
    n_base = n_docs - n_dup
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        for _ in range(n_base)
    ]
    for base in rng.permutation(n_base)[:n_dup]:
        toks = texts[base].split(" ")
        for pos in rng.permutation(len(toks))[: len(toks) // 12]:
            toks[pos] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts.append(" ".join(toks))
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng: np.random.Generator, n_vec: int, dim: int = 64) -> dict:
    """Unit vectors in 64 dimensions: 30% of them lie close to one of
    n/40 topic directions, the same number per topic (semantic
    near-duplicates); the rest are isotropic. Only the directions and
    the order depend on the seed."""
    n_topics = max(8, n_vec // 40)
    topics = rng.normal(size=(n_topics, dim))
    topics /= np.linalg.norm(topics, axis=1, keepdims=True)
    vecs = rng.normal(size=(n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    n_near = int(n_vec * 0.3)
    near = rng.permutation(n_vec)[:n_near]
    vecs[near] = topics[np.arange(n_near) % n_topics] + 0.12 * vecs[near]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    return {
        "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype("int32")),
    }


def make_tables(out_dir: str, seed: int, corpus_scale: float = 1.0) -> dict[str, int]:
    """Write the ``documents`` and ``embeddings`` tables as one parquet
    file each under ``out_dir``; returns {table: rows}. ``corpus_scale``
    sizes them (1.0 = 5000 documents / 2000 embeddings)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    return {
        "documents": _write(
            out_dir, "documents", _documents(rng, int(5_000 * corpus_scale), 0.2)
        ),
        "embeddings": _write(
            out_dir, "embeddings", _embeddings(rng, int(2_000 * corpus_scale))
        ),
    }
