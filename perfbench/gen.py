"""The benchmark's inputs, written into one input dir.

``forest`` gets a seeded ``embeddings`` table: 64-dim float vectors
around one centroid per label, so a random forest has signal to find.
The seed changes only the values; the row count is fixed by the
workload, so every seed asks the engine for the same amount of work.

``lake`` gets copies of the committed fixture tables (``testdata/``, the
repo's deterministic test tables), so its inputs are the same for every
seed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import FIXTURE_TABLES, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
DIM = 64
N_LABELS = 10


def _embeddings(rng, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 0.1, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = (centroids[labels] + rng.normal(0.0, 0.1, (n, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, seed: int, w: Workload) -> dict:
    """Write ``w``'s input tables into ``out_dir``; returns
    ``{table: {"rows": n, "bytes": b}}``."""
    os.makedirs(out_dir, exist_ok=True)
    if w.embeddings:
        rng = np.random.default_rng(seed)
        pq.write_table(_embeddings(rng, w.embeddings), os.path.join(out_dir, "embeddings.parquet"))
    if w.fixture:
        for name in FIXTURE_TABLES:
            shutil.copyfile(os.path.join(HERE, "testdata", w.fixture, f"{name}.parquet"),
                            os.path.join(out_dir, f"{name}.parquet"))
    out = {}
    for f in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, f)
        out[f.removesuffix(".parquet")] = {"rows": pq.read_metadata(path).num_rows,
                                           "bytes": os.path.getsize(path)}
    return out
