#!/usr/bin/env python3
"""Clustered (mixture-of-Gaussians on the sphere) embedding fixture.

Local tooling only, like scale_up.py. The driver-generated embeddings
are uniform on the sphere, which makes ANY data-blind partition look
bad by construction (every cell boundary cuts true neighbor sets —
coverage-bound recall, BASELINE.md r16). Real corpora are clustered —
IVF's premise. This writes an `embeddings.parquet` with the driver
schema (vec_id int64, embedding list<float> d=64, label int32) drawn
from G spherical Gaussian clusters, so buildAuto recall can be
measured where the premise holds (BASELINE.md "Round-17:
clustered-corpus recall"). `lineitem` and `orders` are copied from
a donor sf dir, so a profiling session's q1_agg warm-up reads OUT_DIR.

Usage: gen_clustered.py OUT_DIR [N] [G] [SIGMA] [DONOR_SF_DIR]
"""
import pathlib
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

out = pathlib.Path(sys.argv[1])
n = int(sys.argv[2]) if len(sys.argv) > 2 else 50000
g = int(sys.argv[3]) if len(sys.argv) > 3 else 64
sigma = float(sys.argv[4]) if len(sys.argv) > 4 else 0.15
donor = pathlib.Path(sys.argv[5] if len(sys.argv) > 5
                     else "/root/testdata/sf0.1")
d = 64

rng = np.random.default_rng(17)
centers = rng.standard_normal((g, d))
centers /= np.linalg.norm(centers, axis=1, keepdims=True)
assign = rng.integers(0, g, size=n)
vecs = centers[assign] + sigma * rng.standard_normal((n, d))
vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
vecs = vecs.astype(np.float32)

out.mkdir(parents=True, exist_ok=True)
emb = pa.table({
    "vec_id": pa.array(np.arange(n, dtype=np.int64)),
    "embedding": pa.array(list(vecs),
                          type=pa.list_(pa.float32())),
    "label": pa.array((assign % 10).astype(np.int32)),
})
pq.write_table(emb, out / "embeddings.parquet")
for t in ["lineitem", "orders"]:
    src = donor / f"{t}.parquet"
    if src.exists():
        shutil.copy(src, out / f"{t}.parquet")
print(f"wrote {out}/embeddings.parquet n={n} g={g} sigma={sigma} d={d}")
