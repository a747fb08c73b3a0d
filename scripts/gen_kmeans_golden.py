"""Generate the pinned numpy-twin golden for the emb_kmeans query.

Independent full-Lloyd implementation: distances via the direct
||x-c||^2 expansion (the operator maximizes x.c - ||c||^2/2 — same
argmin, different arithmetic, so the differential is a genuine
implementation check), centroid update = float64 mean over members,
empty clusters keep their centroid, k seeds = the vectors of the k
vec_ids with smallest md5(str(vec_id)) hex digest (ties by id), 5
fixed iterations at k=10 over sf0.01 embeddings (500x64 float32).

Assignment stability: nearest/second-nearest centroid gaps are ~1e-1
while cross-implementation float wobble is ~1e-12 — the script asserts
the minimum relative margin so a fixture change that created a genuine
tie would fail generation instead of pinning a flaky golden.

Writes goldens/kmeans_golden.py.
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
K = 10
ITERS = 5

con = duckdb.connect()
rows = con.sql(
    f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet') "
    "ORDER BY vec_id"
).fetchall()
ids = [r[0] for r in rows]
X = np.array([r[1] for r in rows], dtype=np.float64)
n, d = X.shape

seed_order = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
seed_ids = seed_order[:K]
pos = {v: i for i, v in enumerate(ids)}
C = X[[pos[s] for s in seed_ids]].copy()

for _ in range(ITERS):
    dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = dist.argmin(axis=1)
    newC = C.copy()
    for c in range(K):
        members = X[a == c]
        if len(members):
            newC[c] = members.mean(axis=0)
    C = newC

dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
a = dist.argmin(axis=1)
srt = np.sort(dist, axis=1)
margin = ((srt[:, 1] - srt[:, 0]) / np.maximum(srt[:, 0], 1e-30)).min()
assert margin > 1e-6, f"near-tie in final assignment (rel margin {margin:.2e})"

sizes = np.bincount(a, minlength=K).tolist()
out_rows = sorted(zip(ids, a.tolist()))

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "kmeans_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned numpy-twin golden for the emb_kmeans query (generated by\n'
        "scripts/gen_kmeans_golden.py against sf0.01 -- do not edit by hand;\n"
        'regenerate instead)."""\n\n'
        f"# {n} vectors x {d} dims, k={K}, {ITERS} Lloyd iterations,\n"
        f"# md5-seeded init {seed_ids}, final cluster sizes {sizes},\n"
        f"# min relative assignment margin {margin:.3e}\n"
        "KMEANS_500 = [\n"
        + "".join(f"    ({i}, {c}),\n" for i, c in out_rows)
        + "]\n"
    )
print(f"wrote {out_path}: n={n} d={d} k={K} sizes={sizes} margin={margin:.3e}")
