"""Generate the pinned numpy-twin golden for the kg_spectral query.

Same doc<->term graph as kg_ppr (doc->term mapping edges, term->doc
back-edges for doc_id % 13 == 2, xrefs; doc_id < 400 so sf-invariant
at sf >= 0.01).  The twin builds the dense adjacency A, the identical
md5-derived Rademacher Ω (first hex nibble < 8 → +1/√r), and computes
B = Ωᵀ(Aᵀ(A·Ω)) with numpy matmuls — an independent dense evaluation
of the exact projection the distributed operator computes with two
matvec aggregates, so the differential checks the shuffle chain.
σ̂ = sqrt(clip(eigh(B), 0)) descending, rounded to 6 dp (cross-impl
float wobble ~1e-12).

Writes goldens/spectral_golden.py.
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
R = 8

MAPPING = [
    (1, "HP:0000822"), (1, "DOID:0050167"),
    (2, "HP:0002090"), (2, "DOID:9352"), (2, "HP:0001627"), (2, "DOID:1612"),
    (3, "HP:0000822"), (3, "DOID:1388"),
]
XREF = [
    ("HP:0000822", "DOID:0050167"),
    ("DOID:1612", "HP:0001627"),
    ("HP:0002090", "DOID:9352"),
    ("DOID:1388", "HP:0000822"),
]

con = duckdb.connect()
doc_ids = [
    r[0]
    for r in con.sql(
        f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet') "
        "WHERE doc_id < 400 ORDER BY doc_id"
    ).fetchall()
]

edges = set()
for d in doc_ids:
    srcn = "https://example.org/doc/%08d#%d" % (d, d)
    for idx, tid in MAPPING:
        if d % 4 == idx:
            edges.add((srcn, tid))
            if d % 13 == 2:
                edges.add((tid, srcn))
edges.update(XREF)

nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
n = len(nodes)
pos = {v: i for i, v in enumerate(nodes)}
A = np.zeros((n, n))
for a, b in edges:
    A[pos[a], pos[b]] = 1.0


def omega(node: str, t: int) -> float:
    h = hashlib.md5(f"{node}:{t}".encode()).hexdigest()
    return (1.0 if int(h[0], 16) < 8 else -1.0) / (R ** 0.5)


O = np.array([[omega(v, t) for t in range(R)] for v in nodes])
Y = A @ O
Z = A.T @ Y
B = O.T @ Z
B = (B + B.T) / 2.0
# unit-column rescale: n = #nodes with in-edges (the Ω span — zero rows
# of Z contribute nothing, matching the distributed z.count())
n_in = int((A.sum(axis=0) > 0).sum())
sig = np.sqrt(np.clip(np.linalg.eigvalsh(B) * (R / n_in), 0.0, None))[::-1]
rows = [(i, round(float(s), 6)) for i, s in enumerate(sig)]

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "spectral_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned numpy-twin golden for the kg_spectral query (generated\n'
        "by scripts/gen_spectral_golden.py against sf0.01 -- do not edit by\n"
        'hand; regenerate instead)."""\n\n'
        f"# {n} nodes, {len(edges)} edges, r={R} Rademacher components\n"
        "SPECTRAL_8 = [\n"
        + "".join(f"    ({i}, {s!r}),\n" for i, s in rows)
        + "]\n"
    )
print(f"wrote {out_path}: {rows}")
