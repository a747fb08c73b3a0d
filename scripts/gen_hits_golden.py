"""Generate the pinned numpy-twin golden for the kg_hits query.

Same 307-node doc->term (+xref) graph as scripts/gen_pagerank_golden.py
(MAPPING/XREF MUST stay in sync with _PR_MAPPING/_PR_XREF in
__spark_entry__.py); the twin is an independent numpy HITS power
iteration with the operator's exact update order (auth from hub,
L2-normalize, hub from auth, L2-normalize; 10 iterations).  Scores are
pinned rounded to 6 decimals.

Writes goldens/hits_golden.py.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
ITERS = 10

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
    src = "https://example.org/doc/%08d#%d" % (d, d)
    for idx, tid in MAPPING:
        if d % 4 == idx:
            edges.add((src, tid))
edges.update(XREF)

nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
pos = {v: i for i, v in enumerate(nodes)}
A = np.zeros((len(nodes), len(nodes)))
for a, b in edges:
    A[pos[a], pos[b]] = 1.0

h = np.ones(len(nodes))
a_vec = np.zeros(len(nodes))
for _ in range(ITERS):
    a_vec = A.T @ h
    a_vec = a_vec / np.linalg.norm(a_vec)
    h = A @ a_vec
    h = h / np.linalg.norm(h)

rows = [(v, round(float(h[pos[v]]), 6), round(float(a_vec[pos[v]]), 6)) for v in nodes]
out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "hits_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned numpy-twin HITS golden for the kg_hits query\n'
        "(generated by scripts/gen_hits_golden.py against sf0.01 --\n"
        'do not edit by hand; regenerate instead)."""\n\n'
        f"# {len(rows)} nodes, {len(edges)} edges, {ITERS} iterations\n"
        "HITS_400 = [\n"
        + "".join(f"    ({v!r}, {hb!r}, {au!r}),\n" for v, hb, au in rows)
        + "]\n"
    )
print(f"wrote {out_path}: {len(rows)} nodes")
print("top hub:", max(rows, key=lambda r: r[1])[:2], "top auth:", max(rows, key=lambda r: r[2])[::2])
