"""Generate the pinned peeling-twin golden for the kg_ktruss query.

Graph (deterministic, doc_id < 120 so sf-invariant at sf >= 0.01):
nodes n000..n119, undirected edges

- (i, i+1 mod 120) and (i, i+2 mod 120)  — every consecutive triple is
  a triangle, so the 3-truss is the whole wheel;
- (i, i+3 mod 120) for i % 4 == 0        — extra chords that lift SOME
  edges to support ≥ 2, so the 4-truss is a proper, irregular subgraph
  (the differential's interesting case).

Twin: independent sequential peeling — recount per-edge triangle
support, drop support < k−2, repeat to fixpoint.  Exact string rows,
no rounding.  Writes goldens/ktruss_golden.py.
"""

import itertools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
K = 4

con = duckdb.connect()
doc_ids = [
    r[0]
    for r in con.sql(
        f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet') "
        "WHERE doc_id < 120 ORDER BY doc_id"
    ).fetchall()
]
assert len(doc_ids) == 120

edges = set()
for i in doc_ids:
    for j in (i + 1, i + 2):
        a, b = sorted((f"n{i:03d}", f"n{j % 120:03d}"))
        edges.add((a, b))
    if i % 4 == 0:
        a, b = sorted((f"n{i:03d}", f"n{(i + 3) % 120:03d}"))
        edges.add((a, b))

cur = set(edges)
while True:
    adj = {}
    for a, b in cur:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    support = {
        e: len(adj[e[0]] & adj[e[1]])
        for e in cur
    }
    nxt = {e for e in cur if support[e] >= K - 2}
    if nxt == cur:
        break
    cur = nxt

rows = sorted(cur)
out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "ktruss_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned peeling-twin golden for the kg_ktruss query (generated\n'
        "by scripts/gen_ktruss_golden.py against sf0.01 -- do not edit by\n"
        'hand; regenerate instead)."""\n\n'
        f"# {len(edges)} input edges, k={K}, {len(rows)} surviving edges\n"
        "KTRUSS_120 = [\n"
        + "".join(f"    ({a!r}, {b!r}),\n" for a, b in rows)
        + "]\n"
    )
print(f"wrote {out_path}: {len(rows)}/{len(edges)} edges survive k={K}")
