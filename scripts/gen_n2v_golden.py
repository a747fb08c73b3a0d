"""Generate the pinned pure-Python twin golden for the kg_node2vec query.

Same graph as kg_pagerank / kg_random_walks (doc->term edges for
doc_id < 400 at sf0.01 plus the pinned XREF list), undirected simple.
Second-order node2vec walks at p=0.25, q=4.0 (return-biased / BFS-ish —
a regime where the bias demonstrably diverges from the unbiased walk),
walk_length 3, 1 walk per node, seed 42.

The twin replicates the operator's float ops bit-for-bit:
u = float(int(md5[:15], 16)) / float(16**15) (the double-cast happens
BEFORE the division, as Spark's cast-then-divide does), running weight
sums accumulate in sorted-candidate order, and the winner is the first
candidate whose cumulative weight strictly exceeds u*total.

Writes goldens/n2v_golden.py.  Re-run if the mapping, XREF list,
parameters, or the sf0.01 fixture change.
"""

import hashlib
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
P, Q, LEN, SEED = 0.25, 4.0, 3, 42

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

adj = defaultdict(set)
for a, b in edges:
    if a != b:
        adj[a].add(b)
        adj[b].add(a)
adj = {k: sorted(v) for k, v in adj.items()}

rows = []
for start in sorted(adj):
    w = 0
    prev, cur = None, start
    rows.append((start, w, 0, cur))
    for step in range(1, LEN + 1):
        h = hashlib.md5(f"{cur}|{start}|{w}|{step}|{SEED}".encode()).hexdigest()[:15]
        u = float(int(h, 16)) / float(16**15)
        cands = adj[cur]
        ws = []
        for c in cands:
            if prev is None:
                ws.append(1.0)
            elif c == prev:
                ws.append(1.0 / P)
            elif c in adj[prev]:
                ws.append(1.0)
            else:
                ws.append(1.0 / Q)
        total = 0.0
        for x in ws:
            total += x
        cum = 0.0
        target = u * total
        for c, x in zip(cands, ws):
            cum += x
            if cum > target:
                prev, cur = cur, c
                break
        rows.append((start, w, step, cur))

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "n2v_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned pure-Python node2vec golden for the kg_node2vec query\n'
        "(generated by scripts/gen_n2v_golden.py against sf0.01 -- do not\n"
        'edit by hand; regenerate instead)."""\n\n'
        f"# p={P}, q={Q}, walk_length={LEN}, seed={SEED}, "
        f"{len(adj)} nodes, {len(edges)} input edges\n"
        "N2V_400 = [\n"
        + "".join(f"    ({s!r}, {w}, {st}, {n!r}),\n" for s, w, st, n in rows)
        + "]\n"
    )
print(f"wrote {out_path}: {len(rows)} rows")
