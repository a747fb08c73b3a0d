"""Generate the pinned pure-Python twin golden for the kg_communities query.

Same graph as kg_pagerank (scripts/gen_pagerank_golden.py): doc->term
edges for doc_id < 400 at sf0.01 plus the pinned term->term XREF list,
taken as an UNDIRECTED simple graph.

The twin is an independent pure-Python synchronous label propagation with
the operator's exact semantics (labels start as node ids; each round every
node simultaneously adopts the most frequent neighbor label, ties broken
by the lexicographically smallest label; fixed ITERS rounds).  The update
is integer vote counting + string min — no float divergence at all, so the
differential is exact.

Writes goldens/lpa_golden.py.  Re-run if the mapping, XREF list,
iteration count, or the sf0.01 fixture change.
"""

import os
import sys
from collections import Counter, defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
ITERS = 5

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

# undirected simple graph (self-loops would have been dropped; none exist)
adj = defaultdict(set)
for a, b in edges:
    if a != b:
        adj[a].add(b)
        adj[b].add(a)

nodes = sorted(adj)
labels = {v: v for v in nodes}
for _ in range(ITERS):
    new = {}
    for v in nodes:
        votes = Counter(labels[u] for u in adj[v])
        top = max(votes.values())
        new[v] = min(l for l, c in votes.items() if c == top)
    labels = new

rows = [(v, labels[v]) for v in nodes]
n_comm = len(set(labels.values()))

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "lpa_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned pure-Python label-propagation golden for the\n'
        "kg_communities query (generated by scripts/gen_lpa_golden.py against\n"
        'sf0.01 -- do not edit by hand; regenerate instead)."""\n\n'
        f"# {len(rows)} nodes, {len(edges)} directed input edges, "
        f"{ITERS} synchronous rounds, {n_comm} communities\n"
        "LPA_400 = [\n"
        + "".join(f"    ({v!r}, {l!r}),\n" for v, l in rows)
        + "]\n"
    )
print(f"wrote {out_path}: {len(rows)} nodes, {n_comm} communities")
print("community sizes:", sorted(Counter(labels.values()).values(), reverse=True)[:10])
