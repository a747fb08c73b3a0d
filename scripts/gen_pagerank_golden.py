"""Generate the pinned numpy-twin golden for the kg_pagerank query.

The driver's correctness gate runs at sf0.01, so the golden is pinned to
/root/testdata/sf0.01/documents.parquet.  The graph is built exactly as
the Spark query builds it:

- doc->term edges: doc_id < 400, idx = doc_id % 4, terms from the same
  4-idx mapping kg_triples_array uses (idx 0 emits nothing);
- term->term xref edges: the pinned XREF list below, so term nodes are
  not uniformly dangling and rank genuinely propagates two hops.

The twin is an independent pure-numpy power iteration with the operator's
exact semantics (damping 0.85, fixed iters, dangling + teleport mass
redistributed uniformly, Σrank = 1 invariant).  Ranks are emitted rounded
to 6 decimals; float-order differences between Spark's distributed sums
and numpy's are ~1e-14, far below the rounding step.

Writes goldens/pagerank_golden.py.  Re-run if the mapping, XREF
list, iteration count, or the sf0.01 fixture change.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
ITERS = 10
DAMPING = 0.85

# (idx, term) — the kg_triples_array mapping, distinct pairs
MAPPING = [
    (1, "HP:0000822"), (1, "DOID:0050167"),
    (2, "HP:0002090"), (2, "DOID:9352"), (2, "HP:0001627"), (2, "DOID:1612"),
    (3, "HP:0000822"), (3, "DOID:1388"),
]
# directed term->term xref edges (HPO<->DO cross-references)
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
n = len(nodes)
pos = {v: i for i, v in enumerate(nodes)}
out_deg = {}
for a, _ in edges:
    out_deg[a] = out_deg.get(a, 0) + 1

ranks = {v: 1.0 / n for v in nodes}
for _ in range(ITERS):
    contribs = {v: 0.0 for v in nodes}
    for a, b in sorted(edges):
        contribs[b] += ranks[a] / out_deg[a]
    dangling = sum(r for v, r in ranks.items() if v not in out_deg)
    base = (1.0 - DAMPING) / n + DAMPING * dangling / n
    ranks = {v: base + DAMPING * contribs[v] for v in nodes}

rows = [(v, round(ranks[v], 6)) for v in nodes]
assert abs(sum(ranks.values()) - 1.0) < 1e-9

# ---- weighted twin: edge weight = (doc_id + len(term_id)) % 3 + 1 for
# doc->term edges (varies per edge WITHIN a source, so weighted != plain),
# 2.0 for xref edges; parallel edges (none here) would sum ----
wedges: dict[tuple, float] = {}
for d in doc_ids:
    src = "https://example.org/doc/%08d#%d" % (d, d)
    for idx, tid in MAPPING:
        if d % 4 == idx:
            wedges[(src, tid)] = wedges.get((src, tid), 0.0) + float((d + len(tid)) % 3 + 1)
for a, b in XREF:
    wedges[(a, b)] = wedges.get((a, b), 0.0) + 2.0

wsum: dict[str, float] = {}
for (a, _), w in wedges.items():
    wsum[a] = wsum.get(a, 0.0) + w

wranks = {v: 1.0 / n for v in nodes}
for _ in range(ITERS):
    contribs = {v: 0.0 for v in nodes}
    for (a, b), w in sorted(wedges.items()):
        contribs[b] += wranks[a] * w / wsum[a]
    dangling = sum(r for v, r in wranks.items() if v not in wsum)
    base = (1.0 - DAMPING) / n + DAMPING * dangling / n
    wranks = {v: base + DAMPING * contribs[v] for v in nodes}

wrows = [(v, round(wranks[v], 6)) for v in nodes]
assert abs(sum(wranks.values()) - 1.0) < 1e-9

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "pagerank_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned numpy-twin PageRank golden for the kg_pagerank query\n'
        "(generated by scripts/gen_pagerank_golden.py against sf0.01 --\n"
        'do not edit by hand; regenerate instead)."""\n\n'
        f"# {len(rows)} nodes, {len(edges)} edges, {ITERS} iterations, damping {DAMPING}\n"
        "PAGERANK_400 = [\n"
        + "".join(f"    ({v!r}, {r!r}),\n" for v, r in rows)
        + "]\n\n"
        "# weighted twin: w = (doc_id+len(term))%3+1 on doc->term edges, 2.0 on xrefs\n"
        "PAGERANK_W_400 = [\n"
        + "".join(f"    ({v!r}, {r!r}),\n" for v, r in wrows)
        + "]\n"
    )
print(f"wrote {out_path}: {len(rows)} nodes, {len(edges)} edges (+ weighted twin)")
print("distinct rank values:", sorted({r for _, r in rows}))
