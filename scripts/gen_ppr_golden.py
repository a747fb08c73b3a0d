"""Generate the pinned twin golden for the kg_ppr query (personalized
PageRank over the doc<->term graph).

Graph (deterministic, sf-invariant for sf >= 0.01 because of the
doc_id < 400 filter — same convention as kg_pagerank):

- doc->term edges: doc_id < 400, idx = doc_id % 4, terms from the
  kg_triples_array 4-idx mapping (idx 0 emits nothing);
- term->term xref edges: the pinned XREF list (same as kg_pagerank);
- term->doc BACK-edges for docs with doc_id % 13 == 2 ("mentioned_in"
  for a deterministic sliver): 13 is coprime to 4 so every idx class
  contributes back-docs, making the seed-reachable set span both
  ontology branches and a varied shell of documents.

Seeds: HP:0000822 and DOID:1612 (one per branch).  The twin is an
independent pure-Python power iteration with the operator's exact
personalized semantics: teleport AND dangling mass land on the uniform
seed distribution, ranks initialized to it; nodes unreachable from the
seeds are exactly 0 and are DROPPED from the golden (the query filters
rank > 0 — the "relatedness result set").  Ranks rounded to 6 dp
(float-order divergence vs the distributed sums is ~1e-14).

Writes goldens/ppr_golden.py.  Re-run if the mapping, XREF list,
back-edge rule, seeds, iteration count, or the sf0.01 fixture change.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
ITERS = 10
DAMPING = 0.85
SEEDS = ["HP:0000822", "DOID:1612"]

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
            if d % 13 == 2:
                edges.add((tid, src))  # mentioned_in back-edge
edges.update(XREF)

nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
n = len(nodes)
out_deg = {}
for a, _ in edges:
    out_deg[a] = out_deg.get(a, 0) + 1

tp = {v: (1.0 / len(SEEDS) if v in SEEDS else 0.0) for v in nodes}
assert all(s in set(nodes) for s in SEEDS)

ranks = dict(tp)
for _ in range(ITERS):
    contribs = {v: 0.0 for v in nodes}
    for a, b in sorted(edges):
        contribs[b] += ranks[a] / out_deg[a]
    dangling = sum(r for v, r in ranks.items() if v not in out_deg)
    ranks = {
        v: tp[v] * ((1.0 - DAMPING) + DAMPING * dangling) + DAMPING * contribs[v]
        for v in nodes
    }

assert abs(sum(ranks.values()) - 1.0) < 1e-9
rows = [(v, round(ranks[v], 6)) for v in nodes if ranks[v] > 0.0]

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "ppr_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned twin golden for the kg_ppr personalized-PageRank query\n'
        "(generated by scripts/gen_ppr_golden.py against sf0.01 --\n"
        'do not edit by hand; regenerate instead)."""\n\n'
        f"# {n} nodes, {len(edges)} edges, seeds {SEEDS}, {ITERS} iterations,\n"
        f"# damping {DAMPING}; rows = the {len(rows)} seed-reachable nodes (rank > 0)\n"
        "PPR_400 = [\n"
        + "".join(f"    ({v!r}, {r!r}),\n" for v, r in rows)
        + "]\n"
    )
print(f"wrote {out_path}: {len(rows)} reachable of {n} nodes, {len(edges)} edges")
print("rank mass on emitted rows:", round(sum(r for _, r in rows), 6))
