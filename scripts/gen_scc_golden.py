"""Generate the pinned Tarjan-twin golden for the kg_scc query.

Graph (deterministic, sf-invariant for sf >= 0.01 via doc_id < 240 —
the kg_pagerank convention): nodes n000..n239 derived from documents,
edges purely from doc_id arithmetic:

- ring edges  n(d) -> n((d+12) % 240)     : for d % 40 != 7 — 12 rings
  of 20, but every other ring is BROKEN at one link (residues 7, 19, 31
  mod 40 hit rings 7, 19+12k...), leaving chain/DAG segments
- chord edges n(d) -> n((d*7+3) % 240)    : for d % 5 == 0 (48 chords
  that merge rings / re-close some broken ones)
- chord edges n(d) -> n((d*11+5) % 240)   : for d % 7 == 3 (35 more)

The mix produces non-trivial SCCs of several sizes plus genuine
singletons (trim-path coverage), so the differential exercises every
branch of the distributed operator.

The twin is an independent ITERATIVE Tarjan SCC (pure Python, explicit
stack — no recursion limit games), emitting scc_id = max member id, the
same canonical id the distributed coloring operator produces (its color
roots are max-reachable ids).  Exact string comparison — no rounding.

Writes goldens/scc_golden.py.  Re-run if the edge rule or the
sf0.01 fixture change.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

con = duckdb.connect()
doc_ids = [
    r[0]
    for r in con.sql(
        f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet') "
        "WHERE doc_id < 240 ORDER BY doc_id"
    ).fetchall()
]
assert len(doc_ids) == 240, f"sf0.01 documents must cover doc_id<240, got {len(doc_ids)}"

edges = set()
for d in doc_ids:
    if d % 40 != 7:
        edges.add((f"n{d:03d}", f"n{(d + 12) % 240:03d}"))
    if d % 5 == 0:
        edges.add((f"n{d:03d}", f"n{(d * 7 + 3) % 240:03d}"))
    if d % 7 == 3:
        edges.add((f"n{d:03d}", f"n{(d * 11 + 5) % 240:03d}"))

nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
adj: dict[str, list[str]] = {v: [] for v in nodes}
for a, b in sorted(edges):
    adj[a].append(b)

# iterative Tarjan
index_of: dict[str, int] = {}
low: dict[str, int] = {}
on_stack: dict[str, bool] = {}
stack: list[str] = []
sccs: list[list[str]] = []
counter = [0]

for root in nodes:
    if root in index_of:
        continue
    work = [(root, 0)]
    while work:
        v, pi = work[-1]
        if pi == 0:
            index_of[v] = low[v] = counter[0]
            counter[0] += 1
            stack.append(v)
            on_stack[v] = True
        recurse = False
        for i in range(pi, len(adj[v])):
            w = adj[v][i]
            if w not in index_of:
                work[-1] = (v, i + 1)
                work.append((w, 0))
                recurse = True
                break
            elif on_stack.get(w):
                low[v] = min(low[v], index_of[w])
        if recurse:
            continue
        if low[v] == index_of[v]:
            comp = []
            while True:
                w = stack.pop()
                on_stack[w] = False
                comp.append(w)
                if w == v:
                    break
            sccs.append(comp)
        work.pop()
        if work:
            u, _ = work[-1]
            low[u] = min(low[u], low[v])

rows = []
for comp in sccs:
    scc_id = max(comp)
    for v in comp:
        rows.append((v, scc_id))
rows.sort()
sizes = sorted((len(c) for c in sccs), reverse=True)

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "scc_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned Tarjan-twin golden for the kg_scc query (generated by\n'
        "scripts/gen_scc_golden.py against sf0.01 -- do not edit by hand;\n"
        'regenerate instead)."""\n\n'
        f"# {len(nodes)} nodes, {len(edges)} edges, {len(sccs)} SCCs,\n"
        f"# component sizes (desc): {sizes}\n"
        "SCC_240 = [\n"
        + "".join(f"    ({v!r}, {s!r}),\n" for v, s in rows)
        + "]\n"
    )
print(f"wrote {out_path}: {len(nodes)} nodes, {len(edges)} edges, {len(sccs)} SCCs")
print("sizes:", sizes)
