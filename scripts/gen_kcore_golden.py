"""Generate the pinned sequential-peeling golden for the kg_kcore query.

Graph rule (MUST stay in sync with kg_kcore in __spark_entry__.py and
the kg_clustering oracle): undirected simple graph over
``src = doc_id % 40 → dst = (doc_id*7 + 3) % 45`` for every doc_id in
the sf0.01 documents table, self-loops dropped.  The twin is an
independent sequential peel (phase k removes all nodes of remaining
degree ≤ k to a fixpoint, assigns coreness k) — the k-core is unique,
so any correct implementation must match exactly.

Writes goldens/kcore_golden.py.  Re-run if the edge rule or the
sf0.01 fixture changes.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

rows = duckdb.sql(
    f"""
    SELECT DISTINCT doc_id % 40 AS a, (doc_id * 7 + 3) % 45 AS b
    FROM read_parquet('{SF_DIR}/documents.parquet')
    WHERE doc_id % 40 <> (doc_id * 7 + 3) % 45
    """
).fetchall()

adj: dict[int, set[int]] = {}
for a, b in rows:
    adj.setdefault(int(a), set()).add(int(b))
    adj.setdefault(int(b), set()).add(int(a))

want: dict[int, int] = {}
k = 0
while adj:
    low = [n for n, nb in adj.items() if len(nb) <= k]
    if not low:
        k += 1
        continue
    for n in low:
        want[n] = k
        for m in adj.pop(n):
            if m in adj:
                adj[m].discard(n)

out = sorted(want.items())
path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "goldens", "kcore_golden.py")
with open(path, "w") as f:
    f.write('"""Pinned sequential-peeling coreness golden for kg_kcore\n'
            "(generated by scripts/gen_kcore_golden.py against sf0.01 —\n"
            "do not edit by hand; regenerate if the edge rule changes).\"\"\"\n\n")
    f.write("KCORE_45 = [\n")
    for n, c in out:
        f.write(f"    ({n}, {c}),\n")
    f.write("]\n")
print(f"wrote {path}: {len(out)} nodes, max coreness {max(want.values())}")
