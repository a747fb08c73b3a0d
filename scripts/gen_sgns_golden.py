"""Generate the pinned numpy-twin golden for the kg_sgns_loss query.

Pairs = the kg_ppr doc<->term directed edges (doc->term mapping edges,
term->doc back-edges for doc_id % 13 == 2, xrefs), trained with the
distributed SGNS operator's exact semantics: md5-seeded init
(vec[i] = (md5('{v}|u|{i}')[:8]/2^32 - 0.5)/d), md5-drawn negatives
(vocab[int(md5('{c}|{x}|nj')[:8], 16) % V]), full-batch gradient
descent, loss evaluated BEFORE each update.  The twin is an independent
dense numpy implementation — same arithmetic, different execution
substrate — so the differential checks the join/aggregate gradient
machinery.  Losses are O(10^3) sums of O(10^3) terms; cross-impl float
wobble ~1e-10 << the 6-dp rounding step.

Writes goldens/sgns_golden.py.
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
D, EPOCHS, LR, NEG = 8, 3, 0.05, 2

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

pairs = set()
for d_ in doc_ids:
    srcn = "https://example.org/doc/%08d#%d" % (d_, d_)
    for idx, tid in MAPPING:
        if d_ % 4 == idx:
            pairs.add((srcn, tid))
            if d_ % 13 == 2:
                pairs.add((tid, srcn))
pairs.update(XREF)

vocab = sorted({a for a, _ in pairs} | {b for _, b in pairs})
V = len(vocab)
pos = {v: i for i, v in enumerate(vocab)}


def hu(key: str) -> float:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 2**32 - 0.5


U = np.array([[hu(f"{v}|u|{i}") / D for i in range(D)] for v in vocab])
W = np.array([[hu(f"{v}|w|{i}") / D for i in range(D)] for v in vocab])

rows = []
for c, x in sorted(pairs):
    rows.append((pos[c], pos[x], 1.0))
    for j in range(NEG):
        t = vocab[int(hashlib.md5(f"{c}|{x}|n{j}".encode()).hexdigest()[:8], 16) % V]
        rows.append((pos[c], pos[t], 0.0))
ci = np.array([r[0] for r in rows])
ti = np.array([r[1] for r in rows])
y = np.array([r[2] for r in rows])

losses = []
for _ in range(EPOCHS):
    s = (U[ci] * W[ti]).sum(axis=1)
    sig = 1.0 / (1.0 + np.exp(-s))
    loss = float((-np.log(sig[y == 1.0])).sum() + (-np.log(1.0 - sig[y == 0.0])).sum())
    losses.append(loss)
    coef = (sig - y)[:, None]
    gu = np.zeros_like(U)
    gw = np.zeros_like(W)
    np.add.at(gu, ci, coef * W[ti])
    np.add.at(gw, ti, coef * U[ci])
    U = U - LR * gu
    W = W - LR * gw

out = [(e, round(l, 6)) for e, l in enumerate(losses)]
assert losses[0] > losses[-1], "loss must decrease"

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "sgns_golden.py",
)
with open(out_path, "w") as fh:
    fh.write(
        '"""Pinned numpy-twin golden for the kg_sgns_loss query (generated\n'
        "by scripts/gen_sgns_golden.py against sf0.01 -- do not edit by\n"
        'hand; regenerate instead)."""\n\n'
        f"# {V} vocab, {len(pairs)} pairs, d={D}, epochs={EPOCHS}, lr={LR}, neg={NEG}\n"
        "SGNS_LOSSES = [\n"
        + "".join(f"    ({e}, {l!r}),\n" for e, l in out)
        + "]\n"
    )
print(f"wrote {out_path}: {out}")

# ---- AUC twin: link-prediction eval of the same rows, init vs trained ----
U0 = np.array([[hu(f"{v}|u|{i}") / D for i in range(D)] for v in vocab])
W0 = np.array([[hu(f"{v}|w|{i}") / D for i in range(D)] for v in vocab])


def auc_of(Um, Wm):
    # quantize to 9 dp before ranking: cross-impl float wobble (~1e-12)
    # must become an exact tie, not an order flip worth 1/(n+*n-) of AUC
    s = np.round((Um[ci] * Wm[ti]).sum(axis=1), 9)
    order = np.argsort(s, kind="stable")
    # average ranks with ties (1-based)
    ranks = np.empty(len(s))
    sorted_s = s[order]
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and sorted_s[j + 1] == sorted_s[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + 1 + j + 1) / 2.0
        i = j + 1
    n_pos = float((y == 1.0).sum())
    n_neg = float((y == 0.0).sum())
    rpos = ranks[y == 1.0].sum()
    return (rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)


auc_rows = [("init", round(auc_of(U0, W0), 6)), ("trained", round(auc_of(U, W), 6))]
assert auc_rows[1][1] > auc_rows[0][1], auc_rows
with open(out_path, "a") as fh:
    fh.write(
        "\n# link-prediction AUC over the training rows, init vs after\n"
        f"# {EPOCHS} epochs (tie-aware Mann-Whitney)\n"
        "SGNS_AUC = [\n"
        + "".join(f"    ({p!r}, {a!r}),\n" for p, a in auc_rows)
        + "]\n"
    )
print("AUC:", auc_rows)
