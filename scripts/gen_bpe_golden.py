"""Pin the BPE merge sequence over the sf0.01 documents table with a
pure-Python twin of operators/bpe.py (same tokenizer, same padded-
string replace semantics, same (n desc, left asc, right asc) tie-break)
— the differential oracle for the ``txt_bpe_merges`` gate query.

Usage: python scripts/gen_bpe_golden.py  (rewrites goldens/bpe_golden.py)
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
N_MERGES = 30


def main() -> None:
    import duckdb

    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet') WHERE text IS NOT NULL"
        ).fetchall()
    ]
    vocab: Counter = Counter()
    for t in texts:
        for w in re.sub(r"\s+", " ", t.lower().strip()).split(" "):
            if w:
                vocab[w] += 1
    syms = {w: " " + " ".join(list(w)) + " " for w in vocab}
    merges = []
    for step in range(N_MERGES):
        pc: Counter = Counter()
        for w, c in vocab.items():
            s = syms[w].split()
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        if n < 2:
            break
        merges.append((step, a, b, int(n)))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        for w in syms:
            syms[w] = syms[w].replace(pat, rep)

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "goldens",
        "bpe_golden.py",
    )
    with open(out, "w") as fh:
        fh.write(
            '"""AUTO-GENERATED by scripts/gen_bpe_golden.py — pinned pure-Python\n'
            "BPE-merge twin over the sf0.01 documents table (differential-test\n"
            'artifact for the txt_bpe_merges oracle).  Do not edit by hand."""\n\n'
            f"BPE_MERGES_{N_MERGES} = [\n"
        )
        for row in merges:
            fh.write(f"    {row!r},\n")
        fh.write("]\n")
    print(f"wrote {out}: {len(merges)} merges, first {merges[:3]}")


if __name__ == "__main__":
    main()
