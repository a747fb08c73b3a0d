"""Regenerate goldens/pq_codebook.py (pinned PQ codebook artifact:
m=8 subvectors × ksub=16 centroids × 8 dims, trained on sf0.01
embeddings, seed 42 — the versioned-model pattern shared with
ivf_codebook.py).

Usage: python scripts/gen_pq_codebook.py [sf_dir] > goldens/pq_codebook.py
"""

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from phenoqc_spark.operators.similarity import pq_train
from phenoqc_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    s = get_spark("gen-pq", master="local[8]", extra_conf={"spark.ui.enabled": "false"})
    emb = s.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, m=8, ksub=16, seed=42)
    lines = [
        '"""Pinned PQ codebook: m=8 x ksub=16 x d=8, trained once on the',
        'sf0.01 embeddings (seed 42) by scripts/gen_pq_codebook.py — applied',
        'unchanged at any corpus size, like ivf_codebook.py."""',
        "",
        "PQ_CODEBOOK_8x16x8 = [",
    ]
    for book in books:
        lines.append("    [")
        for c in book:
            lines.append("        [" + ", ".join(repr(x) for x in c) + "],")
        lines.append("    ],")
    lines.append("]")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
