"""Regenerate goldens/ivf_codebook.py (pinned IVF codebook artifact).

Usage: python scripts/gen_ivf_codebook.py [sf_dir]
"""

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from phenoqc_spark.operators.similarity import ivf_centroids
from phenoqc_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    s = get_spark("gen-codebook", master="local[8]", extra_conf={"spark.ui.enabled": "false"})
    emb = s.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = ivf_centroids(emb, n_centroids=8, seed=42)
    out = ["IVF_CODEBOOK_8x64 = ["]
    for c in C:
        out.append("    [" + ", ".join(repr(x) for x in c) + "],")
    out.append("]")
    print("\n".join(out))


if __name__ == "__main__":
    main()
