"""Regenerate goldens/ivf_codebook.py (pinned IVF codebook artifact:
8 spherical-kmeans centroids × 64 dims, trained on sf0.01 embeddings,
seed 42).

Usage: python scripts/gen_ivf_codebook.py [sf_dir] > goldens/ivf_codebook.py
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
    out = [
        '"""Pinned IVF codebook: 8 spherical-kmeans centroids over the 64-dim',
        "embedding space, trained once (scripts note below) and versioned as a",
        "literal - the production IVF pattern, where the codebook is a model",
        "artifact applied unchanged to corpora of any size.",
        "",
        "Provenance: ivf_centroids(sf0.01 embeddings, n_centroids=8, seed=42).",
        "Retrain + regenerate with scripts/gen_ivf_codebook.py if the embedding",
        'distribution changes."""',
        "",
        "IVF_CODEBOOK_8x64 = [",
    ]
    for c in C:
        out.append("    [" + ", ".join(repr(x) for x in c) + "],")
    out.append("]")
    print("\n".join(out))


if __name__ == "__main__":
    main()
