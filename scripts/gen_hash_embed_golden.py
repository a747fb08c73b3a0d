"""Pin the hash_embedding golden for the sim_hash_embed gate query.

Runs phenoqc_spark.operators.similarity.hash_embedding over the sf0.01
documents with doc_id < 5 (dim=64, seed=42) — exactly what the Spark
query computes — and writes goldens/hash_embed_golden.py with the
(vec_id, idx, value) triplets at full double precision.  DuckDB cannot
reproduce Spark's seeded xxhash64, so the oracle is these pinned values
(the same differential strategy as the imputation goldens).  Re-run when
the hashing-trick implementation, dim/seed, or the sf0.01 fixture
change.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from phenoqc_spark.operators import similarity as S
from phenoqc_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

spark = get_spark(
    "gen-hash-embed",
    master="local[4]",
    extra_conf={"spark.ui.enabled": "false", "spark.sql.shuffle.partitions": "4"},
)
docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(F.col("doc_id") < 5)
emb = S.hash_embedding(docs, dim=64, seed=42)
rows = (
    emb.select("vec_id", F.posexplode("embedding").alias("idx", "value"))
    .orderBy("vec_id", "idx")
    .collect()
)
out = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "hash_embed_golden.py",
)
with open(out, "w") as f:
    f.write(
        '"""Pinned hash_embedding golden (sf0.01 docs 0-4, dim=64, seed=42).\n\n'
        "AUTO-GENERATED by scripts/gen_hash_embed_golden.py - do not edit.\n"
        '"""\n\nHASH_EMBED_5x64 = [\n'
    )
    for r in rows:
        f.write(f"    ({r.vec_id}, {r.idx}, {float(r.value)!r}),\n")
    f.write("]\n")
print(f"wrote {out}: {len(rows)} rows")
spark.stop()
