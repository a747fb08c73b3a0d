"""Bloom-prefiltered vs plain incremental exact dedup at ingest scale.

State: N_STATE distinct content hashes (the ingested corpus).  Batch:
N_BATCH docs, 20 % of which repeat state content (the dup-heavy ingest
profile).  The plain operator anti-joins the whole batch against the
whole state; the bloom path probes map-side and only the bloom-positive
sliver (true dups + fpp of the rest) touches the state join.  The bloom
build is timed separately: production ingest builds it once per state
epoch and reuses it across batches (``bloom=`` parameter).

Protocol per BENCH doctrine: full untimed warmup of both plan shapes,
then best-of-REPS with all reps printed.

Usage: BLOOM_STATE=4000000 BLOOM_BATCH=1000000 python scripts/bench_bloom.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_STATE = int(os.environ.get("BLOOM_STATE", "4000000"))
N_BATCH = int(os.environ.get("BLOOM_BATCH", "1000000"))
REPS = int(os.environ.get("BLOOM_REPS", "3"))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from pyspark.sql import functions as F

    from phenoqc_spark.operators import bloom as B
    from phenoqc_spark.operators.dedup import dedup_exact_incremental
    from phenoqc_spark.session import get_spark

    spark = get_spark(
        "bench-bloom",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(int(CPUS) * 2),
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    state_dir, batch_dir = f"/tmp/bloom_state_{N_STATE}", f"/tmp/bloom_batch_{N_BATCH}"
    if not os.path.exists(state_dir):
        spark.range(N_STATE).select(
            F.md5(F.concat(F.lit("seen doc "), F.col("id").cast("string"))).alias(
                "content_hash"
            )
        ).write.mode("overwrite").parquet(state_dir)
    if not os.path.exists(batch_dir):
        spark.range(N_BATCH).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 10 < 2,
                F.concat(F.lit("seen doc "), (F.col("id") % N_STATE).cast("string")),
            )
            .otherwise(F.concat(F.lit("fresh doc "), F.col("id").cast("string")))
            .alias("text"),
        ).write.mode("overwrite").parquet(batch_dir)
    state = spark.read.parquet(state_dir)
    batch = spark.read.parquet(batch_dir)

    t0 = time.time()
    bloom = B.bloom_from_state(state, "content_hash", fpp=0.01, expected_items=N_STATE)
    bloom[0].cache().count()  # materialize the bitmap build
    t_build = time.time() - t0

    def run_plain():
        return dedup_exact_incremental(batch, state).count()

    def run_bloom():
        return B.dedup_exact_incremental_bloom(batch, state, bloom=bloom).count()

    # untimed warmup of BOTH plan shapes (C2 JIT / Python worker pool)
    n_plain, n_bloom = run_plain(), run_bloom()
    assert n_plain == n_bloom, (n_plain, n_bloom)

    import glob

    def shuffle_bytes() -> int:
        """Cumulative bytes under the session's shuffle block dirs —
        per-rep delta = shuffle volume of that rep (local mode)."""
        total = 0
        for d in glob.glob("/tmp/blockmgr-*"):
            for root, _, files in os.walk(d):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        return total

    reps = {"plain": [], "bloom": []}
    sh = {"plain": 0, "bloom": 0}
    for i in range(REPS):
        s0 = shuffle_bytes()
        t = time.time(); run_plain(); reps["plain"].append(round(time.time() - t, 2))
        s1 = shuffle_bytes()
        t = time.time(); run_bloom(); reps["bloom"].append(round(time.time() - t, 2))
        s2 = shuffle_bytes()
        if i == 0:  # the wall-clock is best-of-N; shuffle volume is per-plan-constant
            sh["plain"], sh["bloom"] = max(0, s1 - s0), max(0, s2 - s1)
    best_p, best_b = min(reps["plain"]), min(reps["bloom"])
    print(
        f"state={N_STATE} batch={N_BATCH} kept={n_plain} cpus={CPUS}\n"
        f"bloom build (once per state epoch): {t_build:.2f}s, "
        f"{sum(len(r.bitmap) for r in bloom[0].collect()) >> 20} MB bitmap\n"
        f"plain anti-join  best {best_p}s  reps {reps['plain']}  "
        f"shuffle {sh['plain'] / 2**20:.1f} MB\n"
        f"bloom prefilter  best {best_b}s  reps {reps['bloom']}  "
        f"shuffle {sh['bloom'] / 2**20:.1f} MB  "
        f"(wall {best_p / best_b:.2f}x, shuffle {sh['plain'] / max(2**20, sh['bloom']):.0f}x lower)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
