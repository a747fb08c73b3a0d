"""Dedup-at-scale stress: the LLM-training-data dedup operators on a
synthetic duplicate-heavy web corpus far larger than the sf0.1 gate data.

Corpus: DOCS rows, ~35 words each, deterministic hash-picked vocabulary;
30% of rows are exact duplicates (collapsed into ~DOCS/200 groups) and 10%
near-duplicates (one word mutated), mirroring Common-Crawl duplicate
profiles.  Measures wall-clock for exact dedup, minhash LSH, simhash block
LSH, and per-source stats; appends a row to BENCH/DEDUP.md.

Usage: DEDUP_DOCS=1000000 python scripts/bench_dedup.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS = int(os.environ.get("DEDUP_DOCS", "1000000"))
# The pair-list ops are quadratic in duplicate-group size by definition;
# at large DOCS run only the keep-list product + linear ops.
SKIP_PAIR_OPS = os.environ.get("DEDUP_SKIP_PAIR_OPS") == "1"
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

WORDS = 35


def corpus(spark, n: int):
    """Deterministic duplicate-heavy corpus, pure JVM exprs (no shuffles)."""
    from pyspark.sql import functions as F

    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # 30% exact dups: doc_id folds onto one of n/200 group seeds;
        # 10% near dups: same seed but one mutated word; else unique seed
        F.when(F.col("id") % 10 < 3, F.col("id") % (n // 200 or 1))
        .when(F.col("id") % 10 == 3, (F.col("id") % (n // 200 or 1)) + 10_000_000)
        .otherwise(F.col("id") + 20_000_000)
        .alias("seed"),
        (F.col("id") % 10 == 3).alias("mutate"),
        F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias("source"),
        F.lit("en").alias("lang"),
    )
    base = base.withColumn(
        "body_seed",
        F.when(F.col("mutate"), F.col("seed") - 10_000_000).otherwise(F.col("seed")),
    )
    words = F.expr(
        f"transform(sequence(0, {WORDS - 1}),"
        f" i -> concat('w', pmod(xxhash64(body_seed, i), 5000)))"
    )
    mutated = F.when(
        F.col("mutate"),
        F.concat(F.slice(words, 1, WORDS - 1), F.array(F.concat(F.lit("m"), F.col("seed")))),
    ).otherwise(words)
    return base.select(
        "doc_id", "source", "lang", F.concat_ws(" ", mutated).alias("text")
    )


def main() -> None:
    from phenoqc_spark.session import get_spark

    spark = get_spark(
        "bench-dedup",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(int(CPUS) * 2),
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from phenoqc_spark.operators import dedup as D
    from phenoqc_spark.operators import textstats as X

    data_dir = f"/tmp/dedup_corpus_{DOCS}"
    if not os.path.exists(data_dir):
        corpus(spark, DOCS).repartition(int(CPUS) * 2).write.mode("overwrite").parquet(data_dir)
    docs = spark.read.parquet(data_dir)
    docs.limit(50000).count()  # touch

    results = {}

    def timed(name, fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        results[name] = {"sec": round(best, 2), "result": out}

    timed("exact_dedup", lambda: D.dedup_exact(docs).count())
    timed("exact_groups", lambda: D.exact_duplicate_groups(docs).count())

    if not SKIP_PAIR_OPS:
        timed(
            "minhash_lsh_pairs",
            lambda: D.minhash_lsh_pairs(
                docs, threshold=0.8, num_hashes=32, bands=8
            ).count(),
        )

    timed(
        "minhash_near_dedup",
        lambda: D.minhash_near_dedup(
            docs, threshold=0.8, num_hashes=32, bands=8
        ).count(),
    )
    if not SKIP_PAIR_OPS:
        timed(
            "simhash_near_dups",
            lambda: D.simhash_near_dups(docs, max_hamming=3).count(),
        )
    timed("source_stats", lambda: X.corpus_source_stats(docs).count())

    # incremental ingest: a 25%-sized new batch (shifted ids, same dup
    # profile → many near-dups of the existing corpus) deduped against the
    # materialized signature state of the full corpus
    state_dir = f"/tmp/dedup_state_{DOCS}"
    if not os.path.exists(state_dir):
        D.minhash_doc_sets(docs, num_hashes=32).where("n_sh > 0").select(
            "set_hash", "sig", "n_sh", "sh_set"
        ).write.mode("overwrite").parquet(state_dir)
    # the tail slice of a larger generation: new ids AND a realistic content
    # mix — its dup-group seeds partially overlap the existing corpus's
    # (ingest re-crawls) while its unique docs are genuinely new content
    # (a naive corpus(DOCS//4) would re-derive the SAME unique seeds as the
    # old corpus and everything would trivially drop)
    new_docs = corpus(spark, DOCS + DOCS // 4).filter(F.col("doc_id") >= DOCS)

    def run_incremental():
        state = spark.read.parquet(state_dir)
        return D.minhash_near_dedup_incremental(
            new_docs, state, threshold=0.8, num_hashes=32, bands=8
        ).count()

    timed("incremental_near_dedup", run_incremental)

    line = {
        "docs": DOCS,
        "cpus": int(CPUS),
        **{k: v["sec"] for k, v in results.items()},
        "counts": {k: v["result"] for k, v in results.items()},
        "docs_per_hour_near_dedup": round(DOCS / results["minhash_near_dedup"]["sec"] * 3600),
    }
    print(json.dumps(line))

    md_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "DEDUP.md"
    )
    header = "# BENCH/DEDUP — dedup operators at corpus scale"
    def _cell(name, unit):
        if name not in results:
            return "(skipped: pair list quadratic at this scale)"
        return f"{results[name]['sec']}s ({results[name]['result']:,} {unit})"

    row = (
        f"| {DOCS:,} | {int(CPUS)} | {results['exact_dedup']['sec']}s | "
        f"{_cell('minhash_lsh_pairs', 'pairs')} | "
        f"{_cell('minhash_near_dedup', 'kept')} | "
        f"{_cell('simhash_near_dups', 'pairs')} | "
        f"{results['source_stats']['sec']}s |"
    )
    existing = open(md_path).read() if os.path.exists(md_path) else ""
    with open(md_path, "a") as fh:
        if header not in existing:
            fh.write(
                f"{header}\n\n"
                "Synthetic duplicate-heavy corpus (30% exact dups in ~n/200 groups,\n"
                "10% near-dups, deterministic), best-of-2 per op.  The identical-set\n"
                "collapse keeps duplicate groups O(g) through the LSH/pair joins —\n"
                "without it the 30% dup mass alone would contribute ~g²·groups\n"
                "candidate rows per band.\n\n"
                "| docs | cpus | exact dedup | minhash LSH (pairs) | minhash near-dedup (keep-list) | simhash h≤3 (pairs) | source stats |\n"
                "|---|---|---|---|---|---|---|\n" + row + "\n"
            )
        else:
            fh.write(row + "\n")
        if "incremental_near_dedup" in results:
            r = results["incremental_near_dedup"]
            fh.write(
                f"\nIncremental ingest ({DOCS:,}-doc state table, "
                f"{DOCS // 4:,}-doc new batch with the same dup profile): "
                f"{r['sec']}s, {r['result']:,} kept — "
                f"{round((DOCS // 4) / r['sec'] * 3600 / 1e6, 1)}M new docs/hour "
                f"against the materialized signature state "
                f"(`minhash_near_dedup_incremental`).\n"
            )


if __name__ == "__main__":
    main()
