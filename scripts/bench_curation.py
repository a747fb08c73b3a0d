"""End-to-end scale bench for the curation flagship (curate_corpus):
the composed crawl-curation funnel — URL canonicalization → CDX
latest-capture URL dedup → exact dedup → MinHash near-dedup →
quality/language gate → PII redaction → context-window chunking — run
as ONE composition on the deterministic 4M-page corpus at two pinned
parallelism levels (the BASELINE.md protocol: fresh JVM per level,
taskset-pinned cores, 2 GiB/core heap, warmup + best-of-N).

Every stage is benched individually elsewhere (BENCH/DEDUP.md etc.);
this measures the PRODUCT: docs/hour through the whole funnel, the
number a corpus-curation run plans capacity with.  Reference analogue:
the end-to-end scenario harness (unified_scenarios_test.py) — ours is
the from-scratch distributed replacement.

Usage:
  python scripts/bench_curation.py 8      # one pinned level -> BENCH/curation_8.json
  python scripts/bench_curation.py 32
  python scripts/bench_curation.py stages # per-stage funnel at 1M (untimed)
  python scripts/bench_curation.py compose
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = int(os.environ.get("CURATION_PAGES_ROWS", "4000000"))
STAGE_ROWS = int(os.environ.get("CURATION_STAGE_ROWS", "1000000"))

# the timed funnel: identical config at every level and in the stage run.
# languages includes "und" because the synthetic pages' key-value record
# text legitimately classifies as undetermined under the n-gram heuristic
# — the language-ID stage still executes (its cost is in the measurement),
# it just must not zero the corpus.
CURATE_KWARGS = """dict(
    url_col="url", latest_by="warc_ts",
    exact_dedup=True, near_dedup=True,
    min_quality=0.2, languages=["en", "und"],
    redact_pii=True, chunk_tokens=512,
)"""

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
cpus = sys.argv[1]
rows = int(sys.argv[2])
from pyspark.sql import functions as F
from phenoqc_spark.session import get_spark
spark = get_spark("bench-curation", master=f"local[{cpus}]", extra_conf={
    "spark.sql.shuffle.partitions": str(int(cpus) * 2),
    "spark.ui.enabled": "false",
    "spark.driver.memory": f"{2 * int(cpus)}g",
})
spark.sparkContext.setLogLevel("ERROR")
from phenoqc_spark import pages as PG
from phenoqc_spark.curation import curate_corpus

data_dir = f"/tmp/curation_pages_{rows}"
if not os.path.exists(data_dir):
    PG.generate_pages(spark, rows, partitions=64).write.mode("overwrite").parquet(data_dir)

def load():
    p = spark.read.parquet(data_dir)
    # stable doc ids from the url (the corpus key a crawl actually has);
    # the generator emits unique texts, so inject a realistic crawl dup
    # mix: 20%% of pages share one of 5000 boilerplate texts (exact-dup
    # work) and another 10%% are near-variants of those (3 extra tokens
    # on 60 -> shingle Jaccard ~0.95, MinHash near-dedup work).  The 60
    # boilerplate tokens are PSEUDO-RANDOM PER GROUP (tok{hash(gid,j)
    # %% 9973}) so distinct groups share ~no shingles -- a common-tail
    # template would weld all 30%% of the corpus into ONE near-dup
    # cluster and blow the band join quadratic.  Deterministic via the
    # url hash.
    h = F.abs(F.xxhash64("url"))
    gid = F.pmod(h, F.lit(5000))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda j: F.concat(
            F.lit("tok"),
            F.pmod(
                F.xxhash64(F.concat(gid.cast("string"), F.lit("_"), j.cast("string"))),
                F.lit(9973),
            ).cast("string"),
        ),
    )
    boiler = F.array_join(toks, " ")
    text = (
        F.when(F.pmod(h, F.lit(10)) < 2, boiler)
        .when(
            F.pmod(h, F.lit(10)) == 2,
            F.concat(boiler, F.lit(" varied extra tail"), F.pmod(h, F.lit(7)).cast("string")),
        )
        .otherwise(F.col("text"))
    )
    return p.select(
        F.xxhash64("url").alias("doc_id"), "url", "warc_ts", text.alias("text")
    )

kwargs = %(kwargs)s
# warmup: full plan shape on a slice (C2 JIT + Arrow worker pool)
w, _ = curate_corpus(load().limit(100000), count_stages=False, **kwargs)
w.count()
times, n_out = [], 0
for _ in range(int(os.environ.get("CURATION_REPS", "3"))):
    t0 = time.time()
    out, _ = curate_corpus(load(), count_stages=False, **kwargs)
    n_out = out.count()
    times.append(time.time() - t0)
    spark.catalog.clearCache()
dt = min(times)
print(json.dumps({"cpus": int(cpus), "pages": rows, "sec": round(dt, 2),
                  "all_secs": [round(x, 2) for x in times],
                  "chunks_out": n_out,
                  "docs_per_hour": round(rows / dt * 3600, 1)}))
spark.stop()
"""

STAGES_CHILD = r"""
import json, os, sys
sys.path.insert(0, %(repo)r)
rows = int(sys.argv[1])
from pyspark.sql import functions as F
from phenoqc_spark.session import get_spark
spark = get_spark("curation-stages", master="local[32]", extra_conf={
    "spark.sql.shuffle.partitions": "64", "spark.ui.enabled": "false",
    "spark.driver.memory": "64g",
})
spark.sparkContext.setLogLevel("ERROR")
from phenoqc_spark import pages as PG
from phenoqc_spark.curation import curate_corpus
data_dir = f"/tmp/curation_pages_{rows}"
if not os.path.exists(data_dir):
    PG.generate_pages(spark, rows, partitions=64).write.mode("overwrite").parquet(data_dir)
raw = spark.read.parquet(data_dir)
h = F.abs(F.xxhash64("url"))
gid = F.pmod(h, F.lit(5000))
toks = F.transform(
    F.sequence(F.lit(0), F.lit(59)),
    lambda j: F.concat(
        F.lit("tok"),
        F.pmod(F.xxhash64(F.concat(gid.cast("string"), F.lit("_"), j.cast("string"))),
               F.lit(9973)).cast("string"),
    ),
)
boiler = F.array_join(toks, " ")
text = (F.when(F.pmod(h, F.lit(10)) < 2, boiler)
        .when(F.pmod(h, F.lit(10)) == 2,
              F.concat(boiler, F.lit(" varied extra tail"), F.pmod(h, F.lit(7)).cast("string")))
        .otherwise(F.col("text")))
p = raw.select(F.xxhash64("url").alias("doc_id"), "url", "warc_ts", text.alias("text"))
out, rep = curate_corpus(p, count_stages=True, **%(kwargs)s)
print(json.dumps({"pages": rows, "funnel": rep}))
spark.stop()
"""


def run_level(cpus: int) -> dict:
    code = CHILD % {"repo": REPO, "kwargs": CURATE_KWARGS}
    cmd = [sys.executable, "-c", code, str(cpus), str(ROWS)]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=5400)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
        raise SystemExit(f"level {cpus} produced no result")
    return json.loads(lines[-1])


def main() -> None:
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    arg = sys.argv[1] if len(sys.argv) > 1 else "compose"
    if arg == "stages":
        code = STAGES_CHILD % {"repo": REPO, "kwargs": CURATE_KWARGS}
        out = subprocess.run(
            [sys.executable, "-c", code, str(STAGE_ROWS)],
            capture_output=True, text=True, cwd=REPO, timeout=5400,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
            raise SystemExit("stage run produced no result")
        with open(os.path.join(REPO, "BENCH", "curation_stages.json"), "w") as fh:
            fh.write(lines[-1])
        print(lines[-1])
        return
    if arg != "compose":
        cpus = int(arg)
        res = run_level(cpus)
        with open(os.path.join(REPO, "BENCH", f"curation_{cpus}.json"), "w") as fh:
            json.dump(res, fh)
        print(json.dumps(res))
        return
    results = {}
    for cpus in (8, 32):
        path = os.path.join(REPO, "BENCH", f"curation_{cpus}.json")
        with open(path) as fh:
            results[cpus] = json.load(fh)
    lo, hi = results[8], results[32]
    speedup = lo["sec"] / hi["sec"]
    print(json.dumps({
        "pages": lo["pages"], "sec_8": lo["sec"], "sec_32": hi["sec"],
        "docs_per_hour_8": lo["docs_per_hour"],
        "docs_per_hour_32": hi["docs_per_hour"],
        "speedup": round(speedup, 2),
        "efficiency_raw": round(speedup / 4, 3),
    }))


if __name__ == "__main__":
    main()
