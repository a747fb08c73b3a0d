"""The benchmark's metrics, and what each per-layer metric should move.

Each workload reports every ``END_TO_END`` metric it names untraced, and
its family's per-layer metrics traced.  ``BENCHMARK.json`` lists the
workloads the benchmark runs by default; ``perfbench/tests/test_layers.py`` checks
that its metrics match these tables.
"""

from __future__ import annotations

# name: (unit, better, bound)
END_TO_END = {
    "run_s": ("s", "lower", 0.25),
    "triples_per_hour": ("triples/h", "higher", 0.25),
    "setup_s": ("s", "lower", 0.25),
}

# per-layer metrics: name -> (unit, better, "end-to-end metric -> workloads it should move")
COMMON = {
    # set-up: session.get_spark, TermResolver.from_config, warm-up op
    "setup.session_s": ("s", "lower", "setup_s -> all"),
    "setup.resolver_s": ("s", "lower", "setup_s -> all (kg_open_vocab most)"),
    "setup.warmup_s": ("s", "lower", "setup_s -> all"),
    # peak RSS of the driver's process tree (JVM + Python workers) over the
    # untraced loop; it varies by more than a tenth between runs, so it is
    # not an end-to-end metric
    "peak_rss_mb": ("MB", "lower", "memory -> kg_open_vocab (resolver copies per worker)"),
    # traced-run checks
    "layers.sum_over_e2e": ("ratio", "lower", "marginals / untraced run_s, near 1"),
    "trace.overhead_frac": ("ratio", "lower", "traced / untraced full plan - 1"),
}

PIPELINE = {
    # scan: spark.read.parquet, pruned to the columns the pipeline reads
    "scan.s": ("s", "lower", "run_s -> kg_build, kg_open_vocab (small)"),
    "scan.rows": ("count", "higher", "input size"),
    "scan.bytes": ("B", "lower", "run_s -> kg_build, kg_open_vocab (small)"),
    # records: pipeline.extract_records (functions.text)
    "records.s": ("s", "lower", "run_s, triples_per_hour -> kg_build; flat on kg_open_vocab"),
    "records.cpu_s": ("s", "lower", "run_s -> kg_build"),
    "records.rows": ("count", "higher", "record count"),
    # explode: operators.triples.terms_long
    "explode.s": ("s", "lower", "run_s -> kg_build"),
    "explode.term_rows": ("count", "higher", "term rows"),
    # link hop: functions.linking.link_terms_inline
    "link.s": ("s", "lower", "run_s -> kg_open_vocab (dominant), kg_build (~20%)"),
    "link.cpu_s": ("s", "lower", "run_s -> kg_open_vocab, kg_build"),
    "link.py_bytes_in": ("B", "lower", "run_s -> kg_build"),
    "link.py_bytes_out": ("B", "lower", "run_s -> kg_build"),
    "link.linked_rows": ("count", "higher", "linked term rows"),
    "link.distinct_terms": ("count", "higher", "vocabulary size, largest on kg_open_vocab"),
    "link.match_frac": ("ratio", "higher", "share of distinct terms linked"),
    # resolver: ontology.mapper / fuzzy / normalize, called on the driver
    "resolver.miss_us": ("us", "lower", "run_s, setup_s -> kg_open_vocab; flat on kg_build"),
    "resolver.hit_us": ("us", "lower", "run_s -> kg_open_vocab"),
    "resolver.tier.custom": ("count", "higher", "tier mix of distinct terms"),
    "resolver.tier.exact": ("count", "higher", "tier mix of distinct terms"),
    "resolver.tier.fuzzy": ("count", "higher", "tier mix, > 0 on kg_open_vocab"),
    "resolver.tier.prefix": ("count", "higher", "tier mix of distinct terms"),
    "resolver.tier.none": ("count", "lower", "tier mix of distinct terms"),
    "normalize.us_per_term": ("us", "lower", "run_s -> kg_open_vocab, kg_build"),
    "resolver.key_index_s": ("s", "lower", "run_s, setup_s -> kg_open_vocab"),
    "resolver.broadcast_bytes": ("B", "lower", "setup_s, peak_rss_mb -> kg_open_vocab"),
    # dedup: operators.triples.triples
    "dedup.s": ("s", "lower", "run_s -> kg_build"),
    "dedup.rows_in": ("count", "higher", "linked rows entering the dedup"),
    "dedup.rows_out": ("count", "higher", "triples leaving the dedup"),
    "dedup.removed_frac": ("ratio", "higher", "0 here: urls are unique"),
    "dedup.shuffle_write_bytes": ("B", "lower", "run_s -> kg_build"),
    "dedup.task_skew": ("ratio", "lower", "run_s -> kg_build"),
}

INCREMENTAL = {
    # write/audit: operators.resume
    "write.s": ("s", "lower", "run_s -> kg_incremental"),
    "write.files": ("count", "lower", "bytes_per_triple -> kg_incremental"),
    "write.bytes": ("B", "lower", "bytes_per_triple -> kg_incremental"),
    "audit.s": ("s", "lower", "run_s -> kg_incremental"),
    "audit.rows": ("count", "higher", "audit rows"),
    "bytes_per_triple": ("B", "lower", "bytes on disk per state triple"),
    # merge: operators.resume.merge_state_into
    "merge.s": ("s", "lower", "run_s -> kg_incremental"),
    "merge.state_rows": ("count", "higher", "state size"),
    "merge.bytes_rewritten": ("B", "lower", "run_s, bytes_per_triple -> kg_incremental"),
    # resume: completed_part_keys + filter_resumable and the pass they gate
    "resume.s": ("s", "lower", "run_s -> kg_incremental"),
    "resume.buckets_skipped": ("count", "higher", "buckets the resume pass skipped"),
    "resume.pages_reprocessed": ("count", "lower", "pages the resume pass re-ran"),
    # dedup over recaptured urls: the only workload where it removes rows
    "dedup.rows_in": PIPELINE["dedup.rows_in"],
    "dedup.rows_out": PIPELINE["dedup.rows_out"],
    "dedup.removed_frac": ("ratio", "higher", "> 0: recaptured urls"),
    "dedup.shuffle_write_bytes": ("B", "lower", "run_s -> kg_incremental"),
}

CANONICALIZE = {
    # fixpoint: operators.canonicalize.connected_components
    "cc.s": ("s", "lower", "run_s -> kg_canonicalize only"),
    "cc.rounds": ("count", "lower", "run_s -> kg_canonicalize"),
    "cc.s_per_round": ("s", "lower", "run_s -> kg_canonicalize"),
    "cc.jobs": ("count", "lower", "run_s -> kg_canonicalize"),
    "cc.jobs_per_round": ("count", "lower", "run_s -> kg_canonicalize"),
    "cc.shuffle_bytes_per_round": ("B", "lower", "run_s -> kg_canonicalize"),
}
