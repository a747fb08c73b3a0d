"""Structured-Streaming variant of the triple factory.

The reference is a batch pipeline (its "streaming" is pandas chunk
iteration — SURVEY.md §2.11), and linking is stateless map-side work, so
the same extract→parse→link composition runs unchanged as a streaming
query: ``readStream`` over a pages source → per-micro-batch linking with
the broadcast resolver → ``writeStream`` (append).

Linking runs per micro-batch inside ``foreachBatch`` through the same
``pipeline.build_triples`` fact path as the batch job.  Its
(subj, pred, obj) set dedup is a global aggregate; inside
``foreachBatch`` it runs as a plain batch aggregate over one micro-batch
instead of holding unbounded streaming dedup state.  Each batch's unique
terms resolve against the broadcast dictionaries like the reference's
per-chunk ``unique()`` (batch_processing.py:594).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import build_triples, extract_records


def _start(stream: DataFrame, process_batch, checkpoint_path: str, trigger_once: bool):
    """Start ``stream`` through ``foreachBatch(process_batch)`` with its
    checkpoint at ``checkpoint_path``; ``trigger_once`` processes all
    available input then stops.  Returns the StreamingQuery."""
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the ``batch_id`` partition of the parquet table at
    ``path`` with dynamic partition overwrite, so a replayed batch
    replaces its own partition instead of appending twice."""
    from pyspark.sql import functions as F

    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def stream_triples(
    spark: SparkSession,
    pages_stream: DataFrame,
    resolver,
    output_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
):
    """pages readStream → triples parquet appends with checkpointing.

    Returns the StreamingQuery.  ``trigger_once`` processes all available
    input then stops (the batch-equivalent semantics used in tests).
    """
    resolver_bc = spark.sparkContext.broadcast(resolver)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        trip, _ = build_triples(extract_records(batch_df), resolver_bc)
        trip.write.mode("append").parquet(output_path)

    return _start(pages_stream, process_batch, checkpoint_path, trigger_once)


def sessionized_page_counts(
    pages_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "warc_ts",
    key_col: str = "lang",
) -> DataFrame:
    """Stateful streaming aggregation: per-key session windows over event
    time with a watermark for late data (``session_window`` — state is
    bounded by the watermark; late pages beyond it are dropped).

    The batch engine needs no state (SURVEY §2.11); this is the stateful
    pattern a streaming deployment would use for crawl-session QC metrics
    (pages/session, session span) feeding the audit table.
    """
    from pyspark.sql import functions as F

    return (
        pages_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            F.col(key_col),
            "n_pages",
        )
    )


def stream_source_counters(
    docs_stream: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
):
    """Custom stateful streaming operator: per-source cumulative corpus
    counters (docs, whitespace tokens) via ``applyInPandasWithState``.

    This is the pattern for state the built-in windowed aggregates can't
    express (cross-batch running totals with arbitrary update logic).  The
    state store persists counters across micro-batches AND across query
    restarts from the same checkpoint — the streaming twin of the batch
    audit table's resumability.  Each micro-batch emits one updated row per
    source present in that batch.

    State is O(1) per source (two counters), so it is bounded by the number
    of crawl sources, not by data volume — no watermark needed.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("source", StringType()),
            StructField("n_docs", LongType()),
            StructField("n_tokens", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n_docs", LongType()), StructField("n_tokens", LongType())]
    )

    def update(key, pdf_iter, state: GroupState):
        n_docs, n_tokens = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n_docs += len(pdf)
            n_tokens += int(pdf["_nw"].sum())
        state.update((n_docs, n_tokens))
        yield pd.DataFrame(
            {"source": [key[0]], "n_docs": [n_docs], "n_tokens": [n_tokens]}
        )

    from pyspark.sql import functions as F

    prepped = docs_stream.select(
        F.col(source_col).alias("source"),
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " ")))
        .cast("long")
        .alias("_nw"),
    )
    return prepped.groupBy("source").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _fs_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe via the Hadoop FileSystem API, so any URI scheme the
    cluster can read (file://, hdfs://, s3a://, …) resolves correctly —
    unlike ``os.path.exists``, which only sees the driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def stream_near_dedup_docs(
    spark: SparkSession,
    docs_stream: DataFrame,
    output_path: str,
    state_path: str,
    checkpoint_path: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 2,
    trigger_once: bool = True,
):
    """Streaming NEAR-dedup: each micro-batch is near-deduplicated against
    the accumulated seen-content signature state
    (:func:`phenoqc_spark.operators.dedup.minhash_near_dedup_incremental`),
    surviving docs append to ``output_path`` and the batch's OWN
    signatures (seen, not just kept — the anchoring contract) append to
    the ``state_path`` table.

    State lives in a plain parquet table rather than the state store: the
    signature rows are corpus-sized (far beyond per-key streaming state)
    and the batch operators already know how to join against them — the
    standard foreachBatch + external-state pattern for large dedup state.

    Replay idempotence (exactly-once output): both tables are partitioned
    by ``batch_id`` and written with DYNAMIC partition overwrite, so a
    batch replayed after a crash (checkpoint commit lost between the two
    writes) overwrites its own partitions instead of appending twice.  The
    state read excludes the current batch's own partition
    (``batch_id < current`` — partition-pruned), because on replay the
    crashed attempt may already have appended this batch's signatures and
    anchoring a batch against ITSELF would suppress every document in it.
    foreachBatch batch ids are monotone and stable across restarts from
    the same checkpoint, which is exactly the contract this leans on.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import minhash_doc_sets, minhash_near_dedup_incremental

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            # Probe through the Hadoop FileSystem resolved FOR this URI —
            # a driver-local os.path.exists would always be False for
            # hdfs:// / s3a:// state, silently disabling cross-batch
            # anchoring (every micro-batch would dedup only against
            # itself).
            have_state = _fs_path_exists(spark, state_path)
            if have_state:
                state = spark.read.parquet(state_path).filter(
                    F.col("batch_id") < F.lit(batch_id)
                )
                kept = minhash_near_dedup_incremental(
                    batch_df, state, threshold, num_hashes, bands, n
                )
            else:
                from ..operators.dedup import minhash_near_dedup

                kept = minhash_near_dedup(batch_df, threshold, num_hashes, bands, n)
            _write_partition(kept, batch_id, output_path)
            _write_partition(
                minhash_doc_sets(batch_df, num_hashes, n)
                .filter(F.col("n_sh") > 0)
                .select("set_hash", "sig", "n_sh", "sh_set"),
                batch_id,
                state_path,
            )
        finally:
            batch_df.unpersist()

    return _start(docs_stream, process_batch, checkpoint_path, trigger_once)


def stream_dedup_docs(
    docs_stream: DataFrame,
    text_col: str = "text",
    watermark_col: str | None = None,
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming exact dedup: emit each distinct document text once across
    micro-batches.

    Spark-first: the built-in streaming ``dropDuplicates`` carries the
    fingerprint set in the state store (surviving restarts via the
    checkpoint), so no custom stateful operator is needed.  With
    ``watermark_col`` set, ``dropDuplicatesWithinWatermark`` bounds the
    state to the watermark horizon — the 100 TB posture for an unbounded
    crawl (a duplicate arriving later than the watermark may re-emit;
    downstream batch dedup catches the long tail).  The fingerprint is the
    same md5 as ``textstats.fingerprint``, so stream and batch agree.
    """
    from pyspark.sql import functions as F

    fp = F.md5(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "))
    out = docs_stream.withColumn("fp", fp)
    if watermark_col:
        return out.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


def stream_merge_triples(
    spark: SparkSession,
    triples_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
):
    """Streaming MERGE: each micro-batch of (subject, predicate, object,
    confidence) triples upserts into the accumulated state table via
    :func:`phenoqc_spark.operators.resume.merge_state_into`.

    Exactly-once without partition tricks: the state's combine SUMS
    ``n_obs``, so a replayed batch must not merge twice — the epoch id
    (monotone, stable across restarts from the same checkpoint) is passed
    as the explicit ``batch_id``, and ``merge_state_into`` skips any
    batch the state has already absorbed (``MAX(last_seen) >= batch_id``).
    The atomic rename swap means a crashed merge left the OLD state, so
    the replay re-merges cleanly; a crash AFTER the swap but before the
    checkpoint commit replays into the skip branch.  (Iceberg tier: the
    same guard is one ``WHEN NOT MATCHED BY SOURCE`` audit predicate on a
    transactional ``MERGE INTO``.)
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # epoch ids start at 0; state batch ids start at 1
        merge_state_into_fn(spark, state_path, batch_df, batch_id=batch_id + 1)

    from ..operators.resume import merge_state_into as merge_state_into_fn

    return _start(triples_stream, process_batch, checkpoint_path, trigger_once)


def stream_cardinality_state(
    spark: SparkSession,
    df_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: "list[str]",
    value_col: str,
    lgk: int = 12,
    trigger_once: bool = True,
):
    """Streaming distinct-count state: each micro-batch's per-key HLL
    sketches land in their own ``batch_id`` partition of the state table;
    the MERGE happens at read time (:func:`read_cardinality_estimates`),
    which is what makes replays exactly-once for free — HLL union is
    associative and a replayed batch overwrites only its own partition
    (dynamic partition overwrite), so there is no double-merge window at
    all, unlike counter states that need an epoch ledger.

    State size: one ~KB sketch row per (key, batch) — partitions stay
    tiny at any corpus scale; if batch count itself grows unbounded,
    rewriting the table through one
    :func:`~phenoqc_spark.operators.sketches.merge_cardinality_sketches`
    pass is a lossless compaction (same read-time semantics).
    """
    from ..operators.sketches import cardinality_sketches

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_partition(cardinality_sketches(batch_df, key_cols, value_col, lgk), batch_id, state_path)

    return _start(df_stream, process_batch, checkpoint_path, trigger_once)


def read_cardinality_estimates(spark: SparkSession, state_path: str) -> DataFrame:
    """(keys..., n_distinct) from a :func:`stream_cardinality_state`
    table: union every batch partition's sketches per key and estimate —
    one groupBy over KB-sized rows regardless of how much data the
    sketches have absorbed."""
    from ..operators.sketches import (
        estimate_cardinalities,
        merge_cardinality_sketches,
    )

    state = spark.read.parquet(state_path).drop("batch_id")
    return estimate_cardinalities(merge_cardinality_sketches(state))


def stream_cms_state(
    spark: SparkSession,
    df_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: "list[str]",
    token_col: str,
    w: int = 2048,
    d: int = 4,
    trigger_once: bool = True,
):
    """Streaming point-frequency state: each micro-batch's Count-Min
    cells land in their own ``batch_id`` partition; the SUM-merge happens
    at read time (:func:`read_cms_estimates`), so a replayed batch
    overwrites its partition and exactly-once holds with no epoch ledger
    — the same merge-at-read contract as
    :func:`stream_cardinality_state` (CMS is a linear projection, so
    cell addition is associative under any merge tree)."""
    from ..operators.sketches import cms_state

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_partition(cms_state(batch_df, key_cols, token_col, w, d), batch_id, state_path)

    return _start(df_stream, process_batch, checkpoint_path, trigger_once)


def read_cms_estimates(
    spark: SparkSession,
    state_path: str,
    tokens: DataFrame,
    token_col: str = "token",
    w: int = 2048,
    d: int = 4,
) -> DataFrame:
    """(keys..., token, est) from a :func:`stream_cms_state` table: sum
    every batch partition's cells per (keys, depth, pos), then probe —
    one groupBy over w*d-bounded rows per key regardless of corpus
    size."""
    from ..operators.sketches import cms_estimate, cms_merge

    state = spark.read.parquet(state_path).drop("batch_id")
    return cms_estimate(cms_merge(state), tokens, token_col, w, d)


def stream_histogram_state(
    spark: SparkSession,
    df_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: "list[str]",
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    trigger_once: bool = True,
):
    """Streaming distribution state: per-batch fixed-bin histograms land
    in their own ``batch_id`` partition; the SUM-merge happens at read
    time (:func:`read_histogram_quantiles`), so a replayed batch
    overwrites its partition and exactly-once holds with no ledger —
    the same merge-at-read contract as :func:`stream_cardinality_state`
    (bin-count addition is associative)."""
    from ..operators.sketches import histogram_sketches

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_partition(histogram_sketches(batch_df, key_cols, value_col, lo, hi, n_bins), batch_id, state_path)

    return _start(df_stream, process_batch, checkpoint_path, trigger_once)


def read_histogram_quantiles(
    spark: SparkSession,
    state_path: str,
    qs: "list[float]",
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """(keys..., q, value) quantile estimates over a
    :func:`stream_histogram_state` table — merge every batch partition's
    bins and read the discrete quantiles; O(groups·n_bins) rows touched
    regardless of how much data the bins have absorbed."""
    from ..operators.sketches import histogram_merge, histogram_quantiles

    state = spark.read.parquet(state_path).drop("batch_id")
    return histogram_quantiles(histogram_merge(state), qs, lo, hi, n_bins)
