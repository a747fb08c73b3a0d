"""One-call corpus curation: the full training-data pipeline as a single
configurable composition of the tested operators.

``curate_corpus`` chains (each stage optional, config-driven):

    URL blocklist gate → URL canonicalization → URL-level dedup →
    exact text dedup →
    MinHash near-dedup → quality / language filters →
    benchmark decontamination → PII redaction →
    deterministic sampling (stratified fractions OR DSIR importance) →
    context-window chunking

and returns ``(DataFrame, report)`` where ``report`` maps stage name →
rows surviving it.  With ``count_stages=True`` (default) each recorded
stage is a local checkpoint filled by its own count — one action per
stage, and the next stage reads those blocks instead of re-running the
upstream plan.  With ``count_stages=False`` no intermediate actions run —
the result is ONE lazy plan and the report contains only the configured
stage order (the 100 TB mode: counts come from the audit table after the
single write, not from per-stage jobs).  Neither mode leaves a cached
frame behind for the caller to free.

Every stage is the already-oracle-checked operator; this module adds no
new semantics, only composition + accounting — the Spark twin of the
reference's per-file QC loop (batch_processing.py:204-660) recast for
corpus curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .operators import dedup as D, textstats as X


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: str | None = None,
    url_blocklist: dict | None = None,
    latest_by: str | None = None,
    max_per_host: int | None = None,
    exact_dedup: bool = True,
    near_dedup: bool | dict = False,
    min_quality: float | None = None,
    languages: list | None = None,
    classifier: dict | None = None,
    decontaminate_against: DataFrame | None = None,
    redact_pii: bool = False,
    sample_fractions: dict | None = None,
    strata_col: str | None = None,
    importance_target: DataFrame | None = None,
    importance_n: int | None = None,
    chunk_tokens: int | None = None,
    chunk_overlap: int = 0,
    shard_budget: int | None = None,
    seed: int = 42,
    count_stages: bool = True,
):
    """Run the configured curation stages in order; see module docstring.

    ``near_dedup`` may be ``True`` (defaults) or a kwargs dict for
    :func:`phenoqc_spark.operators.dedup.minhash_near_dedup` (e.g.
    ``{"keep_by": "quality"}`` for max-quality survivors).
    ``classifier`` is a kwargs dict for
    :func:`phenoqc_spark.operators.classify.classifier_filter` — the
    model-based quality gate (needs an embedding column on ``df``).
    ``sample_fractions`` + ``strata_col`` selects deterministic stratified
    sampling; ``importance_target`` + ``importance_n`` selects DSIR
    Gumbel-top-k sampling (mutually exclusive).  ``latest_by`` names a
    timestamp column: with ``url_col``, URL-level dedup keeps the NEWEST
    capture per canonical URL (latest_snapshot) instead of the min-id one.
    ``max_per_host`` (with ``url_col``) caps documents per canonical-URL
    host after URL dedup — the domain-balancing stage (cap_per_host).
    """
    if sample_fractions is not None and importance_target is not None:
        raise ValueError("choose stratified OR importance sampling, not both")

    report: dict[str, int | None] = {}

    def record(stage: str, frame: DataFrame) -> DataFrame:
        # counted mode: checkpoint each recorded stage so the next stage's
        # count does not re-execute every upstream stage (O(stages²)
        # otherwise); the stage's own count fills the checkpoint
        if count_stages:
            frame = frame.localCheckpoint(eager=False)
            report[stage] = frame.count()
        else:
            report[stage] = None
        return frame

    out = record("input", df)

    if url_blocklist is not None:
        if url_col is None:
            raise ValueError("url_blocklist requires url_col")
        # admission control BEFORE any text work: kwargs for
        # textstats.url_filter (block_hosts / block_suffixes /
        # block_path_res / blocklist DataFrame)
        out = record(
            "url_blocklist", X.url_filter(out, url_col=url_col, **url_blocklist)
        )

    if url_col is not None:
        out = X.canonicalize_urls(out, url_col=url_col)
        if latest_by is not None:
            # re-crawled URLs keep their NEWEST capture (CDX semantics)
            # instead of dedup_exact's arbitrary-but-deterministic min-id
            # survivor; one partial-combining max_by aggregate
            from .operators.sessions import latest_snapshot

            out = record(
                "url_dedup",
                latest_snapshot(
                    out, key_col="url_canonical", ts_col=latest_by,
                    tiebreak_col=id_col,
                ),
            )
        else:
            out = record(
                "url_dedup",
                D.dedup_exact(out, text_col="url_canonical", id_col=id_col),
            )
        if max_per_host is not None:
            out = record(
                "host_cap",
                X.cap_per_host(
                    out, max_per_host, url_col="url_canonical", id_col=id_col
                ),
            )
    if exact_dedup:
        out = record(
            "exact_dedup", D.dedup_exact(out, text_col=text_col, id_col=id_col)
        )
    if near_dedup:
        kwargs = near_dedup if isinstance(near_dedup, dict) else {}
        out = record(
            "near_dedup",
            D.minhash_near_dedup(out, text_col=text_col, id_col=id_col, **kwargs),
        )
    if min_quality is not None or languages:
        out = X.quality_score(out, text_col)
        if languages:
            out = X.language_id(out, text_col)
        cond = F.lit(True)
        if min_quality is not None:
            cond = cond & (F.col("quality_score") >= min_quality)
        if languages:
            cond = cond & F.col("lang_pred").isin(list(languages))
        out = record("quality_filter", out.filter(cond))
    if classifier is not None:
        # model-based quality gate: kwargs for classifier_filter (at
        # minimum {'weights': [...]}); requires an embedding column on df
        from .operators.classify import classifier_filter

        out = record("classifier_filter", classifier_filter(out, **classifier))
    if decontaminate_against is not None:
        flags = X.contamination_flags(
            out, decontaminate_against, text_col=text_col, id_col=id_col
        ).select(F.col("doc_id").alias(id_col))
        out = record(
            "decontaminated", out.join(F.broadcast(flags), id_col, "left_anti")
        )
    if redact_pii:
        out = X.redact_pii(out, text_col)
        out = out.drop(text_col).withColumnRenamed("text_redacted", text_col)
    if sample_fractions is not None:
        if strata_col is None:
            raise ValueError("sample_fractions requires strata_col")
        out = record(
            "sampled",
            X.deterministic_stratified_sample(
                out, strata_col, sample_fractions, seed=seed, id_col=id_col
            ),
        )
    elif importance_target is not None:
        if not importance_n:
            raise ValueError("importance_target requires importance_n")
        out = record(
            "sampled",
            X.importance_sample(
                out,
                importance_target,
                importance_n,
                text_col=text_col,
                id_col=id_col,
                seed=seed,
            ),
        )
    if chunk_tokens:
        out = record(
            "chunked",
            X.chunk_documents(
                out, chunk_tokens, chunk_overlap, text_col=text_col, id_col=id_col
            ),
        )
        if shard_budget:
            # pack the CHUNKS into contiguous token-budget shards for the
            # writer; the composite (doc_id, chunk_id) becomes one orderable
            # key so the two-phase prefix scan applies unchanged
            keyed = out.withColumn(
                "_ck", F.col(id_col) * F.lit(1_000_000) + F.col("chunk_id")
            )
            shards = X.pack_token_shards(
                keyed, shard_budget, text_col="chunk_text", id_col="_ck"
            ).select(F.col("doc_id").alias("_ck2"), "shard_id")
            out = record(
                "sharded",
                keyed.join(shards, keyed._ck == shards._ck2).drop("_ck", "_ck2"),
            )
    elif shard_budget:
        out = record(
            "sharded",
            X.pack_token_shards(out, shard_budget, text_col=text_col, id_col=id_col),
        )
    return out, report
