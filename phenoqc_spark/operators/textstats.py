"""Text analytics over the documents table: language-ID, quality scoring,
token counting, fingerprinting.

Every operator here is pure JVM expressions (regexp/split/aggregate) —
deliberately no Python, so they run inside whole-stage codegen and are
SQL-oracle-checkable.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

# tiny deterministic stopword marker sets per language (n-gram heuristic)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "avec", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "para", "con", "por"],
}


def _tokens_expr(text_col: str):
    return F.split(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " ")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds whitespace token count + a BPE-ish subword estimate
    (word-chunks of ≤4 chars, the standard chars/4 heuristic refined with
    punctuation splits)."""
    # staged split: the aggregate lambda is CodegenFallback, so an inlined
    # split would re-tokenize per expression (see quality_score)
    df = df.select("*", _tokens_expr(text_col).alias("_toks"))
    toks = F.col("_toks")
    n_words = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )
    n_subwords = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )
    return (
        df.withColumn("n_tokens", n_words.cast("long"))
        .withColumn("n_subword_est", n_subwords.cast("long"))
        .drop("_toks")
    )


def pack_token_shards(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, shard_id): assign documents to contiguous
    token-budget shards — the sequence-packing step of a training-data
    pipeline (shard k holds the docs whose exclusive prefix token sum
    lands in [k·budget, (k+1)·budget)).

    The shard id is a pure function of the GLOBAL ordered (by ``id_col``)
    exclusive prefix sum, so the result is independent of partitioning,
    cluster size, and reruns — and SQL-recomputable.  But a global
    ``Window.orderBy`` computes that prefix sum by pulling the whole
    corpus through ONE task; instead this uses the classic two-phase
    distributed scan:

    1. range-repartition the (id, n_tokens) projection by ``id_col`` and
       sort within partitions — each partition owns a contiguous id range;
    2. per-partition local prefix sums (a window PARTITIONED by the
       range-partition id — shuffle-grouped, never single-task);
    3. per-partition totals (one tiny aggregate, #partitions rows) are
       prefix-summed on the driver and joined back as broadcast offsets.

    The step-2 frame is a lazy local checkpoint: the totals collect fills
    it, and the returned plan reads the same blocks.

    Docs longer than ``budget`` stay whole in the shard where their
    prefix lands (standard approximate packing — the splitter is a
    downstream tokenizer concern).
    """
    toks = _tokens_expr(text_col)
    n_tok = (
        F.when(
            F.col(text_col).isNull() | (F.length(F.trim(F.col(text_col))) == 0),
            F.lit(0),
        )
        .otherwise(F.size(toks))
        .cast("long")
    )
    base = df.select(F.col(id_col).alias("doc_id"), n_tok.alias("n_tokens"))
    nparts = num_partitions or base.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    ranged = (
        base.repartitionByRange(int(nparts), F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .withColumn("_pid", F.spark_partition_id())
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        "_local_prefix", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).localCheckpoint(eager=False)
    totals = {
        r._pid: r.total
        for r in local.groupBy("_pid").agg(F.sum("n_tokens").alias("total")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_expr = F.lit(0).cast("long")
    for pid, off in sorted(offsets.items()):
        off_expr = F.when(F.col("_pid") == pid, F.lit(off)).otherwise(off_expr)
    return local.select(
        "doc_id",
        "n_tokens",
        F.floor((off_expr + F.col("_local_prefix")) / F.lit(float(budget)))
        .cast("long")
        .alias("shard_id"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, chunk_text): split each document into
    token windows of ``chunk_tokens`` with ``overlap`` tokens carried
    between consecutive windows — the context-window chunking step that
    feeds fixed-length training sequences.

    Map-only JVM plan: one staged tokenize-split per row, a ``sequence``
    of window starts (stride = chunk - overlap), ``slice`` + ``concat_ws``
    per window, one ``posexplode``.  No shuffle; chunk ids are
    deterministic (0-based per doc, windows in order).  Documents with no
    tokens yield no chunks; the final window may be shorter than
    ``chunk_tokens``.  Every emitted window contains at least one UNSEEN
    token (starts run to ``n - overlap - 1``; the initial window always
    emits) — no pure-overlap tail duplicates.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.when(
            F.col(text_col).isNull() | (F.length(F.trim(F.col(text_col))) == 0),
            F.array().cast("array<string>"),
        )
        .otherwise(_tokens_expr(text_col))
        .alias("_toks"),
    )
    n = F.size("_toks")
    last_start = F.greatest(F.lit(0), n - F.lit(overlap) - 1)
    starts = F.when(n > 0, F.sequence(F.lit(0), last_start, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    windows = F.transform(
        starts, lambda s: F.slice(F.col("_toks"), s + 1, F.lit(chunk_tokens))
    )
    return staged.select(
        "doc_id", F.posexplode(windows).alias("chunk_id", "_w")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("_w").cast("long").alias("n_tokens"),
        F.array_join("_w", " ").alias("chunk_text"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds length / punctuation-ratio / stopword-ratio / mean-word-length
    features and a composite [0,1] quality score (training-data filtering
    heuristics in the Gopher/C4 style).

    The tokenize-split and the token-dependent counts are STAGED into
    their own projections before the feature arithmetic: higher-order
    functions (filter/size with lambdas) are CodegenFallback, so each
    re-inlined copy of the split would be re-evaluated interpreted per
    row (CollapseProject keeps a non-cheap alias staged when it is
    referenced more than once).  Measured 1.11 s → 0.40 s per 5k docs at
    local[32]."""
    length0 = F.length(F.col(text_col))
    staged = df.select(
        "*", _tokens_expr(text_col).alias("_toks"), length0.alias("_len")
    )
    toks, length = F.col("_toks"), F.col("_len")
    n_punct = length - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    n_words = F.when(length == 0, F.lit(0)).otherwise(F.size(toks))
    stop_arr = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    staged2 = staged.select(
        "*", n_words.alias("_nw"), n_stop.alias("_ns"), n_punct.alias("_np")
    )
    n_words, n_stop, n_punct = F.col("_nw"), F.col("_ns"), F.col("_np")
    mean_wlen = F.when(n_words > 0, (length - (n_words - 1)) / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(length > 0, n_punct / length).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    score = (
        F.when((n_words >= 5) & (n_words <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.01, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return (
        staged2.withColumn("n_words", n_words.cast("long"))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_word_len", F.round(mean_wlen, 6))
        .withColumn("quality_score", F.round(score, 2))
        .drop("_toks", "_len", "_nw", "_ns", "_np")
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``lang_pred``: argmax over per-language marker-word hit counts
    (deterministic n-gram/stopword heuristic; 'und' = undetermined).

    The split is staged into its own projection — each per-language
    filter lambda is interpreted (CodegenFallback), so an inlined split
    would re-tokenize once per language.  Measured 0.76 s → 0.51 s per
    5k docs at local[32]."""
    df = df.select("*", _tokens_expr(text_col).alias("_toks"))
    toks = F.col("_toks")
    scores = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda w: F.array_contains(arr, w))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # deterministic argmax: max over (hits, lang-reversed) struct ordering;
    # ties resolve to the lexicographically last lang name — fixed & documented
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return df.withColumn(
        "lang_pred",
        F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(F.lit("und")),
    ).drop("_toks")


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``fp``: md5 of the whitespace-normalized lowercase text — the
    deterministic document fingerprint used for resumable dedup joins
    (md5 so any SQL engine can recompute it)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fp", F.md5(norm))


def corpus_source_stats(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Per-source corpus curation stats: the per-crawl-source roll-up a
    training-data pipeline uses to decide which sources to keep, weight, or
    re-crawl (docs, token volume, exact-dup rate, language mix, share of
    short docs).

    One hash-groupBy over per-row projections (dup detection via
    count_distinct(md5(text)) — the wide text column itself never
    shuffles, only its hash).  All JVM, SQL-oracle-checkable.

    ``lang_col`` names the language column for the ``n_langs`` aggregate;
    when the column is absent from ``df`` (or ``lang_col=None``) the
    language-mix aggregate is skipped instead of raising.
    """
    toks = _tokens_expr(text_col)
    n_words = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(F.size(toks))
    has_lang = lang_col is not None and lang_col in df.columns
    proj = [
        F.col(source_col).alias("source"),
        F.md5(F.col(text_col)).alias("_h"),
        n_words.cast("long").alias("_nw"),
        (F.length(F.col(text_col)) < 100).cast("int").alias("_short"),
    ]
    if has_lang:
        proj.append(F.col(lang_col).alias("_lang"))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nw").alias("total_tokens"),
        F.round(1.0 - F.countDistinct("_h") / F.count(F.lit(1)), 6).alias("dup_rate"),
    ]
    if has_lang:
        aggs.append(F.countDistinct("_lang").alias("n_langs"))
    aggs.append(F.round(F.sum("_short") / F.count(F.lit(1)), 6).alias("short_doc_share"))
    return df.select(*proj).groupBy("source").agg(*aggs)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``text_redacted`` + per-kind counts: emails, phone-like
    numbers, and IPv4 addresses replaced by typed placeholders — the
    standard pre-training scrub pass.  Pure codegen (regexp_replace /
    regexp_count), SQL-oracle-checkable; patterns are deliberately simple
    and documented rather than exhaustive."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
    phone = r"\+?\d[\d\-\s]{7,}\d"
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, email, "<EMAIL>"), ipv4, "<IP>"),
        phone,
        "<PHONE>",
    )
    after_email = F.regexp_replace(t, email, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, ipv4, "<IP>")
    return (
        df.withColumn("n_emails", F.regexp_count(t, F.lit(email)))
        .withColumn("n_ips", F.regexp_count(after_email, F.lit(ipv4)))
        .withColumn("n_phones", F.regexp_count(after_ip, F.lit(phone)))
        .withColumn("text_redacted", redacted)
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 filters), all
    pure per-row JVM lambda expressions — no explode, no shuffle:

    - ``dup_line_frac``: fraction of lines that repeat an earlier line.
    - ``dup_line_char_frac``: fraction of characters inside those repeated
      lines.
    - ``dup_word_frac``: 1 − distinct_words/words.
    - ``top_bigram_char_frac``: character mass of the most repeated word
      bigram (occurrences × bigram length / total chars); ties resolve to
      the larger mass, which is the filter-relevant quantity.

    High values mark boilerplate/template/spam pages that repetition
    filters drop before training.

    The line/token arrays are materialized as projection columns BEFORE
    the lambda stages: Catalyst does not CSE a ``split`` repeated inside a
    lambda body, so inlining it would re-run the split per array element
    (the pitfall documented at :func:`phenoqc_spark.operators.dedup.word_shingles`).
    """
    staged = df.withColumn("_rl", F.split(F.col(text_col), r"\n")).withColumn(
        "_rt", _tokens_expr(text_col)
    )
    t = F.col(text_col)
    n_lines = F.size("_rl")
    # line i (1-based) repeats iff the same line first appears earlier
    rep_mask = F.expr(
        "transform(sequence(1, size(_rl)),"
        " i -> array_position(_rl, element_at(_rl, i)) < i)"
    )
    rep_chars = F.expr(
        "aggregate(sequence(1, size(_rl)), 0L,"
        " (acc, i) -> acc + IF(array_position(_rl, element_at(_rl, i)) < i,"
        " cast(length(element_at(_rl, i)) as bigint), 0L))"
    )
    n_rep_lines = F.size(F.filter(rep_mask, lambda x: x))
    total_chars = F.length(t)
    n_words = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size("_rt"))
    n_distinct_words = F.size(F.array_distinct("_rt"))
    # most repeated word bigram's char mass; row-local O(b²) lambda over
    # the doc's own bigrams — constant-size codegen, no shuffle
    staged = staged.withColumn(
        "_rb",
        F.when(
            F.size("_rt") >= 2,
            F.expr(
                "transform(sequence(1, size(_rt) - 1),"
                " i -> concat(element_at(_rt, i), ' ', element_at(_rt, i + 1)))"
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    big = F.col("_rb")
    top_mass = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(big),
                lambda s: F.size(F.filter(big, lambda x: x == s)) * F.length(s),
            )
        ),
        F.lit(0),
    )
    z = F.lit(0.0)
    return (
        staged.withColumn(
            "dup_line_frac",
            F.when(n_lines > 0, F.round(n_rep_lines / n_lines, 6)).otherwise(z),
        )
        .withColumn(
            "dup_line_char_frac",
            F.when(total_chars > 0, F.round(rep_chars / total_chars, 6)).otherwise(z),
        )
        .withColumn(
            "dup_word_frac",
            F.when(n_words > 0, F.round(1.0 - n_distinct_words / n_words, 6)).otherwise(z),
        )
        .withColumn(
            "top_bigram_char_frac",
            F.when(total_chars > 0, F.round(top_mass / total_chars, 6)).otherwise(z),
        )
        .drop("_rl", "_rt", "_rb")
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, token, tf, doc_freq, tfidf, rank): top-``k`` TF-IDF terms
    per document — the per-doc keyword signal corpus curation uses for
    topic mixing and boilerplate spotting.

    tf = in-document count; idf = ln((N+1)/(doc_freq+1)) + 1 (the smoothed
    formulation, no division by zero); ties rank by token ascending
    (deterministic).  Scale shape: one token explode; document frequency
    is a hash-groupBy on the (short) token key with map-side partial
    aggregation; the join back is token-keyed; the per-doc top-k window
    partitions by doc — never a global sort.

    Hub tokens ("the") are the skew risk on the token-keyed join: AQE
    skew-join splitting handles them (the session enables it), and note a
    df-frequency cut would NOT be value-preserving here — a hub token
    still scores tf·1 under the smoothed idf and can legitimately top-rank
    a repetitive document, so no silent pruning is applied.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens_expr(text_col)).alias("token")
    ).filter(F.length("token") > 0)
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    # corpus size as a broadcast 1-row aggregate: the whole plan stays
    # lazy (no construction-time action)
    n_docs = df.agg(F.countDistinct(F.col(id_col)).alias("_N"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("_N") + 1.0) / (F.col("doc_freq") + 1)) + 1.0),
                6,
            ),
        )
        .drop("_N")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "doc_freq", "tfidf", "rank")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: "list[str]",
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, score, rank): top-``k`` documents for a bag-of-words
    query under Okapi BM25 — quality-biased retrieval over the corpus
    (seed-document expansion, contamination triage, "find me more like
    these terms" curation pulls).

    Lucene-standard formulation: idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    score = Σ_t idf·tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).

    Scale shape — the query terms are LITERALS, so the whole plan is one
    corpus pass: a single groupBy(doc) computes dl plus one conditional
    ``sum(when(token = t))`` per query term (|Q|+1 algebraic aggregates,
    map-side combining; no token-keyed join at all, hence no hub-token
    skew surface).  df/N/avgdl derive from that per-doc frame via two
    tiny aggregates broadcast back as 1-row cross joins; the final top-k
    is a TakeOrderedAndProject, never a global sort.  Ties rank by
    doc_id ascending (deterministic); docs matching no term score 0 and
    are excluded.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("bm25_topk: empty query")
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens_expr(text_col)).alias("token")
    ).filter(F.length("token") > 0)
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=False)
    # per_doc feeds BOTH the stats aggregate and the scoring branch —
    # without the (lazy) local checkpoint the plan re-scans the whole
    # corpus twice.  The first action fills it with doc-count-sized
    # scalars (|Q|+2 longs per doc), not corpus text.
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("_N"),
        F.avg("dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        idf = F.log(
            1.0
            + (F.col("_N") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        part = (
            idf
            * tf
            * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl")))
        )
        score = part if score is None else score + part
    ranked = scored.select(
        "doc_id", F.round(score, 6).alias("score")
    ).filter(F.col("score") > 0)
    # limit BEFORE the rank window: orderBy+limit plans as
    # TakeOrderedAndProject (per-partition heaps, no global sort), and
    # the single-partition row_number then touches only <= k rows
    topk = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "score", "rank"
    )


_TRACKING_PARAMS = (
    "utm_source",
    "utm_medium",
    "utm_campaign",
    "utm_term",
    "utm_content",
    "gclid",
    "fbclid",
    "msclkid",
    "mc_cid",
    "mc_eid",
    "ref",
    "referrer",
)


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """(src_url, dst_url, anchor): the crawl link graph from raw HTML —
    every ``<a href>`` on every page becomes a directed edge, with the
    tag's visible text as the anchor label.  The edge list is what the
    graph kit (PageRank / HITS / communities / HyperBall) consumes to
    rank and cluster PAGES, and what anchor-text entity linking mines.

    Resolution rules (the cases a crawl actually contains):

    - absolute ``http(s)://…`` — kept as-is;
    - scheme-relative ``//host/…`` — inherits the source scheme;
    - root-relative ``/path`` — ``scheme://host`` + path;
    - document-relative ``path`` — resolved against the source URL's
      directory (RFC 3986 merge without dot-segment normalization —
      the crawl-graph consumers canonicalize separately);
    - ``#fragment`` / ``javascript:`` / ``mailto:`` / ``data:`` / empty —
      dropped.

    Scale shape: pure JVM per-row work — ``decode`` on the binary,
    ``regexp_extract_all`` for hrefs and anchors, ``arrays_zip`` +
    one ``explode`` — whole-stage codegen, no UDF, no shuffle; the page
    body never leaves its partition.  Reference analogue: none (the
    reference QCs tabular records); this is the web-scale KG input layer.
    """
    html = (
        F.decode(F.col(html_col), "utf-8")
        if dict(df.dtypes)[html_col] == "binary"
        else F.col(html_col).cast("string")
    )
    tag_re = r'(?is)<a\s[^>]*?href\s*=\s*["\']([^"\']*)["\'][^>]*>(.*?)</a>'
    hrefs = F.regexp_extract_all(html, F.lit(tag_re), 1)
    anchors = F.regexp_extract_all(html, F.lit(tag_re), 2)
    pairs = df.select(
        F.col(url_col).alias("src_url"),
        F.explode(F.arrays_zip(hrefs.alias("href"), anchors.alias("raw"))).alias("z"),
    ).select(
        "src_url",
        F.trim(F.col("z.href")).alias("href"),
        F.trim(F.regexp_replace(F.col("z.raw"), r"<[^>]*>", "")).alias("anchor"),
    )
    scheme = F.coalesce(F.try_parse_url(F.col("src_url"), F.lit("PROTOCOL")), F.lit("http"))
    host = F.try_parse_url(F.col("src_url"), F.lit("HOST"))
    path = F.coalesce(F.try_parse_url(F.col("src_url"), F.lit("PATH")), F.lit("/"))
    # the source document's directory: path up to (and incl.) the last /
    base_dir = F.regexp_replace(path, r"[^/]*$", "")
    lower = F.lower(F.col("href"))
    dst = (
        F.when(lower.startswith("http://") | lower.startswith("https://"), F.col("href"))
        .when(F.col("href").startswith("//"), F.concat(scheme, F.lit(":"), F.col("href")))
        .when(
            F.col("href").startswith("/"),
            F.concat(scheme, F.lit("://"), host, F.col("href")),
        )
        .otherwise(F.concat(scheme, F.lit("://"), host, base_dir, F.col("href")))
    )
    keep = (
        (F.length("href") > 0)
        & ~F.col("href").startswith("#")
        & ~lower.startswith("javascript:")
        & ~lower.startswith("mailto:")
        & ~lower.startswith("data:")
        & host.isNotNull()
    )
    return pairs.filter(keep).select(
        "src_url", dst.alias("dst_url"), "anchor"
    )


def html_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
) -> DataFrame:
    """Adds ``out_col``: the visible text of a raw HTML page — the
    extraction step between a crawl archive and every text operator in
    this module (quality scores, language-ID, shingling, chunking all
    consume TEXT, not markup).  Rules, in order:

    1. ``<script>``/``<style>`` elements drop WITH their contents
       (executable/presentation payload, not prose), ``<!-- -->``
       comments drop;
    2. every remaining tag becomes a single space (so adjacent block
       elements don't weld words together);
    3. the common named HTML entities decode (``&lt; &gt; &quot; &#39;
       &apos; &nbsp;`` first, ``&amp;`` LAST so double-escaped text
       decodes exactly one level, per the HTML parsing order);
    4. whitespace collapses to single spaces, trimmed.

    Numeric character references beyond ``&#39;`` are left intact —
    decoding arbitrary ``&#NNN;`` needs per-row codepoint math (a UDF);
    at curation scale the named set covers the overwhelming majority and
    the residue is harmless to shingles/quality signals.  Scale shape:
    one chain of JVM ``regexp_replace`` projections — whole-stage
    codegen, no UDF, no shuffle; the page body never leaves its
    partition.  Reference analogue: none (tabular reference); this is
    the crawl text-extraction layer feeding SURVEY §2's text ops.
    """
    s = (
        F.decode(F.col(html_col), "utf-8")
        if dict(df.dtypes)[html_col] == "binary"
        else F.col(html_col).cast("string")
    )
    s = F.regexp_replace(s, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),  # last: one decode level for double-escaped text
    ):
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return df.withColumn(out_col, s)


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "url_canonical"
) -> DataFrame:
    """Map-only URL canonicalization — the crawl-side key for URL-level
    dedup and host aggregation: lowercase scheme+host, strip a leading
    ``www.``, drop default ports (:80 http / :443 https), drop the
    fragment, remove tracking query params (utm_*, gclid, fbclid, …),
    sort the surviving params by name, and trim a trailing slash from
    non-root paths.  Everything is JVM expressions (try_parse_url + array
    ops) — pure projection, no shuffle, no Python.

    The canonical form is a KEY for grouping (dedup_exact on it, host
    stats), not a replacement for the fetch URL — original casing of
    path/query VALUES is preserved per RFC 3986 (only scheme/host are
    case-insensitive)."""
    u = F.col(url_col)
    scheme = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host = F.regexp_replace(
        F.lower(F.try_parse_url(u, F.lit("HOST"))), r"^www\.", ""
    )
    port = F.try_parse_url(u, F.lit("AUTHORITY"))
    # strip default ports: authority may carry host:port; rebuild from host
    # plus any NON-default explicit port
    explicit_port = F.regexp_extract(port, r":(\d+)$", 1)
    keep_port = F.when(
        (explicit_port == "")
        | ((scheme == "http") & (explicit_port == "80"))
        | ((scheme == "https") & (explicit_port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), explicit_port))
    raw_path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    path = F.when(
        (F.length(raw_path) > 1) & raw_path.endswith("/"),
        F.expr(f"substring(try_parse_url({url_col}, 'PATH'), 1, length(try_parse_url({url_col}, 'PATH')) - 1)"),
    ).otherwise(raw_path)
    query = F.try_parse_url(u, F.lit("QUERY"))
    tracking = F.array(*[F.lit(t) for t in _TRACKING_PARAMS])
    kept_params = F.array_sort(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda kv: (F.length(kv) > 0)
            & ~F.array_contains(tracking, F.lower(F.split_part(kv, F.lit("="), F.lit(1)))),
        )
    )
    qstr = F.when(
        F.size(kept_params) > 0, F.concat(F.lit("?"), F.array_join(kept_params, "&"))
    ).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, keep_port, path, qstr)
    return df.withColumn(out_col, canon)


def sitemap_entries(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    src_col: str = "sitemap_url",
) -> DataFrame:
    """URL-discovery records from sitemap.xml bodies:
    ``(sitemap_url, loc, lastmod, changefreq, priority, is_index)``.

    Handles both document kinds of the sitemaps.org protocol — a
    ``<urlset>`` of ``<url>`` entries and a ``<sitemapindex>`` of child
    ``<sitemap>`` pointers (``is_index`` marks the latter; feed those
    locs back through the fetch loop).  Optional ``lastmod`` /
    ``changefreq`` / ``priority`` come back NULL when absent; CDATA
    wrappers and surrounding whitespace are stripped; ``priority`` is
    try_cast so a malformed value nulls instead of failing the scan.

    Scale shape: one ``regexp_extract_all`` per field over the entry
    blocks + ``arrays_zip`` + one ``explode`` — pure JVM, map-only, the
    XML body never leaves its partition (same shape as
    :func:`extract_links`).  Sitemaps cap at 50k URLs / 50 MB by spec,
    so per-row work is bounded.
    """
    xml = (
        F.decode(F.col(xml_col), "utf-8")
        if dict(df.dtypes)[xml_col] == "binary"
        else F.col(xml_col).cast("string")
    )
    block_re = r"(?is)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)\s*>"
    blocks = F.regexp_extract_all(xml, F.lit(block_re), 1)
    is_index = F.regexp_like(xml, F.lit(r"(?is)<sitemapindex\b"))

    def field(b, tag):
        raw = F.regexp_extract(
            b, rf"(?is)<{tag}\b[^>]*>\s*(?:<!\[CDATA\[)?\s*(.*?)\s*(?:\]\]>)?\s*</{tag}\s*>", 1
        )
        return F.when(F.length(raw) > 0, raw)

    exploded = df.select(
        F.col(src_col).alias("sitemap_url"),
        is_index.alias("is_index"),
        F.explode(blocks).alias("_b"),
    )
    return exploded.select(
        "sitemap_url",
        field(F.col("_b"), "loc").alias("loc"),
        field(F.col("_b"), "lastmod").alias("lastmod"),
        field(F.col("_b"), "changefreq").alias("changefreq"),
        field(F.col("_b"), "priority").try_cast("double").alias("priority"),
        "is_index",
    ).filter(F.col("loc").isNotNull())


def surt_key(
    df: DataFrame, url_col: str = "url", out_col: str = "surt"
) -> DataFrame:
    """SURT (Sort-friendly URI Reordering Transform) key per URL — the
    canonical index key of the web-archive world (CDX files, the
    Common-Crawl URL index): scheme dropped, host lowercased +
    ``www.``-stripped + label-REVERSED and comma-joined, then ``)`` and
    the path + sorted query, e.g.
    ``https://www.sub.Example.org/A/b?z=1&a=2`` →
    ``org,example,sub)/A/b?a=2&z=1``.

    Reversing the host makes one domain's URLs (and all its subdomains)
    a contiguous lexicographic RANGE — so a sort/z-order by ``surt``
    clusters a domain's pages into the same parquet row groups, domain
    range-scans become min/max-pruned range predicates, and per-domain
    merges are sort-merge friendly.  Pure JVM expressions
    (``try_parse_url`` + array ops): map-only, no shuffle, no Python;
    unparseable URLs yield NULL.
    """
    u = F.col(url_col)
    host = F.regexp_replace(
        F.lower(F.try_parse_url(u, F.lit("HOST"))), r"^www\.", ""
    )
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    query = F.try_parse_url(u, F.lit("QUERY"))
    sorted_q = F.array_sort(
        F.filter(F.split(F.coalesce(query, F.lit("")), "&"), lambda kv: F.length(kv) > 0)
    )
    qstr = F.when(
        F.size(sorted_q) > 0, F.concat(F.lit("?"), F.array_join(sorted_q, "&"))
    ).otherwise(F.lit(""))
    key = F.when(
        host.isNotNull(), F.concat(rev_host, F.lit(")"), path, qstr)
    ).otherwise(F.lit(None).cast("string"))
    return df.withColumn(out_col, key)


def _url_filter_host(url_col: str):
    """Canonical matching host for the blocklist: lowercase, www-stripped."""
    return F.regexp_replace(
        F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST"))), r"^www\.", ""
    )


def url_filter(
    df: DataFrame,
    url_col: str = "url",
    block_hosts=None,
    block_suffixes=None,
    block_path_res=None,
    blocklist: DataFrame | None = None,
    flag_only: bool = False,
    out_col: str = "blocked",
    reason_col: str = "block_reason",
) -> DataFrame:
    """URL/domain blocklist gate — stage 1 of a crawl-curation funnel
    (the UT1/adult/ad-tracker list pass every public pipeline runs before
    touching page text).  Reference analogue: none (tabular QC); this is
    the web-corpus admission control in front of it.

    Three rule kinds, matched against the canonical host (lowercase,
    ``www.``-stripped — same normalization as :func:`url_canonicalize`):

    - ``host``:    exact canonical-host match (``spam.example.com``);
    - ``suffix``:  registrable-domain suffix — ``tracker.net`` blocks the
      host itself and every subdomain (``a.b.tracker.net``);
    - ``path_re``: Java regex tested against the URL path only.

    Small lists (the common case) arrive via the ``block_*`` kwargs and
    compile to pure-codegen literal expressions — map-only, no shuffle,
    no Python.  Million-entry lists (UT1 is ~4M domains) arrive as a
    ``blocklist`` DataFrame with columns ``(kind, value)``: the host's
    suffix chain (``a.b.c → [a.b.c, b.c, c]``, ≤ label-count entries) is
    exploded from a two-column ``(url, suffix)`` projection — the page
    payload never enters the probe — and hash-joined against the
    broadcast list, never a nested-loop join.  ``path_re`` rows are
    collected to literals with a 1 000-pattern guard since regexes
    cannot hash-join.

    The resulting per-URL hit frame scales with the BLOCKED count (a
    large corpus fraction when the list bites), so the join back onto
    the payload uses the same auto-broadcast guard as
    ``dedup.dedup_exact``: a lazy local checkpoint, materialized by one
    size aggregate; broadcast ≤ 10 M rows and ≤ 128 MB, else shuffled
    join.

    ``flag_only=True`` appends ``blocked`` + ``block_reason``
    (host > suffix > path precedence) for audit queries; default drops
    blocked rows.
    """
    host = _url_filter_host(url_col)
    path = F.coalesce(F.try_parse_url(F.col(url_col), F.lit("PATH")), F.lit(""))

    hosts = [h.lower().lstrip(".") for h in (block_hosts or [])]
    suffixes = [s.lower().lstrip(".") for s in (block_suffixes or [])]
    path_res = list(block_path_res or [])

    joined_flags = None
    if blocklist is not None:
        kinds = {r["kind"] for r in blocklist.select("kind").distinct().collect()}
        bad = kinds - {"host", "suffix", "path_re"}
        if bad:
            raise ValueError(f"unknown blocklist kinds: {sorted(bad)}")
        if "path_re" in kinds:
            pats = blocklist.filter(F.col("kind") == "path_re").select("value").limit(1001).collect()
            if len(pats) > 1000:
                raise ValueError(
                    "url_filter: >1000 path_re rows — regexes cannot hash-join; "
                    "pre-filter the list or push path rules into block_path_res"
                )
            path_res.extend(r["value"] for r in pats)
        # normalize exactly like the kwargs path (lower + strip leading
        # dots): '.domain.tld'-style entries otherwise silently never
        # match via the DataFrame path (ADVICE r5)
        hs = blocklist.filter(F.col("kind").isin("host", "suffix")).select(
            F.regexp_replace(F.lower(F.col("value")), r"^\.+", "").alias("_blv"),
            F.col("kind").alias("_blk"),
        )
        labels = F.split(host, r"\.")
        chain = F.transform(
            F.sequence(F.lit(1), F.size(labels)),
            lambda i: F.array_join(F.slice(labels, i, F.size(labels) - i + 1), "."),
        )
        probe = df.select(
            F.col(url_col).alias("_u"),
            host.alias("_host"),
            F.explode(F.when(host.isNotNull(), chain).otherwise(F.array())).alias("_sfx"),
        )
        hits = (
            probe.join(F.broadcast(hs), probe["_sfx"] == hs["_blv"], "inner")
            .filter((F.col("_blk") == "suffix") | (F.col("_sfx") == F.col("_host")))
            .groupBy("_u")
            .agg(
                F.max(F.when((F.col("_blk") == "host") & (F.col("_sfx") == F.col("_host")), 1).otherwise(0)).alias("_bh"),
                F.max(F.when(F.col("_blk") == "suffix", 1).otherwise(0)).alias("_bs"),
            )
        ).localCheckpoint(eager=False)
        # broadcast guard on estimated BYTES, not row count: unlike
        # dedup_exact's 8-byte-id drop list, each hit row carries a full
        # URL string, so a row-count-only threshold could broadcast GBs
        # (ADVICE r5).  One aggregate prices it and fills the checkpoint.
        sz = hits.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.length("_u")), F.lit(0)).alias("b"),
        ).collect()[0]
        if int(sz.n) <= 10_000_000 and int(sz.b) + 32 * int(sz.n) <= 128 * 1024 * 1024:
            hits = F.broadcast(hits)
        df = df.join(hits, df[url_col] == hits["_u"], "left").drop("_u")
        joined_flags = (F.coalesce(F.col("_bh"), F.lit(0)) == 1, F.coalesce(F.col("_bs"), F.lit(0)) == 1)

    host_hit = F.lit(False)
    if hosts:
        host_hit = host.isin(hosts)
    sfx_hit = F.lit(False)
    for s in suffixes:
        sfx_hit = sfx_hit | (host == s) | host.endswith("." + s)
    path_hit = F.lit(False)
    for p in path_res:
        path_hit = path_hit | path.rlike(p)
    if joined_flags is not None:
        host_hit = host_hit | joined_flags[0]
        sfx_hit = sfx_hit | joined_flags[1]

    reason = (
        F.when(host_hit, F.lit("host"))
        .when(sfx_hit, F.lit("suffix"))
        .when(path_hit, F.lit("path"))
        .otherwise(F.lit(None).cast("string"))
    )
    out = df.withColumn(out_col, reason.isNotNull()).withColumn(reason_col, reason)
    if joined_flags is not None:
        out = out.drop("_bh", "_bs")
    if not flag_only:
        out = out.filter(~F.col(out_col)).drop(out_col, reason_col)
    return out


def robots_rules(
    df: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """Parse per-host robots.txt bodies into a rule table:
    ``(host, agent, allow, pattern, regex, plen)``.

    RFC 9309 group semantics: consecutive ``User-agent`` lines form one
    group header; every following ``Allow``/``Disallow`` rule belongs to
    ALL agents of that header until the next header starts.  Comments
    (``#…``) are stripped, unknown directives (Crawl-delay, Sitemap)
    ignored, empty-pattern rules dropped (an empty ``Disallow:`` means
    "allow everything" — no rule).  Pattern → anchored Java regex with
    the spec's two metacharacters (``*`` → ``.*``; trailing ``$`` →
    end anchor); ``plen`` (octet length of the raw pattern) is the
    longest-match specificity key :func:`robots_allowed` ranks by.

    The parse is an Arrow-batched pandas UDF (group state is a line
    scan — not expressible as JVM columns); robots bodies are small and
    the output is a dimension table, so this is cold-path work.
    """
    import re as _re

    @F.pandas_udf(
        "array<struct<agent string, allow boolean, pattern string, regex string, plen int>>"
    )
    def _parse(bodies: pd.Series) -> pd.Series:
        def one(body):
            if body is None:
                return []
            out = []
            agents: list[str] = []
            in_rules = False
            for raw in str(body).splitlines():
                line = raw.split("#", 1)[0].strip()
                if not line or ":" not in line:
                    continue
                key, val = line.split(":", 1)
                key = key.strip().lower()
                val = val.strip()
                if key == "user-agent":
                    if in_rules:
                        agents = []
                        in_rules = False
                    if val:
                        agents.append(val.lower())
                elif key in ("allow", "disallow"):
                    in_rules = True
                    if not agents:
                        continue
                    if not val:
                        # empty pattern = "no restriction", but it still
                        # marks the group as existing for these agents:
                        # a zero-specificity allow-all keeps group choice
                        # correct without ever outranking a real rule
                        for a in agents:
                            out.append((a, True, "", "^", 0))
                        continue
                    anchored = val.endswith("$")
                    core = val[:-1] if anchored else val
                    rx = "^" + ".*".join(_re.escape(p) for p in core.split("*"))
                    if anchored:
                        rx += "$"
                    for a in agents:
                        out.append((a, key == "allow", val, rx, len(val)))
            return out

        return bodies.map(one)

    return df.select(
        F.lower(F.col(host_col)).alias("host"),
        F.explode(_parse(F.col(robots_col))).alias("r"),
    ).select("host", "r.agent", "r.allow", "r.pattern", "r.regex", "r.plen")


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    out_col: str = "crawl_allowed",
) -> DataFrame:
    """Per-URL robots.txt verdict for ``agent`` — the politeness gate a
    crawl-curation pipeline runs next to :func:`url_filter`.

    RFC 9309 evaluation: pick the most specific matching group (the
    agent's own rules when the host has any, else the ``*`` group; agent
    matching is exact-token or ``*`` — the spec's substring product-token
    match is out of scope and documented here), then the longest-match
    rule by pattern octet length decides, allow winning length ties; no
    matching rule — or no robots.txt for the host — means allowed.

    Scale shape: ``rules`` is collapsed to one array per host
    (dimension-sized: hosts × rules-per-host) and broadcast-joined on
    host; group choice, per-rule ``regexp_like`` and the longest-match
    argmax all run as higher-order-function expressions inside the same
    projection — the URL side never shuffles and never leaves the JVM.
    """
    a = agent.lower()
    per_host = rules.groupBy(F.lower(F.col("host")).alias("host")).agg(
        F.collect_list(F.struct("agent", "allow", "regex", "plen")).alias("_rules")
    )
    u = urls.withColumn(
        "_h", F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    ).withColumn(
        "_p", F.coalesce(F.try_parse_url(F.col(url_col), F.lit("PATH")), F.lit("/"))
    )
    joined = u.join(F.broadcast(per_host), u["_h"] == per_host["host"], "left").drop(
        "host"
    )
    rl = F.coalesce(F.col("_rules"), F.array().cast(
        "array<struct<agent string, allow boolean, regex string, plen int>>"
    ))
    has_own = F.exists(rl, lambda r: r["agent"] == F.lit(a))
    group = F.filter(
        rl,
        lambda r: F.when(has_own, r["agent"] == F.lit(a)).otherwise(
            r["agent"] == F.lit("*")
        ),
    )
    best = F.aggregate(
        F.filter(group, lambda r: F.regexp_like(F.col("_p"), r["regex"])),
        F.struct(F.lit(-1).alias("plen"), F.lit(True).alias("allow")),
        lambda acc, r: F.when(
            (r["plen"] > acc["plen"])
            | ((r["plen"] == acc["plen"]) & r["allow"] & ~acc["allow"]),
            F.struct(r["plen"].alias("plen"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    return joined.withColumn(out_col, best["allow"]).drop("_h", "_p", "_rules")


def url_host_stats(df: DataFrame, url_col: str = "url", text_col: str | None = "text") -> DataFrame:
    """Per-host curation roll-up over a web corpus: docs, distinct paths,
    corpus share, and (when ``text_col`` is present) exact-dup rate within
    the host — the table a crawl-curation pass uses to up/down-weight or
    block hosts.

    JVM ``try_parse_url`` for host/path (malformed URLs bucket under the NULL host instead of raising); one hash-groupBy (text contributes
    only its md5, as in :func:`corpus_source_stats`).  Share-of-corpus
    comes from a lazy 1-row total broadcast-cross-joined back onto the
    grouped result — NOT an unpartitioned window, which would funnel the
    host-grained frame (10⁷–10⁸ rows at web scale) through one task.
    """
    has_text = text_col is not None and text_col in df.columns
    proj = [
        F.try_parse_url(F.col(url_col), F.lit("HOST")).alias("host"),
        F.try_parse_url(F.col(url_col), F.lit("PATH")).alias("_path"),
    ]
    if has_text:
        proj.append(F.md5(F.col(text_col)).alias("_h"))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("_path").alias("n_paths"),
    ]
    if has_text:
        aggs.append(
            F.round(1.0 - F.countDistinct("_h") / F.count(F.lit(1)), 6).alias("dup_rate")
        )
    grouped = df.select(*proj).groupBy("host").agg(*aggs)
    total = grouped.agg(F.sum("n_docs").alias("_total"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .withColumn("corpus_share", F.round(F.col("n_docs") / F.col("_total"), 6))
        .drop("_total")
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    reference: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, mean_nll): per-document mean negative
    log-likelihood under a corpus unigram model — the cheap stand-in for
    the KenLM-perplexity quality filter (high mean_nll = surprising/noisy
    text, low = boilerplate-ish).  ``reference`` optionally supplies the
    corpus the model is estimated from (default: ``df`` itself — the
    usual self-scored setup).

    Model: p(w) = count(w) / total with add-one smoothing over the
    observed vocabulary; unseen tokens (only possible when ``reference``
    differs from ``df``) fall back to the add-one floor 1/(total+V).

    Scale shape: the model is one token hash-groupBy over the reference
    (map-side partial); scoring joins each doc's tokens to the frequency
    table on the token key (AQE skew-join splits hub tokens) and
    aggregates per doc — the text column itself never shuffles, only
    (doc_id, token) pairs.
    """
    ref = reference if reference is not None else df
    ref_toks = ref.select(F.explode(_tokens_expr(text_col)).alias("token")).filter(
        F.length("token") > 0
    )
    freq = ref_toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = freq.agg(
        F.sum("cnt").alias("_total"), F.count(F.lit(1)).alias("_vocab")
    )
    doc_toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens_expr(text_col)).alias("token")
    ).filter(F.length("token") > 0)
    scored = (
        doc_toks.join(freq, "token", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                    / (F.col("_total") + F.col("_vocab"))
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.round(F.avg("nll"), 6).alias("mean_nll")
    )


def deterministic_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reproducible stratified Bernoulli sample — the data-mixing
    primitive: keep a row iff
    ``md5(id ':' seed)``-derived uniform < fraction(stratum).

    Unlike ``rand()``/``sampleBy`` (whose draws depend on partitioning and
    row order), membership here is a PURE FUNCTION of (id, seed): reruns,
    resumed jobs, and different cluster sizes select the identical row
    set, and any SQL engine can recompute the selection (md5 rather than
    xxhash64 for cross-engine parity — the portability rationale of
    :func:`fingerprint`).  Strata absent from ``fractions`` default to 0
    (dropped).  Pure map-side filter; expected stratum size is
    fraction × stratum count (binomial, not exact-count sampling — at
    corpus scale the relative error is negligible; for exact counts use a
    rank-window per stratum, which costs a shuffle).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 15
            ),
            16,
            10,
        ).cast("double")
        / float(16**15)
    )
    frac = F.lit(0.0)
    for stratum, p in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == stratum, F.lit(float(p))).otherwise(frac)
    return df.filter(u < frac)


def importance_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, log_weight): DSIR-style bag-of-words importance
    weight per document — ``log p_target(doc) - log p_raw(doc)`` under two
    add-one-smoothed unigram models (the raw model from ``df`` itself,
    the target model from the small high-quality ``target`` corpus).
    High log_weight = looks like the target distribution.  This is the
    data-SELECTION twin of :func:`unigram_logprob_score`'s quality
    filter, per Data Selection via Importance Resampling (Xie et al.,
    2023) with unigram features.

    Scale shape: two token hash-groupBys build the models (map-side
    partials; the target one is tiny and broadcast); scoring joins each
    doc's (doc_id, token) pairs against both frequency tables on the
    token key (AQE splits hub-token skew) and sums per doc — the text
    column itself never shuffles.
    """
    raw_toks = df.select(F.explode(_tokens_expr(text_col)).alias("token")).filter(
        F.length("token") > 0
    )
    raw_freq = raw_toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt_r"))
    raw_tot = raw_freq.agg(
        F.sum("cnt_r").alias("_total_r"), F.count(F.lit(1)).alias("_vocab_r")
    )
    tgt_toks = target.select(
        F.explode(_tokens_expr(target_text_col)).alias("token")
    ).filter(F.length("token") > 0)
    tgt_freq = tgt_toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt_t"))
    tgt_tot = tgt_freq.agg(
        F.sum("cnt_t").alias("_total_t"), F.count(F.lit(1)).alias("_vocab_t")
    )
    doc_toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens_expr(text_col)).alias("token")
    ).filter(F.length("token") > 0)
    scored = (
        doc_toks.join(raw_freq, "token", "left")
        .join(F.broadcast(tgt_freq), "token", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "doc_id",
            (
                F.log(
                    (F.coalesce(F.col("cnt_t"), F.lit(0)) + 1.0)
                    / (F.col("_total_t") + F.col("_vocab_t"))
                )
                - F.log(
                    (F.coalesce(F.col("cnt_r"), F.lit(0)) + 1.0)
                    / (F.col("_total_r") + F.col("_vocab_r"))
                )
            ).alias("lw"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("lw"), 6).alias("log_weight"),
    )


def importance_sample(
    df: DataFrame,
    target: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sample-without-replacement of ``n`` docs by
    DSIR importance weight: Gumbel-top-k over
    ``log_weight + Gumbel(md5(id:seed))`` (Efraimidis–Spirakis via the
    Gumbel-max trick).  The Gumbel noise is a pure function of (id, seed)
    — like :func:`deterministic_stratified_sample`, membership is
    rerun/partitioning/cluster-size invariant and SQL-recomputable.

    Returns the selected rows of ``df``.  The only corpus-wide ordered
    step is a top-``n`` (TakeOrderedAndProject) over (doc_id, key) pairs,
    never the text.
    """
    w = importance_weights(df, target, text_col, id_col, target_text_col)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}"))), 1, 15
            ),
            16,
            10,
        ).cast("double")
        / float(16**15)
    )
    gumbel = -F.log(-F.log(u + F.lit(1e-18)))
    keyed = w.select("doc_id", (F.col("log_weight") + gumbel).alias("_key"))
    chosen = keyed.orderBy(F.desc("_key"), F.asc("doc_id")).limit(n).select("doc_id")
    return df.join(
        F.broadcast(chosen.withColumnRenamed("doc_id", id_col)), id_col, "left_semi"
    )


def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits): documents sharing any word ``n``-gram with the
    benchmark suite — the decontamination pass every LLM data pipeline
    runs before training.

    Scale shape: the benchmark shingle set is tiny (suites are thousands
    of items) and broadcast; the corpus side is the map-only
    ``shingle_sets`` projection exploded once and semi-joined — no
    corpus-side shuffle beyond the per-doc count aggregate."""
    from .dedup import shingle_sets

    bench = (
        shingle_sets(benchmark.select(F.lit(0).alias("doc_id"), F.col(bench_text_col).alias("text")), n)
        .select(F.explode("sh_set").alias("shingle"))
        .distinct()
    )
    corpus = shingle_sets(df, n, text_col, id_col).select(
        "doc_id", F.explode("sh_set").alias("shingle")
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def pmi_cooccurrence(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_docs: int = 2,
    max_df: "int | None" = None,
) -> DataFrame:
    """(token_a, token_b, n_a, n_b, n_ab, pmi): document-level pointwise
    mutual information over distinct-token presence — which terms co-occur
    in the same documents more than chance (collocation mining, topic
    seeds, synonym candidates for the entity-linking dictionaries).

    pmi = ln(n_ab · N / (n_a · n_b)) with N = corpus document count,
    n_x = documents containing x, n_ab = documents containing both;
    pairs ordered token_a < token_b.

    Plan: distinct (doc, token) explode → optional ``max_df`` cut → ONE
    per-doc self-join (equi-join on the doc id, ``a < b`` filter) → pair
    hash aggregate → two broadcast joins against the token-df table →
    one-row corpus-size cross join (the ``tfidf_topk`` lazy-broadcast
    pattern).  The token-df table is vocabulary-sized, always broadcast.

    Scale guard: pair cardinality is Σ t_doc²/2 — dominated by stopwords
    (present in every document).  ``max_df`` drops tokens in more than
    that many documents BEFORE the self-join (the standard collocation
    cut: ubiquitous tokens carry ~zero PMI by construction, so the cut
    removes the explosion without touching the informative pairs);
    ``min_pair_docs`` bounds the OUTPUT.  At web scale set
    ``max_df ≈ 0.1·N`` and pre-sample documents — PMI estimates converge
    long before the corpus does.  Reference analogue: none
    (training-data extra)."""
    toks = (
        df.select(F.col(id_col).alias("_doc"), F.explode(_tokens_expr(text_col)).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    # three consumers read this subtree (df table, both self-join sides);
    # without a materialization the TEXT table is scanned and tokenized
    # three times — localCheckpoint computes the (doc, token) projection
    # once and the heavy text column never re-enters the plan
    toks = toks.localCheckpoint(eager=False)
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("n") <= max_df)
        toks = toks.join(F.broadcast(dfreq.select("token")), "token", "left_semi")
    n_docs = df.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).alias("N")
    )
    pairs = (
        toks.alias("x")
        .join(toks.alias("y"), "_doc")
        .filter(F.col("x.token") < F.col("y.token"))
        .groupBy(
            F.col("x.token").alias("token_a"), F.col("y.token").alias("token_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_docs)
    )
    da = F.broadcast(dfreq.select(F.col("token").alias("token_a"), F.col("n").alias("n_a")))
    db = F.broadcast(dfreq.select(F.col("token").alias("token_b"), F.col("n").alias("n_b")))
    return (
        pairs.join(da, "token_a")
        .join(db, "token_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token_a",
            "token_b",
            "n_a",
            "n_b",
            "n_ab",
            F.round(
                F.log(F.col("n_ab") * F.col("N") / (F.col("n_a") * F.col("n_b"))), 6
            ).alias("pmi"),
        )
    )


def cap_per_host(
    df: DataFrame,
    k: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep at most ``k`` documents per URL host — the domain-balancing
    cap every web-corpus recipe applies (a handful of mega-hosts
    otherwise dominate the training mix).  Selection within a host is a
    deterministic pseudo-random rank: ``md5(id:seed)`` ascending with the
    id as tiebreak — rerun / partitioning / cluster-size invariant (the
    ``deterministic_stratified_sample`` contract), so the kept set is
    reproducible and SQL-recomputable.  Malformed URLs bucket under the
    NULL host and are capped as one group rather than dropped.

    Plan shape: ``row_number() ≤ k`` per host — on Spark ≥3.5 this plans
    through WindowGroupLimit, a map-side partial top-k per host BEFORE
    the exchange (measured for the rank=1 case in BENCH/EVENTS.md), so a
    mega-host's millions of rows collapse to ≤k per map partition and
    the hot-host skew never reaches the shuffle."""
    from pyspark.sql import Window

    rnd = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    w = Window.partitionBy(
        F.try_parse_url(F.col(url_col), F.lit("HOST"))
    ).orderBy(rnd, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
