"""Document deduplication operators for large-scale training-data pipelines.

All operators work over a ``documents(doc_id, text, …)`` table and are
designed for the 100 TB regime:

- exact: duplicate decision on a (md5, id) projection, broadcast
  anti-join drop-list — the wide text column never enters an Exchange.
- paragraph-level: cross-doc boilerplate removal via a hash-only DF
  aggregate + literal-broadcast map-only rewrite.
- minhash LSH: shingle → minhash signature (one Arrow-free pass using
  xxhash64 + aggregate) → band buckets → join within buckets only; the
  candidate verify is an exact Jaccard on the candidate pairs (tiny).
- simhash: 64-bit sign-sum fingerprint from per-token md5 bits; near-dups
  via hamming distance on bucketed prefixes.
- n-gram Jaccard: exact pairwise within shingle-sharing buckets (never a
  full cross join).
- embedding cosine: see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# ---------------------------------------------------------------------------
# Scan-parallelism guard
# ---------------------------------------------------------------------------

def _spread(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Scale-adaptive parallelism floor for CPU-heavy per-row stages.

    A small dimension-style parquet input (one file, one row group) scans
    as 1-2 partitions, so a map-heavy stage (shingling, signatures) runs
    on 1-2 cores no matter how many the cluster has.  When the input's
    scan parallelism is below ``sc.defaultParallelism``, hash-repartition
    by the (unique) id column — a tiny deterministic shuffle of the raw
    rows that unlocks full-cluster parallelism for everything downstream.
    At production scale the input has far more partitions than cores and
    this is a no-op, so nothing here is tuned to local mode."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(id_col))
    return df


def _has_min_words(text_col: str, n: int):
    """Predicate equivalent to ``size(split(trim(text), '\\s+')) >= n`` but
    ~10× cheaper where it matters: this filter is predicate-pushed into
    the parquet scan, whose parallelism on single-file inputs is 1-2
    partitions — a full regexp split per row there costs more than the
    whole downstream (parallel) shingle stage.

    Equivalence (exact, not approximate): for non-null t,
    ``size(split(trim(t), '\\s+'))`` = (number of maximal whitespace runs
    in trim(t)) + 1, because Java's split with limit -1 keeps the empty
    leading/trailing tokens produced by leading/trailing non-0x20
    whitespace (trim strips spaces only).  ``^(?:\\S*\\s++){n-1}``
    anchors at the start and consumes exactly one maximal run per group —
    the POSSESSIVE ``\\s++`` is load-bearing: a backtrackable ``\\s+``
    could split one run across two groups and over-count (measured
    divergence on '\\n\\na').  Verified equal on an adversarial edge-case
    set plus 5k random whitespace-heavy strings for n in 2..4 (r6).
    NULL text: both forms yield NULL → row dropped.
    """
    if n < 2:
        return F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= n
    return F.trim(F.col(text_col)).rlike(r"^(?:\S*\s++){%d}" % (n - 1))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_drop: "bool | str" = "auto",
    broadcast_drop_limit: int = 10_000_000,
    assert_unique_ids: bool = False,
) -> DataFrame:
    """Keep the min-id representative per identical text (md5 groupBy).

    ``id_col`` must uniquely identify rows (the standard doc-id contract,
    shared with :func:`minhash_near_dedup`): the drop decision is keyed by
    id, so rows sharing an id would be dropped or kept together.  Pass
    ``assert_unique_ids=True`` to pay one extra probe job that raises on a
    violated contract instead of silently mis-dropping.

    The wide text column never enters an Exchange: the duplicate decision is
    made on a two-column ``(md5(text), id)`` projection (hash computed before
    the shuffle), producing the *drop list* — ids of non-representative
    duplicates only.  The full rows are then filtered with one
    ``left_anti`` join against that list.

    ``broadcast_drop``: the drop list's size scales with the duplicate
    count — a large corpus fraction in dup-heavy web data — so an
    unconditional broadcast can OOM the driver at the 100 TB design point.

    - ``"auto"`` (default): local-checkpoint the drop list (32 B/row;
      its count materializes the checkpoint, which the join then reads)
      and broadcast only when it holds ≤ ``broadcast_drop_limit`` rows
      (default 10 M ≈ 80 MB of long ids), else fall back to the shuffled
      anti-join.
    - ``True``: always broadcast (fully lazy, no probe job — the caller
      asserts the dup count is small).
    - ``False``: shuffled anti-join; at the 100 TB tier prefer writing the
      drop list to a staging table bucketed like the corpus on ``id_col``
      (storage-partitioned anti-join, still no text shuffle) — the plain
      shuffled anti-join is the local-mode stand-in.
    """
    pairs = df.select(F.md5(F.col(text_col)).alias("_h"), F.col(id_col))
    if assert_unique_ids:
        dup = pairs.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            raise ValueError(
                f"dedup_exact: id_col {id_col!r} is not unique "
                f"(e.g. {dup[0][0]!r}); rows sharing an id would be "
                "dropped/kept together"
            )
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    dropped = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(id_col)
    )
    if broadcast_drop == "auto":
        dropped = dropped.localCheckpoint(eager=False)
        broadcast_drop = dropped.count() <= broadcast_drop_limit
    if broadcast_drop:
        dropped = F.broadcast(dropped)
    return df.join(dropped, id_col, "left_anti")


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(content_hash, n_docs, keep_id) for every duplicated text."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Shingles + exact n-gram Jaccard
# ---------------------------------------------------------------------------

def _shingle_expr(n: int) -> str:
    """The sliding-window n-gram expression over a staged ``_w`` token
    array, in INDEX form: ``concat(_w[i], ' ', _w[i+1], …)`` instead of
    ``concat_ws(' ', slice(_w, i+1, n))`` — the slice form allocates a
    fresh n-element array per window position, which measured 2× the
    whole construction's cost (1.27 s vs 0.61 s per pass on 50k docs,
    r6).  Output strings are identical: split() never yields NULL
    elements, so concat == concat_ws here, and indices stay in bounds
    under ANSI (i ≤ size-n ⇒ i+n-1 ≤ size-1)."""
    parts = ", ' ', ".join(f"_w[i + {j}]" if j else "_w[i]" for j in range(n))
    gram = f"concat({parts})" if n > 1 else "_w[i]"
    return f"transform(sequence(0, size(_w) - {n}), i -> {gram})"


def word_shingles(df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, shingle) distinct word n-grams — JVM-side only:
    split once into an array column, then a sliding window via transform
    over an index sequence.  The split MUST happen in its own projection:
    inlining it inside the transform lambda re-evaluates the regexp split
    for every shingle position (Catalyst does not CSE across lambda
    scopes), which measured ~7 s cold on 5k docs vs <1 s split-once."""
    words = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("_w")
    )
    # NB: sequence(0, -1) is [0, -1] in Spark (inferred negative step), not
    # empty — a doc with fewer than n words must be guarded explicitly.
    sh = F.when(
        F.size("_w") >= n,
        F.expr(_shingle_expr(n)),
    ).otherwise(F.array().cast("array<string>"))
    return words.select("doc_id", F.explode(sh).alias("shingle")).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 2,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with shingle-Jaccard ≥ threshold.

    Pair generation happens *within shingle buckets* (self-join on the
    shingle key), so complexity is Σ bucket², never |docs|².  Hub shingles
    (stop-word bigrams) are the skew risk: ``max_doc_freq`` drops shingles
    shared by more than that many *unique shingle-sets* from candidate
    generation only — the exact Jaccard is still computed over the full
    sets (``array_intersect``), so reported values never change; what the
    cap trades away is recall for pairs whose ONLY shared shingles are
    hub shingles (near-dup pairs share many, so a generous cap loses
    nothing in practice — the standard web-dedup df-cut).  Default None =
    exact, every pair considered; AQE skew-join splitting handles residual
    imbalance.

    As in :func:`minhash_lsh_pairs`, identical shingle-sets collapse to a
    representative before the pair join (web corpora are duplicate-heavy; a
    group of g identical docs would otherwise contribute O(g²) rows inside
    every shared-shingle bucket).  Output is provably identical: shared
    shingles and Jaccard are functions of the shingle sets alone, so
    cross-group pairs inherit the representative pair's jaccard and
    within-group pairs are exactly 1.0 (and share every shingle, so the
    original join always emitted them for non-empty sets).

    The two tables reused by the pair, expansion and membership branches
    (per-doc ``members`` and per-set ``groups``) are eager local
    checkpoints.  At the 100 TB tier, materialize them to a staging table
    instead (same plan shape, executor-disk instead of block storage).
    """
    # Word-count pre-filter instead of a post-hoc n_sh > 0 filter: the
    # latter gets predicate-pushed to the scan with the WHOLE shingle
    # construction inlined (one full extra interpreted evaluation per row);
    # the word-count form pushes down as a cheap split+size.  _spread
    # floors the map parallelism for small single-file inputs.
    df = _spread(
        df.select(F.col(id_col), F.col(text_col)).filter(
            _has_min_words(text_col, n)
        ),
        id_col,
    )
    doc_sets = shingle_sets(df, n, text_col, id_col).select(
        "doc_id",
        "sh_set",
        "n_sh",
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.expr("transform(sh_set, x -> cast(xxhash64(x) as string))")
                ),
            )
        ).alias("set_hash"),
    )
    members = doc_sets.select("set_hash", "doc_id")
    groups = doc_sets.groupBy("set_hash").agg(
        F.min("doc_id").alias("rep_id"),
        F.min_by("n_sh", "doc_id").alias("n_sh"),
        F.min_by("sh_set", "doc_id").alias("sh_set"),
    )
    # eager localCheckpoint of the two REUSED intermediates instead of
    # caching the full per-doc array table: members is ~50 B/doc (the
    # members evaluation column-prunes sh_set away after set_hash),
    # groups is one row per unique set.  Same rationale as
    # _minhash_rep_graph.
    members = members.localCheckpoint(eager=True)
    groups = groups.localCheckpoint(eager=True)
    rep_sh = groups.select("set_hash", "rep_id", F.explode("sh_set").alias("shingle"))
    if max_doc_freq is not None:
        keep = (
            rep_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
        rep_sh = rep_sh.join(keep, "shingle")
    pairs = (
        rep_sh.alias("l")
        .join(rep_sh.alias("r"), "shingle")
        .filter(F.col("l.rep_id") < F.col("r.rep_id"))
        .groupBy(
            F.col("l.set_hash").alias("sh_a"), F.col("r.set_hash").alias("sh_b")
        )
        .agg(F.count(F.lit(1)).alias("_n_shared_kept"))
        .drop("_n_shared_kept")
    )
    # exact verify on the FULL sets (independent of any df-cut above)
    ga = groups.select(
        F.col("set_hash").alias("sh_a"), F.col("sh_set").alias("set_a"), F.col("n_sh").alias("n_a")
    )
    gb = groups.select(
        F.col("set_hash").alias("sh_b"), F.col("sh_set").alias("set_b"), F.col("n_sh").alias("n_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    rep_pairs = (
        pairs.join(ga, "sh_a")
        .join(gb, "sh_b")
        .withColumn("jaccard", inter / (F.col("n_a") + F.col("n_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("sh_a", "sh_b", "jaccard")
    )
    within = (
        members.alias("m1")
        .join(members.alias("m2"), "set_hash")
        .filter(F.col("m1.doc_id") < F.col("m2.doc_id"))
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    cross = (
        rep_pairs.join(
            members.select(F.col("set_hash").alias("sh_a"), F.col("doc_id").alias("ma")), "sh_a"
        )
        .join(members.select(F.col("set_hash").alias("sh_b"), F.col("doc_id").alias("mb")), "sh_b")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(doc_src, doc_dst, containment): DIRECTED shingle containment
    C(src→dst) = |S_src ∩ S_dst| / |S_src| for pairs ≥ ``threshold`` —
    the quote/excerpt detector Jaccard structurally misses: a paragraph
    wholly quoted inside a long page has containment 1.0 from the quote
    side but Jaccard ≈ |quote|/|page| ≈ 0 (the Broder containment
    measure; what CCNet-style pipelines use to drop wrapped copies of
    short canonical texts).

    Same scale skeleton as :func:`ngram_jaccard_pairs`: identical
    shingle-sets collapse to one representative before the bucket self-
    join (duplicate-heavy corpora would otherwise pay O(g²) per bucket),
    candidates come from shared-shingle buckets (never all-pairs), the
    optional ``max_doc_freq`` df-cut drops hub shingles from candidate
    generation ONLY (exact verification always uses the full sets, so
    reported containments never change), and the exact verify is one
    ``array_intersect`` per candidate rep pair.  Both directions of a
    candidate pair are scored; each direction passes independently.
    Within-group (identical-set) members emit 1.0 both ways.
    """
    # Same pre-filter + parallelism-floor rationale as ngram_jaccard_pairs.
    df = _spread(
        df.select(F.col(id_col), F.col(text_col)).filter(
            _has_min_words(text_col, n)
        ),
        id_col,
    )
    doc_sets = shingle_sets(df, n, text_col, id_col).select(
        "doc_id",
        "sh_set",
        "n_sh",
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.expr("transform(sh_set, x -> cast(xxhash64(x) as string))")
                ),
            )
        ).alias("set_hash"),
    )
    members = doc_sets.select("set_hash", "doc_id")
    groups = doc_sets.groupBy("set_hash").agg(
        F.min("doc_id").alias("rep_id"),
        F.min_by("n_sh", "doc_id").alias("n_sh"),
        F.min_by("sh_set", "doc_id").alias("sh_set"),
    )
    # see ngram_jaccard_pairs: checkpoint the two small reused tables,
    # never the full per-doc array table
    members = members.localCheckpoint(eager=True)
    groups = groups.localCheckpoint(eager=True)
    rep_sh = groups.select("set_hash", "rep_id", F.explode("sh_set").alias("shingle"))
    if max_doc_freq is not None:
        keep = (
            rep_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
        rep_sh = rep_sh.join(keep, "shingle")
    cand = (
        rep_sh.alias("l")
        .join(rep_sh.alias("r"), "shingle")
        .filter(F.col("l.rep_id") < F.col("r.rep_id"))
        .select(
            F.col("l.set_hash").alias("sh_a"), F.col("r.set_hash").alias("sh_b")
        )
        .distinct()
    )
    ga = groups.select(
        F.col("set_hash").alias("sh_a"), F.col("sh_set").alias("set_a"), F.col("n_sh").alias("n_a")
    )
    gb = groups.select(
        F.col("set_hash").alias("sh_b"), F.col("sh_set").alias("set_b"), F.col("n_sh").alias("n_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    scored = (
        cand.join(ga, "sh_a")
        .join(gb, "sh_b")
        .select("sh_a", "sh_b", inter.alias("_i"), "n_a", "n_b")
    )
    fwd = scored.select(
        F.col("sh_a").alias("sh_s"), F.col("sh_b").alias("sh_d"),
        (F.col("_i") / F.col("n_a")).alias("containment"),
    )
    rev = scored.select(
        F.col("sh_b").alias("sh_s"), F.col("sh_a").alias("sh_d"),
        (F.col("_i") / F.col("n_b")).alias("containment"),
    )
    rep_pairs = fwd.unionByName(rev).filter(F.col("containment") >= threshold)
    within = (
        members.alias("m1")
        .join(members.alias("m2"), "set_hash")
        .filter(F.col("m1.doc_id") != F.col("m2.doc_id"))
        .select(
            F.col("m1.doc_id").alias("doc_src"),
            F.col("m2.doc_id").alias("doc_dst"),
            F.lit(1.0).alias("containment"),
        )
    )
    cross = (
        rep_pairs.join(
            members.select(F.col("set_hash").alias("sh_s"), F.col("doc_id").alias("doc_src")), "sh_s"
        )
        .join(members.select(F.col("set_hash").alias("sh_d"), F.col("doc_id").alias("doc_dst")), "sh_d")
        .select("doc_src", "doc_dst", F.round("containment", 6).alias("containment"))
    )
    return within.unionByName(cross)


def shingle_sets(df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, sh_set array<string>, n_sh) — the distinct word-n-gram set
    per doc as a pure per-row projection: split once, slide a window with
    transform, array_distinct.  NO explode and NO shuffle — the whole
    shingle-set computation stays inside one codegen stage, which is the
    100 TB-friendly shape (the alternative explode→distinct→collect_set
    round-trips the corpus through two shuffles)."""
    words = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("_w")
    )
    sh = F.when(
        F.size("_w") >= n,
        F.expr(f"array_distinct({_shingle_expr(n)})"),
    ).otherwise(F.array().cast("array<string>"))
    # n_sh as size() OF THE STAGED COLUMN, not a second textual copy of the
    # shingle expression: two copies in one projection are each evaluated
    # per row (Catalyst does not CSE them) — measured 2x the shingle cost.
    arr = words.select("doc_id", sh.alias("sh_set"))
    return arr.select("doc_id", "sh_set", F.size("sh_set").alias("n_sh"))


def minhash_doc_sets(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sh_set, n_sh, set_hash, sig) — the per-doc shingle-set +
    minhash-signature staging table, one map-only codegen stage.

    This is the table to MATERIALIZE for incremental corpus dedup: write
    it for the kept corpus once, and each new batch only computes its own
    rows before joining against the stored ones
    (:func:`minhash_near_dedup_incremental`).  set_hash is md5 over the
    sorted per-shingle hashes (hashing each shingle first sidesteps
    separator-collision issues in the concat — shingles themselves contain
    spaces); sig is one nested-lambda expression, NOT num_hashes separate
    projections (k separate array_min(transform(...)) columns inline k
    copies of the loop into the generated class — measured ~18 s one-time
    compile+JIT at k=32; the nested form is a constant-size code unit)."""
    sets = shingle_sets(df, n, text_col, id_col)
    return sets.select(
        "doc_id",
        "sh_set",
        "n_sh",
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(F.expr("transform(sh_set, x -> cast(xxhash64(x) as string))")),
            )
        ).alias("set_hash"),
        F.expr(
            f"transform(sequence(0, {num_hashes - 1}),"
            f" i -> array_min(transform(sh_set, x -> xxhash64(x, i))))"
        ).alias("sig"),
    )


def _band_rows(groups: DataFrame, bands: int, rows_per_band: int, key: str = "set_hash"):
    """(key, band, bucket) LSH band rows from (key, sig)."""
    return groups.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig").getItem(b * rows_per_band + r)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(key, "bb.band", "bb.bucket")


def _minhash_rep_graph(
    df: DataFrame,
    threshold: float,
    num_hashes: int,
    bands: int,
    n: int,
    text_col: str,
    id_col: str,
):
    """Shared LSH core: (members, rep_pairs).

    members = (set_hash, doc_id) per doc; rep_pairs = verified near-dup
    edges BETWEEN unique shingle-sets (sh_a, sh_b, jaccard ≥ t).  See
    ``minhash_lsh_pairs`` for the design rationale.

    The two reused intermediates are materialized via eager
    ``localCheckpoint`` rather than ``persist``: (a) ``members`` is
    a ~50 B/doc projection whose evaluation column-prunes the signature
    away entirely, and (b) ``groups`` is one row per UNIQUE shingle-set.
    The previous design cached the full per-doc (sh_set, sig) table —
    hundreds of bytes per doc of deserialized arrays — and repeated
    invocations in one session accumulated those blocks until every later
    query slowed 2-3× (measured); the checkpointed small tables also cut
    the lineage, so the final orderBy's range-sampling pass re-reads
    materialized blocks instead of re-running the joins' upstream.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # Pre-filter on word count INSTEAD of post-filtering n_sh > 0: they are
    # equivalent (>= n words <=> >= 1 shingle), but the n_sh filter gets
    # predicate-pushed to the scan with the WHOLE shingle construction
    # inlined into it — one full extra interpreted evaluation per input row
    # at scan parallelism.  The word-count form pushes down as a cheap
    # split+size.  _spread floors the map parallelism (see its doc).
    df = _spread(
        df.select(F.col(id_col), F.col(text_col)).filter(
            _has_min_words(text_col, n)
        ),
        id_col,
    )
    doc_sets = minhash_doc_sets(df, num_hashes, n, text_col, id_col)
    # sig/n_sh/sh_set are functions of the shingle set: any member
    # represents the group; min_by keeps it deterministic.  Partial
    # aggregation collapses duplicate groups map-side, so at most one
    # (array, sig) per set_hash per input partition reaches the shuffle.
    # (Tried and rejected: folding collect_list(doc_id) into this agg so
    # members derive from the groups checkpoint — the Generate over the
    # checkpoint loses the members table's accurate small-size estimate,
    # the expansion joins stop broadcasting, and the skewed SMJ made the
    # expansion 0.5 s → 10 s at sf1.0.)
    members = doc_sets.select("set_hash", "doc_id")
    groups = doc_sets.groupBy("set_hash").agg(
        F.min("doc_id").alias("rep_id"),
        F.min_by("sig", "doc_id").alias("sig"),
        F.min_by("n_sh", "doc_id").alias("n_sh"),
        F.min_by("sh_set", "doc_id").alias("sh_set"),
    )
    members = members.localCheckpoint(eager=True)
    groups = groups.localCheckpoint(eager=True)
    # --- banded LSH over unique shingle-sets ---------------------------
    band_rows = groups.select(
        "set_hash",
        "rep_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig").getItem(b * rows_per_band + r)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("set_hash", "rep_id", "bb.band", "bb.bucket")
    cand = (
        band_rows.alias("l")
        .join(band_rows.alias("r"), ["band", "bucket"])
        .filter(F.col("l.rep_id") < F.col("r.rep_id"))
        .select(
            F.col("l.set_hash").alias("sh_a"),
            F.col("r.set_hash").alias("sh_b"),
        )
        .distinct()
    )
    # --- exact verify: array_intersect on the reps' shingle sets -------
    ga = groups.select(F.col("set_hash").alias("sh_a"), F.col("sh_set").alias("set_a"), F.col("n_sh").alias("n_a"))
    gb = groups.select(F.col("set_hash").alias("sh_b"), F.col("sh_set").alias("set_b"), F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    rep_pairs = (
        cand.join(ga, "sh_a")
        .join(gb, "sh_b")
        .withColumn("jaccard", inter / (F.col("n_a") + F.col("n_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("sh_a", "sh_b", "jaccard")
    )
    # rep_pairs is consumed more than once downstream (the pair
    # expansion under a global sort samples+sorts, i.e. executes its
    # subtree twice; near-dedup's connected components iterate over
    # it) — materialize the tiny verified-edge set once instead of
    # re-running the band join + exact verify per consumer pass
    rep_pairs = rep_pairs.localCheckpoint(eager=True)
    return members, rep_pairs


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs via banded LSH, verified by exact shingle Jaccard.

    rows/band = num_hashes/bands; a pair collides in ≥1 band with
    probability 1-(1-j^r)^b.  Candidates (bucket-join, skew-safe via AQE)
    are then verified exactly — output is (doc_a, doc_b, jaccard ≥ t).

    Plan shape (tuned for both the 100 TB tier and cold single-shot cost):

    1. ``shingle_sets`` computes each doc's distinct shingle set as an
       array column in ONE map-only codegen stage — no explode, no shuffle.
       set_hash, set size, and the full minhash signature (elementwise
       ``array_min(transform(sh_set, x -> xxhash64(x, i)))``) are further
       projections of that same stage.
    2. Identical shingle-sets collapse to one representative BEFORE the LSH
       join (standard web-dedup staging: exact-collapse, then near-dup over
       unique content).  Web corpora are duplicate-heavy; without this, a
       group of g identical docs costs O(g²) inside every band bucket and
       again in candidate-distinct and exact-verify.  Output is provably
       identical: buckets and exact Jaccard are functions of the shingle
       set alone, so member candidacy ⟺ representative candidacy and
       member jaccard = representative jaccard; within-group pairs are
       jaccard 1.0 and always candidates (equal signatures).
    3. Exact verify uses ``array_intersect`` on the two reps' set arrays in
       the candidate projection — no shingle re-join, no pair groupBy.

    NOTE the output is the full PAIR LIST, quadratic in duplicate-group
    size by definition; for corpus dedup at the 100 TB tier use
    ``minhash_near_dedup``, which never materializes member pairs.

    The small reused core tables are eager local checkpoints; see
    ``_minhash_rep_graph``.  At the 100 TB tier, materialize them to a
    staging table instead — same plan, executor-disk instead of
    block-manager memory.
    """
    members, rep_pairs = _minhash_rep_graph(
        df, threshold, num_hashes, bands, n, text_col, id_col
    )
    # --- expand group members back into doc pairs ----------------------
    # within-group: identical sets → jaccard exactly 1.0, always candidates.
    # The checkpointed members table carries an accurate (small) size
    # estimate, so this self-join plans as a broadcast hash join whose
    # quadratic OUTPUT is generated on the stream side — which is still
    # partitioned by doc_id hash, so a duplicate group's pairs are spread
    # evenly across tasks and hot groups cause no skew.  (Tried and
    # rejected: explicit salting — it forced the join out of the
    # broadcast plan and measured 5× slower.)
    within = (
        members.alias("m1")
        .join(members.alias("m2"), "set_hash")
        .filter(F.col("m1.doc_id") < F.col("m2.doc_id"))
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    cross = (
        rep_pairs.join(
            members.select(F.col("set_hash").alias("sh_a"), F.col("doc_id").alias("ma")), "sh_a"
        )
        .join(members.select(F.col("set_hash").alias("sh_b"), F.col("doc_id").alias("mb")), "sh_b")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash bigint) — 64-bit sign-sum of per-token hash bits.

    Computed entirely with JVM expressions: tokens explode, each bit's
    contribution is ±1 summed per doc, then bits reassemble via sum of
    shifted sign bits.

    ``hash_fn='xxhash64'`` (default) is the fast path; ``'md5'`` derives a
    60-bit token hash from the md5 hex digest so the whole fingerprint is
    recomputable by any SQL engine (the same portability rationale as
    ``textstats.fingerprint``) — used by the driver's oracle-checked query.
    """
    if hash_fn == "xxhash64":
        th = F.xxhash64("tok")
    elif hash_fn == "md5":
        # 15 hex chars = 60 bits < 2^63: overflow-safe signed cast, identical
        # in any engine with md5/substr/conv semantics
        th = F.conv(F.substring(F.md5("tok"), 2, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_fn '{hash_fn}'")
    # SHAPE NOTE (measured, round 3 — 1M docs × 35 tokens, local[32],
    # steady-state best-of-2 on the fingerprint stage alone):
    #   - this form (explode tokens → ONE HashAggregate with 64 scalar
    #     ±1-sum aggregates):                               3.6 s
    #   - posexplode bits → groupBy(doc, bit) → reassemble: 60.6 s for the
    #     full near-dup job vs 23.7 s (the 64× row blow-up through the
    #     aggregate machinery swamps any codegen-unit saving)
    #   - map-only nested-lambda fold over sequence(0,63):  9.5 s
    #     (aggregate-in-aggregate; no shuffle but 64 passes per row)
    #   - zip_with bit-count accumulator array:             8.8 s
    #     (per-token 64-int array allocation → GC pressure)
    # The k-wide HashAggregate pathology that hit minhash does NOT apply
    # here: these are plain sum() updates (no inlined shingle loops), the
    # one-time JIT amortizes, and the alternatives lose 2.5-17× steady
    # state.  Keep this form.
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " ")).alias(
            "tok"
        ),
    ).withColumn("th", th)
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = tokens.groupBy("doc_id").agg(*bit_aggs)
    expr = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        shifted = F.shiftleft(bit, i)
        expr = shifted if expr is None else expr.bitwiseXOR(shifted)
    return sums.select("doc_id", expr.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ max) via block LSH with ``max_hamming + 1``
    blocks: a pair with ≤ max_hamming differing bits cannot touch every one
    of max_hamming+1 disjoint blocks (pigeonhole), so it must agree on at
    least one block — the join is bucket-local, never all-pairs, with
    guaranteed recall 1.0 at the requested threshold for any
    max_hamming ≤ 63."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_blocks = max_hamming + 1
    # Distribute the 64 simhash bits over n_blocks contiguous blocks
    # (widths differ by at most 1 when 64 % n_blocks != 0).
    base, extra = divmod(64, n_blocks)
    widths = [base + (1 if b < extra else 0) for b in range(n_blocks)]
    offsets = [sum(widths[:b]) for b in range(n_blocks)]
    sh = simhash(df, text_col, id_col, hash_fn)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        (
                            F.col("simhash")
                            if widths[b] >= 64
                            else F.shiftrightunsigned(F.col("simhash"), offsets[b]).bitwiseAND(
                                F.lit((1 << widths[b]) - 1)
                            )
                        ).alias("key"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.block", "bk.key")
    cand = (
        blocks.alias("l")
        .join(blocks.alias("r"), ["block", "key"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Paragraph-level (sub-document) dedup: cross-doc boilerplate removal
# ---------------------------------------------------------------------------

def boilerplate_paragraphs(
    df: DataFrame,
    min_df: int = 5,
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """(para_hash, df_count) for paragraphs occurring in MORE than
    ``min_df`` distinct documents — the nav/header/footer/cookie-banner
    mass that document-level dedup cannot see (it repeats across
    otherwise-unique pages).

    Scale shape: paragraphs are split per row, de-duplicated within the
    doc (``array_distinct`` → the count is document frequency), hashed in
    the same projection, and ONLY the 32-byte hash enters the groupBy
    shuffle — paragraph text never leaves its map stage.  Whitespace-only
    paragraphs are ignored.
    """
    paras = df.select(
        F.explode(
            F.array_distinct(F.split(F.col(text_col), f"\\Q{sep}\\E"))
        ).alias("_p")
    ).filter(F.length(F.trim("_p")) > 0)
    return (
        paras.select(F.md5("_p").alias("para_hash"))
        .groupBy("para_hash")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") > min_df)
    )


def strip_paragraphs(
    df: DataFrame,
    bad_hashes: list,
    text_col: str = "text",
    sep: str = "\n\n",
    out_col: str = "text_clean",
) -> DataFrame:
    """Map-only rewrite: drop paragraphs whose md5 is in ``bad_hashes``
    (a driver-side list, inlined as ONE array literal — a single Literal
    node, not len(bad_hashes) expression-tree children, so the generated
    code stays constant-size however long the list is; the broadcast-side
    of the two-pass boilerplate pipeline).  Whitespace-only paragraphs are
    preserved as document structure.  Pure projection: no join, no
    shuffle, the corpus is touched exactly once.  ``array_contains`` on
    the literal is a linear probe per paragraph — fine for the
    nav/footer-sized sets this targets; beyond that use the anti-join
    variant described in :func:`paragraph_dedup`."""
    arr = (
        F.lit([str(h) for h in bad_hashes])
        if bad_hashes
        else F.array().cast("array<string>")
    )
    paras = F.split(F.col(text_col), f"\\Q{sep}\\E")
    kept = F.filter(
        paras,
        lambda p: (F.length(F.trim(p)) == 0) | ~F.array_contains(arr, F.md5(p)),
    )
    return df.withColumn(out_col, F.array_join(kept, sep))


def strip_paragraphs_join(
    df: DataFrame,
    flagged: DataFrame,
    id_col: str,
    text_col: str = "text",
    sep: str = "\n\n",
    out_col: str = "text_clean",
) -> DataFrame:
    """Scalable twin of :func:`strip_paragraphs` for boilerplate sets too
    large to inline as one literal (``flagged`` = DataFrame with a
    ``para_hash`` column, never collected to the driver): posexplode the
    paragraphs, broadcast-left-join the flagged hashes, keep unmatched (or
    whitespace-only) paragraphs, reassemble in position order with
    ``array_sort(collect_list(struct(pos, p)))``.  Costs one broadcast of
    the hash table plus one shuffle of the KEPT paragraphs keyed by
    ``id_col`` — still no corpus×corpus join, and the driver never holds
    the hash list.  Null ``text`` reassembles to ``''`` (the literal path
    propagates null) — the only semantic difference."""
    paras = df.select(
        F.col(id_col).alias("_sid"),
        F.posexplode_outer(F.split(F.col(text_col), f"\\Q{sep}\\E")).alias("_pos", "_p"),
    )
    kept = (
        paras.join(
            F.broadcast(flagged.select(F.col("para_hash").alias("_bh"))),
            F.md5(F.col("_p")) == F.col("_bh"),
            "left",
        )
        .filter(
            (F.length(F.trim(F.col("_p"))) == 0)
            | F.col("_bh").isNull()
        )
        .groupBy("_sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("_pos"), F.col("_p")))),
                    lambda s: s["_p"],
                ),
                sep,
            ).alias(out_col)
        )
    )
    return df.join(kept, F.col(id_col) == F.col("_sid"), "left").drop("_sid").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(""))
    )


def paragraph_dedup(
    df: DataFrame,
    min_df: int = 5,
    text_col: str = "text",
    sep: str = "\n\n",
    out_col: str = "text_clean",
    max_boilerplate: int = 5_000,
    id_col: str | None = None,
) -> DataFrame:
    """Cross-document paragraph dedup (boilerplate removal) as one
    two-pass pipeline:

    1. :func:`boilerplate_paragraphs` — hash-only aggregate of paragraph
       document frequency (the only shuffle, 32 bytes/paragraph);
    2. collect the flagged hashes IF the set is literal-sized
       (``max_boilerplate``, default 5 000 — ``strip_paragraphs`` probes
       the literal linearly per paragraph, so the ceiling is deliberately
       low);
    3. rewrite the corpus: :func:`strip_paragraphs` (map-only, literal
       probe) for small sets, or — when the set exceeds the guard and
       ``id_col`` is given — :func:`strip_paragraphs_join` (broadcast
       anti-join + ordered reassembly), which never materializes the hash
       list on the driver at all.  Without ``id_col`` an oversized set
       raises rather than silently crawling through a 100k-entry linear
       probe.
    """
    flagged = boilerplate_paragraphs(df, min_df, text_col, sep)
    bad = [r.para_hash for r in flagged.limit(max_boilerplate + 1).collect()]
    if len(bad) > max_boilerplate:
        if id_col is not None:
            return strip_paragraphs_join(df, flagged, id_col, text_col, sep, out_col)
        raise ValueError(
            f"boilerplate set exceeds max_boilerplate={max_boilerplate}; "
            "pass id_col= to switch to the broadcast anti-join rewrite "
            "(strip_paragraphs_join), or raise the guard deliberately"
        )
    return strip_paragraphs(df, sorted(bad), text_col, sep, out_col)


def minhash_near_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_by: "str | None" = None,
) -> DataFrame:
    """Corpus near-deduplication: keep one representative per
    near-duplicate cluster; returns the surviving rows of ``df``.

    ``keep_by`` picks the survivor policy: ``None`` (default) keeps the
    min-id member; a numeric column name keeps the member with the MAX
    value of that column (a quality score — real curation keeps the best
    near-dup, not the first-crawled one), ties broken by min id.  Null
    scores never win unless the whole cluster is null.  Cost of the
    policy: one extra equi-join shuffling (id, score) pairs — ~16 B/row,
    the text still never shuffles.

    This is the 100 TB dedup PRODUCT (the pair list of
    ``minhash_lsh_pairs`` is quadratic in duplicate-group size by
    definition; the keep-list never materializes member pairs):

    1. the shared LSH core yields verified near-dup edges BETWEEN unique
       shingle-sets (``_minhash_rep_graph`` — duplicate groups are one
       node each);
    2. connected components over that set-level graph (ontology-scale,
       not corpus-scale: nodes = unique contents with ≥1 near-dup edge)
       assign each content a cluster;
    3. the cluster keep-id is the min member doc id; everything else is
       dropped via one left-anti join.  Docs with fewer than n words have
       no shingle set and are always kept.
    """
    from .canonicalize import connected_components

    members, rep_pairs = _minhash_rep_graph(
        df, threshold, num_hashes, bands, n, text_col, id_col
    )
    cc = connected_components(
        rep_pairs.select(F.col("sh_a").alias("src"), F.col("sh_b").alias("dst"))
    )
    comp = (
        members.join(cc.withColumnRenamed("node", "set_hash"), "set_hash", "left")
        .withColumn("component", F.coalesce("component", F.col("set_hash")))
    )
    if keep_by is None:
        keep = comp.groupBy("component").agg(F.min("doc_id").alias("keep_id"))
    else:
        # argmax(score) with min-id tiebreak as one struct-min aggregate
        # (partial map-side combine applies, same as the min-id path);
        # null scores map to +inf negated-score so they sort last
        qual = df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(-F.col(keep_by).cast("double"), F.lit(float("inf"))).alias("_nq"),
        )
        keep = (
            comp.join(qual, "doc_id")
            .groupBy("component")
            .agg(F.min(F.struct(F.col("_nq"), F.col("doc_id").alias("keep_id"))).alias("_w"))
            .select("component", F.col("_w.keep_id").alias("keep_id"))
        )
    dropped = (
        comp.join(keep, "component")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(dropped, id_col, "left_anti")


def dedup_exact_incremental(
    new_df: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dedup a NEW batch against the already-ingested corpus: keep
    rows whose ``md5(text)`` appears neither in the ``seen_hashes`` state
    (one ``content_hash`` column) nor earlier in the batch itself
    (min-id representative, as :func:`dedup_exact`).

    The batch-side cost is the batch, never the corpus: one left-anti
    join against the state on the 16-byte hash (broadcast when the state
    is small; at scale keep the state bucketed by hash and let the
    anti-join co-locate) plus the intra-batch drop-list.  Append
    ``SELECT md5(text), id`` of the KEPT rows to the state after each
    batch; the state is value-distinct by construction so it needs no
    compaction (unlike the near-dedup signature state).
    """
    if "content_hash" not in seen_hashes.columns:
        raise ValueError("seen_hashes state needs a 'content_hash' column")
    vs_state = new_df.join(
        seen_hashes.select(F.col("content_hash").alias("_h")),
        F.md5(F.col(text_col)) == F.col("_h"),
        "left_anti",
    )
    return dedup_exact(vs_state, text_col, id_col)


def compact_dedup_state(
    spark,
    state_path: str,
    retention_filter=None,
    shuffle_partitions: "int | None" = None,
) -> dict:
    """Compact the append-only seen-content signature state used by
    :func:`minhash_near_dedup_incremental` / streaming near-dedup.

    The ingest contract appends every batch's signature rows, so content
    seen in k batches holds k rows.  Those rows are exact duplicates —
    (sig, n_sh, sh_set) are pure functions of the content behind
    ``set_hash`` — so ``dropDuplicates(set_hash)`` is a LOSSLESS rewrite:
    anchoring behavior after compaction is identical (the incremental
    operator already collapses duplicate hashes at read time; compaction
    just stops paying that read+collapse cost forever).  One hash
    aggregate over the state, no corpus involvement.

    ``retention_filter`` (optional Column) ages out signatures — a LOSSY
    policy decision (e.g. drop rows of contents not worth anchoring
    against anymore); pass it only when re-emitting old near-dups is
    acceptable.

    The swap is write-to-sibling + two renames through the Hadoop
    FileSystem for ``state_path``'s own scheme.  Renames are atomic on
    HDFS/local but NOT on object stores, and the state must be quiescent
    (no concurrent micro-batch appends) during the swap — at the
    lakehouse tier make the state an Iceberg/Delta table and express this
    same rewrite as a transactional overwrite instead.

    Streaming states carry a ``batch_id`` partition column (the
    exactly-once replay contract of ``stream_near_dedup_docs``); it is
    preserved as MIN(batch_id) — the first-sighting batch — and the
    rewrite stays partitioned by it.  That keeps the replay rule
    ``batch_id < current`` correct after compaction: content first seen
    in an older batch still anchors a replayed batch, while content
    first seen IN the replayed batch is still excluded (no
    self-suppression).  (Replay of the one batch whose commit was lost
    is the only case compaction could disturb, which is why the swap
    already requires a quiescent stream.)

    Returns ``{"rows_before", "rows_after"}``.
    """
    # recover from a swap that crashed between its two renames (state
    # staged at __old, replacement never landed) — same discipline as
    # resume.merge_state_into; without it the read below fails or, worse,
    # a caller probing existence would treat the state as empty
    _base = state_path.rstrip("/")
    _hpath = spark._jvm.org.apache.hadoop.fs.Path
    _fs = _hpath(_base).getFileSystem(spark._jsc.hadoopConfiguration())
    if not _fs.exists(_hpath(_base)) and _fs.exists(_hpath(_base + "__old")):
        if not _fs.rename(_hpath(_base + "__old"), _hpath(_base)):
            raise IOError(f"compact_dedup_state: could not recover {_base}__old")
    state = spark.read.parquet(state_path)
    for c in ("set_hash", "sig", "n_sh", "sh_set"):
        if c not in state.columns:
            raise ValueError(f"state at {state_path} lacks column {c!r}")
    before = state.count()
    has_batch = "batch_id" in state.columns
    if has_batch:
        compacted = state.groupBy("set_hash").agg(
            F.min_by("sig", "batch_id").alias("sig"),
            F.min_by("n_sh", "batch_id").alias("n_sh"),
            F.min_by("sh_set", "batch_id").alias("sh_set"),
            F.min("batch_id").alias("batch_id"),
        )
    else:
        compacted = state.select("set_hash", "sig", "n_sh", "sh_set").dropDuplicates(
            ["set_hash"]
        )
    if retention_filter is not None:
        compacted = compacted.filter(retention_filter)
    if shuffle_partitions:
        compacted = compacted.coalesce(int(shuffle_partitions))
    base = state_path.rstrip("/")
    tmp, old = base + "__compacting", base + "__old"
    writer = compacted.write.mode("overwrite")
    if has_batch:
        writer = writer.partitionBy("batch_id")
    writer.parquet(tmp)
    after = spark.read.parquet(tmp).count()
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(base).getFileSystem(hconf)
    fs.delete(hpath(old), True)
    if not fs.rename(hpath(base), hpath(old)):
        raise IOError(f"compact_dedup_state: could not stage {base} aside")
    if not fs.rename(hpath(tmp), hpath(base)):
        fs.rename(hpath(old), hpath(base))  # roll back
        raise IOError(f"compact_dedup_state: could not swap in {tmp}")
    fs.delete(hpath(old), True)
    return {"rows_before": before, "rows_after": after}


def minhash_near_dedup_incremental(
    new_df: DataFrame,
    existing_sets: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against an already-processed corpus WITHOUT
    touching the old documents — the production ingest path: maintain a
    :func:`minhash_doc_sets` state table covering every content SEEN so
    far (append each batch's rows after processing — seen, not just kept:
    a new doc can near-match a previously-dropped doc that chained into a
    kept cluster, and anchoring must catch that transitive case); each
    batch computes only its own signatures and joins against the state.

    Semantics (equal to re-running :func:`minhash_near_dedup` over
    old ∪ new and taking the new rows, provided new ids sort after old
    ids — test-asserted equivalence):

    1. collapse identical new shingle-sets to a representative;
    2. LSH band join new-reps × (old-sets ∪ new-reps); exact
       ``array_intersect`` verify on candidates (identical contents fall
       out of the same buckets with jaccard 1.0 — no special exact-dup
       pass needed);
    3. connected components over the NEW-new edge graph (old docs are
       immutable, so old-old edges are irrelevant); any new cluster with
       ≥1 verified edge to an old set is ANCHORED — all its members drop;
       unanchored clusters keep their min-id member;
    4. docs with no shingle set (< n words) are always kept, as in the
       batch operator.

    ``existing_sets`` needs columns (set_hash, n_sh, sh_set, sig) — extra
    columns (doc_id) are ignored; duplicate set_hashes are collapsed.

    The batch's signature table and its per-set groups are each read by
    several branches, so both are lazy local checkpoints, filled by the
    first job that reads them (the connected-components rounds).
    """
    from .canonicalize import connected_components

    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # word-count pre-filter (== n_sh > 0, but pushes down cheaply; see
    # _minhash_rep_graph) + scan-parallelism floor.  Only the signature
    # staging narrows/filters — the kept output below still comes from the
    # full new_df (short docs emit no sets and are always kept).
    new_staged = _spread(
        new_df.select(F.col(id_col), F.col(text_col)).filter(
            _has_min_words(text_col, n)
        ),
        id_col,
    )
    new_sets = minhash_doc_sets(
        new_staged, num_hashes, n, text_col, id_col
    ).localCheckpoint(eager=False)
    new_groups = new_sets.groupBy("set_hash").agg(
        F.min("doc_id").alias("rep_id"),
        F.min_by("sig", "doc_id").alias("sig"),
        F.min_by("n_sh", "doc_id").alias("n_sh"),
        F.min_by("sh_set", "doc_id").alias("sh_set"),
    ).localCheckpoint(eager=False)
    old = existing_sets.select("set_hash", "sig", "n_sh", "sh_set").dropDuplicates(
        ["set_hash"]
    )
    nb = _band_rows(new_groups, bands, rows_per_band)
    ob = _band_rows(old, bands, rows_per_band)

    inter = F.size(F.array_intersect("set_a", "set_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)

    def _sides(g, suffix):
        return g.select(
            F.col("set_hash").alias(f"sh_{suffix}"),
            F.col("sh_set").alias(f"set_{suffix}"),
            F.col("n_sh").alias(f"n_{suffix}"),
        )

    # new × new edges (between distinct new contents)
    nn_cand = (
        nb.alias("l")
        .join(nb.alias("r"), ["band", "bucket"])
        .filter(F.col("l.set_hash") < F.col("r.set_hash"))
        .select(F.col("l.set_hash").alias("sh_a"), F.col("r.set_hash").alias("sh_b"))
        .distinct()
    )
    nn_edges = (
        nn_cand.join(_sides(new_groups, "a"), "sh_a")
        .join(_sides(new_groups, "b"), "sh_b")
        .filter(jac >= threshold)
        .select("sh_a", "sh_b")
    )
    # new × old anchors
    no_cand = (
        nb.alias("l")
        .join(ob.withColumnRenamed("set_hash", "old_hash").alias("r"), ["band", "bucket"])
        .select(F.col("l.set_hash").alias("sh_a"), F.col("old_hash").alias("sh_b"))
        .distinct()
    )
    anchored_hashes = (
        no_cand.join(_sides(new_groups, "a"), "sh_a")
        .join(_sides(old, "b"), "sh_b")
        .filter(jac >= threshold)
        .select(F.col("sh_a").alias("set_hash"))
        .distinct()
    )
    cc = connected_components(
        nn_edges.select(F.col("sh_a").alias("src"), F.col("sh_b").alias("dst"))
    )
    comp = (
        new_sets.select("set_hash", "doc_id")
        .join(cc.withColumnRenamed("node", "set_hash"), "set_hash", "left")
        .withColumn("component", F.coalesce("component", F.col("set_hash")))
    )
    anchored_comps = (
        comp.select("set_hash", "component")
        .join(anchored_hashes, "set_hash")
        .select("component")
        .distinct()
    )
    keep = (
        comp.join(anchored_comps, "component", "left_anti")
        .groupBy("component")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    dropped = (
        comp.join(keep, "component", "left")
        .filter(F.col("keep_id").isNull() | (F.col("doc_id") != F.col("keep_id")))
        .select(F.col("doc_id").alias(id_col))
    )
    return new_df.join(dropped, id_col, "left_anti")


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing span fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): per document the DISTINCT set of window-min k-gram
    hashes, exploded to (doc_id, fp) rows.

    Pigeonhole guarantee: two documents sharing any VERBATIM token run of
    length ≥ k + window − 1 share at least one fingerprint — the
    substring-level dup signal (Lee et al., "Deduplicating Training Data
    Makes Language Models Better") that doc-level minhash misses when the
    copied span is a small fraction of each document.  Documents shorter
    than k + window − 1 tokens emit no fingerprints (exact dedup owns
    that regime).

    Spark shape: ONE map-only stage — tokenize, k-gram hash array via a
    ``transform`` over positions, window-min selection via a second
    ``transform`` + ``array_min``, ``array_distinct``, explode.  The gram
    array is materialized as a real column between two adjacent Projects
    (no Filter in between) so the window lambda references it instead of
    re-inlining the gram construction per window position — the measured
    Catalyst pitfall documented at :func:`ngram_jaccard_pairs`.
    Fingerprint density is ~2/(window+1) per token, independent of
    document count — storage scales linearly with corpus tokens.

    ``hash_fn='xxhash64'`` is the fast path; ``'md5'`` derives a 60-bit
    hash from the md5 hex digest so any SQL engine can recompute the
    fingerprints (the differential-oracle path, same rationale as
    :func:`simhash`).
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be ≥ 1")
    # scan-parallelism floor for the hash-heavy map stage (see _spread)
    df = _spread(df.select(F.col(id_col), F.col(text_col)), id_col)

    # Every intermediate array (tokens, gram hashes, fingerprints) is
    # STAGED as a real column in its own projection, referenced by the
    # next one — the previous shape built the token split inline inside
    # the gram transform's lambda, and Catalyst re-evaluates a lambda's
    # free subtrees per element (no CSE across lambda scopes): the
    # executed plan held 22 copies of split(...), i.e. the tokenizer ran
    # per gram POSITION.  Measured 86 s → 0.9 s for the sf0.01
    # shared-span query.  The when() size-guards double as the
    # outside-lambda references that keep CollapseProject from inlining
    # the staged alias.
    toks_df = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(
            F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " "
        ).alias("_toks"),
    )
    toks = F.col("_toks")

    def gram_hash(i):
        # index form instead of slice(toks, i, k): the slice allocates a
        # fresh k-element array per gram position (measured 2× the whole
        # construction cost on the shingle twin, r6).  element_at is
        # 1-based like slice; i + j ≤ size stays in bounds under ANSI.
        # concat_ws over the elements == concat_ws over the sliced array
        # (split yields no NULL elements).
        g = F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])
        if hash_fn == "xxhash64":
            return F.xxhash64(g)
        if hash_fn == "md5":
            return F.conv(F.substring(F.md5(g), 2, 15), 16, 10).cast("long")
        raise ValueError(f"unknown hash_fn '{hash_fn}'")

    # sequence(1, 0) is [1, 0] in Spark (inferred negative step), not empty
    # — short docs must be guarded explicitly (see word_shingles)
    grams = F.when(
        F.size(toks) >= k,
        F.transform(F.sequence(F.lit(1), F.size(toks) - k + 1), gram_hash),
    ).otherwise(F.array().cast("array<bigint>"))
    with_grams = toks_df.select("doc_id", grams.alias("_grams"))
    fps = with_grams.select(
        "doc_id",
        F.when(
            F.size(F.col("_grams")) >= window,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(F.col("_grams")) - window + 1),
                    # least() over the window's elements == array_min over
                    # the slice (no NULLs present) with zero per-position
                    # array allocation (least needs ≥2 args; window=1 is
                    # the element itself)
                    lambda j: (
                        F.element_at(F.col("_grams"), j)
                        if window == 1
                        else F.least(
                            *[F.element_at(F.col("_grams"), j + w) for w in range(window)]
                        )
                    ),
                )
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("_fps"),
    )
    return fps.select("doc_id", F.explode("_fps").alias("fp"))


def shared_span_pairs(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: "int | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing ≥ ``min_shared``
    winnowing fingerprints — candidate verbatim-span copies, ordered
    doc_a < doc_b.

    Scale shape: fingerprints bucket-join on the 8-byte fp (the only
    shuffle carries (fp, doc_id) — text never leaves the map side), then
    one pair-count aggregate.  A fingerprint held by D documents emits
    D·(D−1)/2 pairs, so corpus-wide boilerplate spans are quadratic
    poison: ``max_df`` drops fingerprints whose doc-frequency exceeds it
    (those spans are :func:`paragraph_dedup`'s job — a span in thousands
    of docs is template text, not a copy worth pairing).  The df-cut is
    one extra hash aggregate on fp, the same bound-the-bucket move as
    ``ngram_jaccard_pairs(max_df=...)``.
    """
    fps = winnow_fingerprints(df, k, window, text_col, id_col, hash_fn)
    if max_df is not None:
        keep_fp = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df")).filter(
            F.col("_df") <= max_df
        )
        fps = fps.join(keep_fp.select("fp"), "fp")
    a = fps.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = fps.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dup_span_stats(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, n_fingerprints, n_shared, dup_span_fraction): per-document
    fraction of winnowing fingerprints whose corpus doc-frequency is
    ≥ ``min_df`` — the "how much of this document is copied from
    somewhere" curation signal (the doc-level aggregate of
    :func:`shared_span_pairs`'s pair view; Lee et al. report substring
    dups that doc-level near-dedup retains).

    Quadratic-free by construction: where the pair view emits
    D·(D−1)/2 rows per shared fingerprint, this scores each document
    against the corpus-wide doc-frequency table — boilerplate spans held
    by thousands of documents cost one count, not a clique.

    Spark shape: fingerprints (8-byte fp + id — text never leaves the
    map side), ONE Exchange on fp for the doc-frequency window, one
    hash aggregate back to doc grain.  Documents shorter than
    k + window − 1 tokens emit no fingerprints and are absent (exact
    dedup owns that regime — same contract as
    :func:`winnow_fingerprints`).
    """
    from pyspark.sql import Window

    fps = winnow_fingerprints(df, k, window, text_col, id_col, hash_fn)
    # fingerprint sets are distinct per doc, so count-over-fp = doc freq
    with_df = fps.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
    return with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum((F.col("_df") >= min_df).cast("long")).alias("n_shared"),
        (
            F.sum((F.col("_df") >= min_df).cast("long"))
            / F.count(F.lit(1))
        ).alias("dup_span_fraction"),
    )
