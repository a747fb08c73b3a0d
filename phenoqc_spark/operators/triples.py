"""Triple factory: parsed pages → long-format (subj, pred, obj) triples.

The reference adds one ``{ONTO}_ID`` column per (phenotype column ×
ontology) (reference: src/phenoqc/batch_processing.py:594-620); exploded to
long format that is exactly a (subj, pred, obj) set (SURVEY.md §1.1.5).

Fact path (SURVEY.md §4.3), composed by ``pipeline.build_triples``:

    records ──explode──> (url, sid, column, term)   [terms_long, ONE Generate]
        └─ normalize + link per batch (mapInPandas) [broadcast dicts,
           per-executor memo: hub terms are cache hits; no join-back]
        └─ triples: (subj, pred, obj) set dedup     [the one exchange]

``mapping_stats`` links the distinct (column, term_norm) pairs once
and counts them per (column, ontology): one explode, no join.
``resolve_vocab`` (distinct normalized terms → links, unmapped rows
included) serves the wide QC table, ``map_wide``.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, functions as F

from ..functions.linking import link_distinct_terms
from ..functions.text import normalize_terms, sql_ident, sql_string

PHENO_COLUMNS = [
    "PrimaryPhenotype",
    "SecondaryPhenotype",
    "TertiaryPhenotype",
    "DiseaseCode",
]
ARRAY_COLUMNS = ["ObservedFeatures"]


def terms_long(
    records: DataFrame,
    pheno_columns: List[str] | None = None,
    array_columns: List[str] | None = None,
    id_col: str = "SampleID",
    url_col: str = "url",
    normalize: bool = True,
) -> DataFrame:
    """(url, sample_id, column, term, term_norm) from wide phenotype columns.

    Scalar and array columns (ObservedFeatures, element-wise) feed ONE
    combined ``array<struct<column, term>>`` and ONE Generate: a
    ``unionByName`` of per-kind explodes would re-run the upstream extract
    once per branch.  All JVM-side except the NFKC normalization (Arrow
    pandas UDF).
    """
    pheno_columns = PHENO_COLUMNS if pheno_columns is None else pheno_columns
    array_columns = ARRAY_COLUMNS if array_columns is None else array_columns

    def kv(name, term):
        return f"struct({sql_string(name)} AS `column`, {term} AS term)"

    pieces = []
    if pheno_columns:
        pieces.append(f"array({', '.join(kv(c, sql_ident(c)) for c in pheno_columns)})")
    for c in array_columns:
        pieces.append(
            f"transform(coalesce({sql_ident(c)}, CAST(array() AS array<string>)),"
            f" x -> {kv(c, 'x')})"
        )
    if not pieces:
        raise ValueError("terms_long needs at least one phenotype or array column")
    kvs = pieces[0] if len(pieces) == 1 else f"concat({', '.join(pieces)})"
    out = (
        records.selectExpr(
            f"{sql_ident(url_col)} AS url",
            f"{sql_ident(id_col)} AS sample_id",
            f"explode({kvs}) AS kv",
        )
        .selectExpr("url", "sample_id", "kv.`column`", "kv.term")
        .where("term IS NOT NULL")
    )
    if normalize:
        out = out.withColumn("term_norm", normalize_terms("term"))
    return out


def resolve_vocab(terms: DataFrame, resolver_bc) -> DataFrame:
    """Distinct normalized terms → (term_norm, ontology, term_id, tier, score).

    Includes unmapped rows (NULL term_id) so mapping-rate metrics come from
    the same vocabulary-sized table.  Cost is paid once per distinct term
    (reference: batch_processing.py:594 resolves per-chunk uniques; global
    distinct is strictly fewer resolutions).
    """
    vocab = terms.select("term_norm").filter(F.col("term_norm") != "").distinct()
    return link_distinct_terms(vocab, resolver_bc)


def link_terms(terms: DataFrame, links: DataFrame) -> DataFrame:
    """Broadcast-join the matched rows of ``resolve_vocab`` back onto
    (…, term_norm) term rows."""
    matched = links.filter(F.col("term_id").isNotNull())
    return terms.join(F.broadcast(matched), "term_norm", "inner")


def triples(linked: DataFrame) -> DataFrame:
    """(subj, pred, obj, tier, score, provenance) from linked terms."""
    return linked.selectExpr(
        "concat_ws('#', url, sample_id) AS subj",
        "concat(`column`, '->', ontology) AS pred",
        "term_id AS obj",
        "tier",
        "score",
        "url AS provenance",
    ).dropDuplicates(["subj", "pred", "obj"])


def mapping_stats(terms: DataFrame, resolver_bc) -> DataFrame:
    """Per (column, ontology) mapping success over distinct (column, term)
    pairs (reference: batch_processing.py:334-342,778-790; the engine uses
    global distinct pairs instead of per-chunk uniques — documented delta).

    One pass over ``terms``: the distinct pairs go through
    ``link_distinct_terms``, which emits unmapped pairs with a NULL
    term_id, and are counted per (column, ontology).
    """
    col_terms = (
        terms.filter(F.col("term_norm") != "")
        .select("column", "term_norm")
        .distinct()
    )
    linked = link_distinct_terms(col_terms, resolver_bc)
    return linked.groupBy("column", "ontology").agg(
        F.count("*").alias("total_terms"),
        F.sum(F.col("term_id").isNotNull().cast("int")).alias("mapped_terms"),
        F.round(
            100.0 * F.sum(F.col("term_id").isNotNull().cast("int")) / F.count("*"), 2
        ).alias("success_rate_pct"),
    )


def map_wide(
    records: DataFrame,
    phenotype_columns: dict,
    resolver_bc,
    id_col: str = "SampleID",
) -> DataFrame:
    """Reference-shaped WIDE mapping output: one ``{ONTO}_ID`` column per
    ontology (reference: batch_processing.py:585-620 — note the reference
    keys the new column by ontology alone, so with several phenotype
    columns mapping to the same ontology the LAST column's mapping wins;
    that observed overwrite semantics is preserved here).

    ``phenotype_columns`` is the reference's config shape:
    ``{column_name: [ontology_id, ...]}``.  Resolution cost is
    vocabulary-sized (one distinct-terms resolve over all columns); the
    fan-out back to rows is a broadcast join per (column, ontology), so
    the physical plan grows linearly in the (column, ontology) pair count.
    QC configs have a handful of phenotype columns (the reference CLI's
    ``--phenotype_columns``), so the chain stays shallow; if a config with
    dozens of mapped columns appears, restructure as melt (terms_long
    already is the melt) → single join → ``pivot`` on ontology — one
    shuffle instead of k broadcasts, same last-column-wins semantics via
    ``last()`` over the column order.
    """
    present = {c: o for c, o in phenotype_columns.items() if c in records.columns}
    if not present:
        return records
    terms = terms_long(
        records.withColumn("_url_dummy", F.lit("")),
        list(present),
        [],
        id_col=id_col,
        url_col="_url_dummy",
    )
    links = resolve_vocab(terms, resolver_bc)
    out = records
    for column, ontos in present.items():
        out = out.withColumn("_tn", normalize_terms(F.col(column)))
        for onto in ontos:
            m = links.filter(F.col("ontology") == onto).select(
                F.col("term_norm").alias("_tn"), F.col("term_id").alias("_tid")
            )
            out = (
                out.join(F.broadcast(m), "_tn", "left")
                .withColumn(f"{onto}_ID", F.col("_tid"))
                .drop("_tid")
            )
        out = out.drop("_tn")
    return out


def match_bgp(
    triples_df: DataFrame,
    patterns: "List[tuple]",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    closures: "dict | None" = None,
    optional: "List[tuple] | None" = None,
) -> DataFrame:
    """SPARQL-style basic-graph-pattern query over the materialized
    triple table: ``patterns`` is a list of (s, p, o) terms where a
    string starting with ``?`` is a variable and anything else is a
    constant.  Returns one column per distinct variable, bag semantics
    (SPARQL SELECT default — no implicit DISTINCT), patterns combined
    by natural join on shared variables in the order given.

    Example — documents linked to a term whose parent is T03::

        match_bgp(t, [("?d", "has_term", "?t"), ("?t", "is_a", "T03")])

    Scale shape: each pattern is one scan of the triple table with its
    constants pushed into the scan as filters (predicate pushdown —
    constant-``pred`` patterns prune to one relation's partitions when
    the sink partitions by ``pred``, the layout :mod:`resume` writes).
    Joins are plain equi-joins on the shared-variable columns: Catalyst
    + AQE pick broadcast vs shuffle per pattern's filtered size, and the
    usual skew remedies (salting a hub join key) apply unchanged.  A
    pattern sharing NO variable with the accumulated result raises —
    an unconstrained cross product is never silently planned.

    ``closures`` maps a virtual predicate name to a 2-column
    (node, ancestor) DataFrame — typically
    :func:`~phenoqc_spark.operators.canonicalize.ancestor_closure` —
    giving SPARQL property-path semantics for transitive relations::

        match_bgp(t, [("?d", "has_term", "?t"), ("?t", "is_a+", "T01")],
                  closures={"is_a+": closure})   # any-depth descendants

    A closure is a materialized path relation, so the "recursive" part
    costs the same equi-join as any other pattern (compute the closure
    once per ontology release, reuse everywhere).  Virtual predicates
    match only when the pattern's predicate is that constant — a
    predicate VARIABLE ranges over the real triple table only.

    ``optional`` patterns (SPARQL OPTIONAL) are LEFT-joined after the
    required block: rows keep their bindings and take NULLs for the
    optional pattern's new variables when no match exists.  Each
    optional pattern must share a variable with the required block.

    Reference analogue: none (no query surface at all); this is the
    minimal KG read API the triple factory's output deserves.
    """
    cols = {subj: "_s", pred: "_p", obj: "_o"}
    base = triples_df.select(
        *[F.col(c).alias(a) for c, a in cols.items()]
    )
    def _compile(i, pat):
        """One pattern -> (frame projected to its variables, var set)."""
        if len(pat) != 3:
            raise ValueError(f"pattern {i} must be a (s, p, o) triple: {pat!r}")
        if closures and isinstance(pat[1], str) and pat[1] in closures:
            c = closures[pat[1]]
            n_col, a_col = c.columns[:2]
            t = c.select(
                F.col(n_col).alias("_s"),
                F.lit(pat[1]).alias("_p"),
                F.col(a_col).alias("_o"),
            )
        else:
            t = base
        sel, seen = [], {}
        for col, term in zip(("_s", "_p", "_o"), pat):
            if isinstance(term, str) and term.startswith("?"):
                var = term[1:]
                if not var:
                    raise ValueError(f"pattern {i}: bare '?' is not a variable")
                if var in seen:
                    # repeated variable inside one pattern: equality filter
                    t = t.filter(F.col(col) == F.col(seen[var]))
                else:
                    seen[var] = col
                    sel.append(F.col(col).alias(var))
            else:
                t = t.filter(F.col(col) == F.lit(term))
        return (t.select(*sel) if sel else t), seen

    result = None
    bound: "set[str]" = set()
    exists_checks = []
    for i, pat in enumerate(patterns):
        t, seen = _compile(i, pat)
        if not seen:
            # fully-constant pattern: pure existence check — a 1-row
            # (or empty) broadcast cross join gates the whole result
            exists_checks.append(
                t.limit(1).select(F.lit(1).alias(f"_exists_{i}"))
            )
            continue
        if result is None:
            result, bound = t, set(seen)
            continue
        shared = sorted(bound & set(seen))
        if not shared:
            raise ValueError(
                f"pattern {i} {pat!r} shares no variable with the patterns "
                f"before it ({sorted(bound)}) — reorder the BGP; an "
                "unconstrained cross product is refused"
            )
        result = result.join(t, shared)
        bound |= set(seen)
    if result is None:
        raise ValueError("BGP needs at least one pattern with a variable")
    for j, pat in enumerate(optional or []):
        t, seen = _compile(f"optional-{j}", pat)
        shared = sorted(bound & set(seen))
        if not seen or not shared:
            raise ValueError(
                f"OPTIONAL pattern {pat!r} must share a variable with the "
                "required block"
            )
        result = result.join(t, shared, "left")
        bound |= set(seen)
    for chk in exists_checks:
        result = result.crossJoin(F.broadcast(chk))
    return result.drop(*[c for c in result.columns if c.startswith("_exists_")])


# The FULL set of characters RFC/W3C N-Triples forbids inside <IRIREF>:
# [\x00-\x20<>"{}|^`\\] — raw crawl URLs (subjects are url#sampleid) can
# carry any of them, so every one percent-encodes; % first so encoded
# output never double-encodes.  Chained F.replace stays whole-stage
# codegen (constant search/replacement per step, no UDF).
_IRI_ENCODE = [("%", "%25")] + [
    (c, "%{:02X}".format(ord(c)))
    for c in [chr(i) for i in range(0x21)] + ['<', '>', '"', '{', '}', '|', '^', '`', '\\']
]


def _iri_escape(col):
    c = F.col(col).cast("string")
    for ch, enc in _IRI_ENCODE:
        c = F.replace(c, F.lit(ch), F.lit(enc))
    return c


def to_ntriples(
    triples_df: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    base: str = "http://example.org/",
    obj_literal: bool = False,
) -> DataFrame:
    """(ntriple): serialize the triple table to W3C N-Triples lines —
    ``<s> <p> <o> .`` with IRI terms, or ``<s> <p> "lit" .`` when
    ``obj_literal`` (objects carrying free text, e.g. extracted
    mentions).  The standard KG exchange format: one triple per line,
    concatenable across files/partitions — exactly the property that
    makes it the right text sink for a distributed writer.

    Escaping: literal objects get the N-Triples string escapes
    (``\\ " \\n \\r \\t``, backslash first); IRI components percent-encode
    the FULL IRIREF-forbidden set ``[\\x00-\\x20<>"{}|^`\\\\]`` — raw
    crawl URLs legitimately carry tabs, braces, carets and backslashes,
    and every serialized line must stay a valid N-Triples statement.

    Scale shape: pure per-row JVM string expressions (whole-stage
    codegen, no UDF, no shuffle); pair with
    ``df.write.text(path)`` — partition files are independently valid
    N-Triples documents.
    """
    def iri(col):
        return F.concat(F.lit("<" + base), _iri_escape(col), F.lit(">"))

    def lit_term(col):
        c = F.col(col).cast("string")
        for ch, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
            c = F.replace(c, F.lit(ch), F.lit(esc))
        return F.concat(F.lit('"'), c, F.lit('"'))

    o = lit_term(obj) if obj_literal else iri(obj)
    return triples_df.select(
        F.concat_ws(" ", iri(subj), iri(pred), o, F.lit(".")).alias("ntriple")
    )


def write_ntriples(triples_df: DataFrame, path: str, mode: str = "overwrite", **kw) -> None:
    """Write the triple table as an N-Triples text dataset at ``path``
    (one ``part-*`` file per partition, each independently valid —
    ``cat`` restores a single document).  Thin sink over
    :func:`to_ntriples`; pass ``obj_literal=True`` via ``kw`` for
    literal objects."""
    to_ntriples(triples_df, **kw).write.mode(mode).text(path)


def negative_samples(
    triples: DataFrame,
    n_per_positive: int = 2,
    seed: int = 42,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """(subj, pred, neg_obj, sample_idx): deterministic FILTERED negative
    sampling for KG-embedding training (TransE/DistMult-style corruptions)
    — for each positive triple, ``n_per_positive`` candidates replace the
    object with a pseudo-randomly drawn entity from the global object
    pool, and any corruption that collides with a TRUE triple is dropped
    by a left-anti join (never re-drawn — the standard 'filtered'
    protocol; expected loss per draw is |T|/|E|, so callers over-draw by
    that factor when exact counts matter).

    Determinism at cluster scale: the draw is a pure function
    ``md5(s|p|o|i|seed) mod pool_size`` — rerun / partitioning /
    cluster-size invariant and recomputable in plain SQL (the
    ``deterministic_stratified_sample`` contract), so the training set
    is reproducible byte-for-byte across re-runs and engines.  The
    entity pool is indexed by a sorted ``row_number`` — a
    dimension-sized single-partition window (the object side is the
    ontology-term side, ~10⁵ rows; for entity pools beyond window size
    use the two-phase prefix-sum of ``pack_token_shards``) — and joined
    back by broadcast.  The anti-join keys on the three string columns
    only.  Self-corruptions (draw == original object) are dropped by the
    same anti-join since the original IS a true triple.  Reference
    analogue: none (training-data extra)."""
    from pyspark.sql import Window

    pos = triples.select(subj_col, pred_col, obj_col).distinct()
    # pos feeds three consumers (pool, candidates, the anti-join's right
    # side) — checkpoint so the distinct runs once, not per consumer
    pos = pos.localCheckpoint(eager=False)
    pool = (
        pos.select(F.col(obj_col).alias("_ent"))
        .distinct()
        .withColumn("_idx", F.row_number().over(Window.orderBy("_ent")) - 1)
    )
    n_pool = pool.count()
    if n_pool == 0:
        return pos.select(
            F.col(subj_col),
            F.col(pred_col),
            F.col(obj_col).alias("neg_obj"),
            F.lit(0).alias("sample_idx"),
        ).limit(0)
    cand = pos.select(
        subj_col,
        pred_col,
        obj_col,
        F.explode(F.sequence(F.lit(0), F.lit(n_per_positive - 1))).alias("sample_idx"),
    ).withColumn(
        "_idx",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col(subj_col),
                            F.col(pred_col),
                            F.col(obj_col),
                            F.col("sample_idx").cast("string"),
                            F.lit(str(seed)),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(n_pool),
        ),
    )
    neg = cand.join(F.broadcast(pool), "_idx").select(
        subj_col, pred_col, F.col("_ent").alias("neg_obj"), "sample_idx"
    )
    true_keyed = pos.select(
        subj_col, pred_col, F.col(obj_col).alias("neg_obj")
    )
    return neg.join(true_keyed, [subj_col, pred_col, "neg_obj"], "left_anti")


def validate_triple_shapes(
    triples: DataFrame,
    rules: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """(subj, pred, obj, reason): triples violating per-predicate SHACL-
    lite shape rules — the graph-side twin of the row-level JSON-schema
    validation (a triple store's domain/range integrity: 'objects of
    ``->HPO`` predicates must be HP CURIEs', 'subjects must be page
    IRIs').

    ``rules``: (pred, subj_regex, obj_regex) — null regex = unconstrained
    side; predicates with no rule row pass (open-world).  Violations
    carry reason 'bad_subject' / 'bad_object' (one row each when both
    sides fail — cell-violation style, so downstream counters stay
    per-constraint).

    Scale shape: the rule table is predicate-cardinality-sized →
    broadcast inner join; the regex checks are per-row JVM
    ``regexp_like`` codegen against the JOINED pattern column (patterns
    stay data, not plan literals, so rule sets hot-swap without
    recompiling the plan).  One map-side pass, no extra shuffle.
    Reference analogue: the JSON-schema validator's role
    (validation.py row checks) lifted to the emitted graph."""
    r = F.broadcast(
        rules.select(
            F.col("pred").alias("_rule_pred"),
            F.col("subj_regex").cast("string"),
            F.col("obj_regex").cast("string"),
        )
    )
    joined = triples.select(subj_col, pred_col, obj_col).join(
        r, F.col(pred_col) == F.col("_rule_pred"), "inner"
    ).drop("_rule_pred")
    bad_subj = joined.filter(
        F.col("subj_regex").isNotNull()
        & ~F.regexp_like(F.col(subj_col), F.col("subj_regex"))
    ).select(subj_col, pred_col, obj_col, F.lit("bad_subject").alias("reason"))
    bad_obj = joined.filter(
        F.col("obj_regex").isNotNull()
        & ~F.regexp_like(F.col(obj_col), F.col("obj_regex"))
    ).select(subj_col, pred_col, obj_col, F.lit("bad_object").alias("reason"))
    return bad_subj.unionByName(bad_obj)


def turtle_header(prefixes: "dict[str, str]") -> str:
    """The ``@prefix`` block for :func:`write_turtle` output (sorted for
    determinism)."""
    return "".join(
        f"@prefix {p}: <{ns}> .\n" for p, ns in sorted(prefixes.items())
    )


def to_turtle(
    triples_df: DataFrame,
    prefixes: "dict[str, str]",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    base: str = "http://example.org/",
    obj_literal: bool = False,
) -> DataFrame:
    """(line): Turtle triple lines with CURIE prefix compression — a term
    whose IRI starts with a declared namespace renders as ``prefix:local``
    when the local part is PN_LOCAL-safe (``[A-Za-z0-9_][A-Za-z0-9_.-]*``,
    no trailing dot), else falls back to the full ``<iri>``.  Literal
    objects use the same escapes as :func:`to_ntriples`.

    Body lines alone are not a Turtle document — they need the
    ``@prefix`` block; :func:`write_turtle` writes it as a sidecar so
    ``cat _prefixes.ttl part-*`` restores one valid document (prefix
    re-declaration is legal Turtle, so several concatenations also
    compose).  Scale shape: pure per-row JVM string/when expressions
    (whole-stage codegen, no UDF, no shuffle) — the prefix table is tiny
    and folds into the plan as literals."""
    def iri_str(col):
        return F.concat(F.lit(base), _iri_escape(col))

    def term(col):
        full = iri_str(col)
        expr = F.concat(F.lit("<"), full, F.lit(">"))
        for p, ns in sorted(prefixes.items()):
            local = F.substring(full, len(ns) + 1, 2**30)
            ok = full.startswith(ns) & local.rlike(
                r"^[A-Za-z0-9_][A-Za-z0-9_.-]*$"
            ) & ~local.endswith(".")
            expr = F.when(ok, F.concat(F.lit(p + ":"), local)).otherwise(expr)
        return expr

    def lit_term(col):
        c = F.col(col).cast("string")
        for ch, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
            c = F.replace(c, F.lit(ch), F.lit(esc))
        return F.concat(F.lit('"'), c, F.lit('"'))

    o = lit_term(obj) if obj_literal else term(obj)
    return triples_df.select(
        F.concat_ws(" ", term(subj), term(pred), o, F.lit(".")).alias("line")
    )


def write_turtle(
    triples_df: DataFrame,
    path: str,
    prefixes: "dict[str, str]",
    mode: str = "overwrite",
    **kw,
) -> None:
    """Write the triple table as a Turtle dataset: body ``part-*`` files
    via :func:`to_turtle` plus a ``_prefixes.ttl`` sidecar holding the
    ``@prefix`` block — ``cat <path>/_prefixes.ttl <path>/part-*``
    restores one valid Turtle document.  The sidecar is written through
    the Hadoop FileSystem for the path's own scheme (works on hdfs://
    and s3a://, not just the driver's disk)."""
    to_turtle(triples_df, prefixes, **kw).write.mode(mode).text(path)
    spark = triples_df.sparkSession
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath(path.rstrip("/") + "/_prefixes.ttl"), True)
    try:
        out.write(bytearray(turtle_header(prefixes).encode("utf-8")))
    finally:
        out.close()
