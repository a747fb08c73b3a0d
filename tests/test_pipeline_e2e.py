"""End-to-end acceptance: byte-identical extraction + triple P/R vs the
differential ground truth (FIXTURES.md §6; P ≥ 0.95 and R ≥ 0.95)."""

import gc

import pytest
from pyspark.sql import functions as F

from phenoqc_spark import pages as PG
from phenoqc_spark.pipeline import extract_records, run_pipeline


N = 600


def test_extract_text_byte_identical(spark):
    pages = PG.generate_pages(spark, 200, partitions=4)
    recs = extract_records(pages, lang="en")
    joined = pages.filter(F.col("lang") == "en").select("url", "text").join(
        recs.select("url", "extracted_text"), "url"
    )
    bad = joined.filter(F.col("text") != F.col("extracted_text")).count()
    assert bad == 0
    assert recs.count() > 0


def test_record_parse_roundtrip(spark):
    pages = PG.generate_pages(spark, 200, partitions=4)
    recs = extract_records(pages)
    row = recs.filter(F.col("Height_cm").isNotNull()).first()
    assert row.SampleID is not None
    assert 0 < row.Height_cm < 1000 or row.Height_cm == -999.0
    arr_row = recs.filter(F.size("ObservedFeatures") > 0).first()
    assert isinstance(arr_row.ObservedFeatures, list)


def test_triples_pr_vs_ground_truth(spark, resolver):
    pages = PG.generate_pages(spark, N, partitions=8)
    out = run_pipeline(spark, pages, resolver)
    produced = set(
        (r.subj, r.pred, r.obj) for r in out["triples"].select("subj", "pred", "obj").collect()
    )
    expected = set(
        (r.subj, r.pred, r.obj)
        for r in PG.ground_truth_triples(spark, N, resolver, partitions=8).collect()
    )
    assert expected, "ground truth must be non-empty"
    tp = len(produced & expected)
    precision = tp / len(produced) if produced else 0.0
    recall = tp / len(expected)
    assert precision >= 0.95, f"precision {precision:.4f} < 0.95"
    assert recall >= 0.95, f"recall {recall:.4f} < 0.95"
    # with a deterministic generator + differential oracle we expect exact parity
    assert precision == 1.0 and recall == 1.0, (
        f"P={precision:.4f} R={recall:.4f}; diff={list(produced ^ expected)[:5]}"
    )


def test_mapping_stats_shape(spark, resolver):
    from phenoqc_spark.operators import triples as T

    pages = PG.generate_pages(spark, 300, partitions=4)
    terms = T.terms_long(extract_records(pages))
    stats = T.mapping_stats(terms, spark.sparkContext.broadcast(resolver)).collect()
    assert {r.column for r in stats} >= {"PrimaryPhenotype", "DiseaseCode"}
    for r in stats:
        assert 0 <= r.success_rate_pct <= 100
    # each distinct (column, term_norm) pair counts once per target
    # ontology, mapped when the resolver answers for that ontology
    pairs = terms.filter("term_norm != ''").select("column", "term_norm").distinct()
    expected = {}
    for p in pairs.collect():
        detailed = resolver.map_term_detailed(p.term_norm)
        for onto in resolver.default_ontologies:
            total, mapped = expected.get((p.column, onto), (0, 0))
            expected[(p.column, onto)] = (total + 1, mapped + (detailed.get(onto) is not None))
    assert {(r.column, r.ontology): (r.total_terms, r.mapped_terms) for r in stats} == expected


def test_run_pipeline_builds_in_few_driver_calls(spark, resolver, monkeypatch):
    """Building the fact path's plan costs one driver→JVM call per
    SQL-expression projection, not one per Column node: the whole
    ``run_pipeline`` construction stays within 300 Py4J round trips
    (``F.*`` Column chains for the same plan take ~2,800)."""
    pages = PG.generate_pages(spark, 100, partitions=2)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    # collect earlier tests' garbage first: Py4J sends one delete command
    # per collected JVM proxy, and a cyclic collection that fires inside the
    # counted window adds hundreds of calls the build never made
    gc.collect()
    monkeypatch.setattr(client, "send_command", counting)
    out = run_pipeline(spark, pages, resolver)
    monkeypatch.undo()
    assert 0 < len(calls) <= 300, len(calls)
    assert sorted(out) == ["records", "terms", "triples"]


def test_odd_column_names_give_same_triples(spark, resolver):
    """Every caller-supplied name reaches SQL text quoted: columns named
    with a space, a quote, a backtick, a backslash and non-ASCII letters
    give the same triples, term column labels and carried column as the
    same data under plain names."""
    from phenoqc_spark.functions.linking import link_terms_inline
    from phenoqc_spark.operators import triples as T

    odd = {
        "url": "page url",
        "SampleID": "it's id",
        "PrimaryPhenotype": "prim`ary",
        "DiseaseCode": "Diagnóstico código",
        "ObservedFeatures": "feat\\ures 'x'",
        "text": "tëxt `'\\",
    }
    pages = PG.generate_pages(spark, 200, partitions=2)
    bc = spark.sparkContext.broadcast(resolver)

    def build(names):
        n = lambda c: names.get(c, c)
        recs = extract_records(
            pages.withColumnRenamed("text", n("text")), keep=[n("text")]
        ).withColumnsRenamed({c: n(c) for c in odd if c != "text"})
        carried = recs.toDF(*[f"c{i}" for i in range(len(recs.columns))])
        i_text, i_ext = recs.columns.index(n("text")), recs.columns.index("extracted_text")
        assert carried.where(F.col(f"c{i_text}") != F.col(f"c{i_ext}")).count() == 0
        terms = T.terms_long(
            recs,
            [n("PrimaryPhenotype"), n("DiseaseCode")],
            [n("ObservedFeatures")],
            id_col=n("SampleID"),
            url_col=n("url"),
            normalize=False,
        )
        labels = {r[0] for r in terms.select("column").distinct().collect()}
        assert labels == {n("PrimaryPhenotype"), n("DiseaseCode"), n("ObservedFeatures")}
        linked = link_terms_inline(terms, bc, normalize=True, drop_input_cols=("term",))
        back = {v: k for k, v in names.items()}
        rows = set()
        for r in T.triples(linked).collect():
            col, onto = r.pred.rsplit("->", 1)
            rows.add((r.subj, back.get(col, col), onto, r.obj, r.provenance))
        return rows

    plain = build({})
    assert plain
    assert build(odd) == plain


def test_memo_cap_keeps_links_identical(spark, onto_dir, monkeypatch):
    """A resolver memo cleared every two entries links exactly like the
    default one: the cap trades only repeat resolutions."""
    from phenoqc_spark.fixtures import fixture_config
    from phenoqc_spark.functions.linking import link_terms_inline
    from phenoqc_spark.ontology import TermResolver, mapper
    from phenoqc_spark.operators import triples as T

    pages = PG.generate_pages(spark, 200, partitions=4)
    terms = T.terms_long(extract_records(pages), normalize=False)

    def links(resolver):
        bc = spark.sparkContext.broadcast(resolver)
        out = link_terms_inline(terms, bc, normalize=True, drop_input_cols=("term",))
        return sorted(tuple(r) for r in out.collect())

    want = links(TermResolver.from_config(fixture_config(onto_dir)))
    monkeypatch.setattr(mapper, "_MEMO_MAX", 2)
    capped = TermResolver.from_config(fixture_config(onto_dir))
    for t in ("hypertension", "astma", "obesty"):
        capped.map_term_cached(t)
    assert len(capped._cache) <= 2
    assert want and links(capped) == want


def test_malformed_fields_coerce_not_crash(spark):
    """One malformed numeric field (or URL) in web text must coerce to
    NULL — reference pd.to_numeric(errors='coerce') semantics — not kill
    the job with an ANSI CAST_INVALID_INPUT."""
    html = (
        "<html><body><p>SampleID: S1\nHeight_cm: NOT_A_NUMBER\n"
        "PrimaryPhenotype: Asthma</p></body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [("u1", None, html, "x", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    r = extract_records(pages).collect()[0]
    assert r["Height_cm"] is None
    assert r["SampleID"] == "S1" and r["PrimaryPhenotype"] == "Asthma"
