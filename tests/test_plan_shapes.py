"""Physical-plan shape guards: the scale properties ARCHITECTURE.md claims
(zero fact-side shuffles for linking, pushdown/pruning at the scan,
broadcast dimension joins) asserted on `.explain` output so a regression
cannot slip in silently."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_kg_path_single_exchange(spark, resolver):
    from phenoqc_spark import pages as PG
    from phenoqc_spark.pipeline import run_pipeline

    pages = PG.generate_pages(spark, 1000, partitions=4)
    out = run_pipeline(spark, pages, resolver)
    txt = plan_text(out["triples"])
    import re

    # exactly one shuffle: the (subj, pred, obj) set-dedup
    assert len(set(re.findall(r"Exchange \((\d+)\)", txt))) == 1, txt
    # no fact-side join anywhere on the inline linking path
    assert "Join" not in txt, txt
    # one upstream branch (no Union re-scanning the extract), ONE Python
    # hop: the link (MapInPandas).  Since r6 the default extraction is
    # the pure-JVM expression — html bytes never cross the Arrow
    # boundary, so ArrowEvalPython must not appear on the default path.
    assert "Union" not in txt, txt
    assert "ArrowEvalPython" not in txt, txt
    assert len(set(re.findall(r"MapInPandas \((\d+)\)", txt))) == 1, txt


def test_kg_path_arrow_extract_variant(spark, resolver):
    """jvm_extract=False keeps the Arrow-UDF extraction (the option for
    corpora that can contain invalid UTF-8, where Java and Python decode
    replacement runs can differ) and produces the identical triple set;
    the JVM expression is the default (see extract_records)."""
    from phenoqc_spark import pages as PG
    from phenoqc_spark.pipeline import build_triples, extract_records

    pages = PG.generate_pages(spark, 500, partitions=4)
    bc = spark.sparkContext.broadcast(resolver)
    arrow = build_triples(extract_records(pages, jvm_extract=False), bc)[0]
    jvm = build_triples(extract_records(pages), bc)[0]
    txt = plan_text(jvm)
    assert "ArrowEvalPython" not in txt, txt
    txt_arrow = plan_text(arrow)
    assert "ArrowEvalPython" in txt_arrow, txt_arrow
    assert sorted(map(tuple, arrow.collect())) == sorted(map(tuple, jvm.collect()))


@pytest.mark.parametrize(
    "name",
    ["kg_triples_exact", "kg_triples_full", "kg_triples_unicode", "kg_triples_array"],
)
def test_kg_triples_entries_link_inline(spark, sf_dir, name):
    """The registry's triple builders take the one fact path: one
    explode, one Python hop (the link mapInPandas), no normalize UDF and
    no vocabulary branch joined back onto the fact side."""
    import re

    import __spark_entry__ as E

    txt = plan_text(E._all_queries()[name](spark, sf_dir))
    assert len(set(re.findall(r"Generate \((\d+)\)", txt))) == 1, txt
    assert "ArrowEvalPython" not in txt, txt
    assert len(set(re.findall(r"MapInPandas \((\d+)\)", txt))) == 1, txt
    assert "BroadcastExchange" not in txt, txt
    assert "Join" not in txt, txt


def test_kg_mapping_stats_single_pass(spark, sf_dir):
    """mapping_stats links the distinct (column, term_norm) pairs in one
    pass over the terms: one explode, and no vocabulary branch joined
    back onto the pairs."""
    import re

    import __spark_entry__ as E

    txt = plan_text(E._all_queries()["kg_mapping_stats"](spark, sf_dir))
    assert len(set(re.findall(r"Generate \((\d+)\)", txt))) == 1, txt
    assert "Join" not in txt, txt
    assert "BroadcastExchange" not in txt, txt


def test_scan_pushdown_and_pruning(spark, sf_dir):
    from phenoqc_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    txt = plan_text(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in txt, txt
    # column pruning: the scan reads only the 3 needed columns
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate" in txt, txt


def test_pages_scan_prunes_unused_columns(spark, resolver, tmp_path):
    from phenoqc_spark import pages as PG
    from phenoqc_spark.pipeline import run_pipeline

    p = str(tmp_path / "pages")
    PG.generate_pages(spark, 500, partitions=2).write.parquet(p)
    out = run_pipeline(spark, spark.read.parquet(p), resolver)
    txt = plan_text(out["triples"].select("subj", "pred", "obj"))
    # triples need url/html/lang; text and warc_ts must be pruned away
    assert "text:string" not in txt.split("ReadSchema:")[1].splitlines()[0]
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in txt, txt


def test_dimension_join_broadcasts(spark, sf_dir):
    import __spark_entry__ as E

    q3 = {**E.queries(), **E.extra_queries()}["q3_shipping"](spark, sf_dir)
    txt = plan_text(q3)
    assert "BroadcastHashJoin" in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt


def test_spearman_ranks_have_no_global_window(spark):
    """The spearman rank transform must never funnel the table through a
    single-partition window: every Window in the plan must be partitioned
    (by the quantile bucket)."""
    import re

    from phenoqc_spark.operators.quality import _distributed_avg_ranks

    rows = [(float(i % 17), float((i * 13) % 23)) for i in range(200)]
    df = spark.createDataFrame(rows, "a double, b double")
    ranked = _distributed_avg_ranks(df, ["a", "b"])
    txt = plan_text(ranked)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", txt)
    assert specs, txt  # the rank windows must exist
    for spec in specs:
        assert spec.startswith("_bkt"), f"unpartitioned window: {spec}\n{txt}"


def test_shingle_sets_is_map_only(spark, sf_dir):
    """The dedup front end (per-doc shingle set + size) must be one
    map-only stage: no Exchange, no Generate (explode) in the plan."""
    from phenoqc_spark.operators.dedup import shingle_sets
    from phenoqc_spark.sources import load_table

    txt = plan_text(shingle_sets(load_table(spark, sf_dir, "documents")))
    assert "Exchange" not in txt, txt
    assert "Generate" not in txt, txt


def test_dedup_exact_no_exchange_carries_text(spark, sf_dir):
    """dedup_exact's duplicate decision runs on the (md5, id) projection;
    the wide text column must never appear in ANY Exchange's attribute set
    (the td_prep flagship would otherwise shuffle the full corpus once)."""
    import re

    from phenoqc_spark.operators.dedup import dedup_exact
    from phenoqc_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    txt = plan_text(dedup_exact(docs))
    # formatted explain: every node detail block starts with "(<id>) <Name>";
    # collect the blocks for Exchange/BroadcastExchange nodes and assert no
    # text attribute (text#NN) flows through them
    blocks = re.split(r"\n(?=\(\d+\) )", txt)
    exchange_blocks = [b for b in blocks if re.match(r"\(\d+\) \w*Exchange", b)]
    assert exchange_blocks, txt  # the (hash,id) shuffle must exist
    for b in exchange_blocks:
        assert not re.search(r"\btext#\d+", b), f"Exchange carries text:\n{b}\n{txt}"


def test_schema_flag_plan_is_python_free(spark, sf_dir):
    """v_schema_flag compiles to JVM predicates: no Python operator and no
    round-trip through to_json."""
    import __spark_entry__ as E

    txt = plan_text({**E.queries(), **E.extra_queries()}["v_schema_flag"](spark, sf_dir))
    assert "ArrowEvalPython" not in txt, txt
    assert "BatchEvalPython" not in txt, txt
    assert "to_json" not in txt, txt


def test_ivf_partitioned_scan_prunes_cells(spark, tmp_path):
    """IVF over a cell-partitioned vector table: the probe filter must land
    in PartitionFilters (only probed cells' files are read) and results
    must equal the unpartitioned IVF on the same codebook."""
    import numpy as np
    from pyspark.sql import functions as F

    from phenoqc_spark.operators import similarity as S

    rng = np.random.RandomState(3)
    centers = rng.normal(size=(4, 8)) * 5.0
    vecs = [
        (i, (centers[i % 4] + rng.normal(size=8) * 0.2).astype(float).tolist())
        for i in range(120)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    C = S.ivf_centroids(emb, n_centroids=4, seed=7)
    path = str(tmp_path / "ivf_table")
    S.ivf_assign_cells(emb, C).write.partitionBy("cid").parquet(path)

    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    part = S.cosine_topk_ivf_partitioned(spark, path, qdf, C, k=5, n_probe=1)
    txt = plan_text(part)
    assert "PartitionFilters" in txt and "cid" in txt.split("PartitionFilters")[1][:120], txt

    base = S.cosine_topk_ivf(emb, qdf, k=5, n_probe=1, centroids=C)
    got = {(r.query_id, r.vec_id, r.rank) for r in part.collect()}
    want = {(r.query_id, r.vec_id, r.rank) for r in base.collect()}
    assert got == want and len(got) > 0


def test_bloom_dedup_state_never_shuffled(spark):
    """The bloom-prefiltered incremental exact dedup must keep the state
    table out of every shuffle Exchange: the state is scanned map-side
    into a broadcast join with the sliver hashes, and the confirmed-dup
    set broadcasts back against the batch.  The only shuffle in the plan
    is dedup_exact's own (md5, id) projection."""
    import re

    from pyspark.sql import functions as F

    from phenoqc_spark.operators import bloom as B

    state = spark.range(200).select(
        F.md5(F.concat(F.lit("s"), F.col("id").cast("string"))).alias("content_hash")
    )
    batch = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    txt = plan_text(B.dedup_exact_incremental_bloom(batch, state))
    blocks = re.split(r"\n(?=\(\d+\) )", txt)
    shuffles = [b for b in blocks if re.match(r"\(\d+\) Exchange", b)]
    assert shuffles, txt  # dedup_exact's own projection shuffle exists
    for b in shuffles:
        assert "content_hash#" not in b, f"state shuffled:\n{b}\n{txt}"
    assert sum("BroadcastExchange" in b for b in blocks) >= 2, txt


def test_sessionize_and_asof_single_user_shuffle(spark):
    """Both event-time operators must shuffle exactly once on the user
    key: sessionize = window + partial-aggregatable groupBy on the same
    partitioning; asof_join = one union-carry window (plus the right
    side's per-(key,ts) collapse) — and NEVER a cartesian/range join."""
    import re
    from datetime import datetime as dt

    from phenoqc_spark.operators.sessions import asof_join, sessionize

    rows = [(i, dt(2024, 1, 1, 10, i % 60), i % 5) for i in range(100)]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    def exchange_blocks(txt):
        blocks = re.split(r"\n(?=\(\d+\) )", txt)
        return [b for b in blocks if re.match(r"\(\d+\) \w*Exchange", b)]

    txt = plan_text(sessionize(ev))
    ex = exchange_blocks(txt)
    assert ex and all("user_id" in b for b in ex), txt
    assert "CartesianProduct" not in txt and "BroadcastNestedLoop" not in txt, txt

    rv = ev.withColumn("value", F.col("event_id").cast("double"))
    txt2 = plan_text(asof_join(ev, rv))
    ex2 = exchange_blocks(txt2)
    assert ex2 and all("user_id" in b for b in ex2), txt2
    assert "CartesianProduct" not in txt2 and "BroadcastNestedLoop" not in txt2, txt2
    assert "Join" not in txt2, txt2  # union-carry, not a join at all

    from phenoqc_spark.operators.sessions import range_join

    iv = ev.select(
        F.col("event_id").alias("iv_id"), "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    txt3 = plan_text(range_join(ev.select("user_id", "ts", "event_id"), iv))
    # the whole point: an equi-(hash)join on (key, slice), never the
    # nested-loop/cartesian plan Catalyst gives a raw theta join
    assert "BroadcastNestedLoop" not in txt3 and "CartesianProduct" not in txt3, txt3
    assert "HashJoin" in txt3 or "SortMergeJoin" in txt3, txt3


def test_bgp_constants_push_to_parquet_scan(spark, tmp_path):
    """match_bgp constant terms must reach the parquet scan as
    PushedFilters (per-pattern predicate pushdown), and the serializer
    must stay UDF-free whole-stage codegen."""
    from phenoqc_spark.operators.triples import match_bgp, to_ntriples

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [("a", "has_term", "T1"), ("T1", "is_a", "A")],
        "subj string, pred string, obj string",
    ).write.parquet(p)
    t = spark.read.parquet(p)
    txt = plan_text(match_bgp(t, [("?d", "has_term", "?t"), ("?t", "is_a", "A")]))
    assert "EqualTo(pred,has_term)" in txt, txt
    assert "EqualTo(pred,is_a)" in txt and "EqualTo(obj,A)" in txt, txt
    nt = plan_text(to_ntriples(t, obj_literal=True))
    assert "Exchange" not in nt and "Python" not in nt, nt


def test_latest_snapshot_is_hash_agg_not_window(spark):
    """latest_snapshot must plan as a partial-aggregatable hash aggregate
    on the key (max_by) — never a Window sort: exactly one Exchange, on
    the key, with a partial HashAggregate BEFORE it (map-side combine),
    and no Window/Sort operators at all."""
    import re
    from datetime import datetime as dt

    from phenoqc_spark.operators.sessions import latest_snapshot

    rows = [(f"u{i % 9}", dt(2020, 1, 1 + i % 20), f"t{i}", "en") for i in range(100)]
    cap = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string, lang string")
    txt = plan_text(latest_snapshot(cap, "url", "warc_ts", tiebreak_col="text"))
    assert "Window" not in txt, txt
    blocks = re.split(r"\n(?=\(\d+\) )", txt)
    ex = [b for b in blocks if re.match(r"\(\d+\) \w*Exchange", b)]
    assert len(ex) == 1 and "url" in ex[0], txt
    # partial aggregate upstream of the exchange — the map-side combine
    # that shrinks the shuffle to one candidate per (key, map partition).
    # max_by with a struct ordering key plans as SortAggregate (struct
    # buffers aren't hash-aggregable), whose Sort is per-partition on the
    # KEY only — not the window form's full (key, ts) sort of all rows.
    assert "partial_max_by" in txt, txt
    pre_exchange = txt.split("(4) Exchange")[0] if "(4) Exchange" in txt else txt
    assert "partial_max_by" in pre_exchange, txt


def test_bucketed_state_merge_join_skips_state_exchange(spark, tmp_path):
    """The docs' storage-partitioned escape hatch, demonstrated: a triple
    state saved as a subject-bucketed table joins/aggregates WITHOUT a
    state-side Exchange — only the (small) delta shuffles.  This is the
    local-parquet stand-in for Iceberg bucket(N, subject); the claim is
    asserted on the physical plan, not just documented."""
    import re

    from pyspark.sql import functions as F

    state = spark.createDataFrame(
        [(f"s{i % 50}", "p", f"o{i % 7}", 0.5, 1, 1, 1) for i in range(500)],
        "subject string, predicate string, object string, confidence double,"
        " first_seen int, last_seen int, n_obs long",
    )
    spark.sql("DROP TABLE IF EXISTS tri_state_bucketed")
    (
        state.write.bucketBy(8, "subject")
        .sortBy("subject")
        .option("path", str(tmp_path / "tbl"))
        .saveAsTable("tri_state_bucketed")
    )
    delta = spark.createDataFrame(
        [(f"s{i % 20}", "p", f"o{i % 7}", 0.9) for i in range(100)],
        "subject string, predicate string, object string, confidence double",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = spark.table("tri_state_bucketed")
        joined = bucketed.join(delta, "subject")
        txt = plan_text(joined)
        blocks = re.split(r"\n(?=\(\d+\) )", txt)
        ex = [b for b in blocks if re.match(r"\(\d+\) \w*Exchange", b)]
        # exactly one Exchange — the delta side; the bucketed scan feeds
        # the join directly (SelectedBucketsCount on the scan)
        assert len(ex) == 1, txt
        assert "confidence" in ex[0] and "first_seen" not in ex[0], txt
        assert "Bucketed: true" in txt, txt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS tri_state_bucketed")


def test_cap_per_host_plans_window_group_limit(spark):
    """cap_per_host's row_number <= k must plan through WindowGroupLimit
    (Partial before the exchange, Final after) — the map-side top-k that
    collapses a mega-host before it shuffles; and exactly one Exchange,
    on the host key."""
    import re

    from phenoqc_spark.operators.textstats import cap_per_host

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.format_string(
            "https://h%d.example.org/%d", F.col("id") % 5, F.col("id")
        ).alias("url"),
    )
    txt = cap_per_host(df, 10)._jdf.queryExecution().executedPlan().toString()
    assert txt.count("WindowGroupLimit") >= 2, txt
    assert "Partial" in txt.split("Exchange")[1], txt  # partial below the exchange
    assert len(re.findall(r"\bExchange hashpartitioning", txt)) == 1, txt


def test_bm25_single_corpus_pass_no_token_join(spark, sf_dir):
    """bm25_topk's docstring claims: one corpus pass (|Q|+1 conditional
    aggregates), stats broadcast back, NO token-keyed join anywhere, and
    a TakeOrderedAndProject top-k instead of a global sort."""
    from phenoqc_spark.operators.textstats import bm25_topk
    from phenoqc_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    txt = plan_text(bm25_topk(docs, ["hash", "merge"], k=10))
    assert "SortMergeJoin" not in txt, txt
    assert "ShuffledHashJoin" not in txt, txt
    assert "BroadcastNestedLoopJoin" in txt, txt  # the 1-row stats join
    assert "TakeOrderedAndProject" in txt, txt
    # the corpus is scanned once: per_doc is a local checkpoint, so BOTH
    # branches (stats aggregate and scoring) read its one materialization
    # and the corpus scan is not part of the returned plan at all
    import re

    assert len(re.findall(r"Scan ExistingRDD", txt)) >= 2, txt
    assert "Scan parquet" not in txt, txt


def test_kmeans_assignment_is_map_only(spark, sf_dir):
    """The final k-means assignment pass never shuffles the corpus: scan
    -> ArrowEvalPython -> project, zero Exchanges."""
    from phenoqc_spark.operators.clustering import kmeans
    from phenoqc_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    txt = plan_text(kmeans(emb, k=4, iters=1))
    assert "Exchange" not in txt, txt
    assert "ArrowEvalPython" in txt, txt


def test_spectral_features_single_aggregate(spark):
    """spectral_features is one partial+final hash aggregate over the
    edge list — exactly one Exchange, zero joins, zero Python."""
    import re

    from phenoqc_spark.operators.canonicalize import spectral_features

    edges = spark.createDataFrame(
        [(f"a{i}", f"b{i % 3}") for i in range(20)], "src string, dst string"
    )
    txt = plan_text(spectral_features(edges, r=4))
    assert len(set(re.findall(r"Exchange \((\d+)\)", txt))) == 1, txt
    assert "Join" not in txt, txt
    # no Python execution nodes (the test input's applySchemaToPythonRDD
    # scan line is an artifact of createDataFrame, not the operator)
    for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert node not in txt, txt


def test_url_host_stats_share_is_broadcast_not_global_window(spark):
    """url_host_stats' corpus_share must come from a 1-row broadcast
    cross join onto the host-grouped frame — an unpartitioned Window
    would funnel the 10^7-host result through one task at web scale."""
    from phenoqc_spark.operators.textstats import url_host_stats

    docs = spark.createDataFrame(
        [(f"http://h{i % 5}.org/p{i}", f"body {i % 7}") for i in range(40)],
        "url string, text string",
    )
    out = url_host_stats(docs)
    txt = plan_text(out)
    assert "Window" not in txt, txt
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastExchange" in txt, txt
    # semantics unchanged: shares sum to 1
    assert abs(sum(r.corpus_share for r in out.collect()) - 1.0) < 1e-4


def test_extract_links_is_map_only_jvm(spark):
    """extract_links is pure per-row JVM work: no Exchange, no Python
    nodes — the page body never leaves its partition."""
    from pyspark.sql import functions as F

    from phenoqc_spark.operators.textstats import extract_links

    df = spark.createDataFrame(
        [(f"https://h{i}.org/d/p.html", '<a href="/x">y</a>') for i in range(10)],
        "url string, body string",
    ).select("url", F.encode("body", "utf-8").alias("html"))
    txt = plan_text(extract_links(df))
    assert "Exchange" not in txt, txt
    for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert node not in txt, txt


def test_html_text_is_map_only_jvm(spark):
    """html_text is a pure per-row JVM regexp chain: no Exchange, no
    Python nodes — page bodies never leave their partition."""
    from pyspark.sql import functions as F

    from phenoqc_spark.operators.textstats import html_text

    df = spark.createDataFrame(
        [(i, "<p>hello</p>") for i in range(10)], "id long, body string"
    ).select("id", F.encode("body", "utf-8").alias("html"))
    txt = plan_text(html_text(df))
    assert "Exchange" not in txt, txt
    for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert node not in txt, txt
