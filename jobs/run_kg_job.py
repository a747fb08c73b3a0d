"""spark-submit entry point for the KG-construction pipeline.

    spark-submit --master local[32] --py-files phenoqc_spark.zip \
        jobs/run_kg_job.py --pages /data/pages --out /data/out \
        --onto-dir /data/ontologies [--resume] [--generate-rows N]

Replaces the reference CLI (reference: src/phenoqc/cli.py:202-292 +
batch_processing.py:1034-1209): config + ontologies load on the driver,
dictionaries broadcast, one lazy DAG per run, per-part_key audit rows, and
``--resume`` skips completed buckets (idempotent partition overwrite) and
writes nothing when every bucket is done.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of the pages table")
    ap.add_argument("--generate-rows", type=int, default=0,
                    help="generate a deterministic pages table instead of reading one")
    ap.add_argument("--out", required=True, help="output root (triples/, audit/)")
    ap.add_argument("--onto-dir", default="/tmp/phenoqc_spark_onto")
    ap.add_argument("--fuzzy-threshold", type=int, default=80)
    ap.add_argument("--custom-mappings", help="JSON file of term -> id overrides")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--log-file", default=None,
                    help="driver log file under ./logs (auto-named when omitted; reference logging_module.py parity)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--report", action="store_true",
                    help="write a Markdown QC report derived from the audit table")
    ap.add_argument("--graph-stats", action="store_true",
                    help="materialize graph diagnostics over the produced triples "
                         "(degree stats, triangle counts, clustering coefficients; --kcore adds coreness) "
                         "to <out>/graph_stats")
    ap.add_argument("--isa-rollup", action="store_true",
                    help="roll triple counts up the ontologies' is_a hierarchy "
                         "(distinct subjects per ancestor term) to <out>/term_rollup; "
                         "flows into the report's subsumption section")
    ap.add_argument("--kcore", action="store_true",
                    help="with --graph-stats: also add a coreness column "
                         "(k-core peel — iterative; costs extra passes)")
    ap.add_argument("--pagerank-iters", type=int, default=0,
                    help="with --graph-stats: also run N PageRank power "
                         "iterations over the triple graph and add a rank column")
    ap.add_argument("--embed-epochs", type=int, default=0,
                    help="train SGNS entity embeddings on the triple graph "
                         "(positives = (subj, obj) pairs, negatives = the "
                         "filtered corruption sampler) for N full-batch "
                         "epochs and write (node, vec) to <out>/embeddings; "
                         "reports the per-epoch loss curve")
    ap.add_argument("--embed-dim", type=int, default=16)
    ap.add_argument("--ppr-seeds", default=None,
                    help="with --graph-stats: comma-separated seed entities; "
                         "adds a personalized-PageRank relatedness column "
                         "(teleport to the seed set; iterations from "
                         "--pagerank-iters, default 10 when unset)")
    ap.add_argument("--communities", type=int, default=0,
                    help="with --graph-stats: also run N synchronous "
                         "label-propagation rounds over the triple graph and "
                         "add a community column")
    ap.add_argument("--hyperanf", type=int, default=0,
                    help="with --graph-stats: run the HyperANF neighborhood "
                         "function for N hops over the triple graph; writes "
                         "the (hops, n_pairs) curve to <out>/reach_curve and "
                         "reports the 90%% effective diameter")
    ap.add_argument("--scc", action="store_true",
                    help="with --graph-stats: also add a scc_id column "
                         "(strongly connected components — directed cycle "
                         "groups like mutual same-as/subClassOf loops)")
    ap.add_argument("--negatives", type=int, default=0,
                    help="emit N filtered negative corruptions per distinct "
                         "(subj, pred, obj) triple to <out>/neg_samples — "
                         "deterministic embedding-training negatives")
    ap.add_argument("--shape-rules", default=None,
                    help="JSON file of SHACL-lite rules "
                         "[{pred, subj_regex, obj_regex}, ...]: validate the "
                         "emitted triples and write violations to "
                         "<out>/shape_violations")
    ap.add_argument("--merge-state", default=None,
                    help="fold this run's triples into the accumulated "
                         "(subj, pred, obj) state table at this path — MERGE "
                         "INTO upsert semantics (max confidence, first/last "
                         "seen batch, observation counts)")
    ap.add_argument("--ntriples", action="store_true",
                    help="also export the triple table as an N-Triples text "
                         "dataset at <out>/triples_nt (partition files "
                         "independently valid; cat restores one document)")
    ap.add_argument("--gold", default=None,
                    help="parquet of gold (subj, obj) links: write an "
                         "ontology-aware linking scorecard (exact + soft P/R, "
                         "near-misses credited by Lin similarity over the "
                         "is_a hierarchy) to <out>/link_eval")
    args = ap.parse_args()

    from phenoqc_spark.logging_utils import log_activity, setup_logging

    setup_logging(args.log_file)
    log_activity(f"{__file__} started: {vars(args)}")
    if not args.pages and not args.generate_rows:
        ap.error("one of --pages or --generate-rows is required")

    from phenoqc_spark.fixtures import fixture_config
    from phenoqc_spark.ontology import TermResolver
    from phenoqc_spark.operators import resume as R
    from phenoqc_spark.operators import triples as T
    from phenoqc_spark.pipeline import build_triples, extract_records
    from phenoqc_spark.session import get_spark

    spark = get_spark("kg-job")
    custom = None
    if args.custom_mappings:
        with open(args.custom_mappings) as fh:
            custom = json.load(fh)
    resolver = TermResolver.from_config(
        fixture_config(args.onto_dir, args.fuzzy_threshold), custom
    )
    resolver_bc = spark.sparkContext.broadcast(resolver)

    if args.generate_rows:
        from phenoqc_spark.pages import generate_pages

        pages = generate_pages(spark, args.generate_rows)
    else:
        pages = spark.read.parquet(args.pages)

    run_id = uuid.uuid4().hex[:12]
    audit_path = os.path.join(args.out, "audit")
    triples_path = os.path.join(args.out, "triples")

    done = R.completed_part_keys(spark, audit_path) if args.resume else None
    keyed = R.filter_resumable(R.with_part_key(pages, args.buckets), done)

    # part_key rides the projection — never a fact-side re-join (the join
    # on url would shuffle the whole fact table just to recover one column)
    records = extract_records(keyed, keep=["part_key"])
    trip, _ = build_triples(records, resolver_bc)
    trip_keyed = trip.withColumn(
        "part_key", F.pmod(F.xxhash64(F.col("provenance")), F.lit(args.buckets)).cast("int")
    )

    t0 = time.time()
    # every bucket already done: nothing to write or audit
    all_done = done is not None and (
        done.where(F.col("part_key").between(0, args.buckets - 1)).count()
        == args.buckets
    )
    if not all_done:
        R.write_triples_idempotent(trip_keyed, triples_path)
        metrics = R.partition_metrics(records, trip_keyed)
        R.append_audit(spark, audit_path, run_id, metrics)
    n = spark.read.parquet(triples_path).count()
    graph_stats_path = None
    if args.graph_stats:
        from phenoqc_spark.operators.canonicalize import (
            clustering_coefficients,
            graph_degree_stats,
        )

        tri_df = spark.read.parquet(triples_path)
        graph_stats_path = os.path.join(args.out, "graph_stats")
        deg = graph_degree_stats(tri_df)
        cc = clustering_coefficients(
            tri_df.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        )
        stats = deg.join(
            cc.select("node", "n_triangles", "clustering_coeff"),
            deg.entity == cc.node, "left",
        ).drop("node")
        if args.kcore:
            from phenoqc_spark.operators.canonicalize import coreness

            kc = coreness(
                tri_df.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            )
            stats = stats.join(
                kc.withColumnRenamed("node", "entity"), "entity", "left"
            )
        if args.pagerank_iters > 0:
            from phenoqc_spark.operators.canonicalize import pagerank

            pr = pagerank(
                tri_df.select(F.col("subj").alias("src"), F.col("obj").alias("dst")),
                iters=args.pagerank_iters,
            )
            stats = stats.join(
                pr.withColumnRenamed("node", "entity"), "entity", "left"
            )
        if args.ppr_seeds:
            from phenoqc_spark.operators.canonicalize import pagerank as _pr

            seeds = [s.strip() for s in args.ppr_seeds.split(",") if s.strip()]
            ppr = _pr(
                tri_df.select(F.col("subj").alias("src"), F.col("obj").alias("dst")),
                iters=args.pagerank_iters or 10,
                seeds=seeds,
            ).withColumnRenamed("rank", "ppr")
            stats = stats.join(
                ppr.withColumnRenamed("node", "entity"), "entity", "left"
            )
        if args.communities > 0:
            from phenoqc_spark.operators.canonicalize import label_propagation

            lp = label_propagation(
                tri_df.select(F.col("subj").alias("src"), F.col("obj").alias("dst")),
                iters=args.communities,
            )
            stats = stats.join(
                lp.withColumnRenamed("node", "entity")
                .withColumnRenamed("label", "community"),
                "entity", "left",
            )
        if args.scc:
            from phenoqc_spark.operators.canonicalize import (
                strongly_connected_components,
            )

            sc = strongly_connected_components(
                tri_df.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            )
            stats = stats.join(
                sc.withColumnRenamed("node", "entity"), "entity", "left"
            )
        stats.write.mode("overwrite").parquet(graph_stats_path)
        log_activity(f"graph stats -> {graph_stats_path}")
    embed_path = None
    embed_losses = None
    if args.embed_epochs > 0:
        from phenoqc_spark.operators.embeddings import sgns_train
        from phenoqc_spark.operators.triples import negative_samples

        tri_df = spark.read.parquet(triples_path)
        pos = tri_df.select(F.col("subj").alias("center"), F.col("obj").alias("context"))
        neg = negative_samples(tri_df, n_per_positive=1).select(
            F.col("subj").alias("center"), F.col("neg_obj").alias("context")
        )
        emb, losses = sgns_train(
            pos, d=args.embed_dim, epochs=args.embed_epochs, neg_pairs=neg
        )
        embed_path = os.path.join(args.out, "embeddings")
        emb.write.mode("overwrite").parquet(embed_path)
        embed_losses = [round(l, 2) for l in losses]
        log_activity(f"embeddings -> {embed_path} (losses {embed_losses})")
    reach_path = None
    eff_diam = None
    if args.graph_stats and args.hyperanf > 0:
        from phenoqc_spark.operators.sketches import effective_diameter, hyperanf

        tri_df = spark.read.parquet(triples_path)
        curve = hyperanf(
            tri_df.select(F.col("subj").alias("src"), F.col("obj").alias("dst")),
            max_hops=args.hyperanf,
        )
        reach_path = os.path.join(args.out, "reach_curve")
        curve.write.mode("overwrite").parquet(reach_path)
        eff_diam = effective_diameter(
            [(r.hops, r.n_pairs) for r in curve.collect()]
        )
        log_activity(f"reach curve -> {reach_path} (eff. diameter {eff_diam:.2f})")
    rollup_path = None
    if args.isa_rollup:
        from phenoqc_spark.ontology.obo import build_isa_edges
        from phenoqc_spark.operators.canonicalize import (
            ancestor_closure,
            rollup_counts,
        )

        isa_edges = []
        for fn in sorted(os.listdir(args.onto_dir)):
            if fn.lower().endswith((".obo", ".json", ".owl")):
                isa_edges += build_isa_edges(os.path.join(args.onto_dir, fn))
        if isa_edges:
            edf = spark.createDataFrame(isa_edges, "child string, parent string")
            closure = ancestor_closure(edf)
            # hierarchy members only (broadcast semi-join): the rollup is a
            # subsumption view, so objects outside any is_a DAG — unlinked
            # surfaces, flat-ontology ids — stay out of it; leaf self-counts
            # come from include_self.  Record key = subj, so a subject
            # linked to two terms in one subtree counts once per ancestor.
            members = (
                closure.select(F.col("node").alias("term"))
                .union(closure.select(F.col("ancestor").alias("term")))
                .distinct()
            )
            facts = (
                spark.read.parquet(triples_path)
                .select(F.col("obj").alias("term"), F.col("subj").alias("rec"))
                .join(F.broadcast(members), "term", "left_semi")
            )
            rollup = rollup_counts(
                facts, closure, term_col="term", distinct_col="rec"
            )
            rollup_path = os.path.join(args.out, "term_rollup")
            rollup.write.mode("overwrite").parquet(rollup_path)
            log_activity(f"is_a rollup -> {rollup_path}")
        else:
            log_activity("is_a rollup skipped: no is_a edges in ontologies")
    neg_path = None
    if args.negatives > 0:
        neg = T.negative_samples(
            spark.read.parquet(triples_path).select(
                F.col("subj"), F.col("pred"), F.col("obj")
            ),
            n_per_positive=args.negatives,
        )
        neg_path = os.path.join(args.out, "neg_samples")
        neg.write.mode("overwrite").parquet(neg_path)
        log_activity(f"negative samples -> {neg_path}")
    shapes_path = None
    if args.shape_rules:
        with open(args.shape_rules) as fh:
            rule_rows = json.load(fh)
        rules = spark.createDataFrame(
            [
                (r["pred"], r.get("subj_regex"), r.get("obj_regex"))
                for r in rule_rows
            ],
            "pred string, subj_regex string, obj_regex string",
        )
        viol = T.validate_triple_shapes(
            spark.read.parquet(triples_path), rules
        )
        shapes_path = os.path.join(args.out, "shape_violations")
        viol.write.mode("overwrite").parquet(shapes_path)
        n_viol = spark.read.parquet(shapes_path).count()
        log_activity(f"shape validation -> {shapes_path}: {n_viol} violations")
    merge_info = None
    if args.merge_state:
        # linking score (0-100) rescaled to a 0-1 confidence
        tri = spark.read.parquet(triples_path).select(
            F.col("subj").alias("subject"),
            F.col("pred").alias("predicate"),
            F.col("obj").alias("object"),
            (F.col("score").cast("double") / 100.0).alias("confidence"),
        )
        merge_info = R.merge_state_into(spark, args.merge_state, tri)
        merge_info["path"] = args.merge_state
        log_activity(f"triple-state merge -> {merge_info}")
    nt_path = None
    if args.ntriples:
        nt_path = os.path.join(args.out, "triples_nt")
        T.write_ntriples(
            spark.read.parquet(triples_path).select("subj", "pred", "obj"),
            nt_path,
        )
        log_activity(f"ntriples export -> {nt_path}")
    eval_path = None
    if args.gold:
        from phenoqc_spark.ontology.obo import build_isa_edges
        from phenoqc_spark.operators.canonicalize import (
            ancestor_closure,
            soft_link_pr,
            term_ic,
        )

        isa_edges = []
        for fn in sorted(os.listdir(args.onto_dir)):
            if fn.lower().endswith((".obo", ".json", ".owl")):
                isa_edges += build_isa_edges(os.path.join(args.onto_dir, fn))
        edf = spark.createDataFrame(
            isa_edges or [("__none__", "__root__")], "child string, parent string"
        )
        closure = ancestor_closure(edf)
        produced = spark.read.parquet(triples_path).select("subj", F.col("obj"))
        gold_df = spark.read.parquet(args.gold).select("subj", "obj")
        ic = term_ic(produced.select(F.col("obj").alias("term")), closure)
        scorecard = soft_link_pr(
            produced, gold_df, ic, closure, key_col="subj", term_col="obj"
        )
        eval_path = os.path.join(args.out, "link_eval")
        scorecard.write.mode("overwrite").parquet(eval_path)
        row = spark.read.parquet(eval_path).collect()[0].asDict()
        log_activity(f"link eval -> {eval_path}: {row}")
    report_path = None
    if args.report:
        from phenoqc_spark.report import (
            generate_html_report,
            generate_pdf_report,
            generate_report,
        )

        # graph/subsumption diagnostics flow into the report when the
        # respective flags are on
        gs = spark.read.parquet(graph_stats_path) if graph_stats_path else None
        tr = spark.read.parquet(rollup_path) if rollup_path else None
        le = spark.read.parquet(eval_path) if eval_path else None
        report_path = os.path.join(args.out, "qc_report.md")
        generate_report(
            spark, triples_path, audit_path, report_path,
            graph_stats=gs, term_rollup=tr, link_eval=le,
        )
        generate_html_report(
            spark, triples_path, audit_path,
            os.path.join(args.out, "qc_report.html"),
            graph_stats=gs, term_rollup=tr, link_eval=le,
        )
        generate_pdf_report(
            spark, triples_path, audit_path,
            os.path.join(args.out, "qc_report.pdf"),
            graph_stats=gs, term_rollup=tr, link_eval=le,
        )

    print(json.dumps({
        "run_id": run_id,
        "sec": round(time.time() - t0, 2),
        "triples_total": n,
        "resumed": bool(args.resume),
        "report": report_path,
        "graph_stats": graph_stats_path,
        "embeddings": embed_path,
        "embed_losses": embed_losses,
        "reach_curve": reach_path,
        "effective_diameter": eff_diam,
        "term_rollup": rollup_path,
        "ntriples": nt_path,
        "link_eval": eval_path,
        "merge_state": merge_info,
        "shape_violations": shapes_path,
        "neg_samples": neg_path,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
