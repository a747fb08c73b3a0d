"""QC batch job: the Spark twin of the reference's `phenoqc` CLI
(reference: src/phenoqc/cli.py + batch_processing.py:200-999).

Per input file: load → validate (schema/duplicates/conflicts/anomalies)
→ impute → ontology-map to wide {ONTO}_ID columns → write processed CSV
+ a summary JSON line; optional Markdown/HTML report per run.

    spark-submit --py-files phenoqc_spark.zip jobs/run_qc_job.py \\
        --input data/*.csv --schema schema.json --config config.yaml \\
        --unique_identifiers SampleID --impute mean --output /out

Differences from the reference, by design: processing is distributed
(each file is a Spark job, not a pandas chunk loop), and the processed
CSV is a Spark CSV directory per input (pass --single-file to coalesce
to one part — fine for small files, not at scale).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="PhenoQC-Spark batch QC")
    ap.add_argument("--input", nargs="+", required=True,
                    help="input files/dirs/zips (csv, tsv, json)")
    ap.add_argument("--output", default="./reports/")
    ap.add_argument("--schema", required=True, help="JSON schema file")
    ap.add_argument("--config", default="config.yaml", help="YAML/JSON config")
    ap.add_argument("--custom_mappings", default=None)
    ap.add_argument("--impute", default=None,
                    choices=[None, "mean", "median", "mode", "knn", "mice", "svd", "none"],
                    help="override the config imputation strategy")
    ap.add_argument("--impute-params", type=json.loads, default=None,
                    help='JSON params for the strategy, e.g. {"n_neighbors": 5}')
    # diagnostics toggles mirroring the reference CLI (cli.py:38-107)
    ap.add_argument("--impute-tuning", choices=["on", "off"], default="off",
                    help="mask-and-score parameter tuning (I6)")
    ap.add_argument("--impute-diagnostics", choices=["on", "off"], default="off",
                    help="imputation stability diagnostics (I9)")
    ap.add_argument("--diag-repeats", type=int, default=5)
    ap.add_argument("--log-file", default=None,
                    help="driver log file under ./logs (auto-named when omitted; reference logging_module.py parity)")
    ap.add_argument("--diag-mask-fraction", type=float, default=0.10)
    ap.add_argument("--diag-scoring", choices=["MAE", "RMSE"], default="MAE")
    ap.add_argument("--mi-uncertainty", choices=["on", "off"], default="off",
                    help="multiple-imputation uncertainty via MICE repeats (I10)")
    ap.add_argument("--mi-repeats", type=int, default=3)
    ap.add_argument("--bias-smd-threshold", type=float, default=0.10)
    ap.add_argument("--bias-var-ratio-threshold", type=float, default=2.0)
    ap.add_argument("--bias-ks-threshold", type=float, default=0.10)
    ap.add_argument("--bias-psi-threshold", type=float, default=0.10)
    ap.add_argument("--profile", choices=["on", "off"], default="off",
                    help="add a per-numeric-column profile (count/nulls/"
                         "min/max/mean/stddev/p25/p50/p75/p95, approx "
                         "GK percentiles) to the summary JSON")
    ap.add_argument("--quality-metrics", "--metrics", nargs="+", default=None,
                    choices=["accuracy", "redundancy", "traceability",
                             "timeliness", "imputation_bias", "all"],
                    help="additional quality metrics to evaluate "
                         "(reference QUALITY_METRIC_CHOICES)")
    ap.add_argument("--redundancy-threshold", type=float, default=None)
    ap.add_argument("--redundancy-method", choices=["pearson", "spearman"], default=None)
    ap.add_argument("--label-column", default=None,
                    help="label column for a class-distribution summary")
    ap.add_argument("--imbalance-threshold", type=float, default=0.10)
    ap.add_argument("--protected-columns", nargs="+", default=[],
                    help="columns excluded from imputation and diagnostics")
    ap.add_argument("--unique_identifiers", nargs="+", required=True)
    ap.add_argument("--ontologies", nargs="+", default=None,
                    help="override target ontologies for every phenotype column")
    ap.add_argument("--recursive", action="store_true")
    ap.add_argument("--offline", action="store_true")
    ap.add_argument("--single-file", action="store_true",
                    help="coalesce each processed CSV to one part")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()

    from phenoqc_spark.logging_utils import log_activity, setup_logging

    setup_logging(args.log_file)
    log_activity(f"{__file__} started: {vars(args)}")

    from pyspark.sql import functions as F

    from phenoqc_spark.api import DataValidator, ImputationEngine
    from phenoqc_spark.config import load_config
    from phenoqc_spark.ontology import TermResolver
    from phenoqc_spark.operators.triples import map_wide, mapping_stats, terms_long
    from phenoqc_spark.session import get_spark
    from phenoqc_spark.sources.readers import collect_input_files, load_data

    spark = get_spark("phenoqc-qc-job", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("WARN")

    cfg = load_config(args.config)
    if args.offline:
        cfg["offline"] = True
    custom = None
    if args.custom_mappings:
        custom = json.load(open(args.custom_mappings))
    resolver = TermResolver.from_config(cfg, custom)
    resolver_bc = spark.sparkContext.broadcast(resolver)
    schema = json.load(open(args.schema))

    pheno_cfg = cfg.get("phenotype_columns") or {}
    if args.ontologies:
        pheno_cfg = {c: list(args.ontologies) for c in pheno_cfg} or {}

    impute_cfg = dict(cfg.get("imputation") or {})
    if args.impute:
        impute_cfg["strategy"] = args.impute
    if args.impute_params:
        impute_cfg["params"] = {**(impute_cfg.get("params") or {}), **args.impute_params}
    if args.impute_tuning == "on":
        impute_cfg["tuning"] = {
            **(impute_cfg.get("tuning") or {}),
            "enable": True,
            "mask_fraction": args.diag_mask_fraction,
            "scoring": args.diag_scoring,
        }
    protected = list(args.protected_columns or [])

    os.makedirs(args.output, exist_ok=True)
    files = collect_input_files(args.input, recursive=args.recursive)
    summaries = []
    for path in files:
        stem = os.path.splitext(os.path.basename(path))[0]
        df = load_data(spark, path)
        validator = DataValidator(
            df, schema, [c for c in args.unique_identifiers if c in df.columns]
        )
        quality_cfg = dict(cfg.get("quality") or {})
        if args.quality_metrics:
            quality_cfg["quality_metrics"] = list(args.quality_metrics)
        if args.redundancy_threshold is not None or args.redundancy_method is not None:
            rcfg = dict(quality_cfg.get("redundancy") or {})
            if args.redundancy_threshold is not None:
                rcfg["threshold"] = args.redundancy_threshold
            if args.redundancy_method is not None:
                rcfg["method"] = args.redundancy_method
            quality_cfg["redundancy"] = rcfg
        results = validator.run_all_validations(quality_cfg)
        flagged = results["Format Validation"]
        n_rows = df.count()
        n_violations = flagged.filter(flagged.SchemaViolationFlag).count()
        n_dups = results["Duplicate Records"].count()
        n_conflicts = results["Conflicting Records"].count()
        extra_metrics = {}
        for key in (
            "Accuracy Issues",
            "Traceability Issues",
            "Timeliness Issues",
        ):
            if results.get(key) is not None:
                extra_metrics[key] = results[key].count()
        if results.get("Redundancy Issues") is not None:
            extra_metrics["Redundancy Issues"] = [
                r.asDict() for r in results["Redundancy Issues"].collect()
            ]

        engine = ImputationEngine(
            impute_cfg, exclude_columns=list(args.unique_identifiers) + protected
        )
        imputed = engine.fit_transform(df)

        # --- optional imputation diagnostics (reference: cli.py:38-107,
        # qc_payload in batch_processing.py:973-999) — computed on the
        # reference's bounded deterministic sample (≤10k rows, seed 42),
        # never the full distributed frame -------------------------------
        strategy = impute_cfg.get("strategy") or "none"
        quality_metrics_payload = {
            "imputation_bias": {"rows": []},
            "imputation_stability": {"rows": []},
            "imputation_uncertainty": {"rows": []},
        }
        numeric_cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("double", "float", "integer", "long", "short")
            and f.name not in args.unique_identifiers
            and f.name not in protected
        ]
        id0 = args.unique_identifiers[0]
        if strategy != "none" and numeric_cols and id0 in df.columns:
            from phenoqc_spark.operators import diagnostics as DG
            from phenoqc_spark.operators.quality import reservoir_sample

            before_s = reservoir_sample(df.select(id0, *numeric_cols), n=10000, seed=42)
            before_pd = before_s.toPandas().set_index(id0)
            # rows whose identifier is duplicated cannot be row-aligned
            # between the before/after frames — they are excluded from the
            # diagnostic sample (they are already reported as duplicates)
            before_pd = before_pd[~before_pd.index.duplicated(keep=False)]
            after_pd = (
                imputed.select(id0, *numeric_cols)
                .join(before_s.select(id0), id0, "left_semi")
                .toPandas()
                .set_index(id0)
            )
            after_pd = after_pd[~after_pd.index.duplicated(keep=False)].reindex(
                before_pd.index
            )
            bias = DG.imputation_bias_report(
                before_pd,
                after_pd,
                numeric_cols,
                smd_warn=args.bias_smd_threshold,
                var_ratio_warn=args.bias_var_ratio_threshold,
                ks_warn=args.bias_ks_threshold,
                psi_warn=args.bias_psi_threshold,
            )
            quality_metrics_payload["imputation_bias"]["rows"] = bias.to_dict("records")
            if args.impute_diagnostics == "on":
                stab = DG.imputation_stability(
                    before_pd,
                    strategy,
                    params=impute_cfg.get("params"),
                    repeats=args.diag_repeats,
                    mask_fraction=args.diag_mask_fraction,
                )
                quality_metrics_payload["imputation_stability"]["rows"] = stab.to_dict("records")
            if args.mi_uncertainty == "on":
                mi = DG.mi_uncertainty(before_pd, repeats=args.mi_repeats)
                quality_metrics_payload["imputation_uncertainty"]["rows"] = mi.to_dict("records")

        class_dist_rows = None
        if args.label_column and args.label_column in df.columns:
            from phenoqc_spark.operators.quality import class_distribution

            class_dist_rows = [
                r.asDict()
                for r in class_distribution(
                    df, args.label_column, warn_threshold=args.imbalance_threshold
                ).collect()
            ]

        profile_rows = []
        if args.profile == "on":
            from phenoqc_spark.operators.quality import numeric_profile

            num_cols = [
                f.name
                for f in imputed.schema.fields
                if f.dataType.typeName()
                in ("integer", "long", "double", "float", "short", "decimal")
            ]
            if num_cols:
                profile_rows = [
                    r.asDict() for r in numeric_profile(imputed, num_cols).collect()
                ]

        mapped = map_wide(
            imputed, pheno_cfg, resolver_bc, id_col=args.unique_identifiers[0]
        ) if pheno_cfg else imputed

        stats_rows = []
        if pheno_cfg:
            terms = terms_long(
                mapped.withColumn("_u", F.lit("")),
                [c for c in pheno_cfg if c in mapped.columns],
                [],
                id_col=args.unique_identifiers[0],
                url_col="_u",
            )
            stats_rows = [r.asDict() for r in mapping_stats(terms, resolver_bc).collect()]

        out_dir = os.path.join(args.output, f"{stem}_processed.csv")
        writer = mapped.coalesce(1) if args.single_file else mapped
        writer.write.mode("overwrite").option("header", True).csv(out_dir)

        summaries.append(
            {
                "file": path,
                "rows": n_rows,
                "schema_violations": n_violations,
                "duplicates": n_dups,
                "conflicts": n_conflicts,
                "imputation": impute_cfg.get("strategy") or "none",
                "extra_metrics": extra_metrics,
                "imputation_tuning": engine.tuning_summary,
                "quality_metrics": quality_metrics_payload,
                "class_distribution": class_dist_rows,
                "numeric_profile": profile_rows,
                "mapping_stats": stats_rows,
                "processed": out_dir,
            }
        )
        print(json.dumps(summaries[-1]))

    with open(os.path.join(args.output, "qc_summary.json"), "w") as fh:
        json.dump(summaries, fh, indent=1)
    print(json.dumps({"files": len(summaries), "output": args.output}))


if __name__ == "__main__":
    main()
