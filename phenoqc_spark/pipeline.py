"""End-to-end KG-construction pipeline: pages → validated records → triples.

Recasts the reference's per-file loop (reference:
src/phenoqc/batch_processing.py:240-1031) as one lazy Catalyst plan:

    scan pages  (column-pruned; partition pruning on warc_ts at scale)
    → filter lang='en'                          (codegen)
    → extract text from html                    (JVM expression)
    → parse record (str_to_map)                 (JVM)
    → typed projection (try_cast)               (JVM)
    → terms explode                             (ONE Generate)
    → normalize + link, batch-unique terms      (ONE mapInPandas; broadcast
                                                 dicts, per-executor memo)
    → (subj, pred, obj) set dedup               (the one exchange)

The per-file ProcessPoolExecutor boundary becomes task parallelism over
partitions; checkpoint-resume is handled by the audit/status layer
(operators/resume.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.text import extract_text, parse_records, record_field
from .operators import triples as T

NUMERIC_FIELDS = [
    "Height_cm",
    "Weight_kg",
    "Cholesterol_mgdl",
    "BP_systolic",
    "BP_diastolic",
    "Glucose_mgdl",
    "Creatinine_mgdl",
]
STRING_FIELDS = [
    "SampleID",
    "PrimaryPhenotype",
    "SecondaryPhenotype",
    "TertiaryPhenotype",
    "DiseaseCode",
    "VisitDate",
    "SampleCollectionDateTime",
    "GenomeSampleID",
    "HospitalID",
    "label",
]


def extract_records(
    pages: DataFrame,
    lang: str = "en",
    keep: list[str] | None = None,
    jvm_extract: bool = True,
) -> DataFrame:
    """pages → typed record DataFrame (url, warc_ts, SampleID, …).

    ``jvm_extract=True`` extracts with the pure-JVM
    :func:`extract_text_expr`, so the html bytes never cross the
    JVM↔Python Arrow boundary; ``jvm_extract=False`` uses the Arrow UDF.
    Both give the same records on valid UTF-8.  Pass ``jvm_extract=False``
    for corpora that can contain invalid UTF-8, where Java binary→string
    casting and Python ``decode('utf-8', 'replace')`` may emit different
    U+FFFD runs.  ``keep`` carries extra input columns (e.g. a resume
    ``part_key``) through the projection so callers never need a
    fact-side re-join to recover them.
    """
    from .functions.text import extract_text_expr

    df = pages.filter(F.col("lang") == lang)
    extractor = (
        extract_text_expr(F.col("html")) if jvm_extract else extract_text(F.col("html"))
    )
    df = df.withColumn("extracted_text", extractor)
    df = parse_records(df, "extracted_text")
    cols = [F.col("url"), F.col("warc_ts"), F.col("extracted_text")]
    cols += [F.col(c) for c in (keep or [])]
    for name in STRING_FIELDS:
        cols.append(record_field(name).alias(name))
    for name in NUMERIC_FIELDS:
        # try_cast, not cast: under ANSI a single malformed numeric field
        # in web text would kill the whole job; the reference coerces to
        # NaN (pd.to_numeric(errors='coerce'), batch_processing.py)
        cols.append(record_field(name).try_cast("double").alias(name))
    cols.append(
        F.from_json(record_field("ObservedFeatures"), "array<string>").alias(
            "ObservedFeatures"
        )
    )
    return df.select(*cols)


def build_triples(
    records: DataFrame,
    resolver_bc,
    pheno_columns: list[str] | None = None,
    array_columns: list[str] | None = None,
):
    """records → (triples_df, terms_df); the engine's one fact path.

    Every triple builder calls this.  The upstream runs once: the term
    rows feed one ``mapInPandas`` that normalizes and links each batch's
    unique terms through the per-executor memo, with no vocabulary branch
    and no join-back.  The raw term is dropped from the Arrow return
    path.  ``pheno_columns``/``array_columns`` are
    :func:`~phenoqc_spark.operators.triples.terms_long`'s; ``terms_df``
    is the un-normalized term rows.
    """
    from .functions.linking import link_terms_inline

    terms = T.terms_long(records, pheno_columns, array_columns, normalize=False)
    linked = link_terms_inline(
        terms, resolver_bc, normalize=True, drop_input_cols=("term",)
    )
    return T.triples(linked), terms


def run_pipeline(spark: SparkSession, pages: DataFrame, resolver) -> dict:
    """Full DAG; returns {'triples', 'records', 'terms', 'mapping_stats'}."""
    from .functions.text import normalize_terms as _norm_udf
    from pyspark.sql import functions as _F

    resolver_bc = spark.sparkContext.broadcast(resolver)
    records = extract_records(pages)
    trip, terms = build_triples(records, resolver_bc)
    terms_n = terms.withColumn("term_norm", _norm_udf(_F.col("term")))
    return {
        "records": records,
        "triples": trip,
        "terms": terms_n,
        # lazy plan — only pays the vocab pass if actually collected
        "mapping_stats": T.mapping_stats(terms_n, T.resolve_vocab(terms_n, resolver_bc)),
    }
