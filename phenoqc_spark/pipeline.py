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
(operators/resume.py).  Each JVM step is one SQL-expression call
(``selectExpr``/``where``), so building the plan costs ~120 driver↔JVM
round trips, not one per Column node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.text import extract_text, extract_text_expr, sql_ident, sql_string
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

    The record parse is JVM-side: ``str_to_map`` over the ``key: value``
    lines, empty values as NULL.  Numeric fields use ``try_cast``, not
    ``cast``: under ANSI one malformed number in web text would kill the
    job; the reference coerces to NaN (``pd.to_numeric(errors='coerce')``,
    batch_processing.py).
    """
    extractor = F.expr(extract_text_expr("html")) if jvm_extract else extract_text("html")
    df = (
        pages.where(f"lang = {sql_string(lang)}")
        .withColumn("extracted_text", extractor)
        .selectExpr("*", "str_to_map(extracted_text, '\\n', ': ') AS rec")
    )

    def field(name):
        return f"nullif(rec[{sql_string(name)}], '')"

    cols = ["url", "warc_ts", "extracted_text", *map(sql_ident, keep or [])]
    cols += [f"{field(n)} AS {sql_ident(n)}" for n in STRING_FIELDS]
    cols += [f"try_cast({field(n)} AS DOUBLE) AS {sql_ident(n)}" for n in NUMERIC_FIELDS]
    cols.append(
        f"from_json({field('ObservedFeatures')}, 'array<string>') AS ObservedFeatures"
    )
    return df.selectExpr(*cols)


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
    """pages → {'records', 'terms', 'triples'}, three lazy frames of one
    plan: :func:`extract_records`, then :func:`build_triples`'s term rows
    (un-normalized) and triples.  Building them runs no Spark job."""
    resolver_bc = spark.sparkContext.broadcast(resolver)
    records = extract_records(pages)
    trip, terms = build_triples(records, resolver_bc)
    return {"records": records, "terms": terms, "triples": trip}
