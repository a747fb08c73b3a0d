"""Deterministic synthetic Common-Crawl-style ``pages`` table (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.

Everything is generated with JVM-side Spark expressions keyed on
``xxhash64(url, salt)`` — O(rows) with zero shuffles, no driver-side
loops, and bit-reproducible at any scale/parallelism.  ``html`` is exactly
``<html><body><p>`` + utf-8(text) + ``</p></body></html>`` so
``extract_text`` must invert it byte-identically (the per-row invariant).

The embedded record mirrors the reference's production schema
(reference: scripts/config/schema.json) with the quirk rates of
``scripts/synthetic_data_generation.py:10-13`` (10% missing, 5% dups,
~5% invalid dates/refs, z-score outliers).

Ground-truth triples are derived from the *same* hash picks by joining the
pick index against a driver-built pool dimension whose expected ids come
from the TermResolver (which itself is pinned to the reference's golden
unit-test values — tests/test_mapper.py).
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F

# --- term pools (FIXTURES.md §4) -------------------------------------------

PRIMARY_POOL = [
    "Hypertension",
    "High blood pressure",
    "Hypertention",
    "HP:0000822",
    "hp_0000822",
    "( HP:0000822 )",
    "HP:0999999",
    "Asthma",
    "Reactive airway disease",
    "Diabetes",
    "Xyzzypopple",
    "",  # missing
]

SECONDARY_POOL = [
    "Sugar diabetes",
    "Diabetes",
    "Asthma",
    "  High\tblood pressure (HP:0000822)  ",
    "hp 0002090",
    "Qwertyuiopasdf",
    "",
]

TERTIARY_POOL = [
    "Obesity",
    "Abnormal behavior",
    "MP:0001943",
    "mp 1902",
    "Zzyzxnothing",
    "",
]

DISEASE_POOL = [
    "DOID:1612",
    "doid:1612",
    "DO 1612",
    "Diabetes Mellitus",
    "ICD10CM:E11",
    "Anemia",
    "Fatty syndrome",
    "NotADisease123",
    "",
]

OBSERVED_POOL: List[List[str]] = [
    [],
    ["Hypertension"],
    ["Asthma", "Xyzzypopple"],
    ["HP:0999999", "Sugar diabetes"],
    ["Reactive airway disease", "Hypertention", "Diabetes"],
]

PHENO_POOLS: Dict[str, List[str]] = {
    "PrimaryPhenotype": PRIMARY_POOL,
    "SecondaryPhenotype": SECONDARY_POOL,
    "TertiaryPhenotype": TERTIARY_POOL,
    "DiseaseCode": DISEASE_POOL,
}

RECORD_FIELDS = [
    "SampleID",
    "Height_cm",
    "Weight_kg",
    "Cholesterol_mgdl",
    "BP_systolic",
    "BP_diastolic",
    "Glucose_mgdl",
    "Creatinine_mgdl",
    "PrimaryPhenotype",
    "SecondaryPhenotype",
    "TertiaryPhenotype",
    "DiseaseCode",
    "ObservedFeatures",
    "VisitDate",
    "SampleCollectionDateTime",
    "GenomeSampleID",
    "HospitalID",
    "label",
]


def _h(salt: str):
    return F.xxhash64(F.col("url"), F.lit(salt))


def _pick_idx(pool_len: int, salt: str):
    return F.pmod(_h(salt), F.lit(pool_len)).cast("int")


def base_frame(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    df = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    df = df.withColumn("url", F.format_string("https://example.org/doc/%08d", F.col("id")))
    # 5% duplicated SampleIDs (i%20==1 reuses previous row's id) with
    # conflicting non-id fields (different url -> different hashes).
    df = df.withColumn(
        "sid",
        F.when((F.col("id") % 20 == 1) & (F.col("id") > 0), F.col("id") - 1).otherwise(
            F.col("id")
        ),
    )
    return df


def _numeric_line(name: str, int_part_base: int, int_part_mod: int, missing_mod: int = 10):
    """'name: <v>.<d>' with 10% missing; deterministic exact decimal strings."""
    h = _h(name)
    val = F.format_string(
        "%d.%d",
        (F.lit(int_part_base) + F.pmod(h, F.lit(int_part_mod))).cast("int"),
        F.pmod(F.abs(h), F.lit(10)).cast("int"),
    )
    return F.when(F.pmod(_h(name + "_miss"), F.lit(missing_mod)) == 0, F.lit("")).otherwise(val)


def record_columns(df: DataFrame) -> DataFrame:
    """Attach every record field (string-rendered) + pick indexes."""
    out = df
    out = out.withColumn("SampleID", F.col("sid").cast("string"))
    out = out.withColumn(
        "Height_cm",
        # 1% hard schema violations (-999 < minimum 0)
        F.when(F.pmod(_h("h_bad"), F.lit(100)) == 7, F.lit("-999.0")).otherwise(
            _numeric_line("Height_cm", 150, 500)
        ),
    )
    out = out.withColumn("Weight_kg", _numeric_line("Weight_kg", 50, 500))
    out = out.withColumn(
        "Cholesterol_mgdl",
        F.when(
            F.col("id") % 997 == 0,
            F.element_at(
                F.array(F.lit("1000.0"), F.lit("2000.0"), F.lit("3000.0")),
                (F.pmod(_h("chol_out"), F.lit(3)) + 1).cast("int"),
            ),
        ).otherwise(_numeric_line("Cholesterol_mgdl", 120, 120)),
    )
    out = out.withColumn("BP_systolic", _numeric_line("BP_systolic", 90, 90))
    out = out.withColumn("BP_diastolic", _numeric_line("BP_diastolic", 60, 60))
    out = out.withColumn("Glucose_mgdl", _numeric_line("Glucose_mgdl", 70, 180))
    out = out.withColumn("Creatinine_mgdl", _numeric_line("Creatinine_mgdl", 0, 3))
    for col, pool in PHENO_POOLS.items():
        out = out.withColumn(f"_idx_{col}", _pick_idx(len(pool), col))
        out = out.withColumn(
            col,
            F.element_at(
                F.array(*[F.lit(s) for s in pool]), F.col(f"_idx_{col}") + 1
            ),
        )
    # ObservedFeatures rendered as a JSON array string
    obs_json = [
        "[" + ",".join(f'"{t}"' for t in items) + "]" for items in OBSERVED_POOL
    ]
    out = out.withColumn("_idx_ObservedFeatures", _pick_idx(len(obs_json), "ObservedFeatures"))
    out = out.withColumn(
        "ObservedFeatures",
        F.element_at(
            F.array(*[F.lit(s) for s in obs_json]), F.col("_idx_ObservedFeatures") + 1
        ),
    )
    out = out.withColumn(
        "VisitDate",
        F.when(
            F.pmod(_h("vd_bad"), F.lit(20)) == 0,
            F.element_at(
                F.array(F.lit("NOT_A_DATE"), F.lit("2023-13-40")),
                (F.pmod(_h("vd_pick"), F.lit(2)) + 1).cast("int"),
            ),
        ).otherwise(
            F.date_format(
                F.date_add(F.lit("2023-01-01").cast("date"), F.pmod(_h("vd"), F.lit(365)).cast("int")),
                "yyyy-MM-dd",
            )
        ),
    )
    out = out.withColumn(
        "SampleCollectionDateTime",
        F.when(F.pmod(_h("dt_bad"), F.lit(20)) == 0, F.lit("INVALID_DATETIME_99")).otherwise(
            # 'T' separator means values never contain the ': ' k/v delimiter
            F.format_string(
                "2023-%02d-%02dT%02d:%02d:%02d",
                (F.pmod(_h("dt_m"), F.lit(12)) + 1).cast("int"),
                (F.pmod(_h("dt_d"), F.lit(28)) + 1).cast("int"),
                F.pmod(_h("dt_h"), F.lit(24)).cast("int"),
                F.pmod(_h("dt_mi"), F.lit(60)).cast("int"),
                F.pmod(_h("dt_s"), F.lit(60)).cast("int"),
            )
        ),
    )
    out = out.withColumn(
        "GenomeSampleID",
        F.when(
            F.pmod(_h("gs_bad"), F.lit(20)) == 0,
            F.format_string("GS_INVALID_%d", F.pmod(_h("gs_i"), F.lit(100)).cast("int")),
        ).otherwise(
            F.format_string("GS_%05d", (F.pmod(_h("gs"), F.lit(2000)) + 1).cast("int"))
        ),
    )
    out = out.withColumn(
        "HospitalID",
        F.when(
            F.pmod(_h("hid_bad"), F.lit(20)) == 0,
            F.format_string("HID_BAD_%d", F.pmod(_h("hid_i"), F.lit(100)).cast("int")),
        ).otherwise(
            F.format_string("HID_%04d", (F.pmod(_h("hid"), F.lit(500)) + 1).cast("int"))
        ),
    )
    out = out.withColumn(
        "label",
        F.when(F.pmod(_h("label"), F.lit(100)) < 60, F.lit("A"))
        .when(F.pmod(_h("label"), F.lit(100)) < 95, F.lit("B"))
        .otherwise(F.lit("C")),
    )
    return out


def generate_pages(
    spark: SparkSession, n_rows: int, partitions: int | None = None
) -> DataFrame:
    """The synthetic pages table: (url, warc_ts, html, text, lang)."""
    df = record_columns(base_frame(spark, n_rows, partitions))
    lines = [F.concat(F.lit(f"{name}: "), F.coalesce(F.col(name), F.lit(""))) for name in RECORD_FIELDS]
    df = df.withColumn("text", F.concat_ws("\n", *lines))
    df = df.withColumn(
        "html",
        F.concat(
            F.lit(b"<html><body><p>"), F.encode(F.col("text"), "utf-8"), F.lit(b"</p></body></html>")
        ),
    )
    df = df.withColumn(
        "warc_ts",
        F.to_timestamp(F.lit("2020-01-01 00:00:00"))
        + F.make_interval(days=F.pmod(F.col("id"), F.lit(365)).cast("int"))
        + F.make_interval(secs=F.pmod(F.col("id"), F.lit(86400)).cast("int")),
    )
    df = df.withColumn(
        "lang",
        F.when(F.pmod(_h("lang"), F.lit(100)) < 98, F.lit("en")).otherwise(
            F.element_at(
                F.array(F.lit("de"), F.lit("fr")), (F.pmod(_h("lang2"), F.lit(2)) + 1).cast("int")
            )
        ),
    )
    return df.select("url", "warc_ts", "html", "text", "lang")


# --- ground truth ------------------------------------------------------------

def pool_dimension(spark: SparkSession, resolver) -> DataFrame:
    """(column, idx, ontology, term_id) for every pool surface that resolves.

    Built driver-side (pools are tiny) from the TermResolver — the
    differential oracle whose scalar behavior is pinned to the reference's
    golden tests.
    """
    rows: List[Tuple[str, int, str, str]] = []
    for col, pool in PHENO_POOLS.items():
        for idx, surface in enumerate(pool):
            if not surface:
                continue
            for onto, tid in resolver.map_term(surface).items():
                if tid:
                    rows.append((col, idx, onto, tid))
    for idx, items in enumerate(OBSERVED_POOL):
        seen = set()
        for surface in items:
            for onto, tid in resolver.map_term(surface).items():
                if tid and (onto, tid) not in seen:
                    seen.add((onto, tid))
                    rows.append(("ObservedFeatures", idx, onto, tid))
    return spark.createDataFrame(rows, "column string, idx int, ontology string, term_id string")


def ground_truth_triples(
    spark: SparkSession, n_rows: int, resolver, partitions: int | None = None
) -> DataFrame:
    """Expected (subj, pred, obj) set for generate_pages(n_rows).

    Only english pages contribute (the pipeline filters lang='en'), matching
    the acceptance harness semantics (reference:
    scripts/check_ontology_accuracy.py:45-60 generalized to triples).
    """
    df = record_columns(base_frame(spark, n_rows, partitions))
    df = df.withColumn(
        "lang",
        F.when(F.pmod(_h("lang"), F.lit(100)) < 98, F.lit("en")).otherwise(F.lit("xx")),
    ).filter(F.col("lang") == "en")
    dim = F.broadcast(pool_dimension(spark, resolver))
    parts = []
    for col in list(PHENO_POOLS) + ["ObservedFeatures"]:
        picked = df.select(
            "url", "sid", F.lit(col).alias("column"), F.col(f"_idx_{col}").alias("idx")
        )
        parts.append(picked.join(dim, ["column", "idx"], "inner"))
    gt = parts[0]
    for p in parts[1:]:
        gt = gt.unionByName(p)
    return gt.select(
        F.concat_ws("#", F.col("url"), F.col("sid").cast("string")).alias("subj"),
        F.concat(F.col("column"), F.lit("->"), F.col("ontology")).alias("pred"),
        F.col("term_id").alias("obj"),
    ).distinct()
