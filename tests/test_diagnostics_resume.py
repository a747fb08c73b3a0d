"""Diagnostics (tuning/bias/stability/MI) and checkpoint-resume tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from phenoqc_spark.operators import diagnostics as G


def _sample(n=200, missing=0.2, seed=42):
    rng = np.random.RandomState(seed)
    a = rng.normal(10, 2, n)
    b = a * 0.5 + rng.normal(0, 0.5, n)
    c = rng.normal(-3, 1, n)
    df = pd.DataFrame({"a": a, "b": b, "c": c})
    mask = rng.rand(n, 3) < missing
    return df.mask(mask)


def test_ks_wasserstein_psi_basics():
    rng = np.random.RandomState(0)
    same = rng.normal(0, 1, 2000)
    shifted = rng.normal(2, 1, 2000)
    assert G.ks_statistic(same, same) == 0.0
    assert G.ks_statistic(same, shifted) > 0.5
    assert G.wasserstein1(same, shifted) == pytest.approx(2.0, abs=0.2)
    assert G.psi(same, same) < 0.01
    assert G.psi(same, shifted) > 0.5


def test_smd_var_ratio_cramers():
    a = np.array([1.0, 2, 3, 4, 5])
    assert G.smd(a, a) == 0.0
    assert G.variance_ratio(a, a) == 1.0
    s1 = pd.Series(["x", "x", "y", "y"] * 10)
    assert G.cramers_v(s1, s1) == pytest.approx(1.0)
    rng = np.random.RandomState(1)
    s2 = pd.Series(rng.choice(["x", "y"], 40))
    assert G.cramers_v(s1, s2) < 0.5


def test_bias_report():
    before = _sample()
    # mean-impute
    after = before.fillna(before.mean())
    rep = G.imputation_bias_report(before, after)
    assert set(rep["column"]) == {"a", "b", "c"}
    # mean imputation collapses variance → var_ratio triggers warn
    assert rep["warn"].any()


def test_tuning_prefers_reasonable_k():
    sample = _sample(300)
    best = G.tune_imputation(sample, "knn", grid={"n_neighbors": [2, 5]}, random_state=42)
    assert best["params"] is not None and best["score"] < np.inf
    assert best["metric"] == "MAE"


def test_stability_and_mi():
    sample = _sample(150)
    st = G.imputation_stability(sample, "mean", repeats=3)
    assert not st.empty and (st["mean_error"] > 0).all()
    mi = G.mi_uncertainty(sample, repeats=3)
    assert not mi.empty and (mi["n_missing"] > 0).all()


# --- resume ------------------------------------------------------------------

def test_kill_and_resume(spark, resolver, tmp_path):
    from phenoqc_spark import pages as PG
    from phenoqc_spark.operators import resume as R
    from phenoqc_spark.operators import triples as T
    from phenoqc_spark.pipeline import build_triples, extract_records

    pages = PG.generate_pages(spark, 300, partitions=4)
    keyed = R.with_part_key(pages, n_buckets=8)
    bc = spark.sparkContext.broadcast(resolver)

    def run(filtered, run_id):
        # mirrors jobs/run_kg_job.py
        records = extract_records(filtered, keep=["part_key"])
        trip, _ = build_triples(records, bc)
        trip_keyed = trip.withColumn(
            "part_key", F.pmod(F.xxhash64("provenance"), F.lit(8)).cast("int")
        )
        R.write_triples_idempotent(trip_keyed, str(tmp_path / "triples"))
        metrics = R.partition_metrics(records, trip_keyed)
        R.append_audit(spark, str(tmp_path / "audit"), run_id, metrics)

    # first attempt: only half the buckets "survive" (simulated crash)
    run(keyed.filter(F.col("part_key") < 4), "attempt1")
    done = R.completed_part_keys(spark, str(tmp_path / "audit"))
    assert done.count() == 4
    remaining = R.filter_resumable(keyed, done)
    assert remaining.select("part_key").distinct().count() == 4
    run(remaining, "attempt2")

    # full rerun from scratch must equal resumed result (idempotence); the
    # expected set is built by the vocab chain, so this also checks inline
    # linking against distinct-vocabulary linking across the crash
    expected_records = extract_records(keyed, keep=["part_key"])
    terms = T.terms_long(expected_records)
    links = T.resolve_vocab(terms, bc)
    expected = T.triples(T.link_terms(terms, links)).select("subj", "pred", "obj")
    got = spark.read.parquet(str(tmp_path / "triples")).select("subj", "pred", "obj")
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0 and expected.exceptAll(got).count() == 0


def test_resume_with_every_bucket_done_writes_nothing(spark, resolver, onto_dir, tmp_path):
    """``run_kg_job --resume`` with every part_key bucket done appends no
    audit rows, leaves every triple file as it was and still reports the
    triple total."""
    import json
    import os
    import subprocess
    import sys

    from phenoqc_spark import pages as PG
    from phenoqc_spark.operators import resume as R
    from phenoqc_spark.pipeline import build_triples, extract_records

    out = tmp_path / "kg"
    records = extract_records(
        R.with_part_key(PG.generate_pages(spark, 200, partitions=2), n_buckets=4),
        keep=["part_key"],
    )
    trip, _ = build_triples(records, spark.sparkContext.broadcast(resolver))
    trip_keyed = trip.withColumn(
        "part_key", F.pmod(F.xxhash64("provenance"), F.lit(4)).cast("int")
    )
    R.write_triples_idempotent(trip_keyed, str(out / "triples"))
    R.append_audit(spark, str(out / "audit"), "first", R.partition_metrics(records, trip_keyed))
    assert R.completed_part_keys(spark, str(out / "audit")).count() == 4
    n_triples = spark.read.parquet(str(out / "triples")).count()

    def snapshot():
        return sorted(
            (os.path.relpath(os.path.join(d, f), out), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, files in os.walk(out)
            for f in files
        )

    before = snapshot()
    proc = subprocess.run(
        [sys.executable, "jobs/run_kg_job.py", "--generate-rows", "200",
         "--buckets", "4", "--out", str(out), "--onto-dir", onto_dir, "--resume"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["resumed"] and summary["triples_total"] == n_triples
    assert snapshot() == before
    assert spark.read.parquet(str(out / "audit")).count() == 4


def test_merge_state_into_batches(spark, tmp_path):
    """Two job-level merges into the same state path: batch ids advance,
    cross-batch keys combine (max conf, min/max seen, summed n_obs), and
    the swap leaves no sibling debris."""
    import os

    from pyspark.sql import functions as F

    from phenoqc_spark.operators.resume import merge_state_into

    path = str(tmp_path / "tri_state")

    def tri(rows):
        return spark.createDataFrame(
            rows, "subject string, predicate string, object string, confidence double"
        )

    r1 = merge_state_into(spark, path, tri([
        ("s1", "p", "o1", 0.5), ("s1", "p", "o1", 0.7), ("s2", "p", "o2", 0.9),
    ]))
    assert r1 == {"batch_id": 1, "rows": 2}
    r2 = merge_state_into(spark, path, tri([
        ("s1", "p", "o1", 0.6), ("s3", "p", "o3", 0.4),
    ]))
    assert r2 == {"batch_id": 2, "rows": 3}

    got = {
        (r.subject, r.object): (r.confidence, r.first_seen, r.last_seen, r.n_obs)
        for r in spark.read.parquet(path).collect()
    }
    assert got[("s1", "o1")] == (0.7, 1, 2, 3)
    assert got[("s2", "o2")] == (0.9, 1, 1, 1)
    assert got[("s3", "o3")] == (0.4, 2, 2, 1)
    assert not os.path.exists(path + "__merging") and not os.path.exists(path + "__old")


def test_merge_state_into_exactly_once_guard(spark, tmp_path):
    """Explicit batch ids make the merge exactly-once: a double-delivered
    batch is skipped (n_obs would otherwise double-count)."""
    from phenoqc_spark.operators.resume import merge_state_into

    path = str(tmp_path / "tri_state_eo")
    tri = spark.createDataFrame(
        [("s1", "p", "o1", 0.5)],
        "subject string, predicate string, object string, confidence double",
    )
    r1 = merge_state_into(spark, path, tri, batch_id=1)
    assert r1 == {"batch_id": 1, "rows": 1}
    r2 = merge_state_into(spark, path, tri, batch_id=1)  # replay
    assert r2 == {"batch_id": 1, "rows": 1, "skipped": True}
    row = spark.read.parquet(path).collect()[0]
    assert row.n_obs == 1 and row.last_seen == 1
    # the next batch still merges
    r3 = merge_state_into(spark, path, tri, batch_id=2)
    assert r3 == {"batch_id": 2, "rows": 1}
    row = spark.read.parquet(path).collect()[0]
    assert row.n_obs == 2 and row.first_seen == 1 and row.last_seen == 2


def test_stream_merge_triples_replay_exactly_once(spark, tmp_path):
    """Streaming MERGE: epoch-guarded upserts absorb each batch once —
    even a full checkpoint loss (worst-case replay of every epoch)
    leaves the state unchanged."""
    from pyspark.sql import functions as F

    from phenoqc_spark.streaming.pipeline import stream_merge_triples

    src = tmp_path / "tri_in"
    src.mkdir()
    ck = str(tmp_path / "ck")
    state = str(tmp_path / "state")
    schema = "subject string, predicate string, object string, confidence double"

    spark.createDataFrame(
        [("s1", "p", "o1", 0.5), ("s1", "p", "o1", 0.9), ("s2", "p", "o2", 0.3)],
        schema,
    ).write.mode("overwrite").parquet(str(src / "b0"))
    stream = spark.readStream.schema(
        "subject string, predicate string, object string, confidence double"
    ).option("recursiveFileLookup", "true").parquet(str(src))
    stream_merge_triples(spark, stream, state, ck).awaitTermination(120)

    got = {
        (r.subject, r.object): (r.confidence, r.n_obs, r.last_seen)
        for r in spark.read.parquet(state).collect()
    }
    assert got == {("s1", "o1"): (0.9, 2, 1), ("s2", "o2"): (0.3, 1, 1)}

    # worst-case replay: lose the checkpoint entirely and re-run — every
    # epoch replays with the same ids, the guard skips them all
    import shutil

    shutil.rmtree(ck)
    stream2 = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    stream_merge_triples(spark, stream2, state, ck).awaitTermination(120)
    got2 = {
        (r.subject, r.object): (r.confidence, r.n_obs, r.last_seen)
        for r in spark.read.parquet(state).collect()
    }
    assert got2 == got

    # new data in a later epoch still lands
    spark.createDataFrame([("s1", "p", "o1", 0.1)], schema).write.mode(
        "overwrite"
    ).parquet(str(src / "b1"))
    stream3 = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    stream_merge_triples(spark, stream3, state, ck).awaitTermination(120)
    row = {r.subject: r for r in spark.read.parquet(state).collect()}["s1"]
    assert row.n_obs == 3 and row.last_seen == 2 and row.confidence == 0.9


def test_merge_state_into_recovers_crashed_swap(spark, tmp_path):
    """A swap that crashed between its two renames (state staged at
    __old, replacement never landed) must be recovered on the next
    merge — otherwise the ledger silently restarts at batch 1."""
    import os
    import shutil

    from phenoqc_spark.operators.resume import merge_state_into

    path = str(tmp_path / "tri_state_crash")
    tri = spark.createDataFrame(
        [("s1", "p", "o1", 0.5)],
        "subject string, predicate string, object string, confidence double",
    )
    merge_state_into(spark, path, tri, batch_id=1)
    merge_state_into(spark, path, tri, batch_id=2)
    # simulate the crash window: base staged aside, no replacement
    shutil.move(path, path + "__old")
    assert not os.path.exists(path)
    r = merge_state_into(spark, path, tri, batch_id=3)
    assert r == {"batch_id": 3, "rows": 1}
    row = spark.read.parquet(path).collect()[0]
    # history preserved: first_seen=1, n_obs=3 — NOT a batch-1 restart
    assert row.first_seen == 1 and row.last_seen == 3 and row.n_obs == 3
    assert not os.path.exists(path + "__old")
    # and the exactly-once guard still works post-recovery
    r2 = merge_state_into(spark, path, tri, batch_id=3)
    assert r2.get("skipped") is True
