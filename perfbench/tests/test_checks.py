"""The output checks accept the program's output and reject a corrupted one.

Starts one local Spark session (about 20 s).
"""

import os

import pytest
from pyspark.sql import functions as F

from perfbench import inputs as I
from perfbench.workloads import (
    TRIPLE,
    RoundCounter,
    _fingerprint,
    fixture_resolver,
    set_join_counts,
)
from phenoqc_spark import pages as PG


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.harness import Session

    sess = Session(str(tmp_path_factory.mktemp("work")))
    yield sess.restart()
    sess.close()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """The pipeline's triples over 150 generated pages, and the expected set."""
    from phenoqc_spark.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("pages")
    resolver = fixture_resolver(str(tmp))
    pages = I.make_pages(4, 150, I.seed_offset(4), PG.PHENO_POOLS)
    I.write_pages(pages, str(tmp / "pages"), 2)
    df = spark.read.parquet(str(tmp / "pages"))
    got = run_pipeline(spark, df, resolver)["triples"].select(*TRIPLE).cache()
    return got, I.expected_triples(pages, resolver)


def test_pipeline_output_matches_the_expected_set(spark, built):
    got, want = built
    assert I.same_fingerprint(_fingerprint(got, TRIPLE), I.fingerprint(want))
    exp = spark.createDataFrame(sorted(want), TRIPLE)
    row = set_join_counts(got, exp, TRIPLE)
    assert row["got"] == row["exp"] == row["both"] == len(want) > 0


def test_a_dropped_triple_is_rejected(spark, built):
    got, want = built
    dropped = sorted(want)[1:]
    assert not I.same_fingerprint(_fingerprint(got, TRIPLE), I.fingerprint(dropped))
    row = set_join_counts(got, spark.createDataFrame(dropped, TRIPLE), TRIPLE)
    assert row["both"] < row["got"]  # precision < 1


def test_a_changed_triple_is_rejected(built):
    got, want = built
    rows = sorted(want)
    changed = [(rows[0][0], rows[0][1], rows[0][2] + "x")] + rows[1:]
    assert not I.same_fingerprint(_fingerprint(got, TRIPLE), I.fingerprint(changed))


def test_components_converge_and_a_wrong_component_is_rejected(spark, tmp_path):
    from phenoqc_spark.operators.canonicalize import connected_components

    edges, labels = I.sameas_graph(9, 4, 6, 2, 5)
    df = spark.createDataFrame(edges, "src string, dst string")
    with RoundCounter(type(df), spark, "test") as rc:
        got = _fingerprint(connected_components(df), ["node", "component"])
    assert rc.converged and len(rc.changed) >= 2
    assert I.same_fingerprint(got, I.fingerprint(labels.items()))
    node = sorted(labels)[-1]
    wrong = dict(labels, **{node: node + "x"})
    assert not I.same_fingerprint(got, I.fingerprint(wrong.items()))


def test_round_counter_reports_an_unconverged_loop(spark):
    from phenoqc_spark.operators.canonicalize import connected_components

    edges, _ = I.sameas_graph(9, 1, 12, 0, 0)
    df = spark.createDataFrame(edges, "src string, dst string")
    with RoundCounter(type(df), spark, "test") as rc:
        connected_components(df, max_iter=1)
    assert len(rc.changed) == 1 and not rc.converged
