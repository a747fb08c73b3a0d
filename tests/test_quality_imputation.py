"""Quality-metric and imputation tests with golden values from the
reference suite (reference: tests/test_quality_metrics.py,
tests/test_missing_data.py, tests/test_batch_processing.py:129-131)."""

import math

import pytest
from pyspark.sql import functions as F

from phenoqc_spark.operators import imputation as I
from phenoqc_spark.operators import quality as Q
from phenoqc_spark.operators.canonicalize import (
    canonical_mapping,
    canonicalize_objects,
    connected_components,
)


def test_accuracy_rows(spark):
    # age=[10,20,5], min 8 max 18 → rows {1,2} flagged (values 20 and 5)
    df = spark.createDataFrame([(0, 10), (1, 20), (2, 5)], "row int, age int")
    out = Q.check_accuracy(
        df, {"properties": {"age": {"minimum": 8, "maximum": 18}}}, ["row"]
    ).collect()
    assert {r.row for r in out} == {1, 2}


def test_redundancy_identical_and_correlation(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0, 2.0), (2.0, 2.0, 4.0), (3.0, 3.0, 6.0)], "a double, b double, c double"
    )
    out = Q.detect_redundancy(df)
    recs = {(r.column_1, r.column_2): r.metric for r in out.collect()}
    assert recs[("a", "b")] == "identical"
    assert recs[("a", "c")] == "correlation"
    assert recs[("b", "c")] == "correlation"


def test_spearman_pairwise_complete_matches_pandas(spark):
    """Columns with MISALIGNED null masks: pandas df.corr('spearman')
    re-ranks each pair over its pairwise-complete subset (reference:
    quality_metrics.py:100) — detect_redundancy must match exactly.
    NaN counts as missing, like pandas."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, None, 4.0, 5.0, 6.0, 7.0, 9.0],
            "b": [2.0, 1.0, 3.0, None, 5.0, 8.0, 6.0, 7.0],
            "c": [1.0, 4.0, 2.0, 3.0, float("nan"), 5.0, 8.0, 6.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = Q.detect_redundancy(df, threshold=0.0, method="spearman")
    got = {
        (r.column_1, r.column_2): r.value
        for r in out.collect()
        if r.metric == "correlation"
    }
    want = pdf.corr("spearman")
    for c1, c2 in [("a", "b"), ("a", "c"), ("b", "c")]:
        assert abs(got[(c1, c2)] - abs(want.loc[c1, c2])) < 1e-12, (c1, c2, got, want)


def test_spearman_aligned_fast_path_still_exact(spark):
    """All-non-null columns (the aligned fast path) keep exact pandas
    parity through the single global ranking."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "x": [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],
            "y": [2.0, 7.0, 1.0, 8.0, 2.0, 8.0, 1.0, 8.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = Q.detect_redundancy(df, threshold=0.0, method="spearman")
    got = {
        (r.column_1, r.column_2): r.value
        for r in out.collect()
        if r.metric == "correlation"
    }
    want = pdf.corr("spearman")
    assert abs(got[("x", "y")] - abs(want.loc["x", "y"])) < 1e-12


def test_traceability(spark):
    df = spark.createDataFrame(
        [("S1", "src"), ("S1", "src"), (None, "src"), ("S3", None)],
        "SampleID string, source string",
    )
    out = Q.check_traceability(df, ["SampleID"], "source").collect()
    issues = sorted(r.issue for r in out)
    assert issues == [
        "duplicate_identifier",
        "duplicate_identifier",
        "missing_identifier",
        "missing_source",
    ]


def test_timeliness(spark):
    df = spark.createDataFrame(
        [("S1", "2024-01-01"), ("S2", "2024-06-01"), ("S3", "NOT_A_DATE"), ("S4", None)],
        "SampleID string, d string",
    )
    out = Q.check_timeliness(df, "d", max_lag_days=90, now="2024-06-10 00:00:00")
    issues = {r.SampleID: r.issue for r in out.collect()}
    assert issues == {
        "S1": "lag_exceeded",
        "S3": "missing_or_invalid_date",
        "S4": "missing_or_invalid_date",
    }


def test_class_distribution(spark):
    rows = [("A",)] * 90 + [("B",)] * 8 + [(None,)] * 5
    df = spark.createDataFrame(rows, "label string")
    out = {r.label: r for r in Q.class_distribution(df, "label").collect()}
    assert out["B"].is_minority and out["B"].warning
    assert abs(out["B"].proportion - 8 / 98) < 1e-9
    assert not out["A"].warning


def test_quality_scores():
    s = Q.quality_scores(100, 10, 50, 10, [80.0, 90.0])
    assert s["schema_validation_score"] == 90.0
    assert s["missing_data_score"] == 95.0
    assert s["mapping_success_score"] == 85.0
    assert s["overall_quality_score"] == 90.0


# --- imputation -------------------------------------------------------------

def test_mean_imputation_golden(spark):
    # reference: (120+85+95)/3 = 100.0 exactly
    df = spark.createDataFrame(
        [("S1", 120.0), ("S2", 85.0), ("S3", 95.0), ("S4", None)],
        "SampleID string, Measurement double",
    )
    out = I.impute(df, "mean")
    val = {r.SampleID: r.Measurement for r in out.collect()}["S4"]
    assert val == 100.0


def test_median_mode_imputation(spark):
    df = spark.createDataFrame(
        [(1.0, "x"), (2.0, "y"), (3.0, "y"), (None, None), (100.0, "x")],
        "v double, c string",
    )
    out = I.impute(df, "median", field_strategies={"c": "mode"})
    row = out.filter(F.col("v") == 2.5).collect()
    assert len(row) == 1
    # mode tie x/y → smallest value 'x' (pandas mode()[0] parity)
    assert row[0].c == "x"


def test_non_numeric_untouched_by_mean(spark):
    df = spark.createDataFrame([("a", None), (None, 2.0)], "s string, v double")
    out = I.impute(df, "mean").collect()
    assert {r.s for r in out} == {"a", None}


def test_knn_imputation_fills(spark):
    rows = [(1.0, 2.0), (1.1, 2.1), (0.9, 1.9), (1.0, None), (5.0, 9.0)]
    df = spark.createDataFrame(rows, "a double, b double").coalesce(1)
    out = I.impute(df, "knn", params={"n_neighbors": 3})
    assert out.filter(F.col("b").isNull()).count() == 0
    filled = out.filter(F.col("a") == 1.0).orderBy("b").collect()[0].b
    assert 1.5 < filled < 5.5


def test_mice_svd_fill_all(spark):
    rows = [(1.0, 2.0, 3.0), (2.0, None, 6.0), (3.0, 6.0, None), (4.0, 8.0, 12.0)]
    df = spark.createDataFrame(rows, "a double, b double, c double").coalesce(1)
    for strat in ("mice", "svd"):
        out = I.impute(df, strat)
        assert out.filter(F.col("b").isNull() | F.col("c").isNull()).count() == 0


def test_track_mask(spark):
    df = spark.createDataFrame([(1.0,), (None,)], "v double")
    out = I.impute(df, "mean", track_mask=True).collect()
    masks = sorted((r.v, r.v_imputed) for r in out)
    assert masks == [(1.0, False), (1.0, True)]


# --- canonicalization -------------------------------------------------------

def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], "src string, dst string"
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["d"] == cc["e"] == "d"


def test_canonical_mapping_prefers_primary(spark):
    edges = spark.createDataFrame(
        [("HP:0999999", "HP:0000822"), ("ICD10CM:E11", "DOID:1612")],
        "src string, dst string",
    )
    prim = spark.createDataFrame([("HP:0000822",), ("DOID:1612",)], "id string")
    m = {r.node: r.canonical_id for r in canonical_mapping(edges, prim).collect()}
    assert m["HP:0999999"] == "HP:0000822"
    assert m["ICD10CM:E11"] == "DOID:1612"


def test_canonicalize_objects(spark):
    triples = spark.createDataFrame(
        [("s1", "p", "HP:0999999"), ("s2", "p", "HP:0000822")], "subj string, pred string, obj string"
    )
    mapping = spark.createDataFrame(
        [("HP:0999999", "HP:0000822")], "node string, canonical_id string"
    )
    out = canonicalize_objects(triples, mapping).collect()
    assert {r.obj for r in out} == {"HP:0000822"}


def test_graph_degree_stats(spark):
    from phenoqc_spark.operators.canonicalize import graph_degree_stats

    trips = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c"), ("d", "p", "a")],
        "subj string, pred string, obj string",
    )
    got = {r.entity: (r.out_degree, r.in_degree) for r in graph_degree_stats(trips).collect()}
    assert got == {"a": (2, 1), "b": (1, 1), "c": (0, 2), "d": (1, 0)}


def test_pagerank_matches_numpy_power_iteration(spark):
    """Fixed-iteration PageRank must reproduce the identical recurrence in
    numpy (same damping, uniform teleport + dangling redistribution)."""
    import numpy as np

    from phenoqc_spark.operators.canonicalize import pagerank

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
        # e is a dangling sink (no out-edges)
        ("a", "e"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    iters, damping = 12, 0.85
    got = {r.node: r.rank for r in pagerank(df, iters=iters, damping=damping).collect()}

    names = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(names)}
    n = len(names)
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.zeros(n)
        dangling = sum(r[idx[v]] for v in names if v not in out)
        for s, ds in out.items():
            for d in ds:
                nxt[idx[d]] += r[idx[s]] / len(ds)
        r = (1 - damping) / n + damping * dangling / n + damping * nxt
    for v in names:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # structure check: c (3 in-edges) funnels its whole rank to a, its
    # only out-target — a tops, c second, the sink e and source d trail
    order = sorted(got, key=got.get, reverse=True)
    assert order[0] == "a" and order[1] == "c" and got["d"] == min(got.values())


def test_personalized_pagerank_matches_numpy(spark):
    """seeds= switches teleport + dangling mass to the seed distribution;
    same recurrence in numpy must agree, seed-unreachable nodes are
    exactly 0, mass stays 1, and absent seeds raise."""
    import numpy as np
    import pytest

    from phenoqc_spark.operators.canonicalize import pagerank

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),  # cycle reachable from seed a
        ("b", "e"),                           # dangling sink off the cycle
        ("x", "y"), ("y", "x"),               # component unreachable from a
        ("z", "a"),                           # z reaches a but is unreachable
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    iters, damping, seeds = 12, 0.85, ["a"]
    got = {
        r.node: r.rank
        for r in pagerank(df, iters=iters, damping=damping, seeds=seeds).collect()
    }

    names = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(names)}
    n = len(names)
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    tp = np.array([1.0 / len(seeds) if v in seeds else 0.0 for v in names])
    r = tp.copy()
    for _ in range(iters):
        nxt = np.zeros(n)
        dangling = sum(r[idx[v]] for v in names if v not in out)
        for s, ds in out.items():
            for d in ds:
                nxt[idx[d]] += r[idx[s]] / len(ds)
        r = tp * ((1 - damping) + damping * dangling) + damping * nxt
    for v in names:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # unreachable-from-seed nodes carry exactly zero mass
    assert got["x"] == 0.0 and got["y"] == 0.0 and got["z"] == 0.0
    # the seed holds the most mass; its cycle successors decay with hops
    assert got["a"] > got["b"] > got["c"] > 0
    with pytest.raises(ValueError, match="absent"):
        pagerank(df, iters=2, seeds=["a", "nope"]).collect()


def test_strongly_connected_components_known_graph(spark):
    """Two 3-cycles joined by a DAG edge, a chain, and a 2-cycle: SCC ids
    are the max member id; direction matters (undirected CC would merge
    a..f into one blob)."""
    from phenoqc_spark.operators.canonicalize import (
        strongly_connected_components as scc,
    )

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),   # cycle {a,b,c}
        ("c", "d"),                            # condensation DAG edge
        ("d", "e"), ("e", "f"), ("f", "d"),   # cycle {d,e,f}
        ("g", "h"),                            # pure chain -> singletons
        ("i", "j"), ("j", "i"),               # 2-cycle
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted((r.node, r.scc_id) for r in scc(df).collect())
    assert got == [
        ("a", "c"), ("b", "c"), ("c", "c"),
        ("d", "f"), ("e", "f"), ("f", "f"),
        ("g", "g"), ("h", "h"),
        ("i", "j"), ("j", "j"),
    ]
    # decreasing-id chain (worst case for the coloring order) still
    # converges — every node its own SCC
    chain = spark.createDataFrame(
        [(f"n{9 - i}", f"n{9 - i - 1}") for i in range(9)], "src string, dst string"
    )
    got2 = {r.node: r.scc_id for r in scc(chain).collect()}
    assert got2 == {f"n{i}": f"n{i}" for i in range(10)}


def test_chain_components_converge(spark):
    # long chain exercises pointer jumping
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)], "src string, dst string"
    )
    cc = connected_components(edges)
    assert cc.select("component").distinct().count() == 1


def test_unconverged_components_warn_and_return_labels(spark):
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(12)], "src string, dst string"
    )
    with pytest.warns(RuntimeWarning, match="not converged after 1 rounds"):
        cc = connected_components(edges, max_iter=1)
    assert cc.count() == 13
    assert cc.select("component").distinct().count() > 1


def test_fixpoint_rounds_end_in_one_count_each(spark, monkeypatch):
    """On a 6-node path every convergence round of bfs_distances,
    ancestor_closure and coreness ends in exactly one DataFrame.count(),
    run under the round's job description; the caller's job group and
    description survive the call."""
    from phenoqc_spark.operators.canonicalize import (
        ancestor_closure,
        bfs_distances,
        coreness,
    )

    path = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    sources = spark.createDataFrame([(0,)], "node long")
    sc = spark.sparkContext
    orig, seen = type(path).count, []

    def count(df):
        n = orig(df)
        seen.append((sc.getLocalProperty("spark.job.description"), n))
        return n

    def rounds(name, counts):
        return [(f"{name} round {i}", n) for i, n in enumerate(counts, 1)]

    monkeypatch.setattr(type(path), "count", count)
    sc.setJobGroup("caller", "outer")
    try:
        dist = bfs_distances(path, sources)
        assert seen == rounds("bfs_distances", [1, 1, 1, 1, 1, 0])
        seen.clear()
        closure = ancestor_closure(path, child="src", parent="dst")
        assert seen == rounds("ancestor_closure", [4, 3, 2, 1, 0])
        seen.clear()
        core = coreness(path)
        assert seen == rounds("coreness", [2, 2, 2, 0])
        assert sc.getLocalProperty("spark.job.description") == "outer"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r.node: r.distance for r in dist.collect()} == {i: i for i in range(6)}
    assert {(r.node, r.ancestor, r.depth) for r in closure.collect()} == {
        (a, b, b - a) for a in range(6) for b in range(a + 1, 6)
    }
    assert {r.node: r.coreness for r in core.collect()} == {i: 1 for i in range(6)}


def test_numeric_profile_exact_and_approx(spark):
    """Known 1..100 column (+ nulls): exact percentiles interpolate like
    numpy linear quantile; approx mode lands within sketch error; nulls
    counted separately from n."""
    import numpy as np

    from phenoqc_spark.operators.quality import numeric_profile

    rows = [(float(i),) for i in range(1, 101)] + [(None,), (None,)]
    df = spark.createDataFrame(rows, "x double")
    prof = {r.column: r for r in numeric_profile(df, ["x"], exact=True).collect()}
    r = prof["x"]
    assert (r.n, r.n_null, r.min, r.max) == (100, 2, 1.0, 100.0)
    xs = np.arange(1, 101)
    assert abs(r.mean - xs.mean()) < 1e-9
    assert abs(r.stddev - xs.std(ddof=1)) < 1e-9
    for name, p in [("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p95", 0.95)]:
        assert abs(getattr(r, name) - np.quantile(xs, p)) < 1e-9, name
    ra = {r.column: r for r in numeric_profile(df, ["x"]).collect()}["x"]
    for name, p in [("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p95", 0.95)]:
        # rank error <= n/accuracy = 100/10000 << 1 rank => within 1 value
        assert abs(getattr(ra, name) - np.quantile(xs, p)) <= 1.0, name


def test_spectral_sketch_and_features(spark):
    """Sketch singular values match a dense numpy evaluation of the same
    rescaled projection; features are partitioning-invariant; estimates
    sit in a sane envelope of the true spectral norm (they are
    Rayleigh-type estimates, not bounds)."""
    import hashlib

    import numpy as np

    from phenoqc_spark.operators.canonicalize import (
        spectral_features,
        spectral_sketch,
    )

    edges = [(f"u{i}", f"v{(i * 3 + j) % 7}") for i in range(10) for j in range(3)]
    df = spark.createDataFrame(sorted(set(edges)), "src string, dst string")
    r = 4
    got = spectral_sketch(df, r=r)

    nodes = sorted({x for e in set(edges) for x in e})
    pos = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for a, b in set(edges):
        A[pos[a], pos[b]] = 1.0

    def omega(v, t):
        h = hashlib.md5(f"{v}:{t}".encode()).hexdigest()
        return (1.0 if int(h[0], 16) < 8 else -1.0) / (r ** 0.5)

    O = np.array([[omega(v, t) for t in range(r)] for v in nodes])
    B = O.T @ (A.T @ (A @ O))
    B = (B + B.T) / 2.0
    n_in = int((A.sum(axis=0) > 0).sum())
    want = np.sqrt(np.clip(np.linalg.eigvalsh(B) * (r / n_in), 0, None))[::-1]
    assert np.allclose(got, want, atol=1e-9), (got, want.tolist())
    # estimate envelope: same order of magnitude as the true top sigma
    true_top = np.linalg.svd(A, compute_uv=False)[0]
    assert 0.2 * true_top < got[0] < 2.0 * true_top
    f1 = {r_.node: list(r_.features) for r_ in spectral_features(df, r=r).collect()}
    f2 = {
        r_.node: list(r_.features)
        for r_ in spectral_features(df.repartition(5), r=r).collect()
    }
    assert f1 == f2 and len(f1) == 10  # only out-degree>0 nodes appear


def test_pagerank_warm_start_converges_faster(spark):
    """After a small edge delta, 3 warm-started iterations from the old
    fixpoint land closer to the new fixpoint than 3 cold iterations —
    the incremental-refresh contract; unchanged graph + warm start at
    the fixpoint stays at the fixpoint."""
    from pyspark.sql import functions as F

    from phenoqc_spark.operators.canonicalize import pagerank

    edges = [(f"p{i}", f"p{(i * 3 + 1) % 17}") for i in range(17)] + [
        (f"p{i}", f"p{(i + 1) % 17}") for i in range(0, 17, 2)
    ]
    df = spark.createDataFrame(sorted(set(edges)), "src string, dst string")
    fix_old = pagerank(df, iters=40)
    # delta: one new edge
    df2 = df.unionByName(spark.createDataFrame([("p3", "p11")], "src string, dst string"))
    fix_new = {r.node: r.rank for r in pagerank(df2, iters=40).collect()}

    def dist(got):
        return sum(abs(got[v] - fix_new[v]) for v in fix_new)

    cold = {r.node: r.rank for r in pagerank(df2, iters=3).collect()}
    warm = {r.node: r.rank for r in pagerank(df2, iters=3, init_ranks=fix_old).collect()}
    # measured ~4x closer on this graph; assert a conservative 2x margin
    assert dist(warm) < dist(cold) / 2, (dist(warm), dist(cold))
    # warm start at the fixpoint of the SAME graph stays there
    stay = {r.node: r.rank for r in pagerank(df, iters=1, init_ranks=fix_old).collect()}
    fo = {r.node: r.rank for r in fix_old.collect()}
    assert all(abs(stay[v] - fo[v]) < 1e-6 for v in fo)


def test_neighborhood_overlap_scores(spark):
    """Hand-checkable star+path graph: common-neighbor counts, Jaccard
    denominators, Adamic-Adar hub down-weighting, and the max_degree
    witness cut."""
    import math

    from phenoqc_spark.operators.canonicalize import neighborhood_overlap

    # hub h neighbors a,b,c ; path a-x-b gives (a,b) a second witness x
    edges = [("h", "a"), ("h", "b"), ("h", "c"), ("a", "x"), ("x", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.node_a, r.node_b): (r.common, r.jaccard, r.adamic_adar)
        for r in neighborhood_overlap(df).collect()
    }
    # degrees: h=3, a=2(h,x), b=2(h,x), c=1, x=2(a,b)
    c_ab = got[("a", "b")]
    assert c_ab[0] == 2  # witnesses h and x
    assert abs(c_ab[1] - 2 / (2 + 2 - 2)) < 1e-9
    assert abs(c_ab[2] - (1 / math.log(3) + 1 / math.log(2))) < 1e-6
    assert got[("a", "c")][0] == 1 and got[("b", "c")][0] == 1
    # a-x-b also witnesses (a,b) only; (h,x) share a and b as witnesses
    assert got[("h", "x")][0] == 2
    # cutting hubs with degree > 2 removes h as a witness: (a,c) vanishes
    got_cut = {
        (r.node_a, r.node_b): r.common
        for r in neighborhood_overlap(df, max_degree=2).collect()
    }
    assert ("a", "c") not in got_cut and got_cut[("a", "b")] == 1


def test_ktruss_peeling(spark):
    """K4 + pendant triangle + chain: 3-truss keeps all triangle edges,
    4-truss peels down to the K4 (cascade: the pendant triangle's edges
    have support 1); k < 3 raises."""
    import pytest

    from phenoqc_spark.operators.canonicalize import ktruss

    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"), ("d", "f"), ("e", "f"),
        ("g", "h"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    t3 = sorted(map(tuple, ktruss(df, 3).collect()))
    assert len(t3) == 9 and ("g", "h") not in t3
    t4 = sorted(map(tuple, ktruss(df, 4).collect()))
    assert t4 == [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")
    ]
    # 5-truss of K4 is empty (each edge closes only 2 triangles < 3)
    assert ktruss(df, 5).count() == 0
    with pytest.raises(ValueError, match="k must"):
        ktruss(df, 2)
