"""The generators are deterministic for a seed and differ across seeds."""

import json
import os
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from perfbench import inputs as I
from perfbench.workloads import CanonicalizeWorkload, IncrementalWorkload, PipelineWorkload
from phenoqc_spark import pages as PG


def _texts(seed, n=50, zipf=False):
    pools = I.variant_pools(seed, 3) if zipf else PG.PHENO_POOLS
    return [
        (p.url, p.ts, p.lang, p.text())
        for p in I.make_pages(seed, n, I.seed_offset(seed), pools, zipf=zipf)
    ]


@pytest.mark.parametrize("zipf", [False, True])
def test_pages_are_seeded(zipf):
    assert _texts(1, zipf=zipf) == _texts(1, zipf=zipf)
    a, b = _texts(1, zipf=zipf), _texts(2, zipf=zipf)
    assert {u for u, *_ in a}.isdisjoint(u for u, *_ in b)  # seeds use disjoint url ranges
    assert [t for *_, t in a] != [t for *_, t in b]


def test_page_text_has_the_record_layout():
    p = I.make_pages(3, 1, I.seed_offset(3), PG.PHENO_POOLS)[0]
    names = [line.split(":", 1)[0] for line in p.text().split("\n")]
    assert names == PG.RECORD_FIELDS


def test_variant_pools_are_seeded_and_add_unknown_typos():
    from phenoqc_spark.ontology.normalize import normalize_text

    assert I.variant_pools(5, 4) == I.variant_pools(5, 4)
    assert I.variant_pools(5, 4) != I.variant_pools(6, 4)
    for col, vs in I.variant_pools(5, 4).items():
        known = {normalize_text(s) for s in PG.PHENO_POOLS[col]}
        new = {normalize_text(v) for v in vs} - known
        assert len(new) == 4, col  # the typos, and only they, are new keys


def _components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


def test_sameas_graph_is_seeded_and_labels_are_min_members():
    edges, labels = I.sameas_graph(7, 5, 6, 3, 8)
    assert (edges, labels) == I.sameas_graph(7, 5, 6, 3, 8)
    assert edges != I.sameas_graph(8, 5, 6, 3, 8)[0]
    assert len(edges) == 5 * 5 + 3 * 8
    assert labels == _components(edges)


def _generate(wl, seed, tmp_path):
    out = tmp_path / "out"
    out.mkdir(parents=True)
    ctx = SimpleNamespace(work=str(tmp_path / "work"), seed=seed)
    expected = wl.generate(ctx, str(out))
    tables = {}
    for root, _, files in os.walk(out):
        for f in files:
            path = os.path.join(root, f)
            tables[os.path.relpath(path, out)] = pq.read_table(path).to_pylist()
    return json.loads(json.dumps(expected)), tables


@pytest.mark.parametrize(
    "wl",
    [
        PipelineWorkload("kg_build", pages=120, warm_pages=20),
        PipelineWorkload("kg_open_vocab", pages=120, warm_pages=20, typos_per_column=3),
        IncrementalWorkload(batch1=60, batch2=30, warm1=20, warm2=10),
        CanonicalizeWorkload(full=(3, 5, 2, 6), warm=(1, 3, 1, 2)),
    ],
    ids=lambda wl: wl.name,
)
def test_workload_inputs_are_seeded(wl, tmp_path):
    a = _generate(wl, 1, tmp_path / "a")
    assert a == _generate(wl, 1, tmp_path / "b")
    b = _generate(wl, 2, tmp_path / "c")
    assert a[0] != b[0] and a[1] != b[1]
    assert all(v["n"] > 0 for part in a[0].values() for v in _fingerprints(part))


def _fingerprints(part):
    return [part] if "n" in part else list(part.values())
