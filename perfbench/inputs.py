"""Seeded workload inputs and their expected outputs, built without Spark.

Pages have the ``phenoqc_spark.pages.generate_pages`` schema and text
layout (one ``Field: value`` line per record field, html =
``<html><body><p>`` + text + ``</p></body></html>``) and draw their
phenotype surfaces from the same closed pools.  ``generate_pages`` itself
takes no seed, so the rows here come from a seeded generator over an id
range that depends on the seed; the expected triples are derived from the
same rows exactly as ``pages.ground_truth_triples`` derives them (pool
surface → resolver ids).  ``perfbench/tests/test_checks.py`` pins the
expected set against the pipeline's output.

Outputs are compared by fingerprint: row count, XOR and sum of the rows'
CRC-32.  Spark computes the same aggregate as an ``Observation`` on each
measured output, so every operation is checked at the cost of one extra
aggregate in its last stage.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from phenoqc_spark import pages as PG

URL_FMT = "https://example.org/doc/%08d"
SEP = "\x1f"
# id range per seed; seeds map to disjoint ranges
SEED_STRIDE = 10_000_000
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_EPOCH = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)


def seed_offset(seed: int) -> int:
    return (seed % 1_000_000) * SEED_STRIDE


# --- fingerprints ------------------------------------------------------------

def fingerprint_exprs(cols: list) -> list:
    """Spark side of :func:`fingerprint`."""
    from pyspark.sql import functions as F

    h = F.crc32(F.concat_ws(SEP, *[F.col(c).cast("string") for c in cols]).cast("binary"))
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h).alias("s"),
    ]


def fingerprint(rows) -> dict:
    """(count, XOR, sum) of the CRC-32 of each row's ``SEP``-joined fields."""
    n = x = s = 0
    for row in rows:
        h = zlib.crc32(SEP.join(map(str, row)).encode("utf-8"))
        n, x, s = n + 1, x ^ h, s + h
    return {"n": n, "x": x, "s": s}


def same_fingerprint(got: dict, want: dict) -> bool:
    return all(int(got.get(k) or 0) == want[k] for k in "nxs")


# --- pages ---------------------------------------------------------------------

class Page:
    """One generated record: what the page text says, before rendering."""

    __slots__ = ("id", "url", "sid", "lang", "ts", "terms", "observed", "other")

    def __init__(self, id, lang, ts, terms, observed, other):
        self.id, self.lang, self.ts = id, lang, ts
        self.url = URL_FMT % id
        # every 20th page reuses the previous SampleID, as generate_pages does
        self.sid = id - 1 if id % 20 == 1 and id > 0 else id
        self.terms, self.observed, self.other = terms, observed, other

    def text(self) -> str:
        fields = dict(self.other)
        fields.update(self.terms)
        fields["SampleID"] = str(self.sid)
        fields["ObservedFeatures"] = json.dumps(self.observed)
        return "\n".join(f"{name}: {fields[name]}" for name in PG.RECORD_FIELDS)


def zipf_index(u: np.ndarray, size: int) -> np.ndarray:
    """Zipf(s≈1) rank in [0, size) from uniform ``u``: floor((V+1)^u) - 1."""
    return np.minimum(np.floor(np.power(size + 1.0, u)).astype(np.int64) - 1, size - 1)


def make_pages(seed: int, n: int, start: int, pools: dict, zipf: bool = False) -> list:
    """``n`` pages with ids ``start..start+n-1``.  Phenotype columns pick
    from ``pools`` uniformly (closed pools) or by Zipf rank."""
    rng = np.random.default_rng([seed, start, n])
    ids = np.arange(start, start + n)
    picks = {}
    for col, pool in pools.items():
        u = rng.random(n)
        picks[col] = zipf_index(u, len(pool)) if zipf else (u * len(pool)).astype(np.int64)
    obs = rng.integers(0, len(PG.OBSERVED_POOL), n)
    lang = np.where(rng.random(n) < 0.98, "en", np.where(rng.random(n) < 0.5, "de", "fr"))
    days, secs = rng.integers(0, 365, n), rng.integers(0, 86400, n)
    num = rng.integers(0, 1000, (n, 7))
    missing = rng.random((n, 7)) < 0.1
    out = []
    for i in range(n):
        other = {}
        for j, name in enumerate(
            ("Height_cm", "Weight_kg", "Cholesterol_mgdl", "BP_systolic",
             "BP_diastolic", "Glucose_mgdl", "Creatinine_mgdl")
        ):
            other[name] = "" if missing[i, j] else f"{50 + num[i, j] // 10}.{num[i, j] % 10}"
        other.update(
            VisitDate=f"2023-{1 + days[i] % 12:02d}-{1 + days[i] % 28:02d}",
            SampleCollectionDateTime=f"2023-{1 + days[i] % 12:02d}-{1 + days[i] % 28:02d}"
            f"T{secs[i] // 3600:02d}:{secs[i] // 60 % 60:02d}:{secs[i] % 60:02d}",
            GenomeSampleID=f"GS_{1 + num[i, 0] % 2000:05d}",
            HospitalID=f"HID_{1 + num[i, 1] % 500:04d}",
            label="ABC"[num[i, 2] % 3],
        )
        terms = {col: pools[col][picks[col][i]] for col in pools}
        ts = _EPOCH + dt.timedelta(days=int(days[i]), seconds=int(secs[i]))
        out.append(
            Page(int(ids[i]), str(lang[i]), ts, terms, PG.OBSERVED_POOL[obs[i]], other)
        )
    return out


def write_pages(pages: list, path: str, parts: int, later_days: int = 0) -> None:
    """Parquet directory of ``parts`` files; ``later_days`` shifts warc_ts
    (a later capture of the same page)."""
    os.makedirs(path, exist_ok=True)
    shift = dt.timedelta(days=later_days)
    for k in range(parts):
        chunk = pages[k::parts]
        texts = [p.text() for p in chunk]
        table = pa.table(
            {
                "url": [p.url for p in chunk],
                "warc_ts": [p.ts + shift for p in chunk],
                "html": [b"<html><body><p>" + t.encode("utf-8") + b"</p></body></html>" for t in texts],
                "text": texts,
                "lang": [p.lang for p in chunk],
            },
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{later_days:03d}-{k:05d}.parquet"))


def surface_ids(resolver, surfaces) -> dict:
    """surface → [(ontology, id)] by the resolver (``pool_dimension``)."""
    out = {}
    for s in surfaces:
        if s and s not in out:
            out[s] = [(o, t) for o, t in resolver.map_term(s).items() if t]
    return out


def expected_triples(pages: list, resolver) -> set:
    """``ground_truth_triples`` over these pages: english pages only; a
    surface contributes one triple per ontology it resolves in; an
    ObservedFeatures list contributes each (ontology, id) once."""
    ids = surface_ids(
        resolver,
        [s for p in pages for s in p.terms.values()]
        + [s for items in PG.OBSERVED_POOL for s in items],
    )
    out = set()
    for p in pages:
        if p.lang != "en":
            continue
        subj = f"{p.url}#{p.sid}"
        for col, s in p.terms.items():
            for onto, tid in ids.get(s, ()):
                out.add((subj, f"{col}->{onto}", tid))
        for s in p.observed:
            for onto, tid in ids.get(s, ()):
                out.add((subj, f"ObservedFeatures->{onto}", tid))
    return out


def write_triples(triples, path: str) -> None:
    rows = sorted(triples)
    pq.write_table(
        pa.table({c: [r[i] for r in rows] for i, c in enumerate(("subj", "pred", "obj"))}),
        path,
    )


# --- open vocabulary -----------------------------------------------------------

_ALPHA = re.compile(r"[A-Za-z ]+")


def _typo(rng: random.Random, s: str) -> str:
    """One substitution, deletion, insertion or transposition at a letter."""
    i = rng.choice([k for k, c in enumerate(s) if c.isalpha()])
    op = rng.randrange(4)
    c = rng.choice("abcdefghijklmnopqrstuvwxyz")
    if op == 0:
        return s[:i] + c + s[i + 1 :]
    if op == 1:
        return s[:i] + s[i + 1 :]
    if op == 2:
        return s[:i] + c + s[i:]
    a = min(i, len(s) - 2)
    return s[:a] + s[a + 1] + s[a] + s[a + 2 :]


def variant_pools(seed: int, typos_per_column: int) -> dict:
    """Per phenotype column: the pool's surfaces interleaved with their
    case and spacing variants (which normalize back to a known key), then
    letter typos of its alphabetic surfaces (which reach the fuzzy tier).
    The seed picks the case variants and the typos; the order is fixed, so
    under the Zipf draw each rank holds the same surface, or a variant of
    it, for every seed, and the triple count varies little with the seed.
    Typos take the tail ranks: they are rare rows, but each one is still a
    distinct surface that each worker resolves in each operation.  Surfaces with digits
    are never typo'd: an id typo can fuzzy-match the synthetic HPO-scale
    keys, which would make the small and the large dictionary disagree."""
    from phenoqc_spark.ontology.normalize import normalize_text

    rng = random.Random(seed)
    out = {}
    for col, pool in PG.PHENO_POOLS.items():
        bases = [s for s in pool if s]
        vs = []
        for b in bases:
            vs += [b, b.upper() if rng.random() < 0.5 else b.swapcase()]
            vs.append("  " + b.replace(" ", "\t ") + " ")
        alpha = [b for b in bases if _ALPHA.fullmatch(b)]
        known = {normalize_text(v) for v in vs}
        typos = []
        while len(typos) < typos_per_column:
            t = _typo(rng, rng.choice(alpha))
            if normalize_text(t) not in known:
                known.add(normalize_text(t))
                typos.append(t)
        out[col] = list(dict.fromkeys(vs + typos))
    return out


def big_resolver(base, n_terms: int = 19_000, n_keys: int = 50_000):
    """A TermResolver whose HPO dict is the fixture dict plus synthetic,
    fuzzy-inert entries: ``n_terms`` terms carrying ``n_keys`` surface keys
    in all (the size of the real HPO).  Keys are built from rare trigrams,
    so no surface of these workloads scores near the fuzzy cutoff against
    them and every mapping decision equals the fixture resolver's."""
    from phenoqc_spark.ontology.mapper import TermResolver

    onts = {o: dict(d) for o, d in base.ontologies.items()}
    hpo = onts.get("HPO", {})
    i = 0
    while len(hpo) < n_keys:
        key = (
            f"zqx vjw phenotypic entity {i:06d}"
            if i < n_terms
            else f"vjw zqx synonym form {i:06d} kqz"
        )
        hpo.setdefault(key, f"HP:{100000 + (i % n_terms):07d}")
        i += 1
    onts["HPO"] = hpo
    return TermResolver(
        onts, base.default_ontologies, base.fuzzy_threshold, None, base.alt_to_primary
    )


# --- same-as graph -----------------------------------------------------------

def sameas_graph(seed: int, n_paths: int, path_len: int, n_stars: int, star_deg: int):
    """Edges of long paths (many propagation rounds) and hub stars (degree
    skew) over seed-shuffled node names.  Returns (edges, labels) where
    labels maps each node to its component's minimum member — the answer
    ``connected_components`` must give, known by construction."""
    rng = random.Random(seed)
    total = n_paths * path_len + n_stars * (star_deg + 1)
    names = [f"n{i:09d}" for i in rng.sample(range(total * 50), total)]
    edges, comps, k = [], [], 0
    for _ in range(n_paths):
        nodes = names[k : k + path_len]
        k += path_len
        edges += list(zip(nodes, nodes[1:]))
        comps.append(nodes)
    for _ in range(n_stars):
        hub, leaves = names[k], names[k + 1 : k + 1 + star_deg]
        k += 1 + star_deg
        edges += [(hub, leaf) for leaf in leaves]
        comps.append([hub] + leaves)
    labels = {n: min(nodes) for nodes in comps for n in nodes}
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    rng.shuffle(edges)
    return edges, labels


# --- on-disk cache -------------------------------------------------------------

class InputCache:
    """Inputs under ``root/<workload>-<size>-<seed>/``, complete once
    ``expected.json`` exists (the directory is renamed into place last)."""

    def __init__(self, root: str, workload: str, size: str, seed: int):
        self.dir = os.path.join(root, f"{workload}-{size}-{seed}")

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def load(self) -> dict | None:
        try:
            with open(self.path("expected.json")) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def build(self, make) -> dict:
        """``make(tmp_dir) -> expected`` writes the inputs into ``tmp_dir``."""
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(tmp)
        expected = make(tmp)
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(expected, fh)
        os.rename(tmp, self.dir)
        return expected
