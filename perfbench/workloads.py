"""The four workloads: inputs, the measured operation, its check, its layers.

Each workload calls the program's public functions in the order
``pipeline.run_pipeline`` and ``jobs/run_kg_job.py`` call them.  An
operation returns a ``check`` callable, run after the clock stops, that
says whether the output was correct and how many triples it holds.
"""

from __future__ import annotations

import os
import pickle
import random
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import Observation, functions as F

from phenoqc_spark import pages as PG
from phenoqc_spark.functions.linking import link_terms_inline
from phenoqc_spark.ontology import TermResolver, fuzzy
from phenoqc_spark.ontology.normalize import normalize_text
from phenoqc_spark.operators import resume as R
from phenoqc_spark.operators import triples as T
from phenoqc_spark.operators.canonicalize import connected_components
from phenoqc_spark.pipeline import extract_records, run_pipeline

from . import inputs as I
from . import layers as L
from .harness import CORES
from .trace import marginals, merge_counters, task_skew

TRIPLE = ["subj", "pred", "obj"]
STATE = ["subject", "predicate", "object", "first_seen", "last_seen", "n_obs"]
PARTS = 2 * CORES


class Ctx:
    """What a workload needs during one run."""

    def __init__(self, sess, tracer, work, seed, cache):
        self.sess, self.tracer, self.work, self.seed, self.cache = (
            sess,
            tracer,
            work,
            seed,
            cache,
        )
        self.expected: dict = {}
        self.resolver = None
        self.state: dict = {}  # per-run notes the traced loop leaves for layers()

    @property
    def spark(self):
        return self.sess.spark


def fixture_resolver(work: str):
    from phenoqc_spark.fixtures import fixture_config

    return TermResolver.from_config(fixture_config(os.path.join(work, "onto")))


@contextmanager
def job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed_noop(df, cols) -> dict:
    obs = Observation()
    _noop(df.observe(obs, *I.fingerprint_exprs(cols)))
    return obs.get


def _fingerprint(df, cols) -> dict:
    return df.agg(*I.fingerprint_exprs(cols)).collect()[0].asDict()


def set_join_counts(got, exp, cols) -> dict:
    """Rows of ``got``, rows of ``exp`` and rows in both, by a full outer
    join on ``cols``: precision = both/got, recall = both/exp."""
    return (
        got.withColumn("g", F.lit(1))
        .join(exp.withColumn("e", F.lit(1)), cols, "full_outer")
        .agg(
            F.count("g").alias("got"),
            F.count("e").alias("exp"),
            F.count(F.when(F.col("g").isNotNull() & F.col("e").isNotNull(), 1)).alias("both"),
        )
        .collect()[0]
        .asDict()
    )


def _dir_bytes(path: str) -> tuple:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class Workload:
    name = ""
    size = ""
    end_to_end = list(L.END_TO_END)
    layers: dict = {}  # per-layer metric -> (unit, better, what it should move)
    warmup_ops = 1  # untimed operations on the full input before the loop
    min_samples = 3  # fewest timed operations in a run
    trace_reps = 3  # fewest repetitions of each traced cut or operation

    def resolver(self, ctx):
        return fixture_resolver(ctx.work)

    def generate(self, ctx, out: str) -> dict:
        raise NotImplementedError

    def op(self, ctx, part: str = "full"):
        raise NotImplementedError

    def checked_op(self, ctx):
        """The full operation with the workload's strongest output check.
        It runs once per run, first, as the JIT warm-up of the full input."""
        return self.op(ctx)

    def extras(self, ctx) -> dict:
        """Workload-specific numbers reported beside the end-to-end metrics."""
        return {}

    def traced_loop(self, ctx, seconds: float) -> None:
        raise NotImplementedError

    def layer_metrics(self, ctx, groups: dict, run_s: float) -> dict:
        raise NotImplementedError


# --- kg_build / kg_open_vocab ------------------------------------------------------

CUTS = ["scan", "records", "explode", "link", "dedup"]


class PipelineWorkload(Workload):
    """pages → ``run_pipeline`` (inline link) → triples to the noop sink."""

    layers = {**L.COMMON, **L.PIPELINE}

    def __init__(self, name, pages, warm_pages, typos_per_column=0, warmup_ops=1, min_samples=3):
        self.name, self.pages, self.warm_pages = name, pages, warm_pages
        self.typos, self.warmup_ops, self.min_samples = typos_per_column, warmup_ops, min_samples
        self.size = f"{pages}p{typos_per_column}t"

    def pools(self, seed: int) -> dict:
        if not self.typos:
            return PG.PHENO_POOLS
        return I.variant_pools(seed, self.typos)

    def generate(self, ctx, out: str) -> dict:
        # the expected set comes from the fixture resolver; the open-vocab
        # dictionary only adds fuzzy-inert keys, so its answers are the same
        base, pools, off = fixture_resolver(ctx.work), self.pools(ctx.seed), I.seed_offset(ctx.seed)
        expected = {}
        for part, n, start in (
            ("full", self.pages, off),
            ("warm", self.warm_pages, off + I.SEED_STRIDE // 2),
        ):
            pages = I.make_pages(ctx.seed, n, start, pools, zipf=bool(self.typos))
            I.write_pages(pages, os.path.join(out, f"{part}_pages"), PARTS)
            trip = I.expected_triples(pages, base)
            I.write_triples(trip, os.path.join(out, f"{part}_expected.parquet"))
            expected[part] = I.fingerprint(trip)
        return expected

    def resolver(self, ctx):
        base = fixture_resolver(ctx.work)
        return I.big_resolver(base) if self.typos else base

    def op(self, ctx, part: str = "full"):
        spark = ctx.spark
        pages = spark.read.parquet(ctx.cache.path(f"{part}_pages"))
        trip = run_pipeline(spark, pages, ctx.resolver)["triples"]
        got = _observed_noop(trip, TRIPLE)
        want = ctx.expected[part]
        return lambda: (I.same_fingerprint(got, want), got["n"])

    def checked_op(self, ctx):
        """P = R = 1.0 by a distributed set join of the full output against
        the expected set (the measured outputs are fingerprinted)."""
        spark = ctx.spark
        pages = spark.read.parquet(ctx.cache.path("full_pages"))
        got = run_pipeline(spark, pages, ctx.resolver)["triples"].select(*TRIPLE)
        exp = spark.read.parquet(ctx.cache.path("full_expected.parquet"))
        row = set_join_counts(got, exp, TRIPLE)
        return lambda: (row["got"] == row["exp"] == row["both"] > 0, row["got"])

    def cuts(self, ctx):
        """The inline ``build_triples`` path, one frame per layer."""
        spark = ctx.spark
        bc = spark.sparkContext.broadcast(ctx.resolver)
        pages = spark.read.parquet(ctx.cache.path("full_pages"))
        records = extract_records(pages)
        terms = T.terms_long(records, normalize=False)
        linked = link_terms_inline(terms, bc, normalize=True, drop_input_cols=("term",))
        # each cut keeps only the columns the next layer reads: a cut that
        # also produced unused record fields would cost more than the
        # pruned plan after it, and the explode marginal would read < 0
        used = ["url", "SampleID", *T.PHENO_COLUMNS, *T.ARRAY_COLUMNS]
        return {
            "scan": pages.select("url", "warc_ts", "html", "lang"),
            "records": records.select(*used),
            "explode": terms,
            "link": linked,
            "dedup": T.triples(linked),
        }

    def traced_loop(self, ctx, seconds: float) -> None:
        spark, tr = ctx.spark, ctx.tracer
        cum = {c: [] for c in CUTS}
        rows, ops = {}, []
        end, rep = time.perf_counter() + seconds, 0
        while rep < self.trace_reps or time.perf_counter() < end:
            for c in CUTS:
                # a fresh broadcast per cut, as each operation makes one, so
                # no cut finds the resolver memo warmed by the previous cut
                frame = self.cuts(ctx)[c]
                obs = Observation()
                with job_group(spark, f"cut.{c}.{rep}"), tr.span(f"cut.{c}") as sp:
                    _noop(frame.observe(obs, F.count(F.lit(1)).alias("n")))
                cum[c].append(sp.seconds)
                rows[c] = obs.get["n"]
            with job_group(spark, f"op.{rep}"), tr.span("op") as sp:
                self.op(ctx)
            ops.append(sp.seconds)
            rep += 1
        with job_group(spark, "resolver.collect"):
            raw = [r.term for r in self.cuts(ctx)["explode"].select("term").distinct().collect()]
        ctx.state.update(cum=cum, rows=rows, ops=ops, reps=rep, raw_terms=raw)

    def resolver_layer(self, ctx) -> dict:
        """Resolver calls on the driver over the workload's distinct surfaces,
        on an unpickled copy — what a worker holds after the broadcast."""
        raw = ctx.state["raw_terms"]
        reps, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.2:
            for t in raw:
                normalize_text(t)
            reps += 1
        norm_us = (time.perf_counter() - t0) / max(1, reps * len(raw)) * 1e6
        blob = pickle.dumps(ctx.resolver)
        r = pickle.loads(blob)
        t0 = time.perf_counter()
        for onto in r.default_ontologies:
            fuzzy.build_key_index(tuple(r.ontologies.get(onto, {}).keys()))
        key_index_s = time.perf_counter() - t0
        r.map_term_detailed("qqqq warm-up")  # builds the worker's key indexes
        terms = sorted({normalize_text(t) for t in raw} - {""})
        miss, hit = [], []
        tiers = dict.fromkeys(["custom", "exact", "fuzzy", "prefix", "none"], 0)
        linked = 0
        for t in terms:
            t0 = time.perf_counter()
            res = r.map_term_cached(t)
            miss.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            r.map_term_cached(t)
            hit.append(time.perf_counter() - t0)
            for onto in r.default_ontologies:
                v = res.get(onto)
                tiers[v[1] if v else "none"] += 1
            linked += any(res.get(o) for o in r.default_ontologies)
        out = {
            "resolver.miss_us": _median(miss) * 1e6,
            "resolver.hit_us": _median(hit) * 1e6,
            "normalize.us_per_term": norm_us,
            "resolver.key_index_s": key_index_s,
            "resolver.broadcast_bytes": len(blob),
            "link.distinct_terms": len(terms),
            "link.match_frac": linked / len(terms) if terms else 0.0,
        }
        out.update({f"resolver.tier.{k}": v for k, v in tiers.items()})
        return out

    def layer_metrics(self, ctx, groups: dict, run_s: float) -> dict:
        st = ctx.state
        reps = st["reps"]
        # noise only adds to a cut's time, so its fastest repetition is
        # the best estimate of its cost
        cum = [(c, min(st["cum"][c])) for c in CUTS]
        marg = dict(marginals(cum))
        per = {c: merge_counters(groups, f"cut.{c}.") for c in CUTS}

        def dm(c, key):  # marginal engine counter per repetition
            prev = per[CUTS[CUTS.index(c) - 1]][key] if c != CUTS[0] else 0
            return (per[c][key] - prev) / reps

        last_dedup = groups.get(f"cut.dedup.{reps - 1}", {})
        out = {
            "scan.s": marg["scan"],
            "scan.rows": st["rows"]["scan"],
            "scan.bytes": per["scan"]["input_bytes"] / reps,
            "records.s": marg["records"],
            "records.cpu_s": dm("records", "cpu_s"),
            "records.rows": st["rows"]["records"],
            "explode.s": marg["explode"],
            "explode.term_rows": st["rows"]["explode"],
            "link.s": marg["link"],
            "link.cpu_s": dm("link", "cpu_s"),
            "link.py_bytes_in": per["link"]["py_bytes_in"] / reps,
            "link.py_bytes_out": per["link"]["py_bytes_out"] / reps,
            "link.linked_rows": st["rows"]["link"],
            "dedup.s": marg["dedup"],
            "dedup.rows_in": st["rows"]["link"],
            "dedup.rows_out": st["rows"]["dedup"],
            "dedup.removed_frac": 1 - st["rows"]["dedup"] / max(1, st["rows"]["link"]),
            "dedup.shuffle_write_bytes": dm("dedup", "shuffle_write_bytes"),
            "dedup.task_skew": task_skew(last_dedup.get("reduce_task_ms", {})),
            "layers.sum_over_e2e": sum(marg.values()) / run_s,
            "trace.overhead_frac": _median(st["ops"]) / run_s - 1,
        }
        out.update(self.resolver_layer(ctx))
        ctx.state["table"] = [(c, t, marg[c]) for c, t in cum]
        return out


# --- kg_incremental ---------------------------------------------------------------


class IncrementalWorkload(Workload):
    """The ``jobs/run_kg_job.py`` sequence over two batches with a resume.

    Batch 1 runs interrupted (only even buckets complete), then a resume
    pass finishes it; its triples merge into the state table.  Batch 2
    holds new pages plus recaptures of batch-1 urls (later ``warc_ts``,
    some twice within the batch) and merges on top."""

    name = "kg_incremental"
    layers = {**L.COMMON, **L.INCREMENTAL}
    # an operation is ~25 s of job overhead here, whatever the batch size
    min_samples = 1
    trace_reps = 2
    BUCKETS = 16
    RECAPTURE_PCT = 30  # of batch-1 pages recaptured in batch 2
    TWICE_PCT = 10  # of batch-1 pages captured twice in batch 2

    def __init__(self, batch1, batch2, warm1, warm2):
        self.sizes = {"full": (batch1, batch2), "warm": (warm1, warm2)}
        self.size = f"{batch1}+{batch2}"

    def generate(self, ctx, out: str) -> dict:
        base, off, pools = fixture_resolver(ctx.work), I.seed_offset(ctx.seed), PG.PHENO_POOLS
        expected = {}
        for part, start in (("full", off), ("warm", off + I.SEED_STRIDE // 2)):
            n1, n2 = self.sizes[part]
            b1 = I.make_pages(ctx.seed, n1, start, pools)
            new2 = I.make_pages(ctx.seed, n2, start + n1, pools)
            rng = random.Random(f"recapture-{ctx.seed}-{part}")
            once = [p for p in b1 if rng.random() * 100 < self.RECAPTURE_PCT]
            twice = once[: len(once) * self.TWICE_PCT // self.RECAPTURE_PCT]
            I.write_pages(b1, os.path.join(out, f"{part}_b1"), PARTS)
            b2 = os.path.join(out, f"{part}_b2")
            I.write_pages(new2, b2, PARTS)
            I.write_pages(once, b2, 2, later_days=30)
            I.write_pages(twice, b2, 2, later_days=31)
            exp1 = I.expected_triples(b1, base)
            state = {t: [1, 1, 1] for t in exp1}
            for t in I.expected_triples(new2 + once, base):
                first_last_n = state.setdefault(t, [2, 2, 0])
                first_last_n[1] = 2
                first_last_n[2] += 1
            expected[part] = {
                "b1": I.fingerprint(exp1),
                "state": I.fingerprint(t + tuple(v) for t, v in state.items()),
            }
        return expected

    @contextmanager
    def phase(self, ctx, name: str):
        with job_group(ctx.spark, f"inc.{name}"), ctx.tracer.span(name):
            yield

    def batch(self, ctx, bc, pages_path, out, run_id, interrupted=False, resume=False):
        spark = ctx.spark
        audit, triples_path = os.path.join(out, "audit"), os.path.join(out, "triples")
        keyed = R.with_part_key(spark.read.parquet(pages_path), self.BUCKETS)
        if interrupted:  # the crashed run completed only the even buckets
            keyed = keyed.filter(F.col("part_key") % 2 == 0)
        if resume:
            with self.phase(ctx, "resume.probe"):
                done = R.completed_part_keys(spark, audit)
                keyed = R.filter_resumable(keyed, done)
        records = extract_records(keyed, keep=["part_key"])
        terms = T.terms_long(records)
        links = T.resolve_vocab(terms, bc)
        trip = T.triples(T.link_terms(terms, links))
        trip_keyed = trip.withColumn(
            "part_key",
            F.pmod(F.xxhash64(F.col("provenance")), F.lit(self.BUCKETS)).cast("int"),
        )
        with self.phase(ctx, "write"):
            R.write_triples_idempotent(trip_keyed, triples_path)
        with self.phase(ctx, "audit"):
            R.append_audit(spark, audit, run_id, R.partition_metrics(records, trip_keyed))
        return T.link_terms(terms, links)

    def merge(self, ctx, out, state_path) -> dict:
        spark = ctx.spark
        tri = spark.read.parquet(os.path.join(out, "triples")).select(
            F.col("subj").alias("subject"),
            F.col("pred").alias("predicate"),
            F.col("obj").alias("object"),
            (F.col("score").cast("double") / 100.0).alias("confidence"),
        )
        with self.phase(ctx, "merge"):
            return R.merge_state_into(spark, state_path, tri)

    def op(self, ctx, part: str = "full"):
        spark = ctx.spark
        base = os.path.join(ctx.work, "incremental", part)
        shutil.rmtree(base, ignore_errors=True)
        out1, out2 = os.path.join(base, "b1"), os.path.join(base, "b2")
        state = os.path.join(base, "state")
        bc = spark.sparkContext.broadcast(ctx.resolver)
        b1, b2 = ctx.cache.path(f"{part}_b1"), ctx.cache.path(f"{part}_b2")
        with ctx.tracer.span("batch1.interrupted"):
            self.batch(ctx, bc, b1, out1, "b1-run1", interrupted=True)
        with ctx.tracer.span("batch1.resume"):
            self.batch(ctx, bc, b1, out1, "b1-run2", resume=True)
        merges = [self.merge(ctx, out1, state)]
        with ctx.tracer.span("batch2"):
            linked2 = self.batch(ctx, bc, b2, out2, "b2-run1")
        merges.append(self.merge(ctx, out2, state))
        ctx.state.update(base=base, merges=merges, linked2=linked2)
        want = ctx.expected[part]

        def check():
            got1 = _fingerprint(spark.read.parquet(os.path.join(out1, "triples")), TRIPLE)
            got = _fingerprint(spark.read.parquet(state), STATE)
            ok = I.same_fingerprint(got1, want["b1"]) and I.same_fingerprint(got, want["state"])
            return ok, got["n"]

        return check

    def extras(self, ctx) -> dict:
        """Bytes on disk of triples + audit + state per distinct state
        triple, after the last operation."""
        base = ctx.state["base"]
        size = sum(_dir_bytes(os.path.join(base, d))[1] for d in ("b1", "b2", "state"))
        return {"bytes_per_triple": size / max(1, ctx.state["merges"][-1]["rows"])}

    def traced_loop(self, ctx, seconds: float) -> None:
        ctx.state["span0"] = len(ctx.tracer.spans)
        end, ops = time.perf_counter() + seconds, []
        while len(ops) < self.trace_reps or time.perf_counter() < end:
            with ctx.tracer.span("op") as sp:
                check = self.op(ctx)
            ops.append(sp.seconds)
            check()
        spark, base = ctx.spark, ctx.state["base"]
        with job_group(spark, "inc.counts"):
            rows_in = ctx.state["linked2"].count()
            rows_out = spark.read.parquet(os.path.join(base, "b2", "triples")).count()
            audit_rows, reprocessed = 0, 0
            for b in ("b1", "b2"):
                audit = spark.read.parquet(os.path.join(base, b, "audit"))
                audit_rows += audit.count()
                reprocessed += (
                    audit.filter(F.col("run_id") == "b1-run2")
                    .agg(F.sum("n_pages"))
                    .collect()[0][0]
                    or 0
                )
            skipped = (
                spark.read.parquet(os.path.join(base, "b1", "audit"))
                .filter(F.col("run_id") == "b1-run1")
                .count()
            )
        ctx.state.update(
            ops=ops,
            rows_in=rows_in,
            rows_out=rows_out,
            audit_rows=audit_rows,
            reprocessed=reprocessed,
            skipped=skipped,
        )

    def layer_metrics(self, ctx, groups: dict, run_s: float) -> dict:
        st, tr = ctx.state, ctx.tracer
        n_ops = len(st["ops"])
        traced = tr.spans[st["span0"] :]

        def per_op(name):
            return sum(s.duration for s in traced if s.name == name) / n_ops

        base = st["base"]
        tri_files = tri_bytes = 0
        for b in ("b1", "b2"):
            f, s = _dir_bytes(os.path.join(base, b, "triples"))
            tri_files, tri_bytes = tri_files + f, tri_bytes + s
        _, state_bytes = _dir_bytes(os.path.join(base, "state"))
        state_rows = st["merges"][-1]["rows"]
        resume = [s.duration for s in traced if s.name == "batch1.resume"]
        write = merge_counters(groups, "inc.write")
        leaves = ["write", "audit", "merge", "resume.probe"]
        return {
            "write.s": per_op("write"),
            "write.files": tri_files,
            "write.bytes": tri_bytes,
            "audit.s": per_op("audit"),
            "audit.rows": st["audit_rows"],
            "bytes_per_triple": self.extras(ctx)["bytes_per_triple"],
            "merge.s": per_op("merge"),
            "merge.state_rows": state_rows,
            # each merge rewrites the whole state table; the first one's
            # size is not kept on disk, so count the final size per merge
            "merge.bytes_rewritten": state_bytes * len(st["merges"]),
            "resume.s": _median(resume),
            "resume.buckets_skipped": st["skipped"],
            "resume.pages_reprocessed": st["reprocessed"],
            "dedup.rows_in": st["rows_in"],
            "dedup.rows_out": st["rows_out"],
            "dedup.removed_frac": 1 - st["rows_out"] / max(1, st["rows_in"]),
            "dedup.shuffle_write_bytes": write["shuffle_write_bytes"] / n_ops,
            "layers.sum_over_e2e": sum(per_op(n) for n in leaves) / run_s,
            "trace.overhead_frac": _median(st["ops"]) / run_s - 1,
        }


# --- kg_canonicalize ---------------------------------------------------------------


class RoundCounter:
    """Counts ``connected_components`` rounds from outside: each round ends
    in exactly one ``DataFrame.count`` (the changed-label count), so the
    class method is wrapped for the duration of the call.  Every round's
    jobs run under their own job group; the loop converged iff the last
    count was 0."""

    def __init__(self, df_cls, spark, prefix: str):
        self.cls, self.spark, self.prefix = df_cls, spark, prefix
        self.changed: list = []

    def __enter__(self):
        self.orig = orig = self.cls.count
        counter = self

        def count(df):
            v = orig(df)
            counter.changed.append(v)
            counter._group(len(counter.changed) + 1)
            return v

        self._group(1)
        self.cls.count = count
        return self

    def _group(self, i: int) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.prefix}.round.{i}", "cc")

    def __exit__(self, *exc):
        self.cls.count = self.orig
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return False

    @property
    def converged(self) -> bool:
        return bool(self.changed) and self.changed[-1] == 0


class CanonicalizeWorkload(Workload):
    """``connected_components`` over a seeded same-as graph of long paths
    and hub stars."""

    name = "kg_canonicalize"
    # its output is (node, component) labels, not extracted triples
    end_to_end = [m for m in L.END_TO_END if m != "triples_per_hour"]
    layers = {**L.COMMON, **L.CANONICALIZE}
    min_samples = 2

    def __init__(self, full, warm):
        self.shapes = {"full": full, "warm": warm}
        self.size = "x".join(map(str, full))

    def resolver(self, ctx):
        return None

    def generate(self, ctx, out: str) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        expected = {}
        for part, shape in self.shapes.items():
            edges, labels = I.sameas_graph(ctx.seed, *shape)
            pq.write_table(
                pa.table({"src": [a for a, _ in edges], "dst": [b for _, b in edges]}),
                os.path.join(out, f"{part}_edges.parquet"),
            )
            expected[part] = dict(I.fingerprint(labels.items()), edges=len(edges))
        return expected

    def op(self, ctx, part: str = "full", prefix: str = "cc"):
        spark = ctx.spark
        edges = spark.read.parquet(ctx.cache.path(f"{part}_edges.parquet"))
        with RoundCounter(type(edges), spark, prefix) as rc:
            labels = connected_components(edges)
            got = _observed_noop(labels, ["node", "component"])
        want = ctx.expected[part]
        ctx.state["rounds"] = rc.changed

        def check():  # the output triples are the (node, component) labels
            ok = rc.converged and I.same_fingerprint(got, want)
            return ok, got["n"]

        return check

    def traced_loop(self, ctx, seconds: float) -> None:
        end, ops, rounds = time.perf_counter() + seconds, [], []
        while len(ops) < self.trace_reps or time.perf_counter() < end:
            with ctx.tracer.span("cc") as sp:
                check = self.op(ctx, prefix=f"cc.{len(ops)}")
            ops.append(sp.seconds)
            rounds.append(len(ctx.state["rounds"]))
            check()
        ctx.state.update(ops=ops, round_counts=rounds)

    def layer_metrics(self, ctx, groups: dict, run_s: float) -> dict:
        st = ctx.state
        n_ops = len(st["ops"])
        rounds = _median(st["round_counts"])
        cc = merge_counters(groups, "cc.")
        cc_s = _median(st["ops"])
        jobs = cc["jobs"] / n_ops
        return {
            "cc.s": cc_s,
            "cc.rounds": rounds,
            "cc.s_per_round": cc_s / rounds,
            "cc.jobs": jobs,
            "cc.jobs_per_round": jobs / rounds,
            "cc.shuffle_bytes_per_round": cc["shuffle_write_bytes"] / n_ops / rounds,
            "layers.sum_over_e2e": cc_s / run_s,
            "trace.overhead_frac": cc_s / run_s - 1,
        }


WORKLOADS = {
    w.name: w
    for w in (
        # JIT-bound: the second full operation still runs ~20% slow
        PipelineWorkload("kg_build", pages=30_000, warm_pages=200, warmup_ops=2),
        # each operation pays the workers' resolver set-up (~5 s here)
        PipelineWorkload("kg_open_vocab", pages=3_000, warm_pages=40, typos_per_column=6),
        IncrementalWorkload(batch1=6_000, batch2=3_000, warm1=600, warm2=300),
        # 10-node paths take 9 rounds; the stars add degree skew
        CanonicalizeWorkload(full=(100, 10, 10, 100), warm=(4, 4, 2, 10)),
    )
}
