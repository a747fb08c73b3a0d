"""KG-construction benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 6 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/inputs``; the measured loop runs the
workload's operation back to back for ``--seconds`` and checks every
output.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced pass (see ``layers.py``).

Earlier stdout lines carry, when traced, the layer table, then the
environment and the ``extra`` numbers (``failed_frac``, the highest
run-time percentile the samples support, the samples themselves and any
workload-specific figure); the last line is ``{"correct", "attempted",
"failed", "metrics"}``.  Spans and the full result are written to
``.perfbench_work/runs/``.  ``report.py`` runs every workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def setup(wl, ctx) -> list:
    """Generate inputs on a cache miss (not timed), then set up
    ``SETUP_REPS`` times: session start, resolver build, input-cache
    check, a warm-up operation on the small input.  The first set-up
    starts the JVM and the SparkContext, later ones a new SparkSession on
    them.  Returns the durations of the repetitions."""
    tr = ctx.tracer
    if ctx.cache.load() is None:
        with tr.span("generate"):
            ctx.cache.build(lambda out: wl.generate(ctx, out))
    reps = []
    for _ in range(SETUP_REPS):
        with tr.span("setup") as total:
            with tr.span("setup.session"):
                ctx.sess.start()
            with tr.span("setup.resolver"):
                ctx.resolver = wl.resolver(ctx)
            with tr.span("setup.cache"):
                ctx.expected = ctx.cache.load()
                if ctx.expected is None:
                    raise RuntimeError(f"input cache missing: {ctx.cache.dir}")
            with tr.span("setup.warmup"):
                wl.op(ctx, "warm")()
        reps.append(total.seconds)
    return reps


def measure(wl, ctx, seconds: float):
    """``wl.warmup_ops`` operations on the full input, the first with the
    workload's strongest check (JIT warm-up, not samples), then the closed
    loop.  Returns (warm-up loop, measured loop, peak RSS bytes and CPU
    steal share of the measured loop)."""
    from perfbench.harness import Loop, RssSampler, cpu_ticks

    warm = Loop()
    warm.once(lambda: wl.checked_op(ctx))
    for _ in range(wl.warmup_ops - 1):
        warm.once(lambda: wl.op(ctx))
    steal0, total0 = cpu_ticks()
    with RssSampler() as rss:
        loop = Loop().run(lambda: wl.op(ctx), seconds, wl.min_samples)
    steal1, total1 = cpu_ticks()
    return warm, loop, rss.peak, (steal1 - steal0) / max(1, total1 - total0)


def traced_pass(wl, ctx, seconds: float, run_s: float, work: str) -> dict:
    """A fresh SparkContext with the event log on, the workload's traced
    loop, then the per-layer metrics from spans and event-log counters."""
    from perfbench.trace import group_counters, read_event_log, self_times

    tracer, sess = ctx.tracer, ctx.sess
    event_dir = os.path.join(work, "events", tracer.run_id)
    sess.restart(event_dir)
    wl.op(ctx, "warm")()  # fresh Python workers after the restart
    span0 = len(tracer.spans)
    wl.traced_loop(ctx, seconds)
    sess.spark.stop()
    sess.spark = None
    groups = group_counters(read_event_log(event_dir))
    lm = wl.layer_metrics(ctx, groups, run_s)
    # the first session start launches the JVM; the rest reuse it
    lm["setup.session_s"] = tracer.durations("setup.session")[0]
    for name in ("resolver", "warmup"):
        lm[f"setup.{name}_s"] = statistics.median(tracer.durations(f"setup.{name}"))
    for name, cum, marg in ctx.state.get("table", []):
        print(f"layer {name:8s} cumulative {cum:8.3f} s  marginal {marg:8.3f} s")
    spans = tracer.spans[span0:]
    own = self_times(spans)
    by_name: dict = {}
    for sp in spans:
        by_name[sp.name] = by_name.get(sp.name, 0.0) + own[sp.id]
    for name, t in sorted(by_name.items(), key=lambda kv: -kv[1]):
        print(f"span {name:20s} self {t:8.3f} s")
    return lm


def bench(args) -> dict:
    from perfbench.layers import END_TO_END
    from perfbench.harness import Session, environment, high_percentile
    from perfbench.inputs import InputCache
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    tracer = Tracer()
    cache = InputCache(os.path.join(work, "inputs"), wl.name, wl.size, args.seed)
    sess = Session(work)
    ctx = Ctx(sess, tracer, work, args.seed, cache)
    env = dict(environment(), workload=wl.name, seed=args.seed, run_id=tracer.run_id)
    try:
        reps = setup(wl, ctx)
        warm, loop, peak_rss, steal = measure(wl, ctx, args.seconds)
        attempted = warm.attempted + loop.attempted
        failed = warm.failed + loop.failed
        if not loop.samples:
            raise RuntimeError(f"all {loop.attempted} operations failed")
        run_s = loop.median
        metrics = {
            "run_s": run_s,
            "triples_per_hour": statistics.median(loop.outputs) / run_s * 3600,
            "setup_s": statistics.median(reps),
        }
        label, hi = high_percentile(loop.samples)
        extra = {
            "failed_frac": failed / attempted,
            f"run_s_{label}": hi,
            "samples": len(loop.samples),
            "run_s_samples": loop.samples,
            "setup_s_reps": reps,
            # a busy host slows every sample of a run alike; this tells why
            "cpu_steal_frac": steal,
        }
        extra.update(wl.extras(ctx))
        if args.trace:
            metrics = traced_pass(wl, ctx, args.seconds, run_s, work)
            metrics["peak_rss_mb"] = peak_rss / 2**20
            units = wl.layers
        else:
            units = {name: END_TO_END[name] for name in wl.end_to_end}
    finally:
        sess.close()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": units[name][0]} for name in units
        },
    }
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    out = os.path.join(work, "runs", f"{wl.name}-{args.seed}-{tracer.run_id}.json")
    with open(out, "w") as fh:
        json.dump(
            {"env": env, "extra": extra, "result": result, "spans": [vars(s) for s in tracer.spans]},
            fh,
        )
    print(json.dumps({"env": env}))
    print(json.dumps({"extra": extra}))
    return result


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import phenoqc_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the program too; keep every temp file
    # inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    result = bench(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
