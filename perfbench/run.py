#!/usr/bin/env python3
"""micromegas_spark benchmark — one command per run:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Workloads: ``ingest`` (DoPut → tick → visible in log_stats, with
closed-loop FlightSQL readers running the dashboard query mix) and
``analytics_batch`` (two families of REGISTRY queries). Every input is
generated from ``--seed`` inside a scratch directory under the checkout,
which is removed at exit. ``--trace 0`` measures the end-to-end metrics
with nothing wrapped; ``--trace 1`` measures with span-recording
wrappers around each layer and reports the per-layer metrics and the
tracing overhead.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The line before it ("detail ...") carries the workload's own
figures (tail latency, freshness, pass times, ...) for reading; see
perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MODULES = {"ingest": "ingest", "analytics_batch": "batch"}
E2E = {"setup_s": "s", "query_p50_ms": "ms", "queries_per_s": "1/s", "peak_rss_mb": "MB"}
SETUP_PHASES = ("jvm_start_s", "datagen_s", "lake_build_s", "warmup_s")


class Ctx:
    def __init__(self, seed: int, scratch: str) -> None:
        from stats import Outcomes

        self.seed = seed
        self.scratch = scratch
        self.outcomes = Outcomes()
        self.timings = {k: 0.0 for k in SETUP_PHASES}
        self.spark = None


def peak_rss() -> tuple[float, float]:
    """(driver, JVM) VmHWM in MB."""
    import sparkenv

    jvm = sum(sparkenv.vmhwm_mb(p) for p in sparkenv.jvm_pids())
    return sparkenv.vmhwm_mb(), jvm


def run(args, scratch: str) -> tuple[dict, dict]:
    import layers
    import sparkenv
    from stats import median
    from tracing import Tracer

    sparkenv.configure_env(scratch)
    wl = importlib.import_module(MODULES[args.workload])
    ctx = Ctx(args.seed, scratch)
    ctx.spark, ctx.timings["jvm_start_s"] = sparkenv.start_spark()
    st = None
    try:
        st = wl.setup(ctx)
        setup_s = sum(ctx.timings[k] for k in SETUP_PHASES)
        tracer = None
        if args.trace:
            tracer = Tracer()
            layers.install(tracer)
        try:
            res = wl.measure(ctx, st, args.seconds)
        finally:
            if tracer is not None:
                tracer.close()
        detail = wl.layer_metrics(ctx, st, tracer, res)
        if tracer is not None:
            detail.update(layers.from_spans(tracer, getattr(st, "engine", None)))
            if "view_builds" in res:
                detail.update(layers.view_builds(tracer, res["view_builds"]))
            detail["trace.overhead_pct"] = layers.overhead_pct(tracer, res["latencies_ms"])
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        wl.verify(ctx, st)
        driver_mb, jvm_mb = peak_rss()
    finally:
        if st is not None:
            wl.teardown(st)
        sparkenv.stop_spark(ctx.spark)

    for k in SETUP_PHASES:
        detail[f"session.{k}"] = ctx.timings[k]
    detail["session.driver_rss_mb"] = driver_mb
    detail["session.jvm_rss_mb"] = jvm_mb
    e2e = {
        "setup_s": setup_s,
        "query_p50_ms": median(res["latencies_ms"]),
        "queries_per_s": res["queries_per_s"],
        "peak_rss_mb": driver_mb + jvm_mb,
    }
    if args.trace:
        metrics = {
            k: {"value": float(detail.get(k, 0.0)), "unit": u}
            for k, u in layers.PER_LAYER.items()
        }
    else:
        metrics = {k: {"value": float(v), "unit": E2E[k]} for k, v in e2e.items()}
    o = ctx.outcomes
    result = {
        "correct": o.failed == 0,
        "attempted": o.attempted,
        "failed": o.failed,
        "metrics": metrics,
    }
    info = {"e2e": e2e, "detail": detail, "fail_ratio": o.fail_ratio, "errors": o.errors}
    return result, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "micromegas_spark")):
        print(f"perfbench: no micromegas_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    scratch = tempfile.mkdtemp(prefix=".perfbench_", dir=ROOT)
    t0 = time.perf_counter()
    try:
        result, info = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    info["wall_s"] = time.perf_counter() - t0
    print("detail " + json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
