#!/usr/bin/env python3
"""The repo benchmark: one named workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
every ``end_to_end`` metric of BENCHMARK.json with ``--trace 0``,
every ``per_layer`` metric with ``--trace 1``. Host state (effective
cores and steal%, from ``bench._host_probe``) goes to stderr as a
``# host`` JSON line. The exit code is 0 only when every correctness
check passed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import Checks, WorkDir  # noqa: E402

sys.path.insert(0, harness.ROOT)

HOST_PROBE_S = 0.3


class Ctx:
    """What a workload gets: the session, the tracer, its seed and run
    length, a private work dir and the correctness ledger. Set-up
    phases run under :meth:`setup`, so their time adds to ``setup_s``."""

    def __init__(self, spark, tracer, args, work: WorkDir, checks: Checks):
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.checks = checks
        self.cores = harness.cores()
        self.setup_s: dict[str, float] = {}
        # set-up work that not every run does, kept out of setup_s
        self.uncounted_s: dict[str, float] = {}
        self.loop = (0.0, 0.0)  # timed loop window, epoch seconds

    @contextmanager
    def setup(self, phase: str):
        self.tracer.set_op("setup")
        t0 = time.perf_counter()
        with self.tracer.span(f"setup.{phase}"):
            yield
        self.setup_s[phase] = self.setup_s.get(phase, 0.0) + time.perf_counter() - t0


# name -> (module, function, the module's list of per-layer metrics
# a traced run of the workload must produce)
WORKLOADS = {
    "append-bulk": ("wl_append", "append_bulk", "BULK_LAYER_METRICS"),
    "append-trickle": ("wl_append", "append_trickle", "TRICKLE_LAYER_METRICS"),
    "dedup-ingest": ("wl_dedup", "dedup_ingest", "LAYER_METRICS"),
    "query-mix": ("wl_query", "query_mix", "LAYER_METRICS"),
    "query-all": ("wl_query", "query_all", "LAYER_METRICS"),
}
# per-layer metrics every traced run produces
COMMON_LAYER_METRICS = ("session.start_s", "failed_ops_frac", "trace.")


def _expected(metric: str, names) -> bool:
    return any(metric.startswith(n) if n.endswith(".") else metric == n for n in names)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="traced run: write spans and the per-span breakdown as JSON here")
    args = ap.parse_args(argv)

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import bench  # the host probe lives beside the driver contract

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    module, func, layer_names = WORKLOADS[args.workload]
    module = importlib.import_module(module)
    workload = getattr(module, func)
    layer_names = COMMON_LAYER_METRICS + getattr(module, layer_names)
    host_pre = bench._host_probe(harness.cores(), HOST_PROBE_S)

    work = WorkDir(args.workload)
    checks = Checks()
    try:
        harness.prepare_env(work)
        t0 = time.perf_counter()
        spark = harness.start_session(work, traced=bool(args.trace))
        start_s = time.perf_counter() - t0
        from spans import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args, work, checks)
        try:
            result = workload(ctx)
        except Exception as exc:  # the run reports the failure instead of a traceback only
            import traceback

            traceback.print_exc()
            checks.fail(f"workload raised {exc!r}"[:300])
            result = {"e2e": {}, "layer": {}}
        e2e, layer = result["e2e"], result["layer"]
        e2e["setup_s"] = start_s + sum(ctx.setup_s.values())
        e2e["peak_rss_mb"] = harness.peak_rss_mb(spark)
        layer["session.start_s"] = start_s
        if "warmup" in ctx.setup_s:
            layer["session.warmup_s"] = ctx.setup_s["warmup"]
        layer["failed_ops_frac"] = checks.failed / max(1, checks.attempted)
        _stop(spark)
        if args.trace:
            import layers

            layer.update(layers.from_trace(tracer.spans, work.sub("eventlog"), ctx.loop))
            layer["trace.op_s.p50"] = e2e.get("op_s.p50", 0.0)
            if args.spans_out:
                layers.write_spans(args.spans_out, tracer.spans, work.sub("eventlog"), layer)
    finally:
        work.remove()
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {}
    for m in chosen:
        v = values.get(m["name"])
        if v is None:
            if not args.trace or _expected(m["name"], layer_names):
                checks.fail(f"metric {m['name']} not measured")
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    host_post = bench._host_probe(harness.cores(), HOST_PROBE_S)
    print("# host " + json.dumps({"pre": host_pre, "post": host_post}), file=sys.stderr)
    print("# setup " + json.dumps({"session": start_s, **ctx.setup_s, "not_counted": ctx.uncounted_s}), file=sys.stderr)
    for err in checks.errors:
        print(f"# check failed: {err}", file=sys.stderr)
    correct = checks.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, checks.attempted), "failed": checks.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
