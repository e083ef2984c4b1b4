#!/usr/bin/env python3
"""Steadiness series and comparisons for the repo benchmark.

    python3 perfbench/series.py run --out perfbench/baseline/series_a.json [--seeds 1-10] [--workloads a,b]
    python3 perfbench/series.py trace --out-dir perfbench/baseline [--seed 101]
    python3 perfbench/series.py compare A.json B.json

``run`` makes one untraced run per (workload, seed) through run.py,
keeping every result and the host probe of each run, and reports per
metric the median and the quartile spread (Q3 - Q1) / median, with
``statistics.quantiles(values, n=4)``. ``trace`` makes one traced run
per workload and writes its span breakdown. ``compare`` sets two
series side by side and flags a comparison whose two sides' median
effective cores differ by more than 20%.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EFF_CORES_TOLERANCE = 0.20


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int, extra: list[str] | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd + (extra or []), cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall_s = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    host = setup = None
    for line in proc.stderr.splitlines():
        if line.startswith("# host "):
            host = json.loads(line[len("# host "):])
        elif line.startswith("# setup "):
            setup = json.loads(line[len("# setup "):])
    return {"workload": workload, "seed": seed, "exit": proc.returncode, "wall_s": wall_s, "result": result, "host": host, "setup": setup}


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w and r["result"]]
        row = {
            "runs": len(mine),
            "correct": all(r["result"]["correct"] for r in mine) and all(r["exit"] == 0 for r in mine),
            "eff_cores": statistics.median(r["host"]["pre"].get("eff_cores", 0.0) for r in mine if r["host"]) if mine else 0.0,
            "wall_s": statistics.median(r["wall_s"] for r in mine) if mine else 0.0,
        }
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in mine]
            if len(vals) >= 2:
                s = spread(vals)
                s["bound"] = m["bound"]
                s["within_third"] = s["spread"] < m["bound"] / 3
                row[m["name"]] = s
        out[w] = row
    return out


def cmd_run(args) -> None:
    spec = _spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    runs = []
    for seed in _seeds(args.seeds):
        for w in workloads:
            r = run_once(w, seed, spec["run_seconds"], 0)
            runs.append(r)
            ok = r["result"]["correct"] if r["result"] else False
            print(f"{w} seed {seed}: exit {r['exit']} correct {ok}", file=sys.stderr, flush=True)
            doc = {"run_seconds": spec["run_seconds"], "runs": runs, "summary": summarize(runs, spec)}
            with open(args.out, "w") as f:  # rewritten after every run, so a cut series keeps its runs
                json.dump(doc, f, indent=1)
    print(json.dumps(doc["summary"], indent=1))


def cmd_trace(args) -> None:
    spec = _spec()
    for w in [w["name"] for w in spec["workloads"]]:
        path = os.path.join(args.out_dir, f"trace_{w}.json")
        r = run_once(w, args.seed, spec["run_seconds"], 1, ["--spans-out", path])
        with open(path) as f:
            doc = json.load(f)
        doc.update({"workload": w, "seed": args.seed, "exit": r["exit"], "host": r["host"], "setup": r["setup"]})
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
        print(f"{w}: exit {r['exit']} correct {r['result'] and r['result']['correct']}", file=sys.stderr, flush=True)


def cmd_compare(args) -> None:
    better = {m["name"]: m["better"] for m in _spec()["end_to_end"]}
    with open(args.a) as f:
        a = json.load(f)["summary"]
    with open(args.b) as f:
        b = json.load(f)["summary"]
    for w in sorted(set(a) & set(b)):
        ca, cb = a[w]["eff_cores"], b[w]["eff_cores"]
        flag = abs(ca - cb) > EFF_CORES_TOLERANCE * max(ca, cb)
        print(f"{w}: effective cores {ca} vs {cb}{'  FLAG: hosts differ by more than 20%' if flag else ''}")
        for m, sa in a[w].items():
            if isinstance(sa, dict) and m in b[w]:
                sb = b[w][m]
                change = sb["median"] / sa["median"] - 1
                worse = change if better.get(m) == "lower" else -change
                over = "  WORSE THAN BOUND" if worse > sa["bound"] else ""
                print(f"  {m}: {sa['median']:.4g} -> {sb['median']:.4g} ({change * 100:+.1f}%, bound {sa['bound']}), spreads {sa['spread']:.3f} / {sb['spread']:.3f}{over}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(required=True)
    p = sub.add_parser("run")
    p.add_argument("--out", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads")
    p.set_defaults(fn=cmd_run)
    p = sub.add_parser("trace")
    p.add_argument("--out-dir", required=True)
    p.add_argument("--seed", type=int, default=101)
    p.set_defaults(fn=cmd_trace)
    p = sub.add_parser("compare")
    p.add_argument("a")
    p.add_argument("b")
    p.set_defaults(fn=cmd_compare)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
