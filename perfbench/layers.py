"""Per-layer metrics of a traced run, derived from the span tree and
the Spark task metrics attributed to it (spans.py).

Span names are ``<layer>.<call>``; each workload opens them around its
calls into the package. Per-call figures are medians over the calls
of one run; counts are per call unless the name says otherwise.
"""

from __future__ import annotations

import json
from dataclasses import asdict

from harness import median
from spans import Attribution, parse_event_log, union_length

# (metric prefix, span name) pairs whose per-call work is reported
_JOB_FAMILIES = [
    ("sink", "sink.append_text"),
    ("neardup", "neardup.epoch"),
    ("pairstore", "pairstore.epoch"),
    ("corpusstats", "corpusstats.epoch"),
    ("curate", "curate.funnel"),
]
# metric name -> span name whose median duration it is
_DURATIONS = {
    "catalog.register_s": "catalog.register",
    "catalog.read_s": "catalog.read",
    "neardup.build_s": "neardup.build",
    "neardup.epoch_s": "neardup.epoch",
    "neardup.compact_s": "neardup.compact",
    "pairstore.build_s": "pairstore.build",
    "pairstore.epoch_s": "pairstore.epoch",
    "pairstore.refresh_s": "pairstore.refresh",
    "pairstore.compact_s": "pairstore.compact",
    "corpusstats.build_s": "corpusstats.build",
    "corpusstats.epoch_s": "corpusstats.epoch",
    "corpusstats.compact_s": "corpusstats.compact",
    "curate.funnel_s": "curate.funnel",
}


def _med(rows, key) -> float:
    return median([getattr(st, key) for _sp, st in rows])


def from_trace(spans, log_dir: str, loop: tuple[float, float]) -> dict:
    attr = Attribution(spans, parse_event_log(log_dir))
    out: dict[str, float] = {}
    for metric, name in _DURATIONS.items():
        rows = attr.named(name)
        if rows:
            out[metric] = _med(rows, "dur")
    for prefix, name in _JOB_FAMILIES:
        rows = attr.named(name)
        if not rows:
            continue
        out[f"{prefix}.driver_s"] = _med(rows, "driver_s")
        out[f"{prefix}.jobs"] = _med(rows, "jobs")
        out[f"{prefix}.tasks"] = _med(rows, "tasks")
        out[f"{prefix}.task_run_s"] = _med(rows, "task_run_s")
        out[f"{prefix}.task_cpu_s"] = _med(rows, "task_cpu_s")
        out[f"{prefix}.gc_s"] = _med(rows, "gc_s")
        out[f"{prefix}.task_skew"] = _med(rows, "task_skew")
        out[f"{prefix}.shuffle_bytes"] = _med(rows, "shuffle_bytes")
        out[f"{prefix}.spill_bytes"] = _med(rows, "spill_bytes")
        out[f"{prefix}.failed_tasks"] = sum(st.failed_tasks for _sp, st in rows)
    reads = attr.named("catalog.read")
    if reads:
        out["catalog.read_driver_s"] = _med(reads, "driver_s")
        out["catalog.scan_tasks"] = _med(reads, "tasks")
        out["catalog.bytes_read"] = _med(reads, "input_bytes")
    passes = attr.named("query.pass")
    if passes:
        out["queries.jobs_per_pass"] = _med(passes, "jobs")
        out["queries.driver_s"] = _med(passes, "driver_s")
        out["queries.task_run_s"] = _med(passes, "task_run_s")
        out["queries.shuffle_bytes"] = _med(passes, "shuffle_bytes")
        stages = sum(st.stages for _sp, st in passes)
        out["queries.single_task_stage_frac"] = sum(st.single_task_stages for _sp, st in passes) / max(1, stages)
        per_query: dict[str, list[float]] = {}
        for sp in spans:
            if sp.name.startswith("query.q"):
                per_query.setdefault(sp.name, []).append(sp.dur)
        for name, durs in per_query.items():
            out[f"{name}_s"] = median(durs)
    # top-level spans inside the timed loop should account for its
    # wall clock; the gap is time the benchmark spent between calls
    lo, hi = loop
    top = [(max(s.start, lo), min(s.end, hi)) for s in spans if s.parent is None and s.end > lo and s.start < hi]
    out["trace.coverage"] = union_length(top) / (hi - lo) if hi > lo else 0.0
    out["trace.spans"] = len(spans)
    return out


def write_spans(path: str, spans, log_dir: str, layer: dict) -> None:
    """The traced breakdown: every span with its attributed work, the
    per-name totals and the per-layer metrics of the run."""
    attr = Attribution(spans, parse_event_log(log_dir))
    doc = {
        "layer": layer,
        "breakdown": attr.breakdown(),
        "spans": [dict(asdict(s), stats=asdict(attr.stats(s))) for s in spans],
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
