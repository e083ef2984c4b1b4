"""The two sink workloads.

``append-bulk``: repeated ~1M-row ``append_text`` calls of a cached
wide table into one directory, with a size threshold low enough that
every task rotates several times per call and no age threshold.

``append-trickle``: many 1k-row calls with an output schema, a 1 MB
size threshold and a one-minute age threshold on a logical clock that
advances per call, each followed by one aggregate read through the
table ``register_appended_table`` bound once at the start.

Both are closed loops with one client: the next call is issued only
after the previous one returned.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from harness import Checks, Clock, median, percentile, tail_pct

BULK_ROWS = 1_000_000
BULK_THRESHOLD_MB = 4
TRICKLE_ROWS = 1_000
TRICKLE_PARTITIONS = 2
TRICKLE_THRESHOLD_MB = 1
TRICKLE_AGE_MIN = 1
TRICKLE_STEP_MS = 3_000  # logical clock advance per call: files age out after 20 calls
TRICKLE_WARMUP_CALLS = 3
TRICKLE_MAX_CALLS = 300
PREFIX = "part"
# per-layer metrics a traced run must produce: names, or prefixes
# ending in "."
BULK_LAYER_METRICS = ("serialize.", "config.", "sink.", "session.warmup_s", "append_call_s.p50", "append_rows_per_s")
TRICKLE_LAYER_METRICS = BULK_LAYER_METRICS + (
    "catalog.", "append_call_s.tail", "read_query_s.p50", "read_query_s.tail", "tail_pct",
)

# the trickle output schema: a projection of the wide rows, first
# field included (the sink always emits the first input field)
_TRICKLE_FIELDS = [("id", "long"), ("qty", "int"), ("day", "date"), ("name", "string")]
TRICKLE_SCHEMA_JSON = json.dumps(
    {
        "type": "record",
        "name": "trickle",
        "fields": [{"name": n, "type": t if n == "id" else ["null", t]} for n, t in _TRICKLE_FIELDS],
    }
)
_READ_SQL = "SELECT count(*) AS n, sum(id) AS s_id, sum(qty) AS s_qty, count(day) AS n_day, count(name) AS n_name FROM {t}"


def listing(directory: str) -> dict[str, int]:
    with os.scandir(directory) as it:
        return {e.name: e.stat().st_size for e in it if e.is_file()}


@dataclass
class Batch:
    """One call's input and what its serialized lines add up to."""

    df: DataFrame
    tasks: int  # partitions, one task each
    pids: list[int]  # the partitions that hold rows
    rows: int
    user_bytes: int  # record bytes plus one newline per line
    min_rec: int
    max_rec: int
    hash_sum: int  # order-free sum of xxhash64 over the lines


def _line_aggs():
    return [
        F.count("*").alias("n"),
        F.sum(F.octet_length("line") + 1).alias("bytes"),
        F.min(F.octet_length("line")).alias("lo"),
        F.max(F.octet_length("line")).alias("hi"),
        F.sum(F.xxhash64("line").cast("decimal(38,0)")).alias("h"),
    ]


def _batch(df, tasks: int, r, pids: list[int] | None = None) -> Batch:
    pids = list(range(tasks)) if pids is None else pids
    return Batch(df, tasks, pids, int(r["n"]), int(r["bytes"]), int(r["lo"]), int(r["hi"]), int(r["h"]))


def batch_stats(df, lines_df) -> Batch:
    """Serialized-line statistics of one input, per partition, in one job."""
    parts = lines_df.groupBy(F.spark_partition_id().alias("pid")).agg(*_line_aggs()).collect()
    total = {
        "n": sum(r["n"] for r in parts),
        "bytes": sum(r["bytes"] for r in parts),
        "lo": min((r["lo"] for r in parts), default=0),
        "hi": max((r["hi"] for r in parts), default=0),
        "h": sum(int(r["h"]) for r in parts),
    }
    return _batch(df, df.rdd.getNumPartitions(), total, sorted(r["pid"] for r in parts))


class FileLedger:
    """Per-call accounting of the sink's files from directory listings:
    what was created, appended into and rotated, and the protocol
    checks that need only sizes."""

    def __init__(self, cfg, checks: Checks):
        self.cfg = cfg
        self.checks = checks
        self.calls = []

    def record(self, before: dict, after: dict, elected: list[str], batch: "Batch") -> None:
        thr = self.cfg.size_threshold_bytes
        # the writer counts record bytes only (not the newline) and
        # rotates before the write that finds its count over the
        # threshold, so one call may put the threshold plus one record
        # into a file, plus the newline of every line it wrote
        max_growth = thr + batch.max_rec + math.ceil((thr + batch.max_rec) / max(1, batch.min_rec))
        user_bytes = batch.user_bytes
        grown = {n for n, s in after.items() if s > before.get(n, -1)}
        created = [n for n in grown if n not in before]
        appended = [n for n in grown if n in before]
        for n in grown:
            self.checks.expect(
                after[n] - before.get(n, 0) <= max_growth,
                f"{n} grew by {after[n] - before.get(n, 0)} bytes in one call (limit {max_growth})",
            )
        # task i appends into the i-th elected file: the two-run reuse
        # scenario of the reference pipeline test, generalised
        reused = [elected[i] for i in batch.pids if i < len(elected)]
        self.checks.expect(
            all(n in appended for n in reused),
            f"elected files not appended into: {sorted(set(reused) - set(appended))}",
        )
        added = sum(after[n] - before.get(n, 0) for n in grown)
        self.checks.expect(added == user_bytes, f"call added {added} bytes, serialized input is {user_bytes}")
        initial = sum(1 for i in batch.pids if i >= len(elected))
        self.calls.append(
            {
                "created": len(created),
                "appended": len(appended),
                "rotations": max(0, len(created) - initial),
                "reuse": len([n for n in reused if n in appended]) / batch.tasks,
                "bytes_ratio": added / user_bytes,
            }
        )

    def layer(self) -> dict:
        def mean(k):
            return sum(c[k] for c in self.calls) / len(self.calls) if self.calls else 0.0

        return {
            "sink.files_created": mean("created"),
            "sink.files_appended": mean("appended"),
            "sink.rotations": mean("rotations"),
            "sink.reuse_ratio": mean("reuse"),
            "sink.bytes_per_user_byte": mean("bytes_ratio"),
        }


def traced_layer_probes(ctx, df, cfg, out: dict) -> None:
    """Traced run only: time the serializer and the config layer on
    their own, through their public functions."""
    from file_appender_spark.serialize import serialized

    lines = serialized(df, output_schema=cfg.parsed_schema(), separator=cfg.field_separator)
    drains = []
    for _ in range(2):
        with ctx.tracer.span("serialize.drain"):
            t0 = time.perf_counter()
            lines.write.format("noop").mode("overwrite").save()
            drains.append(time.perf_counter() - t0)
    out["serialize.drain_s"] = median(drains)
    val = []
    for _ in range(20):
        t0 = time.perf_counter()
        cfg.validate(df.schema).get_or_throw()
        cfg.parsed_schema()
        val.append(time.perf_counter() - t0)
    out["config.validate_s"] = median(val)


def _append_loop(ctx, cfg, batches, ledger: FileLedger, run_ts, after_call=None, max_calls: int | None = None) -> dict:
    """The closed loop shared by both sink workloads. ``batches(k)``
    gives the :class:`Batch` of call k; ``after_call(k)`` runs the
    workload's read, if any."""
    from file_appender_spark.sinks.append_text import append_text, elect_incomplete_files, fs_for_path

    fs = fs_for_path(cfg.output_dir)
    calls, rows, elect_s, listed = [], [], [], []
    clock = Clock(ctx.seconds)
    k = 0
    while (clock.running() or k < 2) and (max_calls is None or k < max_calls):
        ctx.tracer.set_op(f"call-{k}")
        with ctx.tracer.span("bench.batch"):
            batch = batches(k)
        ts = run_ts(k)
        with ctx.tracer.span("bench.elect"):
            t0 = time.perf_counter()
            files = fs.list_files(cfg.output_dir)
            elected = elect_incomplete_files(files, cfg, ts)
            elect_s.append(time.perf_counter() - t0)
        listed.append(len(files))
        before = dict(files)
        ctx.checks.op()
        try:
            with ctx.tracer.span("sink.append_text"):
                t0 = time.perf_counter()
                append_text(batch.df, cfg, run_ts_ms=ts)
                calls.append(time.perf_counter() - t0)
        except Exception as exc:  # a failed call is counted, then the run stops
            ctx.checks.fail(f"append call {k}: {exc!r}"[:300])
            break
        rows.append(batch.rows)
        with ctx.tracer.span("bench.ledger"):
            ledger.record(before, listing(cfg.output_dir), elected, batch)
        if after_call is not None:
            after_call(k)
        k += 1
    return {"calls": calls, "rows": rows, "window": clock.window(), "elect_s": elect_s, "listed": listed, "n": k}


def _sink_layer(loop: dict, ledger: FileLedger) -> dict:
    out = ledger.layer()
    out["sink.elect_s"] = median(loop["elect_s"])
    out["sink.files_listed"] = median(loop["listed"])
    return out


# ------------------------------------------------------------ append-bulk


def append_bulk(ctx) -> dict:
    from file_appender_spark.config import AppendSinkConfig
    from file_appender_spark.serialize import serialized

    spark = ctx.spark
    out_dir = ctx.work.sub("bulk")
    cfg = AppendSinkConfig(output_dir=out_dir, file_prefix=PREFIX, size_threshold_mb=BULK_THRESHOLD_MB, age_threshold_min=0)
    tasks = ctx.cores
    with ctx.setup("input"):
        rows = gen.sink_rows(spark, ctx.seed, 0, BULK_ROWS, partitions=tasks).cache()
        batch = batch_stats(rows, serialized(rows))
    ctx.checks.expect(batch.rows == BULK_ROWS, f"generated {batch.rows} rows")
    ledger = FileLedger(cfg, ctx.checks)
    with ctx.setup("warmup"):
        from file_appender_spark.sinks.append_text import append_text

        append_text(rows, cfg, run_ts_ms=int(time.time() * 1000))
    warm_files = listing(out_dir)

    loop = _append_loop(
        ctx, cfg, lambda k: batch, ledger, lambda k: int(time.time() * 1000)
    )
    ctx.loop = loop["window"]
    calls = loop["calls"]
    total_calls = len(calls) + 1  # the warm-up call wrote the same rows
    with ctx.tracer.span("bench.readback"):
        back = spark.read.text(out_dir).agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("value").cast("decimal(38,0)")).alias("h")
        ).collect()[0]
    ctx.checks.expect(
        int(back["n"]) == total_calls * batch.rows and int(back["h"]) == total_calls * batch.hash_sum,
        f"read-back {back['n']} lines / hash {back['h']} != {total_calls} x ({batch.rows}, {batch.hash_sum})",
    )
    ctx.checks.expect(len(warm_files) > 0, "warm-up call wrote no files")

    e2e = {"op_s.p50": median(calls)}
    rows_per_s = median([n / t for n, t in zip(loop["rows"], calls)])
    layer = _sink_layer(loop, ledger)
    layer["serialize.bytes_per_row"] = batch.user_bytes / batch.rows
    layer["append_call_s.p50"] = e2e["op_s.p50"]
    layer["append_rows_per_s"] = rows_per_s
    if ctx.traced:
        traced_layer_probes(ctx, rows, cfg, layer)
    rows.unpersist()
    return {"e2e": e2e, "layer": layer}


# --------------------------------------------------------- append-trickle


def append_trickle(ctx) -> dict:
    from file_appender_spark.config import AppendSinkConfig
    from file_appender_spark.serialize import serialized
    from file_appender_spark.sinks.append_text import append_text
    from file_appender_spark.sources.catalog import register_appended_table

    spark = ctx.spark
    out_dir = ctx.work.sub("trickle")
    os.makedirs(out_dir)
    cfg = AppendSinkConfig(
        output_dir=out_dir,
        file_prefix=PREFIX,
        size_threshold_mb=TRICKLE_THRESHOLD_MB,
        age_threshold_min=TRICKLE_AGE_MIN,
        schema_json=TRICKLE_SCHEMA_JSON,
    )
    out_schema = cfg.parsed_schema()
    t0_ms = int(time.time() * 1000)

    def batch(k: int):
        return gen.sink_rows(spark, ctx.seed, k * TRICKLE_ROWS, TRICKLE_ROWS, partitions=TRICKLE_PARTITIONS)

    def run_ts(k: int) -> int:
        # logical start time of call k: ahead of the wall clock, so
        # files age out on a schedule fixed by the call count
        return t0_ms + k * TRICKLE_STEP_MS

    ledger = FileLedger(cfg, ctx.checks)
    with ctx.setup("input"):
        # serialized sizes of every batch the run can reach, in one job
        lines = serialized(gen.sink_rows(spark, ctx.seed, 0, TRICKLE_MAX_CALLS * TRICKLE_ROWS), output_schema=out_schema)
        key = (F.split("line", ",")[0].cast("long") / TRICKLE_ROWS).cast("long")
        stats = {int(r["k"]): r for r in lines.groupBy(key.alias("k")).agg(*_line_aggs()).collect()}
    with ctx.setup("register"), ctx.tracer.span("catalog.register"):
        t0 = time.perf_counter()
        register_appended_table(spark, "trickle", out_dir, out_schema)
        register_s = time.perf_counter() - t0

    reads: list[tuple] = []
    read_s: list[float] = []
    read_files: list[int] = []

    def read(k: int) -> None:
        ctx.checks.op()
        read_files.append(len(os.listdir(out_dir)))
        try:
            with ctx.tracer.span("catalog.read"):
                t0 = time.perf_counter()
                spark.catalog.refreshTable("trickle")
                r = spark.sql(_READ_SQL.format(t="trickle")).collect()[0]
                read_s.append(time.perf_counter() - t0)
        except Exception as exc:
            ctx.checks.fail(f"read {k}: {exc!r}"[:300])
            return
        reads.append((k, tuple(int(v or 0) for v in r)))

    used: list[Batch] = []

    def batches(k: int) -> Batch:
        used.append(_batch(batch(k), TRICKLE_PARTITIONS, stats[k]))
        return used[-1]

    with ctx.setup("warmup"):
        for k in range(TRICKLE_WARMUP_CALLS):
            append_text(batch(k), cfg, run_ts_ms=run_ts(k))
            read(k)
    first = TRICKLE_WARMUP_CALLS
    read_s.clear()
    read_files.clear()

    loop = _append_loop(
        ctx, cfg, lambda k: batches(first + k), ledger, lambda k: run_ts(first + k), lambda k: read(first + k),
        max_calls=TRICKLE_MAX_CALLS - first,
    )
    ctx.loop = loop["window"]
    n_calls = first + loop["n"]

    # the running totals of everything written, from the generator
    exp = (
        gen.sink_rows(spark, ctx.seed, 0, n_calls * TRICKLE_ROWS)
        .groupBy((F.col("id") / TRICKLE_ROWS).cast("long").alias("k"))
        .agg(F.count("*"), F.sum("id"), F.sum("qty"), F.count("day"), F.count("name"))
        .collect()
    )
    per_call = {int(r[0]): tuple(int(v or 0) for v in r[1:]) for r in exp}
    running, totals = [0] * 5, {}
    for k in range(n_calls):
        running = [a + b for a, b in zip(running, per_call.get(k, (0,) * 5))]
        totals[k] = tuple(running)
    bad = [(k, got, totals.get(k)) for k, got in reads if got != totals.get(k)]
    ctx.checks.expect(not bad, f"trickle reads differ from running totals: {bad[:3]}")
    ctx.checks.expect(len(reads) == n_calls, f"{len(reads)} reads for {n_calls} calls")

    calls = loop["calls"]
    e2e = {"op_s.p50": median(calls)}
    rows_per_s = median([n / t for n, t in zip(loop["rows"], calls)])
    pct = tail_pct(len(calls))
    layer = _sink_layer(loop, ledger)
    layer.update(
        {
            "serialize.bytes_per_row": median([b.user_bytes / b.rows for b in used]),
            "append_call_s.p50": e2e["op_s.p50"],
            "append_rows_per_s": rows_per_s,
            "append_call_s.tail": percentile(calls, pct),
            "read_query_s.p50": median(read_s),
            "read_query_s.tail": percentile(read_s, tail_pct(len(read_s))),
            "tail_pct": pct,
            "catalog.register_s": register_s,
            "catalog.files_scanned": median(read_files),
        }
    )
    if ctx.traced:
        traced_layer_probes(ctx, batch(0), cfg, layer)
    return {"e2e": e2e, "layer": layer}
