"""``dedup-ingest``: the three incremental stores through ingest
epochs and a maintenance cycle, ending in one store-served curate.

Build phase over the first part of a seeded Zipf corpus:
``build_pair_graph``, a populating ``textdup_ingest_batch`` and
``build_corpus_stats``. Then ``EPOCHS`` epochs (``textdup_ingest_batch``,
``append_text`` of the admitted docs into a curated-output directory,
``pairstore_ingest_batch``, ``corpusstats_ingest_batch``), with one
maintenance cycle (``refresh_clusters``, ``compact_store``,
``compact_pairstore``, ``compact_corpus_stats``) after epoch
``MAINTAIN_AFTER``, so the last epoch runs against compacted stores.
The run ends with ``curate(..., graph_dir=<pair store>)``. The work is
fixed, not clocked: one run outlasts any run length BENCHMARK.json sets.
A closed loop with one client.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

import gen
from harness import Clock, median
from wl_append import FileLedger, batch_stats, listing, traced_layer_probes

BUILD_DOCS = 400
EPOCH_DOCS = 100  # no larger than the build phase, so cross copies reach back
# two epochs around one maintenance cycle are what a run can afford:
# the benchmark's 48 runs share 3420 s, and an epoch is ~40 Spark jobs
EPOCHS = 2
MAINTAIN_AFTER = 1
INGEST_THRESHOLD = 0.5  # textdup estimated-Jaccard admission threshold
# the stores run exact (no hot-bucket cap): the checks assert that every
# planted copy is caught, which a binding cap does not promise
BAND_BUCKET_CAP = None
CURATED_THRESHOLD_MB = 1
# per-layer metrics a traced run must produce: names, or prefixes
# ending in "."
LAYER_METRICS = (
    "serialize.", "config.", "sink.", "catalog.", "storefs.", "neardup.", "pairstore.", "corpusstats.", "curate.",
    "build_s", "ingest_epoch_s.p50", "ingest_docs_per_s", "maintain_s", "curate_s", "store_bytes_per_input_byte",
    "read_query_s.p50",
)
# the curated output's schema: every call validates and projects
CURATED_SCHEMA_JSON = json.dumps(
    {"type": "record", "name": "curated", "fields": [{"name": "doc_id", "type": "long"}, {"name": "text", "type": ["null", "string"]}]}
)


def _store_walk(*dirs: str) -> tuple[int, int]:
    """(files, bytes) under the store directories."""
    files = size = 0
    for d in dirs:
        for root, _dirs, names in os.walk(d):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def dedup_ingest(ctx) -> dict:
    from file_appender_spark import curate as curate_mod
    from file_appender_spark.config import AppendSinkConfig
    from file_appender_spark.operators import pairstore as ps_mod
    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        compact_corpus_stats,
        corpusstats_ingest_batch,
    )
    from file_appender_spark.operators.neardup_ingest import compact_store, textdup_ingest_batch
    from file_appender_spark.operators.pairstore import (
        build_pair_graph,
        compact_pairstore,
        pairstore_ingest_batch,
        refresh_clusters,
    )
    from file_appender_spark.serialize import serialized
    from file_appender_spark.sinks.append_text import append_text, elect_incomplete_files, fs_for_path
    from file_appender_spark.sources.catalog import register_appended_table

    spark, tr, checks = ctx.spark, ctx.tracer, ctx.checks
    sig, pairs_dir, stats = ctx.work.sub("sigstore"), ctx.work.sub("pairstore"), ctx.work.sub("corpusstats")
    curated = AppendSinkConfig(
        output_dir=ctx.work.sub("curated"),
        file_prefix="doc",
        size_threshold_mb=CURATED_THRESHOLD_MB,
        schema_json=CURATED_SCHEMA_JSON,
    )
    curated_schema = curated.parsed_schema()
    curated_fs = fs_for_path(curated.output_dir)
    ledger = FileLedger(curated, checks)

    with ctx.setup("register"), tr.span("catalog.register"):
        t0 = time.perf_counter()
        curated_fs.makedirs(curated.output_dir)
        register_appended_table(spark, "curated", curated.output_dir, curated_schema)
        register_s = time.perf_counter() - t0
    phase_docs = [BUILD_DOCS] + [EPOCH_DOCS] * EPOCHS
    with ctx.setup("input"):
        docs, planted = gen.zipf_corpus(spark, ctx.seed, phase_docs)
        docs = docs.cache()
        docs.count()
        planted_rows = planted.collect()
    # phase p holds ids [2 * sum(phase_docs[:p]), 2 * sum(phase_docs[:p+1]))
    bounds = [2 * sum(phase_docs[: p + 1]) for p in range(len(phase_docs))]

    def phase_of(doc_id: int) -> int:
        return next(p for p, hi in enumerate(bounds) if doc_id < hi)

    copy_phase = {r["copy"]: phase_of(r["copy"]) for r in planted_rows}

    def docs_in(p: int):
        """Ids of phase p: its base docs and the copies planted there."""
        lo = bounds[p - 1] if p else 0
        yield from range(lo, bounds[p], 2)
        yield from (c for c, cp in copy_phase.items() if cp == p)

    def phase(p: int):
        return docs.filter(F.col("phase") == p).select("doc_id", "text", "source")

    admitted_ids: dict[int, list] = {}

    def check_rejected(p: int, admitted) -> tuple[int, int]:
        admitted_ids[p] = admitted.select("doc_id").collect()
        ids = {r[0] for r in admitted_ids[p]}
        copies = [c for c, cp in copy_phase.items() if cp == p]
        kept = [c for c in copies if c in ids]
        checks.expect(not kept, f"phase {p}: planted copies admitted: {kept[:5]}")
        return len(ids), len(copies) - len(kept)

    admit = {"docs": 0, "admitted": 0, "planted": 0, "rejected": 0, "appended": 0}

    def ingest_counts(p: int, admitted) -> int:
        n_adm, n_rej = check_rejected(p, admitted)
        admit["docs"] += sum(1 for _ in docs_in(p))
        admit["admitted"] += n_adm
        admit["planted"] += sum(1 for cp in copy_phase.values() if cp == p)
        admit["rejected"] += n_rej
        return n_adm

    # build phase: part of the measured work, not of set-up
    clock = Clock(ctx.seconds)
    tr.set_op("build")
    build = phase(0)
    t0 = time.perf_counter()
    checks.op()
    with tr.span("pairstore.build"):
        build_pair_graph(spark, build, pairs_dir)
    with tr.span("neardup.build"):
        admitted = textdup_ingest_batch(spark, build.select("doc_id", "text"), sig, threshold=INGEST_THRESHOLD, band_bucket_cap=BAND_BUCKET_CAP)
    with tr.span("corpusstats.build"):
        build_corpus_stats(spark, build, stats)
    build_s = time.perf_counter() - t0
    ingest_counts(0, admitted)

    epoch_s, maintain_s, walks, refresh_modes, elect_s, listed, read_s, read_files = [], [], [], [], [], [], [], []
    running = [0, 0]  # admitted docs appended so far: count, sum of ids

    def read_curated(p: int) -> None:
        """One aggregate read through the registered table; it must
        equal the running totals of what the epochs appended."""
        ids = [r[0] for r in admitted_ids[p]]
        running[0] += len(ids)
        running[1] += sum(ids)
        checks.op()
        read_files.append(len(os.listdir(curated.output_dir)))
        with tr.span("catalog.read"):
            t0 = time.perf_counter()
            spark.catalog.refreshTable("curated")
            got = spark.sql("SELECT count(*), sum(doc_id) FROM curated").collect()[0]
            read_s.append(time.perf_counter() - t0)
        checks.expect([int(got[0]), int(got[1] or 0)] == running, f"epoch {p}: curated table read {tuple(got)}, appended {running}")

    def maintain() -> None:
        tr.set_op("maintain")
        checks.op()
        with tr.span("op.maintain"):
            t0 = time.perf_counter()
            with tr.span("pairstore.refresh"):
                refresh_modes.append(refresh_clusters(spark, pairs_dir))
            with tr.span("neardup.compact"):
                compact_store(spark, sig, id_col="doc_id")
            with tr.span("pairstore.compact"):
                compact_pairstore(spark, pairs_dir)
            with tr.span("corpusstats.compact"):
                compact_corpus_stats(spark, stats)
            maintain_s.append(time.perf_counter() - t0)
        with tr.span("bench.maintain_check"):
            walks.append(_store_walk(sig, pairs_dir, stats))

    epoch_docs: list[int] = []
    serialized_rows = serialized_bytes = 0
    for p in range(1, EPOCHS + 1):
        tr.set_op(f"epoch-{p}")
        batch = phase(p)
        ts = int(time.time() * 1000)
        with tr.span("bench.elect"):
            t0 = time.perf_counter()
            before = dict(curated_fs.list_files(curated.output_dir))
            elected = elect_incomplete_files(list(before.items()), curated, ts)
            elect_s.append(time.perf_counter() - t0)
            listed.append(len(before))
        checks.op()
        with tr.span("op.epoch"):
            t0 = time.perf_counter()
            with tr.span("neardup.epoch"):
                admitted = textdup_ingest_batch(spark, batch.select("doc_id", "text"), sig, threshold=INGEST_THRESHOLD, band_bucket_cap=BAND_BUCKET_CAP)
            with tr.span("sink.append_text"):
                append_text(admitted, curated, run_ts_ms=ts)
            with tr.span("pairstore.epoch"):
                pairstore_ingest_batch(spark, batch.select("doc_id", "text"), pairs_dir, batch_id=p, band_bucket_cap=BAND_BUCKET_CAP)
            with tr.span("corpusstats.epoch"):
                corpusstats_ingest_batch(spark, batch, stats, batch_id=p)
            epoch_s.append(time.perf_counter() - t0)
        with tr.span("bench.epoch_check"):
            lines = batch_stats(admitted, serialized(admitted, output_schema=curated_schema))
            serialized_rows += lines.rows
            serialized_bytes += lines.user_bytes
            ledger.record(before, listing(curated.output_dir), elected, lines)
            admit["appended"] += ingest_counts(p, admitted)
            walks.append(_store_walk(sig, pairs_dir, stats))
        read_curated(p)
        epoch_docs.append(sum(1 for _ in docs_in(p)))
        if p == MAINTAIN_AFTER:
            maintain()
    phases = list(range(EPOCHS + 1))

    # the store-served curate; the spies prove it read the pair store
    # and did not fall back to recomputing MinHash pairs
    served, recomputed = [], []
    real_read_pairs, real_minhash = ps_mod.read_pairs, curate_mod._minhash_pairs

    def spy_read_pairs(*a, **k):
        served.append(1)
        return real_read_pairs(*a, **k)

    def spy_minhash(*a, **k):
        recomputed.append(1)
        return real_minhash(*a, **k)

    ingested = docs.filter(F.col("phase").isin(phases)).select("doc_id", "text")
    tr.set_op("curate")
    checks.op()
    ps_mod.read_pairs, curate_mod._minhash_pairs = spy_read_pairs, spy_minhash
    try:
        with tr.span("curate.funnel"):
            t0 = time.perf_counter()
            funnel = curate_mod.curate(spark, ingested, ctx.work.sub("curate"), graph_dir=pairs_dir)
            curate_s = time.perf_counter() - t0
    finally:
        ps_mod.read_pairs, curate_mod._minhash_pairs = real_read_pairs, real_minhash
    ctx.loop = clock.window()
    checks.expect(served and not recomputed, f"curate served={len(served)} recomputed={len(recomputed)}")

    with tr.span("bench.final_check"):
        live = [(r["original"], r["copy"], copy_phase[r["copy"]]) for r in planted_rows if copy_phase[r["copy"]] in phases]
        n_pairs = _store_checks(ctx, ingested, live, pairs_dir, stats)
        n_lines = spark.read.text(curated.output_dir).count()
        checks.expect(n_lines == admit["appended"], f"curated output has {n_lines} lines, {admit['appended']} docs admitted in epochs")
        _files, size = _store_walk(sig, pairs_dir, stats)
        input_bytes = ingested.agg(F.sum(F.octet_length("text"))).collect()[0][0]

    e2e = {"op_s.p50": median(epoch_s)}
    layer = {
        "build_s": build_s,
        "ingest_epoch_s.p50": e2e["op_s.p50"],
        "ingest_docs_per_s": median([n / t for n, t in zip(epoch_docs, epoch_s)]),
        "maintain_s": median(maintain_s),
        "curate_s": curate_s,
        "store_bytes_per_input_byte": size / input_bytes,
        "storefs.files": median([w[0] for w in walks]),
        "storefs.bytes": median([w[1] for w in walks]),
        "neardup.admit_ratio": admit["admitted"] / max(1, admit["docs"]),
        "neardup.planted_reject_ratio": admit["rejected"] / max(1, admit["planted"]),
        "pairstore.refresh_incremental_ratio": sum(m == "incremental" for m in refresh_modes) / max(1, len(refresh_modes)),
        "curate.kept_ratio": funnel["written"] / max(1, funnel["input"]),
        "pairstore.pairs": n_pairs,
        "sink.elect_s": median(elect_s),
        "sink.files_listed": median(listed),
        "catalog.register_s": register_s,
        "read_query_s.p50": median(read_s),
        "catalog.files_scanned": median(read_files),
        "serialize.bytes_per_row": serialized_bytes / max(1, serialized_rows),
    }
    layer.update(ledger.layer())
    if ctx.traced:
        traced_layer_probes(ctx, admitted, curated, layer)
    docs.unpersist()
    return {"e2e": e2e, "layer": layer}


def _store_checks(ctx, ingested, live: list[tuple[int, int, int]], pairs_dir: str, stats: str) -> int:
    """Planted (original, copy, phase) pairs are in the pair store, and
    those the maintenance cycle's refresh folded in share a cluster;
    token totals in the corpus-stats store equal a direct count.
    Returns the stored pair count."""
    from file_appender_spark.operators.corpusstats import read_source_stats, read_token_stats
    from file_appender_spark.operators.pairstore import read_cluster_assignment, read_pairs

    spark, checks = ctx.spark, ctx.checks
    pairs = {(r[0], r[1]) for r in read_pairs(spark, pairs_dir).select("d1", "d2").collect()}
    missing = [(a, b) for a, b, _p in live if (a, b) not in pairs and (b, a) not in pairs]
    checks.expect(not missing, f"planted pairs missing from the pair store: {missing[:5]}")
    # the epochs after the refresh are not folded in yet
    cluster = {r[0]: r[1] for r in read_cluster_assignment(spark, pairs_dir, allow_stale=True).collect()}
    split = [(a, b) for a, b, p in live if p <= MAINTAIN_AFTER and (cluster.get(a) is None or cluster.get(a) != cluster.get(b))]
    checks.expect(not split, f"planted pairs not in one cluster: {split[:5]}")
    direct = ingested.agg(F.sum(F.size(F.split("text", " ")))).collect()[0][0]
    stored = read_source_stats(spark, stats).agg(F.sum("total_tokens")).collect()[0][0]
    tf = read_token_stats(spark, stats).agg(F.sum("tf")).collect()[0][0]
    checks.expect(direct == stored == tf, f"token totals: direct {direct}, source stats {stored}, token stats {tf}")
    return len(pairs)
