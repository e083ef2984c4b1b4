#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is measured end-to-end per query (plan + execute + fetch),
results drained via collect() — every headline query returns a small
(aggregated / top-k) result by design, which is also the 100 TB
discipline: operators never materialize unbounded output on the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    "q01_pricing_summary",  # scan + agg
    "q05_join_inner",  # multiway join
    "q13_join_asof",  # as-of union-window join
    "q14_agg_stats",  # stats agg
    "q21_window_rank",  # window exec
    "q25_topk_per_group",  # top-k
    "q50_dedup_exact",  # hash dedup
    "q52_minhash_lsh",  # LSH near-dup pipeline
    "q54_similarity_topk",  # brute-force cosine top-k
    "q58_tfidf",  # text analysis
    # the genuinely expensive shapes (worst 10x scale ratios in
    # SCALING.md) — benched so a round-over-round regression on them
    # is visible, not just on the fast ten
    "q70_decontaminate",  # n-gram inverted-index join
    "q84_priority_exists",  # EXISTS-semi over orders x lineitem
    "q74_ann_ivf_cell",  # IVF candidate equi-join
    # round-3 shapes: iterative star-contraction CC and a global
    # ranked window — the two new plan families worth watching
    "q116_dedup_clusters",  # connected components over LSH pairs
    "q125_gini_tokens",  # global-rank concentration stat
    # round-4 shapes: SCD2 merge (semi/anti vs changed keys) and the
    # two-phase distributed running total — the warehouse-maintenance
    # plan families added this round
    "q148_scd2_merge",  # MERGE INTO emulation
    "q150_prefix_sum",  # two-phase global running sum
    # round-4 mining shapes: the substring-dedup hash pipeline, the
    # sketch-pruned exact frequent-items plan, and the PQ encode scan
    "q153_dup_ngram_spans",  # 8-gram position-hash dedup signal
    "q155_heavy_hitters",  # Misra-Gries candidates + exact verify
    "q158_pq_encode",  # zero-shuffle PQ codebook encode
    # round-5 shapes: the TPC-H two-fact join family and the banded
    # multimodal near-dup (explode -> 64-cells/doc partial agg ->
    # band self-join -> xor-popcount verify)
    "q168_returned_item_revenue",  # Q10: two-fact join + broadcast dims
    "q176_image_neardup",  # aHash banded Hamming near-dup
]

# round-6 additions (VERDICT r5 task 8): the newest tranche's
# representatives get round-over-round regression tracking. Kept out
# of R5_COMPARABLE so the 22-query subtotal stays comparable to
# BENCH_r05.
R6_ADDITIONS = [
    "q163_wjaccard_capped",  # prefix-filtered capped weighted Jaccard
    "q181_bpe_tokenize",  # word-type-cached BPE tokenization
    "q184_image_dhash",  # dHash gradient perceptual hash
    "q186_cdc_chunking",  # content-defined chunking (md5 oracle form)
    # tranche 7/8 representatives: the decorrelated EXISTS/NOT-EXISTS
    # pair (heaviest of the six TPC-H shape adaptations) and the
    # corpus-wide token-marginal G2 keyword plan
    "q208_sole_late_supplier",  # Q21 shape: per-order aggregate decorrelation
    "q212_dunning_keywords",  # Dunning G2 distinctive keywords
]
R5_COMPARABLE = list(HEADLINE)
HEADLINE = HEADLINE + R6_ADDITIONS


def _burn_one(dur: float) -> int:
    """Busy-loop for ~dur seconds; return iterations (one process)."""
    t_end = time.perf_counter() + dur
    n = 0
    x = 1.0
    while time.perf_counter() < t_end:
        for _ in range(1000):
            x = x * 1.0000001 + 1.0
        n += 1000
    return n


def _burn_worker(dur: float, q) -> None:
    q.put(_burn_one(dur))


def _host_probe(n_procs: int, dur: float = 0.6) -> dict:
    """Host-state probe (r12 verdict item 4): effective parallel core
    capacity via an n_procs-way PROCESS burn (the GIL makes threads
    useless for this), plus hypervisor steal%% and idle%% from
    /proc/stat deltas around the parallel burn. Round-over-round PERF
    comparisons on this shared microVM are only interpretable with
    the host state attached — BENCH_r12's 0.543 'geomean regression'
    on untouched code happened because the r11 run landed on a clean
    window and the r12 run on a contended one."""
    import multiprocessing as mp

    out: dict = {}
    try:
        single = _burn_one(dur)

        def read_stat():
            with open("/proc/stat") as f:
                parts = f.readline().split()[1:]
            vals = [int(v) for v in parts[:8]]  # ... idle iowait ... steal
            return vals

        s0 = read_stat()
        ctx = mp.get_context("fork")
        q = ctx.Queue()
        procs = [
            ctx.Process(target=_burn_worker, args=(dur, q))
            for _ in range(n_procs)
        ]
        t0 = time.perf_counter()
        for p in procs:
            p.start()
        total = 0
        for _ in procs:
            total += q.get()
        for p in procs:
            p.join()
        wall = time.perf_counter() - t0
        s1 = read_stat()
        dt = [b - a for a, b in zip(s0, s1)]
        tot_ticks = sum(dt) or 1
        # single-proc rate over its own dur vs aggregate rate over wall
        eff = (total / wall) / (single / dur) if single else 0.0
        out["eff_cores"] = round(eff, 1)
        out["steal_pct"] = round(100.0 * dt[7] / tot_ticks, 1)
        out["idle_pct"] = round(100.0 * dt[3] / tot_ticks, 1)
    except Exception as exc:  # the probe must never break the bench
        out["error"] = str(exc)[:120]
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # host-state bracket, PRE side (before the JVM even starts so the
    # burn measures the host, not the bench's own warm-up)
    cpus_env = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    host_pre = _host_probe(cpus_env)
    from file_appender_spark.queries import QUERIES
    from file_appender_spark.session import get_spark

    spark = get_spark(app_name="file_appender_spark_bench")
    # warm the JVM on the tiny sf so steady-state throughput is what
    # gets measured: whole-stage-codegen compiles are cached by
    # generated source, which depends on plan shape + schema — both
    # identical across sfs — so running every headline query once at
    # sf0.001 pre-compiles the exact classes the timed loop uses.
    spark.range(1).count()
    for name in HEADLINE:
        QUERIES[name].spark_fn(spark, "/root/testdata/sf0.001").collect()
    # prime the target-sf *metadata* only (file listing + parquet
    # footer schema reads) — data pages stay cold, so the timed loop
    # still pays the real scan cost
    import glob

    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        try:
            spark.read.parquet(p).schema
        except Exception:
            pass

    # best-of-N per query: the metric is the engine's steady-state
    # throughput, and a single shot conflates it with whatever else
    # the host is doing at that instant (observed 30%+ swings under
    # co-tenant load). Sub-200ms queries get best-of-4: the r4 "q50
    # regressed 2.2x" scare was best-of-2 noise — the r5 bisect
    # reproduced 0.040s best-of-5 on a 2.3x slower host, with zero
    # dependence on session state or the r4 warm-up list (SCALING.md
    # round-5 drift finding); heavier queries keep best-of-2.
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in HEADLINE:
        spec = QUERIES[name]
        best = None
        samples: list[float] = []
        for rep in range(4):
            t0 = time.perf_counter()
            rows = spec.spark_fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            samples.append(dt)
            best = dt if best is None or dt < best else best
            if rep >= 1 and best >= 0.2:
                break
        timings[name] = round(best, 3)
        # r13 hardening (additions-only, r12 verdict item 4): a
        # median-of-3 inside the same JVM REPORTED ALONGSIDE the
        # best-of-N graded number. The `queries` methodology above is
        # byte-identical (same rep loop, same early-break rule, best
        # frozen before these extra reps run); heavy queries just run
        # one more rep afterward so every row has >= 3 samples. The
        # median resists the single-slow-rep host hiccups that a
        # best-of can hide and a single-shot reading amplifies.
        while len(samples) < 3:
            t0 = time.perf_counter()
            spec.spark_fn(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
        medians[name] = round(sorted(samples[:3])[1], 3)
        print(f"# {name}: {timings[name]}s ({len(rows)} rows)", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    total_r5_subset = round(sum(timings[n] for n in R5_COMPARABLE), 3)

    # scale-path extras (not part of the headline total): the Arrow-
    # batched blocked similarity vs the expression-tree brute force —
    # same exact results, different physical strategy
    extras: dict[str, float] = {}
    try:
        from pyspark.sql import functions as F

        from file_appender_spark.operators.similarity import blocked_topk
        from file_appender_spark.sources.catalog import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        qvecs = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        # warm the Arrow/Python worker pool at tiny sf (same discipline
        # as the headline loop) so the timed number is the matmul path,
        # not one-off worker forks
        wemb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        blocked_topk(
            spark,
            wemb,
            wemb.filter(F.col("vec_id") % 100 == 0).select(
                F.col("vec_id").alias("qid"), "embedding"
            ),
            k=10,
        ).collect()
        t0 = time.perf_counter()
        blocked_topk(spark, emb, qvecs, k=10).collect()
        extras["similarity_blocked_topk"] = round(time.perf_counter() - t0, 3)
        print(
            f"# similarity_blocked_topk: {extras['similarity_blocked_topk']}s "
            f"(vs q54 expression path {timings.get('q54_similarity_topk')}s)",
            file=sys.stderr,
        )
    except Exception as exc:  # extras must never break the bench contract
        print(f"# extras skipped: {exc}", file=sys.stderr)

    # round-2 similarity scale paths (operators/similarity.py): banded
    # SRP near-dup in its intended high-threshold regime, and the
    # corpus-scaled sign-IVF ANN — the production forms of q62/q74
    try:
        from file_appender_spark.operators.similarity import (
            ann_sign_ivf,
            srp_neardup,
            srp_params_for,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        n_bits, n_bands = srp_params_for(emb.count(), threshold=0.95)
        # same warm-up discipline as the headline loop: one tiny-sf run
        # pre-compiles the codegen classes for these exact plan shapes
        # (shape + schema identical across sfs), so the timed number is
        # steady-state throughput, not a one-off JIT compile
        warm = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        srp_neardup(warm, threshold=0.95, n_bits=n_bits, n_bands=n_bands).count()
        t0 = time.perf_counter()
        srp_neardup(emb, threshold=0.95, n_bits=n_bits, n_bands=n_bands).count()
        extras["srp_neardup_sec"] = round(time.perf_counter() - t0, 3)
        qv = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        t0 = time.perf_counter()
        ann_sign_ivf(emb, qv, k=10, target_cell_size=256).count()
        extras["ann_sign_ivf_sec"] = round(time.perf_counter() - t0, 3)
        print(
            f"# srp_neardup {extras['srp_neardup_sec']}s, "
            f"ann_sign_ivf {extras['ann_sign_ivf_sec']}s",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# similarity extras skipped: {exc}", file=sys.stderr)

    # remaining scale twins (VERDICT r3 task 6: keep them honestly
    # benched every round): the blocked edit-distance self-join (q43's
    # PassJoin path) and the capped+prefix-filtered containment join
    # (q129's scale path, new in r4)
    try:
        from file_appender_spark.operators.containment import containment_pairs
        from file_appender_spark.operators.fuzzyjoin import fuzzy_self_join

        # fuzzy: the scale_probe's document-derived string form (the
        # doc_id suffix keeps strings diverse; uniform-prefix columns
        # like c_name make every segment collide and measure the
        # degenerate regime instead of the plan)
        def _fuzzy_strings(d):
            return load_table(spark, d, "documents").select(
                F.col("doc_id").alias("id"),
                F.concat(
                    F.lower(F.substring("text", 1, 24)),
                    F.lit("-"),
                    F.col("doc_id").cast("string"),
                ).alias("nm"),
            )

        fuzzy_self_join(
            _fuzzy_strings("/root/testdata/sf0.001"), "id", "nm", max_dist=2
        ).count()  # warm
        t0 = time.perf_counter()
        fuzzy_self_join(_fuzzy_strings(sf_dir), "id", "nm", max_dist=2).count()
        extras["op_fuzzy_blocked_sec"] = round(time.perf_counter() - t0, 3)

        # containment: the driver corpus's ~30-word vocabulary is the
        # documented degenerate case (every df ~ n_docs), so the
        # capped path is timed on the probe's deterministic Zipf
        # corpus at a fixed 20k docs — sf-independent but stable
        # round-over-round, like the calibration workload
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from scripts.probe_containment import corpus as _zipf_corpus

        zdocs, _ = _zipf_corpus(spark, 20_000)
        zdocs = zdocs.persist()
        zdocs.count()
        t0 = time.perf_counter()
        containment_pairs(zdocs, threshold=0.9, token_df_cap=100).count()
        extras["op_containment_capped_sec"] = round(time.perf_counter() - t0, 3)
        zdocs.unpersist()

        # capped weighted Jaccard (q163's operator) on ITS probe corpus
        # (multiset-subset twins); the ICWS twin is probed in
        # scripts/probe_wjaccard.py rather than benched every round
        from file_appender_spark.operators.wjaccard import weighted_jaccard_pairs
        from scripts.probe_wjaccard import corpus as _wj_corpus

        wdocs, _ = _wj_corpus(spark, 20_000)
        wdocs = wdocs.persist()
        wdocs.count()
        t0 = time.perf_counter()
        weighted_jaccard_pairs(wdocs, threshold=0.5, token_df_cap=100).count()
        extras["op_wjaccard_capped_sec"] = round(time.perf_counter() - t0, 3)
        wdocs.unpersist()
        print(
            f"# op_fuzzy_blocked {extras['op_fuzzy_blocked_sec']}s, "
            f"op_containment_capped {extras['op_containment_capped_sec']}s, "
            f"op_wjaccard_capped {extras['op_wjaccard_capped_sec']}s (zipf 20k)",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# scale-twin extras skipped: {exc}", file=sys.stderr)

    # Bloom semi-join pruning (operators/bloom.py) on the q70-shaped
    # contamination join: gram-level inverted join where the eval side
    # is selective — the exact join after the prefilter returns the
    # same rows while the pruned side never enters the shuffle
    try:
        from file_appender_spark.operators.bloom import bloom_prefilter

        # full corpus deliberately: at half the corpus the probe cost
        # exactly cancels the smaller shuffle saving (measured 13.37s
        # vs 13.37s) — the win grows with shuffled volume, which is
        # the point; ~55s of bench time buys the honest number
        d = load_table(spark, sf_dir, "documents")
        # _gram_expr binds the split once per row (let_expr) — inlining
        # the split into the gram lambda re-splits 13x per position
        from file_appender_spark.queries.pipeline import _gram_expr

        words = F.split("text", r"\s+")
        grams = d.filter(F.size(words) >= 13).select(
            "doc_id",
            F.explode(_gram_expr(words, 13, distinct=False)).alias("g"),
        )
        eval_g = grams.filter(F.col("doc_id") % 100 == 0).select("g").distinct()
        train_g = grams.filter(F.col("doc_id") % 100 != 0)
        n_eval = eval_g.count()
        # the big-big regime is where the operator matters: with the
        # small side broadcastable, AQE's broadcast join never shuffles
        # the big side and a prefilter only adds probe cost. Disable
        # broadcast for BOTH measurements to emulate a key set past the
        # broadcast threshold (the honest 100 TB scenario), identical
        # join plan either way.
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            t0 = time.perf_counter()
            exact_n = train_g.join(eval_g, "g").count()
            t_exact = time.perf_counter() - t0
            t0 = time.perf_counter()
            pruned_n = (
                bloom_prefilter(train_g, "g", eval_g, "g", n_keys=n_eval)
                .join(eval_g, "g")
                .count()
            )
            t_bloom = time.perf_counter() - t0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        assert exact_n == pruned_n, (exact_n, pruned_n)
        extras["bloom_join_exact_sec"] = round(t_exact, 3)
        extras["bloom_join_pruned_sec"] = round(t_bloom, 3)
        print(
            f"# bloom pruning (no-broadcast regime): exact {t_exact:.3f}s vs "
            f"pruned {t_bloom:.3f}s ({exact_n} rows, identical)",
            file=sys.stderr,
        )
    except AssertionError:
        # a row-count mismatch is a CORRECTNESS violation (a Bloom
        # false negative) — never downgrade it to a benign skip
        raise
    except Exception as exc:
        print(f"# bloom extra skipped: {exc}", file=sys.stderr)

    # CDC chunking production branch (operators/chunking.py): buzhash
    # boundaries + distinct-text cache — the q186 scale twin, benched
    # so its round-over-round wall is tracked beside the oracle form
    try:
        from file_appender_spark.operators.chunking import cdc_chunk_stats_rolling

        d = load_table(spark, sf_dir, "documents")
        cdc_chunk_stats_rolling(
            load_table(spark, "/root/testdata/sf0.001", "documents")
        ).collect()  # warm codegen
        t0 = time.perf_counter()
        n_cdc = cdc_chunk_stats_rolling(d).count()
        extras["op_cdc_rolling_sec"] = round(time.perf_counter() - t0, 3)
        print(
            f"# op_cdc_rolling: {extras['op_cdc_rolling_sec']}s ({n_cdc} rows; "
            f"vs q186 md5 oracle form {timings.get('q186_cdc_chunking')}s)",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# cdc extra skipped: {exc}", file=sys.stderr)

    # incremental near-dup ingest throughput: docs/sec through one
    # micro-batch against a pre-populated MinHash signature store
    try:
        import shutil
        import tempfile

        from file_appender_spark.operators.neardup_ingest import textdup_ingest_batch

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        half = docs.filter(F.col("doc_id") % 2 == 0)
        rest = docs.filter(F.col("doc_id") % 2 == 1)
        n_batch = rest.count()  # exact timed-batch size, before the clock
        td = tempfile.mkdtemp()
        try:
            store = os.path.join(td, "sigstore")
            textdup_ingest_batch(spark, half, store, threshold=0.5)  # populate
            t0 = time.perf_counter()
            admitted = textdup_ingest_batch(spark, rest, store, threshold=0.5)
            n_admitted = admitted.count()
            dt = time.perf_counter() - t0
        finally:
            shutil.rmtree(td, ignore_errors=True)
        extras["textdup_ingest_docs_per_sec"] = int(n_batch / dt)
        print(
            f"# textdup ingest: {extras['textdup_ingest_docs_per_sec']} docs/s "
            f"({n_admitted} admitted of {n_batch})",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# ingest extra skipped: {exc}", file=sys.stderr)

    # image-modality ingest throughput: payloads/sec through one
    # micro-batch against a pre-populated aHash signature store
    try:
        import shutil
        import tempfile

        from file_appender_spark.operators.neardup_ingest import (
            imagedup_ingest_batch,
        )

        pay = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.encode("text", "UTF-8").alias("payload")
        )
        half = pay.filter(F.col("doc_id") % 2 == 0)
        rest = pay.filter(F.col("doc_id") % 2 == 1)
        n_batch = rest.count()
        td = tempfile.mkdtemp()
        try:
            store = os.path.join(td, "imgstore")
            imagedup_ingest_batch(spark, half, store)  # populate
            t0 = time.perf_counter()
            admitted = imagedup_ingest_batch(spark, rest, store)
            n_admitted = admitted.count()
            dt = time.perf_counter() - t0
        finally:
            shutil.rmtree(td, ignore_errors=True)
        extras["imagedup_ingest_docs_per_sec"] = int(n_batch / dt)
        print(
            f"# imagedup ingest: {extras['imagedup_ingest_docs_per_sec']} payloads/s "
            f"({n_admitted} admitted of {n_batch})",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# image ingest extra skipped: {exc}", file=sys.stderr)

    # sink throughput extras: the reference's core capability — write
    # lineitem as delimited text via (a) the compat append protocol
    # (A1-A15: election, append-into-files, rotation) and (b) the
    # idiomatic write.text fast path. Reported as rows/sec so the
    # single-node comparison to the reference is direct.
    try:
        import shutil
        import tempfile

        from file_appender_spark.config import AppendSinkConfig
        from file_appender_spark.sinks.append_text import append_text, append_text_fast
        from file_appender_spark.sources.catalog import load_table

        li = load_table(spark, sf_dir, "lineitem")
        n_rows = li.count()
        with tempfile.TemporaryDirectory() as td:
            t0 = time.perf_counter()
            append_text(
                li,
                AppendSinkConfig(output_dir=os.path.join(td, "compat"), file_prefix="li"),
                run_ts_ms=0,
            )
            dt = time.perf_counter() - t0
            extras["append_sink_rows_per_sec"] = int(n_rows / dt)
            t0 = time.perf_counter()
            append_text_fast(li, os.path.join(td, "fast"))
            dt_fast = time.perf_counter() - t0
            extras["text_sink_rows_per_sec"] = int(n_rows / dt_fast)
            # the pyarrow-FS adapter (HDFS path) through its local
            # backend: same protocol, adapter code on the hot path —
            # tracks the adapter's overhead vs the POSIX shim per round
            from file_appender_spark.storefs import ArrowStoreFS

            t0 = time.perf_counter()
            append_text(
                li,
                AppendSinkConfig(output_dir=os.path.join(td, "arrow"), file_prefix="li"),
                run_ts_ms=0,
                fs=ArrowStoreFS("local"),
            )
            dt_arrow = time.perf_counter() - t0
            extras["append_sink_arrowfs_rows_per_sec"] = int(n_rows / dt_arrow)
        print(
            f"# append sink: {extras['append_sink_rows_per_sec']} rows/s compat, "
            f"{extras['text_sink_rows_per_sec']} rows/s idiomatic, "
            f"{extras['append_sink_arrowfs_rows_per_sec']} rows/s via the "
            f"pyarrow-FS adapter ({n_rows} rows)",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# extras skipped: {exc}", file=sys.stderr)

    # sketch rollup extra: the incremental-metrics scale path — build
    # the per-key HLL table over orders and merge-estimate it, rows/s
    # of raw input absorbed into mergeable sketch state
    try:
        from file_appender_spark.operators.sketches import hll_estimate, hll_rollup

        o = load_table(spark, sf_dir, "orders")
        n_orders = o.count()
        t0 = time.perf_counter()
        hll_estimate(
            hll_rollup(o, ["o_orderpriority"], "o_custkey"), []
        ).collect()
        dt = time.perf_counter() - t0
        extras["hll_rollup_rows_per_sec"] = int(n_orders / dt)
        print(
            f"# hll rollup: {extras['hll_rollup_rows_per_sec']} rows/s "
            f"({n_orders} rows)",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# sink extras skipped: {exc}", file=sys.stderr)

    # graph-twin extra (r6 verdict task 2): the degree-capped triangle
    # enumeration over the real q52 near-dup graph at bench sf — the
    # production path whose parity with q183/q213 is pinned in tests
    try:
        from file_appender_spark.operators.graph import (
            graph_params_for,
            triangle_count,
        )
        from file_appender_spark.queries.llm import q52_minhash_lsh

        e = q52_minhash_lsh(spark, sf_dir).select("d1", "d2").localCheckpoint()
        m = e.count()
        cap = graph_params_for(max(m, 1)).max_degree
        t0 = time.perf_counter()
        tri = triangle_count(e, max_degree=cap).collect()[0]
        extras["op_triangles_capped_sec"] = round(time.perf_counter() - t0, 3)
        print(
            f"# op_triangles_capped: {extras['op_triangles_capped_sec']}s "
            f"({m} edges, cap {cap}, {tri['n_triangles']} triangles)",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# graph extra skipped: {exc}", file=sys.stderr)

    # corpus-stats extra (r6 verdict task 5): build the materialized
    # (source, token) tf/df table once, then answer the three rewired
    # token-marginal consumers from it — the amortized-production
    # path vs their scan-everything spellings (which already ran in
    # the headline loop above; their per-query rows are the baseline)
    try:
        import shutil
        import tempfile

        from file_appender_spark.operators.corpusstats import build_corpus_stats
        from file_appender_spark.queries.llm import q58_tfidf, q59_ngram_freq
        from file_appender_spark.queries.tranche6 import (
            q191_bigram_lm_score,
            q197_jsd_sources,
        )
        from file_appender_spark.queries.tranche8 import q212_dunning_keywords
        from file_appender_spark.queries.tranche11 import q231_stopword_discovery
        from file_appender_spark.sources.catalog import load_table

        stats_store = tempfile.mkdtemp(prefix="bench_corpusstats_")
        try:
            docs = load_table(spark, sf_dir, "documents")
            t0 = time.perf_counter()
            build_corpus_stats(spark, docs, stats_store)
            extras["corpusstats_build_sec"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            consumers = (q58_tfidf, q59_ngram_freq, q191_bigram_lm_score,
                         q197_jsd_sources, q212_dunning_keywords,
                         q231_stopword_discovery)
            for q in consumers:
                q(spark, sf_dir, stats_dir=stats_store).count()
            extras["corpusstats_6consumers_sec"] = round(
                time.perf_counter() - t0, 3
            )
            base = sum(
                timings.get(k, 0.0)
                for k in (
                    "q58_tfidf",
                    "q197_jsd_sources",
                    "q212_dunning_keywords",
                    "q231_stopword_discovery",
                )
            )
            from file_appender_spark.operators.corpusstats import (
                corpusstats_worthwhile,
                read_source_stats,
                read_token_stats,
            )

            stream = read_source_stats(spark, stats_store).agg(
                {"total_tokens": "sum"}
            ).collect()[0][0] or 0
            advice = corpusstats_worthwhile(
                int(stream), read_token_stats(spark, stats_store).count()
            )
            print(
                f"# corpusstats: build {extras['corpusstats_build_sec']}s once, "
                f"6 consumers {extras['corpusstats_6consumers_sec']}s from store "
                f"(memoized scan-spellings in headline: {round(base, 3)}s; "
                f"policy: worthwhile={advice.worthwhile} — {advice.reason}; "
                "the amortized win is measured at 100x in SCALE100_PROBE_r7)",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(stats_store, ignore_errors=True)
    except Exception as exc:
        print(f"# corpusstats extra skipped: {exc}", file=sys.stderr)

    # pair-store extra (r7 verdict task 1): materialize the q52 pair
    # graph + cluster assignment once, then answer the three rewired
    # graph/economics consumers from the store — the amortized path
    # vs their recompute-the-LSH spellings (whose per-query rows ran
    # in the headline loop; q116's row is the baseline)
    try:
        import shutil
        import tempfile

        from file_appender_spark.operators.pairstore import build_pair_graph
        from file_appender_spark.queries.llm import q116_dedup_clusters
        from file_appender_spark.queries.tranche8 import q213_clustering_coefficient
        from file_appender_spark.queries.tranche17 import q245_effective_tokens
        from file_appender_spark.sources.catalog import load_table

        graph_store = tempfile.mkdtemp(prefix="bench_pairstore_")
        try:
            docs = load_table(spark, sf_dir, "documents")
            t0 = time.perf_counter()
            build_pair_graph(spark, docs, graph_store)
            extras["pairstore_build_sec"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            q116_dedup_clusters(spark, sf_dir, graph_dir=graph_store).count()
            q213_clustering_coefficient(
                spark, sf_dir, graph_dir=graph_store, max_degree="auto"
            ).count()
            q245_effective_tokens(spark, sf_dir, graph_dir=graph_store).count()
            extras["pairstore_3consumers_sec"] = round(
                time.perf_counter() - t0, 3
            )
            print(
                f"# pairstore: build {extras['pairstore_build_sec']}s once "
                "(LSH + verify + CC), 3 consumers "
                f"{extras['pairstore_3consumers_sec']}s from store "
                f"(q116 scan-spelling in headline: "
                f"{round(timings.get('q116_dedup_clusters', 0.0), 3)}s; the "
                "amortized win is measured at 100x in SCALE100_PROBE_r8)",
                file=sys.stderr,
            )
            # batch curate with/without the store (r8 verdict task 5):
            # a RE-curation run amortizes the funnel's one expensive
            # stage through graph_dir exactly like the query consumers
            from file_appender_spark.curate import curate

            cur_dir = tempfile.mkdtemp(prefix="bench_curate_")
            try:
                t0 = time.perf_counter()
                curate(spark, docs, cur_dir + "/plain")
                extras["curate_recompute_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                t0 = time.perf_counter()
                curate(
                    spark, docs, cur_dir + "/served", graph_dir=graph_store
                )
                extras["curate_from_store_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                print(
                    f"# curate: {extras['curate_recompute_sec']}s recompute "
                    f"vs {extras['curate_from_store_sec']}s with graph_dir "
                    "(near-dup pairs from the pair store; funnel equality "
                    "pinned in tests/test_curate.py)",
                    file=sys.stderr,
                )
            finally:
                shutil.rmtree(cur_dir, ignore_errors=True)
        finally:
            shutil.rmtree(graph_store, ignore_errors=True)
    except Exception as exc:
        print(f"# pairstore extra skipped: {exc}", file=sys.stderr)

    # host-speed calibration: a fixed JVM-side workload whose cost is
    # independent of the engine under test. Round-over-round query
    # times are only comparable after normalizing by this (observed
    # >2x host-speed swings between rounds on shared infrastructure).
    try:
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id) AS s").collect()
        extras["calib_jvm_range_sum_1e8_sec"] = round(time.perf_counter() - t0, 3)
        print(
            f"# calibration: range-sum(1e8) {extras['calib_jvm_range_sum_1e8_sec']}s",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# calibration skipped: {exc}", file=sys.stderr)

    # host-state bracket, POST side (after the timed work, so the pair
    # of probes bounds what the host did during the run)
    host_post = _host_probe(cpus_env)
    for tag, probe in (("pre", host_pre), ("post", host_post)):
        for k, v in probe.items():
            extras[f"host_{tag}_{k}"] = v
    print(f"# host probes: pre {host_pre}, post {host_post}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "value_r5_comparable_subset": total_r5_subset,
                "unit": "sec",
                "queries": timings,
                # additions-only: the same queries' median-of-3 (see
                # the rep loop) — existing keys/semantics unchanged
                "queries_median3": medians,
                "queries_registered": len(QUERIES),
                "extras": extras,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
