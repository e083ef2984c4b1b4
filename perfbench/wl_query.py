"""``query-mix``: passes over a fixed seven of ``bench.py``'s 28
``HEADLINE`` queries through ``queries.QUERIES``, over generated
driver tables; ``query-all`` runs all 28 the same way.

The tables are generated at a fixed seed (``gen.QUERY_TABLE_SEED``),
once per checkout, so every run sees the same data; the run's seed
sets the query order of each pass. The first pass, outside the timer,
checks every result against its oracle SQL through
``file_appender_spark.oracle`` and is also the warm-up. Repeated passes
hit the query registry and ``load_table`` memos. A closed loop with one
client.

A fresh JVM runs a query ~15 times slower the first time than warm (on
the 4-core reference host all 28 took 68 s cold, 4.6 s warm), so the
first pass decides what a run costs; seven queries, one per plan family,
keep ``query-mix`` inside the benchmark's time budget (48 runs in
3420 s).
"""

from __future__ import annotations

import hashlib
import os
import random
import time

import gen
from harness import WORK_ROOT, Clock, median

# bench.py's sf0.1 makes the first (oracle-checked, cold) pass alone
# take ~100 s on 4 cores; sf0.001 keeps a run inside the budget and the
# query mix overhead-bound, as it is at sf0.1
QUERY_SF = 0.001
MIN_PASSES = 5  # a median that two slow passes cannot move
# one per plan family: scan + aggregate, window, cosine top-k, text
# analysis, connected components over LSH pairs, sketch, global rank
MIX = [
    "q01_pricing_summary",
    "q21_window_rank",
    "q54_similarity_topk",
    "q58_tfidf",
    "q116_dedup_clusters",
    "q155_heavy_hitters",
    "q125_gini_tokens",
]
LAYER_METRICS = ("session.warmup_s", "query.", "queries.", "query_pass_s.p50")


def _tables(ctx) -> str:
    """The generated tables, built by the first run in a checkout and
    reused by later ones: they depend only on the fixed table seed, the
    scale and the generator's source, which together name the cache
    entry. A run publishes its build with one rename, so a cut run
    leaves no half-written entry behind."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha1(f.read()).hexdigest()[:12]
    path = os.path.join(WORK_ROOT, "cache", f"query-tables-{QUERY_SF}-{gen.QUERY_TABLE_SEED}-{key}")
    if not os.path.isdir(path):
        built = gen.query_tables(ctx.spark, ctx.work.sub("tables"), QUERY_SF)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        os.rename(built, path)
    return path


def query_all(ctx) -> dict:
    import bench

    return query_mix(ctx, bench.HEADLINE)


def query_mix(ctx, names: list[str] = MIX) -> dict:
    from file_appender_spark.oracle import compare
    from file_appender_spark.queries import QUERIES

    spark, tr, checks = ctx.spark, ctx.tracer, ctx.checks
    names = list(names)
    # only the first run in a checkout builds the tables, so their
    # build is kept out of setup_s and reported on its own
    t0 = time.perf_counter()
    tables = _tables(ctx)
    ctx.uncounted_s["tables"] = time.perf_counter() - t0
    with ctx.setup("warmup"):
        for name in names:
            checks.op()
            spec = QUERIES[name]
            try:
                with tr.span(f"oracle.{name}"):
                    df = spec.spark_fn(spark, tables)
                    ok, diag = compare(df, spec.oracle, tables) if spec.oracle else (len(df.collect()) >= 0, "")
            except Exception as exc:
                ok, diag = False, repr(exc)[:300]
            checks.expect(ok, f"{name}: {diag}")

    order = random.Random(ctx.seed)
    passes: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    clock = Clock(ctx.seconds)
    k = 0
    while k < MIN_PASSES or clock.running():
        order.shuffle(names)
        tr.set_op(f"pass-{k}")
        with tr.span("query.pass"):
            t_pass = time.perf_counter()
            for name in names:
                checks.op()
                try:
                    with tr.span(f"query.{name}"):
                        t0 = time.perf_counter()
                        QUERIES[name].spark_fn(spark, tables).collect()
                        per_query[name].append(time.perf_counter() - t0)
                except Exception as exc:
                    checks.fail(f"{name} pass {k}: {exc!r}"[:300])
            passes.append(time.perf_counter() - t_pass)
        k += 1
    ctx.loop = clock.window()

    e2e = {"op_s.p50": median(passes)}
    layer = {"query_pass_s.p50": e2e["op_s.p50"]}
    layer.update({f"query.{n}_s": median(v) for n, v in per_query.items()})
    return {"e2e": e2e, "layer": layer}
