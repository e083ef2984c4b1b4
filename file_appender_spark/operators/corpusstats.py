"""Materialized corpus token statistics — the shared
tokenize → explode → groupBy(token) prefix that ~40 of the text
queries each rebuild from scratch (r6 verdict task 5).

At 100 TB the corpus scan dominates every token-marginal query; a
production pipeline materializes the (source, token) term-frequency /
document-frequency table ONCE and maintains it incrementally as new
documents arrive, then answers df/tf/marginal questions from the
(Zipf-small) stats table instead of re-exploding the corpus. This
module is that table:

- `corpus_token_stats` / `corpus_source_stats` — the batch
  definitions (one corpus scan, two map-side-combined aggregations);
- `build_corpus_stats` — materialize both under a store directory,
  tokenizer stamped into a params sidecar (stats built under a
  different tokenizer are incomparable — same guard as the
  signature stores);
- `corpusstats_ingest_batch` — incremental maintenance: per-batch
  partial counts land in a `batch=<id>` partition written with
  overwrite, so a foreachBatch RETRY of the same epoch rewrites the
  same partition instead of double-counting (the standard idempotent
  foreachBatch sink pattern). tf and df are additive across batches
  because each document arrives in exactly one epoch;
- `read_token_stats` / `read_source_stats` — the merged view (one
  groupBy-sum over base + increments);
- `compact_corpus_stats` — fold accumulated increments back into a
  single base partition (crash-safe swap, the neardup_ingest store
  discipline; r11: manifest-layout tables flip with one atomic
  publish instead of the two-rename swap, so the store runs on
  object stores — auto-created there, opt-in via
  `create_manifest_corpusstats` / `migrate_corpusstats_to_manifest`
  elsewhere).

Consumers opt in via their `stats_dir` parameter (q58 TF-IDF, q59
bigram frequencies, q191 bigram-LM model counts, q197 JSD drift,
q212 Dunning G², q231 stopword discovery) — output equivalence with
the scan-everything spelling is pinned in tests/test_corpusstats.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.storefs import EpochStore, store_fs_for

# the three stats tables; in the MANIFEST layout each carries its own
# _CURRENT manifest and compaction flips it atomically instead of the
# two-rename swap — which is what lets the store live on object stores
_STORE = EpochStore(
    tables=("token_stats", "source_stats", "bigram_stats"),
    params_file="_corpusstats_params.json",
    migrating_marker="_MIGRATING_TO_MANIFEST",
    kind="corpus-stats",
    migrate_hint="migrate_corpusstats_to_manifest",
    debris_suffixes=(".old", ".compacting"),
)
_REBUILD_MARKER = "_corpusstats_rebuilding"
# the one tokenizer every text query shares (queries/llm.py's _WS);
# version 2 added the bigram table (a v1 store lacks it, so the
# params guard forces a rebuild rather than failing mid-read)
_TOKENIZER = {"tokenizer": "split_ws", "version": 2, "tables": "token+bigram"}


def _tokens(docs: DataFrame) -> DataFrame:
    from file_appender_spark.queries.llm import _WS

    return docs.select(
        "doc_id", "source", F.explode(F.split("text", _WS)).alias("token")
    )


def corpus_token_stats(docs: DataFrame) -> DataFrame:
    """(source, token, tf, df): total occurrences and distinct-doc
    counts per source — the exact token stream of the q58/q212/q231
    family (split on _WS, empties included). Two aggregations, both
    map-side combined; the (doc_id, token) grain is the only real
    shuffle and it is the same one every consumer pays today."""
    per_doc = (
        _tokens(docs)
        .groupBy("source", "doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf_doc"))
    )
    return per_doc.groupBy("source", "token").agg(
        F.sum("tf_doc").cast("long").alias("tf"),
        F.count("*").cast("long").alias("df"),
    )


def corpus_source_stats(docs: DataFrame) -> DataFrame:
    """(source, n_docs, total_tokens): the per-source marginals the
    consumers' 1-row broadcasts derive from. n_docs counts every row
    (the q58/q231 oracles count(*) over documents, nulls included);
    total_tokens counts what the token table actually holds — a NULL
    text contributes zero tokens, not size(NULL) = -1."""
    from file_appender_spark.queries.llm import _WS

    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.coalesce(F.size(F.split("text", _WS)), F.lit(0)))
        .cast("long")
        .alias("total_tokens"),
    )


def corpus_bigram_stats(docs: DataFrame) -> DataFrame:
    """(source, bigram, tf): adjacent-token pair counts per source —
    the exact bigram stream of the q59/q191 family (space-joined
    adjacent tokens over docs with >= 2 tokens). tf only: no consumer
    needs a bigram document frequency, and the per-doc grain that df
    requires would double the build's shuffle for an unused column."""
    from file_appender_spark.queries.llm import _WS

    w = F.split("text", _WS)
    bg = (
        docs.select("source", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            ).alias("bigram"),
        )
    )
    return bg.groupBy("source", "bigram").agg(
        F.count("*").cast("long").alias("tf")
    )


class CorpusStatsAdvice:
    """The crossover decision plus the numbers it came from (so bench
    notes and run records can cite evidence, not a bare bool)."""

    __slots__ = ("worthwhile", "stream_tokens", "stats_rows", "compression", "reason")

    def __init__(self, worthwhile, stream_tokens, stats_rows, compression, reason):
        self.worthwhile = worthwhile
        self.stream_tokens = stream_tokens
        self.stats_rows = stats_rows
        self.compression = compression
        self.reason = reason


# Measured anchors (SCALE100_PROBE_r7, warm-vs-warm): the smallest
# corpus where the store measured a real win was the 50M-token Heaps
# corpus (token consumers 1.59x at compression 1.54M/50M = 0.031);
# the linear-vocab generator at the same scale (compression 0.043)
# landed at break-even 0.98x, and the 0.5M-token corpora were
# overhead-dominated either way. The thresholds sit between the
# measured win and break-even points — conservative: a "not
# worthwhile" call costs at most the small measured wins (<=1.15x),
# never the 1.59x one.
_MIN_STREAM_TOKENS = 500_000
_MAX_COMPRESSION = 0.035


def corpusstats_worthwhile(
    stream_tokens: int, stats_rows: int | None = None
) -> CorpusStatsAdvice:
    """Should a pipeline materialize the corpus-stats store, or keep
    the scan-everything spellings? The r7 probe's measured crossover
    as a sized policy (r7 verdict task 7), so callers don't have to
    know the probe: worthwhile iff the token stream is big enough
    that scan cost dominates fixed overhead (>= 500k tokens) AND the
    stats table compresses the stream (rows/tokens <= 0.035 — the
    Heaps regime; a linearly-growing vocabulary measured break-even
    because the stats table stops being smaller than the stream in
    any way that matters).

    ``stats_rows`` is the (source, token) row count — pass the real
    store's count when one exists; when None it is estimated by the
    probe corpus's own Heaps law (V = 30 * tokens^0.6), which callers
    with non-English / code-heavy corpora should override. Note the
    two defaults interact: under the Heaps ESTIMATE, compression
    falls below 0.035 only around ~21.5M tokens, so on the
    estimate-only path the compression test is the binding
    constraint and the 500k floor never is — callers between 500k
    and ~20M tokens get 'not worthwhile' unless they pass a real
    (smaller) ``stats_rows``. That is the conservative direction on
    purpose: the measured 1.59x win (SCALE100_PROBE_r7) was at 50M
    tokens, and misjudging 'worthwhile' costs a wasted store build
    while misjudging 'not' costs at most the small (<=1.15x) wins."""
    if stream_tokens < 0:
        raise ValueError(f"stream_tokens must be >= 0, got {stream_tokens}")
    if stats_rows is None:
        stats_rows = int(30 * stream_tokens**0.6) if stream_tokens else 0
    compression = (stats_rows / stream_tokens) if stream_tokens else 1.0
    if stream_tokens < _MIN_STREAM_TOKENS:
        return CorpusStatsAdvice(
            False,
            stream_tokens,
            stats_rows,
            round(compression, 6),
            f"stream {stream_tokens} tokens < {_MIN_STREAM_TOKENS}: fixed "
            "overhead dominates (the bench-sf regime)",
        )
    if compression > _MAX_COMPRESSION:
        return CorpusStatsAdvice(
            False,
            stream_tokens,
            stats_rows,
            round(compression, 6),
            f"stats table {stats_rows} rows / {stream_tokens} tokens = "
            f"{compression:.3f} > {_MAX_COMPRESSION}: linear-vocab regime, "
            "measured break-even (SCALE100_PROBE_r7)",
        )
    return CorpusStatsAdvice(
        True,
        stream_tokens,
        stats_rows,
        round(compression, 6),
        f"{stream_tokens} tokens compress {compression:.3f} into the stats "
        "table: the measured-win (Heaps) regime",
    )


def _refuse_mid_rebuild(store_dir: str) -> None:
    """A crashed rebuild leaves the store part-wiped/part-written; a
    missing params stamp alone cannot distinguish that from a fresh
    directory (the ingest path legitimately starts stores), so the
    build drops a marker for its whole critical section. Any
    ingest/read that sees it must refuse — silently adopting the
    half-built store would serve counts missing the wiped baseline
    (review finding r8)."""
    if store_fs_for(store_dir).exists(os.path.join(store_dir, _REBUILD_MARKER)):
        raise ValueError(
            f"corpus-stats store {store_dir} has an unfinished rebuild "
            "(crash mid-build_corpus_stats): its tables are partial — "
            "re-run build_corpus_stats over the full corpus"
        )


def _check_params(store_dir: str) -> None:
    """Guard for the INGEST path: counts written under a different
    tokenizer are incomparable, so a mismatched stamp refuses rather
    than re-stamps. A MISSING stamp is stamped here — ingest may
    legitimately start a store (the rebuild marker is what tells a
    crashed rebuild apart from a fresh directory)."""
    store_fs_for(store_dir).makedirs(store_dir)
    _refuse_mid_rebuild(store_dir)
    stored = _STORE.read_params(store_dir)
    if stored is None:
        _STORE.stamp_params(store_dir, _TOKENIZER)
    elif stored != _TOKENIZER:
        raise ValueError(
            f"corpus-stats store {store_dir} was built with tokenizer "
            f"{stored}, this build uses {_TOKENIZER} — counts are "
            "incomparable; rebuild the store (build_corpus_stats "
            "re-stamps and replaces all tables)"
        )


def _token_dir(store_dir: str) -> str:
    return _STORE.live_dir(store_dir, "token_stats")


def _source_dir(store_dir: str) -> str:
    return _STORE.live_dir(store_dir, "source_stats")


def _bigram_dir(store_dir: str) -> str:
    return _STORE.live_dir(store_dir, "bigram_stats")


def create_manifest_corpusstats(store_dir: str) -> str:
    """Initialize an EMPTY manifest-layout corpus-stats store (the
    layout choice is creation-time; EpochStore.create_manifest has the
    contract). The build/ingest entry points do this automatically on
    a filesystem without atomic directory rename."""
    return _STORE.create_manifest(store_dir)


def migrate_corpusstats_to_manifest(store_dir: str) -> str:
    """Convert a CLASSIC corpus-stats store in place, resumably
    (EpochStore.migrate_to_manifest has the contract)."""
    return _STORE.migrate_to_manifest(store_dir)


def _write_tables(docs: DataFrame, store_dir: str, batch_id: str) -> None:
    _STORE.write_epoch(corpus_token_stats(docs), store_dir, "token_stats", batch_id)
    _STORE.write_epoch(corpus_source_stats(docs), store_dir, "source_stats", batch_id)
    _STORE.write_epoch(corpus_bigram_stats(docs), store_dir, "bigram_stats", batch_id)


def build_corpus_stats(
    spark: SparkSession, docs: DataFrame, store_dir: str
) -> None:
    """Materialize the full corpus's stats as the store's `base`
    partition (one corpus scan). Later increments append next to it.

    A (re)build is a FULL baseline: any epoch partitions from a
    previous ingest run are wiped first — `docs` is the whole corpus,
    so leaving old increments behind would double-count every doc
    they cover on the next merged read.

    Cost: three corpus scans (token, source, bigram writes are three
    Spark jobs) — deliberate. Sharing one scan would require caching
    the tokenized corpus (same order of bytes as the corpus itself,
    infeasible at 100 TB) or a position-keyed token table self-join
    for bigrams (a full-stream shuffle that costs more than the
    rescan). Production amortizes the build through the incremental
    path anyway, where each batch is scanned once per table at
    micro-batch size."""
    _STORE.recover(store_dir)
    _STORE.ensure_layout(store_dir)  # manifest mandatory sans atomic rename
    # a rebuild replaces all data, so it RE-STAMPS rather than checks
    # (upgrading a store across tokenizer versions goes through here)
    # — but only AFTER the new tables exist: stamp-then-wipe would
    # leave old-tokenizer counts readable under the new stamp if the
    # rebuild crashed in between (review finding r8). Wipe the stale
    # stamp with the tables, so a mid-rebuild crash fails loudly.
    fs = store_fs_for(store_dir)
    fs.makedirs(store_dir)
    marker = os.path.join(store_dir, _REBUILD_MARKER)
    fs.write_text(marker, "rebuild in progress")
    _STORE.wipe(store_dir)
    _write_tables(docs, store_dir, "base")
    _STORE.stamp_params(store_dir, _TOKENIZER)
    fs.remove(marker)  # critical section closed — store is whole again


def corpusstats_ingest_batch(
    spark: SparkSession, batch: DataFrame, store_dir: str, batch_id: int | str
) -> None:
    """Incremental maintenance for one micro-batch of NEW documents
    (each doc in exactly one epoch — the append-only corpus
    contract). Partial (source, token, tf, df) counts are additive
    under that contract, so the merged view needs only a sum. Use as
    `writeStream.foreachBatch(lambda b, i:
    corpusstats_ingest_batch(spark, b, store, i))` — epoch-id
    partition overwrite makes retries idempotent."""
    if str(batch_id) == "base":
        raise ValueError(
            "batch_id 'base' is reserved for build_corpus_stats — an "
            "ingest epoch writing there would clobber the corpus baseline"
        )
    _STORE.recover(store_dir)
    _STORE.ensure_layout(store_dir)  # ingest may legitimately START a store
    _check_params(store_dir)
    _write_tables(batch, store_dir, str(batch_id))


def read_token_stats(spark: SparkSession, store_dir: str) -> DataFrame:
    """(source, token, tf, df): the merged view over base +
    increments — one map-side-combined groupBy-sum of the stats
    table, never of the corpus; memoized per file fingerprint
    (EpochStore.merged_view) so repeated consumers share ONE
    materialization. Runs crash recovery first: a read-only consumer
    may be the first process to touch the store after a compaction
    crash, and must not fail on a directory that is one rename from
    healthy."""
    _STORE.recover(store_dir)
    _refuse_mid_rebuild(store_dir)
    d = _token_dir(store_dir)
    return _STORE.merged_view(
        spark,
        d,
        lambda: spark.read.parquet(d)
        .groupBy("source", "token")
        .agg(
            F.sum("tf").cast("long").alias("tf"),
            F.sum("df").cast("long").alias("df"),
        ),
    )


def read_source_stats(spark: SparkSession, store_dir: str) -> DataFrame:
    _STORE.recover(store_dir)
    _refuse_mid_rebuild(store_dir)
    d = _source_dir(store_dir)
    return _STORE.merged_view(
        spark,
        d,
        lambda: spark.read.parquet(d)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
        ),
    )


def read_bigram_stats(spark: SparkSession, store_dir: str) -> DataFrame:
    """(source, bigram, tf): merged bigram view — one groupBy-sum of
    the bigram table, memoized like read_token_stats. Same recovery
    discipline.

    Note bigram counts are additive across epochs EXCEPT pairs that
    would span two epochs of one document — impossible under the
    whole-documents-per-epoch contract the ingest declares."""
    _STORE.recover(store_dir)
    _refuse_mid_rebuild(store_dir)
    d = _bigram_dir(store_dir)
    return _STORE.merged_view(
        spark,
        d,
        lambda: spark.read.parquet(d)
        .groupBy("source", "bigram")
        .agg(F.sum("tf").cast("long").alias("tf")),
    )


def compact_corpus_stats(spark: SparkSession, store_dir: str) -> None:
    """Fold all accumulated epoch partitions into a fresh `base`:
    long-running maintenance otherwise pays ever-growing file listing
    on every read. Writer must be paused (the sequential foreachBatch
    loop is the only writer by design); the per-table swap (two
    renames for classic tables, one atomic manifest publish for
    manifest tables) plus crash recovery makes a crash at any point
    non-destructive. Output files
    are sized from the store's measured bytes (the compact_store
    discipline) — without this every compaction writes one tiny file
    per shuffle partition, recreating the small-file problem it
    exists to fix."""
    from file_appender_spark.operators.layout import dir_bytes, plan_file_count

    _STORE.recover(store_dir)
    for name, merged in (
        ("token_stats", read_token_stats(spark, store_dir)),
        ("source_stats", read_source_stats(spark, store_dir)),
        ("bigram_stats", read_bigram_stats(spark, store_dir)),
    ):
        n = plan_file_count(dir_bytes(spark, _STORE.live_dir(store_dir, name)))
        _STORE.compact_swap(store_dir, name, merged, n)
