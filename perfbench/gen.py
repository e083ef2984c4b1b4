"""Seeded input generators, built as Spark expressions so every byte
is a pure function of (seed, row id).

- ``sink_rows``: wide mixed-type rows for the append workloads.
- ``zipf_corpus``: a Zipf text corpus with planted exact and near
  copies, for the dedup workload. The recipe follows the repo's probe
  corpora (inverse-CDF Zipf rank from ``xxhash64(id, j)``) with the
  seed folded into every hash.
- ``query_tables``: the ten driver tables (TPC-H-ish star schema plus
  events, documents and embeddings) at a given scale factor, for the
  query workload.

No string field contains the sink's separator (``,``) or a newline,
so the registered CSV table parses every written line.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_P = 1_000_003  # modulus of the uniform draws


def _u(seed: int, *parts) -> str:
    """SQL for a uniform draw in [0, 1) keyed by (parts..., seed)."""
    args = ", ".join(str(p) for p in parts)
    return f"(pmod(xxhash64({args}, {int(seed)}), {_P}) / {_P}D)"


def _pick(seed: int, values: list[str], *parts) -> str:
    """SQL choosing one of ``values`` uniformly."""
    arr = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return f"element_at(array({arr}), cast(floor({_u(seed, *parts)} * {len(values)}) as int) + 1)"


# ---------------------------------------------------------------- sink rows

_UNICODE_WORDS = [
    "café", "naïve", "Zürich", "São Paulo", "Kraków", "straße", "東京",
    "北京", "ελληνικά", "русский", "日本語", "한국어", "العربية", "हिन्दी",
    "plain", "ascii", "smörgåsbord", "jalapeño", "Ålesund", "🙂 ok",
]

# column name -> (spark type, SQL expression over `id`); nulls are
# applied separately to every column but the first
_SINK_COLUMNS = [
    ("id", "bigint", "id"),
    ("qty", "int", "cast(floor({u1} * 1000) as int)"),
    ("amount", "decimal(14,2)", "cast(({u2} * 2000000 - 1000000) / 100 as decimal(14,2))"),
    ("score", "double", "({u3} * 2 - 1) * 1.0e6 / 7.0"),
    ("day", "date", "date_add(date'2020-01-01', cast(floor({u4} * 2000) as int))"),
    ("ts", "timestamp", "timestamp_micros(1700000000000000 + cast(floor({u5} * 1.0e13) as bigint))"),
    ("name", "string", "{w6}"),
    ("city", "string", "concat({w7}, ' ', {w8})"),
    ("big", "bigint", "xxhash64(id, {seed}, 9)"),
    ("code", "int", "cast(floor({u10} * 100000) as int) - 50000"),
    ("ratio", "double", "{u11}"),
    ("note", "string", "concat('n', cast(floor({u12} * 1.0e9) as bigint), ' ', {w13})"),
]

NULL_PCT = 5


def _sink_expr(seed: int, i: int, name: str, template: str) -> Column:
    fill = {f"u{k}": _u(seed, "id", k) for k in range(1, 14)}
    fill.update({f"w{k}": _pick(seed, _UNICODE_WORDS, "id", 100 + k) for k in range(1, 14)})
    fill["seed"] = int(seed)
    expr = template.format(**fill)
    if i == 0:
        return F.expr(expr).alias(name)
    # ~NULL_PCT% nulls, drawn independently per column
    return F.expr(f"IF(pmod(xxhash64(id, {int(seed)}, {200 + i}), 100) < {NULL_PCT}, NULL, {expr})").alias(name)


def sink_rows(spark: SparkSession, seed: int, start: int, n: int, partitions: int | None = None) -> DataFrame:
    """Rows ``start .. start+n-1`` of the seeded wide table."""
    base = spark.range(start, start + n, 1, partitions) if partitions else spark.range(start, start + n)
    cols = [_sink_expr(seed, i, name, tpl) for i, (name, _t, tpl) in enumerate(_SINK_COLUMNS)]
    return base.select(*cols)


# ------------------------------------------------------------ zipf corpus

ZIPF_VOCAB = 20_000
CORPUS_SOURCES = 5
# per 1000 odd slots: within-phase near copies, within-phase exact
# copies, and copies of a doc one phase earlier (half near, half exact)
_WITHIN_NEAR, _WITHIN_EXACT, _CROSS = 20, 10, 20


def _word(rank: str) -> str:
    """A letters-only word for a Zipf rank (base-26 digits mapped to
    letters), so the curate quality gate sees alphabetic text."""
    return f"lower(translate(conv(cast({rank} as string), 10, 26), '0123456789', 'qrstuvwxyz'))"


def _doc_text(seed: int, key: str) -> str:
    """SQL text of the base document keyed by ``key``: 100-200 tokens
    with log-uniform (Zipf s=1) ranks, following the probe corpora."""
    n_tokens = f"(100 + cast(floor({_u(seed, key, -1)} * 101) as int))"
    v = ZIPF_VOCAB
    rank = (
        f"least({v}, greatest(1, floor(pow({v}D, "
        f"pmod(xxhash64({key}, j, {int(seed)}), {_P}) / {_P}D))))"
    )
    return f"array_join(transform(sequence(1, {n_tokens}), j -> {_word(rank)}), ' ')"


def zipf_corpus(spark: SparkSession, seed: int, phase_docs: list[int]) -> tuple[DataFrame, DataFrame]:
    """A corpus laid out in consecutive id ranges, one per phase
    (build, then each epoch). Phase ``p`` holds ``phase_docs[p]`` base
    documents at even ids; odd ids hold planted copies:

    - slot ``2m+1`` may copy ``2m`` (same phase, near or exact);
    - or copy ``2(m - phase_docs[0])``, a doc from an earlier phase.

    A near copy appends one out-of-vocabulary token, so its 3-shingle
    Jaccard with the original is (n-2)/(n-1) >= 0.99 for n >= 100
    tokens. The stores' MinHash-LSH (16 slots in 4 bands of 4) then
    makes it a candidate with probability 1 - (1 - J^4)^4 > 1 - 3e-6;
    at J = 0.9 a pair is missed 1.4% of the time, which a check that
    every planted copy is caught cannot tolerate.

    Returns ``(docs, planted)``: docs has (doc_id, text, source, phase);
    planted has (original, copy, kind) with kind in within/cross x
    near/exact."""
    bounds = []
    lo = 0
    for n in phase_docs:
        bounds.append((lo, lo + 2 * n))
        lo += 2 * n
    phase = " ".join(f"WHEN id < {hi} THEN {p}" for p, (_lo, hi) in enumerate(bounds))
    phase_expr = f"CASE {phase} END"
    shift = phase_docs[0]
    slots = spark.range(0, lo).select(F.col("id"), F.expr(phase_expr).alias("phase"))
    base = slots.filter("id % 2 = 0").select(
        F.col("id").alias("doc_id"),
        F.expr(_doc_text(seed, "id")).alias("text"),
        F.expr(f"concat('src', cast(floor({_u(seed, 'id', -2)} * {CORPUS_SOURCES}) as int))").alias("source"),
        "phase",
    )
    m = "((id - 1) DIV 2)"
    draw = f"pmod(xxhash64({m}, {int(seed)}, 99), 1000)"
    orig = (
        f"CASE WHEN {draw} < {_WITHIN_NEAR + _WITHIN_EXACT} THEN 2 * {m} "
        f"WHEN {draw} < {_WITHIN_NEAR + _WITHIN_EXACT + _CROSS} AND {m} >= {shift} "
        f"THEN 2 * ({m} - {shift}) END"
    )
    kind = (
        f"CASE WHEN {draw} < {_WITHIN_NEAR} THEN 'within_near' "
        f"WHEN {draw} < {_WITHIN_NEAR + _WITHIN_EXACT} THEN 'within_exact' "
        f"WHEN pmod({draw}, 2) = 0 THEN 'cross_near' ELSE 'cross_exact' END"
    )
    planted = (
        slots.filter("id % 2 = 1")
        .select(F.expr(orig).alias("original"), F.col("id").alias("copy"), F.expr(kind).alias("kind"), "phase")
        .filter("original IS NOT NULL")
    )
    # copy the original's text; near copies gain one token at the end
    orig = base.select(F.col("doc_id").alias("original"), F.col("text").alias("otext"), F.col("source"))
    extra = _word(f"{ZIPF_VOCAB} + 1 + pmod(xxhash64(copy, {int(seed)}, 7), 1000)")
    near = f"concat(otext, ' ', {extra})"
    copies = planted.join(orig, "original").select(
        F.col("copy").alias("doc_id"),
        F.expr(f"IF(kind LIKE '%near', {near}, otext)").alias("text"),
        "source",
        "phase",
    )
    return base.unionByName(copies), planted.drop("phase")


# ----------------------------------------------------------- query tables

QUERY_TABLE_SEED = 42
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "small", "green", "red"]
_PART_NOUN = ["bolt", "gear", "plate", "ring", "screw", "nut", "pipe", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
EMBED_DIM = 64


def _table_frames(spark: SparkSession, sf: float, seed: int) -> dict[str, DataFrame]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(200, int(20_000 * sf))
    s = seed

    def rng(n):
        return spark.range(n)

    region = spark.createDataFrame(
        [(i, n) for i, n in enumerate(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
        "r_regionkey int, r_name string",
    )
    nation = spark.createDataFrame(
        [(i, f"NATION_{i}", i % 5) for i in range(25)], "n_nationkey int, n_name string, n_regionkey int"
    )
    customer = rng(n_cust).selectExpr(
        "id AS c_custkey",
        "concat('Customer#', lpad(cast(id as string), 9, '0')) AS c_name",
        f"cast(floor({_u(s, 'id', 1)} * 25) as int) AS c_nationkey",
        f"round({_u(s, 'id', 2)} * 11000 - 1000, 2) AS c_acctbal",
        f"{_pick(s, _SEGMENTS, 'id', 3)} AS c_mktsegment",
    )
    supplier = rng(n_supp).selectExpr(
        "id AS s_suppkey",
        "concat('Supplier#', lpad(cast(id as string), 9, '0')) AS s_name",
        f"cast(floor({_u(s, 'id', 11)} * 25) as int) AS s_nationkey",
        f"round({_u(s, 'id', 12)} * 11000 - 1000, 2) AS s_acctbal",
    )
    part = rng(n_part).selectExpr(
        "id AS p_partkey",
        f"concat({_pick(s, _PART_ADJ, 'id', 21)}, ' ', {_pick(s, _PART_NOUN, 'id', 22)}) AS p_name",
        f"concat('Brand#', cast(floor({_u(s, 'id', 23)} * 25) + 1 as int)) AS p_brand",
        f"{_pick(s, _PART_TYPES, 'id', 24)} AS p_type",
        f"cast(floor({_u(s, 'id', 25)} * 50) + 1 as int) AS p_size",
        "round(900 + (id % 1000) / 10.0D, 2) AS p_retailprice",
    )
    orders = rng(n_orders).selectExpr(
        "id AS o_orderkey",
        f"cast(floor({_u(s, 'id', 31)} * {n_cust}) as bigint) AS o_custkey",
        f"{_pick(s, ['F', 'O', 'P'], 'id', 32)} AS o_orderstatus",
        f"round(1000 + {_u(s, 'id', 33)} * 499000, 2) AS o_totalprice",
        f"timestamp_seconds(788918400 + cast(floor({_u(s, 'id', 34)} * 2404) as bigint) * 86400) AS o_orderdate",
        f"{_pick(s, _PRIORITIES, 'id', 35)} AS o_orderpriority",
    )
    lineitem = rng(4 * n_orders).selectExpr(
        f"cast(floor({_u(s, 'id', 41)} * {n_orders}) as bigint) AS l_orderkey",
        f"cast(floor({_u(s, 'id', 42)} * {n_part}) as bigint) AS l_partkey",
        f"cast(floor({_u(s, 'id', 43)} * {n_supp}) as bigint) AS l_suppkey",
        f"cast(floor({_u(s, 'id', 44)} * 7) + 1 as int) AS l_linenumber",
        f"cast(floor({_u(s, 'id', 45)} * 50) + 1 as double) AS l_quantity",
        f"round(900 + {_u(s, 'id', 46)} * 104100, 2) AS l_extendedprice",
        f"floor({_u(s, 'id', 47)} * 11) / 100.0D AS l_discount",
        f"floor({_u(s, 'id', 48)} * 9) / 100.0D AS l_tax",
        f"{_pick(s, ['A', 'N', 'R'], 'id', 49)} AS l_returnflag",
        f"{_pick(s, ['F', 'O'], 'id', 50)} AS l_linestatus",
        f"timestamp_seconds(789004800 + cast(floor({_u(s, 'id', 51)} * 2499) as bigint) * 86400) AS l_shipdate",
    )
    events = rng(n_events).selectExpr(
        "id AS event_id",
        f"timestamp_micros(1704067200000000 + cast(floor((id + {_u(s, 'id', 61)}) * {int(2592000e6 / n_events)}) as bigint)) AS ts",
        f"cast(floor({_u(s, 'id', 62)} * 1500) as bigint) AS user_id",
        f"{_pick(s, _EVENT_TYPES, 'id', 63)} AS event_type",
        f"round(-ln(1 - {_u(s, 'id', 64)}) * 100, 2) AS value",
        f"concat('{{\"k\": ', cast(floor({_u(s, 'id', 65)} * 100) as int), '}}') AS props",
    )
    # every 20th doc is a near copy of the one before it (same length
    # and tokens except the third), so the near-dup queries find pairs
    key = "IF(id % 20 = 1, id - 1, id)"
    n_words = f"(10 + cast(floor({_u(s, key, 71)} * 91) as int))"
    word = _pick(s, _DOC_WORDS, f"IF(j = 3, id, {key})", "j", 72)
    documents = (
        rng(n_docs)
        .selectExpr(
            "id AS doc_id",
            f"array_join(transform(sequence(1, {n_words}), j -> {word}), ' ') AS text",
            f"{_pick(s, _LANGS, 'id', 73)} AS lang",
            f"concat('src', cast(floor({_u(s, 'id', 74)} * 20) as int)) AS source",
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )
    gauss = (
        f"cast(sqrt(-2 * ln(1 - {_u(s, 'id', 'i', 81)})) * cos(2 * pi() * {_u(s, 'id', 'i', 82)}) * 0.125 as float)"
    )
    embeddings = rng(n_vecs).selectExpr(
        "id AS vec_id",
        f"transform(sequence(0, {EMBED_DIM - 1}), i -> {gauss}) AS embedding",
        f"cast(floor({_u(s, 'id', 83)} * 10) as int) AS label",
    )
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def query_tables(spark: SparkSession, out_dir: str, sf: float, seed: int = QUERY_TABLE_SEED) -> str:
    """Write the ten driver tables under ``out_dir`` as
    ``<name>.parquet`` dataset directories and return ``out_dir``."""
    for name, df in _table_frames(spark, sf, seed).items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
