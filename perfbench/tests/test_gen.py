"""The benchmark's seeded generators: same seed, same bytes; another
seed, other inputs; the planted copies are what the checks assume.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import gen  # noqa: E402

pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [os.path.dirname(BENCH), os.environ.get("PYTHONPATH", "")] if p)
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-gen-tests")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def _lines(df) -> list[str]:
    from file_appender_spark.serialize import serialized

    return sorted(r[0] for r in serialized(df).collect())


def test_sink_rows_same_seed_same_bytes(spark):
    a = _lines(gen.sink_rows(spark, 7, 0, 500))
    b = _lines(gen.sink_rows(spark, 7, 0, 500, partitions=3))
    assert a == b


def test_sink_rows_other_seed_other_rows(spark):
    a = _lines(gen.sink_rows(spark, 7, 0, 200))
    b = _lines(gen.sink_rows(spark, 8, 0, 200))
    assert len(set(a) & set(b)) < 5


def test_sink_rows_keep_the_separator_out_and_null_some(spark):
    df = gen.sink_rows(spark, 3, 0, 4000)
    cols = df.columns
    assert len(cols) == 12
    for field in df.schema.fields:
        if field.dataType.simpleString() == "string":
            bad = df.filter(df[field.name].rlike("[,\\n\\r]")).count()
            assert bad == 0, field.name
    nulls = df.selectExpr(*[f"avg(IF({c} IS NULL, 1.0, 0.0)) AS {c}" for c in cols]).collect()[0]
    assert nulls["id"] == 0.0
    for c in cols[1:]:
        assert 0.02 < nulls[c] < 0.09, (c, nulls[c])


def _corpus(spark, seed):
    docs, planted = gen.zipf_corpus(spark, seed, [200, 100, 100])
    return {r["doc_id"]: (r["text"], r["phase"]) for r in docs.collect()}, planted.collect()


def test_corpus_same_seed_same_bytes_other_seed_differs(spark):
    a, pa = _corpus(spark, 1)
    b, pb = _corpus(spark, 1)
    c, _ = _corpus(spark, 2)
    assert a == b and pa == pb
    assert sum(a[k][0] == c.get(k, ("",))[0] for k in a) < 5


def test_corpus_layout_and_planted_copies(spark):
    docs, planted = _corpus(spark, 5)
    base = [d for d in docs if d % 2 == 0]
    assert len(base) == 400
    assert [docs[d][1] for d in (0, 398, 400, 598, 600, 798)] == [0, 0, 1, 1, 2, 2]
    for text, _p in docs.values():
        assert re.fullmatch(r"[a-z]+( [a-z]+)*", text)
        assert 100 <= len(text.split(" ")) <= 201
    kinds = {r["kind"] for r in planted}
    assert kinds == {"within_near", "within_exact", "cross_near", "cross_exact"}
    assert {r["copy"] for r in planted} == {d for d in docs if d % 2 == 1}
    for r in planted:
        o, c = r["original"], r["copy"]
        assert o % 2 == 0 and c % 2 == 1 and o < c
        (ot, op), (ct, cp) = docs[o], docs[c]
        if r["kind"].startswith("within"):
            assert op == cp
        else:
            assert op < cp
        if r["kind"].endswith("exact"):
            assert ot == ct
        else:
            ow, cw = ot.split(" "), ct.split(" ")
            assert cw[:-1] == ow and cw[-1] not in ow


def test_query_tables_match_the_driver_schema(spark, tmp_path):
    out = gen.query_tables(spark, str(tmp_path), 0.0005)
    from file_appender_spark.sources.catalog import TABLES, load_table

    expect = {
        "lineitem": "l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,"
        "l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,"
        "l_shipdate:timestamp",
        "embeddings": "vec_id:bigint,embedding:array<float>,label:int",
        "documents": "doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint",
        "orders": "o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,"
        "o_orderdate:timestamp,o_orderpriority:string",
    }
    for t in TABLES:
        df = load_table(spark, out, t)
        assert df.count() > 0, t
        if t in expect:
            got = ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields)
            assert got == expect[t], t
    again = gen.query_tables(spark, str(tmp_path / "again"), 0.0005)
    a = sorted(map(tuple, load_table(spark, out, "documents").collect()))
    b = sorted(map(tuple, load_table(spark, again, "documents").collect()))
    assert a == b
