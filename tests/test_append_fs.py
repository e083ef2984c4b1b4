"""Sink parity matrix (r7 verdict task 4): the A8-A13 protocol
suite parameterized over BOTH StoreFS implementations — the POSIX
LocalStoreFS shim (A15) and the pyarrow ArrowStoreFS adapter (the
HDFS path, exercised here through pyarrow's LocalFileSystem so the
adapter CODE — list/append/create-new/exists via pyarrow streams, scheme
stripping, handle-free pickling — is what runs; an actual
HadoopFileSystem differs only in the FileSystem instance pyarrow
constructs from the hdfs:// URI)."""

from __future__ import annotations

import os
import pickle
from collections import Counter

import pytest
from pyspark.sql import types as T

from file_appender_spark.config import AppendSinkConfig
from file_appender_spark.sinks.append_text import (
    _PartitionWriter,
    append_text,
    fs_for_path,
)
from file_appender_spark.storefs import ArrowStoreFS, LocalStoreFS, _strip_scheme

SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("item", T.StringType(), True),
    ]
)

ROWS = [("samuel", "wallet"), ("dwayne", "rock"), ("christopher", "cowbell")]


@pytest.fixture(params=["local_posix", "arrow_local"])
def fs_impl(request):
    if request.param == "local_posix":
        return LocalStoreFS()
    return ArrowStoreFS("local")


def read_lines(directory):
    out = []
    for n in sorted(os.listdir(directory)):
        p = os.path.join(directory, n)
        if os.path.isfile(p) and not n.startswith((".", "_")):
            with open(p, "rb") as f:
                out.extend(f.read().decode("utf-8").splitlines())
    return out


def test_two_run_append_doubles_multiset(spark, tmp_path, fs_impl):
    """A1/A8/A10 e2e (PipelineTest.java:163-187) on each backend:
    run 2 must reuse run 1's files with every line count doubled."""
    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(output_dir=out, file_prefix="file")
    df = spark.createDataFrame(ROWS, SCHEMA).repartition(2)

    append_text(df, cfg, run_ts_ms=1_000_000, fs=fs_impl)
    files_run1 = sorted(os.listdir(out))
    append_text(df, cfg, run_ts_ms=1_060_000, fs=fs_impl)
    assert sorted(os.listdir(out)) == files_run1
    assert Counter(read_lines(out)) == Counter(
        {"samuel,wallet": 2, "dwayne,rock": 2, "christopher,cowbell": 2}
    )


def test_initial_naming_and_election_index(spark, tmp_path, fs_impl):
    """A9: prefix-%05d(partition)-startTime, partition id = election
    index."""
    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(output_dir=out, file_prefix="pfx")
    df = spark.createDataFrame(ROWS, SCHEMA).repartition(2)
    append_text(df, cfg, run_ts_ms=123456789, fs=fs_impl)
    assert sorted(os.listdir(out)) == [
        "pfx-00000-123456789",
        "pfx-00001-123456789",
    ]


def test_rotation_off_by_one_preserves_prefix(spark, tmp_path, fs_impl):
    """A11: rotation checks BEFORE each write with the writer's own
    byte count (first file exceeds the threshold by one record) and
    the rotated name keeps the full partition prefix."""
    out = str(tmp_path / "out")
    big = "x" * 600_000
    rows = [(big, "a"), (big, "b"), (big, "c")]
    cfg = AppendSinkConfig(output_dir=out, file_prefix="f", size_threshold_mb=1)
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    append_text(df, cfg, run_ts_ms=1_000, fs=fs_impl)
    files = sorted(os.listdir(out))
    assert len(files) == 2, files
    assert all(f.startswith("f-00000-") for f in files)
    line_bytes = 600_000 + 1 + 1 + 1
    assert os.path.getsize(os.path.join(out, "f-00000-1000")) == 2 * line_bytes


def test_age_threshold_vs_logical_run_time(spark, tmp_path, fs_impl):
    """A12: age measured against run_ts_ms, never wall clock."""
    out = str(tmp_path / "out")
    cfg = AppendSinkConfig(output_dir=out, file_prefix="f", age_threshold_min=60)
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    append_text(df, cfg, run_ts_ms=1_000_000, fs=fs_impl)
    later = 1_000_000 + 61 * 60 * 1000
    append_text(df, cfg, run_ts_ms=later, fs=fs_impl)
    assert sorted(os.listdir(out)) == ["f-00000-1000000", f"f-00000-{later}"]


def test_task_retry_appends_at_least_once(tmp_path, fs_impl):
    """A13: the no-op committer — a retried task appends after its
    failed attempt's partial writes (duplicates, never rollback)."""
    cfg = AppendSinkConfig(output_dir=str(tmp_path), file_prefix="f")
    lines = [f"row-{i}" for i in range(5)]
    run_ts = 1_000_000

    w1 = _PartitionWriter(str(tmp_path), None, 0, cfg, run_ts, fs_impl)
    for ln in lines[:2]:
        w1.write_line(ln)
    w1.close()
    w2 = _PartitionWriter(str(tmp_path), None, 0, cfg, run_ts, fs_impl)
    for ln in lines:
        w2.write_line(ln)
    w2.close()

    files = [f for f in os.listdir(tmp_path) if f.startswith("f-")]
    assert files == [f"f-00000-{run_ts}"]
    got = Counter(open(os.path.join(tmp_path, files[0])).read().splitlines())
    assert got == Counter(lines) + Counter(lines[:2])


def test_create_new_is_exclusive(tmp_path, fs_impl):
    """The create-race contract both backends must honor: creating an
    existing path raises FileExistsError, which drives the rotation
    retry loop (AppendOutputFormat.java:227-241)."""
    p = str(tmp_path / "f-00000-1000")
    h = fs_impl.create_new(p)
    h.write(b"x")
    h.close()
    with pytest.raises(FileExistsError):
        fs_impl.create_new(p)


def test_list_files_and_exists(tmp_path, fs_impl):
    assert fs_impl.list_files(str(tmp_path / "nope")) == []
    d = str(tmp_path / "d")
    fs_impl.makedirs(d)
    h = fs_impl.create_new(os.path.join(d, "a-1"))
    h.write(b"abc")
    h.close()
    os.makedirs(os.path.join(d, "subdir"))  # dirs must be skipped
    assert fs_impl.list_files(d) == [("a-1", 3)]
    assert fs_impl.exists(os.path.join(d, "a-1"))
    assert not fs_impl.exists(os.path.join(d, "a-2"))


def test_arrowfs_pickles_without_handle(tmp_path):
    """Executor shipping: the pickled ArrowStoreFS carries only its spec;
    the FileSystem handle is rebuilt lazily in the new 'process'."""
    fs = ArrowStoreFS("local")
    fs._filesystem()  # materialize the handle driver-side
    clone = pickle.loads(pickle.dumps(fs))
    assert clone._fs is None and clone.fs_spec == "local"
    d = str(tmp_path / "p")
    clone.makedirs(d)
    assert clone.list_files(d) == []


def test_fs_for_path_scheme_selection():
    assert isinstance(fs_for_path("/plain/dir"), LocalStoreFS)
    hdfs = fs_for_path("hdfs://nn:8020/warehouse/out")
    assert isinstance(hdfs, ArrowStoreFS)
    assert hdfs.fs_spec == "hdfs://nn:8020"
    # object stores cannot append: the sink refuses them at selection
    with pytest.raises(ValueError, match="unsupported sink filesystem scheme"):
        fs_for_path("s3://bucket/x")
    with pytest.raises(ValueError, match="'gs'"):
        fs_for_path("gs://bucket/x")


def test_strip_scheme():
    assert _strip_scheme("hdfs://nn:8020/a/b") == "/a/b"
    assert _strip_scheme("hdfs://nn:8020") == "/"
    assert _strip_scheme("/a/b") == "/a/b"
    assert _strip_scheme("relative/x") == "relative/x"


def test_arrowfs_authority_guard(tmp_path):
    """r8 verdict nit: _strip_scheme silently drops the URI
    authority, so an adapter bound to one namenode handed a path on
    another would operate on the wrong cluster. The adapter now
    refuses cross-authority (and cross-scheme) paths."""
    hdfs = ArrowStoreFS("hdfs://nn-a:8020")
    # matching authority resolves; foreign authority/scheme refuse
    assert hdfs._resolve("hdfs://nn-a:8020/data/x") == "/data/x"
    assert hdfs._resolve("/data/x") == "/data/x"  # bare paths pass
    with pytest.raises(ValueError, match="nn-b"):
        hdfs._resolve("hdfs://nn-b:8020/data/x")
    with pytest.raises(ValueError, match="different cluster"):
        hdfs._resolve("s3://bucket/data/x")

    local = ArrowStoreFS("local")
    assert local._resolve(str(tmp_path / "f")) == str(tmp_path / "f")
    assert local._resolve(f"file://{tmp_path}/f") == f"{tmp_path}/f"
    with pytest.raises(ValueError, match="local filesystem"):
        local._resolve("hdfs://nn-a:8020/data/x")


def test_arrowfs_local_create_new_is_o_excl(tmp_path):
    """r8 ADVICE: on the local backend (no HDFS lease protection)
    create_new must be a true O_EXCL create — the kernel refuses the
    second creator even if an exists-check raced, and an existing
    file is never truncated."""
    fs = ArrowStoreFS("local")
    p = str(tmp_path / "excl.txt")
    h = fs.create_new(p)
    h.write(b"original")
    h.close()
    with pytest.raises(FileExistsError):
        fs.create_new(p)
    with open(p, "rb") as f:
        assert f.read() == b"original"  # never truncated
