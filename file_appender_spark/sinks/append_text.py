"""The append-text sink: the reference's write protocol re-expressed
for Spark (SURVEY.md §2 Part A rows A1-A15, §2.1).

Protocol (AppendOutputFormat.java):

- driver-side scan of the output dir elects "incomplete" files: name
  matches the prefix, under the size threshold, younger than the age
  threshold measured against the run's logical start time
  (:80-92, :75-76, :87-88);
- incomplete files sort by (prefix, createTime) and task *i* appends
  to the *i*-th one, or creates ``prefix-%05d(partition)-startTime``
  (:94-99, name format :53-57, :149-151);
- the writer lazily appends-or-creates on the first record (:208-221),
  counts only its own bytes, checks size rotation BEFORE each write —
  so a file may exceed the threshold by one record (:214-218, the
  documented off-by-one, SURVEY.md §2.1) — and rotates to
  ``prefix-<now>`` with a retry-on-exists loop (:223-242);
- commit is a no-op: writes are visible immediately, at-least-once on
  task retry (:107-135). The idiomatic Spark sinks (parquet/text)
  keep Spark's atomic commit instead; this compat sink documents the
  weaker semantics on purpose.

Sane-behavior deviations (each documented in SURVEY.md §2.1):
- threshold 0 disables rotation in BOTH the scan filter and the
  per-record check (the reference busy-loops there);
- age threshold carries MINUTES (the reference constant is misnamed).

Filesystem access goes through the engine's one seam,
:class:`~file_appender_spark.storefs.StoreFS` (storefs.py) — the same
adapters the incremental stores use: ``LocalStoreFS`` (POSIX append —
the A15 local-mode shim the reference itself uses in tests,
RawLocalFileSystem, AppendOutputFormat.java:66-72) and
``ArrowStoreFS`` (pyarrow.fs — HadoopFileSystem for ``hdfs://``
output dirs, the filesystem the reference's protocol actually
targets). ``fs_for_path`` selects one from the output dir; the sink
uses only ``list_files``, ``makedirs``, ``exists``, ``open_append``
and ``create_new``. The A8-A13 protocol suite runs against BOTH
adapters in tests/test_append_fs.py.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame

from file_appender_spark.config import AppendSinkConfig
from file_appender_spark.serialize import serialized
from file_appender_spark.storefs import StoreFS, store_fs_for


@dataclass(frozen=True)
class FileInfo:
    """Parsed output file name: ``<prefix>-...-<createTime>`` — the
    createTime is the final ``-`` token (AppendOutputFormat.java:153-158)."""

    name: str
    create_time_ms: int
    size: int

    @staticmethod
    def parse(name: str, size: int, prefix: str) -> "FileInfo | None":
        """The reference parses any ``<prefix>-<createTime>`` name and
        elects it when the parsed prefix merely startsWith the
        configured one (AppendOutputFormat.java:86, fromFileName
        :153-158). Unparseable names are skipped gracefully (sane
        deviation: the reference would throw NumberFormatException)."""
        if "-" not in name:
            return None
        name_prefix, tail = name.rsplit("-", 1)
        if not name_prefix.startswith(prefix):
            return None
        if not re.fullmatch(r"\d+", tail):
            return None
        return FileInfo(name, int(tail), size)


def fs_for_path(path: str) -> StoreFS:
    """Scheme-based filesystem selection for the sink: ``hdfs://``
    URIs get the pyarrow Hadoop adapter, bare paths the POSIX shim
    (``store_fs_for``) — so `append_text` against an HDFS output_dir
    needs no explicit fs argument. Any other scheme is refused loudly
    (the storefs discipline, r9 verdict task 3): the sink's whole
    protocol is per-file APPEND, which object stores do not support —
    an ``s3://`` output_dir would otherwise fail deep inside a task
    instead of naming the real constraint."""
    if "://" in path and not path.startswith("hdfs://"):
        scheme = path.split("://", 1)[0]
        raise ValueError(
            f"unsupported sink filesystem scheme {scheme!r} for {path!r}: "
            "the append sink requires per-file append (POSIX / HDFS), "
            "which object stores such as s3:// do not provide. Use a "
            "bare local path or hdfs://"
        )
    return store_fs_for(path)


def elect_incomplete_files(
    files: list[tuple[str, int]],
    config: AppendSinkConfig,
    run_ts_ms: int,
) -> list[str]:
    """Driver-side election (A8): keep prefix-matching files that are
    under the size threshold AND younger than the age threshold, sorted
    by (name-prefix, createTime) (AppendOutputFormat.java:80-97,
    sort :160-167)."""
    out: list[FileInfo] = []
    for name, size in files:
        info = FileInfo.parse(name, size, config.file_prefix)
        if info is None:
            continue
        if config.size_threshold_mb != 0 and info.size >= config.size_threshold_bytes:
            continue
        if (
            config.age_threshold_min != 0
            and run_ts_ms - info.create_time_ms >= config.age_threshold_ms
        ):
            continue
        out.append(info)
    out.sort(key=lambda f: (f.name.rsplit("-", 1)[0], f.create_time_ms, f.name))
    return [f.name for f in out]


class _PartitionWriter:
    """Executor-side lazy append-or-create writer with size rotation
    (A10-A11). Bytes are counted per-writer only — pre-existing file
    bytes do not count toward rotation (the reference's counter starts
    at 0 per task, AppendOutputFormat.java:199)."""

    def __init__(
        self,
        directory: str,
        assigned: str | None,
        partition_id: int,
        config: AppendSinkConfig,
        run_ts_ms: int,
        fs: StoreFS,
    ):
        self.directory = directory
        self.assigned = assigned
        self.partition_id = partition_id
        self.config = config
        self.run_ts_ms = run_ts_ms
        self.fs = fs
        self.handle = None
        self.bytes_written = 0
        # the name-prefix of the file this writer owns (everything
        # before the trailing -createTime); rotation PRESERVES it,
        # matching new FileInfo(fileInfo.prefix, now) in
        # AppendOutputFormat.java:228 — e.g. task 3 rotates
        # file-00003-<t0> to file-00003-<now>, not file-<now>
        self.name_prefix = f"{config.file_prefix}-{partition_id:05d}"

    def _open_initial(self):
        if self.assigned is not None:
            path = os.path.join(self.directory, self.assigned)
            if self.fs.exists(path):
                self.name_prefix = self.assigned.rsplit("-", 1)[0]
                self.handle = self.fs.open_append(path)
                return
        # create prefix-%05d-startTime (AppendOutputFormat.java:53-57).
        # append-or-create, not create: the reference checks existence
        # at first write (AppendOutputFormat.java:208-221), which is
        # what makes a RETRIED task append after its failed attempt's
        # partial writes instead of crashing — the at-least-once
        # contract of the no-op committer (A13, java:121-123)
        path = os.path.join(self.directory, f"{self.name_prefix}-{self.run_ts_ms}")
        if self.fs.exists(path):
            self.handle = self.fs.open_append(path)
        else:
            self.handle = self.fs.create_new(path)

    def _rotate(self):
        # close current, create <name_prefix>-<now>; on create race
        # retry with a fresh timestamp (AppendOutputFormat.java:223-242)
        self.handle.close()
        ts = max(int(time.time() * 1000), self.run_ts_ms)
        while True:
            path = os.path.join(self.directory, f"{self.name_prefix}-{ts}")
            try:
                self.handle = self.fs.create_new(path)
                break
            except FileExistsError:
                ts += 1
        self.bytes_written = 0

    def write_line(self, line: str):
        if self.handle is None:
            self._open_initial()
        data = (line + "\n").encode("utf-8")
        # rotation check BEFORE the write, using this writer's own
        # byte count — the documented off-by-one (SURVEY.md §2.1):
        # a file can exceed the threshold by up to one record
        if (
            self.config.size_threshold_mb != 0
            and self.bytes_written > self.config.size_threshold_bytes
        ):
            self._rotate()
        self.handle.write(data)
        # count only the record bytes, NOT the newline: the reference
        # accumulates value.getLength() (AppendOutputFormat.java:
        # 217-219) while writeln appends the separator outside the
        # counter — so its rotation point ignores one byte per record.
        self.bytes_written += len(data) - 1

    def close(self):
        if self.handle is not None:
            self.handle.close()
            self.handle = None


def append_text(
    df: DataFrame,
    config: AppendSinkConfig,
    run_ts_ms: int | None = None,
    fs: StoreFS | None = None,
) -> None:
    """Write ``df`` as delimited text lines, appending into existing
    under-threshold files (the reference's full A1-A15 protocol).

    ``run_ts_ms`` is the logical start time of the run — age is
    measured against it, NEVER wall-clock (FileAppenderSink.java:
    114-115; pass it explicitly for deterministic behavior).

    Scale notes: the dir scan + election is one driver-side
    ``listStatus`` (no data motion); each task streams its partition
    through one file handle — the job stays map-only exactly like the
    reference's. Correctness requires at most one task per elected
    file index, which Spark's task-per-partition model guarantees
    — but only with speculative execution off: a speculative copy of
    a task would append the same partition into the same elected file
    concurrently. A session with ``spark.speculation=true`` is
    therefore refused with a ValueError (the at-least-once contract
    of the reference's no-op committer covers retries, not
    concurrent attempts).
    """
    if df.sparkSession.conf.get("spark.speculation", "false").lower() == "true":
        raise ValueError(
            "append_text requires spark.speculation=false: a speculative "
            "task attempt would append the same partition into the same "
            "elected file concurrently with the original attempt"
        )
    fs = fs or fs_for_path(config.output_dir)
    run_ts_ms = int(time.time() * 1000) if run_ts_ms is None else run_ts_ms

    collector = config.validate(df.schema)
    collector.get_or_throw()

    out_schema = config.parsed_schema()
    lines = serialized(
        df,
        output_schema=out_schema,
        separator=config.field_separator,
        faithful_first_field=config.faithful_first_field,
    )

    fs.makedirs(config.output_dir)
    incomplete = elect_incomplete_files(
        fs.list_files(config.output_dir), config, run_ts_ms
    )

    directory = config.output_dir
    cfg = config

    exec_fs = fs  # ships to executors (filesystem impls carry no handles)

    def write_partition(pid: int, rows):
        writer = _PartitionWriter(
            directory,
            incomplete[pid] if pid < len(incomplete) else None,
            pid,
            cfg,
            run_ts_ms,
            exec_fs,
        )
        try:
            for row in rows:
                writer.write_line(row[0])
        finally:
            writer.close()
        return iter([])

    # mapPartitionsWithIndex: the partition id IS the file-election
    # index (reference: task id -> partition, AppendOutputFormat.java:78)
    lines.rdd.mapPartitionsWithIndex(write_partition).count()


def append_text_fast(
    df: DataFrame,
    output_dir: str,
    separator: str = ",",
    output_schema=None,
    faithful_first_field: bool = True,
) -> None:
    """The idiomatic fast path (SURVEY.md §7 M2): same serialization,
    but written through Spark's native text datasource with
    ``mode("append")`` — new files per run, atomic task commit. Use
    this when append-into-existing-files semantics aren't required."""
    serialized(
        df,
        output_schema=output_schema,
        separator=separator,
        faithful_first_field=faithful_first_field,
    ).write.mode("append").text(output_dir)
