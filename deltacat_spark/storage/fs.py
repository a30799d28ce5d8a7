"""Filesystem seam for the table format (commit log, checkpoints,
transaction markers, vacuum, file staging, footer reads, small data
files).

The reference catalog runs against any PyArrow filesystem
(`deltacat/catalog/model/properties.py` resolves a `filesystem` from the
root URI); this module is the equivalent seam for deltacat_spark. The
control plane goes through it — a few KB of JSON per commit, listings,
and staging copies — and so does the driver's share of the data plane:
parquet footer reads for commit stats and the driver-side Arrow writer
for small in-memory payloads (`catalog/io.py`,
``open_output_binary``). Scans and every other write are executed by
Spark against ``spark_path`` URIs and work on any Hadoop-supported store
(file://, s3a://, gs://, abfs://) without this seam.

Two implementations:

``LocalFS``
    POSIX. ``put_if_absent`` is write-temp + ``os.link`` (atomic; EEXIST
    is the collision signal). This is the default and the fast path.

``ArrowFS``
    Wraps any ``pyarrow.fs.FileSystem`` (S3FileSystem, GcsFileSystem,
    HadoopFileSystem, LocalFileSystem, SubTreeFileSystem …).
    ``put_if_absent`` semantics per backend:
    * S3: real conditional PUT needs ``If-None-Match:*`` which pyarrow
      does not expose — so this impl does open-for-exclusive-write where
      the backend supports it and otherwise falls back to
      check-then-write, which is atomic only against writers honoring
      the same protocol. For multi-writer S3 production use, front the
      commit slot with a conditional-PUT shim or a commit service
      (Delta/S3A commit-coordinator style); the primitive is isolated
      HERE so that swap touches one method.
    * GCS: ``x-goog-if-generation-match: 0`` (same story).
    * HDFS/local: create-exclusive is native.

Paths passed to a filesystem object are OS paths for LocalFS and
bucket-relative paths for object stores — the catalog joins with
``posixpath`` semantics via ``fs.join``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Iterator


class LocalFS:
    """POSIX implementation — the default backend."""

    # Shallow CLONE stores file references as ABSOLUTE paths and relies
    # on `join(clone_root, abs_path)` passing the absolute path through
    # untouched — true for os.path.join on POSIX, false for the
    # bucket-relative paths of object-store backends (no absolute
    # marker exists there, so ArrowFS sets this False and clone_table
    # falls back to a deep copy).
    supports_absolute_refs = True

    # -- layout --------------------------------------------------------
    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def relpath(self, path: str, start: str) -> str:
        return os.path.relpath(path, start)

    # -- read ----------------------------------------------------------
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_dir(self, path: str) -> list[str]:
        """Base names of directory entries ([] if missing)."""
        if not os.path.isdir(path):
            return []
        return os.listdir(path)

    def read_text(self, path: str) -> str:
        with open(path, encoding="utf-8") as fh:
            return fh.read()

    def open_binary(self, path: str):
        """Binary file-like for footer reads (pyarrow-compatible)."""
        return open(path, "rb")

    def walk_files(self, root: str) -> Iterator[str]:
        for dirpath, _d, fnames in os.walk(root):
            for fn in fnames:
                yield os.path.join(dirpath, fn)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    # -- write ---------------------------------------------------------
    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def open_output_binary(self, path: str):
        """Binary output stream for a new file (parents created). Not
        atomic: data files land in a fresh per-commit directory and are
        garbage until a commit references them."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return open(path, "wb")

    def write_text_atomic(self, path: str, payload: str) -> None:
        """Readers never observe a partial file (same-dir tmp + rename)."""
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload)
        os.replace(tmp, path)

    def put_if_absent(self, path: str, payload: str) -> bool:
        """Atomically create `path` with `payload`; False if it exists.

        Write-temp + hard-link: the link either transfers the fully
        fsynced file into the slot or fails with EEXIST — no partial
        reads, no lost-update window."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(
            os.path.dirname(path), f".tmp-{uuid.uuid4().hex}"
        )
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def create_exclusive(self, path: str) -> bool:
        """Create an empty marker file; False if it already exists."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        os.close(fd)
        return True

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def delete(self, path: str) -> None:
        os.unlink(path)

    def delete_dir(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def copy_in(self, local_src: str, dst: str) -> None:
        """Stage a driver-local file into the store."""
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(local_src, dst)

    # -- Spark bridge --------------------------------------------------
    def spark_path(self, path: str) -> str:
        """Path as Spark's Hadoop layer should see it."""
        return path


class ArrowFS:
    """Adapter over a ``pyarrow.fs.FileSystem`` (see module docstring for
    per-backend ``put_if_absent`` semantics)."""

    # Bucket-relative paths ('bucket/key') carry no absolute marker:
    # `join(clone_root, path)` would re-root a cloned reference under the
    # clone and break every read. clone_table deep-copies instead.
    supports_absolute_refs = False

    def __init__(self, fs, spark_prefix: str = ""):
        # `spark_prefix` maps the pyarrow-relative path onto the URI
        # scheme Spark needs (e.g. "s3a://bucket" for S3FileSystem paths
        # of the form "bucket/key" minus the bucket).
        self.fs = fs
        self.spark_prefix = spark_prefix

    def join(self, *parts: str) -> str:
        return "/".join(p.strip("/") if i else p.rstrip("/")
                        for i, p in enumerate(parts) if p != "")

    def relpath(self, path: str, start: str) -> str:
        start = start.rstrip("/") + "/"
        if not path.startswith(start):
            raise ValueError(f"{path!r} not under {start!r}")
        return path[len(start):]

    def _info(self, path: str):
        from pyarrow.fs import FileSelector  # noqa: F401

        return self.fs.get_file_info(path)

    def exists(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self._info(path).type != FileType.NotFound

    def isdir(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self._info(path).type == FileType.Directory

    def list_dir(self, path: str) -> list[str]:
        from pyarrow.fs import FileSelector, FileType

        if not self.isdir(path):
            return []
        infos = self.fs.get_file_info(
            FileSelector(path, recursive=False, allow_not_found=True)
        )
        return [i.base_name for i in infos if i.type != FileType.NotFound]

    def read_text(self, path: str) -> str:
        with self.fs.open_input_stream(path) as fh:
            return fh.read().decode("utf-8")

    def open_binary(self, path: str):
        return self.fs.open_input_file(path)

    def walk_files(self, root: str) -> Iterator[str]:
        from pyarrow.fs import FileSelector, FileType

        infos = self.fs.get_file_info(
            FileSelector(root, recursive=True, allow_not_found=True)
        )
        for i in infos:
            if i.type == FileType.File:
                yield i.path

    def mtime(self, path: str) -> float:
        mt = self._info(path).mtime
        return mt.timestamp() if mt is not None else 0.0

    def size(self, path: str) -> int:
        return self._info(path).size

    def makedirs(self, path: str) -> None:
        self.fs.create_dir(path, recursive=True)

    def open_output_binary(self, path: str):
        parent = path.rsplit("/", 1)[0]
        if parent and parent != path:
            self.fs.create_dir(parent, recursive=True)
        return self.fs.open_output_stream(path)

    def write_text_atomic(self, path: str, payload: str) -> None:
        # Object-store PUT is atomic per object; for directory-style
        # backends pyarrow's output stream replaces on close.
        parent = path.rsplit("/", 1)[0]
        if parent and parent != path:
            self.fs.create_dir(parent, recursive=True)
        with self.fs.open_output_stream(path) as fh:
            fh.write(payload.encode("utf-8"))

    def put_if_absent(self, path: str, payload: str) -> bool:
        # Best-effort conditional create (see module docstring): atomic
        # on backends with exclusive-create; check-then-write elsewhere.
        # NOTE this weakness is inherited by EVERYTHING built on the
        # conditional-create primitive: the commit log's version-slot
        # MVCC *and* TxnMarkers.begin (cross-table atomic seal). On a
        # multi-writer object store, front both with a backend
        # conditional-PUT shim (S3 If-None-Match / GCS
        # if-generation-match) by overriding this one method.
        if self.exists(path):
            return False
        self.write_text_atomic(path, payload)
        return True

    def create_exclusive(self, path: str) -> bool:
        return self.put_if_absent(path, "")

    def rename(self, src: str, dst: str) -> None:
        self.fs.move(src, dst)

    def delete(self, path: str) -> None:
        self.fs.delete_file(path)

    def delete_dir(self, path: str) -> None:
        from pyarrow.fs import FileType

        if self._info(path).type != FileType.NotFound:
            self.fs.delete_dir(path)

    def copy_in(self, local_src: str, dst: str) -> None:
        parent = dst.rsplit("/", 1)[0]
        if parent and parent != dst:
            self.fs.create_dir(parent, recursive=True)
        with open(local_src, "rb") as src, self.fs.open_output_stream(
            dst
        ) as out:
            shutil.copyfileobj(src, out)

    def spark_path(self, path: str) -> str:
        return self.spark_prefix + path if self.spark_prefix else path


LOCAL_FS = LocalFS()
