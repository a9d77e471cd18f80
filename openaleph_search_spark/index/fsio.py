"""Filesystem adapter for all side-channel index I/O.

The index layout is written by TWO actors: Spark jobs (postings,
doc_meta, tombstones — Spark already routes those through Hadoop FS
given a URI) and direct writes from driver/executor Python (meta.json,
per-partition manifests, field-stat partials, SPIMI run files). The
direct writes used to assume a shared POSIX filesystem — fatal on a
real cluster where driver and executors only share an object store /
HDFS. ``FsIO`` routes them through ``pyarrow.fs`` instead, resolved
from the index URI (``file://``, ``hdfs://``, ``s3://``, … — plain
paths stay on the local filesystem), and is picklable so executors can
carry it inside task closures.

Write discipline: every file is written to a uniquely-suffixed temp
name and ``move``d into place — atomic on local/HDFS, and safe under
speculative task attempts (two attempts produce identical deterministic
bytes; last rename wins). The temp name starts with ``.``, so a temp
file a crash leaves behind is skipped by every reader: Spark and
pyarrow datasets ignore hidden names, and the listings match on the
``.parquet``/``.json`` suffix."""
from __future__ import annotations

import posixpath
import uuid

from pyarrow import fs as pafs


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


class FsIO:
    def __init__(self, root_uri: str):
        self.root = root_uri.rstrip("/")
        self.fs, self.root_path = resolve(self.root)

    def path(self, uri: str) -> str:
        """Index-URI → filesystem-internal path."""
        if not uri.startswith(self.root):
            raise ValueError(f"{uri} outside index root {self.root}")
        return self.root_path + uri[len(self.root):]

    # -- directories ----------------------------------------------------------
    def mkdirs(self, uri: str) -> None:
        self.fs.create_dir(self.path(uri), recursive=True)

    def isdir(self, uri: str) -> bool:
        info = self.fs.get_file_info(self.path(uri))
        return info.type == pafs.FileType.Directory

    def listdir(self, uri: str) -> list[str]:
        """Base names of entries; [] when the directory is absent."""
        sel = pafs.FileSelector(self.path(uri), allow_not_found=True)
        return [i.base_name for i in self.fs.get_file_info(sel)]

    def delete_dir(self, uri: str, missing_ok: bool = False) -> None:
        try:
            self.fs.delete_dir(self.path(uri))
        except FileNotFoundError:
            if not missing_ok:
                raise

    def move(self, src_uri: str, dst_uri: str) -> None:
        self.fs.move(self.path(src_uri), self.path(dst_uri))

    # -- files ----------------------------------------------------------------
    def exists(self, uri: str) -> bool:
        info = self.fs.get_file_info(self.path(uri))
        return info.type != pafs.FileType.NotFound

    def read_bytes(self, uri: str) -> bytes:
        with self.fs.open_input_stream(self.path(uri)) as f:
            return f.read()

    def _write_atomic(self, uri: str, write) -> None:
        """``write(tmp)`` writes the file under a hidden temp name in
        the target's directory; one move then publishes it."""
        p = self.path(uri)
        d, name = posixpath.split(p)
        tmp = posixpath.join(d, f".{name}.tmp-{uuid.uuid4().hex[:8]}")
        write(tmp)
        self.fs.move(tmp, p)

    def write_bytes_atomic(self, uri: str, data: bytes) -> None:
        def write(tmp):
            with self.fs.open_output_stream(tmp) as f:
                f.write(data)
        self._write_atomic(uri, write)

    def delete_file(self, uri: str) -> None:
        self.fs.delete_file(self.path(uri))

    def file_size(self, uri: str) -> int:
        return self.fs.get_file_info(self.path(uri)).size or 0

    def read_parquet(self, uri: str):
        import pyarrow.parquet as pq
        return pq.read_table(self.path(uri), filesystem=self.fs)

    def write_parquet_atomic(self, table, uri: str) -> None:
        """Written without schema metadata: pandas' metadata would
        otherwise sit in every footer twice (raw and inside
        ``ARROW:schema``), and no reader uses it."""
        import pyarrow.parquet as pq
        self._write_atomic(uri, lambda tmp: pq.write_table(
            table.replace_schema_metadata(None), tmp, filesystem=self.fs))
