"""Rename-based LogStore (HDFS + Azure): the commit protocol's
put-if-absent via temp-file + atomic exclusive rename —
``HDFSLogStore.scala:35-55`` semantics, shared by Azure blob/ADLS
(``AzureLogStore.scala``: "Rename without overwrite is atomic;
list-after-write is consistent" — its write IS ``writeWithRename``),
so ``hdfs://``, ``abfs(s)://`` and ``wasb(s)://`` all bind here
through per-scheme client factories.

HDFS gives the two guarantees the reference store builds from
(HDFSLogStore.scala class doc): ``FileContext.rename`` is atomic, and
with ``Options.Rename.NONE`` it FAILS when the destination exists; file
listings are consistent. Put-if-absent is therefore: write the commit
body to a unique temp name in the log directory, then rename it to
``N.json`` without overwrite — the namenode arbitrates concurrent
committers, exactly like the reference (and unlike S3, where the
arbiter is a conditional PUT — see s3store.py).

The store talks to HDFS through a small Hadoop-FileSystem-shaped client
interface (:class:`HadoopFsClient`); the real binding wraps
``pyarrow.fs.HadoopFileSystem`` (import-guarded — libhdfs is not in
every environment), and tests drive the identical store logic through a
local-filesystem client whose rename has true HDFS semantics (atomic,
exclusive via hard-link). The LogStore seam is the point: everything
above the store — optimistic commit, retry, conflict detection, P&M
replay, checkpoints — runs unchanged on ``hdfs://`` URIs.

Scope mirrors s3store.py: this serves the METADATA plane and the
engine-side file-plane helpers; DATA files still go through Spark's own
Hadoop client (``spark.read.parquet("hdfs://...")``).
"""

from __future__ import annotations

import posixpath
import uuid
from typing import Callable, Dict, List, Optional, Tuple

from .logstore import FileAlreadyExistsError, LogStore


class HadoopFsClient:
    """Minimal Hadoop-FileSystem-shaped surface the store needs. Paths
    are full ``hdfs://authority/...`` URIs. ``rename`` must be ATOMIC
    and, with ``overwrite=False``, raise :class:`FileExistsError` when
    the destination exists (FileContext.rename + Options.Rename.NONE).
    """

    def create(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def read(self, path: str) -> bytes:
        raise NotImplementedError

    def rename(self, src: str, dst: str, overwrite: bool = False) -> None:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def delete_tree(self, dir_path: str) -> None:
        raise NotImplementedError

    def list_dir(self, dir_path: str) -> List[str]:
        raise NotImplementedError

    def list_files_recursive(self, dir_path: str) -> List[str]:
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def stat(self, path: str) -> Tuple[int, int]:
        """(size_bytes, mtime_ms)."""
        raise NotImplementedError

    def copy_file(self, src: str, dst: str) -> None:
        """Default copy buffers whole files; clients backing real
        remote filesystems should override with a streaming copy."""
        self.create(dst, self.read(src))


class PyArrowHdfsClient(HadoopFsClient):
    """Real binding over ``pyarrow.fs.HadoopFileSystem`` (requires
    libhdfs at runtime). ``rename`` maps to ``FileSystem.move``, which
    on HDFS fails when the destination exists — the exclusive-rename
    contract — so put-if-absent needs no extra locking."""

    def __init__(self, authority: str) -> None:
        from pyarrow import fs as pafs  # ImportError surfaces to caller
        host, _, port = authority.partition(":")
        self._fs = pafs.HadoopFileSystem(host or "default",
                                         int(port) if port else 8020)
        self._authority = authority

    def _p(self, path: str) -> str:
        # hdfs://auth/a/b -> /a/b (the pyarrow fs is already bound to
        # the authority)
        rest = path.split("://", 1)[1]
        slash = rest.find("/")
        return rest[slash:] if slash >= 0 else "/"

    def create(self, path: str, data: bytes) -> None:
        p = self._p(path)
        parent = posixpath.dirname(p)
        self._fs.create_dir(parent, recursive=True)
        with self._fs.open_output_stream(p) as f:
            f.write(data)

    def read(self, path: str) -> bytes:
        with self._fs.open_input_stream(self._p(path)) as f:
            return f.read()

    def rename(self, src: str, dst: str, overwrite: bool = False) -> None:
        if overwrite:
            # hdfsRename (FileSystem.rename) refuses an existing
            # destination, so overwrite is delete-then-move — not
            # atomic, matching the reference's Azure store contract
            # ("create-with-overwrite ... caller must handle partial
            # files", AzureLogStore.scala isPartialWriteVisible=true);
            # the only overwrite callers are _last_checkpoint (a hint
            # with corruption recovery) and unique-name publishes.
            if self.exists(dst):
                self._fs.delete_file(self._p(dst))
            self._fs.move(self._p(src), self._p(dst))
            return
        if self.exists(dst):
            # fast path: surface the typed error without an RPC failure
            raise FileExistsError(dst)
        try:
            self._fs.move(self._p(src), self._p(dst))
        except OSError as e:
            # The exists() pre-check is NOT the mutual exclusion — the
            # namenode's rename is. A concurrent committer can win
            # between check and move, in which case pyarrow raises an
            # untyped IO error; convert it so the optimistic-commit
            # retry loop (txn.py, catches FileAlreadyExistsError only)
            # treats the loss as a normal race, not a crash.
            if self.exists(dst):
                raise FileExistsError(dst) from e
            raise

    def exists(self, path: str) -> bool:
        from pyarrow import fs as pafs
        info = self._fs.get_file_info(self._p(path))
        return info.type != pafs.FileType.NotFound

    def delete(self, path: str) -> None:
        self._fs.delete_file(self._p(path))

    def delete_tree(self, dir_path: str) -> None:
        from pyarrow import fs as pafs
        info = self._fs.get_file_info(self._p(dir_path))
        if info.type != pafs.FileType.NotFound:
            self._fs.delete_dir(self._p(dir_path))

    def list_dir(self, dir_path: str) -> List[str]:
        from pyarrow import fs as pafs
        sel = pafs.FileSelector(self._p(dir_path), recursive=False,
                                allow_not_found=True)
        return sorted(posixpath.basename(i.path)
                      for i in self._fs.get_file_info(sel))

    def list_files_recursive(self, dir_path: str) -> List[str]:
        from pyarrow import fs as pafs
        base = self._p(dir_path).rstrip("/") + "/"
        sel = pafs.FileSelector(self._p(dir_path), recursive=True,
                                allow_not_found=True)
        return sorted(i.path[len(base):]
                      for i in self._fs.get_file_info(sel)
                      if i.type == pafs.FileType.File)

    def is_dir(self, path: str) -> bool:
        from pyarrow import fs as pafs
        return (self._fs.get_file_info(self._p(path)).type
                == pafs.FileType.Directory)

    def stat(self, path: str) -> Tuple[int, int]:
        from pyarrow import fs as pafs
        info = self._fs.get_file_info(self._p(path))
        if info.type == pafs.FileType.NotFound:
            raise FileNotFoundError(path)
        return info.size, int(info.mtime.timestamp() * 1000)

    def copy_file(self, src: str, dst: str) -> None:
        # Chunked stream copy — deep CLONE copies multi-GB data files
        # through this path, which must never materialize a whole file
        # in worker memory.
        p = self._p(dst)
        self._fs.create_dir(posixpath.dirname(p), recursive=True)
        with self._fs.open_input_stream(self._p(src)) as r, \
                self._fs.open_output_stream(p) as w:
            while True:
                chunk = r.read(8 << 20)
                if not chunk:
                    break
                w.write(chunk)


class HdfsLogStore(LogStore):
    """``hdfs://`` log store: temp-file + exclusive-rename put-if-absent
    over a :class:`HadoopFsClient` (HDFSLogStore.scala:35-55)."""

    def __init__(self, client: HadoopFsClient) -> None:
        self._client = client

    # ---------------------------------------------------------- log files

    def read_bytes(self, path: str) -> bytes:
        return self._client.read(path)

    def write_bytes(self, path: str, data: bytes,
                    overwrite: bool = False) -> None:
        parent = posixpath.dirname(path)
        tmp = f"{parent}/.tmp_{uuid.uuid4().hex}"
        self._client.create(tmp, data)
        renamed = False
        try:
            try:
                self._client.rename(tmp, path, overwrite=overwrite)
                renamed = True
            except FileExistsError as e:
                raise FileAlreadyExistsError(path) from e
        finally:
            if not renamed and self._client.exists(tmp):
                self._client.delete(tmp)

    def list_from(self, dir_path: str, start_name: str = "") -> List[str]:
        return sorted(n for n in self._client.list_dir(dir_path)
                      if n >= start_name and not n.startswith(".tmp_"))

    def exists(self, path: str) -> bool:
        return self._client.exists(path)

    def delete(self, path: str) -> None:
        self._client.delete(path)

    def mtime_ms(self, path: str) -> int:
        return self._client.stat(path)[1]

    # ------------------------------------------------- file-plane publish

    def rename(self, src: str, dst: str) -> None:
        self._client.rename(src, dst, overwrite=True)

    def list_dir(self, dir_path: str) -> List[str]:
        return sorted(self._client.list_dir(dir_path))

    def remove_tree(self, dir_path: str) -> None:
        self._client.delete_tree(dir_path)

    def list_files_recursive(self, dir_path: str) -> List[str]:
        return sorted(self._client.list_files_recursive(dir_path))

    def is_dir(self, path: str) -> bool:
        return self._client.is_dir(path)

    def copy_file(self, src: str, dst: str) -> None:
        self._client.copy_file(src, dst)

    def stat(self, path: str) -> Tuple[int, int]:
        return self._client.stat(path)


# The same temp-file + atomic-exclusive-rename store serves every
# Hadoop-FileSystem scheme whose rename is atomic and exclusive — HDFS
# (HDFSLogStore.scala:35-55) and Azure blob/ADLS (AzureLogStore.scala:
# "Rename without overwrite is atomic; list-after-write is consistent",
# writeWithRename) — so azure schemes bind to HdfsLogStore through the
# same client seam; a deployment plugs its Hadoop client per scheme.
RENAME_SCHEMES = ("hdfs", "abfs", "abfss", "wasb", "wasbs")

# One store per (scheme, authority); dict.setdefault is atomic under
# the GIL — no module lock, same rationale as the s3/memory stores.
_rename_stores: Dict[Tuple[str, str], HdfsLogStore] = {}
_client_factories: Dict[str, Callable[[str], HadoopFsClient]] = {}


def register_rename_client_factory(
        scheme: str,
        factory: Optional[Callable[[str], HadoopFsClient]]) -> None:
    """Bind how ``<scheme>://<authority>`` resolves to a Hadoop-FS
    client — the test seam (a local-FS fake) and the hook for real
    bindings (WebHDFS, azure-storage, ...). ``None`` unbinds. Clears
    the store cache so the next open rebinds."""
    if factory is None:
        _client_factories.pop(scheme, None)
    else:
        _client_factories[scheme] = factory
    _rename_stores.clear()


def rename_log_store_for(path: str) -> HdfsLogStore:
    scheme = path.split("://", 1)[0]
    authority = path.split("://", 1)[1].split("/", 1)[0]
    store = _rename_stores.get((scheme, authority))
    if store is None:
        factory = _client_factories.get(scheme)
        if factory is not None:
            client = factory(authority)
        elif scheme == "hdfs":
            try:
                client = PyArrowHdfsClient(authority)
            except ImportError as e:
                raise NotImplementedError(
                    "hdfs:// log store needs pyarrow's HadoopFileSystem "
                    "(libhdfs) or a client registered via "
                    "register_rename_client_factory('hdfs', ...)") from e
        else:
            raise NotImplementedError(
                f"{scheme}:// log store needs a Hadoop-FS client "
                f"registered via register_rename_client_factory"
                f"({scheme!r}, factory)")
        store = _rename_stores.setdefault((scheme, authority),
                                          HdfsLogStore(client))
    return store
