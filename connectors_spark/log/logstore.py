"""LogStore: atomic, mutual-exclusion single-file writes + ordered listing,
plus the small filesystem surface the commit/checkpoint paths need.

Re-expresses the reference's storage layer
(``standalone/src/main/scala/io/delta/standalone/internal/storage/``:
``HadoopFileSystemLogStore.scala:37-63``, ``HDFSLogStore.scala:35-55``,
``S3SingleDriverLogStore.scala:32-60``, ``DelegatingLogStore.scala``,
``LogStoreProvider.scala``) for the engine's commit protocol.

The one primitive everything rests on is **put-if-absent**: writing commit
``N.json`` must fail if another writer already created it. On POSIX
filesystems we get this from ``os.link`` (hard-link a fully-written temp
file to the final name -- atomic and exclusive). Object stores use a
conditional-put (modeled here by ``InMemoryLogStore``, which implements
the same contract over a mutex'd dict -- the seam a real S3/GCS store
plugs into; reference semantics at ``S3SingleDriverLogStore.scala:32-60``).

Every filesystem touch of the LOG and of file PUBLICATION goes through
this interface -- never raw ``os`` calls in the commit path -- so
swapping the store swaps the deployment target. Scheme dispatch follows
``DelegatingLogStore``: ``register_log_store("s3", factory)`` binds a
scheme; ``default_log_store(path)`` resolves it.

This is engine infrastructure (driver-side for the log; the stateless
POSIX store is also shipped to executors inside the distributed publish
closure), not a Spark job.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
from typing import Callable, Dict, Iterable, List, Optional, Tuple


class FileAlreadyExistsError(FileExistsError):
    """Raised when put-if-absent loses the race (another committer won)."""


class LogStore:
    """Local/POSIX log store. Subclass per scheme (HDFS/S3/...) as needed."""

    # ---------------------------------------------------------- log files
    # A store implements two primitives, ``read_bytes`` and the atomic
    # ``write_bytes``; the line-based ``read``/``write`` of commit files
    # and checkpoint parquets alike go through them.

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes,
                    overwrite: bool = False) -> None:
        """Atomically write ``data`` to ``path``.

        overwrite=False -> put-if-absent (HadoopFileSystemLogStore.scala:37-63
        semantics): raise FileAlreadyExistsError if ``path`` exists.
        """
        parent = os.path.dirname(path)
        os.makedirs(parent, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=parent, prefix=".tmp_")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            if overwrite:
                os.replace(tmp, path)  # atomic on POSIX
                tmp = None
            else:
                try:
                    os.link(tmp, path)  # atomic create-exclusive
                except FileExistsError as e:
                    raise FileAlreadyExistsError(path) from e
        finally:
            if tmp is not None and os.path.exists(tmp):
                os.unlink(tmp)

    def read(self, path: str) -> List[str]:
        """The non-blank lines of a log file (universal newlines)."""
        text = self.read_bytes(path).decode("utf-8")
        if "\r" in text:
            text = text.replace("\r\n", "\n").replace("\r", "\n")
        return [ln for ln in text.split("\n") if ln.strip()]

    def read_head(self, path: str) -> Optional[str]:
        """First non-empty line of a log file — the history walk reads
        only each commit's CommitInfo line, and a commit can carry
        100k+ action lines. The POSIX store streams the file and stops
        at the first line; a store with another ``read_bytes`` backend
        reads the whole file through it."""
        if type(self).read_bytes is not LogStore.read_bytes:
            lines = self.read(path)
            return lines[0] if lines else None
        with open(path, "r", encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if line.strip():
                    return line
        return None

    def write(self, path: str, lines: Iterable[str],
              overwrite: bool = False) -> None:
        """Atomically write ``lines`` to ``path``, one per line; same
        contract as :meth:`write_bytes`."""
        self.write_bytes(path,
                         "".join(ln + "\n" for ln in lines).encode("utf-8"),
                         overwrite)

    def list_from(self, dir_path: str, start_name: str = "") -> List[str]:
        """Names in ``dir_path`` >= ``start_name``, lexically sorted
        (ordered listing contract of the reference log stores)."""
        if not os.path.isdir(dir_path):
            return []
        return sorted(n for n in os.listdir(dir_path)
                      if n >= start_name and not n.startswith(".tmp_"))

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def delete(self, path: str) -> None:
        os.unlink(path)

    def mtime_ms(self, path: str) -> int:
        return int(os.stat(path).st_mtime * 1000)

    # ------------------------------------------------- file-plane publish
    # Used by checkpoint publication and the distributed data-file
    # publish (writer.publish_plan). On POSIX these are renames; an
    # object-store subclass implements them as copy/put or writes
    # directly to final names.

    def rename(self, src: str, dst: str) -> None:
        """Move ``src`` over ``dst`` (replace-if-exists semantics; the
        callers generate unique destination names)."""
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)

    def list_dir(self, dir_path: str) -> List[str]:
        """Immediate child names of ``dir_path`` (no recursion)."""
        if not os.path.isdir(dir_path):
            return []
        return sorted(os.listdir(dir_path))

    def remove_tree(self, dir_path: str) -> None:
        shutil.rmtree(dir_path, ignore_errors=True)

    def list_files_recursive(self, dir_path: str) -> List[str]:
        """All file paths under ``dir_path``, RELATIVE to it (names only,
        no data I/O) — the staged-output listing primitive."""
        out: List[str] = []
        for root, _dirs, files in os.walk(dir_path):
            rel = os.path.relpath(root, dir_path)
            rel = "" if rel == "." else rel
            out.extend(os.path.join(rel, f) if rel else f for f in files)
        return sorted(out)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def copy_file(self, src: str, dst: str) -> None:
        """Copy one file (metadata preserved); overwrite-idempotent so
        distributed task retries are safe."""
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy2(src, dst)

    def stat(self, path: str) -> Tuple[int, int]:
        """(size_bytes, mtime_ms)."""
        st = os.stat(path)
        return st.st_size, int(st.st_mtime * 1000)


class InMemoryLogStore(LogStore):
    """Conditional-put log store over a mutex'd dict — the non-POSIX
    seam proof. Models an object store with atomic put-if-absent (no
    rename, no hard links): `write_bytes(overwrite=False)` is a single
    compare-and-insert under the lock, exactly the contract
    S3SingleDriverLogStore.scala:32-60 builds from its path lock +
    listing cache. Driver-local by design (like the reference's
    'SingleDriver' store): one store instance per authority, shared by
    every DeltaLog in the process."""

    def __init__(self) -> None:
        self._files: Dict[str, bytes] = {}
        self._mtimes: Dict[str, int] = {}
        self._lock = threading.Lock()

    # The streaming source ships connectors_spark modules to Python
    # workers by value; a raw Lock is unpicklable, and a worker-side
    # copy is a fresh (empty) driver-local store by design.
    def __getstate__(self):
        state = dict(self.__dict__)
        state.pop("_lock", None)
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()

    def read_bytes(self, path: str) -> bytes:
        with self._lock:
            if path not in self._files:
                raise FileNotFoundError(path)
            return self._files[path]

    def write_bytes(self, path: str, data: bytes,
                    overwrite: bool = False) -> None:
        import time
        data = bytes(data)
        with self._lock:
            if not overwrite and path in self._files:
                raise FileAlreadyExistsError(path)
            self._files[path] = data
            self._mtimes[path] = int(time.time() * 1000)

    def list_from(self, dir_path: str, start_name: str = "") -> List[str]:
        prefix = dir_path.rstrip("/") + "/"
        with self._lock:
            names = {p[len(prefix):].split("/", 1)[0]
                     for p in self._files if p.startswith(prefix)}
        return sorted(n for n in names if n >= start_name)

    def exists(self, path: str) -> bool:
        with self._lock:
            return path in self._files

    def delete(self, path: str) -> None:
        with self._lock:
            if path not in self._files:
                raise FileNotFoundError(path)
            del self._files[path]
            self._mtimes.pop(path, None)

    def mtime_ms(self, path: str) -> int:
        with self._lock:
            if path not in self._mtimes:
                raise FileNotFoundError(path)
            return self._mtimes[path]

    def list_dir(self, dir_path: str) -> List[str]:
        return self.list_from(dir_path)

    def rename(self, src: str, dst: str) -> None:
        with self._lock:
            if src not in self._files:
                raise FileNotFoundError(src)
            self._files[dst] = self._files.pop(src)
            self._mtimes[dst] = self._mtimes.pop(src, 0)

    def list_files_recursive(self, dir_path: str) -> List[str]:
        prefix = dir_path.rstrip("/") + "/"
        with self._lock:
            return sorted(p[len(prefix):]
                          for p in self._files if p.startswith(prefix))

    def is_dir(self, path: str) -> bool:
        prefix = path.rstrip("/") + "/"
        with self._lock:
            return any(p.startswith(prefix) for p in self._files)

    def copy_file(self, src: str, dst: str) -> None:
        with self._lock:
            if src not in self._files:
                raise FileNotFoundError(src)
            self._files[dst] = self._files[src]
            self._mtimes[dst] = self._mtimes.get(src, 0)

    def remove_tree(self, dir_path: str) -> None:
        prefix = dir_path.rstrip("/") + "/"
        with self._lock:
            for p in [p for p in self._files if p.startswith(prefix)]:
                del self._files[p]
                self._mtimes.pop(p, None)

    def stat(self, path: str) -> Tuple[int, int]:
        with self._lock:
            if path not in self._files:
                raise FileNotFoundError(path)
            return len(self._files[path]), self._mtimes.get(path, 0)


# --------------------------------------------------------------- dispatch

_memory_stores: Dict[str, InMemoryLogStore] = {}


def _memory_store_for(path: str) -> InMemoryLogStore:
    # one shared store per memory://<authority> namespace
    # (dict.setdefault is atomic under the GIL — no module-level lock,
    # which must stay absent: this module is pickled by value into the
    # streaming source's workers and locks don't pickle)
    auth = path[len("memory://"):].split("/", 1)[0]
    return _memory_stores.setdefault(auth, InMemoryLogStore())


def _s3_store_for(path: str) -> LogStore:
    # Lazy import: boto3 is only required when an s3:// table is opened.
    from .s3store import s3_log_store_for
    return s3_log_store_for(path)


def _rename_store_for(path: str) -> LogStore:
    # Lazy import: libhdfs / a registered client is only required when
    # an hdfs:// (or azure) table is opened. HDFS and Azure share the
    # temp-file + atomic-exclusive-rename store (HDFSLogStore.scala /
    # AzureLogStore.scala both build on writeWithRename semantics).
    from .hdfsstore import rename_log_store_for
    return rename_log_store_for(path)


_SCHEME_STORES: Dict[str, Callable[[str], LogStore]] = {
    "file": lambda _p: LogStore(),
    "memory": _memory_store_for,
    "s3": _s3_store_for,
    "s3a": _s3_store_for,
    "hdfs": _rename_store_for,
    "abfs": _rename_store_for,
    "abfss": _rename_store_for,
    "wasb": _rename_store_for,
    "wasbs": _rename_store_for,
}


def register_log_store(scheme: str, factory: Callable[[str], LogStore]) -> None:
    """Bind a URI scheme to a store factory (DelegatingLogStore.scala /
    LogStoreProvider.scala): ``register_log_store("s3", S3Store)``."""
    _SCHEME_STORES[scheme] = factory


def default_log_store(path: str) -> LogStore:
    """Scheme-based dispatch (DelegatingLogStore.scala). Local paths and
    ``file:`` use the POSIX store; other schemes resolve through the
    registry and raise if nothing is bound."""
    if "://" not in path:
        return LogStore()
    scheme = path.split("://", 1)[0]
    if path.startswith("file:"):
        scheme = "file"
    factory = _SCHEME_STORES.get(scheme)
    if factory is None:
        raise NotImplementedError(
            f"no LogStore registered for scheme {scheme!r} of {path!r}; "
            f"register one with register_log_store({scheme!r}, factory)")
    return factory(path)


def strip_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://"):] or "/"
    if path.startswith("file:"):
        return path[len("file:"):]
    return path
