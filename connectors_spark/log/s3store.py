"""S3 LogStore: the commit protocol's put-if-absent + ordered listing
over an S3 bucket, via boto3.

Re-expresses ``S3SingleDriverLogStore.scala:32-60`` for the modern S3
contract. The reference predates two S3 capabilities that are now
public GA and change the design:

- **Conditional writes** (``If-None-Match: *`` on PutObject, AWS GA
  Nov 2024): put-if-absent is a single atomic API call — the server
  rejects the PUT with ``412 PreconditionFailed`` when the key exists.
  The reference had to emulate this with a driver-local path lock +
  listing cache ("SingleDriver"); we keep a per-bucket in-process lock
  only to serialize same-process racers cheaply, but CROSS-driver
  mutual exclusion comes from the conditional put itself — this store
  is safe for multi-writer commits, which the reference's S3 store
  explicitly was not.
- **Strong read-after-write consistency** (AWS, Dec 2020): listings
  reflect completed puts, so the reference's listing cache
  (``S3SingleDriverLogStore.scala:139-173``) is unnecessary.

Scope: this store serves the METADATA plane (the ``_delta_log``
protocol: commit JSONs, ``_last_checkpoint``, listings) and the
engine-side file-plane helpers (publish/vacuum/clone run it inside
executor tasks — boto3 clients are created lazily per process, so the
store pickles into closures). DATA-file scanning still goes through
``spark.read.parquet("s3://...")``, i.e. Spark's own Hadoop S3A
connector, exactly as the reference delegates data I/O to the engine.

Endpoint/credentials come from the standard boto3 chain (env vars,
instance profile, ``AWS_ENDPOINT_URL`` for S3-compatible stores).
"""

from __future__ import annotations

import threading
from typing import Dict, List, Tuple

from .logstore import FileAlreadyExistsError, LogStore

_PRECONDITION_CODES = {"PreconditionFailed", "ConditionalRequestConflict"}
_MISSING_CODES = {"404", "NoSuchKey", "NotFound"}


def _parse(path: str) -> Tuple[str, str]:
    """``s3://bucket/key`` (or ``s3a://``) -> (bucket, key)."""
    rest = path.split("://", 1)[1]
    bucket, _, key = rest.partition("/")
    return bucket, key


def _err_code(exc) -> str:
    return getattr(exc, "response", {}).get("Error", {}).get("Code", "")


class S3LogStore(LogStore):
    """One instance per bucket (shared via ``s3_log_store_for``), so the
    in-process write lock covers every DeltaLog touching that bucket."""

    def __init__(self, bucket: str) -> None:
        self.bucket = bucket
        self._client_obj = None
        self._lock = threading.Lock()

    # boto3 clients don't pickle; executors (publish/vacuum closures)
    # rebuild lazily from the ambient credential chain.
    def __getstate__(self):
        state = dict(self.__dict__)
        state["_client_obj"] = None
        state.pop("_lock", None)
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()

    @property
    def _client(self):
        if self._client_obj is None:
            import boto3
            self._client_obj = boto3.client("s3")
        return self._client_obj

    # ---------------------------------------------------------- log files

    def read_bytes(self, path: str) -> bytes:
        from botocore.exceptions import ClientError
        bucket, key = _parse(path)
        try:
            return self._client.get_object(Bucket=bucket,
                                           Key=key)["Body"].read()
        except ClientError as e:
            if _err_code(e) in _MISSING_CODES:
                raise FileNotFoundError(path) from e
            raise

    def write_bytes(self, path: str, data: bytes,
                    overwrite: bool = False) -> None:
        from botocore.exceptions import ClientError
        bucket, key = _parse(path)
        kwargs = dict(Bucket=bucket, Key=key, Body=data)
        if overwrite:
            self._client.put_object(**kwargs)
            return
        # Atomic put-if-absent: If-None-Match: * makes S3 itself the
        # arbiter — two drivers racing the same N.json cannot both win.
        # The in-process lock just keeps same-process threads from
        # burning API calls on a race one of them must lose.
        with self._lock:
            try:
                self._client.put_object(IfNoneMatch="*", **kwargs)
            except ClientError as e:
                if _err_code(e) in _PRECONDITION_CODES:
                    raise FileAlreadyExistsError(path) from e
                raise

    def list_from(self, dir_path: str, start_name: str = "") -> List[str]:
        """Immediate-child names >= start_name, sorted. The lower bound
        is pushed into the listing (``StartAfter``), so polling a long
        log costs O(tail), not O(history) — the listFrom contract."""
        bucket, key = _parse(dir_path)
        prefix = (key.rstrip("/") + "/") if key else ""
        names: set = set()
        kwargs = dict(Bucket=bucket, Prefix=prefix, Delimiter="/")
        if start_name:
            # StartAfter is exclusive; >= is recovered by probing the
            # exact boundary key separately below.
            kwargs["StartAfter"] = prefix + start_name
        token = None
        while True:
            if token:
                kwargs["ContinuationToken"] = token
            resp = self._client.list_objects_v2(**kwargs)
            for o in resp.get("Contents", []):
                names.add(o["Key"][len(prefix):])
            for p in resp.get("CommonPrefixes", []):
                names.add(p["Prefix"][len(prefix):].rstrip("/"))
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        if start_name and self.exists(dir_path.rstrip("/") + "/" + start_name):
            names.add(start_name)
        return sorted(n for n in names if n >= start_name)

    def exists(self, path: str) -> bool:
        from botocore.exceptions import ClientError
        bucket, key = _parse(path)
        try:
            self._client.head_object(Bucket=bucket, Key=key)
            return True
        except ClientError as e:
            if _err_code(e) in _MISSING_CODES:
                return False
            raise

    def delete(self, path: str) -> None:
        # S3 deletes are idempotent; the protocol never depends on
        # delete-of-missing raising, so no existence round-trip.
        bucket, key = _parse(path)
        self._client.delete_object(Bucket=bucket, Key=key)

    def mtime_ms(self, path: str) -> int:
        return self.stat(path)[1]

    # ------------------------------------------------- file-plane publish

    def rename(self, src: str, dst: str) -> None:
        """Copy+delete: S3 has no rename. Callers stage to unique names
        and publish to unique destinations, so non-atomicity is safe
        (a retried task re-copies the same bytes)."""
        self.copy_file(src, dst)
        self.delete(src)

    def list_dir(self, dir_path: str) -> List[str]:
        return self.list_from(dir_path)

    def remove_tree(self, dir_path: str) -> None:
        bucket, key = _parse(dir_path)
        prefix = key.rstrip("/") + "/"
        keys = self._list_keys(bucket, prefix)
        for i in range(0, len(keys), 1000):
            self._client.delete_objects(
                Bucket=bucket,
                Delete={"Objects": [{"Key": k} for k in keys[i:i + 1000]],
                        "Quiet": True})

    def _list_keys(self, bucket: str, prefix: str) -> List[str]:
        keys: List[str] = []
        token = None
        while True:
            kwargs = dict(Bucket=bucket, Prefix=prefix)
            if token:
                kwargs["ContinuationToken"] = token
            resp = self._client.list_objects_v2(**kwargs)
            keys.extend(o["Key"] for o in resp.get("Contents", []))
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return keys

    def list_files_recursive(self, dir_path: str) -> List[str]:
        bucket, key = _parse(dir_path)
        prefix = key.rstrip("/") + "/"
        return sorted(k[len(prefix):]
                      for k in self._list_keys(bucket, prefix))

    def is_dir(self, path: str) -> bool:
        bucket, key = _parse(path)
        prefix = key.rstrip("/") + "/"
        resp = self._client.list_objects_v2(Bucket=bucket, Prefix=prefix,
                                            MaxKeys=1)
        return bool(resp.get("Contents"))

    def copy_file(self, src: str, dst: str) -> None:
        from botocore.exceptions import ClientError
        sbucket, skey = _parse(src)
        dbucket, dkey = _parse(dst)
        try:
            self._client.copy_object(
                Bucket=dbucket, Key=dkey,
                CopySource={"Bucket": sbucket, "Key": skey})
        except ClientError as e:
            if _err_code(e) in _MISSING_CODES:
                raise FileNotFoundError(src) from e
            raise

    def stat(self, path: str) -> Tuple[int, int]:
        from botocore.exceptions import ClientError
        bucket, key = _parse(path)
        try:
            h = self._client.head_object(Bucket=bucket, Key=key)
        except ClientError as e:
            if _err_code(e) in _MISSING_CODES:
                raise FileNotFoundError(path) from e
            raise
        return h["ContentLength"], int(h["LastModified"].timestamp() * 1000)


# One store per bucket so the in-process lock spans every DeltaLog
# touching that bucket (dict.setdefault: atomic under the GIL; no
# module lock — this module pickles by value into worker closures).
_s3_stores: Dict[str, S3LogStore] = {}


def s3_log_store_for(path: str) -> S3LogStore:
    bucket, _ = _parse(path)
    return _s3_stores.setdefault(bucket, S3LogStore(bucket))
