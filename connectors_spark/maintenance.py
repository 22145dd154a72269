"""Table maintenance: OPTIMIZE (bin-packing and Z-order/Hilbert
clustering), REORG PURGE, RESTORE, COMPUTE STATS, log compaction,
checksums, FSCK REPAIR, VACUUM (full and LITE) and GENERATE MANIFEST.

Every command reads table state from the one log replay (the Snapshot's
file and tombstone planes) and commits through the optimistic
transaction. ``TableMaintenance`` is re-exported by ``table``.
"""

from __future__ import annotations

import json
import os
import time
from typing import (TYPE_CHECKING, Any, Dict, List, Optional, Sequence,
                    Tuple)

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import TableConfig
from .errors import DeltaError, DeltaProtocolError
from .expressions import Expression, bind
from .localrel import fan_out, local_rows_df
from .log import filenames as fn
from .log.actions import AddFile, CommitInfo, DomainMetadata, RemoveFile
from .log.snapshot import (Snapshot, addfiles_from_rows, canonical_path,
                           read_commit)
from .scan import DeltaScan

if TYPE_CHECKING:
    from .table import DeltaTable


_ZORDER_BITS = 16


def _zorder_numeric(df: DataFrame, c: str) -> F.Column:
    """Order-preserving numeric rank of any Z-orderable column. Strings
    map to their first 7 UTF-8 bytes as a big-endian integer
    (zero-right-padded so shorter strings don't leapfrog longer ones —
    byte-wise order IS code-point order for UTF-8); dates route through
    timestamp; numerics/timestamps cast directly. 7 bytes keeps the
    value positive in a signed long and within double's exact-integer
    range up to the precision the bucketing needs."""
    dt = dict(df.dtypes)[c]
    if dt == "string":
        return F.conv(
            F.hex(F.rpad(F.encode(F.col(c), "UTF-8"), 7,
                         F.lit(b"\x00"))), 16, 10).cast("double")
    if dt == "date":
        return F.col(c).cast("timestamp").cast("double")
    return F.col(c).cast("double")


def _bucket_ids(df: DataFrame, cols: List[str],
                n_bits: int) -> List[F.Column]:
    """Equi-width bucket id (long, 0..2^n_bits-1) per clustering column
    (numeric, timestamp, date, or string — see _zorder_numeric). Bucket
    bounds come from one min/max aggregate (driver-side, 2 numbers per
    column). Nulls sort first (bucket 0)."""
    exprs = {c: _zorder_numeric(df, c) for c in cols}
    bounds = df.agg(
        *[F.min(exprs[c]).alias(f"_lo_{c}") for c in cols],
        *[F.max(exprs[c]).alias(f"_hi_{c}") for c in cols]).first()
    n_buckets = 1 << n_bits
    bucket_cols = []
    for c in cols:
        lo = float(bounds[f"_lo_{c}"] or 0.0)
        hi = float(bounds[f"_hi_{c}"] or 0.0)
        width = (hi - lo) or 1.0
        b = F.floor((exprs[c] - F.lit(lo)) /
                    F.lit(width) * n_buckets).cast("long")
        b = F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1))
        bucket_cols.append(F.coalesce(b, F.lit(0)))
    return bucket_cols


def _zorder_code(df: DataFrame, cols: List[str]) -> F.Column:
    """Morton code over equi-width bucket ids of the given columns;
    the interleave is a codegen'd bit expression."""
    bucket_cols = _bucket_ids(df, cols, _ZORDER_BITS)
    code = F.lit(0).cast("long")
    k = len(cols)
    for bit in range(_ZORDER_BITS):
        for j, b in enumerate(bucket_cols):
            code = code + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * k + j)
    return code


def _hilbert_index_np(X, bits: int):
    """Skilling's AxesToTranspose (AIP Conf. Proc. 707, 2004),
    vectorized over a (d, n) int64 bucket array → (n,) int64 Hilbert
    indices, identical to the tests' Python reference. The loops here
    run over LEVELS and DIMENSIONS only; every per-row operation is a
    whole-array numpy bit op."""
    import numpy as np
    d = X.shape[0]
    X = X.astype(np.int64, copy=True)
    Q = np.int64(1) << (bits - 1)
    while Q > 1:
        P = Q - 1
        for i in range(d):
            x0, xi = X[0], X[i]
            mask = (xi & Q) != 0
            if i == 0:
                X[0] = np.where(mask, x0 ^ P, x0)
                continue
            t = (x0 ^ xi) & P
            X[0] = np.where(mask, x0 ^ P, x0 ^ t)
            X[i] = np.where(mask, xi, xi ^ t)
        Q >>= 1
    for i in range(1, d):                      # Gray encode (prefix ^)
        X[i] ^= X[i - 1]
    t = np.zeros_like(X[0])
    Q = np.int64(1) << (bits - 1)
    while Q > 1:
        t = np.where((X[d - 1] & Q) != 0, t ^ (Q - 1), t)
        Q >>= 1
    X ^= t
    h = np.zeros_like(X[0])
    for p in range(bits - 1, -1, -1):          # bit interleave
        for i in range(d):
            h = (h << 1) | ((X[i] >> np.int64(p)) & 1)
    return h


def _hilbert_code(df: DataFrame, cols: List[str]) -> F.Column:
    """Hilbert-curve cluster code over equi-width bucket ids — the
    same bucketing as Z-order but walked along the Hilbert curve.

    Why offer both: Morton order has quadrant-boundary jumps (the code
    teleports across the key space every power-of-two boundary), so a
    contiguous code range — one output file — can cover two far-apart
    rectangles and its min/max stats widen on every clustered column.
    The Hilbert curve is a unit-step Hamiltonian path over the bucket
    grid (adjacent codes are adjacent cells), so equal-size code
    ranges cover tighter hyper-rectangles: measurably better per-file
    min/max selectivity at the same rewrite cost — the reason
    Databricks liquid clustering walks Hilbert, not Morton. Bits per
    dimension shrink with d so the index stays in a signed long.

    The index is an Arrow-batched pandas_udf over the vectorized
    Skilling transform (_hilbert_index_np). A pure-Column form needs
    the level loop as a higher-order F.aggregate, which Spark evaluates
    INTERPRETED per row: the sf1 sweep measured that Hilbert rewrite at
    339 s vs <12 s for the codegen'd Morton interleave."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .shipping import ensure_shipped_by_value
    ensure_shipped_by_value()
    bits = min(_ZORDER_BITS, 63 // max(len(cols), 1))

    def _hidx(*xs):
        import numpy as np
        X = np.stack([x.to_numpy(dtype=np.int64) for x in xs])
        return pd.Series(_hilbert_index_np(X, bits))

    # functional form (no type hints): the decorator's hint inference
    # rejects *args signatures
    hidx = pandas_udf(_hidx, "long")
    return hidx(*_bucket_ids(df, cols, bits))


def _protected_set(snap: Snapshot, horizon: int) -> set:
    """The paths VACUUM must keep: active files, their deletion-vector
    sidecars, and the tombstones still inside the retention window with
    their sidecars. The tombstone legs are the contract VACUUM must
    honour (InMemoryLogReplay.scala:90-92, DeltaConfig.scala:219-225): a
    file DELETE'd yesterday has an OLD mtime but its tombstone is young —
    reclaiming it would strand time travel to every version of the
    retention window. Protection keys on deletionTimestamp, never
    mtime."""
    from .dv import DV_TAG
    keep = set()
    for rows in (snap._files_rows, snap.retained_tombstone_rows(horizon)):
        for r in rows:
            keep.add(r["path"])
            dv = (r["tags"] or {}).get(DV_TAG)
            if dv:
                keep.add(canonical_path(dv, snap.table_path))
    return keep


def _protected_paths(snap: Snapshot, horizon: int) -> DataFrame:
    """:func:`_protected_set` as one local relation of one ``__p``
    column, the right side of full VACUUM's anti-join."""
    keep = _protected_set(snap, horizon)
    rel = local_rows_df(snap.spark, [(p,) for p in keep], "__p string")
    # Spark cannot size a driver-built relation, so it would shuffle both
    # join sides; its own broadcast threshold applies to the known size
    limit = snap.spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return F.broadcast(rel) if sum(map(len, keep)) <= limit else rel


def _missing_paths(store):
    """``mapInPandas`` body (for ``fan_out``): the ``path`` values whose
    file does not exist in ``store``."""
    def body(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({"path": [p for p in pdf["path"]
                                         if not store.exists(p)]})
    return body


def _delete_paths(store):
    """``mapInPandas`` body: delete each ``path`` from ``store`` and
    yield the ones deleted. A file already gone (a task retry, a
    concurrent VACUUM, an earlier LITE window) is not reported."""
    def body(batches):
        import pandas as pd
        for pdf in batches:
            done = []
            for p in pdf["path"]:
                try:
                    store.delete(p)
                except FileNotFoundError:
                    continue
                done.append(p)
            yield pd.DataFrame({"path": done})
    return body


def _rewrite_files(table: DeltaTable, txn, operation: str,
                   params: Dict[str, str], victims: List[AddFile],
                   df: DataFrame, actions: Sequence[Any] = ()
                   ) -> Tuple[int, int]:
    """Commit ``df`` — the rows of ``victims``, with their row ids under
    row tracking — in place of ``victims`` as a layout-only
    (dataChange=false) rewrite. Returns (version, files added)."""
    recorded: Dict[str, str] = {}

    def metrics(adds):
        recorded.update(numRemovedFiles=str(len(victims)),
                        numAddedFiles=str(len(adds)))
        return recorded

    version = table._commit_legs(txn, operation, params, victims, kept=df,
                                 actions=actions, data_change=False,
                                 metrics=metrics)
    return version, int(recorded["numAddedFiles"])


class TableMaintenance:
    """OPTIMIZE (small-file bin-packing) and VACUUM (physical removal of
    unreferenced files) — the operational pair that keeps a 100 TB table
    healthy: streaming sinks produce one file per partition per batch,
    compaction folds them back into scan-efficient ~128 MB files, and
    vacuum reclaims the space the rewrites (and DML) tombstoned.

    OPTIMIZE commits with dataChange=False on both adds and removes, so
    change feeds (ST3 validation filters on dataChange) skip compaction
    commits and SnapshotIsolation suffices — matching how the reference
    distinguishes data- from file-layout transactions
    (isolationLevels.scala:19-25, actions.scala:109-132 dataChange).
    """

    def __init__(self, table: DeltaTable):
        self.table = table

    def _begin(self):
        """A transaction on the table and its read snapshot; raises
        FileNotFoundError when the table does not exist."""
        txn = self.table.log.start_transaction()
        if txn.snapshot is None:
            raise FileNotFoundError("table does not exist")
        return txn, txn.snapshot

    def optimize(self, target_file_size: int = 128 * 1024 * 1024,
                 min_files_per_group: int = 2,
                 zorder_by: Optional[List[str]] = None,
                 hilbert_by: Optional[List[str]] = None,
                 max_actions_per_commit: int = 100_000,
                 where: Optional[Expression] = None) -> Dict[str, int]:
        """Bin-pack files smaller than ``target_file_size``, grouped by
        partition tuple. With ``zorder_by``, ALL files are rewritten
        Z-order-clustered on the given numeric columns instead: rows are
        range-partitioned and sorted by a Morton (bit-interleaved) code
        over equi-width bucket ids, so each output file covers a compact
        hyper-rectangle and per-file min/max stats become selective on
        EVERY clustered column — stats-based skipping (scan.py) then
        prunes on any of them, the multi-column layout the reference
        carries stats for but never exploits (actions.scala:116-117).
        ``hilbert_by`` clusters along the Hilbert curve instead of
        Morton (see _hilbert_code for why that tightens per-file
        min/max at the same rewrite cost).

        ``max_actions_per_commit`` bounds the WIDTH of each commit: a
        full-table compaction over millions of small files must not
        funnel every AddFile/RemoveFile into one driver list and one
        giant commit JSON. Work is split into batches of whole
        partition groups (an oversized group is itself split for
        bin-packing; a clustered group stays atomic so its curve
        ordering is never torn) and each batch commits separately —
        ``dataChange=False`` keeps change feeds quiet, and each batch
        conflict-checks like any OPTIMIZE (concurrent-safety matrix in
        tests/test_concurrency.py). A reader between batches sees a
        partially-compacted but always-correct table. Returns
        {filesRemoved, filesAdded, version (last)}."""
        if zorder_by and hilbert_by:
            raise DeltaError("zorder_by and hilbert_by are mutually "
                             "exclusive")
        from .table import _scan_rows, _small_files
        cluster_by = zorder_by or hilbert_by
        t = self.table
        txn, snap = self._begin()
        pcols = snap.metadata.partitionColumns
        if where is not None:
            # OPTIMIZE ... WHERE (delta-spark OptimizeTableCommand's
            # partitionPredicate): partition-column predicates only —
            # a data-column predicate can't select whole files and
            # would silently degrade to full-table, so refuse instead.
            where = bind(where, snap.metadata.schema)
            extra = where.references() - set(pcols)
            if extra:
                raise DeltaError(
                    f"optimize WHERE may only reference partition "
                    f"columns {sorted(pcols)}; got {sorted(extra)}")
        # the WHERE scope's files; only the bin-packable ones unless
        # clustering, which rewrites the whole scope
        cand = snap._files_rows if where is None \
            else DeltaScan(snap, where).rows
        if cluster_by is None:
            cand = _small_files(cand, target_file_size)
        groups: Dict[Tuple, List[Any]] = {}
        for f in addfiles_from_rows(cand):
            key = tuple((c, (f.partitionValues or {}).get(c)) for c in pcols)
            groups.setdefault(key, []).append(f)
        min_group = 1 if cluster_by else min_files_per_group
        work = [fs for fs in groups.values() if len(fs) >= min_group]
        if not work:
            return {"filesRemoved": 0, "filesAdded": 0,
                    "version": snap.version}

        def est(fs):
            # commit width upper bound: removes + projected adds
            return len(fs) + max(1, -(-sum(f.size for f in fs)
                                      // target_file_size))

        units: List[List[Any]] = []
        for fs in work:
            if cluster_by is None and est(fs) > max_actions_per_commit:
                # oversized bin-pack group: split (still per-partition);
                # a tail chunk below min_files_per_group would be a
                # pointless 1-to-1 rewrite, so it folds into the
                # previous chunk instead
                step = max(min_files_per_group,
                           max_actions_per_commit // 2)
                chunks = [fs[i:i + step]
                          for i in range(0, len(fs), step)]
                if len(chunks) > 1 and len(chunks[-1]) < min_files_per_group:
                    chunks[-2].extend(chunks.pop())
                units.extend(chunks)
            else:
                units.append(fs)
        batches: List[List[Any]] = []
        cur: List[Any] = []
        cur_n = 0
        for u in units:
            if cur and cur_n + est(u) > max_actions_per_commit:
                batches.append(cur)
                cur, cur_n = [], 0
            cur.extend(u)
            cur_n += est(u)
        if cur:
            batches.append(cur)

        params = {"targetSize": str(target_file_size)}
        if zorder_by:
            params["zOrderBy"] = ",".join(zorder_by)
        if hilbert_by:
            params["clusterBy"] = ",".join(hilbert_by)
            params["curve"] = "hilbert"
        n_removed = n_added = 0
        version = snap.version
        for bi, victims in enumerate(batches):
            if bi > 0:
                # fresh txn per batch: its snapshot includes the prior
                # batch's commit, so each batch conflict-checks against
                # the current state like an independent OPTIMIZE
                txn = t.log.start_transaction()
                snap = txn.snapshot
            # victims were computed from the FIRST snapshot; a
            # concurrent commit that removed one BEFORE a later batch's
            # fresh txn started is not a "winning commit", so the J4
            # delete/delete check would never fire and we'd commit a
            # duplicate RemoveFile (double-decrementing the incremental
            # .crc chain). Each batch takes the txn snapshot's live rows
            # of its victims, bounded by the batch width.
            cand_paths = {f.path for f in victims}
            subset = [r for r in snap._files_rows
                      if r["path"] in cand_paths]
            if not subset:
                continue
            victims = addfiles_from_rows(subset)
            df = _scan_rows(snap, subset)
            total = sum(f.size for f in victims)
            n_out = max(1, -(-total // target_file_size))
            if cluster_by:
                code = (_zorder_code(df, zorder_by) if zorder_by
                        else _hilbert_code(df, hilbert_by))
                df = df.withColumn("_z", code)
                df = (df.repartitionByRange(n_out, F.col("_z"))
                      .sortWithinPartitions("_z").drop("_z"))
            else:
                df = df.repartition(n_out)
            # record the clustering layout as table state (the
            # delta.clustering metadata domain delta-spark's liquid
            # clustering writes): readers and later OPTIMIZE runs can
            # discover WHICH columns the files are clustered on without
            # scanning history
            layout = [DomainMetadata(
                "delta.clustering",
                json.dumps({"clusteringColumns": list(cluster_by),
                            "curve": "hilbert" if hilbert_by
                            else "zorder"}, separators=(",", ":")))] \
                if cluster_by else []
            version, added = _rewrite_files(
                t, txn, "OPTIMIZE",
                dict(params, batch=f"{bi + 1}/{len(batches)}")
                if len(batches) > 1 else params, victims, df, layout)
            n_removed += len(victims)
            n_added += added
        return {"filesRemoved": n_removed, "filesAdded": n_added,
                "version": version}

    def reorg_purge(self) -> Dict[str, int]:
        """REORG TABLE ... APPLY (PURGE): rewrite exactly the files
        carrying deletion vectors, materializing their surviving rows
        and dropping the sidecar references; DV-free files are not
        touched. Rewrites are ``dataChange=False`` like OPTIMIZE — the
        logical table is unchanged, so change feeds skip them — and
        once the soft-deleted adds age past retention, VACUUM reclaims
        both the old data files and the now-unreferenced sidecars.

        Scale shape: read + write cost is proportional to the
        DV-carrying files only (the normal case after a row-level
        delete wave is a small fraction of the table); the survivors
        scan is the same pruned DV anti-join plan as any read, and the
        commit is one transaction that conflict-checks like any other
        writer. Returns {filesPurged, filesAdded, version}."""
        from .dv import DV_TAG
        from .table import _scan_rows
        t = self.table
        txn, snap = self._begin()
        rows = [r for r in snap._files_rows if (r["tags"] or {}).get(DV_TAG)]
        if not rows:
            return {"filesPurged": 0, "filesAdded": 0,
                    "version": snap.version}
        victims = addfiles_from_rows(rows)
        # the DV anti-join applies here
        version, added = _rewrite_files(
            t, txn, "REORG", {"applyPurge": "true"}, victims,
            _scan_rows(snap, rows))
        return {"filesPurged": len(victims), "filesAdded": added,
                "version": version}

    def restore(self, version: Optional[int] = None,
                timestamp_ms: Optional[int] = None) -> Dict[str, int]:
        """RESTORE the table to an earlier version (or the version active
        at a timestamp) as a NEW commit: the file-set diff between the
        current and target snapshots becomes add/remove actions, and the
        target's Metadata is re-committed when it differs (undoing schema
        or config changes). History is preserved -- time travel still
        reaches every version, and the restore itself is just another
        commit that conflict-checks like any other writer.

        Fails if any file the target snapshot needs has been VACUUMed.
        Returns {filesAdded, filesRemoved, version}.
        """
        t = self.table
        txn, snap = self._begin()
        target = t._resolve(version, timestamp_ms)
        if target.version == snap.version:
            return {"filesAdded": 0, "filesRemoved": 0,
                    "version": snap.version}
        txn.read_whole_table()

        from .dv import DV_TAG
        # The file-set diff, keyed by canonical path on the driver. A
        # path present in both snapshots is re-added when its deletion
        # vector differs (the DV lives in tags, not the path); the
        # replaced entry is removed in the same commit, so the file
        # count and the change feed see one file, not two.
        cur = {r["path"]: r for r in snap._files_rows}
        want = {r["path"]: r for r in target._files_rows}

        def dv(r):
            return (r["tags"] or {}).get(DV_TAG)
        add_rows = [r for p, r in want.items()
                    if p not in cur or dv(cur[p]) != dv(r)]
        remove_rows = [r for p, r in cur.items()
                       if p not in want or dv(want[p]) != dv(r)]

        # Existence check for every file (and DV sidecar) the target
        # needs, distributed through the store — the driver sees only
        # the missing list (the error report).
        needed = list(want) + [canonical_path(dv(r), snap.table_path)
                               for r in want.values() if dv(r)]
        missing = [r["path"] for r in fan_out(
            t.spark, [(p,) for p in needed], "path string",
            _missing_paths(t.log.store), "path string").collect()]
        if missing:
            raise DeltaError(
                f"cannot restore to version {target.version}: "
                f"data file(s) were removed by VACUUM "
                f"(first: {min(missing)})")

        if any(getattr(target.metadata, k) != getattr(snap.metadata, k)
               for k in ("schemaString", "configuration",
                         "partitionColumns")):
            txn.update_metadata(target.metadata, overwrite_schema=True)
        # Re-added files are a data change even if their original
        # commit was a dataChange=false layout rewrite (OPTIMIZE).
        import dataclasses
        now = int(time.time() * 1000)
        ver = txn.commit(
            [dataclasses.replace(f, dataChange=True)
             for f in addfiles_from_rows(add_rows)]
            + [f.remove(now) for f in addfiles_from_rows(remove_rows)],
            "RESTORE", {"version": str(target.version)},
            operation_metrics={"numRestoredFiles": str(len(add_rows)),
                               "numRemovedFiles": str(len(remove_rows))})
        return {"filesAdded": len(add_rows), "filesRemoved": len(remove_rows),
                "version": ver}

    def compute_stats(self) -> Dict[str, int]:
        """ANALYZE-style stats backfill: re-commit every active file
        that lacks ``stats`` with exact footer statistics attached
        (dataChange=False add replacing the stats-less add — readers
        see identical data; change feeds skip it like OPTIMIZE). Files
        written by engines that don't record Delta stats regain file
        skipping and the metadata-only aggregate fast path.

        Scale shape: the footer reads run as one mapInPandas over the
        stats-less file list (never a per-file driver loop); the driver
        collects only the action fields; commit is one transaction that
        conflict-checks like any other writer. Returns
        {filesUpdated, version} (version -1 when nothing lacked stats)."""
        from .writer import file_stats_json
        t = self.table
        txn, snap = self._begin()
        missing = [f for f in snap.all_files() if not f.stats]
        if not missing:
            return {"filesUpdated": 0, "version": -1}

        def footer_pass(batches):
            import pandas as pd
            for pdf in batches:
                rows = []
                for path in pdf["path"]:
                    stats, _n = file_stats_json(path)
                    rows.append((path, stats, os.path.getsize(path)))
                yield pd.DataFrame(rows,
                                   columns=["path", "stats", "size"])

        stat_rows = {r["path"]: r for r in fan_out(
            t.log.spark, [(f.path,) for f in missing], "path string",
            footer_pass, "path string, stats string, size long").collect()}
        import dataclasses
        now = int(time.time() * 1000)
        adds = [dataclasses.replace(
            f, stats=stat_rows[f.path]["stats"],
            size=int(stat_rows[f.path]["size"]), dataChange=False)
            for f in missing]
        # Pair each in-place re-add with a dataChange=False remove of
        # the OLD entry: replay is unaffected (same-version add beats
        # remove in the window dedup, and removes precede adds in line
        # order for the sequential folds), but the version-checksum
        # chain now folds exactly (−old size, +new size) instead of
        # inflating numFiles on every stats backfill.
        removes = [f.remove(now, data_change=False) for f in missing]
        version = txn.commit(
            removes + adds, "COMPUTE STATS",
            operation_metrics={"numFilesUpdated": str(len(adds))})
        return {"filesUpdated": len(adds), "version": version}

    def compact_log(self, start: Optional[int] = None,
                    end: Optional[int] = None) -> Dict[str, int]:
        """Minor log compaction: write ``<start>.<end>.compacted.json``
        carrying the NET actions of commits [start, end] (default: the
        whole post-checkpoint tail). Snapshot replay then reads ONE
        file instead of the range — the delta-spark log-compaction
        shape, for logs whose checkpoint interval leaves long tails.

        Semantics (what "net" keeps):
        - per path, the LAST add/remove wins; a net remove is RETAINED
          as a tombstone (vacuum still needs it);
        - the latest Metadata and Protocol of the range;
        - the latest SetTransaction per appId;
        - CommitInfo and cdc actions are dropped — they are
          per-version artifacts, and per-version consumers (history,
          CDF, streaming, time travel) keep reading the RAW delta
          files, which compaction never deletes.

        Driver cost: O(range) small file reads + O(net actions) JSON —
        the same budget as the P&M tail replay. Best-effort publish:
        two racing compactors of the same range write identical
        content, and losing the put-if-absent race is a no-op."""
        from .table import _compact_log_range
        snap = self.table.snapshot()
        log = self.table.log
        if end is None:
            end = snap.version
        if start is None:
            start = (snap.segment.checkpoint_version + 1
                     if snap.segment.checkpoint_version is not None
                     else 0)
        if not 0 <= start <= end <= snap.version:
            raise ValueError(f"bad compaction range [{start}, {end}]")
        return _compact_log_range(log, snap.table_path, start, end)

    def compute_checksum(self) -> Dict[str, int]:
        """Bootstrap (or repair) the version-checksum chain: sum the
        CURRENT snapshot's file rows once (numFiles, total bytes — no
        Spark job, never per-commit) and publish ``<version>.crc``. Every later commit then extends the chain
        incrementally at zero job cost (txn._write_version_checksum).
        Use on pre-feature tables or after a chain break (a remove
        without size info)."""
        from .log import checksum as cks
        snap = self.table.snapshot()
        summary = snap.state_summary()
        crc = cks.VersionChecksum(
            tableSizeBytes=summary["sizeInBytes"],
            numFiles=summary["numOfFiles"],
            protocol=snap.protocol, metadata=snap.metadata,
            domainMetadata=[DomainMetadata(k, v) for k, v in
                            sorted(snap.domain_metadata.items())])
        cks.write_checksum(snap.store, self.table.log.log_path,
                           snap.version, crc)
        # fresh anchor: incremental writing may resume
        self.table.log._crc_chain_broken = False
        return {"version": snap.version, "numFiles": crc.numFiles,
                "tableSizeBytes": crc.tableSizeBytes}

    def verify_checksum(self) -> Dict[str, Any]:
        """Integrity check (FSCK's log-side twin): sum the live
        snapshot's file rows and compare against the writer's ``.crc``
        record at the same version. Raises DeltaError on mismatch — a
        lost delta file, truncated checkpoint or corrupted action
        surfaces loudly instead of as silently wrong aggregates.
        Returns the compared numbers when they agree (or when no
        checksum exists — nothing to verify against)."""
        from .log import checksum as cks
        snap = self.table.snapshot()
        crc = cks.read_checksum(snap.store, self.table.log.log_path,
                                snap.version)
        summary = snap.state_summary()
        out = {"version": snap.version, "checksum_present": crc is not None,
               "numFiles": summary["numOfFiles"],
               "tableSizeBytes": summary["sizeInBytes"]}
        if crc is None:
            return out
        problems = []
        if crc.numFiles != out["numFiles"]:
            problems.append(f"numFiles: crc={crc.numFiles} "
                            f"live={out['numFiles']}")
        if crc.tableSizeBytes != out["tableSizeBytes"]:
            problems.append(f"tableSizeBytes: crc={crc.tableSizeBytes} "
                            f"live={out['tableSizeBytes']}")
        if crc.metadataId is not None \
                and crc.metadataId != snap.metadata.id:
            problems.append(f"metadataId: crc={crc.metadataId} "
                            f"live={snap.metadata.id}")
        if crc.protocol is not None and (
                crc.protocol.minReaderVersion
                != snap.protocol.minReaderVersion
                or crc.protocol.minWriterVersion
                != snap.protocol.minWriterVersion):
            problems.append("protocol mismatch")
        if crc.domainMetadata is not None:
            # live-domain state (incl. the delta.rowTracking watermark)
            # must replay to exactly what the writer recorded
            rec = {dm.domain: dm.configuration
                   for dm in crc.domainMetadata}
            live = dict(snap.domain_metadata)
            if rec != live:
                problems.append(
                    f"domainMetadata: crc has {sorted(rec)} "
                    f"live has {sorted(live)} (or configs differ)")
        if problems:
            raise DeltaError(
                f"version checksum mismatch at v{snap.version}: "
                + "; ".join(problems))
        return out

    def fsck_repair(self, dry_run: bool = False) -> List[str]:
        """FSCK REPAIR TABLE: drop AddFile entries whose physical data
        file no longer exists (external deletion, botched restore of a
        bucket, retention mishap) so reads stop failing on the missing
        file. One commit of RemoveFiles for exactly the missing paths;
        the conflict checker treats it like any delete. Returns the
        repaired (or would-repair, under dry_run) table-relative
        paths — delta-spark's FSCK REPAIR TABLE semantics.

        Scale shape: the existence probe is one executor fan-out over
        the file inventory; the driver collects only the MISSING subset,
        normally empty or tiny."""
        t = self.table
        txn, snap = self._begin()
        by_path = {f.path: f for f in snap.all_files()}
        missing = [r["path"] for r in fan_out(
            t.log.spark, [(p,) for p in by_path], "path string",
            _missing_paths(t.log.store), "path string").collect()]
        if dry_run or not missing:
            return sorted(missing)
        now = int(time.time() * 1000)
        removes = [by_path[p].remove(now) for p in missing]
        txn.commit(removes, "FSCK",
                   operation_metrics={"numRemovedFiles":
                                      str(len(removes))})
        return sorted(missing)

    def vacuum(self, retention_ms: Optional[int] = None,
               dry_run: bool = False, lite: bool = False) -> List[str]:
        """Delete data files that are neither active nor within the
        tombstone retention window (default: the table's
        delta.deletedFileRetentionDuration, 1 week —
        DeltaConfig.scala:219-225). Returns deleted (or would-delete)
        paths relative to the table root.

        ``lite=True`` (delta-spark's VACUUM LITE): derive the doomed
        set from the LOG's RemoveFile tombstones instead of listing
        the table tree — at 100 TB a full recursive listing is
        O(objects) against the object store, while the log window
        since the last LITE run is O(commits). Refuses loudly when the
        log cannot prove coverage (a delta file in the window was
        cleaned) — fall back to a full vacuum then."""
        t = self.table
        spark = t.log.spark
        store = t.log.store
        snap = t.log.update() or t.snapshot()
        # vacuumProtocolCheck (Delta protocol feature): VACUUM must run
        # the full WRITER protocol gate before deleting anything — a
        # client that can't honour the table's writer features could
        # otherwise reclaim files a feature it doesn't understand still
        # needs (the spec's motivating example: managed commits). The
        # check is unconditional here (it is cheap); the FEATURE's role
        # is forcing the same behavior on foreign clients via the
        # reader/writer version bump.
        from .log.features import assert_writable
        try:
            assert_writable(snap.protocol, t.path)
        except ValueError as e:
            raise DeltaProtocolError(f"VACUUM refused: {e}")
        if retention_ms is None:
            retention_ms = TableConfig(
                snap.metadata.configuration).tombstone_retention_ms
        horizon = int(time.time() * 1000) - retention_ms
        if lite:
            return self._vacuum_lite(snap, horizon, dry_run)
        root = t.path

        # Distributed reclaim (the reference-Spark VACUUM shape): the
        # table subtree is LISTED in parallel (one task per top-level
        # child — the partition-dir fan-out), candidates anti-join the
        # active file inventory as DataFrames (never a driver-side set
        # of all files), and deletes run on executors. The driver holds
        # only the doomed list — the report the API returns.

        # every child subtree except the log itself — _change_data /
        # _deletion_vectors dirs hold reclaimable files. Concurrent
        # writers' in-flight _staging_* dirs are excluded entirely:
        # staged files are seconds old, never past the retention
        # horizon, and their publish rename would race the listing.
        seeds = [""] + [n for n in store.list_dir(root)
                        if n != "_delta_log" and not n.startswith(".")
                        and not n.startswith("_staging")
                        and store.is_dir(os.path.join(root, n))]

        def list_subtree(batches):
            import pandas as pd
            for pdf in batches:
                rels, mts = [], []
                for seed in pdf["seed"]:
                    names = ([n for n in store.list_dir(root)
                              if not n.startswith(("_", "."))
                              and not store.is_dir(os.path.join(root, n))]
                             if seed == "" else
                             [os.path.join(seed, r) for r in
                              store.list_files_recursive(
                                  os.path.join(root, seed))])
                    for rel in names:
                        if os.path.basename(rel).startswith(("_", ".")):
                            continue
                        try:
                            mts.append(store.stat(os.path.join(root, rel))[1])
                        except FileNotFoundError:
                            # vanished between listing and stat (a
                            # concurrent publish): not vacuumable
                            continue
                        rels.append(rel)
                yield pd.DataFrame({"rel": rels, "mtime": mts})

        listing = fan_out(spark, [(s,) for s in seeds], "seed string",
                          list_subtree, "rel string, mtime long")

        # The anti-join broadcasts the protected set under Spark's
        # threshold (_protected_paths); a multi-million-file inventory
        # takes a shuffled anti-join instead — both sides are
        # metadata-sized, so that is fine at the tail.
        prefix = root + "/"
        cand = (listing
                .withColumn("__p", F.concat(F.lit(prefix), F.col("rel")))
                .where(F.col("mtime") <= F.lit(horizon))
                .join(_protected_paths(snap, horizon), "__p", "left_anti"))

        if dry_run:
            doomed = [r["rel"] for r in cand.select("rel").collect()]
        else:
            doomed = [r["path"][len(prefix):] for r in
                      cand.select(F.col("__p").alias("path"))
                      .mapInPandas(_delete_paths(store), "path string")
                      .collect()]
            # prune now-empty partition dirs (bounded by dir count); a
            # concurrent writer's _staging_* tree is skipped, as in the
            # listing: its empty task dirs are still in use
            for dirpath, dirs, files in os.walk(root, topdown=False):
                if "_delta_log" in dirpath or dirpath == root \
                        or os.path.relpath(dirpath, root) \
                        .startswith("_staging"):
                    continue
                if not dirs and not files:
                    try:
                        os.rmdir(dirpath)
                    except OSError:
                        pass
        return sorted(doomed)

    def _vacuum_lite(self, snap, horizon: int,
                     dry_run: bool) -> List[str]:
        """Log-inventory vacuum: the doomed set is the RemoveFile
        tombstones in the commit window since the last LITE run (or
        version 0), aged past ``horizon`` and not re-added since —
        ZERO listing of the data tree. One driver pass reads the window
        through the LogStore, newest commit first, each commit once,
        and ends at the window start the newest marker commit (VACUUM
        LITE END, lastVacuumedVersion) names. A missing delta file in
        the window (log cleanup passed through it) raises before
        anything is deleted. Deletes run executor-side; the new marker
        bounds the NEXT window to the new tail, so steady-state cost is
        O(commits between vacuums) regardless of table size."""
        from .dv import DV_TAG
        t = self.table
        store = t.log.store
        head = snap.version
        removes: List[Tuple[int, RemoveFile]] = []
        start, v = 0, head
        marker = None
        while v >= start:
            try:
                acts = read_commit(store, fn.delta_file(t.log.log_path, v))
            except FileNotFoundError:
                raise DeltaError(
                    f"VACUUM LITE cannot prove coverage: log version {v} "
                    f"in window [{start}, {head}] was cleaned; run a full "
                    f"vacuum (lite=False) instead")
            for a in acts:
                if isinstance(a, RemoveFile):
                    removes.append((v, a))
                elif marker is None and isinstance(a, CommitInfo) \
                        and a.operation == "VACUUM LITE END":
                    marker = int((a.operationParameters or {})
                                 .get("lastVacuumedVersion", v))
                    start = marker + 1
            v -= 1

        # Retention is decided per PATH on the YOUNGEST tombstone, not
        # per remove: a path removed, RESTORE-re-added and removed
        # again has two tombstones, and the young one guards the file
        # for time travel even when the old one is past the horizon
        # (InMemoryLogReplay.scala:90-92 keeps latest-per-path). A
        # doomed path's DV sidecars go with it.
        youngest: Dict[str, int] = {}
        sidecars: Dict[str, set] = {}
        for _, r in removes:
            p = canonical_path(r.path, snap.table_path)
            ts = r.deletionTimestamp or 0
            youngest[p] = max(ts, youngest.get(p, ts))
            dv = (r.tags or {}).get(DV_TAG)
            if dv:
                sidecars.setdefault(p, set()).add(
                    canonical_path(dv, snap.table_path))
        doomed = {p for p, ts in youngest.items() if ts <= horizon}
        doomed |= {s for p in doomed for s in sidecars.get(p, ())}
        # The snapshot's in-retention tombstones are belt-and-braces
        # here vs a young tombstone living OUTSIDE the window (e.g. a
        # marker written by an engine with a different advance rule).
        prefix = t.path + "/"
        doomed = sorted(p for p in doomed - _protected_set(snap, horizon)
                        if p.startswith(prefix))
        rows = [(p,) for p in doomed]

        if dry_run:
            # windows can overlap (the marker only advances past fully
            # aged-out versions) — report only files that still exist
            gone = {r["path"] for r in fan_out(
                t.spark, rows, "path string", _missing_paths(store),
                "path string").collect()}
            return [p[len(prefix):] for p in doomed if p not in gone]
        deleted = sorted(r["path"][len(prefix):] for r in fan_out(
            t.spark, rows, "path string", _delete_paths(store),
            "path string").collect())
        # Marker advance: a version whose tombstones are all past the
        # horizon is fully handled; the FIRST version still carrying an
        # in-retention tombstone (and everything after it) must stay in
        # the NEXT run's window, or those files would never be
        # reclaimable by a lite run once they age out.
        young = [v for v, r in removes
                 if (r.deletionTimestamp or 0) > horizon]
        t.log.start_transaction().commit(
            [], "VACUUM LITE END",
            {"lastVacuumedVersion": str(min(young) - 1 if young else head),
             "retentionCheckEnabled": "true",
             "numDeletedFiles": str(len(deleted))})
        return deleted

    def generate_manifest(self) -> List[str]:
        """Write a ``_symlink_format_manifest`` for the current
        snapshot — the interop path that lets manifest-based engines
        (Presto, Trino, Athena, Redshift Spectrum) query the table by
        reading a plain list of active Parquet files, the same
        engine-without-a-connector role the reference's Power BI reader
        plays (powerbi/fn_ReadDeltaTable.pq:9-10: re-derive the active
        file list outside the JVM).

        Layout mirrors Delta's GENERATE symlink_format_manifest: one
        ``manifest`` text file per partition directory (or a single
        root-level one for unpartitioned tables), each line an absolute
        ``file:`` URI of an active data file. Returns the manifest
        paths written. Stale manifest subdirectories from dropped
        partitions are removed.

        Scale: the driver groups the Snapshot's file rows by physical
        directory (the partition fan-out) and executor tasks write the
        directories' manifest files through the LogStore; the driver
        collects only the written paths (bounded by partition count,
        the inherent report size).
        """
        t = self.table
        store = t.log.store
        snap = t.log.update() or t.snapshot()
        root = t.path
        man_root = os.path.join(root, "_symlink_format_manifest")
        store.remove_tree(man_root)

        prefix = root + "/"
        # group by the file's PHYSICAL directory so the manifest tree
        # mirrors the on-disk partition layout even for escaped
        # partition values; files outside the table root (absolute-path
        # adds) land in the root manifest
        groups: Dict[str, List[str]] = {}
        for r in snap._files_rows:
            p = r["path"]
            sub = os.path.dirname(p[len(prefix):]) \
                if p.startswith(prefix) else ""
            groups.setdefault(sub, []).append("file:" + p)

        def write_manifests(batches):
            import pandas as pd
            for pdf in batches:
                out = []
                for s, uris in zip(pdf["__sub"], pdf["__uris"]):
                    d = os.path.join(man_root, s) if s else man_root
                    path = os.path.join(d, "manifest")
                    store.write(path, list(uris), overwrite=True)
                    out.append(path)
                yield pd.DataFrame({"path": out})

        return sorted(r["path"] for r in fan_out(
            t.log.spark,
            [(sub, sorted(uris)) for sub, uris in groups.items()],
            "__sub string, __uris array<string>", write_manifests,
            "path string").collect())
