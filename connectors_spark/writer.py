"""Data-file writer: stage Parquet with Spark, publish via the commit
protocol.

The distributed write is plain ``df.write.partitionBy(...).parquet`` into a
hidden staging directory under the table root (so a publish is a same-
filesystem rename, never a copy). Publication is ALSO distributed: the
staged file list (names only — no data I/O) fans out through
``mapInPandas``, and each executor task reads its files' Parquet footers
for stats (numRecords/min/max/nullCount — the skipping input the
reference carries opaquely in ``AddFile.stats``, actions.scala:116-117),
moves them into their final Hive-style location, and emits one metadata
row. The driver collects ONLY the action list — O(files) rows of path +
stats JSON, never file contents — so a million-file commit stays a
million tiny rows, not a million driver-side footer reads. Mirrors the
reference's writer+commit split (Flink ``DeltaWriter``/
``DeltaWriterBucket`` stage files, ``DeltaGlobalCommitter`` commits;
DeltaWriterBucket.java, S8).

Task-retry safety: the per-file move is idempotent (a retried task that
finds its source gone but the destination present treats the move as
already done), so a lost executor cannot duplicate or orphan a file.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import urllib.parse
import uuid
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame

# Module-scope import (bloom tags are built inside the executor-side
# publish pass; this module ships to workers by value — shipping.py —
# which covers pickle-time references but NOT runtime imports)
from .bloom import (TAG_PREFIX, auto_bits, bloom_tag_value,
                    build_bloom_hex)
from .errors import DeltaProtocolError
from .log.actions import AddCDCFile, AddFile

CDC_DIR = "_change_data"
CHANGE_TYPE_COL = "_change_type"
# Synthetic partition column steering rows of a SINGLE DML write job
# into either the table layout or _change_data (delta-spark's
# CDC_PARTITION_COL; TransactionalWrite.performCDCPartition). Never
# lands in any parquet file or in partitionValues — it exists only in
# the staging directory layout.
CDC_PART_COL = "__is_cdc"

_STATS_TYPES = ("int8", "int16", "int32", "int64", "float", "double",
                "string", "date32", "date64")


def _json_safe(v: Any) -> Any:
    if isinstance(v, bytes):
        return None
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return v
    return v


def file_stats_json(path: str) -> Tuple[str, int]:
    """(stats json, numRecords) from the Parquet footer. Driver-side here;
    at fleet scale the same footer read runs as a ``mapInPandas`` over the
    staged file list."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    num_rows = md.num_rows
    mins: Dict[str, Any] = {}
    maxs: Dict[str, Any] = {}
    nulls: Dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name:  # nested: skip (top-level columns only)
                continue
            st = c.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                continue
            try:
                mn, mx = _json_safe(st.min), _json_safe(st.max)
            except Exception:
                # pyarrow can't extract min/max for some logical types
                # (e.g. decimal) — stats are best-effort skip hints.
                continue
            if mn is None or mx is None:
                continue
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    stats = {"numRecords": num_rows, "minValues": mins, "maxValues": maxs,
             "nullCount": nulls}
    return json.dumps(stats, separators=(",", ":")), num_rows


def _parse_partition_dirs(rel_dir: str, partition_columns: List[str]
                          ) -> Dict[str, Optional[str]]:
    """Decode ``col=value`` staging dirs back to exact partition values.
    This is the ONE place dir names are parsed -- for files we just wrote
    with Spark, whose escaping we then invert; readers always trust
    ``partitionValues`` (DeltaInputFormat.scala:41-43)."""
    values: Dict[str, Optional[str]] = {}
    segs = [s for s in rel_dir.split("/") if s]
    for col, seg in zip(partition_columns, segs):
        k, _, v = seg.partition("=")
        assert k == col, f"unexpected staging layout {rel_dir!r}"
        decoded = urllib.parse.unquote(v)
        values[col] = None if decoded == "__HIVE_DEFAULT_PARTITION__" else decoded
    return values


def _bloom_tags_json(path: str, bloom_cfg) -> Optional[str]:
    """Per-file bloom tags ({'bloom.<col>': 'm:k:hex'}) for the
    configured columns, from one columnar read of ONLY those columns
    (runs in the same executor task that footer-reads stats). Columns
    absent from the file (schema evolution) or with no hashable values
    get no tag — the scan keeps such files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cols, m, k = bloom_cfg
    pf = pq.ParquetFile(path)
    present = [c for c in cols if c in pf.schema_arrow.names]
    if not present:
        return None
    tbl = pf.read(columns=present)
    tags = {}
    for c in present:
        vals = [v for v in pc.unique(tbl.column(c)).to_pylist()
                if v is not None]
        mc = m if m is not None else auto_bits(len(vals))
        hx = build_bloom_hex(vals, mc, k)
        if hx is not None:
            tags[TAG_PREFIX + c] = bloom_tag_value(hx, mc, k)
    return json.dumps(tags, separators=(",", ":")) if tags else None


def _publish_one(store, staging: str, table_path: str, rel_path: str,
                 collect_stats: bool, bloom_cfg=None,
                 dest_rel: Optional[str] = None
                 ) -> Tuple[int, int, Optional[str], Optional[str]]:
    """Extract stats from one staged file and move it into place (through
    the LogStore's file-plane ops — never raw os calls, so an
    object-store deployment swaps the store, not this code).
    Idempotent: a task retry that finds src gone but dest present reuses
    the already-published file. Returns (size, mtime_ms, stats_json,
    bloom_tags_json). ``dest_rel`` overrides the destination path
    relative to the table root (defaults to ``rel_path`` — identity
    layout); folded CDC writes use it to strip the synthetic
    ``__is_cdc``/``_change_type`` staging dirs and to land change files
    under ``_change_data/``."""
    src = os.path.join(staging, rel_path)
    dest = os.path.join(table_path, dest_rel or rel_path)
    stats = tags = None
    if store.exists(src):
        if collect_stats:
            stats, _n = file_stats_json(src)
        if bloom_cfg is not None:
            tags = _bloom_tags_json(src, bloom_cfg)
        store.rename(src, dest)
    elif not store.exists(dest):
        raise FileNotFoundError(f"staged file vanished: {src}")
    else:
        if collect_stats:
            stats, _n = file_stats_json(dest)
        if bloom_cfg is not None:
            tags = _bloom_tags_json(dest, bloom_cfg)
    size, mtime = store.stat(dest)
    return size, mtime, stats, tags


def publish_plan(spark, staging: str, table_path: str,
                 rel_paths: List[str], collect_stats: bool,
                 store=None, bloom_cfg=None,
                 dest_rels: Optional[List[Optional[str]]] = None,
                 want_stats: Optional[List[bool]] = None) -> DataFrame:
    """DataFrame plan that publishes the staged files distributedly: one
    ``mapInPandas`` stage where each task footer-reads + moves its slice
    and emits (rel_path, size, mtime, stats) — the commit's action list.
    Exposed separately so tests can pin that it IS a distributed job.
    ``store`` (a stateless LogStore, pickled into the closure) performs
    the move/stat on executors. ``dest_rels`` (parallel to
    ``rel_paths``) overrides per-file destinations; ``want_stats``
    (parallel) gates footer stats + bloom per file — folded DML writes
    publish data files (stats on) and CDC files (stats off, they have
    no stats field) in this ONE job."""
    import pandas as pd
    from pyspark.sql import types as T

    from .log.logstore import default_log_store
    from .shipping import ensure_shipped_by_value
    ensure_shipped_by_value()   # workers may not have the pkg installed
    if store is None:
        store = default_log_store(table_path)
    if dest_rels is None:
        dest_rels = [None] * len(rel_paths)
    if want_stats is None:
        want_stats = [True] * len(rel_paths)

    out_schema = T.StructType([
        T.StructField("rel_path", T.StringType()),
        T.StructField("dest_rel", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("mtime", T.LongType()),
        T.StructField("stats", T.StringType()),
        T.StructField("tags", T.StringType()),
    ])

    def _publish(batches):
        for pdf in batches:
            rows = {"rel_path": [], "dest_rel": [], "size": [],
                    "mtime": [], "stats": [], "tags": []}
            for rel, dest, ws in zip(pdf["rel_path"], pdf["dest_rel"],
                                     pdf["want_stats"]):
                size, mtime, stats, tags = _publish_one(
                    store, staging, table_path, rel,
                    collect_stats and bool(ws),
                    bloom_cfg if ws else None,
                    dest_rel=dest)
                rows["rel_path"].append(rel)
                rows["dest_rel"].append(dest if dest is not None else rel)
                rows["size"].append(size)
                rows["mtime"].append(mtime)
                rows["stats"].append(stats)
                rows["tags"].append(tags)
            yield pd.DataFrame(rows)

    # Explicit slicing replaces the repartition: the file list lands in
    # n_parts tasks directly, with no shuffle stage and no
    # defaultParallelism-wide Python source (r14, guide §2.4/§4.1 —
    # createDataFrame(list).repartition cost ~0.7 s/commit at local[32]
    # for a 2-file publish, almost all of it empty Python slices).
    from .localrel import local_rows_df
    n_parts = min(len(rel_paths),
                  spark.sparkContext.defaultParallelism) or 1
    src = local_rows_df(
        spark, list(zip(rel_paths, dest_rels, want_stats)),
        "rel_path string, dest_rel string, want_stats boolean",
        parts=n_parts)
    return src.mapInPandas(_publish, out_schema)


def stage_and_collect(df: DataFrame, table_path: str,
                      partition_by: Optional[List[str]] = None,
                      data_change: bool = True,
                      collect_stats: bool = True,
                      num_indexed_cols: Optional[int] = None,
                      schema_cols: Optional[List[str]] = None,
                      bloom_cfg=None, physical_meta=None,
                      cdc_df: Optional[DataFrame] = None):
    """Write ``df`` as Parquet under ``table_path`` and return the AddFile
    actions to commit. Files land in their final Hive-style layout.

    ``num_indexed_cols`` (delta.dataSkippingNumIndexedCols): record
    min/max/nullCount only for the first N DATA columns (-1/None =
    all) — numRecords is always kept, so COUNT fast paths survive
    while the log stops growing O(width) per file on wide tables; the
    MIN/MAX metadata fast path and stats skipping REFUSE (scan
    instead) on non-indexed columns rather than answer wrong.
    Partition columns never get file stats, so the first-N budget
    skips them, and ``schema_cols`` (the TABLE schema's field order,
    when the caller has metadata) pins the subset against frames whose
    column order differs — matching delta-spark, which truncates the
    data schema in table-schema order (StatisticsCollection).

    The staged-file LISTING is a names-only walk (no data I/O); footer
    reads and moves run on executors via ``publish_plan``. Only the
    resulting action rows come back to the driver.

    ``physical_meta`` (a Metadata under column mapping): callers stay
    entirely in the LOGICAL name domain; this one seam renames the
    frame's columns to their physical names and translates
    partition_by / stats-width / bloom column lists, so data files,
    partitionValues keys, footer stats and bloom tags all land in the
    physical domain the read path maps back from. Identity when the
    table has no mapping.

    ``cdc_df`` (r15, VERDICT r14 #4 — delta-spark's single-pass DML
    write): change rows (same columns as ``df`` plus ``_change_type``)
    ride the SAME Spark write job as the rewrite, partitioned by the
    synthetic ``__is_cdc`` + ``_change_type`` columns on top of the
    table partitioning. Data files land byte-identical to the unfolded
    path (the synthetic columns exist only as staging dirs); change
    files land under ``_change_data/_change_type=<t>/<pdirs>/cdc2-*``
    with the table's partitionValues recorded on the AddCDCFile (the
    v2 CDC layout — readers recover partition columns and the change
    type from the action + path instead of in-file columns; legacy
    flat cdc files keep reading unchanged). One staging write + one
    publish job replaces the previous two write jobs per CDC-enabled
    DML commit. Returns ``(adds, cdcs)`` instead of ``adds``."""
    from pyspark.sql import functions as F
    partition_by = list(partition_by or [])
    if physical_meta is not None \
            and physical_meta.column_mapping_mode != "none":
        nmap = physical_meta.name_map()
        df = df.select(*[F.col(c).alias(nmap.get(c, c))
                         for c in df.columns])
        if cdc_df is not None:
            # same physical domain as the data leg (_change_type and
            # the materialized row-id columns have no mapping entry
            # and pass through)
            cdc_df = cdc_df.select(*[F.col(c).alias(nmap.get(c, c))
                                     for c in cdc_df.columns])
        partition_by = [nmap.get(c, c) for c in partition_by]
        if schema_cols is not None:
            schema_cols = [nmap.get(c, c) for c in schema_cols]
        if bloom_cfg is not None:
            bcols, bm, bk = bloom_cfg
            bloom_cfg = ([nmap.get(c, c) for c in bcols], bm, bk)
    keep_cols = None
    if num_indexed_cols is not None and num_indexed_cols >= 0:
        order = schema_cols if schema_cols is not None \
            else df.schema.fieldNames()
        data_order = [c for c in order if c not in set(partition_by)]
        keep_cols = set(data_order[:num_indexed_cols])
    # VARIANT columns (Delta 'Variant Data Type'): this container's
    # pyarrow (16.x) cannot OPEN footers carrying the Variant logical
    # type, so the per-file footer/bloom pass is skipped for variant-
    # bearing files and numRecords comes from one Spark count over the
    # published files instead (min/max are undefined for variant per
    # the spec; other columns' stats are forfeited on such tables —
    # environment ceiling, the seam heals with pyarrow >= 21).
    from .log.features import _has_variant
    has_variant = any(_has_variant(f.dataType) for f in df.schema.fields)
    collect_stats_eff = collect_stats and not has_variant
    if has_variant:
        bloom_cfg = None
    staging = os.path.join(table_path, f"_staging_{uuid.uuid4().hex}")
    if cdc_df is None:
        out = df
        write_partition_by = partition_by
    else:
        # ONE write job for rewrite + change rows: the synthetic
        # partition columns split the staging layout; unionByName
        # tolerates column-order differences between the legs.
        out = (df.withColumn(CHANGE_TYPE_COL,
                             F.lit(None).cast("string"))
               .withColumn(CDC_PART_COL, F.lit("false"))
               .unionByName(cdc_df.withColumn(CDC_PART_COL,
                                              F.lit("true"))))
        write_partition_by = [CDC_PART_COL, CHANGE_TYPE_COL] \
            + partition_by
    writer = out.write.mode("overwrite")
    if write_partition_by:
        writer = writer.partitionBy(*write_partition_by)
    writer.parquet(staging)

    from .log.logstore import default_log_store
    store = default_log_store(table_path)
    adds: List[AddFile] = []
    cdcs: List[AddCDCFile] = []
    try:
        rel_paths = [p for p in store.list_files_recursive(staging)
                     if p.endswith(".parquet")]
        if cdc_df is None:
            data_rels, cdc_rels = rel_paths, []
        else:
            data_rels = [p for p in rel_paths
                         if p.startswith(f"{CDC_PART_COL}=false/")]
            cdc_rels = [p for p in rel_paths
                        if p.startswith(f"{CDC_PART_COL}=true/")]
        if rel_paths:
            # data files: strip the two synthetic staging dirs so the
            # final layout (and bytes) match the unfolded write; cdc
            # files: keep _change_type=<t> + partition dirs under
            # _change_data/, unique-prefixed per publish.
            srcs: List[str] = list(data_rels)
            dests: List[Optional[str]] = [
                ("/".join(p.split("/")[2:]) if cdc_df is not None
                 else None) for p in data_rels]
            stats_flags: List[bool] = [True] * len(data_rels)
            for p in cdc_rels:
                segs = p.split("/")
                srcs.append(p)
                dests.append("/".join(
                    [CDC_DIR] + segs[1:-1]
                    + [f"cdc2-{uuid.uuid4().hex}-{segs[-1]}"]))
                stats_flags.append(False)
            pub = publish_plan(df.sparkSession, staging, table_path,
                               srcs, collect_stats_eff, store=store,
                               bloom_cfg=bloom_cfg, dest_rels=dests,
                               want_stats=stats_flags).collect()
            for r in pub:
                rel_path = r["dest_rel"]
                quoted = "/".join(urllib.parse.quote(s)
                                  for s in rel_path.split("/"))
                if rel_path.startswith(f"{CDC_DIR}/"):
                    # dirs after _change_data: _change_type=<t> then
                    # the table partition dirs; _change_type never
                    # enters partitionValues (it is recovered from the
                    # path at read)
                    rel_dir = os.path.dirname(rel_path)
                    segs = [s for s in rel_dir.split("/")[1:] if s]
                    pv = _parse_partition_dirs(
                        "/".join(segs), [CHANGE_TYPE_COL] + partition_by)
                    pv.pop(CHANGE_TYPE_COL, None)
                    cdcs.append(AddCDCFile(
                        path=quoted, partitionValues=pv,
                        size=r["size"]))
                    continue
                rel_dir = os.path.dirname(rel_path)
                pv = _parse_partition_dirs(rel_dir, partition_by)
                stats = r["stats"]
                if keep_cols is not None and stats:
                    d = json.loads(stats)
                    for k in ("minValues", "maxValues", "nullCount"):
                        d[k] = {c: v for c, v in d.get(k, {}).items()
                                if c in keep_cols}
                    stats = json.dumps(d, separators=(",", ":"))
                adds.append(AddFile(
                    path=quoted,
                    partitionValues=pv,
                    size=r["size"],
                    modificationTime=r["mtime"],
                    dataChange=data_change,
                    stats=stats,
                    tags=json.loads(r["tags"]) if r["tags"] else None))
    finally:
        store.remove_tree(staging)
    if cdc_df is not None and not cdc_rels:
        # Zero change rows still must commit an (empty) AddCDCFile:
        # the CDF protocol reads a cdc-carrying commit EXACTLY from
        # its cdc files, while a cdc-less commit SYNTHESIZES changes
        # from its dataChange add/remove actions — an identity rewrite
        # with no hits must not synthesize phantom insert+delete rows.
        # The partitioned staging write materializes no file for an
        # empty leg (unlike the old unpartitioned cdc write), so stage
        # the empty file the old way — rare corner, one small job.
        cdcs = stage_cdc_and_collect(cdc_df, table_path)
    if not rel_paths and cdc_df is None:
        return []
    if has_variant and collect_stats and adds:
        # numRecords via Spark (it reads its own variant files fine):
        # one count per file over exactly the published paths.
        import dataclasses

        # Seed zero-row files first: a published empty parquet yields no
        # groupBy row below, and an AddFile left with stats=None fails
        # the 'row tracking requires numRecords stats' commit gate.
        zero = json.dumps({"numRecords": 0, "minValues": {},
                           "maxValues": {}, "nullCount": {}},
                          separators=(",", ":"))
        adds = [dataclasses.replace(a, stats=zero)
                if a.stats is None else a for a in adds]

        from pyspark.sql import functions as F

        from .log.snapshot import canonical_path, canonical_path_col
        index_of = {canonical_path(a.path, table_path): i
                    for i, a in enumerate(adds)}
        counts = (df.sparkSession.read
                  .parquet(*index_of)
                  .select(F.col("_metadata.file_path").alias("__fn"))
                  .select(canonical_path_col("__fn", table_path)
                          .alias("__f"))
                  .groupBy("__f").count().collect())
        for r in counts:
            i = index_of.get(r["__f"])
            if i is None:
                # A counted file that maps back to none of the staged
                # AddFiles means the canonicalization domains diverged;
                # silently skipping would leave a rowful file committed
                # with the numRecords=0 seed — and under row tracking
                # the baseRowId ranges would overlap (duplicate
                # _row_ids). Fail the write instead (ADVICE r13).
                raise DeltaProtocolError(
                    f"variant numRecords repair: counted file "
                    f"{r['__f']!r} matches no staged AddFile path — "
                    f"canonicalization mismatch would corrupt row-id "
                    f"allocation")
            adds[i] = dataclasses.replace(
                adds[i], stats=json.dumps(
                    {"numRecords": int(r["count"]), "minValues": {},
                     "maxValues": {}, "nullCount": {}},
                    separators=(",", ":")))
    # collect() order is partition-arbitrary; sort for reproducible logs.
    adds.sort(key=lambda a: a.path)
    if cdc_df is not None:
        cdcs.sort(key=lambda c: c.path)
        return adds, cdcs
    return adds


def stage_cdc_and_collect(df: DataFrame, table_path: str,
                          physical_meta=None) -> List[AddCDCFile]:
    """Write change rows (``df`` must carry a ``_change_type`` column) as
    Parquet under ``<table>/_change_data/`` and return the ``AddCDCFile``
    actions to commit alongside the DML's add/remove actions.

    CDC files are invisible to snapshot reads (SnapshotImpl ignores the
    ``cdc`` action; actions.scala:164-172) -- only the row-level change
    reader (streaming/cdf.py) opens them. Files are written unpartitioned
    with partition columns as ordinary data columns: change batches are
    small relative to the table and a per-version scan never prunes them.
    """
    from .log.logstore import default_log_store
    if physical_meta is not None \
            and physical_meta.column_mapping_mode != "none":
        # CDC files live in the same PHYSICAL name domain as data
        # files (_change_type has no mapping entry and passes through)
        from pyspark.sql import functions as F
        nmap = physical_meta.name_map()
        df = df.select(*[F.col(c).alias(nmap.get(c, c))
                         for c in df.columns])
    store = default_log_store(table_path)
    staging = os.path.join(table_path, f"_staging_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    dest_dir = os.path.join(table_path, CDC_DIR)
    cdcs: List[AddCDCFile] = []
    try:
        for name in store.list_dir(staging):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(staging, name)
            dest = os.path.join(dest_dir, f"cdc-{uuid.uuid4().hex}-{name}")
            store.rename(src, dest)
            size, _mtime = store.stat(dest)
            rel = os.path.relpath(dest, table_path)
            cdcs.append(AddCDCFile(
                path="/".join(urllib.parse.quote(s) for s in rel.split("/")),
                partitionValues={}, size=size))
    finally:
        store.remove_tree(staging)
    return cdcs
