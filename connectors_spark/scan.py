"""Pruned file scans (reference: DeltaScanImpl / FilteredDeltaScanImpl,
``standalone/.../scan/DeltaScanImpl.scala:73-166``,
``FilteredDeltaScanImpl.scala:46-81``).

:attr:`DeltaScan.rows` is the one pruner: it chooses files on the driver
from the Snapshot's inventory, with no Spark job. ``to_df``,
``collect_files`` (so ``txn.mark_files_as_read``: DELETE, UPDATE,
replaceWhere, MERGE's partition scope) and OPTIMIZE's ``WHERE`` take its
rows. The rules:

- **Bind once** (``expressions.bind``), before pruning and before a
  transaction records the predicate for conflict checks: names resolve
  to the schema's case-insensitively; a string literal compared with a
  non-string column is decoded by ``partition_values.decode``, and one
  that does not decode raises ``DeltaError``, as Spark's ANSI cast does.
  Other mixed types meet in ``eval``, which casts as Spark does: a
  string partition value to a non-string literal's type, a date to a
  timestamp, a number to a float beside a float.
- **Partition conjuncts are exact.** The predicate splits into conjuncts
  over partition columns only and a residual (PartitionUtils.scala:
  61-99). Each partition conjunct is ``eval``'d once per distinct
  partition tuple (FilteredDeltaScanImpl.scala:54-71) on the values
  ``partition_values.decode_row`` decodes through the name map, as the
  conflict checker's J2 loop does. A file is kept only on True: these
  conjuncts are not re-applied to rows.
- **Stats conjuncts are conservative.** The data scan re-applies the
  residual, so a file is skipped only when its evidence proves no row
  matches. AND narrows; OR needs both sides boundable; other shapes,
  missing and unparseable stats give no evidence. A sub-expression over
  partition columns only is exact per file. ``<``, ``<=``, ``>``, ``>=``
  test min or max; ``=`` and ``IN`` test exact per-value containment in
  [min, max] (``searchsorted`` over the sorted values, any list length).
  Bounds and literals compare in the type Spark's implicit cast gives
  the pair: integers and decimals exactly, numbers beside a float,
  double or float literal as float64 (``_keys``). ``IS NULL`` needs
  nullCount > 0, ``IS NOT NULL`` nullCount < numRecords, and an
  all-null column matches no comparison. A max timestamp counts 1 ms
  later: stats truncate to milliseconds (delta-spark's rule). Bloom
  tags (bloom.py) are probed for ``=`` and IN lists of at most
  ``_IN_BLOOM_MAX_VALUES`` values, on the files min/max keeps, with
  the values inside each file's range.
- **Stats parse vectorized**: one ``pyarrow.json.read_json`` over the
  stats lines, for the residual's columns only, with an explicit schema
  from the data schema (physical names).
- **One per-Snapshot index** (:class:`Inventory`) holds that parse for
  the last column set: at 1 M files a per-scan pass over the rows costs
  more than a warm scan of the Spark plan this pruner replaced
  (``scripts/prune_probe.py``).
"""

from __future__ import annotations

import datetime as dt
import io
from decimal import Decimal
from functools import cached_property
from typing import Dict, List, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bloom import TAG_PREFIX, bloom_hashes, bloom_may_contain
from .expressions import (And, Col, EqualTo, Expression, GreaterThan,
                          GreaterThanOrEqual, In, IsNotNull, IsNull,
                          LessThan, LessThanOrEqual, Lit, Or, bind,
                          split_metadata_and_data)
from .localrel import local_rows_df
from .log.actions import AddFile
from .log.snapshot import FILES_SCHEMA, Snapshot, addfiles_from_rows
from .partition_values import decode_row, partition_fields

# Bloom composition bound for IN lists (runtime join-key pruning
# routinely hands us hundreds of keys). A file is skipped only when ALL
# n in-range values miss, and with per-value fpp p the false-keep
# probability is 1-(1-p)^n (~0.8% auto-sized → ~87% at n=256). Past the
# cap the filter can no longer prove much, so we stop paying for it.
_IN_BLOOM_MAX_VALUES = 256

# positions of the inventory row fields the pruner reads
_PV, _STATS, _TAGS = (FILES_SCHEMA.names.index(c)
                      for c in ("partitionValues", "stats", "tags"))


class DeltaScan:
    def __init__(self, snapshot: Snapshot,
                 predicate: Optional[Expression] = None):
        self.snapshot = snapshot
        meta = snapshot.metadata
        self.predicate = bind(predicate, meta.schema)
        self.pushed, self.residual = split_metadata_and_data(
            self.predicate, meta.partitionColumns)

    @cached_property
    def rows(self) -> List:
        """The inventory rows this scan keeps, by the module's rules."""
        rows = self.snapshot._files_rows
        if self.predicate is None:
            return rows
        inv = self.snapshot._inventory
        idx = np.arange(len(rows))
        if self.pushed is not None:
            idx = np.flatnonzero(inv.partition_mask(self.pushed))
        if self.residual is not None and len(idx):
            keep = _stats_keep(inv, idx, self.snapshot.metadata,
                               self.residual)
            if keep is not None:
                idx = idx[keep]
        return list(map(rows.__getitem__, idx.tolist()))

    def files(self) -> DataFrame:
        """The kept rows as a ``FILES_SCHEMA`` DataFrame."""
        return local_rows_df(self.snapshot.spark, self.rows, FILES_SCHEMA)

    def collect_files(self) -> List[AddFile]:
        return addfiles_from_rows(self.rows)

    def to_df(self) -> DataFrame:
        """Table rows surviving the full predicate. The residual is applied
        to the data scan where Catalyst pushes it into the Parquet reader
        (PushedFilters) -- the reference leaves the residual to the caller
        (DeltaScan.java:59-66); as an engine we apply it."""
        residual_col = self.residual.to_column(F.col) \
            if self.residual is not None else None
        return self.snapshot.to_df(files=self.rows, residual=residual_col)


class Inventory:
    """A Snapshot's file plane in columns, built once per Snapshot
    (``Snapshot._inventory``) in the order of ``_files_rows``: each file's
    stats as one JSON line and its partition tuple as a code into the
    distinct tuples."""

    def __init__(self, rows, meta):
        self.fields = partition_fields(meta)
        pcols = [phys for _, phys, _ in self.fields]
        # one JSON line per file: raw newlines are JSON whitespace, never
        # inside a string value
        self.stats = [s.replace("\n", " ") if s else "{}" for s in
                      (tuple.__getitem__(r, _STATS) for r in rows)]
        self.rows = rows
        ids: Dict[tuple, int] = {}
        self.codes = np.fromiter(
            (ids.setdefault(tuple(map((tuple.__getitem__(r, _PV) or {}).get,
                                      pcols)), len(ids)) for r in rows),
            dtype=np.int64, count=len(rows))
        self.tuples = [dict(zip(pcols, t)) for t in ids]
        self._parsed: tuple = (None, None)

    def partition_mask(self, expr: Expression) -> np.ndarray:
        """Per file: ``expr`` (over partition columns only) is True on its
        partition values, evaluated once per distinct tuple."""
        ok = np.array([expr.eval(decode_row(pv, self.fields)) is True
                       for pv in self.tuples], dtype=bool)
        return ok[self.codes]

    def parsed_stats(self, kinds: Dict[str, str]):
        """:func:`_parse_stats` over every file for the physical columns
        ``kinds`` names; the last column set's parse is kept."""
        key = sorted(kinds.items())
        if self._parsed[0] != key:
            self._parsed = (key, _parse_stats(self.stats, kinds))
        return self._parsed[1]


# --------------------------------------------------------- stats evidence

_OPS = {EqualTo: "in", LessThan: "<", LessThanOrEqual: "<=",
        GreaterThan: ">", GreaterThanOrEqual: ">="}
_FLIP = {"in": "in", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
# how each column type's stats parse: integers as int64, a float as
# float32 (its exact value), decimals exactly, strings and dates as ISO
# text, timestamps as epoch microseconds (UTC)
_KINDS = dict.fromkeys(("tinyint", "smallint", "int", "bigint"), "int")
_KINDS.update(float="float", double="double", decimal="dec",
              string="str", date="date", timestamp="ts")


def _leaf(e: Expression):
    """(column, op, literal values) for a stats-testable node, else None.
    ``=`` is an IN of one value; a NULL IN element never matches."""
    if isinstance(e, In) and isinstance(e.value, Col) \
            and all(isinstance(x, Lit) for x in e.elems):
        return e.value.name, "in", [x.value for x in e.elems
                                    if x.value is not None]
    op = _OPS.get(type(e))
    if op is not None:
        l, r = e.left, e.right
        if isinstance(l, Lit) and isinstance(r, Col):
            l, r, op = r, l, _FLIP[op]
        if isinstance(l, Col) and isinstance(r, Lit) and r.value is not None:
            return l.name, op, [r.value]
    if isinstance(e, (IsNull, IsNotNull)) and isinstance(e.child, Col):
        return e.child.name, type(e).__name__, []
    return None


def _keys(kind: str, values: list):
    """(domain, keys): the literals ``values`` in the domain Spark's
    implicit cast compares them in beside a ``kind`` column, or None when
    one has no place there (no evidence). Numbers compare as float64
    beside a float or double, or beside a float literal (an integer
    widens to float32 first beside a float), else exactly: "int" is the
    int64 case, "exact" any other (Python ints and Decimals)."""
    if any(v is None or isinstance(v, bool) for v in values):
        return None
    if kind in ("int", "float", "double", "dec"):
        if not all(isinstance(v, (int, float, Decimal)) and v == v
                   for v in values):
            return None
        if kind in ("float", "double") \
                or any(isinstance(v, float) for v in values):
            return "f64", [float(np.float32(v)) if kind == "float"
                           and isinstance(v, int) else float(v)
                           for v in values]
        if kind == "int" and all(isinstance(v, int) and -2**63 <= v < 2**63
                                 for v in values):
            return "int", values
        return "exact", values
    if kind == "str":
        ok, keys = all(isinstance(v, str) for v in values), values
    elif kind == "date":
        ok = all(type(v) is dt.date for v in values)
        keys = [v.isoformat() for v in values] if ok else None
    else:
        ok = all(isinstance(v, dt.datetime) for v in values)
        keys = [T.TimestampType().toInternal(v) for v in values] \
            if ok else None
    return (kind, keys) if ok else None


def _in_domain(a: np.ndarray, domain: str) -> np.ndarray:
    """Parsed stats values in a comparison domain of :func:`_keys`."""
    if domain == "f64":
        return a.astype(np.float64)
    return a.astype(object) if domain == "exact" else a


def _parse_stats(lines: List[str], kinds: Dict[str, str]):
    """get(struct, physical column) -> (values, valid) numpy arrays in the
    column's comparison domain, from one parse of the stats lines."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj
    # decimal256(76, 38) holds every decimal(p <= 38, s) exactly
    types = {"int": pa.int64(), "float": pa.float32(),
             "double": pa.float64(), "dec": pa.decimal256(76, 38),
             "ts": pa.timestamp("us", tz="UTC")}
    leaf = pa.struct([(c, types.get(k, pa.string()))
                      for c, k in kinds.items()])
    opts = pj.ParseOptions(explicit_schema=pa.schema([
        ("numRecords", pa.int64()), ("minValues", leaf), ("maxValues", leaf),
        ("nullCount", pa.struct([(c, pa.int64()) for c in kinds]))]),
        unexpected_field_behavior="ignore")
    # 16 MiB blocks: at 1 M files fewer, larger blocks parse about 2x
    # faster than the 1 MiB default
    ropts = pj.ReadOptions(block_size=16 << 20)

    def read(lines):
        # halving isolates a stats string that does not parse; it reads
        # as "{}" (no evidence)
        try:
            return pj.read_json(io.BytesIO("\n".join(lines).encode()),
                                read_options=ropts, parse_options=opts)
        except pa.ArrowInvalid:
            if len(lines) == 1:
                return read(["{}"])
            return pa.concat_tables([read(lines[:len(lines) // 2]),
                                     read(lines[len(lines) // 2:])])

    table = read(lines)

    def get(struct: str, col: Optional[str] = None):
        arr = table.column(struct)
        if col is not None:
            arr = pc.struct_field(arr, col)
        arr = arr.combine_chunks()
        kind = kinds[col] if struct.endswith("Values") else "count"
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        if kind == "ts":
            micros = pc.fill_null(arr.cast(pa.int64()), 0).to_numpy()
            return micros + (1000 if struct == "maxValues" else 0), valid
        fill = "" if kind in ("str", "date") else \
            pa.scalar(Decimal(0), arr.type) if kind == "dec" else 0
        return pc.fill_null(arr, fill).to_numpy(zero_copy_only=False), valid

    return get


def _stats_keep(inv: Inventory, idx: np.ndarray, meta,
                residual: Expression) -> Optional[np.ndarray]:
    """Keep mask over the files ``idx`` (positions in ``inv``) for
    ``residual`` by the module's stats rules, or None when it gives no
    evidence at all."""
    col_kinds = {f.name: _KINDS.get(f.dataType.simpleString().split("(")[0])
                 for f in meta.data_schema.fields}
    pset = set(meta.partitionColumns)
    phys = meta.name_map()
    kinds = {c: col_kinds[c] for c in residual.references()
             if col_kinds.get(c)}
    phys_kinds = {phys[c]: k for c, k in kinds.items()}

    def get(struct: str, col: Optional[str] = None):
        vals, valid = inv.parsed_stats(phys_kinds)(struct, col)
        return vals[idx], valid[idx]

    def test(col: str, op: str, values) -> Optional[np.ndarray]:
        kind, p = kinds[col], phys[col]
        nulls, nulls_ok = get("nullCount", p)
        nrec, nrec_ok = get("numRecords")
        if op == "IsNull":
            return ~nulls_ok | (nulls > 0)
        if op == "IsNotNull":
            return ~(nulls_ok & nrec_ok) | (nulls < nrec)
        domain = _keys(kind, values)
        if domain is None:
            return None
        domain, keys = domain
        lo, lo_ok = get("minValues", p)
        hi, hi_ok = get("maxValues", p)
        lo, hi = _in_domain(lo, domain), _in_domain(hi, domain)
        if op in ("<", "<="):
            keep = ~lo_ok | ((lo < keys[0]) if op == "<" else (lo <= keys[0]))
        elif op in (">", ">="):
            keep = ~hi_ok | ((hi > keys[0]) if op == ">" else (hi >= keys[0]))
        else:
            # sorted by comparison key; the bloom hashes the literals
            pairs = sorted(zip(keys, values), key=lambda kv: kv[0])
            vals = np.array([k for k, _ in pairs], dtype=lo.dtype)
            ranged = lo_ok & hi_ok
            i0 = np.searchsorted(vals, lo, "left")
            i1 = np.searchsorted(vals, hi, "right")
            keep = ~ranged | (i0 < i1)
            hashes = bloom_hashes([v for _, v in pairs]) \
                if len(pairs) <= _IN_BLOOM_MAX_VALUES else None
            for j in np.flatnonzero(keep) if hashes is not None else ():
                tag = (tuple.__getitem__(inv.rows[idx[j]], _TAGS)
                       or {}).get(TAG_PREFIX + p)
                if tag:
                    keep[j] = bloom_may_contain(
                        tag, hashes[i0[j]:i1[j]] if ranged[j] else hashes)
        return keep & ~(nulls_ok & nrec_ok & (nulls == nrec))

    def keep(e: Expression) -> Optional[np.ndarray]:
        refs = e.references()
        if refs and refs <= pset:
            return inv.partition_mask(e)[idx]
        if isinstance(e, (And, Or)):
            a, b = keep(e.left), keep(e.right)
            if isinstance(e, Or):
                return None if a is None or b is None else a | b
            return a if b is None else b if a is None else a & b
        leaf = _leaf(e)
        return test(*leaf) if leaf and leaf[0] in kinds else None

    return keep(residual)


def prune_by_join_keys(table, key_col: str, keys_df,
                       max_keys: int = 100_000):
    """Dynamic (runtime) file pruning by join keys — the metadata-plane
    analogue of Spark's dynamic partition pruning, which cannot see our
    log-backed file listing. Collect the (bounded) distinct join keys
    from the dimension side, build an ``In`` predicate, and scan the
    fact table with it: partition-valued keys prune whole directories,
    other keys prune via per-file min/max stats, and the same predicate
    re-applies row-level as the residual. Falls back to an unpruned scan
    when the key set exceeds ``max_keys`` (an IN list that large stops
    paying for itself — at that point a shuffle join is the plan).

    Returns the pruned DeltaScan; caller chains ``.to_df()`` and joins.
    """
    rows = keys_df.distinct().limit(max_keys + 1).collect()
    keys = sorted(r[0] for r in rows if r[0] is not None)
    if len(rows) > max_keys or not keys:
        return table.scan(None)
    return table.scan(Col(key_col).isin(*keys))
