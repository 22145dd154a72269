"""End-to-end: write a Delta table from testdata parquet, read it back."""

from __future__ import annotations

import os

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.expressions import Col, Lit
from tests.conftest import read_table


def test_write_read_roundtrip(spark, tmp_path):
    li = read_table(spark, "lineitem")
    t = DeltaTable.for_path(spark, str(tmp_path / "li"))
    v = t.write(li)
    assert v == 0
    out = t.to_df()
    assert out.count() == li.count()
    assert set(out.columns) == set(li.columns)
    # value check on an aggregate
    a = li.agg(F.sum("l_quantity")).collect()[0][0]
    b = out.agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_append_and_overwrite(spark, tmp_path):
    orders = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, str(tmp_path / "o"))
    t.write(orders.where("o_orderstatus = 'F'"))
    n_f = t.to_df().count()
    v = t.write(orders.where("o_orderstatus <> 'F'"), mode="append")
    assert v == 1
    assert t.to_df().count() == orders.count()
    v = t.write(orders.limit(10), mode="overwrite")
    assert v == 2
    assert t.to_df().count() == 10


def test_partitioned_write_and_prune(spark, tmp_path):
    orders = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, str(tmp_path / "p"))
    t.write(orders, partition_by=["o_orderstatus"])
    snap = t.snapshot()
    assert snap.metadata.partitionColumns == ["o_orderstatus"]
    scan = t.scan(Col("o_orderstatus") == "F")
    pruned = scan.files().count()
    total = snap.files_df.count()
    assert 0 < pruned < total
    got = scan.to_df().count()
    want = orders.where("o_orderstatus = 'F'").count()
    assert got == want
    # partition column values come back typed and correct
    assert scan.to_df().select("o_orderstatus").distinct().collect()[0][0] == "F"


def test_time_travel(spark, tmp_path):
    orders = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, str(tmp_path / "tt"))
    t.write(orders.where("o_orderstatus = 'F'"))
    t.write(orders.where("o_orderstatus <> 'F'"), mode="append")
    v0 = t.to_df(version=0).count()
    v1 = t.to_df(version=1).count()
    assert v0 == orders.where("o_orderstatus = 'F'").count()
    assert v1 == orders.count()
    hist = t.history()
    assert [h["version"] for h in hist] == [1, 0]
    with pytest.raises(Exception):
        t.to_df(version=5)


def test_null_stats_file_skipping(spark, tmp_path):
    """IS NULL / IS NOT NULL prune files via the collected nullCount /
    numRecords stats: an all-non-null file is skipped by IS NULL, an
    all-null file by IS NOT NULL; results stay exact."""
    from pyspark.sql import functions as F

    from connectors_spark.expressions import Col, IsNotNull, IsNull
    from connectors_spark.scan import DeltaScan

    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    # explicit nullable schema — computed columns infer
    # nullable=false, which would capture NOT NULL at create and the
    # later null appends would then (correctly) violate the invariant
    no_nulls = spark.createDataFrame(
        [(i, str(i)) for i in range(10)], "id long, v string")
    all_nulls = spark.range(10, 20).select(
        F.col("id"), F.lit(None).cast("string").alias("v"))
    mixed = spark.range(20, 30).select(
        F.col("id"), F.when(F.col("id") % 2 == 0,
                            F.col("id").cast("string")).alias("v"))
    t.write(no_nulls.coalesce(1))
    t.write(all_nulls.coalesce(1), mode="append")
    t.write(mixed.coalesce(1), mode="append")
    snap = t.snapshot()
    assert snap.files_df.count() == 3

    is_null = DeltaScan(snap, IsNull(Col("v")))
    assert is_null.files().count() == 2          # no_nulls file skipped
    assert sorted(r.id for r in is_null.to_df().collect()) == \
        list(range(10, 20)) + [21, 23, 25, 27, 29]

    not_null = DeltaScan(snap, IsNotNull(Col("v")))
    assert not_null.files().count() == 2         # all_nulls file skipped
    assert sorted(r.id for r in not_null.to_df().collect()) == \
        list(range(0, 10)) + [20, 22, 24, 26, 28]


def test_disjunctive_stats_skipping(spark, tmp_path):
    """keep(a OR b) = keep(a) | keep(b): an OR of range predicates must
    still skip files whose min/max admit NEITHER disjunct — q19-style
    disjunctive scans prune instead of reading everything."""
    from connectors_spark.expressions import And, Col, Lit, Or
    from connectors_spark.scan import DeltaScan

    t = DeltaTable.for_path(spark, str(tmp_path / "disj"))
    # 10 range-clustered files: file i covers k in [100i, 100i+100)
    for i in range(10):
        df = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        t.write(df.coalesce(1), mode="append" if i else "overwrite")
    snap = t.snapshot()
    assert snap.files_df.count() == 10

    pred = Or(And(Col("k") >= Lit(105), Col("k") < Lit(150)),
              Col("k") >= Lit(950))
    scan = DeltaScan(snap, pred)
    # only file 1 ([100,200)) and file 9 ([900,1000)) can match
    assert scan.files().count() == 2
    got = sorted(r.k for r in scan.to_df().collect())
    assert got == list(range(105, 150)) + list(range(950, 1000))

    # an OR with an unboundable branch must NOT skip anything
    from connectors_spark.expressions import Not
    unbounded = Or(Col("k") >= Lit(950), Not(Col("v") < Lit(0)))
    assert DeltaScan(snap, unbounded).files().count() == 10


# ---------------------------------------------------------------------
# Pruning matrix: one table exercising every keep rule (scan.py)
# ---------------------------------------------------------------------

_MX_SCHEMA = ("Part int, q string, i int, b bigint, d double, dt date, "
              "ts timestamp, s string, dec decimal(38,18)")


def _mx_rows(j, part, q):
    import datetime as dt
    from decimal import Decimal
    return [(part, q, 10 * j + k, 1000 * j + 7 * k, j + k / 10,
             dt.date(2020, 1, 1) + dt.timedelta(days=10 * j + k),
             dt.datetime(2020, 1, 1) + dt.timedelta(hours=10 * j + k),
             f"s{j}{k}", Decimal(f"{j}.{k}0")) for k in range(10)]


# the foreign file's rows: values where float64 rounding merges
# neighbours (2**53 + 1, a decimal(38,18) just above 1e19) and
# timestamps whose stats truncate to milliseconds
_FX_B = 2**53 + 1
_FX_DEC = "10000000000000000000.000000000000000001"
_FX_TS = [(10, 0, 0, 100000), (10, 0, 0, 110000), (10, 0, 0, 123456)]


def _foreign_stats(rows):
    """delta-spark-style stats for ``rows``: numbers as JSON numbers
    (decimals at full scale), timestamps as ISO strings truncated to
    milliseconds, the min with a +02:00 offset, the max in UTC."""
    import datetime as dt

    from pyspark.sql import types as T

    def iso(v, offset_h):
        utc = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=T.TimestampType().toInternal(v))
        local = utc + dt.timedelta(hours=offset_h)
        zone = f"+{offset_h:02d}:00" if offset_h else "Z"
        return local.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + zone

    cols = ("i", "b", "d", "dt", "ts", "s", "dec")
    lo = {c: min(r[2 + n] for r in rows) for n, c in enumerate(cols)}
    hi = {c: max(r[2 + n] for r in rows) for n, c in enumerate(cols)}

    def side(v, offset_h):
        return ", ".join(
            f'"{c}": ' + (f'"{iso(v[c], offset_h)}"' if c == "ts" else
                          f'"{v[c].isoformat()}"' if c == "dt" else
                          f'"{v[c]}"' if c == "s" else str(v[c]))
            for c in cols)
    return (f'{{"numRecords": {len(rows)}, "minValues": {{{side(lo, 2)}}}, '
            f'"maxValues": {{{side(hi, 0)}}}, "nullCount": {{'
            + ", ".join(f'"{c}": 0' for c in cols) + "}}")


def _matrix_table(spark, path):
    """Partitioned by (int ``Part``, string ``q`` holding numbers); bloom
    on ``b``. Six range-banded files, one with some nulls, one whose
    data columns are all null, one committed without stats, one whose
    stats do not parse, one carrying a DV, and one foreign file whose
    stats were written as delta-spark writes them."""
    import dataclasses
    import datetime as dt
    from decimal import Decimal

    from connectors_spark.bloom import BLOOM_COLUMNS_KEY
    from connectors_spark.writer import stage_and_collect
    t = DeltaTable.for_path(spark, path)
    layout = [(1, "7"), (1, "010"), (2, "7"), (2, "010"), (3, "7"),
              (3, "010")]
    for j, (part, q) in enumerate(layout):
        rows = _mx_rows(j, part, q)
        if j == 2:
            rows[3] = (part, q) + (None,) * 7
        t.write(spark.createDataFrame(rows, _MX_SCHEMA).coalesce(1),
                partition_by=["Part", "q"], mode="append",
                configuration={BLOOM_COLUMNS_KEY: "b"} if j == 0 else None)
    t.write(spark.createDataFrame([(1, "7") + (None,) * 7] * 3, _MX_SCHEMA)
            .coalesce(1), mode="append")                      # all null
    adds = stage_and_collect(
        spark.createDataFrame(_mx_rows(6, 2, "010") + _mx_rows(7, 3, "7"),
                              _MX_SCHEMA).coalesce(1),
        path, ["Part", "q"], collect_stats=False)
    assert len(adds) == 2 and all(a.stats is None for a in adds)
    bad = '{"numRecords":10,"minValues":{"i":70,'              # truncated
    adds = [a if a.partitionValues["Part"] == "2"             # no stats
            else dataclasses.replace(a, stats=bad) for a in adds]
    fx = [(3, "010", 500 + k, _FX_B, 9.5, dt.date(2021, 6, 1),
           dt.datetime(2021, 6, 1, *hms), "zz", Decimal(_FX_DEC))
          for k, hms in enumerate(_FX_TS)]
    [foreign] = stage_and_collect(
        spark.createDataFrame(fx, _MX_SCHEMA).coalesce(1), path,
        ["Part", "q"], collect_stats=False)
    adds.append(dataclasses.replace(foreign, stats=_foreign_stats(fx)))
    t.log.start_transaction().commit(adds, "WRITE", {"mode": "Append"})
    t.delete(Col("i") == Lit(41), deletion_vectors=True)      # DV
    return t


def _matrix_cases():
    import datetime as dt
    from decimal import Decimal

    from connectors_spark.expressions import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull,
        LessThan, LessThanOrEqual, Not)
    ops = {"eq": EqualTo, "lt": LessThan, "le": LessThanOrEqual,
           "gt": GreaterThan, "ge": GreaterThanOrEqual}
    lits = {"i": 25, "b": 2014, "d": 2.5, "dt": dt.date(2020, 1, 25),
            "s": "s25", "ts": dt.datetime(2020, 1, 2, 1),
            "dec": Decimal("2.30"), "Part": 2}
    cases = {}
    for c, v in lits.items():
        full = c in ("i", "b", "dt", "s", "Part")
        for name, op in ops.items():
            if full or name in ("eq", "ge"):
                cases[f"{c}_{name}"] = op(Col(c), Lit(v))
            if full or name == "lt":
                cases[f"{c}_{name}_litleft"] = op(Lit(v), Col(c))
    ts = dt.datetime(2021, 6, 1, 10)
    cases.update({
        "i_isnull": IsNull(Col("i")), "i_notnull": IsNotNull(Col("i")),
        "s_isnull": IsNull(Col("s")), "s_notnull": IsNotNull(Col("s")),
        "b_in3": Col("b").isin(7, 2005, 4063),
        "b_in100": Col("b").isin(*range(2001, 2201, 2)),
        "b_in300": Col("b").isin(*range(3001, 3301)),
        "i_in3": Col("i").isin(5, 33, 999),
        "i_in100": Col("i").isin(*range(200, 300)),
        "i_in300": Col("i").isin(*range(15, 915, 3)),
        "i_gt_float": Col("i") > Lit(24.5),
        "and_part_data": (Col("Part") == Lit(2)) & (Col("i") >= Lit(25)),
        "or_data": (Col("i") < Lit(5)) | (Col("d") > Lit(4.5)),
        "or_part_data": (Col("Part") == Lit(1)) | (Col("i") > Lit(45)),
        "not_part": Not(Col("q") == Lit("7")) & (Col("i") < Lit(30)),
        "not_data": Not(Col("i") < Lit(40)),
        "string_lit_int_part": Col("Part") == Lit("2"),
        "string_lit_int_part_in": Col("Part").isin("1", "3"),
        "int_lit_string_part": Col("q") == Lit(10),
        "int_lit_string_part_gt": Col("q") > Lit(8),
        "int_lit_string_part_in": Col("q").isin(7, 11),
        "mixed_case_part": Col("part") == Lit(3),
        "mixed_case_data": (Col("I") > Lit(33)) & (Col("Q") == Lit("010")),
        # the foreign file: exact integer and decimal bounds, delta-spark
        # timestamp strings, the 1 ms rule on a truncated max
        "fx_b_gt": Col("b") > Lit(2**53),
        "fx_b_gt_skip": Col("b") > Lit(_FX_B),
        "fx_b_eq": Col("b") == Lit(_FX_B),
        "fx_b_in": Col("b").isin(2**53, _FX_B + 1),
        "fx_dec_gt": Col("dec") > Lit(Decimal(10**19)),
        "fx_dec_lt_skip": Col("dec") < Lit(Decimal(_FX_DEC)),
        "fx_dec_eq": Col("dec") == Lit(Decimal(_FX_DEC)),
        "fx_ts_gt_truncated": Col("ts") > Lit(ts.replace(
            microsecond=123400)),
        "fx_ts_gt_skip": Col("ts") > Lit(ts.replace(microsecond=124000)),
        "fx_ts_lt_skip": Col("ts") < Lit(ts.replace(microsecond=50000)),
        "fx_ts_eq": Col("ts") == Lit(ts.replace(microsecond=110000)),
    })
    return cases


_MATRIX = _matrix_cases()
# Kept-file counts of the Column pruning plan this pruner replaced, run
# over the same table (None: it raised KeyError on the mixed-case name,
# or kept fewer files than is sound).
_MATRIX_PREVIOUS_KEPT = {
    "Part_eq": 3, "Part_eq_litleft": 3, "Part_ge": 7, "Part_ge_litleft": 6,
    "Part_gt": 4, "Part_gt_litleft": 3, "Part_le": 6, "Part_le_litleft": 7,
    "Part_lt": 3, "Part_lt_litleft": 4,
    "and_part_data": 3,
    "b_eq": 4, "b_eq_litleft": 4, "b_ge": 8, "b_ge_litleft": 6, "b_gt": 8,
    "b_gt_litleft": 6, "b_in100": 4, "b_in3": 5, "b_in300": 4, "b_le": 6,
    "b_le_litleft": 8, "b_lt": 6, "b_lt_litleft": 8,
    "d_eq": 4, "d_ge": 8, "d_lt_litleft": 8,
    "dec_eq": 9, "dec_ge": 10, "dec_lt_litleft": 10,
    "dt_eq": 4, "dt_eq_litleft": 4, "dt_ge": 8, "dt_ge_litleft": 6,
    "dt_gt": 8, "dt_gt_litleft": 6, "dt_le": 6, "dt_le_litleft": 8,
    "dt_lt": 6, "dt_lt_litleft": 8,
    "fx_b_eq": 4, "fx_b_gt": 4, "fx_b_gt_skip": 3, "fx_b_in": 3,
    "fx_dec_eq": 9, "fx_dec_gt": 9, "fx_dec_lt_skip": 10,
    "fx_ts_eq": 10, "fx_ts_gt_skip": 9,
    "fx_ts_gt_truncated": None,     # it skipped a file holding a match
    "fx_ts_lt_skip": 9,
    "i_eq": 4, "i_eq_litleft": 4, "i_ge": 8, "i_ge_litleft": 6, "i_gt": 8,
    "i_gt_float": 8, "i_gt_litleft": 6, "i_in100": 3, "i_in3": 5,
    "i_in300": 9, "i_isnull": 4, "i_le": 6, "i_le_litleft": 8, "i_lt": 6,
    "i_lt_litleft": 8, "i_notnull": 9,
    "int_lit_string_part": 5, "int_lit_string_part_gt": 5,
    "int_lit_string_part_in": 5,
    "mixed_case_data": None, "mixed_case_part": None,
    "not_data": 10,
    "not_part": 2,
    "or_data": 7,
    "or_part_data": 10,
    "s_eq": 4, "s_eq_litleft": 4, "s_ge": 8, "s_ge_litleft": 6, "s_gt": 8,
    "s_gt_litleft": 6, "s_isnull": 4, "s_le": 6, "s_le_litleft": 8,
    "s_lt": 6, "s_lt_litleft": 8, "s_notnull": 9,
    "string_lit_int_part": 3, "string_lit_int_part_in": 7,
    "ts_eq": 9, "ts_ge": 10, "ts_lt_litleft": 10,
}


# Cases whose evidence proves the foreign file holds no match.
_MATRIX_SKIPS_FOREIGN = {"fx_b_gt_skip", "fx_b_in", "fx_dec_lt_skip",
                         "fx_ts_gt_skip", "fx_ts_lt_skip"}


@pytest.fixture(scope="module")
def matrix_table(spark, tmp_path_factory):
    t = _matrix_table(spark, str(tmp_path_factory.mktemp("mx") / "t"))
    snap = t.snapshot()
    full = snap.to_df(with_file_col=True).localCheckpoint()
    foreign = {r["path"] for r in snap._files_rows
               if r["stats"] and "+02:00" in r["stats"]}
    assert len(foreign) == 1
    return t, snap, full, foreign.pop()


@pytest.mark.pin
@pytest.mark.parametrize("case", sorted(_MATRIX))
def test_pruning_matrix_exact_and_sound(matrix_table, case):
    """For each predicate: (a) the pruned scan returns exactly the rows a
    plain filter does; (b) no skipped file holds a matching row (each
    file's rows read on their own, DV applied); (c) no more files kept
    than the replaced Column plan kept; and the foreign file is skipped
    where its stats prove it holds no match."""
    from collections import Counter

    from connectors_spark.scan import DeltaScan
    t, snap, full, foreign = matrix_table
    pred = _MATRIX[case]
    scan = DeltaScan(snap, pred)
    cols = [c for c in full.columns if c != "__file"]
    hits = full.where(pred.to_column(F.col)).collect()
    got = Counter(tuple(r) for r in scan.to_df().select(*cols).collect())
    assert got == Counter(tuple(r[c] for c in cols) for r in hits)
    kept = {r["path"] for r in scan.rows}
    assert {r["__file"] for r in hits} <= kept
    previous = _MATRIX_PREVIOUS_KEPT[case]
    assert len(kept) <= (previous if previous is not None
                         else len(snap._files_rows))
    if case in _MATRIX_SKIPS_FOREIGN:
        assert foreign not in kept


def test_replace_where_partial_file_coverage(spark, tmp_path):
    """Non-partition predicate on an unpartitioned table: touched files
    are rewritten keep-rows-only, untouched rows survive byte-exact,
    and the swap is one commit."""
    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders").select("o_orderkey", "o_totalprice")
    t = DeltaTable.for_path(spark, d)
    t.write(od.repartition(3))
    v0 = t.log.snapshot().version

    repl = (od.where("o_orderkey <= 500")
            .withColumn("o_totalprice", F.lit(0.0)))
    t.write(repl, mode="overwrite",
            replace_where=Col("o_orderkey") <= Lit(500))
    assert t.log.snapshot().version == v0 + 1   # ONE commit

    got = t.to_df()
    assert got.where("o_orderkey <= 500 AND o_totalprice <> 0.0") \
        .count() == 0
    keep = od.where("o_orderkey > 500")
    assert got.where("o_orderkey > 500").count() == keep.count()
    assert got.count() == od.count()


def test_replace_where_rejects_nonmatching_rows(spark, tmp_path):
    from tests.conftest import read_table
    import pytest as pt
    from connectors_spark.errors import DeltaError
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od, partition_by=["o_orderstatus"])
    with pt.raises(DeltaError, match="do not match"):
        t.write(od.limit(50), mode="overwrite",
                replace_where=Col("o_orderstatus") == Lit("F"))


def test_replace_where_requires_overwrite(spark, tmp_path):
    from tests.conftest import read_table
    import pytest as pt
    from connectors_spark.errors import DeltaError
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od)
    with pt.raises(DeltaError, match="overwrite"):
        t.write(od, mode="append",
                replace_where=Col("o_orderkey") <= Lit(10))


def test_replace_where_rejects_schema_mismatch(spark, tmp_path):
    """replaceWhere never evolves the schema: a frame with a renamed or
    retyped column must raise, not commit divergent Parquet."""
    import pytest
    from connectors_spark.errors import DeltaError
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    t.write(spark.range(10).select(
        F.col("id").alias("k"), F.lit("a").alias("s")))
    bad_name = spark.range(3).select(
        F.col("id").alias("k2"), F.lit("a").alias("s"))
    with pytest.raises(DeltaError, match="schema"):
        t.write(bad_name, mode="overwrite",
                replace_where=Col("s") == Lit("a"))
    bad_type = spark.range(3).select(
        F.col("id").cast("int").alias("k"), F.lit("a").alias("s"))
    with pytest.raises(DeltaError, match="schema"):
        t.write(bad_type, mode="overwrite",
                replace_where=Col("s") == Lit("a"))
    assert t.to_df().count() == 10  # untouched


def test_idempotent_write_txn_app_version(spark, tmp_path):
    """delta-spark txnAppId/txnVersion semantics: a retried write with
    the same (app, version) is a no-op; a later version appends."""
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    df = spark.range(10).select(F.col("id").alias("k"))
    v0 = t.write(df, txn_app_id="job", txn_version=1)
    assert v0 == 0 and t.to_df().count() == 10
    # retry of the SAME logical write: skipped
    assert t.write(df, txn_app_id="job", txn_version=1) == -1
    assert t.to_df().count() == 10
    assert t.log.snapshot().version == 0
    # an OLDER version is also skipped; a NEWER one commits
    assert t.write(df, txn_app_id="job", txn_version=0) == -1
    assert t.write(df, txn_app_id="job", txn_version=2) == 1
    assert t.to_df().count() == 20
    # a different app id is independent
    assert t.write(df, txn_app_id="other", txn_version=1) == 2
    assert t.to_df().count() == 30
    import pytest as _pytest
    from connectors_spark.errors import DeltaError
    with _pytest.raises(DeltaError, match="together"):
        t.write(df, txn_app_id="job")


def test_auto_compact_bounds_small_files(spark, tmp_path):
    """delta.autoOptimize.autoCompact: many small appends trigger a
    follow-up OPTIMIZE commit once minNumFiles small files accrete."""
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    conf = {"delta.autoOptimize.autoCompact": "true",
            "connectors.autoCompact.minNumFiles": "5"}
    for i in range(6):
        t.write(spark.range(i * 10, (i + 1) * 10)
                .select(F.col("id").alias("k")).coalesce(1),
                mode="append", configuration=conf if i == 0 else None)
    snap = t.log.snapshot()
    assert snap.files_df.count() < 6  # compaction fired
    ops = [h["operation"] for h in t.history()]
    assert "OPTIMIZE" in ops
    assert sorted(r.k for r in t.to_df().collect()) == list(range(60))
    # disabled table never compacts
    d2 = str(tmp_path / "t2")
    t2 = DeltaTable.for_path(spark, d2)
    for i in range(6):
        t2.write(spark.range(i * 10, (i + 1) * 10)
                 .select(F.col("id").alias("k")).coalesce(1),
                 mode="append")
    assert t2.log.snapshot().files_df.count() == 6


def test_describe_detail(spark, tmp_path):
    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od, partition_by=["o_orderstatus"],
            configuration={"custom.owner": "pipelines"})
    t.delete(Col("o_orderkey") <= Lit(10))
    det = t.describe_detail()
    snap = t.log.snapshot()
    assert det["format"] == "delta"
    assert det["partitionColumns"] == ["o_orderstatus"]
    assert det["numFiles"] == snap.files_df.count()
    assert det["sizeInBytes"] == sum(f.size for f in snap.all_files())
    assert det["properties"]["custom.owner"] == "pipelines"
    assert (det["minReaderVersion"], det["minWriterVersion"]) == (1, 2)
    assert det["lastModified"] >= det["createdAt"]


def test_show_partitions_metadata_only(spark, tmp_path):
    import glob
    import pytest as _pytest
    from connectors_spark.errors import DeltaError
    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od, partition_by=["o_orderstatus"])
    t.delete(Col("o_orderstatus") == Lit("P"))  # whole-partition drop
    for p in glob.glob(os.path.join(d, "*", "*.parquet")):
        os.remove(p)  # prove no data file is opened
    got = sorted(r.o_orderstatus for r in t.show_partitions().collect())
    assert got == ["F", "O"]  # P's files are gone from the snapshot

    # null and escaped partition values decode to the rows Spark's cast
    # gives, in the partition schema's types
    d3 = str(tmp_path / "v")
    t3 = DeltaTable.for_path(spark, d3)
    t3.write(spark.createDataFrame(
        [(1, None, 1), (2, "a b/c%3D=d", 2), (3, "x", None), (4, "x", None)],
        "k int, s string, n int"), partition_by=["s", "n"])
    parts = t3.show_partitions()
    assert parts.dtypes == [("s", "string"), ("n", "int")]
    assert sorted(map(tuple, parts.collect()), key=repr) == sorted(
        [(None, 1), ("a b/c%3D=d", 2), ("x", None)], key=repr)

    d2 = str(tmp_path / "u")
    t2 = DeltaTable.for_path(spark, d2)
    t2.write(od.limit(5))
    with _pytest.raises(DeltaError, match="unpartitioned"):
        t2.show_partitions()


def test_data_skipping_num_indexed_cols(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols=2: per-file stats carry min/max/
    nullCount for only the first two schema columns (numRecords always),
    COUNT stays metadata-only, and MIN/MAX on a non-indexed column
    refuses the fast path and scans — never answers wrong."""
    import glob
    import json as _json
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    df = spark.range(1, 101).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b"),
        (F.col("id") * 3).alias("c"))
    t.write(df.repartition(2),
            configuration={"delta.dataSkippingNumIndexedCols": "2"})
    for f in t.log.snapshot().all_files():
        st = _json.loads(f.stats)
        assert st["numRecords"] > 0
        assert set(st["minValues"]) == {"a", "b"}
        assert set(st["maxValues"]) == {"a", "b"}
        assert "c" not in st["nullCount"]
    # non-indexed column: fast path refused, real scan still right
    got = t.metadata_aggregates(cols=["c"]).collect()[0]
    assert (got.n_rows, got.min_c, got.max_c) == (100, 3, 300)
    # indexed column + COUNT: metadata-only (survives data deletion)
    for p in glob.glob(os.path.join(d, "*.parquet")):
        os.remove(p)
    got = t.metadata_aggregates(cols=["a"]).collect()[0]
    assert (got.n_rows, got.min_a, got.max_a) == (100, 1, 100)
    # appends inherit the persisted property
    t2 = DeltaTable.for_path(spark, d)
    t2.write(df.limit(0), mode="append")  # no-op data, config persists
    assert t2.snapshot().metadata.configuration[
        "delta.dataSkippingNumIndexedCols"] == "2"


def test_auto_compact_failure_never_fails_write(spark, tmp_path,
                                                monkeypatch):
    """Auto-compact is a best-effort post-commit hook (ADVICE r7): an
    optimize failure after the data commit is durable must NOT
    propagate out of write() — the caller would believe the write
    failed and a retry would double-append."""
    from connectors_spark.table import TableMaintenance
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    conf = {"delta.autoOptimize.autoCompact": "true",
            "connectors.autoCompact.minNumFiles": "2"}

    def boom(self, *a, **k):
        raise RuntimeError("concurrent optimize lost the race")

    monkeypatch.setattr(TableMaintenance, "optimize", boom)
    for i in range(3):
        v = t.write(spark.range(i * 10, (i + 1) * 10)
                    .select(F.col("id").alias("k")).coalesce(1),
                    mode="append", configuration=conf if i == 0 else None)
        assert v == i  # write committed despite the failing hook
    assert sorted(r.k for r in t.to_df().collect()) == list(range(30))


def test_stats_budget_skips_partition_columns(spark, tmp_path):
    """dataSkippingNumIndexedCols counts DATA columns only, in table-
    schema order (ADVICE r7): a partitioned table with the partition
    column first and N=1 must still index the first data column, and
    an append whose frame column order differs must index the SAME
    subset as the table schema dictates."""
    import json as _json
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    df = spark.range(1, 51).select(
        (F.col("id") % 2).cast("string").alias("p"),
        F.col("id").alias("a"), (F.col("id") * 2).alias("b"))
    t.write(df, partition_by=["p"],
            configuration={"delta.dataSkippingNumIndexedCols": "1"})
    for f in t.log.snapshot().all_files():
        st = _json.loads(f.stats)
        assert set(st["minValues"]) == {"a"}, st  # not spent on 'p'
        assert set(st["maxValues"]) == {"a"}
    v0_files = {f.path for f in t.log.snapshot().all_files()}
    # append with columns reordered (b, a, p): subset must stay {'a'}
    t.write(df.select("b", "a", "p"), mode="append")
    for f in t.log.snapshot().all_files():
        if f.path in v0_files:
            continue
        st = _json.loads(f.stats)
        assert set(st["minValues"]) == {"a"}, st


def test_merge_accepts_column_set_exprs(spark, tmp_path):
    # str(Column) is not SQL: when_matched_update must take Columns
    # unstringified (same contract as update()'s set_exprs). Flushed
    # by the random-walk model test's extended seeds.
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(0, 1), (1, 10)], "id long, val long"))
    t.merge(spark.createDataFrame([(1, 99), (2, 20)], "id long, val long"),
            "t.id = s.id",
            when_matched_update={"val": F.col("s.val") + 1},
            when_not_matched_insert=True)
    got = sorted((r.id, r.val) for r in t.to_df().collect())
    assert got == [(0, 1), (1, 100), (2, 20)]


def test_merge_on_table_with_deletion_vectors(spark, tmp_path):
    # Merge's touched-file discovery previously called
    # input_file_name() on the to_df plan; with a DV anti-join in the
    # plan that is multi-source and fails analysis — so ANY merge on a
    # DV-carrying table errored. __file now comes from
    # _metadata.file_path inside the single-source scans.
    from connectors_spark.expressions import Col, Lit
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(i, i * 10) for i in range(6)],
                                  "id long, val long").coalesce(1))
    t.delete(Col("id") == Lit(2), deletion_vectors=True)
    t.merge(spark.createDataFrame([(4, 999), (100, 1000)],
                                  "id long, val long"),
            "t.id = s.id",
            when_matched_update={"val": "s.val"},
            when_not_matched_insert=True)
    got = sorted((r.id, r.val) for r in t.to_df().collect())
    # DV-deleted row 2 stays gone, 4 updated, 100 inserted
    assert got == [(0, 0), (1, 10), (3, 30), (4, 999), (5, 50),
                   (100, 1000)]
    # and the DV-deleted row must NOT be resurrected by the rewrite
    assert 2 not in {i for i, _ in got}


def test_merge_update_guarded_unmaterialized_path(spark, tmp_path,
                                                  monkeypatch):
    """VERDICT r14 #5: above the materialization row budget, MERGE and
    UPDATE must keep the LAZY matched/hit plan (no localCheckpoint of
    an O(table) relation onto executor disk) and still produce
    identical results + change feed. Forcing the budget to 0 routes a
    whole-table-matching merge and an update through the guarded
    path."""
    import connectors_spark.table as TB
    from connectors_spark.expressions import Col, Lit

    def run(sub):
        p = str(tmp_path / sub)
        t = DeltaTable.for_path(spark, p)
        t.write(spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "id long, val long"),
            configuration={"delta.enableChangeDataFeed": "true"})
        # whole-table match: every target row hits the merge source
        t.merge(spark.createDataFrame(
            [(i, i * 10 + 1) for i in range(25)], "id long, val long"),
            "t.id = s.id",
            when_matched_update={"val": "s.val"},
            when_not_matched_insert=True)
        t.update({"val": "val + 100"}, Col("id") < Lit(5))
        rows = sorted((r.id, r.val) for r in t.to_df().collect())
        feed = sorted((r.id, r.val, r._change_type, r._commit_version)
                      for r in t.table_changes(1).collect())
        return rows, feed

    base_rows, base_feed = run("materialized")
    monkeypatch.setattr(TB, "_DML_MATERIALIZE_MAX_ROWS", 0)
    lazy_rows, lazy_feed = run("guarded")
    assert lazy_rows == base_rows
    assert lazy_feed == base_feed
    assert lazy_rows[:3] == [(0, 101), (1, 111), (2, 121)]


def test_dml_cdc_single_write_fold(spark, tmp_path, monkeypatch):
    """A CDC-enabled DML stages its change rows in the rewrite's own
    write job, in delta-spark's layout: every change file carries
    ``_change_type`` as a column, lives at
    ``_change_data/<partition dirs>/cdc-*`` and records those
    partition values on its AddCDCFile; AddFile stats never mention
    ``_change_type``. Pin on a partitioned, row-tracked table through
    DELETE-rewrite, DV-DELETE, UPDATE and MERGE: only the DV delete
    (which rewrites no data file) makes a separate CDC staging call,
    and the feed reads back exactly."""
    import urllib.parse

    import pyarrow.parquet as pq

    import connectors_spark.table as TB
    import connectors_spark.writer as W
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.log.actions import AddCDCFile, AddFile

    calls = []
    orig = W.stage_cdc_and_collect

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(W, "stage_cdc_and_collect", spy)
    monkeypatch.setattr(TB, "stage_cdc_and_collect", spy)

    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", i * 10) for i in range(10)],
        "id long, part string, val long"),
        partition_by=["part"],
        configuration={"delta.enableChangeDataFeed": "true",
                       "delta.enableRowTracking": "true",
                       "delta.protocol.autoUpgrade": "true"})
    t.update({"val": "val + 1"}, Col("id") < Lit(4))
    t.merge(spark.createDataFrame([(2, "a", 0), (99, "b", 990)],
                                  "id long, part string, val long"),
            "t.id = s.id", when_matched_update={"val": "s.val"},
            when_not_matched_insert=True)
    t.delete(Col("id") == Lit(0))
    assert not calls, "CDC rows must ride the rewrite's write job"
    t.delete(Col("id") == Lit(5), deletion_vectors=True)
    assert len(calls) == 1
    acts = [a for _, va in t.log.get_changes(1) for a in va]
    cdc_acts = [a for a in acts if isinstance(a, AddCDCFile)]
    assert len({a.path.split("/")[1] for a in cdc_acts}) == 2
    for a in cdc_acts:
        segs = [urllib.parse.unquote(s) for s in a.path.split("/")]
        assert segs[0] == "_change_data" and segs[-1].startswith("cdc-")
        assert dict(s.split("=", 1) for s in segs[1:-1]) \
            == a.partitionValues
        names = pq.read_schema(os.path.join(t.path, *segs)).names
        assert "_change_type" in names and "part" not in names
    adds = [a for a in acts if isinstance(a, AddFile) and a.stats]
    assert adds and not any("_change_type" in a.stats for a in adds)
    feed = {(r.id, r.part, r.val, r._change_type, r._commit_version)
            for r in t.table_changes(1).collect()}
    assert feed == {
        (i, "a" if i % 2 == 0 else "b", i * 10 + d, ct, 1)
        for i in range(4) for d, ct in ((0, "update_preimage"),
                                        (1, "update_postimage"))} | {
        (2, "a", 21, "update_preimage", 2),
        (2, "a", 0, "update_postimage", 2),
        (99, "b", 990, "insert", 2),
        (0, "a", 1, "delete", 3),
        (5, "b", 50, "delete", 4)}


@pytest.mark.pin
def test_dml_on_hive_escaped_partition_values(spark, tmp_path):
    """r15 regression (pre-existing double-decode bug): partition VALUES
    containing '=', '/', '%' or unicode produce Hive-escaped directory
    names whose literal bytes contain %XX; re-canonicalizing an
    already-canonical physical path decoded them a second time, so a
    DML's REMOVE no longer matched its ADD at replay and whole
    partitions were silently skipped (rows neither deleted, updated,
    rewritten, nor fed to CDC). Inventory paths are physical and never
    decoded again."""
    from connectors_spark.expressions import Col, Lit
    rows = [(1, "a b", 10.0), (2, "x=y", 20.0), (3, None, 30.0),
            (4, "ünï/50%", 40.0), (5, "a b", 50.0), (6, "x=y", 60.0),
            (7, None, 70.0), (8, "ünï/50%", 80.0)]
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(rows, "id long, part string, val double"),
            partition_by=["part"],
            configuration={"delta.enableChangeDataFeed": "true"})
    t.delete(Col("id") <= Lit(4))
    ch1 = sorted((r.id, r.part, r._change_type)
                 for r in t.table_changes(1, 1).collect())
    assert ch1 == [(i, p, "delete") for i, p, _ in rows[:4]]
    t.update({"val": "val + 1"}, Col("id") >= Lit(7))
    ch2 = sorted((r.id, r.part, r.val, r._change_type)
                 for r in t.table_changes(2, 2).collect())
    assert ch2 == [(7, None, 70.0, "update_preimage"),
                   (7, None, 71.0, "update_postimage"),
                   (8, "ünï/50%", 80.0, "update_preimage"),
                   (8, "ünï/50%", 81.0, "update_postimage")]
    assert sorted((r.id, r.part, r.val) for r in t.to_df().collect()) == [
        (5, "a b", 50.0), (6, "x=y", 60.0), (7, None, 71.0),
        (8, "ünï/50%", 81.0)]
    # merge through the same partitions
    src = spark.createDataFrame([(6, "x=y", 0.0), (9, "ünï/50%", 90.0)],
                                "id long, part string, val double")
    v = t.merge(src, "t.id = s.id",
                when_matched_update={"val": "s.val"},
                when_not_matched_insert=True)
    assert sorted((r.id, r.val) for r in t.to_df().collect()) == [
        (5, 50.0), (6, 0.0), (7, 71.0), (8, 81.0), (9, 90.0)]
    feed = {(r.id, r.val, r._change_type)
            for r in t.table_changes(v, v).collect()}
    assert {(6, 60.0, "update_preimage"), (6, 0.0, "update_postimage"),
            (9, 90.0, "insert")} <= feed
    # shallow + deep clone across the same Hive-escaped partitions
    expect = sorted((r.id, r.part, r.val) for r in t.to_df().collect())
    t.clone_to(str(tmp_path / "shallow"))
    sh = DeltaTable.for_path(spark, str(tmp_path / "shallow"))
    assert sorted((r.id, r.part, r.val)
                  for r in sh.to_df().collect()) == expect
    t.clone_to(str(tmp_path / "deep"), deep=True)
    dp = DeltaTable.for_path(spark, str(tmp_path / "deep"))
    assert sorted((r.id, r.part, r.val)
                  for r in dp.to_df().collect()) == expect


def test_generated_columns_contract(spark, tmp_path):
    """GENERATED ALWAYS AS: computed at create, auto-filled when the
    writer omits the column, validated (null-safe) when supplied,
    rejected on divergence incl. through UPDATE, create-only, and the
    generated PARTITION column prunes like any other."""
    import datetime as dt

    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from connectors_spark.errors import DeltaError
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.table import DeltaTable

    t = DeltaTable.for_path(spark, str(tmp_path / "gen"))
    df = spark.createDataFrame(
        [Row(k=i, d=dt.date(1992 + i % 6, 1 + i % 12, 1 + i % 28))
         for i in range(60)])
    t.write(df, partition_by=["y"],
            generated_columns={"y": ("int", "year(d)")})
    assert t.to_df().filter("y = year(d)").count() == 60
    # append WITHOUT the column -> filled
    t.write(spark.createDataFrame([Row(k=100, d=dt.date(2001, 5, 5))]),
            mode="append")
    assert t.to_df().filter("k = 100").first().y == 2001
    # append WITH the correct value -> accepted
    t.write(spark.createDataFrame(
        [Row(k=101, d=dt.date(2002, 5, 5), y=2002)]), mode="append")
    # divergent value -> rejected
    with pytest.raises(DeltaError, match="generated column"):
        t.write(spark.createDataFrame(
            [Row(k=102, d=dt.date(2002, 5, 5), y=1999)]), mode="append")
    # UPDATE breaking the expression -> rejected
    with pytest.raises(DeltaError, match="generated column"):
        t.update({"y": "1234"}, Col("k") == Lit(100))
    # UPDATE of the SOURCE column keeping y consistent -> accepted
    t.update({"d": "make_date(y, 12, 31)"}, Col("k") == Lit(100))
    assert t.to_df().filter("k = 100").first().d == dt.date(2001, 12, 31)
    # generated partition column prunes
    n = len(t.scan(Col("y") == Lit(1995)).collect_files())
    assert 0 < n < len(t.snapshot().all_files())
    # definition is create-only
    with pytest.raises(DeltaError, match="created"):
        t.write(df, mode="append",
                generated_columns={"z": ("int", "k + 1")})
    # replaceWhere may omit the generated column too
    sub = spark.createDataFrame(
        [Row(k=500, d=dt.date(1995, 6, 1))])
    t.write(sub, mode="overwrite",
            replace_where=(Col("y") == Lit(1995)))
    assert t.to_df().filter("y = 1995").count() == 1


def test_identity_columns_contract(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: the allocated SET per commit is
    exactly the next n arithmetic-sequence values (zero-shuffle
    monotonically_increasing_id allocation — no window, no single-task
    funnel), appends continue from the committed high-water mark,
    explicit inserts are refused, and the mark rides the SAME commit
    as the rows (a concurrent allocator hits the metadata conflict and
    retries against the new mark)."""
    import pytest
    from pyspark.sql import Row

    from connectors_spark.errors import DeltaError
    from connectors_spark.table import DeltaTable

    t = DeltaTable.for_path(spark, str(tmp_path / "ident"))
    df = spark.createDataFrame(
        [Row(name=f"u{i}") for i in range(100)]).repartition(7)
    t.write(df, identity_columns={"uid": ("bigint", 1000, 5)})
    vals = sorted(r.uid for r in t.to_df().collect())
    assert vals == [1000 + 5 * i for i in range(100)]
    t.write(spark.createDataFrame(
        [Row(name=f"v{i}") for i in range(10)]).repartition(3),
        mode="append")
    vals = sorted(r.uid for r in t.to_df().collect())
    assert vals == [1000 + 5 * i for i in range(110)]
    with pytest.raises(DeltaError, match="IDENTITY"):
        t.write(spark.createDataFrame([Row(name="x", uid=1)]),
                mode="append")
    with pytest.raises(DeltaError, match="created"):
        t.write(df, mode="append",
                identity_columns={"z": ("bigint", 0, 1)})
    # the mark survives a fresh log instance (it lives in metadata)
    t2 = DeltaTable.for_path(spark, str(tmp_path / "ident"))
    t2.write(spark.createDataFrame([Row(name="w")]), mode="append")
    assert max(r.uid for r in t2.to_df().collect()) == 1000 + 5 * 110
    # negative step
    t3 = DeltaTable.for_path(spark, str(tmp_path / "ident3"))
    t3.write(spark.createDataFrame([Row(name=f"n{i}") for i in range(5)]),
             identity_columns={"k": ("int", 0, -2)})
    assert sorted(r.k for r in t3.to_df().collect()) == \
        [-8, -6, -4, -2, 0]
    with pytest.raises(DeltaError, match="nonzero"):
        DeltaTable.for_path(spark, str(tmp_path / "ident4")).write(
            spark.createDataFrame([Row(name="a")]),
            identity_columns={"k": ("int", 0, 0)})


def test_user_metadata_recorded_in_history(spark, tmp_path):
    """write(user_metadata=...) lands in CommitInfo.userMetadata (the
    delta-spark userMetadata option) and surfaces in commit_info_at;
    commits without one record none."""
    from pyspark.sql import Row

    from connectors_spark.table import DeltaTable

    t = DeltaTable.for_path(spark, str(tmp_path / "um"))
    t.write(spark.createDataFrame([Row(k=1)]),
            user_metadata="ingest-job=nightly-42")
    t.write(spark.createDataFrame([Row(k=2)]), mode="append")
    assert t.log.commit_info_at(0).userMetadata == "ingest-job=nightly-42"
    assert t.log.commit_info_at(1).userMetadata is None


def test_schema_evolution_preserves_generated_and_identity(spark, tmp_path):
    """Write-time schema evolution must carry field metadata over:
    a naive rebuild from df.schema would silently strip
    delta.generationExpression and delta.identity.* (and discard the
    high-water-mark bump the same txn just staged) — after one
    evolving append the invariants would stop being enforced with no
    error (ADVICE r9 #1)."""
    from pyspark.sql import Row

    from connectors_spark.errors import DeltaError
    from connectors_spark.table import (DeltaTable, _GEN_KEY, _ID_HWM)

    t = DeltaTable.for_path(spark, str(tmp_path / "evogen"))
    t.write(spark.createDataFrame([Row(k=i) for i in range(10)]),
            generated_columns={"k2": ("int", "k * 2")},
            identity_columns={"uid": ("bigint", 0, 1)})
    # evolving append: new column `extra`; generated+identity filled
    t.write(spark.createDataFrame([Row(k=100, extra="x")]),
            mode="append")
    meta = t.snapshot().metadata
    md = {f.name: (f.metadata or {}) for f in meta.schema.fields}
    assert md["k2"].get(_GEN_KEY) == "k * 2"
    # hwm reflects BOTH commits (10 + 1 rows): the evolving append's
    # own allocation must not be discarded by the metadata rebuild
    assert int(md["uid"][_ID_HWM]) == 10
    # the invariant is still enforced post-evolution
    with pytest.raises(DeltaError, match="generated column"):
        t.write(spark.createDataFrame([Row(k=7, k2=999, extra="y")]),
                mode="append")
    # identity still allocates (continuing, no reset/dup)
    t.write(spark.createDataFrame([Row(k=101, extra="z")]),
            mode="append")
    uids = [r.uid for r in t.to_df().collect()]
    assert sorted(uids) == list(range(12)) and len(set(uids)) == 12


def test_identity_allocation_nondeterministic_upstream(spark, tmp_path):
    """Identity allocation runs a counts job and a write job over the
    same frame; localCheckpoint pins the partition layout so a
    nondeterministic upstream (shuffle replay under AQE, sample) can't
    skew the two executions into duplicate/holey ids (ADVICE r9 #2).
    AQE is ON in this session; the input is post-shuffle and
    nondeterministically sampled."""
    from pyspark.sql import Row

    from connectors_spark.table import DeltaTable

    t = DeltaTable.for_path(spark, str(tmp_path / "identnd"))
    total = 0
    for i in range(3):
        src = (spark.range(2000)
               .select((F.col("id") + i * 10000).alias("k"))
               .repartition(11, "k")
               .sample(0.5, seed=None))
        n = src.count()  # materializes a first, possibly divergent run
        t.write(src, mode="append",
                **({"identity_columns": {"uid": ("bigint", 0, 1)}}
                   if i == 0 else {}))
        total += n
        uids = [r.uid for r in t.to_df().collect()]
        assert sorted(uids) == list(range(total)), \
            f"round {i}: dupes/holes in identity allocation"


def test_merge_computes_generated_columns(spark, tmp_path):
    """MERGE with generated columns: the insert part computes absent
    generated columns (instead of validating the NULL placeholder and
    erroring), and the update part recomputes them when a source
    column changes (ADVICE r9 #3)."""
    from pyspark.sql import Row

    from connectors_spark.errors import DeltaError
    from connectors_spark.table import DeltaTable

    t = DeltaTable.for_path(spark, str(tmp_path / "mgen"))
    t.write(spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)]),
            generated_columns={"k2": ("int", "k * 2")})
    src = spark.createDataFrame([Row(k=2, v=200), Row(k=3, v=300)])
    t.merge(src, "t.k = s.k", when_matched_update={"v": "s.v"})
    rows = {r.k: (r.v, r.k2) for r in t.to_df().collect()}
    assert rows == {1: (10, 2), 2: (200, 4), 3: (300, 6)}
    # update that REWRITES the generated column's source recomputes it
    t.merge(spark.createDataFrame([Row(k=3, v=0)]), "t.k = s.k",
            when_matched_update={"k": "s.k + 10"},
            when_not_matched_insert=False)
    rows = {r.k: r.k2 for r in t.to_df().collect()}
    assert rows[13] == 26
    # a source that SUPPLIES the generated column is still validated
    bad = spark.createDataFrame([Row(k=50, v=1, k2=999)])
    with pytest.raises(DeltaError, match="generated column"):
        t.merge(bad, "t.k = s.k")


def test_merge_allocates_identity_on_insert(spark, tmp_path):
    """MERGE insert on an identity table allocates fresh values
    continuing the high-water mark (same commit), keeps matched rows'
    ids, and refuses a source that supplies the identity column."""
    from pyspark.sql import Row

    from connectors_spark.errors import DeltaError
    from connectors_spark.table import DeltaTable

    t = DeltaTable.for_path(spark, str(tmp_path / "mid"))
    t.write(spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)]),
            identity_columns={"uid": ("bigint", 100, 10)})
    t.merge(spark.createDataFrame([Row(k=2, v=200), Row(k=3, v=300),
                                   Row(k=4, v=400)]),
            "t.k = s.k", when_matched_update={"v": "s.v"})
    rows = {r.k: (r.v, r.uid) for r in t.to_df().collect()}
    assert rows[1] == (10, 100) or rows[1] == (10, 110)
    assert sorted(u for _, u in rows.values()) == [100, 110, 120, 130]
    assert rows[2][0] == 200
    # matched rows kept their original ids
    assert {rows[1][1], rows[2][1]} == {100, 110}
    with pytest.raises(DeltaError, match="IDENTITY"):
        t.merge(spark.createDataFrame([Row(k=9, v=9, uid=1)]),
                "t.k = s.k")
    with pytest.raises(DeltaError, match="IDENTITY"):
        t.merge(spark.createDataFrame([Row(k=1, v=1)]), "t.k = s.k",
                when_matched_update={"uid": "999"})


@pytest.mark.pin
@pytest.mark.parametrize("case", ["cdf_fold", "zero_row_cdc_leg", "plain"])
def test_publish_paths_agree(spark, tmp_path, monkeypatch, case):
    """The two publish paths of the writer (the driver loop at or below
    ``DRIVER_PUBLISH_MAX_FILES`` staged files, the ``publish_plan`` job
    above it) give equal AddFile and AddCDCFile lists, all fields but
    mtime, on the same inputs published with the budget far above, at
    and one below the staged file count. The inputs: a
    partitioned table with a CDF fold and a stats budget
    (``num_indexed_cols``), a CDC leg with zero change rows, and a
    plain write. The two writes are separate Spark jobs, so their file
    names differ only by the job's UUID, which is masked."""
    import dataclasses
    import json
    import re

    import connectors_spark.writer as W

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b=/ %", i * 1.5, f"s{i}") for i in range(40)],
        "id long, part string, val double, s string").repartition(2)
    cdc = None
    kw = {}
    if case == "cdf_fold":
        cdc = df.where("id < 7").withColumn(W.CHANGE_TYPE_COL,
                                            F.lit("delete"))
        kw = {"num_indexed_cols": 1,
              "schema_cols": ["part", "s", "id", "val"]}
    elif case == "zero_row_cdc_leg":
        cdc = df.limit(0).withColumn(W.CHANGE_TYPE_COL, F.lit("delete"))
    job = re.compile(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")
    orig = W.publish_plan

    def published(budget, name):
        calls = []

        def spy(*a, **k):
            calls.append(1)
            return orig(*a, **k)
        monkeypatch.setattr(W, "publish_plan", spy)
        monkeypatch.setattr(W, "DRIVER_PUBLISH_MAX_FILES", budget)
        out = W.stage_and_collect(df, str(tmp_path / name), ["part"],
                                  cdc_df=cdc, **kw)
        adds, cdcs = out if cdc is not None else (out, [])
        norm = [dataclasses.replace(a, path=job.sub("-<job>", a.path),
                                    modificationTime=0) for a in adds]
        return calls, norm, [dataclasses.replace(
            c, path=job.sub("-<job>", c.path)) for c in cdcs]

    on_driver = published(10_000, "driver")
    staged = len(on_driver[1]) + len(on_driver[2])
    at_budget = published(staged, "at")
    above = published(staged - 1, "above")
    assert on_driver[0] == at_budget[0] == [] and above[0] == [1]
    assert on_driver[1]
    assert on_driver[1:] == at_budget[1:] == above[1:]
    if cdc is not None:
        assert on_driver[2], "a CDC leg commits at least one AddCDCFile"
    if case == "cdf_fold":
        stats = json.loads(on_driver[1][0].stats)
        assert set(stats["minValues"]) == {"s"}
