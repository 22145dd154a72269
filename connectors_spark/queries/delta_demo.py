"""Delta-engine demonstration queries: the SURVEY §2 table-format
operators (partitioned transactional write, pruned scan, time travel,
MERGE/DELETE, change feed, history) surfaced through the driver's
DuckDB-oracle correctness gate.

Each query materializes a Delta table under /tmp (built once per
(sf, case) — a marker file makes rebuilds idempotent), runs the
engine operator, and returns a DataFrame whose contents are
SQL-predictable from the source parquet — so a hash-compare validates
the ENGINE (log replay, partition reassembly, DML rewrite), not just
the query.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import functions as F

from ..expressions import Col, Lit
from ..localrel import local_rows_df
from ..table import DeltaTable
from .registry import load, register

BASE = "/tmp/cs_delta_demo"
_MARKER = "_DEMO_BUILT"
# Bump when the table format / writer output changes: stale /tmp
# fixtures built by an older engine version then rebuild instead of
# poisoning reads across driver rounds.
_FIXTURE_VERSION = "4"


def _built(sf_dir: str, case: str, builder: Callable[[str], None]) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(BASE, sf, case)
    marker = os.path.join(d, _MARKER)
    current = None
    if os.path.exists(marker):
        with open(marker) as fh:
            current = fh.read().strip()
    if current != _FIXTURE_VERSION:
        if os.path.exists(d):
            shutil.rmtree(d)
        os.makedirs(d, exist_ok=True)
        builder(d)
        with open(marker, "w") as fh:
            fh.write(_FIXTURE_VERSION)
    return d


# --------------------------------------------------------------------------
# Partitioned write + pruned scan (S6/S7/E9/E10)
# --------------------------------------------------------------------------

@register("delta_scan_prune", sql="""
SELECT * FROM lineitem WHERE l_returnflag = 'R' AND l_quantity < 10
""", bench=True)
def delta_scan_prune(spark, sf_dir):
    # Partition pruning happens on the log (the driver-side pruner)
    # BEFORE any Parquet is opened: only the l_returnflag=R directory is read; the
    # residual l_quantity<10 pushes into the Parquet scan.
    def build(d):
        li = load(spark, sf_dir, "lineitem")
        DeltaTable.for_path(spark, d).write(
            li, mode="append", partition_by=["l_returnflag"])
    d = _built(sf_dir, "lineitem_part", build)
    t = DeltaTable.for_path(spark, d)
    pred = (Col("l_returnflag") == Lit("R")) & (Col("l_quantity") < Lit(10.0))
    cols = sorted(load(spark, sf_dir, "lineitem").columns)
    return t.scan(pred).to_df().select(*cols)


# --------------------------------------------------------------------------
# Time travel (T1): two commits, read version 0
# --------------------------------------------------------------------------

def _build_tt(spark, sf_dir):
    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od.filter(F.col("o_orderkey") % 2 == 0), mode="append")
        t.write(od.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    return _built(sf_dir, "orders_tt", build)


@register("delta_time_travel", sql="""
SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2)
       AS totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 2 = 0
""")
def delta_time_travel(spark, sf_dir):
    d = _build_tt(spark, sf_dir)
    t = DeltaTable.for_path(spark, d)
    return (t.to_df(version=0)
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("totalprice"),
                    "o_orderdate", "o_orderpriority"))


@register("delta_changes_feed", sql="""
SELECT 0::BIGINT AS version, count(*)::BIGINT AS n_rows
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 1::BIGINT, count(*)::BIGINT FROM orders WHERE o_orderkey % 2 = 1
""")
def delta_changes_feed(spark, sf_dir):
    # ST1/T5: per-version change feed; row counts per commit version.
    d = _build_tt(spark, sf_dir)
    t = DeltaTable.for_path(spark, d)
    return (t.changes_df(0, allow_initial_changes=True)
            .groupBy(F.col("_commit_version").alias("version"))
            .agg(F.count(F.lit(1)).alias("n_rows")))


@register("delta_history", sql="""
SELECT * FROM (VALUES (0::BIGINT, 'CREATE TABLE AS SELECT'),
                      (1::BIGINT, 'WRITE')) t(version, operation)
""")
def delta_history(spark, sf_dir):
    # T4: commit history (version + operation provenance).
    d = _build_tt(spark, sf_dir)
    t = DeltaTable.for_path(spark, d)
    rows = [(h["version"], h["operation"]) for h in t.history()]
    return local_rows_df(spark, rows, "version bigint, operation string")


# --------------------------------------------------------------------------
# MERGE upsert (P6): double even-custkey balances
# --------------------------------------------------------------------------

@register("delta_merge_upsert", sql="""
SELECT c_custkey,
       round(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END, 2) AS acctbal
FROM customer
""")
def delta_merge(spark, sf_dir):
    def build(d):
        cu = load(spark, sf_dir, "customer")
        t = DeltaTable.for_path(spark, d)
        t.write(cu, mode="append")
        src = (cu.filter(F.col("c_custkey") % 2 == 0)
               .select("c_custkey",
                       (F.col("c_acctbal") * 2).alias("c_acctbal")))
        t.merge(src, "t.c_custkey = s.c_custkey",
                when_matched_update={"c_acctbal": "s.c_acctbal"},
                when_not_matched_insert=False)
    d = _built(sf_dir, "customer_merge", build)
    t = DeltaTable.for_path(spark, d)
    return t.to_df().select("c_custkey",
                            F.round("c_acctbal", 2).alias("acctbal"))


# --------------------------------------------------------------------------
# DELETE with residual rewrite (P6)
# --------------------------------------------------------------------------

@register("delta_delete", sql="""
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
FROM orders WHERE NOT (o_totalprice < 100000)
""")
def delta_delete(spark, sf_dir):
    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od, mode="append")
        t.delete(Col("o_totalprice") < Lit(100000.0))
    d = _built(sf_dir, "orders_delete", build)
    t = DeltaTable.for_path(spark, d)
    return t.to_df().select("o_orderkey",
                            F.round("o_totalprice", 2).alias("totalprice"))


# --------------------------------------------------------------------------
# Z-order clustering + stats skipping (OPTIMIZE ZORDER, §4 extension)
# --------------------------------------------------------------------------

@register("delta_zorder_prune", sql="""
SELECT l_orderkey, l_partkey, l_suppkey, round(l_extendedprice, 2)
       AS extendedprice
FROM lineitem WHERE l_partkey >= 100 AND l_partkey < 300
""")
def delta_zorder_prune(spark, sf_dir):
    # The engine path under test: write unclustered, OPTIMIZE ZORDER on
    # (l_partkey, l_suppkey), then scan with a partkey range — file-level
    # min/max skipping prunes most files (asserted in
    # tests/test_maintenance.py); the oracle pins that re-clustering
    # never changes query results.
    from ..table import TableMaintenance

    def build(d):
        li = load(spark, sf_dir, "lineitem")
        t = DeltaTable.for_path(spark, d)
        t.write(li.repartition(8))
        TableMaintenance(t).optimize(target_file_size=4 * 1024 * 1024,
                                     zorder_by=["l_partkey", "l_suppkey"])
    d = _built(sf_dir, "lineitem_zorder", build)
    t = DeltaTable.for_path(spark, d)
    pred = (Col("l_partkey") >= Lit(100)) & (Col("l_partkey") < Lit(300))
    return (t.scan(pred).to_df()
            .filter((F.col("l_partkey") >= 100) & (F.col("l_partkey") < 300))
            .select("l_orderkey", "l_partkey", "l_suppkey",
                    F.round("l_extendedprice", 2).alias("extendedprice")))


# --------------------------------------------------------------------------
# OPTIMIZE hilbert_by: Hilbert-curve clustering (liquid-clustering style)
# --------------------------------------------------------------------------

@register("delta_hilbert_prune", sql="""
SELECT l_orderkey, l_partkey, l_suppkey, round(l_extendedprice, 2)
       AS extendedprice
FROM lineitem WHERE l_suppkey >= 40 AND l_suppkey < 80
""")
def delta_hilbert_prune(spark, sf_dir):
    # Same shape as delta_zorder_prune but clustered along the HILBERT
    # curve (unit-step locality — see table._hilbert_code) and probed on
    # the OTHER clustered column, so the two gates together pin that
    # either curve leaves min/max selective on every clustered column.
    # The oracle pins that re-clustering never changes query results;
    # the file-skipping assertion lives in tests/test_maintenance.py.
    from ..table import TableMaintenance

    def build(d):
        li = load(spark, sf_dir, "lineitem")
        t = DeltaTable.for_path(spark, d)
        t.write(li.repartition(8))
        TableMaintenance(t).optimize(target_file_size=4 * 1024 * 1024,
                                     hilbert_by=["l_partkey", "l_suppkey"])
    d = _built(sf_dir, "lineitem_hilbert", build)
    t = DeltaTable.for_path(spark, d)
    pred = (Col("l_suppkey") >= Lit(40)) & (Col("l_suppkey") < Lit(80))
    return (t.scan(pred).to_df()
            .filter((F.col("l_suppkey") >= 40) & (F.col("l_suppkey") < 80))
            .select("l_orderkey", "l_partkey", "l_suppkey",
                    F.round("l_extendedprice", 2).alias("extendedprice")))


# --------------------------------------------------------------------------
# Bloom-filter data skipping: point lookups on a high-cardinality column
# --------------------------------------------------------------------------

@register("delta_bloom_prune", sql="""
SELECT l_orderkey, l_partkey, l_linenumber,
       round(l_extendedprice, 2) AS extendedprice
FROM lineitem WHERE l_orderkey IN (7, 1000, 29154)
""")
def delta_bloom_prune(spark, sf_dir):
    # l_orderkey is high-cardinality and insert-scattered, so min/max
    # admits nearly every file for a point probe; the per-file bloom
    # (connectors_spark/bloom.py, AddFile.tags) proves absence and
    # skips. The oracle pins result equality; the files-read reduction
    # is asserted in tests/test_bloom.py.
    from ..bloom import BLOOM_COLUMNS_KEY

    def build(d):
        li = load(spark, sf_dir, "lineitem")
        t = DeltaTable.for_path(spark, d)
        t.write(li.repartition(8),
                configuration={BLOOM_COLUMNS_KEY: "l_orderkey"})
    d = _built(sf_dir, "lineitem_bloom", build)
    t = DeltaTable.for_path(spark, d)
    keys = [7, 1000, 29154]
    return (t.scan(Col("l_orderkey").isin(*keys)).to_df()
            .filter(F.col("l_orderkey").isin(keys))
            .select("l_orderkey", "l_partkey", "l_linenumber",
                    F.round("l_extendedprice", 2).alias("extendedprice")))


# --------------------------------------------------------------------------
# Generated columns: GENERATED ALWAYS AS + partition pruning
# --------------------------------------------------------------------------

@register("delta_generated_partition", sql="""
SELECT o_orderkey, o_custkey, year(o_orderdate)::INT AS o_year,
       round(o_totalprice, 2) AS totalprice
FROM orders WHERE year(o_orderdate) = 1996
""")
def delta_generated_partition(spark, sf_dir):
    # The table is PARTITIONED BY a generated column the source data
    # doesn't carry (o_year GENERATED ALWAYS AS year(o_orderdate),
    # field metadata delta.generationExpression). The write computes
    # it, appends without it auto-fill, divergent values are rejected
    # (tests/test_table_rw.py) — and an equality scan on it prunes
    # whole year directories. The oracle recomputes the expression.
    def build(d):
        o = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(o, partition_by=["o_year"],
                generated_columns={"o_year": ("int",
                                              "year(o_orderdate)")})
    d = _built(sf_dir, "orders_generated", build)
    t = DeltaTable.for_path(spark, d)
    return (t.scan(Col("o_year") == Lit(1996)).to_df()
            .select("o_orderkey", "o_custkey", "o_year",
                    F.round("o_totalprice", 2).alias("totalprice")))


# --------------------------------------------------------------------------
# Identity columns: GENERATED ALWAYS AS IDENTITY, zero-shuffle allocation
# --------------------------------------------------------------------------

@register("delta_identity", sql="""
WITH c2 AS (SELECT 1 AS x FROM customer
            UNION ALL SELECT 1 FROM customer),
n AS (SELECT row_number() OVER () AS pos FROM c2)
SELECT pos::BIGINT AS pos, (100 + 7 * (pos - 1))::BIGINT AS uid FROM n
""")
def delta_identity(spark, sf_dir):
    # Two commits allocate identity values (START 100 INCREMENT 7)
    # across arbitrary partitionings; the ALLOCATED SET is exactly the
    # arithmetic sequence with no gaps or duplicates and the append
    # continues from the committed high-water mark — so the sorted
    # values ARE the oracle's closed-form sequence, even though the
    # row->value assignment follows physical partitioning.
    from pyspark.sql import Window

    def build(d):
        cu = load(spark, sf_dir, "customer").select("c_name")
        t = DeltaTable.for_path(spark, d)
        t.write(cu.repartition(8),
                identity_columns={"uid": ("bigint", 100, 7)})
        t.write(cu.repartition(3), mode="append")
    d = _built(sf_dir, "customer_identity", build)
    t = DeltaTable.for_path(spark, d)
    w = Window.orderBy("uid")
    return (t.to_df().select("uid")
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select("pos", "uid"))


# --------------------------------------------------------------------------
# Column mapping (name mode): rename/drop without rewrite
# --------------------------------------------------------------------------

@register("delta_column_mapping", sql="""
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS balance
FROM supplier WHERE s_acctbal >= 0
""")
def delta_column_mapping(spark, sf_dir):
    # enable mapping -> RENAME COLUMN (metadata-only; same physical
    # files) -> DROP an unused column -> DELETE through the renamed
    # name -> read back through the new logical schema. The oracle
    # pins that the whole DDL+DML cycle is value-preserving.
    def build(d):
        su = load(spark, sf_dir, "supplier")
        t = DeltaTable.for_path(spark, d)
        t.write(su)
        t.enable_column_mapping()
        t.rename_column("s_acctbal", "balance")
        t.drop_column("s_nationkey")
        t.delete(Col("balance") < Lit(0.0))
    d = _built(sf_dir, "supplier_colmap", build)
    t = DeltaTable.for_path(spark, d)
    return t.to_df().select("s_suppkey", "s_name",
                            F.round("balance", 2).alias("balance"))


# --------------------------------------------------------------------------
# UPDATE DML (P6): conditional column rewrite under the oracle
# --------------------------------------------------------------------------

@register("delta_update", sql="""
SELECT s_suppkey, s_name,
       round(CASE WHEN s_acctbal < 0 THEN 0.0 ELSE s_acctbal END, 2)
           AS acctbal
FROM supplier
""")
def delta_update(spark, sf_dir):
    # UPDATE rewrites only files containing matching rows (predicate
    # pruning picks candidates from file stats); untouched files keep
    # their AddFile unchanged.
    def build(d):
        su = load(spark, sf_dir, "supplier")
        t = DeltaTable.for_path(spark, d)
        t.write(su, mode="append")
        t.update({"s_acctbal": "0.0"}, Col("s_acctbal") < Lit(0.0))
    d = _built(sf_dir, "supplier_update", build)
    t = DeltaTable.for_path(spark, d)
    return t.to_df().select("s_suppkey", "s_name",
                            F.round("s_acctbal", 2).alias("acctbal"))


# --------------------------------------------------------------------------
# CONVERT TO DELTA (S: metadata-only adoption of a parquet directory)
# --------------------------------------------------------------------------

@register("delta_convert", sql="""
SELECT r_regionkey, count(*)::BIGINT AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
""")
def delta_convert(spark, sf_dir):
    # convert_to_delta adopts the files in place (no data rewrite) —
    # the Hive-partitioned layout's values come from directory names,
    # then every later read goes through the Delta log.
    from ..sources.convert import convert_to_delta

    def build(d):
        na = load(spark, sf_dir, "nation")
        (na.write.mode("overwrite").partitionBy("n_regionkey")
         .parquet(f"{d}/plain"))
        convert_to_delta(spark, f"{d}/plain",
                         partition_by=["n_regionkey"])
    d = _built(sf_dir, "nation_convert", build)
    t = DeltaTable.for_path(spark, f"{d}/plain")
    re = load(spark, sf_dir, "region").select("r_regionkey")
    na = t.to_df()
    return (na.join(F.broadcast(re),
                    na.n_regionkey == re.r_regionkey)
            .groupBy("r_regionkey")
            .agg(F.count(F.lit(1)).alias("n")))


# --------------------------------------------------------------------------
# Schema evolution (W3/ST8): widen on append, old files read as NULL
# --------------------------------------------------------------------------

@register("delta_schema_evolution", sql="""
SELECT s_suppkey, s_name,
       CASE WHEN s_suppkey % 2 = 1 THEN round(s_acctbal, 2) END AS acctbal
FROM supplier
""")
def delta_schema_evolution(spark, sf_dir):
    # v0 writes a narrow schema (even keys); v1 appends wide rows (odd
    # keys, + s_acctbal), committing a new Metadata under the
    # write-compatibility rules (new column nullable). The snapshot read
    # applies the LATEST schema to every file: v0 parquet lacks the
    # column and decodes as NULL — the nullable-widening contract of
    # SchemaUtils.scala:82-141.
    def build(d):
        su = load(spark, sf_dir, "supplier")
        t = DeltaTable.for_path(spark, d)
        t.write(su.filter(F.col("s_suppkey") % 2 == 0)
                .select("s_suppkey", "s_name"))
        t.write(su.filter(F.col("s_suppkey") % 2 == 1)
                .select("s_suppkey", "s_name", "s_acctbal"))
    d = _built(sf_dir, "supplier_evolve", build)
    t = DeltaTable.for_path(spark, d)
    return t.to_df().select("s_suppkey", "s_name",
                            F.round("s_acctbal", 2).alias("acctbal"))


# --------------------------------------------------------------------------
# CHECK constraints: violating commits must not land
# --------------------------------------------------------------------------

@register("delta_check_constraint", sql="""
SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer
UNION ALL
SELECT c_custkey, round(c_acctbal + 20000.0, 2) FROM customer
WHERE c_custkey <= 50
""")
def delta_check_constraint(spark, sf_dir):
    # v0 creates with CHECK (c_acctbal > -2000). A batch shifted to be
    # all-negative must be rejected WITHOUT committing; a valid shifted
    # batch must land. The read equals original + valid batch only --
    # which the oracle derives from the source parquet.
    from ..errors import DeltaError

    def build(d):
        cu = load(spark, sf_dir, "customer")
        t = DeltaTable.for_path(spark, d)
        t.write(cu, configuration={
            "delta.constraints.bal": "c_acctbal > -2000.0"})
        bad = cu.withColumn("c_acctbal", F.col("c_acctbal") - 100000.0)
        try:
            t.write(bad)
            raise AssertionError("constraint violation not raised")
        except DeltaError:
            pass
        good = (cu.filter(F.col("c_custkey") <= 50)
                .withColumn("c_acctbal", F.col("c_acctbal") + 20000.0))
        t.write(good)
    d = _built(sf_dir, "customer_check", build)
    t = DeltaTable.for_path(spark, d)
    return t.to_df().select("c_custkey",
                            F.round("c_acctbal", 2).alias("acctbal"))


# --------------------------------------------------------------------------
# RESTORE: revert the table to an earlier version as a new commit
# --------------------------------------------------------------------------

@register("delta_restore", sql="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM orders
""")
def delta_restore(spark, sf_dir):
    # v0 writes all orders, v1 DELETEs the cheap ones, v2 RESTOREs to v0.
    # The read after restore must equal the original table exactly -- the
    # deleted rows come back from the re-added files, and v1 remains
    # reachable by time travel (asserted in tests/test_maintenance.py).
    from ..table import TableMaintenance

    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od, mode="append")
        t.delete(Col("o_totalprice") < Lit(100000.0))
        TableMaintenance(t).restore(version=0)
    d = _built(sf_dir, "orders_restore", build)
    t = DeltaTable.for_path(spark, d)
    return t.to_df().select("o_orderkey", "o_custkey",
                            F.round("o_totalprice", 2).alias("totalprice"))


# --------------------------------------------------------------------------
# Row-level Change Data Feed (AddCDCFile, actions.scala:164-172)
# --------------------------------------------------------------------------

@register("delta_cdf_row_level", sql="""
SELECT s_suppkey, round(s_acctbal, 2) AS acctbal,
       'update_preimage' AS change_type, 1::BIGINT AS commit_version
FROM supplier WHERE s_acctbal < 0
UNION ALL
SELECT s_suppkey, 0.0, 'update_postimage', 1::BIGINT
FROM supplier WHERE s_acctbal < 0
UNION ALL
SELECT s_suppkey, round(CASE WHEN s_acctbal < 0 THEN 0.0
                             ELSE s_acctbal END, 2), 'delete', 2::BIGINT
FROM supplier WHERE s_suppkey <= 10
""")
def delta_cdf_row_level(spark, sf_dir):
    # v0 creates with CDF enabled, v1 UPDATEs (negative balances -> 0),
    # v2 DELETEs suppliers 1..10. table_changes(1,2) must reproduce the
    # exact pre/post images and delete rows -- the oracle derives all
    # three change sets from the source parquet alone.
    def build(d):
        su = load(spark, sf_dir, "supplier")
        t = DeltaTable.for_path(spark, d)
        t.write(su, configuration={"delta.enableChangeDataFeed": "true"})
        t.update({"s_acctbal": "0.0"}, Col("s_acctbal") < Lit(0.0))
        t.delete(Col("s_suppkey") <= Lit(10))
    d = _built(sf_dir, "supplier_cdf", build)
    t = DeltaTable.for_path(spark, d)
    return (t.table_changes(1, 2)
            .select("s_suppkey",
                    F.round("s_acctbal", 2).alias("acctbal"),
                    F.col("_change_type").alias("change_type"),
                    F.col("_commit_version").alias("commit_version")))


# --------------------------------------------------------------------------
# Dynamic join-key file pruning (metadata-plane DPP)
# --------------------------------------------------------------------------

@register("delta_join_prune", sql="""
SELECT l_returnflag, count(*)::BIGINT AS n,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = 'PROMO' AND p_size >= 40
GROUP BY 1
""")
def delta_join_prune(spark, sf_dir):
    # The dimension filter's surviving keys prune the FACT's file set
    # before any Parquet opens (scan.prune_by_join_keys); the same keys
    # then drive the row-level join. On a partitioned/zordered fact this
    # skips whole files; correctness never depends on how much it skips.
    from ..scan import prune_by_join_keys

    def build(d):
        from ..bloom import BLOOM_COLUMNS_KEY
        li = load(spark, sf_dir, "lineitem")
        # Range-partitioned by key AND bloom-tagged on it: min/max
        # bounds each file to a key band; the bloom additionally
        # refutes point keys INSIDE a band the file doesn't hold
        # (the driver-side bloom probe, scan.py).
        DeltaTable.for_path(spark, d).write(
            li.repartitionByRange(8, "l_partkey"),
            configuration={BLOOM_COLUMNS_KEY: "l_partkey"})
    d = _built(sf_dir, "lineitem_bykey", build)
    t = DeltaTable.for_path(spark, d)
    pa = (load(spark, sf_dir, "part")
          .filter((F.col("p_type") == "PROMO") & (F.col("p_size") >= 40))
          .select("p_partkey"))
    scan = prune_by_join_keys(t, "l_partkey", pa.select("p_partkey"))
    li = scan.to_df()
    return (li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price")))


# --------------------------------------------------------------------------
# Symlink-format manifest (engine interop, ≍ Power BI/Hive external readers)
# --------------------------------------------------------------------------

@register("delta_manifest_read", sql="""
SELECT * FROM lineitem
""")
def delta_manifest_read(spark, sf_dir):
    # GENERATE symlink_format_manifest, then read the table back USING
    # ONLY the manifest (the Presto/Athena path: no log replay, just
    # the file list + hive-layout partition recovery). Hash-equality
    # with the source proves the manifest names exactly the active
    # files and the partition reassembly is lossless.
    from ..table import TableMaintenance

    def build(d):
        li = load(spark, sf_dir, "lineitem")
        DeltaTable.for_path(spark, d).write(
            li, mode="append", partition_by=["l_returnflag"])
    d = _built(sf_dir, "lineitem_part", build)
    t = DeltaTable.for_path(spark, d)
    manifests = TableMaintenance(t).generate_manifest()
    paths = []
    for m in manifests:
        with open(m) as fh:
            paths.extend(line.strip() for line in fh if line.strip())
    cols = sorted(load(spark, sf_dir, "lineitem").columns)
    return (spark.read.option("basePath", t.path)
            .schema(t.snapshot().metadata.schema)
            .parquet(*paths).select(*cols))


@register("delta_clone_cow", sql="""
SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2)
       AS totalprice, o_orderdate
FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice >= 100000
""")
def delta_clone_cow(spark, sf_dir):
    # Shallow CLONE at version 0 (metadata-only: AddFiles point at the
    # source by absolute path), then DELETE on the clone: the rewrite
    # copy-on-writes survivors under the clone's root while the source
    # table is untouched — the hash gate validates absolute-path log
    # replay + COW isolation end to end.
    src_dir = _build_tt(spark, sf_dir)

    def build(d):
        tgt = os.path.join(d, "t")
        DeltaTable.for_path(spark, src_dir).clone_to(tgt, version=0)
        DeltaTable.for_path(spark, tgt).delete(
            Col("o_totalprice") < Lit(100000.0))
    d = _built(sf_dir, "orders_clone", build)
    t = DeltaTable.for_path(spark, os.path.join(d, "t"))
    return (t.to_df()
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("totalprice"),
                    "o_orderdate"))


@register("delta_dv_delete", sql="""
SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2)
       AS totalprice, o_orderdate
FROM orders WHERE NOT (o_totalprice < 100000)
""")
def delta_dv_delete(spark, sf_dir):
    # Row-level DELETE via deletion vectors: the data files are never
    # rewritten — deleted positions live in a sidecar and the read
    # anti-joins them out by (file, row_index). The hash gate validates
    # the full DV protocol: sidecar write, tag repointing, and the
    # metadata-column anti-join read.
    def build(d):
        t = DeltaTable.for_path(spark, d)
        t.write(load(spark, sf_dir, "orders"), mode="append")
        t.delete(Col("o_totalprice") < Lit(100000.0),
                 deletion_vectors=True)
    d = _built(sf_dir, "orders_dv", build)
    t = DeltaTable.for_path(spark, d)
    return (t.to_df()
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("totalprice"),
                    "o_orderdate"))


@register("delta_v2_checkpoint_read", sql="""
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2)
       AS sum_price
FROM orders WHERE NOT (o_totalprice < 50000)
GROUP BY o_orderstatus
""")
def delta_v2_checkpoint_read(spark, sf_dir):
    # V2 (uuid-named) checkpoint: the auto-checkpoint at version 2
    # writes a MANIFEST + sidecar parquets (delta.checkpointPolicy=v2);
    # the fresh read reconstructs state from manifest + sidecars + the
    # post-checkpoint DELETE commit. Hash match = the sidecar split,
    # the manifest's P&M rows, and the v2-vs-classic instance pick all
    # compose with ordinary replay.
    def build(d):
        od = load(spark, sf_dir, "orders")
        cfg = {"delta.checkpointPolicy": "v2",
               "delta.checkpointInterval": "2",
               "delta.protocol.autoUpgrade": "true"}
        t = DeltaTable.for_path(spark, d)
        for m in range(3):
            t.write(od.where(F.col("o_orderkey") % 3 == m),
                    mode="append", configuration=cfg)
        t.delete(Col("o_totalprice") < Lit(50000.0))
        import os as _os
        from ..log import filenames as _fn
        assert any(_fn.is_v2_checkpoint_file(n)
                   for n in _os.listdir(_os.path.join(d, "_delta_log")))
    d = _built(sf_dir, "orders_v2ckpt", build)
    t = DeltaTable.for_path(spark, d)
    return (t.to_df().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price")))


@register("delta_type_widening", sql="""
WITH h AS (
  SELECT o_orderstatus, o_orderkey AS k,
         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice::FLOAT::DOUBLE
              ELSE o_totalprice::DOUBLE END AS p
  FROM orders)
SELECT o_orderstatus, count(*) AS n, sum(k)::BIGINT AS sum_key,
       round(sum(p), 2) AS sum_price
FROM h GROUP BY o_orderstatus
""")
def delta_type_widening(spark, sf_dir):
    # Type widening (Delta protocol 'Type Widening'): half the rows
    # are written with NARROW types (int key, float price), the
    # columns are widened to long/double (metadata-only ALTER), and
    # the other half lands with the wide types — the aggregate over
    # the mixed-physical-type table must equal the oracle's per-half
    # cast reconstruction, which only happens if the scan promotes old
    # files losslessly and stats/pruning stay sound.
    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od.where(F.col("o_orderkey") % 2 == 0)
                .withColumn("o_orderkey",
                            F.col("o_orderkey").cast("int"))
                .withColumn("o_totalprice",
                            F.col("o_totalprice").cast("float")),
                mode="append",
                configuration={"delta.enableTypeWidening": "true",
                               "delta.protocol.autoUpgrade": "true"})
        t.alter_column_type("o_orderkey", "long")
        t.alter_column_type("o_totalprice", "double")
        t.write(od.where(F.col("o_orderkey") % 2 == 1), mode="append")
    d = _built(sf_dir, "orders_widen", build)
    t = DeltaTable.for_path(spark, d)
    return (t.to_df()
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("sum_key"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price")))


@register("delta_row_ids", sql="""
SELECT (SELECT count(*) FROM events) AS n_v0,
       count(*) AS n_latest,
       count(*) AS n_distinct_latest,
       count(*) AS n_stable
FROM events WHERE NOT (value < 50)
""")
def delta_row_ids(spark, sf_dir):
    # Row tracking (Delta protocol 'Row Tracking'): stable row ids
    # across a DV delete AND an OPTIMIZE rewrite (which MATERIALIZES
    # ids into the rewritten files). The gate joins latest row ids back
    # to version 0's and counts rows whose (row_id -> event_id) binding
    # is unchanged — equal to the surviving-row count only if every id
    # is unique AND stable through both operations.
    from ..table import TableMaintenance

    def build(d):
        t = DeltaTable.for_path(spark, d)
        t.write(load(spark, sf_dir, "events"), mode="append",
                configuration={"delta.enableRowTracking": "true",
                               "delta.protocol.autoUpgrade": "true"})
        t.delete(Col("value") < Lit(50.0), deletion_vectors=True)
        TableMaintenance(t).optimize(min_files_per_group=1)
    d = _built(sf_dir, "events_rowtrack", build)
    t = DeltaTable.for_path(spark, d)
    v0 = (t.to_df(version=0, with_row_ids=True)
          .select(F.col("event_id").alias("_e0"), "_row_id"))
    latest = t.to_df(with_row_ids=True).select("event_id", "_row_id")
    n_v0 = int(t.to_df(version=0).count())
    j = latest.join(v0, "_row_id")
    return j.agg(
        F.lit(n_v0).cast("long").alias("n_v0"),
        F.count(F.lit(1)).alias("n_latest"),
        F.countDistinct("_row_id").alias("n_distinct_latest"),
        F.sum(F.when(F.col("event_id") == F.col("_e0"), 1)
              .otherwise(0)).cast("long").alias("n_stable"))


@register("delta_vacuum_lite", sql="""
SELECT o_orderstatus AS s, count(*) AS n,
       sum(o_orderkey)::BIGINT AS sum_k,
       round(sum(o_totalprice), 2) AS sum_p
FROM orders GROUP BY s
""")
def delta_vacuum_lite(spark, sf_dir):
    # VACUUM LITE (log-inventory vacuum): OPTIMIZE tombstones the
    # small files, then lite vacuum derives the doomed set from the
    # LOG (zero data-tree listing) and reclaims them; the gate
    # hash-compares the post-vacuum table against the oracle AND
    # asserts the reclaim actually happened (>= 2 files deleted, a
    # VACUUM LITE END marker on top of the history) via a refusal
    # column the oracle can't fake.
    from ..table import TableMaintenance

    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od.repartition(8), mode="append")
        TableMaintenance(t).optimize(min_files_per_group=2)
        deleted = TableMaintenance(t).vacuum(retention_ms=0, lite=True)
        assert len(deleted) >= 2, deleted
        h = t.log.history()[0]
        assert h["operation"] == "VACUUM LITE END", h
    d = _built(sf_dir, "orders_vacuum_lite", build)
    t = DeltaTable.for_path(spark, d)
    return (t.to_df()
            .groupBy(F.col("o_orderstatus").alias("s"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("sum_k"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_p")))


@register("delta_rt_backfill", sql="""
SELECT count(*) AS n, count(*) AS n_ids, count(*) AS n_dense
FROM events
""")
def delta_rt_backfill(spark, sf_dir):
    # Row-tracking ENABLEMENT backfill (ADVICE r11): the table is
    # written WITHOUT row tracking, the property is flipped on via
    # SET TBLPROPERTIES, and the same commit must backfill baseRowId
    # onto every pre-existing file — n_ids counts non-null ids, and
    # n_dense counts ids in [0, n) after dedup, so both equal count(*)
    # only if every old row got a unique dense id with no rewrite.
    def build(d):
        t = DeltaTable.for_path(spark, d)
        ev = load(spark, sf_dir, "events")
        t.write(ev.repartition(4), mode="append")
        t.set_properties({"delta.enableRowTracking": "true"})
    d = _built(sf_dir, "events_rt_backfill", build)
    t = DeltaTable.for_path(spark, d)
    df = t.to_df(with_row_ids=True)
    n = df.count()
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("_row_id").alias("n_ids"),
        F.countDistinct(
            F.when((F.col("_row_id") >= 0)
                   & (F.col("_row_id") < F.lit(n)), F.col("_row_id")))
        .alias("n_dense"))


@register("delta_variant_roundtrip", sql="""
SELECT o_orderstatus AS s, count(*) AS n,
       sum(o_orderkey)::BIGINT AS sum_k,
       round(sum(o_totalprice), 2) AS sum_p,
       min(concat('{"k":', o_orderkey, ',"s":"', o_orderstatus, '"}'))
       AS min_j
FROM orders GROUP BY s
""")
def delta_variant_roundtrip(spark, sf_dir):
    # VARIANT (Delta protocol 'Variant Data Type'): orders rows are
    # packed into a variant column, written through the engine
    # (protocol-gated reader 3 / writer 7 'variantType'; numRecords
    # stats via the Spark-side fallback — writer.py), read back, and
    # re-extracted with variant_get; min(to_json(v)) pins the exact
    # binary→JSON roundtrip against the oracle's string construction.
    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od.select(
            "o_orderkey",
            F.parse_json(F.concat(
                F.lit('{"k":'), F.col("o_orderkey").cast("string"),
                F.lit(',"s":"'), F.col("o_orderstatus"),
                F.lit('","p":'), F.col("o_totalprice").cast("string"),
                F.lit("}"))).alias("v")),
            mode="append",
            configuration={"delta.protocol.autoUpgrade": "true"})
    d = _built(sf_dir, "orders_variant", build)
    t = DeltaTable.for_path(spark, d)
    return (t.to_df()
            .select(F.variant_get("v", "$.s", "string").alias("s"),
                    F.variant_get("v", "$.k", "long").alias("k"),
                    F.variant_get("v", "$.p", "double").alias("p"),
                    F.to_json(F.parse_json(F.concat(
                        F.lit('{"k":'), F.col("o_orderkey")
                        .cast("string"),
                        F.lit(',"s":"'),
                        F.variant_get("v", "$.s", "string"),
                        F.lit('"}')))).alias("j"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.round(F.sum("p"), 2).alias("sum_p"),
                 F.min("j").alias("min_j")))


@register("delta_cdf_row_ids", sql="""
SELECT count(*) AS n_updated, count(*) AS n_key_stable,
       count(*) AS n_value_ok
FROM events WHERE value < 50
""")
def delta_cdf_row_ids(spark, sf_dir):
    # Row ids THROUGH the change feed (VERDICT r11 #4): an UPDATE's
    # delete+insert pair for the same logical row shares one _row_id,
    # so joining the CDF's two sides on _row_id reconstructs each
    # row's pre→post transition without any business key. The gate
    # counts updated pairs whose key is stable and whose new value is
    # exactly old+1000 — all three equal the predicate count only if
    # ids are carried correctly on BOTH the remove side (tombstone
    # baseRowId) and the rewrite side (materialized columns).
    def build(d):
        t = DeltaTable.for_path(spark, d)
        t.write(load(spark, sf_dir, "events"), mode="append",
                configuration={"delta.enableRowTracking": "true",
                               "delta.protocol.autoUpgrade": "true"})
        t.update({"value": "value + 1000"}, Col("value") < Lit(50.0))
    d = _built(sf_dir, "events_cdf_rowtrack", build)
    t = DeltaTable.for_path(spark, d)
    ch = t.table_changes(1, with_row_ids=True)
    ins = (ch.where(F.col("_change_type") == "insert")
           .select(F.col("event_id").alias("k_new"),
                   F.col("value").alias("v_new"), "_row_id"))
    dl = (ch.where(F.col("_change_type") == "delete")
          .select(F.col("event_id").alias("k_old"),
                  F.col("value").alias("v_old"), "_row_id"))
    j = ins.join(dl, "_row_id").where(F.col("v_old") < 50.0)
    return j.agg(
        F.count(F.lit(1)).alias("n_updated"),
        F.sum(F.when(F.col("k_new") == F.col("k_old"), 1).otherwise(0))
        .cast("long").alias("n_key_stable"),
        F.sum(F.when(F.abs(F.col("v_new") - F.col("v_old") - 1000.0)
                     < 1e-9, 1).otherwise(0))
        .cast("long").alias("n_value_ok"))


@register("delta_dml_merge_cdf", sql="""
SELECT o_orderkey, round(o_totalprice * 2, 2) AS new_price
FROM orders WHERE o_orderkey % 100 = 0
""", bench=True)
def delta_dml_merge_cdf(spark, sf_dir):
    # Headline DML composite (VERDICT r12 #8): the read-heavy bench
    # suite gets a write-path trend line. Each invocation runs a REAL
    # MERGE (1% of orders, spread across every file — worst-case touch
    # footprint) into a CDF+row-tracking table, then reads that
    # commit's change feed back. Timed work = touched-file discovery,
    # full rewrite with materialized row ids, CDC staging, commit, and
    # the physical-CDC read. Deterministic across runs: the source is
    # rebuilt from the RAW parquet (value = raw*2 every time), so
    # repeated merges converge to the same postimage rows and the
    # fixture never grows beyond its log tail.
    def build(d):
        t = DeltaTable.for_path(spark, d)
        t.write(load(spark, sf_dir, "orders"), mode="append",
                configuration={"delta.enableChangeDataFeed": "true",
                               "delta.enableRowTracking": "true",
                               "delta.protocol.autoUpgrade": "true"})
    d = _built(sf_dir, "orders_dml_bench", build)
    t = DeltaTable.for_path(spark, d)
    # Fixture reset (VERDICT r13 #7): each bench session appends ~4
    # MERGE commits; checkpoint-interval 10 bounds replay, but across
    # many rounds the log tail would still drift the trend line. When
    # the log exceeds a bounded number of commits, rebuild from the raw
    # parquet — the merge converges to the same postimage rows either
    # way (source derives from raw every run), so results are
    # unchanged; only the fixture's age resets.
    if t.log.snapshot().version > 40:
        marker = os.path.join(d, _MARKER)
        if os.path.exists(marker):
            os.remove(marker)
        d = _built(sf_dir, "orders_dml_bench", build)
        t = DeltaTable.for_path(spark, d)
    src = (load(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 100 == 0)
           .select("o_orderkey",
                   (F.col("o_totalprice") * 2).alias("o_totalprice")))
    v = t.merge(src, "t.o_orderkey = s.o_orderkey",
                when_matched_update={"o_totalprice": "s.o_totalprice"},
                when_not_matched_insert=False)
    ch = t.table_changes(v, v)
    return (ch.where(F.col("_change_type") == "update_postimage")
            .select("o_orderkey",
                    F.round("o_totalprice", 2).alias("new_price")))


@register("delta_cdc_row_ids_merge", sql="""
SELECT count(*) AS n_updated, count(*) AS n_key_stable,
       count(*) AS n_value_ok
FROM events WHERE value < 50
""")
def delta_cdc_row_ids_merge(spark, sf_dir):
    # Row ids through PHYSICAL AddCDCFile rows (VERDICT r12 #4): a MERGE
    # on a CDF+row-tracking table writes real CDC files; pre/post images
    # materialize the row id into the CDC parquet (the reader has no
    # AddFile baseRowId to fall back on there). Joining the two images
    # on _row_id reconstructs each transition; all three counts equal
    # the predicate count only if ids flow through the physical files.
    def build(d):
        t = DeltaTable.for_path(spark, d)
        t.write(load(spark, sf_dir, "events"), mode="append",
                configuration={"delta.enableChangeDataFeed": "true",
                               "delta.enableRowTracking": "true",
                               "delta.protocol.autoUpgrade": "true"})
        src = (t.to_df().where(F.col("value") < 50)
               .select("event_id", (F.col("value") + 1000).alias("value")))
        t.merge(src, "t.event_id = s.event_id",
                when_matched_update={"value": "s.value"},
                when_not_matched_insert=False)
        from ..log.actions import AddCDCFile
        acts = dict(t.log.get_changes(1))[1]
        assert any(isinstance(a, AddCDCFile) for a in acts)
    d = _built(sf_dir, "events_cdc_rowids_merge", build)
    t = DeltaTable.for_path(spark, d)
    ch = t.table_changes(1, 1, with_row_ids=True)
    pre = (ch.where(F.col("_change_type") == "update_preimage")
           .select(F.col("event_id").alias("k_old"),
                   F.col("value").alias("v_old"), "_row_id"))
    post = (ch.where(F.col("_change_type") == "update_postimage")
            .select(F.col("event_id").alias("k_new"),
                    F.col("value").alias("v_new"), "_row_id",
                    F.col("_row_commit_version").alias("rcv_new")))
    j = post.join(pre, "_row_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_updated"),
        F.sum(F.when(F.col("k_new") == F.col("k_old"), 1).otherwise(0))
        .cast("long").alias("n_key_stable"),
        F.sum(F.when((F.abs(F.col("v_new") - F.col("v_old") - 1000.0)
                      < 1e-9) & (F.col("rcv_new") == 1), 1)
              .otherwise(0)).cast("long").alias("n_value_ok"))


@register("delta_reorg_purge", sql="""
SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2)
       AS totalprice, o_orderdate
FROM orders WHERE NOT (o_totalprice < 100000)
""")
def delta_reorg_purge(spark, sf_dir):
    # REORG TABLE APPLY (PURGE): after a DV delete, rewrite exactly the
    # DV-carrying files without their deleted rows and drop the sidecar
    # tags (dataChange=False, like OPTIMIZE). The build asserts no DV
    # tag survives, so the gate's hash match proves the PURGED files —
    # not a lingering anti-join — produce the logical table.
    from ..dv import DV_TAG
    from ..table import TableMaintenance

    def build(d):
        t = DeltaTable.for_path(spark, d)
        t.write(load(spark, sf_dir, "orders"), mode="append")
        t.delete(Col("o_totalprice") < Lit(100000.0),
                 deletion_vectors=True)
        TableMaintenance(t).reorg_purge()
        assert not any((f.tags or {}).get(DV_TAG)
                       for f in t.log.snapshot().all_files())
    d = _built(sf_dir, "orders_purge", build)
    t = DeltaTable.for_path(spark, d)
    return (t.to_df()
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("totalprice"),
                    "o_orderdate"))


# --------------------------------------------------------------------------
# Incremental derived-table maintenance from the Change Data Feed
# --------------------------------------------------------------------------

@register("delta_cdf_incremental_agg", sql="""
WITH final AS (
  SELECT o_orderstatus,
         CAST(round((CASE WHEN o_orderkey <= 1500 THEN 0.0
                          ELSE o_totalprice END) * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey <= 4500)
SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
       round(sum(cents)::BIGINT / 100.0, 2) AS sum_total
FROM final GROUP BY 1
""")
def delta_cdf_incremental_agg(spark, sf_dir):
    # The canonical CDF consumer: a derived aggregate maintained
    # INCREMENTALLY — base aggregate at v0 plus the change feed's
    # signed deltas (insert/postimage add, delete/preimage subtract)
    # must equal a direct recompute of the final state, which is what
    # the oracle computes from the raw parquet alone. Money flows as
    # integer cents so incremental == direct is exact, not
    # float-accumulation-order luck. At 100 TB this is the point of
    # CDF: the derived table updates from the (small) change relation,
    # never by rescanning the base.
    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od, configuration={"delta.enableChangeDataFeed": "true"})
        t.update({"o_totalprice": "0.0"}, Col("o_orderkey") <= Lit(1500))
        t.delete(Col("o_orderkey") > Lit(4500))
    d = _built(sf_dir, "orders_cdf_incr", build)
    t = DeltaTable.for_path(spark, d)

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = (t.to_df(version=0)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("_n0"),
                 F.sum(cents).alias("_s0")))
    ch = t.table_changes(1, 2).select(
        "o_orderstatus",
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .when(F.col("_change_type") == "delete", F.lit(-1))
        .otherwise(F.lit(0)).alias("_dn"),
        F.when(F.col("_change_type").isin("insert", "update_postimage"),
               cents)
        .when(F.col("_change_type").isin("delete", "update_preimage"),
              -cents)
        .otherwise(F.lit(0)).alias("_ds"))
    delta = (ch.groupBy("o_orderstatus")
             .agg(F.sum("_dn").alias("_dn"), F.sum("_ds").alias("_ds")))
    return (base.join(delta, "o_orderstatus", "left")
            .select("o_orderstatus",
                    (F.col("_n0") + F.coalesce("_dn", F.lit(0)))
                    .alias("n_orders"),
                    F.round((F.col("_s0")
                             + F.coalesce("_ds", F.lit(0))) / 100.0, 2)
                    .alias("sum_total"))
            .filter(F.col("n_orders") > 0))


# --------------------------------------------------------------------------
# Metadata-only aggregates (no Parquet scan)
# --------------------------------------------------------------------------

@register("delta_metadata_aggregates", sql="""
SELECT count(*)::BIGINT AS n_rows,
       min(o_orderkey) AS min_o_orderkey,
       max(o_orderkey) AS max_o_orderkey,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders
""")
def delta_metadata_aggregates(spark, sf_dir):
    # COUNT/MIN/MAX from AddFile stats alone — the one-row answer comes
    # from the log's stats JSON; no data Parquet opens (pinned by a
    # test that deletes the data files and still gets the answer).
    def build(d):
        od = load(spark, sf_dir, "orders")
        DeltaTable.for_path(spark, d).write(od.repartition(8))
    d = _built(sf_dir, "orders_meta_agg", build)
    t = DeltaTable.for_path(spark, d)
    out = t.metadata_aggregates(cols=["o_orderkey", "o_totalprice"])
    return out.select(
        "n_rows", "min_o_orderkey", "max_o_orderkey",
        F.round("min_o_totalprice", 2).alias("min_price"),
        F.round("max_o_totalprice", 2).alias("max_price"))


# --------------------------------------------------------------------------
# replaceWhere: predicate-scoped atomic overwrite
# --------------------------------------------------------------------------

@register("delta_replace_where", sql="""
WITH final AS (
  SELECT o_orderstatus, o_orderkey FROM orders WHERE o_orderstatus <> 'F'
  UNION ALL
  SELECT o_orderstatus, o_orderkey FROM orders
  WHERE o_orderstatus = 'F' AND o_orderkey <= 2000)
SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
       sum(o_orderkey)::BIGINT AS sum_keys
FROM final GROUP BY 1
""")
def delta_replace_where(spark, sf_dir):
    # Delta replaceWhere: one transaction swaps exactly the predicate's
    # rows for the incoming frame — here the 'F' partition is replaced
    # by a strict subset, so stale F rows surviving OR non-F rows lost
    # both flip the hash. Partition predicate -> files drop whole, no
    # data read on the remove side.
    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od, partition_by=["o_orderstatus"])
        repl = od.where("o_orderstatus = 'F' AND o_orderkey <= 2000")
        t.write(repl, mode="overwrite",
                replace_where=Col("o_orderstatus") == Lit("F"))
    d = _built(sf_dir, "orders_replace_where", build)
    t = DeltaTable.for_path(spark, d)
    return (t.to_df().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_orderkey").alias("sum_keys")))


@register("delta_show_partitions", sql="""
SELECT DISTINCT o_orderstatus FROM orders WHERE o_orderstatus <> 'P'
""")
def delta_show_partitions(spark, sf_dir):
    # SHOW PARTITIONS answered from the file inventory alone: after a
    # whole-partition DELETE, the dropped partition must vanish from
    # the listing without any data Parquet being opened (the build
    # wrote partitioned, deleted 'P', and the gate compares against
    # the surviving raw distinct values).
    def build(d):
        t = DeltaTable.for_path(spark, d)
        t.write(load(spark, sf_dir, "orders"),
                partition_by=["o_orderstatus"])
        t.delete(Col("o_orderstatus") == Lit("P"))
    d = _built(sf_dir, "orders_parts", build)
    return DeltaTable.for_path(spark, d).show_partitions()


@register("delta_compact_log_read", sql="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM orders WHERE o_totalprice >= 100000.0
""")
def delta_compact_log_read(spark, sf_dir):
    # Minor log compaction (table.py compact_log): v0 writes orders,
    # v1 appends a slice the v2 DELETE fully removes again, v3 deletes
    # the cheap orders; compact_log folds [0, 3] into one
    # <0>.<3>.compacted.json and a FRESH snapshot replays through the
    # substituted segment. The read must equal the oracle's direct
    # filter — net removes held, the appended-then-deleted file's
    # add/remove pair netted away, raw deltas untouched (interior time
    # travel pinned in tests/test_log_compaction.py). The registry
    # gate makes compaction replay driver-verified every round, not
    # just pytest-covered.
    from ..table import TableMaintenance

    def build(d):
        od = load(spark, sf_dir, "orders")
        t = DeltaTable.for_path(spark, d)
        t.write(od, configuration={"delta.checkpointInterval": "1000"})
        extra = (od.where("o_orderkey <= 64")
                 .withColumn("o_orderkey",
                             F.col("o_orderkey") + F.lit(900000000)))
        t.write(extra, mode="append")
        t.delete(Col("o_orderkey") >= Lit(900000000))
        t.delete(Col("o_totalprice") < Lit(100000.0))
        res = TableMaintenance(t).compact_log()
        assert res["actionsOut"] <= res["actionsIn"]
    d = _built(sf_dir, "orders_compact_log", build)
    t = DeltaTable.for_path(spark, d)
    seg = t.snapshot().segment
    assert any(".compacted.json" in p for p in seg.deltas), seg.deltas
    return t.to_df().select("o_orderkey", "o_custkey",
                            F.round("o_totalprice", 2).alias("totalprice"))
