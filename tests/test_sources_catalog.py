"""Tests: CONVERT TO DELTA adoption, JDBC-import transform pipeline,
SQL catalog surface."""

from __future__ import annotations

import os

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.catalog import DeltaCatalog, read_delta
from connectors_spark.errors import DeltaError
from connectors_spark.sources import apply_transforms, convert_to_delta


def test_convert_flat_parquet_dir(spark, tmp_path, sf_dir):
    d = str(tmp_path / "flat")
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    src.write.parquet(d)
    # drop Spark's _SUCCESS etc. is handled by the file filter
    v = convert_to_delta(spark, d)
    assert v == 0
    t = DeltaTable.for_path(spark, d)
    assert t.to_df().count() == src.count()
    assert {f.name for f in t.snapshot().metadata.schema.fields} == \
        set(src.columns)
    # adopted files were not rewritten
    assert len(t.snapshot()._files_rows) >= 1


def test_convert_hive_partitioned(spark, tmp_path, sf_dir):
    d = str(tmp_path / "hive")
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    src.write.partitionBy("l_returnflag").parquet(d)
    convert_to_delta(spark, d, partition_by=["l_returnflag"])
    t = DeltaTable.for_path(spark, d)
    assert t.to_df().count() == src.count()
    # partition pruning on the adopted table
    from connectors_spark.expressions import Col, Lit
    scan = t.scan(Col("l_returnflag") == Lit("R"))
    n_r = src.filter(F.col("l_returnflag") == "R").count()
    assert scan.to_df().count() == n_r
    n_all_files = len(t.snapshot()._files_rows)
    n_r_files = scan.files().count()
    assert n_r_files < n_all_files   # fewer files after pruning


def test_convert_refuses_existing_delta(spark, tmp_path, sf_dir):
    d = str(tmp_path / "tbl")
    t = DeltaTable.for_path(spark, d)
    t.write(spark.read.parquet(f"{sf_dir}/region.parquet"))
    with pytest.raises(DeltaError):
        convert_to_delta(spark, d)


def test_jdbc_transforms(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    out = apply_transforms(df, [
        lambda d: d.withColumn("r_name", F.lower("r_name")),
        lambda d: d.filter(F.col("r_regionkey") < 3),
    ])
    rows = out.collect()
    assert len(rows) == 3 and all(r.r_name == r.r_name.lower()
                                  for r in rows)


def _derby_url(tmp_path):
    """Embedded Derby (ships in pyspark/jars) — a real in-process JDBC
    endpoint, so S9 (JDBCImport.scala:76-105) is testable end-to-end."""
    return f"jdbc:derby:{tmp_path}/derbydb;create=true"


DERBY_PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


def test_jdbc_parallel_read_roundtrip(spark, tmp_path, sf_dir):
    from connectors_spark.sources.jdbc_import import read_jdbc_in_parallel

    spark._jvm.java.lang.System.setProperty(
        "derby.system.home", str(tmp_path))
    url = _derby_url(tmp_path)
    src = spark.read.parquet(f"{sf_dir}/nation.parquet") \
        .select("n_nationkey", "n_name", "n_regionkey")
    src.write.jdbc(url, "nation_src", properties=DERBY_PROPS)

    out = read_jdbc_in_parallel(spark, url, "nation_src",
                                split_by="n_nationkey", num_chunks=4,
                                properties=DERBY_PROPS)
    # the range split actually produced 4 JDBC partitions
    assert out.rdd.getNumPartitions() == 4
    got = {(r.N_NATIONKEY if hasattr(r, "N_NATIONKEY") else r.n_nationkey)
           for r in out.collect()}
    assert got == {r.n_nationkey for r in src.collect()}


def test_jdbc_import_to_delta_e2e(spark, tmp_path, sf_dir):
    from connectors_spark.sources.jdbc_import import import_to_delta

    spark._jvm.java.lang.System.setProperty(
        "derby.system.home", str(tmp_path))
    url = _derby_url(tmp_path)
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    src.write.jdbc(url, "region_src", properties=DERBY_PROPS)

    target = str(tmp_path / "region_delta")
    v = import_to_delta(
        spark, url, "region_src", split_by="r_regionkey",
        target_path=target, num_chunks=2,
        transforms=[lambda d: d.toDF(*[c.lower() for c in d.columns]),
                    lambda d: d.withColumn("r_name", F.lower("r_name"))],
        properties=DERBY_PROPS)
    assert v == 0
    t = DeltaTable.for_path(spark, target)
    rows = t.to_df().collect()
    assert len(rows) == src.count()
    assert all(r.r_name == r.r_name.lower() for r in rows)


def test_catalog_sql_and_time_travel(spark, tmp_path, sf_dir):
    d = str(tmp_path / "cat")
    t = DeltaTable.for_path(spark, d)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    t.write(nation.filter(F.col("n_nationkey") < 10))
    t.write(nation.filter(F.col("n_nationkey") >= 10), mode="append")

    cat = DeltaCatalog(spark)
    cat.register("nation_v0", d, version=0)
    cat.register("nation_all", d)
    assert cat.sql("select count(*) c from nation_v0").first().c == 10
    assert cat.sql("select count(*) c from nation_all").first().c == 25
    joined = cat.sql("""
        select a.n_nationkey from nation_all a
        join nation_v0 b using (n_nationkey)""").count()
    assert joined == 10

    assert read_delta(spark, d, version=0).count() == 10
    cat.drop("nation_v0")
    cat.drop("nation_all")
