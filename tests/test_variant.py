"""VARIANT data type (Delta protocol 'Variant Data Type').

Spark 4 reads/writes the parquet physical form (binary metadata/value
pair) natively; the engine's job is the protocol gate — reader 3 /
writer 7 with the ``variantType`` table feature — so legacy readers
refuse the table instead of misreading the binary pair, plus stats
handling (numRecords without a pyarrow footer read; this container's
pyarrow predates the Variant logical type — see writer.py).

Reference parity: none (the reference predates VARIANT); implemented
from the published Delta protocol spec section 'Variant Data Type'.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.expressions import Col, Lit
from connectors_spark.table import DeltaTable as DT, TableMaintenance


def _vdf(spark, lo, hi):
    return spark.sql(
        f"SELECT id, parse_json(concat('{{\"a\":', id, ',\"s\":\"x\"}}'))"
        f" AS v FROM range({lo}, {hi})")


def test_variant_roundtrip_and_protocol(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(_vdf(spark, 0, 30),
            configuration={"delta.protocol.autoUpgrade": "true"})
    p = t.log.snapshot().protocol
    assert p.minReaderVersion == 3 and p.minWriterVersion == 7
    assert "variantType" in (p.readerFeatures or [])
    assert "variantType" in (p.writerFeatures or [])
    got = {r["id"]: r["j"] for r in
           t.to_df().select("id", F.to_json("v").alias("j")).collect()}
    assert got == {i: f'{{"a":{i},"s":"x"}}' for i in range(30)}


def test_variant_schema_forces_feature_without_autoupgrade(spark,
                                                           tmp_path):
    # committing a schema that CONTAINS a variant column is itself
    # exercising the feature — the protocol must declare it even with
    # autoUpgrade off (same rule as DomainMetadata actions)
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(_vdf(spark, 0, 10))
    p = t.log.snapshot().protocol
    assert "variantType" in (p.writerFeatures or [])
    assert p.minReaderVersion == 3


def test_variant_feature_prop_enablement(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(5).select(F.col("id")),
            configuration={"delta.feature.variantType": "supported"})
    p = t.log.snapshot().protocol
    assert "variantType" in (p.writerFeatures or [])


def test_variant_stats_and_row_tracking(spark, tmp_path):
    # numRecords comes from the Spark-side count fallback (pyarrow
    # cannot open variant footers here) — so row tracking composes
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(_vdf(spark, 0, 25),
            configuration={"delta.enableRowTracking": "true"})
    for f in t.log.snapshot().all_files():
        assert f.stats is not None
        assert json.loads(f.stats)["numRecords"] > 0
        assert f.baseRowId is not None
    rids = sorted(r["_row_id"] for r in
                  t.to_df(with_row_ids=True).collect())
    assert rids == list(range(25))


def test_variant_dml_and_optimize(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(_vdf(spark, 0, 20).repartition(4))
    t.write(_vdf(spark, 20, 30).repartition(2), mode="append")
    t.delete(Col("id") < Lit(5))
    TableMaintenance(t).optimize(min_files_per_group=2)
    got = {r["id"]: r["a"] for r in
           t.to_df().select(
               "id", F.variant_get("v", "$.a", "long").alias("a"))
           .collect()}
    assert got == {i: i for i in range(5, 30)}


def test_variant_zero_row_file_gets_zero_stats(spark, tmp_path):
    """ADVICE r12 (low): the variant numRecords fallback derives stats
    from a groupBy over READ rows — a published zero-row parquet gets
    no count row. Every variant-path AddFile must be seeded with
    numRecords=0 first, or committing it on a row-tracked table fails
    the 'row tracking requires numRecords stats' gate."""
    import json as _json
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(_vdf(spark, 0, 10),
            configuration={"delta.enableRowTracking": "true",
                           "delta.protocol.autoUpgrade": "true"})
    empty = _vdf(spark, 0, 10).where("id < 0").coalesce(1)
    t.write(empty, mode="append")          # must not raise
    snap = t.log.snapshot()
    stats = [_json.loads(r["stats"])["numRecords"]
             for r in snap._files_rows]
    assert 0 in stats                      # the empty file, seeded
    assert sum(stats) == 10
    assert t.to_df().count() == 10
