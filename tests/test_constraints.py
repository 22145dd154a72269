"""CHECK constraints: stored in table configuration
(delta.constraints.<name>), validated on every data-adding commit with
SQL CHECK semantics (TRUE or NULL passes; only FALSE violates)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from connectors_spark.errors import DeltaError
from connectors_spark.expressions import Col, Lit
from connectors_spark.table import DeltaTable

CONF = {"delta.constraints.pos": "v >= 0"}


def test_create_with_constraint_rejects_bad_write(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "c1"))
    t.write(spark.createDataFrame([Row(k=1, v=5)]), configuration=CONF)
    with pytest.raises(DeltaError, match="CHECK constraint pos"):
        t.write(spark.createDataFrame([Row(k=2, v=-1)]))
    # nothing committed, table unchanged
    assert t.log.snapshot().version == 0
    assert t.to_df().count() == 1
    t.write(spark.createDataFrame([Row(k=3, v=0)]))
    assert t.to_df().count() == 2


def test_null_passes_check(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "c2"))
    t.write(spark.createDataFrame([Row(k=1, v=5)]), configuration=CONF)
    t.write(spark.createDataFrame([Row(k=2, v=None)],
                                  "k: long, v: long"))
    assert t.to_df().count() == 2


def test_update_and_merge_enforce_constraint(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "c3"))
    t.write(spark.createDataFrame([Row(k=1, v=5), Row(k=2, v=7)]),
            configuration=CONF)
    with pytest.raises(DeltaError, match="CHECK constraint pos"):
        t.update({"v": "-3"}, Col("k") == Lit(1))
    with pytest.raises(DeltaError, match="CHECK constraint pos"):
        t.merge(spark.createDataFrame([Row(k=9, v=-9)]), "t.k = s.k")
    assert t.log.snapshot().version == 0
    t.update({"v": "3"}, Col("k") == Lit(1))
    assert {r["v"] for r in t.to_df().collect()} == {3, 7}


def test_add_constraint_validates_existing_data(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "c4"))
    t.write(spark.createDataFrame([Row(k=1, v=-5)]))
    with pytest.raises(DeltaError, match="CHECK constraint pos"):
        t.add_constraint("pos", "v >= 0")
    t.add_constraint("k_pos", "k > 0")
    with pytest.raises(DeltaError, match="already exists"):
        t.add_constraint("k_pos", "k > 0")
    with pytest.raises(DeltaError, match="CHECK constraint k_pos"):
        t.write(spark.createDataFrame([Row(k=0, v=1)]))
    t.drop_constraint("k_pos")
    t.write(spark.createDataFrame([Row(k=0, v=1)]))
    assert t.to_df().count() == 2


def test_not_null_invariant_enforced(spark, tmp_path):
    """Writer-2 invariants, part 1: a nullable=false field rejects
    NULLs on append, UPDATE and MERGE — Protocol(1,2) already claims
    this feature, so not enforcing it was a spec hole."""
    import pytest
    from pyspark.sql import types as T

    from connectors_spark import DeltaTable
    from connectors_spark.errors import DeltaError
    from connectors_spark.expressions import Col, Lit

    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True)])
    t = DeltaTable.for_path(spark, str(tmp_path / "nn"))
    t.write(spark.createDataFrame([(1, "a"), (2, None)], schema))
    bad = spark.createDataFrame([(None, "x")], T.StructType([
        T.StructField("k", T.LongType(), True),
        T.StructField("v", T.StringType(), True)]))
    with pytest.raises(DeltaError, match="NOT NULL"):
        t.write(bad, mode="append")
    with pytest.raises(DeltaError, match="NOT NULL"):
        t.update({"k": "NULL"}, Col("v") == Lit("a"))
    with pytest.raises(DeltaError, match="NOT NULL"):
        t.merge(bad, "t.v = s.v")
    # valid rows still flow
    t.write(spark.createDataFrame([(3, None)], schema), mode="append")
    assert t.to_df().count() == 3


def test_expression_invariant_metadata_enforced(spark, tmp_path):
    """Writer-2 invariants, part 2: field metadata delta.invariants
    (the legacy pre-CHECK encoding foreign writers may have left on
    the table) is enforced with CHECK's three-valued rule."""
    import dataclasses
    import json as _json

    import pytest
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from connectors_spark import DeltaTable
    from connectors_spark.errors import DeltaError

    t = DeltaTable.for_path(spark, str(tmp_path / "inv"))
    t.write(spark.createDataFrame([Row(k=5, v="a")]))
    meta = t.snapshot().metadata
    inv = _json.dumps({"expression": {"expression": "k > 0"}})
    fields = [T.StructField(f.name, f.dataType, f.nullable,
                            {**(f.metadata or {}), "delta.invariants": inv}
                            if f.name == "k" else (f.metadata or {}))
              for f in meta.schema.fields]
    txn = t.log.start_transaction()
    txn.update_metadata(dataclasses.replace(
        meta, schemaString=_json.dumps(
            T.StructType(fields).jsonValue())))
    txn.commit([], "ALTER TABLE", {})
    with pytest.raises(DeltaError, match="invariant"):
        t.write(spark.createDataFrame([Row(k=-1, v="x")]),
                mode="append")
    # NULL passes (three-valued), positive passes
    t.write(spark.createDataFrame(
        [(None, "y")], "k long, v string"), mode="append")
    t.write(spark.createDataFrame([Row(k=9, v="z")]), mode="append")
    assert t.to_df().count() == 3


def test_set_nullable_alter(spark, tmp_path):
    """DROP NOT NULL unlocks null appends; SET NOT NULL validates the
    existing rows first and then enforces."""
    import pytest
    from pyspark.sql import functions as F

    from connectors_spark import DeltaTable
    from connectors_spark.errors import DeltaError

    t = DeltaTable.for_path(spark, str(tmp_path / "alt"))
    # computed column → captured non-nullable at create
    t.write(spark.range(5).select("id",
                                  F.col("id").cast("string").alias("v")))
    assert not [f for f in t.snapshot().metadata.schema.fields
                if f.name == "v" and f.nullable]
    with pytest.raises(DeltaError, match="NOT NULL"):
        t.write(spark.createDataFrame([(9, None)], "id long, v string"),
                mode="append")
    t.set_nullable("v", True)                 # DROP NOT NULL
    t.write(spark.createDataFrame([(9, None)], "id long, v string"),
            mode="append")
    with pytest.raises(DeltaError, match="existing rows"):
        t.set_nullable("v", False)            # nulls present now
    from connectors_spark.expressions import Col, Lit
    t.delete(Col("id") == Lit(9))
    t.set_nullable("v", False)                # clean again → tightens
    with pytest.raises(DeltaError, match="NOT NULL"):
        t.write(spark.createDataFrame([(8, None)], "id long, v string"),
                mode="append")
    with pytest.raises(DeltaError, match="no such column"):
        t.set_nullable("zz", True)


def _commit_as(writer, t, df):
    """Commit ``df`` (keys k >= 100, new to the table) through one of
    the data-adding writers."""
    from connectors_spark.streaming.sink import DeltaStreamSink
    if writer == "append":
        t.write(df)
    elif writer == "sink":
        DeltaStreamSink(t.path, app_id="pin").write_batch(
            df, t.log.update().version)
    elif writer == "replace_where":
        t.write(df, mode="overwrite", replace_where=Col("k") >= Lit(100))
    else:
        t.merge(df, "t.k = s.k")


@pytest.mark.pin
@pytest.mark.parametrize("writer", ["append", "sink", "replace_where",
                                    "merge_insert"])
def test_writer_contract(spark, tmp_path, writer):
    """Every writer that adds rows keeps the same contract: CHECK
    constraints hold, identity values continue from the high-water mark
    and cannot be supplied, and (for appends) a nested field set that
    differs from the table's raises instead of being dropped."""
    def refused(t, df, match):
        v = t.log.update().version
        with pytest.raises(DeltaError, match=match):
            _commit_as(writer, t, df)
        assert t.log.update().version == v

    t = DeltaTable.for_path(spark, str(tmp_path / "chk"))
    t.write(spark.createDataFrame([Row(k=1, x=1)]))
    t.add_constraint("pos", "x > 0")
    refused(t, spark.createDataFrame([Row(k=100, x=-7)]),
            "CHECK constraint pos")
    assert [r.x for r in t.to_df().collect()] == [1]

    t = DeltaTable.for_path(spark, str(tmp_path / "ident"))
    t.write(spark.createDataFrame([Row(k=1)]),
            identity_columns={"id": ("bigint", 1, 1)})
    _commit_as(writer, t, spark.createDataFrame([Row(k=100), Row(k=101)]))
    assert sorted(r.id for r in t.to_df().collect()) == [1, 2, 3]
    refused(t, spark.createDataFrame([Row(k=102, id=50)]), "IDENTITY")

    if writer in ("append", "sink"):
        t = DeltaTable.for_path(spark, str(tmp_path / "nested"))
        t.write(spark.createDataFrame([Row(k=1, s=Row(a=1))]))
        refused(t, spark.createDataFrame([Row(k=100, s=Row(a=2, b=3))]),
                "schema mismatch")
