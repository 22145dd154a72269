"""Column mapping (name mode): RENAME/DROP/ADD COLUMN without data
rewrite. The protocol rule under test: data files and partitionValues
live in the PHYSICAL name domain (stable per field id); everything the
user touches is logical; the boundary translations live in exactly
three seams (writer.stage_and_collect, Snapshot.to_df, DeltaScan)."""

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import Row
from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.errors import DeltaError
from connectors_spark.expressions import Col, Lit


def _mk(spark, path, n=100):
    t = DeltaTable.for_path(spark, path)
    t.write(spark.createDataFrame(
        [Row(k=i, status="A" if i % 2 else "B", v=i * 10)
         for i in range(n)]), partition_by=["status"])
    return t


def test_enable_rename_read_write_cycle(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "cm"))
    files_v0 = {f.path for f in t.snapshot().all_files()}
    t.enable_column_mapping()
    assert t.to_df().count() == 100            # old files stay readable
    t.rename_column("v", "value")
    # metadata-only: exact same physical files
    assert {f.path for f in t.snapshot().all_files()} == files_v0
    assert t.to_df().agg(F.sum("value")).first()[0] == \
        sum(i * 10 for i in range(100))
    # renaming a PARTITION column is also metadata-only
    t.rename_column("status", "state")
    assert {f.path for f in t.snapshot().all_files()} == files_v0
    assert sorted(r.state for r in
                  t.to_df().select("state").distinct().collect()) == \
        ["A", "B"]
    # appends after the rename write PHYSICAL names; reads merge both
    # generations seamlessly
    t.write(spark.createDataFrame(
        [Row(k=100 + i, state="A", value=-5) for i in range(3)]),
        mode="append")
    assert t.to_df().count() == 103
    assert t.to_df().filter("value = -5").count() == 3
    # time travel still shows the OLD logical names at old versions
    assert t._resolve(0, None).to_df().columns == ["k", "status", "v"]


def test_scan_pruning_in_physical_domain(spark, tmp_path):
    """Partition pruning, stats skipping and bloom probes must all
    translate predicate names to the physical domain after renames."""
    from connectors_spark.bloom import BLOOM_COLUMNS_KEY
    t = DeltaTable.for_path(spark, str(tmp_path / "cmscan"))
    t.write(spark.range(2000)
            .select(F.col("id").alias("k"),
                    (F.col("id") % 2).cast("string").alias("status"),
                    (F.col("id") * 10).alias("v"))
            .repartitionByRange(8, "k"),
            partition_by=["status"],
            configuration={BLOOM_COLUMNS_KEY: "k"})
    t.enable_column_mapping()
    t.rename_column("v", "value")
    t.rename_column("status", "state")
    t.rename_column("k", "key")
    total = len(t.snapshot().all_files())
    # partition prune on renamed partition column
    npart = len(t.scan(Col("state") == Lit("1")).collect_files())
    assert 0 < npart < total
    # stats skip on renamed data column (range-clustered by k ≍ v)
    nstats = len(t.scan(Col("value") >= Lit(19000)).collect_files())
    assert 0 < nstats < total
    # bloom probe on renamed column (tag keys are physical 'k');
    # a value outside the domain must read zero files
    assert t.scan(Col("key") == Lit(10 ** 9)).collect_files() == []
    got = t.scan(Col("key") == Lit(7)).to_df().collect()
    assert [(r.key, r.value) for r in got] == [(7, 70)]


def test_dml_and_optimize_on_mapped_table(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "cmdml"))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    t.update({"value": "value + 1"}, Col("value") >= Lit(900))
    assert t.to_df().filter("value % 10 = 1").count() == 10
    t.delete(Col("value") < Lit(100))
    assert t.to_df().count() == 90
    from connectors_spark.table import TableMaintenance
    res = TableMaintenance(t).optimize(target_file_size=1 << 20)
    assert t.to_df().count() == 90
    # Z-order on a renamed column resolves through the logical schema
    TableMaintenance(t).optimize(target_file_size=1 << 20,
                                 zorder_by=["value"])
    assert t.to_df().agg(F.sum("k")).first()[0] == sum(
        i for i in range(100) if i * 10 >= 100)


def test_drop_add_and_id_stability(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "cmdrop"))
    t.enable_column_mapping()
    t.drop_column("v")
    assert t.to_df().columns == ["k", "status"]
    # files untouched: the data is still there for time travel
    assert "v" in t._resolve(0, None).to_df().columns
    # re-adding the same logical name gets a FRESH id/physical name:
    # old values must NOT resurrect
    t.add_column("v", "bigint")
    assert t.to_df().filter("v is not null").count() == 0
    # new writes fill it
    t.write(spark.createDataFrame([Row(k=200, status="A", v=1)]),
            mode="append")
    assert t.to_df().filter("v = 1").count() == 1
    with pytest.raises(DeltaError, match="partition column"):
        t.drop_column("status")
    with pytest.raises(DeltaError, match="no such column"):
        t.rename_column("gone", "x")
    with pytest.raises(DeltaError, match="already exists"):
        t.rename_column("k", "status")


def test_mapping_guards(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "cmguard"))
    # DDL before enabling the mapping is refused
    with pytest.raises(DeltaError, match="enable_column_mapping"):
        t.rename_column("v", "x")
    t.enable_column_mapping()
    # write-time schema evolution must go through the DDL methods
    with pytest.raises(DeltaError, match="column mapping"):
        t.write(spark.createDataFrame(
            [Row(k=1, status="A", v=1, extra=2)]), mode="append")
    # constraints referencing a column pin its name
    t.add_constraint("v_pos", "v >= 0")
    with pytest.raises(DeltaError, match="constraint"):
        t.rename_column("v", "value")
    t.drop_constraint("v_pos")
    t.rename_column("v", "value")



def test_cdf_on_mapped_table_spans_renames(spark, tmp_path):
    """Change feed × column mapping: CDC files live in the physical
    domain like data files; the reader aliases back to the CURRENT
    logical names, so a feed spanning a rename surfaces every change
    under the new name with the right values and change types."""
    t = DeltaTable.for_path(spark, str(tmp_path / "cmcdf"))
    t.write(spark.createDataFrame(
        [Row(k=i, v=i * 10) for i in range(10)]),
        configuration={"delta.enableChangeDataFeed": "true"})
    t.enable_column_mapping()
    t.update({"v": "v + 1"}, Col("k") == Lit(3))       # pre-rename DML
    t.rename_column("v", "value")
    t.update({"value": "value + 1"}, Col("k") == Lit(4))
    t.delete(Col("k") == Lit(5), deletion_vectors=True)
    ch = t.table_changes(0)
    assert set(ch.columns) == {"k", "value", "_change_type",
                               "_commit_version"}
    rows = {(r.k, r.value, r._change_type) for r in ch.collect()}
    assert (3, 30, "update_preimage") in rows
    assert (3, 31, "update_postimage") in rows
    assert (4, 40, "update_preimage") in rows
    assert (4, 41, "update_postimage") in rows
    assert (5, 50, "delete") in rows
    assert sum(1 for r in rows if r[2] == "insert") == 10
    # CDF enabled AFTER mapping also works
    t2 = DeltaTable.for_path(spark, str(tmp_path / "cmcdf2"))
    t2.write(spark.createDataFrame([Row(k=1, v=10)]))
    t2.enable_column_mapping()
    t2.rename_column("v", "w")
    t2.set_properties({"delta.enableChangeDataFeed": "true"})
    t2.update({"w": "99"}, Col("k") == Lit(1))
    rows2 = {(r.k, r.w, r._change_type)
             for r in t2.table_changes(0).collect()}
    assert (1, 10, "update_preimage") in rows2
    assert (1, 99, "update_postimage") in rows2


def test_metadata_aggregates_and_show_partitions_mapped(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "cmmeta"))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    t.rename_column("status", "state")
    row = t.metadata_aggregates(["value", "state"]).first()
    assert (row.n_rows, row.min_value, row.max_value) == (100, 0, 990)
    assert row.min_state == "A" and row.max_state == "B"
    parts = {r.state for r in t.show_partitions().collect()}
    assert parts == {"A", "B"}


def test_streaming_source_reads_mapped_table(spark, tmp_path):
    """The delta_stream source resolves columns by PHYSICAL name on
    mapped tables and emits the logical schema — a snapshot + tail
    stream over a renamed partitioned table delivers every row under
    the current logical names."""
    from pyspark.sql import functions as F

    from connectors_spark.streaming import register_stream_source
    register_stream_source(spark)

    src = str(tmp_path / "cmstream")
    t = DeltaTable.for_path(spark, src)
    t.write(spark.createDataFrame(
        [Row(k=i, grp="A" if i % 2 else "B", v=i * 10)
         for i in range(10)]), partition_by=["grp"])
    t.enable_column_mapping()
    t.rename_column("v", "value")
    t.rename_column("grp", "bucket")
    t.write(spark.createDataFrame(
        [Row(k=10, bucket="A", value=-1)]), mode="append")
    # default snapshot-first mode: the initial snapshot replays the
    # CURRENT state, so the historical enable/rename metadata commits
    # don't trip ST3 validation (full-history startingVersion=0 still
    # correctly errors on them, as delta-spark does)
    q = (spark.readStream.format("delta_stream")
         .option("path", src).load()
         .writeStream.format("memory").queryName("t_cm_stream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from t_cm_stream")
    assert {"k", "bucket", "value"} <= set(got.columns)
    rows = {(r.k, r.bucket, r.value) for r in got.collect()}
    assert (10, "A", -1) in rows
    assert (3, "A", 30) in rows and (2, "B", 20) in rows
    assert len(rows) == 11


def test_cdf_stream_on_mapped_table(spark, tmp_path):
    """readChangeFeed=true over a column-mapped table: physical CDC
    files and synthesized inserts both surface under the CURRENT
    logical names through the stream."""
    from connectors_spark.streaming import register_stream_source
    register_stream_source(spark)

    src = str(tmp_path / "cmcdfs")
    t = DeltaTable.for_path(spark, src)
    t.write(spark.createDataFrame([Row(k=i, v=i * 10) for i in range(5)]),
            configuration={"delta.enableChangeDataFeed": "true"})
    t.enable_column_mapping()
    t.rename_column("v", "value")
    q = (spark.readStream.format("delta_stream")
         .option("path", src).option("readChangeFeed", "true").load()
         .writeStream.format("memory").queryName("t_cm_cdfs")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    base = {(r.k, r.value, r._change_type)
            for r in spark.sql("select * from t_cm_cdfs").collect()}
    assert base == {(i, i * 10, "insert") for i in range(5)}
    # a post-rename DML lands as physical CDC files; a second stream
    # from that version picks up pre/post images under the new
    # logical name (fresh checkpoint — the memory sink can't recover)
    v = t.update({"value": "value + 1"}, Col("k") == Lit(2))
    q2 = (spark.readStream.format("delta_stream")
          .option("path", src).option("readChangeFeed", "true")
          .option("startingVersion", str(v)).load()
          .writeStream.format("memory").queryName("t_cm_cdfs2")
          .option("checkpointLocation", str(tmp_path / "ck2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    rows = {(r.k, r.value, r._change_type)
            for r in spark.sql("select * from t_cm_cdfs2").collect()}
    assert (2, 20, "update_preimage") in rows
    assert (2, 21, "update_postimage") in rows


def test_rename_guards_generated_column_sources(spark, tmp_path):
    """Renaming (or dropping) a column that a GENERATED ALWAYS AS
    expression reads would silently break every later write's
    compute/validate step — refused, like constraint references.
    Renaming the generated column ITSELF is fine (the expression
    doesn't mention its own name), and dropping a generated column
    removes the rule with it."""
    import datetime as dt

    t = DeltaTable.for_path(spark, str(tmp_path / "cmgen"))
    t.write(spark.createDataFrame(
        [Row(k=i, d=dt.date(2000 + i % 3, 1, 1)) for i in range(6)]),
        generated_columns={"y": ("int", "year(d)")})
    t.enable_column_mapping()
    with pytest.raises(DeltaError, match="generated"):
        t.rename_column("d", "when")
    with pytest.raises(DeltaError, match="generated"):
        t.drop_column("d")
    t.rename_column("y", "yr")                 # the generated col itself
    t.write(spark.createDataFrame(
        [Row(k=10, d=dt.date(2024, 5, 5))]), mode="append")
    assert t.to_df().filter("k = 10").first().yr == 2024
    t.drop_column("yr")                        # rule removed with it
    t.rename_column("d", "when")               # now legal
    assert t.to_df().columns == ["k", "when"]


@pytest.mark.pin
def test_constraint_references_match_whole_words(spark, tmp_path):
    """A CHECK constraint references a column only by its whole name:
    ``amount > 0`` blocks renaming ``amount`` but not ``a``."""
    t = DeltaTable.for_path(spark, str(tmp_path / "cmwords"))
    t.write(spark.createDataFrame([Row(a=1, amount=5)]))
    t.add_constraint("pos", "amount > 0")
    t.enable_column_mapping()
    t.rename_column("a", "b")
    with pytest.raises(DeltaError, match="constraint"):
        t.rename_column("amount", "total")
    with pytest.raises(DeltaError, match="constraint"):
        t.drop_column("amount")
    t.drop_column("b")
    assert t.to_df().columns == ["amount"]


def test_add_column_physical_name_collision(spark, tmp_path):
    """The upgrade rule keeps existing columns' physical names equal to
    their logical names, so a pre-existing column literally named
    col-<n> can collide with add_column's generated name — which would
    put two fields on one physical name and corrupt reads. The
    generated name must dodge taken physical names (ADVICE r9 #4)."""
    t = DeltaTable.for_path(spark, str(tmp_path / "cmcol"))
    df = spark.createDataFrame([Row(a=1), Row(a=2)]) \
        .withColumnRenamed("a", "a").withColumn("col-3", F.col("a") * 10)
    t.write(df)
    t.enable_column_mapping()
    t.add_column("b", "int")          # next_id=3 → would collide
    meta = t.snapshot().metadata
    phys = [(f.metadata or {}).get("delta.columnMapping.physicalName")
            for f in meta.schema.fields]
    assert len(phys) == len(set(phys)), f"physical name collision: {phys}"
    out = {r["a"]: (r["col-3"], r["b"]) for r in t.to_df().collect()}
    assert out == {1: (10, None), 2: (20, None)}
    # and the new column round-trips writes
    t.write(spark.createDataFrame([(3, 30, 7)],
                                  "a long, `col-3` long, b int"),
            mode="append")
    assert t.to_df().filter("a = 3").first().b == 7
