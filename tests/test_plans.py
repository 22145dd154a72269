"""Physical-plan shape assertions: the properties that make the suite
scale — filter/projection pushdown into Parquet, broadcast joins for
dimensions, no nested-loop/cartesian joins on the hot paths — pinned as
regression tests via .explain("formatted") output.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from connectors_spark.queries import REGISTRY


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def plans(spark, sf_dir):
    def get(name):
        return plan_of(REGISTRY[name].fn(spark, sf_dir))
    return get


def test_q1_filter_and_projection_pushdown(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # Only the 7 needed lineitem columns reach the scan, not all 11.
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_q6_all_predicates_pushed(plans):
    p = plans("q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount" in p
    assert "LessThan(l_quantity" in p


def test_q3_broadcasts_dimensions(plans):
    p = plans("q3_shipping_priority")
    assert "BroadcastHashJoin" in p            # customer side
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q5_broadcast_chain_no_cartesian(plans):
    p = plans("q5_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 2   # nation/region + supplier
    assert "CartesianProduct" not in p


def test_q9_single_fact_shuffle(plans):
    p = plans("q9_product_profit")
    # part + supplier broadcast; only orders⋈lineitem may shuffle.
    assert p.count("BroadcastHashJoin") >= 2
    assert "StringContains(p_name,gear)" in p


def test_q18_aqe_broadcasts_agg(spark, sf_dir):
    # q18 carries NO broadcast hint on the fact-derived HAVING aggregate
    # (it grows with SF — forcing it would OOM at 100×); AQE must still
    # convert the join to a broadcast at bench scale from the measured
    # post-agg size. The final adaptive plan is only known after
    # execution, so run the query, then inspect the executed plan.
    df = REGISTRY["q18_large_volume_customer"].fn(spark, sf_dir)
    df.collect()
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_range_join_is_hash_join(plans):
    p = plans("ev_range_error_context")
    # The binned rewrite must produce an equi-join, never a nested loop
    # over the interval predicate.
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_asof_join_single_window(plans):
    p = plans("ev_asof_click_attribution")
    assert "Window" in p
    assert "Join" not in p                     # no join at all: union+window


def test_dedup_jaccard_no_cartesian(plans):
    p = plans("doc_ngram_jaccard_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def _loaded_pruning_table(spark, path):
    # 8 range-partitioned files per partition value, with a bloom
    # column; the returned Snapshot holds its inventory
    from connectors_spark import DeltaTable
    from connectors_spark.bloom import BLOOM_COLUMNS_KEY
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(4000).select(F.col("id").alias("uid"),
                                     (F.col("id") % 4).alias("p"))
            .repartitionByRange(8, "uid"), partition_by=["p"],
            configuration={BLOOM_COLUMNS_KEY: "uid"})
    snap = t.snapshot()
    assert len(snap._files_rows) > 8                  # inventory loaded
    return t, snap


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted through a fresh
    statusTracker job group."""
    import uuid
    sc = spark.sparkContext
    group = f"prune-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pruning job-count pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_PYTHON_EVAL_NODES = ("BatchEvalPython", "ArrowEval", "MapInPandas",
                      "FlatMapGroupsInPandas")


@pytest.mark.pin
def test_bloom_skip_plan_never_collects_inventory(spark, tmp_path):
    # Files are chosen on the driver (scan.py): a bloom predicate on a
    # Snapshot that holds its inventory launches zero Spark jobs for
    # collect_files() and scan(pred).to_df(), and the kept-files
    # relation has no Python evaluation nodes. Match eval-node names,
    # not "Python": the local relation's RDD debug name mentions
    # "applySchemaToPythonRDD", a createDataFrame artifact. The last
    # line is the positive control that the counter sees jobs.
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.scan import DeltaScan
    t, snap = _loaded_pruning_table(spark, str(tmp_path / "bp"))
    pred = Col("uid") == Lit(7)
    assert _spark_jobs(
        spark, lambda: DeltaScan(snap, pred).collect_files()) == 0
    assert _spark_jobs(spark, lambda: DeltaScan(snap, pred).to_df()) == 0
    scan = DeltaScan(snap, pred)
    assert 0 < len(scan.rows) < len(snap._files_rows)
    p = plan_of(scan.files())
    assert not any(n in p for n in _PYTHON_EVAL_NODES)
    assert _spark_jobs(
        spark, lambda: DeltaScan(snap, pred).to_df().count()) > 0


@pytest.mark.pin
def test_scan_reuses_materialized_inventory(spark, tmp_path):
    # r14: a Snapshot materializes its active-file inventory once; a scan
    # of it prunes those very rows on the driver, with zero Spark jobs
    # for partition and stats predicates (no log replay re-run), and the
    # kept-files relation is the local rows (LocalTableScan, decoded from
    # Arrow by the JVM), with no Window node and no parquet checkpoint
    # scan.
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.scan import DeltaScan
    t, snap = _loaded_pruning_table(spark, str(tmp_path / "inv"))
    assert snap._files_rows is snap._files_rows          # cached once
    cached = {id(r) for r in snap._files_rows}
    for pred in (Col("p") == Lit(1), Col("uid") >= Lit(3500)):
        assert _spark_jobs(
            spark, lambda: DeltaScan(snap, pred).collect_files()) == 0, pred
        assert _spark_jobs(
            spark, lambda: DeltaScan(snap, pred).to_df()) == 0, pred
        kept = DeltaScan(snap, pred).rows
        assert 0 < len(kept) < len(snap._files_rows)
        assert all(id(r) in cached for r in kept)
    p = plan_of(t.scan(Col("uid") == Lit(7)).files())
    assert "LocalTableScan" in p
    assert "Window" not in p and "Scan parquet" not in p


@pytest.mark.pin
def test_reads_run_no_listing_job(spark, tmp_path):
    # Reads take each file's status from the log: a 40-file table (past
    # spark.read's 32-path parallel-listing threshold) launches as many
    # Spark jobs for a count, now and at an older version, as a 4-file
    # table does. A listing job would add one with one task per file.
    from connectors_spark import DeltaTable

    def jobs(n):
        t = DeltaTable.for_path(spark, str(tmp_path / f"t{n}"))
        t.write(spark.range(0, 10 * n, 1, n))
        t.write(spark.range(1))
        assert len(t.log.snapshot_for_version(0)._files_rows) == n
        return [_spark_jobs(spark, lambda: t.to_df().count()),
                _spark_jobs(spark, lambda: t.to_df(version=0).count())]

    assert jobs(40) == jobs(4)


@pytest.mark.pin
def test_reads_of_different_file_sets_are_different_relations(spark,
                                                              tmp_path):
    # Two reads of one directory share the index's root paths; a read
    # must still not be served another file set's cached rows, nor have
    # its shuffle swapped for another version's in a sort-merge join
    # (exchange reuse matches canonically equal scans). A re-read of the
    # same files is still the same relation.
    from connectors_spark import DeltaTable
    t = DeltaTable.for_path(spark, str(tmp_path / "fs"))
    t.write(spark.range(0, 10, 1, 2))
    cached = t.to_df().cache()
    try:
        assert cached.count() == 10
        t.write(spark.range(10, 15, 1, 1))
        assert t.to_df().count() == 15
        assert t.to_df(version=0).count() == 10
    finally:
        cached.unpersist()
    new, old = t.to_df(), t.to_df(version=0)
    assert not new.sameSemantics(old) and new.sameSemantics(t.to_df())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        both = new.join(old, "id")
        assert "SortMergeJoin" in plan_of(both)
        assert both.count() == 10 and old.join(new, "id").count() == 10
        assert sorted(r.id for r in new.join(old, "id", "left_anti")
                      .collect()) == list(range(10, 15))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


@pytest.mark.pin
def test_read_of_a_file_deleted_out_of_band_names_it(spark, tmp_path):
    # The log's statuses are trusted: a data file removed behind the
    # log's back fails the read when the scan opens it, and the error
    # names the file.
    import os

    from connectors_spark import DeltaTable
    t = DeltaTable.for_path(spark, str(tmp_path / "oob"))
    t.write(spark.range(0, 30, 1, 3))
    gone = t.snapshot()._files_rows[1]["path"]
    os.remove(gone)
    with pytest.raises(Exception) as err:
        t.to_df().count()
    assert os.path.basename(gone) in str(err.value)


@pytest.mark.pin
def test_join_key_bloom_prune_plan_stays_pure(spark, tmp_path):
    # runtime join-key pruning with a 300-key list (past the 64-key
    # unrolled-probe range): the keys are collected once, then the
    # files are chosen on the driver from the loaded inventory — zero
    # Spark jobs to build the pruned scan, fewer files kept, and no
    # Python evaluation nodes in the kept-files relation
    from connectors_spark.scan import prune_by_join_keys
    t, snap = _loaded_pruning_table(spark, str(tmp_path / "jbp"))
    keys = [r.k for r in spark.range(300)
            .select((F.col("id") * 3).alias("k")).collect()]
    scan = prune_by_join_keys(
        t, "uid", spark.createDataFrame([(k,) for k in keys], "k long"))
    assert scan.snapshot is snap
    assert _spark_jobs(spark, scan.to_df) == 0
    assert 0 < len(scan.rows) < len(snap._files_rows)
    p = plan_of(scan.files())
    assert not any(n in p for n in _PYTHON_EVAL_NODES)


def test_incremental_snapshot_state_matches_full_replay(spark, tmp_path):
    # r14: DeltaLog.update seeds the new Snapshot's inventory from the
    # previous one's by applying the tail commits driver-side
    # (delta-spark's incremental InMemoryLogReplay). The seeded rows
    # must be field-identical to a cold replay of the same segment —
    # across partitioned writes, an UPDATE rewrite, a
    # DV-delete (tags) and a whole-file DELETE under row tracking.
    from pyspark.sql import functions as F

    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.log.snapshot import Snapshot
    from tests.conftest import read_table

    t = DeltaTable.for_path(spark, str(tmp_path / "inc"))
    orders = read_table(spark, "orders")
    t.write(orders, partition_by=["o_orderstatus"],
            configuration={"delta.enableRowTracking": "true",
                           "delta.protocol.autoUpgrade": "true"})
    _ = t.log.snapshot()._files_rows          # materialize v0 state
    t.update({"o_totalprice": "o_totalprice + 1"},
             Col("o_orderkey") < Lit(500))
    t.delete(Col("o_orderkey") < Lit(100), deletion_vectors=True)
    t.delete(Col("o_orderstatus") == Lit("P"))
    snap = t.log.snapshot()
    assert "_files_rows" in snap.__dict__     # the seed fired

    def key(r):
        return (r["path"], r["size"], r["version"], r["dataChange"],
                tuple(sorted((r["partitionValues"] or {}).items())),
                r["stats"], r["baseRowId"], r["defaultRowCommitVersion"],
                tuple(sorted((r["tags"] or {}).items())))

    fresh = Snapshot(spark, snap.table_path, snap.segment, snap.store)
    assert sorted(map(key, snap._files_rows)) \
        == sorted(map(key, fresh._files_rows))
    # and the seeded snapshot reads the right data
    n = t.to_df().count()
    exp = orders.where("o_orderkey >= 100 AND o_orderstatus <> 'P'") \
        .count()
    assert n == exp

    # A tail commit that changes metadata, plus a SetTransaction and a
    # new domain: the seeded log state equals a cold replay's.
    from connectors_spark.log.actions import DomainMetadata
    t.set_properties({"delta.logRetentionDuration": "interval 60 days"})
    t.write(orders.limit(5), mode="append", txn_app_id="app-1",
            txn_version=3)
    t.log.start_transaction().commit([DomainMetadata("my.domain", "{}")],
                                     operation="SET DOMAIN")
    snap = t.log.snapshot()
    assert "_log_state" in snap.__dict__      # seeded, not replayed
    cold = Snapshot(spark, snap.table_path, snap.segment, snap.store)
    assert snap.metadata.configuration["delta.logRetentionDuration"] \
        == "interval 60 days"
    assert (snap.protocol, snap.metadata, snap.set_transactions,
            snap.domain_metadata) \
        == (cold.protocol, cold.metadata, cold.set_transactions,
            cold.domain_metadata)
    assert snap.set_transactions == {"app-1": 3}
    assert snap.domain_metadata["my.domain"] == "{}"


@pytest.mark.pin
def test_post_commit_seeds_from_the_commit_in_hand(spark, tmp_path,
                                                  monkeypatch):
    # The snapshot update after a commit folds the actions the commit
    # wrote instead of reading its file back; the seeded Snapshot's
    # planes and log state equal a cold Snapshot's after an append, a
    # DELETE, a row-tracking enablement (a backfill of re-adds) and an
    # in-commit-timestamp flip (a stamped Metadata).
    import connectors_spark.table as TB
    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.log.snapshot import Snapshot

    t = DeltaTable.for_path(spark, str(tmp_path / "seed"))

    def rows(i):
        return spark.range(i * 10, i * 10 + 10).selectExpr(
            "id", "id % 2 AS p")
    t.write(rows(0), partition_by=["p"])
    for k in Snapshot.SEEDED:                 # the seed carries these
        getattr(t.log.snapshot(), k)
    reads = []
    orig = TB.read_commit

    def spy(*a, **k):
        reads.append(a[1])
        return orig(*a, **k)
    monkeypatch.setattr(TB, "read_commit", spy)
    ops = [lambda: t.write(rows(1), mode="append"),
           lambda: t.delete(Col("id") == Lit(3)),
           lambda: t.set_properties({"delta.enableRowTracking": "true"}),
           lambda: t.set_properties(
               {"delta.enableInCommitTimestamps": "true"})]
    for op in ops:
        op()
        snap = t.log.snapshot()
        assert reads == [], reads
        assert all(k in snap.__dict__ for k in Snapshot.SEEDED)
        cold = Snapshot(spark, snap.table_path, snap.segment, snap.store)
        for plane in ("_files_rows", "_tombstone_rows"):
            assert sorted(getattr(snap, plane)) \
                == sorted(getattr(cold, plane)), plane
        assert snap._log_state == cold._log_state
    conf = t.log.snapshot().metadata.configuration
    assert conf["delta.inCommitTimestampEnablementVersion"] == "4"
    assert all(r["baseRowId"] is not None
               for r in t.log.snapshot()._files_rows)


def test_fuzzy_edit_pairs_no_cartesian(plans):
    # candidates come from the q-gram inverted-index equi-join + the
    # bounded short-string band join — never an all-pairs product
    p = plans("doc_fuzzy_edit_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dedup_suite_holds_no_caches(spark, sf_dir):
    # The dedup ops are fully lazy: running them must not leave
    # anything pinned in executor storage (earlier rounds leaked
    # persisted shingle relations across a long-lived session).
    # Compare against a pre-run baseline rather than zero: other
    # suites' localCheckpoint RDDs unpersist via the ContextCleaner on
    # GC, so an absolute count races cleaner timing in a full run.
    import gc
    import time as _time

    def persistent():
        gc.collect()
        _time.sleep(0.5)   # let the ContextCleaner drain
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    before = persistent()
    for name in ("doc_ngram_jaccard_pairs", "doc_minhash_lsh_pairs"):
        REGISTRY[name].fn(spark, sf_dir).count()
    assert persistent() <= before


def test_q1_partial_aggregation(plans):
    # Map-side combine: the shuffle must carry pre-aggregated partials
    # (6 groups/partition), never raw lineitem rows.
    p = plans("q1_pricing_summary")
    assert "partial_sum" in p


def test_q1_wholestage_codegen(spark, sf_dir):
    # The scan→filter→partial-agg pipeline compiles into whole-stage
    # codegen (adaptive plans only annotate codegen in codegen mode).
    import contextlib, io
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    out = buf.getvalue()
    assert "WholeStageCodegen" in out
    assert "Found" in out  # "Found N WholeStageCodegen subtrees."


def test_funnel_broadcasts_stage_anchors(plans):
    p = plans("ev_funnel_view_click_purchase")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_curate_corpus_no_cartesian(plans):
    p = plans("doc_curate_corpus")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_decontaminate_broadcasts_eval_side(plans):
    # the eval/benchmark gram relation must broadcast: the train corpus
    # is scanned once with a map-side hash join, no shuffle of it
    p = plans("doc_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_pack_sequences_no_global_window(plans):
    # the prefix sum must run block-partitioned: the only
    # SinglePartition exchange may carry the tiny per-block totals
    # (_blk, _bt), never the doc rows; the doc-row window hash
    # partitions by _blk
    p = plans("doc_pack_sequences")
    blocks = p.split("\n\n")
    single = [b for b in blocks
              if b.startswith("(") and "SinglePartition" in b]
    assert single, "expected the block-offset window's tiny exchange"
    for b in single:
        assert "doc_id" not in b, f"doc rows funneled to one task:\n{b}"
    assert "hashpartitioning(_blk" in p


def test_asof_global_no_stream_through_one_task(plans):
    # the bucketed un-keyed as-of: any SinglePartition exchange may
    # carry only the one-row-per-bucket carry relation, never the
    # event stream; the stream windows hash-partition by bucket
    p = plans("ev_asof_global_locf")
    blocks = p.split("\n\n")
    single = [b for b in blocks
              if b.startswith("(") and "SinglePartition" in b]
    assert single, "expected the bucket-carry window's tiny exchange"
    for b in single:
        assert "event_id" not in b, f"event rows funneled to one task:\n{b}"
    assert "hashpartitioning(_bk" in p


def test_pq_encode_is_single_map_pass(spark, sf_dir):
    # encoding closes over all m codebooks: one Arrow-batched map pass,
    # zero exchanges, zero joins — the full-corpus PQ pass at 100 TB is
    # scan-bound by construction
    from connectors_spark.ops.clustering import pq_encode, pq_fit
    from tests.conftest import read_table
    emb = read_table(spark, "embeddings", sf_dir)
    enc = pq_encode(emb, pq_fit(emb, m=4, k=8, iters=1))
    p = plan_of(enc)
    assert "Exchange" not in p
    assert "Join" not in p
    assert "ArrowEvalPython" in p


def test_pmi_broadcasts_unigram_sides(plans):
    # The unigram-probability attach joins must be broadcast hash
    # joins; no cartesian product anywhere. The ONLY nested-loop joins
    # allowed are the two scalar-normalizer attaches (r14: the corpus
    # totals moved from a single-task global window to a one-row
    # aggregate broadcast-crossJoined onto vocab/bigrams — a
    # single-row build side streamed map-side, the shape a scalar
    # subquery compiles to, bounded by construction).
    import re
    p = plans("doc_pmi_bigrams")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # distinct physical nodes, not raw substring count (formatted
    # explain repeats each node in the tree and the details section)
    # <= 3: one bigram-total attach plus the unigram-total attach,
    # which appears twice because p_uni feeds both the _a and _b join
    # sides (the same subtree duplication the window form had)
    nlj_nodes = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p))
    assert len(nlj_nodes) <= 3, nlj_nodes


def test_repetition_partial_aggregation(plans):
    # per-gram counts must partially aggregate before the exchange
    p = plans("doc_repetition_stats")
    assert "partial_count" in p or "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_commit_publish_is_distributed(spark, tmp_path):
    """Above ``DRIVER_PUBLISH_MAX_FILES`` staged files (or with bloom
    columns), the commit path's footer-stats extraction + file moves run
    as a Spark job (``publish_plan``: mapInPandas over the staged file
    list), never a driver-side per-file loop — the difference between a
    constant-time and an O(files) serial commit at fleet scale. At or
    below the budget the driver loop publishes (test_table_rw pins both
    paths equal)."""
    from connectors_spark.writer import publish_plan, stage_and_collect

    df = spark.range(0, 1000).selectExpr(
        "id", "id % 7 as grp", "cast(id as double) as val")
    table_path = str(tmp_path / "tbl")
    staging = str(tmp_path / "staging")
    df.repartition(4).write.parquet(staging)
    import os
    rels = [n for n in os.listdir(staging) if n.endswith(".parquet")]
    os.makedirs(table_path, exist_ok=True)
    pub = publish_plan(spark, staging, table_path, rels, collect_stats=True)
    assert "MapInPandas" in plan_of(pub)

    rows = pub.collect()
    assert len(rows) == len(rels)
    for r in rows:
        assert r["size"] > 0
        assert '"numRecords"' in r["stats"]
        assert os.path.exists(os.path.join(table_path, r["rel_path"]))
        assert not os.path.exists(os.path.join(staging, r["rel_path"]))

    # end-to-end: stage_and_collect returns stat-bearing AddFiles
    import json as _json
    adds = stage_and_collect(df, str(tmp_path / "tbl2"), ["grp"])
    assert sum(_json.loads(a.stats)["numRecords"] for a in adds) == 1000
    assert all(a.partitionValues.get("grp") is not None for a in adds)


def _sql_plans(spark, fn) -> list:
    """Physical plans of the SQL executions ``fn()`` runs, from the
    session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]
    before = max((e.executionId() for e in executions()), default=-1)
    fn()
    return [e.physicalPlanDescription() for e in executions()
            if e.executionId() > before]


@pytest.mark.pin
def test_sink_batch_runs_no_python_worker(spark, tmp_path, monkeypatch):
    """A 2k-row ``DeltaStreamSink.write_batch`` publishes on the driver
    and reads through Arrow-backed local relations: none of its SQL
    executions has a Python eval node, and it runs one Spark job fewer
    than with the publish job forced on (budget 0)."""
    import connectors_spark.writer as W
    from connectors_spark import DeltaTable
    from connectors_spark.streaming import DeltaStreamSink
    sink = DeltaStreamSink(str(tmp_path / "sink"), app_id="pin")

    def batch(i):
        return spark.range(i * 2000, (i + 1) * 2000).selectExpr(
            "id", "id % 5 AS k")
    sink.write_batch(batch(0), 0)
    with monkeypatch.context() as m:
        m.setattr(W, "DRIVER_PUBLISH_MAX_FILES", 0)
        with_job = _spark_jobs(spark, lambda: sink.write_batch(batch(1), 1))
    jobs = []
    plans = _sql_plans(spark, lambda: jobs.append(
        _spark_jobs(spark, lambda: sink.write_batch(batch(2), 2))))
    assert jobs == [with_job - 1]
    assert plans and not [p for p in plans
                          if any(n in p for n in _PYTHON_EVAL_NODES)]
    assert DeltaTable.for_path(spark, str(tmp_path / "sink")) \
        .to_df().count() == 6000


def test_local_rows_df_matches_python_rdd(spark):
    """``local_rows_df`` (Arrow) gives the rows and schema the former
    Python-RDD relation gave, for inventory and tombstone rows with
    null and empty maps and null fields, empty input, a DDL schema, and
    timestamps (top level and nested), dates and decimals under
    non-UTC time zones; ``parts`` sets the slice count of the Arrow
    RDD."""
    from connectors_spark.localrel import local_rows_df
    from connectors_spark.log.snapshot import FILES_SCHEMA, TOMBSTONES_SCHEMA

    def python_rdd(rows, schema):
        if not rows:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2), schema)
    files = [
        ("/t/p=1/a.parquet", {"p": "1"}, 10, 5, True,
         '{"numRecords":1}', None, None, None, 3),
        ("/t/b.parquet", {}, None, None, None, None,
         {"deletionVector": "_deletion_vectors/dv-1.parquet"}, 4, 2, 7),
        ("/t/p=/c.parquet", {"p": None}, 1, 2, False, None, {}, None,
         None, None)]
    tombs = [("/t/x.parquet", 11, None, True, {"p": "2"}, 99, 4),
             ("/t/y.parquet", None, {}, None, None, None, None)]
    ddl = "a: long, b string, m map<string, bigint>, l array<string>"
    cases = [(files, FILES_SCHEMA), (tombs, TOMBSTONES_SCHEMA),
             ([], FILES_SCHEMA), ([], ddl),
             ([(1, "x", {"k": 1}, ["u", None]), (None, None, None, None)],
              ddl)]
    for rows, schema in cases:
        got, exp = local_rows_df(spark, rows, schema), python_rdd(rows,
                                                                 schema)
        assert got.schema == exp.schema
        assert got.collect() == exp.collect()
    # A naive datetime is local time to Spark and UTC to pyarrow: under a
    # non-UTC driver time zone (and session time zone) the values must
    # match Spark's list path, which converts them on the driver, both
    # as Python values and as the JVM renders them.
    import datetime
    import decimal
    import os
    import time
    # A map of timestamps takes Spark's Python path (``_rebuilt_map``)
    # and must keep its null.
    ts = datetime.datetime(2024, 7, 1, 23, 30, 0, 123456)
    temporal = ("t timestamp, n timestamp_ntz, d date, x decimal(12,3), "
                "a array<timestamp>, s struct<u: timestamp, v: int>")
    ts_rows = [(ts, ts, ts.date(), decimal.Decimal("12.345"), [ts, None],
                (ts, 1)), (None,) * 6]
    mapped = "m map<string, timestamp>"
    map_rows = [({"k": ts},), (None,)]
    old_tz, old_session = os.environ.get("TZ"), spark.conf.get(
        "spark.sql.session.timeZone")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        for rows, schema, arrow in ((ts_rows, temporal, True),
                                    (map_rows, mapped, False)):
            got = local_rows_df(spark, rows, schema)
            exp = spark.createDataFrame(rows, schema)
            assert ("LocalTableScan" in plan_of(got)) == arrow
            assert got.schema == exp.schema
            assert got.collect() == exp.collect()
            text = [f"cast({c} as string)" for c in got.columns]
            assert got.selectExpr(*text).collect() == \
                exp.selectExpr(*text).collect()
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session)
    # Past the local-relation threshold the Arrow batches become an RDD,
    # one partition per slice
    many = [(f"/t/f{i}.parquet", {"p": str(i % 3)}, i, i, True, None,
             None, None, None, 0) for i in range(25)]
    key = "spark.sql.execution.arrow.localRelationThreshold"
    spark.conf.set(key, "0")
    try:
        df = local_rows_df(spark, many, FILES_SCHEMA, parts=3)
        assert "ExistingRDD" in plan_of(df)
        assert df.rdd.getNumPartitions() == 3
        assert df.collect() == python_rdd(many, FILES_SCHEMA).collect()
    finally:
        spark.conf.unset(key)


def test_merge_no_isin_literal_in_touched_filter(spark, tmp_path):
    """The merge path must scope the rewrite to touched files with a
    semi-join, never an In(path, [..]) literal — a merge touching 100k+
    files would otherwise embed a 100k-element literal in the plan
    (driver memory + plan-size blowup at scale)."""
    import pyspark.sql.column as colmod

    from connectors_spark import DeltaTable
    from tests.conftest import read_table

    cust = read_table(spark, "customer")
    t = DeltaTable.for_path(spark, str(tmp_path / "mrg_plan"))
    t.write(cust.repartition(4))

    isin_sizes = []
    orig_isin = colmod.Column.isin

    def spy(self, *cols):
        if len(cols) == 1 and isinstance(cols[0], (list, tuple, set)):
            isin_sizes.append(len(cols[0]))
        else:
            isin_sizes.append(len(cols))
        return orig_isin(self, *cols)

    colmod.Column.isin = spy
    try:
        src = (cust.limit(10)
               .withColumn("c_acctbal", F.lit(123.0)))
        t.merge(src, "t.c_custkey = s.c_custkey",
                when_matched_update={"c_acctbal": "s.c_acctbal"},
                when_not_matched_insert=False)
    finally:
        colmod.Column.isin = orig_isin
    # No file-list-sized In() literal anywhere in the merge path.
    assert all(n <= 8 for n in isin_sizes), isin_sizes
    assert t.to_df().where("c_acctbal = 123.0").count() == 10


def test_dml_no_isin_literal_in_candidate_filters(spark, tmp_path):
    """UPDATE / DELETE-with-residual / OPTIMIZE must scope their file
    rewrites with a semi-join against a paths DataFrame, like merge —
    never an In(path, [...]) literal sized by the candidate file list
    (plan-size blowup when a wide DML touches 100k files)."""
    import pyspark.sql.column as colmod

    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col, Lit
    from tests.conftest import read_table

    cust = read_table(spark, "customer")
    t = DeltaTable.for_path(spark, str(tmp_path / "dml_plan"))
    t.write(cust.repartition(4))

    isin_sizes = []
    orig_isin = colmod.Column.isin

    def spy(self, *cols):
        if len(cols) == 1 and isinstance(cols[0], (list, tuple, set)):
            isin_sizes.append(len(cols[0]))
        else:
            isin_sizes.append(len(cols))
        return orig_isin(self, *cols)

    colmod.Column.isin = spy
    try:
        # Residual (non-partition) predicates force the rewrite path
        # through the candidate-file scoping in each operation.
        t.update({"c_acctbal": "c_acctbal + 1.0"},
                 predicate=Col("c_custkey") < Lit(50))
        t.delete(Col("c_custkey") < Lit(10))
        from connectors_spark.table import TableMaintenance
        TableMaintenance(t).optimize(target_file_size=1 << 30)
    finally:
        colmod.Column.isin = orig_isin
    assert all(n <= 8 for n in isin_sizes), isin_sizes
    assert t.to_df().where("c_custkey < 10").count() == 0


def test_pq_adc_broadcast_plan_is_query_count_invariant(spark, sf_dir):
    """The large-Q ADC path must have NO per-query plan branches: the
    optimized plan is the same tree for 6 or 12 queries (only literals
    differ), and the distance table joins in as a broadcast."""
    from connectors_spark.ops.clustering import pq_adc_topk_broadcast

    def build(q):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = (emb.filter(F.col("vec_id") < q)
                   .select(F.col("vec_id").alias("query_id"), "embedding"))
        return pq_adc_topk_broadcast(emb, queries, k=5, m=4,
                                     codebook_k=8, iters=1)

    p6, p12 = plan_of(build(6)), plan_of(build(12))

    def shape(p):
        # node-KIND sequence (operator names, numeric ids and literals
        # stripped) — a swapped node kind or a per-query plan branch
        # changes this list even at equal node counts.
        import re
        out = []
        for ln in p.splitlines():
            m = re.match(r"^[\s*+:-]*\(\d+\)\s+([A-Za-z]+)", ln)
            if m:
                out.append(m.group(1))
        assert out, f"no plan nodes parsed from:\n{p[:500]}"
        return out

    assert "BroadcastHashJoin" in p12
    assert "BroadcastExchange" in p12
    assert shape(p6) == shape(p12)
    assert "CartesianProduct" not in p12 and "NestedLoop" not in p12


def test_epoch_shuffle_no_data_through_one_task(plans):
    # doc_epoch_shuffle: global rank via the two-pass range-bucket
    # scheme — any SinglePartition exchange may carry only the tiny
    # per-bucket count relation, never the doc rows; doc-row windows
    # hash-partition by bucket.
    p = plans("doc_epoch_shuffle")
    blocks = p.split("\n\n")
    single = [b for b in blocks
              if b.startswith("(") and "SinglePartition" in b]
    assert single, "expected the bucket-offset window's tiny exchange"
    for b in single:
        assert "doc_id" not in b, f"doc rows funneled to one task:\n{b}"
    assert "hashpartitioning(_bkt" in p


@pytest.mark.parametrize("name", ["doc_countmin_token_counts",
                                  "doc_bloom_decontaminate",
                                  "doc_epoch_shuffle",
                                  "ev_hll_distinct",
                                  "ev_value_histogram_quantiles",
                                  "doc_mixture_quota"])
def test_sketch_family_no_cartesian_or_nlj(plans, name):
    # Sketch/sampling relations are tiny by construction (counters,
    # bits, per-bucket offsets): their joins must resolve as hash
    # joins — never a nested loop or cartesian on any side.
    p = plans(name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bloom_bits_join_is_broadcast(plans):
    # The <=mbits bit relation must broadcast against the corpus probe
    # side (the whole point of the sketch vs an exact gram set).
    p = plans("doc_bloom_decontaminate")
    assert "BroadcastHashJoin" in p


def test_dsir_broadcasts_lambda_table_no_global_sort(plans):
    # the per-doc weight join must broadcast the buckets-sized lambda
    # relation; only the gate wrapper sorts, never the operator
    from connectors_spark.ops.quality import dsir_importance_weights
    p = plans("doc_dsir_weights")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_chunk_dedup_first_winner_join_not_broadcast(spark, sf_dir):
    # the winner relation is distinct-chunk-sized (corpus scale): it
    # must NOT be forced broadcast, and chunk-keyed exchanges must
    # carry the 8-byte hash key, not chunk strings
    from connectors_spark.ops.dedup import dedup_chunks_keep_first
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(dedup_chunks_keep_first(docs, chunk_tokens=10))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "hashpartitioning(_ck" in p


def test_logreg_gradient_is_partial_aggregate(spark, sf_dir):
    # one iteration = one map-side-combined aggregate: partial
    # (HashAggregate before the exchange) then final over ONE row
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feat = docs.select(
        (F.col("lang") == "en").cast("double").alias("y"),
        F.lit(1.0).alias("x0"),
        (F.col("n_chars") / F.lit(1000.0)).alias("x1"))
    from connectors_spark.ops.regression import sigmoid
    p0 = F.col("y") - sigmoid(F.lit(0.0))
    p = plan_of(feat.agg(
        F.round(F.avg(F.round(p0 * F.col("x0"), 6)), 6).alias("g0")))
    assert p.count("HashAggregate") >= 2  # partial + final


def test_ivfpq_probe_prunes_partitions(spark, sf_dir, tmp_path):
    # probing 2 of 16 lists must scan only those list partitions of the
    # code table, and the ADC score join must broadcast the distance
    # relation
    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.ops.clustering import (build_ivf_pq_index,
                                                 ivf_pq_adc_topk)
    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    cents, books = build_ivf_pq_index(emb, idx, nlist=16)
    t = DeltaTable.for_path(spark, idx)
    total = len(t.snapshot()._files_rows)
    pruned = t.scan((Col("list_id") == Lit(0)) |
                    (Col("list_id") == Lit(1))).files().count()
    assert pruned < total and pruned <= 4
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    p = plan_of(ivf_pq_adc_topk(spark, idx, q, cents, books,
                                k=5, nprobe=4))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_grouped_topk_partial_group_limit_before_shuffle(spark, sf_dir):
    # the skew-safety property (round-7 A/B: the declarative window
    # beat a hand-rolled two-phase 1.40s vs 3.83s at 95% skew BECAUSE
    # of this): Catalyst must plan a WindowGroupLimit on BOTH sides of
    # the exchange — partial per-partition top-k before the shuffle,
    # final after — so a mega-group never travels unlimited
    from connectors_spark.ops.skew import grouped_topk
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderstatus", "o_orderkey",
        F.round("o_totalprice", 2).alias("tp"))
    p = plan_of(grouped_topk(od, ["o_orderstatus"], "tp", k=3,
                             tie_cols=["o_orderkey"]))
    assert p.count("WindowGroupLimit") >= 2  # partial + final
    assert "SinglePartition" not in p
    pre_exchange = p.split("Exchange")[0]
    assert "WindowGroupLimit" in pre_exchange or \
        "WindowGroupLimit" in p[:p.index("Exchange")]


def test_ingest_neardup_bucket_joins_no_cartesian(spark, sf_dir, tmp_path):
    # candidate generation must be (band, key) equi-joins — never
    # all-pairs — and verification equi-joins the signature relations
    from connectors_spark.ops.dedup import (build_minhash_index,
                                            ingest_neardup)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "mh")
    build_minhash_index(docs.where(F.col("doc_id") % 2 == 0), idx)
    p = plan_of(ingest_neardup(docs, idx, update_index=False))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_stupid_backoff_no_lag_window(plans):
    # ops/lm.py builds (w, w_p, w_pp) as a narrow array expression;
    # a lag-window formulation would shuffle the corpus by doc_id
    # once per consumer (c1/c2/c3/scoring = 4x). Pin: no Window
    # operator anywhere, no cartesian blowup (the single-row totals
    # relation rides a broadcast nested loop, which is fine).
    p = plans("doc_stupid_backoff_nll")
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_cdc_chunking_is_fully_narrow(spark, sf_dir):
    # cdc_chunks alone must be shuffle-free: chunk spans and strings
    # come straight off each row's token array (slice per span), so
    # the plan is scan -> project -> generate with NO exchange and NO
    # window. The dedup ranking on top adds exactly the inherent
    # fingerprint shuffle.
    from connectors_spark.ops.dedup import cdc_chunks
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(cdc_chunks(docs))
    assert "Exchange" not in p
    assert "Window" not in p


def test_trigram_index_probe_prunes_buckets(spark, sf_dir, tmp_path):
    # A short pattern's trigrams land in a handful of the 64 gram
    # buckets; the indexed probe must scan only those partitions and
    # must agree exactly with the ad-hoc (full-scan) variant.
    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col
    from connectors_spark.ops.ranking import (_py_hash64,
                                              build_trigram_index,
                                              substring_search,
                                              substring_search_indexed)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "trgm")
    build_trigram_index(docs, idx, n_buckets=64)
    pats = ["fast table"]
    grams = [pats[0][i:i + 3] for i in range(len(pats[0]) - 2)]
    buckets = sorted({_py_hash64(g) % 64 for g in grams})
    t = DeltaTable.for_path(spark, idx)
    total = len(t.snapshot()._files_rows)
    pruned = t.scan(Col("bucket").isin(*buckets)).files().count()
    assert pruned < total
    adhoc = {(r.pattern, r.doc_id, r.n_occurrences)
             for r in substring_search(docs, pats).collect()}
    indexed = {(r.pattern, r.doc_id, r.n_occurrences)
               for r in substring_search_indexed(
                   spark, idx, docs, pats).collect()}
    assert indexed == adhoc and len(adhoc) > 0


def test_containment_pairs_no_cartesian(plans):
    # candidates come from the shingle inverted-index equi-join —
    # never an all-pairs product, even though containment admits no
    # length prune
    p = plans("doc_ngram_containment_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_boundary_stitch_no_cartesian_no_python(plans):
    # candidates come from the k-gram position index equi-joined on
    # 8-byte hashes against prefix keys — never an all-pairs product,
    # and the whole pipeline is JVM expressions (transform/slice/md5)
    p = plans("doc_boundary_stitch_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Python" not in p and "ArrowEval" not in p


def test_incremental_tombstone_state_matches_full_replay(spark, tmp_path):
    # r14: the tombstone plane mirrors the inventory — materialized
    # once, seeded forward by the post-commit tail application, and the
    # seed must survive a CHECKPOINT BOUNDARY (the segment switching to
    # a newer checkpoint does not invalidate driver-side state: commits
    # are immutable, so prev state + tail deltas IS the new state).
    # Both planes must stay field-identical to a cold replay of the
    # same segment (checkpoint plus tail).
    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.log.snapshot import Snapshot
    from tests.conftest import read_table

    t = DeltaTable.for_path(spark, str(tmp_path / "inct"))
    orders = read_table(spark, "orders")
    t.write(orders.limit(2000), partition_by=["o_orderstatus"],
            configuration={"delta.checkpointInterval": "3"})
    _ = t.log.snapshot()._tombstone_rows       # materialize (empty) v0
    _ = t.log.snapshot()._files_rows
    t.delete(Col("o_orderkey") < Lit(200))                       # v1
    t.update({"o_totalprice": "o_totalprice + 1"},
             Col("o_orderkey") < Lit(500))                       # v2
    t.delete(Col("o_orderstatus") == Lit("P"))     # v3 -> checkpoint
    t.update({"o_totalprice": "o_totalprice + 2"},
             Col("o_orderkey") < Lit(300))       # v4 crosses the ckpt
    snap = t.log.snapshot()
    assert snap.segment.checkpoint_version == 3    # boundary crossed
    assert "_tombstone_rows" in snap.__dict__      # seed survived it
    assert "_files_rows" in snap.__dict__

    # Keys deliberately EXCLUDE the internal ``version`` column: it is
    # the replay's provenance stamp (a checkpoint-flattened
    # replay stamps rows with the checkpoint version, while the seed
    # keeps the action's true commit version — strictly finer). No
    # consumer reads it from either plane; every observable field must
    # match exactly.
    def tkey(r):
        return (r["path"], r["deletionTimestamp"],
                tuple(sorted((r["tags"] or {}).items())),
                bool(r["extendedFileMetadata"]),
                tuple(sorted((r["partitionValues"] or {}).items())),
                r["size"])

    def fkey(r):
        return (r["path"], r["size"], r["dataChange"],
                tuple(sorted((r["partitionValues"] or {}).items())),
                r["stats"], r["baseRowId"], r["defaultRowCommitVersion"],
                tuple(sorted((r["tags"] or {}).items())))

    fresh = Snapshot(spark, snap.table_path, snap.segment, snap.store)
    assert sorted(map(tkey, snap._tombstone_rows)) \
        == sorted(map(tkey, fresh._tombstone_rows))
    assert len(snap._tombstone_rows) > 0
    assert sorted(map(fkey, snap._files_rows)) \
        == sorted(map(fkey, fresh._files_rows))
    # the horizon filter keeps every tombstone of this log (all younger
    # than the table's retention) on both sides
    assert sorted(map(tkey, snap.retained_tombstone_rows(
        snap.tombstone_horizon()))) \
        == sorted(map(tkey, fresh._tombstone_rows))


# Checkpoint shapes the one replay reads: (name, write_checkpoint's
# ``parts``, table configuration).
_SHAPES = [("classic", None, {}),
           ("multi-part", 3, {}),
           ("v2", None, {"delta.checkpointPolicy": "v2"}),
           ("v2, 2 sidecars", 2, {"delta.checkpointPolicy": "v2"})]


def _hand_built_planes(spark, root):
    """For each checkpoint shape, a log written action by action with a
    checkpoint at version 3 and a tail of versions 4 and 5; yields
    (shape, cold Snapshot at 5, the incremental ``seed_from`` fold from
    version 0 to 5, expected files, expected tombstones). The log covers
    partition values, a deletion-vector tag, row ids, a path that needs
    URI encoding, a path re-added after its remove, an add and a remove
    of one path in one commit (the add wins), and tail adds and removes.
    Expected planes are the surviving actions, listed by hand."""
    import time

    from connectors_spark.log import filenames as fn
    from connectors_spark.log.actions import (AddFile, Metadata, Protocol,
                                              to_json_line)
    from connectors_spark.log.checkpoints import write_checkpoint
    from connectors_spark.log.snapshot import (Snapshot, canonical_path,
                                               read_commit)
    from connectors_spark.table import DeltaLog

    schema = ('{"type":"struct","fields":['
              '{"name":"id","type":"long","nullable":true,"metadata":{}},'
              '{"name":"p","type":"string","nullable":true,"metadata":{}}]}')
    now = int(time.time() * 1000)

    def add(name, p, **kw):
        return AddFile(path=f"p={p}/{name}.parquet",
                       partitionValues={"p": p}, size=len(name) + 10,
                       modificationTime=now - 5, dataChange=True,
                       stats='{"numRecords":%d}' % len(name), **kw)

    a, b, c = add("a", "x"), add("b", "y"), add(
        "c", "x", tags={"deletionVector": "_deletion_vectors/dv-1.parquet",
                        "dvCardinality": "2"})
    d, e = add("d", "y", baseRowId=7, defaultRowCommitVersion=1), add("e", "x")
    f, odd = add("f", "y"), add("o%20dd", "a b")
    for shape, parts, conf in _SHAPES:
        path = str(root / shape.replace(" ", "_").replace(",", ""))
        log = DeltaLog(spark, path)
        proto = (Protocol(3, 7, ["v2Checkpoint"], ["v2Checkpoint"])
                 if conf else Protocol(1, 2))
        commits = [
            [proto, Metadata(id="m", schemaString=schema,
                             partitionColumns=["p"], configuration=conf),
             a, b, c, odd],
            [a.remove(now), d],
            [a, b.remove(now)],
            [e, e.remove(now)],
            [f, c.remove(now)],
            [d.remove(now), b],
        ]
        for v, acts in enumerate(commits):
            log.store.write(fn.delta_file(log.log_path, v),
                            [to_json_line(x) for x in acts])
            if v == 3:
                write_checkpoint(log.snapshot_for_version(3), parts=parts)
        cold = log.snapshot_for_version(5)
        assert cold.segment.checkpoint_version == 3
        assert len(cold.segment.checkpoint_files) == (
            parts if parts and not conf else 1)
        prev = log.snapshot_for_version(0)
        _ = prev._files_rows, prev._tombstone_rows
        seeded = Snapshot(spark, path, cold.segment, log.store)
        seeded.seed_from(prev, [
            (v, read_commit(log.store, fn.delta_file(log.log_path, v)))
            for v in range(1, 6)])
        assert {"_files_rows", "_tombstone_rows"} <= set(seeded.__dict__)

        def canon(acts):
            return {canonical_path(x.path, log.table_path): x for x in acts}
        yield (shape, cold, seeded, canon([a, b, e, f, odd]),
               canon([c.remove(now), d.remove(now)]))


def test_cold_file_plane_matches_seeded_fold_and_expected(spark, tmp_path):
    # One replay for every checkpoint shape: a cold Snapshot (checkpoint
    # read batch by batch, then the tail) and the seeded fold hold the
    # same file plane, and it is the hand-listed one. Version stamps
    # differ by design (a cold replay stamps checkpoint rows with the
    # checkpoint version), so they are checked apart.
    def k(r):
        return (tuple(sorted((r["partitionValues"] or {}).items())),
                r["size"], r["modificationTime"], bool(r["dataChange"]),
                r["stats"], tuple(sorted((r["tags"] or {}).items())),
                r["baseRowId"], r["defaultRowCommitVersion"])

    for shape, cold, seeded, files, _ in _hand_built_planes(spark,
                                                            tmp_path):
        want = {p: k(vars(x)) for p, x in files.items()}
        assert {r["path"]: k(r) for r in cold._files_rows} == want, shape
        assert {r["path"]: k(r) for r in seeded._files_rows} == want, shape
        assert len(cold._files_rows) == len(want), shape
        assert sorted(r["version"] for r in cold._files_rows) \
            == [3, 3, 3, 4, 5], shape
        assert sorted(r["version"] for r in seeded._files_rows) \
            == [0, 2, 3, 4, 5], shape


def test_cold_tombstone_plane_matches_seeded_fold_and_expected(spark,
                                                              tmp_path):
    # The tombstone twin: both tombstones were removed in the tail, so
    # every field (the DV tag, extendedFileMetadata, partition values,
    # size) and the version stamp agree.
    def k(r):
        return (r["deletionTimestamp"],
                tuple(sorted((r["tags"] or {}).items())),
                bool(r["extendedFileMetadata"]),
                tuple(sorted((r["partitionValues"] or {}).items())),
                r["size"])

    for shape, cold, seeded, _, tombs in _hand_built_planes(spark,
                                                            tmp_path):
        want = {p: k(vars(x)) for p, x in tombs.items()}
        for snap in (cold, seeded):
            assert {r["path"]: k(r) for r in snap._tombstone_rows} \
                == want, shape
            assert sorted(r["version"] for r in snap._tombstone_rows) \
                == [4, 5], shape
            assert snap.retained_tombstone_rows(
                snap.tombstone_horizon()) == snap._tombstone_rows, shape
