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


def test_hilbert_code_is_pure_jvm_expression(spark):
    # the Hilbert index must never fall back to Python: no
    # ArrowEval/BatchEval nodes — it's aggregate/bit expressions only
    from pyspark.sql import functions as F

    from connectors_spark.table import _hilbert_index_col
    df = spark.range(100).select(
        (F.col("id") % 10).alias("x"), (F.col("id") % 7).alias("y"))
    p = plan_of(df.select(_hilbert_index_col(
        [F.col("x"), F.col("y")], 16).alias("h")))
    assert "Python" not in p and "ArrowEval" not in p


def test_bloom_skip_plan_never_collects_inventory(spark, tmp_path):
    # the bloom probe is a Column over the file inventory: the
    # pruned-files plan must stay a pure DataFrame plan with no Python
    # EVALUATION nodes (per-file compute stays codegen'd JVM). The
    # inventory relation itself is the Snapshot's materialized local
    # state (r14) — its RDD debug name mentions
    # "applySchemaToPythonRDD", which is a createDataFrame artifact,
    # not per-row Python execution, so match eval-node names rather
    # than the bare substring.
    from pyspark.sql import functions as F

    from connectors_spark import DeltaTable
    from connectors_spark.bloom import BLOOM_COLUMNS_KEY
    from connectors_spark.expressions import Col, Lit
    t = DeltaTable.for_path(spark, str(tmp_path / "bp"))
    t.write(spark.range(100).select(F.col("id").alias("uid")),
            configuration={BLOOM_COLUMNS_KEY: "uid"})
    p = plan_of(t.scan(Col("uid") == Lit(7)).files())
    assert "BatchEvalPython" not in p and "ArrowEval" not in p \
        and "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p


def test_incremental_snapshot_state_matches_full_replay(spark, tmp_path):
    # r14: DeltaLog.update seeds the new Snapshot's inventory from the
    # previous one's by applying the tail commits driver-side
    # (delta-spark's incremental InMemoryLogReplay). The seeded rows
    # must be field-identical to a full distributed replay of the same
    # segment — across partitioned writes, an UPDATE rewrite, a
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
        == sorted(map(key, fresh.files_df.collect()))
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


def test_scan_reuses_materialized_inventory(spark, tmp_path):
    # r14: a Snapshot materializes its active-file inventory once; a
    # second scan of the same Snapshot must plan over the local
    # relation (Scan ExistingRDD) instead of re-running the log-replay
    # window (no parquet/json checkpoint scan, no Window node), and the
    # materialized row list must be the cached object itself.
    from pyspark.sql import functions as F

    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col, Lit
    t = DeltaTable.for_path(spark, str(tmp_path / "inv"))
    t.write(spark.range(100).select(F.col("id").alias("uid")))
    snap = t.log.snapshot()
    assert snap._files_rows is snap._files_rows          # cached once
    p = plan_of(t.scan(Col("uid") == Lit(7)).files())
    assert "ExistingRDD" in p
    assert "Window" not in p and "Scan parquet" not in p


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
    """The commit path's footer-stats extraction + file moves must run as
    a Spark job (mapInPandas over the staged file list), never a
    driver-side per-file loop — the difference between a constant-time
    and an O(files) serial commit at fleet scale."""
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
    total = t.snapshot().files_df.count()
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
    total = t.snapshot().files_df.count()
    pruned = t.scan(Col("bucket").isin(*buckets)).files().count()
    assert pruned < total
    adhoc = {(r.pattern, r.doc_id, r.n_occurrences)
             for r in substring_search(docs, pats).collect()}
    indexed = {(r.pattern, r.doc_id, r.n_occurrences)
               for r in substring_search_indexed(
                   spark, idx, docs, pats).collect()}
    assert indexed == adhoc and len(adhoc) > 0


def test_join_key_bloom_prune_plan_stays_pure(spark, tmp_path):
    # runtime join-key pruning with a >64-key list composes the
    # any-value bloom test: still ONE Column over files_df — no
    # Python nodes, no unrolled per-key probe forest (plan length
    # bounded), inventory never collected
    from pyspark.sql import functions as F

    from connectors_spark import DeltaTable
    from connectors_spark.bloom import BLOOM_COLUMNS_KEY
    from connectors_spark.scan import prune_by_join_keys
    t = DeltaTable.for_path(spark, str(tmp_path / "jbp"))
    t.write(spark.range(5000).select(F.col("id").alias("uid"),
                                     (F.col("id") % 7).alias("v")),
            configuration={BLOOM_COLUMNS_KEY: "uid"})
    keys = spark.range(100).select((F.col("id") * 31).alias("k"))
    scan = prune_by_join_keys(t, "uid", keys)
    p = plan_of(scan.files())
    # eval-node names, not the bare substring: the materialized
    # inventory's RDD debug name contains "applySchemaToPythonRDD"
    # (createDataFrame artifact, not per-row Python execution)
    assert "BatchEvalPython" not in p and "ArrowEval" not in p \
        and "MapInPandas" not in p
    # one exists-expression, not 100 unrolled forall probes
    assert p.count("forall") <= 4


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
    # Both planes must stay field-identical to a fresh distributed
    # replay, and retained_tombstones' local-relation path must match
    # the window plan's rows.
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
    # the dedup window's provenance stamp (a checkpoint-flattened
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
        == sorted(map(tkey, fresh._tombstones_window_df().collect()))
    assert len(snap._tombstone_rows) > 0
    assert sorted(map(fkey, snap._files_rows)) \
        == sorted(map(fkey, fresh.files_df.collect()))
    # the horizon-filtered local relation equals the distributed plan
    assert sorted(map(tkey, snap.retained_tombstones(0).collect())) \
        == sorted(map(tkey, fresh.retained_tombstones(0).collect()))


def _folded_snapshot(spark, path):
    # The two implementations of the replay: the driver fold (classic
    # checkpoint's add+remove columns, then the parsed commit tail) and
    # the distributed window plan. The fixture spans checkpointed adds
    # and tombstones, DV-delete tags, partition values, a re-added path,
    # and tail adds and removes. Returns a cold Snapshot and its fold.
    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.log.snapshot import Snapshot
    from tests.conftest import read_table

    t = DeltaTable.for_path(spark, path)
    orders = read_table(spark, "orders")
    t.write(orders.limit(300), partition_by=["o_orderstatus"],
            configuration={"delta.checkpointInterval": "2"})
    t.delete(Col("o_orderkey") < Lit(100), deletion_vectors=True)  # v1
    t.delete(Col("o_orderkey") < Lit(150))     # v2 -> checkpoint
    t.write(orders.limit(400), mode="append")  # v3 (tail add)
    t.delete(Col("o_orderstatus") == Lit("P"))  # v4 -> checkpoint
    t.write(orders.limit(50), mode="append")   # v5 (tail add)
    t.delete(Col("o_orderkey") < Lit(200))     # v6 -> checkpoint
    t.delete(Col("o_orderkey") < Lit(220))     # v7 (tail remove)
    snap = Snapshot(spark, t.path, t.log.snapshot().segment,
                    t.log.store)
    assert snap.segment.checkpoint_files and snap.segment.deltas
    assert snap._driver_replayable()
    return snap, snap._fold


def test_files_rows_driver_side_matches_window_plan(spark, tmp_path):
    # The fold's file plane is field-identical to files_df (the window
    # plan's add rows) — version stamp included: both attribute
    # checkpoint rows to the checkpoint version.
    snap, (files, _) = _folded_snapshot(spark, str(tmp_path / "fds"))
    assert len(files) > 0

    def k(r):
        return (r["path"],
                tuple(sorted((r["partitionValues"] or {}).items())),
                r["size"], r["modificationTime"], r["dataChange"],
                r["stats"], tuple(sorted((r["tags"] or {}).items())),
                r["baseRowId"], r["defaultRowCommitVersion"],
                r["version"])

    assert sorted(map(k, files)) \
        == sorted(map(k, snap.files_df.collect()))


def test_tombstone_rows_driver_side_matches_window_plan(spark, tmp_path):
    # The fold's tombstone plane is field-identical to the window plan's
    # remove rows — version stamp included.
    snap, (_, tombs) = _folded_snapshot(spark, str(tmp_path / "tds"))
    assert len(tombs) > 0

    def k(r):
        return (r["path"], r["deletionTimestamp"],
                tuple(sorted((r["tags"] or {}).items())),
                bool(r["extendedFileMetadata"]),
                tuple(sorted((r["partitionValues"] or {}).items())),
                r["size"], r["version"])

    assert sorted(map(k, tombs)) \
        == sorted(map(k, snap._tombstones_window_df().collect()))
