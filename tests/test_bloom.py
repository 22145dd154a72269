"""Per-file Bloom-filter data skipping (connectors_spark/bloom.py).

Soundness invariant under test everywhere: a bloom test may only skip
a file when the value is PROVABLY absent — never a false negative, so
query results are bit-identical with and without the filters.
"""

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.bloom import (BLOOM_BITS_KEY, BLOOM_COLUMNS_KEY,
                                    BLOOM_HASHES_KEY, bloom_config,
                                    bloom_hashes, bloom_may_contain,
                                    bloom_tag_value, build_bloom_hex)
from connectors_spark.expressions import Col, Lit


def test_bloom_hex_no_false_negatives_and_skips():
    """Every inserted value must test positive through the driver-side
    probe; absent values must mostly test negative (fpp sanity)."""
    values = [str(i * 37) for i in range(400)] + list(range(400))
    hx = build_bloom_hex(values, 16384, 7)
    tag = bloom_tag_value(hx, 16384, 7)
    present = values[::5]
    absents = [str(99991 * i) for i in range(1, 101)]
    # zero false negatives
    assert all(bloom_may_contain(tag, bloom_hashes([v])) for v in present)
    misses = sum(0 if bloom_may_contain(tag, bloom_hashes([v])) else 1
                 for v in absents)
    assert misses > 90                           # ~1% fpp at this load
    # missing tag -> keep (no evidence)
    assert bloom_may_contain(None, bloom_hashes([42]))
    # out-of-scope literal types -> no test at all
    assert bloom_hashes([1.5]) is None
    assert bloom_hashes([True]) is None
    assert bloom_hashes([None]) is None
    assert bloom_may_contain(tag, None)


def test_bloom_config_validation():
    assert bloom_config(None) is None
    assert bloom_config({}) is None
    cols, m, k = bloom_config({BLOOM_COLUMNS_KEY: "a, b"})
    assert (cols, m, k) == (["a", "b"], None, 7)   # None = auto-size
    assert bloom_config({BLOOM_COLUMNS_KEY: "a",
                         BLOOM_BITS_KEY: "1024"})[1] == 1024
    with pytest.raises(ValueError, match="multiple of 4"):
        bloom_config({BLOOM_COLUMNS_KEY: "a", BLOOM_BITS_KEY: "1001"})
    with pytest.raises(ValueError, match="numHashes"):
        bloom_config({BLOOM_COLUMNS_KEY: "a", BLOOM_HASHES_KEY: "0"})


def _bloom_table(spark, path, n=40000, files=16, m=None):
    conf = {BLOOM_COLUMNS_KEY: "uid,tok"}
    if m is not None:
        conf[BLOOM_BITS_KEY] = str(m)
    df = (spark.range(n)
          .select((F.col("id") * 2654435761 % 1000003).alias("uid"),
                  F.col("id").alias("rid"),
                  F.concat(F.lit("u"), (F.col("id") * 48271 % 999983))
                  .alias("tok")))
    t = DeltaTable.for_path(spark, path)
    t.write(df.repartition(files), configuration=conf)
    return t


def test_point_lookup_skips_files_and_stays_exact(spark, tmp_path):
    """uid/tok are high-cardinality and round-robin across files, so
    min/max admit every file; only the bloom can skip. Point lookups
    must read a small fraction of files with bit-identical results,
    and a value outside the domain must read ZERO files."""
    t = _bloom_table(spark, str(tmp_path / "bt"))
    files = t.snapshot().all_files()
    assert all((f.tags or {}).get("bloom.uid")
               and (f.tags or {}).get("bloom.tok") for f in files)
    total = len(files)
    r0 = spark.read.parquet(files[0].path).select("uid", "tok").first()
    for pred, ref_col, ref_val in [
            (Col("uid") == Lit(int(r0.uid)), "uid", int(r0.uid)),
            (Col("tok") == Lit(r0.tok), "tok", r0.tok),
            (Col("uid").isin(int(r0.uid), 1000004), "uid", int(r0.uid))]:
        scan = t.scan(pred)
        assert len(scan.collect_files()) < total // 2
        got = sorted(r.rid for r in scan.to_df().collect())
        exp = sorted(r.rid for r in t.to_df()
                     .filter(F.col(ref_col) == ref_val).collect())
        assert got == exp and got
    assert t.scan(Col("uid") == Lit(1000004)).collect_files() == []
    # range predicates are untouched by blooms
    lo = t.scan(Col("uid") < Lit(500)).to_df().count()
    assert lo == t.to_df().filter("uid < 500").count()


def test_dml_rewrites_refresh_blooms(spark, tmp_path):
    """UPDATE rewrites files through the same staging pass, so
    rewritten files carry FRESH blooms over their new contents and a
    probe for the pre-update value no longer hits the rewritten
    rows."""
    t = _bloom_table(spark, str(tmp_path / "bt2"), n=4000, files=4)
    victim = int(spark.read.parquet(
        t.snapshot().all_files()[0].path).first().uid)
    t.update({"uid": "uid + 2000000"}, Col("uid") == Lit(victim))
    files = t.snapshot().all_files()
    assert all((f.tags or {}).get("bloom.uid") for f in files)
    got = t.scan(Col("uid") == Lit(victim + 2000000)).to_df().count()
    assert got == t.to_df().filter(
        F.col("uid") == victim + 2000000).count() > 0
    assert t.scan(Col("uid") == Lit(victim)).to_df().count() == 0


def test_mixed_filter_sizes_stay_sound(spark, tmp_path):
    """Tags are self-describing (m:k:hex), so files written under an
    older numBits config keep testing correctly after the config
    changes — each file's own m drives the probe positions."""
    path = str(tmp_path / "bt3")
    t = _bloom_table(spark, path, n=2000, files=2, m=1024)
    df2 = (spark.range(2000, 4000)
           .select((F.col("id") * 2654435761 % 1000003).alias("uid"),
                   F.col("id").alias("rid"),
                   F.concat(F.lit("u"), (F.col("id") * 48271 % 999983))
                   .alias("tok")))
    # config changes on an existing table go through ALTER TABLE
    # semantics (write() only applies configuration on create/schema
    # change, like delta-spark)
    t.set_properties({BLOOM_BITS_KEY: "16384"})
    t.write(df2.repartition(2), mode="append")
    ms = {(f.tags or {}).get("bloom.uid", "::").split(":")[0]
          for f in t.snapshot().all_files()}
    assert ms == {"1024", "16384"}
    for rid_probe in (7, 2007):
        uid = t.to_df().filter(F.col("rid") == rid_probe).first().uid
        got = sorted(r.rid for r in
                     t.scan(Col("uid") == Lit(int(uid))).to_df()
                     .collect())
        exp = sorted(r.rid for r in t.to_df()
                     .filter(F.col("uid") == int(uid)).collect())
        assert got == exp and rid_probe in got


def test_bloom_tags_survive_checkpoint(spark, tmp_path):
    """A snapshot rebuilt FROM a checkpoint (not the JSON tail) must
    still carry every bloom tag — the checkpoint serializes
    AddFile.tags, and skipping keeps working across the reload."""
    from pyspark.sql import functions as F

    t = DeltaTable.for_path(spark, str(tmp_path / "ckb"))
    for v in range(12):          # checkpointInterval 10 -> ckpt at 10
        t.write(spark.range(v * 100, (v + 1) * 100)
                .select(F.col("id").alias("uid")).coalesce(1),
                mode="append",
                configuration={BLOOM_COLUMNS_KEY: "uid"}
                if v == 0 else None)
    import os
    assert any("checkpoint" in n for n in
               os.listdir(str(tmp_path / "ckb" / "_delta_log")))
    t2 = DeltaTable.for_path(spark, str(tmp_path / "ckb"))
    files = t2.snapshot().all_files()
    assert all((f.tags or {}).get("bloom.uid") for f in files)
    assert len(t2.scan(Col("uid") == Lit(55)).collect_files()) == 1
    assert t2.scan(Col("uid") == Lit(10 ** 7)).collect_files() == []


def test_tables_without_blooms_unaffected(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "plain"))
    t.write(spark.range(100).select(F.col("id").alias("uid")))
    assert t.scan(Col("uid") == Lit(7)).to_df().count() == 1


def test_auto_sized_filters_stay_selective_at_high_cardinality(spark,
                                                               tmp_path):
    """Without a pinned numBits the writer sizes each file's filter
    from ITS distinct count (~10 bits/value), so a 60k-distinct file —
    which saturates the old fixed default into uselessness — still
    proves absence; small files keep the small floor size."""
    from connectors_spark.bloom import auto_bits
    assert auto_bits(10) == 16384               # floor
    assert auto_bits(60000) == 600000
    assert auto_bits(10 ** 9) == 1 << 23        # cap
    t = DeltaTable.for_path(spark, str(tmp_path / "auto"))
    t.write(spark.range(240_000)
            .selectExpr("id * 2654435761 % 100000003 as uid",
                        "id as payload").repartition(4),
            configuration={BLOOM_COLUMNS_KEY: "uid"})
    files = t.snapshot().all_files()
    ms = {int((f.tags or {})["bloom.uid"].split(":")[0]) for f in files}
    assert all(m > 500_000 for m in ms)          # sized to ~60k values
    # absent in-range value: zero files (a saturated filter reads 4)
    assert t.scan(Col("uid") == Lit(99999999)).collect_files() == []
    present = spark.read.parquet(files[0].path).first().uid
    assert len(t.scan(Col("uid") == Lit(int(present)))
               .collect_files()) <= 2


def test_large_in_list_bloom_composition(spark, tmp_path):
    """IN lists of up to _IN_BLOOM_MAX_VALUES values compose the bloom
    probe with per-value range containment: a 100-key probe set with
    zero table hits reads ZERO files (min/max alone keeps them all —
    uid round-robins), a mixed present/absent set stays bit-identical
    to the unskipped read, and the bloom probe of a list holding None
    gives no evidence."""

    t = _bloom_table(spark, str(tmp_path / "bigin"))
    total = len(t.snapshot().all_files())
    # uid domain is {id*2654435761 % 1000003}: pick 100 values OUTSIDE
    # any file but INSIDE the global range → min/max keeps everything,
    # only the bloom can refute
    absent = [1000003 + i for i in range(100)]
    scan = t.scan(Col("uid").isin(*absent))
    assert len(scan.collect_files()) == 0
    assert scan.to_df().count() == 0
    # mixed: some real uids + absent ones → exact rows, fewer files
    real = [r.uid for r in t.to_df().select("uid").distinct().limit(70)
            .collect()]
    mixed = real + absent[:30]
    scan = t.scan(Col("uid").isin(*mixed))
    assert len(scan.collect_files()) <= total
    got = sorted(r.rid for r in scan.to_df().collect())
    exp = sorted(r.rid for r in t.to_df()
                 .filter(F.col("uid").isin(mixed)).collect())
    assert got == exp and got
    # any-value probe: zero false negatives on a synthetic tag
    hx = build_bloom_hex(list(range(500)), 16384, 7)
    tag = bloom_tag_value(hx, 16384, 7)
    assert bloom_may_contain(tag, bloom_hashes([9999991, 123, 9999992]))
    assert not bloom_may_contain(
        tag, bloom_hashes([9999991 + i for i in range(50)]))
    # a None value voids bloom evidence entirely
    assert bloom_hashes([1, None, 3]) is None
    # past the composition cap: range containment only
    far = [2000003 + i for i in range(300)]
    assert t.scan(Col("uid").isin(*far)).to_df().count() == 0
