"""Tests for the training-data pipeline operators: dedup families,
similarity search (incl. ANN recall vs brute force), text functions,
multimodal plumbing."""

from __future__ import annotations

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from connectors_spark.functions.text import (fingerprint, lang_id,
                                             ngram_shingles, stopword_ratio,
                                             token_count)
from connectors_spark.ops import dedup as dd
from connectors_spark.ops import multimodal as mm
from connectors_spark.ops import similarity as sim
from tests.conftest import read_table


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (3, "completely different words in this sentence here"),
        (4, "tiny"),                                          # < 3 tokens
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world "), (2, "other")],
        "doc_id: long, text: string")
    fps = {r.doc_id: r.fp for r in
           df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_exact_dedup(spark):
    out = dd.dedup_exact(_docs(spark)).collect()
    sizes = {r.doc_id: r.group_size for r in out}
    assert sizes[0] == 2          # docs 0 and 2 collapse, min id kept
    assert 2 not in sizes
    stats = dd.exact_dup_stats(_docs(spark)).first()
    assert (stats.n_docs, stats.n_unique, stats.n_exact_dups) == (5, 4, 1)


def test_shingles_short_doc_empty(spark):
    df = _docs(spark).select("doc_id", ngram_shingles("text").alias("s"))
    by_id = {r.doc_id: r.s for r in df.collect()}
    assert by_id[4] == []
    assert "the quick brown" in by_id[0]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {(r.a_id, r.b_id): r.jaccard
             for r in dd.ngram_jaccard_pairs(_docs(spark),
                                             threshold=0.5).collect()}
    assert pairs[(0, 2)] == 1.0                       # exact dup
    assert (0, 1) in pairs and pairs[(0, 1)] < 1.0    # near dup
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_agrees_with_exact_on_testdata(spark, sf_dir):
    docs = read_table(spark, "documents", sf_dir)
    exact = {(r.a_id, r.b_id) for r in
             dd.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r.a_id, r.b_id) for r in
           dd.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    # LSH verifies candidates with exact Jaccard → no false positives;
    # at J≥0.8 with 4 bands × 4 rows, recall should be total here.
    assert lsh == exact and len(lsh) > 0


def test_simhash_near_dup(spark):
    long_a = " ".join(f"word{i}" for i in range(30))
    long_b = " ".join(f"word{i}" if i != 29 else "changed"
                      for i in range(30))
    df = _docs(spark).union(spark.createDataFrame(
        [(5, long_a), (6, long_b)], "doc_id: long, text: string"))
    pairs = dd.simhash_pairs(df, max_hamming=20).collect()
    got = {(r.a_id, r.b_id): r.hamming for r in pairs}
    assert got[(0, 2)] == 0            # identical text → identical simhash

    # Self-consistency: every pair that shares a 15-bit chunk AND is
    # within the hamming bound must be reported (band recall contract).
    sh = {r._id: r.simhash for r in dd.simhash(df).collect()}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(sh[a] ^ sh[b]).count("1")
            shares = any((sh[a] >> (c * 15)) & 32767 ==
                         (sh[b] >> (c * 15)) & 32767 for c in range(4))
            assert ((a, b) in got) == (shares and d <= 20), (a, b, d, shares)


def test_lsh_bucket_cap_bounds_degenerate_duplicate_cluster(spark):
    # A large exact-duplicate cluster shares EVERY band — without the
    # bucket cap, candidate generation collects the whole cluster into
    # one aggregation row and emits O(n²) pairs. With the two-phase
    # min-k cap, pairs involving cluster members are confined to the
    # cap smallest ids, and distinct docs are unaffected.
    text = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zz{i}" for i in range(40))
    rows = [(i, text) for i in range(1000)] + [(5000, other)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    cap = 8
    pairs = dd.minhash_lsh_pairs(df, threshold=0.8,
                                 max_bucket_size=cap).collect()
    ids_in_pairs = {r.a_id for r in pairs} | {r.b_id for r in pairs}
    # Deterministic clip: only the cap smallest cluster ids appear.
    assert ids_in_pairs == set(range(cap))
    assert len(pairs) == cap * (cap - 1) // 2

    spairs = dd.simhash_pairs(df, max_hamming=3,
                              max_bucket_size=cap).collect()
    s_ids = {r.a_id for r in spairs} | {r.b_id for r in spairs}
    assert s_ids == set(range(cap))
    assert all(r.hamming == 0 for r in spairs)


def test_lsh_bucket_cap_noop_on_normal_corpus(spark, sf_dir):
    # On a corpus whose buckets are all under the cap, the capped plan
    # must produce exactly the uncapped output (the clip is a no-op).
    docs = read_table(spark, "documents", sf_dir)
    capped = {(r.a_id, r.b_id) for r in
              dd.minhash_lsh_pairs(docs, threshold=0.8,
                                   max_bucket_size=64).collect()}
    uncapped = {(r.a_id, r.b_id) for r in
                dd.minhash_lsh_pairs(docs, threshold=0.8,
                                     max_bucket_size=1 << 30).collect()}
    assert capped == uncapped


def test_dup_span_coverage_interval_union(spark):
    from connectors_spark.ops.quality import dup_span_stats
    shared = " ".join(f"s{i}" for i in range(12))     # 12-token shared prefix
    a = shared + " " + " ".join(f"a{i}" for i in range(8))   # 20 tokens
    b = shared + " " + " ".join(f"b{i}" for i in range(8))
    c = " ".join(f"c{i}" for i in range(20))                 # clean doc
    df = spark.createDataFrame([(1, a), (2, b), (3, c)],
                               "doc_id: long, text: string")
    out = {r.doc_id: r for r in dup_span_stats(df, L=10).collect()}
    # windows at pos 0,1,2 of each shared doc are corpus-duplicated:
    # interval union = 1 + 1 + 10 = 12 covered tokens of 20
    for d in (1, 2):
        assert out[d].n_dup_grams == 3
        assert out[d].covered_tokens == 12
        assert out[d].dup_frac == 0.6
    assert 3 not in out                                      # clean doc absent


def test_strip_dup_spans_removes_shared_prefix_only(spark):
    from connectors_spark.ops.quality import strip_dup_spans
    shared = " ".join(f"s{i}" for i in range(12))
    ua = " ".join(f"a{i}" for i in range(8))
    ub = " ".join(f"b{i}" for i in range(8))
    clean = " ".join(f"c{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, shared + " " + ua), (2, shared + " " + ub),
         (3, clean), (4, shared), (5, shared)],   # 4,5: fully duplicated
        "doc_id: long, text: string")
    out = {r.doc_id: r.text for r in strip_dup_spans(df, L=10).collect()}
    assert out[1] == ua and out[2] == ub          # shared prefix stripped
    assert out[3] == clean                        # untouched
    assert 4 not in out and 5 not in out          # fully covered -> dropped


def test_cap_per_group_two_phase_matches_global_ranking(spark):
    # The salted two-phase top-cap must equal the plain global-window
    # answer on a skewed input spread over many partitions.
    rows = [(i, "big", int(i % 97)) for i in range(500)] + \
           [(1000 + i, "small", int(i)) for i in range(5)]
    df = spark.createDataFrame(
        rows, "doc_id: long, source: string, n_chars: long").repartition(13)
    got = {(r.source, r.doc_id)
           for r in dd.cap_per_group(df, cap=10).collect()}
    expected = set()
    for grp in ("big", "small"):
        members = [(c, i) for i, g, c in rows if g == grp]
        top = sorted(members, key=lambda t: (-t[0], t[1]))[:10]
        expected |= {(grp, i) for _, i in top}
    assert got == expected


def test_pq_codes_and_adc_ranking(spark):
    from connectors_spark.ops.clustering import pq_adc_topk, pq_codes
    import random
    rng = random.Random(7)
    # Two well-separated 8-dim poles + noise; PQ-ADC must rank same-pole
    # vectors above cross-pole ones for a pole-A query.
    def vec(base):
        return [base + rng.uniform(-0.05, 0.05) for _ in range(8)]
    rows = [(i, vec(0.0)) for i in range(10)] + \
           [(100 + i, vec(5.0)) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    codes = pq_codes(df, m=2, k=4).collect()
    assert len(codes) == 20
    for r in codes:
        assert 0 <= r.code_0 < 4 and 0 <= r.code_1 < 4
        assert r.err >= 0.0
    # same-pole vectors quantize much tighter than the pole separation
    assert max(r.err for r in codes) < 25.0    # << 8 * 5^2 = 200

    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = pq_adc_topk(df, q, k=9, m=2, codebook_k=4).collect()
    assert len(top) == 9
    assert {r.vec_id for r in top} == set(range(1, 10))  # all pole-A
    ranks = sorted((r.rank, r.adist) for r in top)
    assert [r for r, _ in ranks] == list(range(1, 10))
    assert all(a <= b for (_, a), (_, b) in zip(ranks, ranks[1:]))


def test_token_entropy_known_values(spark):
    from connectors_spark.ops.quality import token_entropy
    df = spark.createDataFrame(
        [(1, "x x x x"),              # one distinct token -> H = 0
         (2, "a b c d"),              # uniform over 4 -> H = 2 bits
         (3, "a a b b"),              # uniform over 2 -> H = 1 bit
         (4, "")],                    # empty -> no row
        "doc_id: long, text: string")
    got = {r.doc_id: (r.n_tok, r.entropy)
           for r in token_entropy(df).collect()}
    assert got[1] == (4, 0.0)
    assert got[2] == (4, 2.0)
    assert got[3] == (4, 1.0)
    assert 4 not in got


def test_pmi_bigrams_ranks_true_collocation(spark):
    from connectors_spark.ops.quality import pmi_bigrams
    # "new york" always co-occurs; "the the" pairs arise only from
    # independent repetition of the commonest token -> PMI must rank
    # the true collocation first.
    rows = [(i, "the quick fox saw new york " + "the " * 5) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = pmi_bigrams(df, min_count=5, top=10).collect()
    assert out, "expected collocations above the count floor"
    by_name = {r.bigram: r.pmi for r in out}
    assert "new york" in by_name
    assert by_name["new york"] == max(by_name.values())
    if "the the" in by_name:
        assert by_name["the the"] < by_name["new york"]


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = read_table(spark, "embeddings", sf_dir)
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r.query_id, r.vec_id) for r in
             sim.cosine_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.vec_id) for r in
              sim.ann_lsh_topk(emb, queries, k=5, dim=64).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"ANN recall too low: {recall}"


def test_hamming_topk_exact_vs_python_reference(spark, sf_dir):
    """hamming_topk == a full-sort Python reference: the two-phase
    min-m candidate cut is exact under ADVERSARIAL partitioning, the
    word packing preserves sign(v) = v > 0 per dimension, and the
    rerank reproduces cosine_topk's (round-6 sim DESC, id ASC) order."""
    import numpy as np

    emb = read_table(spark, "embeddings", sf_dir).repartition(7)
    queries = (emb.filter(F.col("vec_id") < 6)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    k, m = 4, 16
    got = sim.hamming_topk(emb, queries, k=k, rerank_m=m, dim=64)
    rows = {(r.query_id, r.rank): (r.vec_id, r.ham, r.sim)
            for r in got.collect()}

    data = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in data])
    mat = np.array([r.embedding for r in data], dtype=np.float64)
    signs = mat > 0
    norms = np.sqrt((mat * mat).sum(axis=1))
    want_n = 0
    for q in range(6):
        (qi,) = np.where(ids == q)
        ham = (signs != signs[qi[0]]).sum(axis=1)
        mask = ids != q
        order = np.lexsort((ids[mask], ham[mask]))[:m]
        cids, chams = ids[mask][order], ham[mask][order]
        sims = np.round(
            mat[mask][order] @ mat[qi[0]] / norms[qi[0]]
            / norms[mask][order], 6)
        fin = np.lexsort((cids, -sims))[:k]
        for rk, j in enumerate(fin, start=1):
            want_n += 1
            assert rows[(q, rk)] == (cids[j], chams[j], sims[j]), \
                (q, rk, rows[(q, rk)], (cids[j], chams[j], sims[j]))
    assert len(rows) == want_n


def test_hamming_stage_plan_is_codegen(spark, sf_dir):
    """The Hamming prefilter never evaluates a higher-order function or
    a float op per (row, query): the plan carries bit_count/xor only
    (the packing pandas_udf runs once per corpus row, not per pair)."""
    emb = read_table(spark, "embeddings", sf_dir)
    queries = (emb.filter(F.col("vec_id") < 2)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = sim.hamming_topk(emb, queries, k=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "bit_count" in plan
    # the corpus×queries stage is the subtree under the `Join Inner,
    # NOT (...)` self-exclusion join; in the printed tree everything
    # after that line is that subtree plus leaf scans. The rerank's
    # HOF dot/norm Project (over q×m survivors only) sits ABOVE it, so
    # no zip_with/aggregate lambda may appear after this point.
    tail = plan[plan.index("Join Inner, NOT"):]
    assert "zip_with" not in tail and "lambdafunction" not in tail
    physical = out._jdf.queryExecution().executedPlan().toString()
    # query side broadcast (nested-loop build side), and the rerank
    # joins hash-broadcast the tiny sides — the corpus is never built
    assert "BroadcastNestedLoopJoin BuildRight" in physical


def test_cosine_topk_excludes_self_and_ranks(spark, sf_dir):
    emb = read_table(spark, "embeddings", sf_dir)
    queries = (emb.filter(F.col("vec_id") == 0)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = sim.cosine_topk(emb, queries, k=3).collect()
    assert len(out) == 3
    assert all(r.vec_id != 0 for r in out)
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)
    assert [r.rank for r in out] == [1, 2, 3]


def test_text_functions(spark):
    df = spark.createDataFrame([(0, "The cat and the hat!")],
                               "doc_id: long, text: string")
    row = df.select(
        token_count("text").alias("n"),
        stopword_ratio(F.lower("text")).alias("swr"),
        lang_id("text").alias("lang")).first()
    assert row.n == 5
    assert row.swr == pytest.approx(3 / 5)   # 'the' ×2 + 'and' (lowercased)
    assert row.lang == "en"


def test_phash_clusters_scale_invariant_and_distinct(spark):
    """The full pHash pipeline (real JPEG encode → real decode → box
    resize → DCT sign hash) collapses every scale-variant group to ONE
    cluster and never merges two different groups — the invariant the
    mm_phash_clusters oracle (GROUP BY doc_id % 50) depends on. Ids
    0..149 cover all 50 patterns at all 3 sizes."""
    docs = spark.range(150).select(F.col("id").alias("doc_id"))
    out = mm.phash_clusters(mm.synth_jpeg_scaled_media(docs)).collect()
    assert len(out) == 50                      # one cluster per group
    assert all(r.n_members == 3 for r in out)  # all 3 renditions in it
    assert all(r.n_sizes == 3 for r in out)    # ...at 3 distinct sizes
    assert sorted(r.rep for r in out) == list(range(50))


def test_audio_fp_clusters_cross_codec(spark):
    """The audio fingerprint pipeline (3 real encoders → 2 real
    decoders → FFT band ordering) collapses every group's WAV/FLAC/
    G.711 renditions into ONE cluster and never merges groups — the
    invariant the mm_audio_xcodec_clusters oracle (GROUP BY doc_id %
    32) depends on; G.711 is LOSSY, so the fingerprint must absorb
    real companding noise. Ids 0..95 = all 32 groups × 3 codecs."""
    docs = spark.range(96).select(F.col("id").alias("doc_id"))
    out = mm.audio_fp_clusters(mm.synth_audio_xcodec_media(docs)).collect()
    assert len(out) == 32
    assert all(r.n_members == 3 for r in out)
    assert all(r.n_fmts == 3 for r in out)   # wav + flac + companded
    assert sorted(r.rep for r in out) == list(range(32))


def test_phash_brightness_invariance():
    """Dropping the DC term makes uniform brightness shifts hash-
    equal, while a structural change flips bits — the property that
    makes pHash a NEAR-dup key where a pixel hash is exact-only."""
    import numpy as np

    from connectors_spark.ops.multimodal import _phash64
    rng = np.arange(32 * 32, dtype=np.float64).reshape(32, 32) % 97
    base = 60 + rng
    assert _phash64(base) == _phash64(base + 40)      # brightness shift
    structural = base.copy()
    structural[:16, :] = structural[:16, ::-1]        # mirror top half
    assert _phash64(base) != _phash64(structural)


def test_multimodal_plumbing(spark):
    docs = _docs(spark)
    media = mm.attach_fake_media(docs)
    assert [f.name for f in media.schema.fields] == ["doc_id", "media", "meta"]
    feats = {r.doc_id: r for r in mm.fake_decode_features(media).collect()}
    assert len(feats) == 5
    r0 = feats[0]
    n = len("the quick brown fox jumps over the lazy dog")
    assert r0.kind == "image" and r0.n_bytes == n
    assert r0.width == 16 + n % 32 and r0.height == 16 + n % 17
    assert r0.n_frames == 1
    r1 = feats[1]
    assert r1.kind == "audio" and r1.n_frames == r1.n_bytes % 100


def test_minhash_signature_stable(spark):
    sig1 = dd.minhash_signatures(_docs(spark)).collect()
    sig2 = dd.minhash_signatures(_docs(spark)).collect()
    assert sorted(map(tuple, sig1)) == sorted(map(tuple, sig2))


def test_cosine_neardup_exact_and_lsh_subset(spark, sf_dir):
    emb = read_table(spark, "embeddings", sf_dir)
    exact = {(r.a_id, r.b_id): r.sim for r in
             sim.cosine_neardup_pairs(emb, threshold=0.45).collect()}
    assert len(exact) > 0
    assert all(a < b for a, b in exact)
    approx = {(r.a_id, r.b_id): r.sim for r in
              sim.cosine_neardup_pairs_lsh(emb, threshold=0.45,
                                           dim=64).collect()}
    # LSH candidates are a subset of the exact result, with equal sims
    assert set(approx) <= set(exact)
    assert all(approx[k] == exact[k] for k in approx)
    assert len(approx) / len(exact) >= 0.5, "LSH near-dup recall too low"


@pytest.mark.pin
def test_cosine_neardup_keeps_zero_norm_pairs(spark):
    """A zero-norm vector's cosine is 0/0 = NaN, which Spark orders
    above every threshold: the numpy prefilter must hand such pairs to
    the exact re-verify, so the result equals the exact filter over all
    pairs."""
    import math
    rows = [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
            (3, [0.9, 0.1, 0.0]), (4, [0.0, 0.0, 0.0]),
            (5, [0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.a_id, r.b_id): r.sim
           for r in sim.cosine_neardup_pairs(emb, threshold=0.45).collect()}
    every_pair = (emb.select(F.col("vec_id").alias("a_id"))
                  .crossJoin(emb.select(F.col("vec_id").alias("b_id")))
                  .where("a_id < b_id"))
    exact = {(r.a_id, r.b_id): r.sim for r in sim._exact_verify(
        every_pair, emb, 0.45, "vec_id", "embedding").collect()}
    zero = {(1, 2), (1, 3), (1, 4), (1, 5), (2, 4), (3, 4), (4, 5)}
    assert set(got) == set(exact) == zero | {(2, 3)}
    assert all(math.isnan(got[p]) for p in zero)
    assert got[(2, 3)] == exact[(2, 3)]


@pytest.mark.pin
def test_cosine_neardup_string_ids(spark):
    """Ids keep the column's own type: a string ``vec_id`` flows
    through the exact and the LSH pair finders, and both emit string
    (a_id, b_id) equal to the exact filter over every pair."""
    from pyspark.sql.types import StringType
    rows = [("doc-c", [1.0, 0.0, 0.0]), ("doc-a", [0.9, 0.1, 0.0]),
            ("doc-e", [0.0, 1.0, 0.0]), ("doc-b", [0.1, 0.9, 0.0]),
            ("doc-d", [0.0, 0.0, 1.0])]
    emb = spark.createDataFrame(rows,
                                "vec_id string, embedding array<float>")
    every_pair = (emb.select(F.col("vec_id").alias("a_id"))
                  .crossJoin(emb.select(F.col("vec_id").alias("b_id")))
                  .where("a_id < b_id"))
    exact = {(r.a_id, r.b_id): r.sim for r in sim._exact_verify(
        every_pair, emb, 0.45, "vec_id", "embedding").collect()}
    assert set(exact) == {("doc-a", "doc-c"), ("doc-b", "doc-e")}
    for pairs in (sim.cosine_neardup_pairs(emb, threshold=0.45),
                  sim.cosine_neardup_pairs_lsh(emb, threshold=0.45,
                                               dim=3)):
        assert pairs.schema["a_id"].dataType == StringType()
        assert pairs.schema["b_id"].dataType == StringType()
        got = {(r.a_id, r.b_id): r.sim for r in pairs.collect()}
        assert set(got) <= set(exact)
        assert all(got[p] == exact[p] for p in got)
    assert {(r.a_id, r.b_id) for r in sim.cosine_neardup_pairs(
        emb, threshold=0.45).collect()} == set(exact)


def test_ann_indexed_matches_unindexed(spark, sf_dir, tmp_path):
    from connectors_spark import DeltaTable
    from connectors_spark.expressions import Col, Lit

    emb = read_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "ann_index")
    sim.build_ann_index(emb, idx, dim=64)
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    via_index = sorted(map(tuple, sim.ann_query_indexed(
        spark, idx, queries, k=5, dim=64).collect()))
    direct = sorted(map(tuple, sim.ann_lsh_topk(
        emb, queries, k=5, dim=64).collect()))
    assert via_index == direct

    # the probe is partition-pruned: scanning one bucket touches a strict
    # subset of the index's files
    t = DeltaTable.for_path(spark, idx)
    total = t.snapshot().files_df.count()
    one = t.scan((Col("tbl") == Lit(0)) &
                 (Col("sig") == Lit(0))).files().count()
    assert 0 < one < total


def test_winnow_detects_partial_overlap(spark):
    # Doc 1 CONTAINS doc 0's text inside unrelated padding; Jaccard on
    # whole-doc shingles dilutes below threshold, winnowing still links
    # them (shared substring >= k+w-1 chars -> shared fingerprint).
    quote = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, quote),
        (1, ("entirely unrelated preamble text goes here first and " +
             quote + " followed by a long unrelated epilogue section")),
        (2, "nothing in common with the others at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {(r.a_id, r.b_id): r.shared
           for r in dd.winnow_overlap_pairs(df, min_shared=3).collect()}
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def test_winnow_fingerprints_shape(spark):
    df = spark.createDataFrame([(0, "abcdefghij"), (1, "ab")],
                               "doc_id: long, text: string")
    fp = dd.winnow_fingerprints(df, k=8, w=4)
    by_id = {}
    for r in fp.collect():
        by_id.setdefault(r._id, set()).add(r._f)
    # doc 0: 3 k-grams < w=4 -> fallback keeps all gram hashes
    assert len(by_id[0]) == 3
    # doc 1: shorter than k -> single whole-text hash
    assert len(by_id[1]) == 1


def test_multimodal_resize_and_frame_sample(spark):
    rows = [(i, "x" * (100 + i * 37)) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    media = mm.attach_fake_media(docs)

    th = mm.fake_resize(media, width=8, height=4).collect()
    assert len(th) == 6
    assert all(len(r.thumb) == 32 and r.width == 8 and r.height == 4
               for r in th)

    frames = mm.fake_frame_sample(media, every_n=10, frame_size=16).collect()
    # only video rows (doc_id % 3 == 2) emit frames: one per 10 frames
    vids = {i: (100 + i * 37) for i in range(6) if i % 3 == 2}
    expect = sum(-(-(nb % 100) // 10) for nb in vids.values() if nb % 100)
    assert len(frames) == expect
    assert all(r.doc_id in vids for r in frames)
    assert all(len(r.frame_bytes) <= 16 for r in frames)
    assert all(r.frame_off == (r.frame_idx * 16) % vids[r.doc_id]
               for r in frames)


def test_ivf_recall_vs_brute_force(spark, sf_dir, tmp_path):
    from connectors_spark.ops import similarity as sim
    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r["query_id"], r["vec_id"])
             for r in sim.cosine_topk(emb, queries, k=5).collect()}
    idx = str(tmp_path / "ivf_index")
    cents = sim.build_ivf_index(emb, idx, nlist=16)
    approx = {(r["query_id"], r["vec_id"])
              for r in sim.ivf_query_indexed(
                  spark, idx, queries, cents, k=5, nprobe=6).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_pq_index_stores_codes_only(spark, sf_dir, tmp_path):
    """The IVFPQ index table holds (list_id, vec_id, codes) — no float
    vectors — and probing it partition-prunes to the probed lists while
    agreeing with brute-force cosine on most of the top-k."""
    from connectors_spark import DeltaTable
    from connectors_spark.ops import similarity as sim
    from connectors_spark.ops.clustering import (build_ivf_pq_index,
                                                 ivf_pq_adc_topk)
    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    cents, books = build_ivf_pq_index(emb, idx, nlist=16, m=4,
                                      codebook_k=8, iters=1)
    t = DeltaTable.for_path(spark, idx)
    assert set(t.to_df().columns) == {"list_id", "vec_id", "code_0",
                                      "code_1", "code_2", "code_3"}
    assert t.to_df().count() == emb.count()

    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = ivf_pq_adc_topk(spark, idx, queries, cents, books,
                          k=5, nprobe=8).collect()
    assert len(out) == 50
    assert all(1 <= r["rank"] <= 5 for r in out)
    # deterministic across runs
    out2 = ivf_pq_adc_topk(spark, idx, queries, cents, books,
                           k=5, nprobe=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # Semantics pin: the distributed result must EXACTLY equal a
    # driver-side numpy replication of ADC-over-probed-lists (probe
    # ranking, per-query candidate restriction, round-6 subspace
    # distance sums, (adist, id) tie-break). Quantization QUALITY is
    # inherent to m/k/iters, so recall is not the assertion here.
    import numpy as np
    rows = emb.collect()
    mat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in rows}
    codes = {r["vec_id"]: [r[f"code_{j}"] for j in range(4)]
             for r in t.to_df().collect()}
    lists = {r["vec_id"]: r["list_id"] for r in t.to_df().collect()}
    d_sub = 64 // 4
    want = []
    for qid in range(10):
        qv = mat[qid]
        qn = qv / (np.linalg.norm(qv) or 1.0)
        simsq = qn @ cents.T
        probe = set(sorted(range(16),
                           key=lambda j: (-simsq[j], j))[:8])
        tabs = [np.round(((qv[j * d_sub:(j + 1) * d_sub][None, :]
                           - books[j]) ** 2).sum(axis=1), 6)
                for j in range(4)]
        scored = []
        for vid, cs in codes.items():
            if vid == qid or lists[vid] not in probe:
                continue
            adist = round(sum(float(tabs[j][cs[j]])
                              for j in range(4)), 6)
            scored.append((adist, vid))
        for rank, (adist, vid) in enumerate(sorted(scored)[:5], 1):
            want.append((qid, vid, adist, rank))
    got = sorted((r["query_id"], r["vec_id"], r["adist"], r["rank"])
                 for r in out)
    assert got == sorted(want)


def test_ivf_centroids_deterministic(spark, sf_dir):
    from connectors_spark.ops import similarity as sim
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1 = sim._ivf_centroids(emb, 8, "vec_id", "embedding")
    c2 = sim._ivf_centroids(emb, 8, "vec_id", "embedding")
    assert (c1 == c2).all()


def test_connected_components_shapes(spark):
    from connectors_spark.ops.graph import connected_components
    # two triangles bridged by a chain + an isolated pair
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3),      # triangle A
         (3, 4), (4, 5),              # chain to...
         (5, 6), (6, 7), (5, 7),      # triangle B
         (10, 11)],                   # separate pair
        "a_id long, b_id long")
    got = {(r["node"], r["component"])
           for r in connected_components(edges).collect()}
    assert got == {(n, 1) for n in range(1, 8)} | {(10, 10), (11, 10)}


def test_connected_components_driver_matches_distributed(spark,
                                                         monkeypatch):
    """r15: small integral-id graphs run driver-side union-find;
    forcing the budget to 0 must route the SAME graphs through the
    distributed label propagation with identical output — including a
    long chain (worst case for min-propagation) and random graphs."""
    import random

    import connectors_spark.ops.graph as G

    def run(edges_rows):
        df = spark.createDataFrame(edges_rows, "a_id long, b_id long")
        return {(r["node"], r["component"])
                for r in G.connected_components(df).collect()}

    cases = [[(i, i + 1) for i in range(15)]]          # 16-node chain
    rng = random.Random(7)
    for _ in range(3):
        n = 40
        cases.append([(rng.randrange(n), rng.randrange(n))
                      for _ in range(60)])
    fast = [run(c) for c in cases]
    monkeypatch.setattr(G, "_CC_DRIVER_MAX_EDGES", 0)
    slow = [run(c) for c in cases]
    assert fast == slow
    # chain sanity: everything labels to node 0
    assert fast[0] == {(i, 0) for i in range(16)}


def test_salted_join_matches_plain_join(spark):
    from connectors_spark.ops.skew import salted_join
    from pyspark.sql import functions as F
    # 10k rows, 90% on one hot key
    left = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"))
    right = spark.createDataFrame(
        [(1, "hot"), (5, "cold"), (77, "rare")], "k long, tag string")
    plain = sorted((r["k"], r["lv"], r["tag"])
                   for r in left.join(right, ["k"]).collect())
    salted = sorted((r["k"], r["lv"], r["tag"])
                    for r in salted_join(left, right, ["k"]).collect())
    assert plain == salted and len(plain) == 9000
    # left-outer parity incl. unmatched rows
    pl = sorted((r["k"], r["lv"], r["tag"])
                for r in left.join(right, ["k"], "left").collect())
    sl = sorted((r["k"], r["lv"], r["tag"])
                for r in salted_join(left, right, ["k"],
                                     how="left").collect())
    assert pl == sl


# --------------------------------------------------------------------------
# TF-IDF / BM25 ranking (ops/ranking.py)
# --------------------------------------------------------------------------

def test_tfidf_values_tiny_corpus(spark):
    import math
    from connectors_spark.ops.ranking import tfidf
    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, "c c c")], "doc_id: long, text: string")
    rows = {(r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"])
            for r in tfidf(docs).collect()}
    # 'a' in 2 of 3 docs, tf=2 in doc 0
    tf, df, w = rows[(0, "a")]
    assert (tf, df) == (2, 2)
    assert abs(w - 2 * math.log(3 / 2)) < 1e-12
    # 'b' unique to doc 0
    assert abs(rows[(0, "b")][2] - math.log(3.0)) < 1e-12


def test_bm25_ranks_rarer_term_higher(spark):
    from connectors_spark.ops.ranking import bm25
    docs = spark.createDataFrame(
        [(0, "rare common pad"), (1, "common pad x"), (2, "common pad y"),
         (3, "pad z w")], "doc_id: long, text: string")
    scores = {r["doc_id"]: r["score"]
              for r in bm25(docs, ["rare", "common"]).collect()}
    assert 3 not in scores            # no query term -> absent
    assert scores[0] > scores[1]      # rare term outweighs common
    assert scores[1] == scores[2]     # identical evidence -> equal score


def test_bm25_plan_broadcasts_df_and_avoids_cartesian(spark):
    from connectors_spark.ops.ranking import bm25
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common") for i in range(50)],
        "doc_id: long, text: string")
    plan = bm25(docs, ["common", "w1"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_stratified_sample_deterministic_and_filter_only(spark):
    from connectors_spark.ops.sampling import stratified_sample
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(400)],
        "id: long, s: string")
    s1 = stratified_sample(df, "s", {"a": 0.5, "b": 0.1}, id_col="id")
    got1 = {r["id"] for r in s1.collect()}
    got2 = {r["id"] for r in s1.collect()}
    assert got1 == got2 and got1  # reproducible, non-empty
    # unknown strata dropped entirely with dict fractions
    assert {r["s"] for r in s1.collect()} <= {"a", "b"}
    # scalar fraction applies to every stratum; subset relation holds for
    # equal thresholds (same hash, same cut)
    s_all = {r["id"] for r in
             stratified_sample(df, "s", 0.1, id_col="id").collect()}
    s_half = {r["id"] for r in
              stratified_sample(df, "s", 0.5, id_col="id").collect()}
    assert s_all <= s_half
    # no shuffle in the plan: pure filter over the scan
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_redact_pii_replaces_typed_tokens(spark):
    from connectors_spark.functions.text import redact_pii
    df = spark.createDataFrame(
        [(0, "mail a.b+c@x-y.org now"),
         (1, "see https://a.io/p?q=1 and http://b.co"),
         (2, "call +1 (415) 555-0100 today"),
         (3, "clean text only")], "id: long, text: string")
    got = {r["id"]: r["t"]
           for r in df.select("id", redact_pii("text").alias("t")).collect()}
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "see <URL> and <URL>"
    assert got[2] == "call <PHONE> today"
    assert got[3] == "clean text only"


def test_remove_boilerplate_strips_shared_chunks(spark):
    from connectors_spark.ops.dedup import (boilerplate_chunks,
                                            remove_boilerplate)
    header = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"  # one exact 10-token chunk
    df = spark.createDataFrame(
        [(0, f"{header} unique zero text"),
         (1, f"{header} other one body"),
         (2, "totally different words here")],
        "doc_id: long, text: string")
    bp = {r["chunk"] for r in boilerplate_chunks(df).collect()}
    assert bp == {header}
    out = {r["doc_id"]: r["text"]
           for r in remove_boilerplate(df).collect()}
    assert out[0] == "unique zero text"
    assert out[1] == "other one body"
    assert out[2] == "totally different words here"


def test_remove_boilerplate_drops_fully_duplicate_docs(spark):
    from connectors_spark.ops.dedup import remove_boilerplate
    same = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, same), (1, same)], "doc_id: long, text: string")
    assert remove_boilerplate(df).count() == 0


def test_repetition_stats_known_values(spark):
    from connectors_spark.ops.quality import gopher_filter
    df = spark.createDataFrame(
        [(0, "a b a b"),          # 2-grams: ab,ba,ab -> top 2/3 dup 2/3
         (1, "v w x y z q r s")], # no repeats
        "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    assert got[0]["n_tok"] == 4
    assert abs(got[0]["top2_frac"] - round(2 / 3, 6)) < 1e-9
    assert abs(got[0]["dup2_frac"] - round(2 / 3, 6)) < 1e-9
    assert got[0]["top3_frac"] == 0.5 and got[0]["dup3_frac"] == 0.0
    assert got[0]["keep"] is False      # n_tok < 5 and over caps
    assert got[1]["dup2_frac"] == 0.0 and got[1]["keep"] is True


def test_contamination_report_flags_overlap(spark):
    from connectors_spark.ops.dedup import contamination_report
    train = spark.createDataFrame(
        [(10, "the quick brown fox jumps"),
         (11, "totally clean training text")],
        "doc_id: long, text: string")
    ev = spark.createDataFrame(
        [(0, "quick brown fox runs"), (1, "another eval doc")],
        "doc_id: long, text: string")
    rows = {r["doc_id"]: r for r in
            contamination_report(train, ev, n=3).collect()}
    assert set(rows) == {10}
    assert rows[10]["n_shared_ngrams"] == 1   # "quick brown fox"
    assert rows[10]["n_eval_docs"] == 1


def test_pack_sequences_block_offsets_match_naive(spark):
    from connectors_spark.ops.packing import pack_sequences
    docs = [(i, " ".join(["w"] * (3 + i % 4))) for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    # tiny blocks force the two-pass path across 7 blocks
    got = {r["doc_id"]: r for r in
           pack_sequences(df, ctx=8, block_size=3).collect()}
    cum = 0
    for i, text in docs:
        n = len(text.split())
        assert got[i]["tok_start"] == cum
        assert got[i]["seq_id"] == cum // 8
        assert got[i]["seq_offset"] == cum % 8
        assert got[i]["crosses_boundary"] == ((cum + n - 1) // 8 != cum // 8)
        cum += n


def test_kmeans_separates_obvious_clusters(spark):
    from connectors_spark.ops.clustering import kmeans_fit
    vecs = ([(i, [0.0 + i * 0.01, 0.0]) for i in range(4)]
            + [(10 + i, [10.0 + i * 0.01, 10.0]) for i in range(4)])
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<float>")
    cents, assigned = kmeans_fit(df, k=2, iters=2)
    rows = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    # init = vectors 0 and 1 (both in the low cloud); after updates the
    # far cloud must own one centroid and the clouds must split cleanly
    low = {rows[i] for i in range(4)}
    high = {rows[10 + i] for i in range(4)}
    assert len(low) == 1 and len(high) == 1 and low != high


def test_semdedup_drops_near_duplicates_within_cluster(spark):
    from connectors_spark.ops.clustering import semdedup
    # two clouds; 20/21 nearly parallel (cos~1), 22 orthogonal-ish
    vecs = ([(i, [0.0 + i * 0.01, 5.0]) for i in range(4)]
            + [(20, [10.0, 0.0]), (21, [10.0, 0.1]), (22, [0.1, -9.0])])
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<float>")
    out = {r["vec_id"]: r for r in
           semdedup(df, k=2, iters=2, threshold=0.99).collect()}
    assert out[21]["dropped"] is True      # dominated by 20 (cos ~1)
    assert out[20]["dropped"] is False     # lowest id of its dup set
    assert out[0]["dropped"] is False      # lowest id of the 0-3 fan
    assert out[22]["dropped"] is False     # anti-parallel to everything


def test_unigram_nll_orders_rare_above_common(spark):
    import math
    from connectors_spark.ops.quality import unigram_nll_scores
    df = spark.createDataFrame(
        [(0, "a a a a"), (1, "a a a rare")], "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in unigram_nll_scores(df).collect()}
    # corpus: a ×7, rare ×1, total 8
    p_a, p_r = 7 / 8, 1 / 8
    assert abs(got[0]["nll"] - round(-math.log(p_a), 6)) < 1e-9
    exp1 = (3 * -math.log(p_a) + -math.log(p_r)) / 4
    assert abs(got[1]["nll"] - round(exp1, 6)) < 1e-6
    assert got[1]["nll"] > got[0]["nll"]


def _persistent_rdd_count(spark):
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_dedup_ops_release_their_caches(spark):
    """The persist()ed intermediates inside the dedup/graph ops are
    op-owned: after the op returns (result materialized eagerly under
    the cache), the cache must be RELEASED. A 100-query pipeline session
    must not accumulate every shingle relation ever persisted. The
    localCheckpoint of the (small) result may remain — hence the +1
    tolerance per op call."""
    from connectors_spark.ops.graph import connected_components

    docs = _docs(spark)
    base = _persistent_rdd_count(spark)

    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    pairs.count()
    assert _persistent_rdd_count(spark) <= base + 1

    base2 = _persistent_rdd_count(spark)
    lsh = dd.minhash_lsh_pairs(docs, threshold=0.5)
    lsh.count()
    assert _persistent_rdd_count(spark) <= base2 + 1

    base3 = _persistent_rdd_count(spark)
    comp = connected_components(pairs)
    comp.count()
    # r14: the op's intermediates are eager localCheckpoints (2x faster
    # per call than persist+count), released explicitly via
    # graph._release_checkpoint as each is superseded — only the final
    # label relation (the returned result's backing RDD) may remain.
    assert _persistent_rdd_count(spark) <= base3 + 1


def test_exact_topk_query_side_guard(spark):
    """cosine_topk collects the query side to the driver by documented
    (broadcast) contract; the guard turns the contract into an error
    instead of a silent driver OOM on an oversized query set."""
    from connectors_spark.ops.similarity import _collect_query_side

    big = spark.range(6).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"))
    with pytest.raises(ValueError, match="ann_lsh_topk"):
        _collect_query_side(big, "query_id", "embedding", max_rows=5)
    # under the cap: passes through
    rows = _collect_query_side(big.limit(3), "query_id", "embedding",
                               max_rows=5)
    assert len(rows) == 3


def test_chunk_token_windows_edges(spark):
    from connectors_spark.ops.packing import chunk_token_windows

    df = spark.createDataFrame(
        [(1, "a b c d e f g"),   # 7 toks: [a b c][c d e][e f g]
         (2, "x y"),             # shorter than window: one partial chunk
         (3, ""), (4, " "),      # empty: no chunks
         (5, "p q r s")],        # [p q r][r s]
        "doc_id: long, text: string")
    got = [tuple(r) for r in
           chunk_token_windows(df, window=3, stride=2)
           .orderBy("doc_id", "chunk_idx").collect()]
    assert got == [
        (1, 0, "a b c", 3), (1, 1, "c d e", 3), (1, 2, "e f g", 3),
        (2, 0, "x y", 2),
        (5, 0, "p q r", 3), (5, 1, "r s", 2)]
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_token_windows(df, window=0)


def test_chunk_token_windows_matches_python_reference(spark):
    """Randomized (seeded) cross-check of the chunking expression against
    a straightforward Python implementation, over several (window,
    stride) shapes including stride == window (disjoint) and stride <
    window (overlap)."""
    import random

    from connectors_spark.ops.packing import chunk_token_windows

    rnd = random.Random(7)
    docs = [(i, " ".join(f"t{rnd.randrange(50)}"
                         for _ in range(rnd.randrange(0, 40))))
            for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")

    def ref(text, w, s):
        tk = [x for x in text.split(" ") if x]
        if not tk:
            return []
        out = []
        i = 0
        idx = 0
        while True:
            chunk = tk[i:i + w]
            out.append((idx, " ".join(chunk), len(chunk)))
            if i + w >= len(tk):
                break
            i += s
            idx += 1
        return out

    for w, s in [(8, 8), (8, 6), (5, 2), (3, 3)]:
        got = sorted(tuple(r) for r in
                     chunk_token_windows(df, window=w, stride=s).collect())
        want = sorted((d, idx, txt, n)
                      for d, text in docs
                      for idx, txt, n in ref(text, w, s))
        assert got == want, (w, s)


def test_dsir_weights_favor_target_like_docs(spark, sf_dir):
    from connectors_spark.ops.quality import dsir_importance_weights
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dsir_importance_weights(docs, F.col("lang") == "en",
                                  buckets=256)
    joined = out.join(docs.select("doc_id", "lang"), "doc_id")
    means = {r["l"]: r["m"] for r in
             joined.groupBy((F.col("lang") == "en").alias("l"))
             .agg(F.avg("logw").alias("m")).collect()}
    # target docs must average a higher importance weight than the rest
    assert means[True] > means[False]
    # every doc with >= 1 token appears
    assert out.count() == docs.filter(
        F.size(F.split("text", " ")) > 0).count()


def test_logreg_fit_deterministic_and_learns_majority(spark, sf_dir):
    from connectors_spark.functions.text import tokens
    from connectors_spark.ops.regression import logreg_fit, logreg_score
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feat = (docs.withColumn("_t", tokens(F.col("text")))
            .filter(F.size("_t") > 0)
            .select("doc_id",
                    (F.col("lang") == "en").cast("double").alias("y"),
                    F.lit(1.0).alias("x0"),
                    (F.size("_t") / F.lit(100.0)).alias("x1")))
    w1 = logreg_fit(feat, ["x0", "x1"], label_col="y", iters=3)
    w2 = logreg_fit(feat, ["x0", "x1"], label_col="y", iters=3)
    assert w1 == w2  # weights are round-6 exact, any partitioning
    assert all(round(x, 6) == x for x in w1)
    scores = feat.select(
        logreg_score(w1, ["x0", "x1"]).alias("s")).collect()
    assert all(0.0 < r["s"] < 1.0 for r in scores)
    # full-batch GD on an imbalanced label must move the bias toward
    # the empirical log-odds direction (en is a minority -> negative)
    frac = feat.agg(F.avg("y")).collect()[0][0]
    assert (w1[0] < 0) == (frac < 0.5)


def test_chunk_dedup_keep_first_properties(spark, sf_dir):
    from connectors_spark.ops.dedup import (dedup_chunks_keep_first,
                                            doc_chunks)
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup_chunks_keep_first(docs, chunk_tokens=10)
    # Exactly one instance of every chunk survives corpus-wide: the
    # surviving chunk multiset == the distinct chunk set of the input.
    surv = doc_chunks(out, "doc_id", "text", 10)
    n_in_distinct = (doc_chunks(docs, "doc_id", "text", 10)
                     .select("chunk").distinct().count())
    assert surv.count() >= n_in_distinct * 0.95
    # reassembly can merge a trailing short chunk with its successor's
    # first tokens, so allow a small slack — but no chunk may be LOST:
    # total surviving tokens == distinct-chunk token mass
    tok_out = out.agg(F.sum(F.size(F.split("text", " ")))).collect()[0][0]
    tok_dedup = (doc_chunks(docs, "doc_id", "text", 10)
                 .dropDuplicates(["chunk"])
                 .agg(F.sum(F.size(F.split("chunk", " "))))
                 .collect()[0][0])
    assert tok_out == tok_dedup


def test_grouped_topk_matches_window_even_with_mega_group(spark):
    from connectors_spark.ops.skew import grouped_topk
    from pyspark.sql import Window, functions as F
    # one mega-group (90%) + small groups; values with heavy ties
    df = (spark.range(20000)
          .select(F.when(F.col("id") % 10 < 9, F.lit("hot"))
                  .otherwise((F.col("id") % 10).cast("string"))
                  .alias("g"),
                  (F.col("id") % 97).cast("double").alias("v"),
                  F.col("id").alias("k"))
          .repartition(16))
    got = sorted(map(tuple, grouped_topk(
        df, ["g"], "v", k=7, descending=True,
        tie_cols=["k"]).collect()))
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("k"))
    want = sorted(map(tuple, df.withColumn(
        "rank", F.row_number().over(w)).filter("rank <= 7")
        .select("g", "k", "v", F.col("rank").cast("int")).collect()))
    # same column layout: (g, k, v, rank)
    assert got == want


def test_ingest_neardup_cross_batch(spark, tmp_path):
    """Near-dup incremental ingest: exact duplicates of history reject
    (16/16 agreement); novel docs accept; accepted signatures extend
    the index so the NEXT batch rejects their near-dups too."""
    from connectors_spark.ops.dedup import (build_minhash_index,
                                            ingest_neardup)
    from pyspark.sql import functions as F
    mk = lambda i: " ".join(  # noqa: E731
        f"tok{i}x{j}" for j in range(30))
    b1 = spark.createDataFrame([(i, mk(i)) for i in range(10)],
                               "doc_id long, text string")
    idx = str(tmp_path / "mhidx")
    build_minhash_index(b1, idx)
    # batch 2: 3 exact copies of history + 2 novel docs
    b2 = spark.createDataFrame(
        [(100, mk(1)), (101, mk(2)), (102, mk(3)),
         (103, mk(500)), (104, mk(600))],
        "doc_id long, text string")
    acc = ingest_neardup(b2, idx, threshold=0.5)
    assert sorted(r.doc_id for r in acc.collect()) == [103, 104]
    # batch 3: near-dup of an ACCEPTED batch-2 doc must now reject
    b3 = spark.createDataFrame([(200, mk(500)), (201, mk(700))],
                               "doc_id long, text string")
    acc3 = ingest_neardup(b3, idx, threshold=0.5)
    assert sorted(r.doc_id for r in acc3.collect()) == [201]


def test_pagerank_properties(spark):
    from connectors_spark.ops.graph import pagerank
    # path graph 0-1-2 plus isolated 3: center node ranks highest,
    # isolated settles at 1-d, total mass conserved-ish
    nodes = spark.createDataFrame([(i,) for i in range(4)],
                                  "doc_id long")
    edges = spark.createDataFrame([(0, 1), (1, 2)],
                                  "a_id long, b_id long")
    pr = {r["doc_id"]: r["pr"]
          for r in pagerank(nodes, edges, iters=10).collect()}
    assert pr[3] == 0.15
    assert pr[1] > pr[0] == pr[2] > pr[3]
    # deterministic across partitionings
    pr2 = {r["doc_id"]: r["pr"]
           for r in pagerank(nodes.repartition(7),
                             edges.repartition(5), iters=10).collect()}
    assert pr == pr2


def test_cdc_chunks_shift_resistant(spark):
    # The CDC property fixed-width chunking lacks: prepending a token
    # shifts every position, yet every chunk after the first boundary
    # is byte-identical — so sub-document dedup survives edits.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron pi rho sigma tau upsilon"
    df = spark.createDataFrame(
        [(0, base), (1, "INSERTED " + base)],
        "doc_id: long, text: string")
    ch = {(r.doc_id, r.chunk) for r in dd.cdc_chunks(df).collect()}
    c0 = {c for d, c in ch if d == 0}
    c1 = {c for d, c in ch if d == 1}
    shared = c0 & c1
    # everything from the first boundary of doc 0 onward must be shared
    assert shared, "no chunk survived the shift — not content-defined"
    # the unshared part of doc 1 is exactly its (edited) head chunk
    assert len(c1 - c0) == 1
    # fixed-width chunking over the same pair shares nothing but
    # (possibly) the trailing short chunk — the contrast the CDC op is
    # for
    fixed = {(r.doc_id, r.chunk)
             for r in dd.doc_chunks(df, chunk_tokens=8).collect()}
    f0 = {c for d, c in fixed if d == 0}
    f1 = {c for d, c in fixed if d == 1}
    assert len(f0 & f1) <= 1


def test_cdc_dedup_stats_counts_duplicate_chunks(spark):
    # doc 10 repeats doc 2's text verbatim: every one of its chunks is
    # a duplicate (10 > 2 in global order), so dup_token_ratio == 1.
    rows = [(2, "one two three four five six seven eight nine ten"),
            (10, "one two three four five six seven eight nine ten"),
            (7, "entirely fresh content with no repeats anywhere")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in dd.cdc_dedup_stats(df).collect()}
    assert out[2].dup_chunks == 0
    assert out[10].dup_chunks == out[10].n_chunks
    assert out[10].dup_token_ratio == 1.0
    assert out[7].dup_chunks == 0
    assert out[2].n_tok == 10 and out[10].n_tok == 10


def test_stupid_backoff_backoff_chain(spark):
    # Train on docs 1-2 only; doc 0 is held out, but all its grams
    # appear in training, so the trigram path never backs off.
    from math import isclose, log

    from connectors_spark.ops.lm import stupid_backoff_scores
    rows = [(0, "a b c"), (1, "a b c a b d"), (2, "a b c")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in
           stupid_backoff_scores(df, F.col("doc_id") > 0).collect()}
    # train corpus: "a b c a b d" + "a b c" -> N=9, V=4
    # c1: a=3 b=3 c=2 d=1; c2: (a,b)=3 (b,c)=2 (c,a)=1 (b,d)=1
    # c3: (a,b,c)=2 (b,c,a)=1 (c,a,b)=1 (a,b,d)=1
    # doc 0 "a b c": pos0 u(a)=(3+1)/13; pos1 b(b|a)=3/3=1;
    # pos2 t(c|a,b)=2/3 — all seen, no backoff
    exp = -(log(4 / 13) + log(1.0) + log(2 / 3)) / 3
    assert out[0].n_backoff == 0
    assert isclose(out[0].sb_nll, round(exp, 6), abs_tol=1e-6)
    # doc 1 contains trigram (c,a,b) and (a,b,d): trained on itself,
    # so no backoff either; doc scores exist for all three docs
    assert set(out) == {0, 1, 2}


def test_stupid_backoff_unseen_falls_to_floor(spark):
    from math import isclose, log

    from connectors_spark.ops.lm import stupid_backoff_scores
    rows = [(0, "x"), (1, "a b"), (2, "a b")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in
           stupid_backoff_scores(df, F.col("doc_id") > 0).collect()}
    # train: "a b" x2 -> N=4, V=2. doc 0 token "x" is OOV:
    # u = (0+1)/(4+2) = 1/6 — the add-one floor, never -inf
    assert isclose(out[0].sb_nll, round(-log(1 / 6), 6), abs_tol=1e-6)


def test_hard_negative_topk_excludes_own_group(spark):
    rows = [
        (0, "a", [1.0, 0.0]),
        (1, "a", [0.99, 0.14]),   # same group, most similar — excluded
        (2, "b", [0.9, 0.43]),    # different group
        (3, "b", [0.0, 1.0]),     # different group, orthogonal
        (4, "c", [1.0, 0.01]),    # different group, near-identical
    ]
    df = spark.createDataFrame(rows, "vec_id: long, source: string, "
                                     "embedding: array<double>")
    q = (df.filter("vec_id = 0")
         .select(F.col("vec_id").alias("query_id"), "embedding",
                 "source"))
    out = sim.hard_negative_topk(df, q, k=2).collect()
    got = [(r.vec_id, r.neg_group, r.rank) for r in out]
    # hardest out-of-group negatives in similarity order; vec 1 (own
    # group) and vec 0 (self) never appear
    assert got == [(4, "c", 1), (2, "b", 2)]
    assert all(r.neg_group != "a" for r in out)


def test_neardup_decontaminate_catches_paraphrase(spark):
    bench = " ".join(f"q{i}" for i in range(20))
    para = " ".join(f"q{i}" if i != 19 else "reworded"
                    for i in range(20))          # near-dup of bench
    clean = " ".join(f"c{i}" for i in range(20))
    train = spark.createDataFrame(
        [(1, para), (2, clean), (3, bench)],     # 3 = verbatim leak
        "doc_id: long, text: string")
    ev = spark.createDataFrame([(100, bench)],
                               "doc_id: long, text: string")
    out = {r.doc_id: r for r in
           dd.neardup_decontaminate(train, ev, threshold=0.5).collect()}
    assert set(out) == {1, 3}
    assert out[3].max_jaccard == 1.0             # verbatim
    assert 0.5 <= out[1].max_jaccard < 1.0       # paraphrase caught
    assert out[1].n_eval_matches == 1


def test_substring_search_short_patterns_fall_back(spark, tmp_path):
    # Patterns under 3 chars have no trigrams to prefilter on; they
    # must fall back to a direct contains scan (pg_trgm limitation,
    # handled correctly instead of silently returning nothing).
    from connectors_spark.ops.ranking import (build_trigram_index,
                                              substring_search,
                                              substring_search_indexed)
    rows = [(0, "ab cd"), (1, "xyz"), (2, "cab")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {(r.pattern, r.doc_id, r.n_occurrences)
           for r in substring_search(df, ["ab", "xyz"]).collect()}
    assert got == {("ab", 0, 1), ("ab", 2, 1), ("xyz", 1, 1)}
    idx = str(tmp_path / "trgm_short")
    build_trigram_index(df, idx, n_buckets=8)
    got2 = {(r.pattern, r.doc_id, r.n_occurrences)
            for r in substring_search_indexed(
                spark, idx, df, ["ab", "xyz"], n_buckets=8).collect()}
    assert got2 == got
    # short-only pattern lists work too
    only = {(r.pattern, r.doc_id) for r in
            substring_search(df, ["ab"]).collect()}
    assert only == {("ab", 0), ("ab", 2)}


def test_edit_distance_pairs_matches_brute_force(spark):
    """edit_distance_pairs (q-gram count-filter candidates) must equal
    the O(n²) definition on a corpus exercising every path: exact
    dups, near dups, short strings below the gram bound (band-join
    fallback), the empty string, and — under the cap — strings whose
    grams are all hot."""
    import itertools

    from connectors_spark.ops.fuzzy import edit_distance_pairs

    rows = [(0, "hello world"), (1, "hello worlds"), (2, "hallo world"),
            (3, "xy"), (4, "xz"), (5, "completely different string"),
            (6, "hello wrld"), (7, ""), (8, "x"), (9, "aaaaaaaaaa"),
            (10, "aaaaaaaaab"), (11, "hello world")]
    df = spark.createDataFrame(rows, "doc_id: long, s: string")

    def lev(a, b):
        import functools

        @functools.lru_cache(None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(d(i - 1, j) + 1, d(i, j - 1) + 1,
                       d(i - 1, j - 1) + (a[i - 1] != b[j - 1]))
        return d(len(a), len(b))

    for k in (1, 2):
        exp = {(min(ia, ib), max(ia, ib), lev(sa, sb))
               for (ia, sa), (ib, sb) in itertools.combinations(rows, 2)
               if lev(sa, sb) <= k}
        for cap in (None, 3):
            got = {(r.a_id, r.b_id, r.dist) for r in
                   edit_distance_pairs(df, k, max_gram_freq=cap)
                   .collect()}
            assert got == exp, (k, cap)


def test_edit_distance_pairs_adversarial_lengths(spark):
    """Completeness of the r15 multi-match-aware pigeonhole window
    (PassJoin Lemma 3) on ADVERSARIAL length combinations: every
    |len(a) - len(b)| in [0, k] at k as large as the registry gates use
    (k=8), lengths straddling the k+1 segment count (segments of
    length 0 and 1), and edits concentrated at the string's ends —
    where a too-tight start-position window would drop pairs first.
    Oracle = the O(n²) levenshtein definition."""
    import itertools

    from connectors_spark.ops.fuzzy import edit_distance_pairs

    base = "abcabdacbadcabdbacdacbd"          # 23 chars, k+1 = 9 segs
    strs = []
    for d in range(0, 9):                     # every Δlen 0..8
        strs.append(base[d:])                 # d deletions at the front
        strs.append(base[:len(base) - d])     # d deletions at the back
        strs.append(("z" * d) + base)         # d inserts at the front
        strs.append(base + ("z" * d))         # d inserts at the back
        strs.append(base[:8] + ("z" * d) + base[8 + d:])  # middle subs
    # lengths straddling the segment count: 0-length segments appear
    strs += ["", "q", "qq", "abcabdacb", "abcabdac", base * 2]
    rows = [(i, s) for i, s in enumerate(dict.fromkeys(strs))]
    df = spark.createDataFrame(rows, "doc_id: long, s: string")

    def lev(a, b):
        la, lb = len(a), len(b)
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                             prev[j - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return prev[lb]

    for k in (2, 8):
        exp = {(min(ia, ib), max(ia, ib), lev(sa, sb))
               for (ia, sa), (ib, sb) in itertools.combinations(rows, 2)
               if lev(sa, sb) <= k}
        for cap in (None, 4):                 # cap=4 guts every gram →
            got = {(r.a_id, r.b_id, r.dist) for r in   # pigeonhole path
                   edit_distance_pairs(df, k, max_gram_freq=cap)
                   .collect()}
            assert got == exp, (k, cap)


def test_substring_search_degenerate_patterns(spark, tmp_path):
    """ADVICE r8: an empty patterns LIST must return an empty frame
    with the search's exact schema (not None), and an empty-string
    pattern must be rejected loudly (it would otherwise divide by
    length(pattern)=0 and vanish silently)."""
    import pytest
    from connectors_spark.ops.ranking import (build_trigram_index,
                                              substring_search,
                                              substring_search_indexed)
    rows = [(0, "ab cd"), (1, "xyz")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = substring_search(df, [])
    assert out.columns == ["pattern", "doc_id", "n_occurrences"]
    assert out.count() == 0
    idx = str(tmp_path / "trgm_degen")
    build_trigram_index(df, idx, n_buckets=8)
    out2 = substring_search_indexed(spark, idx, df, [], n_buckets=8)
    assert out2.columns == ["pattern", "doc_id", "n_occurrences"]
    assert out2.count() == 0
    with pytest.raises(ValueError, match="non-empty"):
        substring_search(df, ["ok", ""])
    with pytest.raises(ValueError, match="non-empty"):
        substring_search_indexed(spark, idx, df, [""], n_buckets=8)


def test_mad_outliers_robust_to_the_outlier_itself(spark):
    """The MAD rule must flag an extreme value that a mean/stddev
    z-score would MISS because the value inflates sigma — the reason
    robust statistics exist."""
    from connectors_spark.ops.quality import mad_outliers
    rows = [(i, "a", 100 + (i % 7)) for i in range(40)] + \
        [(90 + j, "a", 100000) for j in range(5)] + \
        [(200, "b", 5), (201, "b", 6), (202, "b", 7)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, "
                                     "n_chars: long")
    out = {r.doc_id: r for r in
           mad_outliers(df, "n_chars", "source").collect()}
    assert all(out[90 + j].is_outlier for j in range(5))
    assert not any(out[i].is_outlier for i in range(40))
    # group b: tight cluster, no outliers; medians are per-group
    assert not any(out[i].is_outlier for i in (200, 201, 202))
    assert out[200].group_median == 6.0
    # the MASKING effect the MAD rule exists for: five extreme values
    # inflate sigma until each sits under z = 3 — a mean/stddev rule
    # flags nothing, MAD flags all five
    import statistics
    vals = [v for (_i, s, v) in rows if s == "a"]
    mu, sd = statistics.mean(vals), statistics.pstdev(vals)
    assert abs(100000 - mu) < 3.0 * sd       # z-score misses ALL five


def test_mad_outliers_approx_mode_equivalent(spark):
    """approx_accuracy switches both medians to percentile_approx
    (O(accuracy) state per group — the 100 TB mode). At accuracy
    10_000 on 20k-row groups the rank error is sub-row, so flags must
    match the exact mode EXACTLY here; medians must agree to the value
    spread of the rank window."""
    from connectors_spark.ops.quality import mad_outliers
    df = (spark.range(20000)
          .selectExpr("id as doc_id",
                      "cast(id % 4 as string) as source",
                      # heavy-tailed: a few extreme values per group
                      "case when id % 5000 = 17 then 1000000.0 "
                      "else 100.0 + pmod(id, 37) end as n_chars"))
    exact = {r.doc_id: r for r in
             mad_outliers(df, "n_chars", "source").collect()}
    approx = {r.doc_id: r for r in
              mad_outliers(df, "n_chars", "source",
                           approx_accuracy=10000).collect()}
    assert set(exact) == set(approx)
    flags_e = {i: r.is_outlier for i, r in exact.items()}
    flags_a = {i: r.is_outlier for i, r in approx.items()}
    assert flags_e == flags_a
    assert sum(flags_e.values()) == 4          # one extreme per group
    for i in list(exact)[:100]:
        assert abs(exact[i].group_median - approx[i].group_median) <= 1.0
        assert abs(exact[i].group_mad - approx[i].group_mad) <= 1.0


def test_containment_catches_inclusion_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment
    short→long ≈ 1, but Jaccard is tiny — the case the directed
    measure exists for. Direction must be correct, and the hot-shingle
    cap composes (under-counts only)."""
    from connectors_spark.ops.dedup import (ngram_containment_pairs,
                                            ngram_jaccard_pairs)
    quote = " ".join(f"q{i}" for i in range(12))
    filler = " ".join(f"w{i}" for i in range(300))
    rows = [(1, quote), (2, filler + " " + quote),
            (3, " ".join(f"z{i}" for i in range(20)))]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = {(r.a_id, r.b_id): r.containment for r in
             ngram_containment_pairs(df, threshold=0.9).collect()}
    assert pairs.get((1, 2)) == 1.0          # quote fully contained
    assert (2, 1) not in pairs               # reverse is tiny
    assert not [k for k in pairs if 3 in k]
    # Jaccard at the same threshold sees nothing
    assert ngram_jaccard_pairs(df, threshold=0.9).count() == 0
    # identical docs: both directions = 1.0
    df2 = spark.createDataFrame([(1, quote), (2, quote)],
                                "doc_id: long, text: string")
    both = {(r.a_id, r.b_id) for r in
            ngram_containment_pairs(df2, threshold=0.9).collect()}
    assert both == {(1, 2), (2, 1)}


def test_winsorize_stats_matches_reference_math(spark):
    """Clamp + means agree with a Python reference on one group;
    bounds come from the exact interpolated percentile; approx mode
    stays within tolerance."""
    import statistics

    from connectors_spark.ops.quality import winsorize_stats
    vals = [float(v) for v in range(100)] + [10000.0, -500.0]
    df = spark.createDataFrame([(i, "a", v) for i, v in enumerate(vals)],
                               "doc_id: long, source: string, "
                               "n_chars: double")
    row = winsorize_stats(df, "n_chars", "source").first()
    qs = statistics.quantiles(vals, n=100, method="inclusive")
    p_lo, p_hi = qs[4], qs[94]
    assert abs(row.p_lo - round(p_lo, 6)) < 1e-6
    assert abs(row.p_hi - round(p_hi, 6)) < 1e-6
    clamped = [min(max(v, p_lo), p_hi) for v in vals]
    assert abs(row.mean_winsorized - sum(clamped) / len(vals)) < 1e-5
    assert abs(row.mean_raw - sum(vals) / len(vals)) < 1e-5
    n_clip = sum(1 for v in vals if v < p_lo or v > p_hi)
    assert abs(row.clipped_frac - n_clip / len(vals)) < 1e-6
    with pytest.raises(ValueError, match="lo < hi"):
        winsorize_stats(df, "n_chars", "source", lo=0.9, hi=0.1)
    approx = winsorize_stats(df, "n_chars", "source",
                             approx_accuracy=10000).first()
    assert abs(approx.mean_winsorized - row.mean_winsorized) < 2.0


def test_boundary_stitch_detects_split_docs(spark):
    """A document split across extraction shards: suffix of the first
    half equals the prefix-overlap region of the second. The pair must
    surface with the MAXIMAL overlap, direction first→second only;
    unrelated docs stay silent; sub-k docs are out of scope."""
    from connectors_spark.ops.dedup import boundary_stitch_pairs
    words = [f"w{i}" for i in range(60)]
    first = " ".join(words[:35])           # tokens 0..34
    second = " ".join(words[25:])          # tokens 25..59 → overlap 10
    other = " ".join(f"x{i}" for i in range(40))
    tiny = "a b c"
    df = spark.createDataFrame(
        [(1, first), (2, second), (3, other), (4, tiny)],
        "doc_id: long, text: string")
    pairs = {(r.a_id, r.b_id): r.overlap_tokens for r in
             boundary_stitch_pairs(df, k=8).collect()}
    assert pairs == {(1, 2): 10}
    # duplicate docs: whole doc is both suffix and prefix → overlap =
    # full length, both directions
    df2 = spark.createDataFrame([(1, other), (2, other)],
                                "doc_id: long, text: string")
    both = {(r.a_id, r.b_id): r.overlap_tokens for r in
            boundary_stitch_pairs(df2, k=8).collect()}
    assert both == {(1, 2): 40, (2, 1): 40}
    with pytest.raises(ValueError, match="k must be"):
        boundary_stitch_pairs(df, k=0)


def test_ngram_novelty_counts(spark):
    """Novelty = fraction of a doc's distinct shingles in no other
    doc: a fully-copied doc scores 0, fully-unique scores 1, a half
    mix in between."""
    from connectors_spark.ops.quality import ngram_novelty
    shared = " ".join(f"s{i}" for i in range(10))
    unique = " ".join(f"u{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, shared), (2, shared), (3, unique),
         (4, shared + " " + " ".join(f"v{i}" for i in range(10)))],
        "doc_id: long, text: string")
    out = {r.doc_id: r for r in ngram_novelty(df).collect()}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert out[3].novelty == 1.0
    # doc 4: 18 shingles; the 8 fully inside the shared span collide
    # with docs 1/2, the bridge + v-span shingles are unique
    assert out[4].n_shingles == 18
    assert out[4].novel_shingles == 10
    assert abs(out[4].novelty - round(10 / 18, 6)) < 1e-9


def test_group_sample_exact_k_and_two_phase_equivalence(spark):
    """Exactly min(k, |group|) per group; the salted two-phase result
    equals the single-window definition; deterministic across runs."""
    from connectors_spark.functions.text import hash64
    from connectors_spark.ops.sampling import group_sample
    df = (spark.range(3000)
          .selectExpr("id as doc_id", "cast(id % 5 as string) as source")
          .union(spark.createDataFrame([(90001, "tiny")],
                                       "doc_id: long, source: string")))
    out = group_sample(df, "source", 10).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.source, []).append(r.doc_id)
    assert all(len(v) == 10 for g, v in by_g.items() if g != "tiny")
    assert by_g["tiny"] == [90001]       # under-full group: all rows
    # equivalence with the one-window definition
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    w = Window.partitionBy("source").orderBy(
        F.asc(hash64(F.col("doc_id").cast("string"))), F.asc("doc_id"))
    ref = (df.withColumn("_rn", F.row_number().over(w))
           .where("_rn <= 10").drop("_rn").collect())
    assert sorted((r.source, r.doc_id) for r in out) \
        == sorted((r.source, r.doc_id) for r in ref)
    # deterministic
    again = group_sample(df, "source", 10).collect()
    assert sorted((r.source, r.doc_id) for r in again) \
        == sorted((r.source, r.doc_id) for r in out)
    with pytest.raises(ValueError, match="k must be"):
        group_sample(df, "source", 0)


def test_prefix_dim_recall_semantics(spark):
    """prefix_dim_recall: vectors whose ranking is fully decided inside
    the prefix give recall 1.0; vectors whose prefix is identical (all
    signal in the tail) give chance-level overlap — and every query
    gets a row even at 0 overlap."""
    from pyspark.sql import Row

    from connectors_spark.ops.similarity import prefix_dim_recall

    # Case 1: tail is all zeros → prefix ranking == full ranking
    rows = [Row(vec_id=i, embedding=[float(i + 1), float(2 * i + 1),
                                     0.0, 0.0]) for i in range(12)]
    df = spark.createDataFrame(rows)
    q = (df.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = {r.query_id: (r.n_overlap, r.recall)
           for r in prefix_dim_recall(df, q, k=4, prefix_dims=2)
           .collect()}
    assert set(out) == {0, 1}
    assert all(v == (4, 1.0) for v in out.values())

    # Case 2: identical prefix, all signal in the tail → the prefix
    # ranking is tie-broken by id alone; overlap is whatever ids 1..4
    # happen to share with the full ranking, and rows still appear
    rows2 = [Row(vec_id=i, embedding=[1.0, 1.0,
                                      float((7 * i) % 13),
                                      float((11 * i) % 17)])
             for i in range(12)]
    df2 = spark.createDataFrame(rows2)
    q2 = (df2.filter(F.col("vec_id") == 0)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = prefix_dim_recall(df2, q2, k=3, prefix_dims=2).collect()
    assert len(got) == 1
    r = got[0]
    assert 0 <= r.n_overlap <= 3
    assert r.recall == round(r.n_overlap / 3.0, 6)


def test_edit_distance_pairs_degenerate_vocab_exact(spark):
    """Tiny-vocabulary corpus where the hot-gram cap guts EVERY
    string's reduced gram set (the sf1-probe failure shape): the
    PassJoin pigeonhole fallback must stay exact vs the O(n²)
    definition — and the candidate relation must stay far below
    all-pairs (the old length-band fallback degenerated to n²/2)."""
    import itertools
    import random

    from connectors_spark.ops.fuzzy import (_pigeonhole_pairs,
                                            edit_distance_pairs)

    rng = random.Random(5)
    vocab = ["merge", "scan", "join", "hash", "row"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(10))[:48])
            for i in range(150)]
    # seed a few true near-pairs
    rows += [(150, rows[0][1][:-1] + "x"), (151, rows[1][1])]
    df = spark.createDataFrame(rows, "doc_id: long, s: string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    k = 4
    exp = {(min(ia, ib), max(ia, ib), lev(sa, sb))
           for (ia, sa), (ib, sb) in itertools.combinations(rows, 2)
           if lev(sa, sb) <= k}
    # cap=10 makes every trigram hot → the whole corpus is "shorts"
    got = {(r.a_id, r.b_id, r.dist) for r in
           edit_distance_pairs(df, k, max_gram_freq=10).collect()}
    assert got == exp
    # the pigeonhole candidate set is a small fraction of all-pairs
    shorts = df.selectExpr("doc_id AS _id", "s AS _s",
                           "length(s) AS _len")
    n_cand = _pigeonhole_pairs(shorts, k).count()
    n_all = len(rows) * (len(rows) - 1) // 2
    assert n_cand < n_all // 4, (n_cand, n_all)


def test_scene_cuts_detects_exact_boundaries(spark):
    """scene_cuts over real MJPEG decode finds exactly the closed-form
    cut set — no false cuts inside a scene (bit-exact decode makes
    within-scene diffs exactly zero) and none missed."""
    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    got = {(r.doc_id, r.cut_idx) for r in
           mm.scene_cuts(mm.synth_mjpeg_scenes_media(docs)).collect()}
    want = {(d, f) for d in range(30) for f in range(1, 8)
            if (d + f) % 3 == 0}
    assert got == want


def test_audio_segments_merges_adjacent_active_blocks(spark):
    """audio_segments over real WAV decode finds exactly the merged
    closed-form active runs: doc_id % 3 == 1 gives ONE full-length
    segment (all five blocks active, fully merged), % 3 == 2 gives two
    separated segments, % 3 == 0 merges blocks 1+2."""
    docs = spark.range(9).select(F.col("id").alias("doc_id"))
    got = {}
    for r in mm.audio_segments(
            mm.synth_wav_segments_media(docs)).collect():
        got.setdefault(r.doc_id, []).append((r.seg_start, r.seg_end))
    for d in range(9):
        got[d].sort()
    assert got[0] == [(4, 12), (16, 20)]     # blocks {1,2},{4}
    assert got[1] == [(0, 20)]               # all blocks, one run
    assert got[2] == [(0, 4), (12, 16)]      # blocks {0},{3}
    assert got[3] == got[0] and got[4] == got[1] and got[5] == got[2]
