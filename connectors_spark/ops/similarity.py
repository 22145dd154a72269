"""Similarity search over embedding columns (array<float>).

Two paths, mirroring production vector-search architecture:

- **Brute-force top-k** (`cosine_topk`): broadcast the (small) query set,
  one map-side pass over the corpus computing cosine in codegen'd double
  arithmetic, then a per-query top-k window. Exact; the baseline and the
  recall oracle. Scales linearly in corpus size — at 100 TB this is a
  single map stage + a tiny shuffle of (queries × corpus_partitions × k)
  pre-reduced rows.
- **LSH-bucketed ANN** (`ann_lsh_topk`): random-hyperplane signatures
  (deterministic md5-derived planes) bucket the corpus; a query probes
  only its bucket (and optionally multi-probe neighbors). Sub-linear
  reads at the cost of recall; recall is measured against brute force in
  tests (tests/test_similarity.py).

Exact-verify dot products are `zip_with`+`aggregate` expressions
(JVM-side); bulk LSH signatures are one Arrow-batched numpy matmul per
batch (see _sig_array) — measured ~4x faster than the expression tree.
Reference parity: none (delta-io/connectors has no vector ops) — §7
extension.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_d, dot_d, norm_d


# The query side of the exact/IVF paths is collected to the driver by
# documented contract ("same contract as a broadcast"). Enforce it: a
# silently oversized query side would OOM the driver and ship a huge
# closure to every task. Large query sets belong on the ANN paths
# (ann_lsh_topk / ann_query_indexed), which keep both sides distributed.
MAX_DRIVER_QUERY_ROWS = 10_000


def _collect_query_side(queries: DataFrame, query_id_col: str,
                        vec_col: str, max_rows: int = MAX_DRIVER_QUERY_ROWS,
                        extra_cols: tuple = ()):
    # count() guard first, then collect(): two fully-parallel jobs. A
    # take(max+1) would run Spark's incremental limit (1 partition, then
    # 4x scale-up rounds) — several SEQUENTIAL jobs re-running the query
    # subplan whenever the side has fewer than max rows, which is the
    # common case. extra_cols ride along unrenamed (e.g. the group
    # column of hard_negative_topk).
    narrow = queries.select(F.col(query_id_col).alias("_qid"),
                            F.col(vec_col).alias("_qv"), *extra_cols)
    if narrow.count() > max_rows:
        raise ValueError(
            f"query side exceeds {max_rows} rows; the exact/IVF top-k "
            f"paths collect queries to the driver (broadcast contract). "
            f"Use the distributed ANN paths (ann_lsh_topk / "
            f"ann_query_indexed) for large query sets, or raise max_rows "
            f"explicitly.")
    return narrow.collect()


def _spread(df: DataFrame) -> DataFrame:
    """Widen narrow inputs to cluster parallelism (no-op at scale)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    `queries` must have (query_id_col, vec_col) and be small (collected
    to a closure constant — the same contract as a broadcast). Scoring
    is one numpy matmul per Arrow batch inside mapInPandas, which also
    performs the LOCAL top-k: each corpus partition emits at most
    queries×k pre-reduced rows, so the final ranking window shuffles
    O(partitions · q · k) rows — never the corpus×queries cross
    product. Self-matches (same id) are excluded. Ranking is
    deterministic: (rounded sim DESC, id ASC); the cosine divides
    dot/query_norm/corpus_norm in the oracle's operation order. Ids are
    assumed integral (the emitted schema types them as long).
    """
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    qrows = _collect_query_side(queries, query_id_col, vec_col)
    qids = [r["_qid"] for r in qrows]
    qmat = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    qnorm = np.where(qnorm == 0, 1.0, qnorm)
    out_schema = StructType([
        StructField("_qid", LongType()),
        StructField("_cid", LongType()),
        StructField("sim", DoubleType()),
    ])

    def local_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cids = pdf[id_col].to_numpy()
            cnorm = np.sqrt((mat * mat).sum(axis=1))
            cnorm = np.where(cnorm == 0, 1.0, cnorm)
            dots = mat @ qmat.T                       # n × q
            out = {"_qid": [], "_cid": [], "sim": []}
            for j, qid in enumerate(qids):
                sims = np.round(dots[:, j] / qnorm[j] / cnorm, 6)
                mask = cids != qid
                order = np.lexsort((cids[mask], -sims[mask]))[:k]
                sel_ids = cids[mask][order]
                sel_sims = sims[mask][order]
                out["_qid"] += [qid] * len(sel_ids)
                out["_cid"] += list(sel_ids)
                out["sim"] += list(sel_sims)
            yield pd.DataFrame(out)

    c = _spread(corpus).select(id_col, vec_col)
    scored = c.mapInPandas(local_topk, out_schema)
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("_qid").alias(query_id_col),
                    F.col("_cid").alias(id_col), "sim", "rank"))


# --------------------------------------------------------------------------
# Binary sign quantization + Hamming prefilter (1 bit/dim ANN tier)
# --------------------------------------------------------------------------

def _pack_signs(mat: "np.ndarray", nwords: int) -> "np.ndarray":
    """(n, dim) float matrix -> (n, nwords) int64 sign-bit words.
    Bit i of word j is 1 iff component 64j+i > 0 (little-endian bit
    order within each word). The uint64->int64 step is a VIEW (bit
    reinterpretation, exact two's complement), never a value cast."""
    bits = np.packbits(mat > 0, axis=1, bitorder="little")
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.pad(bits, ((0, 0), (0, pad)))
    return np.ascontiguousarray(bits).view("<u8").view(np.int64) \
        .reshape(len(mat), nwords)


def hamming_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 rerank_m: int = 48, dim: int = 64,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id") -> DataFrame:
    """Binary (1 bit/dim) sign-quantized top-k: Hamming prefilter +
    exact cosine rerank — the memory-tier ANN pattern (Indyk/Motwani
    bit sampling; Charikar 2002 connects sign bits to angle: for
    random projections P[bit differs] = θ/π, and raw sign bits are the
    degenerate axis-aligned case).

    100 TB shape: the corpus is scanned once carrying dim/64 int64
    WORDS per row (a 32x read/memory cut vs float32 vectors); the
    distance is a handful of codegen'd ``bit_count(xor)`` ops per
    (row, query) — no float math, no HOF, no Python. Per-query
    candidates are pre-reduced to ``rerank_m`` INSIDE each partition
    via the exact two-phase min-k (partition-local min-m, merge, min-m
    again), so the shuffle is O(partitions * q * m) rows, never
    corpus x queries. Only the surviving q*m candidates rejoin the
    float vectors for the exact cosine rerank.

    Deterministic end to end: Hamming ties break by id ASC (both
    phases sort (ham, id) structs); the rerank rounds sim to 6 and
    ranks (sim DESC, id ASC) exactly like cosine_topk. Bit packing is
    sign(v) = v > 0 — an exact predicate, identical on float32 input
    and the oracle's double cast.

    Returns (query_id_col, id_col, ham, sim, rank), k rows per query.
    """
    from pyspark.sql.types import ArrayType, LongType

    from ..shipping import ensure_shipped_by_value
    ensure_shipped_by_value()
    nwords = (dim + 63) // 64
    qrows = _collect_query_side(queries, query_id_col, vec_col)
    qmat = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    qwords = _pack_signs(qmat, nwords)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    qnorm = np.where(qnorm == 0, 1.0, qnorm)
    spark = corpus.sparkSession
    from ..localrel import local_rows_df
    qdf = local_rows_df(
        spark,
        [(int(r["_qid"]), [int(w) for w in qwords[i]], float(qnorm[i]))
         for i, r in enumerate(qrows)],
        "_qid long, _qw array<long>, _qn double")

    @F.pandas_udf(ArrayType(LongType()))
    def _words(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        return pd.Series(list(_pack_signs(m, nwords)))

    c = _spread(corpus).select(id_col, vec_col) \
        .withColumn("_w", _words(F.col(vec_col)))
    j = (c.join(F.broadcast(qdf))
         .filter(F.col(id_col) != F.col("_qid")))
    ham = F.lit(0).cast("long")
    for wi in range(nwords):  # static unroll: flat, codegen'd
        ham = ham + F.bit_count(
            F.element_at("_w", wi + 1).bitwiseXOR(
                F.element_at("_qw", wi + 1))).cast("long")
    scored = j.select("_qid", F.struct(
        ham.alias("h"), F.col(id_col).cast("long").alias("i")).alias("_s"))
    local = (scored
             .groupBy(F.spark_partition_id().alias("_p"), "_qid")
             .agg(F.slice(F.array_sort(F.collect_list("_s")), 1,
                          rerank_m).alias("_c")))
    cand = (local.groupBy("_qid")
            .agg(F.slice(F.array_sort(F.flatten(F.collect_list("_c"))),
                         1, rerank_m).alias("_c"))
            .select("_qid", F.explode("_c").alias("_e"))
            .select("_qid", F.col("_e.h").alias("ham"),
                    F.col("_e.i").alias("_cid")))
    cvecs = corpus.select(F.col(id_col).cast("long").alias("_cid"),
                          F.col(vec_col).alias("_cv"))
    qn = qdf.select("_qid", "_qn")
    qvecs = local_rows_df(
        spark,
        [(int(r["_qid"]), [float(v) for v in r["_qv"]]) for r in qrows],
        "_qid long, _qv array<double>")
    cnorm = norm_d("_cv")
    sim = F.round(dot_d("_cv", "_qv")
                  / F.col("_qn")
                  / F.when(cnorm == 0, F.lit(1.0)).otherwise(cnorm), 6)
    # broadcast the CANDIDATE side (q·m rows) — the other side is the
    # whole corpus, which must stay a scan, never a build side
    r = (F.broadcast(cand).join(cvecs, "_cid")
         .join(F.broadcast(qn), "_qid")
         .join(F.broadcast(qvecs), "_qid")
         .withColumn("sim", sim))
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_cid"))
    return (r.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("_qid").alias(query_id_col),
                    F.col("_cid").alias(id_col), "ham", "sim", "rank"))


# --------------------------------------------------------------------------
# Random-hyperplane LSH
# --------------------------------------------------------------------------

def _plane(dim: int, plane_idx: int) -> List[float]:
    """Deterministic pseudo-random hyperplane: component j is derived from
    md5(f"plane:{plane_idx}:{j}") mapped to [-1, 1]. No RNG state — the
    same plane is reproducible anywhere (including a SQL oracle)."""
    import hashlib
    comps = []
    for j in range(dim):
        h = hashlib.md5(f"plane:{plane_idx}:{j}".encode()).hexdigest()
        v = int(h[:15], 16) / float(1 << 60)   # [0, 1)
        comps.append(2.0 * v - 1.0)
    return comps


def signature_col(vec_col: str, dim: int, num_planes: int,
                  table_idx: int = 0):
    """Column: integer LSH signature = sign-bit pattern over this hash
    table's planes (each table uses an independent plane set). Expression
    form — kept for single-table uses; the hot path batches all tables
    through `_sig_array` instead."""
    sig = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = F.array(*[F.lit(c)
                          for c in _plane(dim, table_idx * num_planes + p)])
        d = dot_d(F.col(vec_col), plane)
        sig = sig + F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(0)
    return sig


def _sig_array(vec_col: str, dim: int, num_planes: int, num_tables: int):
    """Column: array<long> of the vector's signature in every hash table.

    One Arrow-batched pandas UDF: the (dim × tables·planes) plane matrix
    is a closure constant, each batch is a single numpy matmul + sign-bit
    pack. Replaces tables·planes interpreted higher-order-function dot
    products per row (and their enormous codegen'd literal arrays) with
    vectorized BLAS — the difference between seconds and milliseconds of
    signature time per million rows. Plane values are identical to
    `signature_col`; only summation order inside a dot product differs,
    which can flip a bucket bit only when |dot| ≲ 1e-13."""
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array([_plane(dim, t * num_planes + p)
                       for t in range(num_tables)
                       for p in range(num_planes)]).T  # dim × (T·m)
    weights = (1 << np.arange(num_planes, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _sigs(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)      # n × dim
        bits = (mat @ planes) > 0                          # n × T·m
        packed = (bits.reshape(len(mat), num_tables, num_planes)
                  * weights).sum(axis=2)                   # n × T
        return pd.Series(list(packed))

    return _sigs(F.col(vec_col))


def _bucket_keys(vec_col: str, dim: int, num_planes: int, num_tables: int):
    """array<struct<tbl,sig>> — one bucket key per hash table."""
    return F.transform(
        _sig_array(vec_col, dim, num_planes, num_tables),
        lambda s, i: F.struct(i.cast("int").alias("tbl"), s.alias("sig")))


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 dim: int = 64, num_planes: int = 3, num_tables: int = 12,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    L independent hash tables of m planes each: a close pair collides in
    ≥1 table with prob 1-(1-p^m)^L where p = 1-θ/π. Candidates are the
    union over tables (distinct), verified by exact cosine, ranked
    in-candidate-set. Corpus-side cost is O(n·L) rows shuffled — at
    100 TB the corpus would be WRITTEN bucket-partitioned once
    (partitionBy(tbl, sig)) so each query probes L partitions instead
    of scanning.
    """
    keys = _bucket_keys(vec_col, dim, num_planes, num_tables)
    csig = (_spread(corpus).select(F.col(id_col).alias("_cid"),
                                   F.col(vec_col).alias("_cv"),
                                   F.explode(keys).alias("_bk"))
            .select("_cid", "_cv", "_bk.tbl", "_bk.sig"))
    q = (queries.select(F.col(query_id_col).alias("_qid"),
                        F.col(vec_col).alias("_qv"),
                        F.explode(keys).alias("_bk"))
         .select("_qid", "_qv", "_bk.tbl", "_bk.sig"))
    scored = (csig.join(F.broadcast(q), ["tbl", "sig"])
              .filter(F.col("_cid") != F.col("_qid"))
              .select("_qid", "_cid",
                      F.round(cosine_d("_qv", "_cv"), 6).alias("sim"))
              .distinct())
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("_qid").alias(query_id_col),
                    F.col("_cid").alias(id_col), "sim", "rank"))


# Safety margin for the numpy candidate PREFILTER below: BLAS blocked
# summation and the JVM's sequential zip_with sum agree to ~1e-14
# relative on float64, and round(·, 6) moves a value by <= 5e-7 — so a
# raw-cosine margin of 1e-4 can never drop a pair the exact filter
# keeps. False candidates only cost a little exact re-verification.
_PREFILTER_MARGIN = 1e-4


def _corpus_closure(df: DataFrame, id_col: str, vec_col: str):
    """(ids array, matrix float64 [n, dim], id -> row index dict)
    collected to the driver — the same memory class as the forced
    F.broadcast of the full corpus these pair verifiers already
    required (a broadcast relation is built driver-side too). Ids keep
    the column's own type (integral, string, ...)."""
    rows = df.select(F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_v")).collect()
    id_list = [r["_id"] for r in rows]
    mat = np.array([r["_v"] for r in rows], dtype=np.float64)
    return np.array(id_list), mat, {i: ix for ix, i in enumerate(id_list)}


def _pair_schema(df: DataFrame, id_col: str):
    """(a_id, b_id) typed like the input's id column."""
    from pyspark.sql.types import StructField, StructType
    id_type = df.schema[id_col].dataType
    return StructType([StructField("a_id", id_type),
                       StructField("b_id", id_type)])


def _exact_verify(cand: DataFrame, df: DataFrame, threshold: float,
                  id_col: str, vec_col: str) -> DataFrame:
    """Attach vectors to (a_id, b_id) candidates and apply the EXACT
    filter — identical arithmetic (dot/na/nb operation order, F.round
    half-up) to the pre-r15 per-pair path, so results are bit-identical
    to the double-precision SQL oracle."""
    withn = df.select(F.col(id_col), F.col(vec_col),
                      norm_d(vec_col).alias("_n"))
    va = withn.select(F.col(id_col).alias("a_id"),
                      F.col(vec_col).alias("_av"),
                      F.col("_n").alias("_na"))
    vb = withn.select(F.col(id_col).alias("b_id"),
                      F.col(vec_col).alias("_bv"),
                      F.col("_n").alias("_nb"))
    na, nb = F.col("_na"), F.col("_nb")
    # A zero norm makes the cosine 0/0: NaN, the IEEE quotient (ANSI
    # division would raise instead). Spark orders NaN above every
    # value, so such a pair passes any threshold.
    cos = (F.when((na == 0) | (nb == 0), F.lit(float("nan")))
           .otherwise(dot_d("_av", "_bv") / na / nb))
    return (cand.join(F.broadcast(va), "a_id")
            .join(F.broadcast(vb), "b_id")
            .select("a_id", "b_id", F.round(cos, 6).alias("sim"))
            .filter(F.col("sim") >= threshold))


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.45,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (a_id < b_id) with
    round(cosine, 6) >= threshold.

    Exact all-pairs is inherently O(n²), so this is the
    verification/oracle path; at 100 TB corpus scale use the LSH
    candidate generator (`cosine_neardup_pairs_lsh`) which bounds the
    pair stream to same-bucket collisions. The n² arithmetic runs as
    one numpy matmul per Arrow batch against the closure-held corpus
    matrix (guide §4.1/§4.3 — the cosine_topk pattern; r14's
    per-pair zip_with expression over the broadcast nested-loop join
    evaluated interpreted and dominated the op), keeping only
    candidates within _PREFILTER_MARGIN of the threshold; survivors are
    re-verified by the EXACT JVM expression (dot/na/nb operation
    order + F.round half-up), so output is bit-identical to a
    double-precision SQL oracle. A zero-norm vector's cosine is NaN on
    both sides, and both keep the pair.
    """
    ids, mat, _ = _corpus_closure(df, id_col, vec_col)
    norms = np.sqrt((mat * mat).sum(axis=1))
    cut = threshold - _PREFILTER_MARGIN

    def prefilter(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            amat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            aids = pdf[id_col].to_numpy()
            anorm = np.sqrt((amat * amat).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (amat @ mat.T) / anorm[:, None] / norms[None, :]
                # NaN (a zero-norm vector) passes the exact filter
                keep = (((sims >= cut) | np.isnan(sims))
                        & (ids[None, :] > aids[:, None]))
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame({"a_id": aids[ai], "b_id": ids[bi]})

    cand = (_spread(df.select(F.col(id_col), F.col(vec_col)))
            .mapInPandas(prefilter, _pair_schema(df, id_col)))
    return _exact_verify(cand, df, threshold, id_col, vec_col)


def cosine_neardup_pairs_lsh(df: DataFrame, threshold: float = 0.45,
                             dim: int = 64, num_planes: int = 3,
                             num_tables: int = 12, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             max_bucket_size: Optional[int] = 1024
                             ) -> DataFrame:
    """Approximate near-dup pairs: multi-table LSH candidates verified by
    exact cosine — the 100 TB path (subset of `cosine_neardup_pairs`;
    recall measured in tests).

    ``max_bucket_size`` bounds the per-bucket pair expansion the same
    way minhash LSH does (ops/dedup.py): with FIXED plane counts,
    bucket occupancy grows linearly with the corpus and the in-bucket
    pair volume quadratically — the sf1 sweep measured the uncapped
    bucket self-join at ~2×10⁹ candidate rows (50k vectors / 2³ sigs /
    12 tables). Buckets are clipped to their ``max_bucket_size``
    smallest ids via the exact two-phase distributed min-k (cap within
    each input partition, merge, cap again — no aggregation row ever
    exceeds O(cap × fan_in)), so candidates are bounded at
    O(tables · 2^planes · cap²) regardless of corpus size. A bucket
    that big means the planes are too few for the corpus — raise
    ``num_planes`` to keep recall, or the cap keeps cost bounded while
    recall degrades gracefully (deterministically: smallest ids kept)."""
    keys = _bucket_keys(vec_col, dim, num_planes, num_tables)
    ex = (_spread(df).select(F.col(id_col).alias("_id"),
                             F.explode(keys).alias("_bk"))
          .select("_id", "_bk.tbl", "_bk.sig"))
    if max_bucket_size is None:
        grouped = (ex.groupBy("tbl", "sig")
                   .agg(F.array_sort(F.collect_list("_id")).alias("ids")))
    else:
        local = (ex.groupBy("tbl", "sig",
                            F.spark_partition_id().alias("_p"))
                 .agg(F.slice(F.array_sort(F.collect_list("_id")), 1,
                              max_bucket_size).alias("_ids")))
        grouped = (local.groupBy("tbl", "sig")
                   .agg(F.slice(
                       F.array_sort(F.flatten(F.collect_list("_ids"))),
                       1, max_bucket_size).alias("ids")))
    # In-bucket pair expansion instead of a bucket self-join: the join's
    # two sides would each recompute the plane-signature subtree (HOF
    # lambdas defeat subtree dedup), and a pair colliding in many
    # tables is still verified exactly once after the distinct.
    ids = F.col("ids")
    pair_expand = F.flatten(F.transform(
        ids,
        lambda a, i: F.transform(
            F.slice(ids, i + F.lit(2),
                    F.greatest(F.size(ids) - i - 1, F.lit(0))),
            lambda b: F.struct(F.least(a, b).alias("a_id"),
                               F.greatest(a, b).alias("b_id")))))
    cand = (grouped.filter(F.size("ids") >= 2)
            .select(F.explode_outer(pair_expand).alias("p"))
            .where(F.col("p").isNotNull())
            .select("p.a_id", "p.b_id"))
    # Candidate PREFILTER (r15, guide §4.1/§4.3): the in-bucket pair
    # stream is parameter-bounded but still O(tables·2^planes·cap²);
    # evaluating the 64-dim zip_with dot per pair in the JVM
    # interpreter dominated the op. Instead only (a_id, b_id) longs
    # cross the Python boundary (§8: keys, not payloads); each batch
    # GATHERS rows from the closure-held corpus matrix (same memory
    # class as the forced F.broadcast of the full corpus the verify
    # join already required) and one vectorized einsum filters with
    # margin. Survivors are re-verified by the EXACT JVM expression —
    # bit-identical output. The multi-table dedup (distinct) runs
    # AFTER the prefilter: scoring a pair once per colliding table in
    # numpy costs microseconds, while distinct-ing the full candidate
    # stream was a dedicated exchange over millions of 16-byte rows
    # (guide §2.3 — the shuffle, not the arithmetic, was the cost).
    _, mat, idx = _corpus_closure(df, id_col, vec_col)
    norms = np.sqrt((mat * mat).sum(axis=1))
    cut = threshold - _PREFILTER_MARGIN

    def prefilter(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ai = pdf["a_id"].map(idx).to_numpy()
            bi = pdf["b_id"].map(idx).to_numpy()
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (np.einsum("ij,ij->i", mat[ai], mat[bi])
                        / norms[ai] / norms[bi])
            keep = sims >= cut
            yield pdf[["a_id", "b_id"]][keep]

    cand = (cand.mapInPandas(prefilter, _pair_schema(df, id_col))
            .distinct())
    return _exact_verify(cand, df, threshold, id_col, vec_col)


# --------------------------------------------------------------------------
# Materialized ANN index (bucket-partitioned Delta table)
# --------------------------------------------------------------------------

def build_ann_index(corpus: DataFrame, index_path: str, dim: int = 64,
                    num_planes: int = 3, num_tables: int = 12,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    mode: str = "overwrite") -> int:
    """Write the corpus as a Delta table partitioned by (tbl, sig) — one
    directory per LSH bucket. Built once, the index turns every ANN query
    into a partition-pruned scan of L buckets instead of a corpus sweep:
    sub-linear reads, and the pruning happens in our own metadata plane
    (the driver-side file pruner) before any Parquet is opened. Returns the committed
    version."""
    from ..table import DeltaTable
    keys = _bucket_keys(vec_col, dim, num_planes, num_tables)
    exploded = (corpus.select(F.col(id_col), F.col(vec_col),
                              F.explode(keys).alias("_bk"))
                .select(F.col("_bk.tbl").alias("tbl"),
                        F.col("_bk.sig").alias("sig"),
                        id_col, vec_col))
    t = DeltaTable.for_path(corpus.sparkSession, index_path)
    return t.write(exploded, mode=mode, partition_by=["tbl", "sig"])


def ann_query_indexed(spark, index_path: str, queries: DataFrame, k: int = 5,
                      dim: int = 64, num_planes: int = 3,
                      num_tables: int = 12, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      query_id_col: str = "query_id") -> DataFrame:
    """Probe a `build_ann_index` table: hash each query to its L bucket
    keys, partition-prune the index scan to exactly those buckets (an OR
    of (tbl, sig) conjuncts over the typed predicate AST — E9/E10), then
    exact-cosine verify and rank within candidates. Identical results to
    `ann_lsh_topk` (same planes, same tie-break) at a fraction of the
    read: L·Q buckets instead of the whole corpus."""
    from ..expressions import Col, Lit
    from ..table import DeltaTable
    keys = _bucket_keys(vec_col, dim, num_planes, num_tables)
    qk = (queries.select(F.col(query_id_col).alias("_qid"),
                         F.col(vec_col).alias("_qv"),
                         F.explode(keys).alias("_bk"))
          .select("_qid", "_qv", "_bk.tbl", "_bk.sig"))
    probe = sorted({(r["tbl"], r["sig"])
                    for r in qk.select("tbl", "sig").distinct().collect()})
    pred = None
    for t, s in probe:
        term = (Col("tbl") == Lit(t)) & (Col("sig") == Lit(s))
        pred = term if pred is None else (pred | term)
    cand = DeltaTable.for_path(spark, index_path).scan(pred).to_df()
    scored = (cand.join(F.broadcast(qk), ["tbl", "sig"])
              .filter(F.col(id_col) != F.col("_qid"))
              .select("_qid", F.col(id_col).alias("_cid"),
                      F.round(cosine_d("_qv", vec_col), 6).alias("sim"))
              .distinct())
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("_qid").alias(query_id_col),
                    F.col("_cid").alias(id_col), "sim", "rank"))


def prefix_dim_recall(corpus: DataFrame, queries: DataFrame,
                      k: int = 10, prefix_dims: int = 16,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      query_id_col: str = "query_id") -> DataFrame:
    """Matryoshka-style prefix-dimension retrieval audit (Kusupati et
    al. 2022, MRL): rank the corpus twice — once on the FULL vector,
    once on only the first ``prefix_dims`` components — and report
    per-query overlap@k of the two neighbor sets.

    The 100 TB question this answers directly: can the ANN index store
    a d/D prefix of every vector (a 4× memory/IO cut at d = D/4) and
    keep acceptable recall, re-ranking the shortlist with full vectors?
    Both rankings reuse :func:`cosine_topk`'s scale shape (numpy matmul
    per Arrow batch, per-partition local top-k, O(partitions·q·k)
    shuffle); the overlap is one equi-join on (query, neighbor) plus a
    per-query count — never a corpus-wide comparison.

    Returns (query_id_col, n_overlap, recall): one row per query, with
    recall = n_overlap / k rounded to 6 (0.0 rows preserved via the
    left join from the full ranking's query set)."""
    full = cosine_topk(corpus, queries, k, id_col, vec_col, query_id_col)
    pre_c = corpus.withColumn(vec_col, F.slice(F.col(vec_col), 1,
                                               prefix_dims))
    pre_q = queries.withColumn(vec_col, F.slice(F.col(vec_col), 1,
                                                prefix_dims))
    pre = cosine_topk(pre_c, pre_q, k, id_col, vec_col, query_id_col)
    hit = (full.select(query_id_col, id_col)
           .join(pre.select(query_id_col, id_col,
                            F.lit(1).alias("_hit")),
                 [query_id_col, id_col], "left"))
    return (hit.groupBy(query_id_col)
            .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long")
                 .alias("n_overlap"))
            .select(query_id_col, "n_overlap",
                    F.round(F.col("n_overlap") / F.lit(float(k)), 6)
                    .alias("recall")))


def embedding_norm_stats(df: DataFrame, vec_col: str = "embedding",
                         label_col: str = "label") -> DataFrame:
    """Per-label corpus stats (norm mean/min/max, count) — sanity op."""
    return (df.select(F.col(label_col),
                      norm_d(vec_col).alias("_n"))
            .groupBy(label_col)
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.round(F.avg("_n"), 6).alias("avg_norm"),
                 F.round(F.min("_n"), 6).alias("min_norm"),
                 F.round(F.max("_n"), 6).alias("max_norm")))


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN index: coarse quantizer + pruned list probes
# --------------------------------------------------------------------------

def _ivf_centroids(corpus: DataFrame, nlist: int, id_col: str,
                   vec_col: str) -> "np.ndarray":
    """Deterministic coarse quantizer: the corpus vectors whose md5(id)
    hashes are the nlist smallest (an order-free pseudo-random sample —
    no RNG state, no Lloyd iterations whose float summation order could
    differ run-to-run). Returns (nlist × dim), L2-normalized."""
    from ..functions.text import hash64
    rows = (corpus.select(F.col(id_col).alias("_id"),
                          F.col(vec_col).alias("_v"),
                          hash64(F.col(id_col).cast("string")).alias("_h"))
            .orderBy("_h", "_id").limit(nlist).collect())
    cents = np.array([r["_v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    return cents / np.where(norms == 0, 1.0, norms)


def _ivf_assign_col(vec_col: str, cents: "np.ndarray"):
    """Column: index of the cosine-nearest centroid (one numpy matmul
    per Arrow batch; ties break to the lowest list id via argmax)."""
    from pyspark.sql.types import IntegerType
    centsT = cents.T  # dim × nlist

    @F.pandas_udf(IntegerType())
    def _assign(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(norms == 0, 1.0, norms)
        return pd.Series(np.argmax(mat @ centsT, axis=1).astype("int32"))

    return _assign(F.col(vec_col))


def build_ivf_index(corpus: DataFrame, index_path: str, nlist: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    mode: str = "overwrite") -> "np.ndarray":
    """Write the corpus as a Delta table partitioned by IVF list id.

    The coarse quantizer is a deterministic hash-sample of the corpus
    (see _ivf_centroids); every vector lands in exactly ONE list (vs L
    copies under multi-table LSH), so the index stores the corpus once.
    Queries read only `nprobe` list partitions — pruned in our metadata
    plane before any Parquet opens. Returns the centroid matrix (the
    caller persists it however it likes; it is re-derivable from the
    corpus deterministically)."""
    from ..table import DeltaTable
    cents = _ivf_centroids(corpus, nlist, id_col, vec_col)
    assigned = corpus.select(
        _ivf_assign_col(vec_col, cents).alias("list_id"), id_col, vec_col)
    t = DeltaTable.for_path(corpus.sparkSession, index_path)
    t.write(assigned, mode=mode, partition_by=["list_id"])
    return cents


def ivf_query_indexed(spark, index_path: str, queries: DataFrame,
                      cents: "np.ndarray", k: int = 5, nprobe: int = 4,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      query_id_col: str = "query_id") -> DataFrame:
    """Probe a `build_ivf_index` table: rank centroids per query
    (driver-side numpy on the small query set), partition-prune the scan
    to the union of probed lists, exact-cosine verify within candidates.
    Read cost: nprobe/nlist of the corpus per query batch, against the
    LSH index's L-buckets-per-query — IVF reads less when queries
    cluster, LSH guarantees per-query bucket locality."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..expressions import Col, Lit
    from ..localrel import local_rows_df
    from ..table import DeltaTable
    qrows = _collect_query_side(queries, query_id_col, vec_col)
    qmat = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    sims = (qmat / np.where(qn == 0, 1.0, qn)) @ cents.T
    probes = {}  # qid -> list ids
    for i, r in enumerate(qrows):
        order = sorted(range(cents.shape[0]),
                       key=lambda j: (-sims[i, j], j))
        probes[r["_qid"]] = order[:nprobe]
    probe_lists = sorted({l for ls in probes.values() for l in ls})
    pred = None
    for l in probe_lists:
        term = Col("list_id") == Lit(l)
        pred = term if pred is None else (pred | term)
    cand = DeltaTable.for_path(spark, index_path).scan(pred).to_df()
    q = F.broadcast(queries.select(F.col(query_id_col).alias("_qid"),
                                   F.col(vec_col).alias("_qv")))
    # A candidate counts only if its list is among ITS query's probes.
    pp_rows = [(qid, l) for qid, ls in probes.items() for l in ls]
    pp_schema = StructType([
        StructField("_qid", queries.schema[query_id_col].dataType),
        StructField("list_id", IntegerType())])
    pp = F.broadcast(local_rows_df(spark, pp_rows, pp_schema))
    scored = (cand.join(pp, "list_id")
              .join(q, "_qid")
              .filter(F.col(id_col) != F.col("_qid"))
              .select("_qid", F.col(id_col).alias("_cid"),
                      F.round(cosine_d("_qv", vec_col), 6).alias("sim"))
              .distinct())
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("_qid").alias(query_id_col),
                    F.col("_cid").alias(id_col), "sim", "rank"))


def hard_negative_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       group_col: str = "source",
                       query_id_col: str = "query_id") -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the exact top-k most-similar corpus vectors whose ``group_col``
    DIFFERS from the query's (highest-cosine out-of-group = hardest
    negatives; in-group rows — including the query itself — are
    positives and excluded).

    Same scale contract as cosine_topk: bounded query side (collected
    closure constant, broadcast-equivalent), one numpy matmul per Arrow
    batch with LOCAL per-partition top-k, so the final ranking window
    shuffles O(partitions · q · k) rows, never corpus × queries.
    Deterministic ranking (rounded sim DESC, id ASC)."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    qrows = _collect_query_side(
        queries, query_id_col, vec_col,
        extra_cols=(F.col(group_col).alias("_qg"),))
    qids = [r["_qid"] for r in qrows]
    qgroups = [r["_qg"] for r in qrows]
    qmat = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    qnorm = np.where(qnorm == 0, 1.0, qnorm)
    out_schema = StructType([
        StructField("_qid", LongType()),
        StructField("_cid", LongType()),
        StructField("neg_group", StringType()),
        StructField("sim", DoubleType()),
    ])

    def local_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cids = pdf[id_col].to_numpy()
            groups = pdf[group_col].to_numpy()
            cnorm = np.sqrt((mat * mat).sum(axis=1))
            cnorm = np.where(cnorm == 0, 1.0, cnorm)
            dots = mat @ qmat.T                       # n × q
            out = {"_qid": [], "_cid": [], "neg_group": [], "sim": []}
            for j, qid in enumerate(qids):
                sims = np.round(dots[:, j] / qnorm[j] / cnorm, 6)
                mask = groups != qgroups[j]
                order = np.lexsort((cids[mask], -sims[mask]))[:k]
                out["_qid"] += [qid] * len(order)
                out["_cid"] += list(cids[mask][order])
                out["neg_group"] += list(groups[mask][order])
                out["sim"] += list(sims[mask][order])
            yield pd.DataFrame(out)

    c = _spread(corpus).select(id_col, vec_col, group_col)
    scored = c.mapInPandas(local_topk, out_schema)
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("_qid").alias(query_id_col),
                    F.col("_cid").alias(id_col), "neg_group", "sim",
                    F.col("rank").cast("long").alias("rank")))
