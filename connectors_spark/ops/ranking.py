"""Document ranking: TF-IDF term weighting and BM25 query scoring.

Extension operators for the training-data-pipeline surface (SURVEY §7 P7):
corpus-quality filtering and retrieval-style dedup both need a relevance
weight per (doc, term). Everything here is built-in DataFrame algebra --
explode + two hash aggregations + a broadcast join -- so the plan is fully
codegen'd, shuffles exactly twice (by (doc_id, term), then by term), and
scales linearly with corpus size: at 100 TB the term dictionary stays
small (per-term aggregates), only the posting relation is big, and no
driver-side state exceeds two scalar aggregates (N, avgdl).

Tokenization matches functions.text.tokens (split on single space, empties
dropped) so DuckDB string_split oracles are bit-identical.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _spread

from ..functions.text import tokens
from ..localrel import local_rows_df



def _local_patterns_df(spark, patterns):
    """Pattern list as a driver-local relation."""
    return local_rows_df(spark, [(p,) for p in patterns],
                         "pattern: string")


def term_postings(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf): term frequency per document."""
    # no _spread: one tokenize feeding one aggregation — the extra
    # round-robin exchange costs more than the single-task tokenize
    # saves (A/B: 0.7 s vs 1.4-2.1 s at sf0.1)
    return (docs
            .select(F.col(id_col).alias("doc_id"),
                    F.explode_outer(tokens(text_col)).alias("term"))
            .where(F.col("term").isNotNull())
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf")))


def tfidf(docs: DataFrame, id_col: str = "doc_id",
          text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf, df, tfidf) with idf = ln(N / df).

    Plain (unsmoothed) idf: deterministic and SQL-reproducible. The df
    aggregate reuses the postings relation -- (doc_id, term) is unique
    after the tf groupBy, so df is a cheap count per term.
    """
    post = term_postings(docs, id_col, text_col)
    n = docs.count()
    df_rel = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (post.join(df_rel, "term")
            .withColumn("tfidf",
                        F.col("tf") * F.log(F.lit(float(n)) / F.col("df")))
            .select("doc_id", "term", "tf", "df", "tfidf"))


def bm25(docs: DataFrame, query_terms: Sequence[str],
         id_col: str = "doc_id", text_col: str = "text",
         k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(doc_id, score): Okapi BM25 of each doc against ``query_terms``.

    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Only documents containing ≥1 query term appear (score > 0). The
    per-term df for the few query terms and the two corpus scalars
    (N, avgdl) are tiny; the only large relation is the postings of the
    query terms themselves, pre-filtered before the shuffle.
    """
    qterms: List[str] = list(dict.fromkeys(query_terms))
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        tokens(text_col).alias("__toks")))
    dl = toks.select("doc_id", F.size("__toks").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"),
                   F.avg("dl").alias("avgdl")).first()
    n, avgdl = float(stats["n"]), float(stats["avgdl"])

    post = (toks.select("doc_id",
                        F.explode_outer("__toks").alias("term"))
            .where(F.col("term").isin(qterms))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf")))
    df_rel = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    # df_rel has one row per query term -> broadcast; dl is corpus-sized
    # (one row per doc) -> ordinary shuffle join on doc_id.
    scored = (post.join(F.broadcast(df_rel), "term")
              .join(dl, "doc_id")
              .withColumn("__w", idf * (F.col("tf") * F.lit(k1 + 1.0))
                          / (F.col("tf") + F.lit(k1)
                             * (F.lit(1.0 - b)
                                + F.lit(b) * F.col("dl") / F.lit(avgdl)))))
    return (scored.groupBy("doc_id")
            .agg(F.sum("__w").alias("score")))


__all__ = ["term_postings", "tfidf", "bm25"]


# ---------------------------------------------------------------------------
# Trigram-index substring search (pg_trgm-style)
# ---------------------------------------------------------------------------

def char_trigram_hashes(text_col) -> F.Column:
    """Distinct hash64 values of every 3-char substring (array<long>).
    Texts shorter than 3 chars hash whole. The token array is bound
    once via the single-element-transform trick (see ngram_shingles)."""
    from ..functions.text import bind_once, hash64
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def _build(t):
        m = F.length(t) - 2
        grams = F.transform(F.sequence(F.lit(1), m),
                            lambda i: hash64(t.substr(i, F.lit(3))))
        return (F.when(m >= 1, F.array_distinct(grams))
                .otherwise(F.array(hash64(t))))

    return bind_once(c, _build)


def substring_search(docs: DataFrame, patterns: Sequence[str],
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Literal substring search over the corpus, pg_trgm-shaped: a doc
    can contain pattern P only if it contains EVERY char trigram of P,
    so candidates come from a trigram equi-join (doc trigram relation
    ⋈ broadcast pattern trigrams, count == |trigrams(P)|) and only
    candidates are verified with a real `contains` + occurrence count.

    Returns (pattern, doc_id, n_occurrences), occurrences ≥ 1
    (non-overlapping count, replace semantics — identical in both
    engines).

    Scale shape: the corpus is scanned once to emit distinct doc
    trigram hashes (8-byte keys); the pattern relation is query-sized
    and broadcast; the only shuffle is the (pattern, doc) candidate
    count, whose volume is bounded by index selectivity, not corpus
    size. Verification re-reads only candidate docs via a semi-shaped
    join on doc_id. With the persistent variant (build_trigram_index)
    the scan itself is replaced by a bucket-pruned Delta probe.

    Patterns shorter than 3 chars have no trigrams to prefilter on
    (same limitation as pg_trgm): they fall back to a direct
    contains scan of the corpus, unioned in — correct for every
    pattern length, index-accelerated from 3 chars up."""
    spark = docs.sparkSession
    empty = _guard_patterns(docs, patterns, id_col)
    if empty is not None:
        return empty
    short = [p for p in patterns if len(p) < 3]
    patterns = [p for p in patterns if len(p) >= 3]
    out_short = None
    if short:
        sp = _local_patterns_df(spark, short)
        txt0 = docs.select(F.col(id_col).alias("doc_id"),
                           F.col(text_col).alias("_txt"))
        out_short = _verify_contains(txt0.crossJoin(F.broadcast(sp)))
    if not patterns:
        return out_short
    pats = _local_patterns_df(spark, patterns)
    pex = (pats.select("pattern",
                       F.explode(char_trigram_hashes(F.col("pattern")))
                       .alias("_g"))
           .distinct())
    pn = pex.groupBy("pattern").agg(F.count(F.lit(1)).alias("_need"))
    dex = (_spread(docs).select(F.col(id_col).alias("doc_id"),
                                F.explode_outer(char_trigram_hashes(
                                    F.col(text_col))).alias("_g"))
           .where(F.col("_g").isNotNull()))
    cand = (dex.join(F.broadcast(pex), "_g")
            .groupBy("pattern", "doc_id")
            .agg(F.count(F.lit(1)).alias("_have"))
            .join(F.broadcast(pn), "pattern")
            .filter(F.col("_have") == F.col("_need"))
            .select("pattern", "doc_id"))
    txt = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("_txt"))
    out = _verify_contains(cand.join(txt, "doc_id"))
    return out.unionByName(out_short) if out_short is not None else out


def _guard_patterns(docs: DataFrame, patterns: Sequence[str],
                    id_col: str):
    """Shared input guard for both search variants: an empty-string
    pattern would reach _verify_contains and divide by
    length(pattern)=0 (null count, row silently dropped) — reject it
    loudly instead; an empty patterns LIST returns an empty result
    frame with the search's exact schema rather than None."""
    if any(p == "" for p in patterns):
        raise ValueError("substring search patterns must be non-empty "
                         "strings")
    if patterns:
        return None
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("pattern", T.StringType()),
        T.StructField("doc_id", docs.schema[id_col].dataType),
        T.StructField("n_occurrences", T.LongType()),
    ])
    return local_rows_df(docs.sparkSession, [], schema)


def _verify_contains(cand_with_txt: DataFrame) -> DataFrame:
    """(pattern, doc_id, _txt) -> verified (pattern, doc_id,
    n_occurrences ≥ 1), non-overlapping replace-count semantics."""
    return (cand_with_txt
            .withColumn("n_occurrences",
                        ((F.length("_txt")
                          - F.length(F.replace(F.col("_txt"),
                                               F.col("pattern"))))
                         / F.length("pattern")).cast("bigint"))
            .filter(F.col("n_occurrences") >= 1)
            .select("pattern", "doc_id", "n_occurrences"))


def build_trigram_index(docs: DataFrame, index_path: str,
                        n_buckets: int = 64, id_col: str = "doc_id",
                        text_col: str = "text"):
    """Materialize the trigram inverted index as a Delta table
    partitioned by gram bucket (_g % n_buckets): a probe for a
    pattern's trigrams partition-prunes to only those buckets, so
    query cost scales with selectivity, not corpus size — the Delta
    analogue of a pg_trgm GIN index."""
    from ..table import DeltaTable
    dex = (_spread(docs).select(F.col(id_col).alias("doc_id"),
                                F.explode_outer(char_trigram_hashes(
                                    F.col(text_col))).alias("_g"))
           .where(F.col("_g").isNotNull())
           .withColumn("bucket",
                       (F.col("_g") % n_buckets).cast("int")))
    t = DeltaTable.for_path(docs.sparkSession, index_path)
    t.write(dex, mode="overwrite", partition_by=["bucket"])
    return t


def substring_search_indexed(spark, index_path: str, docs: DataFrame,
                             patterns: Sequence[str],
                             n_buckets: int = 64,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Index-probing variant of substring_search: candidates come from
    the persistent trigram index with an explicit partition filter on
    the (query-bounded) bucket list, so the probe reads only the
    pattern's buckets. Verification joins back to the doc table."""
    from ..expressions import Col
    from ..table import DeltaTable
    empty = _guard_patterns(docs, patterns, id_col)
    if empty is not None:
        return empty
    short = [p for p in patterns if len(p) < 3]
    patterns = [p for p in patterns if len(p) >= 3]
    spark_txt = docs.select(F.col(id_col).alias("doc_id"),
                            F.col(text_col).alias("_txt"))
    out_short = None
    if short:
        sp = _local_patterns_df(spark, short)
        out_short = _verify_contains(
            spark_txt.crossJoin(F.broadcast(sp)))
    if not patterns:
        return out_short
    grams = set()
    for p in patterns:
        grams.update(p[i:i + 3] for i in range(len(p) - 2))
    buckets = sorted({_py_hash64(g) % n_buckets for g in grams})
    t = DeltaTable.for_path(spark, index_path)
    idx = t.scan(Col("bucket").isin(*buckets)).to_df()
    pats = _local_patterns_df(spark, patterns)
    pex = (pats.select("pattern",
                       F.explode(char_trigram_hashes(F.col("pattern")))
                       .alias("_g")).distinct())
    pn = pex.groupBy("pattern").agg(F.count(F.lit(1)).alias("_need"))
    cand = (idx.join(F.broadcast(pex), "_g")
            .groupBy("pattern", "doc_id")
            .agg(F.count(F.lit(1)).alias("_have"))
            .join(F.broadcast(pn), "pattern")
            .filter(F.col("_have") == F.col("_need"))
            .select("pattern", "doc_id"))
    out = _verify_contains(cand.join(spark_txt, "doc_id"))
    return out.unionByName(out_short) if out_short is not None else out


def _py_hash64(s: str) -> int:
    """Driver-side mirror of functions.text.hash64 (md5 first 15 hex
    chars) for computing the bounded bucket list of a query's grams."""
    import hashlib
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
