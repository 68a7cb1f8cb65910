"""Full-text relevance search over the documents table: Okapi BM25.

The classic retrieval scorer a training-data pipeline uses to mine
topical subsets or build weak labels (and the text-side half of hybrid
text+vector search; the vector half lives in ``pipeline.similarity``).

Scale shape (100 TB corpus, a handful of queries):

- postings ``(doc, term, tf)`` come from one explode + one partial-
  aggregated groupBy — the only corpus-wide shuffle; document text
  itself never shuffles past tokenization.
- corpus stats (N, avgdl) fold into the plan as a broadcast scalar
  aggregate (never a driver-side ``count()``).
- the query side is tiny: query terms broadcast against the postings,
  so only postings that match some query term flow into scoring; df for
  those terms aggregates AFTER the semi-filter, which is equivalent
  (the filter keeps every posting of a kept term) and avoids building
  a full corpus-wide document-frequency table.
- top-k per query is one window over the scored candidates.

Cross-engine determinism: scores are summed doubles, so the last few
bits depend on addition order; ranking therefore orders by the ROUNDED
score (6 dp, matching the tf-idf discipline) with ``doc_id`` as the
tie-break, which both Spark and the DuckDB oracle reproduce exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kiji_mapreduce_spark.pipeline.dedup import tokens


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Okapi BM25 score for every (query, document) pair that shares at
    least one term. Runs Spark jobs when called, not at the first
    action: it pins the postings table.

    Returns (query_id, doc_id, score) with the unrounded double score —
    idf uses the always-positive Lucene form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``. Zero-token documents and
    queries with no matching term simply contribute no rows.

    The postings table is a diamond (the query probe, the doc-length
    aggregate, and the corpus stats all read it), so it is
    materialized once with an eager localCheckpoint — same rationale as
    ``dedup.minhash_dedup``: without it Spark re-runs the corpus
    tokenize + aggregate once per branch.
    """
    postings = (docs
                .select(F.col(id_col),
                        F.explode(tokens(F.col(text_col))).alias("term"))
                .groupBy(id_col, "term")
                .agg(F.count(F.lit(1)).alias("tf"))
                .localCheckpoint(eager=True))
    # doc length = sum of tf — reuses the postings aggregate instead of
    # re-scanning the text
    lengths = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = F.broadcast(lengths.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl")))
    qterms = (queries
              .select(F.col(query_id_col),
                      F.explode(tokens(F.col(query_text_col)))
                      .alias("term"))
              .distinct())
    # semi-filter the postings to query terms BEFORE any per-term
    # aggregation — df over the filtered postings equals corpus df for
    # those terms
    qpost = postings.join(
        F.broadcast(qterms.select("term").distinct()), on="term")
    dfreq = qpost.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = (F.col("tf")
             + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    matched = (qpost
               .join(F.broadcast(qterms), on="term")
               .join(lengths, on=id_col)
               .join(F.broadcast(dfreq), on="term")
               .crossJoin(stats))
    return (matched
            .groupBy(query_id_col, id_col)
            .agg(F.sum(contrib).alias("score")))


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    Returns (query_id, doc_id, score, rank) with the score rounded to
    6 dp; ranking uses (rounded score desc, doc_id asc) so the order —
    and therefore the emitted set — is identical across engines even
    when unrounded sums differ in their last bits.
    """
    scored = bm25_scores(docs, queries, k1, b, text_col, id_col,
                         query_id_col, query_text_col)
    rounded = F.round(F.col("score"), 6)
    w = Window.partitionBy(query_id_col).orderBy(
        rounded.desc(), F.col(id_col))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, id_col, rounded.alias("score"), "rank"))


def rrf_fuse(
    ranked: "list[DataFrame]",
    k0: int = 60,
    topn: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion over per-query ranked lists — the
    standard combiner for hybrid text+vector retrieval (Cormack,
    Clarke & Büttcher, SIGIR 2009: RRF with k0=60 beats Condorcet
    fusion and learned rank combinations; every major hybrid-search
    engine ships this formula).

    Each input carries (``query_id_col``, ``id_col``, ``rank_col``)
    rows — e.g. ``bm25_topk`` output and a ``brute_force_topk`` /
    ``ivf_topk`` output with ``neighbor_id`` renamed. A document's
    fused score is ``sum over lists of 1 / (k0 + rank)``; documents
    absent from a list simply contribute nothing for it (the paper's
    convention). Returns (query_id, id, rrf_score, rank) with the
    score rounded to 6 dp and ranking on (rounded score desc, id asc)
    so the order is engine-independent — with two lists the unrounded
    sum is already bit-stable (IEEE addition of two addends is
    commutative), with three or more the rounding absorbs
    association-order noise.

    Scale shape (100 TB corpus): fusion never touches the corpus —
    inputs are already per-query top-k lists, so the union holds at
    most ``len(ranked) * k`` rows per query regardless of corpus
    size. One narrow union + one partial-agg groupBy shuffle; the
    final window is safe un-salted because each query group is
    bounded by that same constant.
    """
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked list")
    contribs = [
        df.select(
            F.col(query_id_col),
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k0)
                           + F.col(rank_col).cast("double"))).alias("_c"))
        for df in ranked
    ]
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    fused = (allc
             .groupBy(query_id_col, id_col)
             .agg(F.round(F.sum("_c"), 6).alias("rrf_score")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf_score").desc(), F.col(id_col))
    return (fused
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topn))
