"""Embedding-space queries: brute/LSH/IVF/PQ KNN, cosine stats, k-means,
cluster-balanced sampling, hard negatives, PageRank, the scored
classifier gate."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from kiji_mapreduce_spark import oracles
from kiji_mapreduce_spark.pipeline import (classifier, graph, sample,
                                           search, similarity)
from kiji_mapreduce_spark.pipeline.dedup import tokens
from kiji_mapreduce_spark.suite.common import _emb, _t


SQL_KNN_COSINE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) + 0.0 AS cosine, rank
FROM ranked WHERE rank <= 5
"""


def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid text+vector retrieval, the 'more like this' shape: for
    query docs 0-4, BM25 top-20 on the doc's first 6 tokens (the
    text half, `search.bm25_topk`) and exact-cosine top-20 on the
    doc's embedding (the vector half, `similarity.brute_force_topk` —
    doc_id and vec_id align 1:1 in the corpus), fused by Reciprocal
    Rank Fusion sum(1/(60+rank)) (Cormack et al., SIGIR 2009) and
    ranked on the 6-dp-rounded fused score. Fusion cost is
    O(queries x k) regardless of corpus size — the lists are already
    top-k."""
    docs = _t(spark, sf_dir, "documents")
    emb = _emb(spark, sf_dir)
    qtext = (docs.filter(F.col("doc_id") < 5)
             .select(F.col("doc_id").alias("query_id"),
                     F.array_join(F.slice(tokens(F.col("text")), 1, 6),
                                  " ").alias("query_text")))
    bm = search.bm25_topk(docs, qtext, k=20)
    knn = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=20)
    fused = search.rrf_fuse(
        [bm.select("query_id", "doc_id", "rank"),
         knn.select("query_id", F.col("neighbor_id").alias("doc_id"),
                    "rank")],
        k0=60, topn=10)
    return fused.select(
        "query_id", "doc_id",
        (F.col("rrf_score") + F.lit(0.0)).alias("rrf_score"), "rank")


SQL_HYBRID_RRF = oracles.hybrid_rrf_sql(n_queries=5, qterms=6,
                                        k_each=20, k0=60, topn=10)


def q_embedding_label_cosine_stats(spark, sf_dir):
    """Embedding-cosine near-dup machinery, oracle-checked: pairwise
    cosine stats within each label cluster via the vectorized Pandas UDF
    path (numpy matrix multiply per group — the Arrow fast path; the
    synthetic embeddings have no true near-dups, so the check targets the
    scoring math itself). avg rounds to 3dp: numpy pairwise-mean vs
    DuckDB's sequential sum agree to ~1e-12, far inside 3dp."""
    emb = _emb(spark, sf_dir)
    out = similarity.label_cosine_stats(emb)
    return out.select(
        "label", "n_pairs",
        (F.round("max_cosine", 4) + F.lit(0.0)).alias("max_cosine"),
        (F.round("avg_cosine", 3) + F.lit(0.0)).alias("avg_cosine"))


SQL_EMBEDDING_LABEL_STATS = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)
SELECT a.label, count(*) AS n_pairs,
       round(max(list_cosine_similarity(a.v, b.v)), 4) + 0.0 AS max_cosine,
       round(avg(list_cosine_similarity(a.v, b.v)), 3) + 0.0 AS avg_cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
GROUP BY a.label
"""


def q_hard_negative_mining(spark, sf_dir):
    """Contrastive hard-negative mining (``similarity.hard_negative_topk``):
    for each of 5 labeled anchors, the top-5 most-cosine-similar vectors
    with a DIFFERENT label — broadcast anchors, one corpus scan, label
    mismatch applied as the join predicate. Oracle: the knn SQL with the
    label filter."""
    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") < 5)
    out = similarity.hard_negative_topk(emb, anchors, k=5)
    return out.select(
        "query_id", "query_label", "neighbor_id", "neighbor_label",
        (F.round("cosine", 4) + F.lit(0.0)).alias("cosine"), "rank")


SQL_HARD_NEGATIVE_MINING = """
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
         e.label AS neighbor_label,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id != q.query_id
    AND NOT (e.label IS NOT NULL AND q.query_label IS NOT NULL
             AND e.label = q.query_label)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label,
       round(cos, 4) + 0.0 AS cosine, rank
FROM ranked WHERE rank <= 5
"""


def q_pagerank_nation_trade(spark, sf_dir):
    """Fixed-iteration weighted PageRank over the nation trade graph
    (supplier nation -> customer nation, weight = lineitem count): the
    canonical iterative MapReduce computation on an edge table that a
    5-way join aggregates down from the fact data — the loop itself
    never touches a fact row. Per-round rank rounding pins both engines
    to one grid, so the oracle is exact, not epsilon-based."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    sn = nat.select(F.col("n_nationkey").alias("s_nk"),
                    F.col("n_name").alias("src"))
    cn = nat.select(F.col("n_nationkey").alias("c_nk"),
                    F.col("n_name").alias("dst"))
    edges = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(cust, orders.o_custkey == cust.c_custkey)
             .join(supp, li.l_suppkey == supp.s_suppkey)
             .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
             .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).alias("w")))
    pr = graph.pagerank(edges, "src", "dst", weight="w",
                        damping=0.85, iters=5)
    return pr.select(F.col("node").alias("nation"),
                     F.round(F.col("rank"), 6).alias("pagerank"))


def q_kmeans_clusters(spark, sf_dir):
    """Deterministic k-means over the embeddings table (semantic domain
    discovery for mixture design): centroids seeded from the 4 smallest
    ids, 2 Lloyd rounds, every centroid/distance rounded before
    comparison so the DuckDB oracle reproduces the argmin exactly.
    Corpus never shuffles for assignment (centroid literals in one
    codegen'd projection); the update shuffles k*dim partial means."""
    from kiji_mapreduce_spark.pipeline import cluster

    emb = _emb(spark, sf_dir)
    return cluster.kmeans_assign(emb, k=4, iters=2)


# shared CTE chain: two deterministic Lloyd rounds (also the base of
# SQL_SAMPLE_CLUSTER_BALANCED)
_KMEANS_CTES = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cid, list_transform(v, x -> round(x, 6)) AS cv
  FROM e WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4)
),
a1 AS (
  SELECT vec_id, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM (SELECT e.vec_id, c.cid, round(list_distance(e.v, c.cv), 6) AS dist
        FROM e CROSS JOIN c0 c)
),
s1 AS (SELECT vec_id, cid AS cluster FROM a1 WHERE rn = 1),
u1 AS (
  SELECT s1.cluster, generate_subscripts(e.v, 1) AS ord,
         unnest(e.v) AS val
  FROM e JOIN s1 USING (vec_id)
),
c1 AS (
  SELECT cluster AS cid, list(round(m, 6) ORDER BY ord) AS cv
  FROM (SELECT cluster, ord, avg(val) AS m FROM u1 GROUP BY cluster, ord)
  GROUP BY cluster
),
a2 AS (
  SELECT vec_id, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM (SELECT e.vec_id, c.cid, round(list_distance(e.v, c.cv), 6) AS dist
        FROM e CROSS JOIN c1 c)
)"""


SQL_KMEANS_CLUSTERS = _KMEANS_CTES + """
SELECT vec_id, cid AS cluster, round(dist, 4) AS dist
FROM a2 WHERE rn = 1
"""


def q_sample_cluster_balanced(spark, sf_dir):
    """Cluster-balanced corpus sampling (SemDeDup-style diversity
    control): k-means the embeddings, then keyed-hash Bernoulli with a
    per-cluster rate targeting ~50 rows per cluster — over-represented
    semantic clusters are downsampled toward a uniform cluster mixture.
    Pure composition of two audited operators; membership is a
    deterministic function of the id alone."""
    from kiji_mapreduce_spark.pipeline import cluster

    emb = _emb(spark, sf_dir)
    assign = cluster.kmeans_assign(emb, k=4, iters=2).select(
        "vec_id", "cluster")
    out = sample.cluster_balanced_sample(
        emb.select("vec_id", "label"), assign, target_per_cluster=50,
        id_col="vec_id", seed=42, hash_fn="md5")
    return out.select("vec_id", "cluster", "label")


SQL_SAMPLE_CLUSTER_BALANCED = _KMEANS_CTES + """,
assign AS (SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1),
sz AS (SELECT cluster, count(*) AS n FROM assign GROUP BY cluster),
s AS (
  SELECT a.vec_id, a.cluster, emb.label,
         ('0x' || substr(md5('42|' || a.vec_id::VARCHAR), 1, 15))::BIGINT
           % 10000 AS u,
         least(10000, (50 * 10000) // sz.n) AS thr
  FROM assign a
  JOIN sz USING (cluster)
  JOIN embeddings emb USING (vec_id)
)
SELECT vec_id, cluster, label FROM s WHERE u < thr
"""


def q_knn_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate KNN, oracle-checked: the hyperplanes are
    literal constants, so DuckDB reproduces the buckets, candidate sets,
    and cosines exactly (``oracles.knn_lsh_sql``)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_topk(emb, queries, k=5, n_planes=4)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def q_knn_ivf_topk(spark, sf_dir):
    """IVF approximate KNN with deterministic centroids (the vectors of
    the 8 lowest vec_ids — FAISS's pre-trained-quantizer mode), making
    cell assignment and probing reproducible in DuckDB
    (``oracles.knn_ivf_sql``). The KMeans-fit path stays the default for
    production use; this query exercises the probe machinery."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    w = Window.orderBy("vec_id")
    cents = (emb.orderBy("vec_id").limit(8)
             .select((F.row_number().over(w) - 1).alias("_cell"),
                     F.expr(similarity.as_double_sql(
                         similarity.quote_col("embedding")) + " AS _center")))
    out = similarity.ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=2, centroids=cents)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def q_knn_pq_topk(spark, sf_dir):
    """Product-quantization approximate KNN: corpus scanned as 8
    uint-codes per row (ADC table lookups, no full-dim arithmetic on
    the big side), approx top-20 re-ranked by exact cosine to top-5.
    Deterministic codebooks — per-subspace slices of the 16 lowest
    vec_id vectors (the pre-trained-quantizer mode) — make encode,
    ADC, and re-rank reproducible in DuckDB (``oracles.knn_pq_sql``);
    ``fit_pq_codebooks`` (per-subspace KMeans) stays the production
    fit path, exercised in pytest."""
    n_subspaces, n_codes = 8, 16
    emb = _emb(spark, sf_dir)
    first = emb.orderBy("vec_id").limit(n_codes).collect()  # 16 rows
    dim = len(first[0]["embedding"])
    ds = dim // n_subspaces
    books = [[[float(x) for x in r["embedding"][m * ds:(m + 1) * ds]]
              for r in first] for m in range(n_subspaces)]
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.pq_topk(
        emb, queries, k=5, n_subspaces=n_subspaces, n_codes=n_codes,
        refine=4, codebooks=books)


def q_knn_sq8_topk(spark, sf_dir):
    """Scalar-int8-quantized approximate KNN: the corpus is scored as
    4x-smaller codes (cosine is scale-invariant, so the per-vector SQ8
    scale cancels and scoring never touches the float vectors), approx
    top-20 re-ranked by exact cosine to top-5. Fully deterministic —
    code dot products are exact small-integer sums — so DuckDB
    reproduces codes, candidates, and ranks (``oracles.knn_sq8_sql``).
    Completes the quantization family: brute / LSH / IVF / PQ / SQ8."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.sq8_topk(emb, queries, k=5, refine=4)


def q_classifier_score_topk(spark, sf_dir):
    """Learned-quality-gate scoring with a FIXED literal weight vector:
    sigmoid of a dot product over md5-hashed L1-tf features, top-20 docs
    by probability. The weights ``w[i] = ((i*37) % 21 - 10) / 10`` are a
    deterministic formula both engines can generate, so the whole
    scoring join — the exact plan ``score_logreg`` runs with TRAINED
    weights — gets a driver hash (the train loop itself stays
    pytest-vs-numpy, r5 verdict ask #6)."""
    import numpy as np

    docs = _t(spark, sf_dir, "documents")
    feats = classifier.hashed_features(docs, dim=64, hash_fn="md5")
    w = np.array([((i * 37) % 21 - 10) / 10.0 for i in range(64)])
    scored = classifier.score_logreg(feats, w, bias=0.25)
    top = (scored.orderBy(F.col("prob").desc(), F.col("doc_id"))
           .limit(20))
    rank_w = Window.orderBy(F.col("prob").desc(), F.col("doc_id"))
    return top.select("doc_id", "prob",
                      F.row_number().over(rank_w).alias("rank"))


SQL_CLASSIFIER_SCORE = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), feat AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS feature_idx,
         count(*)::DOUBLE AS cnt
  FROM toks GROUP BY 1, 2
), norm AS (
  SELECT doc_id, feature_idx,
         cnt / sum(cnt) OVER (PARTITION BY doc_id) AS value
  FROM feat
), wt AS (
  SELECT i AS feature_idx, ((i * 37) % 21 - 10) / 10.0 AS w
  FROM range(0, 64) t(i)
), prob AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-(sum(value * w) + 0.25))), 6) AS prob
  FROM norm JOIN wt USING (feature_idx)
  GROUP BY doc_id
)
SELECT doc_id, prob, rank FROM (
  SELECT doc_id, prob,
         row_number() OVER (ORDER BY prob DESC, doc_id) AS rank
  FROM prob
) WHERE rank <= 20
"""


def q_knn_recall_ivf(spark, sf_dir):
    """In-engine ANN quality gate: recall@5 of IVF (8 deterministic
    centroids, nprobe=2 — the same construction as ``knn_ivf_topk``)
    against exact brute-force top-5, per query. Both sides are k-row
    tables; the recall join never touches the corpus."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    w = Window.orderBy("vec_id")
    cents = (emb.orderBy("vec_id").limit(8)
             .select((F.row_number().over(w) - 1).alias("_cell"),
                     F.expr(similarity.as_double_sql(
                         similarity.quote_col("embedding")) + " AS _center")))
    approx = similarity.ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=2, centroids=cents)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    return similarity.knn_recall(approx, exact)


SQL_KNN_RECALL_IVF = f"""
WITH approx AS ({oracles.knn_ivf_sql()}),
exact AS ({SQL_KNN_COSINE})
SELECT e.query_id,
       count(*)::BIGINT AS n_exact,
       sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hits,
       round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 4) AS recall
FROM exact e
LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023) over
    the embeddings table, cross-engine-checked end to end (r13-built
    seat candidate, the C4/DSIR precedent — committed DuckDB
    cross-check in tests/test_semantic_dedup_oracle.py, seat when a
    window slot opens): the deterministic k-means assignment (k=4,
    2 Lloyd rounds — the SAME clustering SQL_KMEANS_CLUSTERS pins),
    within-cluster cosine pairs at >= 0.4 (the synthetic embeddings
    are near-orthogonal — max pairwise cosine ~0.5 — so the
    registry threshold sits where the fixture has real pair/group
    structure; rounded to 6dp before the
    compare so no engine's summation order flips a borderline pair),
    connected components collapsed to each group's minimum id. The
    oracle replays the pair graph with a recursive-CTE transitive
    closure.

    Scale shape: candidate space shrinks from all-pairs O(N^2) to
    sum-of-cluster O(|c|^2); per-cluster scoring is one numpy matmul
    in applyInPandas; component collapse is the log-diameter
    pointer-jumping loop shared with every dedup family."""
    from kiji_mapreduce_spark.pipeline.dedup import semantic_dedup

    emb = _emb(spark, sf_dir)
    return semantic_dedup(emb, threshold=0.4, k=4, iters=2,
                          round_digits=6)


# the kmeans CTE chain under WITH RECURSIVE (the closure CTE needs
# it); the chain text is shared verbatim with SQL_KMEANS_CLUSTERS
SQL_SEMANTIC_DEDUP = ("WITH RECURSIVE " + _KMEANS_CTES[len("WITH "):]
                      + """,
av AS (
  SELECT a2.vec_id, a2.cid AS cluster, e.v
  FROM a2 JOIN e USING (vec_id) WHERE a2.rn = 1
),
near_pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b
  FROM av x JOIN av y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.4
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM near_pairs
  UNION
  SELECT id_b, id_a FROM near_pairs
),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
),
keep_map AS (
  SELECT src AS vec_id, least(src, min(dst)) AS keep_id
  FROM reach GROUP BY src
)
SELECT av.vec_id, av.cluster,
       coalesce(k.keep_id, av.vec_id) AS keep_id,
       coalesce(k.keep_id, av.vec_id) = av.vec_id AS keep
FROM av LEFT JOIN keep_map k USING (vec_id)
""")
