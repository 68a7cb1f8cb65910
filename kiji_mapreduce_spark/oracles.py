"""Generated DuckDB oracle SQL for the hash-parameterized suite queries.

Every builder here mirrors — constant for constant, fold for fold — the
Spark operator it checks, so the two engines compute the SAME candidate
sets and the SAME numbers, not merely statistically-similar ones:

- token/shingle hashes use ``dedup.token_hash64``'s "md5" mode, which
  DuckDB reproduces as ``('0x' || substr(md5(x), 1, 15))::BIGINT``
  (verified bit-for-bit including unicode);
- MinHash permutations reuse the exact ``(a, b)`` literals from
  ``dedup._perm_params``; LSH hyperplanes reuse ``similarity._plane``;
- every floating-point reduction (dot product, squared distance) is
  written as a sequential left fold with the same association order as
  Spark's ``F.aggregate``/``zip_with`` form, so doubles match exactly.

The SQL is generated, not hand-written, so the two sides cannot drift.
"""

from __future__ import annotations

_P = (1 << 31) - 1  # dedup._MERSENNE

# md5-prefix 60-bit hash (dedup.token_hash64 hash_fn="md5")
def _md5h(x: str) -> str:
    return f"('0x' || substr(md5({x}), 1, 15))::BIGINT"


# lowercase whitespace tokens, empties dropped (dedup.tokens / text tokens)
def _toks(text: str = "text") -> str:
    return (f"list_filter(regexp_split_to_array(lower({text}), '\\s+'), "
            "x -> x <> '')")


# sequential left-fold dot product — same association order as
# similarity.dot (F.aggregate over zip_with): ((0+x1)+x2)+...
def _dotseq(a: str, b: str, dim: int) -> str:
    return (f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> {a}[i]*{b}[i]), (x, y) -> x + y)")


def _cos(a: str, b: str, dim: int) -> str:
    # zero-norm guard mirroring the Spark side's guarded `cosine`
    # (0.0, never NULL — DuckDB x/0.0 is NULL): without it every knn
    # oracle diverges on an all-zero embedding (r13 review finding,
    # latent in the shipped testdata which has none)
    return (f"(CASE WHEN {_dotseq(a, a, dim)} = 0 "
            f"OR {_dotseq(b, b, dim)} = 0 THEN 0.0 "
            f"ELSE {_dotseq(a, b, dim)} / "
            f"(sqrt({_dotseq(a, a, dim)}) * sqrt({_dotseq(b, b, dim)})) "
            f"END)")


def fingerprint_sql(window: int = 8, source: str = "documents",
                    id_col: str = "doc_id") -> str:
    """Mirror of text.fingerprints(hash_fn="md5"): min rolling polynomial
    hash over full token windows; docs shorter than one window hash their
    whole token list; zero-token docs emit no row."""
    fold = f"(a, b) -> (a * 31 + b) % {_P}"
    return f"""
WITH toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
hs AS (
  SELECT {id_col},
         list_transform(t, x -> {_md5h('x')} % {_P}) AS h,
         len(t) AS n
  FROM toks WHERE len(t) >= 1
)
SELECT {id_col},
  CASE WHEN n >= {window}
       THEN list_min(list_transform(range({window}, n + 1),
            i -> list_reduce(h[i - {window} + 1 : i], {fold})))
       ELSE list_reduce(h, {fold})
  END AS fingerprint
FROM hs
"""


def _gram_list(n: int) -> str:
    """Window-form n-gram string list over token array ``t`` — THE
    single definition of the gram semantics (full n-grams only; docs
    shorter than n keep their one edge gram), shared by the MinHash /
    Jaccard / decontamination oracles (r13 review finding: four
    hand-synced copies of this CASE had to be fixed in lockstep)."""
    return (f"CASE WHEN len(t) >= {n} "
            f"THEN list_transform(range(1, len(t) - {n} + 2), "
            f"i -> array_to_string(t[i : i + {n - 1}], ' ')) "
            f"ELSE [array_to_string(t, ' ')] END")


def _pos_gram_list(n: int) -> str:
    """Positional variant of ``_gram_list``: (p, h) structs carrying
    the 0-based start position and the md5 gram hash."""
    gram_h = _md5h("array_to_string(t[i : i + " + str(n - 1) + "], ' ')")
    edge_h = _md5h("array_to_string(t, ' ')")
    return (f"CASE WHEN len(t) >= {n} "
            f"THEN list_transform(range(1, len(t) - {n} + 2), "
            f"i -> struct_pack(p := i - 1, h := {gram_h})) "
            f"ELSE [struct_pack(p := 0, h := {edge_h})] END")


def _band_chunk_rows(id_col: str, code_col: str, bands: int,
                     extra: str = "") -> str:
    """UNION ALL of the per-band chunk projections over ``fp`` — the
    SQL half of the banded hamming join, shared by the simhash / image
    / video / audio oracles (``extra`` carries e.g. frame_no)."""
    width = 64 // bands
    mask = (1 << width) - 1
    return "\nUNION ALL\n".join(
        f"SELECT {id_col}, {extra}{code_col}, {b} AS band, "
        f"({code_col} >> {b * width}) & {mask} AS chunk FROM fp"
        for b in range(bands))


def _shingle_cte(n: int, source: str, id_col: str) -> str:
    """CTEs shared by the MinHash oracles: per-doc shingle-hash lists
    (window-form semantics: full n-grams only, except docs shorter than n
    keep their single edge gram; zero-token docs drop)."""
    return f"""
toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
grams AS (
  SELECT {id_col}, {_gram_list(n)} AS g
  FROM toks WHERE len(t) >= 1
),
hs AS (SELECT {id_col}, list_transform(g, x -> {_md5h('x')}) AS h
       FROM grams)"""


def decontaminate_sql(n: int = 3, modulus: int = 23, threshold: float = 0.5,
                      source: str = "documents",
                      id_col: str = "doc_id") -> str:
    """Mirror of decontaminate.ngram_overlap(hash_fn="md5") with
    benchmark = rows where id % modulus == 0, candidates = the rest.
    Same gram semantics as _shingle_cte (full n-grams; shorter docs keep
    their single edge gram), distinct hashes per doc. Total over the
    candidate id set: a zero-token doc reports (0, 0, 0.0, false)."""
    return f"""
WITH toks AS (
  SELECT {id_col}, {_toks()} AS t, ({id_col} % {modulus} = 0) AS is_bench
  FROM {source}
),
grams AS (
  SELECT {id_col}, is_bench, {_gram_list(n)} AS g
  FROM toks WHERE len(t) >= 1
),
ex AS (
  SELECT {id_col}, is_bench,
         unnest(list_distinct(list_transform(g, x -> {_md5h('x')}))) AS h
  FROM grams
),
bench AS (SELECT DISTINCT h FROM ex WHERE is_bench),
cand AS (SELECT {id_col}, h FROM ex WHERE NOT is_bench),
cand_ids AS (
  SELECT DISTINCT {id_col} FROM toks WHERE NOT is_bench
),
tot AS (SELECT {id_col}, count(*) AS n_grams FROM cand GROUP BY 1),
hit AS (
  SELECT {id_col}, count(*) AS n_hit
  FROM cand WHERE h IN (SELECT h FROM bench) GROUP BY 1
)
SELECT c.{id_col},
       coalesce(n_grams, 0) AS n_grams,
       coalesce(n_hit, 0) AS n_hit,
       coalesce(round(coalesce(n_hit, 0) / n_grams, 4), 0.0)
         AS overlap_frac,
       coalesce(round(coalesce(n_hit, 0) / n_grams, 4), 0.0)
         >= {threshold} AS contaminated
FROM cand_ids c
LEFT JOIN tot USING ({id_col})
LEFT JOIN hit USING ({id_col})
"""


def _minhash_pair_ctes(num_hashes: int, bands: int, n: int, seed: int,
                       source: str, id_col: str) -> str:
    """CTEs computing verified-candidate CTE ``scored`` =
    (id_a, id_b, jac) from minhash-LSH banding + exact Jaccard."""
    from kiji_mapreduce_spark.pipeline.dedup import _perm_params

    rows = num_hashes // bands
    params = _perm_params(num_hashes, seed)
    mins = ",\n    ".join(
        f"list_min(list_transform(h, x -> ((x % {_P}) * {a} + {b}) % {_P}))"
        f" AS m{i}"
        for i, (a, b) in enumerate(params))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT {id_col}, {b} AS band, concat_ws(','"
        + "".join(f", m{b * rows + r}" for r in range(rows))
        + f") AS bucket FROM sigs"
        for b in range(bands))
    return f"""{_shingle_cte(n, source, id_col)},
sigs AS (SELECT {id_col},
    {mins}
  FROM hs),
entries AS (
{band_rows}
),
cands AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM entries a JOIN entries b USING (band, bucket)
  WHERE a.{id_col} < b.{id_col}
  GROUP BY 1, 2
),
sets AS (SELECT {id_col}, list_distinct(h) AS s FROM hs),
scored AS (
  SELECT id_a, id_b,
    CASE WHEN len(list_distinct(sa.s || sb.s)) > 0
         THEN len(list_intersect(sa.s, sb.s))::DOUBLE
              / len(list_distinct(sa.s || sb.s))::DOUBLE
         ELSE 0.0 END AS jac
  FROM cands
  JOIN sets sa ON sa.{id_col} = id_a
  JOIN sets sb ON sb.{id_col} = id_b
)"""


def minhash_pairs_sql(num_hashes: int = 32, bands: int = 8, n: int = 3,
                      threshold: float = 0.5, seed: int = 42,
                      source: str = "documents",
                      id_col: str = "doc_id") -> str:
    """Mirror of dedup.minhash_dedup(hash_fn="md5")."""
    ctes = _minhash_pair_ctes(num_hashes, bands, n, seed, source, id_col)
    return f"""
WITH {ctes}
SELECT id_a, id_b, round(jac, 6) AS jaccard
FROM scored WHERE jac >= {threshold}
"""


def simhash_pairs_sql(max_hamming: int = 10, bands: int = 4,
                      source: str = "documents",
                      id_col: str = "doc_id") -> str:
    """Mirror of dedup.simhash_near_duplicates(hash_fn="md5"): 64 bit
    votes per doc (md5 mode: bits 60-63 vote zero on both engines),
    band-chunk equi-join, hamming verify."""
    sums = ",\n    ".join(
        f"sum((h >> {b}) & 1) AS s{b}" for b in range(60))
    # bit set when ones >= zeros <=> 2*ones >= n (bits 60+ never set: n>=1)
    fp_terms = " + ".join(
        f"(CASE WHEN 2 * s{b} >= n THEN {1 << b} ELSE 0 END)"
        for b in range(60))
    band_rows = _band_chunk_rows(id_col, "sh", bands)
    return f"""
WITH toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
ex AS (SELECT {id_col}, unnest(t) AS tok FROM toks),
hs AS (SELECT {id_col}, {_md5h('tok')} AS h FROM ex),
votes AS (
  SELECT {id_col}, count(*) AS n,
    {sums}
  FROM hs GROUP BY {id_col}
),
fp AS (SELECT {id_col}, ({fp_terms})::BIGINT AS sh FROM votes),
entries AS (
{band_rows}
),
pairs AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
         bit_count(xor(a.sh, b.sh)) AS hamming
  FROM entries a JOIN entries b USING (band, chunk)
  WHERE a.{id_col} < b.{id_col}
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


def corpus_survivors_sql(num_hashes: int = 32, bands: int = 8, n: int = 3,
                         threshold: float = 0.5, seed: int = 42,
                         id_col: str = "doc_id") -> str:
    """Mirror of dedup.dedup_corpus(hash_fn="md5"): exact dedup (min id
    per md5 digest), MinHash near-dup pairs over the survivors, TRUE
    connected components via a recursive CTE (the Spark side's
    pointer-jumping label propagation converges to the same labels), drop
    non-minimum members, return (doc_id, lang)."""
    pair_ctes = _minhash_pair_ctes(num_hashes, bands, n, seed, "exact",
                                   id_col)
    return f"""
WITH RECURSIVE
exact_keep AS (
  -- NULL text is nobody's duplicate: every NULL-text doc survives
  -- individually (the Spark side's r13 dedup_corpus fix; grouping
  -- them under md5(NULL) kept only one)
  SELECT min({id_col}) AS {id_col} FROM documents
  WHERE text IS NOT NULL GROUP BY md5(text)
  UNION ALL
  SELECT {id_col} FROM documents WHERE text IS NULL
),
exact AS (
  SELECT d.* FROM documents d JOIN exact_keep USING ({id_col})
),
{pair_ctes},
pairs AS (SELECT id_a, id_b FROM scored WHERE jac >= {threshold}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
labels AS (
  SELECT id AS {id_col}, least(id, min(r)) AS keep_id
  FROM reach GROUP BY id
),
losers AS (SELECT {id_col} FROM labels WHERE keep_id <> {id_col})
SELECT {id_col}, lang FROM exact
WHERE {id_col} NOT IN (SELECT {id_col} FROM losers)
"""


def knn_lsh_sql(n_planes: int = 4, seed: int = 42, k: int = 5,
                n_probes: int = 1, dim: int = 64,
                query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.lsh_topk: per-probe hyperplane-family sign
    buckets (literal planes), same-bucket candidates unioned across
    probes, exact cosine, per-query top-k."""
    from kiji_mapreduce_spark.pipeline.similarity import _plane

    probe_rows = []
    for pr in range(n_probes):
        terms = []
        for p in range(n_planes):
            comps = _plane(seed + 7919 * pr, p, dim)
            lit = "[" + ", ".join(repr(c) for c in comps) + "]"
            weight = 2 ** (n_planes - 1 - p)
            terms.append(f"(CASE WHEN {_dotseq('v', lit, dim)} >= 0 "
                         f"THEN {weight} ELSE 0 END)")
        probe_rows.append(
            f"SELECT vec_id, v, {pr} AS probe, "
            + " + ".join(terms) + " AS bucket FROM e")
    entries = "\nUNION ALL\n".join(probe_rows)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
entries AS (
{entries}
),
q AS (SELECT vec_id AS query_id, v AS qv, probe, bucket
      FROM entries WHERE {query_pred}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_cos('qv', 'c.v', dim)} AS cos
  FROM q JOIN entries c USING (probe, bucket)
  WHERE c.vec_id <> query_id
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}
"""


def knn_ivf_sql(n_centroids: int = 8, nprobe: int = 2, k: int = 5,
                dim: int = 64, query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.ivf_topk(centroids=...): deterministic
    centroids = the vectors of the ``n_centroids`` lowest vec_ids (cells
    0..n-1 in that order), nearest-cell assignment by sequential-fold
    squared L2 (ties to the lowest cell), nprobe nearest cells per query,
    exact cosine over probed cells, per-query top-k."""
    d2 = (f"list_reduce(list_transform(range(1, {dim + 1}), "
          "i -> (v[i]-c[i])*(v[i]-c[i])), (x, y) -> x + y)")
    d2q = d2.replace("v[i]", "qv[i]")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {n_centroids})
),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, cents.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2}, cents.cell) AS rn
    FROM e CROSS JOIN cents)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {query_pred}),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cents.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {d2q}, cents.cell) AS pr
    FROM q CROSS JOIN cents)
  WHERE pr <= {nprobe}
),
scored AS (
  SELECT query_id, a.vec_id AS neighbor_id,
         {_cos('qv', 'a.v', dim)} AS cos
  FROM probes JOIN assign a USING (cell)
  WHERE a.vec_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}
"""

def bm25_sql(queries: list[tuple[str, str]], k: int = 10, k1: float = 1.2,
             b: float = 0.75, source: str = "documents",
             id_col: str = "doc_id") -> str:
    """Mirror of search.bm25_topk: Okapi BM25 with the Lucene
    always-positive idf, ranked by (score rounded to 6 dp desc, doc id)
    — the rounding is what makes the rank order engine-independent."""
    # escape quotes (the registered_domain_sql discipline): an
    # apostrophe in a query text is natural and would otherwise break
    # out of the literal (r13 review finding, latent today)
    vals = ", ".join(
        "('{}', '{}')".format(q.replace("'", "''"),
                              t.replace("'", "''"))
        for q, t in queries)
    return f"""
WITH q(query_id, query_text) AS (VALUES {vals}),
toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
post AS (
  SELECT {id_col}, term, count(*)::DOUBLE AS tf
  FROM (SELECT {id_col}, unnest(t) AS term FROM toks)
  GROUP BY 1, 2
),
len AS (SELECT {id_col}, sum(tf) AS dl FROM post GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM len),
qt AS (
  SELECT DISTINCT query_id, unnest({_toks('query_text')}) AS term FROM q
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM post
  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1
),
scored AS (
  SELECT qt.query_id, post.{id_col},
         sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * ({k1} + 1)) / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))
         ) AS score
  FROM post
  JOIN qt USING (term)
  JOIN len USING ({id_col})
  JOIN dfreq USING (term)
  CROSS JOIN stats
  GROUP BY 1, 2
)
SELECT query_id, {id_col}, round(score, 6) AS score, rank FROM (
  SELECT query_id, {id_col}, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, {id_col}) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def hybrid_rrf_sql(n_queries: int = 5, qterms: int = 6, k_each: int = 20,
                   k0: int = 60, topn: int = 10, k1: float = 1.2,
                   b: float = 0.75) -> str:
    """Mirror of the hybrid text+vector RRF query: BM25 top-``k_each``
    (the ``bm25_sql`` CTEs with queries DERIVED from the corpus — each
    query doc's first ``qterms`` tokens) and exact-cosine
    top-``k_each`` (the ``knn_cosine`` shape: unrounded-cos rank,
    driver-green since r3 via that seat), fused by Reciprocal Rank
    Fusion ``sum(1 / (k0 + rank))`` (Cormack et al., SIGIR 2009),
    ranked on the 6-dp-rounded fused score with doc_id tiebreak."""
    return f"""
WITH toks AS (SELECT doc_id, {_toks()} AS t FROM documents),
q AS (
  SELECT doc_id AS query_id, t[1:{qterms}] AS qtok
  FROM toks WHERE doc_id < {n_queries}
),
post AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  GROUP BY 1, 2
),
len AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM len),
qt AS (SELECT DISTINCT query_id, unnest(qtok) AS term FROM q),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM post
  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1
),
bm_scored AS (
  SELECT qt.query_id, post.doc_id,
         sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * ({k1} + 1)) / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))
         ) AS score
  FROM post
  JOIN qt USING (term)
  JOIN len USING (doc_id)
  JOIN dfreq USING (term)
  CROSS JOIN stats
  GROUP BY 1, 2
),
bm AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(score, 6) DESC, doc_id) AS rank
    FROM bm_scored
  ) WHERE rank <= {k_each}
),
cosq AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {n_queries}
),
cos_scored AS (
  SELECT cosq.query_id, e.vec_id AS doc_id,
         list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM cosq CROSS JOIN embeddings e
  WHERE e.vec_id != cosq.query_id
),
vec AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, doc_id) AS rank
    FROM cos_scored
  ) WHERE rank <= {k_each}
),
contrib AS (
  SELECT query_id, doc_id, 1.0 / ({k0} + rank) AS c FROM bm
  UNION ALL
  SELECT query_id, doc_id, 1.0 / ({k0} + rank) AS c FROM vec
),
fused AS (
  SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score
  FROM contrib GROUP BY 1, 2
)
SELECT query_id, doc_id, rrf_score + 0.0 AS rrf_score, rank FROM (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= {topn}
"""


def bigram_lm_sql(alpha: float = 0.1, source: str = "documents",
                  id_col: str = "doc_id") -> str:
    """Mirror of lm.bigram_lm_scores(hash_fn="md5") in self-scoring mode
    (reference = the corpus): add-alpha bigram LM, c(v) = per-context
    sum of bigram counts, V = distinct reference tokens. Total over the
    doc id set: docs with < 2 tokens report (0, NULL, NULL)."""
    return f"""
WITH toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
bi AS (
  SELECT {id_col},
         unnest(list_transform(range(1, len(t)),
                i -> struct_pack(hv := {_md5h('t[i]')},
                                 hvw := {_md5h("t[i] || ' ' || t[i+1]")})))
         AS s
  FROM toks WHERE len(t) >= 2
),
cand AS (SELECT {id_col}, s.hv AS hv, s.hvw AS hvw FROM bi),
model AS (SELECT hvw, any_value(hv) AS mhv, count(*) AS cbw
          FROM cand GROUP BY 1),
context AS (SELECT mhv AS hv, sum(cbw) AS cv FROM model GROUP BY 1),
vocab AS (
  SELECT count(DISTINCT tok)::DOUBLE AS vsz
  FROM (SELECT unnest(t) AS tok FROM toks)
),
scored AS (
  SELECT cand.{id_col},
         count(*) AS n_bigrams,
         avg(ln((coalesce(cbw, 0) + {alpha})
                / (coalesce(cv, 0) + {alpha} * vsz))) AS avg_lp
  FROM cand
  LEFT JOIN model USING (hvw)
  LEFT JOIN context USING (hv)
  CROSS JOIN vocab
  GROUP BY 1
)
SELECT d.{id_col},
       coalesce(n_bigrams, 0) AS n_bigrams,
       round(avg_lp, 4) AS avg_logprob,
       round(exp(-avg_lp), 4) AS ppl
FROM (SELECT DISTINCT {id_col} FROM {source}) d
LEFT JOIN scored USING ({id_col})
"""


def decontaminate_spans_sql(n: int = 3, modulus: int = 23,
                            source: str = "documents",
                            id_col: str = "doc_id") -> str:
    """Mirror of decontaminate.contaminated_spans(hash_fn="md5") with
    benchmark = rows where id % modulus == 0: positional grams, hit =
    gram in benchmark union, hits merged via gaps-and-islands over
    EXTENT overlap (new island when the start gap >= n — the r13
    overlap-merge semantics, replayed with the same lag + running
    sum). Positions are 0-based; edge grams of short docs clamp
    span_end to the last token."""
    return f"""
WITH toks AS (
  SELECT {id_col}, {_toks()} AS t, ({id_col} % {modulus} = 0) AS is_bench
  FROM {source}
),
grams AS (
  SELECT {id_col}, is_bench, len(t) - 1 AS mx, {_pos_gram_list(n)} AS g
  FROM toks WHERE len(t) >= 1
),
ex AS (SELECT {id_col}, is_bench, mx, unnest(g) AS s FROM grams),
bench AS (SELECT DISTINCT s.h AS h FROM ex WHERE is_bench),
hits AS (
  SELECT {id_col}, s.p AS p, mx FROM ex
  WHERE NOT is_bench AND s.h IN (SELECT h FROM bench)
),
lagged AS (
  SELECT {id_col}, p, mx,
         lag(p) OVER (PARTITION BY {id_col} ORDER BY p) AS prev
  FROM hits
),
isl AS (
  SELECT {id_col}, p, mx,
         sum(CASE WHEN prev IS NULL OR p - prev >= {n}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY {id_col} ORDER BY p
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM lagged
)
SELECT {id_col}, min(p) AS span_start,
       least(max(p) + {n - 1}, max(mx)) AS span_end,
       count(*) AS n_grams_in_span
FROM isl GROUP BY {id_col}, grp
"""


def pagerank_sql(edges_sql: str, damping: float = 0.85, iters: int = 5,
                 round_dp: int = 12, final_dp: int = 6,
                 node_alias: str = "node",
                 rank_alias: str = "rank") -> str:
    """Mirror of graph.pagerank: ``edges_sql`` must yield (src, dst, w).
    Same formulation constant-for-constant — loop-invariant w/outw
    normalization, (1-d)/N base computed as the SAME Python double the
    Spark side uses (emitted via repr, so e.g. 1-0.85's IEEE artifact
    matches), and a round-to-``round_dp`` after every iteration that
    pins both engines to one grid regardless of float summation order.
    The iterations are unrolled into generated CTEs."""
    base = repr(1.0 - damping)
    d = repr(damping)
    parts = [f"""
WITH e0 AS ({edges_sql}),
outw AS (SELECT src, sum(w) AS ow FROM e0 GROUP BY 1),
e AS (SELECT e0.src, e0.dst,
             CASE WHEN outw.ow <> 0 THEN e0.w / outw.ow
                  ELSE 0.0 END AS norm
      FROM e0 JOIN outw ON outw.src = e0.src),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT node, round(1.0 / nn.n, {round_dp}) AS rank
       FROM nodes CROSS JOIN nn)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
c{k} AS (SELECT e.dst AS node, sum(r.rank * e.norm) AS c
         FROM e JOIN r{k - 1} r ON r.node = e.src GROUP BY 1),
r{k} AS (SELECT n.node,
                round({base} / nn.n + {d} * coalesce(c.c, 0.0),
                      {round_dp}) AS rank
         FROM nodes n CROSS JOIN nn
         LEFT JOIN c{k} c ON c.node = n.node)""")
    parts.append(f"""
SELECT node AS {node_alias}, round(rank, {final_dp}) AS {rank_alias}
FROM r{iters}""")
    return "".join(parts)


def repeated_ngram_coverage_sql(n: int = 3, min_docs: int = 2,
                               source: str = "documents",
                               id_col: str = "doc_id") -> str:
    """Mirror of dedup.repeated_ngram_coverage(hash_fn="md5"): positional
    grams (full n-grams; docs shorter than n keep one edge gram at
    position 0), gram frequency counted as DISTINCT containing docs,
    hits merged into spans when gaps <= n (adjacent intervals fuse, so
    n_spans counts maximal covered runs), coverage summed per doc with
    span ends clamped to the last token. Every document (including
    zero-token and NULL-text ones) reports a row; dup_frac rounds to
    4 dp."""
    return f"""
WITH toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
grams AS (
  SELECT {id_col}, len(t) - 1 AS mx, {_pos_gram_list(n)} AS g
  FROM toks WHERE len(t) >= 1
),
ex AS (SELECT {id_col}, mx, unnest(g) AS s FROM grams),
freq AS (
  SELECT s.h AS h FROM ex
  GROUP BY 1 HAVING count(DISTINCT {id_col}) >= {min_docs}
),
hits AS (
  SELECT {id_col}, s.p AS p, mx FROM ex
  WHERE s.h IN (SELECT h FROM freq)
),
lagd AS (
  SELECT {id_col}, p, mx,
         lag(p) OVER (PARTITION BY {id_col} ORDER BY p) AS prev
  FROM hits
),
isl AS (
  SELECT {id_col}, p, mx,
         sum(CASE WHEN prev IS NULL OR p - prev > {n}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY {id_col} ORDER BY p) AS grp
  FROM lagd
),
spans AS (
  SELECT {id_col}, min(p) AS s, least(max(p) + {n - 1}, max(mx)) AS e
  FROM isl GROUP BY {id_col}, grp
),
cov AS (
  SELECT {id_col}, sum(e - s + 1) AS covered, count(*) AS n_spans
  FROM spans GROUP BY {id_col}
),
anchor AS (SELECT {id_col}, coalesce(len(t), 0)::BIGINT AS n_tokens
           FROM toks)
SELECT a.{id_col}, a.n_tokens,
       coalesce(c.covered, 0)::BIGINT AS covered_tokens,
       coalesce(c.n_spans, 0)::BIGINT AS n_spans,
       coalesce(round(c.covered / a.n_tokens, 4), 0.0) AS dup_frac
FROM anchor a LEFT JOIN cov c USING ({id_col})
"""


def knn_sq8_sql(k: int = 5, refine: int = 4, dim: int = 64,
                query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.sq8_topk: per-vector int8 codes
    (round(x * 127 / max|x|), the scale cancels out of the approximate
    cosine), top refine*k candidates by code-cosine rounded to 6 dp
    (ties on neighbor_id), exact-cosine re-rank to top-k."""
    enc = (f"list_transform(v, x -> round(x / (CASE WHEN s = 0 THEN 1.0 "
           "ELSE s END))::INT)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scaled AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
  FROM e
),
codes AS (
  SELECT vec_id, v, list_transform({enc}, x -> x::DOUBLE) AS c
  FROM scaled
),
q AS (SELECT vec_id AS query_id, v AS qv, c AS qc
      FROM codes WHERE {query_pred}),
approx AS (
  SELECT q.query_id, codes.vec_id AS neighbor_id, q.qv, codes.v,
         round({_cos('qc', 'c', dim)}, 6) AS ac
  FROM codes CROSS JOIN q
  WHERE codes.vec_id <> q.query_id
),
cands AS (
  SELECT query_id, neighbor_id, qv, v FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY ac DESC, neighbor_id) AS ar
    FROM approx)
  WHERE ar <= {refine * k}
),
ranked AS (
  SELECT query_id, neighbor_id,
         round({_cos('qv', 'v', dim)}, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round({_cos('qv', 'v', dim)}, 6) DESC,
                                     neighbor_id) AS rank
  FROM cands
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def knn_pq_sql(n_subspaces: int = 8, n_codes: int = 16, k: int = 5,
               refine: int = 4, dim: int = 64,
               query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.pq_topk(codebooks=...): deterministic
    codebooks = per-subspace slices of the ``n_codes`` lowest-vec_id
    vectors (code 1..n in vec_id order), nearest-code assignment by
    sequential-fold squared L2 (ties to the lowest code), ADC scoring
    (sum of per-subspace table lookups, rounded to 6 dp before ranking),
    top refine*k candidates re-ranked by exact cosine."""
    ds = dim // n_subspaces
    d2sub = (f"list_reduce(list_transform(range(1, {ds + 1}), "
             f"i -> (v[m*{ds}+i]-c[i])*(v[m*{ds}+i]-c[i])), (x, y) -> x + y)")
    d2q = d2sub.replace("v[", "qv[")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS code, v
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {n_codes})
),
cb AS (
  SELECT ms.m, cb0.code, cb0.v[ms.m*{ds}+1 : ms.m*{ds}+{ds}] AS c
  FROM (SELECT unnest(range({n_subspaces})) AS m) ms CROSS JOIN cb0
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, cb.m, cb.code,
           row_number() OVER (PARTITION BY e.vec_id, cb.m
                              ORDER BY {d2sub}, cb.code) AS rn
    FROM e CROSS JOIN cb)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {query_pred}),
dt AS (
  SELECT q.query_id, cb.m, cb.code, {d2q} AS d2
  FROM q CROSS JOIN cb
),
approx AS (
  SELECT dt.query_id, enc.vec_id AS neighbor_id, round(sum(dt.d2), 6) AS ad2
  FROM enc JOIN dt ON dt.m = enc.m AND dt.code = enc.code
  WHERE enc.vec_id <> dt.query_id
  GROUP BY dt.query_id, enc.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ad2, neighbor_id) AS ar
    FROM approx)
  WHERE ar <= {refine * k}
),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         round({_cos('q.qv', 'e.v', dim)}, 6) AS cos
  FROM cand c
  JOIN e ON e.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, cos AS cosine, rank
FROM ranked WHERE rank <= {k}
"""


def near_dup_source_matrix_sql(num_hashes: int = 32, bands: int = 8,
                               n: int = 3, threshold: float = 0.5,
                               seed: int = 42, source: str = "documents",
                               id_col: str = "doc_id") -> str:
    """Mirror of dedup.near_dup_source_matrix over
    dedup.minhash_dedup(hash_fn="md5") pairs: verified pairs labeled
    with their documents' sources, counted per unordered source pair."""
    ctes = _minhash_pair_ctes(num_hashes, bands, n, seed, source, id_col)
    return f"""
WITH {ctes},
p AS (SELECT id_a, id_b FROM scored WHERE jac >= {threshold}),
lab AS (
  SELECT da.source AS sa, db.source AS sb
  FROM p
  JOIN {source} da ON da.{id_col} = p.id_a
  JOIN {source} db ON db.{id_col} = p.id_b
)
SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       count(*) AS n_pairs
FROM lab GROUP BY 1, 2
"""


def stream_drift_sql(ref_pred: str = "event_type = 'click'",
                     bins: int = 20, lo: float = 0.0, hi: float = 500.0,
                     epsilon: float = 1e-6,
                     source: str = "events", value_col: str = "value",
                     ts_col: str = "ts") -> str:
    """Mirror of streaming.stream_drift over 1-hour tumbling windows
    (stream/batch consistency IS the check): same clamp + bin, epsilon
    smoothing, and left-fold PSI term order (list_reduce over the
    bin-ordered term list == Spark's i-ascending literal chain — FP
    associativity preserved). Missing bins are zero-filled on both the
    reference and the window side, as the Spark op's collect-and-fill
    reference and when/otherwise(0) sums do."""
    width = (hi - lo) / bins
    idx = (f"least({bins - 1}, greatest(0, floor((least({hi!r}, "
           f"greatest({lo!r}, {value_col}::DOUBLE)) - {lo!r}) / {width!r})::INT))")
    return f"""
WITH refc AS (
  SELECT {idx} AS idx, count(*)::DOUBLE AS c
  FROM {source} WHERE ({ref_pred}) AND {value_col} IS NOT NULL
  GROUP BY 1
),
refp AS (
  SELECT i AS idx,
         coalesce(refc.c, 0) / (SELECT sum(c) FROM refc) + {epsilon!r} AS pr
  FROM range(0, {bins}) t(i) LEFT JOIN refc ON refc.idx = i
),
vals AS (
  SELECT date_trunc('hour', {ts_col}) AS w, {idx} AS idx
  FROM {source} WHERE {value_col} IS NOT NULL
),
wn AS (SELECT w, count(*)::DOUBLE AS n FROM vals GROUP BY w),
wh AS (SELECT w, idx, count(*)::DOUBLE AS c FROM vals GROUP BY w, idx),
grid AS (SELECT wn.w, i AS idx FROM wn CROSS JOIN range(0, {bins}) t(i)),
filled AS (
  SELECT g.w, g.idx, coalesce(wh.c, 0) AS c
  FROM grid g LEFT JOIN wh ON wh.w = g.w AND wh.idx = g.idx
),
terms AS (
  SELECT f.w,
         f.idx,
         ((f.c / wn.n + {epsilon!r}) - refp.pr)
           * ln((f.c / wn.n + {epsilon!r}) / refp.pr) AS term
  FROM filled f JOIN wn ON wn.w = f.w JOIN refp ON refp.idx = f.idx
),
psi AS (
  SELECT w, list_reduce(list(term ORDER BY idx), (x, y) -> x + y) AS s
  FROM terms GROUP BY w
),
-- binned KS from the same bins: max |cum window CDF - cum ref CDF|,
-- UNSMOOTHED probabilities, each cumulative sum a sequential
-- left-fold in idx order (list_reduce over the prefix slice) so the FP
-- association matches Spark's i-ascending literal chain
refraw AS (
  SELECT list(coalesce(refc.c, 0) / (SELECT sum(c) FROM refc)
              ORDER BY i) AS pr
  FROM range(0, {bins}) t(i) LEFT JOIN refc ON refc.idx = i
),
ks AS (
  SELECT f.w,
         list_max(list_transform(range(1, {bins} + 1),
           k -> abs(list_reduce(pw[1:k], (x, y) -> x + y)
                    - list_reduce(rr.pr[1:k], (x, y) -> x + y)))) AS g
  FROM (SELECT w, list(c / wn.n ORDER BY f.idx) AS pw
        FROM filled f JOIN wn USING (w) GROUP BY w) f
  CROSS JOIN refraw rr
)
SELECT epoch_ms(psi.w) AS window_start_ms,
       wn.n::BIGINT AS n_events,
       round(psi.s, 6) AS psi,
       round(ks.g, 6) AS ks,
       psi.s > 0.25 AS drifted
FROM psi JOIN wn ON wn.w = psi.w JOIN ks ON ks.w = psi.w
"""


def _dhash_sum(px: str = "p") -> str:
    """The 64-term dHash bit sum over a 72-long (8x9 row-major) pixel
    list ``px``: bit r*8+c set when pixel (r, c+1) > pixel (r, c). Bit
    63 is the BIGINT sign bit — its mask is the BIGINT minimum written
    subtraction-style so the cast binds before unary minus."""
    terms = []
    for r in range(8):
        for c in range(8):
            i = r * 8 + c
            mask = f"{1 << i}" if i < 63 else "(-9223372036854775807 - 1)"
            terms.append(
                f"(CASE WHEN {px}[{r * 9 + c + 2}] > {px}[{r * 9 + c + 1}]"
                f" THEN ({mask})::BIGINT ELSE 0 END)")
    return "\n      + ".join(terms)


def video_near_dup_sql(n_frames: int = 3, every_n: int = 2,
                       max_hamming: int = 2, bands: int = 4,
                       min_frames: int = 1,
                       source: str = "documents",
                       id_col: str = "doc_id") -> str:
    """Mirror of the suite's video-dedup query: per document a
    ``n_frames``-frame synthetic clip (frame f pixel i =
    md5-60bit(token[(f*72 + i) mod n]) % 256), frames sampled every
    ``every_n`` starting at 0, each sampled frame dHashed, and the
    frame-keyed pigeonhole band join of
    ``dedup.banded_hamming_pairs(key_cols=("frame_no",))`` counted up
    to video-pair matches. The Spark side round-trips the SAME pixels
    through a real PNG encode into the Motion-PNG container and back
    (both lossless), so both engines hash identical bitmaps — the
    codec round-trip is exactly what the hash match proves."""
    sampled = ", ".join(f"({f})" for f in range(0, n_frames, every_n))
    band_rows = _band_chunk_rows(id_col, "ph", bands,
                                 extra="frame_no, ")
    return f"""
WITH toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
px AS (
  SELECT {id_col}, f.frame_no,
         list_transform(range(0, 72),
           i -> {_md5h('t[(((f.frame_no * 72) + i) % len(t)) + 1]')} % 256
         ) AS p
  FROM toks, (VALUES {sampled}) AS f(frame_no)
  WHERE len(t) >= 1
),
fp AS (SELECT {id_col}, frame_no, ({_dhash_sum('p')})::BIGINT AS ph
       FROM px),
entries AS (
{band_rows}
),
frame_pairs AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, a.frame_no AS frame_no
  FROM entries a JOIN entries b USING (frame_no, band, chunk)
  WHERE a.{id_col} < b.{id_col}
    AND bit_count(xor(a.ph, b.ph)) <= {max_hamming}
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, COUNT(*) AS n_matching
FROM frame_pairs GROUP BY 1, 2
HAVING COUNT(*) >= {min_frames}
"""


def audio_near_dup_sql(max_hamming: int = 2, bands: int = 4,
                       source: str = "documents",
                       id_col: str = "doc_id") -> str:
    """Mirror of the suite's audio-dedup query: per document a 260-
    sample synthetic PCM clip (sample i = md5-60bit(token[i mod n]) %
    4096), 65 frames of 4 samples, frame energy = mean of squares, one
    fingerprint bit per adjacent-energy comparison, then the pigeonhole
    band join. Frame length 4 (a power of two) and samples < 2^12 keep
    every energy integer-exact in a double, so the float comparison is
    engine-portable; the Spark side round-trips the SAME samples
    through a real WAV encode/decode (lossless PCM), which is what the
    hash match proves."""
    terms = []
    for i in range(64):
        mask = f"{1 << i}" if i < 63 else "(-9223372036854775807 - 1)"
        terms.append(f"(CASE WHEN e[{i + 2}] > e[{i + 1}]"
                     f" THEN ({mask})::BIGINT ELSE 0 END)")
    fp_sum = "\n      + ".join(terms)
    sq = " + ".join(f"s[4*j + {k}] * s[4*j + {k}]" for k in range(1, 5))
    band_rows = _band_chunk_rows(id_col, "afp", bands)
    return f"""
WITH toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
samps AS (
  SELECT {id_col},
         list_transform(range(0, 260),
           i -> {_md5h('t[(i % len(t)) + 1]')} % 4096) AS s
  FROM toks WHERE len(t) >= 1
),
energy AS (
  SELECT {id_col},
         list_transform(range(0, 65), j -> ({sq}) / 4.0) AS e
  FROM samps
),
fp AS (SELECT {id_col}, ({fp_sum})::BIGINT AS afp FROM energy),
entries AS (
{band_rows}
),
pairs AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
         bit_count(xor(a.afp, b.afp)) AS hamming
  FROM entries a JOIN entries b USING (band, chunk)
  WHERE a.{id_col} < b.{id_col}
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


def doc_pixels_cte(source: str = "documents",
                   id_col: str = "doc_id") -> str:
    """``WITH toks, px``: per document the synthesized 8x9 grayscale
    bitmap ``p`` (pixel i = md5-60bit(token[i mod n]) % 256, documents
    with no tokens dropped) — the DuckDB twin of the suite's
    ``_doc_png_images``, shared by the image-query oracles."""
    return f"""WITH toks AS (SELECT {id_col}, {_toks()} AS t FROM {source}),
px AS (
  SELECT {id_col},
         list_transform(range(0, 72),
           i -> {_md5h('t[(i % len(t)) + 1]')} % 256) AS p
  FROM toks WHERE len(t) >= 1
)"""


def multimodal_features_sql() -> str:
    """Mirror of the suite's feature query: ``extract_features(dim=8)``
    is an 8-bin luminance histogram over the 72 decoded pixels, so f0
    and f1 are the fractions of pixels in [0, 32) and [32, 64)."""
    return f"""
{doc_pixels_cte()}
SELECT doc_id AS media_id,
       round(len(list_filter(p, v -> v < 32)) / 72.0, 6) AS f0,
       round(len(list_filter(p, v -> v >= 32 AND v < 64)) / 72.0, 6) AS f1,
       8 AS dim
FROM px
"""


def image_near_dup_sql(max_hamming: int = 3, bands: int = 4,
                       source: str = "documents",
                       id_col: str = "doc_id") -> str:
    """Mirror of the suite's image-dedup query: the synthesized 8x9
    grayscale bitmap (pixel i = md5-60bit(token[i mod n]) % 256), the
    dHash bit grid (bit r*8+c set when pixel (r, c+1) > pixel (r, c)),
    and the pigeonhole band join + hamming verify of
    ``dedup.banded_hamming_pairs``. The Spark side round-trips the SAME
    pixels through a real PNG encode/decode (lossless), so both engines
    hash identical bitmaps. Bit 63 is the sign bit — its term adds the
    BIGINT minimum — and band chunks mask AFTER the shift, so
    arithmetic-vs-logical shift on negative codes cannot differ."""
    fp_sum = _dhash_sum("p")  # byte-identical to the pre-r7 inline terms
    band_rows = _band_chunk_rows(id_col, "ph", bands)
    return f"""
{doc_pixels_cte(source, id_col)},
fp AS (SELECT {id_col}, ({fp_sum})::BIGINT AS ph FROM px),
entries AS (
{band_rows}
),
pairs AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
         bit_count(xor(a.ph, b.ph)) AS hamming
  FROM entries a JOIN entries b USING (band, chunk)
  WHERE a.{id_col} < b.{id_col}
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


def registered_domain_sql(hosts: list[str], source: str = "documents",
                          id_col: str = "doc_id") -> str:
    """Mirror of ``pipeline.psl.with_registered_domain`` over hosts
    synthesized as ``hosts[id % len(hosts)]``: the vendored PSL
    snapshot's per-j rule tables become inline VALUES CTEs, the same
    left joins on the host's last-j labels run in DuckDB, and the
    prevailing-rule selection is the same coalesce/greatest expression
    — generated from the SAME parsed rules object, so the two engines
    cannot drift."""
    from kiji_mapreduce_spark.pipeline import psl as _psl

    rules = _psl.snapshot_rules()
    js = sorted(rules.tables)
    n_hosts = len(hosts)
    host_arr = "[" + ", ".join("'" + h.replace("'", "''") + "'"
                               for h in hosts) + "]"

    rule_ctes = []
    joins = []
    for j in js:
        vals = ",\n    ".join(
            f"('{k}', {str(v[0]).lower()}, {str(v[1]).lower()}, "
            f"{str(v[2]).lower()})"
            for k, v in sorted(rules.tables[j].items()))
        rule_ctes.append(
            f"psl{j} AS (SELECT * FROM (VALUES\n    {vals}\n"
            f"  ) v(tail, ex, exc, wd))")
        joins.append(
            f"LEFT JOIN psl{j} r{j} ON t.tail{j} = r{j}.tail")
    tail_cols = ",\n         ".join(
        f"CASE WHEN n >= {j} THEN "
        f"array_to_string(labs[n - {j} + 1 : n], '.') END AS tail{j}"
        for j in js)
    flag_cols = ",\n         ".join(
        f"coalesce(r{j}.ex, false) AS ex{j}, "
        f"coalesce(r{j}.exc, false) AS exc{j}, "
        f"coalesce(r{j}.wd, false) AS wd{j}"
        for j in js)
    exc_len = "greatest(0, " + ", ".join(
        f"CASE WHEN exc{j} THEN {j} ELSE 0 END" for j in js) + ")"
    match_len = "greatest(1, " + ", ".join(
        [f"CASE WHEN ex{j} THEN {j} ELSE 0 END" for j in js]
        + [f"CASE WHEN wd{j} AND n >= {j + 1} THEN {j + 1} ELSE 0 END"
           for j in js]) + ")"
    rule_ctes_sql = ",\n".join(rule_ctes)
    joins_sql = "\n  ".join(joins)
    return f"""
WITH {rule_ctes_sql},
hosts AS (
  SELECT {id_col},
         {host_arr}[CAST({id_col} % {n_hosts} AS INT) + 1] AS host
  FROM {source}
),
h AS (
  SELECT {id_col}, host,
         regexp_replace(lower(host), '\\.$', '') AS hh
  FROM hosts
),
l AS (
  SELECT *, string_split(hh, '.') AS labs,
         len(string_split(hh, '.')) AS n
  FROM h
),
t AS (
  SELECT *,
         {tail_cols}
  FROM l
),
j AS (
  SELECT t.*,
         {flag_cols}
  FROM t
  {joins_sql}
),
p AS (
  SELECT *,
         CASE WHEN {exc_len} > 0 THEN {exc_len} - 1
              ELSE {match_len} END AS ps_len
  FROM j
)
SELECT {id_col}, host,
       CASE WHEN hh IS NULL THEN NULL
            WHEN regexp_matches(hh, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')
              THEN hh
            WHEN n > ps_len
              THEN array_to_string(labs[n - ps_len : n], '.')
            ELSE hh END AS domain
FROM p
"""


def html_extract_sql(source: str = "documents",
                     id_col: str = "doc_id") -> str:
    """Mirror of ``pipeline.text.http_html_text`` over HTTP+HTML bytes
    synthesized from each document: the same strip chain — script and
    style spans (two sequential non-backreference replaces, equivalent
    on this input to Spark's alternation-with-backreference since RE2
    has no backreferences), comments, remaining tags, the entity decode
    chain with &amp; LAST, whitespace collapse. The body string is
    constructed directly (the synthesized headers are constant and
    contain the first CRLF CRLF, so Spark's header split lands exactly
    at the construction boundary)."""
    body = (f"'<html><head><title>T' || CAST({id_col} AS VARCHAR) || "
            "'</title>"
            "<script type=\"text/javascript\">var x = ''<p>junk</p>'';"
            "</script><style>.a{color:red}</style></head>"
            "<body><!-- note --><h1>Doc&nbsp;' || "
            f"CAST({id_col} AS VARCHAR) || '</h1><p>' || "
            f"substr(text, 1, 200) || "
            "'</p><div>&amp;lt; stays</div></body></html>'")
    x = "body"
    for pat in (r"(?is)<script[^>]*>.*?</script\s*>",
                r"(?is)<style[^>]*>.*?</style\s*>",
                r"(?s)<!--.*?-->",
                r"(?s)<[^>]*>"):
        x = f"regexp_replace({x}, '{pat}', ' ', 'g')"
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&")):
        x = f"replace({x}, '{ent}', '{ch}')"
    x = f"trim(regexp_replace({x}, '\\s+', ' ', 'g'))"
    return f"""
WITH c AS (
  SELECT {id_col}, {body} AS body FROM {source}
)
SELECT {id_col}, 'text/html' AS content_type, {x} AS text FROM c
"""
