"""Text-analysis queries over the documents table: token/byte stats,
quality, language ID, fingerprints, PII, normalization, chunking,
wordcount/TF-IDF/BM25/bigram-LM, multimodal features."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from kiji_mapreduce_spark.operators import Gatherer
from kiji_mapreduce_spark import oracles
from kiji_mapreduce_spark.pipeline import lm, search, text as text_ops
from kiji_mapreduce_spark.functions import lit_array, local_table
from kiji_mapreduce_spark.suite import common
from kiji_mapreduce_spark.suite.common import _t


def q_text_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_ops.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_txt"),
        text_ops.bpe_ish_token_count(F.col("text")).alias("n_subtokens"),
    )


SQL_TEXT_TOKEN_COUNT = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\S+')) AS n_tokens,
       length(text) AS n_chars_txt,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_subtokens
FROM documents
"""


def q_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text_ops.quality_features(docs).select(
        "doc_id", "n_tokens", "avg_token_len", "punct_ratio",
        "digit_ratio", "stopword_ratio", "quality_score")


SQL_TEXT_QUALITY = r"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '\S+')) AS n_tokens,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digits,
         len(list_filter(str_split_regex(lower(text), '\s+'),
             x -> list_contains(['the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was', 'for'], x))) AS n_stop
  FROM documents
), r AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens > 0 THEN (n_chars - n_tokens + 1.0) / n_tokens ELSE 0.0 END AS atl,
         CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS pr,
         CASE WHEN n_chars > 0 THEN n_digits * 1.0 / n_chars ELSE 0.0 END AS dr,
         CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END AS sr
  FROM f
)
SELECT doc_id, n_tokens,
       round(atl, 4) AS avg_token_len,
       round(pr, 4) AS punct_ratio,
       round(dr, 4) AS digit_ratio,
       round(sr, 4) AS stopword_ratio,
       round(CAST(
         (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END) +
         (CASE WHEN atl BETWEEN 2 AND 12 THEN 0.2 ELSE 0.0 END) +
         (CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END) +
         (CASE WHEN dr <= 0.2 THEN 0.1 ELSE 0.0 END) +
         (CASE WHEN sr >= 0.01 THEN 0.1 ELSE 0.0 END) AS DOUBLE), 2) AS quality_score
FROM r
"""


SQL_TEXT_LANGID = r"""
WITH padded AS (
  SELECT doc_id, lang, lower(text) AS t FROM documents
), scores AS (
  SELECT doc_id, lang, 'de' AS cand,
         len(list_filter(str_split_regex(t, '\s+'),
             x -> list_contains(['der', 'die', 'und', 'das', 'ist', 'von', 'mit', 'den', 'ein', 'zu'], x))) AS hits FROM padded
  UNION ALL
  SELECT doc_id, lang, 'en',
         len(list_filter(str_split_regex(t, '\s+'),
             x -> list_contains(['the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was', 'for'], x))) FROM padded
  UNION ALL
  SELECT doc_id, lang, 'es',
         len(list_filter(str_split_regex(t, '\s+'),
             x -> list_contains(['el', 'la', 'de', 'que', 'y', 'en', 'un', 'por', 'con', 'los'], x))) FROM padded
  UNION ALL
  SELECT doc_id, lang, 'fr',
         len(list_filter(str_split_regex(t, '\s+'),
             x -> list_contains(['le', 'la', 'de', 'et', 'les', 'des', 'est', 'dans', 'que', 'pour'], x))) FROM padded
  UNION ALL
  SELECT doc_id, lang, 'zh',
         len(list_filter(str_split_regex(t, '\s+'),
             x -> list_contains(['的', '是', '在', '了', '和', '有', '我', '不', '人', '这'], x))) FROM padded
), best AS (
  SELECT doc_id, lang, cand, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, cand DESC) AS rn
  FROM scores
)
SELECT doc_id, lang,
       CASE WHEN hits > 0 THEN cand ELSE 'und' END AS lang_pred
FROM best WHERE rn = 1
"""


def q_text_chunking(spark, sf_dir):
    """Token-window chunking with overlap (``text.chunk_documents``) —
    the context-window / RAG-prep operator: 64-token chunks, stride 48
    (16-token overlap). Oracle: the same slicing arithmetic over
    DuckDB's ``regexp_extract_all`` token lists."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.chunk_documents(
        docs, chunk_tokens=64, stride=48).select(
        "doc_id", "chunk_id", "chunk_text", "n_tokens")


SQL_TEXT_CHUNKING = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk,
         len(regexp_extract_all(text, '\S+')) AS n
  FROM documents),
c AS (
  SELECT doc_id, tk, n,
         CASE WHEN n <= 64 THEN 1
              ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1 END AS nc
  FROM t WHERE n > 0),
e AS (
  SELECT doc_id, tk, n, unnest(range(0, nc)) AS chunk_id FROM c)
SELECT doc_id, chunk_id,
       array_to_string(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64],
                       ' ') AS chunk_text,
       least(n - chunk_id * 48, 64) AS n_tokens
FROM e
"""


# decomposed E + combining acute (NFC must recompose it), double spaces
# (the collapse must fold them), fullwidth A (Unicode lower must map it)
_NFC_SUFFIX = "  CAFE\u0301  \uFF21  "


def q_text_normalize(spark, sf_dir):
    """Unicode NFC + lower + whitespace-collapse normalization. A
    combining-sequence suffix (see ``_NFC_SUFFIX``) is appended so NFC
    provably recomposes — the documents themselves are ASCII.
    Digest-compared against DuckDB's nfc_normalize."""
    docs = _t(spark, sf_dir, "documents")
    suffixed = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(_NFC_SUFFIX)).alias("text"))
    return text_ops.normalize_text(suffixed).select(
        "doc_id", F.md5("text_norm").alias("norm_digest"),
        F.length("text_norm").alias("norm_len"))


SQL_TEXT_NORMALIZE = f"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(nfc_normalize(
           text || '{_NFC_SUFFIX}')), '\\s+', ' ', 'g')))
         AS norm_digest,
       length(trim(regexp_replace(lower(nfc_normalize(
           text || '{_NFC_SUFFIX}')), '\\s+', ' ', 'g')))
         AS norm_len
FROM documents
"""


def q_text_langid(spark, sf_dir):
    """Stopword-vote language id (oracle: the same vote in SQL)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang",
        text_ops.language_id(F.col("text")).alias("lang_pred"))


def q_text_fingerprint(spark, sf_dir):
    """Winnowing-style rolling-hash fingerprint, oracle-checked: the
    md5-mode token hash makes the rolling polynomial reproducible in
    DuckDB (``oracles.fingerprint_sql``). Uses the posexplode+window
    form (codegen'd)."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.fingerprints(docs, hash_fn="md5")


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: character mass of the
    most-repeated word 2-/3-gram and of duplicated 5-grams, over the
    normalized doc length. One explode + one (id, n, gram) count agg."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.repetition_features(docs, top_ns=(2, 3), dup_ns=(5,))


# Groups exact gram strings, while the engine keys grams by (64-bit
# hash, length): a hash collision (bound in
# ``text.repetition_features``'s docstring) shows up here as a mismatch
# in one document's fractions.
SQL_TEXT_REPETITION = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
norm AS (
  SELECT doc_id,
         list_sum(list_transform(t, x -> length(x))) + len(t) - 1 AS norm_len
  FROM toks WHERE len(t) >= 1
),
g AS (
  SELECT doc_id, n,
         unnest(list_transform(range(1, len(t) - n + 2),
                i -> array_to_string(t[i : i + n - 1], ' '))) AS gram
  FROM toks, (VALUES (2), (3), (5)) v(n)
  WHERE len(t) >= n
),
c AS (
  SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY doc_id, n, gram
),
m AS (
  -- top_mass = char mass of the most-FREQUENT gram (count dominates the
  -- composite key; mass breaks count ties) — mirrors repetition_features
  SELECT doc_id, n,
         max(c * 100000000 + c * length(gram)) % 100000000 AS top_mass,
         coalesce(sum(CASE WHEN c >= 2 THEN c * length(gram) END), 0)
           AS dup_mass
  FROM c GROUP BY doc_id, n
),
wide AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN top_mass END) AS top2,
         max(CASE WHEN n = 3 THEN top_mass END) AS top3,
         max(CASE WHEN n = 5 THEN dup_mass END) AS dup5
  FROM m GROUP BY doc_id
)
SELECT norm.doc_id,
       round(coalesce(top2, 0) / norm_len, 4) AS top2_frac,
       round(coalesce(top3, 0) / norm_len, 4) AS top3_frac,
       round(coalesce(dup5, 0) / norm_len, 4) AS dup5_frac
FROM norm LEFT JOIN wide ON norm.doc_id = wide.doc_id
"""


def q_text_pii(spark, sf_dir):
    """PII scrub: regex-count emails / phones / IPv4s and hash the
    typed-token redaction. The driver's customer table carries no contact
    columns, so deterministic PII is synthesized from the keys (email for
    every 3rd customer, phone every 2nd, IP every 5th) — giving the
    patterns real positive AND negative rows; patterns are
    Java-regex/RE2-identical so the scrub is oracle-checkable."""
    cust = _t(spark, sf_dir, "customer")
    key, nat = F.col("c_custkey"), F.col("c_nationkey")
    email = F.when(key % 3 == 0, F.concat(
        F.lower(F.regexp_replace("c_name", r"[^A-Za-z0-9]", ".")),
        F.lit("@example.com")))
    phone = F.when(key % 2 == 0, F.concat(
        F.lpad((nat % 100).cast("string"), 2, "0"), F.lit("-"),
        F.lpad((key % 1000).cast("string"), 3, "0"), F.lit("-555-"),
        F.lpad((key % 10000).cast("string"), 4, "0")))
    ip = F.when(key % 5 == 0, F.concat(
        (key % 256).cast("string"), F.lit("."),
        (nat % 256).cast("string"), F.lit(".0.1")))
    blob = cust.select(
        "c_custkey",
        F.concat_ws(" ", F.col("c_name"), F.col("c_mktsegment"),
                    email, phone, ip).alias("text"))
    return text_ops.pii_features(blob).select(
        "c_custkey", "n_emails", "n_phones", "n_ipv4",
        F.md5("redacted").alias("redacted_digest"), "has_pii")


SQL_TEXT_PII = r"""
WITH blob AS (
  SELECT c_custkey,
         concat_ws(' ', c_name, c_mktsegment,
           CASE WHEN c_custkey % 3 = 0 THEN
             lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g'))
             || '@example.com' END,
           CASE WHEN c_custkey % 2 = 0 THEN
             lpad((c_nationkey % 100)::VARCHAR, 2, '0') || '-'
             || lpad((c_custkey % 1000)::VARCHAR, 3, '0') || '-555-'
             || lpad((c_custkey % 10000)::VARCHAR, 4, '0') END,
           CASE WHEN c_custkey % 5 = 0 THEN
             (c_custkey % 256)::VARCHAR || '.'
             || (c_nationkey % 256)::VARCHAR || '.0.1' END) AS text
  FROM customer
)
SELECT c_custkey,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
  len(regexp_extract_all(text,
      '\b(?:\d{2,3}[- ])?\d{3}[- ]\d{3}[- ]\d{4}\b')) AS n_phones,
  len(regexp_extract_all(text,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  md5(regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b(?:\d{2,3}[- ])?\d{3}[- ]\d{3}[- ]\d{4}\b', '[PHONE]', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'))
    AS redacted_digest,
  (len(regexp_extract_all(text,
       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
   + len(regexp_extract_all(text,
       '\b(?:\d{2,3}[- ])?\d{3}[- ]\d{3}[- ]\d{4}\b'))
   + len(regexp_extract_all(text,
       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) > 0 AS has_pii
FROM blob
"""


class _WordCountGatherer(Gatherer):
    """THE canonical MapReduce job as a Gatherer: tokenize -> emit ->
    count (reference KijiGatherer docs pattern)."""

    def gather_df(self, df, ctx):
        return df.select(F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("word"))

    def reduce_df(self, g, ctx):
        return g.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def q_wordcount_top50(spark, sf_dir):
    counts = _WordCountGatherer().compile(_t(spark, sf_dir, "documents"))
    return counts.orderBy(F.col("n").desc(), "word").limit(50)


SQL_WORDCOUNT = r"""
SELECT word, count(*) AS n
FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x != '')) AS word
      FROM documents)
GROUP BY word ORDER BY n DESC, word LIMIT 50
"""


def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF per (doc, term), top 3 terms per doc — the classic two-pass
    MapReduce workload as DataFrame ops (one explode, two aggregations,
    one broadcast-joined doc-frequency table)."""
    docs = _t(spark, sf_dir, "documents")
    # corpus size folded INTO the plan as a broadcast scalar (a driver-side
    # docs.count() would be a second full scan of documents at 100 TB)
    n_docs = F.broadcast(
        docs.agg(F.count(F.lit(1)).cast("double").alias("_n_docs")))
    terms = docs.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"),
                           lambda t: t != "")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf is unique per (doc_id, term) BY CONSTRUCTION, so a plain count
    # equals countDistinct without the two-phase distinct-aggregate
    # expansion (r13 review finding)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), on="term").crossJoin(n_docs).select(
        "doc_id", "term",
        (F.col("tf") * F.log(F.col("_n_docs") / F.col("df")))
        .alias("_tfidf"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_tfidf").desc(), F.col("term"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "term",
                    F.round("_tfidf", 6).alias("tfidf"), "rnk"))


SQL_TFIDF = r"""
WITH terms AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x != '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((SELECT count(*) FROM documents) * 1.0 / dfreq.df)
         AS tfidf_raw
  FROM tf JOIN dfreq ON tf.term = dfreq.term
)
SELECT doc_id, term, round(tfidf_raw, 6) AS tfidf, rnk FROM (
  SELECT doc_id, term, tfidf_raw,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf_raw DESC, term) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


# fixed query set for the BM25 suite query — terms drawn from the
# synthetic documents vocabulary so every query matches
_BM25_QUERIES = [
    ("q1", "fast vector scan"),
    ("q2", "customer order join"),
    ("q3", "stream window agg"),
]


def q_bm25_search_topk(spark, sf_dir):
    """Okapi BM25 top-10 per query: postings from one explode+groupBy,
    corpus stats as a broadcast scalar, query terms broadcast against
    the postings; ranked on the 6-dp-rounded score so order matches the
    oracle bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    qs = local_table(spark, _BM25_QUERIES,
                     "query_id string, query_text string")
    return search.bm25_topk(docs, qs, k=10)


def q_lm_bigram_quality(spark, sf_dir):
    """CCNet-style LM quality signal: add-0.1-smoothed bigram model
    trained on the corpus itself, every doc scored by mean token
    log-likelihood + perplexity (the model is a DataFrame — two
    aggregations — so a 100 TB reference trains with one shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return lm.bigram_lm_scores(docs, alpha=0.1, hash_fn="md5")


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing over real data: treat each document's UTF-8
    bytes as an opaque media blob, attach typed metadata, extract a
    deterministic fake embedding via the Arrow/mapInPandas path. Fully
    oracle-checked since r4: the fake feature is sha256-derived and
    DuckDB's sha256(VARCHAR) hashes the same UTF-8 bytes, so the oracle
    recomputes f0/f1 exactly from hex substrings."""
    from kiji_mapreduce_spark.pipeline import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"))
    with_meta = multimodal.attach_media_meta(media, media_type="text/blob")
    feats = multimodal.extract_features(with_meta, dim=8)
    return feats.select(
        "media_id",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
        F.round(F.element_at("feature", 2), 6).alias("f1"),
        F.size("feature").alias("dim"))


# the fake feature maps h = sha256(content || be32(0)) to floats via
# uint32_be(h[4i:4i+4]) / 2^31 - 1 (multimodal._fake_feature); dim=8
# needs only counter 0, so f0/f1 are the first two 4-byte windows
SQL_MULTIMODAL_FEATURES = """
WITH h AS (
  SELECT doc_id AS media_id,
         sha256(text || chr(0) || chr(0) || chr(0) || chr(0)) AS hx
  FROM documents
)
SELECT media_id,
       round(('0x' || substr(hx, 1, 8))::BIGINT / 2147483648.0 - 1.0, 6)
         AS f0,
       round(('0x' || substr(hx, 9, 8))::BIGINT / 2147483648.0 - 1.0, 6)
         AS f1,
       8 AS dim
FROM h
"""


def q_image_near_duplicates(spark, sf_dir):
    """Image perceptual-hash dedup, end-to-end through the REAL codec
    path: each document synthesizes a deterministic 8x9 grayscale
    bitmap (pixel i = md5-60bit(token[i mod n]) % 256 — duplicate texts
    yield identical images, near-dup texts yield near-identical ones),
    the bitmap round-trips a real PNG encode (``media_codecs``), and
    ``multimodal.image_near_duplicates`` decodes, dHashes, and
    band-joins the codes. The oracle recomputes the dHash from the same
    md5 pixel arithmetic — the lossless PNG round-trip is exactly what
    the hash-match proves."""
    import numpy as np
    import pandas as pd

    from kiji_mapreduce_spark.pipeline import multimodal

    # pixel i = md5-60bit(token[i mod n]) % 256. The shared synthesizer
    # hashes the token array ONCE and cycles it with array_repeat+slice:
    # higher-order lambdas run interpreted (no codegen subexpression
    # elimination), so an element_at(toks, i mod n) form re-tokenizes
    # the text per PIXEL (~144 regexp splits/row — measured 9.5s for 5k
    # rows at sf0.1; this form is ~20x faster and value-identical).
    pixels = _doc_pixel_stream(
        common._t_widened(spark, sf_dir, "documents", "doc_id"), 72)

    def _encode(batches):
        from kiji_mapreduce_spark.pipeline import media_codecs

        for pdf in batches:
            content = [
                media_codecs.encode_png(
                    np.array(p, dtype=np.uint8).reshape(8, 9))
                for p in pdf["_px"]]
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "content": content})

    imgs = pixels.mapInPandas(_encode, "media_id long, content binary")
    out = multimodal.image_near_duplicates(
        imgs, max_hamming=3, bands=4, use_real_decoder=True)
    return out.select("id_a", "id_b", "hamming")


SQL_IMAGE_NEAR_DUPLICATES = oracles.image_near_dup_sql(
    max_hamming=3, bands=4)


def _doc_pixel_stream(docs, n_pixels: int, modulus: int = 256):
    """(media_id, _px array<int>) with value i = md5-60bit(token[i mod
    n]) % modulus — the deterministic media synthesizer shared by the
    image/video (pixels, % 256) and audio (PCM samples, % 4096) dedup
    queries. Token hashes are computed ONCE per row and cycled with
    array_repeat+slice (see the r13 image-query note for why
    element_at-in-a-lambda is ~20x slower)."""
    from kiji_mapreduce_spark.pipeline import dedup as dd

    # the bench corpus is ONE small parquet file -> a 1-partition scan,
    # and everything downstream of it here is compute-dense (per-token
    # md5 + the Python PNG/WAV encode + the real decode), so the whole
    # media chain was running in a single task (profiled: the decode
    # checkpoint job = 1.8 s wall at 1.77 s task-time at sf0.1).
    # Guide §2.5 "input skew": repartition immediately after the read —
    # BEFORE the projection, so the md5 pixel synthesis parallelizes
    # too. Deterministic hash partitioning on the id; fan-out sizing
    # (half the scheduler width — one Python worker per task) and the
    # skip-when-already-wide check live on common.widen_narrow_scan /
    # compute_parallel_target; callers hand in the widened docs table
    # (common._t_widened). Production operators (multimodal.*) take
    # media tables that are already many files wide.
    toks = dd.tokens(F.col("text"))
    n = F.size(toks)
    hashed = F.transform(
        toks,
        lambda t: F.pmod(dd.token_hash64(t, "md5"), F.lit(modulus))
        .cast("int"))
    reps = F.floor((F.lit(n_pixels - 1) + n) / n).cast("int")
    px = F.slice(F.flatten(F.array_repeat(hashed, reps)), 1, n_pixels)
    return (docs.filter(F.size(dd.tokens(F.col("text"))) >= 1)
            .select(F.col("doc_id").alias("media_id"), px.alias("_px")))


def q_video_near_duplicates(spark, sf_dir):
    """Video near-dup dedup, end-to-end through the REAL container
    path: each document synthesizes a deterministic 3-frame clip
    (frame f pixel i = md5-60bit(token[(f*72 + i) mod n]) % 256 — the
    image query's synthesizer extended along a frame axis), the frames
    round-trip real PNG encodes inside the Motion-PNG container
    (``media_codecs.encode_video``), and
    ``multimodal.video_near_duplicates`` decodes, samples every 2nd
    frame (0 and 2), dHashes each, and counts frame-aligned banded
    matches per clip pair. The oracle recomputes the sampled frames'
    dHashes from the same md5 pixel arithmetic — the lossless
    PNG-in-container round-trip is exactly what the hash match
    proves. Run locally vs the oracle at sf0.01 (hash-consistent)
    pending its first in-window driver row."""
    import numpy as np
    import pandas as pd

    from kiji_mapreduce_spark.pipeline import multimodal

    pixels = _doc_pixel_stream(
        common._t_widened(spark, sf_dir, "documents", "doc_id"), 3 * 72)

    def _encode(batches):
        from kiji_mapreduce_spark.pipeline import media_codecs

        for pdf in batches:
            content = []
            for p in pdf["_px"]:
                arr = np.array(p, dtype=np.uint8).reshape(3, 8, 9)
                content.append(media_codecs.encode_video(list(arr)))
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "content": content})

    clips = pixels.mapInPandas(_encode, "media_id long, content binary")
    out = multimodal.video_near_duplicates(
        clips, every_n=2, max_hamming=2, bands=4, min_frames=1,
        use_real_decoder=True)
    return out.select("id_a", "id_b", "n_matching")


SQL_VIDEO_NEAR_DUPLICATES = oracles.video_near_dup_sql(
    n_frames=3, every_n=2, max_hamming=2, bands=4, min_frames=1)


def q_audio_near_duplicates(spark, sf_dir):
    """Audio fingerprint dedup, end-to-end through the REAL WAV codec:
    each document synthesizes a deterministic 260-sample PCM clip
    (sample i = md5-60bit(token[i mod n]) % 4096), round-trips a real
    WAV encode (``media_codecs.encode_wav``), and
    ``multimodal.audio_near_duplicates`` decodes, fingerprints (65
    frames of 4 samples, one bit per adjacent frame-energy
    comparison), and band-joins the codes. Frame length 4 and samples
    < 2^12 keep every frame energy integer-exact in a double, so the
    oracle's recomputed energies compare bit-identically — the
    lossless PCM round-trip is what the hash match proves. Run locally
    vs the oracle at sf0.01 (hash-consistent) pending its first
    in-window driver row."""
    import numpy as np
    import pandas as pd

    from kiji_mapreduce_spark.pipeline import multimodal

    pcm = _doc_pixel_stream(
        common._t_widened(spark, sf_dir, "documents", "doc_id"), 260,
                            modulus=4096)

    def _encode(batches):
        from kiji_mapreduce_spark.pipeline import media_codecs

        for pdf in batches:
            content = [
                media_codecs.encode_wav(
                    np.array(s, dtype=np.int16), 8000)
                for s in pdf["_px"]]
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "content": content})

    clips = pcm.mapInPandas(_encode, "media_id long, content binary")
    out = multimodal.audio_near_duplicates(
        clips, max_hamming=2, bands=4, use_real_decoder=True)
    return out.select("id_a", "id_b", "hamming")


SQL_AUDIO_NEAR_DUPLICATES = oracles.audio_near_dup_sql(
    max_hamming=2, bands=4)


def q_shard_ingest_members(spark, sf_dir):
    """Shard ingest, end-to-end through the REAL tar stream reader:
    documents pack into 8 tar shards (member = the doc's UTF-8 bytes,
    named by doc_id, sorted within shard; odd shards gzip the tar so
    BOTH ``r|*`` paths — plain and gz — are on the hash), then
    ``archive_members_from_files`` walks them back and the result is
    each member's (shard, position, name, byte size, md5). The oracle
    recomputes all five straight from the documents table, so any
    member the stream reader drops, reorders, truncates, or corrupts
    is a hash mismatch — the surface whose lenient contract produced
    the r11 tar.gz TypeError leak, now driver-checked every rotation.

    Scale shape: the pack side groups by shard_no only to build test
    fixtures (production packing is ``pack_webdataset``, which bounds
    shard size); the read side is the real ingest path — file = unit
    of parallelism, members stream one at a time, O(member) memory."""
    import pandas as pd

    from kiji_mapreduce_spark.io import inputs

    docs = (_t(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select(F.pmod("doc_id", F.lit(8)).cast("int")
                    .alias("shard_no"),
                    "doc_id", F.encode("text", "UTF-8").alias("payload")))

    def _pack(pdf):
        import gzip
        import io as _io
        import tarfile

        pdf = pdf.sort_values("doc_id")
        shard_no = int(pdf["shard_no"].iloc[0])
        buf = _io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                ti = tarfile.TarInfo(f"doc-{int(did):012d}.txt")
                ti.size = len(payload)
                tf.addfile(ti, _io.BytesIO(bytes(payload)))
        raw = buf.getvalue()
        if shard_no % 2:
            return pd.DataFrame(
                {"path": [f"shard-{shard_no:03d}.tar.gz"],
                 "content": [gzip.compress(raw, mtime=0)]})
        return pd.DataFrame({"path": [f"shard-{shard_no:03d}.tar"],
                             "content": [raw]})

    shards = docs.groupBy("shard_no").applyInPandas(
        _pack, "path string, content binary")
    members = inputs.archive_members_from_files(shards, "tar",
                                                lenient=False)
    return members.select(
        F.regexp_extract("path", r"shard-(\d+)", 1).cast("int")
        .alias("shard_no"),
        "member_no",
        "member_path",
        F.col("size").alias("n_bytes"),
        F.md5("content").alias("content_md5"))


SQL_SHARD_INGEST_MEMBERS = """
SELECT (doc_id % 8)::INTEGER AS shard_no,
       (row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
        - 1)::INTEGER AS member_no,
       'doc-' || lpad(doc_id::VARCHAR, 12, '0') || '.txt' AS member_path,
       strlen(text)::BIGINT AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE text IS NOT NULL
"""


def q_collocations_top(spark, sf_dir):
    """PMI collocation mining (word2phrase): top-20 adjacent pairs by
    NPMI among those seen >= 5 times — one token scan feeds the unigram
    and pair count tables, totals fold in as broadcast scalars."""
    docs = _t(spark, sf_dir, "documents")
    out = lm.collocations(docs, min_count=5)
    # TakeOrderedAndProject (orderBy+limit) instead of ranking the full
    # pruned pair table in an unpartitioned window: at 100x corpus the
    # distinct-adjacent-pair vocabulary is still hundreds of millions of
    # rows, and a global row_number() funnels all of them through one
    # task.  Ranking only the 20 survivors (same order + tie-break, so
    # the oracle hash is unchanged) keeps the window input literally
    # bounded — the classifier_score_topk idiom.
    top = (out.orderBy(F.col("npmi").desc(), "w1", "w2").limit(20))
    w = Window.orderBy(F.col("npmi").desc(), "w1", "w2")
    return (top.withColumn("rank", F.row_number().over(w))
            .select("w1", "w2", "n_pair", "n_w1", "n_w2",
                    F.round("pmi", 6).alias("pmi"),
                    F.round("npmi", 6).alias("npmi"), "rank"))


SQL_COLLOCATIONS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
pr AS (
  SELECT unnest(list_transform(range(1, len(t)),
                i -> struct_pack(a := t[i], b := t[i+1]))) AS s
  FROM toks WHERE len(t) >= 2
),
pairs AS (
  SELECT s.a AS w1, s.b AS w2, count(*) AS n_pair
  FROM pr GROUP BY 1, 2 HAVING count(*) >= 5
),
uni AS (
  SELECT tok AS w, count(*) AS n_w
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1
),
tu AS (SELECT sum(n_w)::DOUBLE AS tu FROM uni),
tp AS (SELECT sum(greatest(len(t) - 1, 0))::DOUBLE AS tp FROM toks),
j AS (
  SELECT p.w1, p.w2, p.n_pair,
         u1.n_w AS n_w1, u2.n_w AS n_w2,
         ln((p.n_pair / tp) / ((u1.n_w / tu) * (u2.n_w / tu))) AS pmi,
         ln((p.n_pair / tp) / ((u1.n_w / tu) * (u2.n_w / tu)))
           / -ln(p.n_pair / tp) AS npmi
  FROM pairs p
  JOIN uni u1 ON u1.w = p.w1
  JOIN uni u2 ON u2.w = p.w2
  CROSS JOIN tu CROSS JOIN tp
)
SELECT w1, w2, n_pair, n_w1, n_w2,
       round(pmi, 6) AS pmi, round(npmi, 6) AS npmi, rank
FROM (SELECT *, row_number() OVER (ORDER BY npmi DESC, w1, w2) AS rank
      FROM j)
WHERE rank <= 20
"""


#: deterministic host fixtures for the PSL oracle query — chosen to
#: exercise every rule class: exact second-level registries, the *.ck /
#: *.sch.uk / *.kawasaki.jp wildcards, the !www.ck / !city.kawasaki.jp
#: exceptions, PSL private-section platform suffixes, FQDN trailing
#: dots, hosts that ARE a public suffix, IPs, and implicit-* TLDs
_PSL_HOSTS = [
    "news.example.com",
    "blog.example.co.uk",
    "a.b.example.com.au",
    "deep.example.ac.jp",
    "foo.bar.ck",
    "www.ck",
    "sub.www.ck",
    "a.b.kawasaki.jp",
    "x.city.kawasaki.jp",
    "alice.github.io",
    "example.com.",
    "co.uk",
    "localhost",
    "192.168.0.1",
    "x.unknown.zz",
    "www.example.sch.uk",
]


def q_crawl_registered_domain(spark, sf_dir):
    """PSL-exact registered-domain extraction (r7 verdict ask #6),
    oracle-checked: hosts synthesized as ``_PSL_HOSTS[doc_id % 16]``
    flow through ``psl.with_registered_domain`` — the broadcast
    rule-table joins over the vendored snapshot (exact + wildcard +
    exception rules, trailing-dot strip, IP passthrough). The oracle
    (``oracles.registered_domain_sql``) regenerates the same rule
    tables from the same parsed snapshot as inline VALUES and runs the
    same joins in DuckDB."""
    from kiji_mapreduce_spark.pipeline import psl

    docs = _t(spark, sf_dir, "documents")
    n = len(_PSL_HOSTS)
    host = F.element_at(
        lit_array(_PSL_HOSTS, "string"),
        (F.col("doc_id") % n).cast("int") + 1)
    df = docs.select("doc_id", host.alias("host"))
    out = psl.with_registered_domain(
        df, "host", "domain", rules=psl.snapshot_rules(), spark=spark)
    return out.select("doc_id", "host", "domain")


SQL_CRAWL_REGISTERED_DOMAIN = oracles.registered_domain_sql(_PSL_HOSTS)


def q_crawl_html_extract(spark, sf_dir):
    """Crawl HTML text extraction, oracle-checked: HTTP response bytes
    (constant headers + HTML synthesized from each document's text)
    flow through ``text.http_html_text`` — header split, Content-Type
    pull, script/style/comment strip, tag strip, entity decode with
    &amp; LAST (the author-escaped ``&amp;lt;`` must surface as
    ``&lt;``, not ``<``), whitespace collapse. Every step is a Catalyst
    expression; the oracle mirrors the chain with RE2-safe sequential
    script/style replaces (equivalent on this input — the synthesized
    markup has no crossed tags)."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    content = F.concat(
        F.lit("HTTP/1.1 200 OK\r\n"
              "Content-Type: text/html; charset=utf-8\r\n\r\n"
              "<html><head><title>T"), did,
        F.lit("</title><script type=\"text/javascript\">"
              "var x = '<p>junk</p>';</script>"
              "<style>.a{color:red}</style></head>"
              "<body><!-- note --><h1>Doc&nbsp;"), did,
        F.lit("</h1><p>"), F.substring(F.col("text"), 1, 200),
        F.lit("</p><div>&amp;lt; stays</div></body></html>"))
    recs = docs.select("doc_id", content.cast("binary").alias("content"))
    out = text_ops.http_html_text(recs)
    return out.select("doc_id", "content_type", "text")


SQL_CRAWL_HTML_EXTRACT = oracles.html_extract_sql()


def q_c4_filter(spark, sf_dir):
    """The C4 cleaning chain (Raffel et al. 2020 §2.2) over the
    documents table, driver-oracle-checked end to end. The corpus text
    is single-line word soup, so the query first derives a
    deterministic line structure — every run of 6 tokens becomes a
    '.'-terminated line (one global regexp_replace both engines apply
    identically), a terminal '.' closes the remainder line, and
    doc_id-keyed pathological suffixes append a lorem-ipsum page
    marker, a code-brace line, or a please-enable-javascript banner —
    then runs the REAL ``text.c4_filter``: line filter rebuild (>= 5
    words, terminal punctuation, no "javascript"), page rules over the
    CLEANED text (>= 3 sentences, no lorem ipsum, no brace). The
    derivation + chain are reproduced verbatim in SQL_C4_FILTER, the
    committed DuckDB oracle from tests/test_text_c4.py (r12's
    transplant-ready candidate, seated r13).

    Scale shape: pure Catalyst per-row expressions, ZERO shuffles,
    zero UDFs — at 100 TB this is a map-only pass fused into the scan."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lined = F.concat(
        F.regexp_replace(F.col("text"), r"((?:\S+ ){5}\S+) ", "$1.\n"),
        F.lit("."),
        F.when(did % 11 == 0,
               F.lit("\nthis entire page is lorem ipsum filler content."))
         .when(did % 13 == 0,
               F.lit("\ncode sample with a { brace inside it."))
         .when(did % 7 == 0,
               F.lit("\nplease enable javascript to view this page."))
         .otherwise(F.lit("")))
    out = text_ops.c4_filter(docs.withColumn("text", lined))
    return out.select("doc_id", "text", "lang", "source", "n_chars")


SQL_C4_FILTER = r"""
WITH derived AS (
  SELECT doc_id, lang, source, n_chars,
         regexp_replace(text, '((?:\S+ ){5}\S+) ', '\1.' || chr(10), 'g')
         || '.'
         || CASE WHEN doc_id % 11 = 0
                 THEN chr(10) || 'this entire page is lorem ipsum filler content.'
                 WHEN doc_id % 13 = 0
                 THEN chr(10) || 'code sample with a { brace inside it.'
                 WHEN doc_id % 7 = 0
                 THEN chr(10) || 'please enable javascript to view this page.'
                 ELSE '' END AS text
  FROM documents
),
rebuilt AS (
  SELECT doc_id, lang, source, n_chars,
         array_to_string(list_filter(
           string_split_regex(text, '\r?\n'),
           ln -> regexp_matches(ln, '[.!?"”’'']\s*$')
                 AND len(list_filter(string_split_regex(ln, '\s+'),
                                     w -> w != '')) >= 5
                 AND NOT contains(lower(ln), 'javascript')), chr(10))
           AS text
  FROM derived
)
SELECT doc_id, text, lang, source, n_chars FROM rebuilt
WHERE len(regexp_extract_all(text, '[.!?]+')) >= 3
  AND NOT contains(lower(text), 'lorem ipsum')
  AND NOT contains(text, '{')
"""


def q_dsir_log_weights(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. 2023) over the
    documents table, driver-oracle-checked end to end: raw corpus =
    all documents, target sample = the ``doc_id % 10 = 3`` slice (a
    deterministic "quality corpus" stand-in that scales with sf), md5
    bucket hashing (dim=64) so any SQL engine reproduces the
    arithmetic, Laplace smoothing 1.0. The oracle reruns the WHOLE
    job — unigram+bigram featurize, both smoothed bucket models, the
    count-weighted log-ratio sum — in DuckDB (the committed
    cross-check from tests/test_dsir.py, r12's transplant-ready
    candidate, seated r13).

    Scale shape: the raw corpus is featurized ONCE (localCheckpoint
    pins the diamond); the target is an id-predicate SUBSET of raw, so
    its counts come from filtering the same checkpoint
    (``target_pred`` — featurization is per-document, so the rows are
    identical to featurizing the slice, minus a second corpus scan);
    both model fits are dim-bounded partial aggregations collecting
    64 doubles; scoring is one broadcast join + one id-keyed
    (unique-key) aggregation."""
    from kiji_mapreduce_spark.pipeline import dsir

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dsir.dsir_log_weights(docs, dim=64, hash_fn="md5",
                                 smoothing=1.0,
                                 target_pred=F.col("doc_id") % 10 == 3)


SQL_DSIR_LOG_WEIGHTS = r"""
WITH raw_toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t != '') AS tk
  FROM documents
),
tgt_toks AS (SELECT * FROM raw_toks WHERE doc_id % 10 = 3),
raw_grams AS (
  SELECT doc_id, unnest(tk) AS g FROM raw_toks
  UNION ALL
  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
  FROM raw_toks, unnest(range(1, len(tk))) AS r(i)
),
tgt_grams AS (
  SELECT doc_id, unnest(tk) AS g FROM tgt_toks
  UNION ALL
  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
  FROM tgt_toks, unnest(range(1, len(tk))) AS r(i)
),
raw_counts AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS bucket,
         count(*) AS cnt
  FROM raw_grams GROUP BY 1, 2
),
tgt_counts AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS bucket,
         count(*) AS cnt
  FROM tgt_grams GROUP BY 1, 2
),
buckets AS (SELECT unnest(range(0, 64)) AS bucket),
log_p AS (
  SELECT b.bucket,
         round(ln((coalesce(t.n, 0) + 1.0) / d.denom), 12) AS lp
  FROM buckets b
  LEFT JOIN (SELECT bucket, sum(cnt)::DOUBLE AS n
             FROM tgt_counts GROUP BY 1) t USING (bucket),
       (SELECT coalesce(sum(cnt), 0)::DOUBLE + 64.0 AS denom
        FROM tgt_counts) d
),
log_q AS (
  SELECT b.bucket,
         round(ln((coalesce(t.n, 0) + 1.0) / d.denom), 12) AS lp
  FROM buckets b
  LEFT JOIN (SELECT bucket, sum(cnt)::DOUBLE AS n
             FROM raw_counts GROUP BY 1) t USING (bucket),
       (SELECT coalesce(sum(cnt), 0)::DOUBLE + 64.0 AS denom
        FROM raw_counts) d
)
SELECT rc.doc_id,
       round(sum(rc.cnt * (p.lp - q.lp)), 9) AS log_w
FROM raw_counts rc
JOIN log_p p USING (bucket)
JOIN log_q q USING (bucket)
GROUP BY 1
"""


#: the 12 deterministic URL paths the robots-filter oracle walks —
#: chosen to exercise every decision class: no-match, literal
#: disallow, longer-allow override, length tie (allow wins), wildcard
#: with and without the $ anchor, wildcard-vs-short-allow precedence,
#: host-varying rules, and an exact-prefix block
_ROBOTS_PATHS = [
    "/",                       # no rule matches
    "/private/secret.html",    # Disallow /private
    "/private/ok/page.html",   # Allow /private/ok outranks it
    "/tie/page",               # Allow /tie == Disallow /tie: tie->allow
    "/cache/file.tmp",         # Disallow /*.tmp$ ($-anchored)
    "/cache/file.tmp.bak",     # past the $ anchor: kept
    "/a/path/mid",             # Disallow /a*mid outranks Allow /a
    "/ab",                     # Allow /a only: kept
    "/odd/page",               # Disallow /odd on ODD hosts only
    "/odd",
    "/a.tmpx",                 # Allow /a; neither wildcard matches
    "/private",                # exact-prefix block
]


def q_robots_filter(spark, sf_dir):
    """REP-compliance filter, oracle-checked end to end (r13-built r14
    seat candidate, the C4/DSIR precedent: committed DuckDB
    cross-check first — tests/test_robots_oracle.py — seat when a
    window slot opens): per-host robots.txt response bytes are
    synthesized deterministically (hosts ``h{doc_id%8}.example.com``;
    host 7 publishes NO robots file; odd hosts add a ``Disallow:
    /odd`` rule; a ``specialbot`` group that must NOT apply under the
    default ``*`` agent), parsed by the REAL ``robots_rules``
    aggregate fold, and applied by the REAL
    ``filter_robots_disallowed`` longest-match join — literal-prefix
    AND RFC 9309 ``*``/``$`` wildcard rules — over 12 URL path
    classes per ``_ROBOTS_PATHS``. The oracle regenerates the
    expected rule table as VALUES and replays the longest-match /
    tie-goes-to-allow / wildcard-regex decision in SQL, so a wrong
    parse, wrong precedence, or wrong wildcard translation all
    hash-mismatch.

    Scale shape: the rule table is host-keyed and tiny (broadcast
    side); only (doc_id, host, path) rows enter the join; the fold is
    per-row zero-shuffle."""
    from kiji_mapreduce_spark.pipeline import crawl

    docs0 = _t(spark, sf_dir, "documents")
    h = F.col("doc_id") % 8
    host = F.concat(F.lit("h"), h.cast("string"),
                    F.lit(".example.com"))
    # (doc_id // 8) decorrelates the path index from the host index
    # (doc_id % 8 and % 12 share a factor of 4, which would leave 3/4
    # of the (host, path) grid unexercised)
    path = F.element_at(
        lit_array(_ROBOTS_PATHS, "string"),
        (F.floor(F.col("doc_id") / 8) % 12).cast("int") + 1)
    docs = docs0.select(
        "doc_id", F.concat(F.lit("http://"), host, path).alias("url"))

    body = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
              "# synthetic robots fixture\n"
              "User-agent: specialbot\nDisallow: /\n\n"
              "User-agent: *\n"
              "Disallow: /private\n"
              "Allow: /private/ok\n"
              "Disallow: /tie\n"
              "Allow: /tie\n"
              "Disallow: /*.tmp$\n"
              "Disallow: /a*mid\n"
              "Allow: /a\n"
              "Disallow:\n"),
        F.when(h % 2 == 1, F.lit("Disallow: /odd\n"))
        .otherwise(F.lit("")))
    records = (docs0.filter((F.col("doc_id") >= 0)
                            & (F.col("doc_id") <= 6))
               .select(F.lit("robots-fixture").alias("path"),
                       F.col("doc_id").cast("int").alias("record_no"),
                       F.lit("response").alias("warc_type"),
                       F.concat(F.lit("http://"), host,
                                F.lit("/robots.txt"))
                       .alias("target_uri"),
                       F.lit("").alias("warc_date"),
                       F.lit("").alias("record_id"),
                       F.lit(0).cast("long").alias("content_length"),
                       body.cast("binary").alias("content")))
    rules = crawl.robots_rules(records)
    out = crawl.filter_robots_disallowed(docs, rules)
    return out.select("doc_id", "url")


def _robots_oracle_sql() -> str:
    """The DuckDB half: expected rule table as VALUES, wildcard
    translation and longest-match replayed in SQL."""
    paths = ", ".join(f"'{p}'" for p in _ROBOTS_PATHS)
    return rf"""
WITH d AS (
  SELECT doc_id, doc_id % 8 AS h,
         ([{paths}])[((doc_id // 8) % 12) + 1] AS p
  FROM documents
),
base_rules(allow, rpath) AS (VALUES
  (FALSE, '/private'), (TRUE, '/private/ok'),
  (FALSE, '/tie'), (TRUE, '/tie'),
  (FALSE, '/*.tmp$'), (FALSE, '/a*mid'), (TRUE, '/a')
),
hosts AS (SELECT unnest(range(0, 7)) AS h),
rules AS (
  SELECT h.h, r.allow, r.rpath FROM hosts h CROSS JOIN base_rules r
  UNION ALL
  SELECT h.h, FALSE, '/odd' FROM hosts h WHERE h.h % 2 = 1
),
rx AS (
  SELECT h, allow, rpath,
         rpath LIKE '%*%' OR rpath LIKE '%$%' AS wild,
         '^' || replace(regexp_replace(
             CASE WHEN rpath LIKE '%$'
                  THEN substr(rpath, 1, length(rpath) - 1)
                  ELSE rpath END,
             '([.^$+?(){{}}\[\]|\\*])', '\\\0', 'g'),
           '\*', '.*')
         || CASE WHEN rpath LIKE '%$' THEN '$' ELSE '' END AS pat
  FROM rules
),
matched AS (
  SELECT d.doc_id, d.h, d.p, r.allow, r.rpath,
         row_number() OVER (
           PARTITION BY d.doc_id
           ORDER BY length(r.rpath) DESC, r.allow DESC) AS rn
  FROM d JOIN rx r ON r.h = d.h
   AND (CASE WHEN r.wild THEN regexp_matches(d.p, r.pat)
             ELSE starts_with(d.p, r.rpath) END)
)
SELECT d.doc_id,
       'http://h' || d.h || '.example.com' || d.p AS url
FROM d
LEFT JOIN (SELECT doc_id, allow FROM matched WHERE rn = 1) w
  USING (doc_id)
WHERE w.allow IS NULL OR w.allow
"""


SQL_ROBOTS_FILTER = _robots_oracle_sql()


def q_main_content(spark, sf_dir):
    """Densitometric main-content extraction (Kohlschuetter et al.
    WSDM 2010 NumWordsRules), oracle-checked end to end (r13-built
    seat candidate, the C4/DSIR precedent — committed DuckDB
    cross-check in tests/test_main_content_oracle.py, seat when a
    window slot opens): HTTP+HTML pages are synthesized from each
    document's text with a link-dense nav bar, two content paragraphs
    whose word counts VARY with doc_id (crossing the published 16- and
    40-word thresholds across the corpus, so both tree branches
    decide differently per doc), a link-only related rail, a short
    tail and a footer — then the REAL ``text.html_main_text`` block
    classifier runs and the oracle replays the whole chain (block
    split, tag strip, link density, the neighbor word-count tree) in
    DuckDB via lag/lead over the exploded block table.

    Scale shape: per-row array expressions only — zero shuffle, zero
    UDF (the documented interpreted-lambda cost of the opt-in path)."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    long_text = F.concat(F.col("text"), F.lit(" "), F.col("text"))
    p1 = F.substring(F.col("text"), 1, 200)
    p2 = F.substring(long_text, F.lit(1),
                     ((F.col("doc_id") % 7) * 45 + 30).cast("int"))
    content = F.concat(
        F.lit("HTTP/1.1 200 OK\r\n"
              "Content-Type: text/html; charset=utf-8\r\n\r\n"
              "<html><head><title>T"), did,
        F.lit("</title><script type=\"text/javascript\">"
              "var x = '<p>junk</p>';</script>"
              "<style>.m{color:blue}</style></head><body>"
              "<div><a href=\"/\">home</a> <a href=\"/n\">news</a> "
              "<a href=\"/s\">sports</a> <a href=\"/w\">weather</a>"
              "</div><p>"), p1,
        F.lit("</p><div><a href=\"/r1\">related article one with a "
              "longish anchor</a></div><p>"), p2,
        F.lit("</p><p>short tail here.</p>"
              "<div>footer (c) example site <a href=\"/privacy\">"
              "privacy</a> <a href=\"/terms\">terms</a></div>"
              "</body></html>"))
    recs = docs.select("doc_id",
                       content.cast("binary").alias("content"))
    out = text_ops.html_main_text(recs)
    return out.select("doc_id", "content_type", "n_blocks_kept",
                      "n_blocks_dropped", "text")


#: the oracle's RE2-safe mirror of the Spark chain: sequential
#: script/style strips (the crawl_html_extract precedent — no crossed
#: tags in the synthesized markup), the same block-tag split, per-block
#: plain text + anchor mass, then the published tree over lag/lead
SQL_MAIN_CONTENT = r"""
WITH page AS (
  SELECT doc_id,
         '<html><head><title>T' || doc_id ||
         '</title><script type="text/javascript">' ||
         'var x = ''<p>junk</p>'';</script>' ||
         '<style>.m{color:blue}</style></head><body>' ||
         '<div><a href="/">home</a> <a href="/n">news</a> ' ||
         '<a href="/s">sports</a> <a href="/w">weather</a>' ||
         '</div><p>' || substr(text, 1, 200) ||
         '</p><div><a href="/r1">related article one with a ' ||
         'longish anchor</a></div><p>' ||
         substr(text || ' ' || text, 1, (doc_id % 7) * 45 + 30) ||
         '</p><p>short tail here.</p>' ||
         '<div>footer (c) example site <a href="/privacy">' ||
         'privacy</a> <a href="/terms">terms</a></div>' ||
         '</body></html>' AS body
  FROM documents
),
stripped AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           body,
           '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
           '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
           '(?s)<!--.*?-->', ' ', 'g') AS body
  FROM page
),
split AS (
  SELECT doc_id,
         string_split_regex(body,
           '(?i)</?(?:p|div|h[1-6]|table|thead|tbody|tr|td|th' ||
           '|ul|ol|li|dl|dt|dd|blockquote|pre|article|section' ||
           '|header|footer|nav|aside|form|fieldset|hr|br)\b[^>]*>')
           AS bl
  FROM stripped
),
blocks AS (
  SELECT doc_id, i AS pos, bl[i] AS b
  FROM split, unnest(range(1, len(bl) + 1)) AS r(i)
),
feats0 AS (
  -- tag strip THEN entity decode (&amp; last) THEN whitespace
  -- collapse — the _html_plain chain; the decode was missing, so any
  -- entity-bearing corpus text diverged (r13 review finding)
  SELECT doc_id, pos,
         trim(regexp_replace(replace(replace(replace(replace(replace(replace(regexp_replace(b, '(?s)<[^>]*>', ' ', 'g'), '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
           '\s+', ' ', 'g')) AS txt,
         trim(regexp_replace(replace(replace(replace(replace(replace(replace(regexp_replace(coalesce(array_to_string(
             regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1),
             ' '), ''), '(?s)<[^>]*>', ' ', 'g'), '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
           '\s+', ' ', 'g')) AS atxt
  FROM blocks
),
feats AS (
  SELECT doc_id, pos, txt,
         len(list_filter(string_split_regex(txt, '\s+'),
                         w -> w != '')) AS w,
         length(atxt)::DOUBLE / greatest(length(txt), 1) AS ld
  FROM feats0 WHERE txt != ''
),
scored AS (
  SELECT doc_id, pos, txt, w, ld,
         coalesce(lag(w) OVER win, 0) AS prev_w,
         coalesce(lag(ld) OVER win, 0.0) AS prev_ld,
         coalesce(lead(w) OVER win, 0) AS next_w
  FROM feats
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
verdict AS (
  SELECT doc_id, pos, txt,
         ld <= 0.333333 AND
         (CASE WHEN prev_ld <= 0.555556
               THEN w > 16 OR next_w > 15 OR prev_w > 4
               ELSE w > 40 OR next_w > 17 END) AS keep
  FROM scored
)
SELECT doc_id,
       'text/html' AS content_type,
       count(*) FILTER (WHERE keep)::INTEGER AS n_blocks_kept,
       (count(*) - count(*) FILTER (WHERE keep))::INTEGER
         AS n_blocks_dropped,
       coalesce(string_agg(txt, chr(10) ORDER BY pos)
                FILTER (WHERE keep), '') AS text
FROM verdict
GROUP BY doc_id
"""
