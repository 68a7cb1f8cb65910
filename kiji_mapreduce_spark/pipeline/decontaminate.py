"""Benchmark decontamination for training-data pipelines.

Before training, corpora are scrubbed of documents that overlap an
evaluation/benchmark set (the n-gram-overlap rule popularized by the
GPT-3/PaLM data pipelines): a training document is *contaminated* when a
large fraction of its word n-grams also appear in any benchmark document.

Scale shape: both sides reduce to distinct hashed shingles
(``dedup.shingle_hashes`` — posexplode + window grams, codegen'd; only
64-bit longs shuffle, never text). The benchmark side is tiny relative
to a 100 TB corpus (eval sets are MBs), so the membership probe is a
broadcast left-semi join — the corpus never shuffles at all; per-doc
counts aggregate map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kiji_mapreduce_spark.pipeline.dedup import shingle_hashes


def ngram_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
    threshold: float = 0.5,
) -> DataFrame:
    """Per document: overlap of its distinct word n-grams with the
    benchmark's n-gram union.

    Returns (id, n_grams, n_hit, overlap_frac, contaminated) — one row
    per candidate document (total: a zero-token document gets
    ``(0, 0, 0.0, false)`` — nothing to overlap means not contaminated,
    and downstream inner joins must not silently drop it);
    ``contaminated`` is ``overlap_frac >= threshold``.
    ``hash_fn="md5"`` makes the result reproducible in any SQL engine
    (the suite's oracle mode).
    """
    cand = shingle_hashes(docs, text_col, id_col, n, hash_fn).distinct()
    bench = F.broadcast(
        shingle_hashes(benchmark, text_col, id_col, n, hash_fn)
        .select("_h").distinct().withColumn("_hit", F.lit(1)))
    # membership as a left-join flag, so gram totals and hit counts come
    # from ONE pass over the candidate grams (a semi-join + separate
    # totals aggregate would re-execute the shingle scan per branch);
    # bench hashes are distinct, so the join can't duplicate rows
    flagged = cand.join(bench, on="_h", how="left")
    out = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_hit"))
    # re-anchor on the full candidate id set: zero-token docs produce no
    # shingle rows, so the aggregate alone would omit them. The id scan
    # is column-pruned; the aggregate side is already partitioned on the
    # id, so this adds one cheap exchange for the id side only.
    ids = docs.select(F.col(id_col)).distinct()
    out = ids.join(out, on=id_col, how="left")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0))
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    frac = F.coalesce(F.round(F.col("n_hit") / F.col("n_grams"), 4),
                      F.lit(0.0))
    return out.select(
        id_col, n_grams.alias("n_grams"), n_hit.alias("n_hit"),
        frac.alias("overlap_frac"),
        (frac >= threshold).alias("contaminated"))


def contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """Token spans of each document whose n-grams appear in the
    benchmark — the redaction-grade view of contamination (pipelines
    cut the overlapping span and keep the rest of the document, rather
    than dropping it whole).

    A token position is *hit* when the n-gram starting there is in the
    benchmark's gram union; hit positions whose n-token extents OVERLAP
    (start gap < n) merge into one span — not just consecutive
    positions: hits at p and p+2 under n=3 cover intersecting token
    ranges, and emitting them as two rows double-deleted the shared
    tokens in cut-each-span-independently consumers (r13 review
    finding). Returns (id, span_start, span_end, n_grams_in_span) with
    0-based inclusive token positions; ``span_end`` covers the last hit
    gram's full extent, clamped to the document's last token for edge
    grams of short documents. Documents with no hits emit no rows.
    Spans whose extents merely touch (start gap exactly n) stay
    separate rows — their token ranges are disjoint, so independent
    cuts are safe.

    Scale shape: identical to ``ngram_overlap`` (the benchmark union is
    a broadcast semi-join probe; only hashed longs shuffle) plus one
    per-doc window over hit positions only — hits are a small fraction
    of the corpus, so the window input is tiny.
    """
    cand = shingle_hashes(docs, text_col, id_col, n, hash_fn,
                          with_pos=True)
    bench = F.broadcast(
        shingle_hashes(benchmark, text_col, id_col, n, hash_fn)
        .select("_h").distinct())
    hits = cand.join(bench, on="_h", how="left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    # gaps-and-islands over EXTENT overlap: new island when this hit
    # starts at least n tokens after the previous one (lag + running
    # sum; the plain pos - row_number key only merges gap-1 runs)
    prev = F.lag("pos").over(w)
    new_island = F.when(prev.isNull()
                        | (F.col("pos") - prev >= n), F.lit(1)) \
        .otherwise(F.lit(0))
    grp = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    spans = (hits.withColumn("_grp", grp)
             .groupBy(id_col, "_grp")
             .agg(F.min("pos").alias("span_start"),
                  F.least(F.max("pos") + (n - 1),
                          F.max("_mx")).alias("span_end"),
                  F.count(F.lit(1)).alias("n_grams_in_span")))
    return spans.select(id_col, "span_start", "span_end",
                        "n_grams_in_span")
