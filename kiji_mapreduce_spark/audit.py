"""Data-quality auditing: column profiles and referential checks.

The validation pass a pipeline runs before promoting a snapshot — the
engine-side analogue of the reference's job counters for rejected /
incomplete records (``JobHistoryCounters.java:35``), lifted from
per-job bookkeeping to declarative table-level expectations.

Scale shape: each profiled table is scanned ONCE (all metrics fold into
a single multi-aggregate; ``count_distinct`` goes through Catalyst's
expand, still one pass), and every check emits a uniform
``(check_name, subject, value)`` row so audits of many tables union
into one tiny result that can gate a promotion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def column_profile(df: DataFrame, table_name: str,
                   cols: list[str]) -> DataFrame:
    """One-pass profile: row count plus per-column null count, exact
    distinct count, and min/max (cast to double so heterogeneous
    metrics stack into one numeric column)."""
    aggs = [F.count(F.lit(1)).cast("double").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).cast("double")
            .alias(f"nn__{c}"),
            F.count_distinct(F.col(c)).cast("double").alias(f"nd__{c}"),
            F.min(F.col(c).cast("double")).alias(f"mn__{c}"),
            F.max(F.col(c).cast("double")).alias(f"mx__{c}"),
        ]
    row = df.agg(*aggs)

    # parquet allows spaces/hyphens in column names and table names
    # are caller strings: identifier references must be backtick-quoted
    # and string literals escaped, or the stack() expression fails to
    # parse — or worse, a quote in the name breaks out of the literal
    # (r13 review finding)
    def _q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def _s(lit: str) -> str:
        return "'" + lit.replace("\\", "\\\\").replace("'", "\\'") + "'"

    items = [f"'n_rows', {_s(table_name)}, n_rows"]
    for c in cols:
        subj = _s(f"{table_name}.{c}")
        items += [f"'n_nulls', {subj}, {_q('nn__' + c)}",
                  f"'n_distinct', {subj}, {_q('nd__' + c)}",
                  f"'min', {subj}, {_q('mn__' + c)}",
                  f"'max', {subj}, {_q('mx__' + c)}"]
    return row.selectExpr(
        f"stack({len(items)}, {', '.join(items)}) "
        "as (check_name, subject, value)")


def fk_orphans(child: DataFrame, parent: DataFrame,
               fk: str, pk: str, subject: str) -> DataFrame:
    """Referential-integrity check: count child rows whose foreign key
    has no matching parent row (left anti join — broadcast when the
    parent is a dim, shuffle otherwise; Catalyst decides). NULL foreign
    keys are NOT orphans — SQL FK constraints pass NULLs, and the
    NULL-valued equi-condition kept every such row in the anti side
    (r13 review finding), making the check unusable on nullable FKs."""
    kids = child.filter(F.col(fk).isNotNull())
    orphans = kids.join(parent, kids[fk] == parent[pk], "left_anti")
    return orphans.agg(
        F.lit("fk_orphans").alias("check_name"),
        F.lit(subject).alias("subject"),
        F.count(F.lit(1)).cast("double").alias("value"))


def audit_union(checks: list[DataFrame]) -> DataFrame:
    """Union any number of check results into one audit report."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def distribution_drift(
    before: DataFrame, after: DataFrame, col: str,
    bins: int = 20, lo: float | None = None, hi: float | None = None,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Distribution drift between two corpus snapshots on a numeric
    column -> one row (column, n_before, n_after, psi, ks, drifted).

    PSI = sum over bins of (p_after - p_before) * ln(p_after/p_before),
    the standard monitoring statistic (rule of thumb: < 0.1 stable,
    > 0.25 drifted — the ``drifted`` flag uses 0.25). ``ks`` is the
    binned Kolmogorov-Smirnov statistic (max cumulative-CDF gap over
    the same bins, unsmoothed) — scale-free where PSI is
    log-ratio-weighted, so the pair catches different drift shapes
    (KS: bulk shifts; PSI: tail re-weighting). Scale shape: one
    min/max pass over the union (skipped when lo/hi given) plus one
    partially-aggregated histogram per side — at most ``bins`` rows per
    side ever shuffle, the same discipline as ``histogram_quantiles``.
    Empty bins are smoothed with ``epsilon`` so a vanished bucket yields
    a large-but-finite contribution instead of infinity.
    """
    if bins < 2:
        raise ValueError("distribution_drift needs bins >= 2")
    b = before.filter(F.col(col).isNotNull())
    a = after.filter(F.col(col).isNotNull())
    if lo is None or hi is None:
        r = (b.select(F.col(col).cast("double").alias("_v"))
             .unionByName(a.select(F.col(col).cast("double").alias("_v")))
             .agg(F.min("_v"), F.max("_v")).first())
        if r[0] is None:
            raise ValueError("distribution_drift: no non-null values")
        lo = float(r[0]) if lo is None else lo
        hi = float(r[1]) if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0

    def _hist(df: DataFrame, name: str) -> DataFrame:
        # shared bin arithmetic (see functions.bin_index): streaming
        # PSI parity depends on this being the same expression
        from kiji_mapreduce_spark.functions import bin_index

        idx = bin_index(col, lo, hi, bins)
        return (df.groupBy(idx.alias("_bin"))
                .agg(F.count(F.lit(1)).alias(name)))

    j = (_hist(b, "_nb").join(_hist(a, "_na"), on="_bin", how="full")
         .select("_bin",
                 F.coalesce("_nb", F.lit(0)).alias("_nb"),
                 F.coalesce("_na", F.lit(0)).alias("_na"))
         .localCheckpoint(eager=True))  # <= bins rows; read twice below
    tb, ta = j.agg(F.sum("_nb"), F.sum("_na")).first()
    if not tb or not ta:
        # with explicit lo/hi the min/max guard above is skipped: an
        # empty/all-NULL side would make 0/0 = NaN psi, and NaN > 0.25
        # is TRUE under Spark's NaN ordering — a garbage "drifted"
        # monitoring row instead of an error (review finding)
        raise ValueError(
            f"distribution_drift: empty snapshot (n_before={tb or 0}, "
            f"n_after={ta or 0})")
    # KS rides the same checkpointed bin table: cumulative bin-CDF gap
    # (unsmoothed — epsilon is a log guard, not a probability). The
    # cumulative window runs over <= bins rows, so the single partition
    # it implies is bounded by construction, not by data size.
    cum_w = Window.orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    scored = j.select(
        (F.col("_nb") / F.lit(float(tb)) + epsilon).alias("_pb"),
        (F.col("_na") / F.lit(float(ta)) + epsilon).alias("_pa"),
        F.abs(F.sum(F.col("_nb") / F.lit(float(tb))).over(cum_w)
              - F.sum(F.col("_na") / F.lit(float(ta))).over(cum_w))
        .alias("_gap"))
    agg = scored.agg(
        F.sum((F.col("_pa") - F.col("_pb"))
              * F.log(F.col("_pa") / F.col("_pb"))).alias("_psi"),
        F.max("_gap").alias("_ks"))
    return agg.select(
        F.lit(col).alias("column"),
        F.lit(tb).cast("long").alias("n_before"),
        F.lit(ta).cast("long").alias("n_after"),
        F.round("_psi", 6).alias("psi"),
        F.round("_ks", 6).alias("ks"),
        (F.col("_psi") > 0.25).alias("drifted"))


def split_leakage(
    df: DataFrame,
    split_col: str = "split",
    digest_col: str | None = None,
    text_col: str = "text",
    train_split: str = "train",
    hash_fn: str = "xx",
) -> DataFrame:
    """Eval-set contamination check: for each held-out split, how many
    of its documents share a content digest with a training document ->
    (split, n_docs, n_leaked, leak_rate). Runs Spark jobs when called,
    not at the first action: it pins the (split, digest) table.

    The integrity counterpart to ``split_assign``: a hash-keyed split
    keeps an *example* on one side, but duplicates of its content can
    still straddle the boundary, silently inflating eval scores. The
    digest defines "duplicate": by default the byte-exact text hash;
    pass ``digest_col`` to audit under any precomputed content key —
    ``text.fingerprints`` for near-dup leakage, a simhash band, a URL
    digest. Run this after splitting (and after dedup — a nonzero rate
    here means the dedup pass missed cross-split duplicates).

    Scale shape: only 64-bit digests cross the network. The train side
    reduces to a DISTINCT digest set (partial-agg'd longs); held-out
    rows left-join it — an equi-join Catalyst/AQE handles with a shuffle
    of longs, never of text. ``hash_fn="md5"`` makes the default digest
    engine-reproducible for the oracle.
    """
    from kiji_mapreduce_spark.pipeline.dedup import token_hash64
    # NULL text must digest to NULL (joins nothing => never "leaked"):
    # xxhash64(NULL) is the CONSTANT 42, which made every NULL-text
    # held-out doc a "duplicate" of any NULL-text train doc — and
    # disagreed with the md5 mode, which already yields NULL
    # (r13 review finding; unknown content is nobody's duplicate,
    # the dedup.exact_groups discipline)
    digest = (F.col(digest_col) if digest_col is not None
              else F.when(F.col(text_col).isNotNull(),
                          token_hash64(F.col(text_col), hash_fn)))
    hashed = df.select(
        F.col(split_col).alias("_split"), digest.alias("_h"))
    # the (split, digest) table feeds BOTH join sides (train set +
    # held-out rows), and its upstream can be arbitrarily expensive
    # (the suite drives it with text.fingerprints — a full
    # posexplode+window pass); the pushed-down split filters differ
    # per side, so Spark cannot reuse the exchange and executed the
    # whole upstream twice (r15 plan diff: 2 fingerprint subtrees ->
    # 1). Pin the two-column table once — the dedup.minhash_dedup
    # diamond discipline.
    hashed = hashed.localCheckpoint(eager=True)
    train_h = (hashed.filter(F.col("_split") == train_split)
               .select("_h").distinct()
               .withColumn("_in_train", F.lit(1)))
    held = hashed.filter(F.col("_split") != train_split)
    return (held.join(train_h, on="_h", how="left")
            .groupBy(F.col("_split").alias(split_col))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.coalesce("_in_train", F.lit(0)))
                 .cast("long").alias("n_leaked"))
            .withColumn("leak_rate",
                        F.round(F.col("n_leaked") / F.col("n_docs"), 4)))


#: corpus_stats grouping_id per distribution (bit = column AGGREGATED,
#: column order lang, domain, len_bucket, split): e.g. a lang row
#: aggregates the other three -> 0b0111
CORPUS_GID = {"lang": 0b0111, "domain": 0b1011, "len_bucket": 0b1101,
              "split": 0b1110, "global": 0b1111}


def corpus_stats(df: DataFrame, text_col: str = "text",
                 domain_col: str | None = "domain",
                 split_col: str | None = None,
                 quality_col: str | None = None) -> DataFrame:
    """Corpus health report over a documents-shaped table in ONE scan
    and ONE shuffle: per-language doc/token counts, per-domain counts,
    a log2 document-length histogram, optional per-split totals, and
    the global totals — the summary an operator reads before promoting
    an ingest or choosing mixture weights.

    Shape: per-doc features (language id, log2 token bucket) are one
    codegen'd projection; the distributions come from GROUPING SETS
    ``((lang), (domain), (len_bucket), (split), ())`` — one pass with
    the map output expanded once per set, instead of one scan of a
    100 TB corpus per distribution. Output rows are bounded by
    language count (<=63) + distinct domains + 32 buckets + splits
    + 1; downstream top-k (``kiji-mr corpus-stats``) runs on this
    already-aggregated table, never the corpus. Row identity is
    ``gid`` per ``CORPUS_GID``.

    ``domain_col=None`` / ``split_col=None`` drop those grouping sets.
    ``quality_col`` (e.g. curate's ``quality_score``) adds an
    ``avg_quality`` aggregate to EVERY group — per-language/domain/
    split/global mean quality from the same shuffle, no extra
    structure.
    """
    from kiji_mapreduce_spark.pipeline.text import (language_id,
                                                    token_count)

    # NULL text counts as an empty document, loudly visible in bucket
    # 0 and under "und": token_count(NULL) is NULL, and Spark's
    # least() SKIPS nulls (unlike ANSI LEAST), so without the coalesce
    # every null-text row lands in the CAP bucket as a maximum-length
    # document — the opposite of what it is
    toks = F.coalesce(token_count(F.col(text_col)), F.lit(0))
    dom = F.col(domain_col) if domain_col else F.lit(None).cast("string")
    spl = F.col(split_col) if split_col else F.lit(None).cast("string")
    qual = F.col(quality_col).cast("double") if quality_col \
        else F.lit(None).cast("double")
    feat = df.select(
        # language_id already coalesces to "und" (NULL text included)
        language_id(F.col(text_col)).alias("lang"),
        dom.alias("domain"),
        # log2 buckets: 0 tokens -> 0, 1 -> 1, 2-3 -> 2, ... capped 31
        F.least(F.lit(31), F.ceil(F.log2(toks + 1)))
        .cast("int").alias("len_bucket"),
        spl.alias("split"),
        toks.alias("toks"),
        qual.alias("q"))
    sets = [["lang"], ["len_bucket"], []]
    if domain_col:
        sets.insert(1, ["domain"])
    if split_col:
        sets.insert(-1, ["split"])
    return (feat.groupingSets(sets, "lang", "domain", "len_bucket",
                              "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("toks").alias("n_tokens"),
                 F.round(F.avg("q"), 4).alias("avg_quality"),
                 F.grouping_id().alias("gid")))


#: media_stats grouping_id per distribution (column order kind,
#: domain, size_bucket; bit = column AGGREGATED)
MEDIA_GID = {"kind": 0b011, "domain": 0b101, "size_bucket": 0b110,
             "global": 0b111}


def media_stats(df: DataFrame, content_col: str = "content",
                kind_col: str | None = "kind",
                domain_col: str | None = "domain") -> DataFrame:
    """``corpus_stats``' twin for a media-shaped table
    (``crawl.crawl_media`` output): per-kind and per-domain row/byte
    totals plus a log2 payload-size histogram, all from one scan's
    grouping sets ``((kind), (domain), (size_bucket), ())``. Bytes
    come from ``octet_length`` — the payload is never parsed, so the
    binary column's pages are the only thing read. Row identity is
    ``gid`` per ``MEDIA_GID``."""
    size = F.coalesce(F.octet_length(F.col(content_col)), F.lit(0))
    kind = F.col(kind_col) if kind_col else F.lit(None).cast("string")
    dom = F.col(domain_col) if domain_col else F.lit(None).cast("string")
    feat = df.select(
        kind.alias("kind"), dom.alias("domain"),
        F.least(F.lit(63), F.ceil(F.log2(size + 1)))
        .cast("int").alias("size_bucket"),
        size.alias("bytes"))
    sets = [["size_bucket"], []]
    if domain_col:
        sets.insert(0, ["domain"])
    if kind_col:
        sets.insert(0, ["kind"])
    return (feat.groupingSets(sets, "kind", "domain", "size_bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("bytes").alias("n_bytes"),
                 F.grouping_id().alias("gid")))
