"""The end-to-end corpus curation chain as one composable operator.

``curate_corpus`` wires the engine's training-data ops in the canonical
order a pretraining pipeline runs them:

    quality filter -> exact dedup -> (optional MinHash near-dedup)
    -> (optional benchmark decontamination) -> stratified sample

Every stage is one of the already-audited operators (quality_features,
drop_exact_duplicates, minhash dedup + connected components,
ngram_overlap, stratified_sample), so the chain inherits their scale
shapes: nothing here adds a shuffle beyond what the stages themselves
do, and the whole thing stays lazy except the near-dedup CC loop and
(when ``strip_boilerplate`` is on) the boilerplate stage's one scalar
document count over its eagerly-pinned input.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from kiji_mapreduce_spark.pipeline import decontaminate, dedup
from kiji_mapreduce_spark.pipeline import sample as sample_ops
from kiji_mapreduce_spark.pipeline import text as text_ops


@dataclass
class CurateConfig:
    """Knobs for ``curate_corpus`` (defaults match the suite query)."""

    min_quality: float = 0.8
    near_threshold: float | None = None   # None = exact dedup only
    decontaminate_n: int = 3
    decontaminate_threshold: float = 0.5
    sample_rates: dict[str, float] = field(default_factory=dict)
    default_rate: float = 1.0             # 1.0 = keep everything
    strata_col: str = "lang"
    seed: int = 42
    hash_fn: str = "xx"
    #: optional trained model (classifier.train_logreg output as
    #: {"dim", "bias", "weights"}): adds a learned-filter stage after
    #: the heuristic quality gate, keeping docs with prob >= min_prob
    quality_model: dict | None = None
    min_prob: float = 0.5
    #: strip corpus-level boilerplate lines (CCNet-style template
    #: removal) BEFORE quality scoring: template text inflates
    #: stopword/length signals, so stripping first keeps the quality
    #: gate honest. None = off; a float is the max document-frequency
    #: fraction a line may appear in before it is boilerplate
    strip_boilerplate: float | None = None
    #: apply the published C4 cleaning rules (``text.c4_filter``:
    #: line-level terminal-punctuation/short-line/javascript removal,
    #: then the lorem-ipsum/curly-brace/sentence-count page rules over
    #: the cleaned text — Raffel et al. 2020 §2.2). Rewrites
    #: ``text_col`` for every later stage, exactly like the published
    #: pipeline. False = off
    c4_rules: bool = False
    #: optional bad-word list for C4's blocklist page rule (the paper
    #: uses an external public list this engine does not ship); only
    #: read when ``c4_rules`` is on
    c4_bad_words: list[str] | None = None
    #: apply the published Gopher document rules
    #: (``text.gopher_quality_filter``) BEFORE heuristic quality
    #: scoring — the standard pretraining pre-gate (word-count and
    #: word-shape bounds, symbol/bullet/ellipsis ratios, required
    #: English words). False = off
    gopher_rules: bool = False
    #: also apply Gopher's 13 repetition bounds
    #: (``text.gopher_repetition_filter``: duplicate line/paragraph
    #: fractions per-row, top/duplicated n-gram mass via one id-keyed
    #: shuffle). False = off
    gopher_repetition: bool = False
    #: near-dedup survivor policy: False = the group's minimum id
    #: (cheapest — no score join); True = the group's HIGHEST
    #: quality_score member (``dedup.best_survivors``) — the retained
    #: copy of a duplicate cluster should be its cleanest, and the
    #: score is already computed by the quality stage above
    survivor_by_quality: bool = False
    #: optional (lo, hi) bounds on the zlib compression ratio
    #: (``text.compressibility``): documents compressing below ``lo``
    #: are templated/spammy, above ``hi`` near-random junk — the
    #: redundancy gate the large pretraining pipelines run. None = off
    #: (the one pandas-UDF stage in the chain, so strictly opt-in)
    compress_ratio_bounds: tuple[float, float] | None = None
    #: optional perplexity ceiling from the add-alpha bigram LM
    #: (``lm.bigram_lm_scores``): documents whose ppl exceeds the
    #: bound are dropped — the CCNet LM-filter stage. Scored against
    #: ``ppl_reference`` when given, else self-scored (outlier mode).
    #: Too-short docs (no bigrams, NULL ppl) pass through — the gate
    #: judges likelihood, not existence (the compress-ratio
    #: discipline). None = off
    max_ppl: float | None = None
    #: optional reference corpus (DataFrame with the same text/id
    #: columns) the LM gate trains on; only read when ``max_ppl`` set
    ppl_reference: "DataFrame | None" = None
    #: optional ordered {split: fraction} mapping or [(split, fraction)]
    #: list (e.g. train/val/test): after
    #: every filter, assign each surviving doc a deterministic split by
    #: key hash (``sample.split_assign``). Running this AFTER dedup is
    #: the leakage-resistant order — duplicates were collapsed, so a
    #: text can no longer straddle the train/eval boundary
    splits: dict[str, float] | list[tuple[str, float]] | None = None


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    config: CurateConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run the curation chain; returns surviving rows of ``docs`` with
    ``n_tokens``/``quality_score`` appended (plus ``overlap_frac`` when
    a benchmark is given, and ``split`` when ``config.splits`` is set).
    Runs Spark jobs when called, not at the first action: it pins the
    quality and survivor sets, and its inner stages pin theirs.

    If ``benchmark`` rows share ids with ``docs`` (in-corpus eval
    split), they are excluded from the output — a document cannot
    survive into training data if it IS the benchmark.

    The quality+dedup survivor set is a diamond: the near-dedup pass,
    the decontamination shingle scan, its total-id anchor, and the
    final join all read it, so it is materialized once with
    an eager localCheckpoint (the ``dedup.minhash_dedup`` discipline)
    instead of re-running the scoring scan per branch.
    """
    cfg = config or CurateConfig()
    if cfg.splits is not None:
        # validate the split spec BEFORE any Spark work: split_assign
        # runs LAST, after the eager quality/dedup checkpoints — a
        # fractions-sum error there throws away the whole chain's
        # compute (r13 review finding); split_thresholds is the
        # driver-side single source of that validation
        sample_ops.split_thresholds(cfg.splits)
    if cfg.strip_boilerplate is not None:
        docs = dedup.drop_boilerplate_lines(
            docs, text_col=text_col, id_col=id_col,
            max_doc_frac=cfg.strip_boilerplate,
        ).drop("n_lines_dropped")
    if cfg.c4_rules:
        # C4 rewrites the text (line removal), so it runs before any
        # stage that scores it; after boilerplate stripping, whose
        # frequency threshold wants the original lines
        docs = text_ops.c4_filter(docs, text_col=text_col,
                                  bad_words=cfg.c4_bad_words)
    if cfg.gopher_rules:
        # after boilerplate stripping (template lines inflate the
        # bullet/symbol ratios), before scoring: the rules are a
        # cheap pure-Catalyst narrowing of what the scorer reads
        docs = text_ops.gopher_quality_filter(docs, text_col=text_col)
    if cfg.gopher_repetition:
        docs = text_ops.gopher_repetition_filter(
            docs, text_col=text_col, id_col=id_col)
    if cfg.compress_ratio_bounds is not None:
        # NULL/empty text has no ratio and passes through — this gate
        # judges redundancy, not existence (the quality gate below
        # owns empty docs), and silently eating NULL rows here would
        # change what gate-off vs gate-on means (the r10 NULL-text
        # lesson)
        lo, hi = cfg.compress_ratio_bounds
        docs = (text_ops.compressibility(docs, text_col=text_col)
                .filter(F.col("compress_ratio").between(lo, hi)
                        | F.col("compress_ratio").isNull())
                .drop("compress_ratio"))
    if cfg.max_ppl is not None:
        # CCNet's LM stage, after the cheap per-row gates narrowed the
        # corpus: drop documents the reference bigram model finds
        # unlikely (gibberish, wrong register). An id semi-join on the
        # scored table — bounded at one row per doc — never a second
        # text scan; NULL-ppl (sub-2-token) docs pass (the gate judges
        # likelihood, not existence)
        from kiji_mapreduce_spark.pipeline import lm as lm_ops

        ok = (lm_ops.bigram_lm_scores(
            docs, reference=cfg.ppl_reference, text_col=text_col,
            id_col=id_col, hash_fn=cfg.hash_fn)
            .filter((F.col("ppl") <= cfg.max_ppl)
                    | F.col("ppl").isNull())
            .select(id_col))
        docs = docs.join(ok, on=id_col, how="left_semi")
    scored = text_ops.quality_features(docs, text_col)
    quality = (scored.filter(F.col("quality_score") >= cfg.min_quality)
               .drop("n_chars_txt", "avg_token_len", "punct_ratio",
                     "digit_ratio", "upper_ratio", "stopword_ratio"))
    if cfg.quality_model is not None:
        # learned filter (CCNet recipe: heuristics first, model second —
        # the cheap regex gate shrinks what the model has to score)
        import math

        import numpy as np

        from kiji_mapreduce_spark.pipeline import classifier

        # the semi-join below reads `quality` on both sides; without
        # this pin the regex quality-feature scan executes twice
        quality = quality.localCheckpoint(eager=True)
        # cfg.hash_fn must reach the feature hashing: a model trained
        # on md5-hashed features scored against xx-hashed indexes is
        # silently permuted — near-random probabilities through the
        # min_prob gate (r13 review finding)
        feats = classifier.hashed_features(
            quality, text_col=text_col, id_col=id_col,
            dim=cfg.quality_model["dim"], hash_fn=cfg.hash_fn)
        probs = classifier.score_logreg(
            feats, np.asarray(cfg.quality_model["weights"]),
            cfg.quality_model["bias"], id_col=id_col)
        # token-less docs have no feature rows and thus no prob row;
        # the model's verdict on them IS sigmoid(bias) (train_logreg
        # enrolls them through the intercept) — dropping them
        # unconditionally overrode the model (review finding)
        bias_prob = 1.0 / (1.0 + math.exp(-cfg.quality_model["bias"]))
        quality = (quality.join(probs, on=id_col, how="left")
                   .filter(F.coalesce(F.col("prob"), F.lit(bias_prob))
                           >= cfg.min_prob)
                   .drop("prob"))
    # exact dedup via drop_exact_duplicates (groupBy min + semi-join),
    # NOT a per-digest min window: a window has no partial aggregation,
    # so every copy of a hyper-duplicated text (the defining skew of
    # web corpora — the hottest page can carry 10^6-10^7 exact copies)
    # would shuffle to ONE task, while groupBy collapses copies
    # map-side before the shuffle (r10 verdict #1). The semi-join form
    # reads `quality` on both sides, and quality is a stack of regex
    # passes — so pin it once with the same eager localCheckpoint the
    # classifier branch uses, paying one scan AND keeping the
    # skew-safe partial agg.
    quality = quality.localCheckpoint(eager=True)
    # the survivor set is the diamond's apex (near-dedup, the
    # decontamination shingle scan, its anchor, and the final join
    # all read it) — pin it so each consumer reads materialized
    # rows instead of re-running the dedup join
    kept = dedup.drop_exact_duplicates(
        quality, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    if cfg.near_threshold is not None:
        pairs = dedup.minhash_dedup(
            kept, text_col, id_col, threshold=cfg.near_threshold,
            hash_fn=cfg.hash_fn)
        if cfg.survivor_by_quality:
            mapping = dedup.best_survivors(kept, pairs,
                                           "quality_score", id_col)
            losers = mapping.filter(
                F.col(id_col) != F.col("survivor_id")).select(id_col)
        else:
            groups = dedup.connected_keep_ids(pairs)
            losers = groups.filter(
                F.col("doc_id") != F.col("keep_id")) \
                .select(F.col("doc_id").alias(id_col))
        kept = kept.join(losers, on=id_col, how="left_anti")
    if benchmark is not None:
        kept = kept.join(benchmark.select(id_col), on=id_col,
                         how="left_anti")
        overlap = decontaminate.ngram_overlap(
            kept, benchmark, n=cfg.decontaminate_n, text_col=text_col,
            id_col=id_col, hash_fn=cfg.hash_fn,
            threshold=cfg.decontaminate_threshold)
        kept = kept.join(
            overlap.filter(~F.col("contaminated"))
            .select(id_col, "overlap_frac"), on=id_col)
    if cfg.sample_rates or cfg.default_rate < 1.0:
        kept = sample_ops.stratified_sample(
            kept, cfg.strata_col, cfg.sample_rates, cfg.default_rate,
            key_col=id_col, seed=cfg.seed, hash_fn=cfg.hash_fn)
    if cfg.splits is not None:
        kept = sample_ops.split_assign(
            kept, cfg.splits, key_col=id_col, seed=cfg.seed,
            hash_fn=cfg.hash_fn)
    return kept
