"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure Catalyst expressions (regexp/array
built-ins) — they run inside whole-stage codegen and scale linearly with
no shuffle.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from kiji_mapreduce_spark.functions import lit_array

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately small and deterministic (public common-word lists).
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "dans", "que", "pour"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "人", "这"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (runs of non-space)."""
    return F.regexp_count(text, F.lit(r"\S+"))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: words + digits + punctuation as separate
    tokens (a deterministic regex approximation of a BPE pre-tokenizer)."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))


def chunk_documents(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    chunk_tokens: int = 128, stride: int = 96,
) -> DataFrame:
    """Fixed-size token-window chunking with overlap — the
    context-window / RAG-prep shape: chunk ``i`` covers tokens
    ``[i*stride, i*stride + chunk_tokens)``, so consecutive chunks
    overlap by ``chunk_tokens - stride`` tokens and every token lands in
    at least one chunk whenever ``stride <= chunk_tokens``. The final
    chunk may be short; zero-token documents produce no chunks.

    Returns (id, chunk_id, chunk_text, n_tokens). Scale shape: one
    narrow codegen'd pass — tokens split per row, chunk indices from a
    per-row ``sequence`` explode (``ceil((n-chunk)/stride)+1`` rows per
    doc, NOT one row per token), chunk text from ``slice`` on the
    in-row token array. No shuffle at all.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda t: t != "")
    n = F.size(toks)
    n_chunks = (F.when(n <= chunk_tokens, F.lit(1))
                .otherwise(F.ceil((n - F.lit(chunk_tokens))
                                  / F.lit(stride)).cast("int") + 1))
    base = (df.select(F.col(id_col), toks.alias("_tk"), n.alias("_n"),
                      n_chunks.alias("_nc"))
            .filter(F.col("_n") > 0))
    start = F.col("chunk_id") * stride  # 0-based token offset
    return (base.select(
        id_col, "_tk", "_n",
        F.explode(F.sequence(F.lit(0), F.col("_nc") - 1))
        .alias("chunk_id"))
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.slice(F.col("_tk"), start + 1,
                                     F.lit(chunk_tokens)))
            .alias("chunk_text"),
            F.least(F.col("_n") - start, F.lit(chunk_tokens))
            .cast("long").alias("n_tokens")))


def _stopword_hits(text: Column, words: list[str]) -> Column:
    """Count tokens equal to any of ``words`` by token MEMBERSHIP, not a
    space-delimited regex: ``regexp_count(' (the|and) ')`` consumes the
    trailing space per match, so every second stopword in a consecutive
    run was missed — halving stop_ratio on stopword-dense text and
    skewing the language-ID vote (r5 review finding; the SQL oracles
    count with the same list_filter form)."""
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")
    word_arr = lit_array(words, "string")
    return F.size(F.filter(toks, lambda x: F.array_contains(word_arr, x)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-scoring features: lengths, token stats, punctuation /
    digit / uppercase ratios, stopword ratio (en), and a composite score in
    [0, 1] (heuristics in the style of C4/Gopher quality rules)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_digits = F.regexp_count(t, F.lit(r"[0-9]"))
    n_upper = F.regexp_count(t, F.lit(r"[A-Z]"))
    n_stop = _stopword_hits(t, _STOPWORDS["en"])
    avg_token_len = F.when(n_tokens > 0, (n_chars - n_tokens + 1) / n_tokens).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    digit_ratio = F.when(n_chars > 0, n_digits / n_chars).otherwise(0.0)
    upper_ratio = F.when(n_chars > 0, n_upper / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0)
    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.4)).otherwise(0.0)
        + F.when((avg_token_len >= 2) & (avg_token_len <= 12), F.lit(0.2)).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, F.lit(0.2)).otherwise(0.0)
        + F.when(digit_ratio <= 0.2, F.lit(0.1)).otherwise(0.0)
        + F.when(stop_ratio >= 0.01, F.lit(0.1)).otherwise(0.0)
    )
    return (
        df.withColumn("n_chars_txt", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("avg_token_len", F.round(avg_token_len, 4))
        .withColumn("punct_ratio", F.round(punct_ratio, 4))
        .withColumn("digit_ratio", F.round(digit_ratio, 4))
        .withColumn("upper_ratio", F.round(upper_ratio, 4))
        .withColumn("stopword_ratio", F.round(stop_ratio, 4))
        .withColumn("quality_score", F.round(score, 2))
    )


#: the Gopher rules' English must-have words (Rae et al. 2021,
#: "Scaling Language Models: ... Gopher", appendix A — the published
#: quality-filter recipe most pretraining pipelines start from)
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and",
                     "that", "have", "with")


def gopher_quality_rules(df: DataFrame, text_col: str = "text",
                         min_words: int = 50,
                         max_words: int = 100_000,
                         min_avg_word_len: float = 3.0,
                         max_avg_word_len: float = 10.0,
                         max_symbol_word_ratio: float = 0.1,
                         max_bullet_line_frac: float = 0.9,
                         max_ellipsis_line_frac: float = 0.3,
                         min_alpha_word_frac: float = 0.8,
                         min_stop_hits: int = 2) -> DataFrame:
    """Append the Gopher document-quality rule verdicts (Rae et al.
    2021, appendix A1.1.2 — the standard rule set real pretraining
    pipelines apply before model-based filtering): word-count bounds,
    mean-word-length bounds, #/ellipsis symbol-to-word ratio,
    bullet-started and ellipsis-ended line fractions, the
    alphabetic-word fraction, and presence of >= ``min_stop_hits`` of
    the 8 required English words (matched with word boundaries on the
    lowercased text, so punctuation-attached forms still count).

    Adds one boolean per rule (``gq_*``) plus the conjunction
    ``gopher_pass``. Pure Catalyst — per-row splits and folds, zero
    shuffle, zero UDF; NULL/empty text fails the word-count rule and
    nothing else blows up (ANSI-safe size/div guards)."""
    t = F.col(text_col)
    words = F.filter(F.split(F.coalesce(t, F.lit("")), r"\s+"),
                     lambda w: w != "")
    n_words = F.coalesce(F.size(words), F.lit(0))
    word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    avg_wl = F.when(n_words > 0, word_chars / n_words).otherwise(0.0)
    # the published rule bounds EACH symbol's ratio separately — a
    # combined count would reject docs the paper keeps (7 headings
    # '#' + 6 '...' in 100 words is fine per-symbol, 0.13 combined;
    # r11 review finding)
    hash_ratio = F.when(
        n_words > 0,
        F.regexp_count(t, F.lit("#")) / n_words).otherwise(0.0)
    ell_ratio = F.when(
        n_words > 0,
        F.regexp_count(t, F.lit(r"\.\.\.|…")) / n_words).otherwise(0.0)
    # split on \r?\n with a whitespace-aware blank test: a CRLF doc's
    # separator lines split to '\r', which space-only trim() keeps as
    # "content" — diluting the bullet/ellipsis fractions toward their
    # bounds on exactly the documents they exist to catch (r11 review
    # finding)
    lines = F.filter(F.split(F.coalesce(t, F.lit("")), r"\r?\n"),
                     lambda ln: ~ln.rlike(r"^\s*$"))
    n_lines = F.coalesce(F.size(lines), F.lit(0))
    bullet_frac = F.when(n_lines > 0, F.size(F.filter(
        lines, lambda ln: F.ltrim(ln).rlike(r"^[-*•‣▪]")
    )) / n_lines).otherwise(0.0)
    ellipsis_frac = F.when(n_lines > 0, F.size(F.filter(
        lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$")
    )) / n_lines).otherwise(0.0)
    # \p{L}: the rule means "alphabetic", not "ASCII Latin" — a doc
    # quoting Cyrillic/Greek/CJK terms must not fail it (r11 review)
    alpha_frac = F.when(n_words > 0, F.size(F.filter(
        words, lambda w: w.rlike(r"\p{L}"))) / n_words).otherwise(0.0)
    low = F.lower(F.coalesce(t, F.lit("")))
    stop_hits = sum(
        (F.when(low.rlike(rf"\b{w}\b"), 1).otherwise(0)
         for w in _GOPHER_STOPWORDS), start=F.lit(0))
    rules = {
        "gq_word_count": (n_words >= min_words)
        & (n_words <= max_words),
        "gq_avg_word_len": (avg_wl >= min_avg_word_len)
        & (avg_wl <= max_avg_word_len),
        "gq_symbol_ratio": (hash_ratio <= max_symbol_word_ratio)
        & (ell_ratio <= max_symbol_word_ratio),
        "gq_bullet_lines": bullet_frac <= max_bullet_line_frac,
        "gq_ellipsis_lines": ellipsis_frac <= max_ellipsis_line_frac,
        "gq_alpha_words": alpha_frac >= min_alpha_word_frac,
        "gq_stop_words": stop_hits >= min_stop_hits,
    }
    out = df
    passed = F.lit(True)
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
        passed = passed & F.col(name)
    return out.withColumn("gopher_pass", passed)


#: the exact verdict columns gopher_quality_rules appends — the filter
#: drops THIS list, not a gq_* prefix sweep that would silently eat a
#: caller's own columns (r11 review finding)
_GOPHER_RULE_COLS = (
    "gq_word_count", "gq_avg_word_len", "gq_symbol_ratio",
    "gq_bullet_lines", "gq_ellipsis_lines", "gq_alpha_words",
    "gq_stop_words", "gopher_pass")


def gopher_quality_filter(df: DataFrame, text_col: str = "text",
                          **thresholds) -> DataFrame:
    """Keep only documents passing every Gopher rule; same columns as
    the input (the rule verdicts are dropped after filtering)."""
    scored = gopher_quality_rules(df, text_col=text_col, **thresholds)
    return scored.filter(F.col("gopher_pass")).drop(*_GOPHER_RULE_COLS)


def language_id(text: Column, langs: list[str] | None = None) -> Column:
    """Stopword-vote language ID: count stopword hits per language, pick
    the argmax (ties broken by language code order); 'und' when no hits.

    Single-pass scoring via a token→language-bitmask lookup: the text is
    tokenized ONCE, each token resolves to one int whose bit i says
    "stopword of langs[i]" (words shared across languages — 'de', 'la',
    'en' — just set several bits), and one ``aggregate`` fold turns the
    mask array into per-language hit counts. The per-language
    ``_stopword_hits`` form re-tokenized the text once per language
    (higher-order lambdas block Catalyst subexpression elimination), so
    N languages cost N regex splits per row — the r5 perf regression."""
    langs = langs or sorted(_STOPWORDS)
    if len(langs) > 63:
        # the vote vector is one 64-bit mask per stopword; bit 63 is the
        # sign and bit_get past it would error (or alias) at runtime —
        # fail loudly at plan time instead of deep in an executor task
        raise ValueError(
            f"language_id supports at most 63 languages, got {len(langs)}")
    mask: dict[str, int] = {}
    for i, lg in enumerate(langs):
        for w in _STOPWORDS[lg]:
            mask[w] = mask.get(w, 0) | (1 << i)
    mask_map = F.create_map(*[
        c for w in sorted(mask) for c in (F.lit(w), F.lit(mask[w]))])
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")
    # one map lookup per token (try_element_at: NULL, not ANSI error, on
    # non-stopwords); zero masks are dropped BEFORE the fold so the
    # per-language bit fan-out only runs on actual stopword hits (a
    # small fraction of tokens), not every token
    masks = F.filter(
        F.transform(
            toks,
            lambda x: F.coalesce(F.try_element_at(mask_map, x), F.lit(0))),
        lambda m: m != 0)
    lang_idx = F.sequence(F.lit(0), F.lit(len(langs) - 1))
    counts = F.aggregate(
        masks,
        F.array_repeat(F.lit(0), len(langs)),
        lambda acc, m: F.zip_with(
            acc, lang_idx, lambda c, i: c + F.bit_get(m, i).cast("int")))
    scores = F.zip_with(
        counts, lit_array(langs, "string"),
        lambda h, lg: F.struct(h.alias("hits"), lg.alias("lang")))
    best = F.array_max(F.filter(scores, lambda s: s["hits"] > 0))
    # array_max on struct orders by (hits, lang) — argmax with lang tiebreak
    return F.coalesce(best["lang"], F.lit("und"))


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "text_norm") -> DataFrame:
    """Canonical text normalization for dedup/tokenization: Unicode NFC,
    then lowercase, collapse whitespace runs to single spaces, trim.

    Only the NFC step leaves the JVM — one vectorized Arrow pass (Spark
    has no NFC builtin; Python's unicodedata and DuckDB's nfc_normalize
    agree bit-for-bit, which is what makes the op oracle-checkable); the
    rest is codegen'd. Order matters and is part of the contract:
    NFC -> lower -> whitespace.
    """
    @F.pandas_udf("string")  # inside the fn: the decorator parses the
    def _nfc(s: pd.Series) -> pd.Series:  # DDL type via the live session
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    norm = F.trim(F.regexp_replace(
        F.lower(_nfc(F.col(text_col))), r"\s+", " "))
    return df.withColumn(out_col, norm)


def _http_string_parts(content_col: Column) -> tuple[Column, Column]:
    """(headers, body) halves of an HTTP payload as STRING expressions.
    The cast is lossy (invalid UTF-8 degrades to U+FFFD), which is
    exact for the ASCII header half; byte-exact BODY extraction stays
    in ``crawl.crawl_media``'s Python split. Shared by the text and
    media halves of the crawl ingest so their notion of headers and
    Content-Type cannot drift."""
    s = F.make_valid_utf8(content_col.cast("string"))
    sep = F.instr(s, "\r\n\r\n")
    headers = F.when(sep > 0, F.substring(s, 1, sep - 1)) \
        .otherwise(F.lit(""))
    body = F.when(sep > 0, F.substr(s, sep + F.lit(4))).otherwise(s)
    return headers, body


def http_content_type(content_col: Column) -> Column:
    """The header block's Content-Type (lowercased, parameters
    stripped), or '' when absent — pure Catalyst. Anchored to line
    start like ``http_content_encoding``: an unanchored search would
    also fire inside 'X-Content-Type: ...' proxy headers and return
    the wrong type (r11 review finding, same class as the
    content-encoding anchor)."""
    headers, _ = _http_string_parts(content_col)
    return F.lower(F.trim(F.regexp_extract(
        headers, r"(?im)^content-type:\s*([^\r\n;]+)", 1)))


def http_content_encoding(content_col: Column) -> Column:
    """The header block's Content-Encoding (lowercased, trimmed), or
    '' when absent — pure Catalyst. After ``io.inputs``'
    ``_decode_http_payload`` normalization this is non-identity ONLY
    for bodies that are still encoded: brotli (no decoder derivable
    in a stock container — its static dictionary is data, not spec),
    multi-coding chains ("gzip, br"), or a gzip/zstd body whose
    inflate failed or exceeded the size gates — exactly the rows
    tag-stripping would turn into garbage documents.

    Anchored to line START like the decoder's strip regex: an
    unanchored search also matches inside 'X-Content-Encoding: gzip'
    (a real proxy/CDN header the decoder leaves alone), which would
    reject perfectly decodable documents (r11 review finding)."""
    headers, _ = _http_string_parts(content_col)
    return F.lower(F.trim(F.regexp_extract(
        headers, r"(?im)^content-encoding:\s*([^\r\n]+)", 1)))


def http_html_text(df: DataFrame, content_col: str = "content",
                   text_col: str = "text") -> DataFrame:
    """Crawl-ingest extraction: HTTP response bytes (a WARC response
    record's payload — headers + body) -> (content_type, ``text_col``)
    with markup stripped, completing the WARC -> text pipeline
    (``io.inputs.read_warc_records`` rows feed straight into the
    quality / langid / dedup operators).

    Every step is a Catalyst expression — no UDF, fully codegen'd:
    split headers from body at the first CRLF CRLF, pull Content-Type
    from the header block, drop script/style/comment spans, replace
    remaining tags with spaces, decode the common HTML entities, and
    collapse whitespace. Non-UTF-8 pages and binary payloads degrade to replacement
    characters (charset transcoding is a downstream concern — the
    dedup/quality ops only need stable bytes). A deliberately simple
    extractor: boilerplate removal beyond tag stripping (readability
    scoring, main-content detection) belongs in a model-side pass.
    """
    # make_valid_utf8 over a binary->string cast, NOT F.decode: under
    # Spark 4 ANSI defaults decode ABORTS the job on the first malformed
    # byte sequence, and a real crawl always contains non-UTF-8 pages
    # and binary payloads — invalid sequences degrade to U+FFFD instead
    _, body = _http_string_parts(F.col(content_col))
    ctype = http_content_type(F.col(content_col))
    stripped = F.regexp_replace(
        body, r"(?is)<(script|style)[^>]*>.*?</\1\s*>", " ")
    stripped = F.regexp_replace(stripped, r"(?s)<!--.*?-->", " ")
    stripped = F.regexp_replace(stripped, r"(?s)<[^>]*>", " ")
    # &amp; decodes LAST: doing it first turns author-escaped entities
    # ("&amp;lt;" — visible text "&lt;") into a second round of decoding
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")):
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    text = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return df.withColumn("content_type", ctype) \
        .withColumn(text_col, text)


def robots_noindex(content_col: Column,
                   extra_directives: tuple = ()) -> Column:
    """True when the response tells robots not to index it: an
    ``X-Robots-Tag: ... noindex ...`` response header (RFC 9309's
    HTTP-level twin) or a ``<meta name="robots" content="...noindex
    ...">`` tag in the raw HTML (either attribute order). Training
    pipelines honor this the way search engines do — the publisher
    explicitly opted the page out of machine consumption, and the
    standard crawl-curation stacks drop these rows at ingest.

    Pure Catalyst over the RAW payload string (the meta tag must be
    probed before ``http_html_text`` strips tags); the header probe is
    line-anchored like every other header probe (the r11
    X-Content-Encoding lesson does not recur: X-Robots-Tag IS the
    header's real name, so the anchor guards against e.g. a
    ``Fake-X-Robots-Tag`` prefix instead) and matches EVERY
    X-Robots-Tag line, not just the first — repeated headers are legal
    and common (one per directive or per user agent; r12 review
    finding). ``none`` counts as noindex in both forms, per its
    documented meaning. ``extra_directives`` widens the set — the
    media half of the ingest passes ``("noimageindex",)``."""
    directives = "|".join(("noindex", "none") + tuple(extra_directives))
    headers, body = _http_string_parts(content_col)
    hdr_no = headers.rlike(
        rf"(?im)^x-robots-tag:[^\r\n]*\b(?:{directives})\b")
    meta = (r'(?is)<meta\s[^>]*name\s*=\s*["\']?robots\b[^>]*'
            rf'content\s*=\s*["\']?[^>"\']*\b(?:{directives})\b')
    meta_rev = (r'(?is)<meta\s[^>]*content\s*=\s*["\']?[^>"\']*'
                rf'\b(?:{directives})\b[^>"\']*["\']?[^>]*'
                r'name\s*=\s*["\']?robots\b')
    return hdr_no | body.rlike(meta) | body.rlike(meta_rev)


def compressibility(df: DataFrame, text_col: str = "text",
                    ratio_col: str = "compress_ratio") -> DataFrame:
    """Append zlib-compressed-size / UTF-8-size per document — the
    classic redundancy signal the big pretraining pipelines gate on:
    templated/spammy pages compress far below real prose (ratio well
    under ~0.3 at zlib level 6), random/binary junk sits near 1.0, and
    both tails are worth dropping. NULL/empty text -> NULL ratio.

    This is genuinely Python-side work (there is no Catalyst deflate),
    so it runs as an Arrow-batched pandas UDF — the sanctioned slow
    path — over one column; everything around it stays codegen'd.
    zlib level 6 is pinned: the ratio is only comparable corpus-wide
    if every row pays the same effort."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, 6)) / len(b)

        return s.map(one)

    return df.withColumn(ratio_col, _ratio(F.col(text_col)))


#: query parameters that never change page content — the tracking tails
#: crawl pipelines strip before URL-keyed dedup
#: NOTE: deliberately excludes "ref" — on major sites (code hosting
#: branch selectors, content routers) ?ref= is content-bearing, and
#: stripping it would collapse distinct pages into one dedup key
_TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign",
                    "utm_term", "utm_content", "fbclid", "gclid",
                    "msclkid", "mc_cid", "mc_eid")


def normalize_url(url):
    """Canonical URL expression for crawl dedup: the same page reached
    through different URL spellings collapses to one key before an
    exact/URL-keyed dedup pass. Rules (the conservative, public
    canonicalization set): drop the fragment, lowercase scheme and
    authority, strip the scheme's default port (:80 http / :443 https),
    drop tracking query parameters (utm_*/fbclid/gclid/...), sort the
    remaining parameters, and drop an empty ``?``. Pure Catalyst
    expressions over ``try_parse_url`` — no UDF, and malformed URLs
    (a crawl corpus always contains some) pass through trimmed
    instead of aborting the ANSI-mode job or nulling out.
    """
    u = F.trim(url)
    # try_parse_url: ANSI mode's parse_url ABORTS the job on the first
    # malformed URL — a crawl corpus always contains some
    proto = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    auth_raw = F.try_parse_url(u, F.lit("AUTHORITY"))
    # lowercase only host[:port] — RFC 3986 makes userinfo
    # case-sensitive, so an "User:Pass@" prefix is preserved verbatim
    ui = F.try_parse_url(u, F.lit("USERINFO"))
    hostport = F.when(
        ui.isNotNull(),
        F.lower(F.substr(auth_raw, F.length(ui) + F.lit(2)))) \
        .otherwise(F.lower(auth_raw))
    hostport = F.when((proto == "http") & hostport.endswith(":80"),
                      F.substring(hostport, 1, F.length(hostport) - 3)) \
        .when((proto == "https") & hostport.endswith(":443"),
              F.substring(hostport, 1, F.length(hostport) - 4)) \
        .otherwise(hostport)
    auth = F.when(ui.isNotNull(),
                  F.concat(ui, F.lit("@"), hostport)) \
        .otherwise(hostport)
    path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~F.lower(
            F.substring_index(p, "=", 1)).isin(*_TRACKING_PARAMS))
    q = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        proto, F.lit("://"), auth, path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")))
    return F.when(proto.isNotNull() & auth_raw.isNotNull(), rebuilt) \
        .otherwise(u)


#: common multi-label public suffixes — a deliberately small heuristic
#: subset of the Public Suffix List (the full PSL is a data file; swap
#: it in for production exactness — the expression shape is identical)
_SECOND_LEVEL_TLDS = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "com.ar",
    "co.in", "co.za", "com.tr", "com.sg", "co.kr", "com.tw",
)


def url_host(url) -> Column:
    """Lowercased host of a URL (NULL when unparseable) — the
    ``try_parse_url`` form that survives malformed crawl URLs."""
    return F.lower(F.try_parse_url(F.trim(url), F.lit("HOST")))


def registered_domain(host) -> Column:
    """Registered (pay-level) domain of a host: the per-site key crawl
    curation groups on — per-domain document caps, domain mixtures, and
    domain-level quality stats all want ``news.example.co.uk`` and
    ``blog.example.co.uk`` under one ``example.co.uk`` bucket. Compose
    with ``sample.sample_stratum_topk`` for per-domain caps.

    Heuristic public-suffix handling: the last two labels, or the last
    three when the trailing pair is a known second-level public suffix
    (``_SECOND_LEVEL_TLDS``). For PSL-exact extraction use
    ``pipeline.psl.with_registered_domain`` (broadcast rule-table
    joins over the full Public Suffix List — ``kiji-mr crawl-ingest
    --psl``); this expression stays as the dependency-free fallback.
    Single-label hosts (localhost) and dotted-quad IP hosts pass
    through whole — an IP has no registrable domain. Pure Catalyst expressions.
    """
    # strip ONE trailing dot: "example.com." is valid FQDN spelling and
    # would otherwise contribute an empty label, returning "com." and
    # merging unrelated sites into one bucket (ADVICE r7)
    h = F.regexp_replace(F.lower(host), r"\.$", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, n - 1, 2), ".")
    last3 = F.array_join(F.slice(labels, n - 2, 3), ".")
    suffixes = lit_array(_SECOND_LEVEL_TLDS, "string")
    # dotted-quad hosts have no registrable domain — last-two-labels
    # would merge every 10.77.*.1 and 192.168.*.1 into one "0.1" bucket
    is_ip = h.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    return (F.when(is_ip, h)
            .when(n >= 3, F.when(F.array_contains(suffixes, last2),
                                 last3).otherwise(last2))
            .when(n == 2, last2)
            .otherwise(h))


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB/most engines): ASCII classes, \b, bounded repetition only.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b(?:\d{2,3}[- ])?\d{3}[- ]\d{3}[- ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_features(df: DataFrame, text_col: str = "text",
                 redacted_col: str = "redacted") -> DataFrame:
    """Append PII counts (emails, phone numbers, IPv4 addresses) and a
    redacted copy of the text with each match replaced by a typed token
    (``[EMAIL]``/``[PHONE]``/``[IPV4]``, applied in that order).

    Pure regexp built-ins — codegen'd, no shuffle; the standard
    pre-training scrub pass. Patterns are deliberately cross-engine
    (ASCII classes + word boundaries), so the op is oracle-checkable.
    """
    t = F.col(text_col)
    red = t
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"[{name.upper()}]")
    return (df
            .withColumn("n_emails", F.regexp_count(t, F.lit(PII_PATTERNS["email"])))
            .withColumn("n_phones", F.regexp_count(t, F.lit(PII_PATTERNS["phone"])))
            .withColumn("n_ipv4", F.regexp_count(t, F.lit(PII_PATTERNS["ipv4"])))
            .withColumn(redacted_col, red)
            .withColumn("has_pii",
                        (F.col("n_emails") + F.col("n_phones")
                         + F.col("n_ipv4")) > 0))


def repetition_features(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        top_ns: tuple[int, ...] = (2, 3),
                        dup_ns: tuple[int, ...] = (5,)) -> DataFrame:
    """Gopher-style repetition signals per document.

    For each n in ``top_ns``: ``top{n}_frac`` — the character mass of the
    most-repeated word n-gram (count x gram length) over the document's
    normalized length (tokens joined by single spaces). For each n in
    ``dup_ns``: ``dup{n}_frac`` — the character mass of all n-gram
    occurrences whose gram appears more than once. High values flag
    boilerplate/spam for training-data filtering (repetition rules in the
    style of the Gopher quality heuristics).

    Scale shape: one posexplode of tokens hashed to (hash64, length)
    pairs BEFORE the exchange — only (id, pos, long, int) rows shuffle,
    never token or gram strings (guide §2.3 "narrower types"). Every
    n's gram is keyed in the same window pass (xxhash64 over the lagged
    token hashes — lag over (id, pos), codegen'd, one shuffle on id),
    stack()ed to (id, n, gram_key, gram_len) so all n share one count
    aggregate. Gram identity is the 64-bit combined hash + the exact
    gram length: within one (document, n) group the birthday bound is
    ~g²/2⁶⁵ for g grams (a 1M-token book: ~3e-8, and a collision only
    perturbs that one document's repetition fraction — it deletes
    nothing), the same keyed-on-hash discipline as
    ``exact_substring_dedup``. r14 built every gram STRING with
    concat_ws and hash-aggregated the strings — the string assembly
    and string grouping dominated the query's one compute stage
    (1.68 s task-time of 1.27 s wall at sf0.1).
    """
    from kiji_mapreduce_spark.pipeline.dedup import tokens

    ns = sorted(set(top_ns) | set(dup_ns))
    toks = tokens(F.col(text_col))
    ex = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    ex = ex.select(id_col, "pos",
                   F.xxhash64("tok").alias("_th"),
                   F.length("tok").alias("_tl"))
    w = Window.partitionBy(id_col).orderBy("pos")
    gram_cols = []
    for n in ns:
        parts = [F.lag("_th", n - 1 - j).over(w) if j < n - 1
                 else F.col("_th") for j in range(n)]
        lens = [F.lag("_tl", n - 1 - j).over(w) if j < n - 1
                else F.col("_tl") for j in range(n)]
        full = F.lag("_th", n - 1).over(w).isNotNull() | F.lit(n == 1)
        # full windows have no NULL parts, so xxhash64's skip-null
        # behavior can never fold two different window widths together
        gram_key = F.when(full, F.xxhash64(*parts))
        gram_len = F.when(full, sum(lens[1:], lens[0]) + F.lit(n - 1))
        gram_cols.append(gram_key.alias(f"_g{n}"))
        gram_cols.append(gram_len.cast("long").alias(f"_gl{n}"))
    per_tok = ex.select(id_col, "_tl", *gram_cols)
    norm = per_tok.groupBy(id_col).agg(
        (F.sum("_tl") + F.count(F.lit(1)) - 1).alias("_norm_len"))
    stacked = per_tok.select(
        id_col,
        F.expr("stack({}, {}) as (n, gram, glen)".format(
            len(ns), ", ".join(f"{n}, _g{n}, _gl{n}" for n in ns)))
    ).filter(F.col("gram").isNotNull())
    counts = stacked.groupBy(id_col, "n", "gram", "glen").agg(
        F.count(F.lit(1)).alias("c"))
    # top_mass = character mass of the MOST-FREQUENT gram (Gopher's
    # "fraction of characters in the most frequently-occurring n-gram"),
    # NOT max(c * len) over all grams — a rarer-but-longer gram could
    # otherwise win (r5 review finding). Encoded as one composite BIGINT
    # max so both engines agree exactly: count dominates, mass breaks
    # count ties (masses are < 1e8 — bounded by document length).
    mass = F.col("c") * F.col("glen")
    masses = counts.groupBy(id_col, "n").agg(
        F.pmod(F.max(F.col("c") * F.lit(100_000_000) + mass),
               F.lit(100_000_000)).alias("top_mass"),
        F.sum(F.when(F.col("c") >= 2, mass)
              .otherwise(F.lit(0))).alias("dup_mass"))
    pivots = [
        F.max(F.when(F.col("n") == n, F.col("top_mass"))).alias(f"_top{n}")
        for n in top_ns
    ] + [
        F.max(F.when(F.col("n") == n, F.col("dup_mass"))).alias(f"_dup{n}")
        for n in dup_ns
    ]
    wide = masses.groupBy(id_col).agg(*pivots)
    out = norm.join(wide, on=id_col, how="left")
    fracs = [
        F.round(F.coalesce(F.col(f"_top{n}"), F.lit(0)) / F.col("_norm_len"),
                4).alias(f"top{n}_frac")
        for n in top_ns
    ] + [
        F.round(F.coalesce(F.col(f"_dup{n}"), F.lit(0)) / F.col("_norm_len"),
                4).alias(f"dup{n}_frac")
        for n in dup_ns
    ]
    return out.select(id_col, *fracs)


def line_repetition_features(df: DataFrame, text_col: str = "text"
                             ) -> DataFrame:
    """Gopher's within-document line/paragraph repetition signals:
    ``dup_line_frac`` / ``dup_para_frac`` (fraction of line/paragraph
    occurrences beyond each distinct value's first — the datatrove/
    Dolma reading of Rae et al. A1.1.2) and their character-mass twins
    ``dup_line_char_frac`` / ``dup_para_char_frac``. Complements
    ``repetition_features`` (word n-gram signals, one shuffle): these
    four are pure per-row array expressions — ZERO shuffle, the text
    never leaves its partition."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    out = df
    # \r?\n + whitespace-aware blank test: a CRLF doc's separators
    # split to '\r' under a bare-\n split, and space-only trim() keeps
    # them — 9 identical '\r' "lines" read as duplicates and a clean
    # CRLF document breaches the 0.30 bound (r11 review finding)
    for split_pat, unit in ((r"\r?\n", "line"), (r"\r?\n\s*\r?\n", "para")):
        arr = F.filter(F.split(t, split_pat),
                       lambda x: ~x.rlike(r"^\s*$"))
        distinct = F.array_distinct(arr)
        n = F.size(arr)
        chars = F.aggregate(arr, F.lit(0).cast("long"),
                            lambda a, x: a + F.length(x))
        d_chars = F.aggregate(distinct, F.lit(0).cast("long"),
                              lambda a, x: a + F.length(x))
        out = out.withColumn(
            f"dup_{unit}_frac",
            F.round(F.when(n > 0, (n - F.size(distinct)) / n)
                    .otherwise(0.0), 4)
        ).withColumn(
            f"dup_{unit}_char_frac",
            F.round(F.when(chars > 0, (chars - d_chars) / chars)
                    .otherwise(0.0), 4))
    return out


#: Gopher's published repetition thresholds (Rae et al. 2021 A1.1.2):
#: a document is removed when any signal EXCEEDS its bound
_GOPHER_REP_THRESHOLDS = {
    "dup_line_frac": 0.30, "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20, "dup_para_char_frac": 0.20,
    "top2_frac": 0.20, "top3_frac": 0.18, "top4_frac": 0.16,
    "dup5_frac": 0.15, "dup6_frac": 0.14, "dup7_frac": 0.13,
    "dup8_frac": 0.12, "dup9_frac": 0.11, "dup10_frac": 0.10,
}


def gopher_repetition_filter(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             include_ngrams: bool = True) -> DataFrame:
    """Drop documents breaching ANY of Gopher's 13 published
    repetition bounds: the four line/paragraph signals (zero-shuffle,
    ``line_repetition_features``) and — when ``include_ngrams`` —
    the nine word-n-gram signals (top 2-4-gram character mass,
    duplicated 5-10-gram mass; one id-keyed shuffle via
    ``repetition_features``). Returns surviving input rows, signal
    columns dropped. Pairs with ``gopher_quality_filter`` for the
    full published pre-gate. With ``include_ngrams`` it runs Spark
    jobs when called, not at the first action: it pins the documents
    that pass the line signals."""
    scored = line_repetition_features(df, text_col=text_col)
    cond = F.lit(True)
    for name in ("dup_line_frac", "dup_para_frac",
                 "dup_line_char_frac", "dup_para_char_frac"):
        cond = cond & (F.col(name) <= _GOPHER_REP_THRESHOLDS[name])
    kept = scored.filter(cond).drop(
        "dup_line_frac", "dup_para_frac",
        "dup_line_char_frac", "dup_para_char_frac")
    if not include_ngrams:
        return kept
    # `kept` is a diamond: the n-gram scoring job and the final
    # anti-join both read it — pin it once (the curate.py
    # discipline) instead of re-running the upstream scan + line
    # features per branch
    kept = kept.localCheckpoint(eager=True)
    ngram = repetition_features(kept, text_col=text_col, id_col=id_col,
                                top_ns=(2, 3, 4),
                                dup_ns=(2, 3, 4, 5, 6, 7, 8, 9, 10))
    bad = F.lit(False)
    for n in (2, 3, 4):
        # published semantics (Gopher via datatrove/Dolma): the top
        # n-gram rule fires only when that gram actually REPEATS —
        # a singleton's own character mass must not flag short clean
        # docs. top_mass is count-ordered, so "any n-gram repeats"
        # (dup mass > 0) implies the top gram does
        bad = bad | ((F.col(f"dup{n}_frac") > 0)
                     & (F.col(f"top{n}_frac")
                        > _GOPHER_REP_THRESHOLDS[f"top{n}_frac"]))
    for n in (5, 6, 7, 8, 9, 10):
        bad = bad | (F.col(f"dup{n}_frac")
                     > _GOPHER_REP_THRESHOLDS[f"dup{n}_frac"])
    losers = ngram.filter(bad).select(id_col)
    return kept.join(losers, on=id_col, how="left_anti")


# -- C4 cleaning rules (Raffel et al. 2020, JMLR 21(140) §2.2) --------------
#
# The OTHER canonical published pre-training filter beside Gopher: the
# heuristics that built the C4 corpus. Line-level removal first, then
# page-level rules over the cleaned text (the paper's order). The two
# corpus-level C4 steps live elsewhere: the three-sentence-span dedup is
# ``dedup.c4_span_dedup`` (it needs a corpus-wide shuffle) and the
# langdetect gate is ``language_id`` (already a per-row expression).

#: C4 keeps only lines ending in a terminal punctuation mark — "a
#: period, exclamation mark, question mark, or end quotation mark"
#: (§2.2). The straight and curly double/single closers cover real web
#: text; trailing whitespace is ignored.
_C4_TERMINAL_PUNCT = "[.!?\"”’']\\s*$"


def c4_line_filter(df: DataFrame, text_col: str = "text",
                   min_line_words: int = 5,
                   require_terminal_punct: bool = True,
                   drop_javascript_lines: bool = True) -> DataFrame:
    """C4's line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines that end in a terminal punctuation mark, contain at least
    ``min_line_words`` words, and do not mention "javascript" (the
    please-enable-JS banner rule). Rewrites ``text_col`` with the
    surviving lines joined by ``\\n`` (CRLF normalizes to LF) and
    appends ``c4_lines_kept`` / ``c4_lines_dropped``.

    Pure Catalyst — one split + filter + array_join per row, zero
    shuffle, zero UDF. NULL text stays NULL with zero counts (the
    explicit-branch discipline: with ANSI off, size(NULL) is -1 and
    would leak into the counts otherwise)."""
    t = F.col(text_col)
    arr = F.split(t, r"\r?\n")

    def _keep(ln):
        ok = F.lit(True)
        if require_terminal_punct:
            ok = ok & ln.rlike(_C4_TERMINAL_PUNCT)
        if min_line_words > 0:
            words = F.filter(F.split(ln, r"\s+"), lambda w: w != "")
            ok = ok & (F.size(words) >= min_line_words)
        if drop_javascript_lines:
            ok = ok & ~F.lower(ln).contains("javascript")
        return ok

    kept = F.filter(arr, _keep)
    null_text = t.isNull()
    return (df
            .withColumn("c4_lines_kept",
                        F.when(null_text, F.lit(0))
                        .otherwise(F.size(kept)))
            .withColumn("c4_lines_dropped",
                        F.when(null_text, F.lit(0))
                        .otherwise(F.size(arr) - F.size(kept)))
            .withColumn(text_col,
                        F.when(null_text, F.lit(None).cast("string"))
                        .otherwise(F.array_join(kept, "\n"))))


def c4_quality_rules(df: DataFrame, text_col: str = "text",
                     min_sentences: int = 3,
                     bad_words: list[str] | None = None) -> DataFrame:
    """C4's page-level rule verdicts (Raffel et al. 2020 §2.2): at
    least ``min_sentences`` sentences (counted as runs of terminal
    ``.!?`` — an unpunctuated page counts zero), no "lorem ipsum"
    placeholder text, no curly brace (the code-page proxy), and no
    word from ``bad_words`` (the paper uses the public "List of Dirty,
    Naughty, Obscene or Otherwise Bad Words" — an external resource
    this engine does not ship, so the rule is opt-in: ``None`` or
    empty passes everything and the caller supplies the list, exactly
    like the crawl blocklists). Appends one boolean per rule
    (``c4_*``) plus the conjunction ``c4_pass``.

    Pure Catalyst per-row expressions, zero shuffle. The bad-word
    match folds the whole list into ONE case-insensitive
    word-boundary rlike alternation (the blocklist URL-pattern shape),
    compile-validated driver-side, however many words arrive. NULL
    text fails the sentence rule and nothing else blows up."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(t)
    rules = {
        "c4_min_sentences":
            F.regexp_count(t, F.lit(r"[.!?]+")) >= min_sentences,
        "c4_no_lorem": ~low.contains("lorem ipsum"),
        "c4_no_braces": ~t.contains("{"),
    }
    if bad_words:
        import re
        pat = (r"\b(?:"
               + "|".join(re.escape(w.lower()) for w in sorted(bad_words))
               + r")\b")
        re.compile(pat)  # fail loudly at plan time, not per-task
        rules["c4_no_bad_words"] = ~low.rlike(pat)
    else:
        rules["c4_no_bad_words"] = F.lit(True)
    out = df
    passed = F.lit(True)
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
        passed = passed & F.col(name)
    return out.withColumn("c4_pass", passed)


#: the exact columns the C4 surface appends — filters drop THIS list,
#: never a prefix sweep that could eat caller columns (the Gopher
#: precedent)
_C4_RULE_COLS = ("c4_min_sentences", "c4_no_lorem", "c4_no_braces",
                 "c4_no_bad_words", "c4_pass")
_C4_LINE_COLS = ("c4_lines_kept", "c4_lines_dropped")


def c4_filter(df: DataFrame, text_col: str = "text",
              min_line_words: int = 5, min_sentences: int = 3,
              bad_words: list[str] | None = None,
              line_filter: bool = True) -> DataFrame:
    """The published C4 heuristic chain as one call: line-level
    cleaning (optionally — ``line_filter=False`` scores the raw text),
    then the page-level rules over the CLEANED text (the paper's
    order: a page is judged on what survives its line filter), keeping
    only ``c4_pass`` pages. Same columns as the input with ``text_col``
    rewritten; verdict and line-count columns are dropped.

    Corpus-level C4 steps are separate by design (they shuffle):
    ``dedup.c4_span_dedup`` for the three-sentence-span dedup,
    ``language_id`` for the langdetect gate."""
    out = df
    if line_filter:
        out = c4_line_filter(out, text_col=text_col,
                             min_line_words=min_line_words)
    out = c4_quality_rules(out, text_col=text_col,
                           min_sentences=min_sentences,
                           bad_words=bad_words)
    drop = _C4_RULE_COLS + (_C4_LINE_COLS if line_filter else ())
    return out.filter(F.col("c4_pass")).drop(*drop)


def fingerprint(text: Column, window: int = 8) -> Column:
    """Rolling-hash document fingerprint (winnowing-style): min polynomial
    hash over all ``window``-token shingles — robust to small edits at the
    ends. Tokens are hashed once (xxhash64) and shingle hashes combined
    with modular polynomial arithmetic over pre-hashed longs (no per-gram
    string building; products stay below long overflow for ANSI mode).
    Falls back to hashing the whole text for short documents."""
    from kiji_mapreduce_spark.pipeline.dedup import tokens

    p = (1 << 31) - 1
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(p)))
    n = F.size(hashes)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(hashes, i + 1, window),
            F.lit(0).cast("long"),
            lambda acc, h: F.pmod(acc * 31 + h, F.lit(p)),
        ),
    )
    return F.when(n > 0, F.array_min(grams)).otherwise(F.xxhash64(text))


def fingerprints(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", window: int = 8,
                 hash_fn: str = "xx") -> DataFrame:
    """(id, fingerprint) for a whole table — the scale shape.

    Higher-order array lambdas are interpreted row-at-a-time in Spark, so
    the per-row ``fingerprint`` expression doesn't codegen. This variant
    posexplodes token hashes and builds each rolling polynomial from
    ``window`` lag() terms — window functions + hash aggregate, fully
    codegen'd, one shuffle on (id). Documents shorter than ``window``
    tokens hash over their full (padded) prefix, matching the expression
    form's fallback semantics closely enough for dedup use.

    ``hash_fn="md5"`` swaps the token hash for a 60-bit md5 prefix that
    any SQL engine reproduces (see ``dedup.token_hash64``) — the
    cross-engine-checkable mode; default xxhash64 is the fast path."""
    from kiji_mapreduce_spark.pipeline.dedup import token_hash64, tokens

    p = (1 << 31) - 1
    toks = tokens(F.col(text_col))
    hashes = F.transform(
        toks, lambda t: F.pmod(token_hash64(t, hash_fn), F.lit(p)))
    # NOTE on shape (measured at sf0.1): the max(pos) window below looks
    # like a second pass but shares the lag window's shuffle+sort on
    # (id), so it is nearly free. The "obvious" improvements are both
    # slower: computing size(hashes) beside posexplode(hashes) makes
    # Catalyst inline the token-hash array twice and recompute it per
    # exploded row (20x slower); materializing the array first via
    # localCheckpoint pays the array write (3x slower). Keep this form.
    ex = df.select(F.col(id_col), F.posexplode(hashes).alias("pos", "h"))
    w = Window.partitionBy(id_col).orderBy("pos")
    # gram(pos) = sum_j h[pos-j] * 31^j mod p over the trailing window;
    # each product < 2^62 (both factors < 2^31), sum of window terms < 2^35
    coeffs = [pow(31, j, p) for j in range(window)]
    term0 = F.pmod(F.col("h") * F.lit(coeffs[0]), F.lit(p))
    terms = [term0] + [
        F.pmod(F.coalesce(F.lag("h", j).over(w), F.lit(0)) * F.lit(c), F.lit(p))
        for j, c in enumerate(coeffs[1:], start=1)
    ]
    gram = F.pmod(sum(terms[1:], terms[0]), F.lit(p))
    n_w = Window.partitionBy(id_col)
    grams = ex.select(
        id_col, "pos", gram.alias("gram"),
        F.max("pos").over(n_w).alias("_max_pos"))
    # full windows only — unless the doc is shorter than one window
    valid = grams.filter(
        (F.col("pos") >= window - 1) | (F.col("_max_pos") == F.col("pos")))
    return valid.groupBy(id_col).agg(F.min("gram").alias("fingerprint"))


#: block-level HTML tags — the segmentation boundary for the
#: densitometric main-content classifier (inline tags like <a>/<b>
#: stay inside their block: the anchors ARE the link-density signal)
_BLOCK_TAG_RE = (r"(?i)</?(?:p|div|h[1-6]|table|thead|tbody|tr|td|th"
                 r"|ul|ol|li|dl|dt|dd|blockquote|pre|article|section"
                 r"|header|footer|nav|aside|form|fieldset|hr|br)\b[^>]*>")

#: the six published thresholds of the NumWordsRules classifier
#: (Kohlschuetter, Fankhauser & Nejdl, WSDM 2010 — "Boilerplate
#: Detection using Shallow Text Features", densitometric tree)
_BP_CURR_LD, _BP_PREV_LD = 0.333333, 0.555556
_BP_CURR_W, _BP_NEXT_W, _BP_PREV_W = 16, 15, 4
_BP_CURR_W_HI, _BP_NEXT_W_HI = 40, 17


def _html_plain(c: Column) -> Column:
    """Tag strip + entity decode + whitespace collapse — the same
    chain (and &amp;-last ordering) as ``http_html_text``, applied to
    an arbitrary fragment."""
    s = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")):
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def html_main_text(df: DataFrame, content_col: str = "content",
                   text_col: str = "text") -> DataFrame:
    """Main-content extraction: HTTP response bytes -> (content_type,
    ``text_col``) keeping only the blocks the published densitometric
    classifier calls CONTENT — navigation bars, related-article rails,
    footers and cookie banners (the boilerplate that survives plain
    tag-stripping and then pollutes dedup/quality/training) are
    dropped structurally, before any corpus-level pass.

    The algorithm is Boilerpipe's NumWordsRules tree (Kohlschuetter et
    al., WSDM 2010, shallow text features): the page splits into
    blocks at block-level tags; each block scores its word count and
    link density (anchor-text character mass / block character mass);
    a block is content iff its link density is <= 1/3 and the
    word-count tree over (previous, current, next) blocks says so —
    the exact published thresholds, which need no training and were
    shown near-optimal for news/article pages.

    Shape (r13 rewrite): blocks posexplode to ROWS, per-block features
    are plain row columns (whole-stage codegen — the regex work runs
    once per block), neighbors come from ONE lag/lead window pass over
    (row, block_no) — the exact shape the DuckDB oracle replays — and
    the kept blocks re-assemble per row with an order-preserving
    array_sort. The previous all-array-expression form re-evaluated
    the ENTIRE per-page feature array for every per-block element_at
    inside the filter lambda (interpreted, no CSE across the lambda
    boundary) — O(blocks^2) regex work per page, the same inlining
    hazard fingerprints() documents at 20x (r13 review finding).
    Costs one row-key shuffle for the window + the rebuild
    aggregation; output is identical (oracle-pinned at two SFs).
    Appends ``n_blocks_kept`` / ``n_blocks_dropped`` beside the
    rewritten text; ``http_html_text`` remains the default extractor
    (it keeps ALL text — the right default for recall)."""
    from pyspark.sql import Window

    _, body = _http_string_parts(F.col(content_col))
    ctype = http_content_type(F.col(content_col))
    stripped = F.regexp_replace(
        body, r"(?is)<(script|style)[^>]*>.*?</\1\s*>", " ")
    stripped = F.regexp_replace(stripped, r"(?s)<!--.*?-->", " ")
    blocks = F.split(stripped, _BLOCK_TAG_RE)

    # row key: opaque and partitioning-dependent, but used only to
    # delimit rows (the hashed_ngram_counts precedent) — the rebuilt
    # rows join back on it within the same plan
    keyed = df.withColumn("_mc_rid", F.monotonically_increasing_id())
    ex = keyed.select(
        "_mc_rid",
        F.posexplode(blocks).alias("_bno", "_blk"))
    txt = _html_plain(F.col("_blk"))
    atxt = _html_plain(F.array_join(
        F.regexp_extract_all(F.col("_blk"),
                             F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), 1),
        " "))
    feat = (ex.select(
        "_mc_rid", "_bno", txt.alias("_txt"), atxt.alias("_atxt"))
        .filter(F.col("_txt") != "")
        .select(
            "_mc_rid", "_bno", "_txt",
            F.size(F.filter(F.split(F.col("_txt"), r"\s+"),
                            lambda w: w != "")).alias("_w"),
            (F.length(F.col("_atxt"))
             / F.greatest(F.length(F.col("_txt")), F.lit(1)))
            .alias("_ld")))
    w = Window.partitionBy("_mc_rid").orderBy("_bno")
    # edge blocks see an empty neighbor (0 words, 0 density), the
    # paper's convention
    prev_w = F.coalesce(F.lag("_w").over(w), F.lit(0))
    prev_ld = F.coalesce(F.lag("_ld").over(w), F.lit(0.0))
    next_w = F.coalesce(F.lead("_w").over(w), F.lit(0))
    tree = F.when(
        prev_ld <= _BP_PREV_LD,
        (F.col("_w") > _BP_CURR_W) | (next_w > _BP_NEXT_W)
        | (prev_w > _BP_PREV_W)
    ).otherwise((F.col("_w") > _BP_CURR_W_HI) | (next_w > _BP_NEXT_W_HI))
    scored = feat.select(
        "_mc_rid", "_bno", "_txt",
        ((F.col("_ld") <= _BP_CURR_LD) & tree).alias("_keep"))
    rebuilt = (scored
               .groupBy("_mc_rid")
               .agg(
                   F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(F.when(
                               F.col("_keep"),
                               F.struct("_bno", "_txt")))),
                           lambda s: s._txt), "\n").alias("_mc_text"),
                   F.sum(F.col("_keep").cast("int")).alias("_mc_kept"),
                   F.count(F.lit(1)).alias("_mc_n")))
    null_in = F.col(content_col).isNull()
    out = (keyed
           .join(rebuilt, on="_mc_rid", how="left")
           .withColumn("content_type", ctype)
           .withColumn("n_blocks_kept",
                       F.when(null_in, F.lit(0)).otherwise(
                           F.coalesce(F.col("_mc_kept"), F.lit(0))
                           .cast("int")))
           .withColumn("n_blocks_dropped",
                       F.when(null_in, F.lit(0)).otherwise(
                           (F.coalesce(F.col("_mc_n"), F.lit(0))
                            - F.coalesce(F.col("_mc_kept"), F.lit(0)))
                           .cast("int")))
           .withColumn(text_col,
                       F.when(null_in, F.lit(None).cast("string"))
                       .otherwise(F.coalesce(F.col("_mc_text"),
                                             F.lit("")))))
    return out.drop("_mc_rid", "_mc_text", "_mc_kept", "_mc_n")
