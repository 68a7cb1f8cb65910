"""Crawl ingest chain: WARC response records -> documents-shaped rows.

The one transformation both ingest surfaces share — the ``kiji-mr
crawl-ingest`` CLI (batch) and ``streaming.jobs.stream_crawl_ingest``
(continuous segment arrival) — so the two cannot drift: HTML text
extraction (pure Catalyst), URL canonicalization, PSL registered
domains (broadcast rule-table joins), deterministic
``xxhash64(path[, offset], record_no)`` doc ids (re-ingesting the
same archive mints the same ids, keeping downstream dedup indexes
and splits stable; the ``offset`` joins the hash for CDX
range-fetched records, whose record_no restarts per range — see
``_record_key``), and the min-token gate.

Reference anchor: the bulk-import half of the SURVEY §3.3 lifecycle
(``.../bulkimport/KijiBulkImporter.java:50-118``) realized on crawl
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kiji_mapreduce_spark.functions import local_table
from kiji_mapreduce_spark.pipeline import media_codecs

DOC_COLUMNS = ("doc_id", "url", "domain", "content_type", "warc_date",
               "text")


def _record_key(records: DataFrame):
    """Stable per-record id for any record source. The whole-file
    parser numbers records within each archive, so (path, record_no)
    is unique there; CDX range-fetched records restart record_no at 0
    per RANGE and carry the range ``offset`` instead — without it in
    the hash every single-record range from one archive would mint the
    SAME doc_id, and one robots verdict / dedup survivor / split
    assignment would silently speak for the whole archive (r13 review
    finding)."""
    if "offset" in records.columns:
        return F.xxhash64("path", "offset", "record_no")
    return F.xxhash64("path", "record_no")


def crawl_documents(records: DataFrame, spark: SparkSession,
                    min_tokens: int = 1,
                    psl_rules=None,
                    heuristic_domains: bool = False,
                    rejects_observation=None,
                    respect_noindex: bool = True,
                    main_content: bool = False) -> DataFrame:
    """WARC record rows (``read_warc_records`` /
    ``warc_records_from_files`` output) -> documents-shaped rows
    (``DOC_COLUMNS``).

    ``psl_rules``: a ``psl.PSLRules`` (default: the vendored snapshot)
    driving the broadcast-join registered-domain extraction;
    ``heuristic_domains=True`` selects the expression-only fallback
    instead.

    ``rejects_observation``: an optional ``pyspark.sql.Observation``
    that records ``CRAWL_RECORDS_REJECTED_ENCODED`` — how many
    response records the still-encoded-body gate below dropped —
    inside the ingest job itself (the ``job.py`` counter discipline:
    observed during the write, no second archive pass). Batch only;
    streaming callers count per batch instead.
    """
    from kiji_mapreduce_spark.pipeline.text import (
        html_main_text, http_html_text, normalize_url,
        registered_domain, token_count, url_host)

    responses = records.filter(F.col("warc_type") == "response")
    # loud-skip for still-encoded bodies (r10 verdict "missing" #1):
    # the WARC parser normalizes chunked + gzip/deflate/zstd (zstd
    # via the pure-Python io.zstd_codec, r12) + brotli when a system
    # libbrotlidec exists (io.brotli_codec, r12 — brotli's static
    # dictionary is data, not derivable spec, so there is no
    # from-scratch fallback). Any response still carrying a
    # non-identity Content-Encoding (br without the library, a
    # multi-coding chain, or a body whose inflate failed) would have
    # its compressed bytes tag-stripped into a garbage document, so
    # it is REJECTED here, countable via `encoding_rejects` — the
    # bulk-import reject-counter discipline
    # (.../bulkimport/impl/BulkImportMapper.java:68-83,
    # BULKIMPORTER_RECORDS_REJECTED)
    still = _still_encoded(F.col("content"))
    # robots opt-out (respect_noindex, default ON): pages whose
    # publisher said noindex — X-Robots-Tag header or robots meta tag
    # — are excluded the way search indexes exclude them; counted
    # alongside the encoding rejects so the loss is visible
    from kiji_mapreduce_spark.pipeline.text import robots_noindex

    noindex = (robots_noindex(F.col("content"))
               if respect_noindex else F.lit(False))
    if rejects_observation is not None:
        # each dropped row lands in exactly ONE counter (noindex only
        # counts rows the encoding gate kept), so rejected + noindex +
        # surviving docs reconciles against responses seen (r12 review
        # finding)
        responses = responses.observe(
            rejects_observation,
            F.coalesce(F.sum(still.cast("long")), F.lit(0))
            .alias("CRAWL_RECORDS_REJECTED_ENCODED"),
            F.coalesce(F.sum((noindex & ~still).cast("long")),
                       F.lit(0))
            .alias("CRAWL_RECORDS_NOINDEX"),
            F.count(F.lit(1)).alias("CRAWL_RESPONSES_SEEN"))
    responses = responses.filter(still == F.lit(False)) \
        .filter(noindex == F.lit(False))
    # replacement-density gate for the type-less rows: a GIF/zip/exe
    # served as octet-stream (or with no Content-Type at all) carries
    # no media magic, but its bytes cast to U+FFFD-dense "text" —
    # without this gate it becomes a garbage document that pollutes
    # dedup, language stats and the training mix. Real text, any
    # language, sits far below the threshold; declared text/* types
    # are trusted (a wrong charset should degrade, not vanish).
    # density counts U+FFFD AND NUL: binaries dense in \x00 (UTF-16,
    # sparse formats) survive the cast as valid-but-garbage NUL runs
    fffd_dense = _dense_in_replacements(F.col("text"))
    # main_content swaps the extractor for the densitometric
    # boilerplate-dropping one (text.html_main_text) — opt-in; the
    # default keeps ALL text (recall-first, the block counts are the
    # extractor's own business)
    extract = html_main_text if main_content else http_html_text
    docs = (extract(responses)
            # the two halves of the ingest split the responses: rows
            # that are SURELY media (declared type or binary magic) go
            # to crawl_media — tag-stripping image bytes yields garbage
            # "text" documents; octet-stream/untyped rows WITHOUT
            # media signals, a common mislabel for plain text, stay
            # documents if they read as text
            .filter(~_surely_media(F.col("content_type"),
                                   F.col("content")))
            .filter(~(F.col("content_type")
                      .isin("", "application/octet-stream")
                      & fffd_dense))
            .select(
                _record_key(records).alias("doc_id"),
                normalize_url(F.col("target_uri")).alias("url"),
                url_host(F.col("target_uri")).alias("_host"),
                "content_type", "warc_date", "text")
            .filter(token_count(F.col("text")) >= min_tokens))
    docs = _with_domain(docs, spark, psl_rules, heuristic_domains)
    return docs.select(*DOC_COLUMNS)


def _dense_in_replacements(col) -> "F.Column":
    """True when over 5% of ``col``'s characters are U+FFFD or NUL —
    the signature of binary/compressed bytes that survived the lossy
    string cast. Real text, any language, sits far below the
    threshold. ONE definition shared by the still-encoded sniff and
    the octet-stream garbage gate so the two cannot drift (review
    finding r12)."""
    return (F.length(col) > 0) & (
        (F.length(F.regexp_replace(col, "[^�\x00]", ""))
         / F.length(col)) > F.lit(0.05))


def _still_encoded(content_col) -> "F.Column":
    """True when an HTTP response body still carries a non-identity
    Content-Encoding after the parser's normalization pass — the
    bytes are compressed (brotli / a failed or oversized inflate) and
    must not be treated as text. Pure Catalyst."""
    from kiji_mapreduce_spark.pipeline.text import (_http_string_parts,
                                                    http_content_encoding)

    enc = http_content_encoding(content_col)
    # beyond 'identity': misconfigured servers are common in real
    # crawls and send Content-Encoding values that are NOT content
    # codings at all ('utf-8', 'none', 'binary' — charset/transfer
    # confusions) over plain identity bodies; rejecting those would
    # silently drop valid documents (r11 review finding)
    nonidentity = ~enc.isin("", "identity", "none", "utf-8", "binary")
    # a body labeled with a coding the parser KNOWS how to inflate
    # (gzip/deflate/zstd — zstd via the pure-Python RFC 8878 decoder
    # in io.zstd_codec; br too when a system libbrotlidec is present,
    # io.brotli_codec) but that reaches here undecoded is either a
    # truncated/bombed/oversized archive or — the common misconfig —
    # a plain body mislabeled by a server that never compressed it.
    # The two are cheaply separable: compressed bytes cast to string
    # are U+FFFD/NUL-dense, plain text is not — so sniff before
    # rejecting and keep the mislabeled-identity rows (ADVICE r11).
    # Multi-coding chains (and br without the library) stay rejected
    # unsniffed: the parser never attempts them, so an undecoded body
    # proves nothing either way (and their bodies are dense anyway).
    # The br probe runs DRIVER-side at plan build; a cluster whose
    # executors lack the library leaves br bodies encoded, and those
    # are dense, so they still reject — the mismatch only ever shifts
    # mislabeled-identity 'br' rows between keep and reject.
    from kiji_mapreduce_spark.io import brotli_codec

    _, body = _http_string_parts(content_col)
    dense = _dense_in_replacements(body)
    # compression magics survive the lossy string cast
    # deterministically: valid bytes pass through and each invalid
    # byte casts to exactly one U+FFFD (per-byte replacement,
    # verified) — gzip \x1f\x8b -> "\x1f<FFFD>", zstd \x28\xb5\x2f ->
    # "(<FFFD>/" — so a body that truly starts a compressed stream is
    # detectable even when short or corrupt enough to dodge the
    # density test (brotli has no magic by design: density alone)
    comp_magic = body.startswith(F.lit("\x1f�")) | \
        body.startswith(F.lit("(�/"))
    codings = ["gzip", "x-gzip", "deflate", "zstd"]
    if brotli_codec.available():
        codings.append("br")
    inflatable = enc.isin(*codings)
    return nonidentity & (~inflatable | dense | comp_magic)


def blocklist_table(spark: SparkSession, entries) -> DataFrame:
    """Comment/blank-stripped, lowercased, deduped blocklist entries as
    a single-column DataFrame (``entry``) ready for
    ``filter_blocked`` — build it ONCE for a streaming ingest so each
    micro-batch reuses one broadcast instead of re-serializing the
    full list per batch (r12 review finding)."""
    clean = sorted({e.strip().lower() for e in (entries or ())
                    if e and e.strip()
                    and not e.lstrip().startswith("#")})
    return local_table(spark, [(e,) for e in clean], "entry string")


def _clean_patterns(url_patterns) -> list[str]:
    """Comment/blank-strip URL patterns (same list hygiene as the
    domain side — r12 review finding) and validate each fragment
    compiles BEFORE it reaches an executor, where a bad regex would
    only explode mid-job. Python's `re` accepts the conservative
    fragment subset UT1-style lists use; Java-only syntax would pass
    here and still fail lazily, but the common errors (unbalanced
    groups, bad repeats) are caught up front."""
    import re as _re

    patterns = [p.strip() for p in (url_patterns or ())
                if p and p.strip() and not p.lstrip().startswith("#")]
    for p in patterns:
        try:
            _re.compile(p)
        except _re.error as e:
            raise ValueError(f"invalid URL blocklist pattern {p!r}: "
                             f"{e}") from e
    return patterns


def filter_blocked(docs: DataFrame, spark: SparkSession,
                   blocked_domains=None, url_patterns=None,
                   domain_col: str = "domain",
                   url_col: str = "url",
                   id_col: str = "doc_id") -> DataFrame:
    """Drop documents whose host/domain is on a blocklist or whose URL
    matches a blocked pattern — the UT1/category-blocklist stage every
    production crawl-curation pipeline runs (adult, spam, malware
    categories ship as domain lists of 10^4-10^6 entries). With a domain
    list it runs a Spark job when called, not at the first action: it
    pins ``docs``, which the domain anti-join reads on both sides.

    Matching follows UT1 semantics: an entry blocks its exact host AND
    every subdomain — so ``ads.example.com`` blocks
    ``tracker.ads.example.com`` but not ``example.com``, and a
    registered-domain entry blocks the whole site. Implemented by
    exploding each doc's bounded host-suffix chain (host labels ≥ 2,
    typically ≤ 6 suffixes) plus its registered domain, equi-joining
    the BROADCAST list, and anti-joining the hit ids back — the PSL
    rule-join shape, never a per-entry scan. A plain equi-join on the
    registered domain would silently never match host-level entries
    (r12 review finding). For blocklists beyond broadcast range,
    pre-filter with ``sketch.bloom_filter`` — bloom false positives
    DROP extra docs, the safe direction for a blocklist.

    URL patterns fold into ONE case-insensitive ``rlike`` alternation
    (one regex pass however many patterns arrive), comment-stripped
    and compile-validated up front."""
    from kiji_mapreduce_spark.pipeline.text import url_host

    # validated before the pin, so a bad pattern fails before any job
    patterns = _clean_patterns(url_patterns)
    out = docs
    bl = (blocked_domains if isinstance(blocked_domains, DataFrame)
          else blocklist_table(spark, blocked_domains)
          if blocked_domains else None)
    if bl is not None:
        # the hit semi-join and the anti-join both read ``docs``: pin
        # it so the upstream (a WARC parse, Python media extraction)
        # runs once, and so an observed CollectMetrics upstream is
        # collected once — inside both branches Observation.get
        # crashed when AQE emptied a side (all-media archive +
        # blocklists). The URL-pattern-only path is one filter, no pin.
        out = out.localCheckpoint(eager=True)
        host = F.lower(F.coalesce(url_host(F.col(url_col)),
                                  F.col(domain_col)))
        parts = F.split(host, r"\.")
        n = F.size(parts)
        # suffix chain only for >= 2 labels (sequence() would DESCEND
        # for single-label hosts and slice() rejects start 0)
        chain = F.when(n >= 2, F.transform(
            F.sequence(F.lit(0), n - F.lit(2)),
            lambda i: F.array_join(F.slice(parts, i + 1, n - i), "."))
        ).otherwise(F.array(host))
        suffixes = F.array_distinct(F.array_compact(F.array_union(
            F.coalesce(chain, F.array()),
            F.array(F.lower(F.col(domain_col))))))
        hits = (out.select(id_col,
                           F.explode(suffixes).alias("_suffix"))
                .join(F.broadcast(bl.withColumnRenamed(
                    bl.columns[0], "_suffix")), on="_suffix",
                    how="leftsemi")
                .select(id_col).distinct())
        out = out.join(hits, on=id_col, how="left_anti")
    if patterns:
        alternation = "(?i)" + "|".join(f"(?:{p})" for p in patterns)
        out = out.filter(~F.coalesce(
            F.col(url_col).rlike(alternation), F.lit(False)))
    return out


def encoding_rejects(records: DataFrame) -> DataFrame:
    """Per-encoding counts of the response records ``crawl_documents``
    rejects for a still-encoded body: (content_encoding, n_rejected)
    rows — the crawl analogue of the reference's
    ``BULKIMPORTER_RECORDS_REJECTED`` counter family
    (``.../bulkimport/impl/BulkImportMapper.java:68-83``), broken out
    by encoding so an ingest report shows WHAT was skipped (in
    practice: overwhelmingly ``br``)."""
    from kiji_mapreduce_spark.pipeline.text import http_content_encoding

    return (records.filter(F.col("warc_type") == "response")
            .filter(_still_encoded(F.col("content")))
            .groupBy(http_content_encoding(F.col("content"))
                     .alias("content_encoding"))
            .agg(F.count(F.lit(1)).alias("n_rejected")))


def _with_domain(df: DataFrame, spark: SparkSession, psl_rules,
                 heuristic_domains: bool) -> DataFrame:
    """Attach ``domain`` from the ``_host`` column — PSL broadcast-join
    extraction by default, the expression-only heuristic on request.
    Shared by the document and media halves of the ingest so per-domain
    caps and domain mixtures bucket both the same way."""
    from kiji_mapreduce_spark.pipeline.text import registered_domain

    if heuristic_domains:
        return df.withColumn("domain", registered_domain(F.col("_host")))
    from kiji_mapreduce_spark.pipeline import psl as psl_mod

    rules = psl_rules if psl_rules is not None \
        else psl_mod.snapshot_rules()
    return psl_mod.with_registered_domain(
        df, "_host", "domain", rules=rules, spark=spark)


MEDIA_COLUMNS = ("media_id", "url", "domain", "content_type", "kind",
                 "warc_date", "content")

#: body-prefix magic -> perceptual-code kind, for responses whose
#: Content-Type header is missing or wrong (real crawls mislabel media
#: constantly); checked in order, WAVE confirmed past the RIFF header
_MAGIC_KINDS = ((b"\x89PNG\r\n\x1a\n", "image"),
                (b"\xff\xd8\xff", "image"),  # JPEG SOI
                (b"MPNG", "video"))  # the engine's Motion-PNG container

#: Catalyst-side contains() probes for the same magics. The BINARY
#: probes (non-printable bytes: full 8-byte PNG magic, JPEG SOI,
#: Motion-PNG magic + version byte) cannot occur inside prose, so the
#: document half may exclude on them; "WAVEfmt " is printable ASCII
#: that DOES occur in real text (audio-format docs, hexdumps), so it
#: only widens the media half's candidate net — never the document
#: half's exclusion. contains() is position-blind; the Python side
#: re-checks exact body PREFIXES (_sniff_kind), so a probe
#: false-positive costs one row through Arrow, never a wrong kind.
_BINARY_MAGIC_PROBES = (b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff",
                        b"MPNG\x01", b"\x1aE\xdf\xa3",  # + EBML/WebM
                        # ICO's 4 low bytes are generic in arbitrary
                        # binaries (extra Arrow rows, prefix-sniffed
                        # away) but can never occur in real text, so
                        # the document-side exclusion stays safe
                        b"\x00\x00\x01\x00")
#: printable sequences ("GIF89a" and "WAVEfmt " appear in prose about
#: the formats; "WEBPVP8" is the WebP RIFF form tag fused to its first
#: chunk tag, and "fLaC" the FLAC stream magic — printable, so same
#: treatment) — media-net only, never the document-side exclusion
#: ("ftyp" names the MP4 box in prose, "OggS" the page magic; ID3v2
#: is probed with its version byte so plain "ID3" prose misses)
_TEXTUAL_MAGIC_PROBES = (b"WAVEfmt ", b"WEBPVP8", b"fLaC", b"ftyp",
                         b"OggS", b"ID3\x03\x00", b"ID3\x04\x00") \
    + media_codecs._GIF_MAGICS


def _sniff_kind(body: bytes) -> str | None:
    for magic, kind in _MAGIC_KINDS:
        if body.startswith(magic):
            return kind
    if body[:6] in media_codecs._GIF_MAGICS:
        # animated GIF is a real video container here (decode_video
        # dispatches on magic); the frame count is a cheap block walk
        return ("video" if media_codecs.gif_frame_count(body) >= 2
                else "image")
    if body[:4] == b"RIFF" and body[8:12] == b"WAVE":
        return "audio"
    if body[:4] == b"fLaC":
        return "audio"  # native FLAC decode (media_codecs.decode_flac)
    if media_codecs.is_webp(body):
        # animated WebP is a video container (decode_video dispatches
        # on magic), same classification as animated GIF
        return ("video" if media_codecs.webp_frame_count(body) >= 2
                else "image")
    if body[:4] == b"\x00\x00\x01\x00":
        # ICO favicon: the probe's directory sanity makes the call
        # (the 4-byte magic alone is plausible in arbitrary binary)
        probe = media_codecs.probe_media(body)
        if probe is not None and probe["container"] == "ico":
            return "image"
    if body[:2] == b"BM":
        # BMP has no strong magic ("BM" + LE size), so the probe's
        # header-size sanity check makes the call; there is no
        # contains() candidate probe for it (2 printable bytes would
        # flood the net) — untyped BMPs surface only via declared
        # image/* Content-Type, documented gap
        probe = media_codecs.probe_media(body)
        if probe is not None and probe["container"] == "bmp":
            return "image"
    if (body[4:8] == b"ftyp" or body[:4] == b"\x1aE\xdf\xa3"
            or body[:4] == b"OggS" or body[:3] == b"ID3"):
        # MP4 / Matroska-WebM / Ogg / MP3: codec payloads are ffmpeg
        # territory, but the container probe classifies them (and
        # media_probe extracts duration/codec/dims) so an untyped
        # response still lands in the media table with the right kind
        probe = media_codecs.probe_media(body)
        if probe is not None:
            return probe["kind"]
    return None


def _contains_any(content, magics) -> "F.Column":
    probe = F.lit(False)
    for magic in magics:
        probe = probe | F.contains(content, F.lit(magic))
    return probe


def _media_response(ctype, content):
    """Boolean Column: the MEDIA half's candidate net — declared
    image/audio/video Content-Type, or an untyped / octet-stream
    response whose bytes carry any media magic (binary or textual
    probes; the Python prefix sniff makes the final call)."""
    return ctype.rlike("^(image|audio|video)/") | (
        ctype.isin("", "application/octet-stream")
        & _contains_any(content,
                        _BINARY_MAGIC_PROBES + _TEXTUAL_MAGIC_PROBES))


def _surely_media(ctype, content):
    """Boolean Column: the DOCUMENT half's exclusion — a strict subset
    of ``_media_response`` restricted to signals that cannot occur in
    prose (declared media types + binary magic probes). The asymmetry
    is deliberate: a text page mentioning "WAVEfmt " must stay a
    document even though the media net also sniffs (and then drops)
    it; a real untyped WAV passes this filter as all-mojibake text and
    dies at the replacement-density gate instead."""
    return ctype.rlike("^(image|audio|video)/") | (
        ctype.isin("", "application/octet-stream")
        & _contains_any(content, _BINARY_MAGIC_PROBES))


def crawl_media(records: DataFrame, spark: SparkSession,
                psl_rules=None,
                heuristic_domains: bool = False,
                respect_noindex: bool = True) -> DataFrame:
    """WARC record rows -> media-shaped rows (``MEDIA_COLUMNS``): the
    image/audio/video responses of a crawl, bodies extracted to raw
    bytes, typed by Content-Type with magic-byte sniffing as backstop —
    the other half of the ingest, feeding the perceptual dedup stack
    (``multimodal.media_dedup_incremental`` / ``kiji-mr media-dedup``
    read these rows directly: default ``media_id``/``content`` columns).

    Scale shape: a pure-Catalyst pre-filter on the header block's
    Content-Type (plus magic probes for untyped responses) runs BEFORE
    the Arrow boundary, so HTML and other non-media payloads — the
    overwhelming bulk of a crawl — never cross into Python; the byte-
    exact header/body split happens in one ``mapInPandas`` over the
    surviving media rows, whose bytes must reach Python anyway for
    perceptual decoding. ``media_id`` is the same deterministic
    ``xxhash64(path, record_no)`` the document ingest mints, so a doc
    and a media row from one record share an id and re-ingests keep
    dedup indexes stable.
    """
    import pandas as pd

    from kiji_mapreduce_spark.pipeline.text import http_content_type

    cand = (records
            .filter(F.col("warc_type") == "response")
            .withColumn("content_type",
                        http_content_type(F.col("content")))
            .filter(_media_response(F.col("content_type"),
                                    F.col("content"))))
    if respect_noindex:
        # the publisher opt-out applies to the media half too —
        # noimageindex is the image-specific directive (r12 review
        # finding: honoring it for documents but not media was an
        # inconsistent policy for the same opt-out)
        from kiji_mapreduce_spark.pipeline.text import robots_noindex

        cand = cand.filter(~robots_noindex(
            F.col("content"), extra_directives=("noimageindex",)))

    schema = ("media_id long, url string, _host string, "
              "content_type string, kind string, warc_date string, "
              "content binary")

    def _extract(batches):
        in_cols = ("media_id", "url", "_host", "content_type",
                   "warc_date", "content")
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "url", "_host",
                                    "content_type", "kind",
                                    "warc_date", "content")}
            for mid, url, host, ct, date, content in zip(
                    *(pdf[c] for c in in_cols)):
                body = bytes(content)
                if body.startswith(b"HTTP/"):
                    cut = body.find(b"\r\n\r\n")
                    if cut < 0:
                        continue  # headers never terminated: skip
                    body = body[cut + 4:]
                ct = ct or ""
                declared = next((k for p, k in (("image/", "image"),
                                                ("audio/", "audio"),
                                                ("video/", "video"))
                                 if ct.startswith(p)), None)
                if declared == "image" \
                        and (body[:6] in media_codecs._GIF_MAGICS
                             or media_codecs.is_webp(body)):
                    # an ANIMATED gif or webp (served image/gif /
                    # image/webp, as the web does) is a video for the
                    # perceptual dedup stack; the sniff makes that
                    # call — and runs at most once per row either way
                    declared = None
                kind = declared or _sniff_kind(body)
                if kind is None:
                    continue  # magic probe false-positive: not media
                rows["media_id"].append(mid)
                rows["url"].append(url)
                rows["_host"].append(host)
                rows["content_type"].append(ct)
                rows["kind"].append(kind)
                rows["warc_date"].append(date)
                rows["content"].append(body)
            yield pd.DataFrame(rows)

    from kiji_mapreduce_spark.pipeline.text import normalize_url, url_host

    media = (cand.select(
        _record_key(records).alias("media_id"),
        normalize_url(F.col("target_uri")).alias("url"),
        url_host(F.col("target_uri")).alias("_host"),
        "content_type", "warc_date", "content")
        .mapInPandas(_extract, schema))
    media = _with_domain(media, spark, psl_rules, heuristic_domains)
    return media.select(*MEDIA_COLUMNS)


def link_graph(records: DataFrame, spark: SparkSession,
               psl_rules=None,
               heuristic_domains: bool = False,
               include_intra_domain: bool = False) -> DataFrame:
    """Registered-domain link graph from raw WARC response records:
    (``src_domain``, ``dst_domain``, ``n_links``) edges from every
    ``<a href=...>`` in every HTML body. Feeds ``graph.pagerank``
    directly — domain-authority ranking over a crawl is the standard
    corpus-quality prior (what the public web-corpus pipelines run
    over Common Crawl's link graph).

    Link resolution is deliberately host-level (this is a DOMAIN
    graph): absolute ``http(s)://`` and protocol-relative ``//``
    targets contribute their own host; every relative form
    (root-relative or path-relative) stays on the source host by
    construction, so it collapses into an intra-domain self-edge —
    dropped unless ``include_intra_domain``. Non-web schemes
    (``mailto:``, ``javascript:``, ``data:``, …) are dropped.
    Unquoted href values (rare, legacy) are not matched — documented
    trade-off for a single pure-Catalyst extraction regex.

    Scale shape: tag extraction + host mapping are per-row codegen'd
    expressions over the body string; only (src_host, dst_host)
    string pairs explode; domains attach via the broadcast PSL rule
    join (``_with_domain``, both sides); ONE partial-agg shuffle on
    the (src, dst) pair builds the edge counts — a viral dst domain
    collapses map-side, no skew.
    """
    from kiji_mapreduce_spark.pipeline.text import _http_string_parts

    responses = records.filter(F.col("warc_type") == "response")
    _, body = _http_string_parts(F.col("content"))
    hrefs = F.regexp_extract_all(
        body, F.lit(r'''(?i)<a[^>]*?href\s*=\s*["']([^"']+)["']'''), 1)
    return _domain_edges(responses, hrefs, spark, psl_rules,
                         heuristic_domains, include_intra_domain)


def _domain_edges(rows: DataFrame, hrefs, spark, psl_rules,
                  heuristic_domains: bool,
                  include_intra_domain: bool) -> DataFrame:
    """Shared back half of the link-graph builders: given records
    with a ``target_uri`` and an href ARRAY expression, resolve each
    target to a host (absolute/protocol-relative cross hosts,
    relative stays home, non-web schemes drop), attach registered
    domains to both sides via the broadcast PSL join, and aggregate
    (src_domain, dst_domain, n_links) with ONE partial-agg shuffle."""
    from kiji_mapreduce_spark.pipeline.text import url_host

    # keep http(s), protocol-relative, and schemeless (relative)
    # targets; every other scheme is a non-link
    web = F.filter(
        hrefs,
        lambda h: h.rlike(r"^(?i)(https?:|//)")
        | ~h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"))
    links = (rows
             .select(url_host(F.col("target_uri")).alias("_src_host"),
                     F.explode(web).alias("_href"))
             .select(
                 "_src_host",
                 F.when(F.col("_href").rlike(r"^(?i)https?://"),
                        url_host(F.col("_href")))
                 .when(F.col("_href").startswith("//"),
                       url_host(F.concat(F.lit("http:"),
                                         F.col("_href"))))
                 .otherwise(F.col("_src_host")).alias("_dst_host")))
    links = links.filter(F.col("_src_host").isNotNull()
                         & F.col("_dst_host").isNotNull()
                         & (F.col("_dst_host") != ""))
    links = _with_domain(
        links.withColumnRenamed("_src_host", "_host"), spark,
        psl_rules, heuristic_domains).withColumnRenamed(
        "domain", "src_domain").withColumnRenamed("_host", "_src_host")
    links = _with_domain(
        links.withColumnRenamed("_dst_host", "_host"), spark,
        psl_rules, heuristic_domains).withColumnRenamed(
        "domain", "dst_domain")
    edges = (links
             .groupBy("src_domain", "dst_domain")
             .agg(F.count(F.lit(1)).alias("n_links")))
    if not include_intra_domain:
        edges = edges.filter(F.col("src_domain") != F.col("dst_domain"))
    return edges


#: where a WAT record keeps its page's outlinks (the Common Crawl
#: WAT envelope, published layout): anchor links live under
#: HTML-Metadata as [{"path": "A@/href", "url": ...}, ...]
_WAT_LINKS_PATH = ("$['Envelope']['Payload-Metadata']"
                   "['HTTP-Response-Metadata']['HTML-Metadata']"
                   "['Links']")


def wat_link_graph(records: DataFrame, spark: SparkSession,
                   psl_rules=None,
                   heuristic_domains: bool = False,
                   include_intra_domain: bool = False,
                   anchor_only: bool = True) -> DataFrame:
    """The ``link_graph`` twin over WAT metadata archives (Common
    Crawl's ``.wat.gz``): each ``metadata`` record's JSON envelope
    already carries the page's extracted outlinks, so the domain
    graph comes out WITHOUT parsing any HTML — at Common Crawl scale
    the WAT bucket is the cheap path to the same edges. Same output
    schema and resolution semantics as ``link_graph``.

    JVM-only extraction: one ``get_json_object`` pulls the Links
    array from the envelope, ``from_json`` types it, and by default
    only anchor links (``path`` starting ``A@``) count — script/img/
    link-rel targets are not hyperlinks (``anchor_only=False`` keeps
    everything with a url). WAT bodies may include an HTTP-ish header
    block before the JSON; the payload is located at the first ``{``."""
    meta = records.filter(F.col("warc_type") == "metadata")
    s = F.make_valid_utf8(F.col("content").cast("string"))
    payload = F.substr(s, F.instr(s, "{"))
    arr = F.from_json(
        F.get_json_object(payload, _WAT_LINKS_PATH),
        "array<struct<path:string,url:string>>")
    arr = F.coalesce(arr, F.array().cast(
        "array<struct<path:string,url:string>>"))
    if anchor_only:
        arr = F.filter(arr, lambda l: l.path.startswith("A@"))
    hrefs = F.filter(F.transform(arr, lambda l: l.url),
                     lambda u: u.isNotNull() & (u != ""))
    return _domain_edges(meta, hrefs, spark, psl_rules,
                         heuristic_domains, include_intra_domain)


#: charsets whose bytes already read correctly through the engine's
#: lossy UTF-8 cast — no transcode needed (ASCII is a UTF-8 subset)
_IDENTITY_CHARSETS = frozenset({"", "utf-8", "utf8", "us-ascii",
                                "ascii"})

#: header charset parameter, matched only on a REAL Content-Type
#: header line (the anchored-header discipline: a body echoing
#: 'charset=' in prose must not count)
_HEADER_CHARSET_RE = r"(?mi)^content-type:[^\r\n]*?charset=\"?([A-Za-z0-9_.:\-]+)"
#: HTML meta charset, both forms: <meta charset="..."> and the legacy
#: <meta http-equiv=Content-Type content="...; charset=...">
_META_CHARSET_RE = r"(?i)<meta[^>]{0,200}?charset\s*=\s*[\"']?([A-Za-z0-9_.:\-]+)"


def declared_charset(content_col) -> "F.Column":
    """The charset a response DECLARES, lowercased ('' when silent):
    the Content-Type header parameter wins, else the first HTML meta
    charset. Pure Catalyst — two regexp extractions over the string
    cast — so charset audits never leave the JVM."""
    from kiji_mapreduce_spark.pipeline.text import _http_string_parts

    headers, body = _http_string_parts(content_col)
    hdr = F.regexp_extract(headers, _HEADER_CHARSET_RE, 1)
    meta = F.regexp_extract(body, _META_CHARSET_RE, 1)
    return F.lower(F.when(hdr != "", hdr).otherwise(meta))


def charset_report(records: DataFrame) -> DataFrame:
    """Declared-charset distribution over response records:
    (charset, n_records), one partial-agg shuffle — the
    ``encoding_rejects`` twin for the transcoding gap. Run it to see
    how much of a crawl ``transcode_responses`` would touch."""
    return (records
            .filter(F.col("warc_type") == "response")
            .groupBy(declared_charset(F.col("content"))
                     .alias("charset"))
            .agg(F.count(F.lit(1)).alias("n_records")))


def transcode_responses(records: DataFrame,
                        max_meta_sniff: int = 4096) -> DataFrame:
    """Rewrite response bodies declared in a legacy charset
    (iso-8859-*, windows-125x, gbk, shift_jis, euc-kr, koi8, …) into
    UTF-8, so the pure-Catalyst document half — whose string cast
    degrades non-UTF-8 bytes to U+FFFD — extracts their real text.
    Same schema and row count; only ``content`` changes, and only on
    rows that need it.

    OPT-IN by design (``kiji-mr crawl-ingest --transcode``): charset
    conversion is genuinely Python-side work (the codec zoo is not
    Catalyst-expressible), so it is one Arrow-batched mapInPandas
    pass — every candidate byte crosses the boundary once, the
    "UDFs are the slow path" budget. The default path stays JVM-only
    and treats legacy pages as degraded text. ``charset_report``
    measures what a corpus would gain before anyone pays this.

    Per row (in Python, no second scan, no union diamond): find the
    declared charset — Content-Type header parameter, else a meta
    tag inside the first ``max_meta_sniff`` body bytes (mirroring
    ``declared_charset``); identity/unknown/undecodable declarations
    leave the row byte-identical (a wrong declaration must degrade,
    never crash — errors='replace', the WARC ingest contract).
    Headers are not rewritten: downstream reads Content-Type's TYPE,
    and the original charset parameter is honest provenance.
    """
    import codecs
    import re as _re

    header_re = _re.compile(
        rb"(?mi)^content-type:[^\r\n]*?charset=\"?([A-Za-z0-9_.:\-]+)")
    meta_re = _re.compile(
        rb"(?i)<meta[^>]{0,200}?charset\s*=\s*[\"']?([A-Za-z0-9_.:\-]+)")
    # the byte-side mirror of _still_encoded's header probe: a body
    # that still carries a real Content-Encoding is COMPRESSED, and a
    # declared single-byte charset would happily "decode" the
    # compressed bytes into valid-UTF-8 mojibake — erasing the U+FFFD
    # density and magic-prefix signals the downstream reject gate
    # relies on, so garbage would slip past it and the reject counter
    # would undercount (ADVICE r12). Such rows stay byte-identical
    # here; the identity-ish value set matches _still_encoded's
    # (misconfigured servers send charset/transfer confusions over
    # plain identity bodies).
    enc_re = _re.compile(rb"(?mi)^content-encoding:\s*([A-Za-z0-9_.\-]+)")
    _identityish = ("identity", "none", "utf-8", "binary")

    def _transcode(batches):
        for pdf in batches:
            contents = pdf["content"].tolist()
            types = pdf["warc_type"].tolist()
            out = []
            for wtype, blob in zip(types, contents):
                if wtype != "response" or blob is None:
                    out.append(blob)
                    continue
                raw = bytes(blob)
                sep = raw.find(b"\r\n\r\n")
                headers, body = ((raw[:sep], raw[sep + 4:])
                                 if sep >= 0 else (b"", raw))
                em = enc_re.search(headers)
                if em and em.group(1).decode("ascii", "replace").lower() \
                        not in _identityish:
                    out.append(blob)  # still compressed: leave, reject
                    continue
                m = (header_re.search(headers)
                     or meta_re.search(body[:max_meta_sniff]))
                cs = m.group(1).decode("ascii", "replace").lower() \
                    if m else ""
                if cs in _IDENTITY_CHARSETS:
                    out.append(blob)
                    continue
                try:
                    codec = codecs.lookup(cs)
                except LookupError:
                    out.append(blob)  # unknown name: leave, degrade
                    continue
                if codec.name in ("utf-8", "ascii"):
                    out.append(blob)
                    continue
                try:
                    text = body.decode(codec.name, errors="replace")
                except Exception:
                    out.append(blob)  # hostile bytes: leave, degrade
                    continue
                new = (headers + b"\r\n\r\n" if sep >= 0 else b"") \
                    + text.encode("utf-8")
                out.append(new)
            pdf = pdf.copy()
            pdf["content"] = out
            yield pdf

    return records.mapInPandas(_transcode, records.schema)


def wet_documents(records: DataFrame, spark: SparkSession,
                  min_tokens: int = 1,
                  psl_rules=None,
                  heuristic_domains: bool = False) -> DataFrame:
    """WET extracted-text records -> documents-shaped rows
    (``DOC_COLUMNS``), the pre-extracted sibling of
    ``crawl_documents``: Common Crawl ships every crawl in three
    forms, and the ``.wet.gz`` one (WARC ``conversion`` records whose
    body IS the page's extracted UTF-8 text, ISO 28500 §6.8) skips
    HTTP parsing, encoding gates, and tag stripping entirely — the
    cheapest on-ramp when upstream extraction is acceptable.

    Pure Catalyst: the body string-casts straight to ``text`` (WET
    bodies are UTF-8 by spec; hostile bytes degrade to U+FFFD under
    the same lossy cast as everywhere else), URL canonicalization and
    the PSL domain join are shared with the response path, so a corpus
    ingested from WET buckets identically to one from raw WARC.
    ``content_type`` is ``text/plain`` (what a conversion record
    holds), distinguishing WET-sourced rows in a mixed corpus."""
    from kiji_mapreduce_spark.pipeline.text import (
        normalize_url, token_count, url_host)

    conv = records.filter(F.col("warc_type") == "conversion")
    docs = (conv.select(
        _record_key(records).alias("doc_id"),
        normalize_url(F.col("target_uri")).alias("url"),
        url_host(F.col("target_uri")).alias("_host"),
        F.lit("text/plain").alias("content_type"),
        "warc_date",
        F.make_valid_utf8(F.col("content").cast("string"))
        .alias("text"))
        .filter(token_count(F.col("text")) >= min_tokens))
    docs = _with_domain(docs, spark, psl_rules, heuristic_domains)
    return docs.select(*DOC_COLUMNS)


def robots_rules(records: DataFrame, agent: str = "*") -> DataFrame:
    """Parse every ``robots.txt`` response in a crawl into a
    (``host``, ``allow``, ``path``) rule table for ``agent`` —
    RFC 9309 group semantics: consecutive ``User-agent`` lines form a
    group header; a group applies when a header names ``agent``
    (exact, case-insensitive) or ``*``, and per §2.2.1 the groups
    naming the agent SPECIFICALLY outrank the ``*`` groups (specific
    rules replace, never merge with, the wildcard ones); empty
    ``Disallow:`` (allow-all) contributes nothing; comments and
    unknown fields are ignored (a non-UA field line closes the
    header, per the RFC's grammar). Keyed by HOST, not registered
    domain — a robots file governs exactly its own authority, and per
    the RFC that authority is ROOT-only: a captured non-root file like
    ``http://host/blog/robots.txt`` has none, so only URIs whose path
    is exactly ``/robots.txt`` contribute rules (ADVICE r12).

    The stanza state machine runs as ONE per-row ``aggregate`` fold
    over the line array (accumulator: was-the-previous-line-a-UA-line,
    is-the-current-group-matched, collected rules) — pure Catalyst,
    zero shuffle until the final distinct. Path patterns are kept as
    written; ``filter_robots_disallowed`` applies both literal-prefix
    rules (the overwhelming real-world form, matched as prefixes) and
    ``*``/``$`` wildcard rules (translated to anchored regexes per
    RFC 9309 §2.2.3).
    """
    from kiji_mapreduce_spark.pipeline.text import (_http_string_parts,
                                                    url_host)

    bots = (records
            .filter((F.col("warc_type") == "response")
                    & F.col("target_uri").rlike(
                        r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]+/robots\.txt"
                        r"(?:[?#].*)?$")))
    _, body = _http_string_parts(F.col("content"))
    lines = F.split(body, r"\r?\n")
    parsed = F.transform(lines, lambda ln: F.struct(
        F.lower(F.trim(F.regexp_extract(
            ln, r"^\s*([A-Za-z-]+)\s*:", 1))).alias("field"),
        # value ends at a comment or EOL, whitespace-trimmed
        F.trim(F.regexp_extract(
            ln, r"^\s*[A-Za-z-]+\s*:\s*([^#]*)", 1)).alias("value")))
    me = F.lit(agent.lower())
    empty = F.array().cast("array<struct<allow:boolean,path:string>>")
    init = F.struct(
        F.lit(False).alias("was_ua"),
        F.lit(False).alias("act_spec"), F.lit(False).alias("act_star"),
        empty.alias("spec"), empty.alias("star"))

    def _step(acc, ln):
        is_ua = ln.field == "user-agent"
        # RFC 9309 §2.2.1 precedence: the group naming the agent
        # specifically OUTRANKS the * group (it does not merge with
        # it), so the fold tracks both rule sets and the finisher
        # picks specific-if-any-exist. Consecutive UA lines OR into
        # one header; a UA line after rules starts a fresh group.
        spec_match = F.lower(ln.value) == me
        star_match = ln.value == F.lit("*")
        act_spec = F.when(
            is_ua, F.when(acc.was_ua, acc.act_spec | spec_match)
            .otherwise(spec_match)).otherwise(acc.act_spec)
        act_star = F.when(
            is_ua, F.when(acc.was_ua, acc.act_star | star_match)
            .otherwise(star_match)).otherwise(acc.act_star)
        is_rule = ln.field.isin("allow", "disallow") \
            & (ln.value != "")
        new_rule = F.array(F.struct(
            (ln.field == F.lit("allow")).alias("allow"),
            ln.value.alias("path")))
        spec = F.when(is_rule & acc.act_spec,
                      F.concat(acc.spec, new_rule)).otherwise(acc.spec)
        star = F.when(is_rule & acc.act_star,
                      F.concat(acc.star, new_rule)).otherwise(acc.star)
        return F.struct(is_ua.alias("was_ua"),
                        act_spec.alias("act_spec"),
                        act_star.alias("act_star"),
                        spec.alias("spec"), star.alias("star"))

    folded = F.aggregate(
        parsed, init, _step,
        lambda acc: F.when(F.size(acc.spec) > 0, acc.spec)
        .otherwise(acc.star))
    return (bots
            .select(url_host(F.col("target_uri")).alias("host"),
                    F.explode(folded).alias("_r"))
            .select("host", F.col("_r.allow").alias("allow"),
                    F.col("_r.path").alias("path"))
            .distinct())


def filter_robots_disallowed(docs: DataFrame, rules: DataFrame,
                             url_col: str = "url",
                             id_col: str = "doc_id") -> DataFrame:
    """Drop documents a crawl's own robots.txt files disallow —
    retroactive REP compliance, the companion of the noindex gate
    (noindex is the PAGE's opt-out; robots.txt is the SITE's).

    RFC 9309 longest-match: among the host's rules matching the
    document's URL path, the rule with the LONGEST path pattern wins
    (§2.2.2 "most octets", wildcards counted as written), and on a
    length tie Allow beats Disallow; no matching rule means allowed.
    ``*`` matches any octet sequence and a trailing ``$`` anchors the
    end (§2.2.3); both are applied by translating the pattern to an
    anchored regex with every other character literal-escaped —
    literal-prefix rules (the overwhelming real-world form) keep the
    cheap ``startswith`` path and never pay regex compilation
    (ADVICE r12 closed the earlier skip-wildcards gap: a skipped
    ``Disallow: /*?sessionid=`` under-blocked). Scale shape: docs join
    the rule table on host (a per-host table is small — broadcast when
    it fits), per-doc winner via one partial-agg ``max_by`` on (path
    length, allow), then a semi-join keeps survivors; docs on hosts
    with no robots rows never enter the join (left join keeps them)."""
    from kiji_mapreduce_spark.pipeline.text import url_host

    is_wild = F.col("path").rlike(r"[*$]")
    # RFC 9309 §2.2.3 pattern -> anchored regex, all in Catalyst:
    # strip one trailing '$' (end anchor) off the ORIGINAL pattern,
    # regex-escape every special character in what remains, then turn
    # each (now-escaped) '\*' back into '.*'. regexp_like's implicit
    # search anchors the head via the leading '^'.
    ends_dollar = F.col("path").endswith("$")
    core = F.when(ends_dollar,
                  F.expr("substring(path, 1, length(path) - 1)")) \
        .otherwise(F.col("path"))
    escaped = F.regexp_replace(
        core, r"([.^$+?(){}\[\]|\\*])", r"\\$1")
    rule_rx = F.concat(
        F.lit("^"), F.replace(escaped, F.lit(r"\*"), F.lit(".*")),
        F.when(ends_dollar, F.lit("$")).otherwise(F.lit("")))
    matched_rules = rules.withColumn("_rb_wild", is_wild) \
        .withColumn("_rb_rx", F.when(is_wild, rule_rx))
    path = F.coalesce(
        F.nullif(F.regexp_extract(
            F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+(/.*)$",
            1), F.lit("")),
        F.lit("/"))
    keyed = docs.select(F.col(id_col).alias("_rb_id"),
                        url_host(F.col(url_col)).alias("_rb_host"),
                        path.alias("_rb_path"))
    match = F.when(matched_rules["_rb_wild"],
                   F.regexp_like(keyed["_rb_path"],
                                 matched_rules["_rb_rx"])) \
        .otherwise(keyed["_rb_path"].startswith(matched_rules["path"]))
    joined = (keyed
              .join(matched_rules,
                    on=(keyed["_rb_host"] == matched_rules["host"])
                    & match,
                    how="inner"))
    verdict = (joined
               .groupBy("_rb_id")
               .agg(F.max_by(
                   F.col("allow"),
                   F.struct(F.length("path").alias("l"),
                            F.col("allow").cast("int").alias("a")))
                   .alias("_rb_allowed")))
    blocked = verdict.filter(~F.col("_rb_allowed")) \
        .select(F.col("_rb_id").alias(id_col))
    return docs.join(blocked, on=id_col, how="left_anti")
