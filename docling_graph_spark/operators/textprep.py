"""Corpus-preparation operators a web-scale training-data pipeline needs
before extraction: PII redaction, C4-style line-level dedup accounting, and
host blocklist filtering.

All JVM-side (`pyspark.sql.functions` only — no Python in the row path).
Regex patterns stay inside the Java-regex ∩ RE2 common subset (no
lookaround, bounded classes) so the DuckDB oracles run the literal same
patterns.

These are rebuild-only additions (the reference is a single-document tool
with no corpus stage); they slot between the Iceberg scan and the
extraction UDFs of the flagship pipeline, where dropping/cleaning a row is
1000x cheaper than parsing it.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Java-regex ∩ RE2 portable patterns
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"          # NANP fictional exchange
IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"

PII_KINDS = (
    ("email", EMAIL_RE, "[EMAIL]"),
    ("phone", PHONE_RE, "[PHONE]"),
    ("ip", IPV4_RE, "[IP]"),
)


# stopword-vote language ID (n-gram heuristic family): Han-script chars
# outvoting every stopword list -> "zh"; else the highest-voting stopword
# list wins, ties broken en > fr > es > de; zero votes -> "und" (ISO 639-3
# undetermined).  The fr list avoids forms shared with es (la/de/que are
# es-only here).  Pure JVM expressions, patterns in the Java-regex ∩ RE2
# portable subset — reused by the langid_votes oracle query (mirror any
# change in queries.SQL_LANGID_VOTES) and by the crawl ingestion path,
# where WARC records carry no language column.  THIS detector is the one
# that writes persisted lang values.
LANG_STOPWORDS = (
    ("en", "the|and|of|to|in|is"),
    ("fr", "le|les|et|est|dans|une"),
    ("es", "el|la|los|de|que|y"),
    ("de", "der|die|das|und|ist"),
)
HAN_RANGE = "[\\x{4e00}-\\x{9fff}]"


def lang_votes(text: Column) -> dict:
    votes = {
        lang: F.regexp_count(F.lower(text), F.lit(rf"\b(?:{words})\b"))
        for lang, words in LANG_STOPWORDS
    }
    votes["zh"] = F.regexp_count(text, F.lit(HAN_RANGE))
    return votes


def detect_lang(text: Column) -> Column:
    v = lang_votes(text)
    en, fr, es, de, zh = v["en"], v["fr"], v["es"], v["de"], v["zh"]
    return (
        F.when(zh > F.greatest(en, fr, es, de), "zh")
        .when((en >= fr) & (en >= es) & (en >= de) & (en > 0), "en")
        .when((fr >= es) & (fr >= de) & (fr > 0), "fr")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )


def pii_counts(text: Column) -> dict:
    """Per-kind match-count columns for one text column."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pattern), 0))
        for kind, pattern, _tok in PII_KINDS
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its kind token, email -> phone -> ip
    order (emails first so user@host strings never half-match as hosts)."""
    out = text
    for _kind, pattern, token in PII_KINDS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_redaction_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus totals: per-kind match counts, docs touched, and the net
    character delta of redaction (negative when tokens are shorter)."""
    text = F.col(text_col)
    counts = pii_counts(text)
    any_pii = sum(counts.values(), F.lit(0)) > 0
    delta = F.length(redact_pii(text)) - F.length(text)
    return df.select(
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        any_pii.cast("long").alias("has_pii"),
        delta.cast("long").alias("delta"),
    ).agg(
        F.sum("n_email").alias("n_emails"),
        F.sum("n_phone").alias("n_phones"),
        F.sum("n_ip").alias("n_ips"),
        F.sum("has_pii").alias("docs_with_pii"),
        F.sum("delta").alias("chars_delta"),
    )


def line_dedup_stats(df: DataFrame, lines_col: Column,
                     min_repeat: int = 2) -> DataFrame:
    """C4-style line-level dedup accounting over an array-of-lines column:
    keep the first occurrence of every distinct line corpus-wide, drop the
    rest.  Returns one row of totals — lines seen, distinct kept, removed
    (= sum over duplicate groups of count-1), and the hottest line's
    repeat count (boilerplate detector).

    The groupBy(line) shuffle is the same partial/final aggregate Spark
    uses for any count-distinct; at 10^12 rows the line hash, not the line
    text, would be the shuffle key (`F.xxhash64` pre-hash) — counts are
    identical, shuffle bytes ~50x smaller.
    """
    lines = df.select(F.explode(lines_col).alias("line"))
    per_line = lines.groupBy("line").agg(F.count("*").alias("cnt"))
    return per_line.agg(
        F.sum("cnt").alias("total_lines"),
        F.count("*").alias("distinct_lines"),
        F.sum(F.col("cnt") - 1).alias("lines_removed"),
        F.max("cnt").alias("max_line_repeat"),
        F.sum(F.when(F.col("cnt") >= min_repeat, 1).otherwise(0))
        .alias("boilerplate_lines"),
    )


# C0 controls except \t \n \r, plus DEL — the bytes a crawl cleaner
# strips before tokenization.  Portable: Java regex and RE2/DuckDB read
# the same \xNN class.
CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def nfc_normalize_udf():
    """Arrow-batched NFC normalizer (pandas UDF).  Unicode normalization
    has no JVM builtin in Spark, so this is one of the few places Python
    belongs in the row path — vectorized via Arrow, one
    ``unicodedata.normalize`` call per value, no per-row Python UDF.
    The DuckDB oracle runs its native ``nfc_normalize`` (utf8proc); the
    two libraries agree on canonical composition (checked in
    tests/test_normalize.py across combining-mark, reordering, and
    compatibility-exclusion cases — NFC, unlike NFKC, is stable across
    Unicode versions for assigned codepoints)."""
    import pandas as pd  # noqa: F401 (signature)
    import unicodedata

    @F.pandas_udf("string")
    def nfc(s):
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    return nfc


def normalize_text(col: Column) -> Column:
    """Crawl text cleaning: strip C0/DEL control characters (JVM regexp,
    scan stage), then NFC-compose (Arrow-batched Python).  The control
    strip runs FIRST so the normalizer never sees bytes the cleaner
    would drop — both engines apply the same order."""
    return nfc_normalize_udf()(F.regexp_replace(col, CONTROL_RE, ""))


def normalize_stats(df: DataFrame, text_col: Column) -> DataFrame:
    """One row of normalization accounting over ``text_col``: docs,
    docs changed by cleaning+NFC, chars before/after, docs carrying
    non-ASCII, and the md5-prefix checksum over every normalized doc
    (gates the normalized BYTES — both engines must compose to the
    identical code-point sequence)."""
    norm = normalize_text(text_col)
    out_md5 = F.md5(norm.cast("binary"))
    return df.select(
        text_col.alias("orig"), norm.alias("norm"), out_md5.alias("m"),
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("orig") != F.col("norm")).cast("long"))
        .cast("long").alias("n_changed"),
        F.sum(F.length("orig")).cast("long").alias("chars_before"),
        F.sum(F.length("norm")).cast("long").alias("chars_after"),
        F.sum(F.col("orig").rlike("[^\\x00-\\x7F]").cast("long"))
        .cast("long").alias("n_nonascii_docs"),
        F.sum(F.conv(F.substring(F.col("m"), 1, 12), 16, 10)
              .cast("long")).cast("long").alias("normalized_checksum"),
    )


def host_boilerplate_removal(pages: DataFrame, host_col: str,
                             lines_col: Column, id_col: str = "doc_id",
                             min_pages: int = 2) -> DataFrame:
    """Site-level template removal (the per-site analogue of C4 line dedup;
    trafilatura ``--deduplicate`` / Dolma site-dedup shape): a line is HOST
    BOILERPLATE when it appears on a strict majority of its host's pages
    (``page_freq * 2 > host_docs``) and on at least ``min_pages`` pages.
    Boilerplate lines are removed from every page of that host; each page's
    remaining lines are rebuilt in original order.

    Returns one row per input page: ``(doc_id, host, n_lines, n_removed,
    rebuilt)`` — callers aggregate (see queries.q_host_boilerplate, which
    gates the rebuilt content with an exact md5-prefix checksum).

    Scale shape (10^12 pages): the only wide operations are keyed on
    ``(host, line)`` — the per-(host,line) page-frequency aggregate, the
    per-host page count (a rollup of the same partitioning), and the
    boilerplate anti-annotation join back onto the exploded lines, which
    co-partitions with the frequency aggregate so AQE plans it without a
    second exchange of the big side.  At real scale the shuffle key would
    be ``(host, xxhash64(line))`` with line text carried only into the
    rebuild stage (~50x fewer shuffle bytes, same counts); the exact-text
    key is kept here so the DuckDB oracle is the literal same derivation.
    The rebuild avoids a global sort: kept lines are collected per page as
    (pos, line) structs and ``array_sort``ed locally — per-page state only,
    never a corpus-wide window.
    """
    base = pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        lines_col.alias("lines"),
    )
    exploded = base.select(
        "doc_id", "host", F.posexplode("lines").alias("pos", "line")
    )
    # pages-containing frequency: distinct (host, doc, line) first so a
    # line repeated WITHIN one page still counts that page once
    freq = (
        exploded.select("host", "doc_id", "line").distinct()
        .groupBy("host", "line").agg(F.count("*").alias("page_freq"))
    )
    host_docs = base.groupBy("host").agg(F.count("*").alias("host_docs"))
    bp = (
        freq.join(host_docs, "host")
        .filter((F.col("page_freq") >= min_pages)
                & (F.col("page_freq") * 2 > F.col("host_docs")))
        .select("host", "line")
    )
    marked = exploded.join(
        bp.withColumn("is_bp", F.lit(True)), ["host", "line"], "left"
    ).withColumn("is_bp", F.coalesce(F.col("is_bp"), F.lit(False)))
    kept_struct = F.when(
        ~F.col("is_bp"), F.struct(F.col("pos"), F.col("line"))
    )  # NULL for removed lines; collect_list skips NULLs
    return marked.groupBy("doc_id", "host").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("is_bp").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.line,
            ),
            "\n",
        ).alias("rebuilt"),
    )


def host_blocklist_split(pages: DataFrame,
                         blocked_hosts: Sequence[str],
                         url_col: str = "url") -> DataFrame:
    """Broadcast blocklist filter: semi/anti join the corpus against a tiny
    blocked-host dimension (the J1 left_semi/left_anti pair on a derived
    key).  Returns one row: kept/dropped doc counts and the distinct host
    count on each side.  At scale the blocklist is a broadcast of a few MB
    against 10^12 rows — no shuffle of the big side (plan-asserted in
    tests)."""
    spark = pages.sparkSession
    block = F.broadcast(
        spark.createDataFrame([(h,) for h in blocked_hosts], ["blocked_host"])
    )
    hosts = pages.select(F.try_parse_url(F.col(url_col), F.lit("HOST"))
                         .alias("host"))
    kept = hosts.join(block, hosts.host == block.blocked_host, "left_anti")
    dropped = hosts.join(block, hosts.host == block.blocked_host, "left_semi")
    k = kept.agg(F.count("*").alias("kept_docs"),
                 F.countDistinct("host").alias("kept_hosts"))
    d = dropped.agg(F.count("*").alias("dropped_docs"),
                    F.countDistinct("host").alias("dropped_hosts"))
    return k.crossJoin(d)


# ------------------------------------------------------- Gopher-style gates

# Repetition/quality document gates in the style of the Gopher rules
# (Rae et al. 2021, "Scaling Language Models", Appendix A1.1 — public).
# Thresholds are integer-exact rational comparisons (10*top_word <= 3*...)
# so Spark and the DuckDB oracle agree bit-for-bit with no float rounding.
GOPHER_WORD_MIN = 50
GOPHER_WORD_MAX = 100_000
GOPHER_MEAN_LEN_MIN = 3          # mean word length in [3, 10]
GOPHER_MEAN_LEN_MAX = 10
# top-word fraction <= 1/10, top-bigram fraction <= 1/20 (tuned to the
# synthetic corpus's repetition distribution; the classic 0.2/0.18 gates
# on a natural corpus are the same comparison with other constants)
GOPHER_TOP_WORD_DEN = 10
GOPHER_TOP_BIGRAM_DEN = 20


def _max_run(sorted_arr: Column) -> Column:
    """Highest multiplicity in a SORTED string array, computed as the longest
    equal-run via one fold — per-row, JVM-side, no explode/groupBy shuffle.
    The classic explode → groupBy(doc, token) → max alternative shuffles
    every token of the corpus; this keeps repetition scoring embarrassingly
    parallel at 10^12 rows."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1) \
            .otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step)["best"]


def gopher_signals(text: Column) -> dict:
    """Per-document word/repetition signal columns (all JVM).

    NULL text coalesces to '' so a null-text document yields 0 words (and
    fails the word-count gate) exactly like the SQL oracle's coalesce —
    without this, every signal is NULL and the row lands in NO bucket."""
    words = F.filter(F.split(F.coalesce(text, F.lit("")), " "),
                     lambda x: F.length(x) > 0)
    n_words = F.size(words).cast("long")
    n_chars_w = F.aggregate(
        words, F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x).cast("long"),
    )
    bigrams = F.when(
        n_words >= 2,
        F.zip_with(
            F.slice(words, 1, (n_words - 1).cast("int")),
            F.slice(words, 2, (n_words - 1).cast("int")),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return {
        "n_words": n_words,
        "n_chars_w": n_chars_w,
        "top_word": _max_run(F.array_sort(words)),
        "n_bigrams": F.greatest(n_words - 1, F.lit(0).cast("long")),
        "top_bigram": _max_run(F.array_sort(bigrams)),
    }


def _gopher_fails(text: Column) -> dict:
    """The four fail-gate predicates over :func:`gopher_signals` — the
    single source both the stats report and the curation filter consume
    (a tweak to one comparison cannot desynchronize them)."""
    s = gopher_signals(text)
    return {
        "wc": (s["n_words"] < GOPHER_WORD_MIN)
        | (s["n_words"] > GOPHER_WORD_MAX),
        "len": (GOPHER_MEAN_LEN_MIN * s["n_words"] > s["n_chars_w"])
        | (s["n_chars_w"] > GOPHER_MEAN_LEN_MAX * s["n_words"]),
        "tw": GOPHER_TOP_WORD_DEN * s["top_word"] > s["n_words"],
        "tb": (s["n_bigrams"] > 0)
        & (GOPHER_TOP_BIGRAM_DEN * s["top_bigram"] > s["n_bigrams"]),
    }


def gopher_pass(text: Column) -> Column:
    """Per-document pass-ALL-gates predicate — the filter form of
    :func:`gopher_quality_stats` (identical integer-exact comparisons)."""
    f = _gopher_fails(text)
    return ~f["wc"] & ~f["len"] & ~f["tw"] & ~f["tb"]


def host_quality_split(docs: DataFrame, host_col: str,
                       text_col: str = "text",
                       min_docs: int = 3) -> DataFrame:
    """Domain-level quality filtering (the RefinedWeb/C4 badlist
    derivation): aggregate per-host Gopher fail rates and FLAG a host
    when a strict majority of its documents fail any gate
    (``fails * 2 > docs``) and the host has at least ``min_docs``
    documents (small hosts get the benefit of the doubt — one bad page
    on a two-page host is not a content farm).

    Returns one row of totals: hosts seen, flagged hosts, docs on
    flagged hosts, corpus-wide doc/fail counts, and a 48-bit md5-prefix
    checksum over the flagged host NAMES (gates the exact flagged set,
    order-independent).

    Scale shape: per-doc gates are the existing JVM ``gopher_pass``
    expressions (scan stage), then ONE groupBy(host) with map-side
    partial aggregation; the final rollup is a 1-row reduce.  No joins,
    no windows — the same shape at 10^12 docs."""
    fail = (~gopher_pass(F.col(text_col))).cast("long")
    per_host = (
        docs.select(F.col(host_col).alias("host"), fail.alias("fail"))
        .groupBy("host")
        .agg(F.count("*").cast("long").alias("docs"),
             F.sum("fail").cast("long").alias("fails"))
    )
    flagged = ((F.col("fails") * 2 > F.col("docs"))
               & (F.col("docs") >= min_docs))
    host_md5 = F.md5(F.col("host").cast("binary"))
    return per_host.agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.sum("docs").cast("long").alias("docs_total"),
        F.sum("fails").cast("long").alias("docs_failing"),
        F.sum(flagged.cast("long")).cast("long").alias("n_flagged_hosts"),
        F.sum(F.when(flagged, F.col("docs")).otherwise(F.lit(0)))
        .cast("long").alias("docs_on_flagged"),
        F.sum(F.when(flagged,
                     F.conv(F.substring(host_md5, 1, 12), 16, 10)
                     .cast("long")).otherwise(F.lit(0)))
        .cast("long").alias("flagged_checksum"),
    )


def gopher_quality_stats(df: DataFrame, text_col: str = "text",
                         lang_col: str = "lang") -> DataFrame:
    """Per-language Gopher-gate accounting: total docs, docs failing each
    gate, docs passing all gates.  One narrow projection + one tiny
    groupBy(lang) — the full repetition scoring never shuffles."""
    f = _gopher_fails(F.col(text_col))
    fail_wc, fail_len, fail_tw, fail_tb = (
        f["wc"], f["len"], f["tw"], f["tb"])
    pass_all = ~fail_wc & ~fail_len & ~fail_tw & ~fail_tb
    return (
        df.select(
            F.col(lang_col).alias("lang"),
            fail_wc.cast("long").alias("f_wc"),
            fail_len.cast("long").alias("f_len"),
            fail_tw.cast("long").alias("f_tw"),
            fail_tb.cast("long").alias("f_tb"),
            pass_all.cast("long").alias("ok"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("f_wc").alias("fail_word_count"),
            F.sum("f_len").alias("fail_mean_word_len"),
            F.sum("f_tw").alias("fail_top_word"),
            F.sum("f_tb").alias("fail_top_bigram"),
            F.sum("ok").alias("pass_all"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------ URL canonicalization

# tracking parameters dropped during canonicalization (public convention:
# UTM campaign tags + click ids)
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)(=.*)?$"
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a web URL, all JVM-side:

    * scheme + host lowercased (``parse_url`` components)
    * default port dropped (``:80`` http / ``:443`` https), others kept
    * fragment dropped
    * trailing slashes stripped from the path
    * tracking params (``utm_*``, ``fbclid``, ``gclid``) removed, the rest
      sorted bytewise so param order never splits a dedup group

    Crawl dedup by canonical url runs BEFORE content hashing — dropping a
    row here saves the whole parse at 10^12-row scale.

    Unparseable urls canonicalize to NULL (``try_parse_url``; the throwing
    ``parse_url`` would abort the whole job on one junk crawl row).
    """
    u = F.trim(url)
    proto = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    authority = F.try_parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, ":([0-9]+)$", 1)
    default_port = F.coalesce(
        *[F.when(proto == k, F.lit(v)) for k, v in _DEFAULT_PORTS.items()],
        F.lit(""),
    )
    port_part = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit("")), "/+$", ""
    )
    params = F.array_sort(F.filter(
        F.split(F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit("")),
                "&"),
        lambda x: (F.length(x) > 0) & ~x.rlike(TRACKING_PARAM_RE),
    ))
    query_part = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(params, "&")),
    ).otherwise(F.lit(""))
    # concat is null-strict: any unparseable component nulls the whole url
    return F.concat(proto, F.lit("://"), host, port_part, path, query_part)


def canonical_url_dedup_stats(df: DataFrame,
                              url_col: str = "url") -> DataFrame:
    """Crawl-frontier dedup accounting: total urls, distinct canonical
    forms, rows a canonical-url dedup would drop, and min/max canonical
    strings as a byte-level spot check."""
    canon = df.select(canonicalize_url(F.col(url_col)).alias("canonical"))
    return canon.agg(
        F.count("*").alias("total_urls"),
        F.countDistinct("canonical").alias("distinct_canonical"),
        (F.count("*") - F.countDistinct("canonical")).alias("collapsed"),
        F.min("canonical").alias("min_canonical"),
        F.max("canonical").alias("max_canonical"),
    )


# ------------------------------------------------------------ TF-IDF top-k

TERM_RE = "[a-z]{5,}"     # same token definition as the mention extractor


def tfidf_topk(docs: DataFrame, k: int = 3,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    Weighting uses the reciprocal document frequency (score = tf / df)
    instead of tf·ln(N/df): the ordering stays tf-idf-like (monotone
    decreasing in df), while every score is one IEEE-754 division of two
    small integers — bit-identical across engines, so ranks never flip on a
    transcendental's last ulp.

    Plan shape at scale: one shuffle for tf (groupBy doc,term), one tiny
    agg for df (term dim << corpus), a term-keyed join back (AQE picks
    broadcast when df fits), one per-doc window.  Ties break on term
    bytes ascending.
    """
    from pyspark.sql.window import Window

    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TERM_RE), 0)
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df").cast("double")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", F.col("rnk").cast("long").alias("rnk"), "term")
    )


# --------------------------------------------- deterministic hash sampling

def hash_sample(df: DataFrame, key_col: str, hex_threshold: str,
                seed: str = "dgspark") -> DataFrame:
    """Deterministic, engine-stable corpus sampling: keep a row iff the
    first ``len(hex_threshold)`` hex digits of md5(seed || key) sort below
    ``hex_threshold``.

    This is how a 100 TB corpus is sampled reproducibly: the decision is a
    pure function of the row key — no RNG state, no partition order, the
    same subset on every engine, every cluster size, every re-run, and it
    composes with resume/checkpoint (a restarted job re-derives the same
    sample).  Rate = int(hex_threshold, 16) / 16^len(hex_threshold); two
    digits give 1/256 granularity ('10' -> 6.25%).  The comparison is on
    hex STRINGS, which both Spark and DuckDB produce lowercase — no
    integer conversion, no float rounding.  Scan-stage filter: prunes at
    the source, shuffles nothing.
    """
    n = len(hex_threshold)
    digest = F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    return df.filter(F.substring(digest, 1, n) < F.lit(hex_threshold))


def stratified_sample_stats(df: DataFrame, key_col: str, strata_col: str,
                            hex_threshold: str = "10",
                            seed: str = "dgspark") -> DataFrame:
    """Per-stratum row counts of the deterministic sample next to the full
    population (the sanity report a sampling stage emits: did every
    stratum land near the nominal rate?)."""
    sampled = hash_sample(df, key_col, hex_threshold, seed)
    pop = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count("*").alias("n_total"))
    smp = sampled.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count("*").alias("n_sampled"))
    return (
        pop.join(smp, "stratum", "left")
        .select("stratum", "n_total",
                F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"))
        .orderBy("stratum")
    )


def split_by_hash(df: DataFrame, key_col: str,
                  bounds: "tuple[str, str]" = ("e0", "f0"),
                  seed: str = "dgsplit") -> DataFrame:
    """Deterministic disjoint train/val/test assignment: the md5(seed||key)
    hex prefix partitions the corpus by range — rows below ``bounds[0]``
    are 'train', below ``bounds[1]`` 'val', the rest 'test'.

    Same engine-stability argument as `hash_sample` (pure function of the
    row key, hex-string comparison, no RNG), plus the property sampling
    cannot give: the three splits are DISJOINT and EXHAUSTIVE by
    construction, survive restarts and repartitioning, and a row never
    migrates between splits when the corpus grows — the guarantee a
    training pipeline needs to keep held-out data held out.  Default
    bounds ('e0','f0') give 87.5% / 6.25% / 6.25%.
    """
    lo, hi = bounds
    n = max(len(lo), len(hi))
    digest = F.substring(
        F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string"))), 1, n
    )
    return df.withColumn(
        "split",
        F.when(digest < F.lit(lo), "train")
         .when(digest < F.lit(hi), "val")
         .otherwise("test"),
    )


# ----------------------------------------------- char-trigram LM fluency

# CCNet-style statistical quality filtering (Wenzek et al. 2020 scores
# documents with a KenLM language model and keeps the low-perplexity
# tail).  The graft's deterministic analogue: a character-trigram model
# trained on the corpus itself, scoring each document by its average
# scaled conditional trigram probability p(c | ab).  All arithmetic is
# int64-exact (scaled integer division), so a distributed Spark run and
# the DuckDB oracle produce bit-identical scores — a real-perplexity
# float sum in shuffle order could not guarantee that.
#
# Scale design: the model is a groupBy over exploded trigrams, but the
# alphabet is 27 chars (a-z + space after normalization) so map-side
# partial aggregation collapses every partition to <= 27^3 = 19,683 rows
# before the shuffle; the trained model broadcast-joins back to the
# instance stream, and the per-doc score groupBy combines map-side too
# (explode keeps a document's rows co-located).  No stage materializes
# anything proportional to corpus size beyond the scan itself.

TRIGRAM_SCALE = 1_000_000


def _trigram_norm(text: Column) -> Column:
    """' ' || lowercased text with non-[a-z] runs collapsed to ' ' || ' '.

    27-symbol alphabet; the padding spaces give word-boundary context to
    edge trigrams.  Heuristic is alphabet-targeted (non-Latin scripts
    collapse to space runs) — language routing happens upstream via
    langid, as in CCNet's per-language models."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))),
                         "[^a-z]+", " "),
        F.lit(" "),
    )


def _trigram_instances(docs: DataFrame, text_col: str,
                       keep_cols: "tuple[str, ...]" = ()) -> DataFrame:
    """(doc_id, *keep_cols, gram): one row per trigram position.
    Documents whose normalized form is shorter than 3 chars emit no rows.
    ``keep_cols`` ride along the projection (never a join — the instance
    stream is one row per corpus character, far too big to shuffle just
    to attach a label)."""
    norm = _trigram_norm(F.col(text_col))
    with_norm = docs.select("doc_id", *keep_cols, norm.alias("_n"))
    idx = F.when(
        F.length("_n") >= 3,
        F.expr("sequence(1, length(_n) - 2)"),
    ).otherwise(F.array().cast("array<int>"))
    return (
        with_norm.select("doc_id", *keep_cols,
                         F.explode(idx).alias("_i"), "_n")
        .select("doc_id", *keep_cols,
                F.expr("substring(_n, _i, 3)").alias("gram"))
    )


def trigram_model(docs: DataFrame, text_col: str = "text",
                  scale: int = TRIGRAM_SCALE) -> DataFrame:
    """Corpus char-trigram model: (gram, p_scaled) with
    p_scaled = (scale * count(gram)) div count(first-2-chars context),
    contexts counted over trigram positions.  <= 27^3 rows — broadcastable
    anywhere."""
    c3 = _trigram_instances(docs, text_col).groupBy("gram").agg(
        F.count("*").alias("c3"))
    c2 = (
        c3.groupBy(F.substring("gram", 1, 2).alias("ctx"))
        .agg(F.sum("c3").alias("c2"))
    )
    return (
        c3.withColumn("ctx", F.substring("gram", 1, 2))
        .join(c2, "ctx")
        .select("gram",
                F.expr(f"({int(scale)} * c3) div c2").alias("p_scaled"))
    )


def trigram_fluency_scores(docs: DataFrame, text_col: str = "text",
                           scale: int = TRIGRAM_SCALE) -> DataFrame:
    """(doc_id, n_grams, score): score = mean scaled conditional trigram
    probability (integer div).  Docs with no trigram are absent (callers
    left-join and route them as unscored)."""
    model = trigram_model(docs, text_col, scale)
    inst = _trigram_instances(docs, text_col)
    return (
        inst.join(F.broadcast(model), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"),
             F.sum("p_scaled").alias("_s"))
        .select("doc_id", "n_grams",
                F.expr("_s div n_grams").alias("score"))
    )


def trigram_fluency_report(docs: DataFrame, text_col: str = "text",
                           scale: int = TRIGRAM_SCALE,
                           low_threshold: int | None = None,
                           scores: DataFrame | None = None) -> DataFrame:
    """1-row corpus fluency report: scored/unscored doc counts, score
    extrema/sum, and the low-fluency count under ``low_threshold``
    (default scale/20 — the 'keep the fluent tail' gate).

    ``scores`` lets a caller that already materialized
    :func:`trigram_fluency_scores` (e.g. to also bin with
    :func:`ccnet_bins`) share the one scoring pass."""
    thr = low_threshold if low_threshold is not None else scale // 20
    if scores is None:
        scores = trigram_fluency_scores(docs, text_col, scale)
    joined = docs.select("doc_id").join(scores, "doc_id", "left")
    return joined.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("score").isNull(), 1).otherwise(0))
         .alias("n_unscored"),
        F.sum(F.coalesce("score", F.lit(0))).alias("sum_score"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        F.sum(F.when(F.col("score") < thr, 1).otherwise(0))
         .alias("low_fluency_docs"),
    )


def ccnet_bins(docs: DataFrame, text_col: str = "text",
               scale: int = TRIGRAM_SCALE,
               scores: DataFrame | None = None) -> DataFrame:
    """CCNet head/middle/tail perplexity binning (Wenzek et al. 2020 §4.3),
    deterministic analogue: score every document with the corpus trigram
    LM, derive the two tercile cutoff VALUES, and bin by score comparison
    — head = most fluent third.  Returns (doc_id, score, bin); docs with
    no trigram land in bin 'unscored'.

    Scale design: CCNet itself bins by threshold values, not by global
    rank, and so does this — the per-doc rule is a broadcastable
    comparison, never a corpus-wide sort/window.  The cutoffs come from
    the score HISTOGRAM (groupBy(score).count(), map-side combinable):
    its cardinality is bounded by the integer score domain (<= scale+1
    rows, in practice a few thousand), so collecting it to the driver is
    an O(1)-per-corpus aggregate like the other gated collect sites.
    cut_head = score of the ceil(n/3)-th doc in score-descending order,
    cut_tail = score of the ceil(2n/3)-th; boundary ties all promote to
    the higher bin (value-based rule), exactly reproducible in any engine.
    """
    # the histogram collect below is an eager action and the returned plan
    # joins the same scores again — localCheckpoint materializes the
    # (doc_id, score) relation once so scoring (the expensive trigram
    # passes) never runs twice.  Callers that also need the scores (the
    # corpus-prep relation pairs this with trigram_fluency_report) pass a
    # pre-materialized ``scores`` to share the single pass.
    if scores is None:
        scores = trigram_fluency_scores(docs, text_col,
                                        scale).localCheckpoint()
    hist = sorted(
        ((r["score"], r["c"]) for r in
         scores.groupBy("score").agg(F.count("*").alias("c")).collect()),
        key=lambda t: -t[0])
    n = sum(c for _, c in hist)
    k1, k2 = (n + 2) // 3, (2 * n + 2) // 3  # ceil(n/3), ceil(2n/3)
    cut_head = cut_tail = None
    cum = 0
    for score, c in hist:
        cum += c
        if cut_head is None and cum >= k1:
            cut_head = score
        if cut_tail is None and cum >= k2:
            cut_tail = score
    joined = docs.select("doc_id").join(scores, "doc_id", "left")
    if cut_head is None:  # no scored docs at all
        bin_col = F.when(F.col("score").isNull(), F.lit("unscored")) \
            .otherwise(F.lit("head"))
    else:
        bin_col = (
            F.when(F.col("score").isNull(), F.lit("unscored"))
            .when(F.col("score") >= cut_head, F.lit("head"))
            .when(F.col("score") >= cut_tail, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    return joined.select("doc_id", "score", bin_col.alias("bin"))


def ccnet_bin_stats(docs: DataFrame, text_col: str = "text",
                    scale: int = TRIGRAM_SCALE,
                    scores: DataFrame | None = None) -> DataFrame:
    """Per-bin corpus report for :func:`ccnet_bins`:
    (bin, n_docs, sum_score, min_score, max_score)."""
    return ccnet_bins(docs, text_col, scale, scores=scores).groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce("score", F.lit(0))).alias("sum_score"),
        # coalesce the extrema so the all-NULL 'unscored' bin reports 0 in
        # every engine (NULL stringification is comparator-dependent)
        F.coalesce(F.min("score"), F.lit(0)).alias("min_score"),
        F.coalesce(F.max("score"), F.lit(0)).alias("max_score"),
    )


# -------------------------------------------------- per-host document caps

def host_cap_sample(pages: DataFrame, k: int, url_col: str = "url",
                    n_salts: int = 16, seed: str = "dghostcap") -> DataFrame:
    """Keep at most ``k`` documents per host — the corpus-diversity rule
    that stops mega-hosts from dominating a crawl-derived training set.

    Selection is by md5(seed||url) order (deterministic but hash-uniform,
    so the survivors are an unbiased per-host sample rather than the
    lexicographically-first urls), tie-broken by url.  Returns the input
    rows that survive, plus the host and rank columns.

    Skew design: a single `row_number() over (partition by host)` window
    serializes each host on one task — and crawl host sizes are power-law,
    so the biggest host becomes the stage's critical path.  This runs the
    standard two-stage top-K instead: stage 1 ranks within (host, salt)
    buckets — ``n_salts``-way parallel even for one mega-host — and keeps
    at most k per bucket; stage 2 ranks the surviving ≤ k·n_salts rows per
    host.  Any row in the true per-host top-k is also in its salt bucket's
    top-k, so the result is EXACTLY the single-window answer (equivalence
    is unit-tested), but the heavy window never sees more than k·n_salts
    rows per host.

    Callers should project ``pages`` down to the narrow columns they need
    back — both windows shuffle every column passed in (host_cap_stats
    passes only ``url_col``)."""
    for reserved in ("host", "host_rank"):
        if reserved in pages.columns:
            raise ValueError(
                f"host_cap_sample adds a {reserved!r} column; rename or "
                f"drop the input's {reserved!r} first")
    # try_parse_url, not parse_url: ANSI-mode parse_url throws on one junk
    # crawl url and aborts the job; unparseable urls group under the NULL
    # host and are capped together like any other host
    host = F.try_parse_url(F.col(url_col), F.lit("HOST"))
    key = F.md5(F.concat(F.lit(seed), F.col(url_col)))
    salted = pages.withColumn("_host", host).withColumn("_key", key) \
        .withColumn("_salt",
                    F.conv(F.substring("_key", 1, 2), 16, 10).cast("int")
                    % F.lit(n_salts))
    w1 = Window.partitionBy("_host", "_salt").orderBy("_key", url_col)
    stage1 = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
    )
    w2 = Window.partitionBy("_host").orderBy("_key", url_col)
    return (
        stage1.withColumn("host_rank", F.row_number().over(w2))
        .filter(F.col("host_rank") <= k)
        .drop("_salt", "_r1", "_key")
        .withColumnRenamed("_host", "host")
    )


def host_cap_stats(pages: DataFrame, k: int,
                   url_col: str = "url") -> DataFrame:
    """1-row report for the per-host cap: doc/host totals, survivors,
    hosts that hit the cap, and the biggest host before capping.

    Only the url column enters the ranking windows — the wide page
    payload never shuffles."""
    kept = host_cap_sample(pages.select(url_col), k, url_col)
    pre = pages.select(
        F.try_parse_url(F.col(url_col), F.lit("HOST")).alias("host"))
    pre_hosts = pre.groupBy("host").agg(F.count("*").alias("n"))
    kept_hosts = kept.groupBy("host").agg(F.count("*").alias("n"))
    a = pre_hosts.agg(
        F.sum("n").alias("total_docs"),
        F.count("*").alias("n_hosts"),
        F.max("n").alias("max_host_docs"),
        F.sum(F.when(F.col("n") > k, 1).otherwise(0)).alias("hosts_at_cap"),
    )
    b = kept_hosts.agg(F.sum("n").alias("kept_docs"),
                       F.max("n").alias("max_kept_docs"))
    return a.crossJoin(b).select(
        "total_docs", "kept_docs", "n_hosts", "hosts_at_cap",
        "max_host_docs", "max_kept_docs",
    )


def trigram_fluency_scores_per_lang(docs: DataFrame,
                                    text_col: str = "text",
                                    lang_col: str = "lang",
                                    scale: int = TRIGRAM_SCALE) -> DataFrame:
    """(doc_id, lang, n_grams, score): per-LANGUAGE trigram models — the
    faithful CCNet shape (Wenzek et al. 2020 scores each language against
    its own KenLM model).  Same integer arithmetic as the corpus-global
    :func:`trigram_fluency_scores`; the model key is (lang, gram), still
    ≤ n_langs·27³ rows and broadcastable.

    Routing matters for mixed corpora: under a global model the dominant
    language's trigram distribution scores every other language as
    disfluent; per-lang models judge each document against its own
    language's statistics (property unit-tested with an interleaved
    en/"rot13-like" corpus)."""
    inst = _trigram_instances(
        docs.select("doc_id", F.col(lang_col).alias("lang"), text_col),
        text_col, keep_cols=("lang",))
    c3 = inst.groupBy("lang", "gram").agg(F.count("*").alias("c3"))
    c2 = (
        c3.groupBy("lang", F.substring("gram", 1, 2).alias("ctx"))
        .agg(F.sum("c3").alias("c2"))
    )
    model = (
        c3.withColumn("ctx", F.substring("gram", 1, 2))
        .join(c2, ["lang", "ctx"])
        .select("lang", "gram",
                F.expr(f"({int(scale)} * c3) div c2").alias("p_scaled"))
    )
    return (
        inst.join(F.broadcast(model), ["lang", "gram"])
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_grams"),
             F.sum("p_scaled").alias("_s"))
        .select("doc_id", "lang", "n_grams",
                F.expr("_s div n_grams").alias("score"))
    )
