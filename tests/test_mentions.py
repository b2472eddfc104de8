"""Differential test of the mention kernel (kernels/mentions.py) against
the JVM expressions the engine used to build ``doc_mentions``.

`jvm_doc_mentions` is that former Spark implementation, kept here as the
oracle: one ``split``/``regexp_extract_all`` projection per chunk, an
explode, and a ``groupBy`` on (url, lang, term, kind).  Its ``\\b`` is
``java.util.regex``'s, which differs from Python's default ``\\b``."""

from __future__ import annotations

import random
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_graph_spark.kernels.mentions import doc_mention_rows

ORACLE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
ORACLE_YEAR = r"\b(?:1[89][0-9]{2}|20[0-9]{2})\b"


def jvm_doc_mentions(chunks: DataFrame) -> DataFrame:
    """(url, lang, chunk_id, text) chunk rows -> (url, lang, term, kind,
    n_mentions, first_chunk_id), all JVM-side."""
    text = F.col("text")
    empty = F.array().cast("array<string>")
    arr = F.concat(
        F.split(text, "[^a-zA-Z]+"),
        F.when(text.contains("@"),
               F.regexp_extract_all(text, F.lit(ORACLE_EMAIL), 0)
               ).otherwise(empty),
        F.regexp_extract_all(text, F.lit(ORACLE_YEAR), 0),
    )
    raw = F.col("raw")
    kind = (F.when(raw.contains("@"), F.lit("email"))
            .when(raw.rlike("^[0-9]{4}$"), F.lit("year"))
            .otherwise(F.lit("term")))
    ascii_lower = F.translate(raw, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                              "abcdefghijklmnopqrstuvwxyz")
    mentions = chunks.select(
        "url", "lang", "chunk_id", F.explode(arr).alias("raw")
    ).filter(
        (F.length("raw") >= 5) | F.col("raw").rlike("^[0-9]{4}$")
    ).select(
        "url", "lang", "chunk_id",
        F.when(kind == "year", raw).otherwise(ascii_lower).alias("term"),
        kind.alias("kind"),
    )
    return mentions.groupBy("url", "lang", "term", "kind").agg(
        F.count("*").alias("n_mentions"),
        F.min("chunk_id").alias("first_chunk_id"),
    )


def oracle_rows(spark, docs):
    """docs: {url: [(chunk_id, text), ...]} -> sorted oracle rows."""
    rows = [(url, "en", cid, text) for url, chunks in docs.items()
            for cid, text in chunks]
    df = spark.createDataFrame(
        rows, "url string, lang string, chunk_id int, text string")
    return sorted(tuple(r) for r in jvm_doc_mentions(df).drop("lang")
                  .collect())


def kernel_rows(docs, kernel=doc_mention_rows):
    return sorted((url,) + r for url, chunks in docs.items()
                  for r in kernel(chunks))


def _years_of(rows):
    return [r[1] for r in rows if r[2] == "year"]


# Java's \b word test: isLetterOrDigit, '_', and a non-spacing mark that
# rests on a letter or digit; Python's \w adds No/Nl numerics instead
BOUNDARY_CASES = {
    "sup0": "in 2022\u2070 x",          # SUPERSCRIPT ZERO (No)
    "sup2": "in 2009\u00b2 x",          # SUPERSCRIPT TWO (No)
    "acute": "in 1999\u0301 x",         # COMBINING ACUTE after digits
    "e_acute": "\u00e91999 x",          # precomposed letter before
    "e_comb": "e\u03011999 x",          # mark on a letter before
    "under_comb": "_\u03011999 x",      # mark on '_': no base
    "space_comb": " \u03011999 x",      # mark on a space: no base
    "astral_comb": "\U0001d400\u03011999 x",  # mark on an astral letter
    "astral_mark": "\U0001d1671999 x",  # astral mark before
    "astral_mark_after": "1999\U0001d167 x",
    "underscore": "_2001 x",
    "arabic_digit": "1999\u0663 x",     # ARABIC-INDIC DIGIT THREE (Nd)
    "zwj": "2020\u200d x",              # ZERO WIDTH JOINER (Cf)
    "shy": "2021\u00ad x",              # SOFT HYPHEN (Cf)
    "astral_digit": "\U0001d7d91999 x",  # MATHEMATICAL DIGIT ONE (Nd)
    "roman": "\u216b1999 x",            # ROMAN NUMERAL TWELVE (Nl)
    "fullwidth": "\uff211999\uff10 2005",  # FULLWIDTH A (Lu), ZERO (Nd)
    "plain": "(1850) 2099;1900 19999 0199 2100",
}


def _python_boundary_kernel(chunks):
    """The kernel with Python's default \\b: must disagree with the
    oracle, or the boundary cases test nothing."""
    out = {}
    for cid, text in chunks:
        for y in re.findall(r"\b(?:1[89][0-9]{2}|20[0-9]{2})\b", text):
            n, first = out.get(y, (0, cid))
            out[y] = (n + 1, min(first, cid))
    return [(y, "year", n, c) for y, (n, c) in out.items()]


def test_java_word_boundary_cases(spark):
    docs = {k: [(0, t)] for k, t in BOUNDARY_CASES.items()}
    want = oracle_rows(spark, docs)
    assert kernel_rows(docs) == want
    by_case = {k: _years_of([r for r in want if r[0] == k])
               for k in ("sup0", "sup2", "acute")}
    # the three cases where JVM and Python's default \b part ways
    assert by_case == {"sup0": ["2022"], "sup2": ["2009"], "acute": []}
    py = kernel_rows(docs, _python_boundary_kernel)
    assert py != [r for r in want if r[2] == "year"]


def test_emails(spark):
    docs = {
        "mixed": [(0, "Mail John.Doe@Example.COM today")],
        "two": [(0, "a@b.io and x.y+z@host-1.example.org, a@b.io")],
        "not_email": [(0, "price @ 5 dollars, user@localhost, @@ a@b.c")],
        "nested": [(0, "See <Ann_Lee@mail.Co.UK>.")],
    }
    want = oracle_rows(spark, docs)
    assert kernel_rows(docs) == want
    emails = {(r[0], r[1], r[3]) for r in want if r[2] == "email"}
    assert ("mixed", "john.doe@example.com", 1) in emails
    assert ("two", "a@b.io", 2) in emails
    assert not any(r[0] == "not_email" for r in emails)


def test_terms_astral_and_fullwidth(spark):
    docs = {
        "astral": [(0, "abc\U0001d400defgh \U0001f600Hello\U0001f600world")],
        "fullwidth": [(0, "\uff28\uff45\uff4c\uff4c\uff4f Hello"
                          "\uff37orldwide")],
        "kelvin": [(0, "\u212aelvin Kelvin stra\u00dfe strasse "
                       "\u0130stanbul")],
    }
    want = oracle_rows(spark, docs)
    assert kernel_rows(docs) == want
    terms = {r[1] for r in want if r[2] == "term"}
    assert {"defgh", "hello", "world", "orldwide", "kelvin",
            "strasse", "stanbul"} <= terms


def test_multi_chunk_counts_and_first_chunk(spark):
    docs = {
        "d": [(3, "Apple apple 1999"), (1, "banana APPLE"),
              (2, "cherry 1999 apple a@b.io"), (0, "nothing")],
        "e": [(0, "x"), (5, "Lemon"), (2, "lemon lemon 2001")],
    }
    want = oracle_rows(spark, docs)
    assert kernel_rows(docs) == want
    got = {(r[0], r[1], r[2]): (r[3], r[4]) for r in want}
    assert got[("d", "apple", "term")] == (4, 1)
    assert got[("d", "1999", "year")] == (2, 2)
    assert got[("e", "lemon", "term")] == (3, 2)


HOSTILE = (
    list("aZeQxyzAB019_@.-+% \n")
    + ["1999", "2020", "1850", "Hello", "WORLD", "a@b.io", "X.Y@Q.ORG",
       "\u0301", "\u0300", "\u2070", "\u00b2", "\u0663", "\u200d",
       "\u00ad", "\u00e9", "\uff21", "\uff10", "\U0001d400",
       "\U0001d7d9", "\U0001d167", "\U0001f600", "\u216b", "\u212a",
       "\u0130", "\u00df", "\u4e2d", "\u05d0", "\u0915\u093f"]
)


def test_random_hostile_strings(spark):
    rng = random.Random(20240518)
    docs, n = {}, 0
    while n < 3000:
        k = rng.randint(1, 3)
        docs[f"u{len(docs)}"] = [
            (cid, "".join(rng.choice(HOSTILE)
                          for _ in range(rng.randint(0, 40))))
            for cid in rng.sample(range(6), k)]
        n += k
    assert kernel_rows(docs) == oracle_rows(spark, docs)


def _ranges(cps):
    out = []
    for cp in sorted(cps):
        if out and out[-1][1] == cp - 1:
            out[-1][1] = cp
        else:
            out.append([cp, cp])
    return [(hex(a), hex(b)) for a, b in out]


def test_every_code_point_next_to_a_year(spark):
    """For every code point c, whether the JVM finds a year in c + "1999"
    and in "1999" + c equals the kernel's Java word test on that side.
    This pins the Unicode version skew between the JDK and Python's
    unicodedata (kernels.mentions._JDK_UNASSIGNED)."""
    from docling_graph_spark.kernels.mentions import (_java_word_at,
                                                      _java_word_before)

    cps = spark.range(0x110000).where(~F.col("id").between(0xD800, 0xDFFF))
    c = F.expr("decode(unhex(lpad(hex(id), 8, '0')), 'utf-32')")

    def no_year(s):
        return F.size(F.regexp_extract_all(s, F.lit(ORACLE_YEAR), 0)) == 0

    jvm = cps.select("id", c.alias("c")).select(
        "id", no_year(F.concat("c", F.lit("1999"))).alias("before"),
        no_year(F.concat(F.lit("1999"), "c")).alias("at")
    ).where("before or at").collect()
    want_before = {r.id for r in jvm if r.before}
    want_at = {r.id for r in jvm if r.at}
    chars = [chr(cp) for cp in range(0x110000)
             if not 0xD800 <= cp <= 0xDFFF]
    got_before = {ord(ch) for ch in chars if _java_word_before(ch + "1", 1)}
    got_at = {ord(ch) for ch in chars if _java_word_at("1" + ch, 1)}
    assert _ranges(got_before ^ want_before) == []
    assert _ranges(got_at ^ want_at) == []
    assert 0x2070 not in want_at and 0x0301 in want_at
