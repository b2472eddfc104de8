"""Deterministic mention extraction: the one definition of a mention.

A document's chunks yield three kinds of mention:

* ``term`` — a maximal run of ASCII letters ``[A-Za-z]`` at least five
  long, ASCII-lowercased;
* ``email`` — a match of :data:`EMAIL_PATTERN`, ASCII-lowercased (only
  chunks containing ``@`` can match, so only they are scanned);
* ``year`` — a match of :data:`YEAR_PATTERN` between two word boundaries
  as ``java.util.regex`` defines them (see :func:`_java_word_before`).

:func:`doc_mention_rows` aggregates them per document into
``(term, kind, n_mentions, first_chunk_id)`` rows.  It runs inside the
extraction UDF that already holds the chunk text, so the engine needs no
JVM regex scan and no shuffle to build ``doc_mentions``.  The definition
is the one the engine used when it scanned chunks with Spark's
``split``/``regexp_extract_all`` (tests/test_mentions.py keeps those
expressions as the differential oracle).

The three kinds cannot collide: terms are letters only, years digits only,
and every email contains ``@``.
"""

from __future__ import annotations

import re
import unicodedata
from bisect import bisect_right
from collections import Counter
from typing import Dict, Iterable, List, Tuple

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
YEAR_PATTERN = r"1[89][0-9]{2}|20[0-9]{2}"

_TERM = re.compile(r"[A-Za-z]{5,}")
_EMAIL = re.compile(EMAIL_PATTERN)
# Year candidates: four digits with no ASCII digit on either side (an ASCII
# digit is a word character, so no boundary could sit there); `_years`
# judges both neighbours by the Java rule below.
_YEAR = re.compile(r"(?<![0-9])(?:%s)(?![0-9])" % YEAR_PATTERN)
_ASCII_WORD = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")

# Character.isLetterOrDigit: the general categories Java counts.  Python's
# `\w` is wider (it adds No/Nl numerics such as U+2070 SUPERSCRIPT ZERO)
# and has no combining-mark rule, so its `\b` differs from Java's.
_LETTER_OR_DIGIT = frozenset(("Lu", "Ll", "Lt", "Lm", "Lo", "Nd"))

# Java's categories are those of JDK 17 (Unicode 13.0); Python's
# unicodedata is Unicode 14.0 on CPython 3.11.  These code points are
# letters, digits or non-spacing marks in 14.0 and unassigned in 13.0, so
# Java counts them as non-word; U+1734 HANUNOO SIGN PAMUDPOD is Mn in 13.0
# and Mc in 14.0.  tests/test_mentions.py checks every code point against
# the JVM and lists the ones to add when either version moves.
_JDK_UNASSIGNED = (
    (0x0870, 0x0887), (0x0889, 0x088E), (0x0898, 0x089F), (0x08B5, 0x08B5),
    (0x08C8, 0x08D2), (0x0C3C, 0x0C3C), (0x0C5D, 0x0C5D), (0x0CDD, 0x0CDD),
    (0x170D, 0x170D), (0x171F, 0x171F), (0x180F, 0x180F), (0x1AC1, 0x1ACE),
    (0x1B4C, 0x1B4C), (0x1DFA, 0x1DFA), (0x2C2F, 0x2C2F), (0x2C5F, 0x2C5F),
    (0x9FFD, 0x9FFF), (0xA7C0, 0xA7C1), (0xA7D0, 0xA7D1), (0xA7D3, 0xA7D3),
    (0xA7D5, 0xA7D9), (0xA7F2, 0xA7F4), (0x10570, 0x1057A),
    (0x1057C, 0x1058A), (0x1058C, 0x10592), (0x10594, 0x10595),
    (0x10597, 0x105A1), (0x105A3, 0x105B1), (0x105B3, 0x105B9),
    (0x105BB, 0x105BC), (0x10780, 0x10785), (0x10787, 0x107B0),
    (0x107B2, 0x107BA), (0x10F70, 0x10F85), (0x11070, 0x11075),
    (0x110C2, 0x110C2), (0x11740, 0x11746), (0x11AB0, 0x11ABF),
    (0x12F90, 0x12FF0), (0x16A70, 0x16ABE), (0x16AC0, 0x16AC9),
    (0x1AFF0, 0x1AFF3), (0x1AFF5, 0x1AFFB), (0x1AFFD, 0x1AFFE),
    (0x1B11F, 0x1B122), (0x1CF00, 0x1CF2D), (0x1CF30, 0x1CF46),
    (0x1DF00, 0x1DF1E), (0x1E290, 0x1E2AE), (0x1E7E0, 0x1E7E6),
    (0x1E7E8, 0x1E7EB), (0x1E7ED, 0x1E7EE), (0x1E7F0, 0x1E7FE),
    (0x2A6DE, 0x2A6DF), (0x2B735, 0x2B738),
)
_JDK_UNASSIGNED_STARTS = [lo for lo, _ in _JDK_UNASSIGNED]


def _java_category(ch: str) -> str:
    """``ch``'s general category as JDK 17's ``Character.getType`` has
    it, for the categories the boundary test reads."""
    k = bisect_right(_JDK_UNASSIGNED_STARTS, ord(ch)) - 1
    if k >= 0 and ord(ch) <= _JDK_UNASSIGNED[k][1]:
        return "Cn"
    return "Mn" if ch == "\u1734" else unicodedata.category(ch)


def _java_is_word(ch: str) -> bool:
    return (ch in _ASCII_WORD
            or (ch > "\x7f" and _java_category(ch) in _LETTER_OR_DIGIT))


def _java_word_before(text: str, i: int) -> bool:
    """Whether ``java.util.regex``'s ``\\b`` counts the character before
    position ``i`` as a word character (``Pattern.Bound.check``).

    That is true for a letter, a digit or ``_``, and for a non-spacing mark
    (category Mn) whose run of marks rests on a letter or digit
    (``hasBaseCharacter``).  Java walks that run back one UTF-16 unit at a
    time, so it stops, with no base, at any supplementary character: on an
    astral mark before ``i`` at once, and on an astral base under BMP
    marks."""
    if i == 0:
        return False
    ch = text[i - 1]
    if _java_is_word(ch):
        return True
    if ord(ch) > 0xFFFF or _java_category(ch) != "Mn":
        return False
    for k in range(i - 2, -1, -1):
        ch = text[k]
        if ord(ch) > 0xFFFF:
            return False
        cat = _java_category(ch)
        if cat in _LETTER_OR_DIGIT:
            return True
        if cat != "Mn":
            return False
    return False


def _java_word_at(text: str, i: int) -> bool:
    """Whether Java's ``\\b`` counts the character at ``i`` as a word
    character, given that ``text[i - 1]`` is an ASCII digit: a
    non-spacing mark then always has a base."""
    if i == len(text):
        return False
    ch = text[i]
    return _java_is_word(ch) or _java_category(ch) == "Mn"


def _years(text: str) -> List[str]:
    """``\\b(?:YEAR_PATTERN)\\b`` matches under Java's word boundary.
    Matches never overlap: a boundary cannot fall between two digits."""
    out = []
    for m in _YEAR.finditer(text):
        s, e = m.span()
        if not _java_word_before(text, s) and not _java_word_at(text, e):
            out.append(m.group())
    return out


def doc_mention_rows(
        chunks: Iterable[Tuple[int, str]]) -> List[Tuple[str, str, int, int]]:
    """One document's ``(chunk_id, chunk_text)`` pairs ->
    ``(term, kind, n_mentions, first_chunk_id)`` rows, one per distinct
    (term, kind): its occurrence count over all chunks and the smallest
    chunk id it occurs in."""
    count: Dict[Tuple[str, str], int] = {}
    first: Dict[Tuple[str, str], int] = {}

    def add(values, kind, cid, lower):
        for v, n in Counter(values).items():
            key = (v.lower() if lower else v, kind)
            if key in count:
                count[key] += n
                if cid < first[key]:
                    first[key] = cid
            else:
                count[key] = n
                first[key] = cid

    for cid, text in chunks:
        add(_TERM.findall(text), "term", cid, True)
        if "@" in text:
            add(_EMAIL.findall(text), "email", cid, True)
        add(_years(text), "year", cid, False)
    return [(t, k, n, first[(t, k)]) for (t, k), n in count.items()]
