"""Pluggable token counting (kernels/tokenization.py): heuristic default is
byte-stable, custom counters drive budget decisions deterministically, and
a requested-but-unavailable tokenizer falls back with a warning (reference
`document_chunker.py:60-95` fallback chain)."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from docling_graph_spark.kernels import hybrid_chunker as hc
from docling_graph_spark.kernels.batching import estimate_tokens
from docling_graph_spark.kernels.tokenization import get_token_counter


def test_default_counter_is_reference_heuristic():
    count = get_token_counter(None)
    for text in ["", "abc", "word " * 50, "x" * 1234]:
        assert count(text) == estimate_tokens(text)


def test_callable_passes_through():
    counter = lambda s: len(s.split())  # noqa: E731
    assert get_token_counter(counter) is counter


def test_unavailable_tokenizer_falls_back_with_warning():
    # no tokenizer library in this container: string names must warn once
    # and return the heuristic, not raise
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        count = get_token_counter("sentence-transformers/all-MiniLM-L6-v2")
    assert any("falling back" in str(x.message) for x in w)
    assert count("hello world") == estimate_tokens("hello world")


def _doc():
    blocks_text = ["Title", "alpha beta", "gamma delta", "epsilon zeta"]
    tags = ["h1", "p", "p", "p"]
    text = "\n\n".join(blocks_text)
    blocks, pos = [], 0
    for t, tag in zip(blocks_text, tags):
        blocks.append(hc.Block(pos, pos + len(t), tag))
        pos += len(t) + 2
    return text, blocks


def test_custom_counter_changes_merge_decisions_deterministically():
    text, blocks = _doc()
    # word counter with budget 4: each 2-word paragraph fits, one merge of
    # two paragraphs (4 words) fits, adding the third (6 words) does not
    words = lambda s: len(s.split())  # noqa: E731
    got1 = hc.hybrid_chunk(text, blocks, max_tokens=4, token_counter=words)
    got2 = hc.hybrid_chunk(text, blocks, max_tokens=4, token_counter=words)
    assert got1 == got2  # deterministic
    assert [c.text for c in got1] == [
        "alpha beta\n\ngamma delta", "epsilon zeta"
    ]
    assert [c.token_est for c in got1] == [4, 2]
    # heuristic counter (chars/3*1.2): full merge is 37 chars -> 14 tokens,
    # so budget 15 merges everything where the word counter split
    heur = hc.hybrid_chunk(text, blocks, max_tokens=15)
    assert [c.text for c in heur] == ["alpha beta\n\ngamma delta"
                                      "\n\nepsilon zeta"]


def test_pipeline_chunker_accepts_tokenizer_name(spark, sf_smoke_dir):
    """tokenizer_name threads through the Arrow UDF; in this container it
    resolves to the heuristic, so output must equal the default path."""
    from docling_graph_spark.operators.chunk import chunks_from_combined
    from docling_graph_spark.operators.extract import extract_and_chunk
    from docling_graph_spark.sources.web_pages import synthesize_web_pages

    pages = synthesize_web_pages(spark, sf_smoke_dir).limit(40)

    def chunks(**kw):
        return chunks_from_combined(extract_and_chunk(
            pages, 25, 8000, 0.85, **kw)).orderBy("url", "chunk_id")

    base = chunks()
    named = chunks(tokenizer_name="any/model")
    assert base.count() > 0
    assert [tuple(r) for r in base.collect()] == \
        [tuple(r) for r in named.collect()]
