"""Corpus-trained BPE (kernels/bpe.py + operators/subword.py): the
Sennrich 2016 worked example, encode/train consistency, deterministic
tie-breaks, and the distributed train→broadcast→count round trip."""

from __future__ import annotations

from docling_graph_spark.kernels.bpe import (
    BpeEncoder,
    pretokenize,
    train_bpe,
)

# the worked example from Sennrich et al. 2016 §3.2
SENNRICH = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]


def test_pretokenize():
    assert pretokenize("Hello, WORLD 42 foo-bar") == \
        ["hello", "world", "foo", "bar"]
    assert pretokenize("") == []
    assert pretokenize("123 !!") == []


def test_sennrich_first_merges():
    merges = train_bpe(SENNRICH, 5)
    # ('e','s') count 9 wins over equal-count ('s','t')/('t','</w>') by
    # lexicographic tie-break, then the chain builds 'est</w>' and 'low'
    assert merges == [("e", "s"), ("es", "t"), ("est", "</w>"),
                      ("l", "o"), ("lo", "w")]


def test_encode_matches_training_segmentation():
    merges = train_bpe(SENNRICH, 10)
    enc = BpeEncoder(merges)
    # 'lowest' was never a training word, but its pieces were
    assert enc.encode_word("lowest") == ("low", "est</w>")
    # training words encode to their fully-merged training forms
    assert enc.encode_word("low")[-1].endswith("</w>")
    assert "".join(enc.encode_word("newest")) == "newest</w>"


def test_merge_count_honored_and_early_stop():
    assert len(train_bpe(SENNRICH, 3)) == 3
    # every pair unique -> nothing reaches count 2 -> no merges at all
    assert train_bpe([("abc", 1), ("xyz", 1)], 10) == []


def test_tie_break_is_lexicographic():
    # two disjoint words, same freq: all pairs have count 2; the smallest
    # pair lexicographically is ('a','b')
    merges = train_bpe([("ab", 2), ("cd", 2)], 1)
    assert merges == [("a", "b")]


def test_count_equals_encode_len():
    merges = train_bpe(SENNRICH, 8)
    enc = BpeEncoder(merges)
    text = "the lowest and the widest newest low"
    assert enc.count(text) == len(enc.encode(text))


def test_spark_train_and_count(spark, sf_smoke_dir):
    """Distributed word counts -> driver train -> broadcast count UDF; the
    UDF result must equal a driver-side re-encode of the same rows, and
    training must be invariant to input partitioning."""
    from docling_graph_spark.operators.subword import (
        bpe_corpus_report,
        bpe_token_stats,
        train_bpe_merges,
    )

    docs = spark.read.parquet(f"{sf_smoke_dir}/documents.parquet") \
        .select("doc_id", "text").limit(200)
    merges = train_bpe_merges(docs, n_merges=60)
    assert len(merges) == 60
    merges_rep = train_bpe_merges(docs.repartition(7), n_merges=60)
    assert merges == merges_rep

    stats = {r["doc_id"]: r for r in
             bpe_token_stats(docs, merges).collect()}
    enc = BpeEncoder(merges)
    for row in docs.collect():
        toks = enc.encode(row["text"] or "")
        got = stats[row["doc_id"]]
        assert got["n_tokens"] == len(toks)
        assert got["n_words"] == len(pretokenize(row["text"] or ""))

    rep = bpe_corpus_report(docs, merges).collect()[0]
    assert rep["n_docs"] == 200
    assert rep["total_tokens"] == sum(r["n_tokens"] for r in stats.values())
    # a trained vocabulary must compress: fewer tokens than characters,
    # more than words
    assert rep["total_words"] < rep["total_tokens"] < rep["total_chars"]


def test_bpe_counter_bounds_chunking(spark, sf_smoke_dir):
    """The ('bpe', merges) spec travels into the chunker UDF and bounds
    every chunk by the TRAINED count, not the length heuristic."""
    from docling_graph_spark.kernels.bpe import BpeEncoder
    from docling_graph_spark.kernels.tokenization import get_token_counter
    from docling_graph_spark.operators.chunk import chunks_from_combined
    from docling_graph_spark.operators.extract import extract_and_chunk
    from docling_graph_spark.operators.subword import train_bpe_merges
    from docling_graph_spark.sources.web_pages import synthesize_web_pages

    docs = spark.read.parquet(f"{sf_smoke_dir}/documents.parquet") \
        .select("doc_id", "text").limit(50)
    merges = train_bpe_merges(docs, n_merges=40)

    counter = get_token_counter(("bpe", merges))
    assert counter("the lowest bid") == \
        len(BpeEncoder(merges).encode("the lowest bid"))

    # the corpus pages: their extracted text is the documents' text
    pages = synthesize_web_pages(spark, sf_smoke_dir).limit(50)
    chunks = chunks_from_combined(extract_and_chunk(
        pages, 30, 8000, 0.85, tokenizer_name=("bpe", merges))).collect()
    assert chunks
    # chunk SPANS stay byte-parity-anchored (char heuristic, kernels
    # chunking F13) but every token ESTIMATE — what batching budgets on —
    # must be the TRAINED count, not len/4*1.2
    from docling_graph_spark.kernels.batching import CHUNK_OVERHEAD_TOKENS
    enc = BpeEncoder(merges)
    heuristic_hits = 0
    for c in chunks:
        expect = enc.count(c["text"]) + CHUNK_OVERHEAD_TOKENS
        assert c["token_est"] == expect
        if c["token_est"] == int(len(c["text"]) / 4 * 1.2) + \
                CHUNK_OVERHEAD_TOKENS:
            heuristic_hits += 1
    # and the trained counts genuinely differ from the heuristic
    assert heuristic_hits < len(chunks)
