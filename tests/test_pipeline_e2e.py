"""End-to-end pipeline tests on the sf0.001 synthetic corpus."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from docling_graph_spark.pipeline import PipelineConfig, run_on_testdata
from docling_graph_spark.sources.web_pages import synthesize_web_pages


@pytest.fixture(scope="module")
def result(spark, sf_smoke_dir):
    cfg = PipelineConfig(max_tokens=25, id_mode="xxhash64")
    return run_on_testdata(spark, sf_smoke_dir, cfg)


def test_extracted_text_byte_identical(spark, sf_smoke_dir):
    """THE invariant: extracted text per url == source text, byte for byte,
    for both HTML and fake-PDF payload rows."""
    from docling_graph_spark.operators.extract import extract_and_chunk

    pages = synthesize_web_pages(spark, sf_smoke_dir)
    extracted = extract_and_chunk(pages, 25, 8000, 0.85)
    mismatches = (
        extracted.join(pages.select("url", F.col("text").alias("truth")), "url")
        .filter(
            (F.col("text") != F.col("truth")) | F.col("error").isNotNull()
        )
    )
    rows = mismatches.select("url", "kind", "error").limit(5).collect()
    assert mismatches.count() == 0, f"mismatched extractions: {rows}"
    kinds = dict(
        extracted.groupBy("kind").count().collect()
    )
    assert kinds.get("pdf", 0) > 0 and kinds.get("html", 0) > 0


def test_bytes_stripped_positive(result):
    assert result.extracted.filter(
        (F.col("kind") == "html") & (F.col("bytes_stripped") <= 0)
    ).count() == 0


def test_chunks_cover_document(result, spark, sf_smoke_dir):
    """Chunk spans reconstruct the document text (single-space corpus:
    fixed-width splits, strip-gaps of at most 1 space)."""
    docs = spark.read.parquet(f"{sf_smoke_dir}/documents.parquet")
    joined = (
        result.chunks.groupBy("url")
        .agg(
            F.sum(F.col("end") - F.col("start")).alias("covered"),
            F.max("end").alias("max_end"),
            F.count("*").alias("n_chunks"),
        )
    )
    total = joined.count()
    assert total > 0
    # every document (44..577 chars) with max_tokens=25 (100 chars) chunks
    bad = joined.filter(
        (F.col("max_end") <= 0) | (F.col("covered") <= 0)
    ).count()
    assert bad == 0
    # multi-chunk docs exist (longest docs are > 100 chars)
    assert joined.filter(F.col("n_chunks") > 1).count() > 0


def test_chunk_count_matches_fixed_width_formula(result, spark, sf_smoke_dir):
    """On a delimiter-free corpus the greedy chunker degrades to fixed-width
    slicing: n_chunks == ceil(len/100)."""
    docs = spark.read.parquet(f"{sf_smoke_dir}/documents.parquet")
    expected = docs.select(
        F.col("text"),
        F.ceil(F.length("text") / 100.0).cast("long").alias("expected_chunks"),
        F.col("doc_id"),
    )
    from docling_graph_spark.sources.web_pages import url_expr

    expected = expected.select(
        url_expr(F.col("doc_id")).alias("url"), "expected_chunks"
    )
    actual = result.chunks.groupBy("url").agg(F.count("*").alias("n"))
    diff = expected.join(actual, "url").filter(
        F.col("n") != F.col("expected_chunks")
    )
    assert diff.count() == 0


def test_graph_structure(result):
    nodes, edges = result.nodes, result.edges
    labels = {r["label"] for r in nodes.select("label").distinct().collect()}
    assert labels == {"WebDocument", "Chunk", "Term"}
    elabels = {r["label"] for r in edges.select("label").distinct().collect()}
    assert elabels == {"has_chunk", "mentions"}
    # no orphans post-cleanup
    from docling_graph_spark.operators.graph import orphan_edge_count

    assert orphan_edge_count(nodes, edges) == 0
    # ids unique
    assert nodes.count() == nodes.select("id").distinct().count()


def test_fingerprint_no_collisions(result):
    from docling_graph_spark.operators.graph import fingerprint_collision_check

    assert fingerprint_collision_check(result.nodes).count() == 0


def test_blake2b_ids_match_reference_registry(spark, sf_smoke_dir):
    """Parity: relational blake2b node ids == reference NodeIDRegistry ids."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__)))
    from parity.ref_loader import load_ref
    from pydantic import BaseModel

    ref_reg_mod = load_ref("core/converters/node_id_registry.py")

    class WebDocument(BaseModel):
        url: str
        model_config = {"graph_id_fields": ["url"]}

    cfg = PipelineConfig(max_tokens=25, id_mode="blake2b")
    res = run_on_testdata(spark, sf_smoke_dir, cfg)
    sample = (
        res.nodes.filter(F.col("label") == "WebDocument")
        .select("id", F.col("properties")["url"].alias("url"))
        .limit(20)
        .collect()
    )
    reg = ref_reg_mod.NodeIDRegistry()
    for row in sample:
        assert row["id"] == reg.get_node_id(WebDocument(url=row["url"]))


def test_metrics_shape(result):
    rows = result.metrics.collect()
    assert sum(r["docs_parsed"] for r in rows) == 500
    assert all(r["errors"] == 0 for r in rows)
    assert len(rows) > 7  # hosts spread


def test_hybrid_chunker_pipeline(spark, sf_smoke_dir):
    """chunker="hybrid" runs the heading-aware chunker end-to-end: chunk
    nodes carry a heading property (empty path on the heading-less synthetic
    corpus), graph assembles, and per-doc chunk spans still tile the text."""
    cfg = PipelineConfig(max_tokens=25, id_mode="xxhash64", chunker="hybrid")
    res = run_on_testdata(spark, sf_smoke_dir, cfg)
    labels = dict(res.nodes.groupBy("label").count().collect())
    assert labels.get("WebDocument", 0) > 0 and labels.get("Chunk", 0) > 0
    chunk_props = (
        res.nodes.filter(F.col("label") == "Chunk")
        .select(F.map_keys("properties").alias("ks")).limit(1).collect()
    )
    assert "heading" in chunk_props[0]["ks"]
    assert "batch_id" not in chunk_props[0]["ks"]
    # span lineage: chunk text equals the extracted text slice
    joined = (
        res.chunks.alias("c")
        .join(res.extracted.select("url", F.col("text").alias("doc")), "url")
        .withColumn("slice", F.expr("substring(doc, start + 1, end - start)"))
    )
    assert joined.filter(F.col("slice") != F.col("text")).count() == 0
    assert res.edges.filter(F.col("label") == "has_chunk").count() > 0


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation: a 4-chain (transitive dups) and a triangle
    resolve to two components labelled by their min member."""
    from docling_graph_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain: {1,2,3,4}
         (10, 11), (11, 12), (10, 12)], # triangle: {10,11,12}
        "doc_a long, doc_b long",
    )
    for thr in (0, 100_000):  # distributed pointer-jumping AND driver union-find
        labels = {r.id: r.component
                  for r in connected_components(
                      pairs, driver_threshold=thr).collect()}
        assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_ivf_recall_vs_brute_force(spark, sf_smoke_dir):
    """Index quality, not just plumbing: IVF top-5 with nprobe=4 of 16 lists
    must recover most of the exact top-5 on the smoke embeddings."""
    from docling_graph_spark.operators import ann as op_ann

    emb = spark.read.parquet(f"{sf_smoke_dir}/embeddings.parquet")
    queries = emb.limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    exact = op_ann.brute_force_knn(emb, queries, k=5)
    approx = op_ann.ivf_knn(emb, queries, k=5, n_centroids=16, nprobe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below floor"


def test_connected_components_long_path(spark):
    """Pointer jumping: a 60-node path converges well within the round
    budget (plain neighbor-min needs diameter rounds and would not)."""
    from docling_graph_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    labels = connected_components(pairs, driver_threshold=0)
    comps = {r.component for r in labels.collect()}
    assert comps == {0}
    assert labels.count() == 61


@pytest.mark.slow
def test_connected_components_paths_agree(spark):
    """Scale-adaptive equivalence: the driver union-find shortcut and the
    distributed pointer-jumping loop produce identical labelings on random
    graphs (mixed cliques, chains, stars, singleton-pair edges)."""
    import random

    from docling_graph_spark.operators.dedup import connected_components

    rng = random.Random(42)
    for trial in range(3):
        n = 80
        edges = set()
        while len(edges) < 70:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        pairs = spark.createDataFrame(
            sorted(edges), "doc_a long, doc_b long")
        fast = {(r.id, r.component) for r in
                connected_components(pairs).collect()}
        dist = {(r.id, r.component) for r in
                connected_components(pairs, driver_threshold=0).collect()}
        assert fast == dist, f"trial {trial}"


def test_malformed_payloads_never_crash(spark):
    """Adversarial payload rows flow through the full pipeline as error /
    filtered rows — never exceptions, never dropped from the metrics."""
    import datetime

    from docling_graph_spark import schemas
    from docling_graph_spark.pipeline import run_pipeline

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("https://a.example.com/ok", ts,
         b"<!DOCTYPE html><html><body><p>" + b"good content here " * 20
         + b"</p></body></html>", None, "en"),
        ("https://a.example.com/empty", ts, b"", None, "en"),
        ("https://a.example.com/null", ts, None, None, "en"),
        ("https://a.example.com/pdfjunk", ts, b"%PDF-1.4 garbage no objects",
         None, "en"),
        ("https://a.example.com/bad-utf8", ts,
         b"\xff\xfe<html><body><p>\xc3\x28 broken</p></body></html>",
         None, "en"),
        ("https://a.example.com/boilerplate-only", ts,
         b"<html><body><p></p></body></html>", None, "en"),
        ("https://a.example.com/nulls", ts,
         b"<html><body><p>text with nulls</p></body></html>", None, None),
    ]
    pages = spark.createDataFrame(rows, schema=schemas.WEB_PAGES)
    cfg = PipelineConfig(max_tokens=25, id_mode="xxhash64")
    res = run_pipeline(pages, cfg)

    # every input row is accounted for in the raw extraction relation
    raw = res.extracted_all.collect()
    assert len(raw) == len(rows)
    by_url = {r["url"].rsplit("/", 1)[-1]: r for r in raw}
    assert by_url["ok"]["error"] is None and by_url["ok"]["text"]
    # junk rows surface as error values or empty text, never exceptions
    for key in ("empty", "null", "pdfjunk"):
        r = by_url[key]
        assert r["error"] is not None or not (r["text"] or "").strip(), key

    # downstream graph assembles from the surviving rows only, no crash
    nodes = res.nodes.collect()
    edges = res.edges.collect()
    assert any(n["label"] == "WebDocument" for n in nodes)
    ids = {n["id"] for n in nodes}
    assert all(e["src"] in ids and e["dst"] in ids for e in edges)

    # determinism: identical input -> identical node-id set
    res2 = run_pipeline(pages, cfg)
    assert {n["id"] for n in res2.nodes.collect()} == ids


def test_observation_counters_ride_first_action(spark, sf_smoke_dir):
    """df.observe side-channel: run-level docs/bytes/errors totals arrive
    with the FIRST output action — no extra job — and agree exactly with
    the per-host metrics relation's sums."""
    import pyspark.sql.functions as F

    from docling_graph_spark.pipeline import PipelineConfig, run_on_testdata

    res = run_on_testdata(spark, sf_smoke_dir, PipelineConfig(max_tokens=25))
    res.nodes.count()  # any action populates the observation
    got = res.run_counters
    m = res.metrics.agg(
        F.sum("docs_parsed"), F.sum("bytes_stripped"), F.sum("errors")
    ).collect()[0]
    assert (got["docs_parsed"], got["bytes_stripped"], got["errors"]) \
        == tuple(m)
    assert got["docs_parsed"] > 0


# layer attributes perfbench/probes.instrument wraps: the traced benchmark
# reroutes these module attributes, so run_pipeline / CheckpointedRun must
# keep calling each one through its module
_PROBED = {
    "extract": ("extract_and_chunk",),
    "chunk": ("chunks_from_combined",),
    "entities": ("extract_mentions", "doc_mentions"),
    "graph": ("assemble_web_graph", "clean_graph"),
    "stats": ("partition_metrics",),
    "checkpointing": ("pending_inputs",),
}


@pytest.mark.parametrize("chunker", ["fallback", "hybrid"])
def test_probe_contract_each_layer_called_once(spark, sf_smoke_dir,
                                               tmp_path, monkeypatch,
                                               chunker):
    """Every layer attribute the benchmark tracer wraps is reached exactly
    once per pipeline build; a refactor that bypasses one would silently
    empty that layer's row of the `--trace 1` report."""
    import importlib
    import os
    import re

    from docling_graph_spark.checkpointing import CheckpointedRun
    from docling_graph_spark.pipeline import run_pipeline

    probes = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "probes.py")
    with open(probes) as fh:
        wrapped = set(re.findall(r'_patch\(patches, (\w+), "(\w+)"',
                                 fh.read()))
    assert wrapped == {(m, a) for m, attrs in _PROBED.items()
                       for a in attrs}

    calls = {}

    def counting(key, orig):
        def wrapped_fn(*a, **kw):
            calls[key] = calls.get(key, 0) + 1
            return orig(*a, **kw)
        return wrapped_fn

    for mod_name, attrs in _PROBED.items():
        pkg = ("docling_graph_spark.checkpointing"
               if mod_name == "checkpointing"
               else f"docling_graph_spark.operators.{mod_name}")
        mod = importlib.import_module(pkg)
        for attr in attrs:
            monkeypatch.setattr(mod, attr,
                                counting(attr, getattr(mod, attr)))

    pages = synthesize_web_pages(spark, sf_smoke_dir).limit(20)
    cfg = PipelineConfig(max_tokens=25, id_mode="xxhash64",
                         materialize=False, chunker=chunker)
    run_pipeline(pages, cfg)
    layer_attrs = {a for m, attrs in _PROBED.items()
                   if m != "checkpointing" for a in attrs}
    assert calls == {a: 1 for a in layer_attrs}

    calls.clear()
    assert CheckpointedRun(spark, str(tmp_path / "ckpt"), cfg).run(pages) > 0
    assert calls["pending_inputs"] == 1
    assert calls == {a: 1 for a in layer_attrs | {"pending_inputs"}}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("chunker", ["fallback", "hybrid"])
def test_doc_mentions_equal_jvm_oracle_over_chunks(spark, sf_correct_dir,
                                                   chunker):
    """The UDF-side mention aggregate equals the JVM regex expressions
    (tests/test_mentions.py) applied to the pipeline's own chunk rows,
    for both chunkers."""
    from test_mentions import jvm_doc_mentions

    cfg = PipelineConfig(id_mode="xxhash64", chunker=chunker)
    res = run_on_testdata(spark, sf_correct_dir, cfg)
    try:
        want = jvm_doc_mentions(res.chunks)
        got = res.doc_mentions
        assert got.columns == want.columns
        assert _rows(got) == _rows(want)
        assert got.count() > 0
    finally:
        res.unpersist()


def test_doc_mentions_schema_and_plan(result):
    """doc_mentions is a projection of the one persisted relation: no
    Exchange beyond those under the UDF input, one persist root, and the
    declared schemas.DOC_MENTIONS names and types."""
    from docling_graph_spark import schemas

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert result._persist_roots() == (result.combined,)
    assert plan(result.doc_mentions).count("Exchange") \
        == plan(result.combined).count("Exchange")
    assert [(f.name, f.dataType) for f in result.doc_mentions.schema] \
        == [(f.name, f.dataType) for f in schemas.DOC_MENTIONS]


@pytest.mark.parametrize("chunker", ["fallback", "hybrid"])
def test_email_and_year_terms(spark, chunker):
    """Hand-built pages with emails and years yield ``email`` and
    ``year`` Term nodes with hand-counted n_docs and total_mentions."""
    import datetime

    from docling_graph_spark import schemas
    from docling_graph_spark.pipeline import run_pipeline

    filler = "plain words about nothing much " * 8
    texts = {
        "a": f"Write to Alice.Smith@Example.com or bob@test.org about the "
             f"1999 report and 2020. {filler} alice.smith@example.com has "
             f"the 1999 draft.",
        "b": f"Founded in 1999, reach bob@test.org any time. {filler}",
        "c": f"No mentions of that kind here: 19999 and 2100. {filler}",
    }
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"https://m.example.com/{k}", ts,
          f"<html><body><article><p>{t}</p></article></body></html>"
          .encode(), None, "en") for k, t in texts.items()],
        schema=schemas.WEB_PAGES)
    cfg = PipelineConfig(id_mode="xxhash64", chunker=chunker)
    res = run_pipeline(pages, cfg)
    try:
        got = {(r.properties["term"], r.properties["kind"]):
               (int(r.properties["n_docs"]),
                int(r.properties["total_mentions"]))
               for r in res.nodes.where(
                   (F.col("label") == "Term")
                   & F.col("properties")["kind"].isin("email", "year"))
               .collect()}
    finally:
        res.unpersist()
    assert got == {
        ("alice.smith@example.com", "email"): (1, 2),
        ("bob@test.org", "email"): (2, 2),
        ("1999", "year"): (2, 3),
        ("2020", "year"): (1, 1),
    }


@pytest.mark.parametrize("chunker", ["fallback", "hybrid"])
def test_one_python_pass_per_document(spark, sf_smoke_dir, chunker):
    """Both chunkers plan inside the one extraction UDF: the relation every
    other one is projected from runs exactly one ArrowEvalPython."""
    from docling_graph_spark.pipeline import run_pipeline

    pages = synthesize_web_pages(spark, sf_smoke_dir).limit(20)
    res = run_pipeline(pages, PipelineConfig(
        max_tokens=25, id_mode="xxhash64", chunker=chunker,
        materialize=False))
    plan = res.combined._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_extractable_is_python_isspace(spark):
    """The JVM P1 predicate agrees with the UDF's in-process rule on every
    code point a Spark string can hold (all but the surrogates): a
    one-character text is extractable iff the character is not
    ``str.isspace``."""
    from pyspark.sql.functions import pandas_udf

    from docling_graph_spark.operators.extract import extractable

    @pandas_udf("string")
    def char(cp: pd.Series) -> pd.Series:
        return cp.map(chr)

    cps = spark.range(0, 0x110000).where(
        (F.col("id") < 0xD800) | (F.col("id") > 0xDFFF))
    rows = cps.select("id", char("id").alias("text"),
                      F.lit(None).cast("string").alias("error"))
    rejected = {r.id for r in rows.where(~extractable()).collect()}
    assert rejected == {cp for cp in range(0x110000) if chr(cp).isspace()}
    assert len(rejected) == 29


@pytest.mark.parametrize("chunker", ["fallback", "hybrid"])
def test_whitespace_only_text_is_not_extracted(spark, chunker):
    """P1: a document whose text is only str.isspace characters (a tab, a
    no-break space) is neither extracted nor chunked, for both chunkers;
    the run counter agrees with the filtered relation."""
    import datetime

    from docling_graph_spark import schemas
    from docling_graph_spark.kernels.pdf_stub import make_fake_pdf
    from docling_graph_spark.pipeline import run_pipeline

    ts = datetime.datetime(2024, 1, 1)
    body = "plain words about nothing much " * 8
    pages = spark.createDataFrame([
        ("https://w.example.com/tab", ts, make_fake_pdf("\t"), None, "en"),
        ("https://w.example.com/nbsp", ts, make_fake_pdf("\xa0"), None,
         "en"),
        ("https://w.example.com/ok", ts, make_fake_pdf(body), None, "en"),
    ], schema=schemas.WEB_PAGES)
    res = run_pipeline(pages, PipelineConfig(id_mode="xxhash64",
                                             chunker=chunker))
    try:
        raw = {r.url: (r.text, r.error) for r in res.extracted_all.collect()}
        assert raw["https://w.example.com/tab"] == ("\t", None)
        assert raw["https://w.example.com/nbsp"] == ("\xa0", None)
        ok = ["https://w.example.com/ok"]
        assert [r.url for r in res.extracted.collect()] == ok
        assert sorted({r.url for r in res.chunks.collect()}) == ok
        docs = res.nodes.where(F.col("label") == "WebDocument")
        assert [r.properties["url"] for r in docs.collect()] == ok
        assert res.run_counters["docs_extracted"] == 1
    finally:
        res.unpersist()


def test_hybrid_chunks_equal_driver_side_kernel(spark):
    """Hybrid chunk rows built JVM-side from the UDF's offsets equal
    `hybrid_chunk` + `contextualize` applied driver-side to the extracted
    documents: nested h1/h2/h3 headings, non-ASCII (incl. astral) heading
    and body text, merged peers and a split oversized block."""
    import datetime

    from docling_graph_spark import schemas
    from docling_graph_spark.kernels import hybrid_chunker as hc
    from docling_graph_spark.pipeline import run_pipeline

    long_para = "Ünïcødé sentence with 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 glyphs. " * 12
    pages_html = {
        "a": ("<h1>Überblick 概要</h1><p>Erste Absätze über Straßen.</p>"
              "<h2>Détails</h2><p>Café au lait, crème brûlée.</p>"
              "<p>Naïve façade, résumé.</p><h3>Tiefer 🌲</h3>"
              f"<p>{long_para}</p><h2>Zweiter Abschnitt</h2>"
              "<p>Schluss mit Ωmega.</p>"),
        "b": ("<h1>Plain heading</h1><p>Ascii body text here.</p>"
              "<h3>Skipped level</h3><p>Δelta paragraph 😀 end.</p>"
              "<h1>Another top</h1><p>Last words.</p>"),
        "c": f"<p>No headings at all, only ümlauts. {long_para}</p>",
    }
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"https://h.example.com/{k}", ts,
          f"<html><body><article>{v}</article></body></html>".encode(),
          None, "en") for k, v in pages_html.items()],
        schema=schemas.WEB_PAGES)
    max_tokens = 30
    res = run_pipeline(pages, PipelineConfig(
        max_tokens=max_tokens, id_mode="xxhash64", chunker="hybrid"))
    try:
        want = []
        for r in res.extracted.collect():
            blocks = [hc.Block(b.start, b.end, b.tag) for b in r.spans]
            for c in hc.hybrid_chunk(r.text, blocks, max_tokens):
                assert c.text == r.text[c.start:c.end]
                want.append((r.url, c.chunk_id, c.start, c.end, c.text,
                             list(c.heading_path), hc.contextualize(c),
                             c.token_est))
        got = [tuple(r) for r in res.chunks.drop("lang").collect()]
        assert res.chunks.columns == [
            "url", "lang", "chunk_id", "start", "end", "text",
            "heading_path", "context", "token_est"]
        assert sorted(got) == sorted(want)
        assert {len(w[5]) for w in want} >= {0, 1, 2, 3}
        assert len(want) > len(pages_html) * 2
    finally:
        res.unpersist()
