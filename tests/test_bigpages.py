"""Realistic-page-size mode: `synthesize_web_pages(fatten_to_bytes=...)`
repeats each document's text to ~N bytes of body (real crawl pages run
50-100 KB vs the sf corpus's ~300 B average) while preserving the
north-rule byte-parity invariant — the ground-truth `text` column goes
through the same transform, so extracted text must still equal it exactly.
`bench.py --bigpages` runs the same check at sf0.1 / 50 KB.
"""

from pyspark.sql import functions as F

from docling_graph_spark.pipeline import PipelineConfig, run_pipeline
from docling_graph_spark.sources.web_pages import synthesize_web_pages


def test_fattened_pages_byte_parity(spark, sf_smoke_dir):
    pages = synthesize_web_pages(spark, sf_smoke_dir, fatten_to_bytes=8192)
    stats = pages.agg(
        F.count("*").alias("n"),
        F.min(F.length("html")).alias("min_b"),
        F.avg(F.length("html")).alias("avg_b"),
    ).collect()[0]
    assert stats.n == 500
    # every page body reached the target (plus boilerplate chrome)
    assert stats.min_b >= 8192
    # pages are near the target, not wildly overshooting (one extra repeat
    # of a <=600 B source text at most)
    assert stats.avg_b < 8192 * 2

    res = run_pipeline(pages, PipelineConfig(id_mode="xxhash64"))
    truth = pages.select("url", F.col("text").alias("truth"))
    joined = res.extracted.select("url", "text").join(truth, "url")
    n_extracted = joined.count()
    assert n_extracted == 500  # no doc lost to fattening
    assert joined.filter(F.col("text") != F.col("truth")).count() == 0


def test_multi_megabyte_single_page(spark):
    """An outlier multi-MB page (real crawls have a long tail of giant pages)
    must extract byte-exactly and chunk with full coverage — linear kernel,
    no recursion/size limit surprises, no Arrow batch blowup."""
    import datetime

    from docling_graph_spark import schemas

    para = ("A long sentence with plenty of words to scan for mentions. "
            "Another follows it to create a break point. ")
    body = "\n\n".join([para.strip()] * (2_000_000 // (len(para) + 2)))
    esc = (body.replace("&", "&amp;").replace("<", "&lt;")
               .replace(">", "&gt;").replace("\n\n", "</p><p>"))
    html = ("<html><body><article><p>" + esc
            + "</p></article></body></html>").encode()
    assert len(html) > 2_000_000
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [("https://giant.example.com/p", ts, html, None, "en")],
        schema=schemas.WEB_PAGES)
    res = run_pipeline(pages, PipelineConfig(id_mode="xxhash64"))
    row = res.extracted.collect()[0]
    assert row.error is None
    assert row.text == body
    chunks = res.chunks.collect()
    assert len(chunks) > 500
    # chunk spans reconstruct the text exactly (substring path at size)
    for c in chunks[:50]:
        assert c.text == body[c.start:c.end]
    assert res.doc_mentions.count() > 0


def test_fatten_zero_is_identity(spark, sf_smoke_dir):
    plain = synthesize_web_pages(spark, sf_smoke_dir)
    fat0 = synthesize_web_pages(spark, sf_smoke_dir, fatten_to_bytes=0)
    a = plain.agg(F.sum(F.crc32(F.col("html"))).alias("h")).collect()[0].h
    b = fat0.agg(F.sum(F.crc32(F.col("html"))).alias("h")).collect()[0].h
    assert a == b
