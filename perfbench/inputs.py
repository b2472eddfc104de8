"""Seeded benchmark inputs.

The pipeline's web-page source (`sources.web_pages.synthesize_web_pages`)
derives pages from a ``documents.parquet`` table.  The benchmark writes that
table itself from ``--seed`` — same vocabulary, word-count range and language
mix as the project's sf0.1 test corpus (5,000 documents of 10-99 words) — so
a run depends on nothing outside its checkout.  Everything here runs before
timing starts; the pipeline only ever sees the resulting DataFrame.
"""

from __future__ import annotations

import random
from pathlib import Path

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)


def write_documents(sf_dir: Path, n_docs: int, seed: int) -> Path:
    """Write ``sf_dir/documents.parquet`` (doc_id, text, lang, source,
    n_chars) with ``n_docs`` rows drawn from ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 99)))
             for _ in range(n_docs)]
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    sf_dir.mkdir(parents=True, exist_ok=True)
    path = sf_dir / "documents.parquet"
    pq.write_table(table, path)
    return path


def build_pages(spark, sf_dir: Path, seed: int, replicate: int,
                fatten_to_bytes: int):
    """web_pages over ``sf_dir``, replicated ``replicate`` times with a
    seed-dependent url suffix (host unchanged, so the host skew holds),
    persisted and counted.  Returns (pages, n_docs, html_bytes)."""
    from pyspark.sql import functions as F

    from docling_graph_spark.sources.web_pages import synthesize_web_pages

    if not (sf_dir / "documents.parquet").is_file():
        raise FileNotFoundError(f"input table missing: {sf_dir}/documents.parquet")
    base = synthesize_web_pages(spark, str(sf_dir),
                                fatten_to_bytes=fatten_to_bytes)
    reps = spark.range(replicate).select(F.col("id").alias("rep"))
    pages = (
        base.crossJoin(F.broadcast(reps))
        .withColumn("url", F.concat(F.col("url"), F.lit(f"?s={seed}&r="),
                                    F.col("rep").cast("string")))
        .drop("rep")
    )
    # the broadcast cross join keeps the source's partitioning, which
    # synthesize_web_pages already spread over the session's parallelism
    pages._dgspark_parallel_ok = True
    pages = pages.persist()
    row = pages.agg(F.count("*").alias("n"),
                    F.sum(F.length("html")).alias("b")).collect()[0]
    return pages, int(row.n), int(row.b)

