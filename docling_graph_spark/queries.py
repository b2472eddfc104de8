"""Query catalog: every implemented operator exposed as a (spark_fn, oracle)
pair for the driver's correctness gate (__spark_entry__.py).

Each entry runs the REAL Spark operators (full extraction pipeline where
relevant) and, where the semantics are ANSI-SQL-expressible, ships an
equivalent DuckDB SQL over the same parquet tables.  Column names/aliases are
identical on both sides (the driver hash-compares after sorting columns by
name).  Float-valued aggregates are avoided in oracle-checked queries
(order-dependent double summation is not bit-stable across engines);
money/quantity sums use integer cents.

Flagship pipeline queries run the documents corpus through
synthesize_web_pages → extract → chunk → mention → graph; their oracles
re-derive the result from first principles (the corpus is delimiter-free, so
the reference greedy chunker degenerates to fixed-width slices — verified by
the kernel parity tests; the oracle exploits that closed form).
"""

from __future__ import annotations

from typing import Callable, Dict, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from .operators import ann as op_ann
from .operators import dedup as op_dedup
from .operators.invindex import BLOCK_DOCS as _IX_BLOCK
from .operators import entities as op_entities
from .operators import graph as op_graph
from .operators import stats as op_stats
from .pipeline import PipelineConfig, PipelineResult, run_on_testdata

MAX_TOKENS = 25          # 100-char chunks on the test corpus
BATCH_CONTEXT = 1200     # available=200 -> 2 chunks per batch (cost<=90 each)

# --------------------------------------------------------------------------
# cached pipeline run per sf_dir (queries share the lazy plans + persisted
# extraction so the driver's per-query invocations don't re-extract)

_CACHE: Dict[Tuple[str, str, str], PipelineResult] = {}


def _session_key(spark: SparkSession) -> str:
    """Stable identity for cache keys.  ``id(spark)`` is unsafe: CPython
    reuses object ids after GC, so a fresh session allocated at a dead
    session's address would alias its stale cache entry (DataFrames
    persisted against a stopped context).  The applicationId changes with
    every new SparkContext, so entries die with the context that owns the
    persisted blocks."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # stopped context — never matches a live key
        return f"dead-{id(spark)}"


def clear_caches() -> None:
    """Unpersist and drop every catalog-level cached DataFrame — the hook a
    bench loop calls between corpora so persisted blocks don't accumulate."""
    for res in _CACHE.values():
        try:
            res.unpersist()
        except Exception:
            pass
        for df in (res.nodes, res.edges):
            try:
                df.unpersist()
            except Exception:
                pass
    _CACHE.clear()
    for df in _MINHASH_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _MINHASH_CACHE.clear()
    _FUNNEL_CACHE.clear()
    for df in _TRACKED_PERSISTS.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _TRACKED_PERSISTS.clear()


_TRACKED_PERSISTS: Dict[Tuple[str, str, str], DataFrame] = {}


def _tracked_persist(spark: SparkSession, sf_dir: str, tag: str,
                     df: DataFrame) -> DataFrame:
    """persist() with leak tracking: re-invoking the same query replaces (and
    unpersists) the previous cached blocks instead of stacking a new copy per
    call for the session lifetime."""
    key = (_session_key(spark), sf_dir, tag)
    old = _TRACKED_PERSISTS.get(key)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass
    _TRACKED_PERSISTS[key] = df.persist()
    return df


def _pipeline(spark: SparkSession, sf_dir: str) -> PipelineResult:
    key = (_session_key(spark), sf_dir, "std")
    if key not in _CACHE:
        cfg = PipelineConfig(max_tokens=MAX_TOKENS, id_mode="xxhash64")
        # materialize=True (default) persists extraction/chunk/mention
        # intermediates inside run_pipeline; graph relations are re-read by
        # several catalog queries (counts, degree, validation) — persist
        # them too so assembly runs once
        res = run_on_testdata(spark, sf_dir, cfg)
        res.nodes.persist()
        res.edges.persist()
        _CACHE[key] = res
    return _CACHE[key]


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------------------
# shared oracle SQL fragments

_HOST_ID = "CASE WHEN doc_id % 5 < 2 THEN doc_id % 7 ELSE 7 + doc_id % 211 END"
_URL = ("concat('https://host', CAST(" + _HOST_ID + " AS VARCHAR), "
        "'.example.com/doc/', CAST(doc_id AS VARCHAR))")

# fixed-width chunk slices (delimiter-free corpus, max_chars=100)
_CHUNKS_CTE = f"""
chunks AS (
  SELECT d.doc_id, d.lang, {_URL} AS url, i AS chunk_id,
         substr(d.text, CAST(i*100 + 1 AS BIGINT), 100) AS raw
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0,
                CAST(ceil(length(d.text)/100.0) AS BIGINT) - 1)) AS i)
)
"""

_MENTIONS_CTE = _CHUNKS_CTE + """,
mentions AS (
  SELECT doc_id, lang, url, chunk_id,
         unnest(regexp_extract_all(lower(trim(raw)), '[a-z]{5,}')) AS term
  FROM chunks
)
"""

# exact reconstruction of the synthetic page payload (sources/web_pages.py);
# the html expression is factored out so link-graph oracles can regexp over
# the full page string, not just its length


def _html_page_sql(aside_extra: str = "", head_extra: str = "") -> str:
    """DuckDB twin of web_pages.html_page_expr; ``aside_extra`` is a SQL
    string expression concatenated inside the sidebar aside (the
    with_tables corpus variant), ``head_extra`` one concatenated after the
    title (the with_head_meta variant); '' reproduces the default corpus
    byte-for-byte."""
    extra = f" || {aside_extra}" if aside_extra else ""
    hextra = f" || {head_extra}" if head_extra else ""
    return f"""
  '<!DOCTYPE html><html lang="' || lang || '"><head>'
  || '<title>doc ' || CAST(doc_id AS VARCHAR) || '</title>'{hextra}
  || '<script>var t=1;</script><style>p{{margin:0}}</style></head><body>'
  || '<header><h1>Site host' || CAST({_HOST_ID} AS VARCHAR)
  || '</h1><nav><a href="/">Home</a> <a href="/a' || CAST(doc_id % 10 AS VARCHAR)
  || '">Section ' || CAST(doc_id % 10 AS VARCHAR)
  || '</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav></header>'
  || '<aside class="sidebar"><a href="/x">Trending</a> <a href="/y">Popular</a> <a href="/z">Latest</a>'{extra}
  || '</aside>'
  || '<div id="content"><article><p>'
  || replace(replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), chr(10)||chr(10), '</p><p>')
  || '</p></article></div>'
  || '<footer><a href="/terms">Terms</a> <a href="/privacy">Privacy</a>'
  || ' <a href="https://host' || CAST(doc_id % 7 AS VARCHAR)
  || '.example.com/">Top</a> <a href="https://host'
  || CAST((doc_id * 13 + 5) % 218 AS VARCHAR)
  || '.example.com/doc/' || CAST((doc_id * 31 + 11) % 997 AS VARCHAR)
  || '">Related</a> <p>© 2024 host'
  || CAST({_HOST_ID} AS VARCHAR) || '.example.com</p></footer></body></html>'
"""


_HTML_PAGE_SQL = _html_page_sql().replace("{{", "{").replace("}}", "}")

# with_tables corpus variant (sources/web_pages.py:aside_tables_expr twin):
# layout/nav table every 3rd doc, header+1..4-row data table 6 of 7 docs
_ASIDE_TABLES_SQL = """(
  CASE WHEN doc_id % 3 = 0 THEN
    '<table class="nav"><tr><td><a href="/l1">One</a></td><td><a href="/l2">Two</a></td></tr></table>'
  ELSE '' END
  ||
  CASE WHEN doc_id % 7 <> 6 THEN
    '<table id="stats"><tr><th>metric</th><th>value</th><th>unit</th></tr>'
    || array_to_string(list_transform(generate_series(0, CAST(doc_id % 4 AS BIGINT)),
         i -> '<tr><td>m' || CAST((doc_id + i) % 10 AS VARCHAR)
           || '</td><td>' || CAST((doc_id * 17 + i * 3) % 1000 AS VARCHAR)
           || '</td><td>u' || CAST((doc_id + i) % 5 AS VARCHAR)
           || '</td></tr>'), '')
    || '</table>'
  ELSE '' END
)"""

_PDF_PAYLOAD_SQL = """
  '%PDF-1.4' || chr(10) || '%dgspark synthetic single-stream document'
  || chr(10) || '1 0 obj' || chr(10) || '<< /Type /DGText /Length '
  || CAST(strlen(text) AS VARCHAR) || ' >>' || chr(10) || 'stream'
  || chr(10) || text || chr(10) || 'endstream' || chr(10) || 'endobj'
  || chr(10) || 'trailer' || chr(10) || '%%EOF' || chr(10)
"""

_PAYLOAD_BYTES = f"""
CASE WHEN doc_id % 50 = 49 THEN strlen({_PDF_PAYLOAD_SQL})
ELSE strlen({_HTML_PAGE_SQL})
END
"""

# the full page payload as a string (HTML page or PDF byte stream)
_PAGE_STRING_SQL = f"""
CASE WHEN doc_id % 50 = 49 THEN {_PDF_PAYLOAD_SQL}
ELSE {_HTML_PAGE_SQL} END
"""

# head-metadata markup twin (sources/web_pages.py:head_meta_expr):
# published_time 6 of 7 docs, author 2 of 3, rel=canonical on every HTML
# doc (self-referential except doc_id % 11 == 7 -> previous doc)
_CANON_ID = "(CASE WHEN doc_id % 11 = 7 AND doc_id >= 1 " \
            "THEN doc_id - 1 ELSE doc_id END)"
_HEAD_META_SQL = f"""(
  CASE WHEN doc_id % 7 <> 2 THEN
    '<meta property="article:published_time" content="'
    || CAST(doc_id % 5 + 2020 AS VARCHAR) || '-'
    || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-'
    || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T00:00:00Z">'
  ELSE '' END
  ||
  CASE WHEN doc_id % 3 <> 1 THEN
    '<meta name="author" content="Author ' || CAST(doc_id % 23 AS VARCHAR)
    || '">'
  ELSE '' END
  || '<link rel="canonical" href="' || {_URL.replace("doc_id", _CANON_ID)}
  || '">'
)"""

# schema.org JSON-LD block twin (sources/web_pages.py:ld_json_expr):
# Article %4==0 / NewsArticle %4==2 with headline+wordCount, Product
# %4==1 with a nested offers.price decimal string, no block for %4==3.
# Plain string (not an f-string) and NEVER passed through brace
# replacement — the Product JSON legitimately ends in '}}'.
_LD_JSON_SQL = """(
  CASE WHEN doc_id % 4 = 1 THEN
    '<script type="application/ld+json">{"@context":"https://schema.org","@type":"Product","name":"doc '
    || CAST(doc_id AS VARCHAR)
    || '","offers":{"@type":"Offer","price":"'
    || CAST(doc_id % 500 + 1 AS VARCHAR) || '.'
    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
    || '","priceCurrency":"USD"}}</script>'
  WHEN doc_id % 4 <> 3 THEN
    '<script type="application/ld+json">{"@context":"https://schema.org","@type":"'
    || CASE WHEN doc_id % 4 = 0 THEN 'Article' ELSE 'NewsArticle' END
    || '","headline":"doc ' || CAST(doc_id AS VARCHAR)
    || '","wordCount":' || CAST(doc_id % 900 + 100 AS VARCHAR)
    || '}</script>'
  ELSE '' END)"""

# rich corpus variant: tables in the aside AND metadata + JSON-LD in the
# head.  The legacy brace replaces were no-ops on the pre-JSON-LD string
# (every '{{'/'}}' in _html_page_sql is an f-string escape that renders
# single) and WOULD corrupt the Product JSON-LD's '}}', so they are gone.
_HTML_PAGE_RICH_SQL = _html_page_sql(
    _ASIDE_TABLES_SQL, _HEAD_META_SQL + "\n  || " + _LD_JSON_SQL)
_PAGE_STRING_RICH_SQL = f"""
CASE WHEN doc_id % 50 = 49 THEN {_PDF_PAYLOAD_SQL}
ELSE {_HTML_PAGE_RICH_SQL} END
"""


# --------------------------------------------------------------------------
# pipeline-backed queries


def q_doc_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction byte-identity at aggregate level: per-lang doc counts and
    total extracted characters must equal the source-text totals."""
    res = _pipeline(spark, sf_dir)
    return res.extracted.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    ).orderBy("lang")


SQL_DOC_STATS = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def q_chunk_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 chunking: docs per chunk-count bucket."""
    res = _pipeline(spark, sf_dir)
    per_doc = res.chunks.groupBy("url").agg(F.count("*").alias("n_chunks"))
    return per_doc.groupBy("n_chunks").agg(
        F.count("*").alias("n_docs")
    ).orderBy("n_chunks")


SQL_CHUNK_DISTRIBUTION = """
SELECT CAST(ceil(length(text)/100.0) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_chunk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk relation itself: ids, span offsets and text per chunk."""
    res = _pipeline(spark, sf_dir)
    return res.chunks.select(
        "url",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "start", "end", "text",
    ).orderBy("url", "chunk_id")


SQL_CHUNK_ROWS = f"""
WITH {_CHUNKS_CTE}
SELECT url, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id*100 + (length(raw) - length(ltrim(raw))) AS BIGINT) AS start,
       CAST(chunk_id*100 + (length(raw) - length(ltrim(raw)))
            + length(trim(raw)) AS BIGINT) AS "end",
       trim(raw) AS text
FROM chunks ORDER BY url, chunk_id
"""


def _extracted(pages: DataFrame,
               context_limit: Optional[int] = None) -> DataFrame:
    """``pages`` (url, warc_ts, html, lang) through the engine's one
    extraction UDF (operators/extract.extract_and_chunk) with the catalog's
    chunk size and the fallback chunker."""
    from .operators import chunk as op_chunk
    from .operators.extract import extract_and_chunk

    return extract_and_chunk(
        pages, MAX_TOKENS, context_limit or op_chunk.DEFAULT_CONTEXT_LIMIT,
        op_chunk.DEFAULT_MERGE_THRESHOLD)


def _batch_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus' chunk rows packed with the small BATCH_CONTEXT (chunk
    boundaries identical to the pipeline's)."""
    from .operators import chunk as op_chunk
    from .sources.web_pages import synthesize_web_pages

    return op_chunk.chunks_from_combined(
        _extracted(synthesize_web_pages(spark, sf_dir), BATCH_CONTEXT))


def q_batch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2 greedy pack + undersized merge with a 1200-token context:
    available=200, per-chunk cost<=90 -> exactly 2 chunks per batch."""
    per_doc = _batch_chunks(spark, sf_dir).groupBy("url").agg(
        (F.max("batch_id") + 1).cast("long").alias("n_batches")
    )
    return per_doc.groupBy("n_batches").agg(
        F.count("*").alias("n_docs")
    ).orderBy("n_batches")


SQL_BATCH_COUNTS = """
SELECT CAST(ceil(ceil(length(text)/100.0)/2.0) AS BIGINT) AS n_batches,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_batch_combined_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: combined batch text byte-parity through the oracle — the
    reference's ``[Chunk i/n]`` headers joined by the CHUNK BOUNDARY
    separator (`chunk_batcher.py:43-48`), checked as an md5 per batch.
    Packing at available=200 with 100-char chunks is exactly 2 chunks per
    batch (cost <= 90 each), so batch membership has the closed form
    batch_id = chunk_id // 2."""
    from .operators import chunk as op_chunk

    batches = op_chunk.batch_summaries(_batch_chunks(spark, sf_dir))
    return batches.select(
        "url",
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("chunk_count").cast("long").alias("chunk_count"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.md5(F.col("combined_text")).alias("combined_md5"),
    ).orderBy("url", "batch_id")


SQL_BATCH_COMBINED_TEXT = f"""
WITH {_CHUNKS_CTE},
c AS (
  SELECT url, chunk_id, CAST(chunk_id // 2 AS BIGINT) AS batch_id,
         trim(raw) AS ctext,
         CAST(floor(length(trim(raw))/3.0*1.2) AS BIGINT) + 50 AS cost
  FROM chunks
),
numbered AS (
  SELECT url, batch_id, ctext, cost, chunk_id,
         row_number() OVER (PARTITION BY url, batch_id ORDER BY chunk_id)
           AS rn,
         count(*) OVER (PARTITION BY url, batch_id) AS n
  FROM c
)
SELECT url, batch_id,
       CAST(count(*) AS BIGINT) AS chunk_count,
       CAST(sum(cost) AS BIGINT) AS total_tokens,
       md5(string_agg('[Chunk ' || rn || '/' || n || ']' || chr(10) || ctext,
                      chr(10) || chr(10) || '---CHUNK BOUNDARY---'
                      || chr(10) || chr(10) ORDER BY chunk_id))
         AS combined_md5
FROM numbered
GROUP BY url, batch_id
ORDER BY url, batch_id
"""


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-level corpus index suite (section, term, v1..v4):
    section='mentions' is the deterministic mention extraction (top-50
    terms by total mentions; v1=n_docs, v2=total_mentions);
    section='postings' is the inverted-index export rollup
    (operators/invindex.py: doc-range-blocked posting lists — group size
    bounded by block width regardless of term frequency, so stopword-skew
    cannot OOM a reducer — with delta+varint size accounting;
    v1=df, v2=n_blocks, v3=index_bytes, v4=48-bit block checksum sum);
    section='bm25' is the impact-ordered-index precompute
    (operators/invindex.bm25_term_stats: exact-integer BM25 tf-saturation
    impacts, k1=1.2 b=0.75 cleared to int64 rationals; v1=df,
    v2=sum impact, v3=max impact — the Block-Max bound — v4=checksum over
    every term:doc:impact triple);
    section='wand' is the query-time Block-Max-pruned SAFE top-k
    (operators/invindex.wand_topk: broadcast query-term slice of the
    impact index, rarest-term seed pass -> pruning threshold theta,
    per-block maxima upper bounds, exact scoring only for survivors;
    term=query_id, v1=n_candidates, v2=n_survivors, v3=theta, v4=top-k
    checksum — the oracle scores every candidate EXHAUSTIVELY, so the
    checksum match proves the pruning never dropped a true top-k doc)."""
    from .operators import invindex as op_ix

    res = _pipeline(spark, sf_dir)
    zero = F.lit(0).cast("long")
    mention_rows = (
        res.doc_mentions.filter(F.col("kind") == "term")
        .groupBy("term")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_mentions").alias("total_mentions"),
        )
        .orderBy(F.desc("total_mentions"), "term")
        .limit(50)
        .select(F.lit("mentions").alias("section"), "term",
                F.col("n_docs").cast("long").alias("v1"),
                F.col("total_mentions").cast("long").alias("v2"),
                zero.alias("v3"), zero.alias("v4"))
    )
    posting_rows = op_ix.postings_stats(
        _read(spark, sf_dir, "documents")).select(
        F.lit("postings").alias("section"), "term",
        F.col("df").alias("v1"), F.col("n_blocks").alias("v2"),
        F.col("index_bytes").alias("v3"), F.col("checksum").alias("v4"))
    bm25_rows = op_ix.bm25_term_stats(
        _read(spark, sf_dir, "documents")).select(
        F.lit("bm25").alias("section"), "term",
        F.col("df").alias("v1"), F.col("sum_impact").alias("v2"),
        F.col("max_impact").alias("v3"),
        F.col("impact_checksum").alias("v4"))
    wand = op_ix.wand_topk(
        _read(spark, sf_dir, "documents"),
        persist_fn=lambda df: _tracked_persist(spark, sf_dir, "wand", df),
    ).localCheckpoint(eager=False)
    wand_rows = wand.select(
        F.lit("wand").alias("section"), F.col("query_id").alias("term"),
        F.col("n_candidates").alias("v1"), F.col("n_survivors").alias("v2"),
        F.col("theta").alias("v3"), F.col("topk_checksum").alias("v4"))
    # block-skip accounting rows: whole posting blocks pruned by the
    # Block-Max bound before any doc enumeration (v3 = blocks skipped)
    wand_blk_rows = wand.select(
        F.lit("wand").alias("section"),
        F.concat(F.col("query_id"), F.lit(":blocks")).alias("term"),
        F.col("n_blocks").alias("v1"), F.col("n_blocks_live").alias("v2"),
        (F.col("n_blocks") - F.col("n_blocks_live")).alias("v3"),
        F.lit(0).cast("long").alias("v4"))
    return (mention_rows.unionByName(posting_rows)
            .unionByName(bm25_rows)
            .unionByName(wand_rows)
            .unionByName(wand_blk_rows)
            .orderBy("section", "term"))



SQL_POSTINGS_STATS = f"""
WITH tx AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(coalesce(text, '')),
                                             '[a-z]{{5,}}')) AS term
    FROM documents)),
bl AS (
  SELECT term, doc_id // {_IX_BLOCK} AS block,
         count(*) AS df_block, list_sort(list(doc_id)) AS ids
  FROM tx GROUP BY term, doc_id // {_IX_BLOCK}),
del AS (
  SELECT term, block, df_block, i,
         ids[i] - CASE WHEN i = 1 THEN block * {_IX_BLOCK}
                       ELSE ids[i - 1] END AS delta
  FROM bl, LATERAL (SELECT unnest(generate_series(1, len(ids))) AS i)),
blk AS (
  SELECT term, block, any_value(df_block) AS df_block,
         string_agg(CAST(delta AS VARCHAR), ',' ORDER BY i) AS dstr,
         sum(CASE WHEN delta < 128 THEN 1 WHEN delta < 16384 THEN 2
                  WHEN delta < 2097152 THEN 3
                  WHEN delta < 268435456 THEN 4 ELSE 5 END) AS vbytes
  FROM del GROUP BY term, block)
SELECT term, CAST(sum(df_block) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(vbytes) AS BIGINT) AS index_bytes,
       CAST(sum(CAST(('0x' || substr(md5(term || ':' ||
             CAST(block AS VARCHAR) || ':' || dstr), 1, 12)) AS UBIGINT))
            AS BIGINT) AS checksum
FROM blk GROUP BY term
"""

SQL_BM25_STATS = f"""
WITH tk AS (SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')),
                                      '[a-z]{{5,}}') AS ts
            FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
               CAST(sum(len(ts)) AS BIGINT) AS t_corpus FROM tk),
tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
               CAST(any_value(dl) AS BIGINT) AS dl
        FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM tk)
        GROUP BY doc_id, term),
impq AS (SELECT term, doc_id,
                (44000000 * t_corpus * tf)
                  // (20 * t_corpus * tf + 6 * t_corpus
                      + 18 * dl * n_corpus) AS impact
         FROM tfq, tot)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(impact) AS BIGINT) AS sum_impact,
       CAST(max(impact) AS BIGINT) AS max_impact,
       CAST(sum(CAST(('0x' || substr(md5(term || ':'
             || CAST(doc_id AS VARCHAR) || ':'
             || CAST(impact AS VARCHAR)), 1, 12)) AS UBIGINT))
            AS BIGINT) AS impact_checksum
FROM impq GROUP BY term
"""

# WAND oracle: the top-k is computed EXHAUSTIVELY (all_scores scores every
# candidate doc — no pruning), so a checksum match against the Spark side's
# Block-Max-pruned execution proves the bound is safe.  Candidate/survivor
# counts and theta replay the same deterministic integer formulas.
_WAND_K, _WAND_BLOCK, _WAND_NT, _WAND_WSCALE = 5, 32, 24, 1000
SQL_WAND_STATS = f"""
WITH tk AS (SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')),
                                      '[a-z]{{5,}}') AS ts
            FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
               CAST(sum(len(ts)) AS BIGINT) AS t_corpus FROM tk),
tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
               CAST(any_value(dl) AS BIGINT) AS dl
        FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM tk)
        GROUP BY doc_id, term),
impq AS (SELECT term, doc_id,
                (44000000 * t_corpus * tf)
                  // (20 * t_corpus * tf + 6 * t_corpus
                      + 18 * dl * n_corpus) AS impact
         FROM tfq, tot),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM impq
        GROUP BY term),
ranked AS (SELECT term, df,
                  row_number() OVER (ORDER BY df DESC, term) AS rank
           FROM dfs ORDER BY df DESC, term LIMIT {_WAND_NT}),
q AS (SELECT 'q' || lpad(CAST(i AS VARCHAR), 2, '0') AS query_id, r.term,
             ((SELECT n_corpus FROM tot) * {_WAND_WSCALE}) // r.df AS w
      FROM generate_series(0, {_WAND_NT // 2 - 1}) AS gs(i)
      JOIN ranked r ON r.rank = i + 1 OR r.rank = {_WAND_NT} - i),
qimp AS (SELECT q.query_id, q.term, q.w, i.doc_id, i.impact,
                i.doc_id // {_WAND_BLOCK} AS blk
         FROM q JOIN impq i USING (term)),
rarest AS (SELECT query_id, term FROM (
             SELECT query_id, term,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY count(*), term) AS rn
             FROM qimp GROUP BY query_id, term) WHERE rn = 1),
seeds AS (SELECT DISTINCT qi.query_id, qi.doc_id
          FROM qimp qi JOIN rarest r
            ON qi.query_id = r.query_id AND qi.term = r.term),
seed_scores AS (SELECT qi.query_id, qi.doc_id,
                       CAST(sum(qi.w * qi.impact) AS BIGINT) AS score
                FROM qimp qi JOIN seeds s
                  ON qi.query_id = s.query_id AND qi.doc_id = s.doc_id
                GROUP BY qi.query_id, qi.doc_id),
theta AS (SELECT query_id, score AS theta FROM (
            SELECT query_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rn
            FROM seed_scores) WHERE rn = {_WAND_K}),
blockmax AS (SELECT query_id, term, w, blk, max(impact) AS bmax
             FROM qimp GROUP BY query_id, term, w, blk),
blk_ub AS (SELECT query_id, blk, CAST(sum(w * bmax) AS BIGINT) AS blk_ub
           FROM blockmax GROUP BY query_id, blk),
live_blocks AS (SELECT b.query_id, b.blk
                FROM blk_ub b LEFT JOIN theta t USING (query_id)
                WHERE b.blk_ub >= coalesce(t.theta, 0)),
blk_counts AS (
  SELECT n.query_id, n.n_blocks, l.n_blocks_live
  FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS n_blocks
        FROM blk_ub GROUP BY query_id) n
  JOIN (SELECT query_id, CAST(count(*) AS BIGINT) AS n_blocks_live
        FROM live_blocks GROUP BY query_id) l USING (query_id)),
cand AS (SELECT DISTINCT q.query_id, q.doc_id,
                q.doc_id // {_WAND_BLOCK} AS blk
         FROM qimp q JOIN live_blocks lb
           ON lb.query_id = q.query_id AND lb.blk = q.blk),
ub AS (SELECT c.query_id, c.doc_id,
              CAST(sum(b.w * b.bmax) AS BIGINT) AS ub
       FROM cand c JOIN blockmax b
         ON c.query_id = b.query_id AND c.blk = b.blk
       GROUP BY c.query_id, c.doc_id),
surv AS (SELECT u.query_id, u.doc_id
         FROM ub u LEFT JOIN theta t USING (query_id)
         WHERE u.ub >= coalesce(t.theta, 0)),
all_scores AS (SELECT query_id, doc_id,
                      CAST(sum(w * impact) AS BIGINT) AS score
               FROM qimp GROUP BY query_id, doc_id),
topk AS (SELECT query_id, rn, doc_id, score FROM (
           SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rn
           FROM all_scores) WHERE rn <= {_WAND_K})
SELECT c.query_id,
       c.n_candidates,
       s.n_survivors,
       coalesce(t.theta, 0) AS theta,
       k.topk_checksum,
       bc.n_blocks,
       bc.n_blocks_live
FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
      FROM cand GROUP BY query_id) c
JOIN (SELECT query_id, CAST(count(*) AS BIGINT) AS n_survivors
      FROM surv GROUP BY query_id) s USING (query_id)
LEFT JOIN theta t USING (query_id)
JOIN (SELECT query_id,
             CAST(sum(CAST(('0x' || substr(md5(query_id || ':'
                  || CAST(rn AS VARCHAR) || ':'
                  || CAST(doc_id AS VARCHAR) || ':'
                  || CAST(score AS VARCHAR)), 1, 12)) AS UBIGINT))
                  AS BIGINT) AS topk_checksum
      FROM topk GROUP BY query_id) k USING (query_id)
JOIN blk_counts bc USING (query_id)
"""

SQL_TOP_TERMS = f"""
SELECT section, term, v1, v2, v3, v4 FROM (
  SELECT 'mentions' AS section, term,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS v1,
         CAST(count(*) AS BIGINT) AS v2,
         CAST(0 AS BIGINT) AS v3, CAST(0 AS BIGINT) AS v4
  FROM ({{mentions}}) GROUP BY term
  ORDER BY v2 DESC, term LIMIT 50
) UNION ALL
SELECT 'postings', term, df, n_blocks, index_bytes, checksum
FROM ({SQL_POSTINGS_STATS})
UNION ALL
SELECT 'bm25', term, df, sum_impact, max_impact, impact_checksum
FROM ({SQL_BM25_STATS})
UNION ALL
SELECT section, term, v1, v2, v3, v4 FROM (
  SELECT 'wand' AS section, query_id AS term, n_candidates AS v1,
         n_survivors AS v2, theta AS v3, topk_checksum AS v4
  FROM ({SQL_WAND_STATS})
  UNION ALL
  SELECT 'wand', query_id || ':blocks', n_blocks, n_blocks_live,
         n_blocks - n_blocks_live, CAST(0 AS BIGINT)
  FROM ({SQL_WAND_STATS})
)
ORDER BY section, term
"""
SQL_TOP_TERMS = SQL_TOP_TERMS.replace(
    "{mentions}", f"WITH {_MENTIONS_CTE} SELECT doc_id, term FROM mentions")


def q_graph_node_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph assembly + cleanup: nodes per label."""
    res = _pipeline(spark, sf_dir)
    return res.nodes.groupBy("label").agg(
        F.count("*").alias("n")
    ).orderBy("label")


SQL_GRAPH_NODE_COUNTS = f"""
WITH {_MENTIONS_CTE}
SELECT * FROM (
  SELECT 'WebDocument' AS label, CAST(count(*) AS BIGINT) AS n FROM documents
  UNION ALL
  SELECT 'Chunk', CAST(sum(CAST(ceil(length(text)/100.0) AS BIGINT)) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'Term', CAST(count(DISTINCT term) AS BIGINT) FROM mentions
) ORDER BY label
"""


def q_graph_edge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph edges per label (has_chunk + mentions, post-cleanup)."""
    res = _pipeline(spark, sf_dir)
    return res.edges.groupBy("label").agg(
        F.count("*").alias("n")
    ).orderBy("label")


SQL_GRAPH_EDGE_COUNTS = f"""
WITH {_MENTIONS_CTE}
SELECT * FROM (
  SELECT 'has_chunk' AS label,
         CAST(sum(CAST(ceil(length(text)/100.0) AS BIGINT)) AS BIGINT) AS n
  FROM documents
  UNION ALL
  SELECT 'mentions', CAST(count(*) AS BIGINT) FROM (
    SELECT DISTINCT doc_id, term FROM mentions
  )
) ORDER BY label
"""


def q_doc_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree analytics over the graph: top-20 documents by degree
    (n_chunks + n distinct terms)."""
    res = _pipeline(spark, sf_dir)
    degrees = op_stats.degree_distribution(res.edges)
    docs = res.nodes.filter(F.col("label") == "WebDocument").select(
        "id", F.col("properties")["url"].alias("url")
    )
    # document nodes are a tiny fraction of the node set — broadcast them so
    # the (big) degree relation never shuffles
    return (
        F.broadcast(docs).join(degrees, "id")
        .select("url", "degree")
        .orderBy(F.desc("degree"), "url")
        .limit(20)
    )


SQL_DOC_DEGREE_TOPK = f"""
WITH {_MENTIONS_CTE},
deg AS (
  SELECT m.url,
         CAST(count(DISTINCT m.term)
              + any_value(CAST(ceil(length(d.text)/100.0) AS BIGINT))
              AS BIGINT) AS degree
  FROM mentions m JOIN documents d ON m.doc_id = d.doc_id
  GROUP BY m.url
)
SELECT url, degree FROM deg ORDER BY degree DESC, url LIMIT 20
"""


def q_graph_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Check-only cleanup invariants for the constructed graph (A9 + J1
    validation variant): duplicate nodes/edges, orphan endpoints, fingerprint
    collisions must all be zero; totals re-derived from first principles."""
    res = _pipeline(spark, sf_dir)
    return op_graph.validate_web_graph(res.nodes, res.edges)


SQL_GRAPH_VALIDATION = f"""
WITH {_MENTIONS_CTE},
counts AS (
  SELECT
    (SELECT count(*) FROM documents)
      + (SELECT sum(CAST(ceil(length(text)/100.0) AS BIGINT)) FROM documents)
      + (SELECT count(DISTINCT term) FROM mentions) AS n_nodes,
    (SELECT sum(CAST(ceil(length(text)/100.0) AS BIGINT)) FROM documents)
      + (SELECT count(*) FROM (SELECT DISTINCT doc_id, term FROM mentions))
      AS n_edges
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_nodes AS BIGINT) AS n_distinct_ids,
       CAST(0 AS BIGINT) AS n_dup_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(0 AS BIGINT) AS n_dup_edges,
       CAST(0 AS BIGINT) AS n_orphan_endpoints,
       CAST(0 AS BIGINT) AS n_fp_collisions
FROM counts
"""


def q_reverse_edge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: reverse-edge union (`graph_converter.py:144-153`) — per-label edge
    counts after adding a reverse_<label> twin for every edge."""
    res = _pipeline(spark, sf_dir)
    both = res.edges.unionByName(op_graph.reverse_edges(res.edges))
    return both.groupBy("label").agg(F.count("*").alias("n")).orderBy("label")


SQL_REVERSE_EDGE_COUNTS = f"""
WITH {_MENTIONS_CTE},
base AS (
  SELECT 'has_chunk' AS label,
         CAST(sum(CAST(ceil(length(text)/100.0) AS BIGINT)) AS BIGINT) AS n
  FROM documents
  UNION ALL
  SELECT 'mentions', CAST(count(*) AS BIGINT) FROM (
    SELECT DISTINCT doc_id, term FROM mentions
  )
)
SELECT label, n FROM (
  SELECT label, n FROM base
  UNION ALL
  SELECT 'reverse_' || label, n FROM base
) ORDER BY label
"""


def q_node_dedup_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + J2 end-to-end on a constructed duplicate-rich graph: one node per
    doc with content = doc_id % 97 (≈97 content-identical groups), a
    doc_id -> doc_id+1 'next' edge chain; content dedup keeps the canonical
    (min-id) node per group and a broadcast remap join redirects every edge
    endpoint (`graph_cleaner.py:177-216, 285-304`)."""
    docs = _read(spark, sf_dir, "documents")
    nid = F.format_string("n%08d", F.col("doc_id"))
    nodes = docs.select(
        nid.alias("id"),
        F.lit("Doc").alias("label"),
        F.lit("entity").alias("type"),
        F.create_map(
            F.lit("group"), (F.col("doc_id") % 97).cast("string")
        ).alias("properties"),
    )
    nxt = docs.select(F.col("doc_id").alias("next_id"))
    edges = (
        docs.join(nxt, docs.doc_id + 1 == nxt.next_id)
        .select(
            nid.alias("src"),
            F.format_string("n%08d", F.col("next_id")).alias("dst"),
            F.lit("next").alias("label"),
            F.create_map(F.lit("k"), F.lit("v")).alias("properties"),
        )
    )
    keep, redirected = op_graph.dedup_nodes_by_content(nodes, edges)
    # the redirect chain feeds two counts (raw + distinct) — persist so the
    # edge join runs once; the four counts then collapse into ONE action via
    # crossJoin of single-row aggregates (4 separate .count() jobs measured
    # ~4x the latency: each re-ran the hash+canon shuffle from scratch).
    # Tracked persist: repeat invocations swap the cached blocks instead of
    # leaking one copy per call for the session lifetime.
    redirected = _tracked_persist(spark, sf_dir, "dedup_remap", redirected)
    distinct = op_graph.dedup_edges(redirected)
    return (
        nodes.agg(F.count("*").alias("n_nodes_before"))
        .crossJoin(keep.agg(F.count("*").alias("n_nodes_after")))
        .crossJoin(redirected.agg(F.count("*").alias("n_edges_after")))
        .crossJoin(distinct.agg(F.count("*").alias("n_edges_distinct")))
    )


SQL_NODE_DEDUP_REMAP = """
WITH nodes AS (
  SELECT doc_id, doc_id % 97 AS grp,
         'n' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id
  FROM documents
),
canon AS (SELECT grp, min(id) AS cid FROM nodes GROUP BY grp),
edges AS (
  SELECT n1.grp AS g1, n2.grp AS g2
  FROM nodes n1 JOIN nodes n2 ON n2.doc_id = n1.doc_id + 1
),
remapped AS (
  SELECT c1.cid AS src_c, c2.cid AS dst_c
  FROM edges e
  JOIN canon c1 ON c1.grp = e.g1
  JOIN canon c2 ON c2.grp = e.g2
  WHERE c1.cid <> c2.cid
)
SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes_before,
       CAST((SELECT count(*) FROM canon) AS BIGINT) AS n_nodes_after,
       CAST((SELECT count(*) FROM remapped) AS BIGINT) AS n_edges_after,
       CAST((SELECT count(*) FROM (SELECT DISTINCT src_c, dst_c FROM remapped))
            AS BIGINT) AS n_edges_distinct
"""


def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: graph stats (`stats_calculator.py:10-35`) with integer-stable
    outputs — node/edge counts, total degree (=2E), max degree."""
    res = _pipeline(spark, sf_dir)
    endpoints = res.edges.select(F.col("src").alias("id")).unionAll(
        res.edges.select(F.col("dst").alias("id"))
    )
    deg = endpoints.groupBy("id").agg(F.count("*").alias("d"))
    row = deg.agg(
        F.sum("d").alias("total_degree"), F.max("d").alias("max_degree")
    ).collect()[0]
    return spark.createDataFrame(
        [(res.nodes.count(), res.edges.count(),
          int(row["total_degree"]), int(row["max_degree"]))],
        "n_nodes long, n_edges long, total_degree long, max_degree long",
    )


SQL_GRAPH_DEGREE_STATS = f"""
WITH {_MENTIONS_CTE},
doc_terms AS (
  SELECT doc_id, count(DISTINCT term) AS n_terms
  FROM mentions GROUP BY doc_id
),
doc_deg AS (
  SELECT d.doc_id,
         CAST(ceil(length(d.text)/100.0) AS BIGINT)
           + coalesce(t.n_terms, 0) AS deg
  FROM documents d LEFT JOIN doc_terms t USING (doc_id)
),
term_deg AS (
  SELECT term, count(DISTINCT doc_id) AS deg
  FROM mentions GROUP BY term
),
counts AS (
  SELECT
    (SELECT count(*) FROM documents)
      + (SELECT sum(CAST(ceil(length(text)/100.0) AS BIGINT)) FROM documents)
      + (SELECT count(DISTINCT term) FROM mentions) AS n_nodes,
    (SELECT sum(CAST(ceil(length(text)/100.0) AS BIGINT)) FROM documents)
      + (SELECT count(*) FROM (SELECT DISTINCT doc_id, term FROM mentions))
      AS n_edges,
    greatest((SELECT max(deg) FROM doc_deg),
             (SELECT max(deg) FROM term_deg), 1) AS max_degree
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(2 * n_edges AS BIGINT) AS total_degree,
       CAST(max_degree AS BIGINT) AS max_degree
FROM counts
"""


def q_hybrid_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid structure-aware chunker (the docling HybridChunker analogue,
    `document_chunker.py:97-220` / kernels.hybrid_chunker) over deterministic
    sectioned documents: each doc's text is cut into 120-char paragraphs,
    grouped 3 per section under an h2 heading, then hybrid-chunked with
    max_tokens=100 and merge_peers.  Output: per-counter histogram of
    per-doc chunk counts.  Two sections: counter='heuristic' (the
    reference length heuristic; closed-form oracle) and counter='vocab'
    (the vendored-vocab WordPiece counter of kernels/wordpiece.py over
    word-aligned 10-word paragraphs at max_tokens=30 — the
    token-bounded chunking the reference gets from a real HF tokenizer,
    `document_chunker.py:58-95` — round 5: the FULL 30k trained vocab,
    kernels/wordpiece.full_vocab_lines — replayed in SQL by an unrolled
    greedy longest-prefix WordPiece over the lexicon-reachable subset
    of that vocab)."""
    from .kernels.hybrid_chunker import Block, hybrid_chunk

    def sectioned(paras):
        """Paragraphs, 3 per h2 section, joined by blank lines ->
        (text, block spans)."""
        parts, blocks, pos = [], [], 0
        for s in range(0, len(paras), 3):
            for tag, t in [("h2", f"Section {s // 3}")] + [
                ("p", p) for p in paras[s:s + 3]
            ]:
                if parts:
                    pos += 2  # "\n\n"
                blocks.append(Block(pos, pos + len(t), tag))
                parts.append(t)
                pos += len(t)
        return "\n\n".join(parts), blocks

    def char_paras(text):
        return [text[i:i + 120] for i in range(0, len(text), 120)]

    def word_paras(text):
        # WORD-ALIGNED sectioning for the vocab-counter section: 10-word
        # paragraphs (so WordPiece never sees a mid-word cut and counts
        # stay additive over the blank-line merges)
        words = text.split(" ")
        return [" ".join(words[i:i + 10]) for i in range(0, len(words), 10)]

    def sectionize(paras, max_tokens, tokenizer):
        """Per document: section its paragraphs and hybrid-chunk them
        (merge_peers) -> the document's chunk count."""
        @pandas_udf("long")
        def n_chunks(texts: pd.Series) -> pd.Series:
            from docling_graph_spark.kernels.tokenization import (
                get_token_counter)

            count = get_token_counter(tokenizer)
            return pd.Series([
                len(hybrid_chunk(*sectioned(paras(t)), max_tokens,
                                 token_counter=count))
                for t in texts])

        return n_chunks

    docs = _read(spark, sf_dir, "documents")

    def hist(paras, max_tokens, tokenizer, label):
        per_doc = docs.select(
            sectionize(paras, max_tokens, tokenizer)(F.col("text"))
            .alias("n_chunks")).where(F.col("n_chunks") > 0)
        return (per_doc.groupBy("n_chunks").agg(F.count("*").alias("n_docs"))
                .select(F.lit(label).alias("counter"), "n_chunks",
                        "n_docs"))

    from .kernels.wordpiece import full_vocab_lines

    return (hist(char_paras, 100, None, "heuristic")
            .unionByName(hist(word_paras, 30,
                              ("vocab", full_vocab_lines()), "vocab"))
            .orderBy("counter", "n_chunks"))


def _hybrid_chunk_stats_sql(max_steps: int = 12,
                            vocab_max_tokens: int = 30) -> str:
    """Oracle for q_hybrid_chunk_stats, two sections:

    * counter='heuristic' — the original closed form (ratio 3,
      est(n)=int(n*0.4): two 120-char paragraphs merge at 96<=100, a
      third only when the tail paragraph is <= 8 chars);
    * counter='vocab' — a REAL WordPiece replay in SQL: greedy
      longest-prefix matching against the full 30k trained vocab
      (filtered to the lexicon-reachable pieces, see below) as
      ``max_steps`` unrolled one-piece-per-step CTEs over the distinct
      corpus words (corpus words are <= 8 chars, so <= 8 pieces; the
      12-step unroll has slack), per-10-word-paragraph piece sums, and
      the <=3-paragraph-per-section greedy merge as a closed-form CASE.
      Piece counts are additive over the blank-line merge separator
      (the basic tokenizer splits on any whitespace), which is what
      makes per-word sums exactly the merged-text counts.
    """
    import re as _re

    from .kernels.wordpiece import full_vocab_lines

    # Round 5: the vocab section runs the FULL 30k trained vocab (the
    # pretrained-scale stand-in, kernels/wordpiece.full_vocab_lines).
    # Embedding all 30k pieces in the oracle would bloat the SQL to
    # ~400 KB for nothing: a piece can only ever match if its stripped
    # form is a substring of a corpus word, and the testdata lexicon is
    # the fixed 31-word set below at every SF (TESTDATA.md generator),
    # so the filtered VALUES list (~140 rows) replays the full-vocab
    # longest-prefix match EXACTLY.
    lex = ["a", "agg", "batch", "big", "column", "customer", "data",
           "dup", "fast", "filter", "group", "hash", "join", "key",
           "line", "merge", "order", "part", "query", "row", "scan",
           "slow", "small", "sort", "spark", "stream", "table", "the",
           "value", "vector", "window"]
    subs = {w[i:j] for w in lex for i in range(len(w))
            for j in range(i + 1, len(w) + 1)}
    pieces = sorted({p for p in full_vocab_lines()
                     if _re.fullmatch(r"(##)?[a-z]+", p)
                     and (p[2:] if p.startswith("##") else p) in subs})
    vals = ", ".join(
        "('{m}', {c})".format(m=p[2:] if p.startswith("##") else p,
                              c="true" if p.startswith("##") else "false")
        for p in pieces)
    steps = ""
    for i in range(1, max_steps + 1):
        steps += f""",
wp{i} AS MATERIALIZED (
  SELECT word,
         CASE WHEN pos > length(word) THEN pos
              WHEN best IS NULL THEN length(word) + 1
              ELSE pos + best END AS pos,
         CASE WHEN pos > length(word) THEN cnt
              WHEN best IS NULL THEN 1
              ELSE cnt + 1 END AS cnt
  FROM (
    SELECT word, pos, cnt,
           (SELECT max(length(v.m)) FROM wpv v
             WHERE v.cont = (p.pos > 1)
               AND substr(p.word, p.pos, length(v.m)) = v.m) AS best
    FROM wp{i - 1} p))"""
    m = vocab_max_tokens
    return f"""
WITH d AS (
  SELECT doc_id, length(text) AS len,
         CAST(ceil(length(text)/120.0) AS BIGINT) AS n
  FROM documents
),
c AS (
  SELECT doc_id, n,
         CAST(floor((n-1)/3.0) AS BIGINT) AS nfull,
         n - 3*CAST(floor((n-1)/3.0) AS BIGINT) AS k,
         len - 120*(n-1) AS tail
  FROM d
),
per AS (
  SELECT doc_id,
         2*nfull + CASE WHEN k <= 2 THEN 1
                        WHEN tail <= 8 THEN 1
                        ELSE 2 END AS n_chunks
  FROM c
),
wpv AS MATERIALIZED (
  SELECT * FROM (VALUES {vals}) AS t(m, cont)
),
wlist AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS idx
  FROM documents
),
dw AS MATERIALIZED (SELECT DISTINCT word FROM wlist WHERE word <> ''),
wp0 AS (SELECT word, 1 AS pos, 0 AS cnt FROM dw){steps},
wcnt AS MATERIALIZED (
  SELECT word, CAST(cnt AS BIGINT) AS pieces FROM wp{max_steps}),
wpar AS (
  SELECT doc_id, CAST(floor((idx - 1)/10.0) AS BIGINT) AS para,
         sum(pieces) AS s
  FROM wlist JOIN wcnt USING (word) GROUP BY 1, 2
),
wsec AS (
  SELECT doc_id, CAST(floor(para/3.0) AS BIGINT) AS sec,
         max(CASE WHEN para % 3 = 0 THEN s END) AS s1,
         max(CASE WHEN para % 3 = 1 THEN s END) AS s2,
         max(CASE WHEN para % 3 = 2 THEN s END) AS s3
  FROM wpar GROUP BY 1, 2
),
wchunks AS (
  SELECT doc_id, sec,
         CASE
           WHEN s2 IS NULL THEN 1
           WHEN s3 IS NULL THEN
             CASE WHEN s1 + s2 <= {m} THEN 1 ELSE 2 END
           WHEN s1 + s2 <= {m} THEN
             CASE WHEN s1 + s2 + s3 <= {m} THEN 1 ELSE 2 END
           ELSE CASE WHEN s2 + s3 <= {m} THEN 2 ELSE 3 END
         END AS nc
  FROM wsec
),
wper AS (
  SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n_chunks
  FROM wchunks GROUP BY doc_id
)
SELECT counter, n_chunks, n_docs FROM (
  SELECT 'heuristic' AS counter, n_chunks,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM per GROUP BY n_chunks
  UNION ALL
  SELECT 'vocab', n_chunks, CAST(count(*) AS BIGINT)
  FROM wper GROUP BY n_chunks
) ORDER BY counter, n_chunks
"""


SQL_HYBRID_CHUNK_STATS = _hybrid_chunk_stats_sql()


def q_pdf_real_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 real-PDF path under the oracle gate: build genuine single-page
    uncompressed PDFs (catalog/pages/page objects, /Length-bounded stream,
    BT/ET literal-string text) from `documents.text` as a pure column
    expression, extract them through the same Arrow UDF the pipeline uses
    (kernels/pdf_parse.py does the object scan + content-stream parse), and
    prove per-row byte-identity: extracted text == original text.

    The oracle is the identity statement of that invariant — per-lang row
    count (all of which must round-trip) and character sum over the raw
    text.  A parser regression drops n_roundtrip / shifts sum_chars and
    hash-fails against DuckDB.
    """
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 3)
    url = F.concat(F.lit("pdf://doc/"), F.col("doc_id").cast("string"))
    # PDF literal-string escapes (corpus is ASCII; escape anyway so the
    # construction stays correct on arbitrary text)
    esc = F.col("text")
    for pat, rep in ((r"\\", r"\\\\"), (r"\(", r"\\("), (r"\)", r"\\)")):
        esc = F.regexp_replace(esc, pat, rep)
    stream = F.concat(F.lit("BT ("), esc, F.lit(") Tj ET"))
    pdf = F.concat(
        F.lit("%PDF-1.4\n"
              "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
              "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
              "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
              "endobj\n4 0 obj\n<< /Length "),
        F.length(stream).cast("string"),
        F.lit(" >>\nstream\n"), stream,
        F.lit("\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n"),
    )
    pages = docs.select(
        url.alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(pdf, "UTF-8").alias("html"),
        F.lit("").alias("text"),
        F.col("lang").alias("lang"),
    )
    extracted = _extracted(pages).select(
        "url", "lang", F.col("text").alias("extracted"))
    originals = docs.select(url.alias("url"), F.col("text").alias("orig"))
    joined = extracted.join(originals, "url")
    simple = joined.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("extracted") == F.col("orig")).cast("long"))
         .alias("n_roundtrip"),
        F.sum(F.length("extracted")).alias("sum_chars"),
    ).select(F.lit("simple").alias("variant"), "lang", "n_docs",
             "n_roundtrip", "sum_chars")

    # round 4, variant 'objstm_cid': the same byte-identity invariant
    # through a PDF 1.5 COMPRESSED-XREF + CID-FONT document — catalog/
    # pages/page/font dicts inside a /Type /ObjStm located by a /Type
    # /XRef stream (no classic xref table), text shown as 2-byte
    # Identity-H codes only the /ToUnicode CMap maps back
    # (kernels/pdf_parse.encode_pdf_objstm_cid; decode:
    # _expand_object_streams + _page_font_cmaps).  Built per-row in one
    # Arrow batch pass (binary + zlib — not expressible as a column
    # expression), extracted through the SAME UDF; the oracle stays the
    # identity statement over the raw text.
    docs2 = _read(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") % 17 == 5)

    def build_cid_pdfs(batches):
        from docling_graph_spark.kernels.pdf_parse import (
            encode_pdf_objstm_cid)

        for pdf in batches:
            yield pd.DataFrame({
                "url": [f"pdf://cid/{int(d)}" for d in pdf["doc_id"]],
                "html": [bytearray(encode_pdf_objstm_cid(str(t)))
                         for t in pdf["text"]],
                "lang": pdf["lang"],
            })

    pages2 = docs2.select("doc_id", "text", "lang").mapInPandas(
        build_cid_pdfs, "url string, html binary, lang string"
    ).select(
        "url",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        "html", F.lit("").alias("text"), "lang",
    )
    extracted2 = _extracted(pages2).select(
        "url", "lang", F.col("text").alias("extracted"))
    originals2 = docs2.select(
        F.concat(F.lit("pdf://cid/"), F.col("doc_id").cast("string"))
        .alias("url"), F.col("text").alias("orig"))
    cid = extracted2.join(originals2, "url").groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("extracted") == F.col("orig")).cast("long"))
         .alias("n_roundtrip"),
        F.sum(F.length("extracted")).alias("sum_chars"),
    ).select(F.lit("objstm_cid").alias("variant"), "lang", "n_docs",
             "n_roundtrip", "sum_chars")

    # round 4, variant 'rc4': the same invariant through ENCRYPTED
    # documents — standard security handler, empty user password,
    # every stream RC4-encrypted under the per-object key (V2/R3
    # 128-bit with the 50-round key mix; kernels/pdf_parse.
    # encrypt_pdf_rc4 / _maybe_decrypt).  The compressed-xref CID
    # documents are re-used as plaintext, so decryption composes with
    # ObjStm expansion and CMap decode.
    docs3 = _read(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") % 17 == 7)

    def build_rc4_pdfs(batches):
        from docling_graph_spark.kernels.pdf_parse import (
            encode_pdf_objstm_cid, encrypt_pdf_rc4)

        for pdf in batches:
            yield pd.DataFrame({
                "url": [f"pdf://rc4/{int(d)}" for d in pdf["doc_id"]],
                "html": [bytearray(encrypt_pdf_rc4(
                    encode_pdf_objstm_cid(str(t)), 128))
                         for t in pdf["text"]],
                "lang": pdf["lang"],
            })

    pages3 = docs3.select("doc_id", "text", "lang").mapInPandas(
        build_rc4_pdfs, "url string, html binary, lang string"
    ).select(
        "url",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        "html", F.lit("").alias("text"), "lang",
    )
    extracted3 = _extracted(pages3).select(
        "url", "lang", F.col("text").alias("extracted"))
    originals3 = docs3.select(
        F.concat(F.lit("pdf://rc4/"), F.col("doc_id").cast("string"))
        .alias("url"), F.col("text").alias("orig"))
    rc4 = extracted3.join(originals3, "url").groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("extracted") == F.col("orig")).cast("long"))
         .alias("n_roundtrip"),
        F.sum(F.length("extracted")).alias("sum_chars"),
    ).select(F.lit("rc4").alias("variant"), "lang", "n_docs",
             "n_roundtrip", "sum_chars")
    return (simple.unionByName(cid).unionByName(rc4)
            .orderBy("variant", "lang"))


SQL_PDF_REAL_ROUNDTRIP = """
SELECT 'simple' AS variant, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_roundtrip,
       CAST(sum(strlen(text)) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 17 = 3
GROUP BY lang
UNION ALL
SELECT 'objstm_cid', lang, CAST(count(*) AS BIGINT),
       CAST(count(*) AS BIGINT), CAST(sum(strlen(text)) AS BIGINT)
FROM documents WHERE doc_id % 17 = 5
GROUP BY lang
UNION ALL
SELECT 'rc4', lang, CAST(count(*) AS BIGINT),
       CAST(count(*) AS BIGINT), CAST(sum(strlen(text)) AS BIGINT)
FROM documents WHERE doc_id % 17 = 7
GROUP BY lang
ORDER BY variant, lang
"""


def q_bytes_stripped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule lineage metric: per-lang boilerplate bytes stripped by the
    main-content extractor (html chrome + pdf container overhead)."""
    res = _pipeline(spark, sf_dir)
    return res.extracted.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("bytes_stripped").alias("stripped"),
    ).orderBy("lang")


SQL_BYTES_STRIPPED = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(({_PAYLOAD_BYTES}) - strlen(text)) AS BIGINT) AS stripped
FROM documents GROUP BY lang ORDER BY lang
"""


def q_extraction_metrics_by_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: per-partition (url host) extraction metrics."""
    res = _pipeline(spark, sf_dir)
    return res.metrics.select(
        "partition_key", "docs_parsed", "bytes_stripped", "errors"
    ).orderBy("partition_key")


SQL_EXTRACTION_METRICS = f"""
SELECT concat('host', CAST({_HOST_ID} AS VARCHAR), '.example.com') AS partition_key,
       CAST(count(*) AS BIGINT) AS docs_parsed,
       CAST(sum(({_PAYLOAD_BYTES}) - strlen(text)) AS BIGINT) AS bytes_stripped,
       CAST(0 AS BIGINT) AS errors
FROM documents GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# relational operator coverage on the TPC-H-ish tables (SURVEY §2.3-2.7)


def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-class aggregation (TPC-H Q1 shape), integer-cents sums — computed
    with ``cube()`` so the relation also carries the per-flag, per-status
    and grand-total subtotal rows (the GROUPING SETS operator family);
    ``grouping_id`` disambiguates subtotal rows from data rows, NULL keys
    rendered as '*' so both engines agree on the key bytes."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .alias("sum_base_cents"),
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            ).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("*")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("*")).alias("l_linestatus"),
            "sum_qty", "sum_base_cents", "sum_disc_cents", "count_order",
            "gid",
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


SQL_LINEITEM_PRICING = """
SELECT coalesce(l_returnflag, '*') AS l_returnflag,
       coalesce(l_linestatus, '*') AS l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(count(*) AS BIGINT) AS count_order,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS gid
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""


_ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM",
                     "4-NOT SPECIFIED", "5-LOW")


def q_orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-joins customer⋈nation (dims) with orders (fact),
    with per-priority order counts via the PIVOT operator (explicit value
    list so the output schema is static — the scale-safe pivot form: no
    distinct-value discovery pass over the fact table)."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    base = joined.groupBy("n_name").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("total_cents"),
    )
    piv = (
        joined.groupBy("n_name")
        .pivot("o_orderpriority", list(_ORDER_PRIORITIES))
        .count()
    )
    cols = [F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long")
            .alias(f"prio_{p[0]}_orders") for p in _ORDER_PRIORITIES]
    return (base.join(piv, "n_name")
            .select("n_name", "n_orders", "total_cents", *cols)
            .orderBy("n_name"))


_PRIO_CASES = ",\n       ".join(
    f"CAST(sum(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) "
    f"AS BIGINT) AS prio_{p[0]}_orders" for p in _ORDER_PRIORITIES)

SQL_ORDERS_PER_NATION = f"""
SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       {_PRIO_CASES}
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_orders_no_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J1 validation shape)."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    missing = orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
    return missing.agg(F.count("*").alias("n_orders_without_items"))


SQL_ORDERS_NO_LINEITEM = """
SELECT CAST(count(*) AS BIGINT) AS n_orders_without_items
FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 ranking window: top-3 orders per customer by price."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", F.col("rnk").cast("long").alias("rnk"), "o_orderkey")
        .orderBy("o_custkey", "rnk")
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3 ORDER BY o_custkey, rnk
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag window (30-min inactivity gap), joined with
    per-user as-of attribution stats: every purchase matched to the
    user's latest strictly-preceding click via operators/asof.asof_join
    (the union+window linear-cost as-of — no range-join pair blowup);
    the oracle replays it with DuckDB's NATIVE ASOF JOIN, so two
    independent implementations of the temporal-join semantics are
    checked value-for-value (asof_checksum covers every matched pair's
    exact timestamps); plus cross-user session-overlap counts via the
    bucketed interval join (operators/intervals.self_overlap_pairs —
    grid-cell equi-join, no cross product; the oracle uses a plain
    range-predicate join, again two independent implementations)."""
    from .operators import asof as op_asof
    from .operators import intervals as op_iv

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sessions = ev.withColumn("new_session", gap).groupBy("user_id").agg(
        (F.sum("new_session") + 1).alias("n_sessions"),
        F.count("*").alias("n_events"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts")
    # parquet reads yield TIMESTAMP_NTZ; unix_micros needs TIMESTAMP and
    # the session tz is UTC, so the cast is wall-clock-identical
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", us("ts").alias("c_us"))
    matched = op_asof.asof_join(
        purchases, clicks, "user_id", "ts", "ts", "c_us", strict=True)
    pair_ck = F.conv(F.substring(F.md5(F.concat(
        us("ts").cast("string"), F.lit(":"),
        F.col("asof_val").cast("string")).cast("binary")), 1, 12),
        16, 10).cast("long")
    asof_agg = matched.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum(F.col("asof_val").isNotNull().cast("long")).cast("long")
        .alias("n_attributed"),
        F.coalesce(F.sum(F.when(F.col("asof_val").isNotNull(), pair_ck)),
                   F.lit(0)).cast("long").alias("asof_checksum"),
    )
    sid = F.sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = (ev.withColumn("new_session", gap).withColumn("_sid", sid)
          .groupBy("user_id", "_sid")
          .agg(F.min(us("ts")).alias("start"), F.max(us("ts")).alias("end"))
          .select((F.col("user_id") * 1_000_000 + F.col("_sid"))
                  .alias("id"), "user_id", "start", "end"))
    pairs = op_iv.self_overlap_pairs(
        iv, "id", bucket_width=3_600_000_000, group_col="user_id")
    touched = (pairs.select(F.col("l_id").alias("sid2"))
               .unionAll(pairs.select(F.col("r_id").alias("sid2"))))
    ov = (touched.groupBy(F.expr("sid2 div 1000000").alias("user_id"))
          .agg(F.countDistinct("sid2").cast("long")
               .alias("n_overlap_sessions"),
               F.count("*").cast("long").alias("n_overlap_pairs")))
    return (sessions.join(asof_agg, "user_id", "left")
            .join(ov, "user_id", "left")
            .select("user_id", "n_sessions", "n_events",
                    F.coalesce("n_purchases", F.lit(0)).cast("long")
                    .alias("n_purchases"),
                    F.coalesce("n_attributed", F.lit(0)).cast("long")
                    .alias("n_attributed"),
                    F.coalesce("asof_checksum", F.lit(0)).cast("long")
                    .alias("asof_checksum"),
                    F.coalesce("n_overlap_sessions", F.lit(0)).cast("long")
                    .alias("n_overlap_sessions"),
                    F.coalesce("n_overlap_pairs", F.lit(0)).cast("long")
                    .alias("n_overlap_pairs"))
            .orderBy("user_id"))


SQL_EVENT_SESSIONS = """
WITH sess AS (
  SELECT user_id,
         CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions,
         CAST(count(*) AS BIGINT) AS n_events
  FROM (
    SELECT user_id,
           CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM events
  ) GROUP BY user_id),
att AS (
  SELECT p.user_id,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(CASE WHEN c.ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_attributed,
         CAST(coalesce(sum(CASE WHEN c.ts IS NOT NULL THEN
           CAST(('0x' || substr(md5(CAST(epoch_us(p.ts) AS VARCHAR) || ':'
                 || CAST(epoch_us(c.ts) AS VARCHAR)), 1, 12)) AS UBIGINT)
           END), 0) AS BIGINT) AS asof_checksum
  FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ASOF LEFT JOIN
       (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND c.ts < p.ts
  GROUP BY p.user_id),
marks AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events),
iv AS (
  SELECT user_id * 1000000 + sid AS id, user_id,
         CAST(epoch_us(min(ts)) AS BIGINT) AS s,
         CAST(epoch_us(max(ts)) AS BIGINT) AS e
  FROM (SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM marks)
  GROUP BY user_id, sid),
op AS (
  SELECT a.id AS l_id, a.user_id AS l_u, b.id AS r_id, b.user_id AS r_u
  FROM iv a JOIN iv b
    ON a.id < b.id AND a.user_id <> b.user_id
   AND a.s <= b.e AND b.s <= a.e),
ovl AS (
  SELECT u AS user_id, CAST(count(DISTINCT sid2) AS BIGINT)
           AS n_overlap_sessions,
         CAST(count(*) AS BIGINT) AS n_overlap_pairs
  FROM (SELECT l_u AS u, l_id AS sid2 FROM op
        UNION ALL SELECT r_u, r_id FROM op)
  GROUP BY u)
SELECT s.user_id, s.n_sessions, s.n_events,
       CAST(coalesce(a.n_purchases, 0) AS BIGINT) AS n_purchases,
       CAST(coalesce(a.n_attributed, 0) AS BIGINT) AS n_attributed,
       CAST(coalesce(a.asof_checksum, 0) AS BIGINT) AS asof_checksum,
       CAST(coalesce(o.n_overlap_sessions, 0) AS BIGINT)
         AS n_overlap_sessions,
       CAST(coalesce(o.n_overlap_pairs, 0) AS BIGINT) AS n_overlap_pairs
FROM sess s LEFT JOIN att a USING (user_id)
LEFT JOIN ovl o USING (user_id) ORDER BY s.user_id
"""


# --------------------------------------------------------------------------
# text-analysis operators over documents


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) per source
    (section='tokens') UNIONed with exact distributed length quantiles
    (section='len_quantile': operators/quantiles.exact_quantiles —
    groupBy(value) + integer-keyed prefix sum, never a global sort;
    lower-discrete convention, per-mille integer ranks)."""
    from .operators import quantiles as op_q

    docs = _read(spark, sf_dir, "documents")
    ws = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0
        )
    )
    zero = F.lit(0).cast("long")
    tok_rows = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws.cast("long")).alias("ws_tokens"),
        F.sum(bpe.cast("long")).alias("bpe_tokens"),
    ).select(F.lit("tokens").alias("section"),
             F.col("source").alias("key"),
             F.col("n_docs").cast("long").alias("v1"),
             F.col("ws_tokens").alias("v2"),
             F.col("bpe_tokens").alias("v3"))
    q_rows = op_q.exact_quantiles(
        docs.select(F.length("text").alias("len")), "len").select(
        F.lit("len_quantile").alias("section"),
        F.concat(F.lit("p"), F.col("pm").cast("string")).alias("key"),
        F.col("rank").alias("v1"), F.col("value").alias("v2"),
        zero.alias("v3"))
    return tok_rows.unionByName(q_rows).orderBy("section", "key")


SQL_TOKEN_STATS = r"""
SELECT section, key, v1, v2, v3 FROM (
  SELECT 'tokens' AS section, source AS key,
         CAST(count(*) AS BIGINT) AS v1,
         CAST(sum(length(regexp_extract_all(text, '\S+'))) AS BIGINT) AS v2,
         CAST(sum(length(regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'))) AS BIGINT) AS v3
  FROM documents GROUP BY source
  UNION ALL
  SELECT 'len_quantile', 'p' || CAST(pm AS VARCHAR),
         CAST(rnk AS BIGINT), CAST(val AS BIGINT), CAST(0 AS BIGINT)
  FROM (
    WITH lens AS (
      SELECT length(text) AS val FROM documents WHERE text IS NOT NULL),
    t AS (SELECT count(*) AS n FROM lens),
    r AS (SELECT pm, (pm * n + 999) // 1000 AS rnk
          FROM (SELECT unnest([100, 250, 500, 750, 900, 990]) AS pm), t),
    cm AS (
      SELECT val, c,
             coalesce(sum(c) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start
      FROM (SELECT val, count(*) AS c FROM lens GROUP BY val))
    SELECT r.pm, r.rnk, cm.val
    FROM r JOIN cm ON cm.start < r.rnk AND cm.start + cm.c >= r.rnk)
) ORDER BY section, key
"""


def q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals per lang (integer components)."""
    docs = _read(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text").cast("long")).alias("sum_chars"),
        F.sum(alpha.cast("long")).alias("sum_alpha"),
        F.sum(punct.cast("long")).alias("sum_punct"),
    ).orderBy("lang")


SQL_QUALITY_SIGNALS = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       CAST(sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) AS BIGINT) AS sum_alpha,
       CAST(sum(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))) AS BIGINT) AS sum_punct
FROM documents GROUP BY lang ORDER BY lang
"""


def q_langid_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (n-gram heuristic family), claimed vs
    detected distribution."""
    from .operators.textprep import detect_lang

    docs = _read(spark, sf_dir, "documents")
    detected = detect_lang(F.col("text"))
    return docs.select(F.col("lang"), detected.alias("detected")).groupBy(
        "lang", "detected"
    ).agg(F.count("*").alias("n")).orderBy("lang", "detected")


SQL_LANGID_VOTES = r"""
WITH scored AS (
  SELECT lang,
    length(regexp_extract_all(lower(text), '\b(?:the|and|of|to|in|is)\b')) AS en,
    length(regexp_extract_all(lower(text), '\b(?:le|les|et|est|dans|une)\b')) AS fr,
    length(regexp_extract_all(lower(text), '\b(?:el|la|los|de|que|y)\b')) AS es,
    length(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist)\b')) AS de,
    length(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
  FROM documents
)
SELECT lang,
  CASE WHEN zh > greatest(en, fr, es, de) THEN 'zh'
       WHEN en >= fr AND en >= es AND en >= de AND en > 0 THEN 'en'
       WHEN fr >= es AND fr >= de AND fr > 0 THEN 'fr'
       WHEN es >= de AND es > 0 THEN 'es'
       WHEN de > 0 THEN 'de' ELSE 'und' END AS detected,
  CAST(count(*) AS BIGINT) AS n
FROM scored GROUP BY 1, 2 ORDER BY lang, detected
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: distinct-text counts per lang (hash-groupBy shape)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_distinct_texts"),
    ).orderBy("lang")


SQL_EXACT_DEDUP = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
FROM documents GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# template path: field extraction → many-to-one deep merge (A1) → graph


def _invoice_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two labelled-text batch partials per doc (doc_id < 200): batch 0
    carries invoice_number/date, batch 1 vendor/total/items — the
    many-to-one shape the reference merges across chunk batches."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d = F.col("doc_id")
    url = F.concat(F.lit("doc:"), d.cast("string"))
    b0 = docs.select(
        url.alias("url"), F.lit(0).alias("batch_id"),
        F.concat(
            F.lit("Invoice Number: INV-"), d.cast("string"),
            F.lit("\nDate: 2024-01-"),
            F.lpad((d % 28 + 1).cast("string"), 2, "0"),
        ).alias("text"),
    )
    b1 = docs.select(
        url.alias("url"), F.lit(1).alias("batch_id"),
        F.concat(
            F.lit("Vendor: Vendor "), (d % 20).cast("string"),
            F.lit("\nTotal Amount: "), F.col("n_chars").cast("string"),
            F.lit(".50\nItem: A"), (d % 5).cast("string"),
            F.lit("\nItem: B"), (d % 3).cast("string"),
        ).alias("text"),
    )
    return b0.unionByName(b1)


def q_template_invoice_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 end-to-end: deterministic labelled-field extraction per batch
    partial, groupBy(url).applyInPandas deep merge with reference ordering
    semantics, typed output."""
    from .kernels.entity_extract import sample_invoice_extractor
    from .operators import merge as op_merge
    from .operators.extract import make_template_extractor_udf

    parts = _invoice_partials(spark, sf_dir)
    udf = make_template_extractor_udf(sample_invoice_extractor)
    partials = parts.select(
        "url", "batch_id", udf(F.col("text")).alias("record_json")
    )
    merged = op_merge.merge_template_records(partials)
    rec = F.from_json(
        "record_json",
        "invoice_number string, date string, vendor_name string, "
        "total_amount double, items array<string>",
    )
    return merged.select(
        "url",
        rec["invoice_number"].alias("invoice_number"),
        rec["date"].alias("inv_date"),
        rec["vendor_name"].alias("vendor_name"),
        F.round(rec["total_amount"] * 100).cast("long").alias("total_cents"),
        F.size(rec["items"]).cast("long").alias("n_items"),
        F.col("n_partials").cast("long").alias("n_partials"),
        "merge_status",
    ).orderBy("url")


SQL_TEMPLATE_INVOICE_MERGE = """
SELECT concat('doc:', CAST(doc_id AS VARCHAR)) AS url,
       concat('INV-', CAST(doc_id AS VARCHAR)) AS invoice_number,
       concat('2024-01-', lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'))
         AS inv_date,
       concat('Vendor ', CAST(doc_id % 20 AS VARCHAR)) AS vendor_name,
       CAST(n_chars * 100 + 50 AS BIGINT) AS total_cents,
       CAST(2 AS BIGINT) AS n_items,
       CAST(2 AS BIGINT) AS n_partials,
       'ok' AS merge_status
FROM documents WHERE doc_id < 200 ORDER BY url
"""


def q_template_graph_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/F1/F2 template graph: nested entity records → blake2b-fingerprint
    node ids → recursive flatten (Arrow UDF kernel) → global cleanup.
    Vendors repeat across invoices, so content-hash dedup must collapse them
    exactly as the reference's shared NodeIDRegistry would."""
    from .operators import graph as op_graph
    from .templates import TemplateRegistry, TemplateSpec

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d = F.col("doc_id")
    record = F.to_json(F.struct(
        F.concat(F.lit("INV-"), d.cast("string")).alias("invoice_number"),
        F.col("n_chars").cast("double").alias("total_amount"),
        F.struct(
            F.concat(F.lit("Vendor "), (d % 20).cast("string"))
            .alias("company_name"),
        ).alias("vendor"),
    ))
    merged = docs.select(
        F.concat(F.lit("doc:"), d.cast("string")).alias("url"),
        record.alias("record_json"),
    )
    reg = (
        TemplateRegistry()
        .add(TemplateSpec("Invoice", id_fields=("invoice_number",),
                          children={"vendor": "Vendor"}))
        .add(TemplateSpec("Vendor", id_fields=("company_name",)))
    )
    nodes, edges = op_graph.graph_from_template_records(merged, reg, "Invoice")
    n = nodes.groupBy("label").agg(F.count("*").alias("n")).select(
        F.lit("node").alias("element"), "label", "n"
    )
    e = edges.groupBy("label").agg(F.count("*").alias("n")).select(
        F.lit("edge").alias("element"), "label", "n"
    )
    return n.unionByName(e).orderBy("element", "label")


SQL_TEMPLATE_GRAPH_COUNTS = """
SELECT * FROM (
  SELECT 'node' AS element, 'Invoice' AS label,
         CAST(count(*) AS BIGINT) AS n FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'node', 'Vendor',
         CAST(count(DISTINCT doc_id % 20) AS BIGINT)
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'edge', 'vendor', CAST(count(*) AS BIGINT)
  FROM documents WHERE doc_id < 200
) ORDER BY element, label
"""


def q_template_one_to_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-one strategy (`strategies/one_to_one.py:95-141`): one partial
    model per page, NEVER merged — vs many-to-one's A1 deep merge.  Three
    pages per doc replay every reference `visited_ids` behavior
    (parity-proven in tests/parity/test_parity_ref_scenarios.py):

    * page 0: INV-d with date → root created, first model's props stick;
    * page 1: INV-d again with vendor+total → root visited, the whole
      subtree is PRUNED (`graph_converter.py:206-209` checks visited before
      recursing): no total on the node, no Vendor created here — but the
      edges pass has no visited check, so its INV→Vendor edge survives
      because page 2 creates the endpoint;
    * page 2: CN-d (credit note, new root) with the same vendor → Vendor
      node + CN→Vendor edge land.

    Expected: 400 Invoice nodes (INV with date only, CN), 20 Vendors, 400
    vendor edges, zero invoices with a total."""
    from .kernels.entity_extract import sample_invoice_extractor
    from .operators import graph as op_graph
    from .operators.extract import make_template_extractor_udf
    from .templates import TemplateRegistry, TemplateSpec

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d = F.col("doc_id")
    url = F.concat(F.lit("doc:"), d.cast("string"))
    inv_header = F.concat(F.lit("Invoice Number: INV-"), d.cast("string"))
    vendor_line = F.concat(F.lit("\nVendor: Vendor "), (d % 20).cast("string"))
    p0 = docs.select(
        url.alias("url"), F.lit(0).alias("page_id"),
        F.concat(
            inv_header, F.lit("\nDate: 2024-01-"),
            F.lpad((d % 28 + 1).cast("string"), 2, "0"),
        ).alias("text"),
    )
    p1 = docs.select(
        url.alias("url"), F.lit(1).alias("page_id"),
        F.concat(
            inv_header, vendor_line,
            F.lit("\nTotal Amount: "), F.col("n_chars").cast("string"),
            F.lit(".50"),
        ).alias("text"),
    )
    p2 = docs.select(
        url.alias("url"), F.lit(2).alias("page_id"),
        F.concat(
            F.lit("Invoice Number: CN-"), d.cast("string"), vendor_line,
        ).alias("text"),
    )
    pages = p0.unionByName(p1).unionByName(p2)
    udf = make_template_extractor_udf(sample_invoice_extractor)
    flat = pages.select(
        "url", "page_id", udf(F.col("text")).alias("record_json")
    )
    # reshape the extractor's flat record into the nested template shape
    # JVM-side (from_json -> struct -> to_json; null subtrees are omitted)
    rec = F.from_json(
        "record_json",
        "invoice_number string, date string, vendor_name string, "
        "total_amount double, items array<string>",
    )
    nested = flat.select(
        "url",
        F.col("page_id").alias("model_ord"),
        F.to_json(F.struct(
            rec["invoice_number"].alias("invoice_number"),
            rec["date"].alias("date"),
            rec["total_amount"].alias("total_amount"),
            F.when(
                rec["vendor_name"].isNotNull(),
                F.struct(rec["vendor_name"].alias("company_name")),
            ).alias("vendor"),
        )).alias("record_json"),
    )
    reg = (
        TemplateRegistry()
        .add(TemplateSpec("Invoice", id_fields=("invoice_number",),
                          children={"vendor": "Vendor"}))
        .add(TemplateSpec("Vendor", id_fields=("company_name",)))
    )
    nodes, edges = op_graph.graph_from_template_records(
        nested, reg, "Invoice", order_col="model_ord"
    )
    m = flat.agg(F.count("*").alias("n")).select(
        F.lit("model").alias("element"), F.lit("SampleInvoice").alias("label"),
        "n",
    )
    n = nodes.groupBy("label").agg(F.count("*").alias("n")).select(
        F.lit("node").alias("element"), "label", "n"
    )
    e = edges.groupBy("label").agg(F.count("*").alias("n")).select(
        F.lit("edge").alias("element"), "label", "n"
    )
    p = (
        nodes.filter(F.col("label") == "Invoice")
        .agg(
            F.sum(F.map_contains_key("properties", "date").cast("long"))
            .alias("with_date"),
            F.sum(F.map_contains_key("properties", "total_amount")
                  .cast("long")).alias("with_total"),
        )
        .selectExpr(
            "stack(2, 'invoice_has_date', with_date, "
            "'invoice_has_total', with_total) AS (label, n)"
        )
        .select(F.lit("prop").alias("element"), "label", "n")
    )
    return m.unionByName(n).unionByName(e).unionByName(p) \
        .orderBy("element", "label")


SQL_TEMPLATE_ONE_TO_ONE = """
SELECT * FROM (
  SELECT 'edge' AS element, 'vendor' AS label,
         CAST(2 * count(*) AS BIGINT) AS n
  FROM documents WHERE doc_id < 200              -- INV->V + CN->V per doc
  UNION ALL
  SELECT 'model', 'SampleInvoice', CAST(3 * count(*) AS BIGINT)
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'node', 'Invoice', CAST(2 * count(*) AS BIGINT)
  FROM documents WHERE doc_id < 200              -- INV + CN per doc
  UNION ALL
  SELECT 'node', 'Vendor', CAST(count(DISTINCT doc_id % 20) AS BIGINT)
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'prop', 'invoice_has_date', CAST(count(*) AS BIGINT)
  FROM documents WHERE doc_id < 200              -- page-0 INV models only
  UNION ALL
  SELECT 'prop', 'invoice_has_total', CAST(0 AS BIGINT)  -- page 1 pruned
) ORDER BY element, label
"""


def q_template_file_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template loading by string path, end-to-end (reference
    TemplateLoadingStage `pipeline/stages.py:286-365` + user template file
    à la `docs/examples/templates/insurance.py`): ``templates.load_template``
    imports the example insurance template shipped in this repo
    (examples/templates/insurance.py), ``registry_from_pydantic`` derives
    the graph metadata from the pydantic classes — ``edge()`` json-schema
    labels, an ``is_entity=False`` component, ``graph_id_fields`` identity —
    and synthesized policy records flow through the standard graph kernel.

    Checks the loader-visible behaviors: edge labels come from the FILE's
    ``edge()`` metadata (held_by / provides_coverage, not the field names),
    the premium component is embedded in the policy node (never a node),
    and shared policyholders / coverage codes collapse to one entity each."""
    import os

    from .operators import graph as op_graph
    from .templates import registry_from_template_path

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reg, root = registry_from_template_path(
        os.path.join(pkg_root, "examples", "templates", "insurance.py")
        + ":InsurancePolicy"
    )
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d = F.col("doc_id")

    def cov(expr):
        return F.struct(
            F.concat(F.lit("C-"), expr.cast("string")).alias("code"),
            F.concat(F.lit("peril "), expr.cast("string")).alias("peril"),
        )

    record = F.to_json(F.struct(
        F.concat(F.lit("POL-"), d.cast("string")).alias("policy_number"),
        F.concat(F.lit("2024-02-"),
                 F.lpad((d % 28 + 1).cast("string"), 2, "0"))
        .alias("start_date"),
        F.struct(
            (d % 500).cast("double").alias("amount"),
            F.lit("EUR").alias("currency"),
        ).alias("premium"),
        F.struct(
            F.concat(F.lit("Holder "), (d % 50).cast("string"))
            .alias("full_name"),
            F.concat(F.lit("holder"), (d % 50).cast("string"),
                     F.lit("@example.com")).alias("email"),
        ).alias("policyholder"),
        F.array(cov(d % 7), cov((d + 1) % 7)).alias("coverages"),
    ))
    merged = docs.select(
        F.concat(F.lit("doc:"), d.cast("string")).alias("url"),
        record.alias("record_json"),
    )
    nodes, edges = op_graph.graph_from_template_records(merged, reg, root)
    n = nodes.groupBy("label").agg(F.count("*").alias("n")).select(
        F.lit("node").alias("element"), "label", "n"
    )
    e = edges.groupBy("label").agg(F.count("*").alias("n")).select(
        F.lit("edge").alias("element"), "label", "n"
    )
    p = nodes.filter(F.col("label") == "InsurancePolicy").agg(
        F.sum(F.map_contains_key("properties", "premium").cast("long"))
        .alias("n")
    ).select(F.lit("prop").alias("element"),
             F.lit("policy_has_premium").alias("label"), "n")
    return n.unionByName(e).unionByName(p).orderBy("element", "label")


SQL_TEMPLATE_FILE_GRAPH = """
SELECT * FROM (
  SELECT 'edge' AS element, 'held_by' AS label,
         CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'edge', 'provides_coverage', CAST(2 * count(*) AS BIGINT)
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'node', 'Coverage', CAST(count(DISTINCT doc_id % 7) AS BIGINT)
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'node', 'InsurancePolicy', CAST(count(*) AS BIGINT)
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'node', 'Person', CAST(count(DISTINCT doc_id % 50) AS BIGINT)
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'prop', 'policy_has_premium', CAST(count(*) AS BIGINT)
  FROM documents WHERE doc_id < 200
) ORDER BY element, label
"""


def q_json_response_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F11: model-output-shaped responses (fenced / prose-wrapped /
    truncated, derived per doc) through the parse+repair kernel; per-status
    counts and the recovered-field checksum prove repair actually recovers."""
    from .operators.extract import make_json_response_parser_udf

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    payload = F.concat(
        F.lit('{"doc_id": '), d.cast("string"),
        F.lit(', "lang": "'), F.col("lang"), F.lit('"'),
    )
    response = (
        F.when(d % 3 == 0, F.concat(F.lit("```json\n"), payload,
                                    F.lit("}\n```")))
        .when(d % 3 == 1, F.concat(F.lit("Here is the JSON: "), payload,
                                   F.lit("} hope that helps!")))
        .otherwise(F.concat(payload, F.lit(', "truncated_ke')))
    )
    parser = make_json_response_parser_udf(aggressive=True)
    parsed = docs.select(parser(response).alias("p"))
    rec = F.from_json(F.col("p.json"), "doc_id bigint, lang string")
    return parsed.select(F.col("p.status").alias("status"),
                         rec["doc_id"].alias("rid")).groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum("rid").alias("sum_doc_id"),
    ).orderBy("status")


SQL_JSON_RESPONSE_PARSE = """
SELECT CASE WHEN doc_id % 3 = 2 THEN 'repaired' ELSE 'ok' END AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM documents GROUP BY 1 ORDER BY status
"""


# --------------------------------------------------------------------------
# multimodal binary columns (operators/multimodal.py)


def q_media_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte media classification over the binary payload column via
    the mapInPandas feature stage; per-type doc count and payload bytes."""
    from .operators import multimodal as op_mm
    from .sources.web_pages import synthesize_web_pages

    return op_mm.media_type_stats(synthesize_web_pages(spark, sf_dir))


SQL_MEDIA_TYPE_STATS = f"""
SELECT CASE WHEN doc_id % 50 = 49 THEN 'application/pdf'
            ELSE 'text/html' END AS media_type,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum({_PAYLOAD_BYTES}) AS BIGINT) AS total_bytes
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_media_transform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize + frame-sample plumbing (`operators/multimodal.media_transform`)
    over the synthetic payload corpus: per-media-type doc count, total
    thumbnail bytes (byte-grid resample caps at 8x8=64 per payload), and
    total sampled frame vectors (1 per non-video payload)."""
    from .operators import multimodal as op_mm
    from .sources.web_pages import synthesize_web_pages

    out = op_mm.media_transform(
        synthesize_web_pages(spark, sf_dir), width=8, height=8, n_frames=4
    )
    return out.groupBy("media_type").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("thumb")).alias("thumb_bytes"),
        F.sum("n_frames").alias("total_frames"),
    ).orderBy("media_type")


SQL_MEDIA_TRANSFORM_STATS = f"""
SELECT CASE WHEN doc_id % 50 = 49 THEN 'application/pdf'
            ELSE 'text/html' END AS media_type,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(least({_PAYLOAD_BYTES}, 64)) AS BIGINT) AS thumb_bytes,
       CAST(count(*) AS BIGINT) AS total_frames
FROM documents GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# exporters (exporters.py): Cypher statement projection, oracle-checked


def q_cypher_doc_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 Cypher sink: CREATE statements for document nodes (doc_id < 50),
    exercising the reference's escape + identifier-sanitize chains."""
    from . import exporters

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    nodes = docs.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("id"),
        F.lit("WebDocument").alias("label"),
        F.lit("entity").alias("type"),
        F.map_from_arrays(
            F.array(F.lit("lang"), F.lit("n_chars"), F.lit("snippet")),
            F.array(
                F.col("lang"),
                F.length("text").cast("string"),
                F.substring("text", 1, 40),
            ),
        ).alias("properties"),
    )
    return exporters.cypher_node_statements(nodes).orderBy("id")


_DUCK_ESC = (
    "replace(replace(replace(replace({v}, '\\', '\\\\'), "
    "'''', '\\'''), '\"', '\\\"'), chr(10), '\\n')"
)

SQL_CYPHER_DOC_NODES = f"""
SELECT id, concat(
  'CREATE (',
  CASE WHEN regexp_replace(id, '[^a-zA-Z0-9_]', '_', 'g') SIMILAR TO '[0-9].*'
       THEN 'n_' || regexp_replace(id, '[^a-zA-Z0-9_]', '_', 'g')
       ELSE regexp_replace(id, '[^a-zA-Z0-9_]', '_', 'g') END,
  ':WebDocument {{id: "', {_DUCK_ESC.format(v='id')}, '", ',
  'lang: "', {_DUCK_ESC.format(v='lang')}, '", ',
  'n_chars: "', CAST(length(text) AS VARCHAR), '", ',
  'snippet: "', {_DUCK_ESC.format(v='substr(text, 1, 40)')}, '"}})'
) AS stmt
FROM (SELECT concat('doc:', CAST(doc_id AS VARCHAR)) AS id, lang, text
      FROM documents WHERE doc_id < 50)
ORDER BY id
"""


# --------------------------------------------------------------------------
# deduplication suite (operators/dedup.py) — MinHash+LSH, SimHash, n-gram
# Jaccard, document fingerprinting.  Oracles replicate the md5-based
# constructions verbatim (md5 is engine-identical; integer outputs only).

_SHINGLES_CTE = """
shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT d.doc_id,
           substr(lower(d.text), CAST(i AS BIGINT), 5) AS shingle
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(1,
                  GREATEST(length(lower(d.text)) - 4, 1))) AS i)
  ) WHERE length(shingle) > 0
)
"""

# the same affine-permutation MinHash as operators/dedup.minhash_signatures:
# base = top 60 bits of md5 mod P, perm_i = (A_i*base + B_i) mod P — pure
# int64 arithmetic, bit-identical across engines (products stay < 2^62)
_MINHASH_BASE = (
    "CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % "
    f"{op_dedup.MINHASH_P}"
)
_MINHASH_SIG = ",\n".join(
    f"    min(({op_dedup.MINHASH_A[i]} * h + {op_dedup.MINHASH_B[i]}) % "
    f"{op_dedup.MINHASH_P}) AS mh{i}"
    for i in range(op_dedup.N_MINHASH)
)
_BAND_SELECTS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band, {expr} AS bucket FROM sigs".format(
        b=b,
        expr=" || '|' || ".join(
            f"CAST(mh{b * op_dedup.ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(op_dedup.ROWS_PER_BAND)
        ),
    )
    for b in range(op_dedup.N_BANDS)
)


_MINHASH_CACHE: Dict[Tuple[str, str], DataFrame] = {}


def _minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash pair relation, persisted once per (session, corpus)
    — it feeds both the pair-listing query and the connected-components
    clustering (the production shape too: dedup pipelines materialize
    verified pairs once, then every downstream decision reads the same
    small relation)."""
    key = (_session_key(spark), sf_dir)
    if key not in _MINHASH_CACHE:
        docs = _read(spark, sf_dir, "documents")
        _MINHASH_CACHE[key] = op_dedup.minhash_lsh_dedup(docs).persist()
    return _MINHASH_CACHE[key]


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) → LSH(4×4 bands) → bucket join → exact-Jaccard verify;
    top candidate pairs by integer Jaccard percent."""
    verified = _minhash_verified(spark, sf_dir)
    return (
        verified.filter(F.col("jaccard_pct") >= 5)
        .orderBy(F.desc("jaccard_pct"), "doc_a", "doc_b")
        .limit(100)
    )


# shared CTE chain: shingles -> signatures -> bands -> candidates -> exact
# Jaccard — composed by SQL_MINHASH_LSH and SQL_DUP_CLUSTERS
_MINHASH_PAIRS_CTES = f"""{_SHINGLES_CTE},
sigs AS (
  SELECT doc_id,
{_MINHASH_SIG}
  FROM (SELECT doc_id, {_MINHASH_BASE} AS h FROM shingles)
  GROUP BY doc_id
),
bands AS (
{_BAND_SELECTS}
),
sized AS (
  SELECT doc_id, band, bucket,
         count(*) OVER (PARTITION BY band, bucket) AS bsz
  FROM bands
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sized a JOIN sized b ON a.band = b.band AND a.bucket = b.bucket
   AND a.doc_id < b.doc_id
  WHERE a.bsz <= {op_dedup.MAX_BUCKET} AND b.bsz <= {op_dedup.MAX_BUCKET}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cands c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
verified AS (
  SELECT doc_a, doc_b,
         CAST(floor((100 * n_common) / (za.sz + zb.sz - n_common)) AS BIGINT)
           AS jaccard_pct
  FROM common
  JOIN sizes za ON za.doc_id = doc_a
  JOIN sizes zb ON zb.doc_id = doc_b
)"""

SQL_MINHASH_LSH = f"""
WITH {_MINHASH_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard_pct FROM verified
WHERE jaccard_pct >= 5
ORDER BY jaccard_pct DESC, doc_a, doc_b LIMIT 100
"""

def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: verified MinHash pairs (Jaccard >= 50%)
    -> connected components (operators.dedup.connected_components, iterative
    min-label propagation) -> cluster-size histogram plus the docs-to-drop
    count (sum of size-1 over clusters: the dedup pipeline's keep-one-per-
    cluster decision needs components, not pairs)."""
    verified = _minhash_verified(spark, sf_dir)
    pairs = verified.filter(F.col("jaccard_pct") >= 50)
    labels = op_dedup.connected_components(pairs)
    sizes = labels.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).alias("docs_to_drop"),
    ).orderBy("cluster_size")


SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
dup_pairs AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard_pct >= 50
),
dedges AS (
  SELECT doc_a AS s, doc_b AS d FROM dup_pairs
  UNION
  SELECT doc_b, doc_a FROM dup_pairs
),
reach(id, comp) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM dedges)
  UNION
  SELECT e.d, r.comp FROM reach r JOIN dedges e ON e.s = r.id
),
labels AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
csizes AS (
  SELECT component, count(*) AS cluster_size FROM labels GROUP BY component
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size - 1) AS BIGINT) AS docs_to_drop
FROM csizes GROUP BY cluster_size ORDER BY cluster_size
"""


_SIMHASH_BITS = 32
_SIMHASH_VOTES = ",\n".join(
    f"    sum(CASE WHEN substr(md5(w), {i + 1}, 1) >= '8' THEN 1 ELSE -1 END)"
    f" AS v{i}"
    for i in range(_SIMHASH_BITS)
)
_SIMHASH_CONCAT = ", ".join(
    f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(_SIMHASH_BITS)
)


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures; per-lang distinct-signature counts
    (n_docs > n_distinct ⇒ hash-identical near-duplicates)."""
    docs = _read(spark, sf_dir, "documents")
    sims = op_dedup.simhash_column(docs, bits=_SIMHASH_BITS)
    return (
        sims.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("simhash").alias("n_distinct_simhash"),
        )
        .orderBy("lang")
    )


SQL_SIMHASH = f"""
WITH words AS (
  SELECT DISTINCT doc_id, lang, w FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) WHERE length(w) > 0
),
votes AS (
  SELECT doc_id, any_value(lang) AS lang,
{_SIMHASH_VOTES}
  FROM words GROUP BY doc_id
),
sims AS (
  SELECT lang, concat({_SIMHASH_CONCAT}) AS simhash FROM votes
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT simhash) AS BIGINT) AS n_distinct_simhash
FROM sims GROUP BY lang ORDER BY lang
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (doc_id < 100 slice) via
    common-shingle equi-join; top-50 pairs by integer percent."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sh = op_dedup.shingles(docs)
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    verified = op_dedup.jaccard_verify(
        pairs.select("doc_a", "doc_b"), sh
    )
    return (
        verified.filter(F.col("jaccard_pct") >= 5)
        .orderBy(F.desc("jaccard_pct"), "doc_a", "doc_b")
        .limit(50)
    )


SQL_NGRAM_JACCARD = f"""
WITH {_SHINGLES_CTE},
small AS (SELECT * FROM shingles WHERE doc_id < 100),
sizes AS (SELECT doc_id, count(*) AS sz FROM small GROUP BY doc_id),
common AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_common
  FROM small sa JOIN small sb
    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(floor((100 * n_common) / (za.sz + zb.sz - n_common)) AS BIGINT)
         AS jaccard_pct
FROM common
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE floor((100 * n_common) / (za.sz + zb.sz - n_common)) >= 5
ORDER BY jaccard_pct DESC, doc_a, doc_b LIMIT 50
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOD-16 content-defined fingerprint sampling; per-lang fingerprint
    volume and global distinctness."""
    docs = _read(spark, sf_dir, "documents")
    fps = op_dedup.fingerprints(docs)
    return (
        fps.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("docs_with_fp"),
            F.count("*").alias("total_fps"),
            F.countDistinct("fp").alias("distinct_fps"),
        )
        .orderBy("lang")
    )


SQL_DOC_FINGERPRINTS = f"""
WITH {_SHINGLES_CTE},
fps AS (
  SELECT DISTINCT s.doc_id, d.lang, md5(s.shingle) AS fp
  FROM shingles s JOIN documents d USING (doc_id)
  WHERE md5(s.shingle) LIKE '0%'
)
SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_with_fp,
       CAST(count(*) AS BIGINT) AS total_fps,
       CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fps
FROM fps GROUP BY lang ORDER BY lang
"""


# word-n-gram family (operators/dedup.py word_ngrams): benchmark
# decontamination + exact duplicated-substring detection.  The DuckDB CTE
# reproduces the Spark tokenization exactly: lowercase, split on
# non-alphanumeric runs, empties dropped, 1-based n-gram positions.

def _word_grams_cte(n: int) -> str:
    return f"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(ts[i:i + {n - 1}], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - {n - 1}))
                      AS i)
  WHERE len(ts) >= {n}
)"""


_EVAL_MOD, _EVAL_RESIDUE = 97, 3  # deterministic synthetic eval set
# Fixture n-gram widths: the synthetic corpus draws from a small vocabulary,
# so 4-grams collide across the eval/train split (14 contaminated docs at
# sf0.01 — a live join path) while 8-grams exercise duplicated-substring
# detection (47 docs with cross-doc dup spans).  Production decontamination
# uses 13 (GPT-3/PaLM); both operators take ``n``.
_DECONTAM_FIXTURE_N = 4


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM n-gram-collision rule): docs
    with ``doc_id % 97 == 3`` play the eval set; every other document is
    flagged if it shares >= 1 word 4-gram with any eval doc.  Eval grams are
    broadcast — the training side is never shuffled by the probe."""
    docs = _read(spark, sf_dir, "documents")
    evald = docs.filter(F.col("doc_id") % _EVAL_MOD == _EVAL_RESIDUE)
    train = docs.filter(F.col("doc_id") % _EVAL_MOD != _EVAL_RESIDUE)
    res = op_dedup.decontaminate(train, evald, n=_DECONTAM_FIXTURE_N)
    summary = res.agg(
        F.count("*").alias("n_train"),
        F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
        .alias("contaminated_docs"),
        F.sum(F.when(F.col("contaminated"), 0).otherwise(1))
        .alias("clean_docs"),
        F.coalesce(F.max("overlap_grams"), F.lit(0)).alias("max_overlap"),
        F.coalesce(F.sum("overlap_grams"), F.lit(0))
        .alias("total_overlap_grams"),
    )
    return evald.agg(F.count("*").alias("n_eval")).crossJoin(summary)


SQL_DECONTAMINATION = f"""
WITH {_word_grams_cte(_DECONTAM_FIXTURE_N)},
eg AS (SELECT DISTINCT gram FROM grams
       WHERE doc_id % {_EVAL_MOD} = {_EVAL_RESIDUE}),
tover AS (
  SELECT g.doc_id, count(DISTINCT g.gram) AS ov
  FROM grams g JOIN eg USING (gram)
  WHERE g.doc_id % {_EVAL_MOD} <> {_EVAL_RESIDUE}
  GROUP BY g.doc_id
),
tr AS (SELECT count(*) AS n FROM documents
       WHERE doc_id % {_EVAL_MOD} <> {_EVAL_RESIDUE})
SELECT CAST((SELECT count(*) FROM documents
             WHERE doc_id % {_EVAL_MOD} = {_EVAL_RESIDUE}) AS BIGINT)
         AS n_eval,
       CAST((SELECT n FROM tr) AS BIGINT) AS n_train,
       CAST(count(*) AS BIGINT) AS contaminated_docs,
       CAST((SELECT n FROM tr) - count(*) AS BIGINT) AS clean_docs,
       CAST(coalesce(max(ov), 0) AS BIGINT) AS max_overlap,
       CAST(coalesce(sum(ov), 0) AS BIGINT) AS total_overlap_grams
FROM tover
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection at word-8-gram granularity
    (Lee et al. 2021's ExactSubstr, distributed as a gram group-join rather
    than a suffix array): corpus summary of grams occurring in >= 2 docs."""
    docs = _read(spark, sf_dir, "documents")
    per_gram, per_doc = op_dedup.duplicated_spans(docs)
    a = per_gram.agg(
        F.count("*").alias("dup_gram_values"),
        F.coalesce(F.sum("n_occ"), F.lit(0)).alias("dup_positions"),
    )
    b = per_doc.agg(
        F.coalesce(F.sum("n_grams"), F.lit(0)).alias("total_grams"),
        F.sum(F.when(F.col("dup_grams") > 0, 1).otherwise(0))
        .alias("docs_with_dup"),
    )
    return b.crossJoin(a)


SQL_DUP_SPANS = f"""
WITH {_word_grams_cte(op_dedup.DECONTAM_NGRAM)},
pd AS (SELECT gram, doc_id, count(*) AS occ FROM grams GROUP BY 1, 2),
pg AS (SELECT gram, count(*) AS n_docs, sum(occ) AS n_occ FROM pd GROUP BY 1)
SELECT CAST(coalesce(sum(n_occ), 0) AS BIGINT) AS total_grams,
       CAST(coalesce(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS dup_gram_values,
       CAST(coalesce(sum(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END), 0)
            AS BIGINT) AS dup_positions,
       CAST((SELECT count(DISTINCT pd.doc_id) FROM pd JOIN pg USING (gram)
             WHERE pg.n_docs >= 2) AS BIGINT) AS docs_with_dup
FROM pg
"""


def q_dup_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr *removal* summary (operators/dedup.excise_dup_spans):
    every non-canonical duplicated word-8-gram run excised, first
    corpus-wide occurrence kept.  The gate is exact-content: both engines
    rebuild the excised corpus token-by-token and the checksum column sums
    a 48-bit md5 prefix of every rebuilt document (order-independent, so
    no global sort is needed on either side)."""
    docs = _read(spark, sf_dir, "documents")
    ex = op_dedup.excise_dup_spans(docs)
    reb_md5 = F.md5(F.col("rebuilt").cast("binary"))
    return ex.agg(
        F.count("*").alias("docs_total"),
        F.sum(F.when(F.col("n_removed") > 0, 1).otherwise(0))
        .cast("long").alias("docs_rewritten"),
        F.sum("n_words").cast("long").alias("words_total"),
        F.sum("n_removed").cast("long").alias("words_removed"),
        F.countDistinct("rebuilt").cast("long").alias("distinct_rebuilt"),
        F.min(reb_md5).alias("content_min_md5"),
        F.max(reb_md5).alias("content_max_md5"),
        F.sum(F.conv(F.substring(reb_md5, 1, 12), 16, 10).cast("long"))
        .cast("long").alias("content_checksum"),
    )


_EXCISE_N = op_dedup.DECONTAM_NGRAM

SQL_DUP_EXCISION = f"""
WITH {_word_grams_cte(_EXCISE_N)},
pg AS (SELECT gram, min(doc_id) AS fdoc FROM grams
       GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
occ AS (SELECT g.doc_id, g.pos, g.gram, p.fdoc
        FROM grams g JOIN pg p USING (gram)),
fpos AS (SELECT gram, min(pos) AS fpos FROM occ
         WHERE doc_id = fdoc GROUP BY gram),
rem AS (SELECT o.doc_id, o.pos FROM occ o JOIN fpos f USING (gram)
        WHERE NOT (o.doc_id = o.fdoc AND o.pos = f.fpos)),
cov AS (SELECT DISTINCT doc_id, widx FROM rem,
        LATERAL (SELECT unnest(generate_series(pos, pos + {_EXCISE_N - 1}))
                 AS widx)),
words AS (SELECT doc_id, i AS widx, ts[i] AS w FROM toks,
          LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i)),
rmc AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
keptagg AS (SELECT w.doc_id, string_agg(w.w, ' ' ORDER BY w.widx) AS rebuilt
            FROM words w LEFT JOIN cov c
              ON w.doc_id = c.doc_id AND w.widx = c.widx
            WHERE c.widx IS NULL GROUP BY w.doc_id),
reb AS (SELECT t.doc_id, len(t.ts) AS n_words,
               coalesce(r.n_removed, 0) AS n_removed,
               coalesce(k.rebuilt, '') AS rebuilt
        FROM toks t LEFT JOIN rmc r USING (doc_id)
        LEFT JOIN keptagg k USING (doc_id))
SELECT CAST(count(*) AS BIGINT) AS docs_total,
       CAST(coalesce(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS docs_rewritten,
       CAST(coalesce(sum(n_words), 0) AS BIGINT) AS words_total,
       CAST(coalesce(sum(n_removed), 0) AS BIGINT) AS words_removed,
       CAST(count(DISTINCT rebuilt) AS BIGINT) AS distinct_rebuilt,
       min(md5(rebuilt)) AS content_min_md5,
       max(md5(rebuilt)) AS content_max_md5,
       CAST(coalesce(sum(CAST(('0x' || substr(md5(rebuilt), 1, 12))
                          AS UBIGINT)), 0) AS BIGINT) AS content_checksum
FROM reb
"""


def q_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated incremental url dedup (operators/bloom.py), the
    streaming seen-url gate replayed as a batch query: history = urls of
    docs with doc_id % 4 != 0, batch = every url; bloom-negative rows skip
    the ledger anti-join, bloom-positive rows verify against it.  The
    oracle computes the exact set difference, so a green row proves the
    end-to-end no-false-negative property AND that the verify join removed
    every true re-capture (min/max/sum over surviving doc ids)."""
    from .operators import bloom as op_bloom
    from .sources.web_pages import url_expr

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", url_expr(F.col("doc_id")).alias("url"))
    history = docs.filter(F.col("doc_id") % 4 != 0).select("url")
    n_hist = history.count()  # O(1)-row action, sizes the filter
    num_bits = op_bloom.bloom_num_bits(n_hist, fpr=0.01)
    words = op_bloom.bloom_words(history, "url", num_bits)
    gated = op_bloom.bloom_maybe_seen(docs, "url", words, num_bits)
    new_rows = (
        gated.filter(~F.col("maybe_seen")).drop("maybe_seen")
        .unionByName(
            gated.filter(F.col("maybe_seen")).drop("maybe_seen")
            .join(history, "url", "left_anti"))
    )
    totals = docs.agg(F.count("*").cast("long").alias("n_batch"))
    return totals.crossJoin(new_rows.agg(
        F.lit(int(n_hist)).cast("long").alias("n_history"),
        F.count("*").alias("n_new"),
        F.min("doc_id").cast("long").alias("min_new_doc"),
        F.max("doc_id").cast("long").alias("max_new_doc"),
        F.sum("doc_id").cast("long").alias("sum_new_doc"),
    ))


SQL_BLOOM_GATE = f"""
WITH b AS (SELECT doc_id, {_URL} AS url FROM documents),
h AS (SELECT url FROM b WHERE doc_id % 4 <> 0),
nw AS (SELECT doc_id FROM b WHERE url NOT IN (SELECT url FROM h))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_batch,
       (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_history,
       (SELECT CAST(count(*) AS BIGINT) FROM nw) AS n_new,
       (SELECT CAST(min(doc_id) AS BIGINT) FROM nw) AS min_new_doc,
       (SELECT CAST(max(doc_id) AS BIGINT) FROM nw) AS max_new_doc,
       (SELECT CAST(sum(doc_id) AS BIGINT) FROM nw) AS sum_new_doc
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot diff + latest-wins compaction summary
    (operators/snapshots.py): two deterministic crawl snapshots of the
    corpus (snap2 adds doc_id%10==7, drops %10==3, revises %10==5),
    classified per url as added/removed/changed/unchanged out of ONE
    groupBy(url), plus the 48-bit-md5-prefix checksum over the compacted
    latest-wins content — the Iceberg-maintenance view the resumable
    re-extraction reads.  The Spark path reduces latest-wins with a
    max(struct(ts, snap, md5)) algebraic aggregate; the oracle derives the
    same view independently via coalesce(h2, h1)."""
    from .operators import snapshots as op_snap
    from .sources.web_pages import url_expr

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"))
    d = F.col("doc_id")
    rev2 = F.when(d % 10 == 5, F.concat(F.col("text"), F.lit(" rev2"))
                  ).otherwise(F.col("text"))

    def _snap(df, snap_id, day, content):
        return df.select(
            url_expr(d).alias("url"),
            F.lit(snap_id).alias("snapshot_id"),
            (F.to_timestamp(F.lit(f"2024-0{day}-01 00:00:00"))
             + F.make_interval(secs=d.cast("double"))).alias("warc_ts"),
            F.md5(content.cast("binary")).alias("content_md5"),
        )

    pages = _snap(docs.filter(d % 10 != 7), 1, 1, F.col("text")).unionByName(
        _snap(docs.filter(d % 10 != 3), 2, 2, rev2))
    return op_snap.snapshot_diff_stats(pages)


SQL_SNAPSHOT_DIFF = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS text, {_URL} AS url
              FROM documents),
sn AS (
  SELECT url, 1 AS snap, md5(text) AS h FROM base WHERE doc_id % 10 <> 7
  UNION ALL
  SELECT url, 2 AS snap,
         md5(CASE WHEN doc_id % 10 = 5 THEN text || ' rev2' ELSE text END)
  FROM base WHERE doc_id % 10 <> 3),
u AS (SELECT url,
             min(CASE WHEN snap = 1 THEN h END) AS h1,
             min(CASE WHEN snap = 2 THEN h END) AS h2,
             coalesce(min(CASE WHEN snap = 2 THEN h END),
                      min(CASE WHEN snap = 1 THEN h END)) AS latest
      FROM sn GROUP BY url)
SELECT CAST(count(*) AS BIGINT) AS n_urls,
       CAST(coalesce(sum(CASE WHEN h1 IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_snap1,
       CAST(coalesce(sum(CASE WHEN h2 IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_snap2,
       CAST(coalesce(sum(CASE WHEN h1 IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_added,
       CAST(coalesce(sum(CASE WHEN h2 IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_removed,
       CAST(coalesce(sum(CASE WHEN h1 IS NOT NULL AND h2 IS NOT NULL
                              AND h1 <> h2 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_changed,
       CAST(coalesce(sum(CASE WHEN h1 IS NOT NULL AND h2 IS NOT NULL
                              AND h1 = h2 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_unchanged,
       min(latest) AS compacted_min_md5,
       max(latest) AS compacted_max_md5,
       CAST(coalesce(sum(CAST(('0x' || substr(latest, 1, 12)) AS UBIGINT)),
                     0) AS BIGINT) AS compacted_checksum
FROM u
"""


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIMD recrawl scheduling (operators/snapshots.recrawl_schedule):
    three deterministic crawl snapshots (presence gaps AND cumulative
    content revisions), per-url capture history folded into a revisit
    interval — halve on change, grow 3/2 on no-change, clamped to
    [1h, 7d].  All integer; the gate checksums every url:interval pair,
    so a green row proves the exact folded schedule of every url.  The
    oracle replays the fold with DuckDB's list_reduce."""
    from .operators import snapshots as op_snap
    from .sources.web_pages import url_expr

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"))
    d = F.col("doc_id")
    c1 = F.col("text")
    c2 = F.concat(c1, F.when(d % 10 == 5, F.lit(" rev2")).otherwise(
        F.lit("")))
    c3 = F.concat(c2, F.when(d % 7 == 2, F.lit(" rev3")).otherwise(
        F.lit("")))

    def _snap(pred, snap_id, content):
        return docs.filter(pred).select(
            url_expr(d).alias("url"),
            F.lit(snap_id).alias("snapshot_id"),
            F.md5(content.cast("binary")).alias("content_md5"))

    pages = (_snap(d % 10 != 7, 1, c1)
             .unionByName(_snap(d % 10 != 3, 2, c2))
             .unionByName(_snap(d % 9 != 4, 3, c3)))
    return op_snap.recrawl_stats(pages)


SQL_RECRAWL = f"""
WITH rbase AS (SELECT doc_id, coalesce(text, '') AS text, {_URL} AS url
               FROM documents),
rcaps AS (
  SELECT url,
    CASE WHEN doc_id % 10 <> 7 THEN md5(text) END AS c1,
    CASE WHEN doc_id % 10 <> 3 THEN md5(text ||
      CASE WHEN doc_id % 10 = 5 THEN ' rev2' ELSE '' END) END AS c2,
    CASE WHEN doc_id % 9 <> 4 THEN md5(text ||
      CASE WHEN doc_id % 10 = 5 THEN ' rev2' ELSE '' END ||
      CASE WHEN doc_id % 7 = 2 THEN ' rev3' ELSE '' END) END AS c3
  FROM rbase),
rl AS (SELECT url, list_filter([c1, c2, c3], x -> x IS NOT NULL) AS l
       FROM rcaps),
rs AS (SELECT url, len(l) - 1 AS n_obs,
              list_transform(generate_series(1, len(l) - 1),
                i -> CASE WHEN l[i] <> l[i+1] THEN CAST(1 AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END) AS obs
       FROM rl),
rf AS (SELECT url, n_obs,
              coalesce(list_sum(obs), 0) AS n_changes,
              list_reduce(
                list_prepend(CAST(86400 AS BIGINT), obs),
                (acc, y) -> CASE WHEN y = 1
                  THEN greatest(3600, acc // 2)
                  ELSE least(604800, (acc * 3) // 2) END) AS interval_s
       FROM rs)
SELECT CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(n_obs) AS BIGINT) AS n_obs,
       CAST(sum(n_changes) AS BIGINT) AS n_changes,
       CAST(min(interval_s) AS BIGINT) AS min_interval,
       CAST(max(interval_s) AS BIGINT) AS max_interval,
       CAST(sum(interval_s) AS BIGINT) AS sum_interval,
       CAST(sum(CAST(('0x' || substr(md5(url || ':' ||
             CAST(interval_s AS VARCHAR)), 1, 12)) AS UBIGINT))
            AS BIGINT) AS schedule_checksum
FROM rf
"""


# host-level link graph + integer PageRank (operators/linkgraph.py),
# driver-gated via the merged link_graph_stats relation below; the oracle
# regexps over the full SQL-reconstructed page string (_HTML_PAGE_SQL) and
# unrolls the integer PageRank iterations as CTEs.


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host→host edge list extracted from page anchors (relative
    hrefs resolve to the page's own host; absolute ones to theirs)."""
    from .operators import linkgraph as op_lg
    from .sources.web_pages import synthesize_web_pages

    pages = synthesize_web_pages(spark, sf_dir)
    return (op_lg.host_link_graph(pages)
            .orderBy("src_host", "dst_host"))


_LINKS_CTE = f"""
links AS MATERIALIZED (
  SELECT doc_id,
         concat('host', CAST({_HOST_ID} AS VARCHAR), '.example.com')
           AS src_host,
         unnest(regexp_extract_all({_HTML_PAGE_SQL}, '<a[^>]* href="([^"]+)"', 1))
           AS href
  FROM documents WHERE doc_id % 50 <> 49
),
hg AS MATERIALIZED (
  SELECT src_host,
         CASE WHEN href LIKE 'http%'
              THEN regexp_extract(href, '^https?://([^/]+)', 1)
              ELSE src_host END AS dst_host,
         CAST(count(*) AS BIGINT) AS n_links
  FROM links GROUP BY 1, 2
)"""

SQL_HOST_LINK_GRAPH = f"""
WITH {_LINKS_CTE}
SELECT src_host, dst_host, n_links FROM hg ORDER BY src_host, dst_host
"""


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer weighted PageRank (5 iterations, scale 10^6) over the host
    link graph — exact int64 arithmetic, so the distributed result is
    bit-identical to the oracle's unrolled-CTE evaluation."""
    from .operators import linkgraph as op_lg
    from .sources.web_pages import synthesize_web_pages

    pages = synthesize_web_pages(spark, sf_dir)
    edges = op_lg.host_link_graph(pages)
    return (op_lg.pagerank(edges)
            .orderBy(F.desc("rank"), "host"))


def _pagerank_unrolled_sql(cap: int, scale: int) -> str:
    """DuckDB oracle for operators/linkgraph.pagerank: each round is an
    explicit MATERIALIZED CTE (r0..r{cap}) computing the same integer
    recurrence.  The operator itself runs ADAPTIVELY (until the rank
    vector is pointwise stable, capped at the same ``cap``); stability
    of a deterministic synchronous iteration implies idempotence, so
    the cap-unrolled oracle reproduces the converged values exactly.
    ``would_change`` compares r{cap} against one probe round r{cap+1};
    ``last_chg`` is each host's last round with a rank change — its max
    is the realized round count both engines must agree on."""
    base = (15 * scale) // 100
    ctes = f""",
nodes AS MATERIALIZED (SELECT DISTINCT host FROM (
  SELECT src_host AS host FROM hg UNION SELECT dst_host FROM hg)),
outw AS MATERIALIZED (
  SELECT src_host, sum(n_links) AS out_w FROM hg GROUP BY 1),
r0 AS MATERIALIZED (
  SELECT host, CAST({scale} AS BIGINT) AS rank FROM nodes)"""
    for i in range(1, cap + 2):
        ctes += f""",
r{i} AS MATERIALIZED (
  SELECT n.host, CAST({base} + coalesce(c.s, 0) AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT hg.dst_host AS host,
           sum((85 * r{i - 1}.rank * hg.n_links) // (100 * outw.out_w)) AS s
    FROM hg
    JOIN r{i - 1} ON r{i - 1}.host = hg.src_host
    JOIN outw ON outw.src_host = hg.src_host
    GROUP BY 1) c ON c.host = n.host
)"""
    chg = "\nUNION ALL ".join(
        f"SELECT a.host, {i} AS rnd FROM r{i} a JOIN r{i - 1} b "
        f"USING (host) WHERE a.rank <> b.rank"
        for i in range(1, cap + 1))
    ctes += f""",
rchg AS MATERIALIZED ({chg}),
rlast AS MATERIALIZED (
  SELECT host, CAST(max(rnd) AS BIGINT) AS last_chg
  FROM rchg GROUP BY host)"""
    return (f"WITH {_LINKS_CTE}{ctes}\n"
            f"SELECT c.host, c.rank,\n"
            f"       CAST(CASE WHEN p.rank <> c.rank THEN 1 ELSE 0 END"
            f" AS BIGINT) AS would_change,\n"
            f"       coalesce(l.last_chg, 0) AS last_chg\n"
            f"FROM r{cap} c JOIN r{cap + 1} p USING (host)\n"
            f"LEFT JOIN rlast l USING (host)\n"
            f"ORDER BY c.rank DESC, c.host")


PAGERANK_ORACLE_CAP = 96
SQL_HOST_PAGERANK = _pagerank_unrolled_sql(PAGERANK_ORACLE_CAP, 1_000_000)


def _ppr_unrolled_sql(cap: int, scale: int) -> str:
    """DuckDB oracle for operators/linkgraph.personalized_pagerank with
    the 3 lexicographically-smallest hosts as the seed set: the same
    cap-unrolled adaptive-replay scheme as ``_pagerank_unrolled_sql``,
    with the base/teleport term restricted to seeds and rank starting
    at 0 off-seed."""
    base = (15 * scale) // 100
    ctes = f""",
pnodes AS MATERIALIZED (SELECT DISTINCT host FROM (
  SELECT src_host AS host FROM hg UNION SELECT dst_host FROM hg)),
pseed AS (SELECT host FROM pnodes ORDER BY host LIMIT 3),
pnb AS MATERIALIZED (
  SELECT n.host,
         CASE WHEN s.host IS NOT NULL THEN 1 ELSE 0 END AS is_seed
  FROM pnodes n LEFT JOIN pseed s USING (host)),
poutw AS MATERIALIZED (
  SELECT src_host, sum(n_links) AS out_w FROM hg GROUP BY 1),
pr0 AS MATERIALIZED (
  SELECT host, CAST(is_seed * {scale} AS BIGINT) AS rank FROM pnb)"""
    for i in range(1, cap + 2):
        ctes += f""",
pr{i} AS MATERIALIZED (
  SELECT n.host,
         CAST(n.is_seed * {base} + coalesce(c.s, 0) AS BIGINT) AS rank
  FROM pnb n LEFT JOIN (
    SELECT hg.dst_host AS host,
           sum((85 * pr{i - 1}.rank * hg.n_links)
               // (100 * poutw.out_w)) AS s
    FROM hg
    JOIN pr{i - 1} ON pr{i - 1}.host = hg.src_host
    JOIN poutw ON poutw.src_host = hg.src_host
    GROUP BY 1) c ON c.host = n.host)"""
    chg = "\nUNION ALL ".join(
        f"SELECT a.host, {i} AS rnd FROM pr{i} a JOIN pr{i - 1} b "
        f"USING (host) WHERE a.rank <> b.rank"
        for i in range(1, cap + 1))
    ctes += f""",
pchg AS MATERIALIZED ({chg}),
plast AS MATERIALIZED (
  SELECT host, CAST(max(rnd) AS BIGINT) AS last_chg
  FROM pchg GROUP BY host)"""
    return (f"WITH {_LINKS_CTE}{ctes}\n"
            f"SELECT n.host, r.rank, CAST(n.is_seed AS BIGINT)"
            f" AS is_seed,\n"
            f"       CAST(CASE WHEN p.rank <> r.rank THEN 1 ELSE 0 END"
            f" AS BIGINT) AS would_change,\n"
            f"       coalesce(l.last_chg, 0) AS last_chg\n"
            f"FROM pr{cap} r JOIN pr{cap + 1} p USING (host)\n"
            f"JOIN pnb n USING (host)\n"
            f"LEFT JOIN plast l USING (host)")


SQL_HOST_PPR = _ppr_unrolled_sql(PAGERANK_ORACLE_CAP, 1_000_000)


HITS_ORACLE_CAP = 32  # == operators/linkgraph.HITS_MAX_ITERATIONS


def _hits_unrolled_sql(cap: int, scale: int) -> str:
    """DuckDB oracle for operators/linkgraph.hits: each half-step is an
    explicit CTE replaying the same widen-multiply-div max-normalized
    integer recurrence (HUGEINT stands in for Spark's decimal(38,0)),
    unrolled to the adaptive operator's CAP — pointwise stability of
    the deterministic iteration implies idempotence, so the static
    cap-unroll hash-matches the data-dependent early-stopped run.
    ``hchg`` collects (host, iteration) change events against the
    h_0 = a_0 = scale initial state; per-host max(rnd) is ``last_chg``
    and its global max the realized iteration count of the converged
    gate row.

    CTEs are MATERIALIZED: each normalization references its raw CTE 3
    times (two max() scalar subqueries + the join), so inlining would
    expand the half-step chain into 3^(2*cap) scans of the base
    table."""
    ctes = f""",
hn AS MATERIALIZED (SELECT DISTINCT host FROM (
  SELECT src_host AS host FROM hg UNION SELECT dst_host FROM hg)),
h0 AS (SELECT host, CAST({scale} AS BIGINT) AS hub FROM hn),
a0 AS (SELECT host, CAST({scale} AS BIGINT) AS auth FROM hn)"""

    def norm(raw_cte: str, col: str) -> str:
        mx = f"(SELECT max(raw) FROM {raw_cte})"
        return (f"SELECT n.host, CAST(CASE WHEN coalesce({mx}, 0) <= 0 "
                f"THEN 0 ELSE CAST(coalesce(r.raw, 0) AS HUGEINT) "
                f"* {scale} // {mx} END AS BIGINT) AS {col} "
                f"FROM hn n LEFT JOIN {raw_cte} r ON r.host = n.host")

    for i in range(1, cap + 2):
        ctes += f""",
ar{i} AS MATERIALIZED (
  SELECT hg.dst_host AS host, sum(hg.n_links * h{i - 1}.hub) AS raw
  FROM hg JOIN h{i - 1} ON h{i - 1}.host = hg.src_host GROUP BY 1),
a{i} AS MATERIALIZED ({norm(f'ar{i}', 'auth')}),
hr{i} AS MATERIALIZED (
  SELECT hg.src_host AS host, sum(hg.n_links * a{i}.auth) AS raw
  FROM hg JOIN a{i} ON a{i}.host = hg.dst_host GROUP BY 1),
h{i} AS MATERIALIZED ({norm(f'hr{i}', 'hub')})"""
    chg = "\n  UNION ALL\n".join(
        f"  SELECT x.host, {i} AS rnd"
        f" FROM h{i} x JOIN h{i - 1} px ON px.host = x.host"
        f" JOIN a{i} y ON y.host = x.host"
        f" JOIN a{i - 1} py ON py.host = x.host"
        f" WHERE x.hub <> px.hub OR y.auth <> py.auth"
        for i in range(1, cap + 1))
    ctes += f""",
hchg AS MATERIALIZED (
{chg}),
hlast AS MATERIALIZED (
  SELECT host, CAST(max(rnd) AS BIGINT) AS last_chg
  FROM hchg GROUP BY host)"""
    n, p = cap, cap + 1
    return (f"WITH {_LINKS_CTE}{ctes}\n"
            f"SELECT h.host, h.hub, a.auth,\n"
            f"       CAST(CASE WHEN nh.hub <> h.hub OR na.auth <> a.auth"
            f" THEN 1 ELSE 0 END AS BIGINT) AS would_change,\n"
            f"       coalesce(l.last_chg, 0) AS last_chg\n"
            f"FROM h{n} h JOIN a{n} a USING (host)\n"
            f"JOIN h{p} nh USING (host) JOIN a{p} na USING (host)\n"
            f"LEFT JOIN hlast l USING (host)")


SQL_HOST_HITS = _hits_unrolled_sql(HITS_ORACLE_CAP, 1_000_000)


def _coreness_unrolled_sql(rounds: int) -> str:
    """DuckDB oracle for operators/linkgraph.coreness: each synchronous
    h-index round is an explicit MATERIALIZED CTE; the extra round
    ``ce{rounds+1}`` feeds the would_change convergence column, and
    per-host ``last_chg`` (last round with an estimate change) replays
    the adaptive operator's realized round count."""
    ctes = """,
cund AS MATERIALIZED (
  SELECT DISTINCT least(src_host, dst_host) AS a,
         greatest(src_host, dst_host) AS b
  FROM hg WHERE src_host <> dst_host),
cadj AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM cund
  UNION ALL SELECT b, a FROM cund),
cdeg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM cadj GROUP BY node),
ce0 AS (SELECT node, degree AS c FROM cdeg)"""
    for i in range(1, rounds + 2):
        ctes += f""",
ch{i} AS MATERIALIZED (
  SELECT node, CAST(max(least(rn, nc)) AS BIGINT) AS h FROM (
    SELECT cadj.node, e.c AS nc,
           row_number() OVER (PARTITION BY cadj.node
                              ORDER BY e.c DESC) AS rn
    FROM cadj JOIN ce{i - 1} e ON e.node = cadj.nbr)
  GROUP BY node),
ce{i} AS MATERIALIZED (
  SELECT e.node, least(e.c, h.h) AS c
  FROM ce{i - 1} e JOIN ch{i} h USING (node))"""
    chg = "\nUNION ALL ".join(
        f"SELECT a.node, {i} AS rnd FROM ce{i} a JOIN ce{i - 1} b "
        f"USING (node) WHERE a.c <> b.c"
        for i in range(1, rounds + 1))
    ctes += f""",
cchg AS MATERIALIZED ({chg}),
clast AS MATERIALIZED (
  SELECT node, CAST(max(rnd) AS BIGINT) AS last_chg
  FROM cchg GROUP BY node)"""
    return (f"WITH {_LINKS_CTE}{ctes}\n"
            f"SELECT d.node AS host, d.degree, e.c AS coreness,\n"
            f"       CAST(CASE WHEN n.c < e.c THEN 1 ELSE 0 END AS BIGINT)"
            f" AS would_change,\n"
            f"       coalesce(l.last_chg, 0) AS last_chg\n"
            f"FROM cdeg d JOIN ce{rounds} e USING (node)\n"
            f"JOIN ce{rounds + 1} n USING (node)\n"
            f"LEFT JOIN clast l USING (node)")


CORENESS_ORACLE_CAP = 32
SQL_HOST_CORENESS = _coreness_unrolled_sql(CORENESS_ORACLE_CAP)


def _walks_unrolled_sql(walks_per_node: int, length: int) -> str:
    """DuckDB oracle for operators/linkgraph.random_walks: each hash-draw
    step is an explicit CTE over the sorted adjacency-array relation."""
    ctes = f""",
wadj AS MATERIALIZED (
  SELECT src_host AS s, list_sort(list(DISTINCT dst_host)) AS nbrs
  FROM hg GROUP BY 1),
wnodes AS (SELECT DISTINCT host FROM (
  SELECT src_host AS host FROM hg UNION SELECT dst_host FROM hg)),
w0 AS (
  SELECT host AS start, gs.w AS walker, host AS cur, host AS path,
         CAST(0 AS BIGINT) AS hops
  FROM wnodes, generate_series(0, {walks_per_node - 1}) gs(w))"""
    for t in range(length):
        pick = (f"a.nbrs[CAST(CAST(('0x' || substr(md5(cur || ':' "
                f"|| CAST(walker AS VARCHAR) || ':{t}'), 1, 12)) "
                f"AS UBIGINT) % len(a.nbrs) AS BIGINT) + 1]")
        ctes += f""",
w{t + 1} AS MATERIALIZED (
  SELECT start, walker,
         CASE WHEN a.nbrs IS NOT NULL THEN {pick} ELSE cur END AS cur,
         CASE WHEN a.nbrs IS NOT NULL THEN path || '>' || {pick}
              ELSE path END AS path,
         hops + CASE WHEN a.nbrs IS NOT NULL THEN 1 ELSE 0 END AS hops
  FROM w{t} LEFT JOIN wadj a ON a.s = w{t}.cur)"""
    return (f"WITH {_LINKS_CTE}{ctes}\n"
            f"SELECT start, walker, hops, path FROM w{length}")


SQL_HOST_WALKS = _walks_unrolled_sql(2, 6)


def _bfs_unrolled_sql(rounds: int) -> str:
    """DuckDB oracle for operators/linkgraph.crawl_depth: seeds are the 3
    lexicographically-smallest hosts; each synchronous min-propagation
    round is an explicit CTE; the extra round feeds would_change."""
    inf = 1 << 62
    ctes = f""",
bn AS MATERIALIZED (SELECT DISTINCT host FROM (
  SELECT src_host AS host FROM hg UNION SELECT dst_host FROM hg)),
bseed AS (SELECT host FROM bn ORDER BY host LIMIT 3),
b0 AS (
  SELECT bn.host,
         CASE WHEN bseed.host IS NOT NULL THEN CAST(0 AS BIGINT)
              ELSE CAST({inf} AS BIGINT) END AS d
  FROM bn LEFT JOIN bseed ON bseed.host = bn.host)"""
    for i in range(1, rounds + 2):
        ctes += f""",
b{i} AS MATERIALIZED (
  SELECT c.host, least(c.d, coalesce(p.pd, {inf})) AS d
  FROM b{i - 1} c LEFT JOIN (
    SELECT hg.dst_host AS host, min(b{i - 1}.d + 1) AS pd
    FROM hg JOIN b{i - 1} ON b{i - 1}.host = hg.src_host
    GROUP BY 1) p ON p.host = c.host)"""
    chg = "\nUNION ALL ".join(
        f"SELECT a.host, {i} AS rnd FROM b{i} a JOIN b{i - 1} x "
        f"USING (host) WHERE a.d <> x.d"
        for i in range(1, rounds + 1))
    ctes += f""",
bchg AS MATERIALIZED ({chg}),
blast AS MATERIALIZED (
  SELECT host, CAST(max(rnd) AS BIGINT) AS last_chg
  FROM bchg GROUP BY host)"""
    return (f"WITH {_LINKS_CTE}{ctes}\n"
            f"SELECT c.host,\n"
            f"       CAST(CASE WHEN c.d >= {inf} THEN -1 ELSE c.d END "
            f"AS BIGINT) AS depth,\n"
            f"       CAST(CASE WHEN n.d < c.d THEN 1 ELSE 0 END AS BIGINT)"
            f" AS would_change,\n"
            f"       coalesce(l.last_chg, 0) AS last_chg\n"
            f"FROM b{rounds} c JOIN b{rounds + 1} n USING (host)\n"
            f"LEFT JOIN blast l USING (host)")


BFS_ORACLE_CAP = 32
SQL_HOST_DEPTH = _bfs_unrolled_sql(BFS_ORACLE_CAP)


def _lpa_unrolled_sql(rounds: int) -> str:
    """DuckDB oracle for operators/linkgraph.label_propagation: each
    synchronous vote round is an explicit MATERIALIZED CTE; the argmax
    over (total weight, label) is ``max(struct_pack(...)).l`` — the same
    lexicographic struct ordering Spark's ``max(struct)`` uses, so the
    full label trajectory is replayed exactly.  The extra round
    ``pl{rounds+1}`` feeds would_change."""
    ctes = """,
lund AS MATERIALIZED (
  SELECT least(src_host, dst_host) AS a,
         greatest(src_host, dst_host) AS b,
         CAST(sum(n_links) AS BIGINT) AS w
  FROM hg WHERE src_host <> dst_host GROUP BY 1, 2),
ladj AS MATERIALIZED (
  SELECT a AS node, b AS nbr, w FROM lund
  UNION ALL SELECT b, a, w FROM lund),
lnd AS MATERIALIZED (SELECT DISTINCT host AS node FROM (
  SELECT src_host AS host FROM hg UNION SELECT dst_host FROM hg)),
pl0 AS (SELECT node, node AS label FROM lnd)"""
    for i in range(1, rounds + 2):
        ctes += f""",
pl{i} AS MATERIALIZED (
  SELECT c.node, coalesce(v.nl, c.label) AS label
  FROM pl{i - 1} c LEFT JOIN (
    SELECT node, max(struct_pack(s := s, l := nlbl)).l AS nl FROM (
      SELECT a.node, p.label AS nlbl, CAST(sum(a.w) AS BIGINT) AS s
      FROM ladj a JOIN pl{i - 1} p ON p.node = a.nbr
      GROUP BY a.node, p.label)
    GROUP BY node) v ON v.node = c.node)"""
    chg = "\nUNION ALL ".join(
        f"SELECT a.node, {i} AS rnd FROM pl{i} a JOIN pl{i - 1} b "
        f"USING (node) WHERE a.label <> b.label"
        for i in range(1, rounds + 1))
    ctes += f""",
lchg AS MATERIALIZED ({chg}),
llast AS MATERIALIZED (
  SELECT node, CAST(max(rnd) AS BIGINT) AS last_chg
  FROM lchg GROUP BY node)"""
    return (f"WITH {_LINKS_CTE}{ctes},\n"
            f"lsz AS (SELECT label, CAST(count(*) AS BIGINT) AS sz\n"
            f"        FROM pl{rounds} GROUP BY label)\n"
            f"SELECT c.node AS host, c.label,\n"
            f"       lsz.sz AS community_size,\n"
            f"       CAST(CASE WHEN n.label <> c.label THEN 1 ELSE 0 END"
            f" AS BIGINT) AS would_change,\n"
            f"       coalesce(l.last_chg, 0) AS last_chg\n"
            f"FROM pl{rounds} c JOIN pl{rounds + 1} n USING (node)\n"
            f"JOIN lsz ON lsz.label = c.label\n"
            f"LEFT JOIN llast l USING (node)")


LPA_ORACLE_CAP = 24
SQL_HOST_LPA = _lpa_unrolled_sql(LPA_ORACLE_CAP)


def _scc_cte_chain(outer: int, rounds: int, trim_rounds: int) -> str:
    """The CTE chain shared by the SCC and bowtie oracles: every trim,
    forward-color and backward-membership round of every outer
    iteration as an explicit MATERIALIZED CTE replaying the identical
    recurrences on the identical active subgraph (final relation:
    ``ss{outer}``)."""
    ctes = """,
sn AS MATERIALIZED (SELECT DISTINCT host AS node FROM (
  SELECT src_host AS host FROM hg UNION SELECT dst_host FROM hg)),
sde AS MATERIALIZED (
  SELECT DISTINCT src_host AS u, dst_host AS v
  FROM hg WHERE src_host <> dst_host),
ss0 AS (SELECT node, CAST(NULL AS VARCHAR) AS scc FROM sn)"""
    for i in range(outer):
        ctes += f""",
ta{i}_0 AS MATERIALIZED (SELECT node FROM ss{i} WHERE scc IS NULL)"""
        for r in range(1, trim_rounds + 1):
            ctes += f""",
tae{i}_{r} AS MATERIALIZED (
  SELECT u, v FROM sde
  WHERE u IN (SELECT node FROM ta{i}_{r - 1})
    AND v IN (SELECT node FROM ta{i}_{r - 1})),
ta{i}_{r} AS MATERIALIZED (
  SELECT node FROM ta{i}_{r - 1}
  WHERE node IN (SELECT u FROM tae{i}_{r})
    AND node IN (SELECT v FROM tae{i}_{r}))"""
        ctes += f""",
sa{i} AS MATERIALIZED (SELECT node FROM ta{i}_{trim_rounds}),
strm{i} AS MATERIALIZED (
  SELECT node FROM ta{i}_0 EXCEPT SELECT node FROM ta{i}_{trim_rounds}),
se{i} AS MATERIALIZED (
  SELECT u, v FROM sde
  WHERE u IN (SELECT node FROM sa{i})
    AND v IN (SELECT node FROM sa{i})),
sc{i}_0 AS (SELECT node, node AS color FROM sa{i})"""
        for t in range(1, rounds + 1):
            ctes += f""",
sc{i}_{t} AS MATERIALIZED (
  SELECT c.node, greatest(c.color, coalesce(p.pc, c.color)) AS color
  FROM sc{i}_{t - 1} c LEFT JOIN (
    SELECT e.v AS node, max(cu.color) AS pc
    FROM se{i} e JOIN sc{i}_{t - 1} cu ON cu.node = e.u
    GROUP BY e.v) p USING (node))"""
        # extra color round feeds the root-soundness gate: roots are
        # declared only when NO color would still grow (fixpoint)
        i_extra = rounds + 1
        ctes += f""",
sc{i}_{i_extra} AS MATERIALIZED (
  SELECT c.node, greatest(c.color, coalesce(p.pc, c.color)) AS color
  FROM sc{i}_{rounds} c LEFT JOIN (
    SELECT e.v AS node, max(cu.color) AS pc
    FROM se{i} e JOIN sc{i}_{rounds} cu ON cu.node = e.u
    GROUP BY e.v) p USING (node)),
sconv{i} AS (
  SELECT coalesce(max(CASE WHEN n.color > c.color THEN 1 ELSE 0 END),
                  0) AS unstable
  FROM sc{i}_{rounds} c JOIN sc{i}_{i_extra} n USING (node)),
sm{i}_0 AS (SELECT node, CASE WHEN (SELECT unstable FROM sconv{i}) = 0
                               AND color = node THEN node END AS scc2
            FROM sc{i}_{rounds})"""
        for t in range(1, rounds + 1):
            ctes += f""",
sm{i}_{t} AS MATERIALIZED (
  SELECT m.node, coalesce(m.scc2, p.pscc) AS scc2
  FROM sm{i}_{t - 1} m LEFT JOIN (
    SELECT e.u AS node, max(mv.scc2) AS pscc
    FROM se{i} e
    JOIN sm{i}_{t - 1} mv ON mv.node = e.v AND mv.scc2 IS NOT NULL
    JOIN sc{i}_{rounds} cu ON cu.node = e.u AND cu.color = mv.scc2
    GROUP BY e.u) p USING (node))"""
        ctes += f""",
ss{i + 1} AS MATERIALIZED (
  SELECT s.node, coalesce(s.scc, m.scc2, t.node) AS scc
  FROM ss{i} s LEFT JOIN sm{i}_{rounds} m USING (node)
  LEFT JOIN strm{i} t USING (node))"""
    return ctes


def _scc_unrolled_sql(outer: int, rounds: int, trim_rounds: int) -> str:
    """DuckDB oracle for operators/linkgraph.strongly_connected — the
    shared :func:`_scc_cte_chain` plus the size/assignment rollup."""
    ctes = _scc_cte_chain(outer, rounds, trim_rounds)
    return (f"WITH {_LINKS_CTE}{ctes},\n"
            f"ssz AS (SELECT scc, CAST(count(*) AS BIGINT) AS scc_size\n"
            f"        FROM ss{outer} WHERE scc IS NOT NULL GROUP BY scc)\n"
            f"SELECT s.node AS host, coalesce(s.scc, '') AS scc,\n"
            f"       coalesce(z.scc_size, 0) AS scc_size,\n"
            f"       CAST(CASE WHEN s.scc IS NOT NULL THEN 1 ELSE 0 END"
            f" AS BIGINT) AS assigned\n"
            f"FROM ss{outer} s LEFT JOIN ssz z ON z.scc = s.scc")


SQL_HOST_SCC = _scc_unrolled_sql(3, 24, 6)


def _bowtie_unrolled_sql(rounds: int, outer: int = 3,
                         scc_rounds: int = 24,
                         trim_rounds: int = 6) -> str:
    """DuckDB oracle for operators/linkgraph.bowtie_classes: the SCC
    relation (the shared :func:`_scc_cte_chain`, inlined rather than
    nested so the materialized ``links`` CTE is defined once) picks the
    core via the same max(struct) rule, then each forward/backward
    reachability round is an explicit CTE replaying crawl_depth's
    min-propagation from the core seed set."""
    inf = 1 << 62
    ctes = _scc_cte_chain(outer, scc_rounds, trim_rounds)
    ctes += f""",
btsz AS (SELECT scc, CAST(count(*) AS BIGINT) AS scc_size
         FROM ss{outer} WHERE scc IS NOT NULL GROUP BY scc),
bts AS MATERIALIZED (
  SELECT s.node AS host, coalesce(s.scc, '') AS scc,
         coalesce(z.scc_size, 0) AS scc_size,
         CAST(CASE WHEN s.scc IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS assigned
  FROM ss{outer} s LEFT JOIN btsz z ON z.scc = s.scc),
bbest AS (SELECT max(struct_pack(sz := scc_size, l := scc)).l AS cl
          FROM (SELECT DISTINCT scc, scc_size FROM bts
                WHERE assigned = 1)),
bseeds AS MATERIALIZED (
  SELECT host FROM bts, bbest WHERE scc = cl),
bf0 AS (
  SELECT b.host, CASE WHEN s.host IS NOT NULL THEN CAST(0 AS BIGINT)
                      ELSE CAST({inf} AS BIGINT) END AS d
  FROM bts b LEFT JOIN bseeds s USING (host)),
bb0 AS (SELECT host, d FROM bf0)"""
    for i in range(1, rounds + 1):
        ctes += f""",
bf{i} AS MATERIALIZED (
  SELECT c.host, least(c.d, coalesce(p.pd, {inf})) AS d
  FROM bf{i - 1} c LEFT JOIN (
    SELECT hg.dst_host AS host, min(bf{i - 1}.d + 1) AS pd
    FROM hg JOIN bf{i - 1} ON bf{i - 1}.host = hg.src_host
    GROUP BY 1) p ON p.host = c.host),
bb{i} AS MATERIALIZED (
  SELECT c.host, least(c.d, coalesce(p.pd, {inf})) AS d
  FROM bb{i - 1} c LEFT JOIN (
    SELECT hg.src_host AS host, min(bb{i - 1}.d + 1) AS pd
    FROM hg JOIN bb{i - 1} ON bb{i - 1}.host = hg.dst_host
    GROUP BY 1) p ON p.host = c.host)"""
    return (f"WITH {_LINKS_CTE}{ctes}\n"
            f"SELECT t.host,\n"
            f"  CASE WHEN t.scc = (SELECT cl FROM bbest) THEN 'core'\n"
            f"       WHEN f.d < {inf} AND b.d < {inf} THEN 'inout'\n"
            f"       WHEN b.d < {inf} THEN 'in'\n"
            f"       WHEN f.d < {inf} THEN 'out'\n"
            f"       ELSE 'other' END AS cls,\n"
            f"  CAST(CASE WHEN f.d >= {inf} THEN -1 ELSE f.d END"
            f" AS BIGINT) AS out_depth,\n"
            f"  CAST(CASE WHEN b.d >= {inf} THEN -1 ELSE b.d END"
            f" AS BIGINT) AS in_depth\n"
            f"FROM bts t JOIN bf{rounds} f USING (host)\n"
            f"JOIN bb{rounds} b USING (host)")


SQL_HOST_BOWTIE = _bowtie_unrolled_sql(32)


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus rollup: per link text, occurrence count and
    distinct target hosts — the (anchor, target) pair relation used as
    retrieval-training data from crawls."""
    from .operators import linkgraph as op_lg
    from .sources.web_pages import synthesize_web_pages

    pairs = op_lg.anchor_text_pairs(synthesize_web_pages(spark, sf_dir))
    return (
        pairs.groupBy("anchor")
        .agg(F.count("*").alias("n"),
             F.countDistinct("dst_host").alias("n_dst_hosts"))
        .orderBy("anchor")
    )


SQL_ANCHOR_TEXTS = f"""
WITH anchors AS (
  SELECT concat('host', CAST({_HOST_ID} AS VARCHAR), '.example.com')
           AS src_host,
         regexp_extract_all({_HTML_PAGE_SQL},
                            '<a[^>]* href="([^"]+)"[^>]*>([^<]*)</a>', 1) AS hl,
         regexp_extract_all({_HTML_PAGE_SQL},
                            '<a[^>]* href="([^"]+)"[^>]*>([^<]*)</a>', 2) AS al
  FROM documents WHERE doc_id % 50 <> 49
),
pairs AS (
  SELECT src_host, hl[i] AS href, al[i] AS anchor
  FROM anchors, LATERAL (SELECT unnest(generate_series(1, len(hl))) AS i)
)
SELECT anchor, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT CASE WHEN href LIKE 'http%'
                 THEN regexp_extract(href, '^https?://([^/]+)', 1)
                 ELSE src_host END) AS BIGINT) AS n_dst_hosts
FROM pairs GROUP BY anchor ORDER BY anchor
"""


def _alias_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic url-alias relation for the resolution stage: redirects
    (doc_id % 17 in {4,5,6} -> previous doc, giving 3-long runs that chain)
    and rel=canonical declarations (doc_id % 13 == 6 -> doc_id - 2, which
    skips INTO redirect runs, so mixed-kind multi-hop chains exist).  Every
    edge decreases doc_id, so the graph is a DAG by construction.  One
    outgoing edge per alias: canonical wins when both rules hit (the
    crawl convention — an explicit canonical declaration overrides the
    fetch-time redirect record)."""
    from .sources.web_pages import url_expr

    d = F.col("doc_id")
    is_canon = ((d % 13) == 6) & (d >= 2)
    is_redir = (d % 17).isin(4, 5, 6) & (d >= 1)
    tgt = F.when(is_canon, d - 2).otherwise(d - 1)
    return (
        _read(spark, sf_dir, "documents")
        .select("doc_id").filter(is_redir | is_canon)
        .select(url_expr(d).alias("alias"), url_expr(tgt).alias("target"),
                F.when(is_canon, F.lit("canonical"))
                .otherwise(F.lit("redirect")).alias("kind"))
    )


_DOMAIN_SUFFIX_POOL = ("com", "co.uk", "org", "com.au", "io", "ac.jp",
                       "de", "internal")
_DOMAIN_SUB_POOL = ("", "www.", "cdn.eu.")


def _stress_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic host population exercising eTLD+1 extraction: 8
    suffixes (multi-label ccTLD suffixes AND one unknown TLD for the PSL
    '*' fallback), 97 site labels, 3 subdomain depths.  The oracle
    reconstructs host AND registrable in closed form, so the gate checks
    the general PSL longest-match algorithm against an independent
    derivation."""
    d = F.col("doc_id")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _DOMAIN_SUFFIX_POOL]),
        (d % 8 + 1).cast("int"))
    sub = F.element_at(
        F.array(*[F.lit(s) for s in _DOMAIN_SUB_POOL]),
        (d % 3 + 1).cast("int"))
    return _read(spark, sf_dir, "documents").select(
        F.concat(sub, F.lit("site"), (d % 97).cast("string"),
                 F.lit("."), suffix).alias("host"))


def q_link_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl link-graph suite in one relation (section, k1, k2, v1, v2):
    the weighted host→host edge list (section='edge'), the integer
    PageRank fixpoint over it (section='rank'), the anchor-text
    rollup used as retrieval-training pairs (section='anchor'), and the
    redirect/rel-canonical alias-chain resolution summary
    (section='alias': pointer-jumping path doubling,
    operators/linkgraph.resolve_aliases, content-gated by the md5-prefix
    checksum over every alias->root pair), and the crawl-frontier URL
    template rollup (section='urlpattern': digit runs in outlink paths
    collapsed to {n}, operators/linkgraph.url_pattern_stats — the
    pattern-mining key that spots pagination/session traps), and the
    degree-ordered triangle count (section='triangle': k1=host,
    v1=n_triangles, v2=degree — the exact-integer pair the local
    clustering coefficient 2T/(d(d-1)) reads off;
    operators/linkgraph.triangle_stats, hub-skew bounded by low→high
    (deg, host) edge orientation), and integer HITS hubs/authorities
    (section='hits': k1=host, v1=hub, v2=auth — Kleinberg mutual
    reinforcement with exact max-normalization run adaptively to its
    pointwise-stable state, capped; operators/linkgraph.hits,
    bit-identical across engines/partitionings, with a k2='converged'
    gate row carrying sum(would_change) and the realized iteration
    count max(last_chg)), and the k-core
    decomposition (section='core': k1=host, v1=coreness, v2=degree via
    synchronous h-index iterations, operators/linkgraph.coreness; the
    k2='converged' row gates sum(would_change)==0, i.e. the values ARE
    the exact coreness), and deterministic weighted label-propagation
    communities (section='community': k1=host, k2=community label,
    v1=community size, v2=per-node would_change —
    operators/linkgraph.label_propagation, synchronous max(struct)
    argmax votes, 4 rounds, unrolled-CTE oracle), and strongly
    connected components (section='scc': k1=host, k2=SCC root, v1=SCC
    size, v2=assigned flag — operators/linkgraph.strongly_connected,
    synchronous Orzan coloring: forward max-color + backward
    membership, the Broder bowtie CORE decomposition; unassigned
    remainder reported, unrolled-CTE oracle), and personalized
    PageRank from the 3 smallest hosts (section='ppr': k1=host,
    v1=integer trust rank, v2=is_seed —
    operators/linkgraph.personalized_pagerank, the TrustRank family;
    hosts with no trust path score exactly 0).  Pages are parsed
    once; the edge relation is reused by the rank, triangle, hits,
    core, community, scc, bowtie and ppr sections."""
    from .operators import linkgraph as op_lg
    from .sources.web_pages import synthesize_web_pages

    pages = synthesize_web_pages(spark, sf_dir)
    # eleven sections consume the host edge list (several iteratively);
    # pin it once so the page parse + groupBy run a single time instead
    # of per section
    edges = op_lg.host_link_graph(pages).localCheckpoint(eager=True)
    # ... and the weakly-connected component labelling is shared by
    # every hybrid iterative section (rank, ppr, depth, core,
    # community, scc, bowtie): computed ONCE here
    wcc = op_lg.weakly_connected(edges)
    zero = F.lit(0).cast("long")

    def conv_row(df, section, v1, v2):
        """1-row convergence/realized-rounds gate for an adaptive
        iterative section: both engines must agree that the values are
        the fixpoint (v1 = residual would_change count) AND on the
        realized round count (v2 = max last-changed round)."""
        return df.agg(
            F.coalesce(v1, F.lit(0)).cast("long").alias("v1"),
            F.coalesce(v2, F.lit(0)).cast("long").alias("v2"),
        ).select(F.lit(section).alias("section"), F.lit("").alias("k1"),
                 F.lit("converged").alias("k2"), "v1", "v2")

    edge_rows = edges.select(
        F.lit("edge").alias("section"), F.col("src_host").alias("k1"),
        F.col("dst_host").alias("k2"), F.col("n_links").alias("v1"),
        zero.alias("v2"),
    )
    # every hybrid op below feeds TWO branches (per-host rows +
    # the converged/realized gate row): pin each result so the
    # component solve runs once, not once per branch
    pr = op_lg.pagerank(edges, wcc=wcc).localCheckpoint(eager=False)
    rank_rows = pr.select(
        F.lit("rank").alias("section"), F.col("host").alias("k1"),
        F.lit("").alias("k2"), F.col("rank").alias("v1"), zero.alias("v2"),
    ).unionByName(conv_row(pr, "rank", F.sum("would_change"),
                           F.max("last_chg")))
    anchor_rows = (
        op_lg.anchor_text_pairs(pages)
        .groupBy("anchor")
        .agg(F.count("*").alias("v1"),
             F.countDistinct("dst_host").alias("v2"))
        .select(F.lit("anchor").alias("section"),
                F.col("anchor").alias("k1"), F.lit("").alias("k2"),
                "v1", "v2")
    )
    ar = op_lg.alias_resolution_stats(_alias_edges(spark, sf_dir))
    alias_rows = ar.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("k1"), F.col(c).cast("long").alias("v1"))
        for c in ar.columns])).alias("kv")).select(
        F.lit("alias").alias("section"), F.col("kv.k1").alias("k1"),
        F.lit("").alias("k2"), F.col("kv.v1").alias("v1"), zero.alias("v2"))
    from .operators import domains as op_dom

    ds = op_dom.domain_stats(_stress_hosts(spark, sf_dir))
    domain_rows = (
        ds.select(F.lit("domain").alias("section"),
                  F.col("suffix").alias("k1"), F.lit("counts").alias("k2"),
                  F.col("n_rows").alias("v1"), F.col("n_hosts").alias("v2"))
        .unionByName(ds.select(
            F.lit("domain").alias("section"), F.col("suffix").alias("k1"),
            F.lit("reg").alias("k2"), F.col("n_registrable").alias("v1"),
            F.col("reg_checksum").alias("v2")))
    )
    pattern_rows = op_lg.url_pattern_stats(pages).select(
        F.lit("urlpattern").alias("section"),
        F.col("template").alias("k1"), F.lit("").alias("k2"),
        F.col("n_links").alias("v1"),
        F.col("n_distinct_urls").alias("v2"),
    )
    triangle_rows = op_lg.triangle_stats(edges).select(
        F.lit("triangle").alias("section"), F.col("host").alias("k1"),
        F.lit("").alias("k2"), F.col("n_triangles").alias("v1"),
        F.col("degree").alias("v2"))
    ht = op_lg.hits(edges).localCheckpoint(eager=False)
    hits_rows = ht.select(
        F.lit("hits").alias("section"), F.col("host").alias("k1"),
        F.lit("").alias("k2"), F.col("hub").alias("v1"),
        F.col("auth").alias("v2")
    ).unionByName(conv_row(ht, "hits", F.sum("would_change"),
                           F.max("last_chg")))
    seeds = (edges.select(F.col("src_host").alias("host"))
             .unionByName(edges.select(F.col("dst_host").alias("host")))
             .distinct().orderBy("host").limit(3))
    ppr = op_lg.personalized_pagerank(edges, seeds, wcc=wcc)\
        .localCheckpoint(eager=False)
    ppr_rows = ppr.select(
        F.lit("ppr").alias("section"), F.col("host").alias("k1"),
        F.lit("").alias("k2"), F.col("rank").alias("v1"),
        F.col("is_seed").alias("v2")
    ).unionByName(conv_row(ppr, "ppr", F.sum("would_change"),
                           F.max("last_chg")))
    depth = op_lg.crawl_depth(edges, seeds, wcc=wcc)\
        .localCheckpoint(eager=False)
    depth_rows = depth.select(
        F.lit("depth").alias("section"), F.col("host").alias("k1"),
        F.lit("").alias("k2"), F.col("depth").alias("v1"),
        F.lit(0).cast("long").alias("v2"))
    depth_conv = conv_row(depth, "depth", F.sum("would_change"),
                          F.max("last_chg"))
    walks = op_lg.random_walks(edges, wcc=wcc)
    walk_rows = walks.select(
        F.lit("walk").alias("section"), F.col("start").alias("k1"),
        F.col("walker").cast("string").alias("k2"),
        F.col("hops").alias("v1"),
        F.conv(F.substring(F.md5(F.col("path").cast("binary")), 1, 12),
               16, 10).cast("long").alias("v2"))
    lpa = op_lg.label_propagation(edges, wcc=wcc)\
        .localCheckpoint(eager=False)
    community_rows = lpa.select(
        F.lit("community").alias("section"), F.col("host").alias("k1"),
        F.col("label").alias("k2"), F.col("community_size").alias("v1"),
        F.col("would_change").alias("v2")
    ).unionByName(conv_row(lpa, "community", F.sum("would_change"),
                           F.max("last_chg")))
    scc = op_lg.strongly_connected(edges, wcc=wcc)\
        .localCheckpoint(eager=False)
    scc_rows = scc.select(
        F.lit("scc").alias("section"), F.col("host").alias("k1"),
        F.col("scc").alias("k2"), F.col("scc_size").alias("v1"),
        F.col("assigned").alias("v2")
    ).unionByName(conv_row(scc, "scc",
                           F.sum(F.lit(1) - F.col("assigned")),
                           F.count("*")))
    bowtie_rows = op_lg.bowtie_classes(edges, scc, wcc=wcc).select(
        F.lit("bowtie").alias("section"), F.col("host").alias("k1"),
        F.col("cls").alias("k2"), F.col("out_depth").alias("v1"),
        F.col("in_depth").alias("v2"))
    core = op_lg.coreness(edges, wcc=wcc)\
        .localCheckpoint(eager=False)
    core_rows = core.select(
        F.lit("core").alias("section"), F.col("host").alias("k1"),
        F.lit("").alias("k2"), F.col("coreness").alias("v1"),
        F.col("degree").alias("v2"))
    core_conv = conv_row(core, "core", F.sum("would_change"),
                         F.max("last_chg"))
    return (edge_rows.unionByName(rank_rows).unionByName(anchor_rows)
            .unionByName(alias_rows).unionByName(domain_rows)
            .unionByName(pattern_rows).unionByName(triangle_rows)
            .unionByName(hits_rows).unionByName(core_rows)
            .unionByName(core_conv).unionByName(walk_rows)
            .unionByName(depth_rows).unionByName(depth_conv)
            .unionByName(community_rows).unionByName(scc_rows)
            .unionByName(bowtie_rows).unionByName(ppr_rows)
            .orderBy("section", "k1", "k2"))


# alias resolution oracle: the recursive CTE expands every chain prefix;
# max_by(target, hops) per alias is the full resolution (hops strictly
# increases along a chain, so the argmax is unique and deterministic)
_URL_TGT = _URL.replace("doc_id", "tgt")
SQL_ALIAS_RESOLUTION = f"""
WITH RECURSIVE ae AS (
  SELECT {_URL} AS alias, {_URL_TGT} AS target, kind FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 6 AND doc_id >= 2
                THEN doc_id - 2 ELSE doc_id - 1 END AS tgt,
           CASE WHEN doc_id % 13 = 6 AND doc_id >= 2
                THEN 'canonical' ELSE 'redirect' END AS kind
    FROM documents
    WHERE (doc_id % 17 IN (4, 5, 6) AND doc_id >= 1)
       OR (doc_id % 13 = 6 AND doc_id >= 2))),
r AS (
  SELECT alias, target, 1 AS hops FROM ae
  UNION ALL
  SELECT r.alias, ae.target, r.hops + 1
  FROM r JOIN ae ON r.target = ae.alias),
res AS (
  SELECT alias, max_by(target, hops) AS root, max(hops) AS hops
  FROM r GROUP BY alias)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM ae) AS n_edges,
       (SELECT CAST(coalesce(sum(CASE WHEN kind = 'redirect'
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM ae) AS n_redirect,
       (SELECT CAST(coalesce(sum(CASE WHEN kind = 'canonical'
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM ae) AS n_canonical,
       CAST(count(DISTINCT root) AS BIGINT) AS n_roots,
       CAST(max(hops) AS BIGINT) AS max_hops,
       CAST(coalesce(sum(hops), 0) AS BIGINT) AS sum_hops,
       CAST(coalesce(sum(CAST(('0x' || substr(md5(alias || '->' || root),
                                              1, 12)) AS UBIGINT)), 0)
            AS BIGINT) AS map_checksum
FROM res
"""

# domain rollup oracle: host AND registrable reconstructed in closed form
# (the Spark side runs the general PSL longest-match algorithm — an
# independent derivation, including the unknown-TLD fallback row)
SQL_DOMAIN_STATS = """
WITH dpool AS (
  SELECT (['com','co.uk','org','com.au','io','ac.jp','de','internal'])
           [CAST(doc_id % 8 AS INT) + 1] AS suffix,
         'site' || CAST(doc_id % 97 AS VARCHAR) AS reg_label,
         (['','www.','cdn.eu.'])[CAST(doc_id % 3 AS INT) + 1] AS sub
  FROM documents),
dh AS (
  SELECT suffix, sub || reg_label || '.' || suffix AS host,
         reg_label || '.' || suffix AS registrable
  FROM dpool)
SELECT suffix, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT registrable) AS BIGINT) AS n_registrable,
       CAST(coalesce(sum(CAST(('0x' || substr(md5(registrable), 1, 12))
                          AS UBIGINT)), 0) AS BIGINT) AS reg_checksum
FROM dh GROUP BY suffix
"""

SQL_LINK_GRAPH_STATS = f"""
WITH dstats AS ({SQL_DOMAIN_STATS}),
prk AS MATERIALIZED (SELECT * FROM ({SQL_HOST_PAGERANK})),
pprk AS MATERIALIZED (SELECT * FROM ({SQL_HOST_PPR})),
crk AS MATERIALIZED (SELECT * FROM ({SQL_HOST_CORENESS})),
dpk AS MATERIALIZED (SELECT * FROM ({SQL_HOST_DEPTH})),
lpk AS MATERIALIZED (SELECT * FROM ({SQL_HOST_LPA})),
sck AS MATERIALIZED (SELECT * FROM ({SQL_HOST_SCC})),
hts AS MATERIALIZED (SELECT * FROM ({SQL_HOST_HITS})),
tund AS (
  SELECT DISTINCT least(src_host, dst_host) AS a,
         greatest(src_host, dst_host) AS b
  FROM ({SQL_HOST_LINK_GRAPH}) WHERE src_host <> dst_host),
tdeg AS (
  SELECT h, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS h FROM tund UNION ALL SELECT b FROM tund) GROUP BY h),
tori AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
              THEN a ELSE b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
              THEN b ELSE a END AS v
  FROM tund JOIN tdeg da ON da.h = a JOIN tdeg db ON db.h = b),
ttri AS (
  SELECT o1.u AS u, o1.v AS v, o2.v AS w
  FROM tori o1 JOIN tori o2 ON o1.u = o2.u AND o1.v <> o2.v
  JOIN tori oc ON oc.u = o1.v AND oc.v = o2.v),
tcnt AS (
  SELECT h, CAST(count(*) AS BIGINT) AS t FROM (
    SELECT u AS h FROM ttri UNION ALL SELECT v FROM ttri
    UNION ALL SELECT w FROM ttri) GROUP BY h),
upat AS (
  SELECT regexp_replace(CASE WHEN p = '' THEN '/' ELSE p END,
                        '[0-9]+', '{{n}}', 'g') AS template, href
  FROM (
    SELECT href,
           regexp_replace(regexp_replace(href, '^https?://[^/]*', ''),
                          '[?#].*$', '') AS p
    FROM (SELECT unnest(regexp_extract_all({_HTML_PAGE_SQL},
                   '<a[^>]* href="([^"]+)"', 1)) AS href
          FROM documents WHERE doc_id % 50 <> 49)))
SELECT section, k1, k2, v1, v2 FROM (
  SELECT 'edge' AS section, src_host AS k1, dst_host AS k2,
         n_links AS v1, CAST(0 AS BIGINT) AS v2
  FROM ({SQL_HOST_LINK_GRAPH})
  UNION ALL
  SELECT 'rank', host, '', rank, 0 FROM prk
  UNION ALL
  SELECT 'rank', '', 'converged',
         CAST(coalesce(sum(would_change), 0) AS BIGINT),
         CAST(coalesce(max(last_chg), 0) AS BIGINT)
  FROM prk
  UNION ALL
  SELECT 'anchor', anchor, '', n, n_dst_hosts FROM ({SQL_ANCHOR_TEXTS})
  UNION ALL
  SELECT 'alias', m.k1, '', m.v1, 0 FROM ({SQL_ALIAS_RESOLUTION}) a,
  LATERAL (VALUES ('n_edges', a.n_edges), ('n_redirect', a.n_redirect),
                  ('n_canonical', a.n_canonical), ('n_roots', a.n_roots),
                  ('max_hops', a.max_hops), ('sum_hops', a.sum_hops),
                  ('map_checksum', a.map_checksum)) AS m(k1, v1)
  UNION ALL
  SELECT 'domain', suffix, 'counts', n_rows, n_hosts FROM dstats
  UNION ALL
  SELECT 'domain', suffix, 'reg', n_registrable, reg_checksum
  FROM dstats
  UNION ALL
  SELECT 'urlpattern', template, '', CAST(count(*) AS BIGINT),
         CAST(count(DISTINCT href) AS BIGINT)
  FROM upat GROUP BY template
  UNION ALL
  SELECT 'triangle', d.h, '', coalesce(t.t, 0), d.d
  FROM tdeg d LEFT JOIN tcnt t ON t.h = d.h
  UNION ALL
  SELECT 'hits', host, '', hub, auth FROM hts
  UNION ALL
  SELECT 'hits', '', 'converged',
         CAST(coalesce(sum(would_change), 0) AS BIGINT),
         CAST(coalesce(max(last_chg), 0) AS BIGINT)
  FROM hts
  UNION ALL
  SELECT 'core', host, '', coreness, degree FROM crk
  UNION ALL
  SELECT 'core', '', 'converged',
         CAST(coalesce(sum(would_change), 0) AS BIGINT),
         CAST(coalesce(max(last_chg), 0) AS BIGINT)
  FROM crk
  UNION ALL
  SELECT 'walk', start, CAST(walker AS VARCHAR), hops,
         CAST(CAST(('0x' || substr(md5(path), 1, 12)) AS UBIGINT)
              AS BIGINT)
  FROM ({SQL_HOST_WALKS})
  UNION ALL
  SELECT 'depth', host, '', depth, 0 FROM dpk
  UNION ALL
  SELECT 'depth', '', 'converged',
         CAST(coalesce(sum(would_change), 0) AS BIGINT),
         CAST(coalesce(max(last_chg), 0) AS BIGINT)
  FROM dpk
  UNION ALL
  SELECT 'community', host, label, community_size, would_change
  FROM lpk
  UNION ALL
  SELECT 'community', '', 'converged',
         CAST(coalesce(sum(would_change), 0) AS BIGINT),
         CAST(coalesce(max(last_chg), 0) AS BIGINT)
  FROM lpk
  UNION ALL
  SELECT 'scc', host, scc, scc_size, assigned FROM sck
  UNION ALL
  SELECT 'scc', '', 'converged',
         CAST(coalesce(sum(1 - assigned), 0) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM sck
  UNION ALL
  SELECT 'bowtie', host, cls, out_depth, in_depth
  FROM ({SQL_HOST_BOWTIE})
  UNION ALL
  SELECT 'ppr', host, '', rank, is_seed FROM pprk
  UNION ALL
  SELECT 'ppr', '', 'converged',
         CAST(coalesce(sum(would_change), 0) AS BIGINT),
         CAST(coalesce(max(last_chg), 0) AS BIGINT)
  FROM pprk
) ORDER BY section, k1, k2
"""


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl page-metadata extraction (operators/metadata.py) UNIONed with
    web-table mining (operators/webtables.py) over the with_tables corpus
    variant: per-lang title coverage/volume, html-lang agreement, outlink
    totals (WET/WAT header fields, one codegen'd regexp pass) joined with
    the WDC-style table rollup (layout-vs-data classification, header
    cells, integer-cell value checksum) and the head-metadata rollup
    (operators/metadata.head_meta_stats: publication-date coverage with a
    byte-gating md5-prefix checksum over the extracted date strings,
    distinct authors, canonical-link self/consolidating accounting) and
    the schema.org JSON-LD rollup (operators/structdata.py: block/page
    coverage, @type byte checksum, Article wordCount totals, Product
    offer prices in exact integer cents — parsed with from_json from the
    with_ld_json corpus variant).  PDF payload rows match nothing on any
    side and count as zero-metadata, zero-table, zero-JSON-LD pages."""
    from .operators import metadata as op_md
    from .operators import structdata as op_sd
    from .operators import webtables as op_wt
    from .sources.web_pages import synthesize_web_pages

    from .operators import markdown as op_mdwn

    pages = synthesize_web_pages(spark, sf_dir, with_tables=True,
                                 with_head_meta=True, with_ld_json=True)
    return (
        op_md.metadata_stats(pages)
        .join(op_wt.web_table_stats(pages), "lang")
        .join(op_md.head_meta_stats(pages), "lang")
        .join(op_sd.structured_data_stats(pages), "lang")
        .join(op_mdwn.markdown_stats(pages), "lang")
        .orderBy("lang")
    )


_SQL_TABLES_CTE = f"""
pg AS (
  SELECT lang, {_URL} AS url, {_PAGE_STRING_RICH_SQL} AS s
  FROM documents),
tbl AS (
  SELECT lang, unnest(regexp_extract_all(s, '(?s)<table[^>]*>(.*?)</table>', 1)) AS t
  FROM pg),
tstat AS (
  SELECT lang, t,
         len(regexp_extract_all(t, '(?s)<tr[^>]*>(.*?)</tr>', 1)) AS n_rows,
         len(regexp_extract_all(t, '(?s)<t[dh][^>]*>(.*?)</t[dh]>', 1)) AS n_cells,
         len(regexp_extract_all(
             regexp_extract_all(t, '(?s)<tr[^>]*>(.*?)</tr>', 1)[1],
             '(?s)<t[dh][^>]*>(.*?)</t[dh]>', 1)) AS n_cols,
         len(regexp_extract_all(t, '(?s)<th[^>]*>(.*?)</th>', 1)) AS n_header_cells,
         len(list_filter(regexp_extract_all(t, '(?s)<t[dh][^>]*>(.*?)</t[dh]>', 1),
                         c -> contains(c, '<a '))) AS n_link_cells,
         list_sum(list_transform(regexp_extract_all(t, '(?s)<t[dh][^>]*>(.*?)</t[dh]>', 1),
                                 c -> coalesce(TRY_CAST(c AS BIGINT), 0))) AS value_sum,
         list_sum(list_transform(regexp_extract_all(t, '(?s)<t[dh][^>]*>(.*?)</t[dh]>', 1),
                                 c -> length(c))) AS cell_chars
  FROM tbl),
tagg AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_tables,
         CAST(sum(CASE WHEN n_rows >= 2 AND n_cols >= 2 AND n_link_cells = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_data_tables,
         CAST(sum(CASE WHEN n_link_cells > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_layout_tables,
         CAST(sum(n_rows) AS BIGINT) AS total_rows,
         CAST(sum(n_cells) AS BIGINT) AS total_cells,
         CAST(sum(n_header_cells) AS BIGINT) AS header_cells,
         CAST(sum(coalesce(value_sum, 0)) AS BIGINT) AS tbl_value_sum,
         CAST(sum(coalesce(cell_chars, 0)) AS BIGINT) AS tbl_cell_chars
  FROM tstat GROUP BY lang),
pagg AS (
  SELECT lang,
         CAST(sum(CASE WHEN len(regexp_extract_all(
                    s, '(?s)<table[^>]*>(.*?)</table>', 1)) > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pages_with_tables
  FROM pg GROUP BY lang)
"""

SQL_PAGE_METADATA = f"""
WITH {_SQL_TABLES_CTE},
meta AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_pages,
         CAST(sum(CASE WHEN regexp_extract(s, '<title>([^<]*)</title>', 1)
                            <> '' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_title,
         CAST(sum(length(regexp_extract(s, '<title>([^<]*)</title>', 1)))
              AS BIGINT) AS title_chars,
         CAST(sum(CASE WHEN regexp_extract(s, '<html lang="([^"]+)"', 1)
                            = lang THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lang_match,
         CAST(sum(len(regexp_extract_all(s, '<a[^>]* href="([^"]+)"', 1)))
              AS BIGINT) AS total_links
  FROM pg GROUP BY lang),
hagg AS (
  SELECT lang,
         CAST(sum(CASE WHEN pub <> '' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_published,
         CAST(coalesce(sum(CASE WHEN pub <> '' THEN
             CAST(('0x' || substr(md5(pub), 1, 12)) AS UBIGINT)
           ELSE 0 END), 0) AS BIGINT) AS published_checksum,
         CAST(count(DISTINCT CASE WHEN author <> '' THEN author END)
              AS BIGINT) AS n_authors,
         CAST(sum(CASE WHEN canon <> '' AND canon = url
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical_self,
         CAST(sum(CASE WHEN canon <> '' AND canon <> url
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical_other
  FROM (
    SELECT lang, url,
      regexp_extract(s, '<meta property="article:published_time" content="([^"]*)"', 1) AS pub,
      regexp_extract(s, '<meta name="author" content="([^"]*)"', 1) AS author,
      regexp_extract(s, '<link rel="canonical" href="([^"]*)"', 1) AS canon
    FROM pg) GROUP BY lang),
sd AS (
  SELECT lang,
         CAST(sum(len(blocks)) AS BIGINT) AS n_ld_blocks,
         CAST(sum(CASE WHEN len(blocks) > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ld_pages
  FROM (SELECT lang, regexp_extract_all(
          s, '(?s)<script type="application/ld\\+json">(.*?)</script>', 1)
          AS blocks FROM pg)
  GROUP BY lang),
sdb AS (
  SELECT lang,
         CAST(count(DISTINCT t) AS BIGINT) AS n_ld_types,
         CAST(coalesce(sum(CASE WHEN t IS NOT NULL THEN
             CAST(('0x' || substr(md5(t), 1, 12)) AS UBIGINT)
           ELSE 0 END), 0) AS BIGINT) AS ld_type_checksum,
         CAST(coalesce(sum(coalesce(w, 0)), 0) AS BIGINT)
           AS ld_wordcount_sum,
         CAST(coalesce(sum(coalesce(
             CAST(replace(p, '.', '') AS BIGINT), 0)), 0) AS BIGINT)
           AS ld_price_cents
  FROM (
    SELECT lang,
           json_extract_string(b, '$."@type"') AS t,
           CAST(json_extract(b, '$.wordCount') AS BIGINT) AS w,
           json_extract_string(b, '$.offers.price') AS p
    FROM (SELECT lang, unnest(regexp_extract_all(
            s, '(?s)<script type="application/ld\\+json">(.*?)</script>',
            1)) AS b FROM pg))
  GROUP BY lang),
mdq AS (
  SELECT lang,
    '# Site host' || CAST({_HOST_ID} AS VARCHAR)
    || '{chr(10)}{chr(10)}[Home](/) [Section '
    || CAST(doc_id % 10 AS VARCHAR) || '](/a'
    || CAST(doc_id % 10 AS VARCHAR)
    || ') [About](/about) [Contact](/contact)'
    || '{chr(10)}{chr(10)}[Trending](/x) [Popular](/y) [Latest](/z)'
    || CASE WHEN doc_id % 3 = 0 THEN
         '{chr(10)}{chr(10)}| [One](/l1) | [Two](/l2) |{chr(10)}| --- | --- |'
       ELSE '' END
    || CASE WHEN doc_id % 7 <> 6 THEN
         '{chr(10)}{chr(10)}| metric | value | unit |{chr(10)}| --- | --- | --- |'
         || array_to_string(list_transform(
              generate_series(0, CAST(doc_id % 4 AS BIGINT)),
              i -> '{chr(10)}| m' || CAST((doc_id + i) % 10 AS VARCHAR)
                || ' | ' || CAST((doc_id * 17 + i * 3) % 1000 AS VARCHAR)
                || ' | u' || CAST((doc_id + i) % 5 AS VARCHAR) || ' |'),
              '')
       ELSE '' END
    || '{chr(10)}{chr(10)}' || text
    || '{chr(10)}{chr(10)}[Terms](/terms) [Privacy](/privacy) [Top](https://host'
    || CAST(doc_id % 7 AS VARCHAR)
    || '.example.com/) [Related](https://host'
    || CAST((doc_id * 13 + 5) % 218 AS VARCHAR) || '.example.com/doc/'
    || CAST((doc_id * 31 + 11) % 997 AS VARCHAR) || ')'
    || '{chr(10)}{chr(10)}© 2024 host' || CAST({_HOST_ID} AS VARCHAR)
    || '.example.com' AS md
  FROM documents WHERE doc_id % 50 <> 49),
mstat AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_md_docs,
         CAST(sum(length(md)) AS BIGINT) AS md_chars,
         CAST(sum(CAST(('0x' || substr(md5(md), 1, 12)) AS UBIGINT))
              AS BIGINT) AS md_checksum
  FROM mdq GROUP BY lang)
SELECT meta.*, pagg.n_pages_with_tables,
       coalesce(tagg.n_tables, 0) AS n_tables,
       coalesce(tagg.n_data_tables, 0) AS n_data_tables,
       coalesce(tagg.n_layout_tables, 0) AS n_layout_tables,
       coalesce(tagg.total_rows, 0) AS total_rows,
       coalesce(tagg.total_cells, 0) AS total_cells,
       coalesce(tagg.header_cells, 0) AS header_cells,
       coalesce(tagg.tbl_value_sum, 0) AS tbl_value_sum,
       coalesce(tagg.tbl_cell_chars, 0) AS tbl_cell_chars,
       hagg.n_published, hagg.published_checksum, hagg.n_authors,
       hagg.n_canonical_self, hagg.n_canonical_other,
       sd.n_ld_blocks, sd.n_ld_pages,
       coalesce(sdb.n_ld_types, 0) AS n_ld_types,
       coalesce(sdb.ld_type_checksum, 0) AS ld_type_checksum,
       coalesce(sdb.ld_wordcount_sum, 0) AS ld_wordcount_sum,
       coalesce(sdb.ld_price_cents, 0) AS ld_price_cents,
       mstat.n_md_docs, mstat.md_chars, mstat.md_checksum
FROM meta JOIN pagg USING (lang) LEFT JOIN tagg USING (lang)
     JOIN hagg USING (lang) JOIN sd USING (lang)
     LEFT JOIN sdb USING (lang) JOIN mstat USING (lang)
ORDER BY lang
"""


def q_signature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-family dedup stats in one per-lang relation: 32-bit
    SimHash distinctness (n_docs > n_distinct_simhash ⇒ hash-identical
    near-duplicates) joined with MOD-16 content-defined fingerprint
    sampling volume/distinctness and the deterministic HyperLogLog
    distinct-url sketch (operators/sketches.py: md5-derived 256-register
    array, byte-identical on any engine/partitioning; the gate checks
    the full register state via checksum — the registers ARE the
    mergeable sketch a 1000-executor job combines) and the Count-Min
    frequency sketch over per-lang term counts (cms_*: register-state
    checksum plus the point-query upper-bound check — estimates for the
    top-5 terms vs their exact counts, cms_overest_ok = 1 iff no
    estimate ever under-counts, the CM structural guarantee exercised
    end-to-end) and the KMV/Theta bottom-k distinct sketch with SET
    OPERATIONS (kmv_*: two overlapping per-lang url sets sketched at
    k=32 — operators/sketches.kmv_set_stats; union and intersection
    estimates in exact int64 arithmetic from sketch state alone, full
    union-sketch state gated by checksum, exact cardinalities alongside
    so the estimator error is visible)."""
    from pyspark.sql import Window

    from .operators import sketches as op_sk
    from .sources.web_pages import url_expr

    docs = _read(spark, sf_dir, "documents")
    hll = op_sk.hll_stats(
        docs.select("lang", url_expr(F.col("doc_id")).alias("url")),
        F.col("url"), "lang")
    tf = (docs.select(
        "lang",
        F.explode(F.expr("regexp_extract_all(lower(coalesce(text, '')), "
                         "'[a-z]{5,}', 0)")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").cast("long").alias("cnt")))
    regs = op_sk.cms_register_rows(tf, "term", "cnt", "lang")
    cell_md5 = F.md5(F.concat(
        F.col("j").cast("string"), F.lit(":"), F.col("col").cast("string"),
        F.lit(":"), F.col("counter").cast("string")).cast("binary"))
    cms_state = regs.groupBy("lang").agg(
        F.count("*").cast("long").alias("cms_nonzero"),
        F.sum(F.conv(F.substring(cell_md5, 1, 12), 16, 10).cast("long"))
        .cast("long").alias("cms_checksum"))
    top5 = (tf.withColumn("rn", F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("cnt"), "term")))
        .filter(F.col("rn") <= 5).drop("rn"))
    est = op_sk.cms_estimates(regs, top5.select("lang", "term"),
                              "term", "lang")
    cms_probe = (top5.join(est, ["lang", "term"])
                 .groupBy("lang")
                 .agg(F.sum("estimate").cast("long").alias("cms_est_sum"),
                      F.sum("cnt").cast("long").alias("cms_exact_sum"),
                      F.min((F.col("estimate") >= F.col("cnt"))
                            .cast("long")).cast("long")
                      .alias("cms_overest_ok")))
    # KMV / Theta bottom-k sketch set ops: two overlapping per-lang url
    # sets (A = even docs, B = docs not divisible by 3 — the two-crawl
    # overlap shape) sketched at k=32; union/intersection ESTIMATES from
    # sketch state alone, exact counts alongside so the error is visible
    # (the exact columns are the small-SF verification extravagance — at
    # 100 TB only the k-row sketches would be computed)
    urls = docs.select("lang", "doc_id",
                       url_expr(F.col("doc_id")).alias("url"))
    in_a, in_b = F.col("doc_id") % 2 == 0, F.col("doc_id") % 3 != 0
    kmv = op_sk.kmv_set_stats(
        urls.filter(in_a).select("lang", "url"),
        urls.filter(in_b).select("lang", "url"), "url", "lang")
    kmv_exact = urls.groupBy("lang").agg(
        F.countDistinct(F.when(in_a, F.col("url"))).cast("long")
        .alias("kmv_a_exact"),
        F.countDistinct(F.when(in_b, F.col("url"))).cast("long")
        .alias("kmv_b_exact"),
        F.countDistinct(F.when(in_a | in_b, F.col("url"))).cast("long")
        .alias("kmv_union_exact"),
        F.countDistinct(F.when(in_a & in_b, F.col("url"))).cast("long")
        .alias("kmv_inter_exact"))
    return (
        q_simhash_dedup(spark, sf_dir)
        .join(q_doc_fingerprints(spark, sf_dir), "lang")
        .join(hll, "lang")
        .join(cms_state, "lang")
        .join(cms_probe, "lang")
        .join(kmv, "lang")
        .join(kmv_exact, "lang")
        .orderBy("lang")
    )


SQL_HLL_URLS = f"""
WITH hh AS (
  SELECT lang,
         CAST(('0x' || substr(md5({_URL}), 1, 15)) AS UBIGINT) AS hv
  FROM documents),
hregs AS (
  SELECT lang, CAST(hv % 256 AS INT) AS bucket,
         CAST(max(53 - length(regexp_replace(bin(hv // 256), '^0+', '')))
              AS INT) AS register
  FROM hh GROUP BY lang, CAST(hv % 256 AS INT))
SELECT lang, CAST(256 AS BIGINT) AS hll_m,
       CAST(count(*) AS BIGINT) AS hll_nonzero,
       CAST(sum(register) AS BIGINT) AS hll_regsum,
       CAST(sum(CAST(('0x' || substr(md5(CAST(bucket AS VARCHAR) || ':'
             || CAST(register AS VARCHAR)), 1, 12)) AS UBIGINT))
            AS BIGINT) AS hll_checksum
FROM hregs GROUP BY lang
"""

SQL_CMS_STATS = """
WITH tf AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT lang, unnest(regexp_extract_all(lower(coalesce(text, '')),
                                           '[a-z]{5,}')) AS term
    FROM documents) GROUP BY lang, term),
regs AS (
  SELECT lang, j,
         CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term),
                    1, 12)) AS UBIGINT) % 64 AS INT) AS col,
         CAST(sum(cnt) AS BIGINT) AS counter
  FROM tf, generate_series(0, 3) AS gs(j)
  GROUP BY lang, j, col),
state AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS cms_nonzero,
         CAST(sum(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
               || CAST(col AS VARCHAR) || ':'
               || CAST(counter AS VARCHAR)), 1, 12)) AS UBIGINT))
              AS BIGINT) AS cms_checksum
  FROM regs GROUP BY lang),
top5 AS (
  SELECT lang, term, cnt FROM (
    SELECT lang, term, cnt,
           row_number() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, term) AS rn
    FROM tf) WHERE rn <= 5),
est AS (
  SELECT t.lang, t.term, t.cnt,
         CAST(min(r.counter) AS BIGINT) AS estimate
  FROM top5 t, generate_series(0, 3) AS gs(j)
  JOIN regs r
    ON r.lang = t.lang AND r.j = gs.j
   AND r.col = CAST(CAST(('0x' || substr(md5(CAST(gs.j AS VARCHAR) || ':'
                    || t.term), 1, 12)) AS UBIGINT) % 64 AS INT)
  GROUP BY t.lang, t.term, t.cnt),
probe AS (
  SELECT lang, CAST(sum(estimate) AS BIGINT) AS cms_est_sum,
         CAST(sum(cnt) AS BIGINT) AS cms_exact_sum,
         CAST(min(CASE WHEN estimate >= cnt THEN 1 ELSE 0 END) AS BIGINT)
           AS cms_overest_ok
  FROM est GROUP BY lang)
SELECT lang, cms_nonzero, cms_checksum, cms_est_sum, cms_exact_sum,
       cms_overest_ok
FROM state JOIN probe USING (lang)
"""

_KMV_K = 32
_KMV_NUM = (_KMV_K - 1) * (1 << 48)

SQL_KMV_STATS = f"""
WITH ku AS (
  SELECT lang, doc_id, {_URL} AS url FROM documents),
kha AS (
  SELECT DISTINCT lang,
         CAST(CAST(('0x' || substr(md5(url), 1, 12)) AS UBIGINT)
              AS BIGINT) AS hv
  FROM ku WHERE doc_id % 2 = 0),
khb AS (
  SELECT DISTINCT lang,
         CAST(CAST(('0x' || substr(md5(url), 1, 12)) AS UBIGINT)
              AS BIGINT) AS hv
  FROM ku WHERE doc_id % 3 <> 0),
sa AS (SELECT lang, hv FROM (
  SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv)
         AS rank FROM kha) WHERE rank <= {_KMV_K}),
sb AS (SELECT lang, hv FROM (
  SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv)
         AS rank FROM khb) WHERE rank <= {_KMV_K}),
su AS (SELECT lang, rank, hv FROM (
  SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv)
         AS rank
  FROM (SELECT DISTINCT lang, hv FROM (
    SELECT lang, hv FROM sa UNION ALL SELECT lang, hv FROM sb)))
  WHERE rank <= {_KMV_K}),
flag AS (
  SELECT su.lang, su.rank, su.hv,
         CASE WHEN sa.hv IS NOT NULL THEN 1 ELSE 0 END AS ina,
         CASE WHEN sb.hv IS NOT NULL THEN 1 ELSE 0 END AS inb
  FROM su LEFT JOIN sa ON sa.lang = su.lang AND sa.hv = su.hv
          LEFT JOIN sb ON sb.lang = su.lang AND sb.hv = su.hv),
uagg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS u_n, max(hv) AS u_theta,
         CAST(sum(ina * inb) AS BIGINT) AS n_common,
         CAST(sum(CAST(('0x' || substr(md5(CAST(rank AS VARCHAR) || ':'
               || CAST(hv AS VARCHAR)), 1, 12)) AS UBIGINT))
              AS BIGINT) AS kmv_checksum
  FROM flag GROUP BY lang),
aagg AS (SELECT lang, CAST(count(*) AS BIGINT) AS a_n,
                max(hv) AS a_theta FROM sa GROUP BY lang),
bagg AS (SELECT lang, CAST(count(*) AS BIGINT) AS b_n,
                max(hv) AS b_theta FROM sb GROUP BY lang),
kex AS (
  SELECT lang,
    CAST(count(DISTINCT CASE WHEN doc_id % 2 = 0 THEN url END)
         AS BIGINT) AS kmv_a_exact,
    CAST(count(DISTINCT CASE WHEN doc_id % 3 <> 0 THEN url END)
         AS BIGINT) AS kmv_b_exact,
    CAST(count(DISTINCT CASE WHEN doc_id % 2 = 0 OR doc_id % 3 <> 0
                             THEN url END) AS BIGINT) AS kmv_union_exact,
    CAST(count(DISTINCT CASE WHEN doc_id % 2 = 0 AND doc_id % 3 <> 0
                             THEN url END) AS BIGINT) AS kmv_inter_exact
  FROM ku GROUP BY lang),
kest AS (
  -- LEFT joins + zero fills mirror the operator: a lang present in
  -- only one set still gets a row, its absent side estimating 0 (the
  -- n=0 < k branch never reads the filled theta)
  SELECT lang, CAST({_KMV_K} AS BIGINT) AS kmv_k,
         u_n AS kmv_union_n, n_common AS kmv_common,
         u_theta AS kmv_theta,
         CASE WHEN coalesce(a_n, 0) < {_KMV_K} THEN coalesce(a_n, 0)
              ELSE CAST({_KMV_NUM} AS BIGINT) // a_theta END AS kmv_a_est,
         CASE WHEN coalesce(b_n, 0) < {_KMV_K} THEN coalesce(b_n, 0)
              ELSE CAST({_KMV_NUM} AS BIGINT) // b_theta END AS kmv_b_est,
         CASE WHEN u_n < {_KMV_K} THEN u_n
              ELSE CAST({_KMV_NUM} AS BIGINT) // u_theta END
           AS kmv_union_est,
         kmv_checksum
  FROM uagg LEFT JOIN aagg USING (lang) LEFT JOIN bagg USING (lang))
SELECT lang, kmv_k, kmv_union_n, kmv_common, kmv_theta,
       kmv_a_est, kmv_b_est, kmv_union_est,
       CASE WHEN kmv_union_n < {_KMV_K} THEN kmv_common
            ELSE (kmv_common * kmv_union_est) // ({_KMV_K} - 1) END
         AS kmv_inter_est,
       kmv_checksum,
       kmv_a_exact, kmv_b_exact, kmv_union_exact, kmv_inter_exact
FROM kest JOIN kex USING (lang)
"""

SQL_SIGNATURE_STATS = f"""
SELECT s.lang, s.n_docs, s.n_distinct_simhash,
       f.docs_with_fp, f.total_fps, f.distinct_fps,
       h.hll_m, h.hll_nonzero, h.hll_regsum, h.hll_checksum,
       c.cms_nonzero, c.cms_checksum, c.cms_est_sum, c.cms_exact_sum,
       c.cms_overest_ok,
       k.kmv_k, k.kmv_union_n, k.kmv_common, k.kmv_theta,
       k.kmv_a_est, k.kmv_b_est, k.kmv_union_est, k.kmv_inter_est,
       k.kmv_checksum,
       k.kmv_a_exact, k.kmv_b_exact, k.kmv_union_exact, k.kmv_inter_exact
FROM ({SQL_SIMHASH}) s JOIN ({SQL_DOC_FINGERPRINTS}) f USING (lang)
     JOIN ({SQL_HLL_URLS}) h USING (lang)
     JOIN ({SQL_CMS_STATS}) c USING (lang)
     JOIN ({SQL_KMV_STATS}) k USING (lang)
ORDER BY lang
"""


# --------------------------------------------------------------------------
# embeddings: similarity search

# engine-stable cosine: explicit double-precision, index-order summation
_DUCK_DIM = 64


def _duck_cosine(a: str, b: str) -> str:
    def dot(x, y):
        return (
            f"list_sum(list_transform(generate_series(1, {_DUCK_DIM}), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
        )

    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection, BUCKETED: banded sign-LSH
    candidate generation (16 planes x 4 bands, band equi-join — no
    nested-loop/cartesian operator in the plan, asserted in
    tests/test_functions_plans.py) + exact cosine re-rank, global top-20.
    The oracle replicates the identical banded construction, so the gate
    value-checks the scale-path algorithm itself; `op_ann.near_dup_pairs`
    remains as the all-pairs exactness baseline (unit-tested recall)."""
    emb = _read(spark, sf_dir, "embeddings")
    return op_ann.near_dup_pairs_banded(
        emb, top_n=20, n_planes=16, n_bands=4
    ).orderBy("rank")


_NEARDUP_PLANES, _NEARDUP_BANDS = 16, 4
_NEARDUP_RPB = _NEARDUP_PLANES // _NEARDUP_BANDS
_DUCK_SIGN_BITS = "concat(" + ", ".join(
    f"CASE WHEN {{v}}[{i + 1}] >= 0 THEN '1' ELSE '0' END"
    for i in range(_NEARDUP_PLANES)
) + ")"
_DUCK_BAND_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT vec_id, '{b}:' || substr(bs, {b * _NEARDUP_RPB + 1}, "
    f"{_NEARDUP_RPB}) AS band_key FROM bits"
    for b in range(_NEARDUP_BANDS)
)

SQL_EMBEDDING_NEAR_DUP = f"""
WITH bits AS (
  SELECT vec_id, {_DUCK_SIGN_BITS.format(v='embedding')} AS bs
  FROM embeddings
),
bands AS (
{_DUCK_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         {_duck_cosine('ea.embedding', 'eb.embedding')} AS sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b
)
SELECT CAST(rank AS BIGINT) AS rank, vec_a, vec_b FROM (
  SELECT vec_a, vec_b,
         row_number() OVER (ORDER BY sim DESC, vec_a, vec_b) AS rank
  FROM pairs
) WHERE rank <= 20 ORDER BY rank
"""

_DUCK_BUCKET = "concat(" + ", ".join(
    f"CASE WHEN {{v}}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(8)
) + ")"


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: top-3 same-bucket neighbours per query."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return op_ann.lsh_bucketed_knn(emb, queries, k=3).orderBy(
        "query_id", "rank"
    )


SQL_ANN_LSH = f"""
WITH be AS (
  SELECT vec_id, embedding,
         {_DUCK_BUCKET.format(v='embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket
      FROM be WHERE vec_id < 8),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_duck_cosine('q.qe', 'e.embedding')} AS sim
  FROM q JOIN be e USING (bucket) WHERE e.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= 3 ORDER BY query_id, rank
"""


def q_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbours for the first 8 vectors.
    JVM-side dot products via zip_with/aggregate; rank-only output (float
    similarity values are not hash-stable across engines)."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return op_ann.brute_force_knn(emb, queries, k=5).orderBy(
        "query_id", "rank"
    )


SQL_EMBEDDING_KNN = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_duck_cosine('q.qe', 'e.embedding')} AS sim
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_scalar_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function family (SURVEY P7/F5/F6/F8) as one row-level
    projection over documents: display truncation, property-key Title
    Casing, filename sanitization, token estimation — all pure JVM column
    expressions (functions/scalars.py)."""
    from .functions import scalars as fns

    docs = _read(spark, sf_dir, "documents")
    prop_key = F.concat_ws("_", "source", "lang")
    raw_name = F.concat(F.lit("doc "), F.col("doc_id").cast("string"),
                        F.lit("."), F.col("lang"), F.lit(".txt"))
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=F.col("doc_id").cast("double")
    )
    return docs.select(
        "doc_id",
        fns.truncate_string(F.col("text"), 40).alias("preview"),
        fns.format_property_key(prop_key).alias("prop_key"),
        fns.sanitize_filename(raw_name).alias("fname"),
        fns.token_estimate(F.col("text")).alias("tok_est"),
        fns.iso_datetime(ts).alias("iso_ts"),
    ).orderBy("doc_id")


SQL_SCALAR_FORMATTING = """
SELECT doc_id,
       CASE WHEN length(text) <= 40 THEN text
            ELSE substr(text, 1, 37) || '...' END AS preview,
       concat(upper(substr(source, 1, 1)), substr(source, 2), ' ',
              upper(substr(lang, 1, 1)), substr(lang, 2)) AS prop_key,
       replace(replace(concat('doc ', CAST(doc_id AS VARCHAR), '.', lang,
                              '.txt'), '.', '_'), ' ', '_') AS fname,
       CAST(ceil(length(text) / 4.0 * 1.2) AS INT) + 50 AS tok_est,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                '%Y-%m-%dT%H:%M:%S') AS iso_ts
FROM documents ORDER BY doc_id
"""


def q_docling_json_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/O1: serialized-document JSON load with FULL structural validation
    (reference `core/input/validators.py:211-355`): from_json against a
    fixed StructType plus the validator's check chain, each failure kind
    routed to a classified doc_error (wrong schema_name, missing version,
    unparseable JSON, mis-shaped pages) — rejected, never dropped silently.
    Valid documents posexplode their pages array in page order.  The JSON
    (2 pages per doc: first half / rest) and every malformed variant are
    built deterministically from doc_id, so the oracle re-derives the
    result from first principles."""
    from .sources.docling_json import explode_pages, parse_document_json

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    p1 = F.expr("substr(text, 1, cast(ceil(length(text)/2.0) as int))")
    p2 = F.expr("substr(text, cast(ceil(length(text)/2.0) as int) + 1)")
    tag = F.when(d % 20 == 7, "LegacyDocument").otherwise("DoclingDocument")
    version = F.when(d % 20 == 13, F.lit(None).cast("string")) \
        .otherwise(F.lit("1.0"))  # to_json omits null fields -> absent key
    good_json = F.to_json(F.struct(
        tag.alias("schema_name"),
        version.alias("version"),
        F.concat(F.lit("doc-"), d).alias("name"),
        F.array(
            F.struct(F.lit(1).alias("page_no"), p1.alias("text")),
            F.struct(F.lit(2).alias("page_no"), p2.alias("text")),
        ).alias("pages"),
    ))
    doc_json = (
        # %20==3: truncated -> unparseable JSON
        F.when(d % 20 == 3,
               F.substring(good_json, 1, F.length(good_json) - 5))
        # %20==17: pages serialized as an object -> pages-shape failure
        .when(d % 20 == 17, F.concat(
            F.lit('{"schema_name":"DoclingDocument","version":"1.0",'
                  '"name":"doc-'), d.cast("string"),
            F.lit('","pages":{"1":"x"}}'),
        ))
        .otherwise(good_json)
    )
    parsed = parse_document_json(docs.withColumn("doc_json", doc_json))
    err = F.col("doc_error")
    routing = parsed.groupBy("lang").agg(
        F.sum(F.col("doc_valid").cast("long")).alias("n_docs"),
        F.sum((~F.col("doc_valid")).cast("long")).alias("n_rejected"),
        F.sum((err == "wrong_schema_name").cast("long"))
        .alias("n_wrong_schema"),
        F.sum((err == "missing_version").cast("long"))
        .alias("n_missing_version"),
        F.sum((err == "invalid_json").cast("long")).alias("n_invalid_json"),
        F.sum((err == "bad_pages").cast("long")).alias("n_bad_pages"),
    )
    pages = explode_pages(parsed.select("doc_id", "doc", "doc_valid"), "doc_id")
    page_stats = (
        pages.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.length("page_text").cast("long")).alias("page_chars"))
    )
    return routing.join(page_stats, "lang").select(
        "lang", "n_docs", "n_rejected", "n_wrong_schema",
        "n_missing_version", "n_invalid_json", "n_bad_pages",
        "n_pages", "page_chars"
    ).orderBy("lang")


SQL_DOCLING_JSON_PAGES = """
SELECT lang,
       CAST(count(*) FILTER (WHERE doc_id % 20 NOT IN (3, 7, 13, 17))
            AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE doc_id % 20 IN (3, 7, 13, 17))
            AS BIGINT) AS n_rejected,
       CAST(count(*) FILTER (WHERE doc_id % 20 = 7) AS BIGINT)
         AS n_wrong_schema,
       CAST(count(*) FILTER (WHERE doc_id % 20 = 13) AS BIGINT)
         AS n_missing_version,
       CAST(count(*) FILTER (WHERE doc_id % 20 = 3) AS BIGINT)
         AS n_invalid_json,
       CAST(count(*) FILTER (WHERE doc_id % 20 = 17) AS BIGINT)
         AS n_bad_pages,
       CAST(2 * count(*) FILTER (WHERE doc_id % 20 NOT IN (3, 7, 13, 17))
            AS BIGINT) AS n_pages,
       CAST(sum(length(text)) FILTER (WHERE doc_id % 20 NOT IN (3, 7, 13, 17))
            AS BIGINT) AS page_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: 16 coarse lists, nprobe=2, exact re-rank within
    the probed lists (operators/ann.ivf_knn)."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return op_ann.ivf_knn(emb, queries, k=5, n_centroids=16, nprobe=2).orderBy(
        "query_id", "rank"
    )


SQL_ANN_IVF = f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS cvec
           FROM embeddings WHERE vec_id < 16),
assign AS (
  SELECT vec_id, embedding, list_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS list_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_duck_cosine('e.embedding', 'c.cvec')} DESC,
                                       c.centroid_id ASC) AS r
    FROM embeddings e, c) WHERE r = 1),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
probes AS (
  SELECT query_id, qe, list_id FROM (
    SELECT q.query_id, q.qe, c.centroid_id AS list_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_duck_cosine('q.qe', 'c.cvec')} DESC,
                                       c.centroid_id ASC) AS r
    FROM q, c) WHERE r <= 2),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_duck_cosine('p.qe', 'a.embedding')} AS sim
  FROM probes p JOIN assign a USING (list_id) WHERE a.vec_id <> p.query_id)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM pairs) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_retrieval_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-training mining (operators/retrieval.py) over the crawl
    link graph: hyperlinks mined from page HTML give (query doc → linked
    doc) positives for the 8 sample query docs; method='hardneg' rows are
    the top-5 most-similar NON-linked docs per query (exclusion happens
    before the ranking window), method='posrank' rows carry the positive's
    rank in the full similarity ordering (retrieval difficulty)."""
    from .operators import retrieval as op_ret
    from .sources.web_pages import synthesize_web_pages

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    links = (
        op_ret.doc_link_pairs(synthesize_web_pages(spark, sf_dir))
        .filter(F.col("query_id") < 8)
        # only targets that exist in the embedding corpus are resolvable
        .join(emb.select(F.col("vec_id").alias("pos_id")), "pos_id",
              "left_semi")
    )
    hn = op_ret.mine_hard_negatives(emb, links, k=5).withColumn(
        "method", F.lit("hardneg")
    )
    pr = op_ret.positive_ranks(emb, links).select(
        "query_id", F.col("pos_rank").alias("rank"),
        F.col("pos_id").alias("neighbor_id"),
    ).withColumn("method", F.lit("posrank"))
    return hn.unionByName(pr).select("method", "query_id", "rank",
                                     "neighbor_id")


SQL_ANN_RETRIEVAL = f"""
WITH links AS (
  SELECT d.doc_id AS query_id, (d.doc_id * 31 + 11) % 997 AS pos_id
  FROM documents d
  WHERE d.doc_id < 8 AND (d.doc_id * 31 + 11) % 997 <> d.doc_id
    AND EXISTS (SELECT 1 FROM embeddings e2
                WHERE e2.vec_id = (d.doc_id * 31 + 11) % 997)),
qs AS (SELECT DISTINCT query_id FROM links),
pairs AS (
  SELECT qs.query_id, e.vec_id AS neighbor_id,
         {_duck_cosine('qe.embedding', 'e.embedding')} AS sim
  FROM qs JOIN embeddings qe ON qe.vec_id = qs.query_id
  CROSS JOIN embeddings e
  WHERE e.vec_id <> qs.query_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM pairs),
negs AS (
  SELECT p.query_id, p.neighbor_id,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY p.sim DESC, p.neighbor_id ASC) AS rank
  FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM links l
                    WHERE l.query_id = p.query_id
                      AND l.pos_id = p.neighbor_id))
SELECT 'hardneg' AS method, query_id, CAST(rank AS BIGINT) AS rank,
       neighbor_id
FROM negs WHERE rank <= 5
UNION ALL
SELECT 'posrank', r.query_id, CAST(r.rank AS BIGINT), r.neighbor_id
FROM ranked r JOIN links l
  ON l.query_id = r.query_id AND l.pos_id = r.neighbor_id
"""


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized top-5 for the same 8 query vectors: per-dim
    min/max codebook, uint8 codes, INT64 mid-centered dot-product
    scoring (operators/ann.sq8_knn) — the vector-index compression
    route; ranks are integer-exact so the oracle replays them."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))
    return op_ann.sq8_knn(emb, queries, k=5).orderBy("query_id", "rank")


SQL_ANN_SQ8 = f"""
WITH st AS (
  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         max(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings, generate_series(1, {_DUCK_DIM}) gs(i)
  GROUP BY i),
cb AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs,
              list(CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor((mx - mn) / 255.0 * 1048576.0)
                                  AS BIGINT) END ORDER BY i) AS ws,
              list(CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                        ELSE CAST(greatest(least(floor(
                               (0.0 - mn) * 255.0 / (mx - mn)),
                             255.0), 0.0) AS BIGINT) END ORDER BY i)
                AS zs
       FROM st),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, {_DUCK_DIM}), i ->
           (CASE WHEN cb.maxs[i] = cb.mins[i] THEN CAST(0 AS BIGINT)
                 ELSE CAST(greatest(least(floor(
                        (CAST(embedding[i] AS DOUBLE) - cb.mins[i])
                        * 255.0 / (cb.maxs[i] - cb.mins[i])),
                      255.0), 0.0) AS BIGINT) END - cb.zs[i])
           * cb.ws[i]) AS vc
  FROM embeddings, cb),
sq AS (SELECT vec_id AS query_id, vc AS qc FROM codes WHERE vec_id < 8),
spairs AS (
  SELECT sq.query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, {_DUCK_DIM}),
                  i -> sq.qc[i] * c.vc[i])) AS score
  FROM sq, codes c WHERE c.vec_id <> sq.query_id)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM spairs) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-search strategy suite in one relation: brute-force
    exact cosine top-5 (method='exact'), sign-LSH bucketed top-3
    (method='lsh'), IVF nprobe=2 top-5 (method='ivf'), SQ8
    scalar-quantized top-5 (method='sq8': int8 codes + integer
    asymmetric scoring, q_ann_sq8) — the same 8 query vectors through
    all four plans — plus the retrieval-training miner
    (method='hardneg'/'posrank', q_ann_retrieval_mining) over the same
    corpus."""
    a = q_embedding_knn(spark, sf_dir).withColumn("method", F.lit("exact"))
    b = q_ann_lsh_bucketed(spark, sf_dir).withColumn("method", F.lit("lsh"))
    c = q_ann_ivf(spark, sf_dir).withColumn("method", F.lit("ivf"))
    d = q_ann_retrieval_mining(spark, sf_dir)
    e = q_ann_sq8(spark, sf_dir).withColumn("method", F.lit("sq8"))
    return (a.unionByName(b).unionByName(c).unionByName(e)
            .select("method", "query_id", "rank", "neighbor_id")
            .unionByName(d)
            .orderBy("method", "query_id", "rank"))


SQL_ANN_TOPK = f"""
SELECT method, query_id, rank, neighbor_id FROM (
  SELECT 'exact' AS method, * FROM ({SQL_EMBEDDING_KNN})
  UNION ALL
  SELECT 'lsh', * FROM ({SQL_ANN_LSH})
  UNION ALL
  SELECT 'ivf', * FROM ({SQL_ANN_IVF})
  UNION ALL
  SELECT 'sq8', * FROM ({SQL_ANN_SQ8})
  UNION ALL
  SELECT * FROM ({SQL_ANN_RETRIEVAL})
) ORDER BY method, query_id, rank
"""


_SEMDEDUP_COPIES = 40


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/ann.semantic_dedup): coarse-cluster the
    embeddings, drop within-cluster cosine>=0.95 duplicates.  The corpus
    is augmented with 40 planted exact duplicates (vec_id+10^6 — above
    any real vec_id at every sf tier) so the
    drop path is exercised — the synthetic embeddings are near-orthogonal
    (max pairwise cosine ~0.51), so exactly the planted copies fall."""
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < _SEMDEDUP_COPIES).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    res = op_ann.semantic_dedup(emb.unionByName(copies))
    return (
        res.groupBy("list_id")
        .agg(F.count("*").alias("n_vecs"),
             F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_dropped"))
        .orderBy("list_id")
    )


SQL_SEMANTIC_DEDUP = f"""
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings
  WHERE vec_id < {_SEMDEDUP_COPIES}),
c AS (SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id < 16),
assign AS (
  SELECT vec_id, embedding, list_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS list_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_duck_cosine('e.embedding', 'c.cvec')} DESC,
                                       c.centroid_id ASC) AS r
    FROM aug e, c) WHERE r = 1),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.95)
SELECT list_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM assign a LEFT JOIN drops d USING (vec_id)
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Structured Streaming: watermarked window rollup + custom stateful operator
# (drained with availableNow → deterministic batch-equivalent relations)


def _corpus_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of a parquet table (names + sizes + mtimes): a
    regenerated corpus at the same path gets a new staging key instead of
    serving stale cached artifacts.  No Spark job — pure file metadata."""
    import hashlib
    import os as _os

    path = f"{sf_dir}/{table}.parquet"
    h = hashlib.md5(path.encode())
    if _os.path.isdir(path):
        for name in sorted(_os.listdir(path)):
            st = _os.stat(_os.path.join(path, name))
            h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
    elif _os.path.exists(path):
        st = _os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def _cache_root() -> str:
    """Per-user staging root (no cross-user /tmp collisions on shared hosts)."""
    import getpass
    import os as _os
    import tempfile

    try:
        user = getpass.getuser()
    except Exception:
        user = str(_os.getuid()) if hasattr(_os, "getuid") else "anon"
    root = _os.path.join(tempfile.gettempdir(), f"dgspark-{user}")
    _os.makedirs(root, exist_ok=True)
    return root


def _staged_artifact(tag: str, key: str, build) -> str:
    """Once-per-content staging with an atomic publish: ``build(tmp_dir)``
    writes into a pid-suffixed temp dir which is then renamed into place.
    Two processes racing past the existence check both build; the rename
    loser discards its copy — readers only ever see complete artifacts."""
    import os as _os
    import shutil

    final = _os.path.join(_cache_root(), f"{tag}_{key}")
    if _os.path.exists(final):
        return final
    tmp = f"{final}.tmp{_os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _os.makedirs(tmp, exist_ok=True)
    build(tmp)
    try:
        _os.rename(tmp, final)
    except OSError:  # concurrent builder won the race; its artifact is whole
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _staged_stream_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Stage the events parquet for the file-source stream once per corpus
    content — re-staging on every invocation doubled the streaming queries'
    wall time with a write that never changes."""
    key = _corpus_fingerprint(sf_dir, "events")

    def build(tmp: str) -> None:
        spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(1) \
            .write.mode("overwrite").parquet(tmp)

    return _staged_artifact(f"stream_{tag}", key, build)


def _staged_stream_dir_dup(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events parquet TWICE into one stream directory — the
    at-least-once redelivery fixture (every row arrives exactly two
    times) the streaming-dedup section consumes."""
    key = _corpus_fingerprint(sf_dir, "events")

    def build(tmp: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(1)
        df.write.mode("overwrite").parquet(tmp)
        df.write.mode("append").parquet(tmp)

    return _staged_artifact("stream_evdup", key, build)


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-day tumbling windows over the events stream."""
    from .streaming import windowed as _w

    staging = _staged_stream_dir(spark, sf_dir, "ev")
    stream = _w.stream_from_staged(spark, staging)
    _w.drain_to_memory(_w.windowed_event_counts(stream),
                       "stream_window_counts", "complete")
    return spark.table("stream_window_counts").orderBy("day", "event_type")


SQL_STREAM_WINDOW = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user running totals, drained to final state."""
    from .streaming import windowed as _w

    staging = _staged_stream_dir(spark, sf_dir, "ev")
    stream = _w.stream_from_staged(spark, staging)
    _w.drain_to_memory(_w.user_totals_stateful(stream),
                       "stream_user_totals", "update")
    return spark.table("stream_user_totals").orderBy("user_id")


SQL_STREAM_USER_TOTALS = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
# registry


def q_input_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 input-type detection (reference decision tree, JVM-side
    `sources.input_types.input_type`): classify deterministic filename /
    URL / raw-string sources derived from doc_id, with the DoclingDocument
    JSON content sniff on the .json slice
    (`/root/reference/docling_graph/core/input/types.py:39-218`)."""
    from .sources.input_types import input_type

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 10
    source = (
        F.when(m == 0, F.concat(F.lit("http://example.com/d"), d))
        .when(m == 1, F.concat(F.lit("page_"), d, F.lit(".PDF")))
        .when(m == 2, F.concat(F.lit("img/"), d, F.lit(".png")))
        .when(m == 3, F.concat(F.lit("scan_"), d, F.lit(".TIFF")))
        .when(m == 4, F.concat(F.lit("notes-"), d, F.lit(".txt")))
        .when(m == 5, F.concat(F.lit("readme_"), d, F.lit(".markdown")))
        .when(m == 6, F.concat(F.lit("doc_"), d, F.lit(".json")))
        .when(m == 7, F.concat(F.lit("data_"), d, F.lit(".xyz")))
        .when(m == 8, F.lit("raw text snippet without extension"))
        .otherwise(F.lit(".hidden"))
    )
    j = F.col("doc_id") % 3
    content = F.when(
        m == 6,
        F.when(j == 0, F.lit('{"schema_name": "DoclingDocument"}'))
        .when(j == 1, F.lit('{"a": 1}'))
        .otherwise(F.lit("{broken")),
    ).otherwise(F.lit(""))
    return (
        docs.select(input_type(source, content).alias("input_type"))
        .groupBy("input_type")
        .agg(F.count("*").alias("n_sources"))
        .orderBy("input_type")
    )


SQL_INPUT_TYPE_COUNTS = """
WITH src AS (
  SELECT doc_id,
         CASE doc_id % 10
           WHEN 0 THEN 'http://example.com/d' || doc_id
           WHEN 1 THEN 'page_' || doc_id || '.PDF'
           WHEN 2 THEN 'img/' || doc_id || '.png'
           WHEN 3 THEN 'scan_' || doc_id || '.TIFF'
           WHEN 4 THEN 'notes-' || doc_id || '.txt'
           WHEN 5 THEN 'readme_' || doc_id || '.markdown'
           WHEN 6 THEN 'doc_' || doc_id || '.json'
           WHEN 7 THEN 'data_' || doc_id || '.xyz'
           WHEN 8 THEN 'raw text snippet without extension'
           ELSE '.hidden' END AS source,
         CASE WHEN doc_id % 10 = 6 THEN
           CASE doc_id % 3
             WHEN 0 THEN '{"schema_name": "DoclingDocument"}'
             WHEN 1 THEN '{"a": 1}'
             ELSE '{broken' END
         ELSE '' END AS content
  FROM documents
),
suffixed AS (
  SELECT source, content,
         lower(regexp_extract(regexp_extract(source, '([^/]*)$', 1),
                              '.(\\.[^.]*)$', 1)) AS sfx
  FROM src
),
cls AS (
  SELECT CASE
    WHEN source LIKE 'http://%' OR source LIKE 'https://%' THEN 'url'
    WHEN trim(source) = '' THEN 'text'
    WHEN sfx = '.pdf' THEN 'pdf'
    WHEN sfx IN ('.jpg','.jpeg','.png','.gif','.bmp','.tiff','.tif')
      THEN 'image'
    WHEN sfx = '.txt' THEN 'text_file'
    WHEN sfx IN ('.md','.markdown') THEN 'markdown'
    WHEN sfx = '.json' THEN
      CASE WHEN json_valid(content) AND trim(content) LIKE '{%'
                AND (json_extract(content, '$.schema_name') IS NOT NULL
                     OR json_extract(content, '$.version') IS NOT NULL
                     OR (json_extract(content, '$.pages') IS NOT NULL
                         AND json_extract(content, '$.main_text') IS NOT NULL))
           THEN 'docling_document' ELSE 'text' END
    ELSE 'text' END AS input_type
  FROM suffixed
)
SELECT input_type, CAST(count(*) AS BIGINT) AS n_sources
FROM cls GROUP BY input_type ORDER BY input_type
"""


# --------------------------------------------------------------------------
# corpus-prep suite (operators/textprep.py): PII redaction, line dedup,
# host blocklist — deterministic structure synthesized from doc_id (the
# word-salad corpus has no PII/lines/hosts of its own)

def _pii_suffix():
    # built lazily: Column construction needs an active SparkContext
    return F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@mail.example.com today")),
    ).when(
        F.col("doc_id") % 4 == 1,
        F.concat(F.lit(" call 555-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                 F.lit(" now")),
    ).when(
        F.col("doc_id") % 4 == 2,
        F.concat(F.lit(" node at 10.0."),
                 (F.col("doc_id") % 256).cast("string"), F.lit("."),
                 ((F.col("doc_id") * 7) % 256).cast("string")),
    ).otherwise(F.lit(""))

_PII_SUFFIX_SQL = """CASE doc_id % 4
  WHEN 0 THEN ' contact user' || doc_id || '@mail.example.com today'
  WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' now'
  WHEN 2 THEN ' node at 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
  ELSE '' END"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (corpus-prep): email/phone/IPv4 detection + token
    redaction totals over the documents corpus, JVM regexp only."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    content = docs.select(
        F.concat(F.col("text"), _pii_suffix()).alias("text"))
    return textprep.pii_redaction_stats(content)


SQL_PII_REDACTION = (
    """
WITH c AS (SELECT text || @SUFFIX@ AS content FROM documents),
m AS (
  SELECT
    len(regexp_extract_all(content, '@EMAIL@')) AS n_email,
    len(regexp_extract_all(content, '@PHONE@')) AS n_phone,
    len(regexp_extract_all(content, '@IP@')) AS n_ip,
    length(regexp_replace(regexp_replace(regexp_replace(content,
      '@EMAIL@', '[EMAIL]', 'g'), '@PHONE@', '[PHONE]', 'g'),
      '@IP@', '[IP]', 'g')) - length(content) AS delta
  FROM c)
SELECT CAST(sum(n_email) AS BIGINT) AS n_emails,
       CAST(sum(n_phone) AS BIGINT) AS n_phones,
       CAST(sum(n_ip) AS BIGINT) AS n_ips,
       CAST(sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       CAST(sum(delta) AS BIGINT) AS chars_delta
FROM m
"""
    .replace("@SUFFIX@", _PII_SUFFIX_SQL)
)

from .operators.textprep import EMAIL_RE, IPV4_RE, PHONE_RE  # noqa: E402

SQL_PII_REDACTION = (
    SQL_PII_REDACTION
    .replace("@EMAIL@", EMAIL_RE)
    .replace("@PHONE@", PHONE_RE)
    .replace("@IP@", IPV4_RE)
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level corpus dedup accounting: explode synthesized
    per-doc lines (host-skewed footer boilerplate, rotating section lines,
    a unique line per doc), count duplicates corpus-wide."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    host = F.when(F.col("doc_id") % 5 < 2, F.col("doc_id") % 7) \
        .otherwise(7 + F.col("doc_id") % 211)
    lines = F.array(
        F.concat(F.lit("footer host"), host.cast("string"),
                 F.lit(" terms privacy")),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("subscribe to our newsletter")).otherwise(
            F.concat(F.lit("section "), (F.col("doc_id") % 11).cast("string"))),
        F.concat(F.lit("unique "), F.col("doc_id").cast("string")),
    )
    return textprep.line_dedup_stats(docs, lines)


SQL_LINE_DEDUP = f"""
WITH lines AS (
  SELECT unnest([
    'footer host' || CAST({_HOST_ID} AS VARCHAR) || ' terms privacy',
    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
         ELSE 'section ' || (doc_id % 11) END,
    'unique ' || doc_id]) AS line
  FROM documents),
per_line AS (SELECT line, count(*) AS cnt FROM lines GROUP BY line)
SELECT CAST(sum(cnt) AS BIGINT) AS total_lines,
       CAST(count(*) AS BIGINT) AS distinct_lines,
       CAST(sum(cnt - 1) AS BIGINT) AS lines_removed,
       CAST(max(cnt) AS BIGINT) AS max_line_repeat,
       CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS boilerplate_lines
FROM per_line
"""

def q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-level template removal (textprep.host_boilerplate_removal):
    lines on a strict majority (and >= 2) of a host's pages are removed
    from every page of that host, pages rebuilt in original line order.
    The synthesized per-doc line set exercises every branch: a footer line
    on 100% of the host's pages (removed wherever the host has >= 2 pages,
    KEPT on single-page hosts — the min_pages floor), an alternating promo
    line on ~half the pages (strict-majority boundary: removed only when
    its variant exceeds half, e.g. 2 of 3), a rotating section line
    (~1/11 per host, kept except on tiny same-section hosts), and a unique
    line (always kept).  The gate is exact-content: both engines rebuild
    every page and the checksum sums a 48-bit md5 prefix of each rebuilt
    doc (order-independent — no global sort)."""
    from .operators import textprep
    from .sources.web_pages import host_id_expr

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pages = docs.select(
        "doc_id", host_id_expr(d).cast("string").alias("host"),
        F.array(
            F.concat(F.lit("footer host"), host_id_expr(d).cast("string"),
                     F.lit(" terms privacy")),
            F.concat(F.lit("promo week "), (d % 2).cast("string")),
            F.concat(F.lit("section "), (d % 11).cast("string")),
            F.concat(F.lit("unique "), d.cast("string")),
        ).alias("lines"),
    )
    reb = textprep.host_boilerplate_removal(
        pages, "host", F.col("lines"), min_pages=2)
    reb_md5 = F.md5(F.col("rebuilt").cast("binary"))
    return reb.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum("n_lines").cast("long").alias("total_lines"),
        F.sum("n_removed").cast("long").alias("lines_removed"),
        F.sum((F.col("n_removed") > 0).cast("long")).cast("long")
        .alias("docs_affected"),
        F.min(reb_md5).alias("rebuilt_min_md5"),
        F.max(reb_md5).alias("rebuilt_max_md5"),
        F.sum(F.conv(F.substring(reb_md5, 1, 12), 16, 10).cast("long"))
        .cast("long").alias("rebuilt_checksum"),
    )


SQL_HOST_BOILERPLATE = f"""
WITH pages AS (
  SELECT doc_id, {_HOST_ID} AS host FROM documents),
plines AS (
  SELECT doc_id, host,
         unnest([0, 1, 2, 3]) AS pos,
         unnest(['footer host' || CAST(host AS VARCHAR) || ' terms privacy',
                 'promo week ' || CAST(doc_id % 2 AS VARCHAR),
                 'section ' || CAST(doc_id % 11 AS VARCHAR),
                 'unique ' || CAST(doc_id AS VARCHAR)]) AS line
  FROM pages),
hd AS (SELECT host, count(*) AS host_docs FROM pages GROUP BY host),
freq AS (SELECT host, line, count(DISTINCT doc_id) AS page_freq
         FROM plines GROUP BY host, line),
bp AS (SELECT f.host, f.line FROM freq f JOIN hd USING (host)
       WHERE f.page_freq >= 2 AND f.page_freq * 2 > hd.host_docs),
marked AS (SELECT l.doc_id, l.host, l.pos, l.line,
                  (b.line IS NOT NULL) AS is_bp
           FROM plines l LEFT JOIN bp b
             ON l.host = b.host AND l.line = b.line),
reb AS (SELECT doc_id, host,
               count(*) AS n_lines,
               sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS n_removed,
               coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
                                   chr(10) ORDER BY pos), '') AS rebuilt
        FROM marked GROUP BY doc_id, host)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(sum(n_lines) AS BIGINT) AS total_lines,
       CAST(sum(n_removed) AS BIGINT) AS lines_removed,
       CAST(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_affected,
       min(md5(rebuilt)) AS rebuilt_min_md5,
       max(md5(rebuilt)) AS rebuilt_max_md5,
       CAST(sum(CAST(('0x' || substr(md5(rebuilt), 1, 12)) AS UBIGINT))
            AS BIGINT) AS rebuilt_checksum
FROM reb
"""


def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization stage (textprep.normalize_stats): strip
    C0/DEL controls (JVM regexp), NFC-compose (Arrow-batched
    unicodedata vs DuckDB's native utf8proc nfc_normalize — two
    INDEPENDENT normalizer implementations must produce byte-identical
    output).  The corpus text is deterministically decorated with
    decomposed combining sequences (cafe+U+0301, A+U+030A /
    o+U+0308, the s+dot-below+dot-above REORDERING case) and a C0
    control byte so every branch is exercised; the checksum gates the
    composed bytes of every document."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pfx = (
        F.when(d % 4 == 0, F.lit("café "))
        .when(d % 4 == 1, F.lit("Ångström "))
        .when(d % 4 == 2, F.lit("ṩ "))
        .otherwise(F.lit(""))
    )
    ctl = F.when(d % 5 == 0, F.lit("\x01")).otherwise(F.lit(""))
    return textprep.normalize_stats(
        docs, F.concat(ctl, pfx, F.col("text")))


SQL_NORMALIZE = r"""
WITH deco AS (
  SELECT CASE WHEN doc_id % 5 = 0 THEN chr(1) ELSE '' END ||
         CASE WHEN doc_id % 4 = 0 THEN 'cafe' || chr(769) || ' '
              WHEN doc_id % 4 = 1
                THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm '
              WHEN doc_id % 4 = 2 THEN 's' || chr(803) || chr(775) || ' '
              ELSE '' END || text AS orig
  FROM documents),
nrm AS (
  SELECT orig,
         nfc_normalize(regexp_replace(
           orig, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')) AS norm
  FROM deco)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN orig <> norm THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(sum(length(orig)) AS BIGINT) AS chars_before,
       CAST(sum(length(norm)) AS BIGINT) AS chars_after,
       CAST(sum(CASE WHEN regexp_matches(orig, '[^\x00-\x7f]')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nonascii_docs,
       CAST(sum(CAST(('0x' || substr(md5(norm), 1, 12)) AS UBIGINT))
            AS BIGINT) AS normalized_checksum
FROM nrm
"""


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap build → parse → crawl-coverage reconciliation
    (operators/sitemaps.py).  Per host: a spec-shaped urlset is built
    from the docs the host "lists" (doc_id % 3 != 2, W3C-date lastmod)
    plus one ghost entry per host that the crawl never captured; the XML
    is then parsed back with the zipped loc/lastmod regexps and
    reconciled against the crawl table — listed-and-crawled,
    listed-never-crawled (ghosts), crawled-but-unlisted.  The lastmod
    checksum gates the parsed BYTES; the oracle rebuilds and re-parses
    the same XML independently."""
    from .operators import sitemaps as op_sm
    from .sources.web_pages import host_id_expr, url_expr

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    lastmod = F.concat(
        F.lit("2023-"), F.lpad((d % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"), F.lpad((d % 28 + 1).cast("string"), 2, "0"))
    host = F.concat(F.lit("host"), host_id_expr(d).cast("string"),
                    F.lit(".example.com"))
    listed = docs.filter(d % 3 != 2).select(
        host.alias("host"), d.cast("long").alias("ord"),
        op_sm.sitemap_entry(url_expr(d), lastmod).alias("entry"))
    ghost = docs.select(host_id_expr(d).alias("h")).distinct().select(
        F.concat(F.lit("host"), F.col("h").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.lit(-1).cast("long").alias("ord"),
        op_sm.sitemap_entry(
            F.concat(F.lit("https://host"), F.col("h").cast("string"),
                     F.lit(".example.com/ghost/"),
                     F.col("h").cast("string")),
            F.lit("2023-01-01")).alias("entry"))
    xml = op_sm.build_sitemaps(listed.unionByName(ghost))
    parsed = op_sm.parse_sitemaps(xml)
    crawled = docs.select(url_expr(d).alias("url"))
    return op_sm.sitemap_coverage(parsed, crawled)


SQL_SITEMAP_COVERAGE = f"""
WITH listed AS (
  SELECT {_HOST_ID} AS h, doc_id AS ord,
         '<url><loc>' || {_URL} || '</loc><lastmod>2023-'
         || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-'
         || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         || '</lastmod></url>' AS entry
  FROM documents WHERE doc_id % 3 <> 2),
sghost AS (SELECT DISTINCT {_HOST_ID} AS h FROM documents),
sentries AS (
  SELECT h, ord, entry FROM listed
  UNION ALL
  SELECT h, -1 AS ord,
         '<url><loc>https://host' || CAST(h AS VARCHAR)
         || '.example.com/ghost/' || CAST(h AS VARCHAR)
         || '</loc><lastmod>2023-01-01</lastmod></url>'
  FROM sghost),
sm AS (
  SELECT h,
         '<?xml version="1.0" encoding="UTF-8"?><urlset xmlns='
         || '"http://www.sitemaps.org/schemas/sitemap/0.9">'
         || string_agg(entry, '' ORDER BY ord) || '</urlset>' AS xml
  FROM sentries GROUP BY h),
sparsed AS (
  SELECT h, lcs[i] AS loc, mds[i] AS lastmod
  FROM (SELECT h,
               regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1) AS lcs,
               regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1)
                 AS mds
        FROM sm),
       LATERAL (SELECT unnest(generate_series(1, len(lcs))) AS i)),
scrawled AS (SELECT {_URL} AS url FROM documents)
SELECT (SELECT CAST(count(DISTINCT h) AS BIGINT) FROM sparsed) AS n_hosts,
       (SELECT CAST(count(*) AS BIGINT) FROM sparsed) AS n_sitemap_urls,
       (SELECT CAST(coalesce(sum(CAST(('0x' || substr(md5(lastmod), 1, 12))
                                  AS UBIGINT)), 0) AS BIGINT)
        FROM sparsed) AS lastmod_checksum,
       (SELECT CAST(count(*) AS BIGINT) FROM sparsed
        WHERE loc IN (SELECT url FROM scrawled)) AS n_listed_crawled,
       (SELECT CAST(count(*) AS BIGINT) FROM sparsed
        WHERE loc NOT IN (SELECT url FROM scrawled)) AS n_ghost,
       (SELECT CAST(count(*) AS BIGINT) FROM scrawled
        WHERE url NOT IN (SELECT loc FROM sparsed)) AS n_crawled_unlisted
"""


_BLOCKED_HOSTS = ["host1.example.com", "host3.example.com",
                  "host5.example.com", "host42.example.com"]


_WARC_FILES = 16


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion round-trip through the Spark 4 Python DataSource:
    the documents table is written as deterministic WARC files (16 crawl
    files + a warcinfo record each, generated once per corpus under /tmp),
    read back via ``spark.read.format("warc")`` with one partition per
    file, and summarized per lang — counts, payload bytes, and distinct
    md5s byte-compare against the source-of-truth parquet.

    The crawl-file count is the read parallelism (one partition per file,
    exactly how a real crawl lands: thousands of ~1 GB WARCs).  The fixture
    files are written FROM EXECUTORS: rows are hash-repartitioned on their
    bucket (every bucket lands whole in one task) and each task streams its
    buckets to disk — no full-relation collect to the driver, so staging
    scales with the corpus the same way a production WARC writer would (at
    cluster scale the open() targets shared storage).  Cache key = corpus
    content fingerprint; publish is atomic (temp dir + rename)."""
    from .sources import warc as warc_src

    docs = _read(spark, sf_dir, "documents")
    key = _corpus_fingerprint(sf_dir, "documents")

    def build(tmp: str) -> None:
        n_files = _WARC_FILES

        def write_bucket_files(rows) -> None:
            import os as _os

            from docling_graph_spark.sources.warc import warc_record_bytes

            cur_bucket, fh = None, None
            for r in rows:
                if r.bucket != cur_bucket:
                    if fh is not None:
                        fh.close()
                    fh = open(
                        _os.path.join(tmp, f"part{r.bucket:02d}.warc"), "wb"
                    )
                    fh.write(warc_record_bytes(
                        "urn:warcinfo", b"crawler: dgspark",
                        warc_type="warcinfo",
                        content_type="application/warc-fields",
                    ))
                    cur_bucket = r.bucket
                fh.write(warc_record_bytes(
                    f"https://warc.example.com/{r.lang}/{r.doc_id}",
                    r.text.encode(),
                ))
            if fh is not None:
                fh.close()

        (
            docs.select("doc_id", "lang", "text",
                        (F.col("doc_id") % n_files).cast("int").alias("bucket"))
            # same bucket -> same partition (hash on the bucket value), so
            # each file is written completely by exactly one task; the sort
            # within the partition makes every file byte-deterministic
            .repartition(n_files, "bucket")
            .sortWithinPartitions("bucket", "doc_id")
            .foreachPartition(write_bucket_files)
        )

    out = _staged_artifact("warc", key, build)
    warc_src.register_warc_source(spark)
    df = spark.read.format("warc").load(out)
    resp = df.filter(F.col("record_type") == "response")
    return (
        resp.select(
            F.regexp_extract("url", r"example\.com/([a-z]+)/", 1)
            .alias("lang"),
            F.length("html").cast("long").alias("n_bytes"),
            F.md5("html").alias("h"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("h").alias("distinct_payloads"),
        )
        .orderBy("lang")
    )


SQL_WARC_ROUNDTRIP = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_payloads
FROM documents GROUP BY lang ORDER BY lang
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (~6.25% via 2-hex-digit threshold '10'),
    stratified report per lang: the reproducible-subset primitive a 100 TB
    corpus needs (pure function of the row key — same subset on any engine,
    cluster size, or restart; no RNG state, no partition-order dependence)."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    return textprep.stratified_sample_stats(
        docs, key_col="doc_id", strata_col="lang", hex_threshold="10"
    )


SQL_STRATIFIED_SAMPLE = """
SELECT lang AS stratum,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN substr(md5('dgspark' || CAST(doc_id AS VARCHAR)),
                                 1, 2) < '10'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents GROUP BY lang ORDER BY lang
"""


def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic disjoint train/val/test assignment by md5 hex-range
    (87.5/6.25/6.25 at bounds e0/f0): per-split doc counts and total chars.
    Rows never migrate between splits on corpus growth or restart — the
    held-out-stays-held-out guarantee."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    return (
        textprep.split_by_hash(docs, "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.length("text")).alias("total_chars"))
        .orderBy("split")
    )


SQL_TRAIN_VAL_TEST = """
SELECT CASE WHEN substr(md5('dgsplit' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e0'
            THEN 'train'
            WHEN substr(md5('dgsplit' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f0'
            THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf (reciprocal-df
    weighting: every score is one IEEE double division of two small ints,
    so Spark and DuckDB rank identically — no transcendental ulp flips).
    Deterministic tie-break on term bytes."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return textprep.tfidf_topk(docs, k=3).orderBy("doc_id", "rnk")


SQL_TFIDF_TOPK = """
WITH w AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{5,}')) AS term
  FROM documents WHERE doc_id < 100),
tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
s AS (SELECT doc_id, term,
             CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score
      FROM tf JOIN dfq USING (term)),
r AS (SELECT doc_id, term,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rnk
      FROM s)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rnk AS BIGINT) AS rnk, term
FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + crawl dedup: each doc yields two dirty
    variants of the same logical URL (cased host, default :443 port,
    trailing slash, fragment, utm params, shuffled param order); doc_id%3==0
    rows get a real extra param on one variant so not everything collapses.
    The oracle constructs the expected canonical strings in closed form —
    an independent derivation, byte-compared via min/max."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    k = (d % 13).cast("string")
    u1 = F.concat(
        F.lit("https://Host"), k, F.lit(".Example.com:443/doc/"),
        d.cast("string"), F.lit("/?utm_source=feed&b=2&a=1#frag"),
    )
    u2 = F.concat(
        F.lit("https://host"), k, F.lit(".example.com/doc/"),
        d.cast("string"), F.lit("?a=1&b=2"),
        F.when(d % 3 == 0, F.lit("&page=2")).otherwise(F.lit("")),
    )
    urls = docs.select(u1.alias("url")).unionAll(docs.select(u2.alias("url")))
    return textprep.canonical_url_dedup_stats(urls)


SQL_URL_CANONICAL_DEDUP = """
WITH c AS (
  SELECT concat('https://host', CAST(doc_id % 13 AS VARCHAR),
                '.example.com/doc/', CAST(doc_id AS VARCHAR),
                '?a=1&b=2') AS canon1,
         concat('https://host', CAST(doc_id % 13 AS VARCHAR),
                '.example.com/doc/', CAST(doc_id AS VARCHAR), '?a=1&b=2',
                CASE WHEN doc_id % 3 = 0 THEN '&page=2' ELSE '' END)
           AS canon2
  FROM documents),
u AS (SELECT canon1 AS canonical FROM c
      UNION ALL SELECT canon2 FROM c)
SELECT CAST(count(*) AS BIGINT) AS total_urls,
       CAST(count(DISTINCT canonical) AS BIGINT) AS distinct_canonical,
       CAST(count(*) - count(DISTINCT canonical) AS BIGINT) AS collapsed,
       min(canonical) AS min_canonical,
       max(canonical) AS max_canonical
FROM u
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality gates per language: word-count
    bounds, mean word length, top-word and top-bigram fractions — all
    integer-exact rational comparisons, computed per row with sort+fold
    array aggregates (zero shuffle until the tiny groupBy(lang))."""
    from .operators import textprep

    return textprep.gopher_quality_stats(_read(spark, sf_dir, "documents"))


SQL_GOPHER_QUALITY = """
WITH l AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
  FROM documents),
w AS (SELECT doc_id, unnest(w) AS word FROM l),
wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
pw AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_word,
              sum(c * len(word)) AS n_chars_w
       FROM wc GROUP BY doc_id),
big AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1])) AS bg
  FROM l WHERE len(w) >= 2),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg),
pb AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram
       FROM bgc GROUP BY doc_id),
per_doc AS (
  SELECT l.lang,
         coalesce(pw.n_words, 0) AS n_words,
         coalesce(pw.n_chars_w, 0) AS n_chars_w,
         coalesce(pw.top_word, 0) AS top_word,
         coalesce(pb.n_bigrams, 0) AS n_bigrams,
         coalesce(pb.top_bigram, 0) AS top_bigram
  FROM l LEFT JOIN pw USING (doc_id) LEFT JOIN pb USING (doc_id)),
gated AS (
  SELECT lang,
         (n_words < 50 OR n_words > 100000) AS f_wc,
         (3 * n_words > n_chars_w OR n_chars_w > 10 * n_words) AS f_len,
         (10 * top_word > n_words) AS f_tw,
         (n_bigrams > 0 AND 20 * top_bigram > n_bigrams) AS f_tb
  FROM per_doc)
SELECT lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_word_count,
       CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_mean_word_len,
       CAST(sum(CASE WHEN f_tw THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_top_word,
       CAST(sum(CASE WHEN f_tb THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_top_bigram,
       CAST(sum(CASE WHEN NOT f_wc AND NOT f_len AND NOT f_tw AND NOT f_tb
                THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM gated GROUP BY lang ORDER BY lang
"""


def q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality filtering (textprep.host_quality_split):
    per-host Gopher fail rates, strict-majority-fail hosts flagged
    (min 3 docs), flagged set gated by a host-name checksum.  The oracle
    re-derives the same per-doc gates, host rollup, and flag rule."""
    from .operators import textprep
    from .sources.web_pages import host_id_expr

    docs = _read(spark, sf_dir, "documents")
    host = F.concat(F.lit("host"),
                    host_id_expr(F.col("doc_id")).cast("string"),
                    F.lit(".example.com"))
    return textprep.host_quality_split(
        docs.select(host.alias("host"), "text"), "host")


SQL_HOST_QUALITY = f"""
WITH hl AS (
  SELECT doc_id,
         concat('host', CAST({_HOST_ID} AS VARCHAR), '.example.com')
           AS host,
         list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
  FROM documents),
hw AS (SELECT doc_id, unnest(w) AS word FROM hl),
hwc AS (SELECT doc_id, word, count(*) AS c FROM hw GROUP BY doc_id, word),
hpw AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_word,
               sum(c * len(word)) AS n_chars_w
        FROM hwc GROUP BY doc_id),
hbig AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1])) AS bg
  FROM hl WHERE len(w) >= 2),
hbgc AS (SELECT doc_id, bg, count(*) AS c FROM hbig GROUP BY doc_id, bg),
hpb AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram
        FROM hbgc GROUP BY doc_id),
hper AS (
  SELECT hl.host,
         coalesce(hpw.n_words, 0) AS n_words,
         coalesce(hpw.n_chars_w, 0) AS n_chars_w,
         coalesce(hpw.top_word, 0) AS top_word,
         coalesce(hpb.n_bigrams, 0) AS n_bigrams,
         coalesce(hpb.top_bigram, 0) AS top_bigram
  FROM hl LEFT JOIN hpw USING (doc_id) LEFT JOIN hpb USING (doc_id)),
hgate AS (
  SELECT host,
         CASE WHEN (n_words < 50 OR n_words > 100000)
                OR (3 * n_words > n_chars_w OR n_chars_w > 10 * n_words)
                OR (10 * top_word > n_words)
                OR (n_bigrams > 0 AND 20 * top_bigram > n_bigrams)
              THEN 1 ELSE 0 END AS fail
  FROM hper),
hph AS (SELECT host, count(*) AS docs, sum(fail) AS fails
        FROM hgate GROUP BY host),
hfl AS (SELECT host, docs, fails,
               (fails * 2 > docs AND docs >= 3) AS flagged
        FROM hph)
SELECT CAST(count(*) AS BIGINT) AS n_hosts,
       CAST(sum(docs) AS BIGINT) AS docs_total,
       CAST(sum(fails) AS BIGINT) AS docs_failing,
       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged_hosts,
       CAST(sum(CASE WHEN flagged THEN docs ELSE 0 END) AS BIGINT)
         AS docs_on_flagged,
       CAST(coalesce(sum(CASE WHEN flagged THEN
           CAST(('0x' || substr(md5(host), 1, 12)) AS UBIGINT)
         ELSE 0 END), 0) AS BIGINT) AS flagged_checksum
FROM hfl
"""


def q_host_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host blocklist filter: broadcast left_anti/left_semi split of the
    synthesized web corpus against a blocked-host dimension."""
    from .operators import textprep
    from .sources.web_pages import synthesize_web_pages

    pages = synthesize_web_pages(spark, sf_dir)
    return textprep.host_blocklist_split(pages, _BLOCKED_HOSTS)


SQL_HOST_BLOCKLIST = f"""
WITH h AS (
  SELECT concat('host', CAST({_HOST_ID} AS VARCHAR), '.example.com') AS host
  FROM documents),
flagged AS (
  SELECT host, host IN ({", ".join(repr(h) for h in _BLOCKED_HOSTS)})
           AS blocked
  FROM h)
SELECT CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT) AS kept_docs,
       CAST(count(DISTINCT CASE WHEN NOT blocked THEN host END) AS BIGINT)
         AS kept_hosts,
       CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
         AS dropped_docs,
       CAST(count(DISTINCT CASE WHEN blocked THEN host END) AS BIGINT)
         AS dropped_hosts
FROM flagged
"""

# --------------------------------------------------------------------------
# merged driver-facing queries
#
# The driver's correctness harness records at most 50 catalog entries (round
# 1 registered 56; exactly the first 50 in dict order got CORRECTNESS rows).
# Small same-family queries are therefore fused into one oracle-checked
# relation each — every underlying operator still runs and is still value-
# checked, just as a labelled section of a merged result.  The unmerged
# single-purpose variants remain above as the building blocks (and are
# exercised directly by tests/test_entry_oracles.py history + unit tests).


def _unpivot_by_key(df: DataFrame, stage: str, key_col: str,
                    metric_cols: list) -> DataFrame:
    """K-row × N-col summary → K·N rows of (stage, '<key>:<col>', value)."""
    kv = F.explode(F.array(*[
        F.struct(
            F.concat(F.col(key_col), F.lit(":" + c)).alias("metric"),
            F.col(c).cast("string").alias("value"),
        )
        for c in metric_cols
    ])).alias("kv")
    return df.select(kv).select(
        F.lit(stage).alias("stage"),
        F.col("kv.metric").alias("metric"),
        F.col("kv.value").alias("value"),
    )


def _unpivot_single_row(df: DataFrame, stage: str) -> DataFrame:
    """1-row × N-col summary → N rows of (stage, metric, value-as-string)."""
    kv = F.explode(F.array(*[
        F.struct(F.lit(c).alias("metric"),
                 F.col(c).cast("string").alias("value"))
        for c in df.columns
    ])).alias("kv")
    return df.select(kv).select(
        F.lit(stage).alias("stage"),
        F.col("kv.metric").alias("metric"),
        F.col("kv.value").alias("value"),
    )


def q_graph_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 node + edge label distributions of the assembled web graph in one
    relation (element = node | edge)."""
    res = _pipeline(spark, sf_dir)
    n = res.nodes.groupBy("label").agg(F.count("*").alias("n")).select(
        F.lit("node").alias("element"), "label", "n"
    )
    e = res.edges.groupBy("label").agg(F.count("*").alias("n")).select(
        F.lit("edge").alias("element"), "label", "n"
    )
    return n.unionByName(e).orderBy("element", "label")


SQL_GRAPH_TYPE_COUNTS = f"""
WITH {_MENTIONS_CTE}
SELECT * FROM (
  SELECT 'node' AS element, 'WebDocument' AS label,
         CAST(count(*) AS BIGINT) AS n FROM documents
  UNION ALL
  SELECT 'node', 'Chunk',
         CAST(sum(CAST(ceil(length(text)/100.0) AS BIGINT)) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'node', 'Term', CAST(count(DISTINCT term) AS BIGINT) FROM mentions
  UNION ALL
  SELECT 'edge', 'has_chunk',
         CAST(sum(CAST(ceil(length(text)/100.0) AS BIGINT)) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'edge', 'mentions', CAST(count(*) AS BIGINT) FROM (
    SELECT DISTINCT doc_id, term FROM mentions
  )
) ORDER BY element, label
"""


_PNG_DOCS = 64  # doc_id < 64 get a deterministic synthetic PNG


def q_media_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal columns end-to-end in one (stage, metric, value) relation:

    * stage 'media' — magic-byte typing + payload accounting
      (media_features pass) joined with the resize / frame-sample transform
      stage (media_transform pass), per media type;
    * stage 'png_decode' — REAL decode: deterministic grayscale PNGs
      (width 4+d%5, height 3+d%7, pixel k = (d*7+k)%256) are encoded in an
      Arrow batch stage, decoded by the stdlib PNG codec
      (kernels/png_codec.py — IDAT inflate + full defilter) through
      `multimodal.media_decode_stats`, and the decoded dimensions / pixel
      checksums are compared against the oracle's closed-form pixel math.
    """
    from .operators import multimodal as op_mm
    from .sources.web_pages import synthesize_web_pages

    pages = synthesize_web_pages(spark, sf_dir)
    types = op_mm.media_type_stats(pages)
    transformed = op_mm.media_transform(pages, width=8, height=8, n_frames=4)
    tstats = transformed.groupBy("media_type").agg(
        F.sum(F.length("thumb")).alias("thumb_bytes"),
        F.sum("n_frames").alias("total_frames"),
    )
    joined = types.join(tstats, "media_type")
    media_rows = _unpivot_by_key(
        joined, "media", "media_type",
        ["n_docs", "total_bytes", "thumb_bytes", "total_frames"])

    def build_pngs(batches):
        from docling_graph_spark.kernels.png_codec import encode_png_gray

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = 4 + d % 5, 3 + d % 7
                px = bytes((d * 7 + k) % 256 for k in range(w * h))
                urls.append(f"png:{d}")
                blobs.append(encode_png_gray(w, h, px))
            yield pd.DataFrame({"url": urls, "html": blobs})

    pngs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PNG_DOCS)
        .select("doc_id")
        .mapInPandas(build_pngs, "url string, html binary")
    )
    dec = op_mm.media_decode_stats(pngs)
    png_agg = dec.agg(
        F.count("*").alias("n_pngs"),
        F.sum(F.col("decoded").cast("long")).alias("n_decoded"),
        F.sum(F.col("width").cast("long") * F.col("height"))
        .alias("sum_pixels"),
        F.sum("pixel_sum").alias("sum_pixel_values"),
        F.sum(F.col("width").cast("long")).alias("sum_width"),
        F.sum(F.col("height").cast("long")).alias("sum_height"),
    )
    png_rows = _unpivot_single_row(png_agg, "png_decode")

    # stage 'header_probe': REAL container-metadata extraction for formats
    # with no full decoder — JPEG SOF / GIF LSD / BMP DIB / WEBP VP8X
    # headers, and (round 5) the two video containers: ISO BMFF
    # moov/trak/tkhd 16.16 geometry and Matroska/WebM EBML
    # PixelWidth/PixelHeight (kernels/media_probe.py), synthesized
    # deterministically (format = doc_id%6, w = 20+doc_id%17,
    # h = 10+doc_id%13), geometry read back through
    # media_decode_stats' header fallback and compared against the
    # oracle's closed-form sums per format.
    def build_probes(batches):
        from docling_graph_spark.kernels.media_probe import (
            make_bmp_header, make_gif_header, make_jpeg_header,
            make_mp4_header, make_webm_header, make_webp_vp8x_header)

        # round 5 adds the two video containers: their geometry parses
        # from plain box/EBML metadata (ISO BMFF tkhd, Matroska Video)
        # with no codec decode — the same header-only fallback path
        makers = [make_jpeg_header, make_gif_header, make_bmp_header,
                  make_webp_vp8x_header, make_mp4_header,
                  make_webm_header]
        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                urls.append(f"img:{d}")
                blobs.append(makers[d % 6](20 + d % 17, 10 + d % 13))
            yield pd.DataFrame({"url": urls, "html": blobs})

    imgs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PNG_DOCS)
        .select("doc_id")
        .mapInPandas(build_probes, "url string, html binary")
    )
    probed = op_mm.media_decode_stats(imgs).groupBy("media_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("width").cast("long")).alias("w"),
        F.sum(F.col("height").cast("long")).alias("h"),
    )
    probe_rows = _unpivot_by_key(probed, "header_probe", "media_type",
                                 ["n", "w", "h"])

    # stage 'wav_decode': REAL audio decode — deterministic PCM WAVs
    # (channels 1+d%2, rate 8000+1000*(d%3), frames 40+d%25, sample k =
    # ((d*31+k*17)%4001)-2000) encoded in an Arrow batch stage, decoded by
    # the stdlib RIFF codec (kernels/wav_codec.py) through
    # `multimodal.audio_decode_stats`; d%7==3 rows are truncated (malformed
    # → routed error), d%7==5 rows are ID3-tagged MP3 (unsupported codec →
    # routed error).  Sample statistics are compared against the oracle's
    # closed-form integer math.
    def build_wavs(batches):
        from docling_graph_spark.kernels.wav_codec import encode_wav_pcm16

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                urls.append(f"wav:{d}")
                if d % 7 == 5:
                    blobs.append(b"ID3\x04\x00" + bytes(32))
                    continue
                c, f = 1 + d % 2, 40 + d % 25
                samples = [((d * 31 + k * 17) % 4001) - 2000
                           for k in range(f * c)]
                wav = encode_wav_pcm16(8000 + 1000 * (d % 3), c, samples)
                blobs.append(wav[:20] if d % 7 == 3 else wav)
            yield pd.DataFrame({"url": urls, "html": blobs})

    # round 4: FLAC joins the audio stage — 24 streams on doc_ids
    # [64, 88): channels 1+d%2, rate 8000, frames 50+d%20, sample k =
    # ((d*29 + k*13) % 3001) - 1500, encoded by
    # kernels/flac_codec.encode_flac with the subframe mode rotating by
    # d%5 (verbatim / fixed1 / fixed2 / fixed4 / lpc2) and mid/side
    # stereo when 2-channel — FLAC is lossless, so every variant
    # decodes to the same closed-form samples the oracle predicts.
    def build_flacs(batches):
        from docling_graph_spark.kernels.flac_codec import encode_flac

        modes = ["verbatim", "fixed1", "fixed2", "fixed4", "lpc2"]
        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                c, f = 1 + d % 2, 50 + d % 20
                inter = [((d * 29 + k * 13) % 3001) - 1500
                         for k in range(f * c)]
                chans = [inter[ch::c] for ch in range(c)]
                urls.append(f"flac:{d}")
                blobs.append(encode_flac(
                    chans, sample_rate=8000, blocksize=64,
                    subframe_mode=modes[d % 5],
                    stereo_mode="mid_side" if c == 2 else "independent"))
            yield pd.DataFrame({"url": urls, "html": blobs})

    # round 5: Ogg Vorbis joins the audio stage — 24 REAL lossy
    # streams on doc_ids [160, 184): channels 1+d%2, rate
    # 8000+1000*(d%3), frames 30+d%50, blocksize 128, square-polar
    # coupling when stereo and d%4==1, all SILENCE — Vorbis decodes
    # silence to exact zero samples (empty residue through the silent
    # class, zero spectrum, zero IMDCT), so every decoded field is
    # closed-form: n_frames from the granule, abs_sum and peak exactly
    # 0 (kernels/vorbis_codec.py; rich content is pinned in pytest by
    # decode == the encoder's intended reconstruction).  Container
    # rotation (round 5 continuation): d%5==2 transmuxes the SAME
    # Vorbis packets into a WebM audio track (kernels/webm_codec.py,
    # Xiph-laced CodecPrivate + Segment Duration carrying the final
    # granule) — every decoded field is identical by construction, so
    # the closed-form oracle needs no per-container terms while the
    # EBML audio walk runs under the driver gate.
    def build_vorbis(batches):
        from docling_graph_spark.kernels.vorbis_codec import (
            encode_vorbis)
        from docling_graph_spark.kernels.webm_codec import (
            encode_webm_vorbis)

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                c, f = 1 + d % 2, 30 + d % 50
                urls.append(f"ogg:{d}")
                ogg = encode_vorbis(
                    [[0] * f] * c, 8000 + 1000 * (d % 3),
                    blocksize=128,
                    couple=(c == 2 and d % 4 == 1))
                blobs.append(encode_webm_vorbis(ogg)
                             if d % 5 == 2 else ogg)
            yield pd.DataFrame({"url": urls, "html": blobs})

    # round 5 continuation: G.711 telephony WAVs join the audio stage —
    # 24 streams on doc_ids [184, 208): mu-law for d < 196, A-law for
    # d >= 196, channels 1+d%2, rate 8000, frames 35+d%21.  Sample k is
    # the EXPANSION of code point (d*31+k*17)%256 through the formulaic
    # G.711 segment curves (kernels/wav_codec.ulaw/alaw_decode_byte) —
    # code points are fixed points of the compander, so the fixture
    # encoder reproduces them exactly and the oracle replays the same
    # segment arithmetic closed-form in SQL.
    def build_g711(batches):
        from docling_graph_spark.kernels.wav_codec import (
            alaw_decode_byte, encode_wav_g711, ulaw_decode_byte)

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                law = "mu" if d < _PNG_DOCS + 132 else "a"
                dec = (ulaw_decode_byte if law == "mu"
                       else alaw_decode_byte)
                c, f = 1 + d % 2, 35 + d % 21
                samples = [dec((d * 31 + k * 17) % 256)
                           for k in range(f * c)]
                urls.append(f"g711:{d}")
                blobs.append(encode_wav_g711(8000, c, samples, law=law))
            yield pd.DataFrame({"url": urls, "html": blobs})

    wavs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PNG_DOCS)
        .select("doc_id")
        .mapInPandas(build_wavs, "url string, html binary")
    ).unionByName(
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS)
                & (F.col("doc_id") < _PNG_DOCS + 24))
        .select("doc_id")
        .mapInPandas(build_flacs, "url string, html binary")
    ).unionByName(
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS + 96)
                & (F.col("doc_id") < _PNG_DOCS + 120))
        .select("doc_id")
        .mapInPandas(build_vorbis, "url string, html binary")
    ).unionByName(
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS + 120)
                & (F.col("doc_id") < _PNG_DOCS + 144))
        .select("doc_id")
        .mapInPandas(build_g711, "url string, html binary")
    )
    adec = op_mm.audio_decode_stats(wavs)
    wav_agg = adec.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("decoded").cast("long")).alias("n_decoded"),
        F.sum(F.col("decode_error").startswith("malformed").cast("long"))
        .alias("n_malformed"),
        F.sum(F.col("decode_error").startswith("unsupported").cast("long"))
        .alias("n_unsupported"),
        F.sum("n_channels").alias("sum_channels"),
        F.sum("sample_rate").alias("sum_rate"),
        F.sum("n_frames").alias("sum_frames"),
        F.sum("abs_sum").alias("sum_abs"),
        F.max("peak").alias("max_peak"),
    )
    wav_rows = _unpivot_single_row(wav_agg, "wav_decode")

    # stage 'jpeg_decode': REAL JPEG pixel decode — solid-gray JPEGs
    # (w = 8+d%9, h = 8+d%6, gray v = 128 + (d*13)%100); EVEN doc_ids
    # encode baseline, ODD doc_ids encode PROGRESSIVE (SOF2, Annex-G
    # scan script: DC successive approximation + banded AC first scans
    # with EOB runs + refinements — kernels/jpeg_codec.py round 4).
    # Both carry identical quantized coefficients, so the decoded gray
    # is the same exact closed form p = 128 + 2*ceil(x/2) with
    # x = v-128 (Q00=16: q = (x+1)//2, p = 128 + q*16/8), which the
    # oracle replays per doc; n_progressive gates that the SOF2 path
    # really decoded (url prefix jpgp:, decoded=true).
    def build_jpegs(batches):
        from docling_graph_spark.kernels.jpeg_codec import (
            encode_jpeg_gray, encode_jpeg_gray_progressive)

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = 8 + d % 9, 8 + d % 6
                v = 128 + (d * 13) % 100
                raw = bytes([v] * (w * h))
                if d % 2:
                    urls.append(f"jpgp:{d}")
                    blobs.append(encode_jpeg_gray_progressive(w, h, raw))
                else:
                    urls.append(f"jpg:{d}")
                    blobs.append(encode_jpeg_gray(w, h, raw))
            yield pd.DataFrame({"url": urls, "html": blobs})

    jpgs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PNG_DOCS)
        .select("doc_id")
        .mapInPandas(build_jpegs, "url string, html binary")
    )
    jdec = op_mm.media_decode_stats(jpgs)
    jpg_agg = jdec.agg(
        F.count("*").alias("n_jpegs"),
        F.sum(F.col("decoded").cast("long")).alias("n_decoded"),
        F.sum(F.col("width").cast("long") * F.col("height"))
        .alias("sum_pixels"),
        F.sum("pixel_sum").alias("sum_pixel_values"),
        F.sum(F.col("width").cast("long")).alias("sum_width"),
        F.sum(F.col("height").cast("long")).alias("sum_height"),
        F.sum((F.col("url").startswith("jpgp:")
               & F.col("decoded")).cast("long")).alias("n_progressive"),
    )
    jpg_rows = _unpivot_single_row(jpg_agg, "jpeg_decode")

    # stage 'lossless_decode': REAL byte-lossless decode — BMP (even d:
    # 24-bit BI_RGB, pixel byte k = (d*11+k)%256) and GIF (odd d: 8-color
    # palette [i*37, i*59, i*83]%256, index k = (d+k)%8, real LZW) built
    # by the fixture encoders and decoded through decode_media; both
    # formats are lossless so the oracle predicts every byte exactly.
    def build_lossless(batches):
        from docling_graph_spark.kernels.bmp_codec import encode_bmp_rgb
        from docling_graph_spark.kernels.gif_codec import encode_gif

        pal = [bytes(((i * 37) % 256, (i * 59) % 256, (i * 83) % 256))
               for i in range(8)]
        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                if d % 2 == 0:
                    w, h = 5 + d % 6, 4 + d % 5
                    rgb = bytes((d * 11 + k) % 256
                                for k in range(w * h * 3))
                    blobs.append(encode_bmp_rgb(w, h, rgb))
                    urls.append(f"bmp:{d}")
                else:
                    w, h = 6 + d % 5, 3 + d % 4
                    idx = bytes((d + k) % 8 for k in range(w * h))
                    blobs.append(encode_gif(w, h, pal, idx))
                    urls.append(f"gif:{d}")
            yield pd.DataFrame({"url": urls, "html": blobs})

    # round 4: WEBP lossless (VP8L) joins the lossless family — 24 RGB
    # images (w = 4+d%5, h = 3+d%4, pixel (x,y): r=(d*7+3x+y)%256,
    # g=(d*11+x+5y)%256, b=(d*13+2x+3y)%256) on doc_ids [64, 88),
    # encoded through kernels/webp_codec.encode_webp_lossless with the
    # encoder FEATURE SET rotating by d%4 (literal-only; subtract-green
    # + predictor; color cache + LZ77 runs; meta-prefix + avg
    # predictor) — VP8L is lossless, so every variant must decode to
    # the same closed-form pixels the oracle predicts.
    def build_webps(batches):
        from docling_graph_spark.kernels.webp_codec import (
            encode_webp_lossless)

        cfgs = [
            dict(),
            dict(subtract_green=True, predictor_mode=2),
            dict(cache_bits=5, use_rle=True),
            dict(trivial_meta=True, predictor_mode=7),
        ]
        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = 4 + d % 5, 3 + d % 4
                rgba = bytearray()
                for y in range(h):
                    for x in range(w):
                        rgba += bytes((
                            (d * 7 + x * 3 + y) % 256,
                            (d * 11 + x + y * 5) % 256,
                            (d * 13 + x * 2 + y * 3) % 256, 255))
                urls.append(f"webp:{d}")
                blobs.append(encode_webp_lossless(
                    w, h, bytes(rgba), **cfgs[d % 4]))
            yield pd.DataFrame({"url": urls, "html": blobs})

    # round 5: TIFF joins the lossless family — 24 RGB images on
    # doc_ids [88, 112): w = 17+d%9, h = 14+d%7, pixel byte k =
    # (d*17 + k*5) % 256, encoded by kernels/tiff_codec.encode_tiff
    # with the STORAGE VARIANT rotating by d%6 (uncompressed /
    # PackBits / LZW / LZW+horizontal-predictor / LZW tiled 16x16 /
    # big-endian LZW+predictor tiled) — TIFF is lossless, so every
    # variant decodes to the same closed-form bytes the oracle
    # predicts, which pins the LZW early-change widths, the predictor
    # inverse, and the tile blitting all at once.
    def build_tiffs(batches):
        from docling_graph_spark.kernels.tiff_codec import encode_tiff

        cfgs = [
            dict(),
            dict(packbits=True),
            dict(lzw=True),
            dict(lzw=True, predictor=2),
            dict(lzw=True, tile=(16, 16)),
            dict(lzw=True, predictor=2, tile=(16, 16), big_endian=True),
        ]
        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = 17 + d % 9, 14 + d % 7
                px = bytes((d * 17 + k * 5) % 256
                           for k in range(w * h * 3))
                urls.append(f"tif:{d}")
                blobs.append(encode_tiff(w, h, 3, px, **cfgs[d % 6]))
            yield pd.DataFrame({"url": urls, "html": blobs})

    ll = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PNG_DOCS)
        .select("doc_id")
        .mapInPandas(build_lossless, "url string, html binary")
    ).unionByName(
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS)
                & (F.col("doc_id") < _PNG_DOCS + 24))
        .select("doc_id")
        .mapInPandas(build_webps, "url string, html binary")
    ).unionByName(
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS + 24)
                & (F.col("doc_id") < _PNG_DOCS + 48))
        .select("doc_id")
        .mapInPandas(build_tiffs, "url string, html binary")
    )
    # stage 'vp8_decode' (round 5): REAL lossy-WebP pixel decode —
    # solid-gray single-MB VP8 key frames on doc_ids [136, 160):
    # w = 9+d%8, h = 9+d%6, gray g = 64+(d*11)%128, quantizer
    # qi = (d*7)%48, prediction DC (even d, pred 128) or TM (odd d,
    # pred 129 from the 127/129 borders), two token partitions when
    # d%3==0.  The whole chain — RGBToY, DC/TM prediction, the exact
    # 8x residual DC, Y2 WHT quantization, inverse-WHT (W+3)>>3,
    # DC-only IDCT (DC+4)>>3, the chroma -1 residual under TM, and
    # libwebp's fixed-point YUV->RGB — is integer closed-form, which
    # the oracle replays per doc (kernels/vp8_codec.py; shifts used
    # for every negative-capable division per the cross-engine rule).
    # Container rotation (round 5 continuation): d%5==4 wraps the SAME
    # VP8 frame in a WebM/Matroska SimpleBlock instead of a RIFF WebP
    # chunk (kernels/webm_codec.py) — the decoded pixels are identical
    # by construction (a WebM V_VP8 block IS the raw VP8 bitstream a
    # WebP 'VP8 ' chunk carries), so the closed-form oracle needs no
    # per-container terms; the stage still gates the EBML walk end to
    # end through media_decode_stats' magic-type routing.
    def build_vp8s(batches):
        from docling_graph_spark.kernels.vp8_codec import (
            encode_vp8, encode_webp_lossy, rgb_to_yuv420)
        from docling_graph_spark.kernels.webm_codec import (
            encode_webm_vp8)

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = 9 + d % 8, 9 + d % 6
                g = 64 + (d * 11) % 128
                rgb = bytes([g, g, g]) * (w * h)
                urls.append(f"vp8:{d}")
                qi = (d * 7) % 48
                mode = "tm" if d % 2 else "dc"
                n_parts = 2 if d % 3 == 0 else 1
                # round-5 third continuation: rotate the REAL-stream
                # shapes through the stage with zero oracle drift —
                # default_probs tokens (no §13.4 updates, the form
                # every real encoder emits) reconstruct identically,
                # and the §15 loop filter is a mathematical no-op on
                # solid-gray content (every edge adjustment is 0), so
                # the closed-form pixel oracle is untouched while the
                # default-table and filter paths run under the gate.
                dp = d % 2 == 0
                fl = (d * 11) % 64 if d % 3 else 0
                if d % 5 == 4:
                    y, u, v = rgb_to_yuv420(w, h, rgb)
                    frame = encode_vp8(w, h, y, u, v, qi=qi,
                                       mode=mode, n_parts=n_parts,
                                       default_probs=dp,
                                       filter_level=fl)
                    blobs.append(encode_webm_vp8(w, h, [frame]))
                else:
                    blobs.append(encode_webp_lossy(
                        w, h, rgb, qi=qi, mode=mode,
                        n_parts=n_parts, default_probs=dp,
                        filter_level=fl, filter_type=d % 2))
            yield pd.DataFrame({"url": urls, "html": blobs})

    v8 = (
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS + 72)
                & (F.col("doc_id") < _PNG_DOCS + 96))
        .select("doc_id")
        .mapInPandas(build_vp8s, "url string, html binary")
    )
    v8dec = op_mm.media_decode_stats(v8)
    v8_agg = v8dec.agg(
        F.count("*").alias("n_images"),
        F.sum(F.col("decoded").cast("long")).alias("n_decoded"),
        F.sum(F.col("width").cast("long") * F.col("height"))
        .alias("sum_pixels"),
        F.sum("pixel_sum").alias("sum_pixel_values"),
        F.sum(F.col("width").cast("long")).alias("sum_width"),
        F.sum(F.col("height").cast("long")).alias("sum_height"),
    )
    v8_rows = _unpivot_single_row(v8_agg, "vp8_decode")

    # stage 'container_decode' (round 5 continuation): the JPEG
    # CONTAINER family — the same solid-gray baseline JPEG payload
    # (w = 8+d%9, h = 8+d%6, gray v = 128+(d*13)%100, decoded gray
    # p = 128 + 2*((x+1)//2) with x = v-128, identical closed form to
    # the jpeg_decode stage) wrapped in rotating containers on doc_ids
    # [208, 232): d%5==0 single-strip JPEG-in-TIFF with inline tables;
    # d%5==1 multi-strip (5 rows) with a hoisted JPEGTables tag 347
    # (the libtiff scanned-document layout); d%5==2 a Motion-JPEG AVI
    # with 1+d%3 identical frames (frame 0 surfaces, like GIF/APNG);
    # d%5==3 a 16x16-tiled JPEG-in-TIFF with shared tables (edge tiles
    # pad by replication — still solid, so the closed form holds);
    # d%5==4 (round 5 second continuation) a Motion-JPEG MP4 whose
    # sample table addresses 1+d%3 identical frames.
    # Every wrapper must decode to EXACTLY the same pixels as the bare
    # JPEG, which the oracle replays per doc — rotating the wrapper
    # set never touches the closed form (kernels/tiff_codec.py,
    # kernels/avi_codec.py, kernels/mp4_parse.py).
    def build_containers(batches):
        from docling_graph_spark.kernels.avi_codec import (
            encode_avi_mjpeg)
        from docling_graph_spark.kernels.jpeg_codec import (
            encode_jpeg_gray)
        from docling_graph_spark.kernels.mp4_parse import (
            make_mp4_mjpeg)
        from docling_graph_spark.kernels.tiff_codec import (
            encode_tiff_jpeg)

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = 8 + d % 9, 8 + d % 6
                v = 128 + (d * 13) % 100
                raw = bytes([v] * (w * h))
                urls.append(f"ctr:{d}")
                if d % 5 == 0:
                    blobs.append(encode_tiff_jpeg(w, h, 1, raw))
                elif d % 5 == 1:
                    blobs.append(encode_tiff_jpeg(
                        w, h, 1, raw, rows_per_strip=5,
                        shared_tables=True))
                elif d % 5 == 2:
                    jpg = encode_jpeg_gray(w, h, raw)
                    blobs.append(encode_avi_mjpeg(
                        w, h, [jpg] * (1 + d % 3)))
                elif d % 5 == 3:
                    blobs.append(encode_tiff_jpeg(
                        w, h, 1, raw, tile=(16, 16),
                        shared_tables=True))
                else:
                    jpg = encode_jpeg_gray(w, h, raw)
                    blobs.append(make_mp4_mjpeg(
                        w, h, [jpg] * (1 + d % 3)))
            yield pd.DataFrame({"url": urls, "html": blobs})

    ctr = (
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS + 144)
                & (F.col("doc_id") < _PNG_DOCS + 168))
        .select("doc_id")
        .mapInPandas(build_containers, "url string, html binary")
    )
    cdec = op_mm.media_decode_stats(ctr)
    ctr_agg = cdec.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("decoded").cast("long")).alias("n_decoded"),
        F.sum(F.col("width").cast("long") * F.col("height"))
        .alias("sum_pixels"),
        F.sum("pixel_sum").alias("sum_pixel_values"),
        F.sum(F.col("width").cast("long")).alias("sum_width"),
        F.sum(F.col("height").cast("long")).alias("sum_height"),
    )
    ctr_rows = _unpivot_single_row(ctr_agg, "container_decode")

    # stage 'text_tags' (round 5 continuation): text metadata riding
    # inside media payloads — doc_ids [232, 256) carry title =
    # 'title {d}' and artist = 'artist {d}' through SIX tag families
    # rotating by d%6 (ID3v2.3, ID3v2.4, ID3v1 trailer, PNG tEXt,
    # RIFF INFO, FLAC VORBIS_COMMENT); every family must surface both
    # fields (n_tags = 2 per row), so the aggregate lengths are pure
    # closed forms of the doc id the oracle replays
    # (kernels/media_tags.py, operators/multimodal.media_text_tags;
    # GIF comments and PDF /Info are pytest-pinned — single-field
    # families would complicate the closed form for no extra signal).
    def build_tagged(batches):
        from docling_graph_spark.kernels.flac_codec import encode_flac
        from docling_graph_spark.kernels.media_tags import (
            add_png_text, add_riff_info, make_id3v1, make_id3v2)
        from docling_graph_spark.kernels.png_codec import (
            encode_png_gray)
        from docling_graph_spark.kernels.wav_codec import (
            encode_wav_pcm16)

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                tags = {"title": f"title {d}", "artist": f"artist {d}"}
                fam = d % 6
                audio = b"\xff\xfb\x90\x00" + bytes(16)
                if fam == 0:
                    blob = make_id3v2(tags, version=3, audio=audio)
                elif fam == 1:
                    blob = make_id3v2(tags, version=4, audio=audio)
                elif fam == 2:
                    blob = make_id3v1(tags, audio=audio)
                elif fam == 3:
                    blob = add_png_text(
                        encode_png_gray(3, 3, bytes(9)), tags)
                elif fam == 4:
                    blob = add_riff_info(
                        encode_wav_pcm16(8000, 1, [0, 1]), tags)
                else:
                    blob = encode_flac([[0] * 16], blocksize=16,
                                       comments=tags)
                urls.append(f"tag:{d}")
                blobs.append(blob)
            yield pd.DataFrame({"url": urls, "html": blobs})

    tagged = (
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS + 168)
                & (F.col("doc_id") < _PNG_DOCS + 192))
        .select("doc_id")
        .mapInPandas(build_tagged, "url string, html binary")
    )
    tdec = op_mm.media_text_tags(tagged)
    tag_agg = tdec.agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("n_tags") > 0).cast("long")).alias("n_tagged"),
        F.sum("n_tags").alias("sum_tags"),
        F.sum(F.length("title")).alias("sum_title_len"),
        F.sum(F.length("artist")).alias("sum_artist_len"),
    )
    tag_rows = _unpivot_single_row(tag_agg, "text_tags")

    # stage 'doc_extract' (round 5 continuation): the office/legacy
    # DOCUMENT family through the real extraction UDF — doc_ids
    # [256, 280) carry the single paragraph 'Body text {d} end.' in a
    # container rotating by d%4 (DOCX zip+xml, ODT zip+xml, RTF token
    # stream, and — round 5 second continuation — a WebM S_TEXT/UTF8
    # subtitle track: video rows whose corpus text is the cue
    # transcript); each must extract to EXACTLY that string
    # (byte-identity through four different parsers), so row counts,
    # per-kind counts and text lengths are closed forms of the id
    # digits (kernels/ooxml_parse.py, kernels/rtf_parse.py,
    # kernels/webm_codec.py; EPUB flows the boilerplate model and
    # stays pytest-pinned instead).
    def build_docfiles(batches):
        from docling_graph_spark.kernels.ooxml_parse import (
            make_docx, make_odt)
        from docling_graph_spark.kernels.rtf_parse import make_rtf
        from docling_graph_spark.kernels.webm_codec import (
            encode_webm_subtitles)

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                body = f"Body text {d} end."
                fam = d % 4
                if fam == 0:
                    blob = make_docx([body])
                elif fam == 1:
                    blob = make_odt([body])
                elif fam == 2:
                    blob = make_rtf([body])
                else:
                    blob = encode_webm_subtitles([body])
                urls.append(f"doc:{d}")
                blobs.append(blob)
            yield pd.DataFrame({"url": urls, "html": blobs})

    docf = _extracted(
        _read(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _PNG_DOCS + 192)
                & (F.col("doc_id") < _PNG_DOCS + 216))
        .select("doc_id")
        .mapInPandas(build_docfiles, "url string, html binary")
        .select("url", F.lit(None).cast("timestamp").alias("warc_ts"),
                "html", F.lit(None).cast("string").alias("lang"))
    )
    doc_agg = docf.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("error").isNull().cast("long")).alias("n_ok"),
        F.sum((F.col("kind") == "docx").cast("long")).alias("n_docx"),
        F.sum((F.col("kind") == "odt").cast("long")).alias("n_odt"),
        F.sum((F.col("kind") == "rtf").cast("long")).alias("n_rtf"),
        F.sum((F.col("kind") == "subtitle").cast("long"))
        .alias("n_subtitle"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )
    doc_rows = _unpivot_single_row(doc_agg, "doc_extract")

    lldec = op_mm.media_decode_stats(ll)
    ll_agg = lldec.agg(
        F.count("*").alias("n_images"),
        F.sum(F.col("decoded").cast("long")).alias("n_decoded"),
        F.sum(F.col("width").cast("long") * F.col("height"))
        .alias("sum_pixels"),
        F.sum("pixel_sum").alias("sum_pixel_values"),
        F.sum(F.col("width").cast("long")).alias("sum_width"),
        F.sum(F.col("height").cast("long")).alias("sum_height"),
    )
    ll_rows = _unpivot_single_row(ll_agg, "lossless_decode")

    # stage 'image_phash' (round 4): perceptual image dedup over REAL
    # decoded pixels — 20 32x32 grayscale BMPs synthesized as DENSE
    # low-band cosine fields from the SAME fixed-point DCT table the
    # hash uses: every non-DC coefficient (u,v) of the 8x8 band gets a
    # signed magnitude mag = 60//(1+u+v) + (h*7+u*3+v)%5 (h = d//2),
    # sign from ((h+3)*(u*8+v+7)*31//8)%2, pixel = clamp(128 +
    # (sum c*T[u][x]*T[v][y] >> 22)).  A dense spectrum keeps every
    # hash bit decisively away from the median (pure noise or sparse
    # gradients leave coefficients median-tied and the bits fragile).
    # Odd d is a PLANTED NEAR-DUP of pattern d-1: a mild contrast drop
    # mag -= mag//5 — planted pairs land at Hamming 2-6, unrelated
    # images at >= 20.  operators/multimodal.image_hashes decodes
    # through the real BMP codec and computes the exact-integer 63-bit
    # DCT pHash (kernels/phash.py); image_near_dup's 9-band x 7-bit
    # LSH join (complete for Hamming <= 8 by pigeonhole) must find
    # exactly the pairs brute force finds.  The oracle recomputes every
    # hash closed-form in SQL — same DCT table embedded — and replays
    # per-image hashes, the found-pair count and the distance sum.
    # (All shared integer ops keep operands non-negative or use >>,
    # because DuckDB's // and % truncate toward zero while Python
    # floors.)
    # Round 5: doc_ids [20, 28) are CROSS-FORMAT TRANSCODES — the same
    # pixels as image d-20 re-encoded as lossless VP8L WebP (the
    # transcode-dedup case the operator exists for): hash(d) equals
    # hash(d-20) exactly, so image_near_dup must pair each transcode
    # with its BMP original at Hamming 0 AND with the original's
    # planted near-dup partner at the original pair distance.
    def build_phash_bmps(batches):
        from docling_graph_spark.kernels.bmp_codec import encode_bmp_rgb
        from docling_graph_spark.kernels.phash import DCT_TABLE as T
        from docling_graph_spark.kernels.webp_codec import (
            encode_webp_lossless)

        for pdf in batches:
            urls, blobs = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                e = d - 20 if d >= 20 else d
                h = (e - e % 2) // 2
                comps = []
                for u in range(8):
                    for v in range(8):
                        if u == 0 and v == 0:
                            continue
                        mag = 60 // (1 + u + v) + (h * 7 + u * 3 + v) % 5
                        if e % 2:
                            mag -= mag // 5
                        sign = (1 if ((h + 3) * (u * 8 + v + 7) * 31
                                      // 8) % 2 else -1)
                        comps.append((u, v, sign * mag))
                px = bytearray()
                rgba = bytearray()
                for y in range(32):
                    for x in range(32):
                        s = sum(c * T[u][x] * T[v][y]
                                for u, v, c in comps)
                        val = max(0, min(255, 128 + (s >> 22)))
                        px += bytes((val, val, val))
                        rgba += bytes((val, val, val, 255))
                urls.append(f"ph:{d:02d}")
                blobs.append(encode_webp_lossless(32, 32, bytes(rgba))
                             if d >= 20
                             else encode_bmp_rgb(32, 32, bytes(px)))
            yield pd.DataFrame({"url": urls, "html": blobs})

    ph_pages = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 28)
        .select("doc_id")
        .mapInPandas(build_phash_bmps, "url string, html binary")
    )
    ph = op_mm.image_hashes(ph_pages)
    ph_agg = ph.agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum(F.col("decoded").cast("long")).alias("n_hashed"),
    )
    ph_hash_rows = ph.select(
        F.lit("image_phash").alias("stage"),
        F.col("url").alias("metric"),
        F.col("phash").cast("string").alias("value"))
    ph_pairs = op_mm.image_near_dup(ph_pages, max_hamming=8)
    ph_pair_agg = ph_pairs.agg(
        F.count("*").cast("long").alias("pairs_within_8"),
        F.coalesce(F.sum("hamming"), F.lit(0)).cast("long")
        .alias("sum_dist_within_8"),
    )
    ph_rows = (_unpivot_single_row(ph_agg, "image_phash")
               .unionByName(ph_hash_rows)
               .unionByName(_unpivot_single_row(ph_pair_agg,
                                                "image_phash")))
    return (media_rows.unionByName(png_rows).unionByName(probe_rows)
            .unionByName(wav_rows).unionByName(jpg_rows)
            .unionByName(ll_rows).unionByName(v8_rows)
            .unionByName(ctr_rows)
            .unionByName(tag_rows)
            .unionByName(doc_rows)
            .unionByName(ph_rows)
            .orderBy("stage", "metric"))


def _sql_unpivot(cte: str, stage: str, metrics: list) -> str:
    return "\n  UNION ALL\n".join(
        f"  SELECT '{stage}' AS stage, '{m}' AS metric, "
        f"CAST({m} AS VARCHAR) AS value FROM {cte}"
        for m in metrics
    )


def _phash_oracle_ctes() -> str:
    """CTE chain replaying kernels/phash.phash63 closed-form for the
    image_phash stage's 20 BMP fixtures: byte -> integer luma ->
    (identity 32x32 downsample) -> exact-int two-stage DCT against the
    embedded fixed-point cosine table -> rank-32 median -> 63-bit hash
    -> brute-force pair Hamming distances.  The constants come from the
    SAME DCT_TABLE the kernel uses, so both engines share them by
    construction."""
    from .kernels.phash import DCT_TABLE

    tab = ",".join(f"({u},{y},{DCT_TABLE[u][y]})"
                   for u in range(8) for y in range(32))


    return f""",
pimg AS (
  -- d >= 20: lossless VP8L transcode of image d-20 (same pixels, so
  -- the closed form runs on the base pattern id e)
  SELECT DISTINCT doc_id AS d,
         CASE WHEN doc_id >= 20 THEN doc_id - 20 ELSE doc_id END AS e
  FROM documents WHERE doc_id < 28),
ptab(u, y, v) AS (VALUES {tab}),
pcmp AS MATERIALIZED (
  SELECT i.d, uu.u AS cu, vv.u AS cv,
         (CASE WHEN ((((i.e - i.e % 2) // 2 + 3)
                      * (uu.u * 8 + vv.u + 7) * 31) // 8) % 2 = 1
               THEN 1 ELSE -1 END)
         * (60 // (1 + uu.u + vv.u)
            + (((i.e - i.e % 2) // 2) * 7 + uu.u * 3 + vv.u) % 5
            - CASE WHEN i.e % 2 = 1
                   THEN (60 // (1 + uu.u + vv.u)
                         + (((i.e - i.e % 2) // 2) * 7
                            + uu.u * 3 + vv.u) % 5) // 5
                   ELSE 0 END) AS c
  FROM pimg i, (SELECT DISTINCT u FROM ptab) uu,
       (SELECT DISTINCT u FROM ptab) vv
  WHERE NOT (uu.u = 0 AND vv.u = 0)),
pluma AS MATERIALIZED (
  SELECT m.d, pp.y, pp.x,
         greatest(0, least(255, 128 + (sum(m.c * tx.v * ty.v) >> 22)))
           AS g
  FROM pcmp m
  JOIN (SELECT a.y AS x, b.y AS y FROM (SELECT DISTINCT y FROM ptab) a,
        (SELECT DISTINCT y FROM ptab) b) pp ON TRUE
  JOIN ptab tx ON tx.u = m.cu AND tx.y = pp.x
  JOIN ptab ty ON ty.u = m.cv AND ty.y = pp.y
  GROUP BY m.d, pp.y, pp.x),
prow AS MATERIALIZED (
  SELECT l.d, t.u, l.x, sum(t.v * l.g) AS r
  FROM pluma l JOIN ptab t ON t.y = l.y GROUP BY 1, 2, 3),
pcoef AS MATERIALIZED (
  SELECT r.d, r.u, t.u AS vv, sum(t.v * r.r) AS c
  FROM prow r JOIN ptab t ON t.y = r.x GROUP BY 1, 2, 3),
pmed AS (
  SELECT d, c AS med FROM (
    SELECT d, c, row_number() OVER (PARTITION BY d ORDER BY c) AS rn
    FROM pcoef WHERE NOT (u = 0 AND vv = 0)) WHERE rn = 32),
phsh AS MATERIALIZED (
  SELECT c.d, CAST(sum(CASE WHEN c.c > m.med
      THEN (CAST(1 AS BIGINT) << (63 - c.u * 8 - c.vv))
      ELSE 0 END) AS BIGINT) AS hash
  FROM pcoef c JOIN pmed m ON m.d = c.d
  WHERE NOT (c.u = 0 AND c.vv = 0) GROUP BY c.d),
ppair AS (
  SELECT a.d AS da, b.d AS db, bit_count(xor(a.hash, b.hash)) AS dist
  FROM phsh a JOIN phsh b ON a.d < b.d)"""


def _vp8_oracle_ctes() -> str:
    """CTE chain replaying the vp8_decode stage closed-form: RGBToY,
    DC/TM prediction off the 127/129 borders, the exact 8x forward DC,
    Y2 quantization against the kernel's DC quant lookup (embedded
    from the SAME table, by-construction sync), inverse-WHT (W+3)>>3,
    DC-only IDCT (DC+4)>>3, the chroma -1 residual under TM, and
    libwebp's fixed-point YUV->RGB.  Every negative-capable division
    is an arithmetic shift (DuckDB // truncates toward zero, >> floors
    like Python); // appears only on non-negative operands."""
    from .kernels.vp8_codec import _DC_Q

    dcq = ", ".join(f"({i}, {_DC_Q[i]})" for i in range(64))
    return f""",
v8fx AS (
  SELECT doc_id AS d, 9 + doc_id % 8 AS w, 9 + doc_id % 6 AS h,
         64 + (doc_id * 11) % 128 AS g,
         (doc_id * 7) % 48 AS qi, doc_id % 2 AS tm
  FROM documents
  WHERE doc_id >= {_PNG_DOCS + 72} AND doc_id < {_PNG_DOCS + 96}
),
v8dcq(i, q) AS (VALUES {dcq}),
v8a AS (
  SELECT v8fx.*, q AS dcq,
         (56318 * g + 1048576 + 32768) >> 16 AS y0
  FROM v8fx JOIN v8dcq ON v8dcq.i = v8fx.qi
),
v8b AS (
  SELECT *, 128 + tm AS pred, y0 - (128 + tm) AS resid,
         2 * dcq AS qy2, LEAST(132, dcq) AS quv
  FROM v8a
),
v8c AS (
  SELECT *,
    CASE WHEN resid >= 0
         THEN  (128 * resid + qy2) // (2 * qy2)
         ELSE -((128 * (-resid) + qy2) // (2 * qy2)) END AS n2,
    CASE WHEN tm = 0 THEN 0
         ELSE -((16 + quv) // (2 * quv)) END AS nuv
  FROM v8b
),
v8d AS (
  SELECT *,
    LEAST(255, GREATEST(0,
      pred + ((((n2 * qy2 + 3) >> 3) + 4) >> 3))) AS ry,
    LEAST(255, GREATEST(0, pred + ((nuv * quv + 4) >> 3))) AS ru
  FROM v8c
),
v8rgb AS (
  SELECT *,
    LEAST(255, GREATEST(0, (((19077 * ry) >> 8)
      + ((26149 * ru) >> 8) - 14234) >> 6)) AS r,
    LEAST(255, GREATEST(0, (((19077 * ry) >> 8) - ((6419 * ru) >> 8)
      - ((13320 * ru) >> 8) + 8708) >> 6)) AS gg,
    LEAST(255, GREATEST(0, (((19077 * ry) >> 8)
      + ((33050 * ru) >> 8) - 17685) >> 6)) AS b
  FROM v8d
),
v8sum AS (
  SELECT CAST(count(*) AS BIGINT) AS n_images,
         CAST(count(*) AS BIGINT) AS n_decoded,
         CAST(sum(w * h) AS BIGINT) AS sum_pixels,
         CAST(sum(w * h * (r + gg + b)) AS BIGINT)
           AS sum_pixel_values,
         CAST(sum(w) AS BIGINT) AS sum_width,
         CAST(sum(h) AS BIGINT) AS sum_height
  FROM v8rgb
)"""


_PHASH_ORACLE_ROWS = """
  UNION ALL
  SELECT 'image_phash', 'n_images',
         CAST(count(*) AS VARCHAR) FROM phsh
  UNION ALL
  SELECT 'image_phash', 'n_hashed',
         CAST(count(*) AS VARCHAR) FROM phsh
  UNION ALL
  SELECT 'image_phash', 'ph:' || lpad(CAST(d AS VARCHAR), 2, '0'),
         CAST(hash AS VARCHAR) FROM phsh
  UNION ALL
  SELECT 'image_phash', 'pairs_within_8',
         CAST(coalesce(sum(CASE WHEN dist <= 8 THEN 1 ELSE 0 END), 0)
              AS VARCHAR) FROM ppair
  UNION ALL
  SELECT 'image_phash', 'sum_dist_within_8',
         CAST(coalesce(sum(CASE WHEN dist <= 8 THEN dist ELSE 0 END), 0)
              AS VARCHAR) FROM ppair"""


SQL_MEDIA_PIPELINE_STATS = f"""
WITH m AS (
  SELECT CASE WHEN doc_id % 50 = 49 THEN 'application/pdf'
              ELSE 'text/html' END AS media_type,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({_PAYLOAD_BYTES}) AS BIGINT) AS total_bytes,
         CAST(sum(least({_PAYLOAD_BYTES}, 64)) AS BIGINT) AS thumb_bytes,
         CAST(count(*) AS BIGINT) AS total_frames
  FROM documents GROUP BY 1
),
png AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h
  FROM documents WHERE doc_id < {_PNG_DOCS}
),
pxv AS (
  SELECT sum((png.doc_id * 7 + k) % 256) AS s
  FROM png, LATERAL (SELECT unnest(generate_series(0, png.w * png.h - 1))
                     AS k)
),
probe AS (
  SELECT CASE doc_id % 6 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/gif'
              WHEN 2 THEN 'image/bmp' WHEN 3 THEN 'image/webp'
              WHEN 4 THEN 'video/mp4' ELSE 'video/webm' END AS media_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(20 + doc_id % 17) AS BIGINT) AS w,
         CAST(sum(10 + doc_id % 13) AS BIGINT) AS h
  FROM documents WHERE doc_id < {_PNG_DOCS} GROUP BY 1
),
wav AS (
  SELECT doc_id AS d, 1 + doc_id % 2 AS c,
         8000 + 1000 * (doc_id % 3) AS r, 40 + doc_id % 25 AS f
  FROM documents WHERE doc_id < {_PNG_DOCS} AND doc_id % 7 NOT IN (3, 5)
),
wabs AS (
  SELECT CAST(sum(abs(((wav.d * 31 + k * 17) % 4001) - 2000)) AS BIGINT)
           AS s,
         CAST(max(abs(((wav.d * 31 + k * 17) % 4001) - 2000)) AS BIGINT)
           AS p
  FROM wav, LATERAL (SELECT unnest(generate_series(0, wav.f * wav.c - 1))
                     AS k)
),
fl AS (
  SELECT doc_id AS d, 1 + doc_id % 2 AS c, 50 + doc_id % 20 AS f
  FROM documents
  WHERE doc_id >= {_PNG_DOCS} AND doc_id < {_PNG_DOCS + 24}
),
flabs AS (
  SELECT CAST(sum(abs(((fl.d * 29 + k * 13) % 3001) - 1500)) AS BIGINT)
           AS s,
         CAST(max(abs(((fl.d * 29 + k * 13) % 3001) - 1500)) AS BIGINT)
           AS p
  FROM fl, LATERAL (SELECT unnest(generate_series(0, fl.f * fl.c - 1))
                    AS k)
),
llb AS (
  SELECT doc_id, 5 + doc_id % 6 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < {_PNG_DOCS} AND doc_id % 2 = 0
),
llbsum AS (
  SELECT CAST(sum((llb.doc_id * 11 + k) % 256) AS BIGINT) AS s
  FROM llb, LATERAL (SELECT unnest(generate_series(0, llb.w*llb.h*3 - 1))
                     AS k)
),
llg AS (
  SELECT doc_id, 6 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents WHERE doc_id < {_PNG_DOCS} AND doc_id % 2 = 1
),
llgsum AS (
  -- palette channel-sum of color i: (i*37)%256 + (i*59)%256 + (i*83)%256
  SELECT CAST(sum(((llg.doc_id + k) % 8 * 37) % 256
                  + ((llg.doc_id + k) % 8 * 59) % 256
                  + ((llg.doc_id + k) % 8 * 83) % 256) AS BIGINT) AS s
  FROM llg, LATERAL (SELECT unnest(generate_series(0, llg.w*llg.h - 1))
                     AS k)
),
llw AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents
  WHERE doc_id >= {_PNG_DOCS} AND doc_id < {_PNG_DOCS + 24}
),
llwsum AS (
  SELECT CAST(sum((llw.doc_id * 7 + x * 3 + y) % 256
                  + (llw.doc_id * 11 + x + y * 5) % 256
                  + (llw.doc_id * 13 + x * 2 + y * 3) % 256)
              AS BIGINT) AS s
  FROM llw,
       LATERAL (SELECT unnest(generate_series(0, llw.w - 1)) AS x),
       LATERAL (SELECT unnest(generate_series(0, llw.h - 1)) AS y)
),
llt AS (
  -- round 5: TIFF fixtures (variants rotate storage only; decoded
  -- bytes are the same closed form for all six)
  SELECT doc_id, 17 + doc_id % 9 AS w, 14 + doc_id % 7 AS h
  FROM documents
  WHERE doc_id >= {_PNG_DOCS + 24} AND doc_id < {_PNG_DOCS + 48}
),
lltsum AS (
  SELECT CAST(sum((llt.doc_id * 17 + k * 5) % 256) AS BIGINT) AS s
  FROM llt, LATERAL (SELECT unnest(generate_series(0, llt.w*llt.h*3 - 1))
                     AS k)
),
llsum AS (
  SELECT CAST((SELECT count(*) FROM llb) + (SELECT count(*) FROM llg)
              + (SELECT count(*) FROM llw)
              + (SELECT count(*) FROM llt) AS BIGINT) AS n_images,
         CAST((SELECT count(*) FROM llb) + (SELECT count(*) FROM llg)
              + (SELECT count(*) FROM llw)
              + (SELECT count(*) FROM llt) AS BIGINT) AS n_decoded,
         CAST((SELECT sum(w*h) FROM llb) + (SELECT sum(w*h) FROM llg)
              + (SELECT sum(w*h) FROM llw)
              + (SELECT sum(w*h) FROM llt) AS BIGINT) AS sum_pixels,
         CAST((SELECT s FROM llbsum) + (SELECT s FROM llgsum)
              + (SELECT s FROM llwsum)
              + (SELECT s FROM lltsum) AS BIGINT) AS sum_pixel_values,
         CAST((SELECT sum(w) FROM llb) + (SELECT sum(w) FROM llg)
              + (SELECT sum(w) FROM llw)
              + (SELECT sum(w) FROM llt) AS BIGINT) AS sum_width,
         CAST((SELECT sum(h) FROM llb) + (SELECT sum(h) FROM llg)
              + (SELECT sum(h) FROM llw)
              + (SELECT sum(h) FROM llt) AS BIGINT) AS sum_height
),
jpg AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 6 AS h,
         -- decoded solid gray, closed form: x = (d*13)%100,
         -- q = round_half_up(64x*8 / (8*64*16)) = (x+1)//2, p = 128+2q
         128 + 2 * (((doc_id * 13) % 100 + 1) // 2) AS p
  FROM documents WHERE doc_id < {_PNG_DOCS}
),
jsum AS (
  SELECT CAST(count(*) AS BIGINT) AS n_jpegs,
         CAST(count(*) AS BIGINT) AS n_decoded,
         CAST(sum(w * h) AS BIGINT) AS sum_pixels,
         CAST(sum(p * w * h) AS BIGINT) AS sum_pixel_values,
         CAST(sum(w) AS BIGINT) AS sum_width,
         CAST(sum(h) AS BIGINT) AS sum_height,
         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_progressive
  FROM jpg
),
og AS (
  -- round 5: Ogg Vorbis silence fixtures — every field closed-form
  SELECT doc_id AS d, 1 + doc_id % 2 AS c,
         8000 + 1000 * (doc_id % 3) AS r, 30 + doc_id % 50 AS f
  FROM documents
  WHERE doc_id >= {_PNG_DOCS + 96} AND doc_id < {_PNG_DOCS + 120}
),
g7 AS (
  -- round 5 continuation: G.711 fixtures — sample k is the expansion
  -- of code point (d*31+k*17)%256; mu-law for d < {_PNG_DOCS + 132},
  -- A-law above
  SELECT doc_id AS d, 1 + doc_id % 2 AS c, 35 + doc_id % 21 AS f,
         CASE WHEN doc_id < {_PNG_DOCS + 132} THEN 1 ELSE 0 END AS mu
  FROM documents
  WHERE doc_id >= {_PNG_DOCS + 120} AND doc_id < {_PNG_DOCS + 144}
),
g7s AS (
  -- the formulaic segment expansion, replayed per sample: mu-law
  -- t = ((m*8+132)<<e)-132 on the complemented byte; A-law
  -- t = (m*16+8) in segment 0 else ((m*16+264)<<(seg-1)) on the
  -- 0x55-inverted byte (kernels/wav_codec.ulaw/alaw_decode_byte)
  SELECT g7.d,
         CASE WHEN g7.mu = 1 THEN
           ((((255 - cd) & 15) * 8 + 132)
              << (((255 - cd) >> 4) & 7)) - 132
         ELSE
           CASE WHEN ((xor(cd, 85) >> 4) & 7) = 0
                THEN (xor(cd, 85) & 15) * 16 + 8
                ELSE ((xor(cd, 85) & 15) * 16 + 264)
                       << (((xor(cd, 85) >> 4) & 7) - 1) END
         END AS mag
  FROM g7, LATERAL (
    SELECT (g7.d * 31 + unnest(generate_series(0, g7.f * g7.c - 1))
            * 17) % 256 AS cd)
),
g7abs AS (
  SELECT CAST(sum(mag) AS BIGINT) AS s, CAST(max(mag) AS BIGINT) AS p
  FROM g7s
),
wsum AS (
  SELECT CAST((SELECT count(*) FROM documents WHERE doc_id < {_PNG_DOCS})
              + (SELECT count(*) FROM fl)
              + (SELECT count(*) FROM og)
              + (SELECT count(*) FROM g7) AS BIGINT) AS n_rows,
         CAST((SELECT count(*) FROM wav) + (SELECT count(*) FROM fl)
              + (SELECT count(*) FROM og) + (SELECT count(*) FROM g7)
              AS BIGINT) AS n_decoded,
         CAST((SELECT count(*) FROM documents
               WHERE doc_id < {_PNG_DOCS} AND doc_id % 7 = 3) AS BIGINT)
           AS n_malformed,
         CAST((SELECT count(*) FROM documents
               WHERE doc_id < {_PNG_DOCS} AND doc_id % 7 = 5) AS BIGINT)
           AS n_unsupported,
         CAST((SELECT sum(c) FROM wav) + (SELECT sum(c) FROM fl)
              + (SELECT sum(c) FROM og) + (SELECT sum(c) FROM g7)
              AS BIGINT) AS sum_channels,
         CAST((SELECT sum(r) FROM wav) + 8000 * (SELECT count(*) FROM fl)
              + (SELECT sum(r) FROM og)
              + 8000 * (SELECT count(*) FROM g7)
              AS BIGINT) AS sum_rate,
         CAST((SELECT sum(f) FROM wav) + (SELECT sum(f) FROM fl)
              + (SELECT sum(f) FROM og) + (SELECT sum(f) FROM g7)
              AS BIGINT) AS sum_frames,
         (SELECT s FROM wabs) + (SELECT s FROM flabs)
           + (SELECT s FROM g7abs) AS sum_abs,
         greatest((SELECT p FROM wabs), (SELECT p FROM flabs),
                  (SELECT p FROM g7abs))
           AS max_peak
),
ctr AS (
  -- round 5 continuation: container_decode — same solid-gray JPEG
  -- closed form as jpg, wrapped in TIFF/AVI containers (wrapping is
  -- pixel-neutral by construction)
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 6 AS h,
         128 + 2 * (((doc_id * 13) % 100 + 1) // 2) AS p
  FROM documents
  WHERE doc_id >= {_PNG_DOCS + 144} AND doc_id < {_PNG_DOCS + 168}
),
csum AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_decoded,
         CAST(sum(w * h) AS BIGINT) AS sum_pixels,
         CAST(sum(p * w * h) AS BIGINT) AS sum_pixel_values,
         CAST(sum(w) AS BIGINT) AS sum_width,
         CAST(sum(h) AS BIGINT) AS sum_height
  FROM ctr
),
dxsum AS (
  -- doc_extract: 'Body text {{d}} end.' extracts byte-identically
  -- from DOCX/ODT/RTF and a WebM S_TEXT/UTF8 subtitle track, so
  -- lengths are closed forms of the id digits
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_ok,
         CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_docx,
         CAST(sum(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_odt,
         CAST(sum(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rtf,
         CAST(sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_subtitle,
         CAST(sum(15 + length(CAST(doc_id AS VARCHAR))) AS BIGINT)
           AS sum_text_len
  FROM documents
  WHERE doc_id >= {_PNG_DOCS + 192} AND doc_id < {_PNG_DOCS + 216}
),
tgsum AS (
  -- text_tags: every family surfaces title 'title {{d}}' and artist
  -- 'artist {{d}}', so lengths are closed forms of the id digits
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_tagged,
         CAST(2 * count(*) AS BIGINT) AS sum_tags,
         CAST(sum(6 + length(CAST(doc_id AS VARCHAR))) AS BIGINT)
           AS sum_title_len,
         CAST(sum(7 + length(CAST(doc_id AS VARCHAR))) AS BIGINT)
           AS sum_artist_len
  FROM documents
  WHERE doc_id >= {_PNG_DOCS + 168} AND doc_id < {_PNG_DOCS + 192}
){_vp8_oracle_ctes()}{_phash_oracle_ctes()}
SELECT stage, metric, value FROM (
  SELECT 'media' AS stage, media_type || ':n_docs' AS metric,
         CAST(n_docs AS VARCHAR) AS value FROM m
  UNION ALL
  SELECT 'media', media_type || ':total_bytes', CAST(total_bytes AS VARCHAR)
  FROM m
  UNION ALL
  SELECT 'media', media_type || ':thumb_bytes', CAST(thumb_bytes AS VARCHAR)
  FROM m
  UNION ALL
  SELECT 'media', media_type || ':total_frames',
         CAST(total_frames AS VARCHAR) FROM m
  UNION ALL
  SELECT 'png_decode', 'n_pngs',
         CAST((SELECT count(*) FROM png) AS VARCHAR)
  UNION ALL
  SELECT 'png_decode', 'n_decoded',
         CAST((SELECT count(*) FROM png) AS VARCHAR)
  UNION ALL
  SELECT 'png_decode', 'sum_pixels',
         CAST((SELECT sum(w * h) FROM png) AS VARCHAR)
  UNION ALL
  SELECT 'png_decode', 'sum_pixel_values',
         CAST((SELECT s FROM pxv) AS VARCHAR)
  UNION ALL
  SELECT 'png_decode', 'sum_width',
         CAST((SELECT sum(w) FROM png) AS VARCHAR)
  UNION ALL
  SELECT 'png_decode', 'sum_height',
         CAST((SELECT sum(h) FROM png) AS VARCHAR)
  UNION ALL
  SELECT 'header_probe', media_type || ':n', CAST(n AS VARCHAR) FROM probe
  UNION ALL
  SELECT 'header_probe', media_type || ':w', CAST(w AS VARCHAR) FROM probe
  UNION ALL
  SELECT 'header_probe', media_type || ':h', CAST(h AS VARCHAR) FROM probe
  UNION ALL
{_sql_unpivot('wsum', 'wav_decode',
              ['n_rows', 'n_decoded', 'n_malformed', 'n_unsupported',
               'sum_channels', 'sum_rate', 'sum_frames', 'sum_abs',
               'max_peak'])}
  UNION ALL
{_sql_unpivot('jsum', 'jpeg_decode',
              ['n_jpegs', 'n_decoded', 'sum_pixels', 'sum_pixel_values',
               'sum_width', 'sum_height', 'n_progressive'])}
  UNION ALL
{_sql_unpivot('llsum', 'lossless_decode',
              ['n_images', 'n_decoded', 'sum_pixels', 'sum_pixel_values',
               'sum_width', 'sum_height'])}
  UNION ALL
{_sql_unpivot('v8sum', 'vp8_decode',
              ['n_images', 'n_decoded', 'sum_pixels', 'sum_pixel_values',
               'sum_width', 'sum_height'])}
  UNION ALL
{_sql_unpivot('csum', 'container_decode',
              ['n_rows', 'n_decoded', 'sum_pixels', 'sum_pixel_values',
               'sum_width', 'sum_height'])}
  UNION ALL
{_sql_unpivot('tgsum', 'text_tags',
              ['n_rows', 'n_tagged', 'sum_tags', 'sum_title_len',
               'sum_artist_len'])}
  UNION ALL
{_sql_unpivot('dxsum', 'doc_extract',
              ['n_rows', 'n_ok', 'n_docx', 'n_odt', 'n_rtf',
               'n_subtitle', 'sum_text_len'])}{_PHASH_ORACLE_ROWS}
) ORDER BY stage, metric
"""


def q_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality scoring, deterministic analogue:
    corpus-trained char-trigram model, integer-scaled mean conditional
    probability per doc (operators/textprep.trigram_fluency_report)."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    return textprep.trigram_fluency_report(docs)


SQL_LM_FLUENCY = """
WITH nrm AS (
  SELECT doc_id,
         ' ' || regexp_replace(lower(text), '[^a-z]+', ' ', 'g') || ' '
           AS n
  FROM documents),
inst AS (
  SELECT doc_id, substr(n, CAST(i AS BIGINT), 3) AS gram
  FROM nrm, LATERAL (SELECT unnest(generate_series(1, length(n) - 2)) AS i)
  WHERE length(n) >= 3),
c3 AS (SELECT gram, count(*) AS c3 FROM inst GROUP BY gram),
c2 AS (SELECT substr(gram, 1, 2) AS ctx, sum(c3) AS c2 FROM c3 GROUP BY 1),
model AS (
  SELECT gram, (1000000 * c3.c3) // c2.c2 AS p_scaled
  FROM c3 JOIN c2 ON substr(c3.gram, 1, 2) = c2.ctx),
scores AS (
  SELECT doc_id, sum(p_scaled) // count(*) AS score
  FROM inst JOIN model USING (gram) GROUP BY doc_id),
j AS (
  SELECT d.doc_id, s.score
  FROM documents d LEFT JOIN scores s USING (doc_id))
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unscored,
       CAST(sum(coalesce(score, 0)) AS BIGINT) AS sum_score,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score,
       CAST(sum(CASE WHEN score < 50000 THEN 1 ELSE 0 END) AS BIGINT)
         AS low_fluency_docs
FROM j
"""


def q_ccnet_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity binning (Wenzek et al. 2020
    §4.3): tercile cutoff VALUES from the trigram-LM score histogram,
    value-comparison binning (operators/textprep.ccnet_bin_stats) — the
    quality-tier split a CC-derived training corpus ships with."""
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    return textprep.ccnet_bin_stats(docs).orderBy("bin")


SQL_CCNET_BINS = """
WITH nrm AS (
  SELECT doc_id,
         ' ' || regexp_replace(lower(text), '[^a-z]+', ' ', 'g') || ' '
           AS n
  FROM documents),
inst AS (
  SELECT doc_id, substr(n, CAST(i AS BIGINT), 3) AS gram
  FROM nrm, LATERAL (SELECT unnest(generate_series(1, length(n) - 2)) AS i)
  WHERE length(n) >= 3),
c3 AS (SELECT gram, count(*) AS c3 FROM inst GROUP BY gram),
c2 AS (SELECT substr(gram, 1, 2) AS ctx, sum(c3) AS c2 FROM c3 GROUP BY 1),
model AS (
  SELECT gram, (1000000 * c3.c3) // c2.c2 AS p_scaled
  FROM c3 JOIN c2 ON substr(c3.gram, 1, 2) = c2.ctx),
scores AS (
  SELECT doc_id, sum(p_scaled) // count(*) AS score
  FROM inst JOIN model USING (gram) GROUP BY doc_id),
ranked AS (
  SELECT score, row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
         count(*) OVER () AS n
  FROM scores),
cuts AS (
  SELECT min(CASE WHEN rn <= (n + 2) // 3 THEN score END) AS cut_head,
         min(CASE WHEN rn <= (2 * n + 2) // 3 THEN score END) AS cut_tail
  FROM ranked),
j AS (
  SELECT d.doc_id, s.score
  FROM documents d LEFT JOIN scores s USING (doc_id)),
binned AS (
  SELECT CASE WHEN score IS NULL THEN 'unscored'
              WHEN score >= cut_head THEN 'head'
              WHEN score >= cut_tail THEN 'middle'
              ELSE 'tail' END AS bin,
         score
  FROM j, cuts)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(coalesce(score, 0)) AS BIGINT) AS sum_score,
       CAST(coalesce(min(score), 0) AS BIGINT) AS min_score,
       CAST(coalesce(max(score), 0) AS BIGINT) AS max_score
FROM binned GROUP BY bin
"""


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness gate end-to-end: per-host robots.txt bodies are
    synthesized as a JVM column expression (deterministic rules from the
    host number: a badbot blanket group that must be IGNORED, a '*' group
    with a Disallow digit-prefix + a longer Allow re-permit — exercising
    RFC 9309 longest-match + Allow-wins-ties — plus Crawl-delay on h%3==0
    hosts and Sitemap on h%4==0), parsed by the real robots parser
    (kernels/robots.py) into a rules relation, and applied to every corpus
    url via the broadcast gate (operators/robots.gate_urls).  The oracle
    recomputes the blocked set closed-form from the same host math, so
    parser + group selection + precedence are all value-checked."""
    from .operators import robots as op_rb
    from .sources.web_pages import synthesize_web_pages

    pages = synthesize_web_pages(spark, sf_dir).select("url")
    hosts = pages.select(
        F.try_parse_url("url", F.lit("HOST")).alias("host")
    ).distinct()
    h = F.regexp_extract("host", r"host(\d+)", 1).cast("int")
    d1 = (h % 10).cast("string")
    d2 = (h % 7).cast("string")
    robots_txt = F.concat(
        F.lit("# crawl policy\nUser-Agent: badbot\nDisallow: /\n\n"),
        F.lit("User-agent: *\nDisallow: /doc/"), d1,
        F.lit("\nAllow: /doc/"), d1, d2, F.lit("\n"),
        F.when(h % 3 == 0,
               F.concat(F.lit("Crawl-delay: "),
                        (1 + h % 5).cast("string"), F.lit("\n")))
        .otherwise(F.lit("")),
        F.when(h % 4 == 0,
               F.concat(F.lit("Sitemap: https://"), F.col("host"),
                        F.lit("/sitemap.xml\n")))
        .otherwise(F.lit("")),
    )
    robots_df = hosts.select("host", robots_txt.alias("robots_txt"))
    rules = op_rb.robots_rules(robots_df)
    gated = op_rb.gate_urls(pages, rules)
    # sum of the blocked doc ids — a fixture-specific checksum (the
    # synthesized urls end /doc/<id>), computed here rather than inside
    # the generic operator
    doc_no = F.regexp_extract("url", r"/doc/(\d+)$", 1)
    g = gated.agg(
        F.count("*").alias("n_urls"),
        F.sum((~F.col("allowed")).cast("long")).alias("n_blocked"),
        F.sum(F.when(~F.col("allowed"), doc_no.cast("long")).otherwise(0))
        .alias("sum_blocked_doc"),
    )
    r = rules.agg(
        F.countDistinct("host").alias("n_hosts"),
        F.sum((F.col("agent") == "*").cast("long") *
              F.col("kind").isin("allow", "disallow").cast("long"))
        .alias("n_rules_star"),
        F.sum((F.col("kind") == "crawl_delay").cast("long"))
        .alias("n_crawl_delay"),
        F.sum((F.col("kind") == "sitemap").cast("long"))
        .alias("n_sitemaps"),
    )
    cap = op_rb.crawl_capacity(gated, rules)
    return g.crossJoin(r).crossJoin(cap).select(
        "n_urls", "n_blocked", "sum_blocked_doc", "n_hosts",
        "n_rules_star", "n_crawl_delay", "n_sitemaps",
        "makespan_s", "crawl_work_s", "fetched_in_budget",
    )


SQL_ROBOTS_GATE = """
WITH hx AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 < 2 THEN doc_id % 7
              ELSE 7 + doc_id % 211 END AS h
  FROM documents),
hosts AS (SELECT DISTINCT h FROM hx),
blocked AS (
  SELECT doc_id FROM hx
  WHERE starts_with(CAST(doc_id AS VARCHAR), CAST(h % 10 AS VARCHAR))
    AND NOT starts_with(CAST(doc_id AS VARCHAR),
                        CAST(h % 10 AS VARCHAR) || CAST(h % 7 AS VARCHAR)))
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_urls,
       CAST((SELECT count(*) FROM blocked) AS BIGINT) AS n_blocked,
       CAST((SELECT coalesce(sum(doc_id), 0) FROM blocked) AS BIGINT)
         AS sum_blocked_doc,
       CAST((SELECT count(*) FROM hosts) AS BIGINT) AS n_hosts,
       CAST((SELECT 2 * count(*) FROM hosts) AS BIGINT) AS n_rules_star,
       CAST((SELECT count(*) FROM hosts WHERE h % 3 = 0) AS BIGINT)
         AS n_crawl_delay,
       CAST((SELECT count(*) FROM hosts WHERE h % 4 = 0) AS BIGINT)
         AS n_sitemaps,
       CAST((SELECT coalesce(max((n - 1) * delay), 0) FROM cap)
            AS BIGINT) AS makespan_s,
       CAST((SELECT coalesce(sum((n - 1) * delay), 0) FROM cap)
            AS BIGINT) AS crawl_work_s,
       CAST((SELECT coalesce(sum(LEAST(n, 600 // delay + 1)), 0) FROM cap)
            AS BIGINT) AS fetched_in_budget
"""
SQL_ROBOTS_GATE = SQL_ROBOTS_GATE.replace(
    "blocked AS (", """ph AS (
  SELECT h, count(*) AS n_total,
         sum(CASE WHEN starts_with(CAST(doc_id AS VARCHAR),
                                   CAST(h % 10 AS VARCHAR))
                   AND NOT starts_with(CAST(doc_id AS VARCHAR),
                                       CAST(h % 10 AS VARCHAR)
                                       || CAST(h % 7 AS VARCHAR))
                  THEN 1 ELSE 0 END) AS n_blk
  FROM hx GROUP BY h),
cap AS (
  SELECT h, n_total - n_blk AS n,
         CASE WHEN h % 3 = 0 THEN 1 + h % 5 ELSE 1 END AS delay
  FROM ph WHERE n_total - n_blk > 0),
blocked AS (""")


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (operators/nbquality.py): multinomial
    Naive-Bayes likelihood-ratio classifier trained on the corpus's own
    Gopher-gate weak labels — integer-scaled Laplace-smoothed weights,
    broadcast scoring join, sign-of-score prediction.  The oracle replays
    training AND scoring from the same tokenization, so the whole
    train→score→agree loop is value-checked cross-engine."""
    from .operators import nbquality

    docs = _read(spark, sf_dir, "documents")
    return nbquality.nb_quality_report(docs)


SQL_NB_QUALITY = """
WITH l AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     x -> len(x) > 0) AS w
  FROM documents),
tok AS (SELECT doc_id, unnest(w) AS word FROM l),
wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
pw AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_word,
              sum(c * len(word)) AS n_chars_w
       FROM wc GROUP BY doc_id),
big AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1])) AS bg
  FROM l WHERE len(w) >= 2),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg),
pb AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram
       FROM bgc GROUP BY doc_id),
lbl AS (
  SELECT l.doc_id,
         NOT ((coalesce(pw.n_words, 0) < 50
                 OR coalesce(pw.n_words, 0) > 100000)
           OR (3 * coalesce(pw.n_words, 0) > coalesce(pw.n_chars_w, 0)
                 OR coalesce(pw.n_chars_w, 0)
                    > 10 * coalesce(pw.n_words, 0))
           OR (10 * coalesce(pw.top_word, 0) > coalesce(pw.n_words, 0))
           OR (coalesce(pb.n_bigrams, 0) > 0
                 AND 20 * coalesce(pb.top_bigram, 0)
                     > coalesce(pb.n_bigrams, 0))) AS y
  FROM l LEFT JOIN pw USING (doc_id) LEFT JOIN pb USING (doc_id)),
cnt AS (
  SELECT word,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS c_pass,
         sum(CASE WHEN y THEN 0 ELSE 1 END) AS c_fail
  FROM tok JOIN lbl USING (doc_id) GROUP BY word),
tot AS (SELECT sum(c_pass) AS tp, sum(c_fail) AS tf, count(*) AS v
        FROM cnt),
wgt AS (
  SELECT word,
         (1000000 * (c_pass + 1)) // (tp + v)
           - (1000000 * (c_fail + 1)) // (tf + v) AS wt
  FROM cnt, tot),
sc AS (SELECT doc_id, sum(wt) AS score FROM tok JOIN wgt USING (word)
       GROUP BY doc_id),
j AS (SELECT lbl.doc_id, y, coalesce(score, 0) AS score
      FROM lbl LEFT JOIN sc USING (doc_id))
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_label_pass,
       CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pred_pass,
       CAST(sum(CASE WHEN (score > 0) = y THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       CAST((SELECT v FROM tot) AS BIGINT) AS vocab,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM j
"""


def _shared_trigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One materialized (doc_id, score) relation per (session, corpus) —
    the lm_fluency and ccnet stages of the corpus-prep relation both
    consume it, so the expensive trigram-scoring passes run once."""
    from .operators import textprep

    key = (_session_key(spark), sf_dir,
           _corpus_fingerprint(sf_dir, "documents"))
    cached = _TRIGRAM_SCORE_CACHE.get(key)
    if cached is None:
        docs = _read(spark, sf_dir, "documents")
        cached = textprep.trigram_fluency_scores(docs).localCheckpoint()
        _TRIGRAM_SCORE_CACHE.clear()  # one corpus live at a time
        _TRIGRAM_SCORE_CACHE[key] = cached
    return cached


_TRIGRAM_SCORE_CACHE: Dict[Tuple[str, str, str], DataFrame] = {}


def _lm_fluency_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    return textprep.trigram_fluency_report(
        docs, scores=_shared_trigram_scores(spark, sf_dir))


def _ccnet_bins_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textprep

    docs = _read(spark, sf_dir, "documents")
    return textprep.ccnet_bin_stats(
        docs, scores=_shared_trigram_scores(spark, sf_dir)).orderBy("bin")


# keep in sync with curation.FLUENCY_DEFAULT_THRESHOLD (TRIGRAM_SCALE/20)
FLUENCY_THRESHOLD_SQL = 50_000
_HOSTCAP_K = 8


_FUNNEL_CACHE: Dict[Tuple[str, str, str], list] = {}


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel (docling_graph_spark/curation.py)
    over the synthesized corpus: per-stage survivor counts for
    Gopher gates → LM-fluency gate → exact dedup → host cap.  The oracle
    replays every gate as chained CTEs, so this row set checks the
    COMPOSITION of the operator suite, not just each operator alone.

    The funnel runs 4 sequential checkpoint+count jobs, so the (tiny,
    deterministic) count list is memoized per (session, corpus) — same
    keying discipline as the pipeline cache."""
    key = (_session_key(spark), sf_dir,
           _corpus_fingerprint(sf_dir, "documents"))
    if key not in _FUNNEL_CACHE:
        from . import curation
        from .sources.web_pages import synthesize_web_pages

        docs = synthesize_web_pages(spark, sf_dir).select(
            "url", "text", "lang")
        res = curation.curate(
            docs, curation.CurationConfig(host_cap=_HOSTCAP_K))
        _FUNNEL_CACHE[key] = [(s, int(n)) for s, n in res.funnel]
    return spark.createDataFrame(
        _FUNNEL_CACHE[key], "stage string, n_docs long"
    ).orderBy("stage")


SQL_CURATION_FUNNEL = f"""
WITH docs0 AS (
  SELECT doc_id, {_URL} AS url, text, lang FROM documents),
docs1 AS (
  SELECT doc_id, url, text, lang FROM (
    SELECT *, row_number() OVER (
      PARTITION BY url ORDER BY md5(coalesce(text, '')), text) AS rn
    FROM docs0) WHERE rn = 1),
g_l AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     x -> len(x) > 0) AS w
  FROM docs1),
g_w AS (SELECT doc_id, unnest(w) AS word FROM g_l),
g_wc AS (SELECT doc_id, word, count(*) AS c FROM g_w
         GROUP BY doc_id, word),
g_pw AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_word,
                sum(c * len(word)) AS n_chars_w
         FROM g_wc GROUP BY doc_id),
g_big AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1])) AS bg
  FROM g_l WHERE len(w) >= 2),
g_bgc AS (SELECT doc_id, bg, count(*) AS c FROM g_big GROUP BY doc_id, bg),
g_pb AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram
         FROM g_bgc GROUP BY doc_id),
g_per AS (
  SELECT g_l.doc_id,
         coalesce(g_pw.n_words, 0) AS n_words,
         coalesce(g_pw.n_chars_w, 0) AS n_chars_w,
         coalesce(g_pw.top_word, 0) AS top_word,
         coalesce(g_pb.n_bigrams, 0) AS n_bigrams,
         coalesce(g_pb.top_bigram, 0) AS top_bigram
  FROM g_l LEFT JOIN g_pw USING (doc_id) LEFT JOIN g_pb USING (doc_id)),
d1 AS (
  SELECT docs1.* FROM docs1 JOIN g_per USING (doc_id)
  WHERE NOT (n_words < 50 OR n_words > 100000)
    AND NOT (3 * n_words > n_chars_w OR n_chars_w > 10 * n_words)
    AND NOT (10 * top_word > n_words)
    AND NOT (n_bigrams > 0 AND 20 * top_bigram > n_bigrams)),
t_nrm AS (
  SELECT doc_id,
         ' ' || regexp_replace(lower(text), '[^a-z]+', ' ', 'g') || ' '
           AS n
  FROM d1),
t_inst AS (
  SELECT doc_id, substr(n, CAST(i AS BIGINT), 3) AS gram
  FROM t_nrm, LATERAL (SELECT unnest(generate_series(1, length(n) - 2))
                       AS i)
  WHERE length(n) >= 3),
t_c3 AS (SELECT gram, count(*) AS c3 FROM t_inst GROUP BY gram),
t_c2 AS (SELECT substr(gram, 1, 2) AS ctx, sum(c3) AS c2
         FROM t_c3 GROUP BY 1),
t_model AS (
  SELECT gram, (1000000 * t_c3.c3) // t_c2.c2 AS p_scaled
  FROM t_c3 JOIN t_c2 ON substr(t_c3.gram, 1, 2) = t_c2.ctx),
t_scores AS (
  SELECT doc_id, sum(p_scaled) // count(*) AS score
  FROM t_inst JOIN t_model USING (gram) GROUP BY doc_id),
d2 AS (
  SELECT d1.* FROM d1 JOIN t_scores USING (doc_id)
  WHERE score >= {FLUENCY_THRESHOLD_SQL}),
dd AS (SELECT md5(text) AS h, min(url) AS u FROM d2 GROUP BY 1),
d3 AS (SELECT d2.* FROM d2 JOIN dd ON d2.url = dd.u),
hc_ranked AS (
  SELECT url, row_number() OVER (
    PARTITION BY regexp_extract(url, '^https?://([^/]+)', 1)
    ORDER BY md5('dghostcap' || url), url) AS rn
  FROM d3),
d4 AS (SELECT d3.* FROM d3 JOIN hc_ranked USING (url)
       WHERE rn <= {_HOSTCAP_K})
SELECT stage, n_docs FROM (
  SELECT 'input' AS stage,
         (SELECT CAST(count(*) AS BIGINT) FROM docs0) AS n_docs
  UNION ALL SELECT 'unique_url',
         (SELECT CAST(count(*) AS BIGINT) FROM docs1)
  UNION ALL SELECT 'gopher_quality',
         (SELECT CAST(count(*) AS BIGINT) FROM d1)
  UNION ALL SELECT 'lm_fluency',
         (SELECT CAST(count(*) AS BIGINT) FROM d2)
  UNION ALL SELECT 'exact_dedup',
         (SELECT CAST(count(*) AS BIGINT) FROM d3)
  UNION ALL SELECT 'host_cap',
         (SELECT CAST(count(*) AS BIGINT) FROM d4)
  UNION ALL SELECT 'curated',
         (SELECT CAST(count(*) AS BIGINT) FROM d4)
) ORDER BY stage
"""


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (operators/dsir.py): hashed-bigram
    target/raw models, integer likelihood-difference scores, exactly-k
    PPS systematic resample over min-shifted scores.  The oracle replays
    train, score AND resample, so the full select loop is value-checked
    cross-engine (sel_checksum covers every selected (doc, score))."""
    from .operators import dsir

    docs = _read(spark, sf_dir, "documents")
    return dsir.dsir_report(docs)


_DSIR_K = 100

SQL_DSIR = f"""
WITH l AS (
  SELECT doc_id, lang,
         list_filter(string_split(coalesce(text, ''), ' '),
                     x -> len(x) > 0) AS w
  FROM documents),
occ AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(CAST(('0x' || substr(md5(bg), 1, 12)) AS UBIGINT)
              % 4096 AS INT) AS bucket
  FROM (SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1])) AS bg
        FROM l WHERE len(w) >= 2)),
cnt AS (
  SELECT bucket,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t,
         count(*) AS r
  FROM occ GROUP BY bucket),
tot AS (SELECT sum(t) AS tt, sum(r) AS rr FROM cnt),
wt AS (SELECT bucket, (1000000 * (t + 1)) // (tt + 4096)
               - (1000000 * (r + 1)) // (rr + 4096) AS weight
       FROM cnt, tot),
sc AS MATERIALIZED (
  SELECT d.doc_id, d.lang, CAST(coalesce(s.score, 0) AS BIGINT) AS score
  FROM documents d LEFT JOIN (
    SELECT occ.doc_id, sum(wt.weight) AS score
    FROM occ JOIN wt USING (bucket) GROUP BY occ.doc_id) s
    ON s.doc_id = d.doc_id),
shift AS MATERIALIZED (
  SELECT doc_id, lang, score,
         score - (SELECT min(score) FROM sc) + 1 AS w
  FROM sc),
pos AS (
  SELECT doc_id, lang, score, w,
         coalesce(sum(w) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM shift),
t2 AS (SELECT sum(w) AS t FROM shift),
g AS (
  SELECT doc_id, lang, score, w,
         LEAST({_DSIR_K}, CASE WHEN 2 * {_DSIR_K} * (s + w) <= t THEN 0
           ELSE (2 * {_DSIR_K} * (s + w) - t + 2 * t - 1) // (2 * t)
           END)
         - LEAST({_DSIR_K}, CASE WHEN 2 * {_DSIR_K} * s <= t THEN 0
           ELSE (2 * {_DSIR_K} * s - t + 2 * t - 1) // (2 * t) END)
           AS n_grid
  FROM pos, t2)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_target,
       CAST(sum(score) AS BIGINT) AS sum_score,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score,
       CAST(sum(CASE WHEN n_grid > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS sel_docs,
       CAST(sum(n_grid) AS BIGINT) AS k_total,
       CAST(sum(CASE WHEN n_grid > 0 AND lang = 'en' THEN 1 ELSE 0 END)
            AS BIGINT) AS sel_target,
       CAST(coalesce(sum(CASE WHEN n_grid > 0 THEN
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
               || CAST(score AS VARCHAR)), 1, 12)) AS UBIGINT) END), 0)
            AS BIGINT) AS sel_checksum
FROM g
"""


def q_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality suite (operators/dataquality.py): every
    row-level constraint over the corpus — completeness, key
    uniqueness, url pattern, lang domain, n_chars range, n_chars↔text
    cross-column consistency — folded into ONE aggregation pass, plus
    two referential-integrity orphan counts (events.user_id ⊆
    customer.c_custkey, customer.c_nationkey ⊆ nation.n_nationkey) as
    left_anti joins.  Violation counts, not booleans: integers are
    hash-stable and thresholds stay with the caller."""
    from .operators import dataquality as dq
    from .sources.web_pages import url_expr

    docs = _read(spark, sf_dir, "documents")
    row = dq.run_checks(
        docs.withColumn("url", url_expr(F.col("doc_id"))),
        dq.completeness("text"),
        dq.uniqueness("doc_id"),
        dq.pattern("url",
                   r"^https://host[0-9]+\.example\.com/doc/[0-9]+$",
                   "url_pattern_viol"),
        dq.membership("lang", ["de", "en", "es", "fr", "zh"]),
        dq.in_range("n_chars", 0, 100000),
        dq.consistency(
            "n_chars_mismatch",
            F.col("n_chars")
            != F.length(F.coalesce(F.col("text"), F.lit("")))))
    ev = dq.referential_orphans(
        _read(spark, sf_dir, "events"), "user_id",
        _read(spark, sf_dir, "customer"), "c_custkey",
        "event_user_orphans")
    cn = dq.referential_orphans(
        _read(spark, sf_dir, "customer"), "c_nationkey",
        _read(spark, sf_dir, "nation"), "n_nationkey",
        "cust_nation_orphans")
    return row.crossJoin(ev).crossJoin(cn)


_DQ_METRICS = ["n_rows", "text_missing", "doc_id_dupes",
               "url_pattern_viol", "lang_domain_viol",
               "n_chars_range_viol", "n_chars_mismatch",
               "event_user_orphans", "cust_nation_orphans"]

SQL_DQ = f"""
SELECT * FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(coalesce(sum(CASE WHEN text IS NULL OR trim(text) = ''
                           THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS text_missing,
    CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT)
      AS doc_id_dupes,
    CAST(coalesce(sum(CASE WHEN url IS NULL OR NOT regexp_matches(url,
           '^https://host[0-9]+\\.example\\.com/doc/[0-9]+$')
           THEN 1 ELSE 0 END), 0) AS BIGINT) AS url_pattern_viol,
    CAST(coalesce(sum(CASE WHEN lang IS NULL OR lang NOT IN
           ('de', 'en', 'es', 'fr', 'zh') THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS lang_domain_viol,
    CAST(coalesce(sum(CASE WHEN n_chars IS NULL OR n_chars < 0
           OR n_chars > 100000 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS n_chars_range_viol,
    CAST(coalesce(sum(CASE WHEN n_chars <> length(coalesce(text, ''))
           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_chars_mismatch
  FROM (SELECT *, {_URL} AS url FROM documents)),
(SELECT CAST(count(*) AS BIGINT) AS event_user_orphans FROM events
 WHERE user_id IS NULL OR user_id NOT IN
   (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)),
(SELECT CAST(count(*) AS BIGINT) AS cust_nation_orphans FROM customer
 WHERE c_nationkey IS NULL OR c_nationkey NOT IN
   (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL))
"""


def q_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX / SURT index rollup (operators/domains.surt_key, cdx_stats)
    over the stress-host url population (www. and cdn.eu. subdomains,
    multi-label ccTLD suffixes): the Common-Crawl-index key transform —
    reversed host labels make domain queries prefix ranges — gated on
    the full key-set checksum plus the per-2-segment-prefix capture
    manifest.  The oracle re-implements the transform independently
    with DuckDB's list functions."""
    from .operators import domains as op_dom

    d = F.col("doc_id")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _DOMAIN_SUFFIX_POOL]),
        (d % 8 + 1).cast("int"))
    sub = F.element_at(
        F.array(*[F.lit(s) for s in _DOMAIN_SUB_POOL]),
        (d % 3 + 1).cast("int"))
    urls = _read(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://"), sub, F.lit("site"),
                 (d % 97).cast("string"), F.lit("."), suffix,
                 F.lit("/p/"), d.cast("string")).alias("url"))
    return op_dom.cdx_stats(urls)


_CDX_METRICS = ["n_urls", "n_keys", "key_checksum", "n_www_dropped",
                "n_prefix2", "prefix_checksum"]

SQL_CDX = """
WITH du AS (
  SELECT 'https://' || (['','www.','cdn.eu.'])[CAST(doc_id % 3 AS INT) + 1]
         || 'site' || CAST(doc_id % 97 AS VARCHAR) || '.'
         || (['com','co.uk','org','com.au','io','ac.jp','de','internal'])
              [CAST(doc_id % 8 AS INT) + 1]
         || '/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
cparts AS (
  SELECT url,
         lower(regexp_extract(url, '^https?://([^/]+)', 1)) AS host,
         regexp_replace(url, '^https?://[^/]*', '') AS path
  FROM du),
clab AS (
  SELECT url, host, path,
         CASE WHEN string_split(host, '.')[1] = 'www'
                   AND len(string_split(host, '.')) > 1
              THEN 1 ELSE 0 END AS www,
         list_reverse(CASE WHEN string_split(host, '.')[1] = 'www'
                                AND len(string_split(host, '.')) > 1
                           THEN string_split(host, '.')[2:]
                           ELSE string_split(host, '.') END) AS rev
  FROM cparts),
ckeyed AS (
  SELECT array_to_string(rev, ',') || ')' ||
           CASE WHEN path = '' THEN '/' ELSE path END AS k,
         www,
         array_to_string(rev[1:2], ',') AS p2
  FROM clab),
cpp AS (SELECT p2, CAST(count(*) AS BIGINT) AS n FROM ckeyed
        GROUP BY p2),
cpc AS (SELECT CAST(count(*) AS BIGINT) AS n_prefix2,
               CAST(sum(CAST(('0x' || substr(md5(p2 || ':'
                 || CAST(n AS VARCHAR)), 1, 12)) AS UBIGINT)) AS BIGINT)
                 AS prefix_checksum
        FROM cpp)
SELECT CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
       CAST(sum(CAST(('0x' || substr(md5(k), 1, 12)) AS UBIGINT))
            AS BIGINT) AS key_checksum,
       CAST(sum(www) AS BIGINT) AS n_www_dropped,
       cpc.n_prefix2, cpc.prefix_checksum
FROM ckeyed, cpc
GROUP BY cpc.n_prefix2, cpc.prefix_checksum
"""


def q_corpus_prep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-prep suite in one relation (stage, metric, value): PII
    redaction, C4-style line dedup, broadcast host blocklist, URL
    canonicalization dedup, benchmark decontamination (broadcast eval-gram
    probe), exact duplicated-substring detection (word-8-gram group-join),
    ExactSubstr span *removal* with an exact-content rebuild checksum,
    Bloom-gated incremental url dedup (no-false-negative gate vs the exact
    set difference), crawl-snapshot diff + latest-wins compaction
    (added/removed/changed accounting + compacted-content checksum),
    site-level boilerplate removal (strict-majority host-frequency rule),
    sitemap build/parse/crawl-coverage reconciliation,
    char-trigram LM fluency scoring (CCNet-analogue quality gate), and
    the Deequ-style data-quality constraint suite (stage 'dq':
    operators/dataquality.py — completeness/uniqueness/pattern/domain/
    range/cross-column checks in ONE aggregation pass + two
    referential-integrity orphan counts via left_anti joins).
    Each stage runs its full operator; the 1-row summaries are unpivoted
    and unioned."""
    return (
        _unpivot_single_row(q_pii_redaction(spark, sf_dir), "pii")
        .unionByName(_unpivot_single_row(
            q_line_dedup(spark, sf_dir), "line_dedup"))
        .unionByName(_unpivot_single_row(
            q_host_blocklist(spark, sf_dir), "host_blocklist"))
        .unionByName(_unpivot_single_row(
            q_host_boilerplate(spark, sf_dir), "host_boilerplate"))
        .unionByName(_unpivot_single_row(
            q_sitemap_coverage(spark, sf_dir), "sitemap"))
        .unionByName(_unpivot_single_row(
            q_normalize(spark, sf_dir), "normalize"))
        .unionByName(_unpivot_single_row(
            q_host_quality(spark, sf_dir), "host_quality"))
        .unionByName(_unpivot_single_row(
            q_recrawl_schedule(spark, sf_dir), "recrawl"))
        .unionByName(_unpivot_single_row(
            q_url_canonical_dedup(spark, sf_dir), "url_canonical"))
        .unionByName(_unpivot_single_row(
            q_decontamination(spark, sf_dir), "decontam"))
        .unionByName(_unpivot_single_row(
            q_dup_spans(spark, sf_dir), "dup_spans"))
        .unionByName(_unpivot_single_row(
            q_dup_excision(spark, sf_dir), "dup_excision"))
        .unionByName(_unpivot_single_row(
            q_bloom_gate(spark, sf_dir), "bloom_gate"))
        .unionByName(_unpivot_single_row(
            q_snapshot_diff(spark, sf_dir), "snapshot"))
        .unionByName(_unpivot_single_row(
            _lm_fluency_shared(spark, sf_dir), "lm_fluency"))
        .unionByName(_unpivot_by_key(
            _ccnet_bins_shared(spark, sf_dir), "ccnet", "bin",
            ["n_docs", "sum_score", "min_score", "max_score"]))
        .unionByName(_unpivot_single_row(
            q_robots_gate(spark, sf_dir), "robots"))
        .unionByName(_unpivot_single_row(
            q_nb_quality(spark, sf_dir), "nb_quality"))
        .unionByName(_unpivot_single_row(q_dsir(spark, sf_dir), "dsir"))
        .unionByName(_unpivot_single_row(q_dq(spark, sf_dir), "dq"))
        .unionByName(_unpivot_single_row(q_cdx(spark, sf_dir), "cdx"))
        .unionByName(q_curation_funnel(spark, sf_dir).select(
            F.lit("funnel").alias("stage"),
            F.col("stage").alias("metric"),
            F.col("n_docs").cast("string").alias("value")))
        .orderBy("stage", "metric")
    )


SQL_CORPUS_PREP_STATS = f"""
WITH pii AS ({SQL_PII_REDACTION}),
ld AS ({SQL_LINE_DEDUP}),
hb AS ({SQL_HOST_BLOCKLIST}),
hbp AS ({SQL_HOST_BOILERPLATE}),
smc AS ({SQL_SITEMAP_COVERAGE}),
nrmz AS ({SQL_NORMALIZE}),
hq AS ({SQL_HOST_QUALITY}),
rcw AS ({SQL_RECRAWL}),
uc AS ({SQL_URL_CANONICAL_DEDUP}),
dc AS ({SQL_DECONTAMINATION}),
ds AS ({SQL_DUP_SPANS}),
de AS ({SQL_DUP_EXCISION}),
bg AS ({SQL_BLOOM_GATE}),
sd AS ({SQL_SNAPSHOT_DIFF}),
lm AS ({SQL_LM_FLUENCY}),
cb AS ({SQL_CCNET_BINS}),
rb AS ({SQL_ROBOTS_GATE}),
nb AS ({SQL_NB_QUALITY}),
dsr AS ({SQL_DSIR}),
dqc AS ({SQL_DQ}),
cdxs AS ({SQL_CDX}),
fu AS ({SQL_CURATION_FUNNEL})
SELECT stage, metric, value FROM (
{_sql_unpivot('pii', 'pii',
              ['n_emails', 'n_phones', 'n_ips', 'docs_with_pii',
               'chars_delta'])}
  UNION ALL
{_sql_unpivot('ld', 'line_dedup',
              ['total_lines', 'distinct_lines', 'lines_removed',
               'max_line_repeat', 'boilerplate_lines'])}
  UNION ALL
{_sql_unpivot('hb', 'host_blocklist',
              ['kept_docs', 'kept_hosts', 'dropped_docs', 'dropped_hosts'])}
  UNION ALL
{_sql_unpivot('hbp', 'host_boilerplate',
              ['n_docs', 'n_hosts', 'total_lines', 'lines_removed',
               'docs_affected', 'rebuilt_min_md5', 'rebuilt_max_md5',
               'rebuilt_checksum'])}
  UNION ALL
{_sql_unpivot('smc', 'sitemap',
              ['n_hosts', 'n_sitemap_urls', 'lastmod_checksum',
               'n_listed_crawled', 'n_ghost', 'n_crawled_unlisted'])}
  UNION ALL
{_sql_unpivot('nrmz', 'normalize',
              ['n_docs', 'n_changed', 'chars_before', 'chars_after',
               'n_nonascii_docs', 'normalized_checksum'])}
  UNION ALL
{_sql_unpivot('hq', 'host_quality',
              ['n_hosts', 'docs_total', 'docs_failing',
               'n_flagged_hosts', 'docs_on_flagged',
               'flagged_checksum'])}
  UNION ALL
{_sql_unpivot('rcw', 'recrawl',
              ['n_urls', 'n_obs', 'n_changes', 'min_interval',
               'max_interval', 'sum_interval', 'schedule_checksum'])}
  UNION ALL
{_sql_unpivot('uc', 'url_canonical',
              ['total_urls', 'distinct_canonical', 'collapsed',
               'min_canonical', 'max_canonical'])}
  UNION ALL
{_sql_unpivot('dc', 'decontam',
              ['n_eval', 'n_train', 'contaminated_docs', 'clean_docs',
               'max_overlap', 'total_overlap_grams'])}
  UNION ALL
{_sql_unpivot('ds', 'dup_spans',
              ['total_grams', 'dup_gram_values', 'dup_positions',
               'docs_with_dup'])}
  UNION ALL
{_sql_unpivot('de', 'dup_excision',
              ['docs_total', 'docs_rewritten', 'words_total',
               'words_removed', 'distinct_rebuilt', 'content_min_md5',
               'content_max_md5', 'content_checksum'])}
  UNION ALL
{_sql_unpivot('bg', 'bloom_gate',
              ['n_batch', 'n_history', 'n_new', 'min_new_doc',
               'max_new_doc', 'sum_new_doc'])}
  UNION ALL
{_sql_unpivot('sd', 'snapshot',
              ['n_urls', 'n_snap1', 'n_snap2', 'n_added', 'n_removed',
               'n_changed', 'n_unchanged', 'compacted_min_md5',
               'compacted_max_md5', 'compacted_checksum'])}
  UNION ALL
{_sql_unpivot('lm', 'lm_fluency',
              ['n_docs', 'n_unscored', 'sum_score', 'min_score',
               'max_score', 'low_fluency_docs'])}
  UNION ALL
  SELECT 'ccnet' AS stage, bin || ':n_docs' AS metric,
         CAST(n_docs AS VARCHAR) AS value FROM cb
  UNION ALL
  SELECT 'ccnet', bin || ':sum_score', CAST(sum_score AS VARCHAR) FROM cb
  UNION ALL
  SELECT 'ccnet', bin || ':min_score', CAST(min_score AS VARCHAR) FROM cb
  UNION ALL
  SELECT 'ccnet', bin || ':max_score', CAST(max_score AS VARCHAR) FROM cb
  UNION ALL
{_sql_unpivot('rb', 'robots',
              ['n_urls', 'n_blocked', 'sum_blocked_doc', 'n_hosts',
               'n_rules_star', 'n_crawl_delay', 'n_sitemaps',
               'makespan_s', 'crawl_work_s', 'fetched_in_budget'])}
  UNION ALL
{_sql_unpivot('nb', 'nb_quality',
              ['n_docs', 'n_label_pass', 'n_pred_pass', 'n_agree',
               'vocab', 'sum_score'])}
  UNION ALL
{_sql_unpivot('dsr', 'dsir',
              ['n_docs', 'n_target', 'sum_score', 'min_score', 'max_score',
               'sel_docs', 'k_total', 'sel_target', 'sel_checksum'])}
  UNION ALL
{_sql_unpivot('dqc', 'dq', _DQ_METRICS)}
  UNION ALL
{_sql_unpivot('cdxs', 'cdx', _CDX_METRICS)}
  UNION ALL
  SELECT 'funnel' AS stage, fu.stage AS metric,
         CAST(n_docs AS VARCHAR) AS value FROM fu
) ORDER BY stage, metric
"""


_SHARD_BUDGET = 4096
_PPS_K = 37  # deliberately odd / non-dividing: exercises grid rounding
_SHUFFLE_SHARDS = 7  # non-dividing: exercises the ceil shard-size path


def q_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (operators/sharding.py): global
    prefix-sum assignment in doc_id order, 4096-token shards; per-shard
    doc count and token fill.  Computed with the distributed two-pass
    prefix sum (range partition → local window → O(#partitions) offsets),
    never a single global window."""
    from .operators import sharding as op_sh

    docs = _read(spark, sf_dir, "documents")
    assigned = op_sh.pack_shards(
        op_sh.token_counts(docs.select("doc_id", "text")),
        budget=_SHARD_BUDGET,
    )
    return op_sh.shard_stats(assigned)


SQL_SHARD_PACKING = f"""
WITH tok AS (
  SELECT doc_id, (length(text) * 3) // 10 AS n_tokens FROM documents),
pos AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_pos
  FROM tok)
SELECT start_pos // {_SHARD_BUDGET} AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
FROM pos GROUP BY 1 ORDER BY 1
"""




def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap (operators/textprep.host_cap_sample): keep at
    most 8 docs per host by deterministic hash order, via the skew-aware
    two-stage top-K (salt buckets first, so one mega-host never
    serializes the window)."""
    from .operators import textprep
    from .sources.web_pages import synthesize_web_pages

    return textprep.host_cap_stats(
        synthesize_web_pages(spark, sf_dir), k=_HOSTCAP_K)


SQL_HOST_CAP = f"""
WITH ranked AS (
  SELECT host, row_number() OVER (PARTITION BY host
                                  ORDER BY k, url) AS rn
  FROM (SELECT concat('host', CAST({_HOST_ID} AS VARCHAR),
               '.example.com') AS host,
               {_URL} AS url,
               md5('dghostcap' || {_URL}) AS k
        FROM documents)),
pre AS (SELECT host, count(*) AS n FROM ranked GROUP BY host),
kept AS (SELECT host, count(*) AS n FROM ranked
         WHERE rn <= {_HOSTCAP_K} GROUP BY host)
SELECT (SELECT CAST(sum(n) AS BIGINT) FROM pre) AS total_docs,
       (SELECT CAST(sum(n) AS BIGINT) FROM kept) AS kept_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM pre) AS n_hosts,
       (SELECT CAST(sum(CASE WHEN n > {_HOSTCAP_K} THEN 1 ELSE 0 END)
               AS BIGINT) FROM pre) AS hosts_at_cap,
       (SELECT CAST(max(n) AS BIGINT) FROM pre) AS max_host_docs,
       (SELECT CAST(max(n) AS BIGINT) FROM kept) AS max_kept_docs
"""


def q_sampling_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling, split assignment, shard packing and
    per-host caps in one relation: hash-stratified sample accounting per
    lang (section='sample'), md5-range train/val/test assignment
    (section='split'), token-budget shard packing (section='shard',
    bucket=shard_id), packed trainer sequences (section='packed',
    bucket=md5 of the packed bytes — an exact-content gate), the
    per-host document cap (section='hostcap'), and the deterministic
    global shuffle (section='shuffle': sharding.shuffle_positions —
    dense md5-order positions with NO single-partition sort; 'perm' is
    the exact-permutation checksum over md5(doc_id:pos), 'balance' the
    max/min shuffle-shard sizes (exactly even by construction), 'gap'
    the consecutive-doc position-dispersion sum both engines replay)."""
    from .operators import sharding as op_sh_mod

    strat = q_stratified_sample(spark, sf_dir)
    spl = q_train_val_test_split(spark, sf_dir)
    a = strat.select(
        F.lit("sample").alias("section"), F.col("stratum").alias("bucket"),
        F.col("n_total").alias("n_docs"), F.col("n_sampled").alias("measure"),
    )
    b = spl.select(
        F.lit("split").alias("section"), F.col("split").alias("bucket"),
        F.col("n_docs").alias("n_docs"), F.col("total_chars").alias("measure"),
    )
    # ONE distributed prefix-sum pass feeds the shard-stats,
    # packed-sequence AND PPS-sampling sections (the prefixed narrow
    # relation is shared; pps_mark/shard_id are pure projections on it)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    counted = op_sh_mod.token_counts(docs)
    pre, total = op_sh_mod.global_prefix_starts(counted)
    assigned = op_sh_mod.shard_mark(pre, budget=_SHARD_BUDGET)
    c = op_sh_mod.shard_stats(assigned).select(
        F.lit("shard").alias("section"),
        F.col("shard_id").cast("string").alias("bucket"),
        F.col("n_docs").alias("n_docs"),
        F.col("shard_tokens").alias("measure"),
    )
    packed = op_sh_mod.pack_sequences(assigned.join(docs, "doc_id"))
    e = packed.select(
        F.lit("packed").alias("section"),
        F.md5(F.col("packed_text").cast("binary")).alias("bucket"),
        F.col("n_docs").alias("n_docs"),
        F.length("packed_text").cast("long").alias("measure"),
    )
    marked = op_sh_mod.pps_mark(pre, total, k=_PPS_K)
    sel = F.col("n_grid") > 0
    id_md5 = F.md5(F.col("doc_id").cast("string").cast("binary"))
    pps_agg = marked.agg(
        F.sum(sel.cast("long")).cast("long").alias("sel_docs"),
        F.sum("n_grid").cast("long").alias("k_total"),
        F.coalesce(F.sum(F.when(sel, F.col("n_tokens"))), F.lit(0))
        .cast("long").alias("sel_tokens"),
        F.sum("n_tokens").cast("long").alias("tot_tokens"),
        F.coalesce(F.sum(F.when(sel, F.col("doc_id"))), F.lit(0))
        .cast("long").alias("sel_ids"),
        F.coalesce(F.sum(F.when(
            sel, F.conv(F.substring(id_md5, 1, 12), 16, 10).cast("long"))),
            F.lit(0)).cast("long").alias("sel_ck"),
    )
    pps = pps_agg.select(F.explode(F.array(
        F.struct(F.lit("selected").alias("bucket"),
                 F.col("sel_docs").alias("n_docs"),
                 F.col("k_total").alias("measure")),
        F.struct(F.lit("weights").alias("bucket"),
                 F.col("sel_tokens").alias("n_docs"),
                 F.col("tot_tokens").alias("measure")),
        F.struct(F.lit("ids").alias("bucket"),
                 F.col("sel_ids").alias("n_docs"),
                 F.col("sel_ck").alias("measure")),
    )).alias("kv")).select(
        F.lit("pps").alias("section"), F.col("kv.bucket").alias("bucket"),
        F.col("kv.n_docs").alias("n_docs"),
        F.col("kv.measure").alias("measure"))
    hc = q_host_cap(spark, sf_dir)
    d = hc.select(F.explode(F.array(
        F.struct(F.lit("docs").alias("bucket"),
                 F.col("kept_docs").alias("n_docs"),
                 F.col("total_docs").alias("measure")),
        F.struct(F.lit("hosts").alias("bucket"),
                 F.col("hosts_at_cap").alias("n_docs"),
                 F.col("n_hosts").alias("measure")),
        F.struct(F.lit("max_host").alias("bucket"),
                 F.col("max_kept_docs").alias("n_docs"),
                 F.col("max_host_docs").alias("measure")),
    )).alias("kv")).select(
        F.lit("hostcap").alias("section"), F.col("kv.bucket").alias("bucket"),
        F.col("kv.n_docs").alias("n_docs"), F.col("kv.measure").alias("measure"),
    )
    pos = op_sh_mod.shuffle_positions(docs.select("doc_id"))
    n_total = pos.count()
    sharded = op_sh_mod.shuffle_shards(pos, n_total, _SHUFFLE_SHARDS)
    perm_ck = F.conv(F.substring(F.md5(F.concat(
        F.col("doc_id").cast("string"), F.lit(":"),
        F.col("_pos").cast("string")).cast("binary")), 1, 12),
        16, 10).cast("long")
    sh_perm = sharded.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(perm_ck).cast("long").alias("measure"),
    ).select(F.lit("shuffle").alias("section"),
             F.lit("perm").alias("bucket"), "n_docs", "measure")
    sh_bal = (sharded.groupBy("shuffle_shard").count().agg(
        F.max("count").cast("long").alias("n_docs"),
        F.min("count").cast("long").alias("measure"))
        .select(F.lit("shuffle").alias("section"),
                F.lit("balance").alias("bucket"), "n_docs", "measure"))
    nxt = sharded.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("_pos").alias("_pos2"))
    sh_gap = (sharded.join(nxt, "doc_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.abs(F.col("_pos2") - F.col("_pos"))).cast("long")
        .alias("measure"))
        .select(F.lit("shuffle").alias("section"),
                F.lit("gap").alias("bucket"), "n_docs", "measure"))
    return (a.unionByName(b).unionByName(c).unionByName(d).unionByName(e)
            .unionByName(pps).unionByName(sh_perm).unionByName(sh_bal)
            .unionByName(sh_gap)
            .orderBy("section", "bucket"))


SQL_SAMPLING_SPLITS = f"""
SELECT section, bucket, n_docs, measure FROM (
  SELECT 'sample' AS section, stratum AS bucket, n_total AS n_docs,
         n_sampled AS measure FROM ({SQL_STRATIFIED_SAMPLE})
  UNION ALL
  SELECT 'split', split, n_docs, total_chars FROM ({SQL_TRAIN_VAL_TEST})
  UNION ALL
  SELECT 'shard', CAST(shard_id AS VARCHAR), n_docs, shard_tokens
  FROM ({SQL_SHARD_PACKING})
  UNION ALL
  SELECT 'packed', md5(p), n_docs, length(p) FROM (
    SELECT shard_id,
           string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS p,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT doc_id, text,
             coalesce(sum((length(text) * 3) // 10) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_SHARD_BUDGET} AS shard_id
      FROM documents)
    GROUP BY shard_id)
  UNION ALL
  SELECT 'hostcap', bucket, n_docs, measure FROM (
    SELECT 'docs' AS bucket, kept_docs AS n_docs, total_docs AS measure
    FROM ({SQL_HOST_CAP})
    UNION ALL
    SELECT 'hosts', hosts_at_cap, n_hosts FROM ({SQL_HOST_CAP})
    UNION ALL
    SELECT 'max_host', max_kept_docs, max_host_docs FROM ({SQL_HOST_CAP})
  )
  UNION ALL
  SELECT 'pps', bucket, n_docs, measure FROM (
    WITH tok AS (
      SELECT doc_id, (length(text) * 3) // 10 AS w FROM documents),
    pos AS (
      SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM tok),
    tot AS (SELECT sum(w) AS t FROM tok),
    g AS (
      SELECT doc_id, w,
             LEAST({_PPS_K}, CASE WHEN 2 * {_PPS_K} * (s + w) <= t THEN 0
               ELSE (2 * {_PPS_K} * (s + w) - t + 2 * t - 1) // (2 * t)
               END)
             - LEAST({_PPS_K}, CASE WHEN 2 * {_PPS_K} * s <= t THEN 0
               ELSE (2 * {_PPS_K} * s - t + 2 * t - 1) // (2 * t) END)
               AS n_grid
      FROM pos, tot)
    SELECT 'selected' AS bucket,
           CAST(sum(CASE WHEN n_grid > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs,
           CAST(sum(n_grid) AS BIGINT) AS measure FROM g
    UNION ALL
    SELECT 'weights',
           CAST(coalesce(sum(CASE WHEN n_grid > 0 THEN w END), 0)
                AS BIGINT),
           CAST(sum(w) AS BIGINT) FROM g
    UNION ALL
    SELECT 'ids',
           CAST(coalesce(sum(CASE WHEN n_grid > 0 THEN doc_id END), 0)
                AS BIGINT),
           CAST(coalesce(sum(CASE WHEN n_grid > 0 THEN
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS UBIGINT) END), 0) AS BIGINT) FROM g
  )
  UNION ALL
  SELECT 'shuffle', bucket, n_docs, measure FROM (
    WITH pos AS (
      SELECT doc_id,
             row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS p
      FROM documents),
    n AS (SELECT count(*) AS n FROM pos),
    sh AS (SELECT doc_id, p, (p * {_SHUFFLE_SHARDS}) // n AS s
           FROM pos, n)
    SELECT 'perm' AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             || ':' || CAST(p AS VARCHAR)), 1, 12)) AS UBIGINT))
             AS BIGINT) AS measure
    FROM sh
    UNION ALL
    SELECT 'balance', CAST(max(c) AS BIGINT), CAST(min(c) AS BIGINT)
    FROM (SELECT s, count(*) AS c FROM sh GROUP BY s)
    UNION ALL
    SELECT 'gap', CAST(count(*) AS BIGINT),
           CAST(sum(abs(b.p - a.p)) AS BIGINT)
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
  )
) ORDER BY section, bucket
"""


def q_stream_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming coverage in one relation: the watermarked
    tumbling-window rollup (section='window'), the
    applyInPandasWithState per-user running totals (section='user'), and
    native session windows (section='session': F.session_window 30-min
    gap, k1=user, k2=start_us:duration_us in exact epoch micros — the
    merged-session relation a lag-islands DuckDB oracle independently
    rebuilds), and the stream-stream interval join (section='attrib':
    purchase←click attribution pairs within 60 min, both sides
    watermarked — the state-bounded two-unbounded-sides join, replayed
    by a batch interval join in the oracle), and streaming-ingest exact
    dedup (section='dedup': dropDuplicatesWithinWatermark over a
    stream where EVERY event is staged twice — at-least-once
    redelivery; with the horizon beyond the corpus span the drained
    per-type rollup must equal the batch totals, which is the oracle),
    all drained with availableNow into deterministic batch
    relations."""
    from .streaming import windowed as _w

    wc = q_stream_window_counts(spark, sf_dir)
    ut = q_stream_user_totals(spark, sf_dir)
    a = wc.select(
        F.lit("window").alias("section"), F.col("day").alias("k1"),
        F.col("event_type").alias("k2"), "n_events", "value_cents",
    )
    b = ut.select(
        F.lit("user").alias("section"),
        F.col("user_id").cast("string").alias("k1"),
        F.lit("").alias("k2"), "n_events", "value_cents",
    )
    staging = _staged_stream_dir(spark, sf_dir, "ev")
    stream = _w.stream_from_staged(spark, staging)
    _w.drain_to_memory(_w.session_event_rollup(stream),
                       "stream_sessions", "complete")
    c = spark.table("stream_sessions").select(
        F.lit("session").alias("section"),
        F.col("user_id").cast("string").alias("k1"),
        F.concat(F.col("start_us").cast("string"), F.lit(":"),
                 F.col("duration_us").cast("string")).alias("k2"),
        "n_events", "value_cents",
    )
    stream2 = _w.stream_from_staged(
        spark, _staged_stream_dir(spark, sf_dir, "ev"))
    _w.drain_to_memory(_w.purchase_attribution_join(stream2),
                       "stream_attribution", "append")
    # streaming-ingest dedup: every event staged TWICE (at-least-once
    # redelivery fixture); dropDuplicatesWithinWatermark with a horizon
    # beyond the corpus span must recover exactly one copy per event_id,
    # so the drained rollup equals the batch per-type totals
    dup_stream = _w.stream_from_staged(
        spark, _staged_stream_dir_dup(spark, sf_dir))
    _w.drain_to_memory(_w.dedup_events_within_watermark(dup_stream),
                       "stream_deduped", "append")
    e = (spark.table("stream_deduped")
         .groupBy("event_type")
         .agg(F.count("*").cast("long").alias("n_events"),
              F.sum(F.round(F.col("value") * 100).cast("long"))
              .cast("long").alias("value_cents"))
         .select(F.lit("dedup").alias("section"),
                 F.col("event_type").alias("k1"), F.lit("").alias("k2"),
                 "n_events", "value_cents"))
    d = spark.table("stream_attribution").select(
        F.lit("attrib").alias("section"),
        F.col("user_id").cast("string").alias("k1"),
        F.concat(F.col("purchase_us").cast("string"), F.lit(":"),
                 F.col("click_us").cast("string"), F.lit(":"),
                 F.col("lag_us").cast("string")).alias("k2"),
        F.col("c_cents").alias("n_events"),
        F.col("p_cents").alias("value_cents"),
    )
    return (a.unionByName(b).unionByName(c).unionByName(d)
            .unionByName(e)
            .orderBy("section", "k1", "k2"))


SQL_STREAM_AGGREGATES = f"""
SELECT section, k1, k2, n_events, value_cents FROM (
  SELECT 'window' AS section, day AS k1, event_type AS k2, n_events,
         value_cents FROM ({SQL_STREAM_WINDOW})
  UNION ALL
  SELECT 'user', CAST(user_id AS VARCHAR), '', n_events, value_cents
  FROM ({SQL_STREAM_USER_TOTALS})
  UNION ALL
  SELECT 'attrib', CAST(p.user_id AS VARCHAR),
         CAST(epoch_us(p.ts) AS VARCHAR) || ':'
           || CAST(epoch_us(c.ts) AS VARCHAR) || ':'
           || CAST(epoch_us(p.ts) - epoch_us(c.ts) AS VARCHAR),
         CAST(round(c.value * 100) AS BIGINT),
         CAST(round(p.value * 100) AS BIGINT)
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON c.user_id = p.user_id AND c.ts < p.ts
   AND c.ts >= p.ts - INTERVAL 60 MINUTE
  UNION ALL
  SELECT 'dedup', event_type, '', CAST(count(*) AS BIGINT),
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'session', CAST(user_id AS VARCHAR),
         CAST(start_us AS VARCHAR) || ':' || CAST(duration_us AS VARCHAR),
         n_events, value_cents
  FROM (
    WITH e AS (
      SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    m AS (
      SELECT user_id, ts, c,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      FROM e),
    s AS (
      SELECT user_id, ts, c,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
             AS duration_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(c) AS BIGINT) AS value_cents
    FROM s GROUP BY user_id, sid)
) ORDER BY section, k1, k2
"""


# --------------------------------------------------------------------------
# registry: AT MOST 50 entries (driver correctness cap, asserted in
# tests/test_entry_oracles.py) — every operator family from SURVEY §2 keeps
# a row; small same-family queries are served by the merged relations above.


def catalog() -> Dict[str, Tuple[Callable[[SparkSession, str], DataFrame],
                                 Optional[str]]]:
    """name -> (spark function, oracle SQL or None for rows-only checks)."""
    return {
        # pipeline
        # pipeline (17)
        "doc_stats_by_lang": (q_doc_stats_by_lang, SQL_DOC_STATS),
        "chunk_distribution": (q_chunk_distribution, SQL_CHUNK_DISTRIBUTION),
        "chunk_rows": (q_chunk_rows, SQL_CHUNK_ROWS),
        "batch_counts": (q_batch_counts, SQL_BATCH_COUNTS),
        "top_terms": (q_top_terms, SQL_TOP_TERMS),
        "graph_type_counts": (q_graph_type_counts, SQL_GRAPH_TYPE_COUNTS),
        "doc_degree_topk": (q_doc_degree_topk, SQL_DOC_DEGREE_TOPK),
        "graph_validation": (q_graph_validation, SQL_GRAPH_VALIDATION),
        "reverse_edge_counts": (q_reverse_edge_counts,
                                SQL_REVERSE_EDGE_COUNTS),
        "node_dedup_remap": (q_node_dedup_remap, SQL_NODE_DEDUP_REMAP),
        "graph_degree_stats": (q_graph_degree_stats, SQL_GRAPH_DEGREE_STATS),
        "hybrid_chunk_stats": (q_hybrid_chunk_stats, SQL_HYBRID_CHUNK_STATS),
        "batch_combined_text": (q_batch_combined_text,
                                SQL_BATCH_COMBINED_TEXT),
        "bytes_stripped": (q_bytes_stripped, SQL_BYTES_STRIPPED),
        "pdf_real_roundtrip": (q_pdf_real_roundtrip, SQL_PDF_REAL_ROUNDTRIP),
        "extraction_metrics_by_host": (q_extraction_metrics_by_host,
                                       SQL_EXTRACTION_METRICS),
        "docling_json_pages": (q_docling_json_pages, SQL_DOCLING_JSON_PAGES),
        # relational coverage (5)
        "lineitem_pricing": (q_lineitem_pricing, SQL_LINEITEM_PRICING),
        "orders_per_nation": (q_orders_per_nation, SQL_ORDERS_PER_NATION),
        "orders_no_lineitem": (q_orders_no_lineitem, SQL_ORDERS_NO_LINEITEM),
        "top_orders_per_customer": (q_top_orders_per_customer,
                                    SQL_TOP_ORDERS_PER_CUSTOMER),
        "event_sessions": (q_event_sessions, SQL_EVENT_SESSIONS),
        # text analysis (4)
        "token_stats": (q_token_stats, SQL_TOKEN_STATS),
        "quality_signals": (q_quality_signals, SQL_QUALITY_SIGNALS),
        "langid_votes": (q_langid_votes, SQL_LANGID_VOTES),
        "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
        # exporters + scalar functions (2)
        "cypher_doc_nodes": (q_cypher_doc_nodes, SQL_CYPHER_DOC_NODES),
        "scalar_formatting": (q_scalar_formatting, SQL_SCALAR_FORMATTING),
        # template path: extraction + A1 merge + graph + file loading (5)
        "template_invoice_merge": (q_template_invoice_merge,
                                   SQL_TEMPLATE_INVOICE_MERGE),
        "template_graph_counts": (q_template_graph_counts,
                                  SQL_TEMPLATE_GRAPH_COUNTS),
        "template_one_to_one": (q_template_one_to_one,
                                SQL_TEMPLATE_ONE_TO_ONE),
        "template_file_graph": (q_template_file_graph,
                                SQL_TEMPLATE_FILE_GRAPH),
        "json_response_parse": (q_json_response_parse,
                                SQL_JSON_RESPONSE_PARSE),
        # multimodal (1: typing + transform merged)
        "media_pipeline_stats": (q_media_pipeline_stats,
                                 SQL_MEDIA_PIPELINE_STATS),
        # S1 input-type detection (1)
        "input_type_counts": (q_input_type_counts, SQL_INPUT_TYPE_COUNTS),
        # corpus prep (4: pii/line-dedup/blocklist/url-canonical merged)
        "corpus_prep_stats": (q_corpus_prep_stats, SQL_CORPUS_PREP_STATS),
        "gopher_quality": (q_gopher_quality, SQL_GOPHER_QUALITY),
        "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
        "sampling_splits": (q_sampling_splits, SQL_SAMPLING_SPLITS),
        # sources (1)
        "warc_roundtrip": (q_warc_roundtrip, SQL_WARC_ROUNDTRIP),
        # dedup suite (4: simhash + fingerprints merged)
        "minhash_lsh_dedup": (q_minhash_lsh_dedup, SQL_MINHASH_LSH),
        "dup_clusters": (q_dup_clusters, SQL_DUP_CLUSTERS),
        "signature_stats": (q_signature_stats, SQL_SIGNATURE_STATS),
        "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD),
        # crawl link graph (1: edges + integer PageRank + anchors merged)
        "link_graph_stats": (q_link_graph_stats, SQL_LINK_GRAPH_STATS),
        # crawl page metadata (1)
        "page_metadata": (q_page_metadata, SQL_PAGE_METADATA),
        # similarity (3: exact/lsh/ivf top-k merged; + SemDeDup)
        "ann_topk": (q_ann_topk, SQL_ANN_TOPK),
        "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
        "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
        # streaming (1: windowed + stateful merged)
        "stream_aggregates": (q_stream_aggregates, SQL_STREAM_AGGREGATES),
    }
