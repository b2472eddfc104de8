"""Main-content extraction stage (SURVEY §2.11, north-star core).

One Arrow-batched pandas UDF pass over the binary payload column:
per row it sniffs the payload kind (magic bytes — the Spark analogue of the
reference's input-type detection, `/root/reference/docling_graph/core/input/
types.py:39-105`) and routes to the HTML boilerplate stripper or the PDF
parser.  Validation failures become an ``error`` value, never dropped rows
(the reference's zero-data-loss contract).

Everything upstream/downstream of the UDF stays JVM-side; the UDF touches
only the columns it needs (html), so Catalyst prunes the rest at scan time
when the caller selects accordingly.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels.html_main import extract_main_content
from ..kernels.ooxml_parse import extract_ooxml_text, is_ooxml
from ..kernels.pdf_stub import extract_pdf_text, is_pdf
from ..kernels.rtf_parse import (extract_rtf_text,
                                 extract_subtitle_text, is_rtf,
                                 is_srt, is_webvtt)
from ..schemas import CHUNK_SPAN_LITE, EXTRACTION_RESULT, MENTION


def _sniff_is_mp4_video(b: bytes) -> bool:
    """True only for ISO BMFF brands the media sniffer types as video
    (HEIC/AVIF image brands keep their existing routing)."""
    from ..kernels.media_stub import sniff_media_type

    return sniff_media_type(b) == "video/mp4"


def _route_payload(payload, transport):
    """Shared magic-byte routing for both extraction UDFs: returns
    (text, spans, bytes_stripped, kind, error).  One function so the
    chunked and unchunked paths can never drift apart."""
    text, spans, nbytes, kind, err = "", [], 0, "empty", None
    try:
        if payload is None or len(payload) == 0:
            err = "empty payload"
        elif is_pdf(bytes(payload)):
            kind = "pdf"
            text, err = extract_pdf_text(bytes(payload))
            nbytes = len(payload) - len(text.encode("utf-8"))
        elif is_ooxml(bytes(payload)):
            # Office/ODF/EPUB documents (reference converter scope):
            # ZIP+XML extraction, kernels/ooxml_parse.py
            text, kind, err = extract_ooxml_text(bytes(payload))
            nbytes = len(payload) - len(text.encode("utf-8"))
        elif is_rtf(bytes(payload)):
            kind = "rtf"
            text = extract_rtf_text(bytes(payload))
            nbytes = len(payload) - len(text.encode("utf-8"))
        elif is_webvtt(bytes(payload)) or is_srt(bytes(payload)):
            kind = "subtitle"
            text = extract_subtitle_text(bytes(payload))
            nbytes = len(payload) - len(text.encode("utf-8"))
        elif bytes(payload)[:4] == b"\x1aE\xdf\xa3":
            # WebM/Matroska video rows: the corpus text is the
            # subtitle track (S_TEXT/UTF8 / S_TEXT/WEBVTT cue text);
            # a container without one is a routed row, not HTML noise
            from ..kernels.webm_codec import webm_subtitle_text

            kind = "video"      # malformed EBML stays a video row
            text = webm_subtitle_text(bytes(payload))
            if text:
                kind = "subtitle"
                nbytes = len(payload) - len(text.encode("utf-8"))
            else:
                kind = "video"
                err = "video container carries no subtitle text"
        elif len(payload) >= 12 and bytes(payload)[4:8] == b"ftyp" \
                and _sniff_is_mp4_video(bytes(payload)):
            # MP4 video rows: the corpus text is the tx3g timed-text
            # track (3GPP captions), mirroring the WebM S_TEXT route
            from ..kernels.mp4_parse import mp4_subtitle_text

            text = mp4_subtitle_text(bytes(payload))
            if text:
                kind = "subtitle"
                nbytes = len(payload) - len(text.encode("utf-8"))
            else:
                kind = "video"
                err = "video container carries no subtitle text"
        else:
            kind = "html"
            result = extract_main_content(bytes(payload), transport)
            text = result.text
            spans = [
                {"start": s.start, "end": s.end, "tag": s.tag}
                for s in result.spans
            ]
            nbytes = result.bytes_stripped
    except Exception as exc:  # zero-data-loss: record, don't drop
        err = f"extraction failed: {exc}"
    return text, spans, nbytes, kind, err


@pandas_udf(EXTRACTION_RESULT)
def extract_payload(html: pd.Series, ctype: pd.Series) -> pd.DataFrame:
    texts, spans_col, stripped, kinds, errors = [], [], [], [], []
    for payload, transport in zip(html, ctype):
        text, spans, nbytes, kind, err = _route_payload(payload,
                                                        transport)
        texts.append(text)
        spans_col.append(spans)
        stripped.append(nbytes)
        kinds.append(kind)
        errors.append(err)
    return pd.DataFrame({
        "text": texts,
        "spans": spans_col,
        "bytes_stripped": stripped,
        "kind": kinds,
        "error": errors,
    })


def make_extract_chunk_udf(max_tokens: int, context_limit: int,
                           merge_threshold: float, tokenizer_name=None):
    """Fused extract+chunk+mention UDF: one Python pass, one Arrow round
    trip.

    Extraction and chunking are both per-document pure functions, so running
    them as two pandas-UDF stages pays the JVM↔Python plumbing twice AND
    ships the full extracted text across the Arrow boundary twice (out of
    the extract stage, back into the chunk stage) — measured ~40-80 µs/doc
    of pure overhead per stage against a ~4 µs chunk kernel.  The fused UDF
    emits the extraction result plus the chunk array in a single pass;
    `extracted` and `chunks` remain separate relations downstream as cheap
    JVM projections of the one materialized combined relation.

    The ``mentions`` array is the document's mention aggregate
    (kernels/mentions.py) over the chunk texts, computed here because this
    is where the text already is: ``doc_mentions`` is then a projection of
    the same relation, with no regex scan over rebuilt chunk text and no
    shuffle.

    Chunking applies exactly where the two-stage pipeline would have: rows
    passing the P1 filter (no error, non-whitespace text — PDF errors always
    carry empty text, kernels/pdf_stub.py:40-59, so the in-UDF gate is
    equivalent).  Byte-identical outputs to the two-stage path by
    construction (same kernels, same inputs); enforced by the oracle gate.
    """
    from ..kernels import batching as k_batch
    from ..kernels.mentions import doc_mention_rows
    from .chunk import batched_spans

    schema = T.StructType(
        list(EXTRACTION_RESULT.fields)
        + [T.StructField("chunks", T.ArrayType(CHUNK_SPAN_LITE), True),
           T.StructField("mentions", T.ArrayType(MENTION), True)]
    )
    available = k_batch.available_tokens(context_limit)

    @pandas_udf(schema)
    def extract_and_chunk_payload(html: pd.Series,
                                  ctype: pd.Series) -> pd.DataFrame:
        from ..kernels.tokenization import get_token_counter

        count = get_token_counter(tokenizer_name)
        texts, spans_col, stripped, kinds, errors, chunk_col, men_col = \
            [], [], [], [], [], [], []
        for payload, transport in zip(html, ctype):
            text, spans, nbytes, kind, err = _route_payload(payload,
                                                            transport)
            chunks, mentions = [], []
            if err is None and text.strip():
                planned = batched_spans(text, max_tokens, available,
                                        merge_threshold, count)
                # no "text" field: chunk strings are exact slices
                # text[start:end] (schemas.CHUNK_SPAN_LITE) — the JVM
                # rebuilds them by BYTE-slicing the binary form, so the
                # full chunk text never crosses the Arrow boundary a
                # second time.  Byte offsets: equal to char offsets on
                # ASCII text (one C-level isascii scan); otherwise one
                # incremental encode pass over the document.
                if text.isascii():
                    offs = [(s.start, s.end) for s, _, _ in planned]
                else:
                    offs = []
                    pos_c = pos_b = 0
                    for s, _, _ in planned:
                        pos_b += len(text[pos_c:s.start].encode("utf-8"))
                        b0 = pos_b
                        pos_b += len(text[s.start:s.end].encode("utf-8"))
                        offs.append((b0, pos_b))
                        pos_c = s.end
                chunks = [
                    {
                        "chunk_id": s.chunk_id,
                        "start": s.start,
                        "end": s.end,
                        "b_start": b0,
                        "b_end": b1,
                        "token_est": cost,
                        "batch_id": batch_id,
                    }
                    for (s, cost, batch_id), (b0, b1) in zip(planned, offs)
                ]
                # (term, kind, n_mentions, first_chunk_id) tuples: Arrow
                # takes them as schemas.MENTION structs as they are
                mentions = doc_mention_rows(
                    (s.chunk_id, s.text) for s, _, _ in planned)
            texts.append(text)
            spans_col.append(spans)
            stripped.append(nbytes)
            kinds.append(kind)
            errors.append(err)
            chunk_col.append(chunks)
            men_col.append(mentions)
        return pd.DataFrame({
            "text": texts,
            "spans": spans_col,
            "bytes_stripped": stripped,
            "kind": kinds,
            "error": errors,
            "chunks": chunk_col,
            "mentions": men_col,
        })

    return extract_and_chunk_payload


def _transport_col(df: DataFrame):
    """HTTP Content-Type hint for charset sniffing: present on relations
    coming from the WARC reader, NULL (no hint) otherwise."""
    if "content_type" in df.columns:
        return F.col("content_type")
    return F.lit(None).cast("string")


def _lang_col():
    """Input lang, or the stopword-vote detector over the extracted text
    when the input has none (crawl records carry no language column) —
    coalesce is lazily evaluated in codegen, so rows that arrive with a
    lang never pay the detection regexes.  Same fill on both the batch and
    streaming ingestion paths, so lang-grouped stage tables agree
    regardless of which mode ingested a file."""
    from .textprep import detect_lang

    return F.coalesce(F.col("lang"), detect_lang(F.col("x.text"))).alias("lang")


def extract_and_chunk(web_pages: DataFrame, max_tokens: int,
                      context_limit: int, merge_threshold: float,
                      tokenizer_name=None) -> DataFrame:
    """web_pages -> combined extracted+chunks+mentions relation
    (url, warc_ts, lang, text, spans, bytes_stripped, kind, error, chunks,
    mentions)."""
    udf = make_extract_chunk_udf(max_tokens, context_limit, merge_threshold,
                                 tokenizer_name)
    out = web_pages.withColumn("x", udf(F.col("html"), _transport_col(web_pages)))
    return out.select(
        "url", "warc_ts", _lang_col(),
        F.col("x.text").alias("text"),
        F.col("x.spans").alias("spans"),
        F.col("x.bytes_stripped").alias("bytes_stripped"),
        F.col("x.kind").alias("kind"),
        F.col("x.error").alias("error"),
        F.col("x.chunks").alias("chunks"),
        F.col("x.mentions").alias("mentions"),
    )


def extract_main_text(web_pages: DataFrame) -> DataFrame:
    """web_pages -> extracted docs
    (url, warc_ts, lang, text, spans, bytes_stripped, kind, error)."""
    out = web_pages.withColumn(
        "x", extract_payload(F.col("html"), _transport_col(web_pages)))
    return out.select(
        "url", "warc_ts", _lang_col(),
        F.col("x.text").alias("text"),
        F.col("x.spans").alias("spans"),
        F.col("x.bytes_stripped").alias("bytes_stripped"),
        F.col("x.kind").alias("kind"),
        F.col("x.error").alias("error"),
    )


def make_template_extractor_udf(extractor_factory):
    """Scalar Arrow UDF applying a FieldRuleExtractor to a text column,
    returning the template-shaped record as canonical JSON.

    The extractor is built lazily once per executor process (regex
    compilation amortized across all Arrow batches).
    """
    import json

    state: dict = {}

    @pandas_udf("string")
    def extract_record(text: pd.Series) -> pd.Series:
        if "x" not in state:
            state["x"] = extractor_factory()
        ex = state["x"]
        return pd.Series(
            [json.dumps(ex.extract(t or ""), sort_keys=True, default=str)
             for t in text]
        )

    return extract_record


PARSED_RESPONSE = T.StructType([
    T.StructField("json", T.StringType(), True),
    T.StructField("status", T.StringType(), False),
])


def make_json_response_parser_udf(aggressive: bool = True):
    """Arrow UDF over a model-output-shaped text column: markdown-fence
    strip, JSON isolation, truncation repair (kernels/json_repair.py, F10).
    Returns struct(json: canonical-JSON-or-null, status)."""
    import json as _json

    from ..kernels.json_repair import parse_response

    @pandas_udf(PARSED_RESPONSE)
    def parse_batch(content: pd.Series) -> pd.DataFrame:
        out_json, out_status = [], []
        for c in content:
            parsed, status = parse_response(c, aggressive=aggressive)
            out_json.append(
                None if parsed is None
                else _json.dumps(parsed, sort_keys=True)
            )
            out_status.append(status)
        return pd.DataFrame({"json": out_json, "status": out_status})

    return parse_batch


def extractable():
    """The P1 predicate: no error, and text that is not empty once its
    spaces are trimmed.  The one definition shared by `filter_extractable`,
    the chunk rebuild and the run's ``docs_extracted`` counter."""
    return F.col("error").isNull() & (F.length(F.trim(F.col("text"))) > 0)


def filter_extractable(extracted: DataFrame) -> DataFrame:
    """P1: drop rows with empty/whitespace-only extracted text
    (`/root/reference/docling_graph/core/input/handlers.py:72-82`)."""
    return extracted.filter(extractable())
