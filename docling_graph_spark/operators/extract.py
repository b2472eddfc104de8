"""Main-content extraction stage (SURVEY §2.11, north-star core).

One Arrow-batched pandas UDF pass over the binary payload column:
per row it sniffs the payload kind (magic bytes — the Spark analogue of the
reference's input-type detection, `/root/reference/docling_graph/core/input/
types.py:39-105`) and routes to the HTML boilerplate stripper or the PDF
parser, then plans the document's chunks and aggregates its mentions
(`make_extract_chunk_udf`).  Validation failures become an ``error``
value, never dropped rows (the reference's zero-data-loss contract).

Everything upstream/downstream of the UDF stays JVM-side; the UDF touches
only the columns it needs (html), so Catalyst prunes the rest at scan time
when the caller selects accordingly.
"""

from __future__ import annotations

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
from ..schemas import (CHUNK_SPAN_LITE, EXTRACTION_RESULT,
                       HYBRID_CHUNK_LITE, MENTION)


def _sniff_is_mp4_video(b: bytes) -> bool:
    """True only for ISO BMFF brands the media sniffer types as video
    (HEIC/AVIF image brands keep their existing routing)."""
    from ..kernels.media_stub import sniff_media_type

    return sniff_media_type(b) == "video/mp4"


def _route_payload(payload, transport):
    """Magic-byte routing of one payload to its text extractor: returns
    (text, spans, bytes_stripped, kind, error)."""
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


def _byte_offsets(text: str, spans):
    """UTF-8 byte offsets of ``(start, end)`` code-point spans of ``text``,
    in ascending, non-overlapping order (both planners emit them so).
    Equal to the code-point offsets on ASCII text (one C-level isascii
    scan); otherwise one incremental encode pass over the document."""
    if text.isascii():
        return spans
    out = []
    pos_c = pos_b = 0
    for start, end in spans:
        pos_b += len(text[pos_c:start].encode("utf-8"))
        b0 = pos_b
        pos_b += len(text[start:end].encode("utf-8"))
        out.append((b0, pos_b))
        pos_c = end
    return out


def make_extract_chunk_udf(max_tokens: int, context_limit: int,
                           merge_threshold: float, tokenizer_name=None,
                           chunker: str = "fallback"):
    """The extraction UDF: per document, route the payload, plan its
    chunks and aggregate its mentions, in one Python pass and one Arrow
    round trip.

    Extraction, chunking and mention counting are per-document pure
    functions, so one pandas UDF runs them all where the document row
    lives; `extracted`, `chunks` and `doc_mentions` are JVM projections of
    its one output relation.  ``chunker`` selects the planner:

    * ``"fallback"`` — the reference raw-text chunker plus W1/W2 batching
      (`chunk.batched_spans`); each chunk carries its ``batch_id``;
    * ``"hybrid"`` — the heading-aware HybridChunker analogue
      (`kernels.hybrid_chunker.hybrid_chunk`) over the extractor's block
      spans, with ``merge_peers``; each chunk carries its
      ``heading_path``.

    Chunks ship offsets, not text (schemas.CHUNK_SPAN_LITE /
    HYBRID_CHUNK_LITE): both planners emit chunk strings that are exact
    slices ``text[start:end]``, which `chunk.chunks_from_combined` rebuilds
    JVM-side from the UTF-8 byte offsets ``b_start``/``b_end``, so the
    chunk text never crosses the Arrow boundary a second time.

    The ``mentions`` array is the document's mention aggregate
    (kernels/mentions.py) over the chunk texts: ``doc_mentions`` is a
    projection of the same relation, with no regex scan over rebuilt
    chunk text and no shuffle.

    Only documents passing the P1 filter are chunked: no error, and a
    character outside ``str.isspace`` — the rule `extractable` states
    JVM-side."""
    from ..kernels import batching as k_batch
    from ..kernels import hybrid_chunker as k_hybrid
    from ..kernels.mentions import doc_mention_rows
    from .chunk import batched_spans

    available = k_batch.available_tokens(context_limit)

    # planners: one document -> [(chunk_id, start, end, text, token_est,
    # the chunker's own field)]
    def plan_fallback(text, spans, count):
        return [(s.chunk_id, s.start, s.end, s.text, cost, batch_id)
                for s, cost, batch_id in batched_spans(
                    text, max_tokens, available, merge_threshold, count)]

    def plan_hybrid(text, spans, count):
        blocks = [k_hybrid.Block(b["start"], b["end"], b["tag"])
                  for b in spans]
        return [(c.chunk_id, c.start, c.end, c.text, c.token_est,
                 list(c.heading_path))
                for c in k_hybrid.hybrid_chunk(text, blocks, max_tokens,
                                               token_counter=count)]

    if chunker == "fallback":
        plan, chunk_type, own = plan_fallback, CHUNK_SPAN_LITE, "batch_id"
    elif chunker == "hybrid":
        plan, chunk_type, own = plan_hybrid, HYBRID_CHUNK_LITE, "heading_path"
    else:
        raise ValueError(f"unknown chunker {chunker!r}")
    schema = T.StructType(
        list(EXTRACTION_RESULT.fields)
        + [T.StructField("chunks", T.ArrayType(chunk_type), True),
           T.StructField("mentions", T.ArrayType(MENTION), True)]
    )

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
            # P1: str.strip removes exactly the str.isspace characters
            if err is None and text.strip():
                planned = plan(text, spans, count)
                offs = _byte_offsets(text, [(p[1], p[2]) for p in planned])
                chunks = [
                    {"chunk_id": cid, "start": start, "end": end,
                     "b_start": b0, "b_end": b1, "token_est": tokens,
                     own: value}
                    for (cid, start, end, _, tokens, value), (b0, b1)
                    in zip(planned, offs)
                ]
                # (term, kind, n_mentions, first_chunk_id) tuples: Arrow
                # takes them as schemas.MENTION structs as they are
                mentions = doc_mention_rows((p[0], p[3]) for p in planned)
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
                      tokenizer_name=None,
                      chunker: str = "fallback") -> DataFrame:
    """web_pages -> combined extracted+chunks+mentions relation
    (url, warc_ts, lang, text, spans, bytes_stripped, kind, error, chunks,
    mentions); ``chunker`` selects the chunk planner
    (`make_extract_chunk_udf`)."""
    udf = make_extract_chunk_udf(max_tokens, context_limit, merge_threshold,
                                 tokenizer_name, chunker)
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


# Python's str.isspace set (29 code points) as a Java regex class: a text
# is extractable when it holds a character outside it, the rule the
# extraction UDF applies in-process with str.strip
_NOT_SPACE = (r"[^\t\n\x0B\f\r\x1C-\x20\x85\xA0\u1680\u2000-\u200A"
              r"\u2028\u2029\u202F\u205F\u3000]")


def extractable():
    """The P1 predicate: no error, and text that is not empty or
    whitespace-only, whitespace being Python's ``str.isspace``.  The one
    JVM-side definition shared by `filter_extractable`, the chunk rebuild
    and the run's ``docs_extracted`` counter."""
    return F.col("error").isNull() & F.col("text").rlike(_NOT_SPACE)


def filter_extractable(extracted: DataFrame) -> DataFrame:
    """P1: drop rows with empty/whitespace-only extracted text
    (`/root/reference/docling_graph/core/input/handlers.py:72-82`)."""
    return extracted.filter(extractable())
