"""Graph assembly + cleanup as relational operators.

Reference: `/root/reference/docling_graph/core/converters/graph_converter.py`
(node/edge passes), `/root/reference/docling_graph/core/utils/graph_cleaner.py`
(cleanup), `node_id_registry.py` (deterministic IDs).  The registry's mutable
cross-batch state is eliminated: IDs are pure content hashes, so any
partitioning of the corpus yields identical IDs (SURVEY §1.1).

Node-ID modes:

* ``blake2b`` — byte-parity with the reference (blake2b over the reference's
  canonical ``json.dumps(..., sort_keys=True, default=str)``), computed in a
  vectorized pandas UDF (Spark has no blake2b; SURVEY §2.8 F1);
* ``xxhash64`` — pure JVM (whole-stage codegen) for the 100 TB fast path,
  same format ``Class_<16 hex>``.

Cleanup mapping (SURVEY §2.3-2.4): phantom filter = projection predicate (P4),
content dedup = hash groupBy + broadcast remap join (A3+J2), orphan edges =
two left-semi joins (J1), duplicate edges = dropDuplicates (A4).
"""

from __future__ import annotations

import hashlib
import json
from functools import lru_cache
from typing import Dict, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from ..kernels.fingerprint import entity_fingerprint
from ..schemas import EDGES, NODES

# --------------------------------------------------------------- node ids


@pandas_udf(T.StringType())
def _blake_fingerprint(class_name: pd.Series, payload_json: pd.Series) -> pd.Series:
    out = []
    for cls, payload in zip(class_name, payload_json):
        record = json.loads(payload)
        out.append(entity_fingerprint(record, cls, tuple(record.keys())))
    return pd.Series(out)


@lru_cache(maxsize=None)
def _blake_fingerprint_for(class_name: str, field_names: Tuple[str, ...]):
    """Per-(class, fields) specialised fingerprint UDF.

    The generic path above re-parses and re-serialises every payload
    (json.loads + canonical json.dumps ≈ 8 µs/row — the dominant per-edge
    cost, since edges recompute endpoint ids per row by design: deterministic
    ids instead of an id-assignment shuffle/join is what makes the graph
    assembly embarrassingly parallel at 10^12 rows).  Here the struct field
    order is known at plan-build time, so for payloads that are pure ASCII
    with no escape sequences — the overwhelming case for urls/terms — the
    canonical form (sorted keys, ', '/' : ' separators, ensure_ascii) can be
    rebuilt with C string splits alone: an unescaped ``,"k":`` delimiter
    cannot occur inside a JSON string literal (interior quotes are always
    escaped), and escape-free ASCII value spellings are identical between
    Spark's to_json and json.dumps.  Anything else falls back to the exact
    loads/dumps path.  Differential-tested in tests/test_fingerprint_fast.py.
    """
    blake2b = hashlib.blake2b
    # to_json struct-order delimiters: '{"k1":', ',"k2":', ...
    first = '{"%s":' % field_names[0]
    rest_delims = tuple(',"%s":' % n for n in field_names[1:])
    # canonical (sorted) layout around the struct-order values
    order = sorted(range(len(field_names)), key=lambda i: field_names[i])
    slots: List[Optional[int]] = []  # value index per canonical position
    pieces: List[str] = []           # literal text between values
    keys_sorted = sorted(list(field_names) + ["__class__"])
    buf = "{"
    for pos, key in enumerate(keys_sorted):
        if pos:
            buf += ", "
        buf += '"%s": ' % key
        if key == "__class__":
            buf += '"%s"' % class_name
        else:
            pieces.append(buf)
            slots.append(field_names.index(key))
            buf = ""
    tail = buf + "}"

    def one(payload: str) -> str:
        if payload.isascii() and "\\" not in payload:
            rest = payload[len(first):]
            vals = []
            ok = payload.startswith(first)
            for d in rest_delims:
                if not ok:
                    break
                v, sep, rest = rest.partition(d)
                ok = bool(sep)
                vals.append(v)
            if ok and rest.endswith("}"):
                vals.append(rest[:-1])
                out = []
                for piece, idx in zip(pieces, slots):
                    out.append(piece)
                    out.append(vals[idx])
                out.append(tail)
                return blake2b("".join(out).encode()).hexdigest()[:16]
        record = json.loads(payload)
        return entity_fingerprint(record, class_name, tuple(record.keys()))

    @pandas_udf(T.StringType())
    def specialised(payload_json: pd.Series) -> pd.Series:
        return payload_json.map(one)

    return specialised


def node_id_col(class_name: str, id_cols: Dict[str, Column],
                mode: str = "blake2b") -> Column:
    """Deterministic node id ``Class_<fingerprint>`` from identity columns."""
    if mode == "blake2b":
        payload = F.to_json(
            F.struct(*[c.alias(name) for name, c in id_cols.items()]),
            {"ignoreNullFields": "false"},
        )
        fp = _blake_fingerprint_for(class_name, tuple(id_cols.keys()))(payload)
    elif mode == "xxhash64":
        fp = F.lower(F.lpad(F.hex(F.xxhash64(
            F.lit(class_name), *[c for _, c in sorted(id_cols.items())]
        )), 16, "0"))
    else:
        raise ValueError(f"unknown id mode: {mode}")
    return F.concat(F.lit(class_name + "_"), fp)


def _props(*pairs: Tuple[str, Column]) -> Column:
    entries = []
    for name, col in pairs:
        entries.append(F.lit(name))
        entries.append(col.cast("string"))
    return F.map_from_arrays(
        F.array(*entries[0::2]), F.array(*entries[1::2])
    )


# --------------------------------------------------------- web-corpus graph


def assemble_web_graph(
    extracted: DataFrame,
    chunks: DataFrame,
    doc_mentions: DataFrame,
    id_mode: str = "blake2b",
    add_reverse_edges: bool = False,
) -> Tuple[DataFrame, DataFrame]:
    """Build (nodes, edges) for the document/chunk/term mention graph.

    nodes: WebDocument (one per url), Chunk (one per url+chunk_id),
    Term (one per distinct term+kind).  edges: has_chunk (doc->chunk),
    mentions (doc->term, count property).
    """
    doc_id = node_id_col("WebDocument", {"url": F.col("url")}, id_mode)
    doc_nodes = extracted.select(
        doc_id.alias("id"),
        F.lit("WebDocument").alias("label"),
        F.lit("entity").alias("type"),
        _props(
            ("__class__", F.lit("WebDocument")),
            ("url", F.col("url")),
            ("lang", F.col("lang")),
            ("kind", F.col("kind")),
            ("n_chars", F.length("text")),
        ).alias("properties"),
    )

    chunk_id_col = node_id_col(
        "Chunk", {"url": F.col("url"), "chunk_id": F.col("chunk_id")}, id_mode
    )
    # chunker-dependent properties: the fallback chunker carries batch_id
    # (W1/W2 packing), the hybrid chunker carries the heading path instead
    chunk_props = [
        ("__class__", F.lit("Chunk")),
        ("url", F.col("url")),
        ("chunk_id", F.col("chunk_id")),
        ("start", F.col("start")),
        ("end", F.col("end")),
        ("token_est", F.col("token_est")),
    ]
    if "batch_id" in chunks.columns:
        chunk_props.append(("batch_id", F.col("batch_id")))
    if "heading_path" in chunks.columns:
        chunk_props.append(
            ("heading", F.array_join(F.col("heading_path"), " > "))
        )
    chunk_nodes = chunks.select(
        chunk_id_col.alias("id"),
        F.lit("Chunk").alias("label"),
        F.lit("entity").alias("type"),
        _props(*chunk_props).alias("properties"),
    )

    terms = doc_mentions.groupBy("term", "kind").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_mentions").alias("total_mentions"),
    )
    term_id = node_id_col(
        "Term", {"term": F.col("term"), "kind": F.col("kind")}, id_mode
    )
    term_nodes = terms.select(
        term_id.alias("id"),
        F.lit("Term").alias("label"),
        F.lit("entity").alias("type"),
        _props(
            ("__class__", F.lit("Term")),
            ("term", F.col("term")),
            ("kind", F.col("kind")),
            ("n_docs", F.col("n_docs")),
            ("total_mentions", F.col("total_mentions")),
        ).alias("properties"),
    )
    nodes = doc_nodes.unionByName(chunk_nodes).unionByName(term_nodes)

    has_chunk = chunks.select(
        node_id_col("WebDocument", {"url": F.col("url")}, id_mode).alias("src"),
        node_id_col("Chunk", {"url": F.col("url"),
                              "chunk_id": F.col("chunk_id")}, id_mode).alias("dst"),
        F.lit("has_chunk").alias("label"),
        _props(("chunk_id", F.col("chunk_id"))).alias("properties"),
    )
    mention_edges = doc_mentions.select(
        node_id_col("WebDocument", {"url": F.col("url")}, id_mode).alias("src"),
        node_id_col("Term", {"term": F.col("term"),
                             "kind": F.col("kind")}, id_mode).alias("dst"),
        F.lit("mentions").alias("label"),
        _props(
            ("count", F.col("n_mentions")),
            ("first_chunk_id", F.col("first_chunk_id")),
        ).alias("properties"),
    )
    edges = has_chunk.unionByName(mention_edges)
    if add_reverse_edges:
        edges = edges.unionByName(reverse_edges(edges))
    return nodes, edges


def reverse_edges(edges: DataFrame) -> DataFrame:
    """U1: reverse-edge union (`graph_converter.py:144-153`)."""
    return edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.concat(F.lit("reverse_"), F.col("label")).alias("label"),
        F.col("properties"),
    )


# -------------------------------------------------------------- cleanup ops

_META_KEYS = ("id", "label", "type")


def phantom_filter(nodes: DataFrame) -> DataFrame:
    """P4: keep nodes with at least one meaningful property
    (`graph_cleaner.py:129-175`; meaningful per `:21-62`)."""
    meaningful = F.exists(
        F.map_values(
            F.map_filter("properties", lambda k, _v: ~k.isin(*_META_KEYS))
        ),
        lambda v: v.isNotNull() & (F.length(F.trim(v)) > 0),
    )
    return nodes.filter(meaningful)


def dedup_nodes_exact(nodes: DataFrame) -> DataFrame:
    """U4: one row per node id (IDs are content-deterministic, so attrs of
    same-id rows are identical by construction — keep any)."""
    return nodes.dropDuplicates(["id"])


def content_hash_col(nodes: DataFrame) -> Column:
    """A3 content hash over non-meta, non-null properties (JVM-side analogue
    of `graph_cleaner.py:265-283` — self-consistent within this table)."""
    cleaned = F.map_filter(
        "properties", lambda k, v: ~k.isin(*_META_KEYS) & v.isNotNull()
    )
    entries = F.array_sort(F.transform(
        F.map_entries(cleaned), lambda e: F.concat(e.key, F.lit("\x1f"), e.value)
    ))
    return F.xxhash64(F.col("label"), F.array_join(entries, ""))


def dedup_nodes_by_content(
    nodes: DataFrame, edges: DataFrame
) -> Tuple[DataFrame, DataFrame]:
    """A3+J2: merge content-identical nodes (canonical = min id) and redirect
    edges through a broadcast remap join."""
    hashed = nodes.withColumn("__h", content_hash_col(nodes))
    canon = hashed.groupBy("__h").agg(F.min("id").alias("__canon"))
    keep = (
        hashed.join(canon, "__h")
        .filter(F.col("id") == F.col("__canon"))
        .drop("__h", "__canon")
    )
    remap = (
        hashed.join(canon, "__h")
        .filter(F.col("id") != F.col("__canon"))
        .select(F.col("id").alias("__dup"), F.col("__canon"))
    )
    remap_b = F.broadcast(remap)
    redirected = (
        edges
        .join(remap_b.withColumnRenamed("__dup", "src_dup")
                     .withColumnRenamed("__canon", "src_canon"),
              F.col("src") == F.col("src_dup"), "left")
        .join(remap_b.withColumnRenamed("__dup", "dst_dup")
                     .withColumnRenamed("__canon", "dst_canon"),
              F.col("dst") == F.col("dst_dup"), "left")
        .select(
            F.coalesce("src_canon", "src").alias("src"),
            F.coalesce("dst_canon", "dst").alias("dst"),
            "label", "properties",
        )
        .filter(F.col("src") != F.col("dst"))  # no redirect self-loops
    )
    return keep, redirected


def drop_orphan_edges(nodes: DataFrame, edges: DataFrame,
                      broadcast_ids: bool = False) -> DataFrame:
    """J1: left-semi join on both endpoints (`graph_cleaner.py:218-237`).

    ``broadcast_ids=True`` broadcasts the (narrow) node-id set so the edge
    relation — typically 10-20× larger — never shuffles: both semi-joins
    become map-side hash probes.  Right default whenever the id set fits the
    driver (document graphs: ids ≈ docs + chunks + a bounded term
    vocabulary); at id-set sizes beyond broadcast, leave False and AQE picks
    the shuffle strategy.
    """
    ids = nodes.select("id")
    if broadcast_ids:
        ids = F.broadcast(ids)
    return (
        edges.join(ids, edges.src == ids.id, "left_semi")
        .join(ids, edges.dst == ids.id, "left_semi")
    )


def orphan_edge_count(nodes: DataFrame, edges: DataFrame) -> int:
    """Validation variant (anti-join count, `graph_cleaner.py:325-331`)."""
    ids = nodes.select("id")
    bad_src = edges.join(ids, edges.src == ids.id, "left_anti")
    bad_dst = edges.join(ids, edges.dst == ids.id, "left_anti")
    return bad_src.count() + bad_dst.count()


def dedup_edges(edges: DataFrame) -> DataFrame:
    """A4: one edge per (src, dst, label) (`graph_cleaner.py:239-263`)."""
    return edges.dropDuplicates(["src", "dst", "label"])


def clean_graph(nodes: DataFrame, edges: DataFrame,
                content_dedup: bool = False,
                edges_distinct: bool = False,
                nodes_distinct: bool = False,
                referential_integrity: bool = False
                ) -> Tuple[DataFrame, DataFrame]:
    """Full cleanup chain in reference order (`graph_cleaner.py:76-127`).

    The reference cleans because LLM extractions are messy: duplicate nodes,
    duplicate edges, dangling endpoints.  A *constructed* graph (the web
    pipeline: ids derived deterministically from the same rows that emit the
    nodes) satisfies those invariants by construction, and at corpus scale
    each skipped pass is a full shuffle of a 10⁷-10¹⁰-row relation for zero
    effect — so every pass can be declared unnecessary by the caller:

    * ``edges_distinct=True``  — skip the duplicate-edge pass (A4): edge
      sets built by groupBy/unique-row projection contain no duplicates.
    * ``nodes_distinct=True``  — skip the node-dedup pass (U4): one node
      row per id by construction.
    * ``referential_integrity=True`` — skip the orphan-edge semi-joins
      (J1): every endpoint id provably exists.  Use
      `validate_web_graph` to CHECK the invariants instead of silently
      enforcing them (validation is an aggregation — cheap — where
      enforcement is a join — expensive).
    """
    nodes = phantom_filter(nodes)
    if not nodes_distinct:
        nodes = dedup_nodes_exact(nodes)
    if content_dedup:
        nodes, edges = dedup_nodes_by_content(nodes, edges)
    if not referential_integrity:
        edges = drop_orphan_edges(nodes, edges)
    if not edges_distinct:
        edges = dedup_edges(edges)
    return nodes, edges


def validate_web_graph(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """One-row validation summary of the cleanup invariants — the check-only
    counterpart of `clean_graph` for constructed graphs (reference
    validation: `graph_cleaner.py:307-362`, A9 collision check
    `node_id_registry.py:124-134`).

    Aggregations, not joins where possible, and fused into three jobs
    instead of seven (each count/distinct/anti-join was a full pass over the
    persisted relation):

      1. node invariants at fingerprint grain — node ids embed their
         fingerprint (id = "<Class>_<fp>"), so per-fingerprint distinct-id
         counts sum to the global distinct-id count, and the A9 collision
         check is countDistinct(label) at the same grain;
      2. edge totals + duplicates from one groupBy over the edge key;
      3. orphan endpoints from a single anti-join of the unioned (src, dst)
         endpoint relation against the narrow id set.
    """
    fp = F.substring_index(F.col("id"), "_", -1)
    node_row = (
        nodes.select(fp.alias("fingerprint"), "id", "label")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n"),
             F.countDistinct("id").alias("d"),
             F.countDistinct("label").alias("c"))
        .agg(F.sum("n").alias("n_nodes"),
             F.sum("d").alias("n_distinct_ids"),
             F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
             .alias("n_fp_collisions"))
        .collect()[0]
    )
    edge_row = (
        edges.groupBy("src", "dst", "label")
        .agg(F.count("*").alias("n"))
        .agg(F.sum("n").alias("n_edges"),
             (F.sum("n") - F.count("*")).alias("n_dup_edges"))
        .collect()[0]
    )
    ids = nodes.select("id")
    endpoints = edges.select(F.col("src").alias("id")).unionAll(
        edges.select(F.col("dst").alias("id"))
    )
    orphans = endpoints.join(ids, "id", "left_anti").count()
    spark = nodes.sparkSession
    return spark.createDataFrame(
        [(node_row["n_nodes"], node_row["n_distinct_ids"],
          node_row["n_nodes"] - node_row["n_distinct_ids"],
          edge_row["n_edges"], edge_row["n_dup_edges"],
          orphans, node_row["n_fp_collisions"])],
        "n_nodes long, n_distinct_ids long, n_dup_nodes long, n_edges long, "
        "n_dup_edges long, n_orphan_endpoints long, n_fp_collisions long",
    )


def fingerprint_collision_check(nodes: DataFrame) -> DataFrame:
    """A9: a fingerprint must map to a single class
    (`node_id_registry.py:124-134`).  Returns offending fingerprints."""
    fp = F.substring_index(F.col("id"), "_", -1)
    return (
        nodes.select(fp.alias("fingerprint"), F.col("label"))
        .groupBy("fingerprint")
        .agg(F.countDistinct("label").alias("n_classes"))
        .filter(F.col("n_classes") > 1)
    )


# ------------------------------------------------------------ template path

_FLAT_SCHEMA = T.StructType([
    T.StructField("row_kind", T.StringType(), False),   # node | edge
    T.StructField("id", T.StringType(), True),
    T.StructField("label", T.StringType(), True),
    T.StructField("type", T.StringType(), True),
    T.StructField("src", T.StringType(), True),
    T.StructField("dst", T.StringType(), True),
    T.StructField("properties",
                  T.MapType(T.StringType(), T.StringType()), True),
])


def dedup_nodes_keep_first(nodes: DataFrame,
                           order_col: str = "__ord") -> DataFrame:
    """U4 with the reference's first-model-wins registration semantics
    (`graph_converter.py:206-209` ``visited_ids``: a node id already created
    by an earlier model is skipped, so the EARLIEST model's properties stick).

    Needed whenever ``graph_id_fields`` identity makes two models with
    different property subsets produce the same node id (the one-to-one
    strategy's per-page partial models).  Canonical order = ``order_col``
    ascending (the reference's page/model ordinal).  Rows with equal
    (id, order) must be identical — true by construction, since a single
    model emits each id at most once.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy(F.col(order_col).asc())
    return (
        nodes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _flat_rows(nodes, edges, extra: Optional[dict] = None) -> List[dict]:
    """Kernel (nodes, edges) output -> flat row dicts (shared by both
    template-record paths)."""
    rows: List[dict] = []
    for n in nodes:
        props = {
            k: (v if isinstance(v, str) else json.dumps(v, default=str))
            for k, v in n.items()
            if k not in ("id", "label", "type") and v is not None
        }
        rows.append({
            "row_kind": "node", "id": n["id"], "label": n["label"],
            "type": n.get("type", "entity"), "src": None,
            "dst": None, "properties": props, **(extra or {}),
        })
    for s, d, lbl in edges:
        rows.append({
            "row_kind": "edge", "id": None, "label": lbl,
            "type": None, "src": s, "dst": d, "properties": {},
            **(extra or {}),
        })
    return rows


def graph_from_template_records(
    merged: DataFrame,
    registry,
    root_class: str,
    add_reverse_edges: bool = False,
    order_col: Optional[str] = None,
    group_col: str = "url",
) -> Tuple[DataFrame, DataFrame]:
    """Template records (url, record_json) -> global (nodes, edges).

    Flattening (the reference's recursive node/edge passes) runs per document
    in an Arrow-batched UDF via the parity-tested kernel; global cleanup is
    then relational (IDs are content hashes, so cross-document duplicates
    collapse exactly like the reference's shared registry would).

    ``order_col=None`` is the many-to-one path: one merged record per url,
    same-id rows are identical, flattening is a stateless mapInPandas and
    cleanup = :func:`clean_graph`.

    ``order_col`` set is the one-to-one path (`strategies/one_to_one.py`:
    one partial model per page, never merged).  The reference converts a
    document's model list sequentially with a SHARED ``visited_ids``, and
    its visited check runs BEFORE recursion (`graph_converter.py:206-209`)
    — so a duplicate root prunes its whole subtree: later models with the
    same root id contribute nothing, not even new children (their dangling
    edges die in the orphan pass).  To reproduce that exactly, each
    document's records are flattened in ONE kernel call (ordered by
    ``order_col``, shared visited set) via groupBy(``group_col``)
    .applyInPandas; across documents, same-id nodes are resolved
    deterministically first-group-wins (:func:`dedup_nodes_keep_first` on
    ``group_col``) — the cross-document extension the single-document
    reference never faces.
    """
    from ..kernels.graph_build import clean_graph as kernel_clean
    from ..kernels.graph_build import flatten_models

    if order_col is None:

        def flatten_partition(iterator):
            for pdf in iterator:
                rows: List[dict] = []
                for js in pdf["record_json"]:
                    try:
                        record = json.loads(js)
                    except Exception:
                        continue
                    nodes, edges = flatten_models(
                        [(root_class, record)], registry, add_reverse_edges
                    )
                    nodes, edges = kernel_clean(nodes, edges)
                    rows.extend(_flat_rows(nodes, edges))
                yield pd.DataFrame(
                    rows, columns=[f.name for f in _FLAT_SCHEMA.fields]
                )

        flat = merged.select("record_json").mapInPandas(
            flatten_partition, _FLAT_SCHEMA
        )
        nodes = flat.filter(F.col("row_kind") == "node").select(
            "id", "label", "type", "properties"
        )
        edges = flat.filter(F.col("row_kind") == "edge").select(
            "src", "dst", "label", "properties"
        )
        # global cleanup across documents
        return clean_graph(nodes, edges)

    # ---- one-to-one path: per-document sequential conversion -------------
    schema = T.StructType(
        list(_FLAT_SCHEMA.fields)
        + [T.StructField("__grp", T.StringType(), True)]
    )

    def flatten_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__ord")
        records = []
        for js in pdf["record_json"]:
            try:
                records.append((root_class, json.loads(js)))
            except Exception:
                continue
        nodes, edges = flatten_models(records, registry, add_reverse_edges)
        nodes, edges = kernel_clean(nodes, edges)
        grp = str(pdf["__grp"].iloc[0])
        return pd.DataFrame(
            _flat_rows(nodes, edges, {"__grp": grp}),
            columns=[f.name for f in schema.fields],
        )

    flat = (
        merged.select(
            F.col(group_col).cast("string").alias("__grp"),
            F.col(order_col).cast("long").alias("__ord"),
            "record_json",
        )
        .groupBy("__grp")
        .applyInPandas(flatten_group, schema)
    )
    nodes = flat.filter(F.col("row_kind") == "node").select(
        "id", "label", "type", "properties", "__grp"
    )
    edges = flat.filter(F.col("row_kind") == "edge").select(
        "src", "dst", "label", "properties"
    )
    nodes = dedup_nodes_keep_first(nodes, "__grp").drop("__grp")
    edges = edges.dropDuplicates(["src", "dst", "label"])
    edges = drop_orphan_edges(nodes, edges, broadcast_ids=True)
    return nodes, edges
