"""Structured-Streaming incremental ingestion: offset-checkpointed drains,
no reprocessing across restarts, convergence with the batch pipeline."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from docling_graph_spark.checkpointing import CheckpointedRun
from docling_graph_spark.pipeline import PipelineConfig, run_pipeline
from docling_graph_spark.sources.web_pages import synthesize_web_pages
from docling_graph_spark.streaming.incremental import (
    assemble_accumulated_graph, finalize_link_graph, run_incremental,
)

CFG = PipelineConfig(id_mode="xxhash64")
CHUNK_COLS = ("url", "chunk_id", "start", "end", "text", "token_est",
              "batch_id")


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_incremental_stream_drains_and_converges(spark, sf_smoke_dir, tmp_path):
    pages = synthesize_web_pages(spark, sf_smoke_dir)
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    half1 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    half2 = pages.filter(F.crc32(F.col("url")) % 2 == 1)

    # crawl batch 1 arrives
    half1.write.mode("append").parquet(inbox)
    run_incremental(spark, inbox, out, ckpt, CFG)
    extracted = spark.read.parquet(f"{out}/extracted")
    n1 = extracted.count()
    assert n1 == half1.count()

    # re-trigger with nothing new: stream offsets prevent reprocessing
    run_incremental(spark, inbox, out, ckpt, CFG)
    assert spark.read.parquet(f"{out}/extracted").count() == n1

    # crawl batch 2 arrives; only the new files are drained
    half2.write.mode("append").parquet(inbox)
    run_incremental(spark, inbox, out, ckpt, CFG)
    final = spark.read.parquet(f"{out}/extracted")
    assert final.count() == pages.count()
    assert final.select("url").distinct().count() == pages.count()

    # converges with the one-shot batch pipeline
    oneshot = run_pipeline(pages, CFG)
    s_urls = {r[0] for r in final.select("url").collect()}
    b_urls = {r[0] for r in oneshot.extracted.select("url").collect()}
    assert s_urls == b_urls
    assert (_rows(spark.read.parquet(f"{out}/chunks"), CHUNK_COLS)
            == _rows(oneshot.chunks, CHUNK_COLS))
    assert (spark.read.parquet(f"{out}/doc_mentions").count()
            == oneshot.doc_mentions.count())

    # downstream graph finalize over the accumulated tables == one-shot graph
    nodes, edges = assemble_accumulated_graph(spark, out, CFG)
    assert ({r[0] for r in nodes.select("id").collect()}
            == {r[0] for r in oneshot.nodes.select("id").collect()})
    assert edges.count() == oneshot.edges.count()
    # persisted as tables under the output root
    assert spark.read.parquet(f"{out}/nodes").count() == nodes.count()

    # duplicate-capture guard: a committed run whose input repeats a url
    # holds two captures of it, and graph finalize refuses them
    dup_out = str(tmp_path / "dup_out")
    few = pages.limit(5).localCheckpoint()
    CheckpointedRun(spark, dup_out, CFG).run(few.unionByName(few.limit(1)))
    with pytest.raises(ValueError, match="multiple captures"):
        assemble_accumulated_graph(spark, dup_out, CFG)


def test_incremental_stream_honors_hybrid_chunker(spark, sf_smoke_dir,
                                                 tmp_path):
    """Micro-batches run the configured chunker: a hybrid-chunker stream
    writes heading-aware chunk rows identical to the one-shot hybrid run,
    and graph finalize over them reproduces the one-shot node set."""
    cfg = PipelineConfig(id_mode="xxhash64", chunker="hybrid")
    pages = synthesize_web_pages(spark, sf_smoke_dir)
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    pages.write.parquet(inbox)
    run_incremental(spark, inbox, out, str(tmp_path / "ckpt"), cfg)

    chunks = spark.read.parquet(f"{out}/chunks")
    assert "heading_path" in chunks.columns
    cols = ("url", "chunk_id", "start", "end", "text", "heading_path",
            "context", "token_est")
    oneshot = run_pipeline(pages, cfg)
    try:
        want = _rows(oneshot.chunks, cols)
        assert want and _rows(chunks, cols) == want
        nodes, _ = assemble_accumulated_graph(spark, out, cfg, write=False)
        assert ({r[0] for r in nodes.select("id").collect()}
                == {r[0] for r in oneshot.nodes.select("id").collect()})
    finally:
        oneshot.unpersist()


@pytest.mark.slow
def test_stream_keeps_newest_capture_once(spark, sf_smoke_dir, tmp_path):
    """Crawl semantics: within a micro-batch the newest capture of a url
    wins; re-crawls of already-ingested urls are skipped on later drains.
    The stream converges with a one-shot batch run over the distinct
    (newest) captures."""
    pages = synthesize_web_pages(spark, sf_smoke_dir)
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: full crawl + older re-captures of half the urls (same url,
    # warc_ts one day earlier, tampered html so a wrong winner is visible)
    older = (pages.filter(F.crc32(F.col("url")) % 2 == 0)
             .withColumn("warc_ts",
                         F.col("warc_ts") - F.expr("INTERVAL 1 DAY"))
             .withColumn("html", F.to_binary(F.lit("<html>stale</html>"),
                                             F.lit("utf-8"))))
    pages.unionByName(older).write.mode("append").parquet(inbox)
    run_incremental(spark, inbox, out, ckpt, CFG)

    extracted = spark.read.parquet(f"{out}/extracted")
    oneshot = run_pipeline(pages, CFG).extracted
    assert extracted.count() == oneshot.count()
    assert extracted.select("url").distinct().count() == extracted.count()
    # newest-wins: kept warc_ts per url matches the original (newer) capture
    got = {(r["url"], r["warc_ts"]) for r in
           extracted.select("url", "warc_ts").collect()}
    want = {(r["url"], r["warc_ts"]) for r in
            oneshot.select("url", "warc_ts").collect()}
    assert got == want

    # batch 2: a fresh re-crawl of already-ingested urls -> all skipped
    (pages.filter(F.crc32(F.col("url")) % 3 == 0)
     .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
     .write.mode("append").parquet(inbox))
    assert run_incremental(spark, inbox, out, ckpt, CFG) == 0
    assert spark.read.parquet(f"{out}/extracted").count() == oneshot.count()


def test_windowed_counts_match_batch_agg(spark, sf_smoke_dir, tmp_path):
    """Watermarked tumbling-window rollup (drained) == batch groupBy."""
    from docling_graph_spark.streaming.windowed import run_windowed_counts

    got = run_windowed_counts(
        spark, f"{sf_smoke_dir}/events.parquet", str(tmp_path / "stage")
    ).collect()

    ev = spark.read.parquet(f"{sf_smoke_dir}/events.parquet")
    want = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"),
                                 "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("long"))
             .alias("value_cents"))
        .orderBy("day", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 1


def test_stateful_user_totals_evolve_across_batches(spark, sf_smoke_dir,
                                                    tmp_path):
    """applyInPandasWithState carries per-key state across micro-batches:
    with 2 input files drained one file per trigger, a user seen in both
    batches gets a second update row whose totals include the first batch."""
    from docling_graph_spark.streaming.windowed import (
        _events_stream_from_parquet, drain_to_memory, user_totals_stateful)

    ev = spark.read.parquet(f"{sf_smoke_dir}/events.parquet")
    stage = str(tmp_path / "stage")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        stage, mode="append")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        stage, mode="append")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        ).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    drain_to_memory(user_totals_stateful(stream), "ut_multi", "update")
    updates = spark.table("ut_multi")

    # at least one user appears in both micro-batches -> two update rows
    multi = updates.groupBy("user_id").count().filter(F.col("count") > 1)
    assert multi.count() > 0

    # last update per user == batch ground truth (state accumulated, not reset)
    final = (
        updates.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("value_cents").alias("value_cents"))
    )
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    assert (final.orderBy("user_id").collect()
            == want.orderBy("user_id").collect())


def test_ivf_knn_recall_vs_brute_force(spark, sf_smoke_dir):
    """IVF with nprobe=2/16 lists finds the true nearest neighbour for most
    queries (approximate index: recall, not exactness, is the contract) and
    is exact whenever the neighbour's list was probed."""
    from docling_graph_spark.operators import ann as op_ann

    emb = spark.read.parquet(f"{sf_smoke_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in op_ann.brute_force_knn(emb, queries, k=1).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in op_ann.ivf_knn(emb, queries, k=1, n_centroids=16,
                                nprobe=2).collect()
    }
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits >= len(exact) // 2, f"recall@1 too low: {hits}/{len(exact)}"


def test_incremental_link_graph_matches_batch(spark, sf_smoke_dir,
                                              tmp_path):
    """Host-edge partials accumulated across two stream drains re-sum to
    exactly the single-batch link graph, and the finalized integer
    PageRank is bit-identical to ranking the batch-computed edges."""
    from docling_graph_spark.operators import linkgraph as op_lg

    pages = synthesize_web_pages(spark, sf_smoke_dir)
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    half1 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    half2 = pages.filter(F.crc32(F.col("url")) % 2 == 1)
    half1.write.mode("append").parquet(inbox)
    run_incremental(spark, inbox, out, ckpt, CFG, link_edges=True)
    half2.write.mode("append").parquet(inbox)
    run_incremental(spark, inbox, out, ckpt, CFG, link_edges=True)

    edges, ranks = finalize_link_graph(spark, out)
    want_edges = sorted(map(tuple, op_lg.host_link_graph(pages).collect()))
    assert sorted(map(tuple, edges.collect())) == want_edges
    want_ranks = sorted(map(tuple, op_lg.pagerank(
        op_lg.host_link_graph(pages)).collect()))
    assert sorted(map(tuple, ranks.collect())) == want_ranks


@pytest.mark.slow
def test_link_edges_exactly_once_despite_failed_extraction(spark,
                                                           tmp_path):
    """A url whose extraction fails the extractable filter must still
    contribute its link edges exactly once across recaptures (the edge
    ledger is independent of the extracted table)."""
    html = (b'<html><body><a href="https://t.example.com/">x</a>'
            b'</body></html>')
    import datetime

    ts1 = datetime.datetime(2024, 1, 1)
    ts2 = datetime.datetime(2024, 1, 2)
    row = ("https://src.example.com/empty", html, "", "en")
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, html binary, text string, lang string"
    spark.createDataFrame([row], schema).withColumn(
        "warc_ts", F.lit(ts1)).write.mode("append").parquet(inbox)
    run_incremental(spark, inbox, out, ckpt, CFG, link_edges=True)
    # recapture of the same url arrives in a later crawl file
    spark.createDataFrame([row], schema).withColumn(
        "warc_ts", F.lit(ts2)).write.mode("append").parquet(inbox)
    run_incremental(spark, inbox, out, ckpt, CFG, link_edges=True)

    edges, _ = finalize_link_graph(spark, out, write=False)
    got = {(r["src_host"], r["dst_host"]): r["n_links"]
           for r in edges.collect()}
    assert got == {("src.example.com", "t.example.com"): 1}


@pytest.mark.slow
def test_deleted_url_recaptured_counts_its_links_once(spark, tmp_path):
    """A delete hides a url's host-edge partials with its other rows: after
    drain, delete, recapture and drain, the url's link counts once."""
    import datetime

    html = (b'<html><body><p>' + b"plenty of words here " * 10
            + b'<a href="https://t.example.com/">x</a></p></body></html>')
    url = "https://s.example.com/a"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, html binary, text string, lang string"
    for day in (1, 2):  # the first capture, then its recapture
        spark.createDataFrame([(url, html, None, "en")], schema).withColumn(
            "warc_ts", F.lit(datetime.datetime(2024, 1, day))
        ).write.mode("append").parquet(inbox)
        assert run_incremental(spark, inbox, out, ckpt, CFG,
                               link_edges=True) == 1
        if day == 1:
            CheckpointedRun(spark, out, CFG).delete_urls([url])

    edges, _ = finalize_link_graph(spark, out, write=False)
    assert [tuple(r) for r in edges.collect()] == [
        ("s.example.com", "t.example.com", 1)]


def _graph_rows(df):
    """Every row of a node or edge relation, ``properties`` included."""
    return sorted(tuple(sorted(v.items()) if isinstance(v, dict) else v
                        for v in r) for r in df.collect())


@pytest.mark.parametrize("blocked", ["chunks", "host_edges"])
def test_crashed_batch_replays_exactly_once(spark, sf_smoke_dir, tmp_path,
                                            blocked):
    """A drain that fails in one stage append of its micro-batch (the
    path is a plain file) commits nothing, and the graph and link graph
    read empty.  Draining again with the same checkpoint replays the
    batch, and every url then has exactly one extracted row with its
    chunk and mention rows: the graph equals the one-shot graph, the
    finalized host edges equal the batch link graph, and compact()
    leaves every read unchanged."""
    from docling_graph_spark.operators import linkgraph as op_lg

    pages = synthesize_web_pages(spark, sf_smoke_dir).filter(
        F.crc32("url") % 4 == 0)
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages.write.parquet(inbox)
    os.makedirs(out)
    with open(f"{out}/{blocked}", "w") as fh:
        fh.write("not a table")
    with pytest.raises(StreamingQueryException):
        run_incremental(spark, inbox, out, ckpt, CFG, link_edges=True)
    os.remove(f"{out}/{blocked}")
    # before the replay nothing is committed, whether or not the crashed
    # batch left a host_edges write behind: graph mode reads empty tables
    nodes, _ = assemble_accumulated_graph(spark, out, CFG, write=False)
    assert nodes.count() == 0
    assert finalize_link_graph(spark, out, write=False)[0].count() == 0
    n = run_incremental(spark, inbox, out, ckpt, CFG, link_edges=True)

    ck = CheckpointedRun(spark, out, CFG)
    oneshot = run_pipeline(pages, CFG)
    try:
        urls = sorted(r.url for r in oneshot.extracted.collect())
        want = (_rows(oneshot.chunks, CHUNK_COLS),
                _rows(oneshot.doc_mentions, oneshot.doc_mentions.columns),
                _graph_rows(oneshot.nodes), _graph_rows(oneshot.edges))
    finally:
        oneshot.unpersist()
    want_links = sorted(map(tuple, op_lg.host_link_graph(pages).collect()))

    def check():
        assert sorted(r.url for r in ck.extracted().collect()) == urls
        mentions = ck.committed("doc_mentions")
        nodes, edges = assemble_accumulated_graph(spark, out, CFG,
                                                  write=False)
        assert (_rows(ck.committed("chunks"), CHUNK_COLS),
                _rows(mentions, mentions.columns),
                _graph_rows(nodes), _graph_rows(edges)) == want
        links, _ = finalize_link_graph(spark, out, write=False)
        assert sorted(map(tuple, links.collect())) == want_links

    check()
    assert n == len(urls) > 0
    reclaimed = ck.compact()
    assert reclaimed[blocked] == 0 and sum(reclaimed.values()) > 0
    check()


def test_unstamped_stage_table_is_refused(spark, sf_smoke_dir, tmp_path):
    """A root whose stage tables carry no run stamp (written before stream
    batches committed through CheckpointedRun) is refused by every reader,
    naming the table, instead of being read whole."""
    pages = synthesize_web_pages(spark, sf_smoke_dir).limit(10)
    root = str(tmp_path / "old_stream")
    res = run_pipeline(pages, CFG)
    try:
        for stage in ("extracted", "chunks", "doc_mentions", "metrics"):
            getattr(res, stage).write.parquet(f"{root}/{stage}")
    finally:
        res.unpersist()
    ck = CheckpointedRun(spark, root, CFG)
    with pytest.raises(ValueError, match="'extracted'"):
        ck.extracted()
    with pytest.raises(ValueError, match="'chunks'"):
        ck.committed("chunks")
    with pytest.raises(ValueError, match="'extracted'"):
        assemble_accumulated_graph(spark, root, CFG, write=False)


def test_session_windows_merge_and_split(spark, tmp_path):
    """Native session_window: events <= 30 min apart merge (including the
    exact-boundary touch), a > 30 min gap splits, and totals are exact."""
    import datetime as dt

    from docling_graph_spark.streaming import windowed as w

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, user, minutes, value):
        return (i, t0 + dt.timedelta(minutes=minutes), user, "click",
                float(value), "{}")

    rows = [
        # user 1: three events 10 min apart -> ONE session of 3
        ev(0, 1, 0, 1.0), ev(1, 1, 10, 2.0), ev(2, 1, 20, 3.0),
        # user 1: 31 min later -> new session
        ev(3, 1, 51, 4.0),
        # user 2: exactly 30 min apart -> windows touch -> merge
        ev(4, 2, 0, 5.0), ev(5, 2, 30, 6.0),
    ]
    src = str(tmp_path / "events_src")
    spark.createDataFrame(rows, w.EVENTS_DDL).coalesce(1) \
        .write.parquet(src)
    stream = w.stream_from_staged(spark, src)
    w.drain_to_memory(w.session_event_rollup(stream),
                      "sess_unit", "complete")
    got = {(r["user_id"], r["n_events"], r["duration_us"], r["value_cents"])
           for r in spark.table("sess_unit").collect()}
    assert got == {
        (1, 3, 20 * 60 * 1_000_000, 600),
        (1, 1, 0, 400),
        (2, 2, 30 * 60 * 1_000_000, 1100),
    }


def test_transform_with_state_surface_and_logic(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: the query plan constructs
    against a real stream, and the processor's state logic is driven
    directly with fake typed-state handles (executing the query needs
    google.protobuf — absent in this container, so the drain is gated;
    applyInPandasWithState remains the fully-driven stateful path)."""
    import pandas as pd

    from docling_graph_spark.streaming import windowed as w

    # 1. plan construction against a genuine streaming relation
    src = str(tmp_path / "tws_src")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .limit(10).coalesce(1).write.parquet(src)
    stream = w.stream_from_staged(spark, src)
    out = w.user_telemetry_tws(stream)
    assert out.isStreaming
    assert out.columns == ["user_id", "n_events", "value_cents",
                           "max_cents", "n_event_types"]

    # 2. processor logic with fake handles (same call surface)
    class FakeValue:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeMap:
        def __init__(self):
            self.m = {}

        def containsKey(self, k):
            return k in self.m

        def getValue(self, k):
            return self.m[k]

        def updateValue(self, k, v):
            self.m[k] = v

        def keys(self):
            return iter(self.m)

    class FakeHandle:
        def getValueState(self, name, schema):
            return FakeValue()

        def getMapState(self, name, ks, vs):
            return FakeMap()

    proc = w.UserTelemetryProcessor()
    proc.init(FakeHandle())
    batch1 = pd.DataFrame({"event_type": ["click", "click", "buy"],
                           "value": [1.0, 2.0, 3.0]})
    [out1] = proc.handleInputRows((7,), iter([batch1]), None)
    assert out1.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 3, "value_cents": 600,
        "max_cents": 300, "n_event_types": 2}
    batch2 = pd.DataFrame({"event_type": ["view"], "value": [0.5]})
    [out2] = proc.handleInputRows((7,), iter([batch2]), None)
    assert out2.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 4, "value_cents": 650,
        "max_cents": 300, "n_event_types": 3}

    # 3. the gated drain: run e2e iff the wire-protocol dep exists
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return  # documented container limitation
    w.drain_to_memory(out, "tws_e2e", "update")
    got = {r["user_id"]: r for r in spark.table("tws_e2e").collect()}
    assert all(r["n_events"] > 0 for r in got.values())


def test_rocksdb_state_store_matches_default_backend(spark, tmp_path):
    """The production state backend: the same stateful query drained under
    RocksDBStateStoreProvider (+ changelog checkpointing) across SEVERAL
    micro-batches produces exactly the final state of the default
    HDFS-backed run — backend choice never changes results, which is what
    lets a 100 TB job pick RocksDB for state larger than executor heap."""
    from docling_graph_spark.streaming import windowed as w

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / "stage")
    ev.repartition(4).write.parquet(stage)  # 4 files -> 4 triggers

    def drain(name):
        stream = w.stream_from_staged(spark, stage, max_files_per_trigger=1)
        w.drain_to_memory(w.user_totals_stateful(stream), name, "update")
        # update mode appends one row per (user, trigger): final state =
        # the row with the max n_events per user
        import pyspark.sql.functions as F
        t = spark.table(name)
        return {
            r["user_id"]: (r["n_events"], r["value_cents"])
            for r in t.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "value_cents")).alias("s"))
            .select("user_id", "s.n_events", "s.value_cents").collect()
        }

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    default_provider = spark.conf.get(provider_key)
    baseline = drain("ssback_default")
    try:
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled", "true")
        rocks = drain("ssback_rocks")
    finally:
        spark.conf.set(provider_key, default_provider)
    assert rocks == baseline
    assert len(rocks) == 15 and all(n > 0 for n, _ in rocks.values())


def test_stream_stream_interval_join_semantics(spark, tmp_path):
    """Stream-stream attribution join: clicks strictly before the purchase
    and within the window attribute; later or out-of-window clicks don't;
    other users' clicks never do."""
    import datetime as dt

    from docling_graph_spark.streaming import windowed as w

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def ev(i, user, minutes, etype, value=1.0):
        return (i, t0 + dt.timedelta(minutes=minutes), user, etype,
                float(value), "{}")

    rows = [
        ev(0, 1, 0, "click", 2.0),       # in window (59 min before)
        ev(1, 1, 30, "click", 3.0),      # in window
        ev(2, 1, 59, "purchase", 10.0),
        ev(3, 1, 61, "click", 4.0),      # AFTER purchase -> excluded
        ev(4, 1, -5, "click", 5.0),      # 64 min before -> out of window
        ev(5, 2, 58, "click", 6.0),      # other user -> excluded
    ]
    src = str(tmp_path / "attr_src")
    spark.createDataFrame(rows, w.EVENTS_DDL).coalesce(1).write.parquet(src)
    stream = w.stream_from_staged(spark, src)
    w.drain_to_memory(w.purchase_attribution_join(stream),
                      "attr_unit", "append")
    got = {(r["user_id"], r["c_cents"], r["p_cents"], r["lag_us"])
           for r in spark.table("attr_unit").collect()}
    assert got == {
        (1, 200, 1000, 59 * 60 * 1_000_000),
        (1, 300, 1000, 29 * 60 * 1_000_000),
    }


def test_dedup_within_watermark_drops_and_horizon_expires(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned end-to-end: a
    duplicate arriving within the horizon is dropped; an old-timestamp
    replay after the watermark passed is discarded as LATE data (so it
    cannot resurface either way); and a redelivery carrying a FRESH
    event time after the key's state was evicted SURVIVES — the
    bounded-state trade vs plain dropDuplicates."""
    import datetime as dt
    import glob
    import shutil

    from docling_graph_spark.streaming import windowed as w

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minutes, value):
        return (i, t0 + dt.timedelta(minutes=minutes), 1, "click",
                float(value), "{}")

    src = str(tmp_path / "dedup_src")

    def stage(name, rows):
        part = str(tmp_path / f"part_{name}")
        spark.createDataFrame(rows, w.EVENTS_DDL).coalesce(1) \
            .write.mode("overwrite").parquet(part)
        for i, f in enumerate(sorted(glob.glob(f"{part}/part-*"))):
            shutil.copy(f, f"{src}/{name}_{i}.parquet")

    import os
    os.makedirs(src, exist_ok=True)
    # file 1: events 0 and 1, plus an in-batch duplicate of 0
    stage("f1", [ev(0, 0, 1.0), ev(0, 0, 1.0), ev(1, 10, 2.0)])
    # file 2: late-ish duplicate of 1 (within horizon) + advancing event
    stage("f2", [ev(1, 12, 2.0), ev(2, 60, 3.0)])
    # file 3: watermark is now 55 min (60 - 5); event 0's state (ts 0
    # + 5 min delay) is long evicted.  An old-timestamp replay (ts 0 <
    # wm) is dropped as late data; a fresh-timestamp redelivery (ts 61
    # >= wm, same event_id) has no state to match and SURVIVES.
    stage("f3", [ev(0, 0, 1.0), ev(0, 61, 9.0)])

    stream = w.stream_from_staged(spark, src, max_files_per_trigger=1)
    w.drain_to_memory(
        w.dedup_events_within_watermark(stream, delay="5 minutes"),
        "dedup_unit", "append")
    got = sorted((r["event_id"], r["value"])
                 for r in spark.table("dedup_unit").collect())
    # 0 kept once (in-batch dup dropped), 1 kept once (cross-file dup
    # within horizon dropped), 2 kept, 0's late replay dropped, 0's
    # fresh-time redelivery kept after eviction
    assert got == [(0, 1.0), (0, 9.0), (1, 2.0), (2, 3.0)]


def test_dedup_within_watermark_long_horizon_equals_distinct(spark,
                                                             sf_smoke_dir,
                                                             tmp_path):
    """With a horizon beyond the corpus span, draining the doubled
    stream recovers the batch relation exactly."""
    from pyspark.sql import functions as F

    from docling_graph_spark.streaming import windowed as w

    src = str(tmp_path / "dup_stage")
    batch = spark.read.parquet(f"{sf_smoke_dir}/events.parquet").coalesce(1)
    batch.write.mode("overwrite").parquet(src)
    batch.write.mode("append").parquet(src)
    stream = w.stream_from_staged(spark, src)
    w.drain_to_memory(w.dedup_events_within_watermark(stream),
                      "dedup_full", "append")
    got = spark.table("dedup_full")
    assert got.count() == batch.count()
    assert got.select(F.sum("event_id")).first()[0] == \
        batch.select(F.sum("event_id")).first()[0]
