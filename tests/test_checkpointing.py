"""Resumable checkpointed runs: left_anti restart, idempotent re-run,
convergence with the one-shot pipeline."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from docling_graph_spark.checkpointing import (STAGES, CheckpointedRun,
                                               pending_inputs)
from docling_graph_spark.pipeline import PipelineConfig, run_pipeline
from docling_graph_spark.sources.web_pages import synthesize_web_pages

CFG = PipelineConfig(id_mode="xxhash64")


@pytest.fixture(scope="module")
def pages(spark, sf_smoke_dir):
    return synthesize_web_pages(spark, sf_smoke_dir)


def test_pending_inputs_no_checkpoint(spark, pages, tmp_path):
    assert CheckpointedRun(spark, str(tmp_path / "nope"))._done_keys() is None
    assert pending_inputs(pages, None) is pages


def test_expire_snapshots_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last=0 would index sorted(seqs)[-0] (the OLDEST snapshot) and
    a negative value counts from the wrong end: both are refused, as
    Iceberg's retain_last refuses them."""
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_keep"), CFG)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            run.expire_snapshots(keep_last=bad)


@pytest.mark.slow
def test_resume_processes_only_missing(spark, pages, tmp_path):
    root = str(tmp_path / "ckpt")
    first = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    run = CheckpointedRun(spark, root, CFG)

    n1 = run.run(first)
    assert n1 == first.count()

    # restart over the FULL input: only the other half is processed
    n2 = run.run(pages)
    assert n1 + n2 == pages.count()

    # third run is a no-op
    assert run.run(pages) == 0

    # converges to the one-shot result: same extracted urls, same graph ids
    oneshot = run_pipeline(pages, CFG)
    ck_urls = {r[0] for r in run.extracted().select("url").collect()}
    os_urls = {r[0] for r in oneshot.extracted.select("url").collect()}
    assert ck_urls == os_urls

    ck_nodes = {r[0] for r in run.nodes().select("id").collect()}
    os_nodes = {r[0] for r in oneshot.nodes.select("id").collect()}
    assert ck_nodes == os_nodes

    ck_edges = run.edges().count()
    assert ck_edges == oneshot.edges.count()

    # run manifest recorded one row per run() call
    runs = spark.read.json(f"{root}/runs")
    assert runs.count() == 3
    assert {r["processed_docs"] for r in runs.collect()} == {n1, n2, 0}


@pytest.mark.slow
def test_crashed_run_is_invisible_and_retried(spark, pages, tmp_path):
    """Iceberg-style commit semantics on parquet: stage appends from a run
    that died before its manifest write (the commit point) must be invisible
    to readers AND to the resume anti-join, so the retry reprocesses those
    documents instead of silently losing their downstream tables."""
    root = str(tmp_path / "ckpt_crash")
    run = CheckpointedRun(spark, root, CFG)

    half = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    n1 = run.run(half)
    assert n1 == half.count()

    # simulate a crash: append every stage table for the other half but
    # die before the manifest commit
    other = pages.filter(F.crc32(F.col("url")) % 2 != 0)
    res = run_pipeline(other.localCheckpoint(eager=True), CFG).persist()
    run._append_stages(res, "deadbeef-crashed")
    res.unpersist()

    # orphan rows are invisible: readers show only the committed half
    committed_urls = {r[0] for r in run.extracted().select("url").collect()}
    assert committed_urls == {r[0] for r in half.select("url").collect()}

    # the retry reprocesses exactly the crashed documents...
    n2 = run.run(pages)
    assert n2 == other.count()

    # ...and the final state equals the one-shot result despite the
    # physically duplicated (orphaned) rows on disk
    oneshot = run_pipeline(pages, CFG)
    assert {r[0] for r in run.extracted().select("url").collect()} == \
        {r[0] for r in oneshot.extracted.select("url").collect()}
    assert {r[0] for r in run.nodes().select("id").collect()} == \
        {r[0] for r in oneshot.nodes.select("id").collect()}
    assert run.edges().count() == oneshot.edges.count()

    # raw table really does contain the orphans (the dead weight a
    # compaction/expire pass would reclaim) — proves the filter is doing
    # the work, not an accidental overwrite
    raw = spark.read.parquet(f"{root}/extracted")
    assert raw.count() == pages.count() + other.count()


@pytest.mark.slow
def test_first_run_crash_is_invisible_and_retried(spark, pages, tmp_path):
    """A run that dies during the FIRST commit — some stage appends landed,
    no manifest exists yet — must leave nothing visible: no manifest means
    nothing is committed.  The retry reprocesses every page and the graph
    equals the one-shot result instead of silently losing the mentions."""
    root = str(tmp_path / "ckpt_first_crash")
    run = CheckpointedRun(spark, root, CFG)
    res = run_pipeline(pages.localCheckpoint(eager=True), CFG).persist()
    run._append_stages(res, "crashed")
    res.unpersist()
    # the crash hit before the doc_mentions append
    shutil.rmtree(run._path("doc_mentions"))

    assert run.extracted().count() == 0
    assert run.run(pages) == pages.count()

    oneshot = run_pipeline(pages, CFG)
    assert {r[0] for r in run.nodes().select("id").collect()} == \
        {r[0] for r in oneshot.nodes.select("id").collect()}
    assert run.edges().count() == oneshot.edges.count()


def test_stage_with_only_crash_temp_files_counts_as_empty(spark, tmp_path):
    """A crash inside a stage's first append leaves only the writer's
    _temporary files: resume and compaction treat the stage as having no
    data instead of failing to read it."""
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_tmp_only"), CFG)
    run._manifest("", 0, 0.0)
    for stage in ("extracted", "chunks"):
        spark.range(3).write.parquet(
            f"{run._path(stage)}/_temporary/0/task_0")
    assert run._done_keys() is None
    assert run.compact() == {}


@pytest.mark.slow
def test_compact_reclaims_only_orphans(spark, pages, tmp_path):
    """compact() rewrites stage tables without uncommitted-run orphans; a
    fully-committed checkpoint is untouched (zero reclaimed)."""
    root = str(tmp_path / "ckpt_compact")
    run = CheckpointedRun(spark, root, CFG)
    half = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    run.run(half)

    assert set(run.compact().values()) == {0}

    other = pages.filter(F.crc32(F.col("url")) % 2 != 0)
    res = run_pipeline(other.localCheckpoint(eager=True), CFG).persist()
    run._append_stages(res, "deadbeef-crashed")
    n_orphan_extracted = res.extracted.count()
    res.unpersist()

    reclaimed = run.compact()
    assert reclaimed["extracted"] == n_orphan_extracted
    assert all(v > 0 for v in reclaimed.values())

    # physical rows now equal the committed view; readers unchanged
    raw = spark.read.parquet(f"{root}/extracted")
    assert raw.count() == half.count()
    assert {r[0] for r in run.extracted().select("url").collect()} == \
        {r[0] for r in half.select("url").collect()}

    # resume after compaction still reprocesses the crashed half
    assert run.run(pages) == other.count()


def test_commit_writes_right_sized_files(spark, pages, tmp_path):
    """One commit writes files sized by its data, not by the shuffle
    width: every stage lands no more files than the session's
    parallelism (a persisted shuffle output is coalesced like any
    other), in one flat write directory."""
    import os

    from docling_graph_spark.checkpointing import _data_file_stats

    root = str(tmp_path / "ckpt_layout")
    CheckpointedRun(spark, root, CFG).run(pages)
    cap = spark.sparkContext.defaultParallelism
    for stage in STAGES:
        assert _data_file_stats(spark, f"{root}/{stage}")[0] <= cap, stage
        for w in os.scandir(f"{root}/{stage}"):
            assert all(f.is_file() for f in os.scandir(w.path)), w.path


@pytest.mark.slow
def test_compact_files_binpacks_fragmented_table(spark, pages, tmp_path):
    """Many small incremental runs fragment the stage tables into at
    least one file per run; compact_files rewrites them toward the target
    size (file count drops, rows/values unchanged, no partition column)."""
    from docling_graph_spark.checkpointing import _data_file_stats

    root = str(tmp_path / "ckpt_files")
    run = CheckpointedRun(spark, root, CFG)
    # six tiny runs -> at least 6 data files per stage table, past
    # compact_files' threshold for a one-file target
    for k in range(6):
        run.run(_slice(pages, k, 6))

    before_rows = run.extracted().count()
    before_chunks = spark.read.parquet(f"{root}/chunks").count()
    n_before = _data_file_stats(spark, f"{root}/extracted")[0]
    assert n_before >= 6

    packed = run.compact_files(target_bytes=256 << 20)
    assert "extracted" in packed  # fragmented table got rewritten
    n_after = _data_file_stats(spark, f"{root}/extracted")[0]
    assert n_after < n_before

    # content unchanged, and no partition column appears
    assert run.extracted().count() == before_rows
    assert spark.read.parquet(f"{root}/chunks").count() == before_chunks
    assert "bucket" not in run.extracted().columns
    assert "bucket" not in spark.read.parquet(f"{root}/extracted").columns
    # resume protocol still sees everything as done
    assert run.run(pages) == 0
    # idempotent: a second pass finds nothing fragmented enough to rewrite
    assert run.compact_files(target_bytes=256 << 20) == {}


@pytest.mark.slow
def test_time_travel_snapshots(spark, pages, tmp_path):
    """as_of pins reads to a snapshot: the first run's rows only, whether
    addressed by sequence number or by run id."""
    root = str(tmp_path / "ckpt_tt")
    first = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    run = CheckpointedRun(spark, root, CFG)
    n1 = run.run(first)
    n2 = run.run(pages)
    assert n1 and n2

    snaps = run.snapshots().collect()
    assert [int(s.seq) for s in snaps] == [1, 2]

    # latest view sees both runs
    assert run.extracted().count() == n1 + n2
    # snapshot 1 sees exactly the first run, by seq and by run id
    assert run.extracted(as_of=1).count() == n1
    assert run.extracted(as_of=snaps[0].run_id).count() == n1
    first_urls = {r.url for r in first.select("url").collect()}
    tt_urls = {r.url for r in
               run.extracted(as_of=1).select("url").collect()}
    assert tt_urls == first_urls
    # graph relations time-travel too
    assert run.nodes(as_of=1).count() < run.nodes().count()

    # an uncommitted / unknown run id must raise, not silently un-pin
    with pytest.raises(ValueError):
        run.extracted(as_of="nonexistent-run")


def _seqs(run):
    return [int(s.seq) for s in run.snapshots().select("seq").collect()]


def _slice(pages, k, n):
    """The pages whose url hash is ``k`` mod ``n``: a fixed subset, unlike
    ``limit``, which may pick other rows each time it is evaluated."""
    return pages.filter(F.crc32(F.col("url")) % n == k)


def test_committed_seqs_ignores_null_seq(spark):
    """A manifest row without a seq (a record read from a damaged file)
    commits nothing: no snapshot, no visible rows."""
    from docling_graph_spark.checkpointing import (
        MANIFEST_SCHEMA, RUN_ID_COL, _committed_seqs)

    blank = {f.name: None for f in MANIFEST_SCHEMA}
    runs = spark.createDataFrame(
        [{**blank, "run_id": "a", "status": "committed", "seq": 1},
         {**blank, "run_id": "b", "status": "committed"}], MANIFEST_SCHEMA)
    assert [r[RUN_ID_COL] for r in _committed_seqs(runs).collect()] == ["a"]


@pytest.mark.parametrize("local", [True, False])
def test_create_exclusive_never_replaces_a_file(spark, tmp_path, monkeypatch,
                                                local):
    """The commit primitive: the first create wins and a second create of
    the same path reports the loss without touching the file — through
    the O_EXCL open on the local filesystem and through Hadoop's
    ``create(path, overwrite=false)`` elsewhere."""
    from docling_graph_spark import checkpointing

    monkeypatch.setattr(checkpointing, "_is_local", lambda fs: local)
    path = tmp_path / "runs" / "00000000000000000001.json"
    assert checkpointing._create_exclusive(spark, str(path), b"first\n")
    assert not checkpointing._create_exclusive(spark, str(path), b"second\n")
    assert path.read_bytes() == b"first\n"


def test_racing_creates_have_one_winner(spark, tmp_path):
    """Two threads creating the same manifest file at once: exactly one
    wins every round.  Hadoop's local ``create(path, overwrite=false)``
    checks, then opens, and lets both win in some rounds."""
    import threading

    from docling_graph_spark.checkpointing import _create_exclusive

    for i in range(50):
        path = str(tmp_path / "runs" / f"{i:020d}.json")
        start = threading.Barrier(2)
        wins = []

        def create(tag):
            start.wait()
            if _create_exclusive(spark, path, tag):
                wins.append(tag)

        threads = [threading.Thread(target=create, args=(t,))
                   for t in (b"a\n", b"b\n")]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(wins) == 1, i
        assert open(path, "rb").read() == wins[0]


@pytest.mark.slow
def test_stale_seq_commit_lands_at_a_fresh_seq(spark, pages, tmp_path,
                                               monkeypatch):
    """Two writers that read the same max(seq) must not share a seq: the
    second commit finds ``runs/<seq>.json`` taken and retries above it.
    Both runs stay committed, at distinct seqs, and both are visible."""
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_race"), CFG)
    n1 = run.run(_slice(pages, 0, 20))
    # the second writer read the manifest before the first one committed
    monkeypatch.setattr(run, "_next_seq", lambda: 1)
    n2 = run.run(_slice(pages, 0, 10))
    assert n1 and n2

    assert _seqs(run) == [1, 2]
    assert run.snapshots().select("run_id").distinct().count() == 2
    assert run.extracted().count() == n1 + n2
    assert run.extracted(as_of=1).count() == n1


@pytest.mark.slow
def test_zero_length_manifest_file_is_skipped(spark, pages, tmp_path):
    """A crash between the create and the write of a manifest file leaves
    ``runs/<seq>.json`` empty: that seq commits nothing, and the next
    commit lands above it instead of retrying it forever."""
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_empty"), CFG)
    n1 = run.run(_slice(pages, 0, 20))
    (tmp_path / "ckpt_empty" / "runs" / f"{2:020d}.json").touch()

    assert _seqs(run) == [1]
    assert run.extracted().count() == n1
    n2 = run.run(_slice(pages, 0, 10))
    assert n2 > 0
    assert _seqs(run) == [1, 3]
    assert run.extracted().count() == n1 + n2


@pytest.mark.slow
def test_failed_append_leaves_run_uncommitted(spark, pages, tmp_path,
                                              monkeypatch):
    """One stage append fails: run() raises only after every other append
    finished, writes no manifest row, and a retry once the path is fixed
    commits every page exactly once."""
    import os

    from docling_graph_spark import checkpointing

    finished = []
    stage_writer = checkpointing._stage_writer

    class Tracked:
        def __init__(self, writer):
            self.writer = writer

        def parquet(self, path):
            self.writer.parquet(path)
            # the table of the write directory ``<table>/_write=run-<id>``
            finished.append(os.path.basename(os.path.dirname(path)))

    monkeypatch.setattr(
        checkpointing, "_stage_writer",
        lambda df, mode: Tracked(stage_writer(df, mode)))

    root = tmp_path / "ckpt_fail"
    root.mkdir()
    (root / "doc_mentions").write_text("not a table")
    sample = _slice(pages, 0, 10)
    run = CheckpointedRun(spark, str(root), CFG)
    with pytest.raises(Exception):
        run.run(sample)
    assert sorted(finished) == sorted(
        s for s in checkpointing.STAGES if s != "doc_mentions")
    assert not (root / "runs").exists()
    assert run.extracted().count() == 0

    (root / "doc_mentions").unlink()
    n = run.run(sample)
    assert n > 0
    urls = [r.url for r in run.extracted().select("url").collect()]
    assert len(urls) == len(set(urls)) == n
    assert run.edges().count() > 0
    assert _seqs(run) == [1]
    assert run.run(sample) == 0


@pytest.mark.slow
def test_part_file_manifest_stays_readable(spark, pages, tmp_path):
    """A manifest written as a Spark ``part-*.json`` (the earlier commit
    layout) reads next to seq-named files: snapshots order them all by
    seq, and a commit after an expiry takes a fresh seq."""
    from docling_graph_spark.checkpointing import MANIFEST_SCHEMA

    root = str(tmp_path / "ckpt_legacy")
    run = CheckpointedRun(spark, root, CFG)
    blank = {f.name: None for f in MANIFEST_SCHEMA}
    spark.createDataFrame([{
        **blank, "run_id": "legacy", "kind": "append",
        "status": "committed", "branch": "", "seq": 1,
        "processed_docs": 0, "wall_seconds": 0.0,
    }], MANIFEST_SCHEMA).write.mode("append").json(f"{root}/runs")

    third = [_slice(pages, k, 30) for k in range(3)]
    n1 = run.run(third[0])
    n2 = run.run(third[1])
    snaps = run.snapshots().collect()
    assert [int(s.seq) for s in snaps] == [1, 2, 3]
    assert snaps[0].run_id == "legacy"

    assert run.expire_snapshots(keep_last=1)["expired"] == 2
    assert (tmp_path / "ckpt_legacy/runs" / f"expire-{3:020d}.json").exists()
    n3 = run.run(third[2])
    assert n3 > 0
    assert _seqs(run) == [3, 4]
    assert run.extracted().count() == n1 + n2 + n3


def test_processed_counts_the_extracted_rows(spark, tmp_path):
    """run() counts what lands in ``extracted``: error rows and a
    whitespace-only page (no error, empty text) are parsed but not
    processed, in the return value and in the manifest's
    ``processed_docs`` alike."""
    import datetime

    from docling_graph_spark import schemas

    ts = datetime.datetime(2024, 1, 1)
    good = [(f"https://a.example.com/ok{i}", ts,
             b"<html><body><p>" + b"good content here %d " % i * 20
             + b"</p></body></html>", None, "en") for i in range(4)]
    bad = [
        ("https://a.example.com/pdfjunk", ts, b"%PDF-1.4 garbage", None, "en"),
        ("https://a.example.com/null", ts, None, None, "en"),
        ("https://a.example.com/blank", ts,
         b"<html><body><p>  \n\t  </p></body></html>", None, "en"),
    ]
    pages = spark.createDataFrame(good + bad, schema=schemas.WEB_PAGES)
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_processed"), CFG)
    n = run.run(pages)
    assert n == run.extracted().count() == len(good)
    assert [r.processed_docs for r in run.snapshots().collect()] == [n]


def test_graph_resolves_visibility_once(spark, pages, tmp_path,
                                        monkeypatch):
    """graph() reads the manifest once for its three stages, instead of
    once per stage, and a time-travel graph() does the same."""
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_vis_once"), CFG)
    assert run.run(_slice(pages, 0, 50))
    calls = []
    runs = CheckpointedRun._runs

    def counting(self):
        calls.append(1)
        return runs(self)

    monkeypatch.setattr(CheckpointedRun, "_runs", counting)
    for as_of in (None, 1):
        calls.clear()
        nodes, edges = run.graph(as_of)
        assert len(calls) == 1
    assert nodes.where(F.col("label") == "WebDocument").count() \
        == run.extracted().count()


def _graph_rows(df):
    """Every row of a node or edge relation, ``properties`` included, as
    a sorted list of hashable tuples."""
    return sorted(tuple(sorted(v.items()) if isinstance(v, dict) else v
                        for v in r) for r in df.collect())


@pytest.mark.slow
@pytest.mark.parametrize("content_dedup", [False, True])
def test_graph_across_runs_equals_oneshot(spark, pages, tmp_path,
                                          content_dedup):
    """Term nodes aggregate over the whole corpus: after two disjoint
    committed runs the graph equals the one-shot graph row for row,
    properties included, instead of carrying one run's partial Term
    counts."""
    from dataclasses import replace

    cfg = replace(CFG, content_dedup=content_dedup)
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_terms"), cfg)
    assert run.run(_slice(pages, 0, 2)) and run.run(_slice(pages, 1, 2))

    oneshot = run_pipeline(pages, cfg)
    try:
        assert _graph_rows(run.nodes()) == _graph_rows(oneshot.nodes)
        assert _graph_rows(run.edges()) == _graph_rows(oneshot.edges)
    finally:
        oneshot.unpersist()


@pytest.mark.slow
def test_deletes_reach_the_graph(spark, pages, tmp_path):
    """An equality delete removes the url's WebDocument and Chunk nodes
    and their has_chunk and mentions edges, merge-on-read and after the
    rewrite alike; time travel to before the delete still shows them."""
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_del_graph"), CFG)
    run.run(pages)
    gone = [r.url for r in _slice(pages, 0, 50).select("url").collect()]
    assert gone

    def doc_graph(as_of=None):
        """(node labels, edge labels) of the ``gone`` urls' documents."""
        nodes, edges = run.nodes(as_of), run.edges(as_of)
        hit = nodes.where(F.col("properties")["url"].isin(gone))
        docs = hit.where(F.col("label") == "WebDocument") \
            .select(F.col("id").alias("src"))
        return ({r.label for r in hit.select("label").distinct().collect()},
                {r.label for r in edges.join(docs, "src")
                 .select("label").distinct().collect()})

    assert doc_graph() == ({"WebDocument", "Chunk"},
                           {"has_chunk", "mentions"})
    doc_ids = [r.id for r in run.nodes().where(
        (F.col("label") == "WebDocument")
        & F.col("properties")["url"].isin(gone)).select("id").collect()]
    assert len(doc_ids) == len(gone)

    def assert_gone():
        assert run.nodes().where(
            F.col("properties")["url"].isin(gone)).count() == 0
        assert run.edges().where(F.col("src").isin(doc_ids)).count() == 0

    run.delete_urls(gone)
    assert_gone()
    assert doc_graph(as_of=1) == ({"WebDocument", "Chunk"},
                                  {"has_chunk", "mentions"})
    # Term counts subtract the deleted documents' mentions
    kept = pages.where(~F.col("url").isin(gone))
    oneshot = run_pipeline(kept, CFG)
    try:
        assert _graph_rows(run.nodes()) == _graph_rows(oneshot.nodes)
    finally:
        oneshot.unpersist()

    assert run.rewrite_deletes()["applied_deletes"] == len(gone)
    assert_gone()


@pytest.mark.slow
def test_graph_mode_reads_only_committed_runs(spark, pages, tmp_path):
    """Graph mode over a checkpoint root builds the committed documents
    only, not a crashed run's appends, and leaves the readers intact: the
    next run() commits the crashed half and the graph shows every page."""
    from docling_graph_spark.streaming.incremental import (
        assemble_accumulated_graph,
    )

    root = str(tmp_path / "ckpt_graph_mode")
    run = CheckpointedRun(spark, root, CFG)
    half = F.pmod(F.xxhash64("url"), F.lit(2)) == 0  # 255 of the 500 pages
    n1 = run.run(pages.filter(half))
    other = pages.filter(~half)
    res = run_pipeline(other.localCheckpoint(eager=True), CFG).persist()
    run._append_stages(res, "deadbeef-crashed")
    res.unpersist()

    def n_docs(nodes):
        return nodes.where(F.col("label") == "WebDocument").count()

    nodes, _ = assemble_accumulated_graph(spark, root, CFG)
    assert n_docs(nodes) == n1 == 255
    assert run.run(pages) == other.count()
    assert n_docs(run.nodes()) == pages.count() == 500


@pytest.mark.slow
def test_old_layout_graph_stages_are_ignored(spark, pages, tmp_path):
    """A root written when each commit also appended run-stamped
    ``nodes``/``edges`` tables: readers derive the graph from the other
    stages, and neither compact() nor compact_files() touches the old
    graph directories."""
    from docling_graph_spark import checkpointing

    root = tmp_path / "ckpt_old_layout"
    run = CheckpointedRun(spark, str(root), CFG)
    sample = _slice(pages, 0, 10)
    run.run(sample)
    run_id = run.snapshots().collect()[0].run_id
    want = run_pipeline(sample, CFG)
    try:
        # stamped with the committed run, fragmented past compact_files'
        # threshold, and holding a row no derived graph has
        stale = spark.createDataFrame(
            [("stale", "Term", "entity", {"n_docs": "1"})],
            want.nodes.schema)
        for name, df in (("nodes", want.nodes.unionByName(stale)),
                         ("edges", want.edges)):
            df.repartition(8).withColumn(
                checkpointing.RUN_ID_COL, F.lit(run_id)
            ).write.mode("append").parquet(str(root / name))
        listing = {n: sorted(p.name for p in (root / n).iterdir())
                   for n in ("nodes", "edges")}

        assert _graph_rows(run.nodes()) == _graph_rows(want.nodes)
        assert _graph_rows(run.edges()) == _graph_rows(want.edges)
    finally:
        want.unpersist()
    assert set(run.compact()) == set(checkpointing.STAGES)
    assert run.compact_files() == {}
    assert {n: sorted(p.name for p in (root / n).iterdir())
            for n in ("nodes", "edges")} == listing


def _urls(df):
    return sorted(r.url for r in df.select("url").collect())


def test_manifest_through_the_hadoop_filesystem(spark, pages, tmp_path,
                                                monkeypatch):
    """Off the local filesystem the manifest is created and read through
    the Hadoop FileSystem: a run commits and reads back, and a second run
    finds nothing pending."""
    from docling_graph_spark import checkpointing

    monkeypatch.setattr(checkpointing, "_is_local", lambda fs: False)
    run = CheckpointedRun(spark, str(tmp_path / "ckpt_hadoop"), CFG)
    part = _slice(pages, 0, 20)
    assert run.run(part) > 0
    assert _seqs(run) == [1]
    assert _urls(run.extracted()) == _urls(
        run_pipeline(part, CFG).extracted)
    assert run.run(part) == 0


def _crash_append(run, part):
    """Append every stage of ``part`` as a run that never commits."""
    res = run_pipeline(part.localCheckpoint(eager=True), CFG).persist()
    run._append_stages(res, "deadbeef-crashed")
    res.unpersist()


@pytest.fixture(scope="module")
def maintained_root(spark, pages, tmp_path_factory):
    """A root ready for every maintenance call: six committed writes per
    table (fragmented past compact_files' threshold for a one-file
    target), a crashed run's orphans and a committed delete.  Returns
    (root, seq of the last append, seq of the delete)."""
    root = tmp_path_factory.mktemp("maint") / "ck"
    run = CheckpointedRun(spark, str(root), CFG)
    for k in range(6):
        assert run.run(_slice(pages, k, 20))
    _crash_append(run, _slice(pages, 6, 20))
    run.delete_urls(_urls(run.extracted())[:2])
    return root, 6, 7


def _copy_root(spark, maintained_root, tmp_path, uri: bool = False):
    """A private copy of the maintained root, opened by path or as a
    ``file://`` URI."""
    root = tmp_path / "ck"
    shutil.copytree(maintained_root[0], root)
    return root, CheckpointedRun(
        spark, f"file://{root}" if uri else str(root), CFG)


@pytest.mark.slow
def test_maintenance_on_a_file_uri_root(spark, maintained_root, tmp_path):
    """compact, compact_files, rewrite_deletes and expire_snapshots commit
    through the manifest and delete with the Hadoop FileSystem, so a
    ``file://`` root (like an ``hdfs://`` or ``s3a://`` one) works: reads
    are unchanged, deletes are applied, and only the stage tables and the
    manifest are left in the root."""
    root, run = _copy_root(spark, maintained_root, tmp_path, uri=True)
    urls = _urls(run.extracted())

    assert run.compact()["extracted"] > 0
    assert "extracted" in run.compact_files(target_bytes=1 << 20)
    assert run.rewrite_deletes()["applied_deletes"] == 2
    assert run.expire_snapshots(keep_last=1)["expired"] > 0
    assert _urls(run.extracted()) == urls
    assert sorted(p.name for p in root.iterdir()) == sorted(
        ["runs", *STAGES])


@pytest.mark.slow
def test_run_job_compact_on_a_file_uri_output(spark, maintained_root,
                                              tmp_path, capsys):
    """``run_job.py --mode compact --target-file-mb 1`` on a ``file://``
    output sweeps a crashed run's orphans and leaves the committed rows
    readable."""
    import json
    import sys

    import run_job

    _, run = _copy_root(spark, maintained_root, tmp_path, uri=True)
    urls = _urls(run.extracted())
    argv = sys.argv
    sys.argv = ["run_job.py", "--mode", "compact", "--output", run.root,
                "--target-file-mb", "1"]
    try:
        rc = run_job.main()
    finally:
        sys.argv = argv
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["processed_docs"] > 0  # the reclaimed rows
    assert _urls(run.extracted()) == urls
    assert set(run.compact().values()) == {0}


@pytest.mark.slow
def test_concurrent_runs_on_one_root_keep_every_row(spark, pages,
                                                    tmp_path):
    """Two runs appending to one root at once: each write stages its task
    files under its own directory, so neither job commit deletes the
    other's files, and every url either run processed is visible once."""
    import threading

    root = str(tmp_path / "ckpt_two")
    half = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    start = threading.Barrier(2)
    counts, errors = [], []

    def run_half(part):
        try:
            start.wait()
            counts.append(CheckpointedRun(spark, root, CFG).run(part))
        except Exception as e:  # reported below, with the other thread's
            errors.append(e)

    threads = [threading.Thread(target=run_half, args=(part,))
               for part in (pages.filter(half), pages.filter(~half))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    run = CheckpointedRun(spark, root, CFG)
    assert _urls(run.extracted()) == _urls(pages)
    assert sum(counts) == pages.count()
    assert _seqs(run) == [1, 2]


@pytest.mark.slow
def test_numeric_looking_run_id_stays_visible(spark, pages, maintained_root,
                                              tmp_path):
    """A run id that Spark's partition inference would read as a number
    (this one as double infinity) names a write directory like any other:
    its rows stay visible before and after compact_files rewrites them."""
    _, run = _copy_root(spark, maintained_root, tmp_path)
    rid = "0123456789e12345678901234567890"
    part = _slice(pages, 7, 20)
    res = run_pipeline(part.localCheckpoint(eager=True), CFG).persist()
    run._append_stages(res, rid)
    res.unpersist()
    run._manifest(rid, part.count(), 0.0)
    want = sorted(_urls(run.extracted(as_of=maintained_root[2]))
                  + _urls(part))

    assert _urls(run.extracted()) == want
    assert _urls(run.extracted(as_of=rid)) == want
    assert "extracted" in run.compact_files(target_bytes=1 << 20)
    assert _urls(run.extracted()) == want
    assert run.run(part) == 0


@pytest.mark.slow
def test_overlapping_rewrites_take_effect_once(spark, maintained_root,
                                               tmp_path):
    """Two rewrites that read the same writes both commit a replace row.
    The replace rows apply in seq order, so the second lost the race: it
    raises, deletes none of the writes it named (not even one the first
    left live), and its own write is dead: every row stays visible once
    and `compact` reclaims the dead copy."""
    _, run = _copy_root(spark, maintained_root, tmp_path)
    run.compact()
    runs = run._runs()
    chunks = run._write_dirs("chunks", runs, False)[0]
    extracted = run._write_dirs("extracted", runs, False)[0]
    copy = run._read_stage("chunks", wids=chunks).localCheckpoint(eager=True)
    before = (_urls(run.extracted()), run.committed("chunks").count())

    run._replace({"chunks": copy.write.mode("overwrite")},
                 [f"chunks/{w}" for w in chunks])
    with pytest.raises(RuntimeError, match="concurrent rewrite"):
        run._replace({"chunks": copy.write.mode("overwrite")},
                     [f"chunks/{w}" for w in chunks]
                     + [f"extracted/{w}" for w in extracted])
    assert (_urls(run.extracted()), run.committed("chunks").count()) \
        == before
    assert run.compact()["chunks"] == copy.count()
    assert (_urls(run.extracted()), run.committed("chunks").count()) \
        == before


@pytest.mark.slow
def test_rewrites_leave_staged_writes_to_their_branch(spark, pages,
                                                      maintained_root,
                                                      tmp_path):
    """compact_files and rewrite_deletes rewrite only committed runs'
    writes: a run staged on a branch keeps its own, so its branch still
    previews it, and once the branch is dropped `compact` reclaims every
    row it staged."""
    _, run = _copy_root(spark, maintained_root, tmp_path)
    run.compact()
    part = _slice(pages, 7, 20)
    staged = run.run(part, branch="audit")
    assert staged > 0
    main = _urls(run.extracted())

    assert "extracted" in run.compact_files(target_bytes=1 << 20)
    assert run.rewrite_deletes()["applied_deletes"] == 2
    assert _urls(run.extracted()) == main
    assert _urls(run.branch_preview("extracted", "audit")) == sorted(
        main + _urls(run_pipeline(part, CFG).extracted))
    assert run.drop_branch("audit") == 1
    assert run.compact()["extracted"] == staged
    assert _urls(run.extracted()) == main


MAINTENANCE = {
    "compact": lambda run: run.compact(),
    "compact_files": lambda run: run.compact_files(target_bytes=1 << 20),
    "rewrite_deletes": lambda run: run.rewrite_deletes(),
    "expire_snapshots": lambda run: run.expire_snapshots(keep_last=1),
}


@pytest.mark.slow
@pytest.mark.parametrize("call,crash", [
    (call, crash) for call in sorted(MAINTENANCE)
    for crash in ("commit", "sweep")
    if (call, crash) != ("compact", "commit")])  # compact commits nothing
def test_crashed_maintenance_changes_no_read(spark, maintained_root,
                                            tmp_path, monkeypatch, call,
                                            crash):
    """A maintenance call that dies while committing (the replace row's or
    the expiry record's create raises) or midway through deleting
    directories leaves current and ``as_of`` reads as they were, and a
    retry completes."""
    from docling_graph_spark import checkpointing

    # a committed rewrite_deletes or expiry retires the snapshots before
    # the delete: the sweep after it must keep the others readable
    pins = maintained_root[1:] if crash == "commit" or call in (
        "compact", "compact_files") else maintained_root[2:]
    _, run = _copy_root(spark, maintained_root, tmp_path)

    def reads(pins=pins):
        return ([_urls(run.extracted(as_of=pin)) for pin in pins],
                _urls(run.extracted()), run.committed("chunks").count())

    before = reads()
    if crash == "commit":
        create = checkpointing._create_exclusive

        def failing_create(spark, path, data):
            if b'"replace"' in data or b'"expire"' in data:
                raise OSError("injected crash at the commit")
            return create(spark, path, data)

        monkeypatch.setattr(checkpointing, "_create_exclusive",
                            failing_create)
    else:
        delete = checkpointing._delete
        calls = []

        def failing_delete(spark, path):
            calls.append(path)
            if len(calls) == 2:
                raise OSError("injected crash in the sweep")
            delete(spark, path)

        monkeypatch.setattr(checkpointing, "_delete", failing_delete)
    with pytest.raises(OSError, match="injected"):
        MAINTENANCE[call](run)
    assert reads() == before

    monkeypatch.undo()
    MAINTENANCE[call](run)
    run.compact()
    assert reads(pins=())[1:] == before[1:]


def test_empty_committed_stage_reads_as_empty(spark, tmp_path):
    """Runs whose pages all fail the extractable filter commit an empty
    ``extracted`` write, which still holds one data file carrying the
    schema: the committed stages read as empty relations with the columns
    of a non-empty run, and the graph is empty."""
    import datetime

    from docling_graph_spark import schemas

    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame([
        ("https://a.example.com/pdfjunk", ts, b"%PDF-1.4 garbage", None,
         "en"),
        ("https://a.example.com/blank", ts,
         b"<html><body><p>  \n\t  </p></body></html>", None, "en"),
        ("https://a.example.com/ok", ts,
         b"<html><body><p>" + b"good content here " * 20
         + b"</p></body></html>", None, "en"),
    ], schema=schemas.WEB_PAGES)
    root = tmp_path / "ckpt_empty_stage"
    run = CheckpointedRun(spark, str(root), CFG)
    ok = F.col("url").endswith("/ok")
    assert run.run(pages.where(~ok)) == 0
    assert list((root / "extracted").glob("_write=run-*/*.parquet"))
    assert run.extracted().count() == 0
    nodes, edges = run.graph()
    assert nodes.count() == 0 and edges.count() == 0

    full = CheckpointedRun(spark, str(tmp_path / "ckpt_one_page"), CFG)
    assert full.run(pages.where(ok)) == 1
    assert run.extracted().columns == full.extracted().columns


def test_lost_replace_is_no_snapshot(spark, tmp_path):
    """A replace that lost a race with an earlier one over the same write
    (`_replaces`) changed nothing: it is no snapshot in `snapshots()` and
    does not count toward `expire_snapshots(keep_last)`."""
    import json

    runs = tmp_path / "ckpt_lost" / "runs"
    runs.mkdir(parents=True)
    rows = [{"run_id": "a", "kind": "append"},
            {"run_id": "r1", "kind": "replace",
             "supersedes": ["extracted/a"]},
            {"run_id": "r2", "kind": "replace",
             "supersedes": ["extracted/a"]}]
    for seq, row in enumerate(rows, 1):
        (runs / f"{seq:020d}.json").write_text(json.dumps({
            **row, "status": "committed", "branch": "", "seq": seq,
            "processed_docs": 0, "wall_seconds": 0.0}) + "\n")
    run = CheckpointedRun(spark, str(runs.parent), CFG)
    assert _seqs(run) == [1, 2]
    assert run.expire_snapshots(keep_last=2)["expired"] == 0
    assert _seqs(run) == [1, 2]
    assert run.expire_snapshots(keep_last=1)["expired"] == 1
    assert _seqs(run) == [2]


@pytest.mark.slow
def test_url_host_partitioned_write_reads_and_compacts_flat(spark, pages,
                                                            tmp_path):
    """A root whose ``extracted`` write an earlier layout partitioned by
    url-host bucket (``_write=run-<id>/bucket=N/``), next to a run written
    flat: reads see every row once and no ``bucket`` column, resume finds
    nothing pending, the graph equals the one-shot graph, and
    compact_files lands the old write flat with reads unchanged."""
    from docling_graph_spark import checkpointing

    root = tmp_path / "ckpt_bucketed"
    run = CheckpointedRun(spark, str(root), CFG)
    old = _slice(pages, 0, 2).localCheckpoint(eager=True)
    rid = "0a1b2c3d"
    res = run_pipeline(old, CFG).persist()
    try:
        for stage in STAGES:
            df = getattr(res, stage).withColumn(
                checkpointing.RUN_ID_COL, F.lit(rid))
            path = run._write_path(stage, rid)
            if stage == "extracted":
                df.repartition(8).withColumn("bucket", F.pmod(
                    F.xxhash64(F.parse_url("url", F.lit("HOST"))), F.lit(64))
                ).write.partitionBy("bucket").parquet(path)
            else:
                df.write.parquet(path)
        n_old = res.extracted.count()
    finally:
        res.unpersist()
    run._manifest(rid, n_old, 0.0)
    assert list(root.glob("extracted/*/bucket=*"))
    assert run.run(pages) == pages.count() - n_old

    want = run_pipeline(pages, CFG)
    try:
        want_counts = (want.nodes.count(), want.edges.count())
        want_urls = _urls(want.extracted)
    finally:
        want.unpersist()

    def reads():
        ext = run.extracted()
        assert "bucket" not in ext.columns
        nodes, edges = run.graph()
        return (_urls(ext), run.committed("chunks").count(),
                (nodes.count(), edges.count()))

    before = reads()
    assert before[0] == want_urls and before[2] == want_counts
    assert run.run(pages) == 0
    assert "extracted" in run.compact_files(target_bytes=1 << 20)
    assert reads() == before
    assert not list(root.glob("extracted/*/bucket=*"))
