"""Iceberg-semantics parity of the parquet commit protocol
(checkpointing.py) — the documented equivalence suite that makes the
Iceberg swap drop-in.

The north rule names Iceberg tables; this sandbox has no iceberg-spark
runtime, so the protocol implements the SEMANTICS on plain parquet.
Each test pins one invariant a real Iceberg table gives for free, so a
production deployment can replace CheckpointedRun' internals with
``writeTo(...).append()`` + snapshot procedures and keep every caller:

1. time-travel reads are STABLE across data-file rewrites (metadata /
   data separation: compaction must not change any snapshot's content);
2. ``expire_snapshots(retain_last=N)`` never touches the current table
   state, removes the ability to travel to expired snapshots LOUDLY,
   and reclaims only data referenced by no retained snapshot (orphans
   of uncommitted runs);
3. incremental scans between two snapshot ids return exactly the delta
   appended between them;
4. when a real Iceberg runtime IS on the classpath, the same scenario
   runs against a genuine Iceberg catalog (skipped here, documented);
5. (round 5) row-level EQUALITY DELETES are merge-on-read snapshots —
   no data-file rewrite at delete time, sequence-number visibility (a
   delete hides only strictly-older data, so re-appending the url
   revives it), time travel across the delete boundary, and the
   physical rewrite pass keeps current reads identical while retiring
   pre-delete time travel loudly;
6. (round 5) WRITE-AUDIT-PUBLISH branches (``spark.wap.branch`` /
   fast-forward): a run staged on a branch is invisible to main
   readers and the snapshot log, auditable through a branch read,
   idempotent against re-staging, published by a METADATA-ONLY
   fast-forward (no data file moves; pre-publish time travel excludes
   the branch), or dropped leaving only compactable orphans.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from docling_graph_spark.checkpointing import CheckpointedRun
from docling_graph_spark.pipeline import PipelineConfig


@pytest.fixture()
def pages(spark):
    from docling_graph_spark.sources.web_pages import synthesize_web_pages

    return synthesize_web_pages(spark, "/root/testdata/sf0.001").limit(40)


def _runs(spark, tmp_path, pages):
    run = CheckpointedRun(spark, str(tmp_path / "ck"),
                           PipelineConfig(max_tokens=40))
    first = pages.limit(25)
    n1 = run.run(first)
    n2 = run.run(pages)
    assert n1 == 25 and n2 == 15
    return run, n1, n2


def test_time_travel_stable_across_compaction(spark, pages, tmp_path):
    run = CheckpointedRun(spark, str(tmp_path / "ck"),
                          PipelineConfig(max_tokens=40))
    # six runs of a few pages each: six writes, fragmented past
    # compact_files' threshold for a one-file target
    assert run.run(pages.limit(25)) == 25
    for n in range(28, 41, 3):
        assert run.run(pages.limit(n)) == 3
    before = {r.url for r in run.extracted(as_of=1).select("url").collect()}
    assert len(before) == 25
    # rewrite data files (bin-packing) then re-read the SAME snapshot:
    # byte-identical membership — compaction is invisible to lineage
    assert "extracted" in run.compact_files(target_bytes=1 << 30)
    run.compact()
    after = {r.url for r in run.extracted(as_of=1).select("url").collect()}
    assert after == before
    assert run.extracted().count() == 40


def test_expire_snapshots_keeps_current_state(spark, pages, tmp_path):
    run, n1, n2 = _runs(spark, tmp_path, pages)
    cur = {r.url for r in run.extracted().select("url").collect()}
    nodes_cur = run.nodes().count()
    out = run.expire_snapshots(keep_last=1)
    assert out["expired"] == 1
    # current reads identical: expired snapshots' DATA is still part of
    # the latest table state (Iceberg expiry removes metadata, not
    # currently-referenced data files)
    assert {r.url for r in run.extracted().select("url").collect()} == cur
    assert run.nodes().count() == nodes_cur
    # the retained snapshot still travels; the expired one raises loudly
    assert run.extracted(as_of=2).count() == n1 + n2
    with pytest.raises(ValueError, match="expired"):
        run.extracted(as_of=1)
    # resume protocol still sees everything as done: a re-run is a no-op
    assert run.run(pages) == 0


def test_expire_snapshots_reclaims_uncommitted_orphans(spark, pages,
                                                      tmp_path):
    from docling_graph_spark.pipeline import run_pipeline

    run, n1, n2 = _runs(spark, tmp_path, pages)
    # simulate a crash: stage appends land, manifest write never happens
    res = run_pipeline(pages.limit(5).localCheckpoint(eager=True),
                       run.config)
    res.persist()
    run._append_stages(res, "deadbeef-crashed")
    res.unpersist()
    out = run.expire_snapshots(keep_last=10)  # nothing old enough
    assert out["expired"] == 0
    assert out["reclaimed_rows"] > 0  # the orphaned appends are gone
    raw = spark.read.parquet(f"{run.root}/extracted")
    assert raw.where(F.col("_run_id") == "deadbeef-crashed").count() == 0
    assert run.extracted().count() == n1 + n2


def test_incremental_scan_between_snapshots(spark, pages, tmp_path):
    run, n1, n2 = _runs(spark, tmp_path, pages)
    delta = run.added_between("extracted", since=1)
    urls1 = {r.url for r in run.extracted(as_of=1).select("url").collect()}
    delta_urls = {r.url for r in delta.select("url").collect()}
    all_urls = {r.url for r in run.extracted().select("url").collect()}
    assert delta.count() == n2
    assert delta_urls == all_urls - urls1
    # bounded form: (0, 1] is exactly the first run
    assert {r.url for r in run.added_between("extracted", 0, 1)
            .select("url").collect()} == urls1
    # empty delta between identical snapshots
    assert run.added_between("extracted", 2, 2).count() == 0


def test_real_iceberg_runtime_when_available(spark, pages, tmp_path):
    """With an iceberg-spark runtime on the classpath, replay scenario 1
    against a genuine Iceberg catalog.  In this container the extension
    jar is absent, so the test SKIPS — the parquet-protocol tests above
    are the gate; this one documents the drop-in swap."""
    try:
        spark.sql("CREATE NAMESPACE IF NOT EXISTS iceberg_ci.parity")
    except Exception:
        pytest.skip("no Iceberg catalog configured in this session")
    df = pages.limit(3).select("url")
    df.writeTo("iceberg_ci.parity.t").createOrReplace()
    snaps = spark.sql(
        "SELECT snapshot_id FROM iceberg_ci.parity.t.snapshots").count()
    assert snaps >= 1


def test_schema_evolution_add_column(spark, pages, tmp_path):
    """Iceberg add-column semantics on the parquet protocol: a batch
    appended by a NEWER pipeline version carrying an extra column
    coexists with old data files — reads surface the union schema with
    NULL for pre-evolution rows, the new rows carry their values, and
    pre-evolution rows project identically before and after (column
    adds never rewrite data).  Maintenance rewrites (compact_files)
    must preserve the evolved column too."""
    run, n1, n2 = _runs(spark, tmp_path, pages)
    before = {r.url: r.text for r in
              run.extracted().select("url", "text").collect()}

    # simulate the evolved writer: same stage append path, one extra
    # column, committed through the normal manifest commit point
    import uuid as _uuid

    rid = _uuid.uuid4().hex
    evolved = (
        spark.createDataFrame(
            [(f"https://host999.example.com/new{i}", "fresh text", "v2")
             for i in range(1, 7)],
            "url string, text string, extractor_version string")
        .withColumn("_run_id", F.lit(rid))
    )
    # one file per row, so the table is fragmented enough for
    # compact_files to rewrite it
    evolved.write.mode("append").option("maxRecordsPerFile", 1).parquet(
        run._write_path("extracted", rid))
    run._manifest(rid, 6, 0.0)

    cur = run.extracted()
    assert "extractor_version" in cur.columns
    assert "bucket" not in cur.columns
    rows = {r.url: (r.text, r.extractor_version)
            for r in cur.select("url", "text",
                                "extractor_version").collect()}
    assert rows["https://host999.example.com/new1"] == ("fresh text", "v2")
    # every pre-evolution row: value preserved, NULL in the new column
    for url, text in before.items():
        assert rows[url] == (text, None)
    # maintenance rewrite keeps the evolved column's data
    assert "extracted" in run.compact_files(target_bytes=1 << 30)
    after = {r.url: (r.text, r.extractor_version)
             for r in run.extracted()
             .select("url", "text", "extractor_version").collect()}
    assert after == rows


def test_physical_layout_never_leaks(spark, pages, tmp_path):
    """The write layout is invisible in every logical schema: no
    partition column (``bucket``) and no write-directory column
    (``_write``) surfaces, current or time-travelled."""
    run, n1, n2 = _runs(spark, tmp_path, pages)
    for df in (run.extracted(), run.extracted(as_of=1)):
        assert not {"bucket", "_write", "_run_id"} & set(df.columns)


# ---------------------------------------------------------------------------
# Round 5: row-level (equality) deletes — Iceberg v2 merge-on-read +
# the rewrite path
# ---------------------------------------------------------------------------


def _data_files(tmp_path, stage):
    import glob

    return sorted(glob.glob(str(tmp_path / "ck" / stage / "**" /
                                "*.parquet"), recursive=True))


def test_equality_delete_is_merge_on_read(spark, pages, tmp_path):
    """delete_urls commits a delete SNAPSHOT: readers hide the rows at
    once, but no data file is touched (merge-on-read, not rewrite)."""
    run, _, _ = _runs(spark, tmp_path, pages)
    urls = [r.url for r in run.extracted().select("url").limit(3)
            .collect()]
    before_files = _data_files(tmp_path, "extracted")
    n_before = run.extracted().count()
    assert run.delete_urls(urls) == 3
    assert _data_files(tmp_path, "extracted") == before_files
    vis = run.extracted()
    assert vis.count() == n_before - 3
    assert vis.where(F.col("url").isin(urls)).count() == 0
    # url-keyed downstream stages hide the rows too
    assert run._filter_committed(
        run._read_stage("chunks")).where(
        F.col("url").isin(urls)).count() == 0


def test_delete_sequence_semantics_reappend(spark, pages, tmp_path):
    """A delete applies only to STRICTLY OLDER snapshots: the deleted
    url becomes pending again, and re-running it commits a newer
    snapshot the old delete does not hide."""
    run, _, _ = _runs(spark, tmp_path, pages)
    url = run.extracted().select("url").limit(1).collect()[0].url
    run.delete_urls([url])
    assert run.extracted().where(F.col("url") == url).count() == 0
    reprocessed = run.run(pages)          # only the deleted url pending
    assert reprocessed == 1
    assert run.extracted().where(F.col("url") == url).count() == 1


def test_delete_time_travel(spark, pages, tmp_path):
    """as_of a pre-delete snapshot still shows the rows; as_of the
    delete snapshot (or later) hides them."""
    run, _, _ = _runs(spark, tmp_path, pages)
    pre = max(r.seq for r in run.snapshots().collect())
    url = run.extracted().select("url").limit(1).collect()[0].url
    run.delete_urls([url])
    post = max(r.seq for r in run.snapshots().collect())
    assert post == pre + 1
    assert run.extracted(as_of=pre).where(
        F.col("url") == url).count() == 1
    assert run.extracted(as_of=post).where(
        F.col("url") == url).count() == 0


def test_rewrite_deletes_invariants(spark, pages, tmp_path):
    """The physical-apply pass: current reads identical before/after,
    delete files gone, idempotent on re-run, and time travel to
    pre-delete snapshots retired LOUDLY (parquet keeps no old file
    versions; silently serving a state missing its deleted rows would
    un-pin lineage)."""
    run, _, _ = _runs(spark, tmp_path, pages)
    pre = max(r.seq for r in run.snapshots().collect())
    urls = [r.url for r in run.extracted().select("url").limit(2)
            .collect()]
    run.delete_urls(urls)
    post = max(r.seq for r in run.snapshots().collect())
    current = sorted(r.url for r in run.extracted().select("url")
                     .collect())
    stats = run.rewrite_deletes()
    assert stats["applied_deletes"] == 2 and stats["removed_rows"] >= 2
    assert sorted(r.url for r in run.extracted().select("url")
                  .collect()) == current
    assert not (tmp_path / "ck" / "deletes").exists()
    assert run.extracted(as_of=post).count() == len(current)
    with pytest.raises(ValueError, match="expired"):
        run.extracted(as_of=pre).count()
    again = run.rewrite_deletes()
    assert again == {"applied_deletes": 0, "removed_rows": 0}


def test_delete_nothing_is_noop(spark, pages, tmp_path):
    run, _, _ = _runs(spark, tmp_path, pages)
    n = run.extracted().count()
    assert run.delete_urls([]) == 0
    assert run.rewrite_deletes() == {"applied_deletes": 0,
                                     "removed_rows": 0}
    assert run.extracted().count() == n


# ------------------------------------------------- WAP branching (round 5)

def _glob_files(tmp_path, stage):
    import glob

    return sorted(glob.glob(str(tmp_path / "ck" / stage / "**" / "*.parquet"),
                            recursive=True))


def test_wap_staged_run_invisible_to_main(spark, pages, tmp_path):
    run = CheckpointedRun(spark, str(tmp_path / "ck"),
                          PipelineConfig(max_tokens=40))
    run.run(pages.limit(25))
    main_before = {r.url for r in run.extracted().select("url").collect()}
    snaps_before = run.snapshots().count()

    staged = run.run(pages, branch="audit")
    assert staged == 15
    # main readers and the snapshot log are untouched by the staged run
    assert {r.url for r in run.extracted().select("url").collect()} \
        == main_before
    assert run.snapshots().count() == snaps_before
    # ... but the branch preview (audit read) sees main + branch
    preview = {r.url for r in
               run.branch_preview("extracted", "audit")
               .select("url").collect()}
    assert len(preview) == 40 and main_before < preview


def test_wap_branch_resume_idempotent(spark, pages, tmp_path):
    run = CheckpointedRun(spark, str(tmp_path / "ck"),
                          PipelineConfig(max_tokens=40))
    run.run(pages.limit(25))
    assert run.run(pages, branch="audit") == 15
    # same input, same branch: nothing pending
    assert run.run(pages, branch="audit") == 0
    # a MAIN run of the same input still (correctly) reprocesses it
    assert run.run(pages) == 15


def test_wap_publish_is_metadata_only_fast_forward(spark, pages, tmp_path):
    run = CheckpointedRun(spark, str(tmp_path / "ck"),
                          PipelineConfig(max_tokens=40))
    run.run(pages.limit(25))
    run.run(pages, branch="audit")
    pre_seq = int(run.snapshots().agg(F.max("seq").alias("m"))
                  .collect()[0].m)
    files_before = _glob_files(tmp_path, "extracted")

    assert run.publish_branch("audit") == 1
    # fast-forward: no data file moved or rewritten
    assert _glob_files(tmp_path, "extracted") == files_before
    # main now sees the branch rows, exactly once
    urls = [r.url for r in run.extracted().select("url").collect()]
    assert len(urls) == 40 and len(set(urls)) == 40
    # the publish row carries the staged run's processed count
    pub = run.snapshots().where(F.col("kind") == "publish").collect()
    assert len(pub) == 1 and int(pub[0].processed_docs) == 15
    # time travel to the pre-publish snapshot excludes the branch
    assert run.extracted(as_of=pre_seq).count() == 25
    # publishing again is a no-op
    assert run.publish_branch("audit") == 0


def test_wap_drop_branch_discards(spark, pages, tmp_path):
    run = CheckpointedRun(spark, str(tmp_path / "ck"),
                          PipelineConfig(max_tokens=40))
    run.run(pages.limit(25))
    run.run(pages, branch="audit")
    assert run.drop_branch("audit") == 1
    # preview reverts to main; publish refuses; main unchanged
    assert run.branch_preview("extracted", "audit").count() == 25
    assert run.publish_branch("audit") == 0
    assert run.extracted().count() == 25
    # the dropped run's rows are orphans: compaction reclaims them
    # while leaving the committed state identical
    before = {r.url for r in run.extracted().select("url").collect()}
    run.compact()
    assert {r.url for r in run.extracted().select("url").collect()} \
        == before


def test_wap_compact_keeps_staged_branch_rows(spark, pages, tmp_path):
    """A maintenance pass between staging and publishing must not reclaim
    the branch's rows: the manifest still lists the run as staged, so
    publishing it afterwards must surface every staged url."""
    run = CheckpointedRun(spark, str(tmp_path / "ck"),
                          PipelineConfig(max_tokens=40))
    run.run(pages.limit(25))
    assert run.run(pages, branch="audit") == 15
    assert set(run.compact().values()) == {0}
    assert run.branch_preview("extracted", "audit").count() == 40
    assert run.publish_branch("audit") == 1
    urls = [r.url for r in run.extracted().select("url").collect()]
    assert len(urls) == 40 and len(set(urls)) == 40
    # every stage kept the branch rows, not just extracted
    assert run.nodes().where(F.col("label") == "WebDocument").count() == 40


def test_wap_two_branches_are_independent(spark, pages, tmp_path):
    run = CheckpointedRun(spark, str(tmp_path / "ck"),
                          PipelineConfig(max_tokens=40))
    run.run(pages.limit(25))
    run.run(pages.limit(32), branch="b1")      # 7 new urls on b1
    run.run(pages, branch="b2")                # all 15 pending on b2
    p1 = run.branch_preview("extracted", "b1").count()
    p2 = run.branch_preview("extracted", "b2").count()
    assert p1 == 32 and p2 == 40
    assert run.publish_branch("b1") == 1
    assert run.extracted().count() == 32
    # b2 staged before b1 published: publishing it may now double-carry
    # urls b1 also staged — the preview warns (real Iceberg: a
    # fast-forward conflict); here we just drop b2
    assert run.drop_branch("b2") == 1
    assert run.extracted().count() == 32
