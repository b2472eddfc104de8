"""Checkpointed, resumable runs (SURVEY §2.9).

The reference is one-shot per document; resumability in the rebuild maps to
table-snapshot checkpoints, not Structured Streaming: every stage writes a
table, and a restarted job anti-joins its input against the keys already
present in the output — only unprocessed documents are recomputed, and the
append is idempotent at the key level.

On a production cluster the tables are Iceberg (atomic snapshot commits,
incremental reads between snapshot ids, time travel for lineage); in this
sandbox the same protocol runs on plain parquet datasets.  The one Iceberg
property that must NOT be dropped on the way down is commit atomicity
across the run: four independent parquet appends are not a transaction, and
a crash after the `extracted` append but before the `doc_mentions` append
would make the restart treat those urls as done — their mentions silently
lost forever.  So runs commit the way an Iceberg snapshot does: every stage
append is stamped with the run's id (`_run_id` column = the data files),
and the run-manifest row written LAST is the commit point (= the metadata
swap).  Citations: reference metadata sink
`/root/reference/docling_graph/pipeline/orchestrator.py:149-240` (the run
manifest), resume protocol per SURVEY §2.9.

Layout: every write owns a directory, ``<table>/_write=run-<id>/``, so
each Spark job stages its task files under its own output path and
concurrent runs on one root never touch each other's files.  A write is a
run's stage append (its id is the run id), a delete file, or a rewrite.
The ``run-`` prefix keeps the directory value from ever parsing as a
number.  A write is read by listing its directory recursively, with no
partition discovery, so the writes of earlier roots that partitioned
``extracted`` by url host into subdirectories read alongside flat ones,
and a rewrite lands them flat.  A table with data files outside a write
directory (the flat layout of earlier roots) is refused with a
``ValueError`` naming it: re-ingest such a root.

One commit protocol.  Every commit — an append, a delete, a publish, a
stream micro-batch, a rewrite — is one exclusive create of the file
``runs/<seq>.json`` (seq zero-padded to 20 digits), with no Spark job: a
writer that finds its seq taken retries at a greater one, as an Iceberg
writer that loses the metadata swap does.  A run's four appends run
concurrently and all finish before its row.  A rewrite (`compact_files`,
`rewrite_deletes`) reads the live writes of each table, writes the result
under a fresh id and commits one ``kind="replace"`` row whose
``supersedes`` names exactly the writes it read (``<table>/<id>``); only
then are those directories deleted.  Expiry appends one seq-less record
carrying ``expire_below`` (``runs/expire-<cutoff>.json``), so snapshot
seqs stay dense.  Nothing renames or moves a directory, so the protocol
runs on any Hadoop filesystem, and a crash at any point leaves only dead
directories that `compact` sweeps.

Live writes, a rule on file sets: a write is live when its run's latest
manifest row is ``committed`` or ``staged`` (a committed replace row is
its own run) and no committed replace names it in ``supersedes``.
Replace rows apply in seq order: one that names a write an earlier
replace already superseded lost a race with it and is dead, so two
overlapping rewrites never both take effect.  A rewrite reads only the
writes of committed runs; a staged run's writes stay its own until its
branch is published or dropped.  `CheckpointedRun._read_stage` reads only
live writes; liveness does not depend on ``as_of``, because a rewrite
keeps each row's ``_run_id``, so one file set serves every reachable
snapshot.  A reader
reads the manifest once, on the driver with no Spark job, and resolves
both liveness and the visible runs from that one read.

The graph is not stored: `CheckpointedRun.graph` derives it from the
committed stages on every read, through the visibility rule below.

A stream micro-batch (streaming/incremental.py) is one run too: it takes
its pending rows from `CheckpointedRun.pending` and commits through
`CheckpointedRun.commit`, with its per-url host link-graph partials
(`LINK_STAGES`) as one more stage of the same run.  So a crash anywhere
before the manifest row leaves only invisible orphans, and the replayed
batch redoes exactly the uncommitted work.

The visibility rule, applied by `CheckpointedRun._filter_committed` and
nowhere else: a row of a live write is visible if and only if its run's
manifest row is ``committed`` with ``seq`` at or before
the pinned snapshot — or, for a branch read, its run is staged on that
branch — and no equality delete with a strictly newer ``seq`` names its
url.  No manifest means nothing is committed, so a run that crashes
during its first commit leaves only invisible orphans.  The resume
anti-join and every reader go through that one function.

Scale notes: the anti-join's build side is only the key column of the done
set (column pruning keeps it narrow).  No table is partitioned: no reader
scans by a partition value, and a partitioned write costs a file per
populated value on every commit.  The visible run set is one tiny relation
(one row per run) broadcast into the `_run_id` join.

The write rule, applied by `_stage_writer` to every stage append and
delete rewrite: an AQE rebalance before the write (the optimized-write
shuffle), so each write lands a few advisory-sized files, following the
data, not the task count.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, fields, replace
from pathlib import Path
from typing import Optional

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

from .pipeline import (PipelineConfig, PipelineResult, build_web_graph,
                       run_pipeline)
from .schemas import WEB_PAGES

STAGES = ("extracted", "chunks", "doc_mentions", "metrics")
# the per-url host link-graph partials, committed by a stream run with
# ``link_edges`` (streaming/incremental.py)
LINK_STAGES = ("host_edges",)
# the columns of the tables that are no pipeline stage
TABLE_COLUMNS = {"deletes": "url string", "host_edges": "url string, "
                 "src_host string, dst_host string, n_links long"}
RUN_ID_COL = "_run_id"
SEQ_COL = "_seq"  # snapshot seq of a row's run, attached for delete checks
WRITE_DIR = "_write=run-"  # + write id: the directory of one write

# one manifest row per commit, exactly the fields `_manifest` writes
MANIFEST_SCHEMA = StructType(
    [StructField("run_id", StringType()),
     StructField("kind", StringType()),
     StructField("status", StringType()),
     StructField("branch", StringType()),
     StructField("seq", LongType()),
     StructField("run_ts", StringType()),
     StructField("processed_docs", LongType()),
     StructField("wall_seconds", DoubleType()),
     StructField("supersedes", ArrayType(StringType())),
     StructField("expire_below", LongType())]
    + [StructField(f"cfg_{f.name}", StringType())
       for f in fields(PipelineConfig)])


def pending_inputs(inputs: DataFrame, done: Optional[DataFrame],
                   key: str = "url") -> DataFrame:
    """left_anti restart: rows of `inputs` not yet in the done set."""
    if done is None:
        return inputs
    return inputs.join(done, key, "left_anti")


def _committed_seqs(runs: DataFrame, pin: Optional[int] = None) -> DataFrame:
    """(``_run_id``, ``_seq``) of runs committed at or before ``pin``.  An
    expired snapshot (expire_snapshots) keeps its data in the current table
    state — Iceberg expiry only retires the ability to time-travel to it."""
    runs = runs.where((F.col("status") == "committed")
                      & F.col("seq").isNotNull())
    if pin is not None:
        runs = runs.where(F.col("seq") <= pin)
    return runs.groupBy(F.col("run_id").alias(RUN_ID_COL)) \
        .agg(F.max("seq").alias(SEQ_COL))


def _drop_deleted(df: DataFrame, dkeys: DataFrame) -> DataFrame:
    """Equality-delete anti-join (Iceberg v2): drop rows of ``df`` (which
    carries its run's ``_seq``) whose url has a delete STRICTLY NEWER than
    that snapshot — re-appending the url later makes it visible again.  A
    row with a null ``_seq`` (a staged or uncommitted run) is never hidden.
    The delete keys are tiny and broadcast: no shuffle of the data table."""
    cond = (df["url"] == dkeys["url"]) & (dkeys["_dseq"] > df[SEQ_COL])
    return df.join(F.broadcast(dkeys), cond, "left_anti")


def _latest(runs: list) -> dict:
    """Run id -> its manifest row with the greatest seq (a row without a
    seq commits nothing)."""
    return {r.get("run_id"): r for r in sorted(
        (r for r in runs if r.get("seq") is not None), key=lambda r: r["seq"])}


def _staged(runs: list, branch: Optional[str] = None) -> list:
    """Manifest rows of runs staged on ``branch`` (on any branch when
    None) and neither published nor dropped yet, in staging order."""
    # a staged run's first manifest row is its staging row, so `_latest`
    # already lists staged runs in staging order
    return [r for r in _latest(runs).values() if r.get("status") == "staged"
            and branch in (None, r.get("branch"))]


def _replaces(runs: list) -> "tuple[set, set]":
    """(superseded writes, lost replace ids): the committed replace rows
    apply in seq order, and one that names a write an earlier replace
    already superseded lost a race with it (both rewrote that write), so
    it supersedes nothing and its own writes are dead."""
    gone, lost = set(), set()
    # a replace run has one row, so `_latest` lists replaces in seq order
    for r in _latest(runs).values():
        if r.get("kind") == "replace":
            if gone.isdisjoint(r["supersedes"]):
                gone.update(r["supersedes"])
            else:
                lost.add(r["run_id"])
    return gone, lost


def _expired_below(runs: list) -> int:
    """Snapshots with a smaller seq are expired: the greatest
    ``expire_below`` of the manifest, a lost replace's excepted."""
    lost = _replaces(runs)[1]
    return max((r.get("expire_below") or 0 for r in runs
                if r.get("run_id") not in lost), default=0)


class CheckpointedRun:
    """Drive the document→graph pipeline with per-stage table checkpoints.

    `run()` processes only the documents whose url is absent from the
    committed `extracted` checkpoint, appends every stage table stamped
    with a fresh run id, and commits by writing the run-manifest row last —
    calling it repeatedly with overlapping inputs converges with no
    duplicate work and no duplicate rows, and a run that dies between
    appends leaves only invisible (uncommitted) orphan rows behind.
    """

    def __init__(self, spark: SparkSession, root: str,
                 config: Optional[PipelineConfig] = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.config = config or PipelineConfig()

    def _path(self, stage: str) -> str:
        return f"{self.root}/{stage}"

    def _write_path(self, table: str, wid: str) -> str:
        """The directory of ``table``'s write ``wid``."""
        return f"{self._path(table)}/{WRITE_DIR}{wid}"

    # ------------------------------------------------------------ commits

    def _runs(self) -> list:
        """The run manifest, one dict per row; empty when no run has
        written one.  The only manifest read, on the driver with no Spark
        job: every visible file under ``runs/`` — the seq-named files
        `_manifest` creates, the seq-less expiry records and the
        ``part-*.json`` files of older commits alike."""
        rows = []
        for data in _read_files(self.spark, self._path("runs")):
            for line in data.splitlines():
                try:
                    rows.append(json.loads(line))
                except ValueError:  # a torn or empty file commits nothing
                    continue
        return [r for r in rows if isinstance(r, dict)]

    def _runs_df(self, runs: list) -> DataFrame:
        """``runs`` as one partition of `MANIFEST_SCHEMA` rows, the input
        of the visibility joins.  Built from pandas, so it is a local
        relation whose size estimate is its real size: the joins over it
        keep the small estimates the planner's broadcast choices need."""
        rows = [[r.get(n) for n in MANIFEST_SCHEMA.names] for r in runs]
        return self.spark.createDataFrame(pd.DataFrame(
            rows, columns=MANIFEST_SCHEMA.names), MANIFEST_SCHEMA).coalesce(1)

    def _as_of_seq(self, as_of, runs: list) -> Optional[int]:
        """Resolve ``as_of`` — a snapshot sequence number (int, see
        :meth:`snapshots`) or a run id (str) — to a snapshot seq.  A run id
        that never committed, or a snapshot that has been expired, raises:
        silently returning another state would un-pin a lineage query."""
        if isinstance(as_of, str):
            row = _latest(runs).get(as_of, {})
            if row.get("status") != "committed":
                raise ValueError(f"run {as_of!r} never committed")
            as_of = row["seq"]
        if as_of is not None and int(as_of) < _expired_below(runs):
            raise ValueError(f"snapshot {as_of} has been expired "
                             "(expire_snapshots); time travel to it is gone")
        return None if as_of is None else int(as_of)

    def _delete_keys(self, vis: DataFrame, runs: list) -> Optional[DataFrame]:
        """(url, _dseq) of the equality deletes committed by runs in
        ``vis``, or None when no live delete write exists."""
        live = self._write_dirs("deletes", runs)[0]
        return None if not live else self._read_stage("deletes", wids=live) \
            .join(vis, RUN_ID_COL).select("url", F.col(SEQ_COL).alias("_dseq"))

    def _visibility(self, as_of=None, branch: Optional[str] = None,
                    runs: Optional[list] = None):
        """(visible runs, delete keys): the inputs of the visibility rule,
        resolved from one manifest read (``runs``, read here when None).
        The visible runs are (``_run_id``, ``_seq``): committed at or
        before ``as_of``, plus the runs staged on ``branch`` (null
        ``_seq``: a staged run publishes after every existing delete).
        (None, None) when there is no manifest."""
        runs = self._runs() if runs is None else runs
        if not runs:
            return None, None
        vis = _committed_seqs(self._runs_df(runs),
                              self._as_of_seq(as_of, runs))
        if branch is not None:
            vis = vis.unionByName(self._runs_df(_staged(runs, branch)).select(
                F.col("run_id").alias(RUN_ID_COL),
                F.lit(None).cast("long").alias(SEQ_COL)))
        return vis, self._delete_keys(vis, runs)

    def _filter_committed(self, df: DataFrame, as_of=None,
                          branch: Optional[str] = None,
                          visibility=None) -> DataFrame:
        """The visibility rule (module docstring): keep the rows of
        visible runs, anti-join older equality deletes, and drop the run
        stamp.  ``visibility`` is a `_visibility` pair already resolved
        for ``as_of``/``branch``, so a reader of several stages resolves
        it once; None resolves it here."""
        vis, dkeys = visibility or self._visibility(as_of, branch)
        if vis is None:
            return df.where(F.lit(False)).drop(RUN_ID_COL)
        df = df.join(F.broadcast(vis), RUN_ID_COL)
        if dkeys is not None and "url" in df.columns:
            df = _drop_deleted(df, dkeys)
        return df.drop(RUN_ID_COL, SEQ_COL)

    def snapshots(self) -> Optional[DataFrame]:
        """The snapshot log: committed, unexpired manifest rows ordered by
        ``seq`` (run id, commit timestamp, rows processed, config lineage)
        — the Iceberg ``snapshots`` metadata-table analogue, and the
        argument source for ``as_of`` time travel.  A replace that lost a
        race (`_replaces`) changed nothing, so it is no snapshot."""
        runs = self._runs()
        if not runs:
            return None
        lost = _replaces(runs)[1]
        kept = [r for r in runs if r.get("run_id") not in lost]
        return self._runs_df(kept).where(
            (F.col("status") == "committed")
            & (F.col("seq") >= _expired_below(runs))).orderBy("seq")

    def _next_seq(self) -> int:
        return max((int(r["seq"]) for r in self._runs()
                    if r.get("seq") is not None), default=0) + 1

    # ------------------------------------------------- row-level deletes

    def delete_urls(self, urls) -> int:
        """Commit an EQUALITY-DELETE snapshot (the Iceberg v2 row-level
        delete analogue): the urls land in a small delete file and the
        manifest row written last is the commit point — NO data file is
        rewritten (merge-on-read; see :func:`_drop_deleted` for the
        sequence-number visibility rule, :meth:`rewrite_deletes` for the
        physical-apply path).  A deleted url becomes pending again for
        :meth:`run`, and re-processing it commits a newer snapshot the
        old delete does not apply to."""
        urls = sorted(set(urls))
        if not urls:
            return 0
        run_id = uuid.uuid4().hex
        self.spark.createDataFrame([(u, run_id) for u in urls],
                                   f"url string, {RUN_ID_COL} string") \
            .write.parquet(self._write_path("deletes", run_id))
        self._manifest(run_id, len(urls), 0.0, kind="delete")
        return len(urls)

    def rewrite_deletes(self) -> dict:
        """Physically apply committed equality deletes to the data files
        (the ``rewrite_data_files``-with-delete-application maintenance
        pass): one replace commit (:meth:`_replace`) whose new writes hold
        the rows of each url-keyed table's committed writes minus the
        deleted ones, and which supersedes those writes and the delete
        writes (a staged run's writes are left as they are: a delete
        never hides a staged row).
        Invariants, pinned by the parity tests:

        * CURRENT reads are identical before and after the rewrite;
        * ``as_of`` at-or-after the newest applied delete still works;
        * time travel to snapshots OLDER than the newest applied delete
          is retired loudly: the replace row carries ``expire_below`` =
          that delete's seq, so the rewrite and the expiry commit together
          (the rewritten files no longer hold the deleted rows, and
          silently returning a state missing them would un-pin lineage).

        Returns ``{"applied_deletes": n, "removed_rows": total}``."""
        runs = self._runs()
        vis, dkeys = self._visibility(runs=runs)
        if dkeys is None or (n_dels := dkeys.count()) == 0:
            return {"applied_deletes": 0, "removed_rows": 0}
        writes, removed = {}, 0
        supersedes = [f"deletes/{w}" for w in
                      self._write_dirs("deletes", runs, False)[0]]
        for stage in STAGES + LINK_STAGES:
            live = self._write_dirs(stage, runs, False)[0]
            df = self._read_stage(stage, wids=live) if live else None
            if df is None or "url" not in df.columns:
                continue
            kept = _drop_deleted(df.join(F.broadcast(vis), RUN_ID_COL),
                                 dkeys).drop(SEQ_COL)
            n_gone = df.count() - kept.count()
            if n_gone:
                removed += n_gone
                writes[stage] = _stage_writer(kept, "overwrite")
                supersedes += [f"{stage}/{w}" for w in live]
        max_dseq = dkeys.agg(F.max("_dseq")).collect()[0][0]
        self._replace(writes, supersedes, expire_below=int(max_dseq))
        return {"applied_deletes": n_dels, "removed_rows": removed}

    # ------------------------------------------------- WAP branching

    def branch_preview(self, stage: str, branch: str) -> DataFrame:
        """The AUDIT read of write-audit-publish: ``stage`` as it would
        look after ``branch`` is published — committed main snapshots
        plus the branch's staged runs (Iceberg: reading from the
        branch ref).  Main readers (`nodes()`, `extracted()`, ...)
        never see staged rows."""
        return self._visible(stage, branch=branch)

    def publish_branch(self, branch: str) -> int:
        """Fast-forward publish (Iceberg: main ⇐ branch): every run
        staged on ``branch`` becomes a committed snapshot, in staging
        order, by appending manifest rows only — a METADATA-ONLY
        operation; no data file is rewritten or moved, which the parity
        test pins by listing the stage directories before and after.
        Time travel to any pre-publish snapshot still excludes the
        branch.  Returns the number of runs published."""
        staged = _staged(self._runs(), branch)
        # carry each run's processed count onto the publish row so the
        # snapshot log stays meaningful
        for r in staged:
            self._manifest(r["run_id"], int(r.get("processed_docs") or 0),
                           0.0, kind="publish")
        return len(staged)

    def drop_branch(self, branch: str) -> int:
        """Abandon ``branch``: staged runs become aborted (their writes
        remain as dead directories, exactly like a crashed run's, until
        `compact` sweeps them).  Returns the number of runs dropped."""
        staged = _staged(self._runs(), branch)
        for r in staged:
            self._manifest(r["run_id"], 0, 0.0, kind="drop", status="aborted")
        return len(staged)

    # ---------------------------------------------------------------- run

    def _done_keys(self, branch: Optional[str] = None,
                   stage: str = "extracted") -> Optional[DataFrame]:
        """Resume anti-join build side: the visible urls of ``stage``
        (main, plus ``branch``'s staged runs); None before the first
        commit or while the stage has no live write, when nothing is
        visible — even if a crashed first run left a partial append
        behind.  Equality deletes apply — a deleted url is pending again,
        so re-ingesting it commits a fresh (visible) snapshot.  The join
        prunes the scan to (url, run id)."""
        runs = self._runs()
        live = self._write_dirs(stage, runs)[0] if runs else []
        return None if not live else self._filter_committed(
            self._read_stage(stage, wids=live),
            visibility=self._visibility(branch=branch, runs=runs)) \
            .select("url").distinct()

    def pending(self, inputs: DataFrame, stage: str = "extracted",
                branch: Optional[str] = None) -> DataFrame:
        """The pending selection of a run: the rows of ``inputs`` whose url
        has no visible row in ``stage`` (:func:`pending_inputs` against
        `_done_keys`)."""
        return pending_inputs(inputs, self._done_keys(branch, stage))

    def run(self, web_pages: DataFrame,
            branch: Optional[str] = None) -> int:
        """Process pending inputs; returns number of newly processed docs.

        With ``branch`` the run is STAGED (write-audit-publish,
        Iceberg's ``spark.wap.branch``): its appends land normally but
        the manifest row says ``staged``, so main readers and
        `snapshots()` ignore it until `publish_branch` fast-forwards
        main.  Resume sees committed work plus THIS branch's staged
        work, so re-running the same input on the same branch stays
        idempotent, while a main run of the same input correctly
        reprocesses it."""
        todo = self.pending(web_pages, branch=branch)
        # cheap emptiness probe: limit(1) avoids a full count of the input
        if todo.limit(1).isEmpty():
            self._manifest("", 0, 0.0)
            return 0

        t0 = time.perf_counter()
        # self-read-write hazard: `todo`'s plan reads the very table the
        # appends below write to, so any recompute after the first append
        # would see its own output and drop rows.  Eagerly truncate the
        # lineage — Iceberg's snapshot isolation gives this for free; on
        # parquet, localCheckpoint is the stand-in.
        todo = todo.localCheckpoint(eager=True)
        # the extraction/chunk/mention UDF output feeds every downstream
        # write — materialize it once so the four appends don't recompute
        # (on a cluster these would be intermediate Iceberg tables)
        res = run_pipeline(todo, replace(self.config, materialize=True))
        return self.commit(res, t0, branch)

    def commit(self, res: PipelineResult, t0: float,
               branch: Optional[str] = None, **extra: DataFrame) -> int:
        """Commit ``res`` (and unpersist it) as one run under a fresh run
        id: its four stages plus the ``extra`` named relations are
        appended, then the manifest row is written.  ``t0`` is the run's
        start (``time.perf_counter()``) for the manifest's wall time.
        Returns the number of documents processed."""
        run_id = uuid.uuid4().hex
        try:
            self._append_stages(res, run_id, **extra)
        finally:
            res.unpersist()
        # the appends ran the observed extraction relation: its counter is
        # the size of `extracted` without a count job.  When no document
        # was extractable, AQE prunes the empty observed stage from the
        # plan of the write that finishes first, and the observation
        # completes with an empty row: nothing was extracted
        processed = res.run_counters["docs_extracted"] \
            if res.observation._jo.getRow().length() else 0
        # the commit point: a run is visible if and only if this row landed
        # (for a branch run: visible to the BRANCH if and only if)
        self._manifest(run_id, processed, time.perf_counter() - t0,
                       status="staged" if branch else "committed",
                       branch=branch)
        return processed

    def _append_stages(self, res: PipelineResult, run_id: str,
                       **extra: DataFrame) -> None:
        """The data-file half of the commit: the four stages of ``res``
        and the ``extra`` named relations, no graph, each written to its
        table's write directory for ``run_id`` and stamped with it,
        invisible until `_manifest` records the run as committed.  The
        appends run concurrently, one thread per stage: each is a
        latency-bound job on small data, and tasks that reach a persisted
        partition another job is computing wait on its block lock and read
        it instead of recomputing.  Returns only after every append has
        finished; then the first failure, in stage order, is raised.
        Split out so tests can simulate a crash between the appends and
        the commit."""
        stages = [*zip(STAGES, (res.extracted, res.chunks, res.doc_mentions,
                                res.metrics)), *extra.items()]

        def append(name: str, df: DataFrame) -> None:
            _stage_writer(df.withColumn(RUN_ID_COL, F.lit(run_id)),
                          "append").parquet(self._write_path(name, run_id))

        # leaving the block waits for every append; each thread gets its
        # own copy of the caller's job group, scheduler pool and tags
        with ThreadPoolExecutor(max_workers=len(stages)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(append),
                            name, df)
                for name, df in stages]
        for f in futures:
            f.result()

    # ------------------------------------------------------------ readers

    def _write_dirs(self, table: str, runs: list,
                    staged: bool = True) -> "tuple[list, list]":
        """(live, dead) write ids of ``table`` under the live-write rule
        (module docstring), from the manifest rows ``runs`` and one
        listing of the table directory.  Without ``staged``, only the
        writes of committed runs count as live: what a rewrite reads and
        supersedes, so a staged run's writes stay its own and a drop of
        its branch leaves them whole for `compact` to sweep.  Raises
        ``ValueError`` naming the table when it holds data outside a
        write directory."""
        fs, jpath = _fs_path(self.spark, self._path(table))
        gone, lost = _replaces(runs)
        statuses = ("committed", "staged") if staged else ("committed",)
        ok = {rid for rid, r in _latest(runs).items()
              if rid not in lost and r.get("status") in statuses}
        live, dead = [], []
        for st in fs.listStatus(jpath) if fs.exists(jpath) else []:
            name = st.getPath().getName()
            if name.startswith(WRITE_DIR):
                wid = name[len(WRITE_DIR):]
                (live if wid in ok and f"{table}/{wid}" not in gone
                 else dead).append(wid)
            elif name[0] not in "_.":
                raise ValueError(f"stage table {table!r} under {self.root} "
                                 "holds data outside a write directory (an "
                                 "earlier layout): re-ingest the input")
        return live, dead

    def _empty_stage(self, table: str) -> DataFrame:
        """A stamped relation with no rows and the columns ``table``'s
        writes carry: the pipeline's columns over no pages for a stage,
        `TABLE_COLUMNS` for any other table."""
        df = getattr(run_pipeline(self.spark.createDataFrame([], WEB_PAGES),
                                  replace(self.config, materialize=False)),
                     table) if table in STAGES \
            else self.spark.createDataFrame([], TABLE_COLUMNS[table])
        return df.withColumn(RUN_ID_COL, F.lit(None).cast("string"))

    def _read_stage(self, stage: str, runs: Optional[list] = None,
                    wids: Optional[list] = None) -> DataFrame:
        """The stamped rows of ``stage``'s writes ``wids`` (by default its
        live writes under the manifest rows ``runs``, read here when
        None), with SCHEMA EVOLUTION semantics: parquet footers are merged
        across data files, so batches appended by a newer pipeline version
        with added columns coexist with old files — old rows surface NULL
        in the new columns, exactly what an Iceberg add-column gives
        (column adds never rewrite data).  Without mergeSchema, Spark
        samples one footer and the visible schema would depend on file
        listing order.  Each write directory is listed recursively, with no
        partition discovery, so a write holding subdirectories (the url-host
        partitions of earlier roots) reads like a flat one and adds no
        column.  Every committed write holds a data file, an empty append
        included; an empty relation when no write is given."""
        if wids is None:
            wids = self._write_dirs(
                stage, self._runs() if runs is None else runs)[0]
        if not wids:
            return self._empty_stage(stage)
        return self.spark.read.options(
            mergeSchema=True, recursiveFileLookup=True).parquet(
            *(self._write_path(stage, w) for w in wids))

    def graph(self, as_of=None) -> "tuple[DataFrame, DataFrame]":
        """(nodes, edges): `build_web_graph` over the committed
        ``extracted``, ``chunks`` and ``doc_mentions`` rows as of ``as_of``
        (snapshot seq or run id).  Ids and reverse edges follow this
        reader's ``id_mode`` and ``add_reverse_edges``.  The three stages
        share one manifest read and one resolution of the visible runs
        and delete keys."""
        runs = self._runs()
        visibility = self._visibility(as_of, runs=runs)
        extracted, chunks, doc_mentions = (
            self._filter_committed(self._read_stage(s, runs),
                                   visibility=visibility)
            for s in ("extracted", "chunks", "doc_mentions"))
        return build_web_graph(extracted, chunks, doc_mentions, self.config)

    def nodes(self, as_of=None) -> DataFrame:
        return self.graph(as_of)[0]

    def edges(self, as_of=None) -> DataFrame:
        return self.graph(as_of)[1]

    def committed(self, stage: str, as_of=None) -> DataFrame:
        """The visible rows of ``stage`` as of ``as_of``, without the run
        stamp."""
        return self._visible(stage, as_of)

    def _visible(self, stage: str, as_of=None, branch=None) -> DataFrame:
        """`_filter_committed` over ``stage``'s live writes, both resolved
        from one manifest read."""
        runs = self._runs()
        return self._filter_committed(
            self._read_stage(stage, runs),
            visibility=self._visibility(as_of, branch, runs))

    def extracted(self, as_of=None) -> DataFrame:
        """Extracted text across committed runs."""
        return self.committed("extracted", as_of)

    # -------------------------------------------------------- maintenance

    def _replace(self, writes: dict, supersedes: list,
                 expire_below: Optional[int] = None) -> str:
        """The one rewrite commit (Iceberg's ``replace`` snapshot): save
        each ``{table: writer}`` as a parquet write under a fresh id,
        commit one ``kind="replace"`` manifest row naming ``supersedes``
        (``<table>/<write id>``, exactly the writes the rewrite read) and
        ``expire_below``, and only then delete the superseded
        directories.  A crash before the row leaves the new writes dead; a
        crash after it leaves the superseded ones dead; `compact` sweeps
        either.  A replace that loses a race with another over one of its
        writes (`_replaces`) is dead: it deletes nothing and raises, and
        the caller may retry.  Returns the new write id."""
        rid = uuid.uuid4().hex
        for table, writer in writes.items():
            writer.format("parquet").save(self._write_path(table, rid))
        self._manifest(rid, 0, 0.0, kind="replace", supersedes=supersedes,
                       expire_below=expire_below)
        if rid in _replaces(self._runs())[1]:
            raise RuntimeError("a concurrent rewrite replaced the same "
                               "writes first; this one committed nothing")
        self._drop_writes(supersedes)
        return rid

    def _drop_writes(self, keys: list) -> None:
        """Delete the write directories ``keys`` (``<table>/<write id>``),
        then each of their tables' directories left with no write."""
        for key in keys:
            _delete(self.spark, self._write_path(*key.split("/", 1)))
        for table in {key.split("/", 1)[0] for key in keys}:
            if not any(self._write_dirs(table, [])):  # ([], every write)
                _delete(self.spark, self._path(table))

    def compact_files(self, target_bytes: int = 128 << 20) -> dict:
        """Bin-pack each stage table's committed data files toward
        ``target_bytes`` (Iceberg ``rewrite_data_files`` analogue) — the
        other half of checkpoint maintenance next to :meth:`compact`.

        Every resumed run and every streaming micro-batch *appends*, so a
        long-lived checkpoint accumulates small files run after run:
        after 10k micro-batches a 100 TB table is millions of kilobyte
        files, and the planner pays per-file open/footer costs that dwarf
        the scan.  This rewrites any stage whose files are far smaller than
        the target into ~``total_bytes / target_bytes`` files.

        Returns ``{stage: (files_before, files_after)}`` for the rewritten
        stages; stages already near the target are left untouched (never
        rewrite what compaction cannot improve — at 100 TB the rewrite IS
        the expensive operation).

        The rewrite is the identity, committed through :meth:`_replace`:
        it supersedes exactly the writes it read, so a run that commits
        while it runs is neither lost nor duplicated, a concurrent rewrite
        of the same writes makes one of the two raise, and a crash
        anywhere leaves every read unchanged.  A staged run's writes are
        not rewritten (see `_write_dirs`).
        """
        runs = self._runs()
        writes, supersedes, before = {}, [], {}
        for stage in STAGES + LINK_STAGES:
            live = self._write_dirs(stage, runs, False)[0]
            stats = _data_file_stats(
                self.spark, *(self._write_path(stage, w) for w in live))
            if stats is None:
                continue
            n_files, total_bytes = stats
            ideal = max(1, -(-total_bytes // target_bytes))  # ceil
            # hysteresis: only rewrite when the table is fragmented well
            # past the ideal layout, so repeated maintenance is idempotent
            if n_files <= max(ideal * 2, ideal + 4):
                continue
            # mergeSchema: a rewrite must never drop columns added by
            # schema evolution after some files were written
            writes[stage] = self._read_stage(stage, wids=live) \
                .repartition(int(ideal)).write.mode("overwrite")
            supersedes += [f"{stage}/{w}" for w in live]
            before[stage] = n_files
        rid = self._replace(writes, supersedes) if writes else ""
        return {stage: (n, _data_file_stats(self.spark, self._write_path(
            stage, rid))[0]) for stage, n in before.items()}

    def compact(self) -> dict:
        """The sweep — the parquet stand-in for Iceberg's orphan-file
        removal: delete every write directory that is not live (module
        docstring) — crashed runs' orphans, dropped branches' runs and
        superseded writes — and a table directory left with no write.
        Writes of runs still staged on a branch are live (a branch ref
        keeps its snapshots alive until it is published or dropped).  Only
        dead directories are deleted, so a crash mid-sweep changes no
        read.  Run it when no run and no rewrite is in flight: their
        writes are dead until their manifest row lands.

        Returns ``{table: rows_reclaimed}`` for every table holding a
        write.  No-op (zero reclaimed) when every write is live —
        compaction is maintenance, never a correctness requirement,
        because readers read only live writes anyway.  Dead writes are
        the one read that may find no data file: a run that crashed
        mid-write can leave nothing but ``_temporary/``, which counts as
        zero rows."""
        runs = self._runs()
        reclaimed = {}
        for table in STAGES + LINK_STAGES + ("deletes",):
            live, dead = self._write_dirs(table, runs)
            if live or dead:
                reclaimed[table] = 0
            if dead:
                try:
                    reclaimed[table] = self._read_stage(
                        table, wids=dead).count()
                except AnalysisException as e:
                    if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                        raise
            self._drop_writes([f"{table}/{w}" for w in dead])
        return reclaimed

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Retire time travel to all but the newest ``keep_last``
        snapshots — the Iceberg ``expire_snapshots(retain_last=N)``
        analogue, with the same two invariants the parity tests pin:

        * the CURRENT table state is untouched: data appended by expired
          runs stays visible in plain reads (Iceberg never deletes data
          still referenced by a retained snapshot — expiry removes
          metadata and only files no retained snapshot references);
        * ``as_of`` an expired snapshot raises loudly instead of
          silently un-pinning to some other state.

        The expiry is one appended, seq-less manifest record carrying
        ``expire_below`` (``runs/expire-<cutoff>.json``); no manifest row
        is rewritten.  Dead writes (crashed runs' orphans: files
        referenced by NO retained snapshot) are reclaimed here via
        :meth:`compact` — together the two halves are the full expire
        pass.  ``keep_last`` must be at least 1, as Iceberg's
        ``retain_last``.

        Returns ``{"expired": n_snapshots, "reclaimed_rows": total}``."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        snaps = self.snapshots()
        seqs = sorted(r.seq for r in snaps.select("seq").collect()) \
            if snaps else []
        if len(seqs) > keep_last:  # no seq: an expiry is no snapshot
            cutoff = seqs[-keep_last]
            record = {"kind": "expire", "expire_below": cutoff}
            _create_exclusive(self.spark, f"{self._path('runs')}/expire-"
                              f"{cutoff:020d}.json",
                              json.dumps(record).encode() + b"\n")
        return {"expired": max(0, len(seqs) - keep_last),
                "reclaimed_rows": sum(self.compact().values())}

    def added_between(self, stage: str, since: int,
                      until=None) -> DataFrame:
        """Incremental read: rows appended by snapshots with
        ``since < seq <= until`` (until=None -> latest) — the Iceberg
        incremental-scan (``start-snapshot-id``/``end-snapshot-id``)
        analogue; a downstream consumer processes exactly the delta
        between two checkpoints instead of rescanning the table."""
        runs = self._runs()
        rids = _committed_seqs(self._runs_df(runs),
                               None if until is None else int(until)) \
            .where(F.col(SEQ_COL) > int(since)).select(RUN_ID_COL)
        return self._read_stage(stage, runs).join(
            F.broadcast(rids), RUN_ID_COL, "left_semi").drop(RUN_ID_COL)

    def _manifest(self, run_id: str, processed: int,
                  wall_seconds: float, kind: str = "append",
                  status: str = "committed",
                  branch: Optional[str] = None, **extra) -> None:
        """S12 run-manifest row (`orchestrator.py:149-240` analogue); doubles
        as the atomic commit record for ``run_id``'s appends (or its
        staging record, for a WAP branch run, or a rewrite's replace
        record, whose ``extra`` carries ``supersedes`` and
        ``expire_below``).  The row is one file, ``runs/<seq>.json``,
        created exclusively: a writer that finds its seq taken retries at
        a strictly greater seq, so two writers never share one and an
        unreadable file at a seq never blocks the next commit.  No Spark
        job runs."""
        row = {
            "run_id": run_id,
            "kind": kind,
            "status": status,
            "branch": branch or "",
            "run_ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "processed_docs": int(processed),
            "wall_seconds": float(round(wall_seconds, 3)),
            **extra,
            **{f"cfg_{k}": str(v) for k, v in asdict(self.config).items()},
        }
        # monotone snapshot sequence — the time-travel axis (run_ts has
        # second resolution, so ties are possible there; seq is total)
        seq = self._next_seq()
        while not _create_exclusive(
                self.spark, f"{self._path('runs')}/{seq:020d}.json",
                json.dumps({**row, "seq": seq}).encode() + b"\n"):
            seq = max(self._next_seq(), seq + 1)


# ------------------------------------------------------- file maintenance

def _stage_writer(df: DataFrame, mode: str):
    """Writer of ``df`` under the write rule (module docstring): an AQE
    rebalance before the write.  Stage appends and delete rewrites write
    through it."""
    return df.hint("rebalance").write.mode(mode)


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — whatever filesystem it
    lives on (HDFS, S3A, local)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return (jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()),
            jpath)


def _delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` (no-op when it is absent)."""
    fs, jpath = _fs_path(spark, path)
    fs.delete(jpath, True)


def _create_exclusive(spark: SparkSession, path: str, data: bytes) -> bool:
    """Create the file ``path`` holding ``data``; False, leaving the file
    untouched, when it already exists.  Hadoop's ``create(path,
    overwrite=false)`` is exclusive on HDFS, but on the local filesystem it
    checks for the file and then opens it, so two writers can both pass
    the check; there an ``O_EXCL`` open is the exclusive create."""
    fs, jpath = _fs_path(spark, path)
    if _is_local(fs):
        local = fs.makeQualified(jpath).toUri().getPath()
        os.makedirs(os.path.dirname(local), exist_ok=True)
        try:
            with open(local, "xb") as fh:  # O_CREAT | O_EXCL
                fh.write(data)
        except FileExistsError:
            return False
        return True
    try:
        out = fs.create(jpath, False)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() \
                != "org.apache.hadoop.fs.FileAlreadyExistsException":
            raise
        return False
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    return True


def _is_local(fs) -> bool:
    """Whether ``fs`` is the local filesystem (scheme ``file``)."""
    return fs.getScheme() == "file"


def _read_files(spark: SparkSession, path: str) -> list:
    """The contents of the files directly under the directory ``path``
    whose names start with neither ``_`` nor ``.``; none when ``path`` is
    absent.  Python reads them on the local filesystem: a Hadoop read
    costs several Py4J round trips per file, which a manifest of
    thousands of commits would pay on every read."""
    fs, jpath = _fs_path(spark, path)
    if _is_local(fs):
        local = Path(fs.makeQualified(jpath).toUri().getPath())
        return [f.read_bytes() for f in local.glob("[!_.]*") if f.is_file()]
    out = []
    for st in fs.listStatus(jpath) if fs.exists(jpath) else []:
        if st.isFile() and st.getPath().getName()[0] not in "_.":
            stream = fs.open(st.getPath())
            try:
                out.append(bytes(stream.readAllBytes()))
            finally:
                stream.close()
    return out


def _data_file_stats(spark: SparkSession, *paths: str):
    """(file_count, total_bytes) of the parquet data files under ``paths``
    (a table, or some of its write directories), or None when there is
    none.  Uses the Hadoop FileSystem API, listing recursively as the
    stage reads do."""
    sizes = []
    for path in paths:
        fs, jpath = _fs_path(spark, path)
        it = fs.listFiles(jpath, True) if fs.exists(jpath) else None
        while it is not None and it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                sizes.append(st.getLen())
    return (len(sizes), sum(sizes)) if sizes else None
