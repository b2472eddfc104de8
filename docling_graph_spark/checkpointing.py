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

The four appends run concurrently and all finish before the commit point.
The commit point is one exclusive create of the file ``runs/<seq>.json``
(seq zero-padded to 20 digits), with no Spark job: a writer that finds its
seq taken retries at a greater one, as an Iceberg writer that loses the
metadata swap does.

The graph is not stored: `CheckpointedRun.graph` derives it from the
committed stages on every read, through the visibility rule below.

A stream micro-batch (streaming/incremental.py) is one run too: it takes
its pending rows from `CheckpointedRun.pending` and commits through
`CheckpointedRun.commit`, with its host link-graph partials
(`LINK_STAGES`) as two more stages of the same run.  So a crash anywhere
before the manifest row leaves only invisible orphans, and the replayed
batch redoes exactly the uncommitted work.

The visibility rule, applied by `CheckpointedRun._filter_committed` and
nowhere else: a stage row is visible if and only if its run's manifest row
is ``committed`` (or ``expired``) with ``seq`` at or before the pinned
snapshot — or, for a branch read, its run is staged on that branch — and
no equality delete with a strictly newer ``seq`` names its url.  No
manifest means nothing is committed, so a run that crashes during its
first commit leaves only invisible orphans.  The resume anti-join and
every reader go through that one function; orphans are dead weight until
`compact` (the expire-snapshots analogue) rewrites them away.  Every stage
read goes through `CheckpointedRun._read_stage`, which refuses a table
without the ``_run_id`` stamp (a root written by the old unstamped
stream): such a root must be re-ingested.

Scale notes: the anti-join's build side is only the key column of the done
set (column pruning keeps it narrow); with Iceberg the done-keys scan prunes
to the partitions the restart touches.  Appends are partitioned by url-host
bucket so a resumed run's writes land in the same layout.  The visible
run set is one tiny relation (one row per run) broadcast into the
`_run_id` join.

The write rule, applied by `_stage_writer` to every append and rewrite:
an AQE rebalance before the write (the optimized-write shuffle), so files
follow the data, not the task count.  The bucketed ``extracted`` stage
rebalances by ``bucket``, so each write lands one file per ``bucket=``
directory; only a bucket past the advisory size is split, so a hot bucket
never pins one task.  The other stages land a few advisory-sized files
per commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, fields, replace
from typing import Optional

from py4j.protocol import Py4JJavaError
from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from .pipeline import (PipelineConfig, PipelineResult, build_web_graph,
                       run_pipeline)

STAGES = ("extracted", "chunks", "doc_mentions", "metrics")
# the host link-graph partials and their url ledger, committed by a stream
# run with ``link_edges`` (streaming/incremental.py)
LINK_STAGES = ("host_edges", "host_edges_urls")
RUN_ID_COL = "_run_id"
SEQ_COL = "_seq"  # snapshot seq of a row's run, attached for delete checks

# one manifest row per commit, exactly the fields `_manifest` writes
MANIFEST_SCHEMA = StructType(
    [StructField("run_id", StringType()),
     StructField("kind", StringType()),
     StructField("status", StringType()),
     StructField("branch", StringType()),
     StructField("n_buckets", LongType()),
     StructField("seq", LongType()),
     StructField("run_ts", StringType()),
     StructField("processed_docs", LongType()),
     StructField("wall_seconds", DoubleType())]
    + [StructField(f"cfg_{f.name}", StringType())
       for f in fields(PipelineConfig)])


def pending_inputs(inputs: DataFrame, done: Optional[DataFrame],
                   key: str = "url") -> DataFrame:
    """left_anti restart: rows of `inputs` not yet in the done set."""
    if done is None:
        return inputs
    return inputs.join(done, key, "left_anti")


def host_bucket(url_col, n_buckets: int = 64):
    """Stable url-host bucket used as the write partition column."""
    return F.pmod(F.xxhash64(F.parse_url(url_col, F.lit("HOST"))),
                  F.lit(n_buckets))


def _committed_seqs(runs: DataFrame, pin: Optional[int] = None) -> DataFrame:
    """(``_run_id``, ``_seq``) of runs committed at or before ``pin``.  An
    EXPIRED snapshot (expire_snapshots) keeps its data in the current table
    state — Iceberg expiry only retires the ability to time-travel to it."""
    runs = runs.where(F.col("status").isin("committed", "expired")
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
                 config: Optional[PipelineConfig] = None,
                 n_buckets: int = 64):
        self.spark = spark
        self.root = root.rstrip("/")
        self.config = config or PipelineConfig()
        self.n_buckets = n_buckets

    def _path(self, stage: str) -> str:
        return f"{self.root}/{stage}"

    def _exists(self, stage: str) -> bool:
        fs, jpath = _fs_path(self.spark, self._path(stage))
        return bool(fs.exists(jpath))

    # ------------------------------------------------------------ commits

    def _runs(self) -> Optional[DataFrame]:
        """The run manifest, one row per commit; None when no run has
        written one yet.  The only manifest read: it reads the seq-named
        files `_manifest` creates and the ``part-*.json`` files of older
        commits and of `_expire_manifest_below` alike.  Read errors other
        than a missing directory propagate."""
        if not self._exists("runs"):
            return None
        return self.spark.read.json(self._path("runs"),
                                    schema=MANIFEST_SCHEMA)

    def _as_of_seq(self, as_of, runs: DataFrame) -> Optional[int]:
        """Resolve ``as_of`` — a snapshot sequence number (int, see
        :meth:`snapshots`) or a run id (str) — to a snapshot seq.  A run id
        that never committed, or a snapshot that has been expired, raises:
        silently returning another state would un-pin a lineage query."""
        if as_of is None:
            return None
        if isinstance(as_of, str):
            pin = _committed_seqs(runs).where(F.col(RUN_ID_COL) == as_of) \
                .collect()
            if not pin:
                raise ValueError(f"run {as_of!r} never committed")
            as_of = pin[0][SEQ_COL]
        as_of = int(as_of)
        if runs.where((F.col("status") == "expired")
                      & (F.col("seq") >= as_of)).head(1):
            raise ValueError(
                f"snapshot {as_of} has been expired "
                "(expire_snapshots); time travel to it is gone")
        return as_of

    def _staged_runs(self, branch: Optional[str],
                     runs: Optional[DataFrame] = None) -> Optional[DataFrame]:
        """Manifest rows of runs staged on ``branch`` (on any branch when
        None) and neither published nor dropped yet (a later manifest row
        for the same run id supersedes the staged one); None when there is
        no manifest."""
        runs = self._runs() if runs is None else runs
        if runs is None:
            return None
        latest = runs.groupBy("run_id").agg(F.max("seq").alias("seq"))
        staged = runs.join(latest, ["run_id", "seq"]) \
            .where(F.col("status") == "staged")
        return staged if branch is None \
            else staged.where(F.col("branch") == branch)

    def _visible_runs(self, as_of=None,
                      branch: Optional[str] = None) -> Optional[DataFrame]:
        """(``_run_id``, ``_seq``) of the runs whose rows are visible:
        committed at or before ``as_of``, plus the runs staged on
        ``branch`` (null ``_seq``: a staged run publishes after every
        existing delete).  None when there is no manifest."""
        runs = self._runs()
        if runs is None:
            return None
        vis = _committed_seqs(runs, self._as_of_seq(as_of, runs))
        if branch is not None:
            vis = vis.unionByName(self._staged_runs(branch, runs).select(
                F.col("run_id").alias(RUN_ID_COL),
                F.lit(None).cast("long").alias(SEQ_COL)))
        return vis

    def _delete_keys(self, vis: DataFrame) -> Optional[DataFrame]:
        """(url, _dseq) of the equality deletes committed by runs in
        ``vis``, or None when no delete was ever written."""
        if not self._exists("deletes"):
            return None
        return self.spark.read.parquet(self._path("deletes")) \
            .join(vis, RUN_ID_COL).select("url", F.col(SEQ_COL).alias("_dseq"))

    def _visibility(self, as_of=None, branch: Optional[str] = None):
        """(visible runs, delete keys): the inputs of the visibility rule,
        resolved from one manifest read.  (None, None) when there is no
        manifest."""
        vis = self._visible_runs(as_of, branch)
        return vis, (None if vis is None else self._delete_keys(vis))

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
        """The snapshot log: committed manifest rows ordered by ``seq``
        (run id, commit timestamp, rows processed, config lineage) — the
        Iceberg ``snapshots`` metadata-table analogue, and the argument
        source for ``as_of`` time travel."""
        runs = self._runs()
        if runs is None:
            return None
        return runs.where(F.col("status") == "committed").orderBy("seq")

    def _next_seq(self) -> int:
        runs = self._runs()
        if runs is None:
            return 1
        return int(runs.agg(F.max("seq")).collect()[0][0] or 0) + 1

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
        self.spark.createDataFrame(
            [(u, run_id) for u in urls],
            f"url string, {RUN_ID_COL} string",
        ).write.mode("append").parquet(self._path("deletes"))
        self._manifest(run_id, len(urls), 0.0, kind="delete")
        return len(urls)

    def rewrite_deletes(self) -> dict:
        """Physically apply committed equality deletes to the data files
        (the ``rewrite_data_files``-with-delete-application maintenance
        pass) and drop the delete files.  Invariants, pinned by the
        parity tests:

        * CURRENT reads are identical before and after the rewrite;
        * ``as_of`` at-or-after the newest applied delete still works;
        * time travel to snapshots OLDER than the newest applied delete
          is retired loudly (status ``expired`` — the parquet stand-in
          keeps no old file versions, and silently returning a state
          missing its deleted rows would un-pin lineage; real Iceberg
          keeps old snapshots until ``expire_snapshots``).

        Returns ``{"applied_deletes": n, "removed_rows": total}``."""
        none = {"applied_deletes": 0, "removed_rows": 0}
        vis, dkeys = self._visibility()
        if dkeys is None:
            return none
        n_dels = dkeys.count()
        if n_dels == 0:
            return none

        def keep(df):
            if "url" not in df.columns:
                return df
            # left join: rows of staged or uncommitted runs keep a null
            # seq and survive — this pass applies deletes, nothing else
            seqd = df.join(F.broadcast(vis), RUN_ID_COL, "left")
            return _drop_deleted(seqd, dkeys).drop(SEQ_COL)

        removed = sum(self._rewrite_stages(keep).values())
        max_dseq = dkeys.agg(F.max("_dseq")).collect()[0][0]
        shutil.rmtree(self._path("deletes"), ignore_errors=True)
        self._expire_manifest_below(int(max_dseq))
        return {"applied_deletes": n_dels, "removed_rows": removed}

    # ------------------------------------------------- WAP branching

    def branch_preview(self, stage: str, branch: str) -> DataFrame:
        """The AUDIT read of write-audit-publish: ``stage`` as it would
        look after ``branch`` is published — committed main snapshots
        plus the branch's staged runs (Iceberg: reading from the
        branch ref).  Main readers (`nodes()`, `extracted()`, ...)
        never see staged rows."""
        return self._filter_committed(self._read_stage(stage), branch=branch)

    def publish_branch(self, branch: str) -> int:
        """Fast-forward publish (Iceberg: main ⇐ branch): every run
        staged on ``branch`` becomes a committed snapshot, in staging
        order, by appending manifest rows only — a METADATA-ONLY
        operation; no data file is rewritten or moved, which the parity
        test pins by listing the stage directories before and after.
        Time travel to any pre-publish snapshot still excludes the
        branch.  Returns the number of runs published."""
        staged = self._staged_runs(branch)
        if staged is None:
            return 0
        # replay in staging order, carrying each run's processed count onto
        # the publish row so the snapshot log stays meaningful
        rows = staged.orderBy("seq").select("run_id", "processed_docs") \
            .collect()
        for r in rows:
            self._manifest(r.run_id, int(r.processed_docs or 0), 0.0,
                           kind="publish")
        return len(rows)

    def drop_branch(self, branch: str) -> int:
        """Abandon ``branch``: staged runs become aborted (their data
        rows remain as invisible orphans, exactly like a crashed run's,
        until `compact` rewrites them away).  Returns the number of runs
        dropped."""
        staged = self._staged_runs(branch)
        if staged is None:
            return 0
        rids = [r.run_id for r in staged.select("run_id").collect()]
        for rid in rids:
            self._manifest(rid, 0, 0.0, kind="drop", status="aborted")
        return len(rids)

    # ---------------------------------------------------------------- run

    def _done_keys(self, branch: Optional[str] = None,
                   stage: str = "extracted") -> Optional[DataFrame]:
        """Resume anti-join build side: the visible urls of ``stage``
        (main, plus ``branch``'s staged runs); None before the first
        commit, when nothing is visible — even if a crashed first run left
        a partial append behind.  Equality deletes apply — a deleted url is
        pending again, so re-ingesting it commits a fresh (visible)
        snapshot.  The join prunes the scan to (url, run id)."""
        df = self._stage_or_none(stage) if self._exists("runs") else None
        if df is None:
            return None
        return self._filter_committed(df, branch=branch) \
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
        # the size of `extracted` without a count job
        processed = res.run_counters["docs_extracted"]
        # the commit point: a run is visible if and only if this row landed
        # (for a branch run: visible to the BRANCH if and only if)
        self._manifest(run_id, processed, time.perf_counter() - t0,
                       status="staged" if branch else "committed",
                       branch=branch)
        return processed

    def _append_stages(self, res: PipelineResult, run_id: str,
                       **extra: DataFrame) -> None:
        """The data-file half of the commit: the four stages of ``res``
        and the ``extra`` named relations, no graph, stamped with
        ``run_id``, invisible until `_manifest` records the run as
        committed.  The appends run concurrently, one thread per stage:
        each is a latency-bound job on small data, and tasks that reach a
        persisted partition another job is computing wait on its block
        lock and read it instead of recomputing.  Returns only after every
        append has finished; then the first failure, in stage order, is
        raised.  Split out so tests can simulate a crash between the
        appends and the commit."""
        extracted = res.extracted.withColumn(
            "bucket", host_bucket(F.col("url"), self.n_buckets))
        stages = [*zip(STAGES, (extracted, res.chunks, res.doc_mentions,
                                res.metrics)), *extra.items()]

        def append(name: str, df: DataFrame) -> None:
            _stage_writer(df.withColumn(RUN_ID_COL, F.lit(run_id)), name,
                          "append").parquet(self._path(name))

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

    def _read_stage(self, stage: str) -> DataFrame:
        """Stage-table read with SCHEMA EVOLUTION semantics: parquet
        footers are merged across data files, so batches appended by a
        newer pipeline version with added columns coexist with old
        files — old rows surface NULL in the new columns, exactly what
        an Iceberg add-column gives (column adds never rewrite data).
        Without mergeSchema, Spark samples one footer and the visible
        schema would depend on file listing order.  A table without the
        run stamp raises ``ValueError``: no manifest row can commit its
        rows."""
        df = self.spark.read.option("mergeSchema", "true").parquet(
            self._path(stage))
        if RUN_ID_COL not in df.columns:
            raise ValueError(
                f"stage table {stage!r} under {self.root} has no "
                f"{RUN_ID_COL} column: it was written without a commit "
                "(the unstamped stream layout); re-ingest the input into "
                "a fresh root")
        return df

    def _stage_or_none(self, stage: str) -> Optional[DataFrame]:
        """:meth:`_read_stage`, or None while the stage has no data file:
        never written, or holding only the temp files of a crash inside
        its first append."""
        if not self._exists(stage):
            return None
        try:
            return self._read_stage(stage)
        except AnalysisException as e:
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            return None

    def graph(self, as_of=None) -> "tuple[DataFrame, DataFrame]":
        """(nodes, edges): `build_web_graph` over the committed
        ``extracted``, ``chunks`` and ``doc_mentions`` rows as of ``as_of``
        (snapshot seq or run id).  Ids and reverse edges follow this
        reader's ``id_mode`` and ``add_reverse_edges``.  The three stages
        share one resolution of the visible runs and delete keys."""
        visibility = self._visibility(as_of)
        extracted, chunks, doc_mentions = (
            self._filter_committed(self._read_stage(s),
                                   visibility=visibility)
            for s in ("extracted", "chunks", "doc_mentions"))
        return build_web_graph(extracted.drop("bucket"), chunks,
                               doc_mentions, self.config)

    def nodes(self, as_of=None) -> DataFrame:
        return self.graph(as_of)[0]

    def edges(self, as_of=None) -> DataFrame:
        return self.graph(as_of)[1]

    def committed(self, stage: str, as_of=None) -> DataFrame:
        """The visible rows of ``stage`` as of ``as_of``, without the run
        stamp."""
        return self._filter_committed(self._read_stage(stage), as_of=as_of)

    def extracted(self, as_of=None) -> DataFrame:
        """Extracted text across committed runs.  HIDDEN PARTITIONING:
        the physical ``bucket=`` layout (a url-host hash transform,
        :func:`host_bucket`) never leaks into the logical schema —
        callers see exactly the pipeline's columns, as with an Iceberg
        partition-spec transform.  Use :meth:`extracted_for_hosts` for
        transform-aware pruned reads."""
        return self.committed("extracted", as_of).drop("bucket")

    def _bucket_specs(self) -> "set[int]":
        """Every bucket-count spec data was ever committed (or staged)
        under, from the manifest — Iceberg's partition-spec registry
        analogue — plus the CURRENT spec."""
        specs = {self.n_buckets}
        runs = self._runs()
        if runs is not None:
            specs.update(int(r.n_buckets) for r in
                         runs.where(F.col("n_buckets").isNotNull())
                         .select("n_buckets").distinct().collect())
        return specs

    def extracted_for_hosts(self, hosts, as_of=None) -> DataFrame:
        """Pruned read of :meth:`extracted` for a host set: the reader
        applies the SAME hidden transform the writer used (Iceberg's
        partition-spec evaluation) — host -> bucket on the driver
        (O(#hosts) tiny job), a partition filter on the physical
        ``bucket`` column so only matching directories are scanned,
        then the exact host predicate; the transform column still never
        leaks out.

        PARTITION SPEC EVOLUTION (Iceberg: spec-id per data file): if
        the table accumulated runs under different ``n_buckets``
        settings, the bucket IN-list is the UNION of each spec's
        transform of the host set — files written under any historical
        spec still prune correctly, and the exact host predicate keeps
        the result identical to the unpruned read."""
        hosts = list(hosts)
        if not hosts:
            return self.extracted(as_of=as_of).limit(0)
        hdf = self.spark.createDataFrame([(h,) for h in hosts],
                                         "h string")
        buckets: "set[int]" = set()
        for spec in sorted(self._bucket_specs()):
            buckets.update(
                r[0] for r in hdf.select(
                    F.pmod(F.xxhash64("h"), F.lit(spec))).collect())
        df = self._read_stage("extracted").where(
            F.col("bucket").isin(sorted(buckets)))
        df = self._filter_committed(df, as_of=as_of)
        return df.where(
            F.parse_url(F.col("url"), F.lit("HOST")).isin(hosts)
        ).drop("bucket")

    # -------------------------------------------------------- maintenance

    def compact_files(self, target_bytes: int = 128 << 20) -> dict:
        """Bin-pack each stage table's data files toward ``target_bytes``
        (Iceberg ``rewrite_data_files`` analogue) — the other half of
        checkpoint maintenance next to :meth:`compact`.

        Every resumed run and every streaming micro-batch *appends*, so a
        long-lived checkpoint accumulates one small file per task per run:
        after 10k micro-batches a 100 TB table is millions of kilobyte
        files, and the planner pays per-file open/footer costs that dwarf
        the scan.  This rewrites any stage whose files are far smaller than
        the target into ~``total_bytes / target_bytes`` files, keeping the
        ``bucket`` partition layout of the ``extracted`` stage.

        Returns ``{stage: (files_before, files_after)}`` for the rewritten
        stages; stages already near the target are left untouched (never
        rewrite what compaction cannot improve — at 100 TB the rewrite IS
        the expensive operation).

        Run it between ingestion runs, not concurrently with one: the
        rewrite snapshots the table then swaps, so rows appended after the
        snapshot would be lost (Iceberg's optimistic commit retry is the
        production answer; plain parquet has no commit protocol to race).
        """
        rewritten: dict = {}
        for stage in STAGES + LINK_STAGES:
            path = self._path(stage)
            stats = _data_file_stats(self.spark, path)
            if stats is None:
                continue
            n_files, total_bytes, n_dirs = stats
            ideal = max(1, -(-total_bytes // target_bytes))  # ceil
            # a hive-partitioned table cannot go below one file per
            # populated partition directory — that's the achievable floor
            if stage == "extracted":
                ideal = max(ideal, n_dirs)
            # hysteresis: only rewrite when the table is fragmented well
            # past the ideal layout, so repeated maintenance is idempotent
            if n_files <= max(ideal * 2, ideal + 4):
                continue
            # mergeSchema: a rewrite must never drop columns added by
            # schema evolution after some files were written
            df = self._read_stage(stage)
            if stage == "extracted":
                writer = _stage_writer(df, stage, "overwrite")
            else:
                writer = df.repartition(int(ideal)).write.mode("overwrite")
            # cap file size from the observed bytes/row so one fat bucket
            # cannot produce a single outsized file
            n_rows = df.count()
            if n_rows and total_bytes:
                rows_per_file = max(1, int(n_rows * target_bytes
                                           / total_bytes))
                writer = writer.option("maxRecordsPerFile", rows_per_file)
            _atomic_rewrite(path, writer.format("parquet"))
            after = _data_file_stats(self.spark, path)
            rewritten[stage] = (n_files, after[0] if after else 0)
        return rewritten

    def _rewrite_stages(self, keep) -> dict:
        """Rewrite each stage table to ``keep(df)`` and swap it in
        (:func:`_atomic_rewrite`); ``keep`` returning ``df`` itself skips
        the stage.  Returns ``{stage: rows_removed}``."""
        removed: dict = {}
        for stage in STAGES + LINK_STAGES:
            df = self._stage_or_none(stage)
            if df is None:
                continue  # never written, or no data file
            kept = keep(df)
            if kept is df:
                continue
            n_total = df.count()
            n_keep = kept.count()
            removed[stage] = n_total - n_keep
            if n_total == n_keep:
                continue
            _atomic_rewrite(self._path(stage),
                            _stage_writer(kept, stage, "overwrite")
                            .format("parquet"))
        return removed

    def compact(self) -> dict:
        """Expire orphan rows left by crashed (uncommitted) runs — the
        parquet stand-in for Iceberg's ``expire_snapshots`` + data-file
        rewrite.  Each stage table is rewritten keeping only the rows of
        committed runs and of runs still staged on a branch (a branch ref
        keeps its snapshots alive until it is published or dropped),
        swapped in with a rename (readers in flight keep their
        already-planned file list; new readers see the compacted table).

        Returns ``{stage: rows_reclaimed}``.  No-op (zero reclaimed) when
        every appended run committed — compaction is maintenance, never a
        correctness requirement, because readers filter to committed runs
        anyway."""
        runs = self._runs()
        if runs is None:
            return self._rewrite_stages(lambda df: df.where(F.lit(False)))
        live = _committed_seqs(runs).select(RUN_ID_COL).unionByName(
            self._staged_runs(None, runs).select(
                F.col("run_id").alias(RUN_ID_COL)))
        return self._rewrite_stages(lambda df: df.join(
            F.broadcast(live), RUN_ID_COL, "left_semi"))

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

        Orphan rows from crashed (never-committed) runs are the parquet
        analogue of files referenced by NO retained snapshot, so they
        are reclaimed here via :meth:`compact` — together the two halves
        are the full expire pass.  ``keep_last`` must be at least 1, as
        Iceberg's ``retain_last``.

        Returns ``{"expired": n_snapshots, "reclaimed_rows": total}``."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        snaps = self.snapshots()
        if snaps is None:
            return {"expired": 0, "reclaimed_rows": 0}
        seqs = sorted(r.seq for r in snaps.select("seq").collect())
        cutoff = seqs[-keep_last] if keep_last <= len(seqs) else 0
        expired_n = self._expire_manifest_below(cutoff)
        reclaimed = sum(self.compact().values())
        return {"expired": expired_n, "reclaimed_rows": reclaimed}

    def _expire_manifest_below(self, cutoff: int) -> int:
        """Mark committed manifest rows with ``seq < cutoff`` as
        ``expired`` (atomic json swap); returns the count."""
        runs = self._runs()
        old = (F.col("status") == "committed") & (F.col("seq") < cutoff)
        expired_n = runs.where(old).count()
        if expired_n:
            updated = runs.withColumn(
                "status",
                F.when(old, F.lit("expired")).otherwise(F.col("status")))
            _atomic_rewrite(self._path("runs"),
                            updated.coalesce(1).write.mode("overwrite")
                            .format("json"))
        return expired_n

    def added_between(self, stage: str, since: int,
                      until=None) -> DataFrame:
        """Incremental read: rows appended by snapshots with
        ``since < seq <= until`` (until=None -> latest) — the Iceberg
        incremental-scan (``start-snapshot-id``/``end-snapshot-id``)
        analogue; a downstream consumer processes exactly the delta
        between two checkpoints instead of rescanning the table."""
        df = self._read_stage(stage)
        runs = self._runs()
        if runs is None:
            return df.where(F.lit(False)).drop(RUN_ID_COL)
        pin = None if until is None else int(until)
        rids = _committed_seqs(runs, pin) \
            .where(F.col(SEQ_COL) > int(since)).select(RUN_ID_COL)
        return df.join(F.broadcast(rids), RUN_ID_COL, "left_semi") \
            .drop(RUN_ID_COL)

    def _manifest(self, run_id: str, processed: int,
                  wall_seconds: float, kind: str = "append",
                  status: str = "committed",
                  branch: Optional[str] = None) -> None:
        """S12 run-manifest row (`orchestrator.py:149-240` analogue); doubles
        as the atomic commit record for ``run_id``'s appends (or its
        staging record, for a WAP branch run).  The row is one file,
        ``runs/<seq>.json``, created exclusively: a writer that finds its
        seq taken retries at a strictly greater seq, so two writers never
        share one and an unreadable file at a seq never blocks the next
        commit.  No Spark job runs."""
        row = {
            "run_id": run_id,
            "kind": kind,
            "status": status,
            "branch": branch or "",
            # the partition spec this run's data files were written
            # under (Iceberg: spec-id); readers union specs for pruning
            "n_buckets": self.n_buckets,
            "run_ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "processed_docs": int(processed),
            "wall_seconds": float(round(wall_seconds, 3)),
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

def _stage_writer(df: DataFrame, stage: str, mode: str):
    """Writer of ``stage`` under the write rule (module docstring): an
    AQE rebalance before the write, by ``bucket`` for the bucket-
    partitioned ``extracted`` stage.  Appends, delete rewrites and the
    bucketed `compact_files` rewrite all write through it."""
    if stage == "extracted":
        return df.hint("rebalance", "bucket").write.mode(mode) \
            .partitionBy("bucket")
    return df.hint("rebalance").write.mode(mode)


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — whatever filesystem it
    lives on (HDFS, S3A, local)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return (jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()),
            jpath)


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
            fd = os.open(local, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as fh:
            fh.write(data)
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


def _data_file_stats(spark: SparkSession, path: str):
    """(file_count, total_bytes, partition_dirs) of a table's parquet data
    files, or None when the table does not exist.  Uses the Hadoop
    FileSystem API — the same listing the scan planner performs."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return None
    it = fs.listFiles(jpath, True)  # recursive: descends bucket=N dirs
    n_files = 0
    total = 0
    parents = set()
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if p.getName().endswith(".parquet"):
            n_files += 1
            total += st.getLen()
            parents.add(p.getParent().toString())
    if n_files == 0:
        return None
    return n_files, total, len(parents)


def _atomic_rewrite(path: str, writer) -> None:
    """Materialize ``writer`` (its format already set) at a sibling temp
    dir, then swap it into ``path`` — readers in flight keep their
    already-planned file list, new readers see the rewritten table (the
    parquet stand-in for an Iceberg rewrite commit; on object stores the
    swap is the table-format's metadata pointer update, which is why
    production uses Iceberg)."""
    tmp = f"{path}.compacting"
    writer.save(tmp)
    old = f"{path}.old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
