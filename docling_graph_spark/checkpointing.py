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
across the run: six independent parquet appends are not a transaction, and
a crash after the `extracted` append but before the `edges` append would
make the restart treat those urls as done — their edges silently lost
forever.  So runs commit the way an Iceberg snapshot does: every stage
append is stamped with the run's id (`_run_id` column = the data files),
and the run-manifest row written LAST is the commit point (= the metadata
swap).  The resume anti-join and all readers see only committed runs;
rows from a crashed run are invisible orphans that the retry supersedes
(Iceberg's expire-snapshots would reclaim them; on parquet they are
dead weight until a compaction pass).  Citations: reference metadata sink
`/root/reference/docling_graph/pipeline/orchestrator.py:149-240` (the run
manifest), resume protocol per SURVEY §2.9.

Scale notes: the anti-join's build side is only the key column of the done
set (column pruning keeps it narrow); with Iceberg the done-keys scan prunes
to the partitions the restart touches.  Appends are partitioned by url-host
bucket so a resumed run's writes land in the same layout.  The committed
run-id set is one tiny relation (one row per run) broadcast into the
`_run_id` semi-join.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import asdict, replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import PipelineConfig, PipelineResult, run_pipeline

STAGES = ("extracted", "chunks", "doc_mentions", "nodes", "edges", "metrics")
RUN_ID_COL = "_run_id"


def completed_keys(spark: SparkSession, table_path: str,
                   key: str = "url",
                   committed: Optional[DataFrame] = None) -> Optional[DataFrame]:
    """Keys already committed to a stage table; None when no checkpoint.

    With ``committed`` (a one-column ``_run_id`` relation from the run
    manifest), only rows whose run actually committed count as done —
    rows appended by a run that crashed before its manifest write are
    invisible to the restart.  Without it (or for legacy tables written
    before run stamping), every present key counts.
    """
    try:
        done = spark.read.parquet(table_path)
    except Exception:
        return None
    if committed is not None and RUN_ID_COL in done.columns:
        done = done.join(F.broadcast(committed), RUN_ID_COL, "left_semi")
    return done.select(key).distinct()


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

    # ------------------------------------------------------------ commits

    def committed_runs(self, as_of=None) -> Optional[DataFrame]:
        """One-column ``_run_id`` relation of committed runs (None = no
        manifest yet).

        ``as_of`` pins the relation to a snapshot — Iceberg's ``VERSION AS
        OF`` on the parquet stand-in.  Accepts a snapshot sequence number
        (int, see :meth:`snapshots`) or a run id (str): only runs whose
        manifest row committed at-or-before that snapshot are visible.  A
        run id that never committed resolves to no snapshot and raises —
        silently returning latest would un-pin a lineage query."""
        try:
            runs = self.spark.read.json(self._path("runs"))
        except Exception:
            return None
        if "run_id" not in runs.columns:
            return None  # legacy manifest without run stamping
        # an EXPIRED snapshot (expire_snapshots) keeps its data in the
        # current table state — Iceberg expiry only retires the ability
        # to time-travel to it, never currently-referenced data
        runs = runs.where(F.col("status").isin("committed", "expired"))
        if as_of is not None:
            if "seq" not in runs.columns:
                raise ValueError(
                    "manifest predates snapshot sequencing; no time travel")
            if isinstance(as_of, str):
                pin = [r.seq for r in
                       runs.where(F.col("run_id") == as_of)
                       .select("seq").collect()]
                if not pin:
                    raise ValueError(f"run {as_of!r} never committed")
                as_of = max(pin)
            expired = [r.seq for r in
                       runs.where((F.col("status") == "expired")
                                  & (F.col("seq") >= int(as_of)))
                       .select("seq").collect()]
            if expired:
                raise ValueError(
                    f"snapshot {as_of} has been expired "
                    "(expire_snapshots); time travel to it is gone")
            runs = runs.where(F.col("seq") <= int(as_of))
        return runs.select(F.col("run_id").alias(RUN_ID_COL)).distinct()

    def snapshots(self) -> Optional[DataFrame]:
        """The snapshot log: committed manifest rows ordered by ``seq``
        (run id, commit timestamp, rows processed, config lineage) — the
        Iceberg ``snapshots`` metadata-table analogue, and the argument
        source for ``as_of`` time travel."""
        try:
            runs = self.spark.read.json(self._path("runs"))
        except Exception:
            return None
        if "seq" not in runs.columns:
            return None
        return runs.where(F.col("status") == "committed").orderBy("seq")

    def _next_seq(self) -> int:
        try:
            runs = self.spark.read.json(self._path("runs"))
            top = runs.agg(F.max("seq").alias("m")).collect()[0].m
            return int(top or 0) + 1
        except Exception:
            return 1

    def _filter_committed(self, df: DataFrame, as_of=None) -> DataFrame:
        if RUN_ID_COL not in df.columns:
            return df  # legacy table written before run stamping
        committed = self.committed_runs(as_of=as_of)
        if committed is not None:
            df = df.join(F.broadcast(committed), RUN_ID_COL, "left_semi")
        df = self._apply_deletes(df, as_of=as_of)
        return df.drop(RUN_ID_COL)

    # ------------------------------------------------- row-level deletes

    def _run_seqs(self) -> Optional[DataFrame]:
        """Tiny (run_id, seq) relation over committed+expired snapshots
        — broadcast into delete application so the fact table never
        shuffles for it."""
        try:
            runs = self.spark.read.json(self._path("runs"))
        except Exception:
            return None
        if "seq" not in runs.columns or "run_id" not in runs.columns:
            return None
        return (runs.where(F.col("status").isin("committed", "expired"))
                .groupBy("run_id").agg(F.max("seq").alias("seq"))
                .withColumnRenamed("run_id", RUN_ID_COL))

    def _as_of_seq(self, as_of) -> Optional[int]:
        if as_of is None:
            return None
        if isinstance(as_of, str):
            runs = self.spark.read.json(self._path("runs"))
            pin = [r.seq for r in runs.where(F.col("run_id") == as_of)
                   .select("seq").collect()]
            if not pin:
                raise ValueError(f"run {as_of!r} never committed")
            return max(pin)
        return int(as_of)

    def _delete_keys(self, as_of=None) -> Optional[DataFrame]:
        """(url, _dseq) of committed equality deletes visible at
        ``as_of``, or None when none exist."""
        try:
            dels = self.spark.read.parquet(self._path("deletes"))
        except Exception:
            return None
        seqs = self._run_seqs()
        if seqs is None:
            return None
        keys = dels.join(seqs, RUN_ID_COL).select(
            "url", F.col("seq").alias("_dseq"))
        pin = self._as_of_seq(as_of)
        if pin is not None:
            keys = keys.where(F.col("_dseq") <= pin)
        return keys

    def _apply_deletes(self, df: DataFrame, as_of=None) -> DataFrame:
        """Merge-on-read application of equality deletes (Iceberg v2):
        a delete hides a row with the same url whose data snapshot is
        STRICTLY OLDER than the delete snapshot — re-appending the url
        later makes it visible again.  Both the delete-key relation and
        the (run_id, seq) map are tiny and broadcast, so this is a
        broadcast anti-join on url with a residual seq comparison: no
        shuffle of the data table at any scale.  Only url-keyed stages
        participate (graph nodes/edges are derived relations)."""
        if "url" not in df.columns:
            return df
        dkeys = self._delete_keys(as_of=as_of)
        if dkeys is None or not dkeys.head(1):
            return df
        seqs = self._run_seqs()
        out = df.join(F.broadcast(seqs), RUN_ID_COL, "left")
        cond = (out["url"] == dkeys["url"]) \
            & (dkeys["_dseq"] > out["seq"])
        return out.join(F.broadcast(dkeys), cond, "left_anti") \
            .drop("seq")

    def _done_keys(self) -> Optional[DataFrame]:
        """Resume anti-join build side: committed extracted urls with
        equality deletes applied — a deleted url is pending again, so
        re-ingesting it commits a fresh (visible) snapshot.  Column-
        pruned to (url, run id) before the scan like
        :func:`completed_keys`."""
        try:
            df = self._read_stage("extracted")
        except Exception:
            return None
        cols = ["url"] + ([RUN_ID_COL] if RUN_ID_COL in df.columns
                          else [])
        return self._filter_committed(df.select(*cols)).distinct()

    def delete_urls(self, urls) -> int:
        """Commit an EQUALITY-DELETE snapshot (the Iceberg v2 row-level
        delete analogue): the urls land in a small delete file and the
        manifest row written last is the commit point — NO data file is
        rewritten (merge-on-read; see :meth:`_apply_deletes` for the
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
        dkeys = self._delete_keys()
        if dkeys is None:
            return {"applied_deletes": 0, "removed_rows": 0}
        n_dels = dkeys.count()
        if n_dels == 0:
            return {"applied_deletes": 0, "removed_rows": 0}
        seqs = self._run_seqs()
        removed = 0
        for stage in STAGES:
            try:
                df = self._read_stage(stage)
            except Exception:
                continue
            if "url" not in df.columns or RUN_ID_COL not in df.columns:
                continue
            out = df.join(F.broadcast(seqs), RUN_ID_COL, "left")
            cond = (out["url"] == dkeys["url"]) \
                & (dkeys["_dseq"] > out["seq"])
            keep = out.join(F.broadcast(dkeys), cond, "left_anti") \
                .drop("seq")
            n_total = df.count()
            n_keep = keep.count()
            if n_total == n_keep:
                continue
            removed += n_total - n_keep
            writer = keep.write.mode("overwrite")
            if stage == "extracted":
                writer = writer.partitionBy("bucket")
            _atomic_rewrite(self._path(stage), writer)
        import shutil

        max_dseq = dkeys.agg(F.max("_dseq")).collect()[0][0]
        shutil.rmtree(self._path("deletes"), ignore_errors=True)
        self._expire_manifest_below(int(max_dseq))
        return {"applied_deletes": n_dels, "removed_rows": removed}

    # ---------------------------------------------------------------- run

    # ------------------------------------------------- WAP branching

    def _staged_runs(self, branch: str) -> Optional[DataFrame]:
        """One-column ``_run_id`` relation of runs staged on ``branch``
        and neither published nor dropped yet (a later manifest row for
        the same run id supersedes the staged one)."""
        try:
            runs = self.spark.read.json(self._path("runs"))
        except Exception:
            return None
        if "branch" not in runs.columns or "run_id" not in runs.columns:
            return None
        latest = (runs.groupBy("run_id")
                  .agg(F.max("seq").alias("seq")))
        live = runs.join(latest, ["run_id", "seq"]) \
            .where((F.col("status") == "staged")
                   & (F.col("branch") == branch))
        return live.select(F.col("run_id").alias(RUN_ID_COL)).distinct()

    def branch_preview(self, stage: str, branch: str) -> DataFrame:
        """The AUDIT read of write-audit-publish: ``stage`` as it would
        look after ``branch`` is published — committed main snapshots
        plus the branch's staged runs (Iceberg: reading from the
        branch ref).  Main readers (`nodes()`, `extracted()`, ...)
        never see staged rows."""
        df = self._read_stage(stage)
        if RUN_ID_COL not in df.columns:
            return df
        vis = self.committed_runs()
        staged = self._staged_runs(branch)
        if staged is not None:
            vis = staged if vis is None else vis.unionByName(staged)
        if vis is not None:
            df = df.join(F.broadcast(vis.distinct()), RUN_ID_COL,
                         "left_semi")
        df = self._apply_deletes(df)
        return df.drop(RUN_ID_COL)

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
        rids = [r[RUN_ID_COL] for r in staged.collect()]
        if not rids:
            return 0
        # preserve staging order: replay by each run's staged seq, and
        # carry its processed count onto the publish row so the
        # snapshot log stays meaningful
        runs = self.spark.read.json(self._path("runs"))
        staged_rows = {r.run_id: (r.seq, r.processed_docs) for r in
                       runs.where(F.col("run_id").isin(rids)
                                  & (F.col("status") == "staged"))
                       .select("run_id", "seq", "processed_docs")
                       .collect()}
        for rid in sorted(rids, key=lambda r: staged_rows.get(r,
                                                              (0, 0))[0]):
            self._manifest(rid, int(staged_rows.get(rid, (0, 0))[1]),
                           0.0, kind="publish")
        return len(rids)

    def drop_branch(self, branch: str) -> int:
        """Abandon ``branch``: staged runs become aborted (their data
        rows remain as invisible orphans, exactly like a crashed run's,
        until `compact_files` rewrites them away).  Returns the number
        of runs dropped."""
        staged = self._staged_runs(branch)
        if staged is None:
            return 0
        rids = [r[RUN_ID_COL] for r in staged.collect()]
        for rid in rids:
            self._manifest(rid, 0, 0.0, kind="drop", status="aborted")
        return len(rids)

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
        done = self._done_keys()
        if branch is not None:
            staged = self._staged_runs(branch)
            if staged is not None and staged.head(1):
                mine = self._read_stage("extracted") \
                    .join(F.broadcast(staged), RUN_ID_COL, "left_semi") \
                    .select("url").distinct()
                done = mine if done is None else \
                    done.select("url").unionByName(mine).distinct()
        todo = pending_inputs(web_pages, done)
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
        # the extraction/chunk/mention UDF stages feed every downstream
        # write — materialize them once so the six appends don't recompute
        # (on a cluster these would be intermediate Iceberg tables)
        res = run_pipeline(todo, replace(self.config, materialize=True))

        run_id = uuid.uuid4().hex
        self._append_stages(res, run_id)
        processed = res.extracted.count()
        res.unpersist()
        # the commit point: a run is visible if and only if this row landed
        # (for a branch run: visible to the BRANCH if and only if)
        self._manifest(run_id, processed, time.perf_counter() - t0,
                       status="staged" if branch else "committed",
                       branch=branch)
        return processed

    def _append_stages(self, res: PipelineResult, run_id: str) -> None:
        """The data-file half of the commit: six appends stamped with
        ``run_id``, invisible until `_manifest` records the run as
        committed.  Split out so tests can simulate a crash between the
        appends and the commit."""
        rid = F.lit(run_id)
        extracted = res.extracted.withColumn(
            "bucket", host_bucket(F.col("url"), self.n_buckets)
        ).withColumn(RUN_ID_COL, rid)
        extracted.write.mode("append").partitionBy("bucket").parquet(
            self._path("extracted")
        )
        for name, df in (
            ("chunks", res.chunks),
            ("doc_mentions", res.doc_mentions),
            # graph relations are url-derived, so appends stay disjoint per
            # run; Term nodes can repeat across runs — readers dedup by id
            # (idempotent content-hash ids make that a dropDuplicates, not
            # a merge)
            ("nodes", res.nodes),
            ("edges", res.edges),
            ("metrics", res.metrics),
        ):
            df.withColumn(RUN_ID_COL, rid).write.mode("append").parquet(
                self._path(name)
            )

    # ------------------------------------------------------------ readers

    def _read_stage(self, stage: str) -> DataFrame:
        """Stage-table read with SCHEMA EVOLUTION semantics: parquet
        footers are merged across data files, so batches appended by a
        newer pipeline version with added columns coexist with old
        files — old rows surface NULL in the new columns, exactly what
        an Iceberg add-column gives (column adds never rewrite data).
        Without mergeSchema, Spark samples one footer and the visible
        schema would depend on file listing order."""
        return self.spark.read.option("mergeSchema", "true").parquet(
            self._path(stage))

    def nodes(self, as_of=None) -> DataFrame:
        """Graph nodes across committed runs (id-level dedup); ``as_of``
        (snapshot seq or run id) time-travels to that snapshot."""
        return self._filter_committed(
            self._read_stage("nodes"), as_of=as_of
        ).dropDuplicates(["id"])

    def edges(self, as_of=None) -> DataFrame:
        return self._filter_committed(
            self._read_stage("edges"), as_of=as_of
        ).dropDuplicates(["src", "dst", "label"])

    def extracted(self, as_of=None) -> DataFrame:
        """Extracted text across committed runs.  HIDDEN PARTITIONING:
        the physical ``bucket=`` layout (a url-host hash transform,
        :func:`host_bucket`) never leaks into the logical schema —
        callers see exactly the pipeline's columns, as with an Iceberg
        partition-spec transform.  Use :meth:`extracted_for_hosts` for
        transform-aware pruned reads."""
        return self._filter_committed(
            self._read_stage("extracted"), as_of=as_of
        ).drop("bucket")

    def _bucket_specs(self) -> "set[int]":
        """Every bucket-count spec data was ever committed (or staged)
        under, from the manifest — Iceberg's partition-spec registry
        analogue.  Legacy manifests without the field contribute the
        CURRENT spec (they predate evolution support)."""
        specs = {self.n_buckets}
        try:
            runs = self.spark.read.json(self._path("runs"))
        except Exception:
            return specs
        if "n_buckets" not in runs.columns:
            return specs
        for r in runs.where(F.col("n_buckets").isNotNull()) \
                .select("n_buckets").distinct().collect():
            specs.add(int(r.n_buckets))
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
        for stage in STAGES:
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
            df = self.spark.read.option("mergeSchema", "true") \
                .parquet(path)
            part_col = "bucket" if stage == "extracted" else None
            if part_col and part_col in df.columns:
                packed = df.repartition(F.col(part_col))
                writer = packed.write.mode("overwrite").partitionBy(part_col)
            else:
                packed = df.repartition(int(ideal))
                writer = packed.write.mode("overwrite")
            # cap file size from the observed bytes/row so one fat bucket
            # cannot produce a single outsized file
            n_rows = df.count()
            if n_rows and total_bytes:
                rows_per_file = max(1, int(n_rows * target_bytes
                                           / total_bytes))
                writer = writer.option("maxRecordsPerFile", rows_per_file)
            _atomic_rewrite(path, writer)
            after = _data_file_stats(self.spark, path)
            rewritten[stage] = (n_files, after[0] if after else 0)
        return rewritten

    def compact(self) -> dict:
        """Expire orphan rows left by crashed (uncommitted) runs — the
        parquet stand-in for Iceberg's ``expire_snapshots`` + data-file
        rewrite.  Each stage table is rewritten keeping only committed
        rows, swapped in with a rename (readers in flight keep their
        already-planned file list; new readers see the compacted table).

        Returns ``{stage: rows_reclaimed}``.  No-op (zero reclaimed) when
        every appended run committed — compaction is maintenance, never a
        correctness requirement, because readers filter to committed runs
        anyway."""
        committed = self.committed_runs()
        reclaimed: dict = {}
        for stage in STAGES:
            path = self._path(stage)
            try:
                df = self.spark.read.option("mergeSchema", "true") \
                    .parquet(path)
            except Exception:
                continue
            if RUN_ID_COL not in df.columns:
                continue  # legacy table: nothing to attribute
            if committed is not None:
                keep = df.join(F.broadcast(committed), RUN_ID_COL,
                               "left_semi")
            else:
                keep = df.limit(0)
            n_total = df.count()
            n_keep = keep.count()
            reclaimed[stage] = n_total - n_keep
            if n_total == n_keep:
                continue
            writer = keep.write.mode("overwrite")
            if stage == "extracted":
                writer = writer.partitionBy("bucket")
            _atomic_rewrite(path, writer)
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

        Orphan rows from crashed (never-committed) runs are the parquet
        analogue of files referenced by NO retained snapshot, so they
        are reclaimed here via :meth:`compact` — together the two halves
        are the full expire pass.

        Returns ``{"expired": n_snapshots, "reclaimed_rows": total}``."""
        snaps = self.snapshots()
        if snaps is None:
            return {"expired": 0, "reclaimed_rows": 0}
        seqs = [r.seq for r in snaps.select("seq").collect()]
        cutoff = sorted(seqs)[-keep_last] if keep_last <= len(seqs) else 0
        expired_n = self._expire_manifest_below(cutoff)
        reclaimed = sum(self.compact().values())
        return {"expired": expired_n, "reclaimed_rows": reclaimed}

    def _expire_manifest_below(self, cutoff: int) -> int:
        """Mark committed manifest rows with ``seq < cutoff`` as
        ``expired`` (atomic json swap); returns the count."""
        runs = self.spark.read.json(self._path("runs"))
        expired_n = runs.where(
            (F.col("status") == "committed")
            & (F.col("seq") < cutoff)).count()
        if expired_n:
            import shutil

            updated = runs.withColumn(
                "status",
                F.when((F.col("status") == "committed")
                       & (F.col("seq") < cutoff), F.lit("expired"))
                .otherwise(F.col("status")))
            # same swap discipline as _atomic_rewrite, json-formatted
            # (write the new manifest beside the old, then rename)
            path = self._path("runs")
            tmp, old = f"{path}.expiring", f"{path}.old"
            updated.coalesce(1).write.mode("overwrite").json(tmp)
            shutil.move(path, old)
            shutil.move(tmp, path)
            shutil.rmtree(old)
        return expired_n

    def added_between(self, stage: str, since: int,
                      until=None) -> DataFrame:
        """Incremental read: rows appended by snapshots with
        ``since < seq <= until`` (until=None -> latest) — the Iceberg
        incremental-scan (``start-snapshot-id``/``end-snapshot-id``)
        analogue; a downstream consumer processes exactly the delta
        between two checkpoints instead of rescanning the table."""
        runs = self.spark.read.json(self._path("runs")) \
            .where(F.col("status").isin("committed", "expired")) \
            .where(F.col("seq") > int(since))
        if until is not None:
            runs = runs.where(F.col("seq") <= int(until))
        rids = runs.select(F.col("run_id").alias(RUN_ID_COL)).distinct()
        df = self.spark.read.parquet(self._path(stage))
        return df.join(F.broadcast(rids), RUN_ID_COL, "left_semi") \
            .drop(RUN_ID_COL)

    def _manifest(self, run_id: str, processed: int,
                  wall_seconds: float, kind: str = "append",
                  status: str = "committed",
                  branch: Optional[str] = None) -> None:
        """S12 run-manifest row (`orchestrator.py:149-240` analogue); doubles
        as the atomic commit record for ``run_id``'s appends (or its
        staging record, for a WAP branch run)."""
        row = {
            "run_id": run_id,
            "kind": kind,
            "status": status,
            "branch": branch or "",
            # the partition spec this run's data files were written
            # under (Iceberg: spec-id); readers union specs for pruning
            "n_buckets": self.n_buckets,
            # monotone snapshot sequence — the time-travel axis (run_ts has
            # second resolution, so ties are possible there; seq is total)
            "seq": self._next_seq(),
            "run_ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "processed_docs": processed,
            "wall_seconds": round(wall_seconds, 3),
            **{f"cfg_{k}": str(v) for k, v in asdict(self.config).items()},
        }
        self.spark.createDataFrame([row]).write.mode("append").json(
            self._path("runs")
        )


# ------------------------------------------------------- file maintenance

def _data_file_stats(spark: SparkSession, path: str):
    """(file_count, total_bytes) of a table's parquet data files, or None
    when the table does not exist.  Uses the Hadoop FileSystem API so the
    listing works against whatever filesystem the path lives on (HDFS, S3A,
    local) — the same listing the scan planner performs."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
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
    """Materialize ``writer`` at a sibling temp dir, then swap it into
    ``path`` — readers in flight keep their already-planned file list, new
    readers see the rewritten table (the parquet stand-in for an Iceberg
    rewrite commit; on object stores the swap is the table-format's
    metadata pointer update, which is why production uses Iceberg)."""
    import shutil

    tmp = f"{path}.compacting"
    writer.parquet(tmp)
    old = f"{path}.old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
