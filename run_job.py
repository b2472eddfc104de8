#!/usr/bin/env python
"""Cluster job entry point (north rule: `spark-submit --py-files`).

Run the document→graph pipeline over a web-pages table, checkpointed and
resumable.  Works identically under spark-submit and plain python:

    # package the library for the executors
    (cd /root/repo && zip -qr /tmp/dgspark.zip docling_graph_spark)

    spark-submit --master spark://...:7077 \\
        --py-files /tmp/dgspark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.shuffle.partitions=2048 \\
        run_job.py --input s3://crawl/web_pages --output s3://out/graph \\
                   --mode resume

    # local smoke (synthesizes the input from the test corpus)
    python run_job.py --sf-dir /root/testdata/sf0.001 --output /tmp/graph_out

Modes:
  oneshot — full pipeline, overwrite outputs (no checkpoint)
  resume  — CheckpointedRun: left_anti restart over the output tables
  stream  — Structured-Streaming availableNow drain with offset checkpoints;
            each micro-batch commits as one CheckpointedRun run
  compact — checkpoint maintenance: sweep dead writes (+ file bin-packing)
  graph   — corpus-global graph finalize over accumulated stage tables
            (committed rows only)
  shards  — training-shard export: token-budget packing of the extracted
            table, written partitioned by shard_id with a manifest
  curate  — training-data funnel over the extracted text: Gopher gates,
            LM-fluency gate, exact dedup, per-host caps, splits, shard
            packing; writes curated/ + funnel.json

Config file (the reference's `docling-graph convert --config config.yaml`
surface, `cli/commands/convert.py:129-164`): `--config job.yaml` supplies
every flag; precedence is CLI > file > built-in defaults.  `run_job.py init`
writes a commented scaffold (the reference's `docling-graph init`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CONFIG_SCAFFOLD = """\
# docling-graph-spark job config (run_job.py --config <this file>)
# Precedence: CLI flags > this file > built-in defaults.

# input: /path/to/web_pages_parquet     # real crawl table
sf_dir: /root/testdata/sf0.001          # or: synthesize from testdata
output: /tmp/dgspark_out
mode: oneshot                           # oneshot | resume | stream | compact | graph | shards
# stream_checkpoint: /tmp/dgspark_ckpt  # stream mode offset checkpoints
# cores: 8                              # local[N] when no master configured
report: false                           # also write report.md + graph.html

# pipeline knobs (docling_graph_spark.pipeline.PipelineConfig subset)
defaults:
  id_mode: xxhash64                     # blake2b (parity) | xxhash64 (fast)
  max_tokens: 512
  chunker: fallback                     # fallback | hybrid
  # tokenizer_name: sentence-transformers/all-MiniLM-L6-v2
  # context_limit: 8000
  # merge_threshold: 0.85
  # add_reverse_edges: false
  # content_dedup: false
"""

# PipelineConfig fields settable from the yaml `defaults:` block
_PIPELINE_KEYS = (
    "max_tokens", "context_limit", "schema_size", "merge_threshold",
    "chunker", "tokenizer_name", "id_mode", "add_reverse_edges",
    "content_dedup", "run_id", "materialize",
)


def _load_config(path: str) -> dict:
    import yaml

    with open(path, encoding="utf-8") as f:
        data = yaml.safe_load(f) or {}
    if not isinstance(data, dict):
        raise SystemExit(f"config file {path!r} must be a YAML mapping")
    return data


def _exists(spark, path: str) -> bool:
    """Whether ``path`` exists, probed with the Hadoop FileSystem, not
    os.path: the output root may be s3:// or hdfs://."""
    from docling_graph_spark.checkpointing import _fs_path

    fs, jpath = _fs_path(spark, path)
    return bool(fs.exists(jpath))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("command", nargs="?", choices=["run", "init", "inspect"],
                    default="run",
                    help="run (default), init (write a config scaffold), or "
                         "inspect (render report.md + graph.html from an "
                         "existing job output dir — the reference's "
                         "`docling-graph inspect`)")
    ap.add_argument("--interactive", action="store_true",
                    help="with `init`: build the config through the "
                         "interactive wizard (the reference "
                         "config_builder prompt flow) instead of "
                         "writing the commented scaffold")
    ap.add_argument("--config", default=None,
                    help="YAML config file (CLI flags override its values)")
    ap.add_argument("--input", help="web_pages table path (parquet/Iceberg)")
    ap.add_argument("--sf-dir", help="testdata dir to synthesize input from")
    ap.add_argument("--output", default=None, help="output root")
    ap.add_argument("--mode", choices=["oneshot", "resume", "stream",
                                       "compact", "graph", "shards", "curate"],
                    default=None)
    ap.add_argument("--stream-checkpoint", default=None)
    ap.add_argument("--wet-output", default=None,
                    help="stream mode: also publish each micro-batch's "
                         "extracted text as WET-style crawl files here; "
                         "curate mode: write the curated corpus as WET")
    ap.add_argument("--shard-budget", type=int, default=1 << 20,
                    help="shards/curate modes: tokens per training shard "
                         "(default 1Mi)")
    ap.add_argument("--host-cap", type=int, default=10_000,
                    help="curate mode: max docs kept per host")
    ap.add_argument("--near-dup-jaccard", type=int, default=None,
                    help="curate mode: MinHash near-dup cluster stage at "
                         "this verified-Jaccard percent (off if unset)")
    ap.add_argument("--per-lang-fluency", action="store_true",
                    help="curate mode: per-language trigram models "
                         "instead of one corpus-global model")
    ap.add_argument("--packed", action="store_true",
                    help="shards mode: also write packed trainer "
                         "sequences (one concatenated text per shard)")
    ap.add_argument("--target-file-mb", type=int, default=None,
                    help="compact mode: also bin-pack each stage table's "
                         "data files toward this size (small-files "
                         "maintenance after many incremental runs)")
    ap.add_argument("--link-graph", action="store_true",
                    help="stream mode: each micro-batch's run also commits "
                         "the host-level outlink edge counts of its new "
                         "urls; graph mode finalizes the committed counts "
                         "into host_edges_final/host_ranks")
    ap.add_argument("--branch", default=None,
                    help="resume mode: stage this run on a "
                         "write-audit-publish branch (invisible to main "
                         "readers until --publish-branch; Iceberg's "
                         "spark.wap.branch)")
    ap.add_argument("--publish-branch", default=None, metavar="BRANCH",
                    help="resume mode: fast-forward main to BRANCH's "
                         "staged runs (metadata-only) instead of "
                         "processing input")
    ap.add_argument("--drop-branch", default=None, metavar="BRANCH",
                    help="resume mode: abandon BRANCH's staged runs "
                         "instead of processing input")
    ap.add_argument("--id-mode", choices=["blake2b", "xxhash64"],
                    default=None)
    ap.add_argument("--max-tokens", type=int, default=None)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores when no master is configured")
    ap.add_argument("--reliable-checkpoints", default=None,
                    metavar="DIR",
                    help="truncate iterative-operator lineage with "
                         "reliable checkpoint() blocks under DIR "
                         "(HDFS/S3 on a cluster) instead of "
                         "executor-local localCheckpoint — required to "
                         "survive executor preemption on a real "
                         "cluster; output-identical to the default")
    ap.add_argument("--report", action="store_true",
                    help="also write report.md + graph.html (bounded driver-"
                         "side render of the assembled graph) to --output")
    args = ap.parse_args()

    if args.command == "init":
        target = args.config or "config.yaml"
        if os.path.exists(target):
            ap.error(f"refusing to overwrite existing {target}")
        if args.interactive:
            # the reference's `docling-graph init` wizard
            # (cli/config_builder.py): prompt flow -> yaml
            from docling_graph_spark.config_builder import (
                build_config_interactive, to_yaml)

            content = to_yaml(build_config_interactive())
        else:
            content = CONFIG_SCAFFOLD
        with open(target, "w", encoding="utf-8") as f:
            f.write(content)
        print(json.dumps({"wrote": target,
                          "interactive": bool(args.interactive)}))
        return 0

    if args.command == "inspect":
        # the reference's `docling-graph inspect` (cli/commands/inspect.py:
        # 15-117): load an exported graph, render the self-contained
        # Cytoscape HTML + markdown report.  Reads the nodes/edges CSV
        # datasets a `run` wrote into --output.
        if args.config:
            file_cfg = _load_config(args.config)
            args.output = args.output or file_cfg.get("output")
        if not args.output:
            ap.error("inspect requires --output (the job output dir)")
        from pyspark.sql import SparkSession, functions as F

        existing = SparkSession.getActiveSession()
        if existing is not None:
            spark = existing
        else:
            from docling_graph_spark.session import get_spark
            spark = get_spark(app_name="docling-graph-spark-inspect",
                              cores=args.cores)
        spark.sparkContext.setLogLevel("WARN")
        from docling_graph_spark import visualizers

        out = args.output.rstrip("/")
        props = F.from_json("properties", "map<string,string>") \
            .alias("properties")
        nodes = spark.read.option("header", True).csv(f"{out}/nodes.csv") \
            .select("id", "label", "type", props)
        edges = spark.read.option("header", True).csv(f"{out}/edges.csv") \
            .select("src", "dst", "label", props)
        report = visualizers.write_report(nodes, edges, f"{out}/report.md")
        html = visualizers.write_interactive_html(nodes, edges,
                                                  f"{out}/graph.html")
        print(json.dumps({"report": report, "html": html,
                          "nodes": nodes.count(), "edges": edges.count()}))
        return 0

    # ---- precedence: CLI > config file > built-in defaults ---------------
    file_cfg = _load_config(args.config) if args.config else {}
    file_defaults = file_cfg.get("defaults", {}) or {}
    args.input = args.input or file_cfg.get("input")
    args.sf_dir = args.sf_dir or file_cfg.get("sf_dir")
    args.output = args.output or file_cfg.get("output")
    args.mode = args.mode or file_cfg.get("mode") or "resume"
    # config-file values bypass argparse's choices= validation, so the
    # merged settings get the reference's enum validation pass
    # (cli/validators.py:26-45 validate_option analogue): fail loud
    # with the valid set instead of silently misrouting the job
    _VALID = {
        "mode": {"oneshot", "resume", "stream", "compact", "graph",
                 "shards", "curate"},
        "id_mode": {"blake2b", "xxhash64"},
        "chunker": {"fallback", "hybrid"},
    }
    def _validate(name, value):
        if value is not None and value not in _VALID[name]:
            ap.error(f"invalid {name} {value!r}; must be one of "
                     f"{', '.join(sorted(_VALID[name]))}")
    _validate("mode", args.mode)
    _validate("id_mode", args.id_mode or file_defaults.get("id_mode"))
    _validate("chunker", file_defaults.get("chunker"))
    args.stream_checkpoint = (args.stream_checkpoint
                              or file_cfg.get("stream_checkpoint"))
    args.cores = args.cores if args.cores is not None else file_cfg.get("cores")
    args.report = args.report or bool(file_cfg.get("report", False))
    if not args.output:
        ap.error("--output is required (flag or config file)")

    from pyspark.sql import SparkSession

    # under spark-submit the session/master/conf come from the submit command;
    # standalone we build the tuned local session
    existing = SparkSession.getActiveSession()
    if existing is not None:
        spark = existing
        from docling_graph_spark.session import ship_package
        ship_package(spark)
    else:
        from docling_graph_spark.session import get_spark
        spark = get_spark(app_name="docling-graph-spark-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    if args.reliable_checkpoints:
        from docling_graph_spark import lineage
        lineage.configure(reliable=True,
                          checkpoint_dir=args.reliable_checkpoints,
                          spark=spark)

    from docling_graph_spark.pipeline import PipelineConfig

    cfg_kwargs = {k: file_defaults[k] for k in _PIPELINE_KEYS
                  if k in file_defaults}
    cfg_kwargs["id_mode"] = args.id_mode or cfg_kwargs.get("id_mode",
                                                           "xxhash64")
    if args.max_tokens:
        cfg_kwargs["max_tokens"] = args.max_tokens
    cfg = PipelineConfig(**cfg_kwargs)

    # stream/compact/shards manage their own input (the stream source may
    # be a raw WARC directory; shards consumes a prior run's extracted
    # table) — only the batch modes load pages here
    if args.mode in ("stream", "compact", "graph", "shards"):
        pass
    elif args.mode == "resume" and (args.publish_branch
                                    or args.drop_branch):
        pass                  # metadata-only operations need no input
    elif args.input:
        pages = spark.read.parquet(args.input)
    elif args.sf_dir:
        from docling_graph_spark.sources.web_pages import synthesize_web_pages
        pages = synthesize_web_pages(spark, args.sf_dir)
    else:
        ap.error("--input or --sf-dir is required")

    t0 = time.perf_counter()
    if args.mode == "stream":
        if not args.input:
            ap.error("--mode stream requires --input (a growing directory)")
        from docling_graph_spark.streaming.incremental import run_incremental
        ckpt = args.stream_checkpoint or f"{args.output.rstrip('/')}/_stream_ckpt"
        # auto-detect raw crawl directories: *.warc / *.warc.gz files stream
        # through the WARC source, anything else is web_pages parquet.
        # The detected format is PINNED in the checkpoint dir on first run:
        # source offsets are format-specific, so re-detecting per run could
        # drive one checkpoint with two incompatible source types (e.g. an
        # empty dir detected as parquet, then warc files landing).
        fmt_marker = os.path.join(ckpt, "dgspark_input_format")
        try:
            with open(fmt_marker) as fh:
                fmt = fh.read().strip() or "parquet"
        except OSError:
            fmt = "parquet"
            try:
                if any(f.endswith((".warc", ".warc.gz"))
                       for f in os.listdir(args.input)):
                    fmt = "warc"
            except OSError:
                pass
            os.makedirs(ckpt, exist_ok=True)
            with open(fmt_marker, "w") as fh:
                fh.write(fmt)
        processed = run_incremental(spark, args.input, args.output, ckpt,
                                    cfg, input_format=fmt,
                                    wet_dir=args.wet_output,
                                    link_edges=args.link_graph)
    elif args.mode == "graph":
        # finalize: corpus-global graph over the stage tables a stream (or
        # resumed runs) accumulated — Term nodes need the whole corpus
        from docling_graph_spark.streaming.incremental import (
            assemble_accumulated_graph,
        )
        nodes, edges = assemble_accumulated_graph(spark, args.output, cfg)
        processed = nodes.count()
        print(f"graph finalized: {processed} nodes, {edges.count()} edges")
        # a host_edges table exists only where a stream ran with
        # --link-graph
        from docling_graph_spark.streaming.incremental import (
            finalize_link_graph,
        )
        if _exists(spark, f"{args.output.rstrip('/')}/host_edges"):
            le, lr = finalize_link_graph(spark, args.output)
            print(f"link graph finalized: {le.count()} host edges, "
                  f"{lr.count()} ranked hosts")
        if args.report:
            from docling_graph_spark import visualizers
            visualizers.write_report(
                nodes, edges, f"{args.output.rstrip('/')}/report.md")
    elif args.mode == "curate":
        # training-data funnel: extract, then gate/dedup/cap/split/pack
        # (docling_graph_spark/curation.py) — curated corpus written
        # partitioned by split + shard_id, funnel counts to funnel.json
        from docling_graph_spark.curation import CurationConfig, curate
        from docling_graph_spark.pipeline import run_pipeline

        out = args.output.rstrip("/")
        res = run_pipeline(pages, cfg)
        cres = curate(
            res.extracted.select("url", "text", "lang"),
            CurationConfig(host_cap=args.host_cap,
                           shard_budget=args.shard_budget,
                           near_dup_jaccard=args.near_dup_jaccard,
                           fluency_per_lang=args.per_lang_fluency),
        )
        (cres.curated.write.mode("overwrite")
             .partitionBy("split", "shard_id").parquet(f"{out}/curated"))
        if args.wet_output:
            # curated WET corpus: the surviving docs as crawl-convention
            # conversion records, written from executors
            from docling_graph_spark.sources.warc import write_wet

            write_wet(cres.curated.select("url", "text", "lang"),
                      args.wet_output.rstrip("/"))
        # portable funnel table (works on s3://hdfs:// outputs) ...
        spark.createDataFrame(
            [(s_, int(n_)) for s_, n_ in cres.funnel],
            "stage string, n_docs long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/funnel")
        # ... plus the local-FS convenience file when the root is local
        try:
            with open(f"{out}/funnel.json", "w", encoding="utf-8") as fh:
                json.dump(dict(cres.funnel), fh, indent=1)
        except OSError:
            pass
        for stage, n_docs in cres.funnel:
            print(f"funnel {stage}: {n_docs}")
        processed = cres.funnel[-1][1]
    elif args.mode == "shards":
        # training-shard export over a prior run's extracted table:
        # deterministic token-budget packing (operators/sharding.py), the
        # wide rows written partitioned by shard_id so a trainer consumes
        # one directory per shard; assignment joined back on url (the
        # shuffle carries only the narrow (url, tokens) projection).
        from pyspark.sql import functions as F

        from docling_graph_spark.checkpointing import CheckpointedRun
        from docling_graph_spark.operators import sharding

        out = args.output.rstrip("/")
        # a stream or resume root holds crashed-run orphans and run stamps:
        # read its committed rows; a oneshot root is a plain table
        ext = (CheckpointedRun(spark, out).extracted()
               if _exists(spark, f"{out}/runs")
               else spark.read.parquet(f"{out}/extracted"))
        counted = sharding.token_counts(
            ext.select(F.col("url").alias("doc_id"), "text"))
        assigned = sharding.pack_shards(
            counted, budget=args.shard_budget
        ).withColumnRenamed("doc_id", "url")
        (ext.join(assigned.select("url", "shard_id", "n_tokens"), "url")
            .write.mode("overwrite").partitionBy("shard_id")
            .parquet(f"{out}/shards"))
        manifest = sharding.shard_stats(assigned)
        manifest.coalesce(1).write.mode("overwrite").parquet(
            f"{out}/shard_manifest")
        rows = manifest.collect()
        for r in rows:
            print(f"shard {r['shard_id']}: {r['n_docs']} docs, "
                  f"{r['shard_tokens']} tokens")
        if args.packed:
            packed = sharding.pack_sequences(
                ext.select("url", "text")
                   .join(assigned.select("url", "shard_id", "n_tokens"),
                         "url"),
                order_col="url", text_col="text")
            packed.write.mode("overwrite").parquet(f"{out}/packed")
        # the manifest already counts every written row — no re-scan of
        # the wide shards table just for the summary line
        processed = sum(r["n_docs"] for r in rows)
    elif args.mode == "compact":
        # sweep the write directories no committed run reads (crashed
        # runs, dropped branches, superseded writes), then optionally
        # bin-pack, which commits through the run manifest: no directory
        # is renamed, so any Hadoop filesystem works (see
        # checkpointing.compact / compact_files)
        from docling_graph_spark.checkpointing import CheckpointedRun
        ckpt_run = CheckpointedRun(spark, args.output, cfg)
        reclaimed = ckpt_run.compact()
        processed = sum(reclaimed.values())
        if args.target_file_mb:
            packed = ckpt_run.compact_files(args.target_file_mb << 20)
            for stage, (before, after) in sorted(packed.items()):
                print(f"compacted {stage}: {before} -> {after} files")
    elif args.mode == "resume":
        from docling_graph_spark.checkpointing import CheckpointedRun
        ckpt_run = CheckpointedRun(spark, args.output, cfg)
        if args.publish_branch:
            processed = ckpt_run.publish_branch(args.publish_branch)
        elif args.drop_branch:
            processed = ckpt_run.drop_branch(args.drop_branch)
        else:
            processed = ckpt_run.run(pages, branch=args.branch)
        if args.report:
            from docling_graph_spark import visualizers
            out = args.output.rstrip("/")
            nodes, edges = ckpt_run.graph()
            visualizers.write_report(nodes, edges, f"{out}/report.md")
            visualizers.write_interactive_html(nodes, edges,
                                               f"{out}/graph.html")
    else:
        from docling_graph_spark import exporters
        from docling_graph_spark.pipeline import run_pipeline
        res = run_pipeline(pages, cfg)
        out = args.output.rstrip("/")
        res.extracted.write.mode("overwrite").parquet(f"{out}/extracted")
        res.chunks.write.mode("overwrite").parquet(f"{out}/chunks")
        res.metrics.write.mode("overwrite").parquet(f"{out}/metrics")
        exporters.write_csv(res.nodes, res.edges, out)
        if args.report:
            from docling_graph_spark import visualizers
            visualizers.write_report(res.nodes, res.edges, f"{out}/report.md")
            visualizers.write_interactive_html(res.nodes, res.edges,
                                               f"{out}/graph.html")
        # the extracted write ran the observed relation: no re-scan
        processed = res.run_counters["docs_extracted"]

    print(json.dumps({
        "mode": args.mode,
        "processed_docs": int(processed),
        "wall_seconds": round(time.perf_counter() - t0, 2),
        "output": args.output,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
