"""Repository benchmark: web pages -> knowledge graph on Spark, end to end.

    python3 perfbench/run.py --workload pages_50k --seed 1 --seconds 5 --trace 0

Runs the production pipeline (`run_job.py` defaults: `PipelineConfig` with
id_mode=xxhash64 and the fallback chunker) on ``local[nproc]`` from this one
driver process.  Inputs are generated from ``--seed`` before timing starts;
the pipeline only receives the generated DataFrame.

Workloads (see perfbench/README.md for sizes and the layer -> metric map):

* ``pages_small`` — native-size pages (~0.9 KB html), oneshot: per-row cost.
* ``pages_50k``   — pages fattened to ~50 KB of body text, oneshot: per-byte
  cost.
* ``resume``      — `CheckpointedRun` commits every page, reruns over the
  committed checkpoint and reads it back: write path, resume anti-join,
  readers.

``--trace 0`` times whole passes and prints the end-to-end metrics.
``--trace 1`` additionally runs passes with every layer boundary
materialized and timed (perfbench/probes.py) and prints the per-layer
metrics; the spans go to ``--spans`` as JSON.  Both modes run the
correctness gate (perfbench/gate.py) and exit 1 if it fails.  The last line
of stdout is one JSON object: ``{correct, attempted, failed, metrics}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(BENCH_DIR))

MB = 1e6


@dataclass(frozen=True)
class Workload:
    n_docs: int              # documents generated from the seed
    replicate: int           # url-suffixed copies of each page
    fatten_to_bytes: int     # 0 = native page size
    resume: bool             # CheckpointedRun instead of oneshot
    warmups: int             # untimed passes after the input is built
    min_passes: int          # timed passes per run, whatever --seconds says


WORKLOADS = {
    "pages_small": Workload(5000, 4, 0, False, 1, 3),
    "pages_50k": Workload(150, 1, 51200, False, 0, 1),
    "resume": Workload(300, 1, 0, True, 0, 1),
}
# sf0.001-sized inputs for the benchmark's own smoke test
TINY = {
    "pages_small": Workload(50, 2, 0, False, 0, 1),
    "pages_50k": Workload(8, 1, 51200, False, 0, 1),
    "resume": Workload(50, 2, 0, True, 0, 1),
}
SETUP_BUILDS = 3      # input builds per run; setup_s takes their median


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measurement time for the timed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001-sized inputs (smoke test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one extracted text before the correctness "
                         "gate (self-test: the run must fail)")
    ap.add_argument("--spans", default=None,
                    help="trace output path (default .perfbench_work/"
                         "spans-<workload>-<seed>.json)")
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench +{time.perf_counter() - _T0:6.1f}s {msg}",
          file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ session

def start_session(work: Path):
    """The job's session, pinned from here: nproc cores, quiet console,
    scratch space inside ``work``.  Returns (spark, seconds)."""
    from docling_graph_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", cores=cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from probes import descendants, wait_gone

    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    wait_gone(pids, timeout_s=30)


# ------------------------------------------------------------------- passes

def oneshot_pass(pages, cfg):
    """One pass input -> nodes, edges and metrics all forced."""
    from pyspark.sql import functions as F

    from docling_graph_spark.pipeline import run_pipeline

    t0 = time.perf_counter()
    res = run_pipeline(pages, cfg)
    res.nodes.count()
    res.edges.count()
    res.metrics.agg(F.sum("docs_parsed")).collect()
    return time.perf_counter() - t0, res


def resume_pass(spark, pages, cfg, root: Path, tracer=None,
                full_cycle: bool = True):
    """Checkpointed crawl from an empty checkpoint: run(full) commits every
    page.  With ``full_cycle``, run(full) again finds nothing pending (the
    resume anti-join over a fully committed table) and the committed tables
    are read back and counted.  Returns ({wall, noop, read, ...}, checkpoint).
    """
    from contextlib import nullcontext

    from docling_graph_spark.checkpointing import CheckpointedRun

    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    span = tracer.span if tracer else (lambda *a: nullcontext())
    ck = CheckpointedRun(spark, str(root), cfg)
    t0 = time.perf_counter()
    with span("run", "checkpointing"):
        ck.run(pages)
    out = {"wall": time.perf_counter() - t0}
    out["files"], nbytes = tree_size(root)
    out["write_mb"] = nbytes / MB
    if full_cycle:
        t0 = time.perf_counter()
        with span("noop_run", "checkpointing"):
            ck.run(pages)
        t1 = time.perf_counter()
        with span("read", "checkpointing"):
            ck.extracted().count()
            ck.nodes().count()
            ck.edges().count()
        out.update(noop=t1 - t0, read=time.perf_counter() - t1)
    return out, ck


def tree_size(path: Path):
    n = total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            total += os.path.getsize(os.path.join(dirpath, f))
    return n, total


def release(last: dict) -> None:
    """Unpersist the previous oneshot pass's cached outputs."""
    if "res" in last:
        last.pop("res").unpersist()


def timed_loop(seconds: float, one_pass, min_passes: int):
    """Run ``one_pass`` until ``seconds`` have elapsed (at least
    ``min_passes`` times); returns the list of its results."""
    out = []
    end = time.perf_counter() + seconds
    while len(out) < min_passes or time.perf_counter() < end:
        out.append(one_pass())
    return out


# -------------------------------------------------------------------- setup

@dataclass
class Setup:
    spark: object
    pages: object
    n_docs: int
    html_bytes: int
    start_s: float
    build_s: float
    setup_s: float


def setup(work: Path, wl: Workload, seed: int, cfg) -> Setup:
    """Session start, SETUP_BUILDS input builds (median kept) and the
    warm-up passes; setup_s is their sum."""
    import inputs

    sf_dir = work / "sf"
    inputs.write_documents(sf_dir, wl.n_docs, seed)
    spark, start_s = start_session(work)
    builds = []
    pages = None
    for _ in range(SETUP_BUILDS):
        if pages is not None:
            pages.unpersist()
        t0 = time.perf_counter()
        pages, n_docs, html_bytes = inputs.build_pages(
            spark, sf_dir, seed, wl.replicate, wl.fatten_to_bytes)
        builds.append(time.perf_counter() - t0)
    s = Setup(spark, pages, n_docs, html_bytes, start_s, median(builds), 0.0)
    log(f"session {start_s:.1f}s, builds {builds}")

    t0 = time.perf_counter()
    for _ in range(wl.warmups):
        oneshot_pass(pages, cfg)[1].unpersist()
    s.setup_s = start_s + s.build_s + (time.perf_counter() - t0)
    log("setup done")
    return s


# ------------------------------------------------------------------ metrics

def end_to_end(s: Setup, passes) -> dict:
    """The metrics BENCHMARK.json bounds (steady enough across seeds)."""
    wall = median([p["wall"] for p in passes])
    return {
        "setup_s": (s.setup_s, "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (s.n_docs / wall, "docs/s"),
        "html_mb_per_s": (s.html_bytes / MB / wall, "MB/s"),
    }


def kernel_rates(pages, cfg, budget_s: float = 0.5) -> dict:
    """Single-thread, in-process html_main and chunking kernels over a
    sample of the input's html payloads (the job's per-core baseline)."""
    from pyspark.sql import functions as F

    from docling_graph_spark.kernels.chunking import chunk_spans
    from docling_graph_spark.kernels.html_main import extract_main_content

    sample = [bytes(r.html) for r in
              pages.where(~F.col("html").startswith(F.lit(b"%PDF")))
              .select("html").limit(256).collect()]
    texts = [extract_main_content(h).text for h in sample]
    nbytes = sum(len(h) for h in sample)

    def rate(fn, items):
        rounds = []
        end = time.perf_counter() + budget_s
        while not rounds or time.perf_counter() < end:
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            rounds.append(time.perf_counter() - t0)
        return median(rounds)

    t_html = rate(extract_main_content, sample)
    t_chunk = rate(lambda t: chunk_spans(t, cfg.max_tokens), texts)
    return {
        "kernels.html_main.us_per_doc": (t_html / len(sample) * 1e6, "us"),
        "kernels.html_main.mb_per_s": (nbytes / MB / t_html, "MB/s"),
        "kernels.chunking.us_per_doc": (t_chunk / len(texts) * 1e6, "us"),
    }


def traced_layers(s: Setup, wl: Workload, cfg, work: Path, seconds: float,
                  spans_path: Path):
    """--trace 1: untraced passes (wall and Spark-wide counts), kernel
    rates, then traced passes.  Returns (per-layer metrics, the last
    pass's cached outputs, median self time per layer)."""
    from probes import StageCounter, Tracer, instrument

    spark, pages = s.spark, s.pages
    stages = StageCounter(spark)
    half = seconds / 2

    def plain():
        if wl.resume:
            return resume_pass(spark, pages, cfg, work / "ckpt")[0]
        wall, res = oneshot_pass(pages, cfg)
        res.unpersist()
        return {"wall": wall}

    stages.mark()
    untraced = timed_loop(half, plain, max(1, wl.min_passes - 1))
    sc = stages.delta()
    n_plain = len(untraced)
    wall = median([p["wall"] for p in untraced])

    kern = kernel_rates(pages, cfg)

    tracer = Tracer()
    per_pass = []
    last = {}

    def traced():
        i0 = len(tracer.spans)
        tracer.counts = {}
        tracer.release()
        release(last)
        with instrument(tracer, stages):
            with tracer.span("pass", "driver") as root:
                if wl.resume:
                    out, last["ck"] = resume_pass(
                        spark, pages, cfg, work / "ckpt", tracer)
                    counts = dict(out)
                else:
                    _, res = oneshot_pass(pages, cfg)
                    last["res"] = res
                    counts = {}
        counts.update(tracer.counts)
        counts["self"] = tracer.self_times(tracer.spans[i0:])
        counts["total"] = root.end - root.start
        per_pass.append(counts)
        return counts

    timed_loop(seconds - half, traced, min_passes=1)
    tracer.dump(str(spans_path))

    def med(key, default=0.0):
        return median([p.get(key, default) for p in per_pass])

    def self_s(layer):
        return median([p["self"].get(layer, 0.0) for p in per_pass])

    docs = med("extract.docs")
    us = (kern["kernels.html_main.us_per_doc"][0]
          + kern["kernels.chunking.us_per_doc"][0])
    m = {
        "session.start_s": (s.start_s, "s"),
        "sources.build_s": (s.build_s, "s"),
        "sources.docs": (s.n_docs, "count"),
        "sources.html_mb": (s.html_bytes / MB, "MB"),
        "extract.busy_s": (self_s("operators.extract"), "s"),
        "extract.docs": (docs, "count"),
        "extract.ok_ratio": (med("extract.ok") / docs if docs else 0.0,
                             "ratio"),
        "extract.errors": (med("extract.errors"), "count"),
        "extract.bytes_stripped_mb": (med("extract.bytes_stripped_mb"), "MB"),
        "extract.boundary_s": (self_s("operators.extract")
                               - docs * us / 1e6 / cores(), "s"),
        **kern,
        "chunk.busy_s": (self_s("operators.chunk"), "s"),
        "chunk.rows": (med("chunk.rows"), "count"),
        "entities.busy_s": (self_s("operators.entities"), "s"),
        "entities.rows": (med("entities.rows"), "count"),
        "entities.shuffle_mb": (med("entities.shuffle_mb"), "MB"),
        "graph.busy_s": (self_s("operators.graph"), "s"),
        "graph.nodes": (med("graph.nodes"), "count"),
        "graph.edges": (med("graph.edges"), "count"),
        "graph.shuffle_mb": (med("graph.shuffle_mb"), "MB"),
        "stats.busy_s": (self_s("operators.stats"), "s"),
        "checkpoint.busy_s": (self_s("checkpointing"), "s"),
        "checkpoint.probe_s": (med("checkpoint.probe_s"), "s"),
        "checkpoint.run_s": (med("wall"), "s"),
        "checkpoint.noop_s": (med("noop"), "s"),
        "checkpoint.read_s": (med("read"), "s"),
        "checkpoint.write_mb": (med("write_mb"), "MB"),
        "checkpoint.files": (med("files"), "count"),
        "checkpoint.skip_ratio": (
            1 - med("checkpoint.pending") / med("checkpoint.offered")
            if med("checkpoint.offered") else 0.0, "ratio"),
        "spark.stages": (sc["stages"] / n_plain, "count"),
        "spark.tasks": (sc["tasks"] / n_plain, "count"),
        "spark.failed_tasks": (sc["failed_tasks"] / n_plain, "count"),
        "spark.shuffle_write_mb": (sc["shuffle_write_mb"] / n_plain, "MB"),
        "spark.spill_mb": (sc["spill_mb"] / n_plain, "MB"),
        "trace.overhead_s": (med("total") - wall, "s"),
    }
    layers = {k: v for k, v in median_self(per_pass).items()
              if k != "driver"}
    return m, last, layers


def median_self(per_pass):
    keys = {k for p in per_pass for k in p["self"]}
    return {k: median([p["self"].get(k, 0.0) for p in per_pass])
            for k in keys}


# --------------------------------------------------------------------- main

def report(name: str, metrics: dict, note: str = "") -> None:
    print(f"[{name}]{(' ' + note) if note else ''}")
    for key, (value, unit) in metrics.items():
        print(f"  {key:34s} {value:14.4f} {unit}")


def prepare_env(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "docling_graph_spark" / "__init__.py").is_file():
        print(f"perfbench: no docling_graph_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    wl = (TINY if args.scale == "tiny" else WORKLOADS)[args.workload]
    scratch = ROOT / ".perfbench_work"
    work = scratch / f"{args.workload}-{args.seed}-{os.getpid()}"
    spans_path = Path(args.spans or scratch /
                      f"spans-{args.workload}-{args.seed}.json")
    prepare_env(work)

    from docling_graph_spark.pipeline import PipelineConfig
    from probes import PeakRss, StageCounter

    import gate

    cfg = PipelineConfig(id_mode="xxhash64")
    try:
        with PeakRss() as rss:
            s = setup(work, wl, args.seed, cfg)
            spark = s.spark
            print(f"perfbench {args.workload} seed={args.seed} "
                  f"cores={cores()} docs={s.n_docs} "
                  f"html={s.html_bytes / MB:.1f}MB", flush=True)
            if args.trace:
                layer_metrics, last, layers = traced_layers(
                    s, wl, cfg, work, args.seconds, spans_path)
                n_passes, failed_tasks, tasks = 0, 0, 0
            else:
                stages = StageCounter(spark)
                last = {}

                def one():
                    release(last)
                    if wl.resume:
                        # the gate below reads the checkpoint back; it is
                        # timed as read_s instead of a second read here
                        out, last["ck"] = resume_pass(
                            spark, s.pages, cfg, work / "ckpt",
                            full_cycle=False)
                        return out
                    wall, last["res"] = oneshot_pass(s.pages, cfg)
                    return {"wall": wall}

                passes = timed_loop(args.seconds, one, wl.min_passes)
                log("passes: " + "; ".join(
                    " ".join(f"{k}={v:.2f}" for k, v in p.items()
                             if isinstance(v, float)) for p in passes))
                sc = stages.delta()
                n_passes, failed_tasks, tasks = (
                    len(passes), sc["failed_tasks"], sc["tasks"])

            log("timed passes done")
            # correctness gate on the last pass's output
            if wl.resume:
                ck = last["ck"]
                extracted, nodes, edges = ck.extracted(), ck.nodes(), ck.edges()
                chunks = nodes.where(nodes.label == "Chunk")
            else:
                res = last["res"]
                extracted, nodes, edges = res.extracted, res.nodes, res.edges
                chunks = res.chunks
            if args.corrupt:
                extracted = gate.corrupt_one(extracted)
            t0 = time.perf_counter()
            g = gate.check(s.pages, extracted, nodes, edges, chunks)
            gate_s = time.perf_counter() - t0
            log("gate done; peak rss by process: " + ", ".join(
                f"{k} {v:.0f}MB" for k, v in rss.peak_by_name.items()))
        peak = rss.peak_mb
    finally:
        from pyspark.sql import SparkSession

        if SparkSession.getActiveSession() is not None:
            stop_session(SparkSession.getActiveSession())
        shutil.rmtree(work, ignore_errors=True)
    log("session stopped")

    failed_frac = g.failed / g.attempted + (failed_tasks / tasks if tasks else 0)
    if args.trace:
        top = max(layers, key=layers.get)
        report("per-layer", layer_metrics,
               f"largest self time: {top} ({layers[top]:.3f} s); "
               f"spans: {spans_path}")
        metrics = layer_metrics
    else:
        metrics = end_to_end(s, passes)
        # printed, not bounded: zero on a healthy run, resume-only, or (peak
        # RSS, JVM heap growth) too noisy across runs to bound
        extra = {"peak_rss_mb": (peak, "MB"),
                 "failed_frac": (failed_frac, "ratio")}
        if wl.resume:
            # the rerun over the committed checkpoint is timed by --trace 1
            # (checkpoint.noop_s); here the gate's read-back is read_s
            extra["read_s"] = (gate_s, "s")
        report("end-to-end", {**metrics, **extra},
               f"median of {n_passes} passes")
    print(f"  gate: attempted={g.attempted} failed={g.failed} "
          f"chunk_rows={g.chunk_rows} has_chunk={g.has_chunk_edges}")
    print(json.dumps({
        "correct": g.correct,
        "attempted": g.attempted,
        "failed": g.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if g.correct else 1


if __name__ == "__main__":
    sys.exit(main())
