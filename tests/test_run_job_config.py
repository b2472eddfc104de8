"""run_job.py config-file surface: yaml values flow into the job with
CLI-over-file precedence, and `init` writes a loadable scaffold (the
reference's convert --config / init, `cli/commands/convert.py:129-164`)."""

from __future__ import annotations

import json
import os
import sys

import pytest
import yaml

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import run_job  # noqa: E402


def _run(argv, capsys):
    old = sys.argv
    sys.argv = ["run_job.py"] + argv
    try:
        rc = run_job.main()
    finally:
        sys.argv = old
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return rc, json.loads(out)


def test_init_writes_loadable_scaffold(tmp_path, capsys):
    target = str(tmp_path / "config.yaml")
    rc, out = _run(["init", "--config", target], capsys)
    assert rc == 0 and out["wrote"] == target
    data = yaml.safe_load(open(target))
    assert data["mode"] == "oneshot"
    assert data["defaults"]["id_mode"] == "xxhash64"


def test_init_refuses_overwrite(tmp_path, capsys):
    target = tmp_path / "config.yaml"
    target.write_text("x: 1\n")
    with pytest.raises(SystemExit):
        _run(["init", "--config", str(target)], capsys)


def test_config_file_drives_oneshot_run(spark, sf_smoke_dir, tmp_path,
                                        capsys):
    """Full e2e from a yaml: sf_dir + output + mode + pipeline knobs come
    from the file (run_job reuses the active test session)."""
    out_dir = str(tmp_path / "graph_out")
    cfg = {
        "sf_dir": sf_smoke_dir,
        "output": out_dir,
        "mode": "oneshot",
        "defaults": {"id_mode": "xxhash64", "max_tokens": 25},
    }
    cfg_path = tmp_path / "job.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    rc, out = _run(["--config", str(cfg_path)], capsys)
    assert rc == 0
    assert out["mode"] == "oneshot"
    assert out["processed_docs"] > 0
    assert out["processed_docs"] == spark.read.parquet(
        f"{out_dir}/extracted").count()
    assert os.path.isdir(f"{out_dir}/chunks")


def test_cli_overrides_config_file(tmp_path, capsys, spark, sf_smoke_dir,
                                   monkeypatch):
    """CLI > file: a file mode of oneshot is overridden by --mode; the
    merged args are observable without running (bad mode fails fast)."""
    cfg_path = tmp_path / "job.yaml"
    cfg_path.write_text(yaml.safe_dump({
        "sf_dir": sf_smoke_dir, "mode": "oneshot"
    }))
    # no output anywhere -> argparse error proves file was parsed and the
    # CLI flag (none) fell back to the file, which also has none
    with pytest.raises(SystemExit):
        _run(["--config", str(cfg_path)], capsys)


def test_inspect_renders_report_from_output_dir(spark, sf_smoke_dir,
                                                tmp_path, capsys):
    """run (oneshot) then inspect: the reference's convert -> inspect flow
    (`cli/commands/inspect.py:15-117`) against the CSV export."""
    out_dir = str(tmp_path / "gout")
    cfg_path = tmp_path / "job.yaml"
    cfg_path.write_text(yaml.safe_dump({
        "sf_dir": sf_smoke_dir, "output": out_dir, "mode": "oneshot",
        "defaults": {"max_tokens": 25},
    }))
    rc, _ = _run(["--config", str(cfg_path)], capsys)
    assert rc == 0
    rc, out = _run(["inspect", "--output", out_dir], capsys)
    assert rc == 0
    assert out["nodes"] > 0 and out["edges"] > 0
    assert os.path.exists(f"{out_dir}/report.md")
    assert os.path.exists(f"{out_dir}/graph.html")
    assert "<html" in open(f"{out_dir}/graph.html").read()[:2000].lower()


def test_shards_mode_exports_budgeted_shards(spark, sf_smoke_dir, tmp_path,
                                             capsys):
    """oneshot -> shards: the extracted table is packed into token-budget
    shards, written partitioned by shard_id with a manifest; every doc
    appears exactly once and shard token totals respect the boundary-
    straddle bound."""
    out_dir = str(tmp_path / "sout")
    rc, _ = _run(["--sf-dir", sf_smoke_dir, "--output", out_dir,
                  "--mode", "oneshot", "--max-tokens", "25"], capsys)
    assert rc == 0
    rc, out = _run(["--mode", "shards", "--output", out_dir,
                    "--shard-budget", "2000"], capsys)
    assert rc == 0

    ext = spark.read.parquet(f"{out_dir}/extracted")
    shards = spark.read.parquet(f"{out_dir}/shards")
    assert out["processed_docs"] == ext.count() == shards.count()
    assert shards.select("url").distinct().count() == ext.count()

    manifest = {r["shard_id"]: r
                for r in spark.read.parquet(
                    f"{out_dir}/shard_manifest").collect()}
    assert len(manifest) >= 2
    max_doc = max(r["n_tokens"] for r in shards.select("n_tokens").collect())
    for sid, row in manifest.items():
        if sid != max(manifest):
            assert row["shard_tokens"] <= 2000 + max_doc


def test_shards_mode_reads_only_committed_rows(spark, sf_smoke_dir,
                                               tmp_path, capsys):
    """shards over a checkpoint root beside a crashed append packs the
    committed documents only, and the run stamp and the bucket partition
    column stay out of the shards."""
    from pyspark.sql import functions as F

    from docling_graph_spark.checkpointing import CheckpointedRun
    from docling_graph_spark.pipeline import PipelineConfig, run_pipeline
    from docling_graph_spark.sources.web_pages import synthesize_web_pages

    pages = synthesize_web_pages(spark, sf_smoke_dir).filter(
        F.crc32("url") % 10 == 0)
    half = F.crc32("url") % 20 == 0
    root = str(tmp_path / "ckroot")
    cfg = PipelineConfig(id_mode="xxhash64")
    ck = CheckpointedRun(spark, root, cfg)
    n = ck.run(pages.filter(half))
    res = run_pipeline(pages.filter(~half).localCheckpoint(eager=True),
                       cfg).persist()
    ck._append_stages(res, "crashed")
    res.unpersist()

    rc, out = _run(["--mode", "shards", "--output", root,
                    "--shard-budget", "2000"], capsys)
    assert rc == 0 and out["processed_docs"] == n > 0
    shards = spark.read.parquet(f"{root}/shards")
    assert (sorted(r.url for r in shards.select("url").collect())
            == sorted(r.url for r in ck.extracted().select("url").collect()))
    assert not {"_run_id", "bucket"} & set(shards.columns)


def test_shards_mode_packed_sequences(spark, sf_smoke_dir, tmp_path,
                                      capsys):
    out_dir = str(tmp_path / "pout")
    rc, _ = _run(["--sf-dir", sf_smoke_dir, "--output", out_dir,
                  "--mode", "oneshot", "--max-tokens", "25"], capsys)
    assert rc == 0
    rc, _ = _run(["--mode", "shards", "--output", out_dir,
                  "--shard-budget", "2000", "--packed"], capsys)
    assert rc == 0
    packed = spark.read.parquet(f"{out_dir}/packed")
    ext = spark.read.parquet(f"{out_dir}/extracted")
    rows = packed.collect()
    assert sum(r["n_docs"] for r in rows) == ext.count()
    # every shard's packed text joins its docs with the separator
    assert all(r["packed_text"].count("\n\n") >= r["n_docs"] - 1 >= 0
               for r in rows)


def test_interactive_wizard_builds_runnable_config(spark, sf_smoke_dir,
                                                   tmp_path, capsys,
                                                   monkeypatch):
    """`init --interactive` drives the reference config_builder prompt
    flow (scripted stdin): the produced yaml is valid and `--config`
    then runs the full job from it."""
    import io as _io

    out_dir = str(tmp_path / "wizard_out")
    answers = [
        "hybrid",        # chunker
        "vocab",         # token counter -> vendored WordPiece
        "60",            # max tokens
        "bogus-choice",  # invalid id mode -> re-prompt
        "xxhash64",      # id mode
        "n",             # reverse edges
        "",              # content dedup -> default (no)
        "testdata",      # input kind
        sf_smoke_dir,    # sf dir
        out_dir,         # output directory
        "oneshot",       # run mode
        "n",             # report
    ]
    monkeypatch.setattr("sys.stdin", _io.StringIO("\n".join(answers) + "\n"))
    target = str(tmp_path / "wizard.yaml")
    rc, out = _run(["init", "--interactive", "--config", target], capsys)
    assert rc == 0 and out["wrote"] == target and out["interactive"]
    data = yaml.safe_load(open(target))
    assert data["defaults"]["chunker"] == "hybrid"
    assert data["defaults"]["tokenizer_name"] == "vocab:mini"
    assert data["defaults"]["max_tokens"] == 60
    assert data["defaults"]["id_mode"] == "xxhash64"
    assert data["sf_dir"] == sf_smoke_dir and data["output"] == out_dir
    assert "add_reverse_edges" not in data["defaults"]
    # the wizard's config actually runs end-to-end
    rc, out = _run(["--config", target], capsys)
    assert rc == 0 and out["mode"] == "oneshot"
    assert out["processed_docs"] > 0


def test_wizard_invalid_then_default_inputs(monkeypatch):
    """Choice validation re-prompts; empty input takes the default at
    every prompt kind (option / confirm / int / text)."""
    import io as _io

    from docling_graph_spark.config_builder import build_config_interactive

    answers = ["", "", "not-a-number", "", "", "maybe", "y", "n",
               "", "", "", "", ""]
    monkeypatch.setattr("sys.stdin", _io.StringIO("\n".join(answers) + "\n"))
    cfg = build_config_interactive()
    assert cfg["defaults"]["chunker"] == "hybrid"      # default
    assert cfg["defaults"]["max_tokens"] == 512        # after bad int
    assert cfg["defaults"]["add_reverse_edges"] is True
    assert "content_dedup" not in cfg["defaults"]
    assert cfg["input"] == "/data/web_pages"
    assert cfg["mode"] == "oneshot" and cfg["report"] is False


def test_config_file_enum_validation(tmp_path, capsys):
    """yaml values bypass argparse choices — the merged-config enum
    validation (reference cli/validators.py analogue) must fail loud
    with the valid set, not silently misroute the job."""
    for key, bad in [("mode", "bogus"),
                     ("defaults", {"id_mode": "sha1"}),
                     ("defaults", {"chunker": "magic"})]:
        cfg = {"sf_dir": "/root/testdata/sf0.001",
               "output": str(tmp_path / "o"), key: bad}
        p = tmp_path / "bad.yaml"
        p.write_text(yaml.safe_dump(cfg))
        with pytest.raises(SystemExit):
            _run(["--config", str(p)], capsys)


def test_graph_mode_finalizes_link_graph_only_with_host_edges(
        spark, sf_smoke_dir, tmp_path, capsys, monkeypatch):
    """Graph mode finalizes the host link graph only where a stream ran
    with --link-graph (a ``host_edges`` table exists): over a resume root
    it never calls finalize_link_graph, so nothing reads a missing
    table."""
    from pyspark.sql import functions as F

    from docling_graph_spark.sources.web_pages import synthesize_web_pages
    from docling_graph_spark.streaming import incremental

    calls = []
    finalize = incremental.finalize_link_graph

    def counting(*a, **kw):
        calls.append(a[1])
        return finalize(*a, **kw)

    monkeypatch.setattr(incremental, "finalize_link_graph", counting)
    inbox = str(tmp_path / "inbox")
    synthesize_web_pages(spark, sf_smoke_dir).filter(
        F.crc32("url") % 25 == 0).write.parquet(inbox)

    resume_root = str(tmp_path / "resume_root")
    rc, _ = _run(["--mode", "resume", "--input", inbox,
                  "--output", resume_root], capsys)
    assert rc == 0
    rc, out = _run(["--mode", "graph", "--output", resume_root], capsys)
    assert rc == 0 and out["processed_docs"] > 0
    assert calls == []

    stream_root = str(tmp_path / "stream_root")
    rc, out = _run(["--mode", "stream", "--input", inbox, "--output",
                    stream_root, "--link-graph"], capsys)
    assert rc == 0
    from docling_graph_spark.checkpointing import CheckpointedRun
    assert out["processed_docs"] == CheckpointedRun(
        spark, stream_root).extracted().count() > 0
    rc, _ = _run(["--mode", "graph", "--output", stream_root], capsys)
    assert rc == 0 and calls == [stream_root]
    assert os.path.isdir(f"{stream_root}/host_ranks")
