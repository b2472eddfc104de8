"""Correctness gate, run on every workload after the timed passes.

Per url of the input (all synthetic pages carry non-empty ground truth, so
every url is extractable):

* the extracted text equals the input's ground-truth ``text`` byte for byte
  (the north-rule parity invariant, joined on url; compared by SHA-256);
* the url appears in the extracted relation exactly once — for a resumed
  checkpoint this is "committed exactly once";
* the graph holds exactly one ``WebDocument`` node for it.

Graph-wide: ``has_chunk`` edges equal chunk rows.

A url failing any check, missing, or present without being an input counts
once in ``failed``; a ``has_chunk`` mismatch adds its size.  The join runs
on the driver over (url, digest) pairs: narrow scans, no shuffle.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass


@dataclass
class GateResult:
    attempted: int
    failed: int
    chunk_rows: int
    has_chunk_edges: int

    @property
    def correct(self) -> bool:
        return self.failed == 0


def corrupt_one(extracted):
    """Self-test hook: reverse the extracted text of the smallest url."""
    from pyspark.sql import functions as F

    victim = extracted.agg(F.min("url").alias("u")).collect()[0].u
    return extracted.withColumn(
        "text",
        F.when(F.col("url") == F.lit(victim), F.reverse("text"))
        .otherwise(F.col("text")),
    )


def _digests(df):
    from pyspark.sql import functions as F

    return df.select("url", F.sha2("text", 256).alias("d")).collect()


def check(pages, extracted, nodes, edges, chunks) -> GateResult:
    """Gate ``(extracted, nodes, edges)`` against the ``pages`` input;
    ``chunks`` is the chunk relation (or the Chunk nodes, where only the
    graph is readable)."""
    from pyspark.sql import functions as F

    truth = dict(_digests(pages))
    got = _digests(extracted)
    n_text = Counter(url for url, _ in got)
    got_digest = dict(got)
    n_doc = Counter(
        r.url for r in nodes.where(F.col("label") == "WebDocument")
        .select(F.col("properties")["url"].alias("url")).collect())
    bad = sum(
        1 for url in set(truth) | set(n_text) | set(n_doc)
        if n_text[url] != 1 or n_doc[url] != 1
        or truth.get(url) != got_digest.get(url)
    )
    has_chunk = edges.where(F.col("label") == "has_chunk").count()
    chunk_rows = chunks.count()
    return GateResult(len(truth), bad + abs(has_chunk - chunk_rows),
                      chunk_rows, has_chunk)
