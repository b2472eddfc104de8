"""Bloom-filter seen-url gate (operators/bloom.py).

Correctness contract: the filter may say "maybe seen" for a new url (false
positive, costs one join probe) but must NEVER say "new" for a seen url.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from docling_graph_spark.operators import bloom as op_bloom

BITS = 1 << 16


def _urls(spark, prefix: str, n: int):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url"))


def test_no_false_negatives(spark):
    """Every inserted value probes positive — the load-bearing property."""
    seen = _urls(spark, "https://a.example/p", 2000)
    words = op_bloom.bloom_words(seen, "url", BITS)
    probed = op_bloom.bloom_maybe_seen(seen, "url", words, BITS)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_false_positive_rate_bounded(spark):
    """Disjoint probes flag at roughly the designed rate, not wholesale."""
    n = 2000
    bits = op_bloom.bloom_num_bits(n, fpr=0.01)
    words = op_bloom.bloom_words(_urls(spark, "https://a.example/p", n),
                                 "url", bits)
    other = _urls(spark, "https://b.example/q", n)
    fp = (op_bloom.bloom_maybe_seen(other, "url", words, bits)
          .filter(F.col("maybe_seen")).count())
    # 1% design point; allow generous slack for hash variance
    assert fp / n < 0.05


def test_update_is_associative(spark):
    """bloom(A ∪ B) == update(bloom(A), bloom(B)) bit-for-bit — batch
    boundaries cannot change the filter."""
    a = _urls(spark, "https://a.example/p", 500)
    b = _urls(spark, "https://b.example/q", 500)
    whole = op_bloom.bloom_words(a.unionByName(b), "url", BITS)
    merged = op_bloom.bloom_update(
        op_bloom.bloom_words(a, "url", BITS),
        op_bloom.bloom_words(b, "url", BITS))
    assert whole.exceptAll(merged).count() == 0
    assert merged.exceptAll(whole).count() == 0


def test_probe_plan_broadcasts_and_never_shuffles_big_side(spark):
    """The membership probe must be k broadcast joins: no Exchange of the
    probed relation, no cartesian/nested-loop join."""
    seen = _urls(spark, "https://a.example/p", 100)
    words = op_bloom.bloom_words(seen, "url", BITS)
    plan = (op_bloom.bloom_maybe_seen(seen, "url", words, BITS)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only exchanges allowed are the broadcast ones and the tiny
    # words-table aggregation; the probed side itself must not shuffle
    import re

    non_broadcast = [ln for ln in plan.splitlines()
                     if re.search(r"\bExchange (?!.*broadcast)", ln)
                     and "hashpartitioning(pos" not in ln
                     and "hashpartitioning(word" not in ln]
    assert non_broadcast == [], non_broadcast


def test_big_probe_matches_broadcast_probe(spark):
    """The non-broadcast (sharded-scale) probe returns the identical
    verdict per value as the broadcast probe — same filter, same hashes,
    different physical plan."""
    seen = _urls(spark, "https://a.example/p", 1500)
    probe = _urls(spark, "https://a.example/p", 1000).unionByName(
        _urls(spark, "https://b.example/q", 1000))
    bits = op_bloom.bloom_num_bits(1500, fpr=0.05)
    words = op_bloom.bloom_words(seen, "url", bits)

    small = op_bloom.bloom_maybe_seen(probe, "url", words, bits)
    big = op_bloom.bloom_maybe_seen_big(probe, "url", words, bits)

    diff = (small.select("url", "maybe_seen")
            .join(big.withColumnRenamed("maybe_seen", "ms_big"), "url")
            .filter(F.col("maybe_seen") != F.col("ms_big")))
    assert diff.count() == 0
    # inserted values must all probe positive through the big path too
    ins = big.join(seen, "url", "left_semi")
    assert ins.filter(~F.col("maybe_seen")).count() == 0
