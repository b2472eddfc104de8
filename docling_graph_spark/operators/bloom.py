"""Bloom-filter membership gate for incremental crawl ingestion.

Problem at crawl scale: incremental ingestion must skip urls already
ingested in prior batches.  The plain expression is a ``left_anti`` join of
every micro-batch against the full accumulated history — a rescan of the
(monotonically growing) ledger per batch, which at 10^12 urls makes each
micro-batch cost O(history), not O(batch).  The engine's stream takes the
plain anti-join (`CheckpointedRun.pending`); this gate serves the catalog's
``bloom_gate`` entry.

The standard fix (used by every production crawl dedup, cf. the
Bloom-filter join pruning in Spark's own runtime filters): maintain a
compact Bloom filter over the seen-url set.  Bloom-NEGATIVE rows are
*definitely* new and skip the anti-join entirely; only bloom-POSITIVE rows
(true re-captures + a bounded false-positive sliver) hit the history join.
With a re-capture fraction r and false-positive rate p, the join probe side
shrinks from |batch| to (r+p)·|batch|.

Representation — a DataFrame, not a driver-side bitset:

    words: (word: long, bits: long)     -- word = bit_index div 64

built with ``groupBy(word).agg(bit_or(mask))``.  ``bit_or`` is associative
and commutative, so
  * the build gets map-side partial aggregation for free, and
  * incremental maintenance is ``bloom_update(old, delta)`` = union +
    re-OR — batch boundaries cannot change the final filter (the same
    argument the incremental link graph relies on).

Hashing — Kirsch–Mitzenmacher double hashing over ``F.xxhash64``:

    h1 = xxhash64(col)  mod m
    h2 = xxhash64(col, "bloom-h2") mod m, forced odd
    pos_i = (h1 + i * h2) mod m          i in [0, k)

All JVM-side codegen'd integer arithmetic (values stay ≤ (k+1)·m « 2^63,
so no ANSI overflow).  The probe is k broadcast hash joins of the big side
against the words table (≤ m/64 rows — 1 MiB of longs per 512 Mbit of
filter), i.e. ZERO shuffle of the batch and no Python in the path.

Scale note (10^12 urls): a single bloom for the whole corpus at 1% FPR
would need ~1.2 TB of bits — at that size the filter itself is sharded by
url-hash prefix and co-partitioned with a prefix-partitioned ledger, and
each ingest partition probes only its shard.  The operators below are the
per-shard primitive; the words-DataFrame representation is exactly what a
sharded layout stores per prefix.  At the 10^8-10^9 urls a single Spark
app ingests between compactions, one broadcastable filter suffices.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_HASHES = 5


def bloom_num_bits(expected_n: int, fpr: float = 0.01) -> int:
    """Classic sizing: m = -n ln(p) / (ln 2)^2, rounded up to a multiple
    of 64 (whole words)."""
    n = max(1, expected_n)
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    return ((m + 63) // 64) * 64


def _positions(col, num_bits: int, num_hashes: int):
    """List of ``num_hashes`` bit-position Columns (long, in [0, m))."""
    m = F.lit(int(num_bits))
    h1 = F.pmod(F.xxhash64(col), m)
    # force h2 odd so the probe sequence never degenerates to a single
    # position when pmod lands on 0 (and strides cover all residues for
    # power-of-two m)
    h2 = F.pmod(F.xxhash64(col, F.lit("bloom-h2")), m) * 2 + 1
    return [F.pmod(h1 + F.lit(i) * h2, m) for i in range(num_hashes)]


def bloom_words(df: DataFrame, col: str, num_bits: int,
                num_hashes: int = DEFAULT_NUM_HASHES) -> DataFrame:
    """Build the (word, bits) filter table over ``df[col]``.

    One explode of k positions per row, then a map-side-combining
    ``bit_or`` aggregation over at most m/64 distinct words — the only
    shuffle is the tiny word-keyed exchange.
    """
    pos = F.explode(F.array(*_positions(F.col(col), num_bits, num_hashes)))
    probes = df.select(pos.alias("pos"))
    return (
        probes.select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), "
                   "CAST(pmod(pos, 64) AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_update(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two filter tables (same num_bits/num_hashes): union + re-OR.
    Associative and commutative, so any accumulation order yields the
    identical filter."""
    return (
        existing.unionByName(delta)
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def bloom_maybe_seen(df: DataFrame, col: str, words: DataFrame,
                     num_bits: int,
                     num_hashes: int = DEFAULT_NUM_HASHES,
                     out_col: str = "maybe_seen") -> DataFrame:
    """Add boolean ``out_col``: True iff every probe bit is set (possibly
    seen — false positives at the configured rate), False iff the value is
    DEFINITELY not in the filter (no false negatives).

    Plan shape: k broadcast hash joins of ``df`` against the small words
    table — the big side is never shuffled and never exploded, and the
    bit tests are codegen'd integer ops.
    """
    out = df
    hit_cols = []
    for i, pos in enumerate(_positions(F.col(col), num_bits, num_hashes)):
        p = f"_bp{i}"
        w = f"_bw{i}"
        b = f"_bm{i}"
        out = (out.withColumn(p, pos)
               .withColumn(w, (F.col(p) / 64).cast("long"))
               .withColumn(b, F.expr(
                   f"shiftleft(CAST(1 AS BIGINT), "
                   f"CAST(pmod({p}, 64) AS INT))")))
        lut = F.broadcast(
            words.select(F.col("word").alias(w),
                         F.col("bits").alias(f"_bits{i}")))
        out = out.join(lut, w, "left")
        hit = (F.col(f"_bits{i}").isNotNull()
               & (F.col(f"_bits{i}").bitwiseAND(F.col(b)) != 0))
        hit_cols.append(hit)
    maybe = hit_cols[0]
    for h in hit_cols[1:]:
        maybe = maybe & h
    out = out.withColumn(out_col, maybe)
    drop = [c for i in range(num_hashes)
            for c in (f"_bp{i}", f"_bw{i}", f"_bm{i}", f"_bits{i}")]
    return out.drop(*drop)


def bloom_maybe_seen_big(df: DataFrame, col: str, words: DataFrame,
                         num_bits: int,
                         num_hashes: int = DEFAULT_NUM_HASHES,
                         out_col: str = "maybe_seen") -> DataFrame:
    """Probe variant for filters too large to broadcast (the 10^12-url
    sharded layout from the module docstring, e.g. 512 Mbit ≈ 64 MiB of
    words per shard × many shards).

    Instead of k broadcast joins, the k probes of each row are exploded to
    (value, word, mask) rows and resolved with ONE equi-join on ``word``
    against the words table, then folded back per value:

        maybe_seen(v)  ⇔  every probe word exists AND has its mask bit set

    Cost model: one shuffle of k×|batch| narrow probe rows (16 B each) +
    one shuffle of the words table (or zero if it is bucketed by word) +
    one re-aggregation keyed by the probed VALUE — not the input row — so
    the big side's other columns never move; callers re-join the verdict
    on ``col``.  Use the broadcast variant whenever the filter fits in
    executor memory; this one exists so filter size is bounded by the
    cluster, not by one executor's heap.

    Returns a (``col``, ``out_col``) relation with one row per DISTINCT
    probed value.
    """
    vals = df.select(F.col(col)).distinct().select(
        F.col(col),
        F.array(*_positions(F.col(col), num_bits, num_hashes))
        .alias("_probe"),
    )
    flat = vals.select(
        col,
        F.posexplode("_probe").alias("_i", "_pos"),
    ).select(
        col,
        (F.col("_pos") / 64).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), "
               "CAST(pmod(_pos, 64) AS INT))").alias("mask"),
    )
    joined = flat.join(words, "word", "left")
    hit = (F.col("bits").isNotNull()
           & (F.col("bits").bitwiseAND(F.col("mask")) != 0))
    return (
        joined.groupBy(col)
        .agg((F.count("*") == F.sum(hit.cast("int"))).alias(out_col))
    )
