"""Bloom-filter join pre-filtering (scale pattern; X-series analog).

At 100 TB the dominant cost of a selective big-big join is shuffling
probe-side rows that can never match. Spark's own runtime row-level
filtering (``spark.sql.optimizer.runtime.bloomFilter.enabled``)
injects exactly this plan when statistics allow; this module is the
explicit, deterministic version for when the planner can't see the
selectivity (e.g. the build side is itself a computed/filter-derived
relation) — the same role the reference's keyed-subset fetches play
(reference: presto-tolbi/presto/dataops/dataset.py label-keyed
selection; only matching shards are ever materialized).

Design:

- The filter is built with ONE aggregation over the build side's
  distinct keys: k hash positions per key (``xxhash64`` with per-hash
  seeds), folded into ``num_bits`` bits stored as ``num_bits / 64``
  longs via ``bit_or`` — a constant-size, mergeable sketch (map-side
  partial aggregation reduces every partition to <= num_words rows
  before the one tiny shuffle).
- The materialized word array is bounded by the ``num_bits``
  PARAMETER, never by data size (128 KiB at the 2^20-bit default) —
  the same driver-side footprint Spark's InjectRuntimeFilter ships
  through its scalar subquery. It is embedded as a plan-literal
  array, so the probe-side membership test is pure whole-stage
  codegen: two element_at lookups and a bitwise AND per hash — no
  join, no shuffle, no Python.
- The pre-filter is LOSSLESS for the subsequent join: a Bloom filter
  has no false negatives, and surviving false positives are removed
  by the real join that follows. Correctness never depends on the
  filter; only shuffle volume does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Signed-long masks for bit 0..63 (bit 63 wraps to the sign bit).
_BIT_MASKS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def _positions(key: Column, num_bits: int, num_hashes: int, seed_base: int):
    return [
        F.pmod(F.xxhash64(key, F.lit(seed_base + j)), F.lit(num_bits))
        for j in range(num_hashes)
    ]


def bloom_build(
    build: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
    seed_base: int = 9000,
) -> list[int]:
    """Aggregate the build side's keys into a Bloom bitset.

    Returns the ``num_bits / 64`` signed-long words (dense list,
    zero-filled). One distinct + one bounded-size aggregation; the
    collected result is O(num_bits), a parameter — this is the sketch
    itself, not data."""
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    num_words = num_bits // 64
    # explode_outer: the k-element literal array is never empty, and a
    # plain explode's inferred size>0 pre-filter would re-evaluate all
    # k position hashes a second time per key.
    pos = F.explode_outer(
        F.array(
            *_positions(F.col("__k"), num_bits, num_hashes, seed_base)
        )
    ).alias("pos")
    words = (
        build.select(F.col(key_col).cast("string").alias("__k"))
        .distinct()
        .select(pos)
        .select(
            F.floor(F.col("pos") / F.lit(64)).cast("int").alias("w"),
            F.element_at(
                F.lit(_BIT_MASKS),
                F.col("pos").bitwiseAND(F.lit(63)).cast("int") + F.lit(1),
            ).alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    dense = [0] * num_words
    for row in words:
        dense[row["w"]] = row["word"]
    return dense


def bloom_might_contain(
    key: Column,
    words: list[int],
    num_hashes: int = 3,
    seed_base: int = 9000,
) -> Column:
    """Pure-expression membership test against a built bitset."""
    num_bits = len(words) * 64
    arr = F.lit(words)
    masks = F.lit(_BIT_MASKS)
    test = F.lit(True)
    for pos in _positions(key.cast("string"), num_bits, num_hashes, seed_base):
        word = F.element_at(arr, F.floor(pos / F.lit(64)).cast("int") + F.lit(1))
        mask = F.element_at(
            masks, pos.bitwiseAND(F.lit(63)).cast("int") + F.lit(1)
        )
        test = test & (word.bitwiseAND(mask) != F.lit(0))
    return test


def bloom_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    how: str = "inner",
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Equi-join with a Bloom pre-filter on the probe side.

    Result is IDENTICAL to ``probe.join(build, on, how)`` (no false
    negatives; false positives die in the real join) — but the probe
    side is filtered before its shuffle, which at scale is the
    difference between shuffling 100 TB and shuffling the matching
    fraction. ``how`` must be inner/left_semi (the only shapes where
    dropping non-matching probe rows early is sound)."""
    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError("bloom prefilter is only sound for inner/semi joins")
    words = bloom_build(build, on, num_bits=num_bits, num_hashes=num_hashes)
    filtered = probe.where(
        bloom_might_contain(F.col(on), words, num_hashes=num_hashes)
    )
    return filtered.join(build, on, how)
