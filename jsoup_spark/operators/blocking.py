"""Blocking for near-dup candidates: one candidate join and one bucket
cap (block purging) shared by the near-dup operators.

Only `(id, tbl, key)` rows — record id, LSH table, block key — move
through the candidate join; callers attach their payload to just the
surviving pairs (SparkER's shape: block and purge over keys, join
profiles in for candidates only). A block over the cap keeps its
representative (min id) against every other member: n - 1 pairs instead
of n(n-1)/2, and purge_report lists what was dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def candidates(keys: DataFrame, max_bucket: int | None = None,
               probe=None) -> DataFrame:
    """(a, b) id pairs, a < b, sharing a (tbl, key) block; a pair
    repeats once per table it collides in.

    The cap is ONE window over (tbl, key): side a keeps the members of
    blocks within max_bucket plus each block's representative, side b
    keeps every row. probe maps a key column to an array of keys, which
    side a explodes into after the cap (multi-probe LSH)."""
    a = b = keys.select("id", "tbl", "key")
    if max_bucket is not None:
        block = Window.partitionBy("tbl", "key")
        b = keys.select("id", "tbl", "key",
                        F.count("*").over(block).alias("n"),
                        F.min("id").over(block).alias("rep"))
        a = b.filter((F.col("n") <= max_bucket)
                     | (F.col("id") == F.col("rep")))
    if probe is not None:
        a = a.select("id", "tbl", F.explode(probe(F.col("key"))).alias("key"))
    a, b = a.alias("a"), b.alias("b")
    return a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
                  & (F.col("a.key") == F.col("b.key"))
                  & (F.col("a.id") < F.col("b.id"))) \
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))


def purge_report(keys: DataFrame, max_bucket: int) -> DataFrame:
    """(tbl, key, n_docs, dropped_pairs) for every block candidates()
    caps: it keeps n - 1 of the block's n(n-1)/2 pairs."""
    n = F.col("n_docs")
    return (keys.groupBy("tbl", "key").agg(F.count("*").alias("n_docs"))
            .filter(n > max_bucket)
            .select("tbl", "key", "n_docs",
                    ((n - 1) * (n - 2) / 2).cast("long")
                    .alias("dropped_pairs")))
