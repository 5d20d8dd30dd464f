"""Approximate-nearest-neighbor similarity search over embeddings.

* brute-force cosine top-k: broadcast the (small) query set, JVM-side
  zip_with/aggregate dot products, per-query top-k via window — the exact
  baseline;
* IVF-style variant: coarse buckets from sign-pattern hyperplane hashes;
  queries probe only their own bucket (the scale path — at 10^9 vectors
  the probe set shrinks by ~2^nbits).

Scores are rounded to 6 decimals so results are stable across engines
(DuckDB oracle uses list_cosine_similarity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


# Float64 throughout: bitwise-identical across engines (float32 list ops
# diverge in the last ulps and break value-hash comparison after
# rounding). Both helpers take column-reference SQL fragments and
# return one F.expr — Column-by-Column assembly of the nested lambdas
# paid dozens of py4j round trips per query construction (r9); the
# parsed expressions are identical, so values are bit-identical.

def _norm(c: str):
    """sqrt(sum(x^2)) left fold over the float64-cast array `c` — a norm
    precomputed per vector is bit-identical to one folded per candidate
    pair, so callers fold it once per row where the vectors are joined in
    anyway and per candidate where carrying it costs more."""
    return F.expr(
        f"sqrt(aggregate(transform(transform({c}, x -> cast(x as double)), "
        f"x -> x * x), cast(0.0 as double), (acc, x) -> acc + x))")


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with(transform({a}, x -> cast(x as double)), "
        f"transform({b}, x -> cast(x as double)), (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, x) -> acc + x)")


def brute_force_topk(embeddings: DataFrame, n_queries: int = 5,
                     k: int = 10) -> DataFrame:
    """Top-k cosine neighbors for the first n_queries vectors (by vec_id),
    excluding self. Exact baseline."""
    base = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        _norm("embedding").alias("_nrm"))
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        F.col("_nrm").alias("_qnrm"))
    joined = base.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("q_id"))
    scored = joined.select(
        "q_id", "vec_id",
        F.round(_dot("q_emb", "embedding")
                / (F.col("_qnrm") * F.col("_nrm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "cosine")
    )


def suggest_nbits(n_vectors: int, target_bucket: int = 4096) -> int:
    """Coarse-quantizer width scaled to corpus size: ~target_bucket vectors
    per bucket, clamped to [4, 20]. At 10^9 vectors this yields ~2^18
    buckets instead of the fixed 64 a small-corpus default would give."""
    import math
    if n_vectors <= target_bucket:
        return 4
    return max(4, min(20, int(math.ceil(math.log2(n_vectors / target_bucket)))))


def _table_keys(embeddings: DataFrame, nbits: int, n_tables: int,
                *carry: str) -> DataFrame:
    """(id, tbl, key, *carry), one row per vector per table: table t keys
    on the sign pattern of dims [t*nbits, (t+1)*nbits), so tables use
    disjoint hyperplanes. Requires n_tables * nbits <= embedding dim."""
    e = F.col("embedding")

    def signs(t):
        return F.concat_ws("", *[
            (e[t * nbits + i] >= 0).cast("int").cast("string")
            for i in range(nbits)])
    return embeddings.select(
        F.col("vec_id").cast("long").alias("id"), *carry,
        F.inline(F.array(*[
            F.struct(F.lit(t).alias("tbl"), signs(t).alias("key"))
            for t in range(n_tables)])))


def _probe_set(bucket_col, nbits: int, probe_hamming: int):
    """Own bucket (+ every 1-bit flip when probe_hamming >= 1)."""
    if probe_hamming < 1:
        return F.array(bucket_col)
    flips = [
        F.concat(F.substring(bucket_col, 1, i),
                 F.when(F.substring(bucket_col, i + 1, 1) == "0", F.lit("1"))
                  .otherwise(F.lit("0")),
                 F.substring(bucket_col, i + 2, nbits - i - 1))
        for i in range(nbits)
    ]
    return F.array(bucket_col, *flips)


def ivf_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
             nbits: int | None = 6, probe_hamming: int = 0,
             n_tables: int = 1) -> DataFrame:
    """IVF/LSH-bucketed ANN.

    Recall knobs (all exact-score the candidate set, so precision is 1 —
    only recall is approximate):
    * nbits — coarse-quantizer width; None scales to corpus size via
      suggest_nbits so buckets stay ~constant-sized at any scale;
    * probe_hamming=1 — multi-probe: each query also probes every bucket
      at Hamming distance 1 (quantization-boundary neighbors);
    * n_tables=L — OR-amplified independent tables over disjoint
      hyperplane sets; a candidate needs to collide in ANY table.
      Requires n_tables * nbits <= embedding dim.

    Plan shape at scale: the big side is scanned once per table (a
    Generate, no shuffle), the query side is broadcast with its probe set
    exploded, and the only exchanges are the candidate-dedup/top-k
    shuffles on q_id — never an all-pairs join.
    """
    if nbits is None:
        nbits = suggest_nbits(embeddings.count())
    base = _table_keys(embeddings, nbits, n_tables, "embedding")
    queries = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("_qnrm"),
        F.col("tbl").alias("q_tbl"),
        F.explode(_probe_set(F.col("key"), nbits, probe_hamming))
        .alias("q_key"))
    joined = base.join(
        F.broadcast(queries),
        (F.col("tbl") == F.col("q_tbl"))
        & (F.col("key") == F.col("q_key"))).filter(
        F.col("id") != F.col("q_id"))
    # corpus norm folded per candidate: carrying a precomputed one
    # through the explode and probe join ran 0.78x (VERDICT r9, sf1.0)
    scored = joined.select(
        "q_id", F.col("id").alias("vec_id"),
        F.round(_dot("q_emb", "embedding")
                / (F.col("_qnrm") * _norm("embedding")), 6).alias("cosine"),
    )
    if n_tables > 1:
        # a candidate colliding in several tables appears once per table;
        # cosine is deterministic so the duplicate rows are identical
        scored = scored.distinct()
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "cosine")
    )
