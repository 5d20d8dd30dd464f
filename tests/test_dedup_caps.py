"""LSH bucket-size caps (VERDICT r3 items 3+4).

At 100 TB, web boilerplate produces million-document identical-band
clusters; the intra-bucket all-pairs join is O(bucket^2) on exactly the
data dedup exists for. max_bucket switches oversized buckets to
representative pairing (every member vs the bucket's min id — O(bucket)
pairs) and blocking.purge_report REPORTS what was dropped. Default
(max_bucket=None) stays exact — the sf0.01 oracles gate that path.
"""

import pytest
from pyspark.sql import functions as F

from jsoup_spark.operators.blocking import purge_report
from jsoup_spark.operators.dedup import (
    _ngram_keys, embedding_near_dup, ngram_jaccard_pairs,
)
from jsoup_spark.operators.similarity import _table_keys


@pytest.fixture(scope="module")
def degenerate_docs(spark):
    """10k near-identical docs (one boilerplate page) + a handful of
    distinct ones — the worst-case skewed band bucket."""
    n = 10_000
    base = ("breaking news site nav footer copyright contact about "
            "subscribe login register privacy terms help faq careers")
    rows = [(i, base) for i in range(n)]
    rows += [(n + i, f"unique document number {i} with its own words "
              f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(5)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_degenerate_bucket_is_capped(spark, degenerate_docs):
    pairs = ngram_jaccard_pairs(degenerate_docs, threshold=0.0,
                                max_bucket=100)
    got = pairs.count()
    # representative pairing: 9999 rep-member pairs for the big cluster
    # (+ small-bucket pairs from the 5 unique docs, each its own bucket)
    assert got == 9_999
    st = purge_report(_ngram_keys(degenerate_docs), 100).collect()
    assert len(st) == 1
    row = st[0]
    assert row.n_docs == 10_000
    assert row.dropped_pairs == 10_000 * 9_999 // 2 - 9_999
    # every pair is rep(0) vs member, jaccard 1.0
    top = pairs.limit(5).collect()
    assert all(r.doc_a == 0 and r.jaccard == 1.0 for r in top)


def test_cap_default_is_exact(spark, degenerate_docs):
    # small corpus where no bucket exceeds the cap: capped == exact
    small = degenerate_docs.filter(F.col("doc_id").between(9_998, 10_004))
    exact = sorted(map(tuple, ngram_jaccard_pairs(small).collect()))
    capped = sorted(map(tuple, ngram_jaccard_pairs(
        small, max_bucket=100).collect()))
    assert exact == capped
    assert purge_report(_ngram_keys(small), 100).count() == 0


def _exchange_outputs(df):
    """[(exec-class, [output column names])] for every Exchange in the
    physical plan (broadcast or shuffle), walked via py4j."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "Exchange" in name:
            o = node.output()
            out.append((name, [o.apply(i).name() for i in range(o.size())]))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_candidate_join_carries_no_arrays(spark, degenerate_docs):
    """The candidate self-join must move only the (id, tbl, key) blocking
    rows between stages — shingle arrays appear exclusively in the
    post-candidate doc_id-keyed fetch joins, renamed sh_a/sh_b (VERDICT
    r3 item 4); embeddings and norms likewise join in after the
    candidates form, also when capped and multi-probed."""
    rows = [(i, [float((i * 7 + d * 3) % 5 - 2) for d in range(8)])
            for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pairs = ngram_jaccard_pairs(degenerate_docs.limit(100))
        exchanges = _exchange_outputs(pairs)
        emb_exchanges = [_exchange_outputs(embedding_near_dup(
            emb, threshold=-1.0, nbits=4, **kw)) for kw in (
            {}, {"probe_hamming": 1, "n_tables": 2, "max_bucket": 3})]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert exchanges  # at least the candidate-side broadcast/shuffle
    cand = [cols for _, cols in exchanges if "key" in cols]
    assert cand and all(set(c) <= {"id", "tbl", "key"} for c in cand), \
        exchanges
    # the raw `sh` column never crosses an exchange; only the fetch-side
    # renames do, and those exchanges are keyed by doc id, not band
    for _, cols in exchanges:
        assert "sh" not in cols, exchanges
    for ex in emb_exchanges:
        blocks = [cols for _, cols in ex
                  if {"key", "tbl", "bucket"} & set(cols)]
        assert blocks, ex
        for cols in blocks:
            assert not {"embedding", "nrm", "_nrm"} & set(cols), ex


def test_embedding_cap(spark):
    n = 2_000
    rows = [(i, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]) for i in range(n)]
    rows += [(n, [-1.0] * 8)]  # negative signs: lands in its own bucket
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup(emb, threshold=0.0, nbits=8, max_bucket=50)
    assert pairs.count() == n - 1  # rep(0) vs each clone
    st = purge_report(_table_keys(emb, 8, 1), 50).collect()
    assert len(st) == 1 and st[0].n_docs == n
    assert st[0].dropped_pairs == n * (n - 1) // 2 - (n - 1)
    # uncapped default on a small slice equals capped
    small = emb.filter(F.col("vec_id") < 10)
    a = embedding_near_dup(small, threshold=0.0, nbits=8)
    b = embedding_near_dup(small, threshold=0.0, nbits=8, max_bucket=50)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert purge_report(_table_keys(small, 8, 1), 50).count() == 0

