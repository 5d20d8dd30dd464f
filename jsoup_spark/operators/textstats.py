"""Text analysis operators for training-data pipelines.

All hot paths are Catalyst expressions (JVM-side, whole-stage codegen) —
no Python UDFs. Each operator's semantics are deliberately expressible in
portable SQL so the DuckDB oracles can recompute them exactly:
language-ID uses marker-word counts, quality scoring uses length/stopword/
dup ratios, fingerprinting uses md5 (identical hex output across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from .pipeline import doc_stage

# shared word lists (mirrored verbatim in __spark_entry__ oracle SQL)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}


def with_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("_words", F.split(F.col(text_col), " "))


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish sub-token estimate (chars/4 heuristic,
    common for budget accounting)."""
    d = with_words(documents)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size("_words").alias("n_tokens"),
        F.ceil(F.length("text") / F.lit(4)).cast("long").alias("n_subtokens"),
        F.size(F.array_distinct("_words")).alias("n_distinct_tokens"),
    )


# GPT-2-style pre-tokenizer split, lookahead-free (the upstream pattern's
# `\\s+(?!\\S)` tail needs negative lookahead, which RE2 lacks — dropping
# it merges each token's leading space into the token, the dominant BPE
# convention anyway). Verified token-for-token identical between Spark's
# Java regex and DuckDB's RE2 on contraction/unicode/digit/punct edge
# cases (tests + oracle).
BPE_SPLIT = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """Token counts under a real BPE-ish pre-tokenizer regex (BPE_SPLIT)
    next to the whitespace count — the budget-accounting numbers a
    training pipeline actually uses. Pure Catalyst (regexp_count in
    whole-stage codegen), zero exchanges."""
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_SPLIT))
        .alias("n_bpe_tokens"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / stopword-ratio / duplication heuristics (Gopher-style rules
    reduced to the columns available)."""
    d = with_words(documents)
    n_words = F.size("_words")
    n_stop = F.size(F.filter("_words", lambda w: w.isin(*STOPWORDS)))
    n_distinct = F.size(F.array_distinct("_words"))
    stop_ratio = F.round(n_stop.cast("double") / n_words, 6)
    dup_ratio = F.round(F.lit(1.0) - n_distinct.cast("double") / n_words, 6)
    length_ok = (F.col("n_chars") >= 20) & (F.col("n_chars") <= 100000)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_words.alias("n_words"),
        stop_ratio.alias("stopword_ratio"),
        dup_ratio.alias("dup_ratio"),
        (length_ok & (stop_ratio > 0.0)).cast("int").alias("quality_ok"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language scores; predicted = argmax with deterministic
    tie-break on language code."""
    d = with_words(documents)
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        scores.append(
            F.struct(
                F.size(F.filter("_words", lambda w: w.isin(*markers)))
                .alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    # max by (score, lang) — ties resolve to lexicographically LAST lang,
    # mirrored in the oracle
    best = F.array_max(F.array(*scores))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        best["lang"].alias("pred_lang"),
        best["score"].alias("pred_score"),
        F.col("lang").alias("labeled_lang"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprints: full-text md5, first-64-char prefix hash, and
    a word-shingle hash (first 3-gram) — building blocks for exact and
    near dedup."""
    d = with_words(documents)
    w = F.col("_words")
    first3 = F.when(
        F.size(w) >= 3,
        F.concat_ws(" ", w[0], w[1], w[2]),
    ).otherwise(F.col("text"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("text").alias("text_md5"),
        F.md5(F.substring("text", 1, 64)).alias("prefix_md5"),
        F.md5(first3).alias("shingle3_md5"),
    )


ROLL_B = 257            # polynomial rolling-hash base
ROLL_M = 1000000007     # modulus: prime < 2^31 so acc*B fits a BIGINT


def fingerprint_rolling(documents: DataFrame, k: int = 8,
                        p: int = 16) -> DataFrame:
    """True rolling-hash fingerprints (Rabin-Karp polynomial hash):

    * rolling_hash — the full-document hash, order-sensitive (unlike a
      bag-of-shingles hash, `ab`+`ba` differ);
    * a content-defined k-gram sketch: hash every k-char window, keep the
      windows whose hash = 0 (mod p) — the MOSS/winnowing-style sampling
      whose selected positions shift WITH the content, so local edits
      only perturb nearby sketch entries. Emitted as compact stats
      (count, min, sum mod M) instead of the raw array.

    r9: the O(n*k) per-window hashing moved from interpreted Catalyst
    higher-order functions (a fresh substring + split + per-char lambda
    per WINDOW — by far the slowest operator of the r8 tree at 8.5 s /
    5k docs under a noop sink) into one vectorized numpy pass per
    document on the Arrow kernel (guide §4.2): k shifted multiply-adds over the code-point
    array with modular powers, ~40x less interpreter work. Same math
    mod M, bit-identical outputs; _fingerprint_rolling_catalyst keeps
    the old formulation as the differential pin (tests/test_scrub.py).
    Map-only, zero exchanges, unchanged schema and oracle."""
    import numpy as np
    B, M = ROLL_B, ROLL_M
    # powers of B mod M, grown on demand to the longest doc seen
    pows = np.ones(1, dtype=np.int64)
    wpow = np.array([pow(B, k - 1 - j, M) for j in range(k)],
                    dtype=np.int64)

    def per_doc(text):
        """-> [(rolling_hash, n_sketch, sketch_min, sketch_sum)]"""
        nonlocal pows
        # NULL text null-propagates to rolling_hash and the sketch fields
        # take the empty-sample defaults. The empty doc hashes to 0: in
        # the Catalyst formulation split('', '') yields an empty array,
        # so the aggregate returns its 0 initializer (both probed)
        if not text:
            return [(None if text is None else 0, 0, -1, 0)]
        codes = np.frombuffer(
            text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        n = len(codes)
        if n > len(pows):
            old = len(pows)
            grown = np.empty(n, dtype=np.int64)
            grown[:old] = pows
            prev = int(pows[old - 1])
            for i in range(old, n):
                prev = prev * B % M
                grown[i] = prev
            pows = grown
        # rolling_hash = sum codes[j] * B^(n-1-j) mod M; chunked partial
        # sums keep every intermediate inside int64 (term <= 0x10FFFF *
        # (M-1) ~ 1.1e15; 4096 terms < 2^62)
        terms = codes * pows[n - 1::-1]
        roll = 0
        for s in range(0, n, 4096):
            roll = (roll + int(terms[s:s + 4096].sum())) % M
        if n >= k:
            # window hashes: k shifted multiply-adds, mod once
            # (stepwise-mod and final-mod agree in [0, M))
            w = codes[:n - k + 1] * wpow[0]
            for j in range(1, k):
                w += codes[j:n - k + 1 + j] * wpow[j]
                if j % 64 == 0:  # int64 headroom for large k
                    w %= M
            w %= M
            sampled = w[w % p == 0]
            if sampled.size:
                return [(roll, int(sampled.size), int(sampled.min()),
                         int(sampled.sum() % M))]
        return [(roll, 0, -1, 0)]

    return doc_stage(
        documents.select(F.col("doc_id").cast("long").alias("doc_id"),
                         "text"),
        ["text"], per_doc,
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("rolling_hash", T.LongType()),
                      T.StructField("n_sketch", T.IntegerType()),
                      T.StructField("sketch_min", T.LongType()),
                      T.StructField("sketch_sum", T.LongType())]))


def _fingerprint_rolling_catalyst(documents: DataFrame, k: int = 8,
                                  p: int = 16) -> DataFrame:
    """The original pure-Catalyst fingerprint_rolling (nested
    higher-order functions, O(n*k) interpreted per doc) — kept as the
    differential pin for the vectorized path above."""
    codes = F.transform(F.split(F.col("text"), ""),
                        lambda c: F.ascii(c).cast("long"))

    def _roll(cs):
        return F.aggregate(cs, F.lit(0).cast("long"),
                           lambda acc, x: (acc * ROLL_B + x) % ROLL_M)

    # guard short docs explicitly: Spark sequence(1, 0) DESCENDS instead
    # of being empty, which would hash two phantom windows on docs
    # shorter than k
    kgram_hashes = F.expr(
        f"CASE WHEN length(text) >= {k} THEN "
        f"transform(sequence(1, length(text) - {k} + 1), "
        f"i -> aggregate(transform(split(substring(text, i, {k}), ''), "
        f"c -> cast(ascii(c) as bigint)), cast(0 as bigint), "
        f"(acc, x) -> (acc * {ROLL_B} + x) % {ROLL_M})) "
        f"ELSE array() END")
    sampled = F.filter(kgram_hashes, lambda h: h % p == 0)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _roll(codes).alias("rolling_hash"),
        F.size(sampled).alias("n_sketch"),
        F.coalesce(F.array_min(sampled), F.lit(-1)).alias("sketch_min"),
        F.coalesce(
            F.aggregate(sampled, F.lit(0).cast("long"),
                        lambda acc, x: (acc + x) % ROLL_M),
            F.lit(0)).alias("sketch_sum"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    occurrence count of the most-frequent word bigram and the characters
    covered by duplicated trigrams, plus word/distinct-word counts — the
    integer building blocks of the top-n-gram-fraction and
    dup-n-gram-char-fraction rules.

    Scale shape: per-doc LOCAL computation — n-grams are sorted per doc
    and duplicate runs counted with a single O(n log n) aggregate, all
    inside whole-stage codegen. Zero exchanges, zero UDFs; at 100 TB
    this is a pure map stage (unlike an explode -> groupBy(doc, gram)
    formulation, which would shuffle the whole n-gram stream).

    r9: the aggregates are generated as SQL strings for F.expr — the
    Column-call assembly paid ~0.35 s of py4j round trips per query
    construction (the simhash finding); identical expressions."""
    d = with_words(documents)
    w = F.col("_words")

    def _grams_sql(n):
        g = "_words"
        for i in range(1, n):
            g = (f"zip_with({g}, slice(_words, {i + 1}, size(_words)), "
                 f"(a, b) -> concat_ws(' ', a, b))")
        return (f"CASE WHEN size(_words) >= {n} THEN "
                f"slice({g}, 1, greatest(size(_words) - {n - 1}, 0)) "
                f"ELSE cast(array() as array<string>) END")

    run_up = "CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END"
    max_run = (
        f"aggregate(array_sort({_grams_sql(2)}), "
        f"named_struct('prev', chr(0), 'run', 0, 'best', 0), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run_up}, "
        f"'best', greatest(acc.best, {run_up})), "
        f"acc -> acc.best)")
    flush = ("CASE WHEN acc.run >= 2 "
             "THEN acc.total + acc.run * length(acc.prev) "
             "ELSE acc.total END")
    dup_chars = (
        f"aggregate(array_sort({_grams_sql(3)}), "
        f"named_struct('prev', chr(0), 'run', 0, 'total', 0), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run_up}, "
        f"'total', CASE WHEN x = acc.prev THEN acc.total "
        f"ELSE {flush} END), "
        f"acc -> {flush})")

    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct_words"),
        F.expr(max_run).alias("top_bigram_count"),
        F.expr(dup_chars).alias("dup_trigram_chars"),
    )


def ngram_topk(documents: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Global top-k word n-grams by count (corpus statistics / vocabulary
    audits). Ties break lexicographically on the n-gram.

    Scale shape: explode n-grams -> hash-aggregate with map-side combine
    (one shuffle on the n-gram key) -> global top-k via TakeOrdered (no
    full sort materialization). At 100 TB the combine step collapses the
    heavy-tailed n-gram distribution before the shuffle."""
    d = with_words(documents)
    w = F.col("_words")

    def _grams(words):
        size = F.size(words)
        cols = [F.slice(words, i + 1, size) for i in range(1, n)]
        g = words
        for c in cols:
            g = F.zip_with(g, c, lambda a, b: F.concat_ws(" ", a, b))
        out = F.slice(g, 1, F.greatest(size - (n - 1), F.lit(0)))
        return F.when(size >= n, out).otherwise(F.array())

    grams = F.transform(F.array(w), _grams)[0]
    return (
        d.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_count"))
        .orderBy(F.col("n_count").desc(), F.col("ngram").asc())
        .limit(k)
    )
