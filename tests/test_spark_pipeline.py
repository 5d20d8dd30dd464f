"""Spark-layer tests: corpus synth, extraction, select, clean, dedup, ANN,
multimodal plumbing, checkpoint/resume, streaming."""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _corpus(spark):
    from jsoup_spark.sources.corpus import synthesize
    return synthesize(_docs(spark))


def test_extract_stage_matches_local_engine(spark):
    """The distributed pipeline must equal a driver-side run of the same
    engine on the same reassembled HTML."""
    from jsoup_spark.extract.spans import extract_spans
    from jsoup_spark.operators.pipeline import extract_stage
    from jsoup_spark.parser.treebuilder import parse
    from jsoup_spark.sources.corpus import assemble_html

    corpus = _corpus(spark).limit(30).cache()
    got = {r["doc_id"]: r for r in extract_stage(corpus).collect()}
    local = assemble_html(corpus).collect()
    assert len(got) == len(local)
    for row in local:
        doc = parse(row["html"], row["base_uri"])
        expected = extract_spans(doc)
        actual = [(s["kind"], s["text"], s["media_ref"], s["order"])
                  for s in got[row["doc_id"]]["spans"]]
        # pipeline appends input media spans after the walk
        assert actual[:len(expected)] == expected
        assert all(k == "media" for k, *_ in actual[len(expected):])


def test_bucketing_spreads_giants(spark):
    from jsoup_spark.operators.pipeline import bucket_by_size
    from jsoup_spark.sources.corpus import assemble_html
    prepared = bucket_by_size(assemble_html(_corpus(spark)), partitions=8)
    per_part = (prepared.withColumn("pid", F.spark_partition_id())
                .groupBy("pid").agg(F.sum("html_len").alias("bytes"))
                .collect())
    sizes = [r["bytes"] for r in per_part]
    assert len(sizes) > 1
    # no partition should hold the entire corpus
    assert max(sizes) < sum(sizes)


def test_select_and_clean_stages(spark):
    from jsoup_spark.operators.pipeline import clean_stage, select_stage
    corpus = _corpus(spark).limit(20).cache()
    sel = select_stage(corpus, "ul > li:nth-child(2)").collect()
    docs = {str(r["doc_id"]): r for r in _docs(spark).limit(20).collect()}
    for r in sel:
        assert r["own_text"] == docs[r["doc_id"]]["lang"]
    cl = clean_stage(corpus, "simpleText").collect()
    for r in cl:
        assert "<script" not in r["clean_html"]
        assert r["num_discarded"] > 0


def test_metrics_lineage(spark):
    from jsoup_spark.operators.pipeline import extract_stage, partition_metrics
    ext = extract_stage(_corpus(spark).limit(50))
    m = partition_metrics(ext).agg(
        F.sum("docs").alias("docs"),
        F.sum("parse_errors").alias("errs")).collect()[0]
    assert m["docs"] == 50
    assert m["errs"] == 0


def test_checkpoint_resume(spark, tmp_path):
    from jsoup_spark.operators.pipeline import extract_stage
    from jsoup_spark.sources import sinks
    corpus = _corpus(spark).limit(40).cache()
    ckpt = str(tmp_path / "ckpt")
    # first run: half the corpus
    first = extract_stage(corpus.filter(F.col("doc_id").cast("long") < 20))
    sinks.checkpoint(first, ckpt)
    # resume: only the unprocessed docs remain
    todo = sinks.remaining(corpus, ckpt)
    ids = {r["doc_id"] for r in todo.select("doc_id").collect()}
    assert len(ids) == 20
    assert all(int(i) >= 20 for i in ids)
    sinks.checkpoint(extract_stage(todo), ckpt)
    done = spark.read.parquet(ckpt)
    assert done.select("doc_id").distinct().count() == 40


def test_dedup_ops(spark):
    from jsoup_spark.operators import dedup
    docs = _docs(spark)
    # exact dedup: all docs unique in the synthetic corpus
    groups = dedup.exact_dedup(docs)
    assert groups.count() == docs.count()
    sig = dedup.minhash_signatures(docs).collect()
    assert all(len(r["mh0"]) == 8 for r in sig)
    sh = dedup.simhash(docs).collect()
    assert all(0 <= r["simhash"] < (1 << 16) for r in sh)


def test_ngram_topk_and_contamination(spark):
    from jsoup_spark.operators import dedup, textstats
    docs = _docs(spark)
    top = textstats.ngram_topk(docs, n=2, k=5).collect()
    assert len(top) == 5
    counts = [r["n_count"] for r in top]
    assert counts == sorted(counts, reverse=True)
    # plan shape: one shuffle + TakeOrdered, no python
    plan = textstats.ngram_topk(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1 and "TakeOrdered" in plan
    cont = dedup.contamination(docs, n_eval=10).collect()
    assert all(r["doc_id"] >= 10 and r["n_overlap"] >= 1 for r in cont)
    # corpus side must reach the join via broadcast, not a shuffle
    cplan = dedup.contamination(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in cplan


def test_ann(spark):
    from jsoup_spark.operators import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    topk = similarity.brute_force_topk(emb, n_queries=2, k=5).collect()
    assert len(topk) == 10
    by_q = {}
    for r in topk:
        by_q.setdefault(r["q_id"], []).append(r["cosine"])
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)
    ivf = similarity.ivf_topk(emb, n_queries=2, k=5).collect()
    assert len(ivf) <= 10
    # IVF results are a subset of brute-force candidates scores-wise
    brute = {(r["q_id"], r["vec_id"]): r["cosine"] for r in topk}


def test_ivf_multiprobe_recall(spark):
    """Multi-probe (Hamming-1 flips) must recover >=0.9 recall@10 vs the
    brute-force baseline at sf0.1 (VERDICT r1 item 9)."""
    from jsoup_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    nq, k = 5, 10
    brute = similarity.brute_force_topk(emb, n_queries=nq, k=k).collect()
    truth = {}
    for r in brute:
        truth.setdefault(r["q_id"], set()).add(r["vec_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["q_id"], set()).add(r["vec_id"])
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    single = recall(similarity.ivf_topk(
        emb, n_queries=nq, k=k, nbits=6, probe_hamming=0).collect())
    # this synthetic corpus is near-random (top-10 cosine ~0.35, sign bits
    # barely correlated with neighbors), so >=0.9 recall needs OR-amplified
    # tables + multiprobe; on clustered real embeddings the same knobs
    # reach it at much smaller candidate fractions
    multi = recall(similarity.ivf_topk(
        emb, n_queries=nq, k=k, nbits=6, probe_hamming=1,
        n_tables=10).collect())
    assert multi >= 0.9, (single, multi)
    assert multi >= single

    # auto-scaled nbits: sane width and runnable end-to-end
    assert similarity.suggest_nbits(2000) == 4
    assert similarity.suggest_nbits(10 ** 9) == 18
    auto = similarity.ivf_topk(emb, n_queries=2, k=5, nbits=None,
                               probe_hamming=1)
    assert auto.count() <= 10


def test_streaming_extraction(spark, tmp_path):
    from jsoup_spark.streaming.stream import read_span_stream, run_to_parquet
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _corpus(spark).limit(25).write.parquet(src)
    q = run_to_parquet(read_span_stream(spark, src), out, ck)
    q.awaitTermination(120)
    result = spark.read.parquet(out)
    assert result.count() == 25
    assert result.agg(F.sum("n_parse_errors")).collect()[0][0] == 0


def test_stateful_streaming(spark, tmp_path):
    """applyInPandasWithState running totals across two triggers."""
    from pyspark.sql import functions as F
    from jsoup_spark.streaming.stream import (
        read_span_stream, extract_stream, running_totals_stateful)
    src = str(tmp_path / "src2")
    ck = str(tmp_path / "ck2")
    corpus = _corpus(spark).limit(30).cache()
    corpus.write.mode("overwrite").option("maxRecordsPerFile", 10).parquet(src)
    stream = read_span_stream(spark, src, max_files_per_trigger=2)
    totals = running_totals_stateful(extract_stream(stream))
    q = (totals.writeStream.format("memory").queryName("totals")
         .outputMode("update").option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql(
        "select group_key, max(docs_total) as docs from totals group by 1"
    ).collect()
    assert sum(r["docs"] for r in rows) == 30


def test_windowed_error_rates(spark, tmp_path):
    from pyspark.sql import functions as F
    from jsoup_spark.streaming.stream import (
        read_span_stream, extract_stream, windowed_error_rates)
    src = str(tmp_path / "src3")
    ck = str(tmp_path / "ck3")
    _corpus(spark).limit(20).write.parquet(src)
    stream = extract_stream(read_span_stream(spark, src)).withColumn(
        "ingest_ts", F.current_timestamp())
    agg = windowed_error_rates(stream)
    q = (agg.writeStream.format("memory").queryName("winrates")
         .outputMode("append").option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    # append mode emits only closed windows; just assert the query ran
    assert q.lastProgress is not None


def test_iceberg_checkpoint_roundtrip_and_resume(spark, tmp_path):
    """Iceberg-format sink (VERDICT r2 item 9): round-trip + resume via
    the writeTo (DataFrameWriterV2) path. Runs wherever the Iceberg Spark
    runtime jar is on the classpath; skipped in this container (no jar) —
    deployment recipe in README.md, "Iceberg tables"."""
    import pytest
    from jsoup_spark.sources import sinks
    if not sinks.iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on the Spark classpath")
    # a throwaway hadoop catalog under tmp_path; session-scoped catalogs
    # are registered lazily so setting conf here is sufficient
    spark.conf.set("spark.sql.catalog.ckpt_test",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ckpt_test.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ckpt_test.warehouse",
                   str(tmp_path / "warehouse"))
    tbl = "ckpt_test.db.spans"
    from jsoup_spark.operators.pipeline import extract_stage
    corpus = _corpus(spark)
    first = extract_stage(corpus.limit(10))
    sinks.checkpoint(first, tbl, format="iceberg")
    todo = sinks.remaining(corpus, tbl, format="iceberg")
    assert todo.count() == corpus.count() - 10
    sinks.checkpoint(extract_stage(todo), tbl, format="iceberg")
    got = spark.read.table(tbl)
    assert got.count() == corpus.count()
    assert sinks.remaining(corpus, tbl, format="iceberg").count() == 0


def test_embed_neardup_multiprobe(spark):
    """probe_hamming=1 is a superset of single-probe pairs and finds
    boundary-crossing near-dups (Hamming-1 buckets)."""
    from jsoup_spark.operators import dedup
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = {(r["vec_a"], r["vec_b"])
            for r in dedup.embedding_near_dup(emb, threshold=-1.0).collect()}
    multi = {(r["vec_a"], r["vec_b"])
             for r in dedup.embedding_near_dup(
                 emb, threshold=-1.0, probe_hamming=1).collect()}
    assert base <= multi
    assert len(multi) > len(base)


def test_embed_neardup_capped_multiprobe(spark):
    """Capped buckets plus multi-probe, the combination no oracle covers:
    vectors in buckets over max_bucket probe only through their bucket's
    representative (min vec_id), the probing happens after the cap, and
    the other side keeps every member — checked against a pure-Python
    run of that rule over the same 8-bit sign buckets."""
    import pyarrow.parquet as pq
    from collections import defaultdict
    from jsoup_spark.operators import dedup
    path = os.path.join(os.path.dirname(SF), "sf0.01", "embeddings.parquet")
    tbl = pq.read_table(path).to_pydict()
    bucket = {i: "".join("1" if x >= 0 else "0" for x in e[:8])
              for i, e in zip(tbl["vec_id"], tbl["embedding"])}
    members = defaultdict(list)
    for i, k in bucket.items():
        members[k].append(i)
    want = set()
    for i, k in bucket.items():
        if len(members[k]) > 3 and i != min(members[k]):
            continue
        flips = [k[:j] + ("1" if k[j] == "0" else "0") + k[j + 1:]
                 for j in range(8)]
        want |= {(i, m) for p in [k, *flips] for m in members[p] if i < m}
    emb = spark.read.parquet(path)
    got = {(r["vec_a"], r["vec_b"]) for r in dedup.embedding_near_dup(
        emb, threshold=-1.0, probe_hamming=1, max_bucket=3).collect()}
    assert got == want and len(got) == 3393


def test_embed_neardup_bucket_scaling(spark):
    """VERDICT r2 item 1: bucket count must grow with corpus size.

    suggest_nbits is the shared quantizer-width policy (similarity.py);
    nbits=None wires it into embedding_near_dup exactly as ivf_topk."""
    from jsoup_spark.operators import dedup
    from jsoup_spark.operators.similarity import suggest_nbits
    # policy: monotone bucket growth, ~4096 vectors/bucket, clamped
    assert suggest_nbits(1_000) == 4
    assert suggest_nbits(1_000_000) == 8
    assert suggest_nbits(10**9) == 18          # ~2^18 buckets at 1B vectors
    assert suggest_nbits(10**12) == 20         # clamp
    # wiring: nbits=None on this corpus (500 vecs -> 4 bits) must produce
    # exactly the nbits=4 output
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    auto = {tuple(r) for r in dedup.embedding_near_dup(
        emb, threshold=-1.0, nbits=None).collect()}
    fixed = {tuple(r) for r in dedup.embedding_near_dup(
        emb, threshold=-1.0, nbits=4).collect()}
    assert auto == fixed and len(auto) > 0


def test_embed_neardup_scaled_recall(spark):
    """VERDICT r2 item 1 done-gate: recall vs brute-force pairs at sf0.1
    with the corpus-scaled bucket width + OR-amplified tables.

    Truth = all pairs with cosine >= 0.4 (920 pairs over the 2000 sf0.1
    vectors, computed exactly with numpy float64). The LSH candidates with
    nbits=None (->4), n_tables=8 disjoint dimension blocks, Hamming-1
    multiprobe must recover >= 0.99 of them (numpy simulation: 0.999)."""
    import numpy as np
    import pyarrow.parquet as pq
    from jsoup_spark.operators import dedup
    tbl = pq.read_table("/root/testdata/sf0.1/embeddings.parquet")
    vec_ids = tbl.column("vec_id").to_numpy()
    E = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = En @ En.T
    np.fill_diagonal(S, -2.0)
    ai, bi = np.nonzero(S >= 0.4)
    truth = {(int(min(vec_ids[a], vec_ids[b])), int(max(vec_ids[a], vec_ids[b])))
             for a, b in zip(ai, bi)}
    assert len(truth) > 500
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    got = {(r["vec_a"], r["vec_b"]) for r in dedup.embedding_near_dup(
        emb, threshold=0.4, probe_hamming=1, nbits=None, n_tables=8
    ).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, recall
    # precision is exact by construction (candidates are re-scored with
    # the true cosine before thresholding)
    assert got <= truth


def test_token_count_bpe(spark):
    """BPE_SPLIT pre-tokenizer semantics on contraction/unicode/digit
    edge cases (Java regex side; the RE2 parity is the driver oracle)."""
    from pyspark.sql import functions as F

    from jsoup_spark.operators.textstats import BPE_SPLIT, token_count_bpe
    cases = [
        ("Hello world, it's 2024!", 7),
        ("don't stop", 3),
        ("café 中文", 2),
        ("a1b2", 4),
        ("", 0),
        ("   ", 1),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, t string")
    got = {r.i: r.n for r in df.select(
        "i", F.regexp_count("t", F.lit(BPE_SPLIT)).alias("n")).collect()}
    for i, (t, n) in enumerate(cases):
        assert got[i] == n, (t, got[i])
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = token_count_bpe(docs).limit(5).collect()
    assert all(r.n_bpe_tokens >= r.n_ws_tokens for r in out)


def test_fingerprint_rolling(spark):
    """Rabin-Karp rolling hash: order-sensitive (unlike bag hashes) and
    edit-local sketch sampling; empty/short docs yield empty sketches
    (the Spark sequence(1,0)-descends pitfall is guarded)."""
    from jsoup_spark.operators.textstats import fingerprint_rolling
    df = spark.createDataFrame(
        [(1, "ab"), (2, "ba"), (3, ""), (4, "1234567"),
         (5, "hello world this is a test of rolling hashes")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in fingerprint_rolling(df).collect()}
    assert rows[1].rolling_hash != rows[2].rolling_hash  # order-sensitive
    assert rows[3].rolling_hash == 0 and rows[3].n_sketch == 0
    assert rows[3].sketch_min == -1
    assert rows[4].n_sketch == 0                          # shorter than k
    assert rows[5].n_sketch >= 1


def test_select_stage_empty_batches(spark):
    """Regression (VERDICT r5 #1): a selective selector over more
    partitions than matching docs produces whole batches with ZERO
    matches; the stage must deliver them as typed empty results, not
    crash in the pandas->Arrow map conversion. Reference behavior: an
    empty Elements is a normal result (select/Selector.java:126-142)."""
    from jsoup_spark.operators.pipeline import select_stage

    corpus = _corpus(spark).limit(8).repartition(32)
    # matches ~nothing: no doc carries this id
    rows = select_stage(corpus, "#definitely-not-present").collect()
    assert rows == []
    # matches exactly one doc out of 8, spread over 32 partitions
    one = _corpus(spark).limit(1).select("doc_id").collect()[0][0]
    tagged = _corpus(spark).limit(8).repartition(32)
    got = select_stage(tagged, "html").where(
        F.col("doc_id") == one).collect()
    assert len(got) == 1 and got[0]["tag"] == "html"
    # attrs map column survives the Arrow seam with values intact
    any_attrs = select_stage(_corpus(spark).limit(5), "[lang]").collect()
    assert all(isinstance(r["attrs"], dict) for r in any_attrs)


# Small inputs modelled on the __spark_entry__ queries. Some docs have no
# match (no <li>, no <title>, an empty fragment), so spread over more
# partitions than rows they yield zero-row and zero-match batches.
_PAGES = [
    "<html><head><title>Doc 1</title></head><body><div id=main "
    "class='en article'><p>one two</p><img src='a.png' alt='fig'><ul>"
    "<li>src</li><li>en</li></ul><script>track(1)</script></div></body>"
    "</html>",
    "<p>no title, <b>no list</b>",
    "<html><head><title>Doc 3</title><meta property=og:title "
    "content=T3></head><body><ul><li>only</ul></body></html>",
]
_SPAN_ROWS = [
    (str(i), [("html", h[:20], "", 0), ("media", "m", f"http://i/{i}", 1),
              ("html", h[20:], "", 2)])
    for i, h in enumerate(_PAGES, 1)]
_XML = ['<doc id="1"><Item k="a">en</Item><note><![CDATA[x & y]]></note>'
        '</doc>', "<doc/>", '<doc><item>b</item><?pi skip?></doc>']


def _spread(spark, rows, schema):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2 * len(rows) + 2), schema)


def _spans(spark):
    return _spread(spark, _SPAN_ROWS, "doc_id string, spans array<struct<"
                   "kind:string,text:string,media_ref:string,offset:int>>")


def _pages(spark):
    # a null html reads as an empty page
    return _spread(spark, list(enumerate(_PAGES + [None], 1)),
                   "doc_id long, html string")


def _xml(spark):
    return _spread(spark, [(str(i), x) for i, x in enumerate(_XML, 1)],
                   "doc_id string, xml string")


def _payloads(spark, rows, key="doc_id", key_type="long"):
    return _spread(spark, [(k, bytearray(b)) for k, b in rows],
                   f"{key} {key_type}, payload binary")


def _binary_cases():
    """The binary-payload stages over small encoder-built inputs, each
    with one malformed or empty payload."""
    from pyspark.sql import types as T
    from jsoup_spark.operators import codecs, multimodal as MM
    from jsoup_spark.sources import archive, officedoc, pdf, warc
    warc_rec = ({"WARC-Type": "response", "WARC-Target-URI": "http://a/",
                 "Content-Type": "application/http;msgtype=response"},
                warc.http_response(b"<p>hi</p>"))
    img = MM._hash_image("7")
    media_schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", MM.MEDIA_META, False)])

    def media(s):
        return _spread(s, [
            (str(i), bytearray(b), ("image", "image/x", len(b), None))
            for i, b in enumerate([codecs.encode_png(img),
                                   codecs.encode_bmp(img), b"junk"], 1)],
            media_schema)

    def flat(*fields):
        return T.StructType([T.StructField(n, t) for n, t in fields])

    extracted = flat(("doc_id", T.LongType()), ("title", T.StringType()),
                     ("author", T.StringType()),
                     ("n_pages", T.IntegerType()),
                     ("text", T.StringType()), ("ok", T.BooleanType()))
    members = flat(("doc_id", T.LongType()), ("member", T.StringType()),
                   ("member_idx", T.IntegerType()), ("size", T.LongType()),
                   ("text", T.StringType()), ("ok", T.BooleanType()))
    files = [("a.txt", b"a"), ("b.txt", b"b")]
    return {
        "pdf": (lambda s: pdf.pdf_stage(_payloads(s, [
            (1, pdf.build_pdf(["one"], title="T")),
            (2, pdf.build_pdf(["two"], xref_kind="stream")),
            (3, b"%PDF-1.7 not really a pdf")])), extracted, 3),
        "warc": (lambda s: warc.warc_stage(_payloads(s, [
            ("a", warc.build_warc([warc_rec, warc_rec])),
            ("b", warc.build_warc([warc_rec], gzip_members=True)),
            ("c", b"")], "archive_id", "string")), warc.WARC_ROWS, 3),
        "office": (lambda s: officedoc.office_stage(_payloads(s, [
            ("1", officedoc.build_docx(["p one", "p two"])),
            ("2", officedoc.build_epub([("c.xhtml", "<p>hi</p>")])),
            ("3", b"PK\x03\x04corrupt")], key_type="string")),
            officedoc.OFFICE_ROWS, 3),
        "archive": (lambda s: archive.archive_stage(_payloads(s, [
            (1, archive.build_tar(files, compress="gz")),
            (2, archive.build_zip(files[:1])),
            (3, b"garbage")])), members, 4),
        "media_synth": (lambda s: MM.synthesize_media(_spread(
            s, [(i,) for i in (5, 6, 7)], "doc_id long")), media_schema, 3),
        "media_decode": (lambda s: MM.decode_stage(media(s)), MM.DECODED, 3),
        # the undecodable payload yields no resized row
        "media_resize": (lambda s: MM.resize_stage(media(s), max_side=8),
                         MM.RESIZED, 2),
    }


def _stage_cases():
    from jsoup_spark import schemas
    from jsoup_spark.extract import maincontent, markdown, metadata
    from jsoup_spark.operators import pipeline as P
    frags = [("1", "<td>cell <b>1</b><td>en"), ("2", ""), ("3", "<td>x")]
    return {
        # name: (stage over small input, declared schema, output rows)
        "extract": (lambda s: P.extract_stage(_spans(s)),
                    schemas.EXTRACT_OUT, 3),
        "select": (lambda s: P.select_stage(_spans(s), "ul > li"),
                   schemas.SELECT_OUT, 3),
        "positions": (lambda s: P.positions_stage(_spans(s), "title"),
                      schemas.POSITIONS_OUT, 2),
        "fragment": (lambda s: P.fragment_stage(_spread(
            s, frags, "doc_id string, fragment_html string"), context="tr"),
            schemas.FRAGMENT_OUT, 3),
        "xml": (lambda s: P.xml_stage(_xml(s)), schemas.XML_OUT, 6),
        "clean": (lambda s: P.clean_stage(_spans(s), "basic"),
                  schemas.CLEAN_OUT, 3),
        "css_path": (lambda s: P.css_path_stage(_spans(s), "ul li"),
                     schemas.CSS_PATH_OUT, 3),
        "xpath_xml": (lambda s: P.xpath_xml_stage(_xml(s), "//Item | //note"),
                      schemas.XPATH_XML_OUT, 2),
        "main_content": (lambda s: maincontent.main_content_stage(
            _pages(s)), schemas.MAIN_CONTENT_OUT, 4),
        "metadata": (lambda s: metadata.metadata_stage(_pages(s)),
                     schemas.METADATA_OUT, 4),
        "markdown": (lambda s: markdown.markdown_stage(_pages(s)),
                     schemas.MARKDOWN_OUT, 4),
        **_binary_cases(),
    }


@pytest.mark.parametrize("name", sorted(_stage_cases()))
def test_parse_stage_kernel_plan_and_sparse_batches(spark, name):
    """Every map-only per-document stage (parse-gated or binary-payload)
    runs as exactly one MapInArrow with no pandas, row-at-a-time Python
    or shuffle; over more partitions than rows (zero-row and zero-match
    batches) it returns its declared schema and the expected row
    count."""
    build, schema, n_rows = _stage_cases()[name]
    df = build(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    assert df.schema == schema
    assert len(df.collect()) == n_rows


def test_media_stages_undecodable_payload(spark):
    """A payload no native decoder reads gets a decode_stage row with
    null geometry and feature and no resize_stage row; a decodable one
    keeps its real geometry and 8 features."""
    from pyspark.sql import types as T
    from jsoup_spark.operators import codecs, multimodal as MM
    img = MM._hash_image("1")
    media = spark.createDataFrame(
        [(d, bytearray(b), ("image", "image/x", len(b), None))
         for d, b in [("png", codecs.encode_png(img)), ("junk", b"junk")]],
        T.StructType([T.StructField("doc_id", T.StringType(), False),
                      T.StructField("payload", T.BinaryType(), False),
                      T.StructField("meta", MM.MEDIA_META, False)]))
    dec = {r.doc_id: r for r in MM.decode_stage(media).collect()}
    assert set(dec) == {"png", "junk"}
    junk = dec["junk"]
    assert (junk.width, junk.height, junk.n_frames, junk.feature) \
        == (None, None, None, None)
    png = dec["png"]
    assert (png.width, png.height, png.n_frames) \
        == (img.shape[1], img.shape[0], 1)
    assert len(png.feature) == 8
    resized = MM.resize_stage(media, max_side=8).collect()
    assert [r.doc_id for r in resized] == ["png"]


def test_hash_stages_run_on_the_kernel(spark):
    """The dedup and fingerprint Arrow stages go through the same kernel:
    one MapInArrow per per-document stage, no pandas, and only the
    Exchanges their aggregation or joins need."""
    from jsoup_spark.operators import dedup, textstats
    docs = _spread(spark, [(1, "a b c d"), (2, "a b c d"), (3, "x y"),
                           (4, None)], "doc_id long, text string")
    for fn, n_arrow, n_exchange, n_rows in [
            (dedup.minhash_lsh_buckets, 1, 1, 2),
            (dedup._band_keys_arrow, 1, 0, 4),
            (dedup._shingle_arrays_arrow, 1, 0, 4),
            # band keys and shingle arrays, each read on both join sides
            (dedup.ngram_jaccard_pairs, 4, 6, 1),
            (textstats.fingerprint_rolling, 1, 0, 4)]:
        df = fn(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == n_arrow, fn.__name__
        assert "MapInPandas" not in plan, fn.__name__
        assert plan.count("Exchange") == n_exchange, fn.__name__
        assert len(df.collect()) == n_rows, fn.__name__


@pytest.mark.parametrize("name", [
    "ingest_brotli", "ingest_transport", "office_extract", "pdf_extract",
    "pdf_media", "main_content", "metadata_extract", "feed_extract",
    "sitemap_extract", "robots_check", "archive_extract", "html_to_md",
    "warc_extract"])
def test_query_input_builders_run_on_the_kernel(spark, name):
    """The queries that build their stage input in Python (payloads,
    pages, feeds) build it in the same Arrow kernel as the stages: no
    pandas anywhere in the plan."""
    import __spark_entry__ as e
    plan = e.queries()[name](spark, SF)._jdf \
        .queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan


def test_entry_queries_all_callables():
    """Regression (VERDICT r5 #3): every queries() value is a callable
    query function — oracle SQL strings live only in oracle_sql()."""
    import __spark_entry__ as e
    q, o = e.queries(), e.oracle_sql()
    bad = {k: type(v).__name__ for k, v in q.items() if not callable(v)}
    assert not bad, bad
    assert all(isinstance(v, str) for v in o.values())


def test_events_fixed_point_sum(spark):
    """Order-independent value sums (VERDICT r5 #2): the events rollups
    aggregate integer 1e-5 units, so any partitioning yields bit-identical
    sum_value. Probe: same input under 1 and 32 partitions."""
    from jsoup_spark.operators import events as ev
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for fn in (ev.windowed_counts, ev.sessionize):
        a = sorted(map(tuple, fn(base.coalesce(1)).collect()))
        b = sorted(map(tuple, fn(base.repartition(32)).collect()))
        assert a == b, fn.__name__


def test_spark_worker_shim_zip_invalidation(tmp_path):
    """The worker shim's zipimport patch must keep real invalidation
    semantics: an UNCHANGED archive skips the directory re-parse, a
    MODIFIED archive is re-read (the CPython >=3.12 behavior the shim
    backports). Run in a subprocess so the global patch stays contained."""
    import subprocess
    import sys
    script = r'''
import os, sys, time, zipfile, zipimport
sys.path.insert(0, %(repo)r)
import jsoup_spark.spark_worker  # applies the patch; also re-exports main
assert callable(jsoup_spark.spark_worker.main)
zp = %(zip)r
with zipfile.ZipFile(zp, "w") as z:
    z.writestr("moda.py", "x = 1\n")
imp = zipimport.zipimporter(zp)
assert imp.find_spec("moda") is not None
assert imp.find_spec("modb") is None
# unchanged archive: invalidate is a cached no-op
imp.invalidate_caches()
imp.invalidate_caches()
assert imp.find_spec("moda") is not None
# modified archive (bump mtime too): must be re-read
time.sleep(0.01)
with zipfile.ZipFile(zp, "a") as z:
    z.writestr("modb.py", "y = 2\n")
os.utime(zp)
imp.invalidate_caches()
assert imp.find_spec("modb") is not None, "modified zip not re-read"
print("SHIM-OK")
''' % {"repo": "/root/repo", "zip": str(tmp_path / "t.zip")}
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr
    assert "SHIM-OK" in out.stdout


def test_fingerprint_rolling_matches_catalyst_pin(spark):
    # r9: fingerprint_rolling moved to a vectorized Arrow stage; the old
    # pure-Catalyst formulation is the differential pin — outputs and
    # schema must be bit-identical (incl. empty docs, docs shorter than
    # k, unicode and astral code points).
    import random
    from jsoup_spark.operators.textstats import (
        fingerprint_rolling, _fingerprint_rolling_catalyst)
    random.seed(11)
    texts = ["", "a", "short", "exactly8", "x" * 7, "x" * 8,
             "hello world this is a longer text with spaces",
             "é unicode ü text ß", "x\U0001F389y astral plane here",
             "\t\n mixed whitespace  doc "]
    texts += ["".join(random.choice("abcdefgh XYZ0123")
                      for _ in range(random.randint(0, 120)))
              for _ in range(40)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    new = fingerprint_rolling(df)
    old = _fingerprint_rolling_catalyst(df)
    # names+types must match; mapInArrow relaxes nullability, which the
    # driver's DuckDB comparison does not see
    assert new.schema.simpleString() == old.schema.simpleString()
    assert sorted(map(tuple, new.collect())) == \
        sorted(map(tuple, old.collect()))


def test_lsh_buckets_matches_catalyst_bands(spark):
    # r9: minhash_lsh_buckets computes band keys in an Arrow stage
    # (hashlib md5); pin it band-for-band against the Catalyst
    # minhash_signatures formulation it replaced.
    from pyspark.sql import functions as F
    from jsoup_spark.operators.dedup import (
        minhash_lsh_buckets, minhash_signatures)
    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "one two", "", "single",
             "a b c d e f g", "a b c d e f g",  # exact dupes bucket
             "é ü ß unicode words here okay"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    sig = minhash_signatures(df)
    bands = sig.select(
        "doc_id",
        F.explode(F.array(
            F.struct(F.lit(0).alias("band"),
                     F.md5(F.concat_ws("|", "mh0", "mh1"))
                     .alias("band_key")),
            F.struct(F.lit(1).alias("band"),
                     F.md5(F.concat_ws("|", "mh2", "mh3"))
                     .alias("band_key")),
        )).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"),
             F.col("b.band_key").alias("band_key"))
    expected = (bands.groupBy("band", "band_key")
                .agg(F.count("*").alias("n_docs"),
                     F.min("doc_id").alias("min_doc_id"))
                .filter(F.col("n_docs") > 1))
    got = minhash_lsh_buckets(df)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, expected.collect()))


def test_similarity_norm_precompute_exact(spark):
    # r9: cosine denominators come from per-vector precomputed norms;
    # the fold is identical so rounded cosines must not move.
    from jsoup_spark.operators import similarity
    import random
    random.seed(3)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(df, n_queries=3, k=5).collect()
    assert len(out) == 15
    # cross-check one cosine against a driver-side float64 computation
    import math
    emb = {i: [float(x) for x in v] for i, v in
           ((r.vec_id, r.embedding) for r in df.collect())}
    r0 = sorted(out, key=lambda r: (r.q_id, r.rank))[0]
    a, b = emb[r0.q_id], emb[r0.vec_id]
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    assert abs(round(dot / (na * nb), 6) - r0.cosine) <= 1e-6


def test_arrow_stages_null_text_parity(spark):
    # r9 review fix: the Arrow rewrites must reproduce the Catalyst
    # NULL-text semantics instead of crashing the worker — NULL docs
    # band under md5('') (concat_ws skips NULL minhash windows), shingle
    # to [NULL], and null-propagate rolling_hash.
    from pyspark.sql import functions as F
    from jsoup_spark.operators.dedup import (
        minhash_lsh_buckets, ngram_jaccard_pairs)
    from jsoup_spark.operators.textstats import (
        fingerprint_rolling, _fingerprint_rolling_catalyst)
    df = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "a b c d"), (4, None)],
        "doc_id long, text string")
    lsh = sorted(map(tuple, minhash_lsh_buckets(df).collect()))
    # both bands: the two NULL docs bucket under md5('')
    assert (0, "d41d8cd98f00b204e9800998ecf8427e", 2, 1) in lsh
    assert (1, "d41d8cd98f00b204e9800998ecf8427e", 2, 1) in lsh
    pairs = sorted(map(tuple, ngram_jaccard_pairs(df).collect()))
    assert (1, 4, 1.0) in pairs and (2, 3, 1.0) in pairs
    capped = sorted(map(tuple,
                        ngram_jaccard_pairs(df, max_bucket=1).collect()))
    assert (1, 4, 1.0) in capped
    got = sorted(map(tuple, fingerprint_rolling(df).collect()))
    exp = sorted(map(tuple, _fingerprint_rolling_catalyst(df).collect()))
    assert got == exp
    assert got[0][1] is None  # NULL rolling_hash null-propagates


def test_attr_markers_survive_copies():
    # r9 review fix: clones/merges/cleaner copies must keep the
    # preserved-case marker classes, or the plain-dict attr() fast path
    # misses keys the pre-r9 linear scan found.
    from jsoup_spark.parser.treebuilder import parse
    from jsoup_spark.parser.xmlbuilder import parse_xml
    # duplicate <body> merge with a RAW mixed-case attribute
    d = parse("<body><div></div><body CLASS=c NEW=x>")
    body = d.body
    assert body.attr("class") == "c" and body.has_attr("Class")
    # shallow clone of a preserved-case XML element
    x = parse_xml('<svg viewBox="0 0 1 1"/>')
    el = x.child_elements()[0]
    c = el.shallow_clone()
    assert c.attr("viewbox") == "0 0 1 1" and c.has_attr("VIEWBOX")
    # cleaner copy with a mixed-case safelisted attribute
    from jsoup_spark.clean.cleaner import clean_document
    from jsoup_spark.clean.safelist import relaxed
    sl = relaxed().add_attributes("div", "dataX")
    d = parse('<div dataX="v">t</div>')
    out = clean_document(d, sl).doc
    div = out.body.child_elements()[0]
    assert div.attr("datax") == "v"
