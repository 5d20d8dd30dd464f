"""Structured Streaming variant of the extraction pipeline.

The reference's StreamParser (parser/StreamParser.java:58-233) is a
pull-based progressive parse of ONE input; at corpus scale the analog is a
stream of documents: ``readStream`` over the span table (file source or any
rate/kafka source with the same schema) → the same extract stage →
checkpointed sink. The per-batch extraction function is identical to the
batch path (the mapInArrow kernel is stream-safe — stateless per
document), and watermarking is unnecessary because extraction is per-row
(no event-time aggregation); a windowed error-rate monitor is included as
the stateful example.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schemas
from ..operators.pipeline import extract_stage


def read_span_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a span-table parquet directory."""
    return (
        spark.readStream
        .schema(schemas.DOC_IN)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming extraction: the batch extract stage over a stream (the
    file source's trigger size bounds batch skew)."""
    return extract_stage(docs_stream)


def run_to_parquet(docs_stream: DataFrame, out_path: str,
                   checkpoint_path: str):
    """Start the streaming extraction into a parquet sink (exactly-once per
    file-source offsets + checkpoint)."""
    extracted = extract_stream(docs_stream)
    return (
        extracted.writeStream
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def windowed_error_rates(extracted_stream: DataFrame,
                         ts_col: str = "ingest_ts",
                         watermark: str = "10 minutes",
                         window: str = "5 minutes") -> DataFrame:
    """Event-time windowed parse-error rates with a watermark for late
    data (the north-rule streaming-aggregation shape). The input stream
    must carry an event-time column (e.g. ingest timestamp)."""
    return (
        extracted_stream
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_parse_errors").alias("parse_errors"),
            F.sum("bytes_tokenized").alias("bytes"),
        )
    )


def running_totals_stateful(extracted_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per doc-id
    prefix (a stand-in for source/tenant), maintain running totals of docs
    and parse errors across triggers — the StreamParser-style progressive
    accounting the reference keeps per parse, lifted to corpus scope."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("group_key", T.StringType()),
        T.StructField("docs_total", T.LongType()),
        T.StructField("errors_total", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("docs", T.LongType()),
        T.StructField("errors", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        docs, errors = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            docs += len(pdf)
            errors += int(pdf["n_parse_errors"].sum())
        state.update((docs, errors))
        yield pd.DataFrame({
            "group_key": [key[0]],
            "docs_total": [docs],
            "errors_total": [errors],
        })

    keyed = extracted_stream.withColumn(
        "group_key", F.substring(F.col("doc_id"), 1, 1))
    return keyed.groupBy("group_key").applyInPandasWithState(
        update, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)


def sessionize_stateful(events_stream: DataFrame,
                        gap_seconds: int = 1800,
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of operators/events.sessionize: gap-based session
    windows as a custom stateful operator (applyInPandasWithState with
    EVENT-TIME TIMEOUT). Per user the state holds the open session
    (start/end/count/fixed-point value sum); an event within
    `gap_seconds` of the open session extends it, a later event closes
    it (emitting the finished session) and opens a new one, and the
    event-time timeout closes idle sessions once the WATERMARK passes
    session_end + gap — so sessions emit exactly once, in append mode,
    without waiting for the user's next event.

    Semantics match the batch operator: same gap rule, same
    deterministic (ts, event_id) order within a micro-batch, same
    all-integer output contract (epoch-second bounds, sum in 1e-5
    units). State per key is O(1) — the 100 TB shape (the batch window
    sort becomes a per-key running fold)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_e5", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_e5", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        closed = []
        if state.hasTimedOut:
            if state.exists:
                s, e, n, v = state.get
                closed.append((key[0], s, e, n, v))
                state.remove()
        else:
            cur = state.get if state.exists else None
            rows = pd.concat(list(pdfs), ignore_index=True) \
                if pdfs else pd.DataFrame()
            if len(rows):
                rows = rows.sort_values(["ts", "event_id"])
                for ts, val in zip(
                        rows["ts"].astype("int64") // 10**9,
                        rows["value"]):
                    e5 = int(round(val * 100000))
                    ts = int(ts)
                    if cur is None:
                        cur = (ts, ts, 1, e5)
                    elif ts - cur[1] <= gap_seconds:
                        cur = (cur[0], max(cur[1], ts),
                               cur[2] + 1, cur[3] + e5)
                    else:
                        closed.append((key[0], *cur))
                        cur = (ts, ts, 1, e5)
            if cur is not None:
                state.update(cur)
                # close via event time: when the watermark passes
                # session_end + gap no earlier event can extend it
                state.setTimeoutTimestamp((cur[1] + gap_seconds) * 1000)
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "session_start",
                                 "session_end", "n_events",
                                 "sum_value_e5"])

    keyed = (events_stream
             .withWatermark("ts", watermark)
             .select("user_id", "ts", "event_id", "value"))
    return keyed.groupBy("user_id").applyInPandasWithState(
        update, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=GroupStateTimeout.EventTimeTimeout)
