"""Checkpointed table sinks with partition-granular resume.

The north rule calls for Iceberg tables. ``format='iceberg'`` targets a
catalog table via the DataFrameWriterV2 API (``df.writeTo(...)``) and
resumes from snapshot reads; it activates when the Iceberg runtime jar is
on the Spark classpath (``iceberg_available``). This container has no
Iceberg jar, so the default parquet-directory backend keeps the identical
interface locally (the pytest for the Iceberg path is skipif-gated and
runs wherever the jar exists — deployment recipe in README.md,
"Iceberg tables").

Resume contract: a killed job re-runs with ``remaining(input, sink)`` —
an anti-join of input doc_ids against the already-checkpointed output —
so only unfinished documents are re-processed (SURVEY §4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def checkpoint(df: DataFrame, target: str, mode: str = "append",
               format: str = "parquet") -> None:
    """Write a stage output to the checkpoint table.

    format='parquet': ``target`` is a directory path.
    format='iceberg': ``target`` is a catalog table identifier
    (``cat.db.tbl``); appends to the table, creating it on first write
    (snapshot isolation makes concurrent partition retries safe — the
    per-partition lineage rows in ``write_metrics`` identify replays).
    """
    if format == "iceberg":
        w = df.writeTo(target)
        if mode == "overwrite":
            w.using("iceberg").createOrReplace()
            return
        try:
            w.append()
        except Exception:
            # first write: table does not exist yet
            w.using("iceberg").create()
        return
    df.write.mode(mode).parquet(target)


def write_metrics(metrics: DataFrame, target: str,
                  format: str = "parquet") -> None:
    """Append per-partition lineage/counter rows to the _metrics table."""
    stamped = metrics.withColumn("_ts", F.current_timestamp())
    checkpoint(stamped, target, mode="append", format=format)


def completed_ids(spark: SparkSession, target: str,
                  format: str = "parquet") -> DataFrame | None:
    """doc_ids already present in a checkpoint, or None if no checkpoint."""
    if format == "iceberg":
        try:
            return spark.read.table(target).select("doc_id").distinct()
        except Exception:
            return None
    if not _exists(target):
        return None
    try:
        return spark.read.parquet(target).select("doc_id").distinct()
    except Exception:
        return None


def remaining(input_df: DataFrame, checkpoint_target: str,
              format: str = "parquet") -> DataFrame:
    """Input rows not yet in the checkpoint (anti-join on doc_id)."""
    done = completed_ids(input_df.sparkSession, checkpoint_target, format)
    if done is None:
        return input_df
    return input_df.join(done, "doc_id", "left_anti")


def _exists(path: str) -> bool:
    if "://" not in path or path.startswith("file:"):
        local = path.replace("file:", "")
        return os.path.exists(local)
    return True  # remote paths: let the reader decide
