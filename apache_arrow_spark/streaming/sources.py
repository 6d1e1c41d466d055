"""Streaming sources.

The reference's stream IS the IPC wire format: a Schema message followed by
an unbounded sequence of RecordBatch messages (format/IPC.md:64-95,
MessageReader cpp/src/arrow/ipc/message.h:143).  The Spark-native rendering
of "batches keep arriving" is a file-drop directory consumed by Structured
Streaming: each landed ``.arrows`` shard is one (or more) RecordBatches, and
the micro-batch boundary plays the role of message framing.

``read_ipc_stream`` wires that up: ``binaryFile`` streaming source (built-in
file discovery/bookkeeping/exactly-once) -> Arrow-batched decode via
``mapInPandas``.  Each landed shard decodes through the shard codec of
``io.ipc`` (``_read_table`` over the file's bytes): either wire format, and
dictionary-encoded columns decoded to dense, the same accumulate-and-decode
the reference's DictionaryMemo performs (ipc/dictionary.h:42).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from apache_arrow_spark.io.ipc import _read_table
from apache_arrow_spark.session import apply_runtime_confs


def read_ipc_stream(spark: SparkSession, path: str, spark_schema) -> DataFrame:
    """Unbounded stream of Arrow record batches from a drop directory.

    ``spark_schema`` is the expected decoded schema (DDL string or
    StructType) — streaming sources need it declared up front, exactly like
    the reference requires the Schema message before any batch.
    """
    apply_runtime_confs(spark)
    raw = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length bigint, content binary")
        .option("pathGlobFilter", "*.arrow*")
        .load(path)
        .select("content")
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                yield _read_table(blob).to_pandas()

    return raw.mapInPandas(_decode, spark_schema)


def replay_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Replay a testdata parquet table as a stream (the harness's analog of
    an unbounded source; FIXTURES.md 'events replayed as a stream')."""
    apply_runtime_confs(spark)
    from apache_arrow_spark.session import normalize_engine_schema

    batch = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_engine_schema(
        spark.readStream.format("parquet")
        .schema(batch.schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )
