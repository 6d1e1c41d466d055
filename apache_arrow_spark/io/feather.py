"""Feather read/write (SURVEY §2.1; python/pyarrow/feather.py:88,114,
cpp/src/arrow/ipc/feather.h:53,101).

Feather v1 is the reference's pre-IPC single-file columnar frame format
(cpp/src/arrow/ipc/feather.fbs:73-133 — flatbuffer footer, one block per
column); v2 *is* the Arrow IPC file format.  We write v2 by default and
v1 on request (``version=1``) for byte-parity with 2017-era feather
files; both read transparently.  Single-file by definition -> driver-side
endpoints for interop; the scale path for columnar files is parquet or
the IPC shard directory (io.ipc).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_feather(
    df: DataFrame, dest: str, compression: str | None = None, version: int = 2
) -> None:
    """feather.write_feather parity (feather.py:88).  ``version=1`` emits
    the original feather wire format (feather.fbs footer) — the format the
    2017 reference wrote; compression is a v2-only feature."""
    import pyarrow.feather as feather

    if version == 1:
        if compression not in (None, "uncompressed"):
            raise ValueError("feather v1 does not support compression")
        # v1 blocks are single-chunk per column (feather.fbs primitive
        # arrays); Spark egress yields one chunk per partition -> combine
        feather.write_feather(df.toArrow().combine_chunks(), dest, version=1)
        return
    feather.write_feather(df.toArrow(), dest, compression=compression, version=version)


def read_feather(
    spark: SparkSession, source: str, columns: Sequence[str] | None = None
) -> DataFrame:
    """feather.read_feather parity (feather.py:114) with column selection."""
    import pyarrow.feather as feather

    from apache_arrow_spark.io.pandas_bridge import _ingest

    table = feather.read_table(source, columns=list(columns) if columns else None)
    return _ingest(spark, table)
