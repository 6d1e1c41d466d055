"""Arrow IPC stream/file source + sink (SURVEY §2.1/§2.9).

The reference wire formats (format/IPC.md:22-95):
- *stream* (``.arrows``): Schema message, then Dictionary/RecordBatch
  messages, length-prefixed flatbuffers (writer.h:89 / reader.h:54).
- *file* (``.arrow``): stream + magic + footer block index for random
  access by batch (writer.h:127, reader.cc:563, format/File.fbs:26-40).

Spark-first design: a directory of IPC shards is the distributed dataset
(same model as parquet part-files).  The sink runs ``mapInArrow`` so every
executor writes its partition as one shard — Arrow batches never pass
through Python row objects, and nothing funnels through the driver.  The
source distributes the *file list* and each task reads whole shards with
pyarrow (zero-copy mmap), again via ``mapInArrow``.

One private shard codec in this module knows the on-disk layout: the
lister (``_shard_files``), the schema-only sniff (``_read_schema``), the
dense whole-shard decode (``_read_table``, from a path or a buffer) and
the streaming shard writer (``_write_shard``).  The ``aas_ipc`` connector
(io/datasource.py) and ``streaming.read_ipc_stream`` read and write
through it too; the module pickles by value so that Spark's helper
processes run it without importing the package.

Single-file mode exists for interop with external tools expecting one
``.arrows`` file — driver-side by necessity, documented small-data-only.

Shared-filesystem contract: like parquet part-files, ``path`` must be
storage every node sees (NFS/HDFS/S3-fuse or local disk on local[N]).
The sink writes shards from executors and the source lists them with a
driver-local glob, so a multi-node cluster with node-local paths would
write shards the driver cannot list and list shards other nodes cannot
open.  (A Hadoop-FS-API listing would relax the driver-side glob but not
the executor-side open — shared storage is the real requirement, same as
every distributed file sink.)
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import glob as _glob
import os
import sys
import uuid

import pyarrow as pa
import pyarrow.ipc as pa_ipc
from pyspark.sql import DataFrame, SparkSession


def _pickle_by_value(module) -> None:
    """Embed ``module``'s code in task and data-source pickles.  Spark's
    Python helper processes (notably the streaming source runner) do not
    see ``addPyFile`` shipments, so a by-REFERENCE pickle of a codec call
    dies there with ModuleNotFoundError whenever the driver's cwd is not
    the repo root; by value, the pickle is self-contained."""
    from pyspark import cloudpickle

    try:
        cloudpickle.register_pickle_by_value(module)
    except AttributeError:
        pass  # older cloudpickle: by-reference (package must be importable)


_pickle_by_value(sys.modules[__name__])


def _shard_files(path: str) -> list[str]:
    """Sorted shard paths of a directory (its ``*.arrow`` and ``*.arrows``
    files), of a glob, or of one existing file.  Raises FileNotFoundError
    when there is none — the streaming connector reads that as "nothing
    landed yet"."""
    if os.path.isdir(path):
        files = sorted(
            _glob.glob(os.path.join(path, "*.arrow"))
            + _glob.glob(os.path.join(path, "*.arrows"))
        )
    elif any(c in path for c in "*?["):
        files = sorted(_glob.glob(path))
    else:
        files = [path] if os.path.isfile(path) else []
    if not files:
        raise FileNotFoundError(f"no IPC files under {path}")
    return files


def _dense_schema(schema: pa.Schema) -> pa.Schema:
    """Dictionary fields decode to their value type (the Spark
    representation; SURVEY §1.2 DICTIONARY)."""
    return pa.schema(
        [
            f.with_type(f.type.value_type) if pa.types.is_dictionary(f.type) else f
            for f in schema
        ],
        metadata=schema.metadata,
    )


def _open_shard(src):
    """A reader over an open, seekable ``src`` in whichever wire format
    it holds: file, else stream."""
    try:
        return pa_ipc.open_file(src)
    except pa.ArrowInvalid:
        src.seek(0)
        return pa_ipc.open_stream(src)


def _read_schema(shard: str) -> pa.Schema:
    """Dense schema of one shard from its IPC metadata alone — no record
    batch is read."""
    with pa.memory_map(shard, "rb") as src:
        return _dense_schema(_open_shard(src).schema)


def _read_table(source) -> pa.Table:
    """One whole shard, given as a path or as a bytes-like buffer, as a
    dense table.  Paths are memory-mapped, so file-format shards read
    zero-copy."""
    is_path = isinstance(source, str)
    with pa.memory_map(source, "rb") if is_path else pa.BufferReader(source) as src:
        table = _open_shard(src).read_all()
    dense = _dense_schema(table.schema)
    return table if dense == table.schema else table.cast(dense)


def _write_shard(
    out: str,
    batches: Iterable[pa.RecordBatch],
    format: str = "stream",
    dictionary_encode: Sequence[str] = (),
) -> int | None:
    """Stream ``batches`` into one shard at ``out``: 'stream' or 'file'
    wire format, ``dictionary_encode`` columns written as DictionaryBatch
    messages with deltas.  The file opens on the first batch, so an empty
    iterator writes nothing and returns None; otherwise returns the row
    count."""
    import pyarrow.compute as pc

    opts = pa_ipc.IpcWriteOptions(emit_dictionary_deltas=True)
    new_writer = pa_ipc.new_stream if format == "stream" else pa_ipc.new_file
    sink = writer = None
    rows = 0
    try:
        for batch in batches:
            if dictionary_encode:
                names = batch.schema.names
                batch = pa.RecordBatch.from_arrays(
                    [
                        pc.dictionary_encode(c) if n in dictionary_encode else c
                        for n, c in zip(names, batch.columns)
                    ],
                    names=names,
                )
            if writer is None:
                sink = pa.OSFile(out, "wb")
                writer = new_writer(sink, batch.schema, options=opts)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is not None:
            writer.close()
    finally:
        if sink is not None:
            sink.close()
    return None if writer is None else rows


def write_ipc(
    df: DataFrame,
    path: str,
    format: str = "stream",
    dictionary_encode: Sequence[str] = (),
    num_shards: int | None = None,
    shard_cols: Sequence[str] = (),
) -> int:
    """Distributed IPC sink: one shard per partition under ``path``/.

    Returns the number of shards written.  ``format``: 'stream' (.arrows,
    RecordBatchStreamWriter parity) or 'file' (.arrow, RecordBatchFileWriter
    parity — carries the random-access footer).  ``dictionary_encode``
    names columns to write dictionary-encoded: the writer then emits
    DictionaryBatch messages before the RecordBatches — including deltas as
    new values appear across batches — exactly the reference's wire
    behavior (format/Message.fbs isDelta; ipc/writer.cc DictionaryMemo).

    ``num_shards`` repartitions to that many output shards; ``shard_cols``
    (only meaningful together with ``num_shards``) hash-partitions by the
    named columns instead of the keyless round-robin, which skips the
    ``sortBeforeRepartition`` local sort of every row.  Caveat: the shard
    key must be high-cardinality and unskewed — a low-cardinality or
    skewed key yields fewer non-empty shards than requested (worst case
    one), reintroducing the serialized write/read ``num_shards`` exists to
    avoid.  Passing ``shard_cols`` without ``num_shards`` is a usage bug
    and warns.
    """
    assert format in ("stream", "file")
    if shard_cols and not num_shards:
        import warnings

        warnings.warn(
            "write_ipc: shard_cols is ignored unless num_shards is set",
            stacklevel=2,
        )
    if num_shards:
        # shard-count control: a degenerate upstream partitioning (e.g. a
        # single-row-group parquet file locally) would otherwise serialize
        # the write AND the eventual read of the shard directory.
        # ``shard_cols`` shards by hash of the named columns — a keyless
        # round-robin repartition first pays a full local sort of every
        # row (spark.sql.execution.sortBeforeRepartition, needed for
        # deterministic retries) which is pure overhead for a shard sink;
        # hashing a key column is deterministic without the sort.
        if shard_cols:
            import pyspark.sql.functions as F

            df = df.repartition(num_shards, *[F.col(c) for c in shard_cols])
        else:
            df = df.repartition(num_shards)
    os.makedirs(path, exist_ok=True)
    ext = "arrows" if format == "stream" else "arrow"
    run_id = uuid.uuid4().hex[:8]
    dict_cols = list(dictionary_encode)

    def _write(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        out = os.path.join(path, f"part-{pid:05d}-{run_id}.{ext}")
        rows = _write_shard(out, batches, format, dict_cols)
        yield pa.RecordBatch.from_pydict(
            {"path": [None if rows is None else out], "rows": [rows or 0]}
        )

    manifest = df.mapInArrow(_write, "path string, rows bigint").collect()
    return sum(1 for r in manifest if r["path"] is not None)


def read_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed IPC source: schema from the first shard's metadata
    (driver, cheap), shard list parallelized, whole-shard reads in tasks.

    Handles both wire formats and dictionary-encoded columns (dictionaries
    are decoded to dense — the Spark representation; SURVEY §1.2 DICTIONARY).
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    files = _shard_files(path)
    spark_schema = from_arrow_schema(_read_schema(files[0]), prefer_timestamp_ntz=True)
    # parallelize, not a LocalRelation + repartition: the shard list needs
    # no exchange to spread over the tasks
    sc = spark.sparkContext
    paths_df = spark.createDataFrame(
        sc.parallelize([(f,) for f in files], min(len(files), sc.defaultParallelism)),
        "path string",
    )

    def _read(batches):
        for b in batches:
            for p in b.column("path").to_pylist():
                yield from _read_table(p).to_batches()

    return paths_df.mapInArrow(_read, spark_schema)


def write_ipc_single(df: DataFrame, path: str, format: str = "stream") -> None:
    """One-file writer for interop (RecordBatchStream/FileWriter on the
    collected table).  Driver-side — small results only."""
    table = df.toArrow()
    with pa.OSFile(path, "wb") as sink:
        writer = (
            pa_ipc.new_stream(sink, table.schema)
            if format == "stream"
            else pa_ipc.new_file(sink, table.schema)
        )
        writer.write_table(table)
        writer.close()
