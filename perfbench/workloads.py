"""The benchmark's operations and the checks on their outputs.

An operation is one closed-loop request: the client thread issues it,
waits for it to finish, checks it (outside the timer) and only then
issues the next.  ``Op.run`` does the timed work and returns what
``Op.check`` needs; both receive the ``Runner`` (see run.py), which
carries the session, the inputs and the ``step`` timer that becomes a
traced span in a traced pass.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F

# Rows of the blog post's (long, double) egress frame; the other frame is
# the generated lineitem table (strings, doubles, timestamps).
BLOG_ROWS = 1 << 18

HERE = os.path.dirname(os.path.abspath(__file__))
MEMBERSHIP = os.path.join(HERE, "workloads.json")

def sink(df) -> None:
    """Spark's noop sink: runs the whole plan and discards the rows."""
    df.write.format("noop").mode("overwrite").save()


def load_membership(path: str = MEMBERSHIP) -> dict:
    """The frozen query classification and the per-workload query lists."""
    with open(path) as fh:
        doc = json.load(fh)
    classified = doc["queries"]
    for workload in ("scan-agg", "eager-jobs"):
        for name in doc["workloads"][workload]["queries"]:
            if classified[name]["workload"] != workload:
                raise ValueError(f"{name} is frozen in {classified[name]['workload']}, listed in {workload}")
    return doc


class CheckFailed(Exception):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    name: str

    def run(self, r):
        raise NotImplementedError

    def check(self, r, out) -> None:
        raise NotImplementedError

    def flows(self, r, parts: dict[str, float]) -> dict[str, tuple[int, float]]:
        """Arrow bytes moved and the seconds they took, per flow
        (egress, ingest, ipc_write, ipc_read), from the step timings."""
        return {}


# -- query workloads ------------------------------------------------------------


class QueryOp(Op):
    """Call ``QUERIES[name]`` and sink the DataFrame it returns to noop."""

    def run(self, r):
        from apache_arrow_spark.queries import QUERIES

        with r.step("queries.build", "queries", "build"):
            df = QUERIES[self.name](r.spark, r.data_dir)
        r.plan(df)
        with r.step("exec.sink", "exec", "sink"):
            sink(df)
        return df

    def check(self, r, df) -> None:
        """Order-insensitive comparison with the query's DuckDB oracle."""
        from apache_arrow_spark.queries import ORACLE
        from tools.check_oracle import compare

        problems = compare(self.name, df, r.oracle(ORACLE[self.name]))
        _expect(not problems, f"{self.name}: {'; '.join(problems)[:300]}")


# -- arrow-interchange ------------------------------------------------------------


def nested_list(seed: int, n: int = 2000) -> list:
    """A seeded nested Python list of ints, floats, strings, bools, None,
    bytes and dicts, for the serialization round trip."""
    rng = random.Random(seed)

    def leaf():
        k = rng.randrange(6)
        return [
            lambda: rng.randrange(-(1 << 40), 1 << 40),
            lambda: rng.random(),
            lambda: "s%x" % rng.getrandbits(32),
            lambda: rng.random() < 0.5,
            lambda: None,
            lambda: rng.getrandbits(64).to_bytes(8, "little"),
        ][k]()

    return [
        [leaf() for _ in range(rng.randrange(1, 8))]
        + [{"k": leaf(), "v": [leaf(), leaf()]}]
        for _ in range(n)
    ]


def _expect_sums(what: str, got: dict, want: dict) -> None:
    """Equal row counts and checksums; float sums to 1e-9 relative, as
    summation order differs between engines."""
    ok = got.keys() == want.keys() and all(
        math.isclose(got[k], want[k], rel_tol=1e-9) if isinstance(want[k], float) else got[k] == want[k]
        for k in want
    )
    _expect(ok, f"{what}: {got} != {want}")


def checksums(table: pa.Table) -> dict:
    """Row count and a per-column checksum of an Arrow table: the sum of
    numeric columns, the total length of string columns, the count of
    non-null values of the rest."""
    out = {"rows": table.num_rows}
    for name in table.column_names:
        col = table.column(name)
        t = col.type
        if pa.types.is_integer(t):
            out[name] = int(pc.sum(col).as_py() or 0)
        elif pa.types.is_floating(t):
            out[name] = float(pc.sum(col).as_py() or 0.0)
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            out[name] = int(pc.sum(pc.utf8_length(col)).as_py() or 0)
        else:
            out[name] = int(len(col) - col.null_count)
    return out


def spark_checksums(df, like: dict) -> dict:
    """The same checksums computed by Spark over ``df``."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    for f in df.schema.fields:
        if f.name not in like:
            continue
        tn = f.dataType.typeName()
        if tn in ("long", "integer", "short", "byte", "double", "float"):
            aggs.append(F.sum(f.name).alias(f.name))
        elif tn == "string":
            aggs.append(F.sum(F.length(f.name)).alias(f.name))
        else:
            aggs.append(F.count(f.name).alias(f.name))
    row = df.agg(*aggs).collect()[0].asDict()
    return {k: (float(v) if isinstance(v, float) else int(v or 0)) for k, v in row.items()}


class Frame:
    """One interchange input: a parquet file of the generated inputs, read
    by Spark and cached before timing, with its Arrow and pandas copies
    and reference checksums.  The egress checks compare what comes out of
    the cached frame with these, so they check the cache as well."""

    def __init__(self, name: str, path: str, spark) -> None:
        self.name = name
        self.arrow = pq.read_table(path)
        self.pandas = self.arrow.to_pandas()
        self.nbytes = self.arrow.nbytes
        self.sums = checksums(self.arrow)
        self.df = spark.read.parquet(path).cache()
        self.df.count()


def write_blog(data_dir: str, seed: int, rows: int = BLOG_ROWS) -> None:
    """The blog post's egress frame, (long, double) with rows x 16 bytes,
    as ``blog.parquet`` beside the generated tables."""
    rng = np.random.default_rng(seed)
    table = pa.table({"id": np.arange(rows, dtype="int64"), "x": np.round(rng.random(rows) * 100, 6)})
    pq.write_table(table, os.path.join(data_dir, "blog.parquet"))


class ToPandas(Op):
    def __init__(self, frame: str) -> None:
        super().__init__(f"to_pandas:{frame}")
        self.frame = frame

    def run(self, r):
        from apache_arrow_spark.io.pandas_bridge import to_pandas

        fr = r.frames[self.frame]
        with r.step("io.to_pandas", "io", "build"):
            return to_pandas(fr.df)

    def flows(self, r, parts):
        nbytes = r.frames[self.frame].nbytes
        return {"egress": (nbytes, parts["io.to_pandas"])}

    def check(self, r, pdf) -> None:
        fr = r.frames[self.frame]
        got = checksums(pa.Table.from_pandas(pdf, preserve_index=False))
        _expect_sums(self.name, got, fr.sums)


class Ingest(Op):
    """``from_pandas`` or ``from_arrow`` of a frame, sunk to noop."""

    def __init__(self, fn: str, frame: str) -> None:
        super().__init__(f"{fn}:{frame}")
        self.fn, self.frame = fn, frame

    def run(self, r):
        from apache_arrow_spark.io import pandas_bridge

        fr = r.frames[self.frame]
        src = fr.pandas if self.fn == "from_pandas" else fr.arrow
        with r.step(f"io.{self.fn}", "io", "build"):
            df = getattr(pandas_bridge, self.fn)(r.spark, src)
        r.plan(df)
        with r.step("exec.sink", "exec", "sink"):
            sink(df)
        return df

    def flows(self, r, parts):
        nbytes = r.frames[self.frame].nbytes
        return {"ingest": (nbytes, parts[f"io.{self.fn}"] + parts["exec.sink"])}

    def check(self, r, df) -> None:
        fr = r.frames[self.frame]
        got = spark_checksums(df, fr.sums)
        _expect_sums(self.name, got, fr.sums)


class IpcRoundTrip(Op):
    """``write_ipc`` of a cached frame to shards, then ``read_ipc`` of the
    shards sunk to noop."""

    def __init__(self, frame: str) -> None:
        super().__init__(f"ipc:{frame}")
        self.frame = frame

    def run(self, r):
        from apache_arrow_spark.io.ipc import read_ipc, write_ipc

        fr = r.frames[self.frame]
        path = r.scratch_dir("ipc")
        with r.step("io.write_ipc", "io", "build"):
            shards = write_ipc(fr.df, path, num_shards=r.cores)
        with r.step("io.read_ipc", "io", "build"):
            df = read_ipc(r.spark, path)
        r.plan(df)
        with r.step("exec.sink", "exec", "sink"):
            sink(df)
        return shards, df

    def flows(self, r, parts):
        nbytes = r.frames[self.frame].nbytes
        return {
            "ipc_write": (nbytes, parts["io.write_ipc"]),
            "ipc_read": (nbytes, parts["io.read_ipc"] + parts["exec.sink"]),
        }

    def check(self, r, out) -> None:
        shards, df = out
        fr = r.frames[self.frame]
        _expect(shards >= 1, f"{self.name}: no shards written")
        got = spark_checksums(df, fr.sums)
        _expect_sums(self.name, got, fr.sums)


class SerializeRoundTrip(Op):
    def __init__(self) -> None:
        super().__init__("serialize:nested")

    def run(self, r):
        from apache_arrow_spark.serialization import deserialize, serialize

        with r.step("serialization.serialize", "serialization"):
            buf = serialize(r.nested).to_buffer()
        with r.step("serialization.deserialize", "serialization"):
            return deserialize(buf)

    def check(self, r, out) -> None:
        _expect(out == r.nested, f"{self.name}: deserialize(serialize(x)) != x")


class StoreCycle(Op):
    """``ObjectStore`` put (persist and seal), get and evict of a
    projection of a cached frame."""

    def __init__(self, frame: str) -> None:
        super().__init__(f"store:{frame}")
        self.frame = frame

    def run(self, r):
        fr = r.frames[self.frame]
        src = fr.df.select(*fr.df.columns[:4])
        oid = f"obj-{r.op_count}"
        with r.step("store.put", "store", "build"):
            r.store.put(oid, src)
        with r.step("store.get", "store", "build"):
            got = r.store.get(oid)
        with r.step("store.evict", "store", "build"):
            evicted = r.store.evict(oid)
        return got, evicted

    def check(self, r, out) -> None:
        got, evicted = out
        notes = r.store_sub.drain()
        fr = r.frames[self.frame]
        _expect(evicted, f"{self.name}: evict found nothing")
        sealed = [n.data_size for n in notes if not n.deleted]
        _expect(sealed == [fr.arrow.num_rows], f"{self.name}: sealed {sealed}")
        _expect(got.columns == fr.df.columns[:4], f"{self.name}: columns {got.columns}")


def interchange_ops() -> list[Op]:
    """Egress of both frames; pandas ingest of the blog frame; Arrow
    ingest, the IPC round trip and the store cycle of the typed lineitem
    frame; the serialization round trip."""
    return [
        ToPandas("blog"),
        ToPandas("lineitem"),
        Ingest("from_pandas", "blog"),
        Ingest("from_arrow", "lineitem"),
        IpcRoundTrip("lineitem"),
        SerializeRoundTrip(),
        StoreCycle("lineitem"),
    ]

