"""``Table`` — the reference's Table/RecordBatch/JS-DataFrame surface on Spark.

Maps (SURVEY.md §1.1, §2.2-2.5):

- ``Table`` (cpp/src/arrow/table.h:151)            -> wraps a DataFrame
- JS query layer (js/src/table.ts:111-291)         -> filter/select/scan/
  count/count_by, predicate DSL from ``predicates``
- AddColumn/RemoveColumn (table.h:186-190)         -> add/remove/append/set
- ConcatenateTables (table.h:244)                  -> ``concat_tables``
- Slice (array.h Slice / table.pxi:614)            -> ``slice`` (order-aware)
- Unique/DictionaryEncode (compute/kernels/hash.h) -> ``unique``/
  ``dictionary_encode`` (delegates to ``compute.hashkernels``)
- to/from pandas (table.pxi:843,1014)              -> Arrow-path bridge
- to/from batches (table.h:174, table.pxi:976)     -> pyarrow RecordBatches
- Validate (table.h:201) / pretty print            -> ``validate``/``show``

Everything stays declarative: a ``Table`` never collects except in the
explicit egress methods (``to_pandas``/``to_batches``/``scan``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from apache_arrow_spark.predicates import Predicate

POS = "__pos"  # reserved row-ordinal column (from _metadata.row_index)


def _as_column(pred_or_col) -> Column:
    if isinstance(pred_or_col, Predicate):
        return pred_or_col.to_column()
    return pred_or_col


class Table:
    """Immutable named-column table; every method returns a new Table."""

    def __init__(self, df: DataFrame):
        self._df = df

    # ------------------------------------------------------------------ io
    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> "Table":
        df = spark.read.parquet(path)
        if columns:
            df = df.select(*columns)
        return cls(df)

    @classmethod
    def from_pandas(cls, spark: SparkSession, pdf, schema=None) -> "Table":
        """pandas ingest (reference Table.from_pandas, table.pxi:843) — rides
        Spark's Arrow path (spark.sql.execution.arrow.pyspark.enabled)."""
        from apache_arrow_spark.io.pandas_bridge import _ingest

        return cls(_ingest(spark, pdf, schema))

    @classmethod
    def from_batches(cls, spark: SparkSession, batches) -> "Table":
        """Assemble from pyarrow RecordBatches (Table::FromRecordBatches,
        cpp/src/arrow/table.h:174)."""
        import pyarrow as pa

        from apache_arrow_spark.io.pandas_bridge import _ingest

        return cls(_ingest(spark, pa.Table.from_batches(list(batches))))

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def schema(self):
        return self._df.schema

    @property
    def column_names(self) -> list[str]:
        return [c for c in self._df.columns if c != POS]

    @property
    def num_columns(self) -> int:
        return len(self.column_names)

    # ------------------------------------------- JS DataFrame query surface
    def filter(self, predicate) -> "Table":
        """Lazy row filter (js/src/table.ts:129); predicates compose and
        Catalyst pushes them into the parquet scan."""
        return Table(self._df.filter(_as_column(predicate)))

    def select(self, *names: str) -> "Table":
        """Projection (js/src/table.ts:172) — column pruning reaches the scan."""
        return Table(self._df.select(*names))

    def count(self) -> int:
        """Row count (js/src/table.ts:144)."""
        return self._df.count()

    def count_df(self) -> "Table":
        """count() as a 1-row DataFrame (for declarative pipelines)."""
        return Table(self._df.agg(F.count(F.lit(1)).alias("n")))

    def count_by(self, column: str) -> "Table":
        """Group-by-count (js/src/table.ts:145 ``countBy``).  The reference
        requires a dictionary-encoded column and counts by integer key; the
        Spark hash aggregate is the same algorithm without the restriction."""
        return Table(
            self._df.groupBy(F.col(column).alias("values")).agg(
                F.count(F.lit(1)).alias("counts")
            )
        )

    def scan(self, fn: Callable, columns: Sequence[str] | None = None) -> None:
        """Visit every row (js/src/table.ts:132).  Executor-side foreach —
        distributed, unlike the reference's single-thread loop."""
        df = self._df.select(*columns) if columns else self._df
        df.foreach(fn)

    # ------------------------------------------------- structural edits
    def add_column(self, name: str, col: Column, index: int | None = None) -> "Table":
        """Table::AddColumn (cpp/src/arrow/table.h:186)."""
        out = self._df.withColumn(name, col)
        if index is not None:
            cols = [c for c in out.columns if c != name]
            cols.insert(index, name)
            out = out.select(*cols)
        return Table(out)

    def append_column(self, name: str, col: Column) -> "Table":
        return self.add_column(name, col)

    def set_column(self, name: str, col: Column) -> "Table":
        return Table(self._df.withColumn(name, col))

    def remove_column(self, name: str) -> "Table":
        """Table::RemoveColumn (cpp/src/arrow/table.h:188)."""
        return Table(self._df.drop(name))

    def rename_columns(self, names: Sequence[str]) -> "Table":
        return Table(self._df.toDF(*names))

    # ------------------------------------------------------------- slicing
    def slice(self, offset: int = 0, length: int | None = None, order_by: Sequence[str] | None = None) -> "Table":
        """Row-range view (reference zero-copy ``Slice``, array.h:197).

        Spark has no physical row order, so a deterministic slice needs an
        ordering: pass ``order_by``, or read with ``load_table_with_pos`` so
        ``__pos`` (parquet row index) reproduces file order.  Executes as
        global sort + offset/limit — Spark's range-partitioned top-k, which
        is the scalable form.
        """
        df = self._df
        keys = list(order_by) if order_by else ([POS] if POS in df.columns else None)
        if keys is None:
            raise ValueError("slice needs order_by= or a __pos column for determinism")
        df = df.orderBy(*keys)
        if offset:
            df = df.offset(offset)
        if length is not None:
            df = df.limit(length)
        return Table(df.drop(POS))

    def limit(self, n: int) -> "Table":
        return Table(self._df.limit(n))

    # ------------------------------------------------------------ kernels
    def unique(self, column: str) -> "Table":
        from apache_arrow_spark.compute.hashkernels import unique

        return Table(unique(self._df, column))

    def dictionary_encode(self, column: str) -> "Table":
        from apache_arrow_spark.compute.hashkernels import dictionary_encode

        return Table(dictionary_encode(self._df, column))

    def value_counts(self, column: str) -> "Table":
        from apache_arrow_spark.compute.hashkernels import value_counts

        return Table(value_counts(self._df, column))

    def cast_column(self, name: str, target, safe: bool = True, **options) -> "Table":
        from apache_arrow_spark.compute.cast import cast

        return Table(self._df.withColumn(name, cast(self._df, name, target, safe=safe, **options)))

    def is_null(self, column: str) -> "Table":
        """Per-element null mask (python/pyarrow/array.pxi:386)."""
        return Table(self._df.select(F.col(column).isNull().alias("is_null")))

    def null_count(self, column: str) -> int:
        """Array::null_count (cpp/src/arrow/array.h)."""
        return self._df.filter(F.col(column).isNull()).count()

    # ------------------------------------------------------------- egress
    def to_pandas(self):
        """Arrow-path collect (reference Table.to_pandas, table.pxi:1014)."""
        return self._df.toPandas()

    def to_arrow(self):
        """Collect as a pyarrow Table."""
        return self._df.toArrow()

    def to_batches(self):
        """Table.to_batches (table.pxi:976) — one batch per collected chunk."""
        return self._df.toArrow().to_batches()

    # ------------------------------------------------------------ utility
    def equals(self, other: "Table", check_order: bool = False) -> bool:
        """Table equality (cpp/src/arrow/compare.h:37) — order-insensitive by
        default, matching the oracle harness; set ``check_order`` for strict."""
        if [f.simpleString() for f in self.schema.fields] != [
            f.simpleString() for f in other.schema.fields
        ]:
            return False
        if check_order:
            a = self.to_pandas()
            b = other.to_pandas()
            return a.equals(b)
        return (
            self._df.exceptAll(other._df).isEmpty()
            and other._df.exceptAll(self._df).isEmpty()
        )

    def validate(self) -> None:
        """Table::Validate (table.h:201): schema/columns consistency."""
        assert len(set(self._df.columns)) == len(self._df.columns), "duplicate column names"
        self._df.head(1)  # force analysis + one-row execution

    def show(self, n: int = 20, truncate: bool = True) -> None:
        """Pretty print (cpp/src/arrow/pretty_print.h)."""
        self._df.show(n, truncate=truncate)

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode=mode)

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "Table":
        """Plasma-analog pinning (SURVEY §2.1 Plasma row): keep a dataset hot
        across queries without a shared-memory daemon."""
        from pyspark import StorageLevel

        return Table(self._df.persist(getattr(StorageLevel, storage_level)))


def concat_tables(tables: Sequence[Table]) -> Table:
    """ConcatenateTables (cpp/src/arrow/table.h:244; py concat_tables).
    Schema-aligned union; zero shuffle (union is a narrow op in Spark)."""
    if not tables:
        raise ValueError("need at least one table")
    out = tables[0].df
    for t in tables[1:]:
        out = out.unionByName(t.df)
    return Table(out)
