"""Table surface parity (SURVEY §1.1/§2.2/§2.5): structural edits, concat,
slice, count_by, pandas/batches round-trips, equals/validate."""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from apache_arrow_spark.table import POS, Table, concat_tables


def _t(spark):
    rows = [(i, float(i) * 1.5, "xyz"[i % 3]) for i in range(10)]
    return Table(spark.createDataFrame(rows, "id int, x double, tag string"))


def test_select_and_columns(spark):
    t = _t(spark).select("id", "tag")
    assert t.column_names == ["id", "tag"]
    assert t.num_columns == 2


def test_count_and_count_by(spark):
    t = _t(spark)
    assert t.count() == 10
    cb = {r["values"]: r["counts"] for r in t.count_by("tag").df.collect()}
    assert cb == {"x": 4, "y": 3, "z": 3}


def test_add_remove_set_column(spark):
    t = _t(spark)
    t2 = t.add_column("y", F.col("x") * 2)
    assert t2.column_names == ["id", "x", "tag", "y"]
    t3 = t2.add_column("z", F.lit(0), index=0)
    assert t3.column_names[0] == "z"
    t4 = t3.remove_column("x").remove_column("z")
    assert t4.column_names == ["id", "tag", "y"]
    t5 = t.set_column("x", F.col("x") + 1)
    assert t5.df.agg(F.min("x")).collect()[0][0] == 1.0


def test_concat_tables_unionbyname(spark):
    a = _t(spark).filter(F.col("id") < 5)
    b = _t(spark).filter(F.col("id") >= 5)
    assert concat_tables([a, b]).count() == 10


def test_slice_deterministic(spark):
    t = _t(spark)
    s = t.slice(offset=2, length=3, order_by=["id"])
    assert [r["id"] for r in s.df.collect()] == [2, 3, 4]
    with pytest.raises(ValueError):
        t.slice(0, 2)  # no order -> must refuse


def test_slice_with_pos_column(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select("*", "_metadata.row_index")
    t = Table(df.withColumnRenamed("row_index", POS))
    got = t.slice(offset=0, length=5).df.collect()
    assert len(got) == 5


def test_pandas_roundtrip(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", None]})
    t = Table.from_pandas(spark, pdf)
    back = t.to_pandas().sort_values("a").reset_index(drop=True)
    assert back["a"].tolist() == [1, 2, 3]
    assert back["b"].tolist()[:2] == ["x", "y"]
    assert t.null_count("b") == 1


def test_batches_roundtrip(spark):
    t = _t(spark)
    batches = t.to_batches()
    t2 = Table.from_batches(spark, batches)
    assert t2.equals(t)


@pytest.mark.parametrize("entry", ["from_pandas", "from_batches"])
def test_ingest_above_one_batch_ships_arrow_partitions(spark, entry):
    """Above one Arrow batch of rows, Table's pandas and batch ingest
    land one batch per partition with no LocalRelation; values and the
    session conf come through unchanged."""
    from decimal import Decimal

    import pyarrow as pa

    from apache_arrow_spark.session import compute_parallelism

    n = 2 * int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) + 1
    src = pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "d": pa.array(
                [None if i % 9 == 0 else Decimal(i).scaleb(-2) for i in range(n)],
                pa.decimal128(10, 2),
            ),
            "s": pa.array([None if i % 4 == 0 else f"v{i}" for i in range(n)]),
        }
    )
    before = spark.conf.getAll
    if entry == "from_pandas":
        t = Table.from_pandas(spark, src.to_pandas())
    else:
        t = Table.from_batches(spark, src.to_batches(max_chunksize=n // 3))
    assert spark.conf.getAll == before
    assert "LocalRelation" not in t.df._jdf.queryExecution().optimizedPlan().toString()
    assert t.df.rdd.getNumPartitions() == compute_parallelism(spark)
    assert t.df.toArrow().sort_by("id").to_pylist() == src.to_pylist()


def test_equals_and_validate(spark):
    a = _t(spark)
    b = _t(spark)
    assert a.equals(b)
    assert not a.equals(b.filter(F.col("id") < 5))
    a.validate()


def test_is_null_mask(spark):
    t = Table(spark.createDataFrame([(1,), (None,)], "v int"))
    mask = [r["is_null"] for r in t.is_null("v").df.collect()]
    assert sorted(mask) == [False, True]
