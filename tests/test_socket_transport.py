"""Socket stream transport (SURVEY §2.1 EchoServer row; reference
java/tools/.../EchoServer.java)."""

import sys

import pyarrow as pa
import pytest

from apache_arrow_spark.io.socket_transport import (
    EchoServer,
    echo_roundtrip,
    read_stream_socket,
    serve_table_once,
)


@pytest.fixture()
def table():
    return pa.table(
        {
            "k": pa.array(["a", "b", None, "d"]),
            "v": pa.array([1, 2, 3, None], pa.int64()),
            "f": pa.array([1.5, None, 3.5, 4.5]),
        }
    )


def test_echo_roundtrip_table(table):
    with EchoServer() as srv:
        back = echo_roundtrip(table, srv.host, srv.port)
        assert back.equals(table)
        assert srv.batches_echoed >= 1


def test_echo_multiple_connections(table):
    with EchoServer() as srv:
        for _ in range(3):
            assert echo_roundtrip(table, srv.host, srv.port).equals(table)
        assert srv.batches_echoed >= 3


def test_echo_counted_before_reply(table):
    """A client that has read its echo sees its batch counted.  A tiny
    GIL switch interval lets the client thread run between the server's
    reply and any later step of its handler."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with EchoServer() as srv:
            for i in range(1, 1001):
                echo_roundtrip(table, srv.host, srv.port)
                assert srv.batches_echoed == i
    finally:
        sys.setswitchinterval(old)


def test_echo_multi_batch_stream():
    batches = [
        pa.record_batch({"x": pa.array(list(range(i * 10, i * 10 + 10)))})
        for i in range(4)
    ]
    t = pa.Table.from_batches(batches)
    with EchoServer() as srv:
        back = echo_roundtrip(t, srv.host, srv.port)
        assert back.num_rows == 40
        assert back.combine_chunks().equals(t.combine_chunks())


def test_echo_roundtrip_spark_dataframe(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    with EchoServer() as srv:
        back = echo_roundtrip(df, srv.host, srv.port)
        assert back.num_rows == 2
        assert sorted(back.column("id").to_pylist()) == [1, 2]


def test_read_stream_socket_into_spark(spark, table):
    host, port = serve_table_once(table)
    df = read_stream_socket(spark, host, port)
    assert df.count() == 4
    assert set(df.columns) == {"k", "v", "f"}
    assert {r["k"] for r in df.collect()} == {"a", "b", None, "d"}
