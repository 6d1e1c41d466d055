"""§2.10 serialization registry: dense-union tagging + register_type
round-trips (reference python/pyarrow/serialization.py:63-182,
cpp/src/arrow/python/python_to_arrow.cc:54-414)."""

import datetime
import random
from collections import OrderedDict, defaultdict

import numpy as np
import pyarrow as pa
import pytest

from apache_arrow_spark.serialization import (
    DeserializationCallbackError,
    SerializationCallbackError,
    SerializationContext,
    default_serialization_context,
    deserialize,
    serialize,
)

# the reference's test corpus shape (pyarrow/tests/test_serialization.py)
PRIMITIVES = [
    None,
    True,
    False,
    0,
    -1,
    2**40,
    3.14159,
    "unicode — ✓",
    "",
    b"\x00\xffbytes",
    b"",
]
COMPOSITES = [
    [1, "two", 3.0, None, [True, b"x"]],
    (1, (2, (3,))),
    {"a": 1, 2: "b", None: [1, 2]},
    {"nested": {"deep": (1, [2.5, None])}},
    [],
    (),
    {},
]


@pytest.mark.parametrize("obj", PRIMITIVES + COMPOSITES, ids=repr)
def test_roundtrip_builtin(obj):
    got = deserialize(serialize(obj).to_buffer())
    assert got == obj
    assert type(got) is type(obj)


def test_dense_union_representation():
    """The serialized form IS a dense union tagged by kind, like
    SequenceBuilder's output."""
    s = serialize([1, "a", 2.0, None])
    col = s.batch.column(0)
    assert pa.types.is_union(col.type)
    assert col.type.mode == "dense"
    inner = col.type.field(0).type.value_type  # the list child's union
    names = {inner.field(i).name for i in range(inner.num_fields)}
    assert {"int", "string", "float", "null"} <= names


def test_default_handlers():
    od = OrderedDict([("z", 1), ("a", 2)])
    assert deserialize(serialize(od).to_buffer()) == od
    assert isinstance(deserialize(serialize(od).to_buffer()), OrderedDict)

    dd = defaultdict(list, {"k": [1]})
    back = deserialize(serialize(dd).to_buffer())
    assert isinstance(back, defaultdict)
    assert back["k"] == [1]
    assert back["new_key"] == []  # default_factory restored

    dt = datetime.datetime(2021, 3, 4, 5, 6, 7, 890123)
    assert deserialize(serialize(dt).to_buffer()) == dt
    d = datetime.date(1999, 12, 31)
    assert deserialize(serialize(d).to_buffer()) == d


def test_numpy_default_handler():
    arr = np.array([[1.5, 2.5], [3.5, 4.5]], dtype="float32")
    back = deserialize(serialize(arr).to_buffer())
    assert back.dtype == np.float32
    np.testing.assert_array_equal(back, arr)


def test_register_custom_type_with_callbacks():
    class Point:
        def __init__(self, x, y):
            self.x, self.y = x, y

        def __eq__(self, other):
            return (self.x, self.y) == (other.x, other.y)

    ctx = default_serialization_context()
    ctx.register_type(
        Point,
        "my.Point",
        custom_serializer=lambda p: [p.x, p.y],
        custom_deserializer=lambda d: Point(d[0], d[1]),
    )
    obj = {"pts": [Point(1, 2), Point(3, 4)], "n": 2}
    assert deserialize(serialize(obj, ctx).to_buffer(), ctx) == obj


class Blob:  # module-level: stdlib pickle requires an importable class
    def __init__(self, v):
        self.v = v

    def __eq__(self, other):
        return self.v == other.v


class X:
    pass


def test_register_pickle_fallback():
    ctx = SerializationContext()
    ctx.register_type(Blob, "my.Blob", pickle=True)
    back = deserialize(serialize(Blob({"deep": [1, 2]}), ctx).to_buffer(), ctx)
    assert back == Blob({"deep": [1, 2]})


def _mixed_value(rng: random.Random, depth: int = 0):
    """A seeded value of any tag: every primitive, list, tuple, dict and
    the custom kinds (OrderedDict, defaultdict, date, datetime, a
    pickle-registered Blob), nested up to three levels."""
    leaves = [
        lambda: None,
        lambda: rng.random() < 0.5,
        lambda: rng.randrange(-(1 << 62), 1 << 62),
        rng.random,
        lambda: "s%x" % rng.getrandbits(24),
        lambda: rng.getrandbits(32).to_bytes(4, "little"),
        lambda: datetime.date(2000, 1, 1) + datetime.timedelta(days=rng.randrange(9000)),
        lambda: datetime.datetime(2020, 5, 6, 7, 8, 9, rng.randrange(10**6)),
        lambda: Blob(rng.randrange(100)),
    ]
    inner = lambda: _mixed_value(rng, depth + 1)  # noqa: E731
    nests = [
        lambda: [inner() for _ in range(rng.randrange(4))],
        lambda: tuple(inner() for _ in range(rng.randrange(4))),
        lambda: {leaves[rng.randrange(1, 6)](): inner() for _ in range(rng.randrange(3))},
        lambda: OrderedDict((f"k{i}", inner()) for i in range(rng.randrange(3))),
        lambda: defaultdict(list, {"a": inner()}),
    ]
    kinds = leaves + nests if depth < 3 else leaves
    return kinds[rng.randrange(len(kinds))]()


def _typed(x):
    """x with every value's exact type spelled out, so equality also
    compares list vs tuple, dict vs OrderedDict, bool vs int."""
    if isinstance(x, dict):
        items = [(_typed(k), _typed(v)) for k, v in x.items()]
        return type(x), items, getattr(x, "default_factory", None)
    if isinstance(x, (list, tuple)):
        return type(x), [_typed(v) for v in x]
    return type(x), x


@pytest.mark.parametrize("seed", range(5))
def test_deserialize_parity_seeded_mixed_tags(seed):
    ctx = default_serialization_context()
    ctx.register_type(Blob, "my.Blob", pickle=True)
    rng = random.Random(seed)
    obj = [_mixed_value(rng) for _ in range(300)]
    obj.append([[], (), {}, [None, (True, 1, 1.5, "s", b"b", {"k": [()]})]])
    back = deserialize(serialize(obj, ctx).to_buffer(), ctx)
    assert _typed(back) == _typed(obj)


def test_deserialize_unknown_type_id_raises():
    ctx = SerializationContext()
    ctx.register_type(Blob, "my.Blob", pickle=True)
    buf = serialize([1, {"x": [Blob(2)]}], ctx).to_buffer()
    with pytest.raises(DeserializationCallbackError) as ei:
        deserialize(buf, SerializationContext())
    assert ei.value.type_id == "my.Blob"


def test_unregistered_type_raises():
    class Mystery:
        pass

    with pytest.raises(SerializationCallbackError) as ei:
        serialize(Mystery())
    assert isinstance(ei.value.example_object, Mystery)


def test_context_clone_isolation():
    base = default_serialization_context()
    clone = base.clone()
    clone.register_type(X, "x", pickle=True)
    deserialize(serialize(X(), clone).to_buffer(), clone)  # clone works
    with pytest.raises(SerializationCallbackError):
        serialize(X(), base)  # base unaffected


def test_executor_side_roundtrip(spark):
    """The registry runs inside mapInPandas — serialization on executors,
    the distributed posture the Spark queries() entry uses."""
    from apache_arrow_spark.queries import QUERIES

    assert "q62_serialization_roundtrip" in QUERIES
    out = QUERIES["q62_serialization_roundtrip"](spark, "/root/testdata/sf0.001")
    rows = out.orderBy("doc_id").collect()
    assert len(rows) > 0
    assert all(r["lang"] is not None for r in rows[:5])
