"""Python-object serialization registry (SURVEY §2.10).

The reference lets users register per-type (de)serializers and turns
arbitrary Python object graphs into Arrow data: every value is *tagged*
into a **dense union** whose children are the primitive/sequence kinds
(python/pyarrow/serialization.py:63-182 ``register_type`` + default
handlers; cpp/src/arrow/python/python_to_arrow.cc:54-414
``SequenceBuilder`` — bool/int/double/string/bytes/list/tuple/dict
children, custom types boxed through their registered callback).

This module re-creates that surface on the engine's stack:

- ``SerializationContext.register_type(type, type_id, pickle=...,
  custom_serializer=..., custom_deserializer=...)``;
- ``serialize(obj, ctx) -> SerializedPyObject`` building a real pyarrow
  dense-union array (children only for the kinds present, exactly like
  SequenceBuilder finalizing the builders it used);
- ``SerializedPyObject.to_buffer()`` → Arrow IPC-stream bytes,
  ``deserialize(buf, ctx)`` the inverse;
- ``default_serialization_context()`` registering the reference's default
  handlers: OrderedDict, defaultdict, datetime, numpy ndarray
  (serialization.py:38-43 ``_serialize_numpy_array_list``, pxi defaults).

On a cluster the tagged representation is exactly the engine's
union→``struct{tag, f0, f1, ...}`` convention from ``types.py`` — a
serialized column ships through Spark as ordinary binary/struct data; the
round-trip query (queries.py q62) runs serialize→deserialize inside
``mapInPandas`` so the registry executes on executors, not the driver.
"""

from __future__ import annotations

import pickle
from collections import OrderedDict, defaultdict
from dataclasses import dataclass

import pyarrow as pa


class SerializationCallbackError(Exception):
    """Raised when an object's type has no registered handler (the
    reference's error of the same name, python/pyarrow/error.pxi)."""

    def __init__(self, message: str, example_object=None):
        super().__init__(message)
        self.example_object = example_object


class DeserializationCallbackError(Exception):
    def __init__(self, message: str, type_id: str | None = None):
        super().__init__(message)
        self.type_id = type_id


@dataclass
class _Handler:
    type_id: str
    pickle_: bool
    serializer: object  # callable | None
    deserializer: object  # callable | None


class SerializationContext:
    """Per-type callback registry (python/pyarrow/serialization.pxi
    ``SerializationContext``)."""

    def __init__(self) -> None:
        self._by_type: dict[type, _Handler] = {}
        self._by_id: dict[str, _Handler] = {}

    def register_type(
        self,
        type_: type,
        type_id: str,
        pickle: bool = False,
        custom_serializer=None,
        custom_deserializer=None,
    ) -> None:
        h = _Handler(type_id, pickle, custom_serializer, custom_deserializer)
        self._by_type[type_] = h
        self._by_id[type_id] = h

    def clone(self) -> "SerializationContext":
        out = SerializationContext()
        out._by_type = dict(self._by_type)
        out._by_id = dict(self._by_id)
        return out

    # -- convenience mirrors of the module-level entry points --------------
    def serialize(self, obj) -> "SerializedPyObject":
        return serialize(obj, self)

    def deserialize(self, data) -> object:
        return deserialize(data, self)


# ---------------------------------------------------------------------------
# Tagging: python value -> (tag, payload)
# ---------------------------------------------------------------------------
# Canonical tag order fixes the union type codes, as SequenceBuilder's
# child ordering does.  Only tags present in a sequence materialize as
# union children (python_to_arrow.cc finalizes the builders it used).
_TAGS = [
    "null",  # arrow null child — dense unions have no parent validity
    "bool",
    "int",
    "float",
    "string",
    "binary",
    "list",
    "tuple",
    "dict",
    "custom",  # struct<type_id: utf8, payload: union>
]
_TAG_CODE = {t: i for i, t in enumerate(_TAGS)}


def _tag_of(v, ctx: SerializationContext) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "string"
    if isinstance(v, bytes):
        return "binary"
    if type(v) in ctx._by_type:  # exact-type match, before list/dict bases
        return "custom"
    if isinstance(v, list):
        return "list"
    if isinstance(v, tuple):
        return "tuple"
    if isinstance(v, dict):
        return "dict"
    raise SerializationCallbackError(
        f"no serialization handler registered for type {type(v).__name__}", v
    )


def _custom_repr(v, ctx: SerializationContext) -> tuple[str, object]:
    h = ctx._by_type[type(v)]
    if h.pickle_:
        return h.type_id, pickle.dumps(v, protocol=pickle.HIGHEST_PROTOCOL)
    if h.serializer is None:
        raise SerializationCallbackError(
            f"type {h.type_id!r} registered without serializer or pickle", v
        )
    return h.type_id, h.serializer(v)


def _build_union(values: list, ctx: SerializationContext) -> pa.UnionArray:
    """Build a dense union over ``values`` — the SequenceBuilder analog.
    Child arrays exist only for tags present; type codes are canonical."""
    tags = [_tag_of(v, ctx) for v in values]
    present = sorted(set(tags) or {"null"}, key=_TAG_CODE.__getitem__)
    buckets: dict[str, list] = {t: [] for t in present}
    types, offsets = [], []
    for v, t in zip(values, tags):
        types.append(_TAG_CODE[t])
        offsets.append(len(buckets[t]))
        buckets[t].append(v)

    children, fields = [], []
    for t in present:
        vals = buckets[t]
        if t == "null":
            child = pa.nulls(len(vals))
        elif t == "bool":
            child = pa.array(vals, pa.bool_())
        elif t == "int":
            child = pa.array(vals, pa.int64())
        elif t == "float":
            child = pa.array(vals, pa.float64())
        elif t == "string":
            child = pa.array(vals, pa.string())
        elif t == "binary":
            child = pa.array(vals, pa.binary())
        elif t in ("list", "tuple"):
            flat = [x for v in vals for x in v]
            inner = _build_union(flat, ctx)
            off, acc = [0], 0
            for v in vals:
                acc += len(v)
                off.append(acc)
            child = pa.ListArray.from_arrays(pa.array(off, pa.int32()), inner)
        elif t == "dict":
            keys = _build_list_of_union([list(v.keys()) for v in vals], ctx)
            items = _build_list_of_union([list(v.values()) for v in vals], ctx)
            child = pa.StructArray.from_arrays([keys, items], ["keys", "vals"])
        elif t == "custom":
            reprs = [_custom_repr(v, ctx) for v in vals]
            ids = pa.array([r[0] for r in reprs], pa.string())
            payload = _build_union([r[1] for r in reprs], ctx)
            child = pa.StructArray.from_arrays([ids, payload], ["type_id", "payload"])
        else:  # pragma: no cover
            raise AssertionError(t)
        children.append(child)
        fields.append(t)

    return pa.UnionArray.from_dense(
        pa.array(types, pa.int8()),
        pa.array(offsets, pa.int32()),
        children,
        field_names=fields,
        type_codes=[_TAG_CODE[t] for t in present],
    )


def _build_list_of_union(lists: list[list], ctx: SerializationContext) -> pa.ListArray:
    flat = [x for v in lists for x in v]
    inner = _build_union(flat, ctx)
    off, acc = [0], 0
    for v in lists:
        acc += len(v)
        off.append(acc)
    return pa.ListArray.from_arrays(pa.array(off, pa.int32()), inner)


# ---------------------------------------------------------------------------
# Un-tagging: union array slot -> python value
# ---------------------------------------------------------------------------


def _read_union(arr: pa.UnionArray, ctx: SerializationContext) -> list:
    """Every slot of a dense union as a Python value, column at a time:
    each child decodes once (``to_pylist`` for the primitive kinds, a
    recursive decode of the list/dict/custom children's values), then
    slots look their value up by type code and offset."""
    if len(arr) == 0:
        return []  # IPC-read empty unions have no buffers to view
    at = arr.type
    by_code = {
        code: _read_child(at.field(i).name, arr.field(i), ctx)
        for i, code in enumerate(at.type_codes)
    }
    return [
        by_code[code][off]
        for code, off in zip(arr.type_codes.to_pylist(), arr.offsets.to_pylist())
    ]


def _read_child(tag: str, child: pa.Array, ctx: SerializationContext) -> list:
    if tag == "null":
        return [None] * len(child)
    if tag in ("bool", "int", "float", "string", "binary"):
        return child.to_pylist()
    if tag in ("list", "tuple"):
        lists = _read_list_of_union(child, ctx)
        return [tuple(v) for v in lists] if tag == "tuple" else lists
    if tag == "dict":
        keys = _read_list_of_union(child.field("keys"), ctx)
        vals = _read_list_of_union(child.field("vals"), ctx)
        return [dict(zip(k, v)) for k, v in zip(keys, vals)]
    if tag == "custom":
        type_ids = child.field("type_id").to_pylist()
        payloads = _read_union(child.field("payload"), ctx)
        return [_custom_value(t, p, ctx) for t, p in zip(type_ids, payloads)]
    raise AssertionError(tag)  # pragma: no cover


def _custom_value(type_id: str, payload, ctx: SerializationContext):
    h = ctx._by_id.get(type_id)
    if h is None:
        raise DeserializationCallbackError(
            f"no deserialization handler for type id {type_id!r}", type_id
        )
    if h.pickle_:
        return pickle.loads(payload)
    return h.deserializer(payload)


def _read_list_of_union(list_arr: pa.ListArray, ctx: SerializationContext) -> list[list]:
    inner = _read_union(list_arr.values, ctx)
    offs = list_arr.offsets.to_pylist()
    return [inner[lo:hi] for lo, hi in zip(offs, offs[1:])]


# ---------------------------------------------------------------------------
# Public surface
# ---------------------------------------------------------------------------


class SerializedPyObject:
    """The serialized form: a one-column record batch holding the tagged
    union (the reference's SerializedPyObject with to_buffer/components,
    serialization.pxi)."""

    def __init__(self, batch: pa.RecordBatch):
        self.batch = batch

    def to_buffer(self) -> bytes:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, self.batch.schema) as w:
            w.write_batch(self.batch)
        return sink.getvalue().to_pybytes()

    @classmethod
    def from_buffer(cls, data: bytes) -> "SerializedPyObject":
        with pa.ipc.open_stream(pa.py_buffer(data)) as r:
            batches = list(r)
        return cls(batches[0])


def serialize(obj, context: SerializationContext | None = None) -> SerializedPyObject:
    ctx = context or default_serialization_context()
    union = _build_union([obj], ctx)
    batch = pa.RecordBatch.from_arrays([union], ["python_object"])
    return SerializedPyObject(batch)


def deserialize(data, context: SerializationContext | None = None):
    ctx = context or default_serialization_context()
    if isinstance(data, (bytes, bytearray, memoryview)):
        data = SerializedPyObject.from_buffer(bytes(data))
    arr = data.batch.column(0)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return _read_union(arr, ctx)[0]


def default_serialization_context() -> SerializationContext:
    """The reference's default handler set (serialization.py/pxi defaults:
    OrderedDict, defaultdict, datetime; ndarray via tolist+dtype)."""
    import datetime as _dt

    ctx = SerializationContext()
    ctx.register_type(
        OrderedDict,
        "_arrow.OrderedDict",
        custom_serializer=lambda o: [list(o.keys()), list(o.values())],
        custom_deserializer=lambda d: OrderedDict(zip(d[0], d[1])),
    )
    ctx.register_type(
        defaultdict,
        "_arrow.defaultdict",
        custom_serializer=lambda o: [
            pickle.dumps(o.default_factory),
            list(o.keys()),
            list(o.values()),
        ],
        custom_deserializer=lambda d: defaultdict(
            pickle.loads(d[0]), zip(d[1], d[2])
        ),
    )
    ctx.register_type(
        _dt.datetime,
        "_arrow.datetime",
        custom_serializer=lambda o: o.isoformat(),
        custom_deserializer=_dt.datetime.fromisoformat,
    )
    ctx.register_type(
        _dt.date,
        "_arrow.date",
        custom_serializer=lambda o: o.isoformat(),
        custom_deserializer=_dt.date.fromisoformat,
    )
    try:
        import numpy as np

        ctx.register_type(
            np.ndarray,
            "np.ndarray",
            custom_serializer=lambda o: [o.tolist(), o.dtype.str],
            custom_deserializer=lambda d: np.array(d[0], dtype=np.dtype(d[1])),
        )
    except ImportError:  # pragma: no cover
        pass
    return ctx
