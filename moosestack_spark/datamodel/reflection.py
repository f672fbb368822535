"""Pydantic model -> Column records -> Spark StructType.

Port target: packages/py-moose-lib/moose_lib/data_models.py —
`py_type_to_column_type` (:459-664) and `_to_columns` (:667-767), producing
the same Column record {name, data_type, required, primary_key, default,
annotations, ttl, codec, materialized, alias, comment} (:349-361).

Type mapping (SURVEY.md §1.3):

| Python                    | Spark                                  |
|---------------------------|----------------------------------------|
| str                       | string                                 |
| Annotated[str, FixedString(n)] | string + length check on insert   |
| bool                      | boolean                                |
| int / Int64               | bigint (default int -> Int64)          |
| Int8/16/32                | tinyint/smallint/int                   |
| UInt8/16/32/64            | next wider signed + range check        |
| float / Float64           | double                                 |
| Float32                   | float                                  |
| clickhouse_decimal(p,s)   | decimal(p,s)                           |
| datetime / datetime64(p)  | timestamp                              |
| date                      | date                                   |
| Enum subclass             | string (str enum) / int (int enum)     |
| Literal['a','b']          | string (LowCardinality)                |
| list[T]                   | array<T>                               |
| dict[K,V]                 | map<K,V>                               |
| nested BaseModel          | struct                                 |
| Optional[T] / `= None`    | nullable=True                          |
| Any / dict[str, Any]      | string (JSON text; get_json_object)    |
| UUID                      | string                                 |
| IPv4Address/IPv6Address   | string + validation                    |
| bytes                     | binary                                 |

Unsigned widening: UInt8->smallint, UInt16->int, UInt32->bigint,
UInt64->bigint + non-negative check (range checks run in the insert path;
original CH type recorded in field metadata for faithful round-trip —
SURVEY.md §7 hard part 6).
"""

from __future__ import annotations

import datetime as dt
import ipaddress
import uuid
from dataclasses import dataclass, field as dc_field
from decimal import Decimal as PyDecimal
from enum import Enum as PyEnum
from typing import Any, Optional, Union, get_args, get_origin

from pydantic import BaseModel
from pyspark.sql import types as st

from moosestack_spark.datamodel.types import (
    JSON_DYNAMIC_FIELD,
    AggregateFunction,
    ClickHouseAlias,
    ClickHouseCodec,
    ClickHouseJson,
    ClickHouseMaterialized,
    ClickHouseTTL,
    ClickhouseDefault,
    FixedString,
    JWTMarker,
    SimpleAggregateFunction,
    _DateTime64Marker,
    _DecimalMarker,
    _KeyMarker,
    _LowCardinalityMarker,
    _SizedFloat,
    _SizedInt,
)

try:  # typing.Annotated introspection
    from typing import Annotated  # noqa: F401
    from typing import get_type_hints
except ImportError:  # pragma: no cover
    raise


@dataclass
class Column:
    """The reference's Column record (data_models.py:349-361)."""

    name: str
    data_type: st.DataType
    required: bool = True
    primary_key: bool = False
    default: Optional[str] = None
    annotations: dict = dc_field(default_factory=dict)
    ttl: Optional[str] = None
    codec: Optional[str] = None
    materialized: Optional[str] = None
    alias: Optional[str] = None
    comment: Optional[str] = None

    def to_struct_field(self) -> st.StructField:
        meta = dict(self.annotations)
        if self.primary_key:
            meta["primary_key"] = True
        if self.default is not None:
            meta["default"] = self.default
        if self.ttl is not None:
            meta["ttl"] = self.ttl
        if self.codec is not None:
            meta["codec"] = self.codec
        if self.materialized is not None:
            meta["materialized"] = self.materialized
        if self.alias is not None:
            meta["alias"] = self.alias
        if self.comment is not None:
            meta["comment"] = self.comment
        return st.StructField(self.name, self.data_type, not self.required, meta)


_UNSIGNED_WIDEN = {8: st.ShortType(), 16: st.IntegerType(), 32: st.LongType(), 64: st.LongType()}
_SIGNED = {8: st.ByteType(), 16: st.ShortType(), 32: st.IntegerType(), 64: st.LongType()}


def _py_type_to_spark(tp: Any, annotations: dict) -> tuple[st.DataType, bool]:
    """(spark type, nullable).  Mirrors py_type_to_column_type
    (data_models.py:459-664)."""
    origin = get_origin(tp)

    # Annotated[T, markers...] — peel markers into annotations
    if origin is not None and str(origin).endswith("Annotated"):  # pragma: no cover
        origin = None
    metadata: tuple = ()
    if hasattr(tp, "__metadata__"):
        metadata = tp.__metadata__
        tp = tp.__origin__
        origin = get_origin(tp)

    # Collect EVERY marker before returning: a type-sizing marker must not
    # short-circuit past a Key/Default/TTL/Codec marker that follows it in
    # the Annotated metadata (Key[Int64] carries both; returning on the
    # sized-int marker silently dropped primary_key — and with it the
    # Replacing engine's sort keys).
    sized_dtype = None
    json_opts: ClickHouseJson | None = None
    for m in metadata:
        if isinstance(m, _SizedInt):
            annotations["ch_type"] = ("Int" if m.signed else "UInt") + str(m.bits)
            sized_dtype = _SIGNED[m.bits] if m.signed else _UNSIGNED_WIDEN[m.bits]
        if isinstance(m, _SizedFloat):
            annotations["ch_type"] = f"Float{m.bits}"
            sized_dtype = st.FloatType() if m.bits == 32 else st.DoubleType()
        if isinstance(m, _DecimalMarker):
            annotations["ch_type"] = f"Decimal({m.precision},{m.scale})"
            sized_dtype = st.DecimalType(m.precision, m.scale)
        if isinstance(m, _DateTime64Marker):
            annotations["ch_type"] = f"DateTime64({m.precision})"
            if m.precision > 6:
                annotations["truncated_to_micros"] = True
            sized_dtype = st.TimestampType()
        if isinstance(m, FixedString):
            annotations["ch_type"] = f"FixedString({m.length})"
            annotations["fixed_length"] = m.length
            sized_dtype = st.StringType()
        if isinstance(m, _KeyMarker):
            annotations["_primary_key"] = True
        if isinstance(m, _LowCardinalityMarker):
            annotations["low_cardinality"] = True
        if isinstance(m, ClickhouseDefault):
            annotations["_default"] = m.expression
        if isinstance(m, ClickHouseMaterialized):
            annotations["_materialized"] = m.expression
        if isinstance(m, ClickHouseAlias):
            annotations["_alias"] = m.expression
        if isinstance(m, ClickHouseTTL):
            annotations["_ttl"] = m.expression
        if isinstance(m, ClickHouseCodec):
            annotations["_codec"] = m.codec
        if isinstance(m, AggregateFunction):
            annotations["aggregate_function"] = m.function
            annotations["aggregate_args"] = list(m.arg_types and [str(a) for a in m.arg_types] or [])
        if isinstance(m, SimpleAggregateFunction):
            annotations["simple_aggregate_function"] = m.function
        if isinstance(m, JWTMarker):
            annotations["jwt"] = True
        if isinstance(m, ClickHouseJson):
            json_opts = m
    if sized_dtype is not None:
        return sized_dtype, False

    # Annotated[Model, ClickHouseJson(...)] — typed-path Json column
    # (data_models.py:597-637): declared fields = typed paths stored as
    # native struct columns; extra request fields = dynamic remainder
    # (JSON_DYNAMIC_FIELD string, lazily queried via get_json_object),
    # minus skip_paths/skip_regexps.
    if json_opts is not None and isinstance(tp, type) and issubclass(tp, BaseModel):
        if tp.model_config.get("extra") != "allow":
            raise ValueError(
                f"Model {tp.__name__} with ClickHouseJson must have "
                "model_config with extra='allow'. Add: model_config = "
                "ConfigDict(extra='allow')"
            )
        for fname, fld in tp.model_fields.items():
            if not fld.is_required():
                raise ValueError(
                    "Default in inner field. Put ClickHouseDefault in top "
                    "level field."
                )
        inner = to_columns(tp)
        for c in inner:
            if c.default is not None:
                raise ValueError(
                    "Default in inner field. Put ClickHouseDefault in top "
                    "level field."
                )
        annotations["ch_type"] = "Json"
        annotations["json_typed_paths"] = [c.name for c in inner]
        annotations["json_skip_paths"] = list(json_opts.skip_paths)
        annotations["json_skip_regexps"] = list(json_opts.skip_regexps)
        if json_opts.max_dynamic_paths is not None:
            annotations["json_max_dynamic_paths"] = json_opts.max_dynamic_paths
        if json_opts.max_dynamic_types is not None:
            annotations["json_max_dynamic_types"] = json_opts.max_dynamic_types
        fields = [c.to_struct_field() for c in inner]
        fields.append(st.StructField(JSON_DYNAMIC_FIELD, st.StringType(), True))
        return st.StructType(fields), False

    # Optional[T] / Union[T, None] -> nullable (data_models.py:327-332)
    if origin is Union:
        args = [a for a in get_args(tp) if a is not type(None)]
        if len(args) != 1:
            raise TypeError(f"only Optional[T] unions are supported, got {tp}")
        inner, _ = _py_type_to_spark(args[0], annotations)
        return inner, True

    # Literal['a','b'] -> LowCardinality string (data_models.py:638-640)
    if str(origin).endswith("Literal") or (origin is None and get_args(tp) and str(tp).startswith("typing.Literal")):
        values = get_args(tp)
        if all(isinstance(v, str) for v in values):
            annotations["low_cardinality"] = True
            annotations["enum_values"] = list(values)
            return st.StringType(), False
        if all(isinstance(v, int) for v in values):
            annotations["enum_values"] = list(values)
            return st.LongType(), False
        raise TypeError(f"Literal values must be all-str or all-int: {values}")

    # containers
    if origin is tuple:
        args = [a for a in get_args(tp) if a is not Ellipsis]
        if not args:
            args = [Any]
        if len(set(args)) == 1:
            # homogeneous tuple == fixed-length array; the geometry aliases
            # (Point/Ring/Polygon/MultiPolygon, data_models.py:197-202)
            # land here as nested float arrays — no native geo type
            elem_type, elem_nullable = _py_type_to_spark(args[0], {})
            return st.ArrayType(elem_type, elem_nullable), False
        # heterogeneous tuple -> CH Tuple == struct with positional fields
        fields = []
        for i, a in enumerate(args):
            ft, fn = _py_type_to_spark(a, {})
            fields.append(st.StructField(f"_{i + 1}", ft, fn))
        return st.StructType(fields), False
    if origin is list:
        (elem,) = get_args(tp) or (Any,)
        sub_ann: dict = {}
        elem_type, elem_nullable = _py_type_to_spark(elem, sub_ann)
        return st.ArrayType(elem_type, elem_nullable), False
    if origin is dict:
        args = get_args(tp)
        if not args:
            annotations["ch_type"] = "Json"  # bare dict == Json (:597-637)
            return st.StringType(), False
        k, v = args
        if v is Any:
            annotations["ch_type"] = "Json"
            return st.StringType(), False
        k_t, _ = _py_type_to_spark(k, {})
        sub_ann = {}
        v_t, v_null = _py_type_to_spark(v, sub_ann)
        return st.MapType(k_t, v_t, v_null), False

    # scalar leaves
    if tp is str:
        return st.StringType(), False
    if tp is bool:
        return st.BooleanType(), False
    if tp is int:
        annotations.setdefault("ch_type", "Int64")  # default int -> Int64 (:486-495)
        return st.LongType(), False
    if tp is float:
        annotations.setdefault("ch_type", "Float64")  # default float (:496-521)
        return st.DoubleType(), False
    if tp is PyDecimal:
        return st.DecimalType(38, 18), False
    if tp is dt.datetime:
        return st.TimestampType(), False
    if tp is dt.date:
        return st.DateType(), False
    if tp is bytes:
        return st.BinaryType(), False
    if tp is uuid.UUID:
        annotations["ch_type"] = "UUID"
        return st.StringType(), False
    if tp in (ipaddress.IPv4Address, ipaddress.IPv6Address):
        annotations["ch_type"] = "IPv4" if tp is ipaddress.IPv4Address else "IPv6"
        return st.StringType(), False
    if tp is Any:
        annotations["ch_type"] = "Json"  # dynamic Json column (:160-165)
        return st.StringType(), False

    # Enum subclass (:659-661): str-valued -> string, int-valued -> int
    if isinstance(tp, type) and issubclass(tp, PyEnum):
        values = [e.value for e in tp]
        annotations["enum_name"] = tp.__name__
        annotations["enum_values"] = values
        if all(isinstance(v, str) for v in values):
            return st.StringType(), False
        if all(isinstance(v, int) for v in values):
            return st.LongType(), False
        raise TypeError(f"Enum {tp} mixes str and int values")

    # nested Pydantic model -> struct (:655-658)
    if isinstance(tp, type) and issubclass(tp, BaseModel):
        return _model_struct(tp), False

    raise TypeError(f"unsupported field type: {tp!r}")


def _model_struct(model: type[BaseModel]) -> st.StructType:
    return st.StructType([c.to_struct_field() for c in to_columns(model)])


def to_columns(model: type[BaseModel]) -> list[Column]:
    """Reflect a Pydantic model into Column records (the reference's
    _to_columns, data_models.py:667-767)."""
    cols: list[Column] = []
    hints = get_type_hints(model, include_extras=True)
    for name, fld in model.model_fields.items():
        ann: dict = {}
        tp = hints.get(name, fld.annotation)
        dtype, nullable = _py_type_to_spark(tp, ann)
        # a field that defaults to None (``x: Any = None``) is optional
        nullable = nullable or (not fld.is_required() and fld.default is None)
        primary_key = bool(ann.pop("_primary_key", False))
        default = ann.pop("_default", None)
        materialized = ann.pop("_materialized", None)
        alias = ann.pop("_alias", None)
        ttl = ann.pop("_ttl", None)
        codec = ann.pop("_codec", None)
        cols.append(
            Column(
                name=name,
                data_type=dtype,
                required=not nullable,
                primary_key=primary_key,
                default=default,
                annotations=ann,
                ttl=ttl,
                codec=codec,
                materialized=materialized,
                alias=alias,
                comment=fld.description,
            )
        )
    return cols


def to_struct_type(model: type[BaseModel]) -> st.StructType:
    """Pydantic model -> Spark StructType with metadata."""
    return st.StructType([c.to_struct_field() for c in to_columns(model)])
