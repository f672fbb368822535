"""Row appends without a Spark job: OlapTable._append_rows and the ingest
DLQ write pyarrow part files from the driver (catalog/table.py
_write_arrow_part).  Checks that such a file reads back exactly as the
Spark write of the same rows, that a request body runs no Spark job, that
an isolate insert is one part, and that snapshot commits are O(names) and
put-if-absent across processes."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import subprocess
import sys
import time
import uuid
from decimal import Decimal
from enum import Enum
from typing import Annotated, Any, Literal, Optional

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as hs
from pydantic import BaseModel, ConfigDict
from pyspark.sql import types as st

from moosestack_spark.catalog.engines import OlapConfig
from moosestack_spark.catalog.table import InsertOptions, OlapTable, _write_arrow_part
from moosestack_spark.catalog.txlog import TxLog
from moosestack_spark.datamodel import ClickHouseJson, Float32, Int8, Key, clickhouse_decimal
from moosestack_spark.pipeline import IngestPipeline

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Color(str, Enum):
    RED = "red"
    BLUE = "blue"


class Inner(BaseModel):
    a: int
    b: Optional[str] = None


class Payload(BaseModel):
    model_config = ConfigDict(extra="allow")
    n: int


class Everything(BaseModel):
    id: Key[int]
    score: Optional[float] = None
    amount: clickhouse_decimal(10, 2)
    big: Decimal
    day: dt.date
    naive_ts: dt.datetime
    aware_ts: dt.datetime
    color: Color
    small: Int8
    f32: Float32
    flag: bool
    blob: bytes
    tags: list[str]
    scores: dict[str, float]
    pair: tuple[int, str]
    inner: Inner
    inners: list[Inner]
    payload: Annotated[Payload, ClickHouseJson()]
    maybe_day: Optional[dt.date] = None
    maybe_tags: Optional[list[Optional[str]]] = None


_OFFSETS = hs.sampled_from(
    [dt.timezone.utc, dt.timezone(dt.timedelta(hours=5, minutes=30)),
     dt.timezone(dt.timedelta(hours=-8))]
)
_TEXT = hs.text(max_size=8)
_FLOATS = hs.floats(allow_nan=True, allow_infinity=True)

_ROW = hs.fixed_dictionaries({
    "id": hs.integers(-(2**63), 2**63 - 1),
    "score": hs.none() | _FLOATS,
    "amount": hs.decimals(min_value=-(10**8), max_value=10**8,
                          allow_nan=False, allow_infinity=False),
    "big": hs.decimals(min_value=-(10**19), max_value=10**19,
                       allow_nan=False, allow_infinity=False),
    "day": hs.dates(),
    "naive_ts": hs.datetimes(),
    "aware_ts": hs.datetimes(timezones=_OFFSETS),
    "color": hs.sampled_from(["red", "blue"]),
    "small": hs.integers(-128, 127),
    "f32": hs.floats(width=32),
    "flag": hs.booleans(),
    "blob": hs.binary(max_size=8),
    "tags": hs.lists(_TEXT, max_size=3),
    "scores": hs.dictionaries(_TEXT, _FLOATS, max_size=3),
    "pair": hs.tuples(hs.integers(-5, 5), _TEXT),
    "inner": hs.fixed_dictionaries({"a": hs.integers(-5, 5), "b": hs.none() | _TEXT}),
    "inners": hs.lists(hs.fixed_dictionaries({"a": hs.integers(-5, 5)}), max_size=2),
    "payload": hs.fixed_dictionaries(
        {"n": hs.integers(-5, 5)}, optional={"extra": _TEXT, "more": hs.integers()}
    ),
    "maybe_day": hs.none() | hs.dates(),
    "maybe_tags": hs.none() | hs.lists(hs.none() | _TEXT, max_size=3),
})


def _example_row(**kw) -> dict:
    row = {
        "id": 1, "amount": Decimal("1.5"), "big": Decimal("2"), "day": dt.date(1, 1, 1),
        "naive_ts": dt.datetime(2024, 3, 10, 2, 30),
        "aware_ts": dt.datetime(1500, 1, 1, tzinfo=dt.timezone.utc), "color": "red",
        "small": -128, "f32": 0.1, "flag": True, "blob": b"\x00", "tags": [],
        "scores": {"x": math.inf}, "pair": (1, "a"), "inner": {"a": 1}, "inners": [],
        "payload": {"n": 1, "extra": "e"},
    }
    return {**row, **kw}


def _plain(v):
    """A collected value in a comparable form: Rows as dicts, NaN as a tag."""
    if hasattr(v, "asDict"):
        return _plain(v.asDict())
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _attempt(fn):
    try:
        fn()
    except Exception as exc:  # both paths must reject the same rows
        return exc
    return None


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow, HealthCheck.data_too_large])
@given(rows=hs.lists(_ROW, min_size=1, max_size=6))
@example(rows=[_example_row(amount=Decimal("99999999.995"))])  # rounds past Decimal(10,2)
@example(rows=[_example_row(score=s, id=i) for i, s in enumerate([1.0, None, math.nan, -0.0])])
def test_arrow_part_matches_spark_write(spark, tmp_path, rows):
    wh = str(tmp_path / uuid.uuid4().hex)
    config = OlapConfig(order_by_fields=["score", "id"])
    arrow = OlapTable("arrow", Everything, spark, wh, config=config, register=False)
    spark_t = OlapTable("spark", Everything, spark, wh, config=config, register=False)
    assert arrow._arrow_appendable()
    valid = [arrow._validate_row(r) for r in rows]

    arrow_err = _attempt(lambda: arrow._append_rows(valid))
    spark_err = _attempt(
        lambda: spark_t._append_df(spark.createDataFrame(valid, spark_t.schema).coalesce(1))
    )
    assert (arrow_err is None) == (spark_err is None), (arrow_err, spark_err)
    if arrow_err is not None:
        assert os.listdir(arrow.path) == [] and arrow._log.versions() == []
        return

    assert len(arrow._head_files()) == 1
    for read in (lambda t: t.read(), lambda t: spark.read.parquet(t.path)):
        a, s = read(arrow), read(spark_t)
        assert a.schema == s.schema
        # one sorted part each, so row order is the ORDER BY of both writers
        assert [_plain(r) for r in a.collect()] == [_plain(r) for r in s.collect()]


def test_arrow_parity_under_new_york_tz():
    """Naive datetimes are local time on both paths under any TZ."""
    env = {**os.environ, "TZ": "America/New_York"}
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         "tests/test_arrow_append.py::test_arrow_part_matches_spark_write"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]


def test_none_in_non_nullable_field_raises_and_writes_nothing(tmp_path):
    schema = st.StructType([st.StructField("a", st.LongType(), False)])
    with pytest.raises(ValueError, match="not nullable"):
        _write_arrow_part(str(tmp_path), [{"a": 1}, {"a": None}], schema, None, ())
    assert os.listdir(tmp_path) == []


class Ev(BaseModel):
    id: Key[int]
    kind: Literal["a", "b"]
    amount: float


def test_ingest_runs_no_spark_job(spark, tmp_path):
    pipe = IngestPipeline("jobless", Ev, spark, str(tmp_path / "wh"))
    records = [{"id": i, "kind": "a", "amount": float(i)} for i in range(100)]
    records[37]["kind"] = "bogus"
    sc = spark.sparkContext
    group = f"ingest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one ingest request")
    try:
        assert pipe.ingest(records) == {"inserted": 99, "dead_lettered": 1}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert pipe.table.read().count() == 99
    assert json.loads(pipe.read_dlq().collect()[0].original_record)["id"] == 37


class Doc(BaseModel):
    id: Key[int]
    payload: dict[str, Any]
    extra: Any = None


@pytest.mark.parametrize("config", [OlapConfig(order_by_fields=["id"]),
                                    OlapConfig(order_by_expression="id")],
                         ids=["arrow", "spark"])
def test_json_fields_store_json_text(spark, tmp_path, config):
    """Any and dict[str, Any] fields are stored as json.dumps text on both
    append paths, and an insert may omit the optional ``extra: Any = None``."""
    t = OlapTable("docs", Doc, spark, str(tmp_path / "wh"), config=config, register=False)
    assert t._arrow_appendable() == (config.order_by_expression is None)
    assert t.schema["extra"].nullable and not t.schema["payload"].nullable
    rows = [{"id": 0, "payload": {"q": 1, "tags": ["a"]}, "extra": {"k": None}},
            {"id": 1, "payload": {}, "extra": "s"},
            {"id": 2, "payload": {"q": 2.5}}]
    assert t.insert(rows).inserted == 3
    got = {r.id: (r.payload, r.extra) for r in t.read().collect()}
    assert got[2][1] is None
    assert {i: (json.loads(p), e if e is None else json.loads(e))
            for i, (p, e) in got.items()} == {
        0: ({"q": 1, "tags": ["a"]}, {"k": None}),
        1: ({}, "s"),
        2: ({"q": 2.5}, None),
    }


def test_isolate_insert_adds_one_data_file(spark, tmp_path):
    t = OlapTable("iso", Ev, spark, str(tmp_path / "wh"), register=False)
    rows = [{"id": i, "kind": "a", "amount": 1.0} for i in range(10)]
    rows[3]["kind"] = rows[8]["kind"] = "bogus"
    res = t.insert(rows, InsertOptions(strategy="isolate"))
    assert (res.inserted, res.failed) == (8, 2)
    files = t.snapshots()[-1]["files"]
    assert len(files) == 1 and os.listdir(t.path) == files


def test_commit_reads_no_manifest(spark, tmp_path, monkeypatch):
    """An append commit lists the log's names and reads none of its
    commits or checkpoints, however long the history."""
    t = OlapTable("hist", Ev, spark, str(tmp_path / "wh"), register=False)
    t.insert([{"id": 0, "kind": "a", "amount": 0.0}])
    for _ in range(199):
        t._commit("append")
    assert [s["version"] for s in t.snapshots()] == list(range(1, 201))
    reads = []
    for name in ("actions", "_read_checkpoint"):
        real = getattr(TxLog, name)
        monkeypatch.setattr(TxLog, name, lambda self, v, real=real: reads.append(v) or real(self, v))
    t.insert([{"id": 1, "kind": "b", "amount": 1.0}])
    assert reads == []
    monkeypatch.undo()
    head = t.snapshots()[-1]
    assert head["version"] == 201 and len(head["files"]) == 2


_APPENDER = r"""
import os, sys, time
from pydantic import BaseModel
from moosestack_spark.catalog.table import OlapTable
from moosestack_spark.datamodel import Key

class Ev(BaseModel):
    id: Key[int]
    kind: str
    amount: float

wh, k = sys.argv[1], int(sys.argv[2])
t = OlapTable("shared", Ev, None, wh, register=False)  # row appends need no session
open(os.path.join(wh, f"ready{k}"), "w").close()
while not os.path.exists(os.path.join(wh, "go")):
    time.sleep(0.001)
for i in range(20):
    t.insert([{"id": 1000 * k + i, "kind": "p", "amount": 1.0}])
"""


def test_two_processes_append_to_one_table(spark, tmp_path):
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    env = {**os.environ, "PYTHONPATH": REPO}
    procs = [
        subprocess.Popen([sys.executable, "-c", _APPENDER, wh, str(k)], env=env,
                         stderr=subprocess.PIPE, text=True)
        for k in range(2)
    ]
    try:
        deadline = time.monotonic() + 120
        while not all(os.path.exists(os.path.join(wh, f"ready{k}")) for k in range(2)):
            assert time.monotonic() < deadline and all(p.poll() is None for p in procs)
            time.sleep(0.01)
        open(os.path.join(wh, "go"), "w").close()
        errors = [p.communicate(timeout=120)[1] for p in procs]
    finally:
        for p in procs:
            p.kill()
    assert [p.returncode for p in procs] == [0, 0], errors
    t = OlapTable("shared", Ev, spark, wh, register=False)
    assert t._log.versions() == list(range(1, 41))
    head = t.snapshots()[-1]["files"]
    assert len(head) == 40 and head == sorted(os.listdir(t.path))
    assert sorted(r.id for r in t.read().collect()) == sorted(
        1000 * k + i for k in range(2) for i in range(20)
    )
