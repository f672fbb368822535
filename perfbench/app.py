"""The application under test: one process, the engine's own SparkSession.

    python3 perfbench/app.py --workload serve --data DIR --warehouse DIR --trace 0

The engine is imported from the checkout this file sits in.
It builds the workload's fixtures through the engine's public surface,
starts a ``MooseHttpServer`` on an ephemeral localhost port (``serve`` and
the ingest workloads) and then answers control commands, one JSON object per line,
on stdin.  Replies go to stdout as lines starting with ``@@ `` so that
anything else the engine prints cannot be mistaken for one.

Commands: ``mark`` (start of the measured phase), ``stats`` (layer
counters since the mark), ``pass`` (one ``headline`` pass), ``check``
(``headline`` queries against their oracles) and ``quit``.

With ``--trace 1`` every second request of each endpoint or pipeline,
and every second run of each ``headline`` query, is traced: its calls
into the engine's layers are timed here and its Spark jobs run in their
own job group, whose jobs and stages are read back from Spark's status
store at ``stats``.  The untraced operations of the same run give the
tracing overhead by comparison.
"""

from __future__ import annotations

import argparse
import datetime as dt
import itertools
import json
import os
import sys
import threading
import time
from enum import Enum
from typing import Literal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pydantic import BaseModel, Field  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__  # noqa: E402
from moosestack_spark import tables  # noqa: E402
from moosestack_spark.api import Api, ApiUtils  # noqa: E402
from moosestack_spark.catalog.engines import OlapConfig, ReplacingMergeTree  # noqa: E402
from moosestack_spark.catalog.materialized_view import (  # noqa: E402
    AggSpec,
    IncrementalAggregateView,
)
from moosestack_spark.catalog.table import OlapTable  # noqa: E402
from moosestack_spark.datamodel import Key  # noqa: E402
from moosestack_spark.http_server import MooseHttpServer  # noqa: E402
from moosestack_spark.pipeline import IngestPipeline  # noqa: E402
from moosestack_spark.query_layer.model import QueryModel, QueryRequest  # noqa: E402
from moosestack_spark.session import get_spark  # noqa: E402
from moosestack_spark.sql.ch_functions import ch  # noqa: E402

from tests.oracle_harness import compare_query  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workloads import HEADLINE, ingest_pipelines  # noqa: E402

BAR_ORDER = Literal["total_rows", "rows_with_text", "max_text_length", "total_text_length"]


def reply(obj: dict) -> None:
    sys.stdout.write("@@ " + json.dumps(obj, default=str) + "\n")
    sys.stdout.flush()


# -- data models --------------------------------------------------------------


class Event(BaseModel):
    event_id: Key[int]
    ts: dt.datetime
    user_id: int
    event_type: Literal["click", "error", "purchase", "signup", "view"]
    value: float
    props: str


class Baz(str, Enum):
    QUX = "QUX"
    QUUX = "QUUX"


class Bar(BaseModel):
    primary_key: Key[str]
    utc_timestamp: dt.datetime
    baz: Baz = Baz.QUX
    has_text: bool
    text_length: int


class TopCustomersParams(BaseModel):
    segment: Literal["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    since: dt.date
    until: dt.date
    limit: int = Field(default=10, ge=1, le=100)


class DailyEventsParams(BaseModel):
    event_type: Literal["click", "error", "purchase", "signup", "view"]
    start: dt.date
    end: dt.date


class BarParams(BaseModel):
    order_by: BAR_ORDER = "total_rows"
    limit: int = Field(default=5, ge=1, le=100)
    start_day: int = Field(default=1, ge=1, le=31)
    end_day: int = Field(default=31, ge=1, le=31)


class PricingParams(BaseModel):
    shipped_since: dt.date
    shipped_until: dt.date
    min_discount: float = Field(ge=0.0, le=0.1)
    max_discount: float = Field(ge=0.0, le=0.1)


# -- tracing ------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: one record per traced operation.

    ``pick()`` decides, per operation kind, whether this operation is
    traced (every second one).  A traced operation runs its Spark jobs in
    a job group of its own; ``resolve()`` reads those jobs back from the
    status store once the listener bus has caught up."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.lock = threading.Lock()
        self.spans: list[dict] = []
        self.seq: dict[str, itertools.count] = {}
        self.ids = itertools.count()
        self.local = threading.local()

    def pick(self, kind: str) -> bool:
        with self.lock:
            n = next(self.seq.setdefault(kind, itertools.count()))
        return n % 2 == 0

    def begin(self, kind: str, key: str) -> dict:
        with self.lock:
            span = {"kind": kind, "key": key, "group": f"perfbench-{kind}-{next(self.ids)}"}
        self.sc.setJobGroup(span["group"], kind)
        span["start"] = time.monotonic()
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.monotonic()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        with self.lock:
            self.spans.append(span)

    def resolve(self) -> list[dict]:
        """Attach job and stage counters to every span with a job group."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        empty_list = self.jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        for _ in range(50):  # the listener bus is asynchronous
            pending = [
                j
                for s in self.spans
                for j in tracker.getJobIdsForGroup(s["group"])
                if store.job(j).status().toString() == "RUNNING"
            ]
            if not pending:
                break
            time.sleep(0.1)
        for s in self.spans:
            if "jobs" in s:
                continue
            jobs = tracker.getJobIdsForGroup(s["group"])
            s.update(jobs=len(jobs), job_ms=0.0, cpu_ms=0.0, run_ms=0.0, task_gc_ms=0.0,
                     shuffle_bytes=0, spill_bytes=0)
            for j in jobs:
                jd = store.job(j)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    s["job_ms"] += (jd.completionTime().get().getTime()
                                    - jd.submissionTime().get().getTime())
                for sid in filter(None, jd.stageIds().mkString(",").split(",")):
                    try:
                        sd = store.stageAttempt(int(sid), 0, False, empty_list, False,
                                                no_quantiles)._1()
                    except Exception:  # skipped stages have no attempt
                        continue
                    s["cpu_ms"] += sd.executorCpuTime() / 1e6
                    s["run_ms"] += sd.executorRunTime()
                    s["task_gc_ms"] += sd.jvmGcTime()
                    s["shuffle_bytes"] += sd.shuffleWriteBytes()
                    s["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return self.spans


def counters(spark) -> dict:
    """Process-wide JVM counters: GC, codegen and persisted RDDs."""
    jvm = spark.sparkContext._jvm
    gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "gc_ms": float(sum(g.getCollectionTime() for g in gcs)),
        "codegen_ms": codegen.compileTime() / 1e6,
        "codegen_classes": metrics.METRIC_COMPILATION_TIME().getCount(),
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
    }


def peak_rss_mb(spark) -> dict:
    """VmHWM of this process and of its JVM, from /proc."""
    def hwm(pid: int) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return {"python": hwm(os.getpid()), "jvm": hwm(jvm_pid)}


# -- workloads ----------------------------------------------------------------


class TracedApi(Api):
    """An Api whose ``call_json`` is a span when the tracer picks it.  The
    handler span inside it (``build``) is opened by ``traced_handler``."""

    tracer: Tracer | None = None

    def call_json(self, spark, jwt=None, limit=None, **raw_params):
        tr = self.tracer
        if tr is None or not tr.pick(self.name):
            return super().call_json(spark, jwt=jwt, limit=limit, **raw_params)
        key = dict(raw_params, **({"limit": limit} if limit is not None else {}))
        span = tr.begin(self.name, json.dumps(key, sort_keys=True))
        tr.local.build_ms = 0.0
        try:
            return super().call_json(spark, jwt=jwt, limit=limit, **raw_params)
        finally:
            tr.end(span)
            span["build_ms"] = tr.local.build_ms


def traced_handler(fn):
    def handler(params, utils: ApiUtils):
        t0 = time.monotonic()
        try:
            return fn(params, utils)
        finally:
            if TracedApi.tracer is not None:
                TracedApi.tracer.local.build_ms = (time.monotonic() - t0) * 1e3

    return handler


def setup_serve(spark, data: str, warehouse: str) -> None:
    # top_customers: orders x customer read through tables.t on every call
    def top_customers(p: TopCustomersParams, u: ApiUtils):
        o = tables.t(u.spark, data, "orders").filter(
            (F.col("o_orderdate") >= F.lit(p.since.isoformat()).cast("date"))
            & (F.col("o_orderdate") < F.lit(p.until.isoformat()).cast("date"))
        )
        c = tables.t(u.spark, data, "customer").filter(F.col("c_mktsegment") == p.segment)
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_custkey", "c_name")
            .agg(
                F.count(F.lit(1)).alias("orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
            )
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(p.limit)
        )

    # daily_events: a QueryModel over a ReplacingMergeTree table
    events = OlapTable(
        "events_rmt", Event, spark, warehouse,
        OlapConfig(order_by_fields=["event_id"], engine=ReplacingMergeTree()),
    )
    events.seed_from(tables.t(spark, data, "events"))

    def daily_events(p: DailyEventsParams, u: ApiUtils):
        model = QueryModel(
            source=events.read(),
            dimensions={"day": F.date_format("ts", "yyyy-MM-dd"), "event_type": "event_type"},
            metrics={
                "events": F.count(F.lit(1)),
                "users": F.countDistinct("user_id"),
                "value": F.sum(F.col("value").cast("decimal(18,2)")),
            },
        )
        return model.query(QueryRequest(
            dimensions=["day"],
            metrics=["events", "users", "value"],
            filters=[("event_type", "eq", p.event_type),
                     ("day", "between", (p.start.isoformat(), p.end.isoformat()))],
            order_by=[("day", "asc")],
            limit=31,
        ))

    # bar_rollup: the Bar -> IncrementalAggregateView -> Api slice
    import pyarrow.parquet as pq

    bar = OlapTable("Bar", Bar, spark, warehouse)
    bar.insert(pq.read_table(os.path.join(data, "bar.parquet")).to_pylist())
    src = bar.read().select(
        ch.toDayOfMonth("utc_timestamp").cast("bigint").alias("day_of_month"),
        "has_text",
        "text_length",
    )
    IncrementalAggregateView(
        group_keys=["day_of_month"],
        aggs=[
            AggSpec("total_rows", "count"),
            AggSpec("rows_with_text", "count_if", cond=F.col("has_text")),
            AggSpec("total_text_length", "sum", expr=F.col("text_length")),
            AggSpec("max_text_length", "max", expr=F.col("text_length")),
        ],
    ).populate(src).read().createOrReplaceTempView("bar_aggregated")

    def bar_rollup(p: BarParams, u: ApiUtils):
        return (
            u.spark.table("bar_aggregated")
            .filter((F.col("day_of_month") >= p.start_day) & (F.col("day_of_month") <= p.end_day))
            .orderBy(F.desc(p.order_by), F.asc("day_of_month"))
            .limit(p.limit)
        )

    # pricing_summary: the sql template over lineitem
    tables.register_views(spark, data, only=["lineitem"])

    def pricing_summary(p: PricingParams, u: ApiUtils):
        return u.sql(
            "SELECT l_returnflag, l_linestatus, "
            "SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty, "
            "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price, "
            "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) "
            "AS sum_disc_price, COUNT(*) AS count_order "
            "FROM lineitem WHERE l_shipdate >= ", p.shipped_since,
            " AND l_shipdate < ", p.shipped_until,
            " AND l_discount BETWEEN ", p.min_discount, " AND ", p.max_discount,
            " GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        )

    TracedApi("top_customers", TopCustomersParams, traced_handler(top_customers))
    TracedApi("daily_events", DailyEventsParams, traced_handler(daily_events))
    TracedApi("bar_rollup", BarParams, traced_handler(bar_rollup))
    TracedApi("pricing_summary", PricingParams, traced_handler(pricing_summary))


def setup_ingest(spark, workload: str, warehouse: str, tracer: Tracer | None
                 ) -> list[IngestPipeline]:
    pipes = [IngestPipeline(name, Event, spark, warehouse)
             for name in ingest_pipelines(workload)]
    if tracer is not None:
        for pipe in pipes:
            pipe.ingest = _traced_ingest(pipe.ingest, pipe.name, tracer)
    return pipes


def _traced_ingest(ingest, name: str, tracer: Tracer):
    def traced(records):
        if not tracer.pick(name):
            return ingest(records)
        span = tracer.begin(name, str(records[0].get("event_id")) if records else "")
        try:
            return ingest(records)
        finally:
            tracer.end(span)

    return traced


class Headline:
    """Sequential passes over the HEADLINE queries: build through the
    registry, force the physical plan, write to a ``noop`` sink."""

    def __init__(self, spark, data: str, tracer: Tracer | None):
        self.spark, self.data, self.tracer = spark, data, tracer
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        missing = [q for q in HEADLINE if q not in self.queries or q not in self.oracles]
        if missing:
            raise KeyError(f"HEADLINE queries without a registered query and oracle: {missing}")
        self.passes = 0

    def run_pass(self) -> list[dict]:
        """One record per query, in the shape of the load generator's."""
        n, self.passes = self.passes, self.passes + 1
        out = []
        for i, name in enumerate(HEADLINE):
            rec = {"k": n * len(HEADLINE) + i, "pass": n, "endpoint": name, "status": 200,
                   "start": time.monotonic()}
            # half of the queries are traced in even passes, half in odd
            # ones, so that drift between passes cancels in the overhead
            tr = self.tracer
            traced = tr is not None and tr.pick(name) != (i % 2 == 1)
            span = tr.begin(name, name) if traced else None
            t0 = time.monotonic()
            df = self.queries[name](self.spark, self.data)
            t1 = time.monotonic()
            df._jdf.queryExecution().executedPlan()
            t2 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.monotonic()
            if span is not None:
                tr.end(span)
            rec.update(end=time.monotonic(), build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
            out.append(rec)
        return out

    def check(self, names: list[str]) -> dict:
        """Each query against its ``oracle_sql()`` in DuckDB, compared
        exactly by the engine's own oracle harness; one timing record per
        query."""
        failed, records = {}, []
        for name in names:
            rec = {"endpoint": name, "status": 200, "start": time.monotonic()}
            ok, msg = compare_query(self.spark, name, self.queries[name], self.oracles[name],
                                    self.data)
            records.append(dict(rec, end=time.monotonic()))
            if not ok:
                failed[name] = msg
        return {"ok": not failed, "checked": names, "failed": failed, "records": records}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "ingest", "ingest_shared", "headline"])
    ap.add_argument("--data", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    t0 = time.monotonic()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.monotonic()
    tracer = Tracer(spark) if args.trace else None
    TracedApi.tracer = tracer if args.workload == "serve" else None

    server = headline = None
    if args.workload == "serve":
        setup_serve(spark, args.data, args.warehouse)
        server = MooseHttpServer(spark)
    elif args.workload.startswith("ingest"):
        server = MooseHttpServer(spark)
        for pipe in setup_ingest(spark, args.workload, args.warehouse, tracer):
            server.add_pipeline(pipe)
    else:
        headline = Headline(spark, args.data, tracer)
    port = server.start() if server else 0
    conf = spark.sparkContext.getConf().getAll()
    reply({
        "ready": True, "port": port,
        "session_s": t_session - t0, "fixtures_s": time.monotonic() - t_session,
        "spark_conf": {k: v for k, v in sorted(conf) if not k.endswith("JavaOptions")},
    })

    mark = counters(spark)
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "mark":
            if tracer is not None:
                tracer.spans.clear()
            mark = counters(spark)
            reply({"marked": True})
        elif cmd["cmd"] == "pass":
            reply({"records": headline.run_pass()})
        elif cmd["cmd"] == "check":
            reply({"check": headline.check(cmd["queries"])})
        elif cmd["cmd"] == "stats":
            now = counters(spark)
            stats = {k: now[k] - mark[k] for k in now}
            stats["persisted_rdds_now"] = now["persisted_rdds"]
            stats["peak_rss_mb"] = peak_rss_mb(spark)
            stats["spans"] = tracer.resolve() if tracer is not None else []
            reply({"stats": stats})
        elif cmd["cmd"] == "quit":
            break
    if server is not None:
        server.stop()
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the JVM exits when this pipe closes; wait for it
    jvm.wait(timeout=60)
    reply({"stopped": True})


if __name__ == "__main__":
    main()
