"""Span tracing for the traced run.

Wrappers are installed on each layer's public functions from here, so
the package itself is untouched. A wrapper records a span only while an
op is being traced (``OP`` set in the caller's context); otherwise it
passes straight through. ``asyncio.to_thread`` copies the context into
its worker thread, so spans opened inside an engine call made through
``AsyncVectorDBEngine`` still know their op.

After the run, ``per_layer_metrics`` reads every traced op's Spark jobs
(one job group per op) from the status tracker and the SQL status
store, and splits each op's latency into layer self times: an instant
covered by a Spark job belongs to ``spark``, any other instant to the
innermost Python span open at that instant, and the rest to the
client (``client``: the benchmark's own call and, on the async path,
the wait for a worker thread).
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import os
import re
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

OP: contextvars.ContextVar = contextvars.ContextVar("perfbench_op", default=None)
_STACK: contextvars.ContextVar = contextvars.ContextVar("perfbench_stack", default=())

LAYERS = [
    "client", "engine", "catalog", "metastore", "store", "filters",
    "operators", "qfam", "spark",
]
ENGINE_OPS = [
    "search", "search_by_id", "hybrid_search", "fulltext_search", "query",
    "count", "upsert", "delete", "update",
]
SPARK_OPS = ["search", "hybrid_search", "fulltext_search", "upsert", "delete"]
SQL_FIELDS = {
    "sql.scan_bytes_per_op": ("size of files read",),
    "sql.shuffle_bytes_per_op": ("shuffle bytes written",),
    "sql.spill_bytes_per_op": ("spill size",),
    "sql.python_worker_ms_per_op": (
        "time to start Python workers",
        "time to initialize Python workers",
        "time to run Python workers",
    ),
    "sql.broadcast_collect_ms_per_op": ("time to collect",),
}


@dataclass
class Op:
    id: int
    name: str
    t0: float = 0.0
    t1: float = 0.0
    engine_start: float | None = None

    @property
    def group(self) -> str:
        return f"perfbench-op-{self.id}"


@dataclass
class Span:
    op: int
    id: int
    parent: int
    layer: str
    name: str
    t0: float
    t1: float
    bytes: int = 0


@dataclass
class Tracer:
    spark: object
    async_client: bool = False
    spans: list = field(default_factory=list)
    ops: list = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _lock: threading.Lock = field(default_factory=threading.Lock)

    # -- op scope ------------------------------------------------------------

    def begin(self, op: Op):
        """Mark ``op`` as traced in the current context; returns a token
        for ``end``. Spark jobs launched from this thread join its group."""
        self.spark.sparkContext.setJobGroup(op.group, op.name)
        op.t0 = time.time()
        return OP.set(op)

    def end(self, op: Op, token) -> None:
        op.t1 = time.time()
        OP.reset(token)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        with self._lock:
            self.ops.append(op)

    # -- wrappers ------------------------------------------------------------

    def span(self, layer: str, name: str, fn, *, bytes_of=None, engine=False):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            op = OP.get()
            if op is None:
                return fn(*args, **kwargs)
            stack = _STACK.get()
            sid = next(tracer._ids)
            token = _STACK.set(stack + (sid,))
            t0 = time.time()
            if engine and not stack:
                # the engine call may run in a worker thread: its jobs
                # must join the op's group from this thread too
                op.engine_start = t0
                tracer.spark.sparkContext.setJobGroup(op.group, op.name)
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.time()
                _STACK.reset(token)
                if engine and not stack:
                    tracer.spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None)
            s = Span(op.id, sid, stack[-1] if stack else 0, layer, name, t0, t1)
            if bytes_of is not None:
                s.bytes = bytes_of(args, kwargs, out)
            with tracer._lock:
                tracer.spans.append(s)
            return out

        return wrapped


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _store_write_bytes(args, kwargs, version) -> int:
    store, _df, db, coll = args[:4]
    root = store.root.removeprefix("file:")
    return dir_bytes(f"{root}/{db}/{coll}/v{version}")


def install(tracer: Tracer) -> None:
    """Wrap each layer's public functions for the rest of the process.
    Module-level names are patched in every package module that holds
    the same function object (e.g. ``engine.translate_filter`` is
    ``filters.translate`` bound at import), so every caller's lookup
    reaches the wrapper."""
    from aiotcvectordb_spark import catalog, engine, metastore
    from aiotcvectordb_spark.functions import filters
    from aiotcvectordb_spark.operators import fulltext, hybrid, knn
    from aiotcvectordb_spark.sources import parquet_store

    def patch_attr(owner, name, layer, label, **kw):
        setattr(owner, name, tracer.span(layer, label, getattr(owner, name), **kw))

    for op in ENGINE_OPS:
        patch_attr(engine.VectorDBEngine, op, "engine", f"engine.{op}", engine=True)
    for name in ("get_collection", "put_collection"):
        patch_attr(catalog.Catalog, name, "catalog", f"catalog.{name}")
    for name in ("load", "save"):
        patch_attr(metastore.JsonState, name, "metastore", f"metastore.{name}")
    patch_attr(parquet_store.ParquetStore, "read", "store", "store.read")
    patch_attr(parquet_store.ParquetStore, "write", "store", "store.write",
               bytes_of=_store_write_bytes)
    patch_attr(parquet_store.ParquetStore, "current_version", "store",
               "store.current_version")

    functions = [
        (filters.translate, "filters", "filters.translate"),
        (knn.knn_search, "operators", "knn.knn_search"),
        (knn.search_by_id, "operators", "knn.search_by_id"),
        (hybrid.hybrid_search_df, "operators", "hybrid.hybrid_search_df"),
        (fulltext.fulltext_search_df, "operators", "fulltext.fulltext_search_df"),
    ]
    for fn, layer, label in functions:
        wrapped = tracer.span(layer, label, fn)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("aiotcvectordb_spark"):
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapped)


# -- reading Spark's status stores ---------------------------------------------

_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "ns": 1e-6,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9.,]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value (``12.3 MiB``, ``1.2 s``, ``42``,
    or the multi-line ``total (min, med, max ...)`` form) as bytes, ms
    or a count."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


@dataclass
class Job:
    id: int
    t0: float
    t1: float
    stages: int
    tasks: int


def spark_jobs(spark, group: str) -> list[Job]:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        stages = tasks = 0
        for sid in info.stageIds if info else []:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:
                continue
            if sd.status().toString() == "COMPLETE":
                stages += 1
                tasks += sd.numTasks()
        out.append(Job(jid, sub.get().getTime() / 1000, done.get().getTime() / 1000,
                       stages, tasks))
    return out


def sql_metrics(spark, job_ids: set[int]) -> dict[int, dict[str, float]]:
    """Per job id: summed SQL metrics (by metric name) of the SQL
    executions that ran it. An execution's metrics are credited to its
    lowest job id among ``job_ids``."""
    wanted = {n for names in SQL_FIELDS.values() for n in names}
    sq = spark._jsparkSession.sharedState().statusStore()
    executions = sq.executionsList()
    out: dict[int, dict[str, float]] = {}
    for k in range(executions.size()):
        e = executions.apply(k)
        jobs = {int(x) for x in e.jobs().keys().mkString(",").split(",") if x}
        hit = sorted(jobs & job_ids)
        if not hit:
            continue
        defs = {}
        for m in e.metrics().mkString("\x01").split("\x01"):
            inner = m[m.index("(") + 1: m.rindex(")")]
            name, acc, _kind = inner.rsplit(",", 2)
            if name in wanted:
                defs[acc] = name
        vals = sq.executionMetrics(e.executionId()).mkString("\x01").split("\x01")
        acc_totals = out.setdefault(hit[0], {})
        for kv in vals:
            acc, _, text = kv.partition(" -> ")
            name = defs.get(acc.strip())
            if name:
                acc_totals[name] = acc_totals.get(name, 0.0) + parse_metric(text)
    return out


def drain_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# -- per-op analysis -----------------------------------------------------------


def self_times(op: Op, spans: list[Span], jobs: list[Job]) -> dict[str, float]:
    """Split [op.t0, op.t1] into layer self times (seconds) that sum to
    the op's latency: Spark job time first, then the innermost span."""
    depth = {0: 0}
    for s in sorted(spans, key=lambda s: s.t0):
        depth[s.id] = depth.get(s.parent, 0) + 1
    points = {op.t0, op.t1}
    for s in spans:
        points.update((s.t0, s.t1))
    for j in jobs:
        points.update((j.t0, j.t1))
    points = sorted(p for p in points if op.t0 <= p <= op.t1)
    out = dict.fromkeys(LAYERS, 0.0)
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        if any(j.t0 <= mid < j.t1 for j in jobs):
            layer = "spark"
        else:
            open_spans = [s for s in spans if s.t0 <= mid < s.t1]
            layer = (max(open_spans, key=lambda s: depth[s.id]).layer
                     if open_spans else "client")
        out[layer] += b - a
    return out


def unit_of(metric: str) -> str:
    if "_ms" in metric:
        return "ms"
    if "bytes" in metric:
        return "bytes"
    return "%" if metric.endswith("_pct") else "count"


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer_metrics(tracer: Tracer, pipelines: list[str],
                      overhead_pct: float) -> tuple[dict, dict]:
    """Every per-layer metric (0 where the workload never reaches the
    layer), plus the per-op-type layer self-time table."""
    spark = tracer.spark
    drain_listeners(spark)
    ops = sorted(tracer.ops, key=lambda o: o.id)
    n = max(len(ops), 1)
    by_op: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    jobs = {o.id: spark_jobs(spark, o.group) for o in ops}
    all_jobs = {j.id for js in jobs.values() for j in js}
    sqlm = sql_metrics(spark, all_jobs)

    def op_sql(o: Op, names) -> float:
        return sum(sqlm.get(j.id, {}).get(nm, 0.0) for j in jobs[o.id] for nm in names)

    def spans_of(layer_or_name: str):
        return [s for s in tracer.spans
                if s.layer == layer_or_name or s.name == layer_or_name]

    def busy_ms(spans) -> float:
        return sum(s.t1 - s.t0 for s in spans) * 1000 / n

    selfs = {o.id: self_times(o, by_op.get(o.id, []), jobs[o.id]) for o in ops}
    m: dict[str, float] = {}
    waits = [(o.engine_start - o.t0) * 1000 for o in ops if o.engine_start]
    m["aio.wait_ms_p50"] = _p50(waits) if tracer.async_client else 0.0
    for name in ENGINE_OPS:
        m[f"engine.{name}.self_ms_p50"] = _p50(
            [selfs[o.id]["engine"] * 1000 for o in ops if o.name == name])
    cat = spans_of("catalog")
    m["catalog.calls_per_op"] = len(cat) / n
    m["catalog.busy_ms_per_op"] = busy_ms(cat)
    m["metastore.loads_per_op"] = len(spans_of("metastore.load")) / n
    m["metastore.saves_per_op"] = len(spans_of("metastore.save")) / n
    m["metastore.busy_ms_per_op"] = busy_ms(spans_of("metastore"))
    reads, writes = spans_of("store.read"), spans_of("store.write")
    m["store.read.calls_per_op"] = len(reads) / n
    m["store.read.busy_ms_per_op"] = busy_ms(reads)
    m["store.write.busy_ms_p50"] = _p50([(s.t1 - s.t0) * 1000 for s in writes])
    m["store.write.bytes_per_op"] = sum(s.bytes for s in writes) / n
    m["store.version_lookups_per_op"] = len(spans_of("store.current_version")) / n
    m["filters.busy_ms_per_op"] = busy_ms(spans_of("filters"))
    for short, label in (("knn", "knn."), ("hybrid", "hybrid."), ("fulltext", "fulltext.")):
        outer = [s for s in tracer.spans if s.name.startswith(label)
                 and not any(p.name.startswith(label) for p in by_op[s.op]
                             if p.id == s.parent)]
        m[f"{short}.build_ms_p50"] = _p50([(s.t1 - s.t0) * 1000 for s in outer])
    for name in SPARK_OPS:
        of = [o for o in ops if o.name == name]
        m[f"spark.{name}.jobs"] = _p50([len(jobs[o.id]) for o in of])
        m[f"spark.{name}.stages"] = _p50([sum(j.stages for j in jobs[o.id]) for o in of])
        m[f"spark.{name}.tasks"] = _p50([sum(j.tasks for j in jobs[o.id]) for o in of])
    m["spark.exec_ms_p50"] = _p50([selfs[o.id]["spark"] * 1000 for o in ops])
    for key, names in SQL_FIELDS.items():
        m[key] = sum(op_sql(o, names) for o in ops) / n
    for p in pipelines:
        of = [o for o in ops if o.name == p]
        sp = [s for s in tracer.spans if any(o.id == s.op for o in of)]
        m[f"qfam.{p}.build_ms"] = _p50(
            [(s.t1 - s.t0) * 1000 for s in sp if s.name == "qfam.build"])
        m[f"qfam.{p}.exec_ms"] = _p50(
            [(s.t1 - s.t0) * 1000 for s in sp if s.name == "qfam.exec"])
        m[f"qfam.{p}.jobs"] = _p50([len(jobs[o.id]) for o in of])
        m[f"qfam.{p}.stages"] = _p50([sum(j.stages for j in jobs[o.id]) for o in of])
        m[f"qfam.{p}.shuffle_bytes"] = _p50(
            [op_sql(o, SQL_FIELDS["sql.shuffle_bytes_per_op"]) for o in of])
        m[f"qfam.{p}.python_ms"] = _p50(
            [op_sql(o, SQL_FIELDS["sql.python_worker_ms_per_op"]) for o in of])
    for layer in LAYERS:
        m[f"layer.{layer}.self_ms_per_op"] = sum(
            selfs[o.id][layer] for o in ops) * 1000 / n
    m["trace.overhead_pct"] = overhead_pct

    table: dict[str, dict[str, float]] = {}
    for o in ops:
        row = table.setdefault(o.name, {"n": 0, "latency_ms": 0.0,
                                        **dict.fromkeys(LAYERS, 0.0)})
        row["n"] += 1
        row["latency_ms"] += (o.t1 - o.t0) * 1000
        for layer, v in selfs[o.id].items():
            row[layer] += v * 1000
    for row in table.values():
        for k in ["latency_ms", *LAYERS]:
            row[k] /= row["n"]
    return m, table
