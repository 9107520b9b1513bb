"""Spans around the calls into each layer, recorded from outside.

The benchmark does not edit the program: ``install_layers`` rebinds the
layers' public functions (in every ``signaldb_spark`` module that holds
a reference to them) and PySpark's action methods to wrappers that
open a span, call the original and close the span. ``uninstall``
restores every binding. Spans live in memory and are written out when
the run ends.

A span's self time is its duration minus the part of it that its child
spans cover. Layer metrics are self times summed by span name.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.request_id: int | None = None
        self._stack: list[int] = []
        self._drains = 0  # stream drains the main thread is blocked in
        self._lock = threading.Lock()
        self._main = threading.main_thread()
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _recordable(self) -> bool:
        """Spans nest on one stack. Besides the main thread, a thread may
        record only while the main thread is blocked in a stream drain
        (foreachBatch sinks run on a callback thread then); pool threads
        that run beside the main thread are left out, and their time
        stays in the enclosing span's self time."""
        if not self.enabled or self.request_id is None:
            return False
        if threading.current_thread() is self._main:
            return True
        return self._drains > 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self._recordable():
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.perf_counter_ns(), "end": None,
                   "parent": self._stack[-1] if self._stack else None,
                   "request": self.request_id, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        drain = name == "streaming.drain" and threading.current_thread() is self._main
        self._drains += drain
        try:
            yield rec
        finally:
            self._drains -= drain
            with self._lock:
                rec["end"] = time.perf_counter_ns()
                self._stack.pop()

    # ------------------------------------------------------ installation

    def _rebind(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_function(self, module: str, attr: str, name: str, on_result=None) -> None:
        """Wrap ``module.attr`` and every other ``signaldb_spark`` module
        binding of the same object (``from x import f`` copies)."""
        target = getattr(importlib.import_module(module), attr)
        self.rebind_everywhere(target, self.wrap(target, name, on_result))

    def rebind_everywhere(self, target, wrapped) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("signaldb_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is target:
                    self._rebind(mod, k, wrapped)

    def wrap_method(self, cls, attr: str, name: str, on_result=None) -> None:
        self._rebind(cls, attr, self.wrap(getattr(cls, attr), name, on_result))

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` inside a span named ``name``; ``on_result(args, out)``
        may add attributes (counts) to the span."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and on_result is not None:
                    rec.update(on_result(args, out))
                return out

        return traced

    def wrap_spark_actions(self) -> None:
        """Split each ``collect`` into Catalyst optimization, physical
        planning and execution by forcing the DataFrame's own
        QueryExecution phases first (the action then reuses them).
        Other actions and writes count as execution."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        tracer = self
        collect = DataFrame.collect

        @functools.wraps(collect)
        def traced_collect(df):
            if not tracer._recordable():
                return collect(df)
            qe = df._jdf.queryExecution()
            with tracer.span("spark.optimize"):
                qe.optimizedPlan()
            with tracer.span("spark.plan"):
                qe.executedPlan()
            with tracer.span("spark.execute"):
                return collect(df)

        self._rebind(DataFrame, "collect", traced_collect)
        for cls, attr in ((DataFrame, "count"), (DataFrame, "toPandas"),
                          (DataFrame, "toLocalIterator"), (DataFrameWriter, "save"),
                          (DataFrameWriter, "parquet")):
            self.wrap_method(cls, attr, "spark.execute")

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._restore):
            setattr(owner, attr, old)
        self._restore.clear()


def install_layers(tracer: Tracer) -> None:
    """The layer boundaries the benchmark records, by public function."""
    from signaldb_spark import api, tenancy
    from signaldb_spark.storage.manifest import ManifestTable

    w = tracer.wrap_function
    # dialect front ends: parse, then plan construction (lowering)
    w("signaldb_spark.promql.parser", "parse", "promql.parse")
    w("signaldb_spark.logql.parser", "parse", "logql.parse")
    w("signaldb_spark.traceql.parser", "parse_traceql_expr", "traceql.parse")
    w("signaldb_spark.traceql.parser", "parse_traceql", "traceql.parse")
    w("signaldb_spark.promql.lowering", "query_range", "promql.build")
    for fn in ("query_logs", "query_metric", "query_instant"):
        w("signaldb_spark.logql.lowering", fn, "logql.build")
    for fn in ("search_traceql", "search", "find_by_id", "assemble_hierarchy"):
        w("signaldb_spark.traceql.trace_ops", fn, "traceql.build")
    w("signaldb_spark.ir.model", "validate", "ir.build")
    w("signaldb_spark.ir.planner", "lower", "ir.build")
    w("signaldb_spark.ir.metrics", "lower_metrics", "ir.build")
    for fn in ("matrix_to_prom", "matrix_to_instant_vector", "logs_to_loki_streams", "trace_to_tempo"):
        w("signaldb_spark.shapers", fn, "shapers")
    # catalog / tenancy
    w("signaldb_spark.catalog", "optional_table", "catalog.optional_table")
    tracer.wrap_method(tenancy.TenantSession, "refresh", "tenancy.refresh")
    # storage
    w("signaldb_spark.storage.manifest", "write_batch_manifest", "storage.commit")
    w("signaldb_spark.storage.manifest", "collect_file_stats", "storage.stats")
    tracer.wrap_method(ManifestTable, "commit", "storage.manifest_commit",
                       lambda a, out: {"files": len(a[1])})
    tracer.wrap_method(ManifestTable, "pruned_files_point", "storage.point_prune",
                       lambda a, out: {"files": len(out[0])})
    tracer.wrap_method(ManifestTable, "read_recent_topk", "storage.topk",
                       lambda a, out: {"files": out[1]})
    # sources: decode plans built in this process (protobuf parsing runs in
    # Spark's Python workers inside the commit's job and is counted there)
    w("signaldb_spark.sources.otlp", "flatten_otlp_logs", "sources.decode")
    w("signaldb_spark.sources.otlp", "flatten_otlp_traces", "sources.decode")
    w("signaldb_spark.sources.otlp", "with_dead_letter_flag", "sources.decode")
    # streaming / maintenance
    w("signaldb_spark.streaming.ingest", "ingest_otlp_logs_stream", "streaming.drain")
    w("signaldb_spark.streaming.ingest", "ingest_otlp_pb_stream", "streaming.drain")
    w("signaldb_spark.maintenance.jobs", "maintenance_cycle", "maintenance.cycle")
    # facade routes: the route method's own glue
    for attr, val in list(vars(api.SignalDBAPI).items()):
        if callable(val) and not attr.startswith("_"):
            tracer.wrap_method(api.SignalDBAPI, attr, "api")
    # memo accounting: a relation memo call is a hit when its key is present
    from signaldb_spark import catalog

    memo_fn = catalog.relation_memo

    def counted(spark, key, build):
        hit = key in catalog._RELATION_MEMO.get(spark, {})
        with tracer.span("catalog.memo", hit=hit):
            return memo_fn(spark, key, build)

    tracer.rebind_everywhere(memo_fn, counted)

    load_fn = catalog.load_table

    def counted_load(spark, sf_dir, name):
        hit = catalog._TABLE_MEMO.get(spark, {}).get((sf_dir, name))
        path = f"{sf_dir}/{name}.parquet"
        hit = hit is not None and hit[0] == catalog._table_sig(path)
        with tracer.span("catalog.load_table", hit=hit):
            return load_fn(spark, sf_dir, name)

    tracer.rebind_everywhere(load_fn, counted_load)
    tracer.wrap_spark_actions()


# ------------------------------------------------------------- rollups

def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time (ns) per span id: duration minus the union of its
    children's intervals."""
    children: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur_end = 0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def rollup(spans: list[dict]) -> dict[str, float]:
    """Total self milliseconds per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if s["id"] in st:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e6
    return out


class JobCounter:
    """Spark jobs, stages and tasks per request, read from the status
    tracker after the run by job-id range."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.ranges: list[tuple[int, int]] = []

    def mark(self) -> int:
        """The id the next Spark job will get."""
        return int(self._dag.nextJobId())

    def totals(self) -> tuple[int, int, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by listener events
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for lo, hi in self.ranges:
            for jid in range(lo, hi):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
        return jobs, stages, tasks
