"""The workloads: dashboard reads (facade routes plus operator-battery
panels) and closed-loop OTLP ingest.

Each workload has the same shape, driven by ``run.py``:

- ``setup_round(r)`` hands one round of seeded inputs to the engine and
  waits until a probe sees them (``LoadStats`` records hand-off, commit
  and first-visible times);
- ``warm()`` calls every route or query once;
- ``rounds()`` yields rounds of ``Request``; each round holds every
  request kind once, in a seeded order, and the runner sends requests
  until the measuring time is used;
- ``after_round()`` runs between rounds (never inside a request);
- ``latencies()`` gives the (kind, seconds) latency samples;
- ``finish()`` returns the stored bytes per input byte and the live file
  count.

Every call into the program goes through a module attribute (never a
name imported into this file), so the tracer's wrappers see it.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import time
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow.parquet as pq

import fixtures as fx

SIZES = {
    # signal rows per set-up round (three rounds per run), ingest batch
    # sizes, and the TPC-H scale of the panels' tables
    "full": {"logs": 3000, "traces": 300, "points": 480,
             "batch_logs": 400, "batch_traces": 6, "analytics_scale": 0.005},
    "tiny": {"logs": 400, "traces": 40, "points": 60,
             "batch_logs": 40, "batch_traces": 2, "analytics_scale": 0.001},
}
SETUP_ROUNDS = 3
TENANT, DATASET = "acme", "prod"


@dataclasses.dataclass
class Request:
    kind: str
    call: Callable[[], bool]  # runs the request, returns whether its output checked out


@dataclasses.dataclass
class LoadStats:
    """Hand-off → commit → first-visible timings of data handed to the engine."""

    input_bytes: int = 0
    commits: list = dataclasses.field(default_factory=list)  # (kind, hand-off to commit s)
    rows_per_s: list = dataclasses.field(default_factory=list)  # per commit
    freshness_s: list = dataclasses.field(default_factory=list)
    misses: int = 0

    def record(self, kind: str, rows: int, handoff: float, committed: float,
               probe: Callable[[], bool], tries: int = 3) -> bool:
        self.commits.append((kind, committed - handoff))
        self.rows_per_s.append(rows / (committed - handoff))
        for _ in range(tries):
            if probe():
                self.freshness_s.append(time.perf_counter() - handoff)
                return True
            self.misses += 1
        return False


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


class Workload:
    load: LoadStats

    def warm(self) -> list[Request]:
        return []

    def after_round(self) -> None:
        pass

    def latencies(self, samples) -> list[tuple[str, float]]:
        """(kind, seconds) latency samples: by default each timed request's wall time."""
        return [(kind, wall) for kind, wall, _ in samples]


def _nonempty(out: dict, *path) -> bool:
    if out.get("status") == "error":
        return False
    for p in path:
        out = out[p] if isinstance(out, dict) else None
        if out is None:
            return False
    return bool(out)


# ======================================================= dashboard

_FAMILIES = ("dedup", "emb", "text", "logql", "promql", "trace", "ir",
             "multimodal", "asof", "exphist", "curation", "api")


def family(name: str) -> str:
    """The headline rollup's family rule (bench.py)."""
    for f in _FAMILIES:
        if name == f or name.startswith(f + "_"):
            return f
    return "core"


class Dashboard(Workload):
    """Facade reads over committed signal tables under a warm memo, plus
    operator-battery panels (registry queries) over TPC-H-shaped tables,
    each written to the ``noop`` sink as bench.py does."""

    KINDS = ("prom_rate", "prom_hq", "prom_instant", "loki_streams", "loki_metric",
             "tempo_search", "tempo_trace", "query_ir", "prom_labels")
    # joins and shuffles, trace structure, dedup: one panel per operator path
    PANELS = ("shipping_priority", "trace_descendant_spans", "dedup_minhash_lsh")

    def __init__(self, spark, work: str, seed: int, size: dict):
        from signaldb_spark import catalog, registry

        self.spark, self.seed, self.size = spark, seed, size
        self.base = os.path.join(work, "tables")
        self.sf = os.path.join(work, "sf")
        self.paths = {t: catalog.signal_table_path(self.base, TENANT, DATASET, t)
                      for t in ("logs", "traces", "metrics_gauge", "metrics_sum", "metrics_histogram")}
        self.load = LoadStats()
        self.trace_ids: list[str] = []
        self.api = None
        queries, oracles = registry.all_queries(), registry.all_oracles()
        self.queries = {n: queries[n] for n in self.PANELS}
        self.oracles = {n: oracles[n] for n in self.PANELS}
        self.expected: dict[str, int] = {}
        self.panel_tables = None

    def setup_round(self, r: int) -> bool:
        """Commit one batch of logs, traces and one metric kind through
        ``write_batch_manifest``, write a third of each panel table, and
        wait until the facade sees the logs."""
        from signaldb_spark import api as api_mod
        from signaldb_spark.schemas import signal_schemas
        from signaldb_spark.storage import manifest

        rng = _rng(self.seed, 1, r)
        tables = {"logs": fx.signal_logs(rng, self.size["logs"])}
        tables["traces"], ids = fx.signal_traces(rng, self.size["traces"])
        # every round builds the same metric series and commits one kind
        metrics = fx.signal_metrics(_rng(self.seed, 1), SETUP_ROUNDS * self.size["points"])
        name = ("metrics_gauge", "metrics_sum", "metrics_histogram")[r]
        tables[name] = metrics[name]
        self.trace_ids += ids
        if self.panel_tables is None:
            self.panel_tables = fx.analytics_tables(_rng(self.seed, 5), self.size["analytics_scale"])
        for t, tab in self.panel_tables.items():
            lo, hi = tab.num_rows * r // SETUP_ROUNDS, tab.num_rows * (r + 1) // SETUP_ROUNDS
            d = os.path.join(self.sf, f"{t}.parquet")
            os.makedirs(d, exist_ok=True)
            pq.write_table(tab.slice(lo, hi - lo), os.path.join(d, f"part-{r}.parquet"))
        handoff = time.perf_counter()
        for name, tab in tables.items():
            df = self.spark.createDataFrame(tab.select(signal_schemas.SCHEMAS[name].fieldNames()))
            manifest.write_batch_manifest(df, self.paths[name], name, batch_id=r)
            self.load.input_bytes += tab.nbytes
        committed = time.perf_counter()
        expect = self.size["logs"] * (r + 1)
        if self.api is None:
            self.api = api_mod.SignalDBAPI(self.spark, self.base, TENANT, DATASET)

        def probe() -> bool:
            self.api.session.refresh()
            return self.api.session.table("logs").count() == expect

        rows = sum(tab.num_rows for tab in tables.values())
        return self.load.record("signals", rows, handoff, committed, probe)

    def _request(self, kind: str, rng: np.random.Generator) -> Request:
        """One request of ``kind``. The seed picks the window, service,
        trace and grouping; the query shapes, steps and limits are fixed
        so every request of a kind does the same amount of work."""
        if kind in self.PANELS:
            return Request(kind, lambda: self._panel(kind))
        a = self.api
        extent_s = SETUP_ROUNDS * self.size["points"] * 10  # metrics cover [EPOCH, EPOCH + extent)
        lo = fx.EPOCH.replace(tzinfo=None) + dt.timedelta(seconds=int(rng.integers(0, extent_s // 4)))
        start, end = lo.isoformat(" "), (lo + dt.timedelta(seconds=extent_s * 3 // 4)).isoformat(" ")
        svc = str(rng.choice(fx.SERVICES))
        if kind == "prom_rate":
            q = "sum by (service_name) (rate(http_requests_total[5m]))"
            return Request(kind, lambda: _nonempty(a.prom_query_range(q, start, end, 300), "data", "result"))
        if kind == "prom_hq":
            q = "histogram_quantile(0.9, rate(http_request_duration_ms[10m]))"
            return Request(kind, lambda: _nonempty(a.prom_query_range(q, start, end, 600), "data", "result"))
        if kind == "prom_instant":
            q = "sum by (service_name) (process_cpu_usage)"
            return Request(kind, lambda: _nonempty(a.prom_query(q, end, lookback_s=600), "data", "result"))
        start, end = fx.WINDOW  # logs and traces span the whole window
        if kind == "loki_streams":
            q = f'{{service_name="{svc}"}} |= "error"'
            return Request(kind, lambda: _nonempty(a.loki_query_range(q, start, end, limit=100), "data", "result"))
        if kind == "loki_metric":
            q = f'sum by (severity_text) (count_over_time({{service_name="{svc}"}}[5m]))'
            return Request(kind, lambda: _nonempty(a.loki_query_range(q, start, end, 600), "data", "result"))
        if kind == "tempo_search":
            return Request(kind, lambda: _nonempty(a.tempo_search(q="{ duration > 5ms }", limit=20), "traces"))
        if kind == "tempo_trace":
            tid = str(rng.choice(self.trace_ids))
            return Request(kind, lambda: a.tempo_trace(tid).get("traceID") == tid)
        if kind == "query_ir":
            doc = {"version": 1, "from": "logs", "result": "series", "range": {"from": start, "to": end},
                   "aggregate": {"op": "count", "by": [str(rng.choice(["service_name", "severity_text"]))],
                                 "step_seconds": 1800}}
            return Request(kind, lambda: _nonempty(a.query_ir(doc), "series"))
        return Request(kind, lambda: _nonempty(a.prom_labels(start, end), "data"))

    def _panel(self, name: str) -> bool:
        self.queries[name](self.spark, self.sf).write.mode("overwrite").format("noop").save()
        return True

    def _checked_panel(self, name: str) -> bool:
        """A panel run that counts its rows against the DuckDB oracle's."""
        df = self.queries[name](self.spark, self.sf)
        return int(df._jdf.queryExecution().toRdd().count()) == self.expected[name]

    def _reference_counts(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.panel_tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet/*.parquet')")
            for n, sql in self.oracles.items():
                self.expected[n] = len(con.execute(sql).fetchall())
        finally:
            con.close()

    def warm(self) -> list[Request]:
        """One call of every route, and one counted run of every panel."""
        self._reference_counts()
        rng = _rng(self.seed, 2)
        return [self._request(k, rng) for k in self.KINDS] + [
            Request(n, lambda n=n: self._checked_panel(n)) for n in self.PANELS]

    def rounds(self) -> Iterator[list[Request]]:
        rng = _rng(self.seed, 3)
        while True:
            yield [self._request(str(k), rng) for k in rng.permutation(self.KINDS + self.PANELS)]

    def finish(self) -> dict:
        return {"stored_bytes_per_input_byte": _live_bytes(self.paths.values()) / self.load.input_bytes,
                "live_files": _live_files(self.paths.values())}


def _live_files(paths) -> int:
    from signaldb_spark.storage import manifest

    return sum(len(manifest.ManifestTable(p).files()) for p in paths)


def _live_bytes(paths) -> int:
    from signaldb_spark.storage import manifest

    return sum(sum(manifest.ManifestTable(p).file_sizes().values()) for p in paths)


# ========================================================== ingest

class Ingest(Workload):
    """Closed-loop OTLP ingest: each batch is one logs payload (JSON) and
    one traces payload (protobuf), each drained with ``available_now``,
    then probed through the facade until both show."""

    BATCHES_PER_ROUND = 2  # maintenance follows every round
    MAINTENANCE_NOW = fx.EPOCH.replace(tzinfo=None) + dt.timedelta(days=2)

    def __init__(self, spark, work: str, seed: int, size: dict):
        from signaldb_spark import catalog

        self.spark, self.seed, self.size, self.work = spark, seed, size, work
        self.base = os.path.join(work, "tables")
        self.src = {k: os.path.join(work, f"src_{k}") for k in ("logs", "traces")}
        self.ckpt = {k: os.path.join(work, f"ckpt_{k}") for k in ("logs", "traces")}
        for d in self.src.values():
            os.makedirs(d)
        self.paths = {k: catalog.signal_table_path(self.base, TENANT, DATASET, k) for k in ("logs", "traces")}
        self.batches = 0
        self.setup_load = LoadStats()
        self.load = LoadStats()  # timed batches only
        self.stored_per_input = 0.0
        self.maintenance: list[dict] = []
        self.api = None

    def _payloads(self) -> tuple[int, dict]:
        """The next batch: its index and, per signal, (body, marker, rows
        the probe must see, rows in the payload)."""
        from signaldb_spark.sources import otlp_pb

        i = self.batches
        self.batches += 1
        rng = _rng(self.seed, 4, i)
        t0 = fx.EPOCH_NS + ((i * 7) % fx.HOURS) * 3_600_000_000_000 + int(rng.integers(0, 3000)) * 10**9
        n = self.size["batch_logs"] // 4  # records per service; the probe reads one service
        marker = f"m{self.seed}b{i}x"
        ids = [rng.bytes(16).hex() for _ in range(self.size["batch_traces"])]
        req = fx.otlp_trace_request(rng, ids, t0)
        spans = req["resourceSpans"][0]["scopeSpans"][0]["spans"]
        return i, {
            "logs": (fx.otlp_logs_json(rng, marker, n * 4, t0).encode(), marker, n, n * 4),
            "traces": (otlp_pb.encode_trace_request(req), ids[0],
                       sum(1 for s in spans if s["traceId"] == ids[0]), len(spans)),
        }

    def _ingest(self, batch: tuple[int, dict], stats: LoadStats) -> bool:
        """Hand one batch to the engine: move its payloads into the
        streams' source directories, drain both streams, then probe the
        facade for both markers."""
        from signaldb_spark.streaming import ingest as ingest_mod

        i, payloads = batch
        for kind, (body, *_) in payloads.items():
            name = f"b{i:05d}." + ("json" if kind == "logs" else "pb")
            tmp = os.path.join(self.work, name)
            with open(tmp, "wb") as fh:
                fh.write(body)
            os.replace(tmp, os.path.join(self.src[kind], name))
        handoff = time.perf_counter()
        for kind, drain in (("logs", ingest_mod.ingest_otlp_logs_stream),
                            ("traces", ingest_mod.ingest_otlp_traces_pb_stream)):
            drain(self.spark, self.src[kind], self.base, TENANT, DATASET,
                  checkpoint_dir=self.ckpt[kind], available_now=True)
        committed = time.perf_counter()
        stats.input_bytes += sum(len(body) for body, *_ in payloads.values())
        if self.api is None:
            from signaldb_spark import api as api_mod

            self.api = api_mod.SignalDBAPI(self.spark, self.base, TENANT, DATASET)
        start, end = fx.WINDOW
        _, log_marker, log_rows, _ = payloads["logs"]
        _, trace_id, spans, _ = payloads["traces"]

        def probe() -> bool:
            self.api.session.refresh()
            out = self.api.loki_query_range(f'{{service_name="api"}} |= "{log_marker}"', start, end, limit=1000)
            logs_ok = sum(len(s["values"]) for s in out.get("data", {}).get("result", [])) == log_rows
            return logs_ok and self.api.tempo_trace(trace_id).get("spanCount") == spans

        rows = sum(r for *_, r in payloads.values())
        return stats.record("batch", rows, handoff, committed, probe)

    def setup_round(self, r: int) -> bool:
        """One batch through the whole path; the first round runs it cold."""
        return self._ingest(self._payloads(), self.setup_load)

    def warm(self) -> list[Request]:
        """A maintenance pass over the set-up batches. The stored bytes
        per input byte are taken after it, over a fixed set of batches, so
        they do not depend on how many batches a run gets through."""
        def settle() -> bool:
            self.after_round()
            self.stored_per_input = _live_bytes(self.paths.values()) / self.setup_load.input_bytes
            return True

        return [Request("maintenance", settle)]

    def rounds(self) -> Iterator[list[Request]]:
        while True:
            yield [Request("batch", lambda b=self._payloads(): self._ingest(b, self.load))
                   for _ in range(self.BATCHES_PER_ROUND)]

    def latencies(self, samples) -> list[tuple[str, float]]:
        return self.load.commits  # hand-off to commit

    def after_round(self) -> None:
        from signaldb_spark.maintenance import jobs
        from signaldb_spark.storage import manifest

        for table in ("logs", "traces"):
            before = manifest.ManifestTable(self.paths[table]).file_sizes()
            out = jobs.maintenance_cycle(self.spark, self.base, TENANT, DATASET, table,
                                         now=self.MAINTENANCE_NOW)
            after = manifest.ManifestTable(self.paths[table]).file_sizes()
            self.maintenance.append({
                "bytes_rewritten": sum(v for f, v in before.items() if f not in after),
                "files_expired": len(out["expired_files"]),
            })

    def finish(self) -> dict:
        return {"stored_bytes_per_input_byte": self.stored_per_input,
                "live_files": _live_files(self.paths.values())}


WORKLOADS = {"dashboard": Dashboard, "ingest": Ingest}
