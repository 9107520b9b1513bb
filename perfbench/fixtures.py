"""Seeded inputs for the three workloads, built as Arrow tables.

Every generator takes a ``numpy.random.Generator`` and returns plain
Arrow/bytes values, so the same seed gives the same inputs and no
Python-row ``createDataFrame`` sits on the set-up path.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pyarrow as pa

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
EPOCH_NS = int(EPOCH.timestamp()) * 1_000_000_000
HOURS = 4
WINDOW = ("2024-01-01 00:00:00", "2024-01-01 04:00:00")
SERVICES = ["api", "web", "auth", "billing", "worker", "cron", "gateway", "search"]
SEVERITIES = ["debug", "info", "warn", "error"]
SEV_NUM = {"debug": 5, "info": 9, "warn": 13, "error": 17}
SPAN_NAMES = ["GET /items", "POST /checkout", "db.query", "cache.get"]
BOUNDS = [5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0, 1000.0]

_MAP = pa.map_(pa.string(), pa.string())
_TS = pa.timestamp("us", tz="UTC")


def _time_cols(ts_us: np.ndarray) -> dict[str, pa.Array]:
    days = (ts_us // 86_400_000_000).astype("int32")
    hours = ((ts_us // 3_600_000_000) % 24).astype("int32")
    return {
        "date_day": pa.array(days, pa.int32()).cast(pa.date32()),
        "hour": pa.array(hours, pa.int32()),
    }


def signal_logs(rng: np.random.Generator, n: int) -> pa.Table:
    ts = EPOCH_NS // 1000 + rng.integers(0, HOURS * 3_600_000_000, n)
    ts.sort()
    svc = rng.choice(SERVICES, n)
    sev = rng.choice(SEVERITIES, n)
    status = rng.choice([200, 200, 200, 404, 500, 503], n)
    dur = np.round(rng.lognormal(3, 1, n), 3)
    env = rng.choice(["prod", "staging"], n)
    traced = rng.random(n) < 0.5
    body, attrs, tokens, trace_ids, span_ids = [], [], [], [], []
    for i in range(n):
        if sev[i] == "error":
            body.append(f"error: upstream timeout status={status[i]} duration={dur[i]}ms")
        else:
            body.append(f"request handled path=/v{i % 3 + 1}/items status={status[i]} duration={dur[i]}ms")
        a = {"status": str(status[i]), "duration_ms": str(dur[i]), "env": str(env[i])}
        attrs.append(list(a.items()))
        tokens.append([f"{k}={v}" for k, v in sorted(a.items())])
        trace_ids.append(rng.bytes(16).hex() if traced[i] else None)
        span_ids.append(rng.bytes(8).hex() if traced[i] else None)
    cols = {
        "timestamp": pa.array(ts, pa.int64()).cast(_TS),
        "observed_timestamp": pa.array(ts, pa.int64()).cast(_TS),
        "trace_id": pa.array(trace_ids, pa.string()),
        "span_id": pa.array(span_ids, pa.string()),
        "trace_flags": pa.array(np.ones(n, "int32")),
        "severity_text": pa.array(sev.tolist(), pa.string()),
        "severity_number": pa.array([SEV_NUM[s] for s in sev], pa.int32()),
        "service_name": pa.array(svc.tolist(), pa.string()),
        "body": pa.array(body, pa.string()),
        "scope_name": pa.array(["bench"] * n, pa.string()),
        "scope_version": pa.array(["1.0"] * n, pa.string()),
        "resource_attributes": pa.array([[("env", str(e))] for e in env], _MAP),
        "scope_attributes": pa.array([None] * n, _MAP),
        "log_attributes": pa.array(attrs, _MAP),
        "attr_tokens": pa.array(tokens, pa.list_(pa.string())),
        "label_namespace": pa.array(rng.choice(["default", "jobs"], n).tolist(), pa.string()),
        **_time_cols(ts),
    }
    return pa.table(cols)


def signal_traces(rng: np.random.Generator, n_traces: int) -> tuple[pa.Table, list[str]]:
    """Spans of ``n_traces`` traces (2-6 spans each) plus their ids."""
    rows: dict[str, list] = {k: [] for k in (
        "trace_id", "span_id", "parent_span_id", "span_name", "service_name",
        "start", "dur", "span_kind", "status_code", "is_root", "method", "code", "env",
    )}
    ids = []
    for _ in range(n_traces):
        tid = rng.bytes(16).hex()
        ids.append(tid)
        root = rng.bytes(8).hex()
        t0 = EPOCH_NS + int(rng.integers(0, HOURS * 3_600_000_000_000 - 10**9))
        for s in range(int(rng.integers(2, 7))):
            status = "Error" if rng.random() < 0.05 else str(rng.choice(["Ok", "Unspecified"]))
            rows["trace_id"].append(tid)
            rows["span_id"].append(root if s == 0 else rng.bytes(8).hex())
            rows["parent_span_id"].append(None if s == 0 else root)
            rows["span_name"].append(str(rng.choice(SPAN_NAMES)))
            rows["service_name"].append(str(rng.choice(SERVICES)))
            rows["start"].append(t0 + s * int(rng.integers(0, 50_000_000)))
            rows["dur"].append(int(rng.lognormal(16, 1.5)))
            rows["span_kind"].append("SERVER" if s == 0 else str(rng.choice(["CLIENT", "INTERNAL"])))
            rows["status_code"].append(status)
            rows["is_root"].append(s == 0)
            rows["method"].append(str(rng.choice(["GET", "POST"])))
            rows["code"].append(str(rng.choice([200, 200, 500])))
            rows["env"].append(str(rng.choice(["prod", "staging"])))
    start = np.array(rows["start"], "int64")
    dur = np.array(rows["dur"], "int64")
    n = len(start)
    ts_us = start // 1000
    cols = {
        "trace_id": pa.array(rows["trace_id"], pa.string()),
        "span_id": pa.array(rows["span_id"], pa.string()),
        "parent_span_id": pa.array(rows["parent_span_id"], pa.string()),
        "span_name": pa.array(rows["span_name"], pa.string()),
        "service_name": pa.array(rows["service_name"], pa.string()),
        "start_time_unix_nano": pa.array(start),
        "end_time_unix_nano": pa.array(start + dur),
        "duration_nanos": pa.array(dur),
        "span_kind": pa.array(rows["span_kind"], pa.string()),
        "status_code": pa.array(rows["status_code"], pa.string()),
        "status_message": pa.array(
            ["upstream timeout" if s == "Error" else None for s in rows["status_code"]], pa.string()),
        "is_root": pa.array(rows["is_root"], pa.bool_()),
        "span_attributes": pa.array(
            [[("http.method", m), ("http.status_code", c)] for m, c in zip(rows["method"], rows["code"])],
            _MAP),
        "resource_attributes": pa.array([[("deployment.environment", e)] for e in rows["env"]], _MAP),
        "events": pa.nulls(n, pa.list_(pa.struct([
            ("name", pa.string()), ("time_unix_nano", pa.int64()), ("attributes", _MAP)]))),
        "links": pa.nulls(n, pa.list_(pa.struct([
            ("trace_id", pa.string()), ("span_id", pa.string()), ("attributes", _MAP)]))),
        "trace_state": pa.nulls(n, pa.string()),
        "scope_name": pa.array(["bench"] * n, pa.string()),
        "scope_version": pa.array(["1.0"] * n, pa.string()),
        "scope_attributes": pa.nulls(n, _MAP),
        "timestamp": pa.array(ts_us, pa.int64()).cast(_TS),
        **_time_cols(ts_us),
        "label_environment": pa.array(rows["env"], pa.string()),
    }
    return pa.table(cols), ids


def signal_metrics(rng: np.random.Generator, points: int) -> dict[str, pa.Table]:
    """Gauge, monotonic sum (one reset) and cumulative histogram series
    for four services on a 10 s cadence from ``EPOCH``."""
    out: dict[str, dict[str, list]] = {"metrics_gauge": {}, "metrics_sum": {}, "metrics_histogram": {}}

    def add(table, **kv):
        for k, v in kv.items():
            out[table].setdefault(k, []).append(v)

    for svc in SERVICES[:4]:
        counter = 0.0
        cum = np.zeros(len(BOUNDS) + 1)
        reset = int(rng.integers(points // 4, 3 * points // 4))
        for i in range(points):
            ts = EPOCH_NS // 1000 + i * 10_000_000
            common = dict(timestamp=ts, service_name=svc, attributes=[("host", f"{svc}-1")])
            add("metrics_gauge", metric_name="process_cpu_usage", value=float(rng.random()), **common)
            if i == reset:
                counter = 0.0
            counter += float(rng.uniform(0, 5))
            add("metrics_sum", metric_name="http_requests_total", value=counter,
                aggregation_temporality=2, is_monotonic=True, **common)
            if i % 6 == 0:
                samples = np.clip(rng.lognormal(3.5, 1, 20), 0.1, 2000)
                cum += np.bincount(np.searchsorted(BOUNDS, samples), minlength=len(BOUNDS) + 1)
                add("metrics_histogram", metric_name="http_request_duration_ms",
                    count=int(cum.sum()), sum=float(samples.sum()), min=float(samples.min()),
                    max=float(samples.max()), bucket_counts=[float(c) for c in cum],
                    explicit_bounds=list(BOUNDS), aggregation_temporality=2, **common)
    tables = {}
    for name, cols in out.items():
        ts = np.array(cols.pop("timestamp"), "int64")
        n = len(ts)
        arrays = {
            "timestamp": pa.array(ts).cast(_TS),
            "start_timestamp": pa.array(np.full(n, EPOCH_NS // 1000)).cast(_TS),
            "service_name": pa.array(cols.pop("service_name"), pa.string()),
            "metric_name": pa.array(cols.pop("metric_name"), pa.string()),
            "metric_description": pa.nulls(n, pa.string()),
            "metric_unit": pa.nulls(n, pa.string()),
            "flags": pa.array(np.zeros(n, "int32")),
            "resource_attributes": pa.nulls(n, _MAP),
            "scope_attributes": pa.nulls(n, _MAP),
            "attributes": pa.array(cols.pop("attributes"), _MAP),
            "exemplars": pa.nulls(n, pa.string()),
            **_time_cols(ts),
        }
        for k, v in cols.items():
            if k in ("bucket_counts", "explicit_bounds"):
                arrays[k] = pa.array(v, pa.list_(pa.float64()))
            elif k == "aggregation_temporality":
                arrays[k] = pa.array(v, pa.int32())
            else:
                arrays[k] = pa.array(v)
        tables[name] = pa.table(arrays)
    return tables


# ------------------------------------------------------------ OTLP ingest

def otlp_logs_json(rng: np.random.Generator, marker: str, n: int, t0_ns: int) -> str:
    """One OTLP/JSON logs request per line; every record's body carries
    ``marker`` so the probe can find the batch."""
    lines = []
    for svc in SERVICES[:4]:
        records = []
        for j in range(n // 4):
            sev = str(rng.choice(SEVERITIES))
            ts = t0_ns + int(rng.integers(0, 60_000_000_000))
            records.append({
                "timeUnixNano": str(ts), "observedTimeUnixNano": str(ts),
                "severityText": sev, "severityNumber": SEV_NUM[sev],
                "body": {"stringValue": f"{marker} {sev} request {j} took {int(rng.integers(1, 900))}ms"},
                "attributes": [
                    {"key": "status", "value": {"stringValue": str(rng.choice([200, 404, 500]))}},
                    {"key": "path", "value": {"stringValue": f"/v{int(rng.integers(1, 4))}/items"}},
                ],
                "traceId": rng.bytes(16).hex(), "spanId": rng.bytes(8).hex(),
            })
        lines.append(json.dumps({"resourceLogs": [{
            "resource": {"attributes": [{"key": "service.name", "value": {"stringValue": svc}}]},
            "scopeLogs": [{"scope": {"name": "bench", "version": "1"}, "logRecords": records}],
        }]}))
    return "\n".join(lines) + "\n"


def otlp_trace_request(rng: np.random.Generator, trace_ids: list[str], t0_ns: int) -> dict:
    """An OTLP trace request (dict form for ``otlp_pb.encode_trace_request``)
    holding one trace per id, 3-6 spans each."""
    spans = []
    for tid in trace_ids:
        root = rng.bytes(8).hex()
        start = t0_ns + int(rng.integers(0, 60_000_000_000))
        for s in range(int(rng.integers(3, 7))):
            b = start + s * 1_000_000
            spans.append({
                "traceId": tid, "spanId": root if s == 0 else rng.bytes(8).hex(),
                "parentSpanId": "" if s == 0 else root,
                "name": str(rng.choice(SPAN_NAMES)), "kind": 2 if s == 0 else 3,
                "startTimeUnixNano": str(b),
                "endTimeUnixNano": str(b + int(rng.lognormal(15, 1))),
                "attributes": [{"key": "http.method", "value": {"stringValue": str(rng.choice(["GET", "POST"]))}}],
            })
    return {"resourceSpans": [{
        "resource": {"attributes": [{"key": "service.name", "value": {"stringValue": str(rng.choice(SERVICES))}}]},
        "scopeSpans": [{"scope": {"name": "bench", "version": "1"}, "spans": spans}],
    }]}


# ---------------------------------------------------- analytics tables

_WORDS = ("the fast key order sort table scan merge part window small hash join "
          "batch stream spark dup group query row data slow filter customer line "
          "value column a big agg vector").split()


def analytics_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus ``events``/``documents``/``embeddings``
    with the column names and types the registry queries read;
    ``scale`` 0.01 gives 60k lineitem rows."""
    n_cust, n_supp, n_part = max(int(150_000 * scale), 30), max(int(10_000 * scale), 10), max(int(200_000 * scale), 40)
    n_ord, n_line, n_ev = max(int(1_500_000 * scale), 100), max(int(6_000_000 * scale), 400), max(int(1_000_000 * scale), 100)
    n_docs = n_vecs = 500

    def ts_days(lo: dt.date, span_days: int, n: int) -> pa.Array:
        base = (dt.datetime(lo.year, lo.month, lo.day) - dt.datetime(1970, 1, 1)).days
        days = base + rng.integers(0, span_days, n)
        return pa.array(days.astype("int64") * 86_400_000_000, pa.int64()).cast(pa.timestamp("us"))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    adj = ["cold", "small", "big", "fast", "slow", "red", "green"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": [f"{adj[i % len(adj)]} {['widget', 'gadget', 'bolt'][i % 3]}" for i in rng.integers(0, 21, n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord), 2)),
        "o_orderdate": ts_days(dt.date(1992, 1, 1), 2400, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()})
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) / 100, 2)),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": ts_days(dt.date(1992, 1, 2), 2500, n_line)})
    ev_ts = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).days * 86_400_000_000 + \
        np.sort(rng.integers(0, 7 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(ev_ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 50, 20), n_ev).astype("int64")),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev).tolist(),
        "value": pa.array(np.round(rng.uniform(0, 500, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(5, 80)))]) for _ in range(n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": texts,
        "lang": rng.choice(["en", "es", "de", "fr", "zh"], n_docs).tolist(),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(x) for x in texts], "int64"))})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"))})
    return t
