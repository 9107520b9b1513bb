"""One workload of the signaldb-spark benchmark, by name and seed.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout. The run set-up hands seeded
inputs to the engine in three rounds, calls every route or query once,
then measures closed-loop requests (one client) for ``--seconds``. The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run measures
half its time untraced and half with spans recorded around each layer's
public functions, and reports the per-layer metrics (spans and rollups
are written under ``.perfbench/out/``). A line before it carries the run
metadata.

Everything the run writes stays under ``.perfbench/`` in the checkout;
its working directory there is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GC_EVERY = 20  # requests between forced JVM collections


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def _reexec(args) -> None:
    """Pin the hash seed and keep every temporary file inside the checkout,
    then replace this process with the configured one."""
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PERFBENCH_WORK": work,
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") + " pyspark-shell",
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _group(samples) -> dict[str, list[float]]:
    """Values by kind, from (kind, value, ...) samples."""
    by: dict[str, list[float]] = {}
    for kind, value, *_ in samples:
        by.setdefault(kind, []).append(value)
    return by


def _mix_pct(samples: list[tuple[str, float]], q: float) -> float:
    """Quantile of (kind, value) samples with every kind weighted equally,
    so the kinds a run happens to stop on do not move it. Each sample
    sits at the middle of its weight; values between are interpolated."""
    counts: dict[str, int] = {}
    for kind, _ in samples:
        counts[kind] = counts.get(kind, 0) + 1
    pts, cum = [], 0.0
    for value, w in sorted((v, 1 / counts[k]) for k, v in samples):
        pts.append((cum + w / 2, value))
        cum += w
    target = q * cum
    if not pts:
        return 0.0
    if target <= pts[0][0]:
        return pts[0][1]
    for (c0, v0), (c1, v1) in zip(pts, pts[1:]):
        if target <= c1:
            return v0 + (v1 - v0) * (target - c0) / (c1 - c0)
    return pts[-1][1]


class Runner:
    """Calls requests, counts failures, and runs the closed loop."""

    def __init__(self, spark, workload):
        self.wl = workload
        self.tracer = self.jobs = None  # set for the traced half of a traced run
        self.jvm = spark.sparkContext._jvm
        self.failures: list[str] = []
        self.attempted = 0

    def gc(self) -> float:
        t0 = time.perf_counter()
        self.jvm.System.gc()
        return time.perf_counter() - t0

    def heap_mb(self) -> float:
        """JVM heap in use after full collections. Python's collector runs
        first so that py4j releases the JVM objects of dead proxies, and
        the collections repeat because Spark's context cleaner frees
        blocks only after a collection has queued their owners."""
        gc.collect()
        rt = self.jvm.java.lang.Runtime.getRuntime()
        used = []
        for _ in range(3):
            self.gc()
            time.sleep(0.3)
            used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        return min(used)

    def call(self, req, label: str) -> tuple[float, bool]:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            ok = bool(req.call())
        except Exception:  # noqa: BLE001 - a failed request is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        if not ok:
            self.failures.append(f"{label}:{req.kind}")
        return wall, ok

    def measure(self, budget: float, traced: bool) -> tuple[list[tuple[str, float, bool]], float]:
        """Closed loop: send the next request until ``budget`` seconds of
        measuring are used (forced collections are not counted)."""
        samples: list[tuple[str, float, bool]] = []
        paused = 0.0
        start = time.perf_counter()
        for n_round, rnd in enumerate(self.wl.rounds()):
            for req in rnd:
                if samples and time.perf_counter() - start - paused >= budget:
                    return samples, time.perf_counter() - start - paused
                if traced:
                    self.tracer.request_id = len(samples)
                    lo = self.jobs.mark()
                    with self.tracer.span("bench", kind=req.kind):
                        wall, ok = self.call(req, "timed")
                    self.jobs.ranges.append((lo, self.jobs.mark()))
                    self.tracer.request_id = None
                else:
                    wall, ok = self.call(req, "timed")
                samples.append((req.kind, wall, ok))
                if len(samples) % GC_EVERY == 0:
                    paused += self.gc()
            if traced:
                self.tracer.request_id = f"between-{n_round}"
            self.wl.after_round()
            if traced:
                self.tracer.request_id = None
        raise AssertionError("rounds() ended")


def _by_kind(lat: list[tuple[str, float]]) -> dict:
    """Sample count and median (ms) per request kind."""
    return {k: {"n": len(v), "p50_ms": round(statistics.median(v) * 1e3, 1)}
            for k, v in sorted(_group(lat).items())}


def _metadata(args, spark, extra: dict) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        **extra,
    }


def _end_to_end(wl, samples, elapsed, setup_times, heap_mb, finish) -> dict:
    lat = wl.latencies(samples)
    load = wl.load
    return {
        "latency_p50_ms": (_mix_pct(lat, 0.5) * 1e3, "ms"),
        "latency_p90_ms": (_mix_pct(lat, 0.9) * 1e3, "ms"),
        "throughput_rps": (len(samples) / elapsed, "1/s"),
        "ingest_rows_per_s": (statistics.median(load.rows_per_s), "rows/s"),
        "freshness_p50_ms": (statistics.median(load.freshness_s) * 1e3, "ms"),
        "stored_bytes_per_input_byte": (finish["stored_bytes_per_input_byte"], "ratio"),
        "heap_retained_mb": (heap_mb, "MB"),
        "setup_s": (statistics.median(setup_times), "s"),
    }


def _overhead_ms(traced, untraced) -> float:
    """Tracing overhead per request: traced minus untraced median wall
    time, averaged over the request kinds both halves ran."""
    t = {k: statistics.median(v) for k, v in _group(traced).items()}
    u = {k: statistics.median(v) for k, v in _group(untraced).items()}
    common = t.keys() & u.keys()
    return _mean([t[k] - u[k] for k in common]) * 1e3


def _per_layer(wl, spark, tracer, jobs, traced, untraced, finish) -> dict:
    from signaldb_spark import catalog

    import tracer as tr
    import workloads

    spans = tracer.spans
    req_spans = [s for s in spans if isinstance(s["request"], int)]
    roll = tr.rollup(req_spans)
    n = max(len(traced), 1)

    def per_req(*names):
        return sum(roll.get(x, 0.0) for x in names) / n

    def mean_files(name):
        return _mean([s["files"] for s in req_spans if s["name"] == name])

    lookups = [s for s in req_spans if s["name"] in ("catalog.memo", "catalog.load_table")]
    hits = sum(1 for s in lookups if s["hit"])
    n_jobs, n_stages, n_tasks = jobs.totals()
    walls_by_kind = _group(traced)
    cycles = [(s["end"] - s["start"]) / 1e6 for s in spans if s["name"] == "maintenance.cycle"]
    maint = getattr(wl, "maintenance", [])
    # share of each request's wall time that layer spans (not the benchmark) explain
    st = tr.self_times(req_spans)
    layer_s = [0.0] * len(traced)
    for s in req_spans:
        if s["id"] in st and s["name"] != "bench":
            layer_s[s["request"]] += st[s["id"]] / 1e9
    attributed = [x / w for x, (_, w, _) in zip(layer_s, traced) if w > 0]
    m = {
        "logql.parse_ms": (per_req("logql.parse"), "ms"),
        "promql.parse_ms": (per_req("promql.parse"), "ms"),
        "traceql.parse_ms": (per_req("traceql.parse"), "ms"),
        "logql.build_ms": (per_req("logql.build"), "ms"),
        "promql.build_ms": (per_req("promql.build"), "ms"),
        "traceql.build_ms": (per_req("traceql.build"), "ms"),
        "ir.build_ms": (per_req("ir.build"), "ms"),
        "api.self_ms": (per_req("api"), "ms"),
        "shapers.self_ms": (per_req("shapers"), "ms"),
        "operators.build_ms": (per_req("operators.build"), "ms"),
        "spark.optimize_ms": (per_req("spark.optimize"), "ms"),
        "spark.plan_ms": (per_req("spark.plan"), "ms"),
        "spark.execute_ms": (per_req("spark.execute"), "ms"),
        "spark.jobs": (n_jobs / n, "count"),
        "spark.stages": (n_stages / n, "count"),
        "spark.tasks": (n_tasks / n, "count"),
        "spark.tasks_per_stage": (n_tasks / n_stages if n_stages else 0.0, "count"),
        "tenancy.refresh_ms": (per_req("tenancy.refresh"), "ms"),
        "catalog.optional_table_ms": (per_req("catalog.optional_table", "catalog.memo"), "ms"),
        "catalog.load_table_ms": (per_req("catalog.load_table"), "ms"),
        "catalog.memo_hit_ratio": (hits / len(lookups) if lookups else 0.0, "ratio"),
        "catalog.memo_lookups": (len(lookups) / n, "count"),
        "catalog.memo_entries": (float(len(catalog._RELATION_MEMO.get(spark, {}))
                                       + len(catalog._TABLE_MEMO.get(spark, {}))), "count"),
        "storage.point_files_per_lookup": (mean_files("storage.point_prune"), "count"),
        "storage.topk_files_read": (mean_files("storage.topk"), "count"),
        "storage.commit_ms": (per_req("storage.commit", "storage.manifest_commit"), "ms"),
        "storage.stats_ms": (per_req("storage.stats"), "ms"),
        "storage.files_per_commit": (mean_files("storage.manifest_commit"), "count"),
        "storage.live_files": (float(finish["live_files"]), "count"),
        "sources.decode_ms": (per_req("sources.decode"), "ms"),
        "streaming.drain_self_ms": (per_req("streaming.drain"), "ms"),
        "maintenance.cycle_ms": (_mean(cycles), "ms"),
        "maintenance.bytes_rewritten": (_mean([c["bytes_rewritten"] for c in maint]), "bytes"),
        "maintenance.files_expired": (_mean([c["files_expired"] for c in maint]), "count"),
        "bench.self_ms": (per_req("bench"), "ms"),
        "trace.overhead_ms": (_overhead_ms(traced, untraced), "ms"),
        "trace.attributed_min": (min(attributed) if attributed else 0.0, "ratio"),
    }
    def median(kind):
        ws = walls_by_kind.get(kind)
        return statistics.median(ws) if ws else 0.0

    for kind in workloads.Dashboard.KINDS:
        m[f"api.{kind}.p50_ms"] = (median(kind) * 1e3, "ms")
    for panel in workloads.Dashboard.PANELS:
        m[f"analytics.{workloads.family(panel)}.s"] = (median(panel), "s")
    return m


def main(argv=None) -> int:
    args = _args(argv if argv is not None else sys.argv[1:])
    if not os.path.isfile(os.path.join(ROOT, "signaldb_spark", "__init__.py")):
        print(f"perfbench: no signaldb_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.environ.get("PERFBENCH_WORK")
    if work is None:
        _reexec(args)
    # a terminated run still stops Spark and removes its working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    sys.path[:0] = [ROOT, HERE]
    import tracer as tr
    import workloads
    from signaldb_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, workloads.SIZES[args.size])
        runner = Runner(spark, wl)
        setup_times = []
        for r in range(workloads.SETUP_ROUNDS):
            t = time.perf_counter()
            runner.attempted += 1
            if not wl.setup_round(r):
                runner.failures.append(f"setup:{r}")
            setup_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        for req in wl.warm():
            runner.call(req, "warm")
        warm_s = time.perf_counter() - t
        runner.gc()
        tracer = jobs = None
        if args.trace:
            untraced, _ = runner.measure(args.seconds / 2, traced=False)
            tracer = tr.Tracer()
            tr.install_layers(tracer)
            if isinstance(wl, workloads.Dashboard):
                wl.queries = {k: tracer.wrap(v, "operators.build") for k, v in wl.queries.items()}
            jobs = tr.JobCounter(spark)
            runner.tracer, runner.jobs = tracer, jobs
            tracer.enabled = True
            runner.gc()
            samples, elapsed = runner.measure(args.seconds / 2, traced=True)
            tracer.enabled = False
            tracer.uninstall()
        else:
            samples, elapsed = runner.measure(args.seconds, traced=False)
        finish = wl.finish()
        if args.trace:
            metrics = _per_layer(wl, spark, tracer, jobs, samples, untraced, finish)
        else:
            metrics = _end_to_end(wl, samples, elapsed, setup_times, runner.heap_mb(), finish)
        failed = len(runner.failures)
        meta = _metadata(args, spark, {
            "spark_start_s": spark_start_s, "setup_rounds_s": setup_times, "warm_s": warm_s,
            "samples": len(samples), "elapsed_s": elapsed,
            "latency_by_kind": _by_kind(wl.latencies(samples)),
            "failed_ratio": failed / runner.attempted, "failures": runner.failures[:20],
            "probe_misses": wl.load.misses,
        })
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench", "out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
            with open(path, "w") as fh:
                json.dump({"meta": meta, "rollup_ms": tr.rollup(tracer.spans),
                           "requests": [{"kind": k, "wall_s": w, "ok": ok} for k, w, ok in samples],
                           "spans": tracer.spans}, fh)
            meta["trace_file"] = os.path.relpath(path, ROOT)
        print(json.dumps({"meta": meta}))
        print(json.dumps({
            "correct": failed == 0, "attempted": runner.attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (AttributeError, OSError):
                pass
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
