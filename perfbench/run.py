#!/usr/bin/env python3
"""Benchmark of the vnavc_spark engine: two workloads on one local[N]
Spark session, N = the host's core count.

    python3 perfbench/run.py --workload {pipeline,analytics}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones from a traced run (Spark event log, one
``setJobGroup`` tag per operation, spans around the benchmark's calls
into the engine). The line before it, prefixed ``# context``, records
the host and the effective Spark configuration. Metric meanings and
the layer -> end-to-end map are in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

def _process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _quantile(xs, q):
    """Harrell-Davis estimate of quantile ``q``: a Beta-weighted mean of
    all order statistics. A pass has 7 to 19 operations of unlike cost,
    so a single order statistic jumps whenever two operations near the
    quantile swap ranks; this estimate moves smoothly."""
    if not xs:
        return float("nan")
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n, grid = len(x), 4000  # integration points per sample
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = (np.arange(n * grid) + 0.5) / (n * grid)
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    weights = np.diff(cdf[np.arange(n + 1) * grid] / cdf[-1])
    return float(weights @ x)


class Op:
    def __init__(self, op_id: str, name: str, iteration: int, attrs: dict):
        self.id, self.name, self.iteration, self.attrs = op_id, name, iteration, attrs
        self.ok, self.error = True, None
        self.t0 = self.t1 = self.start = self.end = 0.0

    def fail(self, why: str) -> None:
        self.ok = False
        self.error = (self.error or "") + why[:500]

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Ctx:
    """What a workload sees: the session, the registry, and the
    recorders for operations, spans and layer counters. Layer probes
    run only while ``tracer`` is enabled (the timed region of a traced
    run)."""

    def __init__(self, args, size: str):
        from tracing import Tracer

        self.seed = args.seed
        self.size = size
        self.work = WORK
        self.scratch = os.path.join(WORK, f"run-{os.getpid()}")
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.queries = None
        self.iteration = 0
        self.ops: list[Op] = []
        self.state: dict = {}
        self.failures: list[tuple[str, str]] = []
        self.checks_attempted = 0
        self.layers: dict[str, float] = {}
        self._slot_ids: dict[str, int] = {}

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    # -- operations ------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        """Time one operation; an exception inside it fails the
        operation instead of the run."""
        op = Op(f"{self.iteration}:{len(self.ops)}:{name}", name, self.iteration, attrs)
        self.ops.append(op)
        if self.traced:
            self.spark.sparkContext.setJobGroup(op.id, name)
        try:
            with self.tracer.span("op:" + name):
                op.start, op.t0 = time.time(), time.perf_counter()
                try:
                    yield op
                finally:
                    op.t1, op.end = time.perf_counter(), time.time()
        except Exception as e:
            op.fail(f"{type(e).__name__}: {e}")
        finally:
            if self.traced:
                self.spark.sparkContext.setJobGroup("", "")
                self.probe_cache()

    def span(self, name: str):
        return self.tracer.span(name)

    def check(self, name: str, ok: bool, why: str = "") -> None:
        self.checks_attempted += 1
        if not ok:
            self.failures.append((name, why))

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    # -- layer probes (traced runs only) -----------------------------------
    def probe_cache(self) -> None:
        from vnavc_spark import cache

        slots = getattr(cache, "_SLOTS", {}) or {}
        live = 0
        for name, dfs in list(slots.items()):
            if not dfs:
                continue
            live += 1
            ident = id(dfs[0])
            if self._slot_ids.get(name) != ident:
                self.add("cache.slot_builds", 1)
                self._slot_ids[name] = ident
        self.add("cache.live_slots", live)
        sc = self.spark.sparkContext
        cached = sum(
            i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
        )
        self.add("cache.cached_bytes", cached)
        self.add("cache.probes", 1)


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


def emit(metrics: dict, units: dict, attempted: int, failed: int, correct: bool, context: dict) -> None:
    """Print the context line and the result line. A missing or
    non-finite metric is reported as null and makes the run incorrect."""
    out = {}
    for name, unit in units.items():
        v = metrics.get(name)
        if v is None or not isinstance(v, (int, float)) or not math.isfinite(v):
            correct = False
            context.setdefault("bad_metrics", []).append(name)
            v = None
        out[name] = {"value": v, "unit": unit}
    print("# context " + json.dumps(context, default=str, allow_nan=False), flush=True)
    line = json.dumps(
        {"correct": bool(correct), "attempted": max(1, int(attempted)), "failed": int(failed), "metrics": out},
        allow_nan=False,
    )
    print(line, flush=True)


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _units(spec: dict, trace: bool) -> dict:
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def _floors(spark, n: int) -> dict:
    """Scheduler and shuffle floor probes (medians of 3), as context."""
    from pyspark.sql import functions as F

    def med(fn):
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return round(statistics.median(ts), 4)

    return {
        "sched_floor_s": med(lambda: spark.range(1000 * n, numPartitions=n).count()),
        "shuffle_floor_s": med(
            lambda: spark.range(1_000_000, numPartitions=n)
            .groupBy((F.col("id") % 97).alias("g"))
            .agg(F.sum("id").alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        ),
    }


def _warm_up(spark, n: int) -> None:
    """One small shuffle job and one Arrow round trip per core: JIT,
    codegen and the Python worker daemons start before timing."""
    from pyspark.sql import functions as F

    spark.range(100_000, numPartitions=n).groupBy((F.col("id") % 7).alias("g")).count().collect()

    def ident(batches):
        yield from batches

    spark.range(10 * n, numPartitions=n).mapInPandas(ident, "id long").count()


def _stop_children() -> None:
    """Kill and reap whatever this process started and left behind."""
    from tracing import descendants

    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


def run(args) -> int:
    t_proc = _process_start_epoch()
    excluded = 0.0  # benchmark-own work before the first timed operation
    spec = _bench_spec()
    trace = bool(args.trace)
    units = _units(spec, trace)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    import vnavc_spark  # noqa: F401  (fail early outside a checkout)

    import workloads as W
    from tracing import RssSampler, Tracer

    n = len(os.sched_getaffinity(0))
    ctx = Ctx(args, args.size)
    wl = W.WORKLOADS[args.workload](args.size)
    state = {"done": False}
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(trace),
        "size": args.size,
        "nproc": n,
        "mem_total_kb": int(next(ln.split()[1] for ln in open("/proc/meminfo") if ln.startswith("MemTotal"))),
    }

    def partial(signum, frame):  # noqa: ARG001
        if state["done"]:
            os._exit(128 + signum)
        state["done"] = True
        context["truncated"] = f"signal {signum} after {len(ctx.ops)} operations"
        emit({}, units, len(ctx.ops), sum(not o.ok for o in ctx.ops) + len(ctx.failures), False, context)
        if ctx.spark is not None:
            t = threading.Thread(target=ctx.spark.stop, daemon=True)
            t.start()
            t.join(10)
        _stop_children()
        os._exit(128 + signum)

    signal.signal(signal.SIGTERM, partial)
    signal.signal(signal.SIGINT, partial)

    os.makedirs(ctx.scratch, exist_ok=True)
    t = time.time()
    wl.prepare(ctx)
    excluded += time.time() - t

    # ---- set-up: session start, registry, warm-up -------------------
    from vnavc_spark.session import get_spark

    log_dir = os.path.join(ctx.scratch, "eventlog")
    extra = {"spark.ui.enabled": "false", "spark.local.dir": os.path.join(ctx.scratch, "local")}
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    rss = RssSampler()
    t_setup = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{n}]", shuffle_partitions=n, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    if trace:  # the sampler thread stays out of untraced timings
        rss.start()
    t_session = time.time()
    from vnavc_spark.queries import all_queries

    queries = all_queries()
    t_registry = time.time()
    _warm_up(spark, n)
    ctx.spark, ctx.queries = spark, queries
    t_warm = time.time()
    setup_s = (t_warm - t_proc) - excluded
    layers_setup = {
        "session.start_s": t_session - t_setup,
        "queries.registry_s": t_registry - t_session,
        "setup.warmup_s": t_warm - t_registry,
    }

    # ---- timed region ------------------------------------------------
    ctx.tracer = Tracer(enabled=trace)
    walls: list[float] = []
    t_begin = time.perf_counter()
    while True:
        first = len(ctx.ops)
        with ctx.tracer.span("iteration"):
            wl.iteration(ctx)
        walls.append(sum(o.wall for o in ctx.ops[first:]))
        ctx.iteration += 1
        if time.perf_counter() - t_begin >= args.seconds:
            break
    t_end = time.perf_counter()

    context.update(_floors(spark, n))
    conf = spark.sparkContext.getConf()
    context["spark_conf"] = {
        k: conf.get(k, None)
        for k in ("spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory", "spark.sql.adaptive.enabled")
    }
    import pyspark

    context["pyspark"] = pyspark.__version__
    context["iterations"] = ctx.iteration
    context["pass_walls"] = [round(w, 3) for w in walls]
    context["operations"] = len(ctx.ops)
    by_name: dict[str, list] = {}
    for o in ctx.ops:
        by_name.setdefault(o.name, []).append(o.wall)
    context["op_median_s"] = {k: round(_median(v), 4) for k, v in sorted(by_name.items())}
    context["timed_s"] = round(t_end - t_begin, 3)
    if trace:
        rss.stop()
    spark.stop()

    failed = sum(not o.ok for o in ctx.ops) + len(ctx.failures)
    attempted = len(ctx.ops) + ctx.checks_attempted
    context["failures"] = [(o.id, o.error) for o in ctx.ops if not o.ok][:10] + ctx.failures[:10]
    lat = [o.wall for o in ctx.ops]
    metrics = {
        "setup_s": setup_s,
        "wall_s": _median(walls),
        "ok_frac": 1.0 - failed / max(1, attempted),
        "query_p50_s": _quantile(lat, 0.5),
        "query_p90_s": _quantile(lat, 0.9),
    }
    context["latency_samples"] = len(lat)
    # untraced pass walls are kept per workload, so a traced run can
    # report its own overhead against them
    walls_log = os.path.join(WORK, f"walls-{args.workload}-{args.size}.json")
    history = []
    if os.path.exists(walls_log):
        with open(walls_log) as fh:
            history = json.load(fh)
    if not trace and not failed:
        with open(walls_log, "w") as fh:
            json.dump((history + [metrics["wall_s"]])[-50:], fh)
    if trace:
        context["untraced_walls_seen"] = len(history)
        try:
            metrics = layer_metrics(ctx, wl, walls, history, layers_setup, log_dir, failed, attempted)
            metrics["peak_rss_mb"] = rss.peak_mb()
        except Exception as e:  # a folding bug must not lose the run's line
            context["layer_error"] = f"{type(e).__name__}: {e}"
            metrics = {}
        trace_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        ctx.tracer.write(trace_path)
        context["trace_file"] = os.path.relpath(trace_path, ROOT)
        context["span_self_s"] = {k: round(v, 4) for k, v in ctx.tracer.self_times().items()}
    state["done"] = True
    emit(metrics, units, attempted, failed, failed == 0, context)
    shutil.rmtree(ctx.scratch, ignore_errors=True)
    return 0


def layer_metrics(ctx, wl, walls, untraced_walls, layers_setup, log_dir, failed, attempted) -> dict:
    """Per-layer block of a traced run, per workload pass (a pass =
    one pipeline run, or one analytics mix with its ER chain and its
    streaming twins). ``untraced_walls``: pass walls of earlier untraced runs of
    this workload, the base of the tracing overhead (0 without one)."""
    import workloads as W
    from tracing import fold_event_log

    ops = ctx.ops
    passes = max(1, len(walls))
    folded = fold_event_log(log_dir, [{"id": o.id, "start": o.start, "end": o.end} for o in ops], W.udf_layer)
    tot: dict[str, float] = {}
    for c in folded.values():
        for k, v in c.items():
            tot[k] = tot.get(k, 0.0) + v
    m = dict(layers_setup)
    per = lambda v: v / passes  # noqa: E731
    m["queries.jobs"] = per(tot.get("jobs", 0))
    m["queries.stages"] = per(tot.get("stages", 0))
    m["queries.tasks"] = per(tot.get("tasks", 0))
    m["queries.driver_s"] = per(sum(max(0.0, o.wall - folded.get(o.id, {}).get("job_s", 0.0)) for o in ops))
    self_t = ctx.tracer.self_times()
    m["queries.build_s"] = per(self_t.get("queries.build", 0.0))
    for src, dst in (
        ("scan_bytes", "io.scan_bytes"), ("scan_rows", "io.scan_rows"),
        ("run_s", "exec.run_s"), ("cpu_s", "exec.cpu_s"), ("gc_s", "exec.gc_s"),
        ("shuffle_write_bytes", "shuffle.write_bytes"), ("shuffle_read_bytes", "shuffle.read_bytes"),
        ("fetch_wait_s", "shuffle.fetch_wait_s"), ("spill_mem_bytes", "spill.mem_bytes"),
        ("spill_disk_bytes", "spill.disk_bytes"), ("result_bytes", "driver.result_bytes"),
        ("python_sent_bytes", "python.bytes_sent"), ("python_recv_bytes", "python.bytes_received"),
    ):
        m[dst] = per(tot.get(src, 0.0))
    for mod in W.OPERATOR_MODULES:
        m[f"operators.{mod}.s"] = per(sum(o.wall for o in ops if o.attrs.get("module") == mod))
    probes = max(1.0, ctx.layers.get("cache.probes", 0.0))
    m["cache.live_slots"] = ctx.layers.get("cache.live_slots", 0.0) / probes
    m["cache.cached_bytes"] = ctx.layers.get("cache.cached_bytes", 0.0) / probes
    m["cache.slot_builds"] = per(ctx.layers.get("cache.slot_builds", 0.0))
    from vnavc_spark import cache

    m["cache.reuse_probe_failures"] = float(getattr(cache, "REUSE_PROBE_FAILURES", 0))
    for stage in W.PIPELINE_STAGES:
        m[f"{stage}.s"] = per(self_t.get(stage, 0.0) + tot.get("python_s:" + stage, 0.0))
        m[f"{stage}.python_rows"] = per(tot.get("python_rows:" + stage, 0.0))
        for k in ("rows", "bytes_written"):
            m[f"{stage}.{k}"] = per(ctx.layers.get(f"{stage}.{k}", 0.0))
    for k in ("pipeline.audio.qualified_ratio", "pipeline.alignment.outlier_ratio", "pipeline.qc.kept_ratio"):
        m[k] = per(ctx.layers.get(k, 0.0))
    m["audio_s_per_s"] = wl.audio_seconds() / _median(walls) if hasattr(wl, "audio_seconds") else 0.0
    for k in ("batches", "add_batch_s", "wal_commit_s", "query_planning_s", "partial_files", "partial_bytes"):
        m[f"streaming.{k}"] = per(ctx.layers.get(f"streaming.{k}", 0.0))
    m["streaming.snapshot_s"] = per(self_t.get("streaming.snapshot", 0.0))
    batch_ms = getattr(wl, "batch_ms", [])
    m["batch_p50_s"] = _median(batch_ms) / 1e3 if batch_ms else 0.0
    m["failed_frac"] = failed / max(1, attempted)
    m["trace.wall_s"] = _median(walls)
    m["trace.overhead_s"] = _median(walls) - _median(untraced_walls) if untraced_walls else 0.0
    m["trace.spans"] = per(float(len(ctx.tracer.spans)))
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["pipeline", "analytics"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    try:
        return run(args)
    finally:
        _stop_children()


if __name__ == "__main__":
    sys.exit(main())
