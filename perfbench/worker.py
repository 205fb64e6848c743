"""Benchmark worker: runs one workload in one process with one client
thread (closed loop) and writes the result as JSON.

Started by ``run.py`` from the root of a checkout, whose engine package
it imports. Set-up (session start, input generation and loading,
warm-up) is timed apart from the ops; inputs are generated once and
loaded ``SETUP_REPS`` times, and the median load counts. Ops run in
whole rounds until their summed latency reaches ``--seconds``.

With ``--trace 1`` the worker measures two passes over the same ops
(the rounds restart from the seed each time). Every other op runs with
span wrappers (``spans.Tracer``) installed: the even ones in the first
pass, the odd ones in the second. So each op is measured once traced
and once not, half of them traced first, and warm-up and order weigh on
both sides alike. The one set-up load of a traced run is traced too.
It reports
the per-layer metrics and the tracing overhead (traced minus untraced
median op latency) and writes the spans as JSON lines.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, job_stats, self_times  # noqa: E402

PKG = "comperhensive_bigdata_analysis__spark"
#: set-up loads per run; the first pays the cold start, so more would
#: mostly lengthen every run
SETUP_REPS = 2
#: ops stop being started after this much wall time, whole round or not
WALL_CAP_S = 110


@dataclass
class Pass:
    latencies: list[float] = field(default_factory=list)
    labels: list[str] = field(default_factory=list)
    rows: int = 0
    failed: int = 0
    busy: float = 0.0

    def add(self, other: "Pass") -> None:
        self.latencies += other.latencies
        self.labels += other.labels
        self.rows += other.rows
        self.failed += other.failed
        self.busy += other.busy

    def by_label(self) -> str:
        """Median latency (ms) and count per op kind, for the log."""
        kinds: dict[str, list[float]] = {}
        for label, x in zip(self.labels, self.latencies):
            kinds.setdefault(label, []).append(x * 1000.0)
        return ", ".join(f"{k} {stats.percentile(v, 0.5):.0f}x{len(v)}" for k, v in sorted(kinds.items()))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def measure(wl, seconds: float, tracer: Tracer | None = None, parity: int = 0) -> tuple[Pass, Pass]:
    """Closed loop over whole rounds, restarted from the seed, until the
    ops' summed latency reaches ``seconds``. Each op is timed around
    ``run`` only; its output check follows outside the timing. Returns
    the (untraced, traced) ops: with a ``tracer``, every other op (those
    whose index in the loop has ``parity``) runs with its span wrappers
    installed, and so do the round ends."""
    plain, traced = Pass(), Pass()
    ctx = wl.ctx
    n = 0
    t_wall = time.monotonic()
    for rnd in wl.rounds():
        for op in rnd:
            on = tracer is not None and n % 2 == parity
            if on:
                tracer.install(wl.trace_targets(), wl.trace_probes())
                ctx.tracer, tracer.op = tracer, n
            t = time.perf_counter()
            try:
                out, err = wl.run(op), None
            except Exception as e:  # the op failed: count it and keep serving
                out, err = None, e
            dt = time.perf_counter() - t
            if on:
                tracer.uninstall()
                ctx.tracer, tracer.op = None, None
            if err is None:
                try:
                    wl.check(op, out)
                except Exception as e:
                    err = e
            p = traced if on else plain
            if err is not None:
                p.failed += 1
                if p.failed <= 3:
                    traceback.print_exception(err, file=sys.stderr)
            p.latencies.append(dt)
            p.labels.append(wl.label(op))
            p.busy += dt
            p.rows += wl.input_rows(op)
            n += 1
        ctx.tracer = tracer
        wl.end_round()
        ctx.tracer = None
        if plain.busy + traced.busy >= seconds or time.monotonic() - t_wall > WALL_CAP_S:
            break
    return plain, traced


def end_to_end(wl, p: Pass, setup_s: float, peak_mb: float) -> dict:
    ms = [x * 1000.0 for x in p.latencies]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (stats.percentile(ms, 0.5), "ms"),
        "ops_per_s": (len(ms) / p.busy, "1/s"),
        "input_rows_per_s": (p.rows / p.busy, "rows/s"),
        "stored_bytes_per_input_byte": (wl.stored_bytes / wl.input_bytes, "ratio"),
        "peak_rss_mb": (peak_mb, "MiB"),
    }


STATUS_LAYERS = ("query", "export", "forecast", "sources.ingest", "plans", "operators")
STATUS_FIGURES = ("jobs", "tasks", "task_run_ms", "input_bytes", "shuffle_write_bytes")


def _status_layer(name: str) -> str:
    for layer in ("sources.ingest", "operators"):
        if name.startswith(layer + "."):
            return layer
    return name.split(".", 1)[0]


def per_layer(tracer: Tracer, spark, traced: Pass, untraced: Pass, nproc: int) -> dict:
    """The per-layer metrics of a traced run. ``_ms`` figures are mean
    self time per traced op, except that ``sources.ingest``
    figures are per ingest call (an op on ingest_batch, one table of a
    set-up load on analyst_sql); ``_s`` figures are per set-up."""
    spans = tracer.spans
    own = self_times(spans)
    ops = [s for s in spans if s.phase == "ops"]
    n_ops = len(traced.latencies)
    c = tracer.counters

    def calls(name, pool=ops):
        return [s for s in pool if s.name == name]

    def self_ms_per_op(pred):
        return sum(own[s.id] for s in ops if pred(s.name)) * 1000.0 / n_ops

    def mean_self_ms(name, pool):
        xs = calls(name, pool)
        return sum(own[s.id] for s in xs) * 1000.0 / len(xs) if xs else 0.0

    def per(counter, n, phases=("ops",)):
        total = sum(c.get((phase, counter), 0.0) for phase in phases)
        return total / n if n else 0.0

    both = ("setup", "ops")
    ingest_calls = calls("sources.ingest.ingest_csv", spans)
    loads = calls("sources.tables.load_table")
    setup_inflates = calls("sources.inflate.inflate_corpus", spans)
    jobs = job_stats(spark, spans)
    ingest_ids = {s.id for s in spans if s.name.startswith("sources.ingest.")}
    m = {
        "query.translate_ms": (self_ms_per_op(lambda n: n == "query.translate"), "ms"),
        "query.plan_ms": (self_ms_per_op(lambda n: n == "query.plan"), "ms"),
        "export.collect_ms": (self_ms_per_op(lambda n: n == "export.collect"), "ms"),
        "export.rows_out": (per("export.rows_out", n_ops), "rows"),
        "forecast.grouped_forecast_ms": (self_ms_per_op(lambda n: n == "forecast.grouped_forecast"), "ms"),
        "forecast.groups": (per("forecast.groups", len(calls("forecast.grouped_forecast"))), "count"),
        "session.start_s": (sum(s.end - s.start for s in calls("session.start", spans)), "s"),
        "session.apply_confs_calls": (len(calls("session.apply_confs")) / n_ops, "count"),
        "sources.ingest.ingest_ms": (mean_self_ms("sources.ingest.ingest_csv", spans), "ms"),
        "sources.ingest.preprocess_ms": (
            sum(own[s.id] for s in calls("sources.ingest.preprocess", spans)) * 1000.0
            / max(len(ingest_calls), 1), "ms"),
        "sources.ingest.csv_scans": (
            sum(j["jobs"] for sid, j in jobs.items() if sid in ingest_ids) / max(len(ingest_calls), 1),
            "count"),
        "sources.ingest.bytes_in": (per("sources.ingest.bytes_in", len(ingest_calls), both), "B"),
        "sources.ingest.bytes_written": (per("sources.ingest.bytes_written", len(ingest_calls), both), "B"),
        "sources.tables.load_ms": (self_ms_per_op(lambda n: n == "sources.tables.load_table"), "ms"),
        "sources.tables.cache_hit_ratio": (per("sources.tables.load_table.unchanged", len(loads)), "ratio"),
        "sources.inflate.inflate_s": (
            sum(s.end - s.start for s in setup_inflates) / max(len(setup_inflates), 1), "s"),
        "plans.build_ms": (self_ms_per_op(lambda n: n == "plans.build"), "ms"),
        "plans.execute_ms": (self_ms_per_op(lambda n: n == "plans.execute"), "ms"),
        "cache.plan_caches_live": (per("cache.plan_caches_live", n_ops), "count"),
        "cache.released": (per("cache.released", len(calls("cache.release"))), "count"),
    }
    for mod in ("dedup", "similarity", "curation"):
        prefix = f"operators.{mod}."
        m[f"operators.{mod}.build_ms"] = (self_ms_per_op(lambda n, p=prefix: n.startswith(p)), "ms")
    totals = {(layer, fig): 0.0 for layer in STATUS_LAYERS for fig in STATUS_FIGURES}
    by_id = {s.id: s for s in ops}
    run_ms = 0.0
    for sid, figs in jobs.items():
        if sid not in by_id:
            continue
        run_ms += figs["task_run_ms"]
        layer = _status_layer(by_id[sid].name)
        for fig in STATUS_FIGURES:
            if (layer, fig) in totals:
                totals[(layer, fig)] += figs[fig]
    units = {"jobs": "count", "tasks": "count", "task_run_ms": "ms",
             "input_bytes": "B", "shuffle_write_bytes": "B"}
    for (layer, fig), v in totals.items():
        m[f"{layer}.{fig}"] = (v / n_ops, units[fig])
    m["core_busy_ratio"] = (run_ms / (traced.busy * 1000.0 * nproc), "ratio")
    p50_t = stats.percentile(traced.latencies, 0.5) * 1000.0
    p50_u = stats.percentile(untraced.latencies, 0.5) * 1000.0
    m["trace.op_p50_ms_traced"] = (p50_t, "ms")
    m["trace.op_p50_ms_untraced"] = (p50_u, "ms")
    m["trace.overhead_ms"] = (p50_t - p50_u, "ms")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()

    pkg = importlib.import_module(PKG)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"{PKG} does not come from this checkout", file=sys.stderr)
        return 3
    from comperhensive_bigdata_analysis__spark.session import get_spark

    import workloads

    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer() if args.trace else None
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    t0 = time.perf_counter()
    with tracer.span("session.start") if tracer else contextlib.nullcontext():
        spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    t_session = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    try:
        if tracer:
            tracer.spark = spark
        ctx = workloads.Context(spark, args.work, args.seed, gen.SIZES[args.size], tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        if tracer:
            tracer.install(wl.trace_targets(), wl.trace_probes())
        t = time.perf_counter()
        wl.generate()
        t_gen = time.perf_counter() - t
        loads = []
        # a traced run reports no setup_s, so one (traced) load will do
        for rep in range(1 if tracer else SETUP_REPS):
            t = time.perf_counter()
            wl.load(rep)
            loads.append(time.perf_counter() - t)
            wl.check_load()
        for err in wl.setup_errors[:3]:
            log(f"set-up check failed: {err}")
        if tracer:
            tracer.uninstall()
            ctx.tracer = None
        t = time.perf_counter()
        warm = [(op, wl.run(op)) for op in wl.warmup_ops()]
        wl.end_round()
        t_warm = time.perf_counter() - t
        for op, out in warm:
            wl.check(op, out)
        setup_s = t_session + t_gen + stats.quartiles(loads)[1] + t_warm
        log(f"session {t_session:.2f} s, inputs {t_gen:.2f} s, loads {[round(x, 2) for x in loads]} s, "
            f"warm-up {t_warm:.2f} s")

        if tracer:
            tracer.phase = "ops"
            # each op runs once traced and once not; half the ops traced first
            untraced, traced = Pass(), Pass()
            for parity in (0, 1):
                plain, spanned = measure(wl, args.seconds, tracer, parity)
                untraced.add(plain)
                traced.add(spanned)
            log(f"{len(untraced.latencies)} untraced ops in {untraced.busy:.2f} s, "
                f"{len(traced.latencies)} traced in {traced.busy:.2f} s")
            metrics = per_layer(tracer, spark, traced, untraced, nproc)
            passes = [untraced, traced]
            if args.spans:
                tracer.write(args.spans)
        else:
            first, _ = measure(wl, args.seconds)
            log(f"pass: {len(first.latencies)} ops in {first.busy:.2f} s; ms per op kind: {first.by_label()}")
            driver_mb, jvm_mb = hwm_mb(os.getpid()), hwm_mb(jvm.pid)
            log(f"peak resident MiB: driver {driver_mb:.0f}, JVM {jvm_mb:.0f}")
            metrics = end_to_end(wl, first, setup_s, driver_mb + jvm_mb)
            passes = [first]
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)

    # set-up operations (the ingests or the inflation) count with the ops
    attempted = wl.setup_checks + sum(len(p.latencies) for p in passes)
    failed = len(wl.setup_errors) + sum(p.failed for p in passes)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
