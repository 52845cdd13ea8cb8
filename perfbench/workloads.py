"""The benchmark's workloads and the closed-loop runner that times them.

Each workload prepares its one-time state after a session start, yields
a seeded stream of operations, runs one operation through the engine's
public entry points, and checks the outputs against DuckDB after the
timed window. `measure` drives one client with zero think time: the
next operation starts when the previous one returns.
"""

from __future__ import annotations

import datetime
import os
import random
import statistics
import time
import traceback

from data_pipeline_and_visualization_dashboard_spark import (
    charts, dashboard, pipeline, session,
)
from data_pipeline_and_visualization_dashboard_spark.dashboard import (
    DashboardSession,
)
from data_pipeline_and_visualization_dashboard_spark.derive import (
    EVENT_TYPE_LABELS,
)

from perfbench import oracle
from perfbench.spans import Tracer

# bounds the length of a run on a busy host, where operations run 2x slower
WARMUP_MAX_S = 30.0
CHART_FNS = ("filtered_events", "metrics_summary", "top_users",
             "avg_value_by_hour", "value_histogram", "type_donut",
             "day_hour_heatmap")


class Dashboard:
    """One `render_payload` per seeded widget state over the cached
    100,000-row events table; never writes."""

    name = "dashboard"
    # every op plans new literals, so the JIT keeps warming for ~30 ops;
    # a short warm-up left the timed window on that slope
    warmup = 15
    spans = ("session.get_spark", "io.read_table", "io.cache_materialized",
             "dashboard.render_payload", "derive.derive_event_columns",
             "io.handoff") + tuple(f"charts.{fn}" for fn in CHART_FNS)

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.session: DashboardSession | None = None

    def patch(self, tracer: Tracer) -> None:
        tracer.patch(dashboard, "read_table", "io.read_table")
        tracer.patch(dashboard, "cache_materialized", "io.cache_materialized")
        for fn in CHART_FNS:
            tracer.patch(dashboard, fn, f"charts.{fn}")
        tracer.patch(charts, "derive_event_columns",
                     "derive.derive_event_columns")

    def prepare(self, spark, tracer: Tracer) -> None:
        # the handoff: toPandas on the class the session's frames have
        tracer.patch(type(spark.range(0)), "toPandas", "io.handoff")
        self.session = DashboardSession(spark, self.data_dir)
        self.session.base()

    def ops(self):
        labels = list(EVENT_TYPE_LABELS.values())
        jan1 = datetime.date(2024, 1, 1)
        while True:
            lo = jan1 + datetime.timedelta(days=self.rng.randrange(30))
            hi = lo + datetime.timedelta(days=self.rng.randint(1, 10))
            h0 = self.rng.randrange(24)
            h1 = self.rng.randint(h0, 23)
            picked = sorted(self.rng.sample(labels, self.rng.randint(1, 5)))
            yield ((lo.isoformat(), hi.isoformat()), (h0, h1), picked)

    def run_op(self, op, tracer: Tracer):
        with tracer.span("dashboard.render_payload"):
            return self.session.render_payload(*op)

    def check(self, con, done: list) -> list[bool]:
        return [oracle.dashboard_ok(con, op, out) for op, out in done]

    def figures(self, done: list, lat: list[float]) -> dict:
        return {"interaction_p50_s": statistics.median(lat),
                "interaction_p90_s": p90(lat)}


class EventsEtl:
    """One `run_events_pipeline` into a fresh output directory over the
    generated 1,000,000-row events table."""

    name = "events_etl"
    warmup = 2
    spans = ("session.get_spark", "pipeline.run_events_pipeline",
             "io.read_table", "validate.validate_schema",
             "clean.clean_events_observed", "derive.derive_event_columns",
             "io.write_parquet")

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.out_root = os.path.join(os.path.dirname(data_dir), "out")
        self.spark = None
        self.n = 0

    def patch(self, tracer: Tracer) -> None:
        for attr, name in (("read_table", "io.read_table"),
                           ("validate_schema", "validate.validate_schema"),
                           ("clean_events_observed",
                            "clean.clean_events_observed"),
                           ("derive_event_columns",
                            "derive.derive_event_columns"),
                           ("write_parquet", "io.write_parquet")):
            tracer.patch(pipeline, attr, name)

    def prepare(self, spark, tracer: Tracer) -> None:
        self.spark = spark

    def ops(self):
        while True:
            self.n += 1
            yield os.path.join(self.out_root, f"op{self.n}")

    def run_op(self, out_path: str, tracer: Tracer):
        with tracer.span("pipeline.run_events_pipeline"):
            res = pipeline.run_events_pipeline(self.spark, self.data_dir,
                                               out_path)
        return res.removal_report

    def check(self, con, done: list) -> list[bool]:
        expected = oracle.etl_expected(con)
        return [oracle.etl_ok(con, expected, report, out)
                for out, report in done]

    def figures(self, done: list, lat: list[float]) -> dict:
        in_bytes = os.path.getsize(os.path.join(self.data_dir,
                                                "events.parquet"))
        out_bytes = [sum(os.path.getsize(os.path.join(d, f))
                         for d, _, files in os.walk(out) for f in files
                         if f.endswith(".parquet"))
                     for out, _ in done]
        rows = done[0][1]["rows_in"]
        return {"etl_rows_per_s": rows / statistics.median(lat),
                "etl_write_amplification":
                    statistics.median(out_bytes) / in_bytes}


WORKLOADS = {w.name: w for w in (Dashboard, EventsEtl)}


def p90(values: list[float]) -> float:
    """Linear-interpolated 90th percentile (the value itself for one)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' VmHWM (peak resident set) in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def _setup(wl, tracer: Tracer, conf: dict, spark) -> tuple:
    """Stop `spark` if given, start a session and do the workload's
    one-time work; returns the session and the seconds it took."""
    if spark is not None:
        spark.stop()
    tracer.phase = "setup"
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = session.get_spark(app_name=f"perfbench-{wl.name}",
                                  extra_conf=conf)
    wl.prepare(spark, tracer)
    return spark, time.perf_counter() - t0


def measure(wl, seconds: float, tracer: Tracer, conf: dict, gauge,
            setups: int = 5) -> dict:
    """Set up, warm up (`wl.warmup` operations, or as many as start
    within WARMUP_MAX_S), time operations until `seconds` have passed,
    with a `gauge` sample after each, then set up `setups - 1` more times
    so that `setup_s` is a median. The extra set-ups come last so that no
    restart precedes the timed operations."""
    wl.patch(tracer)
    spark, first = _setup(wl, tracer, conf, None)

    ops = wl.ops()
    tracer.phase = "warmup"
    t0 = time.perf_counter()
    warmup = 0
    while warmup < wl.warmup and time.perf_counter() - t0 < WARMUP_MAX_S:
        wl.run_op(next(ops), tracer)
        warmup += 1
    warmup_s = time.perf_counter() - t0

    tracer.phase = "op"
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    done, lat = [], []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        op = next(ops)
        t0 = time.perf_counter()
        try:
            out = wl.run_op(op, tracer)
        except Exception:   # a failed op is counted, the client goes on
            traceback.print_exc()
            out = None
        lat.append(time.perf_counter() - t0)
        done.append((op, out))
        gauge.sample()
    window = time.perf_counter() - start
    rss = peak_rss_mb(pids)

    setup_s = [first]
    for _ in range(setups - 1):
        spark, took = _setup(wl, tracer, conf, spark)
        setup_s.append(took)
    return {"setup_s": setup_s, "done": done, "lat": lat,
            "window_s": window, "warmup": warmup, "warmup_s": warmup_s,
            "peak_rss_mb": rss, "setups": setups}
