"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the repository root. The inputs are generated from the seed in
a separate process, under `.perfbench_work/`, which is removed at exit.
The engine runs at local[4] with a 2 GB driver. The command prints a
table of metrics with units, then, as its last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`:

- `--trace 0`: the end-to-end metrics of BENCHMARK.json, tracing off;
- `--trace 1`: the per-layer metrics of BENCHMARK.json, from spans
  around the calls into each module and the Spark event log. The full
  per-span profile goes to `.perfbench_out/trace-<workload>-<seed>.json`.

Every timed output is checked against DuckDB after the timed window; a
wrong or failed operation makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("dashboard", "events_etl")
SPARK_ENV = {"SPARK_GRAFT_CPUS": "4", "SPARK_DRIVER_MEM": "2g",
             # the launcher JVM would write /tmp/hsperfdata_<user>
             "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData"}
# units of the figures printed besides the end-to-end metrics
FIGURE_UNITS = {"op_p50_s": "s", "gauge_s": "s",
                "interaction_p50_s": "s", "interaction_p90_s": "s",
                "etl_rows_per_s": "rows/s", "etl_write_amplification": "ratio",
                "failed_frac": "ratio"}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_engine() -> None:
    """Stop the active SparkContext, then end the JVM the gateway started
    and wait for it; a no-op when no JVM was started."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()   # no py4j traffic to a JVM that is going away
    proc = gateway.proc
    proc.stdin.close()   # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def spark_conf(work: Path, traced: bool) -> dict[str, str]:
    # keep the JVM's temp files inside the checkout; UsePerfData would
    # write /tmp/hsperfdata_<user>
    conf = {"spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"}
    if traced:
        (work / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": (work / "eventlog").as_uri()})
    return conf


def end_to_end(m: dict) -> dict[str, float]:
    """The gated metrics; the latency is scaled to the reference host
    (see `perfbench/host.py`)."""
    from perfbench import host

    scale = host.REF_S / statistics.median(m["gauge_s"])
    return {"op_p50_norm_s": statistics.median(m["lat"]) * scale,
            "peak_rss_mb": m["peak_rss_mb"],
            "setup_s": statistics.median(m["setup_s"])}


def per_layer(args, wl, m, e2e, work: Path, names: list[str]) -> tuple:
    """The declared per-layer metrics, and the declared spans that never
    fired (a stale patch target would otherwise report silent zeros)."""
    from perfbench import spans

    jobs = spans.fold_jobs(spans.read_event_log(str(work / "eventlog")))
    rows = spans.span_rows(m["tracer"].spans, jobs)
    prof = spans.profile(rows, {"setup": m["setups"], "op": len(m["lat"])})
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"trace-{args.workload}-{args.seed}.json").write_text(
        json.dumps({"profile": prof, "spans": rows}, indent=1))
    values = {n: (e2e[n.split(".", 1)[1]] if n.startswith("traced.")
                  else prof.get(n, 0.0)) for n in names}
    missing = sorted(set(wl.spans) - {s.name for s in m["tracer"].spans})
    return values, missing


def bench(args, spec: dict, work: Path) -> int:
    data = work / "data"
    (work / "tmp").mkdir(parents=True)
    os.environ.update(SPARK_ENV, SPARK_LOCAL_DIRS=str(work / "spark-local"),
                      TMPDIR=str(work / "tmp"))
    tempfile.tempdir = str(work / "tmp")
    subprocess.run([sys.executable, str(ROOT / "perfbench" / "gen.py"),
                    args.workload, str(args.seed), str(data)], check=True)
    from perfbench import host

    gauge = host.Gauge()   # forked before the engine starts

    try:
        from perfbench import oracle
        from perfbench.spans import Tracer
        from perfbench.workloads import WORKLOADS as CLASSES, measure

        wl = CLASSES[args.workload](str(data), args.seed)
        tracer = Tracer(enabled=args.trace == 1)
        try:
            m = measure(wl, args.seconds, tracer,
                        spark_conf(work, tracer.enabled), gauge)
        finally:
            tracer.unpatch_all()
            stop_engine()
    finally:
        gauge.close()
    m["tracer"] = tracer
    m["gauge_s"] = gauge.samples
    good = [(op, out) for op, out in m["done"] if out is not None]
    passed = sum(wl.check(oracle.connect(str(data)), good))
    attempted = len(m["done"])
    failed = attempted - passed

    e2e = end_to_end(m)
    units = dict(FIGURE_UNITS, **{d["name"]: d["unit"]
                                  for d in spec["end_to_end"]})
    shown = dict(e2e, op_p50_s=statistics.median(m["lat"]),
                 gauge_s=statistics.median(m["gauge_s"]),
                 **(wl.figures(good, m["lat"]) if good else {}),
                 failed_frac=failed / attempted)
    print(f"{args.workload}: seed {args.seed}, 1 closed-loop client; "
          f"set-ups {', '.join(f'{s:.2f}' for s in m['setup_s'])} s; "
          f"{m['warmup']} warm-up ops in {m['warmup_s']:.1f} s; "
          f"{attempted} timed ops in {m['window_s']:.1f} s")
    for name, value in shown.items():
        print(f"  {name:44s} {value:14.4f} {units[name]}")

    if args.trace:
        declared = spec["per_layer"]
        values, missing = per_layer(args, wl, m, e2e, work,
                                    [d["name"] for d in declared])
        if missing:
            print(f"declared spans that never fired: {missing}",
                  file=sys.stderr)
            failed = max(failed, 1)
        for d in declared:
            print(f"  {d['name']:44s} {values[d['name']]:14.4f} {d['unit']}")
    else:
        declared = spec["end_to_end"]
        values = e2e
    metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
               for d in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload in its own process; the last line merges their
    results with metric names prefixed by the workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        code = code or proc.returncode
        if proc.returncode not in (0, 1) or not lines:
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update(
            {f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    try:
        import data_pipeline_and_visualization_dashboard_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return bench(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
