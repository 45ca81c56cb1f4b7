#!/usr/bin/env python3
"""Benchmark entry point for the mimranalytics-core-spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the workload's input tables
from the seed (``datagen.py``, cached per seed under ``.perfbench/``), starts
the engine's SparkSession, checks every distinct op or request class of the
workload once against DuckDB, then measures work sized by ``--seconds`` (one
graph pass per 10 s, one deck of requests per client per 20 s). The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced window plus ``trace_overhead_frac``; each
traced run also writes its spans and per-operation layer records under
``.perfbench/out/``. Detail (host stamp, failures, samples) goes to stderr.

Workloads: ``serve_mixed`` (HTTP server, 3 closed-loop clients) and
``graph_iterative`` (sequential passes over registry graph ops). An operation
is one HTTP request or one registry op run to completion.

End-to-end metrics:

- ``setup_s``: the run's cold set-up, from process start until the first
  operation can start: imports, JVM and gateway launch, session, table
  registration, noop-sink warm-up and, for ``serve_mixed``, server start
  (input generation excluded). It is taken once: a second cold start costs
  another 11-14 s, more than a run can spare.
- ``latency_p50_s``: median operation latency, Harrell-Davis estimate (for
  ``graph_iterative`` over the ops of each op's median time).
- ``throughput_ops``: operations completed per second.
- ``cpu_s_per_op``: CPU seconds of this process, the JVM and its workers per
  operation over the measured window.

The engine runs on ``local[2]`` with a 3 GB driver heap, whatever the
environment says.

The traced run measures three equal windows: untraced, traced, untraced.
``trace_overhead_frac`` compares the traced window with the mean of the two
untraced ones, so drift over the run cancels; the gap between the two untraced
windows is its noise, and the run record says whether the overhead is larger.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ("serve_mixed", "graph_iterative")
CORES = 2  # local[2]
DRIVER_MEM = "3g"
KEEP_SEEDS = 3  # generated input sets kept for reuse


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _environment(trace: bool) -> None:
    """Fix the engine's cores and heap; keep Spark's scratch files inside the
    checkout."""
    for sub in ("tmp", "spark-local", "out"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files under /tmp; JVM temp files inside the checkout
    submit = ["--conf", "spark.driver.extraJavaOptions="
              f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"]
    if trace:  # keep every job and stage of the traced window in the status store
        submit += ["--conf", "spark.ui.retainedJobs=100000",
                   "--conf", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def _inputs(seed: int) -> tuple[str, dict, float]:
    """Build (or reuse) the seed's tables and check their row counts."""
    import datagen

    data = WORK / "data"
    data.mkdir(parents=True, exist_ok=True)
    dst = data / f"seed{seed}"
    t0 = time.perf_counter()
    rows = datagen.ensure(str(dst), seed)
    prep_s = time.perf_counter() - t0
    if rows != datagen.ROWS:
        raise SystemExit(f"generated row counts {rows} != {datagen.ROWS}")
    os.utime(dst)
    kept = sorted(data.glob("seed*"), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in kept[KEEP_SEEDS:]:
        shutil.rmtree(old, ignore_errors=True)
    return str(dst), rows, prep_s


def main() -> int:
    args = _args()
    if not (ROOT / "mimranalytics_core_spark" / "__init__.py").is_file():
        print(f"no engine package next to {HERE.name}/ in {ROOT}", file=sys.stderr)
        return 2
    # metric names and units as BENCHMARK.json declares them
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}
    _environment(bool(args.trace))
    sys.path[:0] = [str(HERE), str(ROOT)]
    sf_dir, rows, prep_s = _inputs(args.seed)

    import harness
    if args.workload == "serve_mixed":
        from serve_mixed import Workload
    else:
        from graph_iterative import Workload

    stamp = harness.HostStamp()
    wl = Workload(harness.setup_engine(sf_dir), sf_dir, args.seed)
    wl.start()
    setup_s = time.perf_counter() - T_START - prep_s

    t0 = time.perf_counter()
    wl.check()
    check_s = time.perf_counter() - t0
    record = {"workload": args.workload, "seed": args.seed, "rows": rows,
              "prep_s": prep_s, "setup_s": setup_s, "check_s": check_s}
    if args.trace:
        from spans import Tracer, layer_metrics

        window = args.seconds / 2
        before = wl.measure(window)
        tracer = Tracer(wl.spark)
        tracer.install()
        try:
            traced = wl.measure(window, tracer)
        finally:
            tracer.uninstall()
        after = wl.measure(window)
        ops = tracer.summary()
        base = (Workload.cost(before) + Workload.cost(after)) / 2
        layers = layer_metrics(ops, traced["window_s"], CORES)
        layers["trace_overhead_frac"] = Workload.cost(traced) / base - 1.0
        layers["peak_rss_mb"] = harness.peak_rss_mb()
        metrics = layers
        noise = abs(Workload.cost(before) - Workload.cost(after)) / base
        record.update(untraced=[before, after], traced=traced, per_layer=layers,
                      trace_overhead_noise=noise,
                      trace_overhead_resolved=abs(layers["trace_overhead_frac"]) > noise,
                      ops=ops, spans=[list(s) for s in tracer.spans])
    else:
        cpu0 = harness.cpu_seconds()
        plain = wl.measure(args.seconds)
        plain["cpu_s_per_op"] = (harness.cpu_seconds() - cpu0) / plain["ops"]
        record["measured"] = plain
        metrics = {
            "setup_s": setup_s,
            **Workload.end_to_end(plain),
            "cpu_s_per_op": plain["cpu_s_per_op"],
        }
    t0 = time.perf_counter()
    record["host"] = stamp.finish(wl.spark, sf_dir)
    record["stamp_s"] = time.perf_counter() - t0
    record["failures"] = wl.failed
    wl.stop()
    harness.shutdown(wl.spark)

    out = WORK / "out" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1, default=str))
    summary = ("prep_s", "setup_s", "check_s", "stamp_s", "host", "failures")
    if args.trace:
        summary += ("trace_overhead_noise", "trace_overhead_resolved")
    print(json.dumps({k: record[k] for k in summary}, default=str), file=sys.stderr)
    if set(units) != set(metrics):
        raise SystemExit(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    print(json.dumps({
        "correct": not wl.failed,
        "attempted": wl.attempted,
        "failed": len(wl.failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
