"""graph_iterative: sequential passes over registry graph ops by one caller.

Each op is built with its registry ``spec.fn`` and materialised through the
noop sink, as ``bench.py`` times it. The seed shuffles the op order of every
pass. Wall time goes to the op build: per-superstep checkpoint and
convergence jobs and py4j round-trips, with little shuffle volume.
"""

from __future__ import annotations

import random
import statistics
import time

from harness import Oracle, noop_write, quantile, verdict

OPS = (
    "graph_connected_components",
    "graph_weighted_sssp",
    "graph_kcore",
    "graph_label_propagation",
)
PASS_S = 10  # about one warm pass on 2 cores


class Workload:
    def __init__(self, spark, sf_dir: str, seed: int) -> None:
        from mimranalytics_core_spark.registry import all_ops

        self.spark = spark
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        registry = all_ops()
        self.specs = {name: registry[name] for name in OPS}
        self.attempted = 0
        self.failed: list[str] = []

    def start(self) -> None:
        """Nothing to start besides the session."""

    def stop(self) -> None:
        """Nothing to stop besides the session."""

    def check(self) -> None:
        """Run every op once and compare it with its registry oracle SQL, which
        DuckDB answers in a child process meanwhile. Doubles as warm-up."""
        names = list(self.specs)
        got: dict[str, object] = {}
        with Oracle(self.sf_dir, [self.specs[n].oracle for n in names]) as oracle:
            for name in names:
                self.attempted += 1
                try:
                    got[name] = self.specs[name].fn(self.spark, self.sf_dir).toPandas()
                except Exception as exc:  # noqa: BLE001 — a failing op is a result
                    got[name] = f"{type(exc).__name__}: {exc}"
            try:
                want = oracle.answers()
            except RuntimeError as exc:
                want = [str(exc)] * len(names)
        for name, w in zip(names, want):
            err = verdict(got[name], w)
            if err:
                self.failed.append(f"{name}: {err}"[:300])

    def _run_op(self, name: str, tracer=None, op_id: str = "") -> float:
        spec = self.specs[name]
        t0 = time.perf_counter()
        try:
            if tracer is None:
                noop_write(spec.fn(self.spark, self.sf_dir))
            else:
                with tracer.operation(op_id, name):
                    tracer.phase("build")
                    df = tracer.timed("operators.build", spec.fn, self.spark, self.sf_dir)
                    tracer.phase("exec")
                    tracer.timed("spark.exec", noop_write, df)
        except Exception as exc:  # noqa: BLE001
            self.failed.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
        return time.perf_counter() - t0

    def measure(self, seconds: float, tracer=None) -> dict:
        """One pass per ``PASS_S`` of ``seconds`` (at least one), so every run
        of the same length does the same work."""
        per_op: dict[str, list[float]] = {name: [] for name in OPS}
        passes: list[float] = []
        t_start = time.perf_counter()
        for p in range(max(1, round(seconds / PASS_S))):
            order = list(OPS)
            self.rng.shuffle(order)
            total = 0.0
            for name in order:
                self.attempted += 1
                dt = self._run_op(name, tracer, f"p{p}.{name}")
                per_op[name].append(dt)
                total += dt
            passes.append(total)
        return {
            "window_s": time.perf_counter() - t_start,
            "passes": passes,
            "ops": len(OPS) * len(passes),
            "per_op_s": per_op,
            # per-op medians summed: one pass's wall with per-op noise damped
            "pass_s": sum(statistics.median(v) for v in per_op.values()),
        }

    @staticmethod
    def end_to_end(m: dict) -> dict[str, float]:
        typical = [statistics.median(v) for v in m["per_op_s"].values()]
        return {
            "latency_p50_s": quantile(typical, 0.50),
            "throughput_ops": len(typical) / m["pass_s"],
        }

    @staticmethod
    def cost(m: dict) -> float:
        """The figure traced and untraced windows are compared on."""
        return m["pass_s"]
