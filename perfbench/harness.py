"""Pieces the workloads share: engine set-up and shutdown, output
canonicalisation and hashing, the DuckDB reference answers, the host stamp and
CPU and memory reading.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent

CANARY_OPS = ("scan_parquet", "agg_groupby_hash", "win_rank")


def setup_engine(sf_dir: str):
    """Start (or restart) the engine's SparkSession, register the tables and
    warm the noop sink.

    The workloads run no Python UDF, so no UDF worker is warmed.
    """
    from mimranalytics_core_spark.operators._base import tables
    from mimranalytics_core_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tables(spark, sf_dir)
    noop_write(spark.range(1))
    return spark


def shutdown(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def noop_write(df) -> None:
    """Materialise every output column, as ``bench.py`` times an op."""
    df.write.format("noop").mode("overwrite").save()


def canon(pdf):
    """Name-sorted columns, rows sorted on all of them (``tools/driver_sim.py``)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return pdf


def frame_hash(pdf) -> str:
    return hashlib.sha256(pdf.astype(str).to_csv(index=False).encode()).hexdigest()


def compare(got, want) -> str | None:
    """None when two pandas frames agree after canonicalisation, else why not."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"schema {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if frame_hash(got) != frame_hash(want):
        return "hash mismatch"
    return None


def verdict(got, want) -> str | None:
    """:func:`compare`, where either side may be the error text of a failed run."""
    if isinstance(got, str):
        return got
    if isinstance(want, str):
        return f"oracle: {want}"
    return compare(got, want)


class Oracle:
    """DuckDB answers to ``sqls``, computed by ``oracle.py`` in a child process.

    The child starts at once, so it works while the engine computes its own
    side of the check; :meth:`answers` waits for it. Used as a context manager
    so the child has always ended when the block is left.
    """

    def __init__(self, sf_dir: str, sqls: list[str]) -> None:
        self.proc = subprocess.Popen([sys.executable, str(HERE / "oracle.py"), sf_dir],
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        self.proc.stdin.write(json.dumps(sqls).encode())
        self.proc.stdin.close()

    def answers(self) -> list:
        out = self.proc.stdout.read()
        if self.proc.wait() != 0:
            raise RuntimeError(f"oracle.py exited with {self.proc.returncode}")
        return pickle.loads(out)

    def __enter__(self) -> "Oracle":
        return self

    def __exit__(self, *exc) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.stdout.close()
        self.proc.wait()


def _cpu_stat() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class HostStamp:
    """loadavg and CPU steal over a run, plus ``bench.py``'s canary ops at
    min-of-3. Context for reading host drift; no metric is scaled by it."""

    def __init__(self) -> None:
        self.load0 = os.getloadavg()
        self.cpu0 = _cpu_stat()

    def finish(self, spark, sf_dir: str) -> dict:
        from mimranalytics_core_spark.registry import all_ops

        ops = all_ops()
        canary = {}
        for name in CANARY_OPS:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                noop_write(ops[name].fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
            canary[name] = round(min(runs), 4)
        tot1, steal1 = _cpu_stat()
        tot0, steal0 = self.cpu0
        return {
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_pct": round(100.0 * (steal1 - steal0) / max(tot1 - tot0, 1), 3),
            "canary_min3_s": canary,
        }


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_seconds() -> float:
    """User plus system CPU time of this process and its descendants (the
    JVM and its Python workers) so far."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over this process and its live descendants: the JVM
    (the reference answers come from a child that has ended by then)."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile (0 < q < 1).

    A Beta(q(n+1), (1-q)(n+1))-weighted mean of all order statistics. With a
    few dozen gappy samples, as one run gives, it moves far less from run to
    run than interpolating the two samples next to the quantile.
    """
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20_001)[1:-1]
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, grid, cdf)
    return float(np.dot(np.diff(edges), x))
