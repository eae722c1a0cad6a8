"""Shared pieces of the workloads: run context, oracle checks, statistics
and the environment record."""

from __future__ import annotations

import os
import platform
import resource
import time

import numpy as np

from tracing import Tracer


def pct(values: list[float], q: float) -> float:
    """q-th percentile (linear interpolation); needs at least one value."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


class Bench:
    """One run: its settings, the Spark session and the tallies of
    operations attempted and failed."""

    def __init__(self, seed: int, seconds: int, traced: bool, work: str, spark, start_s: float):
        self.seed, self.seconds, self.work, self.spark, self.start_s = seed, seconds, work, spark, start_s
        self.tracer = Tracer() if traced else None
        self.attempted = 0
        self.failures: list[str] = []
        self.selfcheck_failures: list[str] = []
        self.detail: dict = {}  # goes to the detailed record
        self.layer: dict[str, float] = {}  # per-layer metrics

    def op_result(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failures.append(f"{name}: {error[:500]}")

    def selfcheck(self, name: str, ok: bool) -> None:
        if not ok:
            self.selfcheck_failures.append(name)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class Oracle:
    """DuckDB oracles over one generated dataset; expected frames are
    computed once per query and reused for every pass."""

    def __init__(self, data_dir: str) -> None:
        from gmall_flink_20_spark import oracles, testing

        self._sql = oracles.ORACLES
        self._assert = testing.assert_frames_match
        self.con = testing.duckdb_con(data_dir)
        self.expected: dict = {}

    def check(self, name: str, got) -> str | None:
        """None when ``got`` equals the oracle's answer, else the mismatch."""
        exp = self.expected.get(name)
        if exp is None:
            exp = self.expected[name] = self.con.execute(self._sql[name]).df()
        try:
            self._assert(got, exp, name)
        except AssertionError as e:
            return str(e)
        return None

    def flags_perturbed(self, name: str, got) -> bool:
        """Self-check: the comparison must reject ``got`` minus one row."""
        return len(got) > 0 and self.check(name, got.iloc[:-1]) is not None

    def close(self) -> None:
        self.con.close()


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def env_record(spark, data_dirs: dict[str, str]) -> dict:
    """Everything a result depends on besides the code and the seed."""
    import duckdb
    import pyspark

    from gmall_flink_20_spark.streaming import replay, stateful

    sc = spark.sparkContext
    graft = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    sizes = {}
    for label, d in data_dirs.items():
        sizes[label] = {
            f: os.path.getsize(os.path.join(d, f)) for f in sorted(os.listdir(d)) if f.endswith(".parquet")
        }
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "env": graft,
        "effective": {
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "jvm_max_heap_bytes": spark._jvm.java.lang.Runtime.getRuntime().maxMemory(),
            "STATE_BUCKETS": stateful.STATE_BUCKETS,
            "REPLAY_CHUNKS": replay.REPLAY_CHUNKS,
            "REPLAY_CHUNKS_HEAVY": replay.REPLAY_CHUNKS_HEAVY,
        },
        "input_bytes": sizes,
    }


def now() -> float:
    return time.perf_counter()
