"""The benchmark command, run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 9 --trace 0

Workloads: ``dashboard`` (closed loop, one client; see batch.py) and
``live`` (open loop at a fixed input rate; see live.py).
Inputs come from gen.py, seeded by ``--seed``. Every output is checked
against the package's DuckDB oracles. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. A detailed record (environment, parameters,
samples, self-checks, spans) is written under ``.perfbench_work/results``.

The command pins the package settings it depends on: ``SPARK_GRAFT_CPUS``
is the number of usable cores, every other ``SPARK_GRAFT_*`` variable is
removed so the package defaults apply, and all temporary files stay under
``.perfbench_work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

E2E_UNITS = {
    "setup_s": "s",
    "pass_p50_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. ``dashboard`` and ``live``
    print the same set; a layer a workload does not touch reads 0 and the
    detailed record says why."""
    import batch
    import live

    units = {
        "session.start_s": "s",
        "session.peak_rss_mb": "MB",
        "generator.gen_s": "s",
        "generator.rows": "count",
        "generator.late_p90_s": "s",
        "io.load_table_s": "s",
        "io.load_table_calls": "count",
        "io.table_cache_hits": "count",
        "queries.plan_build_s": "s",
        "queries.collect_s": "s",
        "queries.spark_jobs": "count",
        "queries.spark_tasks": "count",
        "operators.plan_build_s": "s",
    }
    units.update({f"operators.{q}_s": "s" for q in batch.DASHBOARD + batch.CORPUS})
    units[batch.MEMO_HITS] = "count"
    units.update(live.layer_units())
    units.update(live.backfill_units())
    units.update({"trace.pass_p50_s": "s", "trace.latency_p50_s": "s", "trace.self_share": "ratio"})
    return units


def calibrate() -> dict:
    """Host speed and load before Spark starts: the median of five timings
    of a fixed pure-Python loop, and the load average. Runs whose
    calibrations differ by more than 10% are not comparable."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        times.append(time.perf_counter() - t)
    return {"calibration_s": statistics.median(times), "loadavg_1m": os.getloadavg()[0]}


def pin_environment(work: str) -> None:
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (Spark's launcher too): temp files in the checkout, and no
    # hsperfdata file, which would go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def start_spark(work: str):
    from gmall_flink_20_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import gmall_flink_20_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    t = time.perf_counter()
    host = calibrate()
    calibration_s = time.perf_counter() - t

    import batch
    import live
    from common import Bench, env_record, peak_rss_mb

    spark = start_spark(work)
    b = Bench(args.seed, args.seconds, bool(args.trace), work, spark, time.perf_counter() - T0 - calibration_s)
    try:
        if args.workload == "dashboard":
            metrics = batch.run(b)
        else:
            metrics = live.run(b)
        b.layer["session.peak_rss_mb"] = peak_rss_mb(spark)
        env = env_record(spark, b.detail.pop("data_dirs"))
        env["host"] = {**host, "loadavg_1m_end": os.getloadavg()[0]}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    b.layer["session.start_s"] = b.start_s
    unavailable = {}
    if args.trace:
        b.layer["trace.pass_p50_s"] = metrics["pass_p50_s"]
        b.layer["trace.latency_p50_s"] = metrics["latency_p50_s"]
        units = layer_units()
        for name in units:
            if name not in b.layer:
                b.layer[name] = 0
                unavailable[name] = f"the {args.workload} workload does not exercise this layer"
        shown = {k: (b.layer[k], u) for k, u in units.items()}
    else:
        shown = {k: (metrics[k], u) for k, u in E2E_UNITS.items()}
    failed = len(b.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "end_to_end": metrics,
        "per_layer": b.layer,
        "unavailable": unavailable,
        "failed_share": failed / max(b.attempted, 1),
        "failures": b.failures,
        "selfcheck_failures": b.selfcheck_failures,
        **b.detail,
    }
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if b.tracer is not None:
        b.tracer.dump(stem + ".spans.json")
    print(f"perfbench: env {json.dumps(env, sort_keys=True)}")
    print(f"perfbench: detail in {stem}.json")
    print(
        json.dumps(
            {
                "correct": failed == 0 and not b.selfcheck_failures,
                "attempted": b.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
