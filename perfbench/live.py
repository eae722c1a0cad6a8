"""Open-loop ``live`` workload: a fixed input rate into two concurrent
streaming jobs.

One generator thread renames one parquet file per tick into a watched
directory, on a wall-clock schedule that does not wait for the jobs. Event
time runs ``SPEEDUP`` times faster than wall time, so the 1 h windows and
the 2 h order horizon close, and state reaches a steady size, within a run.
Two jobs read the directory, both on a ``TRIGGER`` processing-time trigger
and with the state partitions of ``streaming.replay.replay_shuffle``:

- ``hot_items``: ``streaming.windows.streaming_windowed_count`` (sliding
  1 h / 5 min click counts per item) into
  ``streaming.topn.topn_upsert_sink`` with a ``ParquetUpsertStore``;
- ``order_timeout``: ``streaming.stateful.order_timeout_stream`` (2 h
  horizon) into a memory sink.

Latency of a file for a job is the end of the micro-batch that consumed
the file minus the time the file was due. The file-to-batch link comes
from the job's checkpoint (source and offset logs), the batch end from the
modification time of the batch's commit-log entry.

The warm-up ends when both jobs have caught up with the input: their last
``WARM_BATCHES`` committed micro-batches each read no file that was due
more than ``CAUGHT_UP_S`` before the batch started. The measured window
opens then and lasts ``--seconds``; the generator stops at its end. After
the window, ``streaming.replay.flush_sentinel`` files fire every pending
order timer, and both jobs' final outputs are checked against the
``hot_items_topn`` and ``order_timeout`` oracles over every event fed.
A traced run then drains the registry replays in ``BACKFILL``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import Bench, Oracle, now, pct
from tracing import ProgressListener

# Events per wall-clock second: half of 4,000, the highest rate at which
# every output matched its oracle on 4 cores (stepped at 4,000, 8,000 and
# 16,000 with this traffic mix). Latency was flat up to 16,000, but from
# 8,000 on order_timeout_stream returned wrong results.
RATE = 2_000
TICK_S = 0.2  # one file per tick
# A fixed trigger makes each batch take the same share of input, so batch
# time does not feed back into batch size; keep --seconds a multiple of it.
TRIGGER_S = 3.0
TRIGGER = f"{TRIGGER_S:g} seconds"
SPEEDUP = 1_440  # event-time seconds per wall-clock second
# Warm-up: over once each job's last WARM_BATCHES committed batches read no
# file due more than CAUGHT_UP_S before the batch started (one trigger
# interval of waiting plus five ticks). A run that has not warmed up
# within MAX_WARMUP_S is invalid; the inputs cover that long plus the window.
WARM_BATCHES = 2
CAUGHT_UP_S = TRIGGER_S + 5 * TICK_S
MAX_WARMUP_S = 60.0
# A valid window: per-file latency in its last third at most one trigger
# interval above its first third (no growing backlog), and the generator
# late by at most half a tick at p90.
BACKLOG_LIMIT_S = TRIGGER_S
LATE_LIMIT_S = TICK_S / 2
USERS = 20_000  # as batch.DASHBOARD_EVENTS
LATE_SHARE = 1.0  # every click arrives up to gen.LATE_S event-seconds late
DELAY = "10 minutes"  # watermark delay, above gen.LATE_S
HORIZON_S = 7_200
JOBS = ("hot_items", "order_timeout")

STREAM_METRICS = {
    "batches": "count",
    "rows_per_batch_p50": "count",
    "trigger_ms_p50": "ms",
    "add_batch_ms_p50": "ms",
    "query_planning_ms_p50": "ms",
    "wal_commit_ms_p50": "ms",
    "commit_offsets_ms_p50": "ms",
    "latest_offset_ms_p50": "ms",
    "state_rows": "count",
    "state_memory_bytes": "bytes",
    "state_commit_ms_p50": "ms",
    "rows_dropped_by_watermark": "count",
}


def layer_units() -> dict[str, str]:
    units = {f"streaming.{j}.{m}": u for j in JOBS for m, u in STREAM_METRICS.items()}
    units["streaming.replay.sentinel_s"] = "s"
    return units


def make_inputs(b: Bench, total_s: float, out_dir: str) -> tuple[list, dict]:
    """Per-tick arrow tables, and the whole stream written as a dataset
    for the determinism self-check. A late click goes into the file of its
    arrival tick."""
    p = gen.EventParams(
        events=int(RATE * total_s),
        users=USERS,
        days=total_s * SPEEDUP / 86_400,
        late_share=LATE_SHARE,
        late_s=gen.LATE_S,
    )
    cols = gen.event_columns(b.seed, p)
    n_ticks = int(round(total_s / TICK_S))
    tick_us = int(TICK_S * SPEEDUP * 1_000_000)
    tick = np.minimum((cols["arrival_us"] - gen.EPOCH_US) // tick_us, n_ticks - 1)
    order = np.argsort(tick, kind="stable")
    bounds = np.searchsorted(tick[order], np.arange(n_ticks + 1))
    tables = [gen.events_table(cols, order[bounds[i] : bounds[i + 1]]) for i in range(n_ticks)]
    params = {
        "events": dataclasses.asdict(p),
        "corpus": dataclasses.asdict(gen.NO_CORPUS),
        "live": {"rate": RATE, "tick_s": TICK_S, "trigger": TRIGGER, "speedup": SPEEDUP, "max_warmup_s": MAX_WARMUP_S, "delay": DELAY},
    }
    gen.write_dataset(out_dir, b.seed, gen.events_table(cols), gen.NO_CORPUS, params)
    return tables, params


class Feeder(threading.Thread):
    """Writes file i at ``t0 + i * TICK_S`` (wall clock), whatever the jobs do."""

    def __init__(self, tables: list, watch: str, stage: str, t0: float) -> None:
        super().__init__(name="perfbench-feeder", daemon=True)
        self.tables, self.watch, self.stage, self.t0 = tables, watch, stage, t0
        self.stop = threading.Event()
        self.end = float("inf")  # no file due at or after this is written
        self.written: list[tuple[str, float, float]] = []  # (file, due, visible)

    def run(self) -> None:
        for i, table in enumerate(self.tables):
            due = self.t0 + i * TICK_S
            if due >= self.end or self.stop.wait(max(0.0, due - time.time())):
                return
            self.write(f"{i:06d}.parquet", table, due)

    def write(self, name: str, table, due: float) -> None:
        tmp = os.path.join(self.stage, name)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.watch, name))
        self.written.append((name, due, time.time()))


def source_links(checkpoint: str) -> tuple[dict[str, list[int]], dict[int, float], dict[int, float]]:
    """(file name -> micro-batches that read it, micro-batch -> end time,
    micro-batch -> start time) from a file-source checkpoint. The source
    log (plain and compacted entries) names the source offset that listed
    each file; the offset log names the first micro-batch that reached
    that offset (a no-data batch repeats an offset); the modification
    times of the offset-log and commit-log entries give each micro-batch's
    start and end."""
    first_batch: dict[int, int] = {}
    starts: dict[int, float] = {}
    offsets = os.path.join(checkpoint, "offsets")
    for batch_id in sorted(int(e) for e in os.listdir(offsets) if e.isdigit()):
        path = os.path.join(offsets, str(batch_id))
        with open(path) as f:
            source_offset = json.loads(f.read().splitlines()[2])["logOffset"]
        starts[batch_id] = os.stat(path).st_mtime_ns / 1e9
        first_batch.setdefault(source_offset, batch_id)
    batches: dict[str, set[int]] = {}
    src = os.path.join(checkpoint, "sources", "0")
    for entry in os.listdir(src):
        if entry.startswith("."):
            continue
        with open(os.path.join(src, entry)) as f:
            for line in f.read().splitlines()[1:]:
                rec = json.loads(line)
                batches.setdefault(os.path.basename(rec["path"]), set()).add(first_batch.get(rec["batchId"], -1))
    ends = {}
    commits = os.path.join(checkpoint, "commits")
    for entry in os.listdir(commits):
        if entry.isdigit():
            ends[int(entry)] = os.stat(os.path.join(commits, entry)).st_mtime_ns / 1e9
    return {k: sorted(v) for k, v in batches.items()}, ends, starts


def _stream_metrics(progress: list[dict]) -> dict[str, float]:
    def p50(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return statistics.median(vals) if vals else 0

    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    data = [p for p in progress if p["numInputRows"] > 0]
    return {
        "batches": len(progress),
        "rows_per_batch_p50": statistics.median([p["numInputRows"] for p in data]) if data else 0,
        "trigger_ms_p50": p50("triggerExecution"),
        "add_batch_ms_p50": p50("addBatch"),
        "query_planning_ms_p50": p50("queryPlanning"),
        "wal_commit_ms_p50": p50("walCommit"),
        "commit_offsets_ms_p50": p50("commitOffsets"),
        "latest_offset_ms_p50": p50("latestOffset"),
        "state_rows": state[-1]["numRowsTotal"] if state else 0,
        "state_memory_bytes": state[-1]["memoryUsedBytes"] if state else 0,
        "state_commit_ms_p50": statistics.median([s["commitTimeMs"] for s in state]) if state else 0,
        "rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
    }


def start_jobs(b: Bench, watch: str, schema):
    from pyspark.sql import functions as F

    from gmall_flink_20_spark.streaming import stateful
    from gmall_flink_20_spark.streaming import topn as stopn
    from gmall_flink_20_spark.streaming import windows as swindows

    spark = b.spark
    src = spark.readStream.schema(schema).parquet(watch).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = src.filter(F.col("event_type") == "click").select(
        F.get_json_object("props", "$.k").cast("long").alias("item_id"), "ts"
    )
    counts = swindows.streaming_windowed_count(clicks, "ts", DELAY, "1 hour", "5 minutes", "item_id")
    store = stopn.ParquetUpsertStore(b.path("hot_items_store"), "window_end_s", "item_id")
    hot = (
        stopn.topn_upsert_sink(counts, store)
        .trigger(processingTime=TRIGGER)
        .queryName("hot_items")
        .option("checkpointLocation", b.path("ckpt", "hot_items"))
        .start()
    )
    events = src.select("user_id", "event_id", F.col("ts").cast("long").alias("ts_s"), "event_type", "ts")
    orders = (
        stateful.order_timeout_stream(events.withWatermark("ts", DELAY), horizon_s=HORIZON_S)
        .writeStream.format("memory")
        .trigger(processingTime=TRIGGER)
        .queryName("order_timeout")
        .outputMode("append")
        .option("checkpointLocation", b.path("ckpt", "order_timeout"))
        .start()
    )
    return {"hot_items": hot, "order_timeout": orders}, store


def _wait_committed(b: Bench, job: str, names: list[str], timeout_s: float = 60.0) -> None:
    """Block until a committed micro-batch of ``job`` has read every file
    in ``names``."""
    deadline = time.time() + timeout_s
    while True:
        batches, ends, _ = source_links(b.path("ckpt", job))
        if all(batches.get(n) and batches[n][0] in ends for n in names):
            return
        if time.time() > deadline:
            raise TimeoutError(f"{job} did not commit {len(names)} files within {timeout_s} s")
        time.sleep(0.05)


def _stop_between_batches(query, timeout_s: float = 10.0) -> None:
    """Stop a query while no micro-batch runs, so none is interrupted."""
    deadline = time.time() + timeout_s
    while query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.02)
    query.stop()


def _flush(b: Bench, feeder: Feeder, data: str) -> float:
    """Two far-future sentinel files after the last data file: the first
    moves the watermark past every order's deadline, the second, written
    once the first is committed, runs the batch in which those timers
    fire. Returns the seconds spent building the sentinels. Hot items
    needs no flush: its update-mode store holds every final count once
    the data files are committed."""
    from gmall_flink_20_spark import io
    from gmall_flink_20_spark.streaming import replay

    template = io.load_table(b.spark, data, "events")
    spent = 0.0
    for j, days in enumerate((30, 31)):
        t = now()
        row = replay.flush_sentinel(b.spark, template, "ts", days=days).toPandas()
        spent += now() - t
        name = f"sentinel{j}.parquet"
        feeder.write(name, pa.Table.from_pandas(row, schema=gen.EVENTS_SCHEMA, preserve_index=False), time.time())
        _wait_committed(b, "order_timeout", [name])
    _wait_committed(b, "hot_items", [n for n, _, _ in feeder.written if not n.startswith("sentinel")])
    return spent


def _check(b: Bench, store, data: str) -> None:
    from pyspark.sql import functions as F

    from gmall_flink_20_spark.operators import topn

    oracle = Oracle(data)
    snap = store.snapshot(b.spark)
    top = topn.top_n_per_key(snap, ["window_end_s"], "cnt", 5, tiebreak=["item_id"]).select(
        "window_end_s", "item_id", "cnt", F.col("rn").cast("long").alias("rn")
    )
    hot = top.toPandas()
    b.op_result("hot_items_topn", oracle.check("hot_items_topn", hot))
    b.selfcheck("oracle_flags_perturbed_output", oracle.flags_perturbed("hot_items_topn", hot))
    orders = b.spark.table("order_timeout").select("create_id", "user_id", "create_ts_s", "status").toPandas()
    b.op_result("order_timeout", oracle.check("order_timeout", orders))
    oracle.close()


def _generate(b: Bench, total_s: float) -> tuple[list, dict, float]:
    """Inputs made three times: the median time is the generator's share
    of set-up, identical digests its determinism self-check."""
    times, digests = [], []
    for rep in range(3):
        d = b.path(f"data{rep}")
        t = now()
        tables, params = make_inputs(b, total_s, d)
        times.append(now() - t)
        digests.append(gen.file_digest(d))
        shutil.rmtree(d)
    b.selfcheck("generator_deterministic", len(set(digests)) == 1)
    b.detail["params"] = params
    b.layer["generator.gen_s"] = statistics.median(times)
    return tables, params, statistics.median(times)


def _write_fed(b: Bench, feeder: Feeder, params: dict) -> str:
    """The dataset of every event the generator fed, for the flush and the
    oracles: how many files that is depends on when the warm-up ended."""
    fed = [feeder.tables[int(name[:6])] for name, _, _ in feeder.written]
    events = pa.concat_tables(fed).sort_by("event_id")
    d = b.path("fed")
    gen.write_dataset(d, b.seed, events, gen.NO_CORPUS, {**params, "files_fed": len(fed)})
    b.detail["data_dirs"] = {"dataset": d}
    b.layer["generator.rows"] = events.num_rows
    return d


def _caught_up(b: Bench, due: dict[str, float]) -> bool:
    """True once, for every job, the last ``WARM_BATCHES`` committed
    micro-batches each read no file due more than ``CAUGHT_UP_S`` before
    the batch started."""
    for job in JOBS:
        batches, ends, starts = source_links(b.path("ckpt", job))
        oldest: dict[int, float] = {}
        for name, ids in batches.items():
            if name in due:
                oldest[ids[0]] = min(oldest.get(ids[0], due[name]), due[name])
        done = sorted(i for i in oldest if i in ends)[-WARM_BATCHES:]
        if len(done) < WARM_BATCHES or any(starts[i] - oldest[i] > CAUGHT_UP_S for i in done):
            return False
    return True


def _warm_up(b: Bench, feeder: Feeder) -> float:
    """Wait until both jobs have caught up (see ``_caught_up``); returns
    the wall-clock time at which that was seen."""
    deadline = feeder.t0 + MAX_WARMUP_S
    while time.time() < deadline:
        due = {name: d for name, d, _ in list(feeder.written)}
        if _caught_up(b, due):
            return time.time()
        time.sleep(0.1)
    b.selfcheck("live_warmed_up", False)
    return time.time()


def _latencies(b: Bench, feeder: Feeder, window: tuple[float, float]) -> tuple[list, list]:
    """Latency of every (file, job) due in the window and, per file, the
    latest of its jobs. Every data file must be read by exactly one batch
    of each job — an operation that fails otherwise."""
    links = {job: source_links(b.path("ckpt", job)) for job in JOBS}
    lat: list[float] = []
    per_file: list[float] = []
    once = True
    series = []
    for name, due, _ in feeder.written:
        if name.startswith("sentinel"):
            continue
        ends = []
        for job in JOBS:
            batch_ids = links[job][0].get(name, [])
            b.op_result(f"{job}:{name}", None if len(batch_ids) == 1 else f"read by batches {batch_ids}")
            once &= len(batch_ids) == 1
            if len(batch_ids) == 1 and batch_ids[0] in links[job][1]:
                ends.append(links[job][1][batch_ids[0]] - due)
        series.append([round(due - feeder.t0, 3)] + [round(e, 3) for e in ends])
        if window[0] <= due < window[1] and len(ends) == len(JOBS):
            lat.extend(ends)
            per_file.append(max(ends))
    b.selfcheck("every_file_read_exactly_once", once)
    b.detail["latency_series"] = series
    return lat, per_file


# The registry's oracle-gated replays a traced run drains after the live
# jobs have stopped, on their own event log: a windowed aggregation and a
# stateful (per user and day) one, the two cheapest of the registry's
# five, so that streaming.replay and the replayed streaming.stateful
# layer are measured at all.
BACKFILL = ["page_views_streaming", "blacklist_kept_streaming"]
BACKFILL_EVENTS = gen.EventParams(events=10_000, users=2_000)


def backfill_units() -> dict[str, str]:
    units = {"streaming.replay.replay_stream_s": "s", "streaming.replay.run_to_completion_s": "s"}
    for q in BACKFILL:
        units.update({f"streaming.{q}_s": "s", f"streaming.{q}.batches": "count"})
        units.update({f"streaming.{q}.add_batch_ms": "ms", f"streaming.{q}.state_rows": "count"})
    units["streaming.backfill.drain_eps"] = "events/s"
    return units


def _backfill(b: Bench, listener: ProgressListener) -> None:
    """Traced runs only: drain each ``BACKFILL`` replay once (availableNow)
    and check it against its oracle. Per replay: wall time, micro-batches,
    summed ``addBatch`` and the final state rows, from its progress
    events; ``drain_eps`` is the geometric mean over replays of events in
    the log per second of wall time."""
    from gmall_flink_20_spark.queries import QUERIES
    from gmall_flink_20_spark.streaming import replay, stateful

    tr = b.tracer
    d = b.path("backfill")
    gen.batch_dataset(d, b.seed, BACKFILL_EVENTS, gen.NO_CORPUS)
    oracle = Oracle(d)
    tr.wrap_module(replay, "streaming.replay")
    tr.wrap_module(stateful, "streaming.stateful")
    first_span = len(tr.spans)
    rates = []
    for q in BACKFILL:
        tr.op = q
        seen, ended = len(listener.events), listener.terminated
        t = now()
        try:
            out, err = QUERIES[q](b.spark, d).toPandas(), None
        except Exception as e:  # counts in `failed`
            out, err = None, f"{type(e).__name__}: {e}"
        wall = now() - t
        b.op_result(q, err if err is not None else oracle.check(q, out))
        deadline = time.time() + 10
        while listener.terminated == ended and time.time() < deadline:
            time.sleep(0.05)  # the listener bus delivers the last progress before termination
        prog = listener.events[seen:]
        state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        b.layer[f"streaming.{q}_s"] = wall
        b.layer[f"streaming.{q}.batches"] = len(prog)
        b.layer[f"streaming.{q}.add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in prog)
        b.layer[f"streaming.{q}.state_rows"] = state[-1]["numRowsTotal"] if state else 0
        rates.append(BACKFILL_EVENTS.events / wall)
    oracle.close()
    tr.uninstall()
    for fn in ("replay_stream", "run_to_completion"):
        b.layer[f"streaming.replay.{fn}_s"] = sum(
            s["end"] - s["start"] for s in tr.spans[first_span:] if s["name"] == f"streaming.replay.{fn}"
        )
    b.layer["streaming.backfill.drain_eps"] = float(np.exp(np.mean(np.log(rates))))


def run(b: Bench) -> dict:
    from datetime import datetime

    from gmall_flink_20_spark.streaming import replay, stateful, topn, windows

    tables, params, gen_s = _generate(b, MAX_WARMUP_S + b.seconds)
    watch, stage = b.path("watch"), b.path("stage")
    os.makedirs(watch)
    os.makedirs(stage)
    pq.write_table(tables[0].slice(0, 0), os.path.join(stage, "schema.parquet"))
    schema = b.spark.read.parquet(os.path.join(stage, "schema.parquet")).schema
    t_jobs = now()
    listener = None
    if b.tracer is not None:
        for mod in (windows, topn, stateful, replay):
            b.tracer.wrap_module(mod, mod.__name__.split(".", 1)[1])
        listener = ProgressListener(b.tracer)
        b.spark.streams.addListener(listener)
    # state partitions as the package sizes them for its streaming jobs
    with replay.replay_shuffle(b.spark):
        queries, store = start_jobs(b, watch, schema)
    if b.tracer is not None:
        b.tracer.wrap(store, "upsert", "streaming.topn.ParquetUpsertStore.upsert")
    t0 = time.time() + 0.2
    feeder = Feeder(tables, watch, stage, t0)
    feeder.start()
    try:
        start = _warm_up(b, feeder)
        setup_s = b.start_s + gen_s + (now() - t_jobs)
        window = (start, start + b.seconds)
        feeder.end = window[1]
        feeder.join()
        data = _write_fed(b, feeder, params)
        t = now()
        b.layer["streaming.replay.sentinel_s"] = _flush(b, feeder, data)
        b.detail["flush_s"] = now() - t
    finally:
        feeder.stop.set()
        feeder.join()
        for q in queries.values():
            _stop_between_batches(q)
        if b.tracer is not None:
            b.tracer.uninstall()
    lat, per_file = _latencies(b, feeder, window)
    t = now()
    _check(b, store, data)
    b.detail["check_s"] = now() - t

    late = [vis - due for name, due, vis in feeder.written if not name.startswith("sentinel")]
    third = max(1, len(per_file) // 3)
    growth = statistics.median(per_file[-third:]) - statistics.median(per_file[:third])
    b.selfcheck("live_backlog_steady", growth <= BACKLOG_LIMIT_S)
    b.selfcheck("generator_on_time", pct(late, 90) <= LATE_LIMIT_S)
    b.layer["generator.late_p90_s"] = pct(late, 90)
    if listener is not None:
        for job in JOBS:
            prog = [
                p
                for p in listener.progress.get(job, [])
                if window[0] <= datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() < window[1]
            ]
            for m, v in _stream_metrics(prog).items():
                b.layer[f"streaming.{job}.{m}"] = v
        b.layer["trace.self_share"] = b.tracer.self_s / b.seconds
        t = now()
        _backfill(b, listener)
        b.detail["backfill_s"] = now() - t
        b.spark.streams.removeListener(listener)
    b.detail.update(
        samples={"files": len(per_file), "file_job_latencies": len(lat)},
        latency_s=lat,
        warmup_s=window[0] - t0,
        generator_late_s={"p50": pct(late, 50), "p90": pct(late, 90), "max": max(late)},
        backlog_growth_s=growth,
    )
    return {
        "setup_s": setup_s,
        "pass_p50_s": statistics.median(per_file),
        "latency_p50_s": pct(lat, 50),
        "latency_p90_s": pct(lat, 90),
    }
