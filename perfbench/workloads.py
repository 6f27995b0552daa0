"""The benchmark's workloads: ``llm_kernels`` (closed loop) and
``fanout_live`` (open loop).

Both drive the engine only through its public surfaces:
``queries.registry()[name](spark, data_dir)`` followed by a noop write, the
engine's own DuckDB differential check (``verify.compare`` against
``oracles.ORACLES``), and the composable ``streaming.sources`` /
``pipeline`` / ``sinks`` functions. Every timing is taken from outside
those calls.

Each workload returns a ``Result``: end-to-end samples, the attempted and
failed counts and, when traced, the spans and records that ``llm_layers``
and ``fanout_layers`` turn into the per-layer figures.
"""

from __future__ import annotations

import math
import os
import random
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import stats
import tracing

# Entry -> the ``espkinesis_spark.functions`` module the kernel lives in.
LLM_ENTRIES = {
    "ex_simhash": "dedup",
    "ex_kmeans": "similarity",
    "ex_bpe_train": "text",
    "ex_pagerank": "graph",
    "ex_frame_decode": "multimodal",
    "ex_sketch_quantile": "quantiles",
}
FUNCTION_GROUPS = ("dedup", "similarity", "text", "graph", "multimodal", "quantiles")
# per-layer metrics only the live stream produces
LIVE_ONLY = (
    *(f"streaming.{k}" for k in ("batches", "input_rows", "empty_batch_frac", *tracing.PHASES)),
    "state.rows_total", "state.updates_s", "state.commit_s", "state.memory_bytes",
    "state.partitions", "sinks.deliver_s", "sinks.latency_p99_ms", "sinks.delivered_per_s",
    "sources.rate_behind_rows",
)

# fanout_live: frames per second offered by the rate source (each frame goes
# to every target). 1000 / RATE is a whole number of milliseconds, so the
# rate source's schedule is exactly ts(frame_id) = start + frame_id * 1000 / RATE.
RATE = 100
TARGETS = 8
WARMUP_S = 4.0  # discarded after the first delivery, before the window opens
FIRST_DELIVERY_TIMEOUT_S = 60.0
DRAIN_TIMEOUT_S = 20.0  # after the window, wait at most this long for its rows

RC_MIN, RC_MAX, SBUS_MIN, SBUS_MAX = 1000, 2000, 172, 1811


@dataclass
class Result:
    samples: dict = field(default_factory=dict)  # e2e metric -> list of samples
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)  # human-readable reasons
    warm_s: float = 0.0  # the workload's warm-up, counted in setup_s
    trace: dict = field(default_factory=dict)  # a traced run's spans and raw records
    notes: dict = field(default_factory=dict)  # sample counts, percentiles used

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.failures.append(why)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm_up_python(spark) -> None:
    """bench.py's Python worker pool warm-up: the first pandas/Arrow query
    otherwise pays the daemon spawn."""
    _noop(spark.range(64).repartition(32).mapInPandas(lambda it: it, schema="id long"))


# --- llm_kernels -----------------------------------------------------------


def check_llm_entries(spark, data_dir: str, order: list[str], res: Result) -> None:
    """Correctness gate, outside the timed region: every entry's result
    against its DuckDB oracle (or a non-empty row count where the entry
    declares no oracle). Doubles as each entry's untimed first draw."""
    from espkinesis_spark import oracles, queries
    from espkinesis_spark.verify import compare, duck_connection

    registry = queries.registry()
    con = duck_connection(data_dir)
    try:
        for name in order:
            res.attempted += 1
            try:
                df = registry[name](spark, data_dir)
                if name in oracles.ORACLES:
                    compare(df, con.execute(oracles.ORACLES[name]).df())
                elif df.count() == 0:
                    raise AssertionError("no rows")
            except Exception as exc:  # noqa: BLE001 - every failure is counted
                res.fail(1, f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
    finally:
        con.close()


def _passes(spark, data_dir, rng, until: float, res: Result, tag: str,
            spans: tracing.Spans | None = None) -> list[float]:
    """Closed loop, one client: whole passes over the entries, each in a
    fresh seed-drawn order, started until ``until`` (perf_counter) has
    passed; the last one runs to its end. Returns the wall time of each
    pass; per-entry draws land in ``res.notes['draws']``."""
    from espkinesis_spark import queries

    registry = queries.registry()
    sc = spark.sparkContext
    draws = res.notes.setdefault("draws", {})
    walls: list[float] = []
    while not walls or time.perf_counter() < until:
        order = rng.sample(sorted(LLM_ENTRIES), len(LLM_ENTRIES))
        p0 = time.perf_counter()
        for name in order:
            res.attempted += 1
            try:
                if spans is None:
                    t0 = time.perf_counter()
                    df = registry[name](spark, data_dir)
                    t1 = time.perf_counter()
                    _noop(df)
                    t2 = time.perf_counter()
                else:
                    group = f"{tag}:{len(walls)}:{name}"
                    sc.setJobGroup(group, name)
                    with spans.span(name, "entry", group=group,
                                    module=LLM_ENTRIES[name]) as entry:
                        t0 = time.perf_counter()
                        with spans.span("construct", "construct", entry["id"]):
                            df = registry[name](spark, data_dir)
                        t1 = time.perf_counter()
                        with spans.span("execute", "execute", entry["id"]):
                            _noop(df)
                        t2 = time.perf_counter()
                draws.setdefault(name, []).append((t1 - t0, t2 - t1))
            except Exception as exc:  # noqa: BLE001
                res.fail(1, f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
        walls.append(time.perf_counter() - p0)
    sc.setJobGroup("perfbench:idle", "")
    return walls


def _llm_samples(res: Result, walls: list[float]) -> None:
    draws = res.notes.pop("draws", {})
    per_entry = {n: stats.median([a + b for a, b in d]) for n, d in draws.items()}
    res.samples["pass_s"] = walls
    # one entry draw is the unit of work; every entry weighs the same
    res.samples["latency_ms"] = [stats.geomean(list(per_entry.values())) * 1000]
    res.notes["entry_median_s"] = {n: round(v, 4) for n, v in sorted(per_entry.items())}
    res.notes["draw_count"] = sum(len(d) for d in draws.values())


def run_llm_kernels(spark, data_dir: str, seed: int, seconds: float, trace: bool) -> Result:
    res = Result()
    rng = random.Random(seed)
    # no separate warm-up: the gate below is every entry's untimed first draw
    start = time.perf_counter()
    check_llm_entries(spark, data_dir, rng.sample(sorted(LLM_ENTRIES), len(LLM_ENTRIES)), res)
    res.notes["gate_s"] = round(time.perf_counter() - start, 2)
    start = time.perf_counter()
    if not trace:
        walls = _passes(spark, data_dir, rng, start + seconds, res, "timed")
        _llm_samples(res, walls)
        return res
    # Traced run: an untraced half (its figures go to the summary), then a
    # traced half on the same session.
    untraced = _passes(spark, data_dir, rng, start + seconds / 2, res, "untraced")
    _llm_samples(res, untraced)
    spans = tracing.Spans()
    traced = _passes(spark, data_dir, rng, start + seconds, res, "traced", spans)
    res.notes.pop("draws", None)
    res.trace.update(spans=spans, passes=traced, untraced_pass_s=stats.median(untraced))
    return res


def llm_layers(res: Result, log: dict, cores: int) -> dict:
    """Per-layer figures for the traced passes, per pass."""
    spans, walls = res.trace["spans"], res.trace["passes"]
    untraced_pass = res.trace["untraced_pass_s"]
    n = len(walls)
    pass_s = stats.median(walls)
    entries = spans.of_kind("entry")
    out: dict[str, float] = {}
    construct = sum(s["end"] - s["start"] for s in spans.of_kind("construct"))
    execute = sum(s["end"] - s["start"] for s in spans.of_kind("execute"))
    out["queries.construct_s"] = construct / n
    out["queries.execute_s"] = execute / n
    out["queries.construct_share"] = out["queries.construct_s"] / pass_s
    gap, jobs_all, coverages = 0.0, [], []
    for e in entries:
        jobs = tracing.jobs_where(log, **{tracing.JOB_GROUP: e["group"]})
        jobs_all.extend(jobs)
        gap += stats.self_time((e["start"], e["end"]), [(j["start"], j["end"]) for j in jobs])
        kids = spans.children(e)
        for j in jobs:  # place each job under the phase it overlaps most
            owner = max(kids, key=lambda k: min(k["end"], j["end"]) - max(k["start"], j["start"]))
            spans.add(f"job {j['id']}", "job", j["start"], j["end"], owner["id"])
        coverages.append(spans.coverage(e))
    out["driver.gap_s"] = gap / n
    out.update(_spark_layers(tracing.stage_totals(log, jobs_all), n, pass_s, cores))
    for group in FUNCTION_GROUPS:
        out[f"functions.{group}.s"] = sum(
            e["end"] - e["start"] for e in entries if e["module"] == group) / n
    for name in LIVE_ONLY:
        out[name] = 0.0  # no stream runs in this workload
    out["trace.overhead_frac"] = (pass_s - untraced_pass) / untraced_pass
    out["trace.coverage"] = min(coverages)
    res.notes["trace_coverage_by_entry"] = {
        e["name"]: round(c, 4) for e, c in zip(entries, coverages)}
    res.notes["traced_passes"] = n
    return out


def _spark_layers(tot: dict, n: int, wall: float, cores: int) -> dict:
    run_s = tot["run_ms"] / 1000.0 / n
    return {
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.run_s": run_s,
        "spark.cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.gc_s": tot["gc_ms"] / 1000.0 / n,
        "spark.slot_util": run_s / (wall * cores),
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "tables.input_bytes": tot["input_bytes"] / n,
        "tables.input_rows": tot["input_rows"] / n,
        "python.sent_bytes": tot["python_sent_bytes"] / n,
        "python.returned_bytes": tot["python_returned_bytes"] / n,
        "python.tasks": tot["python_tasks"] / n,
        "python.start_s": tot["python_start_ms"] / 1000.0 / n,
        "python.init_s": tot["python_init_ms"] / 1000.0 / n,
        "python.run_s": tot["python_run_ms"] / 1000.0 / n,
    }


# --- fanout_live -----------------------------------------------------------


def expected_channels(frame_ids: np.ndarray) -> np.ndarray:
    """The rate source's deterministic channels, one row per frame:
    1000 + pmod(frame_id * 131 + i * 17, 1001) for i = 1..8."""
    i = np.arange(1, 9, dtype=np.int64)
    return 1000 + np.mod(frame_ids[:, None] * 131 + i[None, :] * 17, 1001)


def sbus_remap(channels: np.ndarray) -> np.ndarray:
    """The receiver's truncating 1000-2000 -> 172-1811 remap."""
    return (channels - RC_MIN) * (SBUS_MAX - SBUS_MIN) // (RC_MAX - RC_MIN) + SBUS_MIN


class Deliveries:
    """The sink's deliver callback: pulls each micro-batch into this
    process and stamps when it returned."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.lock = threading.Lock()

    def deliver(self, batch, batch_id: int) -> None:
        from pyspark.sql import functions as F

        t_in = time.time()
        pdf = batch.select(
            "target_id", "frame_id", F.unix_micros("ts").alias("ts_us"),
            "channels", "sbus", "overridden",
        ).toPandas()
        rec = {
            "batch_id": batch_id,
            "target_id": pdf["target_id"].to_numpy(np.int64),
            "frame_id": pdf["frame_id"].to_numpy(np.int64),
            "ts_us": pdf["ts_us"].to_numpy(np.int64),
            "channels": np.array(pdf["channels"].tolist(), np.int64).reshape(-1, 8),
            "sbus": np.array(pdf["sbus"].tolist(), np.int64).reshape(-1, 8),
            "overridden": pdf["overridden"].to_numpy(bool),
            "t_in": t_in,
            "t_out": time.time(),
        }
        with self.lock:
            self.batches.append(rec)

    def snapshot(self) -> list[dict]:
        with self.lock:
            return list(self.batches)

    def max_ts(self) -> float:
        with self.lock:
            ts = [b["ts_us"].max() for b in self.batches if len(b["ts_us"])]
        return max(ts) / 1e6 if ts else -math.inf


def _wait_for(cond, timeout: float, query) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if cond():
            return True
        if query.exception() is not None or not query.isActive:
            return False
        time.sleep(0.05)
    return cond()


class ProgressLog:
    """Collects streaming progress from a ``StreamingQueryListener``."""

    def __init__(self) -> None:
        import json

        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


def run_fanout_live(spark, work_dir: str, seconds: float, trace: bool) -> Result:
    from espkinesis_spark.streaming import fixtures, pipeline, sinks, sources

    res = Result()
    t_start = time.time()
    # Needed, not only warming: on a session whose first query is this
    # stream, the first micro-batch fails with "key not found: value#1L".
    warm_up_python(spark)
    cmd_dir = os.path.join(work_dir, "commands")
    os.makedirs(cmd_dir, exist_ok=True)
    frames = sources.rate_frames(spark, RATE)
    lines = sources.command_lines(spark, cmd_dir)
    out, _rejected = pipeline.transmitter(frames, lines, fixtures.targets_df(spark, TARGETS))
    sink = Deliveries()
    query = sinks.keyed_foreach_batch_sink(
        pipeline.receiver_remap(out), sink.deliver,
        checkpoint=os.path.join(work_dir, "fanout_ckpt"),
    )
    progress = ProgressLog() if trace else None
    try:
        if not _wait_for(lambda: any(len(b["ts_us"]) for b in sink.snapshot()),
                         FIRST_DELIVERY_TIMEOUT_S, query):
            raise RuntimeError("the stream delivered no rows")
        # the pipeline's own warm-up: everything up to its first delivery
        res.warm_s = time.time() - t_start
        t_w = time.time() + WARMUP_S
        t_mid, t_end = t_w + seconds / 2, t_w + seconds
        if progress is not None:
            time.sleep(max(0.0, t_mid - time.time()))
            spark.streams.addListener(progress.listener)
        time.sleep(max(0.0, t_end - time.time()))
        drained = _wait_for(lambda: sink.max_ts() >= t_end, DRAIN_TIMEOUT_S, query)
        exc = query.exception()
    finally:
        query.stop()
    if progress is not None:
        time.sleep(1.0)  # listener events arrive asynchronously
        spark.streams.removeListener(progress.listener)
    if exc is not None:
        raise RuntimeError(f"stream failed: {exc}")
    batches = sink.snapshot()
    _check_fanout(batches, t_w, t_end, drained, res)
    _fanout_samples(batches, t_w, t_end, res)
    if trace:
        res.trace.update(spans=tracing.Spans(), window=(t_w, t_mid, t_end),
                         run_id=str(query.runId), progress=progress.events, batches=batches)
    return res


def _start_ms(batches: list[dict]) -> np.ndarray:
    """Each row's implied rate-source start time (ms): constant when every
    timestamp follows the schedule."""
    fid = np.concatenate([b["frame_id"] for b in batches])
    ts = np.concatenate([b["ts_us"] for b in batches])
    return ts // 1000 - fid * (1000 // RATE)


def _check_fanout(batches, t_w, t_end, drained, res: Result) -> None:
    """Exactly-once delivery of each (target_id, frame_id) scheduled in the
    window, and SBUS values equal to the remap of the source's channels."""
    rows = [b for b in batches if len(b["frame_id"])]
    if not rows:
        res.attempted = 1
        res.fail(1, "no rows delivered")
        return
    starts = np.unique(_start_ms(rows))
    if len(starts) != 1:
        res.fail(1, f"timestamps off the rate schedule ({len(starts)} distinct starts)")
    start_ms = int(starts[0])
    step = 1000 // RATE
    lo = math.ceil((t_w * 1000 - start_ms) / step)
    hi = math.ceil((t_end * 1000 - start_ms) / step)  # exclusive
    expected = hi - lo
    res.attempted = expected * TARGETS
    fid = np.concatenate([b["frame_id"] for b in rows])
    tid = np.concatenate([b["target_id"] for b in rows])
    keep = (fid >= lo) & (fid < hi)
    fid, tid = fid[keep], tid[keep]
    chans = np.concatenate([b["channels"] for b in rows])[keep]
    sbus = np.concatenate([b["sbus"] for b in rows])[keep]
    over = np.concatenate([b["overridden"] for b in rows])[keep]
    bad_target = int(((tid < 1) | (tid > TARGETS)).sum())
    counts = np.zeros((expected, TARGETS), np.int64)
    ok = (tid >= 1) & (tid <= TARGETS)
    np.add.at(counts, (fid[ok] - lo, tid[ok] - 1), 1)
    missing = int((counts == 0).sum())
    dups = int(np.clip(counts - 1, 0, None).sum())
    want = expected_channels(fid)
    wrong = int((np.any(chans != want, axis=1) | np.any(sbus != sbus_remap(want), axis=1) | over).sum())
    if not drained:
        res.failures.append("window not fully delivered before the drain timeout")
    for n, why in ((missing, "missing"), (dups, "duplicated"), (wrong, "wrong SBUS/channels"),
                   (bad_target, "unknown target")):
        if n:
            res.fail(n, f"{n} (target_id, frame_id) rows {why}")


def _fanout_samples(batches, t_w, t_end, res: Result) -> None:
    lat, outs = [], []
    for b in sorted(batches, key=lambda x: x["t_out"]):
        ts = b["ts_us"] / 1e6
        sel = (ts >= t_w) & (ts < t_end)
        if sel.any():
            lat.append((b["t_out"] - ts[sel]) * 1000.0)
            outs.append(b["t_out"])
    res.samples["latency_ms"] = np.concatenate(lat).tolist() if lat else []
    res.samples["pass_s"] = np.diff(outs).tolist()
    res.notes["batches_in_window"] = len(outs)


def fanout_layers(res: Result, log: dict, cores: int) -> dict:
    """Per-layer figures for the traced half of the window, per micro-batch."""
    t_w, t_mid, t_end = res.trace["window"]
    spans, run_id = res.trace["spans"], res.trace["run_id"]
    progress, batches = res.trace["progress"], res.trace["batches"]
    out: dict[str, float] = {}
    used = [p for p in progress if p.get("runId") == run_id and t_mid <= tracing.progress_time(p) < t_end]
    n = max(len(used), 1)
    tot = tracing.progress_totals(used)
    for key in tracing.PHASES:
        out[f"streaming.{key}"] = tot[key] / n
    out["streaming.batches"] = tot["batches"]
    out["streaming.input_rows"] = tot["input_rows"] / n
    out["streaming.empty_batch_frac"] = tot["empty_batches"] / n
    out["state.rows_total"] = tot["state_rows_total"]
    out["state.updates_s"] = tot["state_updates_s"] / n
    out["state.commit_s"] = tot["state_commit_s"] / n
    out["state.memory_bytes"] = tot["state_memory_bytes"]
    out["state.partitions"] = tot["state_partitions"]
    jobs, gap, cover = [], 0.0, []
    for p in used:
        start = tracing.progress_time(p)
        trig = (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
        bj = tracing.jobs_where(log, **{tracing.JOB_GROUP: run_id,
                                        tracing.BATCH_ID: str(p["batchId"])})
        jobs.extend(bj)
        span = spans.add(f"batch {p['batchId']}", "batch", start, start + trig)
        for j in bj:
            spans.add(f"job {j['id']}", "job", j["start"], j["end"], span["id"])
        for b in batches:
            if b["batch_id"] == p["batchId"]:
                spans.add("deliver", "deliver", b["t_in"], b["t_out"], span["id"])
        gap += stats.self_time((start, start + trig), [(j["start"], j["end"]) for j in bj])
        if trig > 0:
            dur = p["durationMs"]
            cover.append(sum(dur.get(v, 0) for k, v in tracing.PHASES.items()
                             if k != "trigger_s") / 1000.0 / trig)
    halves = {}
    for name, (a, b) in (("untraced", (t_w, t_mid)), ("traced", (t_mid, t_end))):
        outs = sorted(x["t_out"] for x in batches if a <= x["t_out"] < b)
        if len(outs) < 2:
            raise RuntimeError(f"fewer than two deliveries in the {name} half of the window")
        halves[name] = stats.median(list(np.diff(outs)))
    cycle = halves["traced"]
    out.update(_spark_layers(tracing.stage_totals(log, jobs), n, cycle, cores))
    out["driver.gap_s"] = gap / n
    for key in ("queries.construct_s", "queries.execute_s", "queries.construct_share"):
        out[key] = 0.0  # the pipeline is built once, before the window
    for group in FUNCTION_GROUPS:
        out[f"functions.{group}.s"] = 0.0
    traced = [b for b in batches if t_mid <= b["t_out"] < t_end]
    out["sinks.deliver_s"] = (
        sum(b["t_out"] - b["t_in"] for b in traced) / len(traced) if traced else 0.0)
    rows = [b for b in batches if len(b["frame_id"])]
    start_ms = int(np.median(_start_ms(rows)))
    behind, seen = [], -1
    for b in sorted(batches, key=lambda x: x["t_out"]):
        if len(b["frame_id"]):
            seen = max(seen, int(b["frame_id"].max()))
        if t_mid <= b["t_out"] < t_end:
            scheduled = int((b["t_out"] * 1000 - start_ms) // (1000 // RATE)) + 1
            behind.append((scheduled - (seen + 1)) * TARGETS)
    out["sources.rate_behind_rows"] = stats.median(behind) if behind else 0.0
    lat = res.samples["latency_ms"]
    tail = stats.tail_percentile(lat, 99.0)
    out["sinks.latency_p99_ms"] = tail[1] if tail else 0.0
    res.notes["sinks.latency_p99_ms"] = f"p{tail[0]:g} of {len(lat)} rows" if tail else "too few rows"
    window = sorted(x["t_out"] for x in batches if t_w <= x["t_out"] < t_end)
    out["sinks.delivered_per_s"] = (
        sum(len(x["frame_id"]) for x in batches if window[0] < x["t_out"] <= window[-1])
        / (window[-1] - window[0]))
    out["trace.overhead_frac"] = (cycle - halves["untraced"]) / halves["untraced"]
    out["trace.coverage"] = stats.median(cover) if cover else 0.0
    res.notes["traced_batches"] = len(used)
    return out
