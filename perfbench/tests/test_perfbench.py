"""Self-tests for the benchmark. No Spark session is started.

Run: ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import math
import os
import re

import numpy as np
import pytest

import datagen
import run
import stats
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _event_log() -> dict:
    with open(os.path.join(FIXTURES, "eventlog.jsonl")) as fh:
        return tracing.parse_event_log(fh)


def _progress() -> list[dict]:
    with open(os.path.join(FIXTURES, "progress.json")) as fh:
        return json.load(fh)


# --- BENCHMARK.json and metric names ---------------------------------------


def test_metric_and_workload_names_are_valid_and_unique():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    units = [m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert all(UNIT.match(u) for u in units)


def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_reported_end_to_end_metrics_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS


# --- workload entries ------------------------------------------------------


def test_every_workload_entry_is_registered():
    from espkinesis_spark import oracles, queries

    registry = queries.registry()
    for name in workloads.LLM_ENTRIES:
        assert name in registry
        assert name in oracles.ORACLES  # checked value by value, not by row count
    assert set(workloads.LLM_ENTRIES.values()) == set(workloads.FUNCTION_GROUPS)


def test_every_function_group_names_a_module():
    import espkinesis_spark.functions as fns

    pkg = os.path.dirname(fns.__file__)
    for group in workloads.FUNCTION_GROUPS:
        assert os.path.isfile(os.path.join(pkg, f"{group}.py"))


# --- statistics --------------------------------------------------------------


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 1001)]  # 1..1000
    assert stats.tail_percentile(xs, 99.0) == (99.0, 990.0)
    # 100 samples: p99 would leave one sample beyond; p90 leaves ten
    pct, value = stats.tail_percentile(xs[:100], 99.0)
    assert (pct, value) == (90.0, 90.0)
    assert sum(x > value for x in xs[:100]) == 10
    pct, value = stats.tail_percentile(xs[:57], 99.0)
    assert sum(x > value for x in xs[:57]) >= 10
    assert sum(x > stats.nearest_rank(xs[:57], pct + 1) for x in xs[:57]) < 10
    assert stats.tail_percentile(xs[:10], 99.0) is None


def test_geomean_and_spread():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q3 = stats.quartiles(xs)
    assert stats.rel_spread(xs) == pytest.approx((q3 - q1) / 5.5)


def test_self_time_subtracts_child_coverage_once():
    # children overlap each other and stick out of the parent on both sides
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0), (-5.0, 0.5)]) == \
        pytest.approx(10.0 - (0.5 + 3.0 + 1.0))
    assert stats.union_length([(0, 1), (0.5, 2), (5, 6)]) == pytest.approx(3.0)


def test_span_coverage_clips_children_to_parents():
    sp = tracing.Spans()
    entry = sp.add("e", "entry", 0.0, 10.0)
    c = sp.add("construct", "construct", 0.0, 6.0, entry["id"])
    sp.add("execute", "execute", 6.0, 9.5, entry["id"])
    sp.add("job", "job", 5.0, 8.0, c["id"])  # outlives the call that started it
    assert sp.coverage(entry) == pytest.approx(0.95)


# --- event log and listener parsing ------------------------------------------


def test_event_log_attributes_jobs_by_group_and_batch():
    log = _event_log()
    assert sorted(log["jobs"]) == [1, 5]
    simhash = tracing.jobs_where(log, **{tracing.JOB_GROUP: "ex_simhash"})
    assert [j["id"] for j in simhash] == [1]
    assert simhash[0]["end"] - simhash[0]["start"] == pytest.approx(2.63)
    run_id = "6a6ae2d3-fb1a-4292-9021-a2c67ca787fe"
    batch = tracing.jobs_where(log, **{tracing.JOB_GROUP: run_id, tracing.BATCH_ID: "1"})
    assert [j["id"] for j in batch] == [5]
    assert tracing.jobs_where(log, **{tracing.JOB_GROUP: run_id, tracing.BATCH_ID: "2"}) == []


def test_event_log_sums_task_updates():
    log = _event_log()
    t = tracing.stage_totals(log, tracing.jobs_where(log, **{tracing.JOB_GROUP: "ex_simhash"}))
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 1, 1)
    assert t["python_sent_bytes"] == 148240 and t["python_returned_bytes"] == 8224
    assert (t["python_start_ms"], t["python_init_ms"], t["python_run_ms"]) == (1440, 589, 2103)
    assert t["python_tasks"] == 1
    assert (t["input_bytes"], t["input_rows"]) == (1554, 500)
    stream = tracing.stage_totals(log, [log["jobs"][5]])
    assert (stream["stages"], stream["tasks"]) == (1, 4)  # stage 7 ran, no other
    assert stream["run_ms"] == 176 + 225 + 291 + 354
    assert stream["gc_ms"] == 100 and stream["python_tasks"] == 0


def test_progress_totals():
    ps = _progress()
    t = tracing.progress_totals(ps)
    assert t["batches"] == 3 and t["input_rows"] == 200 + 2800 + 300
    assert t["trigger_s"] == pytest.approx((6291 + 3020 + 2012) / 1000)
    assert t["wal_commit_s"] == pytest.approx((94 + 52) / 1000)  # absent in batch 4
    assert t["state_updates_s"] == pytest.approx((4463 + 2771 + 2105) / 1000)
    assert t["state_commit_s"] == pytest.approx((493 + 331 + 440) / 1000)
    assert (t["state_rows_total"], t["state_memory_bytes"], t["state_partitions"]) == (8, 4576, 4)
    assert t["empty_batches"] == 0
    assert tracing.progress_time(ps[0]) == pytest.approx(1792211443.383)


# per-layer metrics run.py measures itself
_RUN_LAYERS = ("session.start_s", "session.warm_s", "driver.peak_rss_mb")


def test_llm_layers_report_every_per_layer_metric():
    log = _event_log()
    sp = tracing.Spans()
    job = log["jobs"][1]
    entry = sp.add("ex_simhash", "entry", job["start"] - 0.5, job["end"] + 0.1,
                   group="ex_simhash", module="dedup")
    sp.add("construct", "construct", entry["start"], job["start"] - 0.1, entry["id"])
    sp.add("execute", "execute", job["start"] - 0.1, entry["end"], entry["id"])
    res = workloads.Result()
    res.trace.update(spans=sp, passes=[entry["end"] - entry["start"]], untraced_pass_s=3.0)
    layers = workloads.llm_layers(res, log, cores=4)
    layers.update(dict.fromkeys(_RUN_LAYERS, 1.0))
    assert set(layers) == {m["name"] for m in BENCH["per_layer"]}
    assert all(layers[k] == 0.0 for k in workloads.LIVE_ONLY)
    assert layers["functions.dedup.s"] == pytest.approx(3.23)
    assert layers["driver.gap_s"] == pytest.approx(0.6)
    assert layers["trace.coverage"] == pytest.approx(1.0)
    assert layers["python.sent_bytes"] == 148240


def _batches(frames: range, start_ms: int, t_out: float) -> dict:
    fid = np.repeat(np.array(frames, np.int64), workloads.TARGETS)
    tid = np.tile(np.arange(1, workloads.TARGETS + 1), len(frames))
    ch = workloads.expected_channels(fid)
    return {"batch_id": 0, "frame_id": fid, "target_id": tid,
            "ts_us": (start_ms + fid * (1000 // workloads.RATE)) * 1000,
            "channels": ch, "sbus": workloads.sbus_remap(ch),
            "overridden": np.zeros(len(fid), bool), "t_in": t_out - 0.1, "t_out": t_out}


def test_fanout_check_counts_each_kind_of_wrong_delivery():
    start_ms = 1_000_000_000_000
    t_w, t_end = start_ms / 1000 + 1.0, start_ms / 1000 + 3.0  # frames 100..299
    batches = [_batches(range(0, 200), start_ms, t_w + 1), _batches(range(200, 400), start_ms, t_end + 1)]
    res = workloads.Result()
    workloads._check_fanout(batches, t_w, t_end, True, res)
    assert (res.attempted, res.failed) == (200 * workloads.TARGETS, 0)

    bad = _batches(range(200, 400), start_ms, t_end + 1)
    bad["sbus"][0, 3] += 1  # wrong remap for (frame 200, target 1)
    keep = ~((bad["frame_id"] == 250) & (bad["target_id"] == 2))  # one row lost
    for k in ("frame_id", "target_id", "ts_us", "channels", "sbus", "overridden"):
        bad[k] = bad[k][keep]
    dup = _batches(range(120, 121), start_ms, t_end + 2)  # frame 120 again
    res = workloads.Result()
    workloads._check_fanout([batches[0], bad, dup], t_w, t_end, True, res)
    assert res.failed == 1 + 1 + workloads.TARGETS


def test_rate_schedule_is_whole_milliseconds():
    # the exactly-once check rebuilds each frame's ts as start + id * 1000 / RATE
    assert 1000 % workloads.RATE == 0


def test_fanout_remap_matches_recorded_engine_output():
    # (frame_id, channels, sbus) rows delivered by the engine's pipeline
    recorded = [
        (0, [1017, 1034, 1051, 1068, 1085, 1102, 1119, 1136],
         [199, 227, 255, 283, 311, 339, 367, 394]),
        (1100, [1974, 1991, 1007, 1024, 1041, 1058, 1075, 1092],
         [1768, 1796, 183, 211, 239, 267, 294, 322]),
    ]
    for fid, chans, sbus in recorded:
        got = workloads.expected_channels(np.array([fid]))
        assert got.tolist() == [chans]
        assert workloads.sbus_remap(got).tolist() == [sbus]


def test_fanout_layers_report_every_per_layer_metric():
    ps = _progress()
    run_id = ps[0]["runId"]
    t0 = tracing.progress_time(ps[0])
    start_ms = int(t0 * 1000) - 10_000
    batches = [_batches(range(i * 100, i * 100 + 100), start_ms, t0 - 5 + i) for i in range(16)]
    res = workloads.Result()
    res.trace.update(spans=tracing.Spans(), window=(t0 - 6, t0, t0 + 11), run_id=run_id,
                     progress=ps, batches=batches)
    res.samples["latency_ms"] = [float(i) for i in range(1, 1001)]
    layers = workloads.fanout_layers(res, _event_log(), cores=4)
    layers.update(dict.fromkeys(_RUN_LAYERS, 1.0))
    assert set(layers) == {m["name"] for m in BENCH["per_layer"]}
    assert layers["streaming.batches"] == 3
    assert layers["state.partitions"] == 4
    assert layers["sinks.deliver_s"] == pytest.approx(0.1)
    assert layers["sinks.latency_p99_ms"] == 990.0
    assert layers["sinks.delivered_per_s"] == pytest.approx(800.0)  # 100 frames x 8 each 1 s
    assert layers["sources.rate_behind_rows"] > 0
    assert layers["trace.overhead_frac"] == pytest.approx(0.0)  # same 1 s cycle
    assert all(math.isfinite(v) for v in layers.values())


# --- inputs --------------------------------------------------------------------


def test_datagen_is_deterministic_per_seed():
    a, b, c = datagen.build_tables(7), datagen.build_tables(7), datagen.build_tables(8)
    from espkinesis_spark.tables import TABLE_NAMES

    assert set(a) == set(TABLE_NAMES)
    for name in a:
        assert a[name].equals(b[name])
        assert a[name].num_rows == datagen.ROWS.get(name, a[name].num_rows)
    assert not a["lineitem"].equals(c["lineitem"])
    texts = a["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == datagen.NEAR_DUPS
