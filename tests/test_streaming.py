"""Streaming-semantics replay tests (SURVEY §5.3).

Replays the synthesized fixtures (frames / commands / acks) through the
transmitter, receiver, and command-plane pipelines with availableNow
triggers, asserting against independently computed expected state.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from espkinesis_spark.streaming import fixtures, pipeline, sources


@pytest.fixture(scope="module")
def fixture_paths(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("stream_fixtures")
    return fixtures.write_fixtures(spark, str(out))


@pytest.fixture(scope="module")
def targets(spark):
    df = fixtures.targets_df(spark)
    df.cache().count()
    return df


def _drain(df, name, mode="append"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def _expected_transmitter(spark, fixture_paths, targets):
    """Independent (pandas) recomputation of the override-session output."""
    frames = spark.read.schema(sources.FRAME_SCHEMA).parquet(fixture_paths["frames"]).toPandas()
    lines = spark.read.schema(sources.COMMAND_LINE_SCHEMA).json(fixture_paths["commands"]).toPandas()
    tgt_ids = [r["id"] for r in targets.select("id").collect()]

    # parse + validate commands exactly per the reference contract
    valid = []
    for row in lines.itertuples():
        try:
            doc = json.loads(row.raw)
        except json.JSONDecodeError:
            continue
        if doc.get("command") != "override_channels":
            continue
        tid, ch, dur = doc.get("target_id"), doc.get("channels"), doc.get("duration")
        if tid is None or ch is None or dur is None:
            continue
        if not (1 <= len(ch) <= 8) or dur < 1:
            continue
        if not all(v == -1 or 1000 <= v <= 2000 for v in ch):
            continue
        if tid not in tgt_ids:
            continue
        valid.append((tid, row.ts, ch, dur))

    out = {}
    for tid in tgt_ids:
        evs = [(row.ts, 0, "frame", row.frame_id, list(row.channels), None) for row in frames.itertuples()]
        evs += [(ts, 1, "command", None, ch, dur) for (t, ts, ch, dur) in valid if t == tid]
        evs.sort(key=lambda e: (e[0], e[1]))
        patch, expiry = None, -1
        for ts, _, kind, fid, ch, dur in evs:
            t_us = ts.value // 1000
            if kind == "command":
                patch, expiry = ch, t_us + dur * 1000
            else:
                if patch is not None and t_us < expiry:
                    merged = [c if c != -1 else v for c, v in zip(patch, ch)]
                    out[(tid, fid)] = (merged, True)
                else:
                    out[(tid, fid)] = (list(ch), False)
    return out


def test_transmitter_pipeline_replay(spark, fixture_paths, targets):
    frames = sources.file_stream(spark, fixture_paths["frames"], sources.FRAME_SCHEMA)
    lines = sources.file_stream(
        spark, fixture_paths["commands"], sources.COMMAND_LINE_SCHEMA, fmt="json"
    )
    out_stream, _ = pipeline.transmitter(frames, lines, targets)
    got_df = _drain(out_stream, "tx_out")
    got = {
        (r["target_id"], r["frame_id"]): (list(r["channels"]), r["overridden"])
        for r in got_df.collect()
    }
    expected = _expected_transmitter(spark, fixture_paths, targets)
    assert len(got) == len(expected) == 400 * 8
    mismatches = {k: (got[k], expected[k]) for k in expected if got[k] != expected[k]}
    assert not mismatches, f"{len(mismatches)} mismatching frames, e.g. {list(mismatches.items())[:3]}"
    # overrides actually happened in this fixture set
    assert any(o for _, o in got.values()), "no override ever applied — fixture too weak"


def test_command_plane_rejects_every_error_class(spark, fixture_paths, targets):
    lines = sources.file_stream(
        spark, fixture_paths["commands"], sources.COMMAND_LINE_SCHEMA, fmt="json"
    )
    valid, rejected = pipeline.command_plane(lines, targets)
    valid_rows = _drain(valid, "cp_valid").collect()
    rejected_rows = _drain(rejected.select("cmd_id", "ts", "error"), "cp_rejected").collect()
    errors = {r["error"] for r in rejected_rows}
    assert {"parse_error", "unknown_command", "unknown_target", "bad_duration", "bad_channel_value"} <= errors
    total = spark.read.schema(sources.COMMAND_LINE_SCHEMA).json(fixture_paths["commands"]).count()
    assert len(valid_rows) + len(rejected_rows) == total
    assert len(valid_rows) > 0


def test_error_documents_shape(spark, fixture_paths, targets):
    lines = sources.file_stream(
        spark, fixture_paths["commands"], sources.COMMAND_LINE_SCHEMA, fmt="json"
    )
    _, rejected = pipeline.command_plane(lines, targets)
    docs = _drain(pipeline.error_documents(rejected), "cp_errdocs").collect()
    for r in docs:
        doc = json.loads(r["doc"])
        assert doc["type"] == "error" and doc["message"] and "cmd_id" in doc


def test_receiver_remap_bounds(spark, fixture_paths):
    frames = sources.file_stream(spark, fixture_paths["frames"], sources.FRAME_SCHEMA)
    out = _drain(pipeline.receiver_remap(frames), "rx_out")
    stats = out.select(
        F.min(F.array_min("sbus")).alias("mn"), F.max(F.array_max("sbus")).alias("mx")
    ).collect()[0]
    assert 172 <= stats["mn"] and stats["mx"] <= 1811


def test_ack_tracker(spark, fixture_paths, targets):
    acks = spark.read.schema(sources.ACK_SCHEMA).parquet(fixture_paths["acks"])
    state = pipeline.ack_tracker(acks, targets).collect()
    by_id = {r["id"]: r for r in state}
    assert set(by_id) == set(range(1, 9))
    # target 3 goes dead halfway: its last good ack is older than target 1's
    assert by_id[3]["last_successful_send"] < by_id[1]["last_successful_send"]
    assert by_id[3]["connection_state"] is False


def test_multibatch_replay_equals_single_batch(spark, sf_dir, tmp_path_factory):
    """Incremental state correctness: the same aggregation replayed in 4
    micro-batches (maxFilesPerTrigger=1) must equal the batch result —
    partial state carried across batches, not recomputed per batch."""
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    src = _chunked_replay(spark, tmp_path_factory, "mb", ev, "user_id", n_chunks=4)
    agg = src.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("mb_replay")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    got = {tuple(r) for r in spark.table("mb_replay").collect()}
    want = {
        tuple(r)
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    }
    assert got == want
    assert n_batches > 1, "replay did not actually split into micro-batches"


def test_watermark_drops_late_rows(spark, tmp_path_factory):
    """Event-time watermark semantics, deterministically: three file chunks
    replayed in mtime order (maxFilesPerTrigger=1). Chunk 3 carries a row
    far older than the watermark established by chunk 2 — append-mode
    windowed counts must exclude it; an on-time chunk-3 row must land."""
    import os
    import time as _time

    import pandas as pd

    chunk_dir = str(tmp_path_factory.mktemp("late") / "ev")
    os.makedirs(chunk_dir)

    def write_chunk(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        path = os.path.join(chunk_dir, name)
        # µs timestamps: the session reads TIMESTAMP(NANOS) as long
        # (nanosAsLong), which would fight the declared schema here
        pdf.to_parquet(path, engine="pyarrow", coerce_timestamps="us")
        os.utime(path, (mtime, mtime))

    t0 = _time.time()
    # chunk 1: hour 10; chunk 2: hour 13 (advances the watermark to 12:00);
    # chunk 3: on-time row whose batch finalizes + evicts the hour-10
    # window; chunk 4: a LATE hour-10 row arriving after eviction — dropped
    # (a late row arriving in the SAME batch as finalization is still
    # absorbed; the drop guarantee starts once state is evicted)
    write_chunk("c1.parquet", [(1, "2024-01-01 10:05:00"), (1, "2024-01-01 10:20:00")], t0)
    write_chunk("c2.parquet", [(1, "2024-01-01 13:00:00")], t0 + 10)
    write_chunk("c3.parquet", [(1, "2024-01-01 13:10:00")], t0 + 20)
    write_chunk("c4.parquet", [(1, "2024-01-01 10:40:00")], t0 + 30)

    src = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("w"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(str(r["w"]), r["n"]) for r in spark.table("late_drop").collect()}
    # hour-10 window finalized with ONLY the two on-time rows (late 10:40
    # row dropped); hour-13 window is not yet below the final watermark, so
    # append mode has not emitted it
    assert got == {("2024-01-01 10:00:00", 2)}, got


def test_status_snapshots(spark, fixture_paths, targets):
    frames = sources.file_stream(spark, fixture_paths["frames"], sources.FRAME_SCHEMA)
    lines = sources.file_stream(
        spark, fixture_paths["commands"], sources.COMMAND_LINE_SCHEMA, fmt="json"
    )
    out_stream, _ = pipeline.transmitter(frames, lines, targets)
    out = _drain(out_stream, "tx_for_snapshot")
    snaps = pipeline.status_snapshots(out, every="500 milliseconds").collect()
    assert snaps
    parsed = json.loads(snaps[0]["targets_json"])
    assert len(parsed) == 8 and {p["target_id"] for p in parsed} == set(range(1, 9))


def _batch_gaps(spark, trigger: str | None, n_batches: int) -> list[float]:
    import time

    from espkinesis_spark.streaming import sinks, sources

    stamps: list[float] = []
    q = sinks.keyed_foreach_batch_sink(
        sources.rate_frames(spark, rows_per_second=4),
        lambda b, bid: stamps.append(time.monotonic()),  # action-free: pacing only
        key_col="frame_id",
        trigger=trigger,
        query_name=f"espk_cadence_{(trigger or 'freerun').replace(' ', '_')}",
    )
    try:
        deadline = time.monotonic() + 30
        while len(stamps) < n_batches and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        q.stop()
    assert len(stamps) >= n_batches, f"only {len(stamps)} batches in 30s"
    return [b - a for a, b in zip(stamps, stamps[1:])]


def test_rocksdb_state_store_runs_stateful_replay(spark, sf_dir):
    """The production state-store claim, validated in-sandbox: one stateful
    streaming replay (windowed aggregation state) on
    RocksDBStateStoreProvider must produce the same result as the batch
    analog. RocksDB keeps state off-heap/on-disk — the provider that holds
    at 100 TB key cardinality where the default in-memory HDFS-backed
    provider OOMs."""
    from espkinesis_spark.streaming import jobs
    from espkinesis_spark.tables import load_table

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = {
            (r["w"], r["event_type"], r["n"])
            for r in jobs.window_counts_stream(spark, sf_dir).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    want = {
        (r["w"], r["event_type"], r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_processing_time_trigger_paces_batches(spark):
    """T2/T4 — processingTime triggers pace micro-batch emission (2 Hz radio
    / 30 Hz SBUS cadence, ref src/transmitter/main.cpp:23-25 and
    src/receiver/main.cpp:20-22).

    This VM's fixed micro-batch floor is ~1 s (checkpoint fsyncs), so the
    literal 500 ms / 33 ms intervals are unobservable — Spark logs 'falling
    behind' and free-runs at the floor, which IS the contract for a trigger
    shorter than the batch cost. Pacing is asserted at an observable scale:
    a 3 s trigger must hold gaps near 3 s, and must be clearly slower than
    the free-running floor under an (unreachable) 33 ms trigger.

    Timing-sensitive: bands are wide (a GC pause or checkpoint-fsync stall
    can stretch one gap) and the paced median gets one retry before the
    test is allowed to fail."""
    import statistics

    paced = statistics.median(_batch_gaps(spark, "3 seconds", 4))
    if not 2.0 <= paced <= 6.0:  # lone spike → one re-measure before failing
        paced = statistics.median(_batch_gaps(spark, "3 seconds", 4))
    floor = statistics.median(_batch_gaps(spark, "33 milliseconds", 6))
    assert 2.0 <= paced <= 6.0, f"3s trigger: median gap {paced:.2f}s"
    assert floor < paced - 0.8, f"33ms trigger floor {floor:.2f}s vs paced {paced:.2f}s"


def test_keyed_sink_trigger_cadence_modes(spark, tmp_path):
    """T1/T2 cadence surface: the keyed sink honors availableNow (replay),
    an explicit processingTime trigger string, and trigger=None (default
    continuous micro-batching) without error — the 500 ms default is the
    reference's 2 Hz radio pacing (src/transmitter/main.cpp:23-25)."""
    import time

    from pyspark.sql import functions as F

    from espkinesis_spark.streaming.sinks import keyed_foreach_batch_sink

    src_dir = str(tmp_path / "frames")
    spark.createDataFrame(
        [(i, i % 3, 100.0 + i) for i in range(30)],
        "event_id long, user_id long, value double",
    ).write.parquet(src_dir)
    stream = spark.readStream.schema("event_id long, user_id long, value double").parquet(src_dir)

    delivered = []

    def deliver(batch, batch_id):
        delivered.append((batch_id, batch.count()))

    q = keyed_foreach_batch_sink(
        stream, deliver, key_col="user_id", available_now=True,
        checkpoint=str(tmp_path / "ck1"), query_name="cadence_avail",
    )
    q.awaitTermination()
    assert sum(n for _, n in delivered) == 30

    # processingTime trigger: query starts, fires at the given cadence
    q2 = keyed_foreach_batch_sink(
        stream, deliver, key_col="user_id", trigger="100 milliseconds",
        checkpoint=str(tmp_path / "ck2"), query_name="cadence_pt",
    )
    try:
        deadline = time.time() + 15
        while time.time() < deadline and not q2.recentProgress:
            time.sleep(0.2)
        assert q2.isActive
        assert any(p for p in q2.recentProgress)
    finally:
        q2.stop()


def _chunked_replay(spark, tmp_path_factory, label, df, key_col, n_chunks=3):
    """Generic multi-micro-batch replay scaffolding: write ``df`` chunked
    by a hash of ``key_col``, return a streaming source that replays one
    chunk file per micro-batch under availableNow."""
    chunk_dir = tmp_path_factory.mktemp(f"{label}_chunks")
    df.withColumn("__c", F.pmod(F.hash(key_col), F.lit(n_chunks))).write.partitionBy(
        "__c"
    ).mode("overwrite").parquet(str(chunk_dir / "data"))
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunk_dir / "data"))
    )


def _chunked_doc_stream(spark, sf_dir, tmp_path_factory, label, n_chunks=3):
    """The documents-table form of ``_chunked_replay`` (the common case):
    returns (batch_docs, streaming_source)."""
    from espkinesis_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs, _chunked_replay(
        spark, tmp_path_factory, label, docs, "doc_id", n_chunks
    )


def test_quality_gate_stream_multibatch_equals_batch(spark, sf_dir, tmp_path_factory):
    """The stateless streaming gate replayed in multiple micro-batches
    must emit exactly the batch gate's passing set (append mode: each doc
    judged once, in whatever batch it arrives)."""
    from espkinesis_spark.functions.text import quality_filter, quality_gate_stateless

    docs, src = _chunked_doc_stream(spark, sf_dir, tmp_path_factory, "qg")
    q = (
        quality_gate_stateless(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("qg_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    got = {tuple(r) for r in spark.table("qg_mb").collect()}
    want = {
        tuple(r)
        for r in quality_filter(docs)
        .filter("keep")
        .drop("keep")
        .collect()
    }
    assert got == want and len(want) > 0
    assert n_batches > 1, "replay did not actually split into micro-batches"


def test_anomaly_stream_snapshot_equals_batch(spark, sf_dir, tmp_path_factory):
    """The streaming-lambda anomaly entry's drained hourly table must
    carry state across micro-batches: flags over a 4-batch replay equal
    the batch flags."""
    from espkinesis_spark.queries import hourly_zscore_flags
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    chunk_dir = tmp_path_factory.mktemp("an_chunks")
    ev.withColumn("__c", F.pmod(F.hash("ts"), F.lit(4))).write.partitionBy(
        "__c"
    ).mode("overwrite").parquet(str(chunk_dir / "ev"))

    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunk_dir / "ev"))
    )
    agg = src.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("an_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    counts = spark.table("an_mb").localCheckpoint(eager=True)
    got = {tuple(r) for r in hourly_zscore_flags(counts).collect()}
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    want = {tuple(r) for r in hourly_zscore_flags(hourly).collect()}
    assert got == want and len(want) > 0
    assert len(q.recentProgress) > 1
    # calendar-sized state, asserted: the aggregation's state store holds
    # exactly one row per observed (event_type, hour) — event volume adds
    # no state beyond its new hours (jobs.anomaly_stream retention bound)
    calendar_rows = hourly.count()
    state_rows = sum(
        op["numRowsTotal"] for op in q.lastProgress["stateOperators"]
    )
    assert state_rows == calendar_rows, (state_rows, calendar_rows)


def test_heavy_hitters_stream_multibatch_equals_batch(spark, sf_dir, tmp_path_factory):
    """Streaming heavy hitters replayed across micro-batches: the
    complete-mode token counts must accumulate across batches so the
    snapshot filter equals the batch ex_heavy_hitters output exactly."""
    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions.text import heavy_hitters, tokens

    docs, src = _chunked_doc_stream(spark, sf_dir, tmp_path_factory, "hh")
    agg = (
        src.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hh_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) > 1, "replay did not split into micro-batches"
    counts = spark.table("hh_mb").localCheckpoint(eager=True)
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    got = {
        (r["token"], r["n"])
        for r in counts.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * C.HH_K > F.col("total"))
        .collect()
    }
    want = {(r["token"], r["n"]) for r in heavy_hitters(docs).collect()}
    assert got == want and len(want) > 0


def test_quality_model_stream_multibatch_equals_batch(spark, sf_dir, tmp_path_factory):
    """The stateless streaming scorer replayed in multiple micro-batches
    must emit exactly the batch scores (append mode: each doc scored
    once, in whatever batch it arrives; scores are exact-integer-derived
    so equality is exact)."""
    from espkinesis_spark.functions.text import quality_model_score

    docs, src = _chunked_doc_stream(spark, sf_dir, tmp_path_factory, "qm")
    q = (
        quality_model_score(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("qm_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) > 1, "replay did not split into micro-batches"
    got = {tuple(r) for r in spark.table("qm_mb").collect()}
    want = {tuple(r) for r in quality_model_score(docs).collect()}
    assert got == want and len(want) > 0


def test_image_neardup_stream_multibatch_equals_batch(spark, sf_dir, tmp_path_factory):
    """The fingerprint-at-ingest leg replayed across micro-batches must
    accumulate exactly the batch hash table (append mode, zero state),
    so the banded join over the drained store equals the batch op."""
    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions.multimodal import (
        hamming_neardup,
        image_dhash,
        synthesize_gray_bmp,
    )

    docs, src = _chunked_doc_stream(spark, sf_dir, tmp_path_factory, "imgnd")
    q = (
        image_dhash(synthesize_gray_bmp(src))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("imgnd_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) > 1  # genuinely multi-batch
    store = spark.table("imgnd_mb")
    got = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in hamming_neardup(store, C.IMG_HAM_MAX).collect()
    }
    want = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in hamming_neardup(
            image_dhash(synthesize_gray_bmp(docs)), C.IMG_HAM_MAX
        ).collect()
    }
    assert got == want and len(want) > 0


def test_audio_video_neardup_stream_multibatch_equals_batch(
    spark, sf_dir, tmp_path_factory
):
    """The audio/video fingerprint-at-ingest legs replayed across
    micro-batches accumulate exactly the batch fingerprint tables."""
    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions.multimodal import (
        attach_binary,
        audio_envelope_hash,
        hamming_neardup,
        sample_frames,
        shared_frame_neardup,
        synthesize_tone_wav,
    )

    docs, src = _chunked_doc_stream(spark, sf_dir, tmp_path_factory, "avnd")
    for label, extract, pair in (
        (
            "aud",
            lambda d: audio_envelope_hash(synthesize_tone_wav(d)),
            lambda h: hamming_neardup(h, C.AUD_HAM_MAX),
        ),
        (
            "vid",
            lambda d: sample_frames(attach_binary(d)),
            shared_frame_neardup,
        ),
    ):
        q = (
            extract(src)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"avnd_{label}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(q.recentProgress) > 1, label
        got = {tuple(r) for r in pair(spark.table(f"avnd_{label}")).collect()}
        want = {tuple(r) for r in pair(extract(docs)).collect()}
        assert got == want and len(want) > 0, label


def test_winnow_stream_multibatch_equals_batch(spark, sf_dir, tmp_path_factory):
    """The zero-shuffle winnowing fingerprint projection replayed across
    micro-batches must accumulate exactly the batch fingerprint table
    (append mode, zero state — each doc's fingerprint set is computed
    from that doc alone), so the df-capped candidate join over the
    drained store equals the batch op."""
    from espkinesis_spark.functions.dedup import (
        winnow_candidates_from,
        winnow_fingerprints,
    )

    docs, src = _chunked_doc_stream(spark, sf_dir, tmp_path_factory, "winnow")
    q = (
        winnow_fingerprints(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("winnow_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) > 1, "replay did not split into micro-batches"
    store = spark.table("winnow_mb")
    assert {tuple(r) for r in store.collect()} == {
        tuple(r) for r in winnow_fingerprints(docs).collect()
    }
    got = {tuple(r) for r in winnow_candidates_from(store).collect()}
    want = {tuple(r) for r in winnow_candidates_from(winnow_fingerprints(docs)).collect()}
    assert got == want and len(want) > 0


def test_drain_rowstore_routes_by_source_size(spark, sf_dir, monkeypatch):
    """The shared per-row drain policy (jobs._drain_rowstore) must pin
    BOTH routes: below the source-size bound the fingerprint store
    drains through the memory sink; with the bound forced to 0 the SAME
    job crosses to the executor-parallel parquet drain — and the
    analysis result over the drained store is identical either way
    (route choice is a pure placement decision, never a semantics one)."""
    from espkinesis_spark.streaming import jobs

    def run():
        return {
            (r["doc_id_a"], r["doc_id_b"], r["hamming"])
            for r in jobs.image_neardup_stream(spark, sf_dir).collect()
        }

    # default bound (256 MB) >> any fixture table: memory route
    via_memory = run()
    # the memory route leaves a registered sink table behind
    assert spark.catalog.tableExists("st_image_neardup_sink")
    spark.catalog.dropTempView("st_image_neardup_sink")

    # bound forced to 0: every source is "too big", parquet route
    monkeypatch.setattr(jobs, "MEMORY_DRAIN_MAX_SOURCE_BYTES", 0)
    via_parquet = run()
    # the parquet route never registers the memory-sink table
    assert not spark.catalog.tableExists("st_image_neardup_sink")
    assert via_parquet == via_memory and len(via_memory) > 0


def test_state_partitions_follow_the_fixed_policy(spark, sf_dir):
    """Every drain query's state store gets min(STATE_PARTITIONS,
    defaultParallelism) partitions, whatever the source size and the
    session's own shuffle width, and the session setting is restored
    afterwards. Pinned on st_override_asof, whose applyInPandasWithState
    update runs serially when its state sits on one partition."""
    from pyspark.sql.streaming import StreamingQueryListener

    from espkinesis_spark.streaming import jobs

    name = "st_override_asof_sink"
    ids, progress, ended = set(), [], set()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            if event.name == name:
                ids.add(str(event.id))

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            ended.add(str(event.id))

    want = min(jobs.STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    session_width = str(want + 1)  # differs from the policy on purpose
    listener = _Listener()
    spark.conf.set(key, session_width)
    spark.streams.addListener(listener)
    try:
        assert jobs.override_asof_stream(spark, sf_dir).count() > 0
        assert spark.conf.get(key) == session_width
        # listener events arrive asynchronously, in order: once the
        # query's termination is seen, all its progress events are too
        deadline = time.time() + 60
        while not (ids and ids <= ended) and time.time() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, prev)
    assert ids and ids <= ended, "listener never saw the query terminate"
    ops = [
        op
        for p in progress
        if p["id"] in ids
        for op in p["stateOperators"]
    ]
    assert ops, "no state operator progress recorded"
    assert {op["numShufflePartitions"] for op in ops} == {want}


def test_video_frame_stores_never_use_memory_sink(spark, sf_dir):
    """The per-FRAME video stores are several rows per document — the
    corpus-sized class the drain policy excludes from memory-sink
    routing — so both video legs must drain through the parquet sink
    unconditionally: no memory-sink table may exist after a run."""
    from espkinesis_spark.streaming import jobs

    assert jobs.video_neardup_stream(spark, sf_dir).count() > 0
    assert not spark.catalog.tableExists("st_video_neardup_sink")
    assert jobs.video_dedup_apply_stream(spark, sf_dir).count() > 0
    assert not spark.catalog.tableExists("st_video_dedup_apply_sink")


def test_source_bytes_sums_directory_style_tables(tmp_path):
    """os.path.getsize on a directory returns the inode size (~4 KB),
    which would silently pin the drain router to the memory sink for
    any directory-style parquet table — _source_files must expand it to
    the files underneath, whose sizes _bytes_of sums."""
    from espkinesis_spark.streaming.jobs import _bytes_of, _source_files

    f = tmp_path / "single.parquet"
    f.write_bytes(b"x" * 1000)
    assert _bytes_of(_source_files(str(f))) == 1000

    d = tmp_path / "table.parquet"
    (d / "part0").mkdir(parents=True)
    (d / "part0" / "a.parquet").write_bytes(b"x" * 600)
    (d / "b.parquet").write_bytes(b"x" * 400)
    assert _bytes_of(_source_files(str(d))) == 1000


def test_drain_rowstore_routes_by_source_row_count(spark, sf_dir, monkeypatch):
    """The router's driver-footprint proxy is the source's parquet-footer
    ROW COUNT (one store row per source row), not just bytes — a corpus
    of millions of tiny docs stays under any byte bound yet floods the
    single-threaded memory sink (r11 ADVICE). With the row bound forced
    to 0 the job must cross to the parquet drain even though the byte
    bound is untouched, with identical results."""
    from espkinesis_spark.streaming import jobs

    def run():
        return {
            (r["doc_id_a"], r["doc_id_b"], r["hamming"])
            for r in jobs.image_neardup_stream(spark, sf_dir).collect()
        }

    via_memory = run()
    assert spark.catalog.tableExists("st_image_neardup_sink")
    spark.catalog.dropTempView("st_image_neardup_sink")

    monkeypatch.setattr(jobs, "MEMORY_DRAIN_MAX_SOURCE_ROWS", 0)
    via_parquet = run()
    assert not spark.catalog.tableExists("st_image_neardup_sink")
    assert via_parquet == via_memory and len(via_memory) > 0


def test_fresh_store_error_classification():
    """The resume schema guard may skip its check ONLY for failures that
    mean "store not started": named conditions matched by ROOT segment
    (r14 ADVICE — a dotted sub-condition refinement must not break
    resume-from-empty), the legacy empty-_spark_metadata slot the
    family-6 fuzzer surfaced, and the message fallback for
    condition-less builds. Everything else fails closed."""
    from espkinesis_spark.streaming.jobs import _fresh_store_error

    class Exc(Exception):
        def __init__(self, cond, msg="boom"):
            super().__init__(msg)
            self._c = cond

        def getCondition(self):
            return self._c

    assert _fresh_store_error(Exc("PATH_NOT_FOUND"))
    assert _fresh_store_error(Exc("UNABLE_TO_INFER_SCHEMA"))
    # dotted sub-condition still reads as fresh via the root segment
    assert _fresh_store_error(Exc("PATH_NOT_FOUND.STREAMING_SOURCE"))
    # the zero-committed-files store (family 6's seam-at-zero draw)
    assert _fresh_store_error(
        Exc("_LEGACY_ERROR_TEMP_1134", "Unable to infer schema for Parquet at .")
    )
    # any other condition fails closed, whatever the message says
    assert not _fresh_store_error(Exc("CANNOT_READ_FILE_FOOTER", "PATH_NOT_FOUND"))
    # the stable "Unable to infer schema" message shape survives a legacy
    # slot RENUMBERING (ADVICE r15) — but ONLY on legacy slots: a proper
    # non-fresh condition whose message (or attached JVM cause chain)
    # quotes the phrase must stay non-fresh (r16 review — a rename of the
    # empty-store error lands on UNABLE_TO_INFER_SCHEMA, already in the
    # condition set, so proper conditions never need the message fallback)
    assert _fresh_store_error(
        Exc("_LEGACY_ERROR_TEMP_9999", "Unable to infer schema for Parquet at .")
    )
    assert not _fresh_store_error(
        Exc("CANNOT_READ_FILE_FOOTER", "... Unable to infer schema ...")
    )
    assert not _fresh_store_error(
        Exc("SOME_FUTURE_CONDITION", "Unable to infer schema for Parquet at .")
    )
    # condition-less exceptions fall back to message matching
    assert _fresh_store_error(ValueError("... PATH_NOT_FOUND ..."))
    assert _fresh_store_error(ValueError("Unable to infer schema for Parquet"))
    assert not _fresh_store_error(ValueError("corrupt footer"))


def test_drain_to_parquet_resume_requires_stable_base(spark, sf_dir):
    """resume=True with the applicationId-scoped default base would never
    find the checkpoint after a driver restart (the id changes) and would
    silently re-extract the corpus — the router must refuse loudly."""
    from espkinesis_spark.streaming import jobs
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id")
    with pytest.raises(ValueError, match="caller-stable base"):
        jobs.run_stream(ev, "resume_no_base", parquet=True, resume=True)


def test_source_files_prunes_metadata_directories(tmp_path):
    """A file-sink store's _spark_metadata/ holds compact manifests whose
    NAMES don't start with '_' ('0', '9.compact'), so pruning must happen
    at the directory level or the router's byte/row stats count
    ever-growing non-data manifest bytes."""
    from espkinesis_spark.streaming.jobs import _bytes_of, _source_files

    d = tmp_path / "store"
    (d / "_spark_metadata").mkdir(parents=True)
    (d / "_spark_metadata" / "0").write_bytes(b"x" * 5000)
    (d / "_spark_metadata" / "9.compact").write_bytes(b"x" * 5000)
    (d / ".hidden").mkdir()
    (d / ".hidden" / "junk").write_bytes(b"x" * 5000)
    (d / "part-0000.parquet").write_bytes(b"d" * 300)
    (d / "part-0001.parquet").write_bytes(b"d" * 700)
    assert sorted(os.path.basename(f) for f in _source_files(str(d))) == [
        "part-0000.parquet",
        "part-0001.parquet",
    ]
    assert _bytes_of(_source_files(str(d))) == 1000


def test_source_stats_graceful_on_missing_or_garbage_paths(tmp_path, sf_dir):
    """A missing source path must route (0 -> memory) and let the
    stream's own reader raise the clearer error, not kill the job in the
    router's stat call (r11 ADVICE); unreadable footers likewise count 0
    instead of raising."""
    from espkinesis_spark.streaming.jobs import _bytes_of, _rows_of, _source_files
    from espkinesis_spark.tables import table_path

    missing = str(tmp_path / "nope.parquet")
    assert _bytes_of(_source_files(missing)) == 0
    assert _rows_of(_source_files(missing)) == 0
    garbage = tmp_path / "garbage.parquet"
    garbage.write_bytes(b"not parquet at all")
    assert _rows_of(_source_files(str(garbage))) == 0
    # real footers: metadata-only row count equals the table's row count
    docs = table_path(sf_dir, "documents")
    import duckdb

    want = duckdb.sql(f"SELECT count(*) FROM '{docs}'").fetchone()[0]
    assert _rows_of(_source_files(docs)) == want


def test_drain_to_parquet_kill_and_resume_is_exactly_once(
    spark, sf_dir, tmp_path_factory
):
    """VERDICT r11 #3: at 100 TB a driver restart must not re-extract the
    corpus. Kill a multi-batch parquet drain mid-replay, resume it with
    jobs.run_stream(parquet=True, resume=True) on the same stable base, and pin
    EXACTLY-ONCE store contents: the exact row count proves
    no-duplication (the resumed run skipped every committed batch), the
    set compare proves no-loss (the interrupted batch was replayed)."""
    from espkinesis_spark.streaming import jobs
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    n_chunks = 8
    chunk_dir = tmp_path_factory.mktemp("resume_chunks")
    ev.withColumn(
        "__c", F.pmod(F.hash("event_id"), F.lit(n_chunks))
    ).write.partitionBy("__c").mode("overwrite").parquet(str(chunk_dir / "data"))

    def source():
        # select the data columns explicitly: partition discovery appends
        # the __c chunk column to the stream schema otherwise
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(chunk_dir / "data"))
            .select("event_id", "user_id")
        )

    # The mid-replay kill is timing-based (stop right after the first
    # committed batch); on a loaded box the replay can occasionally
    # outrun the poll, so retry with a fresh base until the kill lands
    # mid-way. The assertions below never weaken.
    for attempt in range(3):
        base = str(tmp_path_factory.mktemp(f"resume_base{attempt}") / "store")
        q = (
            source()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", os.path.join(base, "data"))
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .queryName("resume_drain_victim")
            .trigger(availableNow=True)
            .start()
        )
        while q.isActive and not q.recentProgress:
            time.sleep(0.02)
        q.stop()  # the "driver died mid-replay" moment
        q.awaitTermination()
        if len(q.recentProgress) < n_chunks:
            break
    assert len(q.recentProgress) < n_chunks, "kill never landed mid-replay"

    drained = jobs.run_stream(
        source(), "resume_drain_victim", parquet=True, base=base, resume=True
    )
    assert drained.count() == ev.count()  # no duplication
    assert {tuple(r) for r in drained.collect()} == {
        tuple(r) for r in ev.collect()
    }  # no loss (the exact count above also proves the resume SKIPPED
    # committed batches: re-reading them would append duplicates)


def test_drain_resume_refuses_changed_extraction_schema(
    spark, sf_dir, tmp_path_factory
):
    """VERDICT r12 #5: a production restart often ships a code change.
    If the extraction projection GAINED a column, resuming the drain
    would append new-schema files next to old-schema ones and the
    read-back would silently backfill NULLs into the new column for
    every already-extracted row. Pin the defined behavior: resume
    REFUSES a schema change loudly (both schemas named in the error),
    and an unchanged-schema resume on the same base still succeeds."""
    from espkinesis_spark.streaming import jobs
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    src_dir = tmp_path_factory.mktemp("schema_evo_src")
    ev.write.mode("overwrite").parquet(str(src_dir / "data"))
    base = str(tmp_path_factory.mktemp("schema_evo_base") / "store")

    def source(cols):
        return (
            spark.readStream.schema(
                load_table(spark, sf_dir, "events").select(*cols).schema
            )
            .parquet(str(src_dir / "data"))
            .select(*cols)
        )

    # first run commits the v1 projection
    v1 = jobs.run_stream(
        source(["event_id", "user_id"]), "schema_evo", parquet=True, base=base, resume=True
    )
    assert v1.count() == ev.count()

    # the restarted job's projection gained a column -> refuse loudly
    evolved = source(["event_id", "user_id"]).withColumn(
        "shard", F.pmod("user_id", F.lit(8)).cast("long")
    )
    with pytest.raises(ValueError, match="schema changed.*shard"):
        jobs.run_stream(evolved, "schema_evo", parquet=True, base=base, resume=True)
    # ... and a retyped column is refused too, not just an added one
    retyped = source(["event_id", "user_id"]).withColumn(
        "user_id", F.col("user_id").cast("int")
    )
    with pytest.raises(ValueError, match="schema changed"):
        jobs.run_stream(retyped, "schema_evo", parquet=True, base=base, resume=True)

    # unchanged schema still resumes fine (exactly-once: count is stable)
    v1_again = jobs.run_stream(
        source(["event_id", "user_id"]), "schema_evo", parquet=True, base=base, resume=True
    )
    assert v1_again.count() == ev.count()


def test_drain_resume_reordered_projection_reads_back_by_name(
    spark, sf_dir, tmp_path_factory
):
    """VERDICT r13 #5: the resume guard compares {(name, type)} SETS, so
    a restarted job whose projection only REORDERS columns is accepted.
    That is correct only because the store's read-back resolves parquet
    columns by NAME — the drain writes positional row groups, so run-1
    files carry (event_id, user_id) and run-2 files (user_id, event_id).
    Pin the value-level contract, not just the acceptance: the mixed
    store must read back value-identical to the source (a positional
    read would pair event_ids with user_ids)."""
    from espkinesis_spark.streaming import jobs
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    first = ev.filter(F.pmod("event_id", F.lit(2)) == 0)
    second = ev.filter(F.pmod("event_id", F.lit(2)) == 1)
    src_dir = tmp_path_factory.mktemp("reorder_src") / "data"
    first.write.mode("append").parquet(str(src_dir))
    base = str(tmp_path_factory.mktemp("reorder_base") / "store")

    def source(cols):
        return (
            spark.readStream.schema(ev.select(*cols).schema)
            .parquet(str(src_dir))
            .select(*cols)
        )

    v1 = jobs.run_stream(
        source(["event_id", "user_id"]), "schema_reorder", parquet=True, base=base, resume=True
    )
    assert v1.count() == first.count()

    # new arrivals land physically reordered, and the restarted job's
    # projection is reordered too — the guard must accept, not refuse
    second.select("user_id", "event_id").write.mode("append").parquet(str(src_dir))
    drained = jobs.run_stream(
        source(["user_id", "event_id"]), "schema_reorder", parquet=True, base=base, resume=True
    )
    got = {(r["event_id"], r["user_id"]) for r in drained.collect()}
    want = {(r["event_id"], r["user_id"]) for r in ev.collect()}
    assert got == want


def test_hash_split_stream_multibatch_equals_batch(spark, sf_dir, tmp_path_factory):
    """The in-stream complete-mode (split, lang) audit must accumulate
    the exact batch counts across micro-batch splits — streaming-agg
    state carries the partial counts between triggers (the single-file
    fixture replay exercises only one micro-batch, so this pins the
    multi-batch leg of the r11 plan change)."""
    from espkinesis_spark.functions import sampling
    from espkinesis_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    src = _chunked_replay(spark, tmp_path_factory, "hsplit", docs, "doc_id")
    pcts = {"train": 90, "val": 5, "test": 5}
    agg = (
        sampling.hash_split(src, "doc_id", pcts)
        .groupBy("split", "lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hsplit_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) > 1  # genuinely multi-batch
    got = {tuple(r) for r in spark.table("hsplit_mb").collect()}
    want = {
        tuple(r)
        for r in sampling.hash_split(docs, "doc_id", pcts)
        .groupBy("split", "lang")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_zorder_stream_parquet_drain_multibatch_accumulates(
    spark, sf_dir, tmp_path_factory
):
    """The z-shard store's parquet drain (the r11 reroute off the driver
    memory sink) must accumulate EXACTLY the per-event z rows across
    micro-batch splits — append-mode file-sink semantics, no loss, no
    duplication — so the post-drain rollup equals the batch form."""
    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions import layout
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_millis("ts").alias("t_ms")
    )
    src = _chunked_replay(spark, tmp_path_factory, "zshard", ev, "event_id")
    sink_dir = tmp_path_factory.mktemp("zshard_sink")
    grid = 1 << C.ZORDER_BITS

    def zproj(df):
        return df.select(
            "event_id",
            layout.z_value(
                F.pmod(F.col("user_id"), F.lit(grid)).cast("long"),
                F.pmod(F.expr("t_ms div 1000"), F.lit(grid)).cast("long"),
            ).alias("z"),
        )

    out_dir = str(sink_dir / "data")
    q = (
        zproj(src)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(sink_dir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) > 1  # genuinely multi-batch
    drained = spark.read.parquet(out_dir)
    # exact count pins NO-DUPLICATION (a set compare alone would collapse
    # a twice-written micro-batch); the set compare pins no-loss
    assert drained.count() == ev.count()
    got = {tuple(r) for r in drained.collect()}
    want = {tuple(r) for r in zproj(ev).collect()}
    assert got == want and len(want) > 0
