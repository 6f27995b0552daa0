"""Randomized differential fuzz of the STREAMING surface (VERDICT r12 #3).

The sixteen relational fuzzer families randomize the QUERY and hold the
execution model fixed; this suite holds the query simple and randomizes
the one dimension they are structurally blind to — MICRO-BATCH
BOUNDARIES. Each example draws a seeded random partition of a fixture
into k batches of random (possibly wildly skewed, possibly empty) sizes,
replays it under availableNow, and asserts the streamed result equals
the one-shot batch computation over the same rows. Batch-boundary and
state-carryover bugs — partial aggregates dropped between triggers,
dedup state not consulted across batches, a sink leg that double-writes
a replayed batch — are exactly the class a fixed 3-chunk replay
(tests/test_streaming.py's multibatch tests) can miss when the bug needs
a specific boundary placement.

Eight families across the five streaming execution models the engine
uses (families 4/4b/5 target applyInPandasWithState — one per stateful
processor plus the bounded-lateness variant; family 7 targets
transformWithStateInPandas, runnable since protobuf_compat unblocked its
state workers in r16 — it self-skips where no protobuf runtime exists):
 1. complete-mode grouped aggregation (streaming-agg state accumulates
    partials across triggers) — random filter + group key + exact
    aggregates over events;
 2. append-mode stateless transform drained to a parquet store (the
    extraction-drain shape) — random projection + filter over documents,
    exact count pins no-duplication, set compare pins no-loss;
 3. append-mode streaming dedup (dropDuplicates state consulted ACROSS
    batches) — the input is the documents table unioned with a seeded
    sample of itself, so true duplicates straddle random batch
    boundaries; the survivor SET must equal batch-distinct, and the
    result count must equal the distinct key count (state, not
    per-batch dedup);
 4. applyInPandasWithState as-of matching (st_override_asof's path,
    VERDICT r13 #3) — seeded random cutpoints carve the TIME-ORDERED
    event stream into micro-batches (mtime-staggered chunk files so
    FileStreamSource replays them in order, duplicate cutpoints yield
    EMPTY batches), and the streamed per-user as-of assignment must
    equal batch DQ-09 under every late_slack setting — the late-batch
    horizon pruning at streaming/state.py is exactly where a boundary
    bug would live (a purchase pruned before a next-batch click inside
    its lookback window reads as a silently-dropped match);
 4b. the late_slack contract itself — a seeded subset of CLICK rows is
    delivered up to several batches late but always within
    (slack - 1 s) of everything already processed (the documented
    bounded-disorder contract); purchases stay on time, and the
    streamed assignment must still equal batch DQ-09 — an off-by-slack
    horizon prune silently drops matches for exactly these rows;
 5. applyInPandasWithState override sessions (the transmitter A5 path)
    — frames and commands derived in-stream from the same time-ordered
    randomly-cut source, run through tag_frames_and_commands +
    override_sessions; the random-boundary replay must emit exactly the
    single-batch replay's output (patch/expiry state carried across the
    cut, never recomputed per batch);
 6. random-restart RESUME of the parquet extraction drain (VERDICT r14
    #4) — the deterministic resume tests pin two fixed restart shapes;
    this family randomizes WHERE the seam lands: seeded-random chunk
    files are exposed in random prefixes across a random number of
    jobs.run_stream(parquet=True, resume=True) legs on one stable base, and
    after EVERY seam the store must equal the batch transform over the
    rows exposed so far (exactly-once across any seam placement,
    including nothing-new legs and a seam before the first commit);
 7. transformWithStateInPandas override sessions — the SAME randomly-cut
    replay as family 5 driven through override_sessions_tws (RocksDB
    state store, the Spark-4 typed-state API): its output must be
    frame-for-frame identical to the classic applyInPandasWithState
    processor's on identical boundaries — value-state carryover, ties,
    and expiry semantics must agree between the two state APIs at every
    boundary placement, not just on the fixed fixture the deterministic
    TWS test pins.

Families 4/4b/5 order chunks BY TIME (unlike the hash-random chunks of
1-3): the stateful processors' contract is bounded disorder — state is
pruned against each batch's max event time — so arbitrarily-late
cross-batch rows are out of contract; boundary PLACEMENT in the ordered
stream is the fuzzable dimension.

Determinism discipline: aggregates are order-exact (count, integer sum,
min/max selection on doubles) — streaming's incremental fold then equals
the batch fold regardless of boundary placement; no float accumulation,
no countDistinct (unsupported in streaming aggs).

Boundary randomization: rows hash to [0, 1000) via a SEEDED xxhash64
salt, and k-1 random cutpoints carve that range into k batches — so
batch sizes are random, skewed, and occasionally EMPTY (an empty batch
is a corner: the chunk writes no file and the trigger count drops, which
the streamed-equals-batch contract must survive).
"""

from __future__ import annotations

import itertools
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from espkinesis_spark.tables import load_table

_uniq = itertools.count()

_FUZZ_SETTINGS = dict(
    max_examples=8,  # each example runs a chunk write + a streaming replay
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(scope="module")
def stream_fuzz_ctx(spark, sf_dir, tmp_path_factory):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    # one scan each; every example re-uses the checkpointed rows
    return ev.localCheckpoint(eager=True), docs.localCheckpoint(eager=True), tmp_path_factory


@pytest.fixture(scope="module")
def asof_batch_ctx(stream_fuzz_ctx):
    """Spec-INDEPENDENT inputs of families 4/5, computed once per module:
    the time-sorted pandas copy the chunk writer slices, and family 4's
    batch-DQ-09 oracle set (only the streamed side varies per example)."""
    from espkinesis_spark.operators import core as ops

    ev, _, _ = stream_fuzz_ctx
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    want_df = ops.asof_last_match(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        lookback="INTERVAL 1 HOUR",
        right_val="event_id",
    ).select("event_id", F.col("asof_match").alias("active_override"))
    return ev.toPandas(), {tuple(r) for r in want_df.collect()}


def _random_boundary_source(spark, tmp_path_factory, df, key_col, spec):
    """Write ``df`` into k seeded-random-sized chunks and return a
    streaming source replaying one chunk file per micro-batch."""
    salt, cuts = spec["salt"], sorted(set(spec["cuts"]))
    h = F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(1000))
    chunk = F.lit(0)
    for c in cuts:
        chunk = chunk + (h >= F.lit(c)).cast("int")
    chunk_dir = tmp_path_factory.mktemp(f"sfuzz{next(_uniq)}")
    # one task per chunk value -> one file per non-empty chunk, so the
    # replay's batch boundaries ARE the drawn cutpoints
    (
        df.withColumn("__c", chunk)
        .repartition("__c")
        .write.partitionBy("__c")
        .mode("overwrite")
        .parquet(str(chunk_dir / "data"))
    )
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunk_dir / "data"))
        .select(df.columns)
    )


def _run_available_now(stream_df, mode, spark, sink=None):
    """Drive a stream to completion; return the result DataFrame."""
    name = f"sfuzz_q{next(_uniq)}"
    w = stream_df.writeStream.outputMode(mode).trigger(availableNow=True)
    if sink is None:
        q = w.format("memory").queryName(name).start()
        q.awaitTermination()
        return spark.table(name)
    q = (
        w.format("parquet")
        .option("path", str(sink / "data"))
        .option("checkpointLocation", str(sink / "ckpt"))
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(stream_df.schema).parquet(str(sink / "data"))


_BOUNDS = {
    "salt": st.integers(min_value=0, max_value=2**31),
    "cuts": st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=5
    ),
}

_AGG_SPEC = st.fixed_dictionaries(
    {
        **_BOUNDS,
        "group": st.sampled_from(["event_type", "user_mod", "both"]),
        "mod": st.integers(min_value=2, max_value=9),
        "u_op": st.sampled_from(["<", ">=", "none"]),
        "u_lit": st.integers(min_value=0, max_value=200),
    }
)


@given(spec=_AGG_SPEC)
@settings(**_FUZZ_SETTINGS)
def test_complete_mode_agg_invariant_to_batch_boundaries(spark, stream_fuzz_ctx, spec):
    ev, _, tmp = stream_fuzz_ctx

    def transform(df):
        if spec["u_op"] != "none":
            df = df.filter(F.expr(f"user_id {spec['u_op']} {spec['u_lit']}"))
        keys = {
            "event_type": [F.col("event_type").alias("k1")],
            "user_mod": [F.pmod("user_id", F.lit(spec["mod"])).alias("k1")],
            "both": [
                F.col("event_type").alias("k1"),
                F.pmod("user_id", F.lit(spec["mod"])).alias("k2"),
            ],
        }[spec["group"]]
        return df.groupBy(*keys).agg(
            F.count("*").cast("long").alias("n"),
            F.sum("user_id").cast("long").alias("su"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    src = _random_boundary_source(spark, tmp, ev, "event_id", spec)
    got = {tuple(r) for r in _run_available_now(transform(src), "complete", spark).collect()}
    want = {tuple(r) for r in transform(ev).collect()}
    assert got == want


_PROJ_SPEC = st.fixed_dictionaries(
    {
        **_BOUNDS,
        "c_op": st.sampled_from(["<", ">=", "none"]),
        "c_lit": st.integers(min_value=0, max_value=4000),
        "proj": st.sampled_from(["len", "head", "id_only"]),
    }
)


@given(spec=_PROJ_SPEC)
@settings(**_FUZZ_SETTINGS)
def test_append_mode_drain_invariant_to_batch_boundaries(
    spark, stream_fuzz_ctx, spec, tmp_path_factory
):
    _, docs, tmp = stream_fuzz_ctx

    def transform(df):
        if spec["c_op"] != "none":
            df = df.filter(F.expr(f"n_chars {spec['c_op']} {spec['c_lit']}"))
        return {
            "len": df.select("doc_id", F.length("text").cast("long").alias("v")),
            "head": df.select("doc_id", F.substring("text", 1, 16).alias("v")),
            "id_only": df.select("doc_id"),
        }[spec["proj"]]

    src = _random_boundary_source(spark, tmp, docs, "doc_id", spec)
    sink = tmp_path_factory.mktemp(f"sfuzz_sink{next(_uniq)}")
    drained = _run_available_now(transform(src), "append", spark, sink=sink)
    want_df = transform(docs)
    # exact count pins no-duplication (a replayed batch written twice
    # would survive a set compare); the set compare pins no-loss
    assert drained.count() == want_df.count()
    assert {tuple(r) for r in drained.collect()} == {
        tuple(r) for r in want_df.collect()
    }


_DEDUP_SPEC = st.fixed_dictionaries(
    {
        **_BOUNDS,
        "dup_mod": st.integers(min_value=2, max_value=5),
    }
)


@given(spec=_DEDUP_SPEC)
@settings(**_FUZZ_SETTINGS)
def test_streaming_dedup_state_spans_random_batch_boundaries(
    spark, stream_fuzz_ctx, spec
):
    _, docs, tmp = stream_fuzz_ctx
    # duplicate a seeded subset of keys, then RE-KEY the union rows so the
    # two copies of one doc_id hash to different chunks — true duplicates
    # straddle the random batch boundaries and only cross-batch dedup
    # STATE can drop the late copy
    dupes = docs.filter(F.pmod(F.xxhash64("doc_id", F.lit(spec["salt"])), F.lit(spec["dup_mod"])) == 0)
    union = docs.select("doc_id", "n_chars").unionAll(dupes.select("doc_id", "n_chars"))
    union = union.withColumn("row_key", F.monotonically_increasing_id()).localCheckpoint(
        eager=True
    )
    src = _random_boundary_source(spark, tmp, union, "row_key", spec)
    deduped = src.select("doc_id", "n_chars").dropDuplicates(["doc_id"])
    got = _run_available_now(deduped, "append", spark)
    # count == distinct keys proves the SECOND copy was dropped even when
    # it arrived in a later micro-batch (state, not per-batch dedup)
    assert got.count() == docs.count()
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in docs.select("doc_id", "n_chars").collect()
    }


# --- families 4 & 5: the applyInPandasWithState paths (VERDICT r13 #3) ----


def _ordered_boundary_source(spark, tmp_path_factory, pdf, schema, order_cols, cuts):
    """Write the (order_cols)-sorted rows into len(cuts)+1 chunk files cut
    at seeded-random scaled rank positions, mtime-staggered 10 s apart so
    FileStreamSource replays them oldest-first (one per micro-batch).
    Duplicate/extreme cutpoints yield genuinely EMPTY chunk files — an
    empty micro-batch is a corner the stateful processors must survive.
    Chunks are sliced from ONE pyarrow table so an empty chunk keeps the
    full schema (an empty pandas->parquet write would degrade object
    columns to null type and fight the declared read schema), and
    timestamps are cast to µs so the stream's TimestampType read never
    hits the TIMESTAMP(NANOS) footer shape."""
    tbl = _sorted_arrow_table(pdf, order_cols)
    n = tbl.num_rows
    bounds = [0, *sorted(int(c * n / 1000) for c in cuts), n]
    chunks = [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]
    return _write_chunk_files(spark, tmp_path_factory, tbl, chunks, schema)


def _sorted_arrow_table(pdf, order_cols):
    import pyarrow as pa

    pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    return tbl.cast(
        pa.schema(
            [
                pa.field(
                    f.name,
                    pa.timestamp("us") if pa.types.is_timestamp(f.type) else f.type,
                )
                for f in tbl.schema
            ]
        )
    )


def _write_chunk_files(spark, tmp_path_factory, tbl, chunks, schema):
    """One mtime-staggered parquet file per chunk, replayed oldest-first.
    A chunk is either a (start, stop) pair — zero-copy slice, the
    contiguous in-order case — or an index list (``take``; only the
    late-delivery family needs gathers). Both keep the full schema for
    empty chunks."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    data_dir = tmp_path_factory.mktemp(f"sfuzz_ord{next(_uniq)}") / "data"
    os.makedirs(data_dir)
    t0 = _time.time() - 3600
    for i, idx in enumerate(chunks):
        path = str(data_dir / f"c{i:02d}.parquet")
        if isinstance(idx, tuple):
            part = tbl.slice(idx[0], idx[1] - idx[0])
        else:
            # explicit int64: a bare empty list infers a null-typed index
            part = tbl.take(pa.array(idx, type=pa.int64()))
        pq.write_table(part, path)
        os.utime(path, (t0 + i * 10, t0 + i * 10))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir))
    )


_ASOF_SPEC = st.fixed_dictionaries(
    {
        "cuts": st.lists(
            st.integers(min_value=0, max_value=1000), min_size=1, max_size=5
        ),
        "slack": st.sampled_from(["0 seconds", "10 minutes", "1 hour"]),
    }
)


@given(spec=_ASOF_SPEC)
@settings(**_FUZZ_SETTINGS)
def test_stateful_asof_invariant_to_time_ordered_boundaries(
    spark, stream_fuzz_ctx, asof_batch_ctx, spec
):
    """Family 4: st_override_asof's exact execution path. The per-user
    purchase state must survive every boundary placement — a click in a
    LATER micro-batch must still match a purchase from an earlier one
    when it sits inside the 1 h lookback, for every late_slack setting
    (time-ordered chunks never prune a still-matchable purchase: the
    horizon is batch-max relative, so this pins the pruning arithmetic
    at streaming/state.py against off-by-slack bugs)."""
    from espkinesis_spark.streaming.state import asof_override

    ev, _, tmp = stream_fuzz_ctx
    pdf, want = asof_batch_ctx
    src = _ordered_boundary_source(
        spark, tmp, pdf, ev.schema, ["ts", "event_id"], spec["cuts"]
    )
    streamed = asof_override(src, late_slack=spec["slack"])
    got = {
        tuple(r) for r in _run_available_now(streamed, "append", spark).collect()
    }
    assert got == want


_OVR_SPEC = st.fixed_dictionaries(
    {
        "cuts": st.lists(
            st.integers(min_value=0, max_value=1000), min_size=1, max_size=5
        ),
        "cmd_mod": st.integers(min_value=12, max_value=40),
        "salt": st.integers(min_value=0, max_value=2**31),
    }
)


def _override_session_run(spark, src, spec, variant="classic"):
    """Derive frames + commands in-stream from a cut events source, route
    them through the REAL tagging + override-session path, and drain.
    Command patch/duration depend only on ts (not event_id) so two
    commands landing on the same (target, ts) are identical — the
    processor's (ts, seq) sort cannot order such ties, and value-equal
    ties keep both replays deterministic. ``variant`` picks the state
    API: the classic applyInPandasWithState processor or the Spark-4
    transformWithStateInPandas one (family 7)."""
    from espkinesis_spark.streaming import pipeline as stp
    from espkinesis_spark.streaming import state as sst

    is_cmd = (
        F.pmod(F.xxhash64("event_id", F.lit(spec["salt"])), F.lit(spec["cmd_mod"]))
        == 0
    )
    frames = src.filter(~is_cmd).select(
        "ts",
        F.col("event_id").alias("frame_id"),
        F.expr(
            "transform(sequence(0, 7), i ->"
            " cast(1000 + pmod(event_id * 7 + i * 131, 1001) as int))"
        ).alias("channels"),
    )
    cmds = src.filter(is_cmd).select(
        F.pmod("event_id", F.lit(3)).cast("int").alias("target_id"),
        "ts",
        F.expr(
            "transform(sequence(0, 7), i -> cast(if(pmod(unix_micros(ts) + i, 3) = 0,"
            " -1, 1000 + pmod(unix_micros(ts) * 11 + i * 37, 1001)) as int))"
        ).alias("channels"),
        F.expr("cast(60000 + pmod(unix_micros(ts) * 131, 7200000) as long)").alias(
            "duration"
        ),
    )
    targets = spark.createDataFrame([(0,), (1,), (2,)], "id int")
    tagged = stp.tag_frames_and_commands(frames, cmds, targets)
    session_fn = (
        sst.override_sessions_tws if variant == "tws" else sst.override_sessions
    )
    out = _run_available_now(session_fn(tagged), "append", spark)
    return {
        (r["target_id"], r["frame_id"]): (tuple(r["channels"]), r["overridden"])
        for r in out.collect()
    }


@given(spec=_OVR_SPEC)
@settings(**_FUZZ_SETTINGS)
def test_override_sessions_invariant_to_time_ordered_boundaries(
    spark, stream_fuzz_ctx, asof_batch_ctx, spec
):
    """Family 5: the transmitter override session (A5). The (patch,
    expiry) state set by a command in batch k must govern frames in
    batch k+1 until expiry — the random-boundary replay must emit
    exactly the single-batch replay's frame-for-frame output (the
    single-batch form is pinned against an independent pandas reference
    in tests/test_streaming.py)."""
    from hypothesis import assume

    ev, _, tmp = stream_fuzz_ctx
    pdf, _want_unused = asof_batch_ctx
    src = _ordered_boundary_source(
        spark, tmp, pdf, ev.schema, ["ts", "event_id"], spec["cuts"]
    )
    got = _override_session_run(spark, src, spec)
    ref_src = _ordered_boundary_source(
        spark, tmp, pdf, ev.schema, ["ts", "event_id"], []
    )
    want = _override_session_run(spark, ref_src, spec)
    # vacuity: a salt that drew zero applied overrides exercises nothing
    assume(any(over for _, over in want.values()))
    assert got == want


_LATE_SPEC = st.fixed_dictionaries(
    {
        "cuts": st.lists(
            st.integers(min_value=0, max_value=1000), min_size=2, max_size=5
        ),
        "salt": st.integers(min_value=0, max_value=2**31),
        "late_mod": st.integers(min_value=2, max_value=6),
    }
)


@given(spec=_LATE_SPEC)
@settings(**_FUZZ_SETTINGS)
def test_stateful_asof_tolerates_bounded_late_clicks(
    spark, stream_fuzz_ctx, asof_batch_ctx, spec
):
    """Family 4b: the late_slack contract ITSELF — family 4's strictly
    time-ordered chunks never deliver anything late, so the slack term
    in the horizon pruning is dead weight there. Here a seeded ~1/mod
    subset of CLICK rows is re-routed into LATER micro-batches — each
    delayed as far as possible while staying within (slack - 1 s) of
    every event already processed before it, the documented contract
    (``late_slack must be >= the upstream watermark delay``); purchases
    stay on time. A correct horizon (batch_max - lookback - slack) must
    still retain every purchase those late clicks can match, so the
    streamed assignment must STILL equal batch DQ-09; an off-by-slack
    prune (e.g. horizon without the slack term) silently drops matches
    for exactly these rows."""
    import numpy as np
    from hypothesis import assume

    from espkinesis_spark.streaming.state import asof_override

    ev, _, tmp = stream_fuzz_ctx
    pdf, want = asof_batch_ctx
    tbl = _sorted_arrow_table(pdf, ["ts", "event_id"])
    n = tbl.num_rows
    bounds = [0, *sorted(int(c * n / 1000) for c in spec["cuts"]), n]
    k = len(bounds) - 1
    chunk = np.zeros(n, dtype=np.int64)
    for i in range(k):
        chunk[bounds[i] : bounds[i + 1]] = i
    ts_us = tbl["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    event_id = tbl["event_id"].to_numpy()
    etype = np.asarray(tbl["event_type"].to_pandas())
    # cumulative on-time max event time after chunks 0..j (sorted input:
    # the last row of the last non-empty chunk <= j); -inf for a leading
    # run of empty chunks
    maxts_upto = np.full(k, np.iinfo(np.int64).min, dtype=np.int64)
    for j in range(k):
        prev = maxts_upto[j - 1] if j else np.iinfo(np.int64).min
        maxts_upto[j] = ts_us[bounds[j + 1] - 1] if bounds[j + 1] > 0 else prev
    margin_us = 3_600_000_000 - 1_000_000  # default 1 h slack, 1 s guard
    delayed = (etype == "click") & (
        (event_id * 2_654_435_761 + spec["salt"]) % spec["late_mod"] == 0
    )
    base = chunk.copy()
    for r in np.flatnonzero(delayed):
        # furthest batch j whose PRIOR batches' max stays within slack:
        # maxts_upto is nondecreasing, so binary-search the boundary
        j = int(np.searchsorted(maxts_upto, ts_us[r] + margin_us, side="right"))
        chunk[r] = min(max(j, base[r]), k - 1)
    assume(bool(np.any(chunk > base)))  # at least one genuinely late row
    chunks = [np.flatnonzero(chunk == i).tolist() for i in range(k)]
    src = _write_chunk_files(spark, tmp, tbl, chunks, ev.schema)
    streamed = asof_override(src)  # default late_slack = 1 hour
    got = {
        tuple(r) for r in _run_available_now(streamed, "append", spark).collect()
    }
    assert got == want


def test_stateful_asof_slackless_prune_witness(
    spark, stream_fuzz_ctx, tmp_path_factory
):
    """Deterministic witness for family 4b's property (review catch: the
    randomized spec rarely draws the drop configuration, so a slack-less
    horizon could stay green by luck). One user, three batches:
    purchase@t0 | purchase@t0+1h1s | click@t0+30min delivered LAST
    (31 min late — inside the 1 h slack). The second purchase's batch
    prunes with horizon = max - 1h - slack; WITHOUT the slack term that
    horizon is t0+1s and the first purchase is dropped, so the late
    click loses its only match (its window (t0-30min, t0+30min] admits
    purchase 1 alone — purchase 2 is in the future). The intervening
    row must itself be a purchase/click: asof_override filters other
    event types out before the processor, so they can never advance the
    horizon."""
    import pandas as pd

    from espkinesis_spark.streaming.state import asof_override

    ev, _, _ = stream_fuzz_ctx
    t0 = pd.Timestamp("2024-01-01 06:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "user_id": [7, 7, 7],
            "event_type": ["purchase", "click", "purchase"],
            "value": [1.0, 2.0, 3.0],
            "ts": [
                t0,
                t0 + pd.Timedelta("30 minutes"),
                t0 + pd.Timedelta("1 hour 1 second"),
            ],
        }
    )
    tbl = _sorted_arrow_table(pdf, ["ts", "event_id"])  # rows: id 1, 2, 3
    src = _write_chunk_files(
        spark, tmp_path_factory, tbl, [[0], [2], [1]], ev.schema
    )
    got = {
        tuple(r)
        for r in _run_available_now(
            asof_override(src), "append", spark
        ).collect()
    }
    assert got == {(2, 1)}


# --- family 6: random-restart resume of the parquet drain (VERDICT r14 #4) --


_RESUME_SPEC = st.fixed_dictionaries(
    {
        **_BOUNDS,
        "proj": st.sampled_from(["len", "head", "id_only"]),
        "n_restarts": st.integers(min_value=1, max_value=3),
        "seam_seed": st.integers(min_value=0, max_value=2**31),
    }
)


@given(spec=_RESUME_SPEC)
@settings(**{**_FUZZ_SETTINGS, "max_examples": 6})
def test_parquet_drain_resume_exactly_once_at_random_seams(
    spark, stream_fuzz_ctx, spec, tmp_path_factory
):
    """Family 6: WHERE a restart lands (VERDICT r14 #4). The deterministic
    resume tests pin fixed two-run shapes; this family randomizes the
    seam — the corpus is carved into seeded-random-sized chunk files
    (one micro-batch each), a random number of RESTARTS expose random
    file prefixes, and every leg resumes the same drain via
    jobs.run_stream(parquet=True, resume=True) on one stable base. After EVERY
    seam the store must equal the batch transform over exactly the rows
    exposed so far: the count pins no-duplication across the seam (a
    re-read committed batch would append twice), the set compare pins
    no-loss (a skipped uncommitted file would drop rows). Duplicate
    seam draws yield nothing-new legs — a restart with no new data must
    return the store unchanged — and a seam at 0 resumes against a
    checkpoint that has committed nothing. This is the 100 TB restart
    story: streaming/jobs.py's file-sink drain claims end-to-end
    exactly-once across ANY driver restart placement, not just the two
    placements the deterministic tests chose."""
    import random
    import shutil

    from espkinesis_spark.streaming import jobs

    _, docs, _ = stream_fuzz_ctx

    def transform(df):
        return {
            "len": df.select("doc_id", F.length("text").cast("long").alias("v")),
            "head": df.select("doc_id", F.substring("text", 1, 16).alias("v")),
            "id_only": df.select("doc_id"),
        }[spec["proj"]]

    # stage the seeded-random chunking (same cutpoint machinery as
    # families 1-3), then flatten the partition dirs into an ordered
    # list of chunk files we can expose incrementally
    salt, cuts = spec["salt"], sorted(set(spec["cuts"]))
    h = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(salt)), F.lit(1000))
    chunk = F.lit(0)
    for c in cuts:
        chunk = chunk + (h >= F.lit(c)).cast("int")
    staging = tmp_path_factory.mktemp(f"sfuzz_resume_stage{next(_uniq)}")
    (
        docs.withColumn("__c", chunk)
        .repartition("__c")
        .write.partitionBy("__c")
        .mode("overwrite")
        .parquet(str(staging / "data"))
    )
    part_dirs = sorted((staging / "data").glob("__c=*"))
    files = [
        (d, f)
        for d in part_dirs
        for f in sorted(d.glob("part-*.parquet"))
    ]
    m = len(files)

    visible = tmp_path_factory.mktemp(f"sfuzz_resume_vis{next(_uniq)}")
    (visible / "data").mkdir()
    base = str(tmp_path_factory.mktemp(f"sfuzz_resume_base{next(_uniq)}") / "store")
    name = f"sfuzz_resume{next(_uniq)}"
    schema = transform(docs).schema

    def source():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(visible / "data"))
        )

    rng = random.Random(spec["seam_seed"])
    seams = sorted(rng.randint(0, m) for _ in range(spec["n_restarts"]))
    exposed = 0
    for leg, upto in enumerate([*seams, m]):
        for i in range(exposed, upto):
            d, f = files[i]
            shutil.copy(f, visible / "data" / f"chunk{i:03d}.parquet")
        exposed = max(exposed, upto)
        drained = jobs.run_stream(
            transform(source()), name, parquet=True, base=base, resume=True
        )
        if exposed == 0:
            assert drained.count() == 0
            continue
        want_df = transform(
            spark.read.schema(docs.schema).parquet(str(visible / "data"))
        )
        assert drained.count() == want_df.count(), f"dup rows after leg {leg}"
        assert {tuple(r) for r in drained.collect()} == {
            tuple(r) for r in want_df.collect()
        }, f"lost rows after leg {leg}"
    # the final store equals the whole-corpus batch transform — the
    # chunking itself lost nothing
    final = spark.read.schema(schema).parquet(os.path.join(base, "data"))
    want_all = transform(docs)
    assert final.count() == want_all.count()
    assert {tuple(r) for r in final.collect()} == {
        tuple(r) for r in want_all.collect()
    }


def test_checkpoint_loss_witness_resume_refuses_orphaned_store(
    spark, stream_fuzz_ctx, tmp_path_factory
):
    """Deterministic witness hardening family 6's exactly-once claim (the
    r14 slack-witness discipline: probe what the property does NOT
    cover). Exactly-once across a resume seam is carried by the
    checkpoint's offset log plus the sink's _spark_metadata batch-id
    log. Lose the checkpoint but keep the store (an operator restoring
    the wrong volume — the canonical 100 TB incident) and a restarted
    query renumbers batches from 0; the sink then SKIPS every batch id
    it already committed. Probing that state while building this
    witness established: nothing DUPLICATES through a kept manifest
    (the skip closes that channel — the originally-planned 2x witness
    is unreachable), but the moment the restarted run packs NEW files
    into a skipped batch id their rows are SILENTLY LOST, and the
    store still reads back cleanly, just short. Silent loss being the
    only failure mode is exactly why the engine now REFUSES the
    orphaned-store state outright (jobs.run_stream's
    checkpoint-consistency guard): this test pins the refusal in both
    the benign shape (same files, same batching — would have
    self-healed) and the lossy shape (new file + coarser batching —
    would have dropped it), because the operator cannot tell the two
    apart at restore time. A fresh base keeps working after the
    refusal."""
    import shutil

    from espkinesis_spark.streaming import jobs

    _, docs, _ = stream_fuzz_ctx
    pdf = docs.select("doc_id").toPandas().sort_values("doc_id")
    half = len(pdf) // 2
    a, b = pdf.iloc[:half], pdf.iloc[half:]
    src_dir = tmp_path_factory.mktemp("ckptloss_src")
    (src_dir / "data").mkdir()

    import glob as _glob
    import os as _os

    def land(frame, name):
        tmp = src_dir / "data" / "__tmp"
        spark.createDataFrame(frame).coalesce(1).write.mode("overwrite").parquet(str(tmp))
        shutil.copy(_glob.glob(str(tmp / "part-*.parquet"))[0], src_dir / "data" / name)
        shutil.rmtree(tmp)

    land(a, "a.parquet")
    base = str(tmp_path_factory.mktemp("ckptloss_base") / "store")

    def source(max_files):
        r = spark.readStream.schema("doc_id long")
        if max_files:
            r = r.option("maxFilesPerTrigger", 1)
        return r.parquet(str(src_dir / "data"))

    leg1 = jobs.run_stream(
        source(max_files=True), "ckptloss", parquet=True, base=base, resume=True
    )
    assert leg1.count() == len(a)

    # wrong-volume restore: checkpoint gone, store + manifest intact
    shutil.rmtree(_os.path.join(base, "ckpt"))

    # benign-LOOKING shape (same files, same batching) is refused too —
    # indistinguishable from the lossy one at restore time
    with pytest.raises(ValueError, match="committed batches but checkpoint"):
        jobs.run_stream(
            source(max_files=True), "ckptloss", parquet=True, base=base, resume=True
        )

    # lossy shape: new data + coarser batching — the one that would have
    # silently dropped b's rows into a skipped batch id
    land(b, "b.parquet")
    with pytest.raises(ValueError, match="committed batches but checkpoint"):
        jobs.run_stream(
            source(max_files=False), "ckptloss", parquet=True, base=base, resume=True
        )

    # recovery path named in the error: a fresh base re-extracts cleanly
    base2 = str(tmp_path_factory.mktemp("ckptloss_base2") / "store")
    redo = jobs.run_stream(
        source(max_files=True), "ckptloss", parquet=True, base=base2, resume=True
    )
    assert redo.count() == len(pdf)
    assert {r[0] for r in redo.collect()} == set(pdf["doc_id"])

    # MIRROR direction (review catch): checkpoint kept, STORE lost — the
    # commits log records completed batches, so resuming would skip every
    # committed source batch and silently rebuild a store without them
    shutil.rmtree(_os.path.join(base2, "data"))
    with pytest.raises(ValueError, match="store was lost or replaced"):
        jobs.run_stream(
            source(max_files=True), "ckptloss", parquet=True, base=base2, resume=True
        )
    # ... while offsets-WITHOUT-commits (the crash window between the
    # offset WAL write and the batch commit) stays a legitimate resume:
    # produce the state organically by wiping the commits log after a
    # real run — the restart replays the uncommitted batches, the sink's
    # batch-id log absorbs the rewrite, and the store stays exactly right
    base3 = str(tmp_path_factory.mktemp("ckptloss_base3") / "store")
    leg = jobs.run_stream(
        source(max_files=True), "ckptloss", parquet=True, base=base3, resume=True
    )
    assert leg.count() == len(pdf)
    shutil.rmtree(_os.path.join(base3, "ckpt", "commits"))
    replayed = jobs.run_stream(
        source(max_files=True), "ckptloss", parquet=True, base=base3, resume=True
    )
    assert replayed.count() == len(pdf)
    assert {r[0] for r in replayed.collect()} == set(pdf["doc_id"])


# --- family 7: transformWithStateInPandas equivalence (unblocked r16) ------

_TWS_SPEC = st.fixed_dictionaries(
    {
        "cuts": st.lists(
            st.integers(min_value=0, max_value=1000), min_size=1, max_size=4
        ),
        "cmd_mod": st.integers(min_value=12, max_value=40),
        "salt": st.integers(min_value=0, max_value=2**31),
    }
)


@given(spec=_TWS_SPEC)
@settings(
    max_examples=5,  # each example runs TWO full streaming replays (TWS + classic)
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tws_override_sessions_match_classic_at_random_boundaries(
    spark, stream_fuzz_ctx, asof_batch_ctx, spec
):
    """Family 7: the Spark-4 transformWithStateInPandas implementation of
    A5 (override_sessions_tws) must emit frame-for-frame the classic
    applyInPandasWithState processor's output on the SAME randomly-cut
    time-ordered replay. The deterministic TWS test pins one fixture and
    one boundary shape; this family randomizes boundary placement and the
    command density, so a divergence in value-state carryover across a
    batch seam, in (ts, seq) tie handling, or in expiry arithmetic between
    the two state APIs shows up as a dict mismatch. Classic is the
    reference: it is itself pinned against an independent pandas oracle
    (test_streaming.py) and fuzz family 5."""
    from hypothesis import assume

    from espkinesis_spark.protobuf_compat import ensure_protobuf_runtime

    if not ensure_protobuf_runtime():
        pytest.skip("no google.protobuf runtime for the TWS state workers")

    ev, _, tmp = stream_fuzz_ctx
    pdf, _ = asof_batch_ctx
    src = _ordered_boundary_source(
        spark, tmp, pdf, ev.schema, ["ts", "event_id"], spec["cuts"]
    )
    # classic reference FIRST: the vacuity assume depends only on it, so a
    # vacuous draw is rejected before paying for the TWS/RocksDB replay
    want = _override_session_run(spark, src, spec)
    assume(any(over for _, over in want.values()))
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = _override_session_run(spark, src, spec, variant="tws")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert got == want
