"""Streaming runtime tests: stateful fold across micro-batches, command
engine end-to-end (process → atomic commit → read-your-writes point query),
window analytics, metric sensors. File streams + availableNow triggers stand
in for Kafka (same source API surface)."""

from __future__ import annotations

import asyncio
import datetime as dt
import json

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from surge_spark.operators import eventsourcing as es
from surge_spark.streaming import metrics as sm
from surge_spark.streaming import windows as sw
from surge_spark.streaming.command_engine import CommandEngine
from surge_spark.streaming.fold import stateful_fold_stream
from surge_spark.streaming.snapshot_store import SnapshotStore

# r16 fast-tier split (see pytest.ini): streaming end-to-end scenarios (~7 min)
pytestmark = pytest.mark.slow

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

COUNT_STATE_STRUCT = T.StructType(
    [
        T.StructField("aggregate_id", T.StringType()),
        T.StructField("count", T.IntegerType()),
        T.StructField("version", T.IntegerType()),
    ]
)


def _ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def _write_batch(spark, path, rows, n: int):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stateful_fold_across_batches(spark, tmp_path):
    """State persists across micro-batches: two event files processed as two
    batches must produce the same final state as one batch (R1/A1)."""
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, [(1, _ts(1), 1, "purchase", 1.0, "{}")], 1)

    events = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    def handler(state, event):
        return es.count_handle_event(state, event)

    out = stateful_fold_stream(
        events, "user_id", ["ts", "event_id"], handler, COUNT_STATE_STRUCT
    )
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend(
            (r["aggregate_id"], r["count"], r["version"]) for r in batch_df.collect()
        )

    def run_once():
        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    _write_batch(spark, src, [(2, _ts(2), 1, "error", 1.0, "{}")], 1)
    run_once()
    # second batch folded on top of checkpointed state: count 1-1=0, version 2
    assert seen[-1] == ("1", 0, 2)


def test_command_engine_end_to_end(spark, tmp_path):
    """§3.1 pipeline: commands → events+state committed atomically →
    read-your-writes getState; rejection writes nothing; duplicate batch is
    a no-op (R4)."""
    # bank state dicts carry account_number == str(user_id): that is the
    # store key (engine contract)
    store = SnapshotStore(str(tmp_path / "store"), key_col="account_number")

    def handle(state, ev):
        s = es.bank_handle_event(state, ev)
        return {"account_number": s["account_number"], "balance": s["balance"]}

    engine = CommandEngine(
        store,
        process_command=es.bank_process_command,
        handle_event=handle,
        state_schema="account_number string, balance double",
        event_schema="type string, account string, amount double, account_number string",
        key_col="user_id",
        order_cols=["ts", "event_id"],
    )

    cmds1 = spark.createDataFrame(
        [
            (1, _ts(1), 7, "signup", 0.0, "c1"),
            (2, _ts(2), 7, "click", 100.0, "c2"),
            (3, _ts(3), 7, "purchase", 500.0, "c3"),  # insufficient → rejected
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string",
    )
    state_df, events_df, replies_df = engine.process_batch(cmds1, "b1")
    replies = {r.command_id: r.status for r in replies_df.collect()}
    assert replies == {"c1": "success", "c2": "success", "c3": "rejected"}

    # read-your-writes: state visible immediately after commit (R2)
    got = store.get_state(spark, "7")
    assert got is not None and got["balance"] == 100.0

    # batch 2 folds on batch 1's committed state
    cmds2 = spark.createDataFrame(
        [(4, _ts(4), 7, "purchase", 30.0, "c4")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string",
    )
    engine.process_batch(cmds2, "b2")
    assert store.get_state(spark, "7")["balance"] == 70.0

    # idempotent publish (R4): re-committing b2 is a no-op
    before = store.latest_version()
    assert store.commit(None, state_df, "b2") is False
    assert store.latest_version() == before

    # event log accumulated across both commits
    log = store.read_events(spark)
    assert log.count() == 3  # created, credited, debited (rejection wrote nothing)


def test_snapshot_store_no_change_no_write(spark, tmp_path):
    """no-change-no-write (PersistentActor.scala:212): a command that leaves
    state unchanged emits no state row."""
    store = SnapshotStore(str(tmp_path / "s2"), key_col="aggregate_id")
    engine = CommandEngine(
        store,
        process_command=lambda s, c: ([], False),  # do_nothing command
        handle_event=lambda s, e: s,
        state_schema="aggregate_id string, count int",
        event_schema="aggregate_id string, kind string",
        key_col="user_id",
        order_cols=["ts"],
    )
    cmds = spark.createDataFrame(
        [(1, _ts(1), 3, "do_nothing", 0.0, "c1")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string",
    )
    state_df, events_df, replies = engine.process_batch(cmds, "b1")
    assert state_df.count() == 0 and events_df.count() == 0
    assert replies.collect()[0].status == "success"


def test_ewma_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "readings")
    vals = [10.0, 20.0, 30.0, 40.0]
    rows = [("s1", v, _ts(i)) for i, v in enumerate(vals)]
    schema = "sensor string, value double, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    readings = spark.readStream.schema(schema).parquet(src)
    q = (
        sm.ewma_stream(readings)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from ewma_out").collect()[0]
    expected = vals[0]
    for v in vals[1:]:
        expected = 0.95 * expected + 0.05 * v
    assert abs(got.ewma - expected) < 1e-9
    assert got.n == 4


def test_count_triggered_slider(spark, tmp_path):
    """W1: buffer 5, slide 2 — 12 signals → advances at the 5th/7th/9th/11th
    signal; buffer never exceeds buffer_size."""
    src = str(tmp_path / "signals")
    rows = [(_ts(i), "t", "sig.a", "ERROR", "", {}) for i in range(12)]
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("topic", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("signal_type", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    signals = spark.readStream.schema(schema).parquet(src)
    q = (
        sw.count_triggered_slider(signals, buffer_size=5, slide_amount=2)
        .writeStream.format("memory")
        .queryName("slider_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from slider_out").toPandas()
    advanced = out[out.event == "WindowAdvanced"]
    assert len(advanced) == 4
    assert (advanced.buffered == 3).all()  # 5 - slide(2)
    snap = out[out.event == "AddedToWindow"]
    assert snap.iloc[-1].total_seen == 12


def test_slider_pause_resume_stop_lifecycle(spark, tmp_path):
    """W8 + full W3 lifecycle (HealthSignalWindowActor.scala:222-256):
    pause stashes signals (not windowed, not counted), resume replays the
    stash in order (advancing if the buffer fills), stop closes the window
    and a later signal re-opens the scope fresh."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("topic", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("signal_type", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    src = str(tmp_path / "w8_src")
    sig = lambda i, st="ERROR": (_ts(i), "t", "sig.a", st, "", {})  # noqa: E731
    # batch 1: 3 signals  ->  Opened, buffered 3
    # batch 2: pause + 2 signals  ->  Paused, both stashed (total stays 3)
    # batch 3: resume + 1 signal  ->  Resumed, stash replayed (buffer hits
    #          5 -> Advanced, drops 2), then the new signal -> buffered 4
    # batch 4: stop  ->  Closed + Stopped, state cleared
    # batch 5: 1 signal  ->  Opened again, buffered 1, total restarts at 1
    batches = [
        [sig(1), sig(2), sig(3)],
        [sig(10, sw.PAUSE), sig(11), sig(12)],
        [sig(20, sw.RESUME), sig(21)],
        [sig(30, sw.STOP)],
        [sig(40)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    signals = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        sw.count_triggered_slider(signals, buffer_size=5, slide_amount=2)
        .writeStream.format("memory")
        .queryName("w8_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_w8"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from w8_out").toPandas()
    events = list(out.event)
    for name in (
        "WindowOpened",
        "WindowPaused",
        "WindowResumed",
        "WindowAdvanced",
        "WindowClosed",
        "WindowStopped",
        "AddedToWindow",
    ):
        assert name in events, f"missing {name} in {events}"

    paused = out[out.event == "WindowPaused"].iloc[0]
    assert paused.buffered == 3 and paused.total_seen == 3  # stash not counted

    adv = out[out.event == "WindowAdvanced"].iloc[0]
    assert adv.total_seen == 5  # replayed stash pushed buffer to 5
    assert adv.buffered == 3  # 5 - slide(2)

    snaps = out[out.event == "AddedToWindow"]
    # batch 3 snapshot: stash replayed (advance) + 1 new signal
    assert snaps.iloc[2].buffered == 4 and snaps.iloc[2].total_seen == 6
    # after stop, the next signal re-opens fresh
    assert events.count("WindowOpened") == 2
    assert snaps.iloc[-1].buffered == 1 and snaps.iloc[-1].total_seen == 1


def test_repeating_signal_alerts_batch_semantics(spark, sf_dir):
    """W5 frame compiles and evaluates in batch mode too (same plan)."""
    from surge_spark.io import load_table

    signals = (
        load_table(spark, sf_dir, "events")
        .select(
            "ts",
            F.lit("health.signal").alias("topic"),
            F.col("event_type").alias("name"),
            F.lit("ERROR").alias("signal_type"),
        )
    )
    out = (
        signals.where(F.col("name").rlike("^err"))
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_matches"))
        .where(F.col("n_matches") >= 2)
    )
    assert out.count() > 0


def test_repeating_signal_alerts_streaming_watermark(spark, tmp_path):
    """W5 streaming: windows emit in append mode once the watermark passes
    them; the alert threshold (times=3) filters the emitted rows."""
    src = str(tmp_path / "sig_src")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("name", T.StringType()),
        ]
    )
    # batch 1: 3 errors in [00:00, 00:10), 1 error in [00:10, 00:20)
    b1 = [
        (_ts(1), "err.kafka"),
        (_ts(3), "err.kafka"),
        (_ts(5), "err.kafka"),
        (_ts(12), "err.kafka"),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    # batch 2: event far in the future advances the watermark past both windows
    spark.createDataFrame([(_ts(600), "err.kafka")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    signals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    alerts = sw.repeating_signal_alerts(
        signals, pattern="^err", times=3, size="10 seconds", watermark="1 second"
    )
    q = (
        alerts.writeStream.format("memory")
        .queryName("alerts_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_alerts"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from alerts_out").toPandas()
    # only the first window clears times>=3; the 1-error window is filtered
    assert len(out) == 1
    assert out.iloc[0].n_matches == 3
    assert out.iloc[0].window_start == _ts(0)


def test_events_publish_even_when_state_unchanged(spark, tmp_path):
    """PersistentActorSpec.scala:495: events that don't change state still
    publish; the state snapshot is skipped (no-change-no-write)."""
    store = SnapshotStore(str(tmp_path / "s3"), key_col="aggregate_id")
    engine = CommandEngine(
        store,
        # emits a no-op event; handle_event returns an equal state dict
        process_command=lambda s, c: ([{"kind": "no-op"}], False),
        handle_event=lambda s, e: s if s is not None else None,
        state_schema="aggregate_id string, v int",
        event_schema="kind string, aggregate_id string",
        key_col="user_id",
        order_cols=["ts"],
    )
    cmds = spark.createDataFrame(
        [(1, _ts(1), 4, "noop_event", 0.0, "c1")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string",
    )
    state_df, events_df, replies = engine.process_batch(cmds, "b1")
    assert events_df.count() == 1  # event published
    assert state_df.count() == 0  # state not re-written
    assert replies.collect()[0].status == "success"


def test_handler_error_propagates_as_ack_error(spark, tmp_path):
    """PersistentActorSpec.scala:431-458: a throwing handler produces an
    ACKError reply; nothing is written; later commands still process."""

    def explode_on_bad(state, cmd):
        if cmd["event_type"] == "bad":
            raise ValueError("boom")
        return [{"kind": "ok"}], False

    store = SnapshotStore(str(tmp_path / "s4"), key_col="aggregate_id")
    engine = CommandEngine(
        store,
        process_command=explode_on_bad,
        handle_event=lambda s, e: {"aggregate_id": "5", "v": (s or {"v": 0})["v"] + 1},
        state_schema="aggregate_id string, v int",
        event_schema="kind string, aggregate_id string",
        key_col="user_id",
        order_cols=["ts"],
    )
    cmds = spark.createDataFrame(
        [
            (1, _ts(1), 5, "bad", 0.0, "c1"),
            (2, _ts(2), 5, "good", 0.0, "c2"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string",
    )
    state_df, events_df, replies_df = engine.process_batch(cmds, "b1")
    replies = {r.command_id: r.status for r in replies_df.collect()}
    assert replies["c1"] == "error: ValueError"
    assert replies["c2"] == "success"
    assert events_df.count() == 1  # only the good command's event
    assert store.get_state(spark, "5")["v"] == 1


def test_all_rejected_batch_still_commits_replies(spark, tmp_path):
    """A batch whose commands are ALL rejected must still commit: its ACKs
    must be recoverable (replies_for_batch) and its batch_id must enter the
    R4 dedup set, so a foreachBatch replay is a no-op instead of re-folding
    (and, in context_mode, re-running side effects). Reply durability must
    not differ between all-rejected and mixed batches."""
    store = SnapshotStore(str(tmp_path / "s_rej"), key_col="aggregate_id")
    engine = CommandEngine(
        store,
        process_command=lambda s, c: ([], True),  # reject everything
        handle_event=lambda s, e: s,
        state_schema="aggregate_id string, v int",
        event_schema="kind string, aggregate_id string",
        key_col="user_id",
        order_cols=["ts"],
    )
    cmds = spark.createDataFrame(
        [(1, _ts(1), 9, "nope", 0.0, "c1"), (2, _ts(2), 9, "nope", 0.0, "c2")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string",
    )
    result = engine.process_batch(cmds, "rej1")
    assert result is not None
    _, _, replies_df = result
    assert {r.status for r in replies_df.collect()} == {"rejected"}
    # committed: replies durable, batch_id deduped
    assert "rej1" in store.committed_batch_ids()
    recovered = store.replies_for_batch(spark, "rej1")
    assert recovered is not None and recovered.count() == 2
    assert engine.process_batch(cmds, "rej1") is None  # replay = no-op


def test_null_key_state_rows_filtered_at_commit(spark, tmp_path):
    """A NULL-key state row would land in a hive default-partition bucket
    the driver-side crc32 math can never address (unreadable, un-updatable,
    silently dropped by the next null-key commit) — commit() filters them
    at the gate instead."""
    store = SnapshotStore(str(tmp_path / "s_null"), key_col="aggregate_id")
    updates = spark.createDataFrame(
        [(None, 1), ("a", 2)], "aggregate_id string, v int"
    )
    store.commit(None, updates, "b-null")
    rows = store.read_state(spark).collect()
    assert [(r.aggregate_id, r.v) for r in rows] == [("a", 2)]
    with open(store._manifest_path(0)) as fh:
        buckets = json.load(fh)["state_buckets"]
    assert "__HIVE_DEFAULT_PARTITION__" not in buckets


def test_process_batch_never_materializes_rows_on_driver(spark, tmp_path):
    """100 TB design guard: above the driver bounds, process_batch's only
    driver-side actions are metadata-sized (the commit's touched bucket
    ids) — never the batch's state/event/reply rows. Spy on every
    collect() during a 2000-command batch against a store that already
    holds a version, and assert nothing row-sized crosses the driver with
    both bounds at 0; at the default bounds the driver fold's size probe
    and the commit's collect of the fold output (about 4,500 rows) run,
    and no collect exceeds driver_commit_max_rows."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from surge_spark.streaming.snapshot_store import DRIVER_COMMIT_MAX_ROWS

    for bound in (0, DRIVER_COMMIT_MAX_ROWS):
        store = SnapshotStore(str(tmp_path / f"s7-{bound}"), key_col="aggregate_id")
        engine = CommandEngine(
            store,
            process_command=lambda s, c: (
                [{"kind": "inc", "aggregate_id": str(c["user_id"])}],
                False,
            ),
            handle_event=lambda s, e: {
                "aggregate_id": e["aggregate_id"],
                "n": (s or {"n": 0})["n"] + 1,
            },
            state_schema="aggregate_id string, n int",
            event_schema="kind string, aggregate_id string",
            key_col="user_id",
            order_cols=["ts"],
            driver_commit_max_rows=bound,
            **({} if bound else {"driver_fold_max_rows": 0}),
        )
        # one prior version, so the batch's commit is a bucket merge — the
        # commit that collects its touched bucket ids on the driver
        store.commit(
            None,
            spark.createDataFrame([("seed", 0)], "aggregate_id string, n int"),
            "b0",
            updates_unique=True,
        )
        cmds = spark.range(2000).select(
            F.col("id").alias("event_id"),
            F.lit(_ts(0)).alias("ts"),
            (F.col("id") % 500).alias("user_id"),
            F.lit("inc").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.concat(F.lit("c"), F.col("id")).alias("command_id"),
        )
        sizes: list[int] = []
        orig = ClassicDF.collect

        def spy(self):
            rows = orig(self)
            sizes.append(len(rows))
            return rows

        ClassicDF.collect = spy
        try:
            engine.process_batch(cmds, "big1")
        finally:
            ClassicDF.collect = orig
        if bound == 0:
            # touched-bucket ids (<=num_buckets)
            assert sizes and max(sizes) <= store.default_num_buckets
        else:
            assert sizes and max(sizes) <= engine.driver_commit_max_rows
            assert store._manifest(1)["writes"] == "driver"
        assert store.get_state(spark, "7")["n"] == 4  # 2000/500 commands per key


def test_state_deletion_tombstones_snapshot(spark, tmp_path):
    """A handler folding state to None must DELETE the snapshot row (the
    reference publishes every stateOpt != result transition, including to
    None) — not leave the old state serving get_state forever."""
    store = SnapshotStore(str(tmp_path / "s6"), key_col="aggregate_id")
    engine = CommandEngine(
        store,
        process_command=lambda s, c: (
            [{"kind": c["event_type"], "aggregate_id": str(c["user_id"])}],
            False,
        ),
        handle_event=lambda s, e: (
            None
            if e["kind"] == "close"
            else {"aggregate_id": e["aggregate_id"], "n": (s or {"n": 0})["n"] + 1}
        ),
        state_schema="aggregate_id string, n int",
        event_schema="kind string, aggregate_id string",
        key_col="user_id",
        order_cols=["ts"],
    )
    mk = lambda i, kind, cid: (i, _ts(i), 9, kind, 0.0, cid)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string"
    engine.process_batch(spark.createDataFrame([mk(1, "open", "c1")], schema), "b1")
    assert store.get_state(spark, "9")["n"] == 1

    _, _, replies = engine.process_batch(
        spark.createDataFrame([mk(2, "close", "c2")], schema), "b2"
    )
    r = replies.collect()[0]
    assert r.status == "success" and r.new_state is None
    assert store.get_state(spark, "9") is None  # tombstoned, not stale

    # the key can be re-created fresh afterwards
    engine.process_batch(spark.createDataFrame([mk(3, "open", "c3")], schema), "b3")
    assert store.get_state(spark, "9")["n"] == 1


def test_async_handlers_awaited_in_fold(spark, tmp_path):
    """U3 (AsyncAggregateCommandModel, CommandModels.scala:33-56): coroutine
    handlers are awaited per key inside the distributed fold — same results
    as the sync model."""

    async def process(state, cmd):
        await asyncio.sleep(0)
        if cmd["event_type"] == "bad":
            return [], True
        return [{"kind": "inc", "aggregate_id": str(cmd["user_id"])}], False

    async def handle(state, ev):
        await asyncio.sleep(0)
        return {"aggregate_id": ev["aggregate_id"], "n": (state or {"n": 0})["n"] + 1}

    store = SnapshotStore(str(tmp_path / "as"), key_col="aggregate_id")
    engine = CommandEngine(
        store,
        process_command=process,
        handle_event=handle,
        state_schema="aggregate_id string, n int",
        event_schema="kind string, aggregate_id string",
        key_col="user_id",
        order_cols=["ts"],
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string"
    cmds = spark.createDataFrame(
        [
            (1, _ts(1), 11, "inc", 0.0, "c1"),
            (2, _ts(2), 11, "bad", 0.0, "c2"),
            (3, _ts(3), 11, "inc", 0.0, "c3"),
        ],
        schema,
    )
    _, events_df, replies_df = engine.process_batch(cmds, "b1")
    replies = {r.command_id: r.status for r in replies_df.collect()}
    assert replies == {"c1": "success", "c2": "rejected", "c3": "success"}
    assert events_df.count() == 2
    assert store.get_state(spark, "11")["n"] == 2


def test_context_aware_handler_multi_topic_and_side_effects(spark, tmp_path):
    """U4 (ContextAwareAggregateCommandModel + SurgeContext,
    AggregateProcessingModel.scala:24-64): per-event topic routing
    (persistToTopic), raw producer records, custom reply payloads, side
    effects, and reject() with a rejection object."""
    from surge_spark.streaming.context import ProducerRecord

    hits = str(tmp_path / "side_effects")

    def handler(ctx, state, cmd):
        if cmd["event_type"] == "forbidden":
            return ctx.reject({"code": 403, "reason": "forbidden"})
        new_n = (state or {"n": 0})["n"] + 1
        key = str(cmd["user_id"])

        def effect(final_state):
            with open(hits, "a") as f:
                f.write(f"{final_state['n']}\n")

        return (
            ctx.persist_event({"kind": "inc", "aggregate_id": key})
            .persist_to_topic({"kind": "audit", "aggregate_id": key}, "audit-topic")
            .persist_record(
                ProducerRecord(topic="raw-out", key=key, value='{"x":1}')
            )
            .update_state({"aggregate_id": key, "n": new_n})
            .reply(lambda s: {"echo_n": s["n"]})
            .side_effect(effect)
        )

    store = SnapshotStore(str(tmp_path / "cx"), key_col="aggregate_id")
    engine = CommandEngine(
        store,
        process_command=handler,
        handle_event=None,
        state_schema="aggregate_id string, n int",
        event_schema="kind string, aggregate_id string",
        key_col="user_id",
        order_cols=["ts"],
        context_mode=True,
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string"
    cmds = spark.createDataFrame(
        [
            (1, _ts(1), 21, "ok", 0.0, "c1"),
            (2, _ts(2), 21, "forbidden", 0.0, "c2"),
            (3, _ts(3), 21, "ok", 0.0, "c3"),
        ],
        schema,
    )
    _, events_df, replies_df = engine.process_batch(cmds, "b1")
    replies = {r.command_id: r for r in replies_df.collect()}
    assert replies["c1"].status == "success"
    assert json.loads(replies["c1"].reply) == {"echo_n": 1}
    assert json.loads(replies["c2"].rejection) == {"code": 403, "reason": "forbidden"}
    assert json.loads(replies["c3"].reply) == {"echo_n": 2}

    # per-topic routing: default events null _topic, audit events routed
    ev = events_df.toPandas()
    assert set(ev.columns) >= {"kind", "aggregate_id", "_topic"}
    assert sorted(ev[ev.kind == "audit"]._topic) == ["audit-topic", "audit-topic"]
    assert ev[ev.kind == "inc"]._topic.isna().all()

    # raw records committed and readable
    recs = store.read_records(spark).collect()
    assert len(recs) == 2 and recs[0].topic == "raw-out"

    # side effects ran once per successful command with the final state
    with open(hits) as f:
        assert sorted(f.read().split()) == ["1", "2"]

    # state folded through both successful commands; rejection skipped
    assert store.get_state(spark, "21")["n"] == 2


def test_replayed_batch_is_pure_noop_and_replies_idempotent(spark, tmp_path):
    """R4 under foreachBatch at-least-once: re-running a committed batch id
    must not re-fold commands (which would double-apply against the
    post-commit snapshot) and must not duplicate reply rows."""
    store = SnapshotStore(str(tmp_path / "s5"), key_col="aggregate_id")
    engine = CommandEngine(
        store,
        process_command=lambda s, c: (
            [{"kind": "inc", "aggregate_id": str(c["user_id"])}],
            False,
        ),
        handle_event=lambda s, e: {
            "aggregate_id": e["aggregate_id"],
            "n": (s or {"n": 0})["n"] + 1,
        },
        state_schema="aggregate_id string, n int",
        event_schema="kind string, aggregate_id string",
        key_col="user_id",
        order_cols=["ts"],
    )
    cmds = spark.createDataFrame(
        [(1, _ts(1), 8, "inc", 0.0, "c1")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string",
    )
    first = engine.process_batch(cmds, "b-replay")
    assert first is not None
    assert store.get_state(spark, "8")["n"] == 1

    # replay: must be refused, state untouched
    assert engine.process_batch(cmds, "b-replay") is None
    assert store.get_state(spark, "8")["n"] == 1

    # stream-mode replies channel: per-batch dir with batch_id column
    src = str(tmp_path / "cmds_src")
    replies_dir = str(tmp_path / "replies")
    cmds.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(cmds.schema).parquet(src)
    q = engine.run_stream(stream, str(tmp_path / "ck5"), replies_path=replies_dir)
    q.awaitTermination(120)
    got = spark.read.parquet(replies_dir + "/batch=0")
    rows = got.collect()
    assert len(rows) == 1
    assert rows[0].batch_id == "0"
    assert rows[0].command_id == "c1"

    # prune keeps the newest dirs
    assert CommandEngine.prune_replies(replies_dir, keep_last=5) == 0


def test_poison_handle_event_error_acks_without_killing_batch(spark, tmp_path):
    """A raising handle_event must error-ACK and roll back THAT command
    (state + its events) — not fail the task and poison every replay of the
    micro-batch."""
    store = SnapshotStore(str(tmp_path / "poison"), key_col="aggregate_id")

    def process(state, cmd):
        return [{"kind": cmd["event_type"], "aggregate_id": str(cmd["user_id"])}], False

    def handle(state, ev):
        if ev["kind"] == "boom":
            raise ValueError("poison")
        return {"aggregate_id": ev["aggregate_id"], "n": (state or {}).get("n", 0) + 1}

    engine = CommandEngine(
        store,
        process,
        handle,
        state_schema="aggregate_id string, n int",
        event_schema="kind string, aggregate_id string",
        key_col="user_id",
        order_cols=["ts", "event_id"],
    )
    cmds = spark.createDataFrame(
        [
            (1, _ts(1), 7, "ok", 0.0, "c1"),
            (2, _ts(2), 7, "boom", 0.0, "c2"),
            (3, _ts(3), 7, "ok", 0.0, "c3"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, command_id string",
    )
    _, _, replies_df = engine.process_batch(cmds, "b1")
    replies = {r.command_id: r.status for r in replies_df.collect()}
    assert replies["c1"] == "success" and replies["c3"] == "success"
    assert replies["c2"] == "error: ValueError"
    # the poisoned command published nothing: 2 events, state folded twice
    assert store.get_state(spark, "7")["n"] == 2
    assert store.read_events(spark).count() == 2


def test_stateful_fold_emits_tombstone_on_delete(spark, tmp_path):
    """emit_tombstones: a state→None transition yields one row with the
    last-known state and __deleted=true (reference publishes whenever
    stateOpt != result.state, including to None)."""
    src = str(tmp_path / "tomb_src")
    ckpt = str(tmp_path / "tomb_ckpt")
    _write_batch(spark, src, [(1, _ts(1), 1, "purchase", 1.0, "{}")], 1)
    events = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    def handler(state, event):
        if event["event_type"] == "close":
            return None
        return es.count_handle_event(state, event)

    out = stateful_fold_stream(
        events,
        "user_id",
        ["ts", "event_id"],
        handler,
        COUNT_STATE_STRUCT,
        emit_tombstones=True,
    )
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend(
            (r["aggregate_id"], r["count"], r["__deleted"]) for r in batch_df.collect()
        )

    def run_once():
        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert seen[-1] == ("1", 1, False)
    _write_batch(spark, src, [(2, _ts(2), 1, "close", 1.0, "{}")], 1)
    run_once()
    assert seen[-1] == ("1", 1, True)  # last-known state, tombstoned
    # after deletion, a new event re-initializes from None
    _write_batch(spark, src, [(3, _ts(3), 1, "purchase", 1.0, "{}")], 1)
    run_once()
    assert seen[-1] == ("1", 1, False)


def test_slider_stash_is_capacity_bounded(spark, tmp_path):
    """W8: a long-paused scope's stash is bounded (oldest dropped) so the
    persisted state row cannot grow without limit."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("name", T.StringType()),
            T.StructField("signal_type", T.StringType()),
        ]
    )
    src = str(tmp_path / "stash_src")
    rows = [(_ts(0), "s", sw.PAUSE)] + [(_ts(i), "s", "ERROR") for i in range(1, 11)]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(_ts(20), "s", sw.RESUME)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    signals = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        sw.count_triggered_slider(signals, buffer_size=50, slide_amount=10, max_stash=4)
        .writeStream.format("memory")
        .queryName("stash_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "stash_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from stash_out").toPandas()
    resumed_snap = out[out.event == "AddedToWindow"].iloc[-1]
    # only the newest 4 stashed signals were replayed on resume
    assert resumed_snap.buffered == 4 and resumed_snap.total_seen == 4


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Ingest-time dedup: a re-fetched document arriving within the horizon
    is dropped; after the watermark passes the horizon its state expires and
    a later re-fetch re-emits (bounded-state semantics)."""
    from surge_spark.operators.dedup import streaming_exact_dedup

    schema = "doc_id long, ts timestamp, text string"
    src = str(tmp_path / "dd_src")
    batches = [
        [(1, _ts(0), "alpha beta"), (2, _ts(1), "gamma delta")],
        [(3, _ts(10), "alpha beta"), (4, _ts(11), "epsilon")],  # 3 = dup of 1
        [(5, _ts(8000), "zeta")],  # event time beyond first-seen + 1h
        [(6, _ts(8100), "alpha beta")],  # wm not yet advanced → still dropped
        [(7, _ts(8200), "alpha beta")],  # wm now past expiry → re-emitted
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_exact_dedup(stream, "text", "ts", horizon="1 hour")
    seen: list[int] = []
    q = (
        out.writeStream.foreachBatch(
            lambda df, bid: seen.extend(r.doc_id for r in df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert 3 not in seen  # within-horizon re-fetch dropped
    assert {1, 2, 4, 5} <= set(seen)
    # the watermark the engine applies lags one batch behind the data that
    # advanced it, so doc 6 still hits live state; by doc 7's batch the
    # fingerprint state has expired and the re-fetch re-emits
    assert 7 in seen


def test_open_window_snapshot(spark, tmp_path):
    """W4: the snapshot query returns the latest open-window state per scope
    and omits stopped scopes until they re-open."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("name", T.StringType()),
            T.StructField("signal_type", T.StringType()),
        ]
    )
    src = str(tmp_path / "w4_src")
    rows = (
        [(_ts(i), "a", "ERROR") for i in range(3)]
        + [(_ts(10 + i), "b", "ERROR") for i in range(2)]
        + [(_ts(20), "c", "ERROR"), (_ts(21), "c", sw.STOP)]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    signals = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        sw.count_triggered_slider(signals, buffer_size=5, slide_amount=2)
        .writeStream.format("memory")
        .queryName("w4_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "w4_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snap = {
        r.scope: (r.buffered, r.total_seen)
        for r in sw.open_window_snapshot(spark.table("w4_out")).collect()
    }
    assert snap == {"a": (3, 3), "b": (2, 2)}  # c stopped → absent


def test_open_window_snapshot_after_stop_then_reopen(spark, tmp_path):
    """W4 regression: a stopped scope that re-opens must be reported with
    the NEW epoch's buffer even while its total_seen is still below the old
    epoch's — ordering snapshots by total_seen (which resets on reopen)
    instead of the monotonic seq kept serving the stale pre-stop rows."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("name", T.StringType()),
            T.StructField("signal_type", T.StringType()),
        ]
    )
    src = str(tmp_path / "w4r_src")
    # batch 1: 4 signals then STOP (old epoch: total_seen reaches 4)
    spark.createDataFrame(
        [(_ts(i), "c", "ERROR") for i in range(4)] + [(_ts(4), "c", sw.STOP)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: one signal re-opens the scope (new epoch: total_seen 1 < 4)
    spark.createDataFrame([(_ts(10), "c", "ERROR")], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    signals = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        sw.count_triggered_slider(signals, buffer_size=5, slide_amount=2)
        .writeStream.format("memory")
        .queryName("w4r_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "w4r_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    events = spark.table("w4r_out").toPandas()
    # seq is strictly monotonic across the stop→reopen boundary
    assert list(events.sort_values("seq").seq) == list(range(len(events)))
    snap = {
        r.scope: (r.buffered, r.total_seen)
        for r in sw.open_window_snapshot(spark.table("w4r_out")).collect()
    }
    assert snap == {"c": (1, 1)}  # new epoch, not the stale pre-stop buffer


def test_external_replies_invisible_until_manifest(spark, tmp_path):
    """Commit-precedes-ack on the gateway reply channel: with replies_dir
    set, the final reply dir must NOT exist before the manifest publishes
    (acks are staged), must exist after, and a crash between manifest and
    rename is healed by replies_for_batch."""
    import os

    from surge_spark.streaming import snapshot_store as ss

    store = SnapshotStore(str(tmp_path / "store"), key_col="aggregate_id")
    target = str(tmp_path / "replies" / "batch=0")
    updates = spark.createDataFrame([("a", 1)], "aggregate_id string, n int")
    replies = spark.createDataFrame([("c1", "success")], "command_id string, status string")

    observed = {}
    orig_link = os.link

    def _staged_dirs():
        parent = os.path.dirname(target)
        if not os.path.isdir(parent):
            return []
        return [d for d in os.listdir(parent) if ".staging-" in d]

    def spy_link(src, dst, *a, **k):
        if dst.endswith(".manifest.json") or "manifest" in dst:
            observed["final_exists_at_link"] = os.path.isdir(target)
            observed["staging_exists_at_link"] = bool(_staged_dirs())
        return orig_link(src, dst, *a, **k)

    os.link = spy_link
    try:
        store.commit(None, updates, "b0", replies=replies, replies_dir=target)
    finally:
        os.link = orig_link
    # at manifest-link time the acks were still staged, not visible
    assert observed == {"final_exists_at_link": False, "staging_exists_at_link": True}
    assert os.path.isdir(target)  # published after the manifest

    # simulate a crash between manifest and rename: un-publish back to the
    # manifest-recorded (writer-unique) staging path
    staging = store._manifest(store.latest_version())["replies_staging"]
    os.rename(target, staging)
    assert store.replies_for_batch(spark, "b0").count() == 1  # self-heals
    assert os.path.isdir(target)


def test_concurrent_committer_cannot_clobber_staged_replies(spark, tmp_path):
    """Writer-unique reply staging: a second committer replaying the same
    batch stages to its OWN dir; the winner's published acks and manifest
    staging pointer are untouched, and prune_replies neither counts nor
    needs the loser's orphan (reclaimed once published)."""
    import os

    from surge_spark.streaming.command_engine import CommandEngine

    store = SnapshotStore(str(tmp_path / "store"), key_col="aggregate_id")
    target = str(tmp_path / "replies" / "batch=0")
    updates = spark.createDataFrame([("a", 1)], "aggregate_id string, n int")
    replies = spark.createDataFrame(
        [("c1", "success")], "command_id string, status string"
    )
    assert store.commit(None, updates, "b0", replies=replies, replies_dir=target)
    # replaying committer (same batch id): R4 dedup makes it a no-op BEFORE
    # any staging write — the winner's published dir survives
    assert store.commit(None, updates, "b0", replies=replies, replies_dir=target) is False
    assert os.path.isdir(target)
    # a crashed loser's orphan staging dir: excluded from retention count,
    # reclaimed because the final dir exists
    orphan = f"{target}.staging-deadbeef"
    os.makedirs(orphan)
    removed = CommandEngine.prune_replies(str(tmp_path / "replies"), keep_last=1)
    assert not os.path.isdir(orphan)
    assert os.path.isdir(target)  # the real batch dir was NOT displaced
    assert removed == 1  # only the orphan


def test_stream_stream_interval_join_with_watermarks(spark, tmp_path):
    """Stream-stream interval join (W-family breadth the reference cannot
    express — its joins are KTable lookups): clicks join impressions on key
    within [0, 10 min] of the impression, both sides watermarked so Spark
    can expire join state. Pins that (a) in-interval pairs emit, (b)
    out-of-interval pairs never do, and (c) the plan is a real
    StreamingSymmetricHashJoin with state cleanup, not an unbounded
    buffer."""
    import pyspark.sql.functions as F

    imp_src = str(tmp_path / "imps")
    clk_src = str(tmp_path / "clicks")
    schema = "ad_id long, ts timestamp"
    imps = [
        (1, _ts(0)),
        (2, _ts(60)),
        (3, _ts(120)),
    ]
    clicks = [
        (1, _ts(300)),     # 5 min after imp 1 -> joins
        (2, _ts(60 + 900)),  # 15 min after imp 2 -> outside interval
        (3, _ts(121)),     # 1 s after imp 3 -> joins
        (9, _ts(200)),     # no impression -> never emits
    ]
    spark.createDataFrame(imps, schema).coalesce(1).write.parquet(imp_src)
    spark.createDataFrame(clicks, schema).coalesce(1).write.parquet(clk_src)

    imp_s = (
        spark.readStream.schema(schema).parquet(imp_src)
        .withColumnsRenamed({"ts": "imp_ts"})
        .withWatermark("imp_ts", "30 minutes")
    )
    clk_s = (
        spark.readStream.schema(schema).parquet(clk_src)
        .withColumnsRenamed({"ad_id": "c_ad_id", "ts": "click_ts"})
        .withWatermark("click_ts", "30 minutes")
    )
    joined = imp_s.join(
        clk_s,
        (F.col("ad_id") == F.col("c_ad_id"))
        & (F.col("click_ts") >= F.col("imp_ts"))
        & (F.col("click_ts") <= F.col("imp_ts") + F.expr("interval 10 minutes")),
    ).select("ad_id", "imp_ts", "click_ts")

    rows: list = []
    q = (
        joined.writeStream.foreachBatch(
            lambda df, bid: rows.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.ad_id for r in rows}
    assert got == {1, 3}, rows
    plan = q.lastProgress["stateOperators"]
    assert plan and plan[0]["operatorName"] == "symmetricHashJoin"


def test_run_stream_delta_store_with_midstream_compactions(spark, tmp_path):
    """End-to-end run_stream over a MERGE-ON-READ store with delta_commits
    small enough that multiple compactions fire mid-stream: final per-key
    states, durable per-batch acks, read-your-writes point reads, and R4
    replay-safety all hold across the append/compact cycling."""
    from surge_spark.streaming.command_engine import CommandEngine
    from surge_spark.streaming.snapshot_store import SnapshotStore

    def process(state, cmd):
        return ([{"k": cmd["k"]}], False)

    def handle(state, ev):
        return {"k": ev["k"], "n": (state["n"] if state else 0) + 1}

    n_batches, n_keys = 6, 8
    src = str(tmp_path / "cmds")
    rows = [(f"k{i % n_keys}", f"c{i:06d}") for i in range(n_batches * n_keys)]
    (
        spark.createDataFrame(rows, "k string, command_id string")
        .repartition(n_batches)
        .write.parquet(src)
    )
    store = SnapshotStore(
        str(tmp_path / "store"), key_col="k", num_buckets=4, delta_commits=2
    )
    engine = CommandEngine(
        store, process, handle, "k string, n long", "k string",
        key_col="k", order_cols=["command_id"], fold_partitions=2,
    )
    stream = (
        spark.readStream.schema("k string, command_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    replies = str(tmp_path / "replies")
    q = engine.run_stream(stream, str(tmp_path / "ckpt"), replies_path=replies)
    q.awaitTermination(300)

    # every key saw one command per batch (per-key serial fold across the
    # append/compact boundary)
    import os

    final = {r.k: r.n for r in store.read_state(spark).collect()}
    assert final == {f"k{i}": n_batches for i in range(n_keys)}, final
    # compactions actually happened: the latest manifest's delta chain is
    # shorter than the number of state commits
    m = store._manifest(store.latest_version())
    assert len(m.get("state_deltas", [])) <= 2
    assert store.latest_version() + 1 >= n_batches
    # per-batch ack dirs durable
    batch_dirs = [d for d in os.listdir(replies) if d.startswith("batch=")]
    assert len(batch_dirs) == n_batches
    # point read agrees (read-your-writes through the merged view)
    assert engine.get_state(spark, "k0")["n"] == n_batches
    # R4: replaying a committed batch id is a pure no-op
    before = store.latest_version()
    cmds = spark.createDataFrame([("k0", "zz")], "k string, command_id string")
    assert engine.process_batch(cmds, "0") is None
    assert store.latest_version() == before


def test_run_stream_crash_between_staging_and_manifest_recovers(spark, tmp_path):
    """Failure injection on the commit protocol's one atomicity point: the
    committer dies AFTER all staging writes (state delta, events, staged
    replies) but BEFORE the manifest hard-link. On restart from the
    streaming checkpoint the batch must replay cleanly:

      (a) the half-committed version is invisible (no manifest → no reads)
      (b) the replayed batch commits with the same batch_id and the final
          states are exactly what a crash-free run produces
      (c) the gateway sees each batch's acks exactly once — no duplicate
          or partial reply dirs
      (d) vacuum() reclaims the crashed attempt's orphaned writer-unique
          version dir, and prune_replies the orphaned staged acks

    The pieces (fencing, R4 dedup, orphan sweep, reply staging) are each
    pinned elsewhere; this is the end-to-end kill-mid-commit composition."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from surge_spark.streaming.command_engine import CommandEngine
    from surge_spark.streaming.snapshot_store import SnapshotStore

    def process(state, cmd):
        return ([{"k": cmd["k"]}], False)

    def handle(state, ev):
        return {"k": ev["k"], "n": (state["n"] if state else 0) + 1}

    n_batches, n_keys = 4, 6
    src = str(tmp_path / "cmds")
    rows = [(f"k{i % n_keys}", f"c{i:06d}") for i in range(n_batches * n_keys)]
    (
        spark.createDataFrame(rows, "k string, command_id string")
        .repartition(n_batches)
        .write.parquet(src)
    )
    store_path, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    replies = str(tmp_path / "replies")

    def build_engine():
        store = SnapshotStore(store_path, key_col="k", num_buckets=4, delta_commits=8)
        return store, CommandEngine(
            store, process, handle, "k string, n long", "k string",
            key_col="k", order_cols=["command_id"], fold_partitions=2,
        )

    def stream():
        return (
            spark.readStream.schema("k string, command_id string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # ---- first run: crash at version 2's manifest link ----
    crash_marker = f"{os.sep}_manifests{os.sep}v000000000002.json"
    orig_link = os.link

    def crash_link(src_p, dst, *a, **k):
        if dst.endswith(crash_marker):
            raise RuntimeError("injected crash before manifest link")
        return orig_link(src_p, dst, *a, **k)

    store1, engine1 = build_engine()
    os.link = crash_link
    try:
        q = engine1.run_stream(stream(), ckpt, replies_path=replies)
        try:
            q.awaitTermination(300)
            raised = not q.exception() is None
        except StreamingQueryException:
            raised = True
        assert raised, "injected crash did not surface"
    finally:
        os.link = orig_link

    # (a) half-committed version invisible to a FRESH reader
    probe = SnapshotStore(store_path, key_col="k", num_buckets=4, delta_commits=8)
    assert probe.latest_version() == 1
    seen = {r.k: r.n for r in probe.read_state(spark).collect()}
    # exactly the two COMMITTED batches' commands are folded — their sizes
    # come from the durable ack dirs (repartition spreads keys/rows
    # unevenly per file, so neither per-key counts nor file math is pinned)
    committed_acks = spark.read.parquet(
        os.path.join(replies, "batch=0"), os.path.join(replies, "batch=1")
    ).count()
    assert sum(seen.values()) == committed_acks, (seen, committed_acks)
    # the crashed attempt's data dir exists but is unreferenced
    orphans_before = [
        d for d in os.listdir(store_path) if d.startswith("v000000000002-")
    ]
    assert orphans_before, "staging writes should have landed before the crash"
    # staged acks for batch 2 not published
    assert not os.path.isdir(os.path.join(replies, "batch=2"))

    # ---- restart from the SAME checkpoint: batch 2 replays ----
    store2, engine2 = build_engine()
    q2 = engine2.run_stream(stream(), ckpt, replies_path=replies)
    q2.awaitTermination(300)
    assert q2.exception() is None

    # (b) replay committed under the same batch id; crash-free final states
    final = {r.k: r.n for r in store2.read_state(spark).collect()}
    assert final == {f"k{i}": n_batches for i in range(n_keys)}, final
    assert store2.latest_version() == n_batches - 1
    assert store2._manifest(2)["batch_id"] == "2"

    # (c) each batch acked exactly once, every command acked exactly once
    batch_dirs = sorted(
        d for d in os.listdir(replies) if d.startswith("batch=") and ".staging" not in d
    )
    assert batch_dirs == [f"batch={i}" for i in range(n_batches)]
    acked = (
        spark.read.parquet(*[os.path.join(replies, d) for d in batch_dirs])
        .groupBy("command_id")
        .count()
        .collect()
    )
    assert len(acked) == n_batches * n_keys
    assert all(r["count"] == 1 for r in acked)

    # (d) maintenance reclaims the crashed attempt's leftovers
    store2.vacuum(keep_last=10)
    survivors = {
        d for d in os.listdir(store_path) if d.startswith("v000000000002-")
    }
    live_v2 = {
        p.split(store_path + os.sep, 1)[1].split(os.sep, 1)[0]
        for p in (
            [e["path"] for e in store2._manifest(2).get("state_deltas", [])]
            + list(store2._state_paths(store2._manifest(2)).values())
            + [store2._manifest(2).get("events") or ""]
        )
        if p.startswith(store_path + os.sep)
    }
    assert survivors <= live_v2, (survivors, live_v2)
    assert not (set(orphans_before) & survivors - live_v2)
    CommandEngine.prune_replies(replies, keep_last=n_batches)
    assert not [d for d in os.listdir(replies) if ".staging-" in d]


def test_streaming_change_replication_follows_live_primary(spark, tmp_path):
    """R10 streaming form: run_change_replication follows a LIVE primary
    run_stream — including mid-stream compactions (change_feed=True makes
    the rewriting commits' records part of the feed) — and converges to
    the primary's exact state without a poll loop. A replication restart
    on the same checkpoint applies nothing (file-source checkpoint + R4
    dedup + monotonic hwm)."""
    import time as _time

    from surge_spark.streaming.command_engine import CommandEngine
    from surge_spark.streaming.snapshot_store import (
        SnapshotStore,
        _repl_hwm,
        run_change_replication,
    )

    def process(state, cmd):
        return ([{"k": cmd["k"]}], False)

    def handle(state, ev):
        return {"k": ev["k"], "n": (state["n"] if state else 0) + 1}

    n_batches, n_keys = 5, 6
    src_dir = str(tmp_path / "cmds")
    rows = [(f"k{i % n_keys}", f"c{i:06d}") for i in range(n_batches * n_keys)]
    (
        spark.createDataFrame(rows, "k string, command_id string")
        .repartition(n_batches)
        .write.parquet(src_dir)
    )
    primary = SnapshotStore(
        str(tmp_path / "primary"), key_col="k", num_buckets=4,
        delta_commits=2, change_feed=True,
    )
    engine = CommandEngine(
        primary, process, handle, "k string, n long", "k string",
        key_col="k", order_cols=["command_id"], fold_partitions=2,
    )
    # bootstrap version 0 so the feed stream has a schema, and start the
    # standby BEFORE the stream runs — it must follow live commits
    engine.process_batch(
        spark.createDataFrame([("seed", "c-seed")], "k string, command_id string"),
        "seed",
    )
    replica = SnapshotStore(
        str(tmp_path / "replica"), key_col="k", num_buckets=4, delta_commits=2
    )
    rq = run_change_replication(
        spark, primary, replica, str(tmp_path / "repl-ckpt")
    )
    try:
        stream = (
            spark.readStream.schema("k string, command_id string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = engine.run_stream(
            stream, str(tmp_path / "ckpt"), replies_path=str(tmp_path / "replies")
        )
        q.awaitTermination(300)
        want = {r.k: r.n for r in primary.read_state(spark).collect()}
        assert want["k0"] == n_batches and want["seed"] == 1

        deadline = _time.time() + 120
        got: dict = {}
        while _time.time() < deadline:
            if _repl_hwm(replica) >= primary.latest_version():
                got = {r.k: r.n for r in replica.read_state(spark).collect()}
                if got == want:
                    break
            _time.sleep(0.25)
        assert got == want, (got, want)
        # compactions really happened on the primary mid-stream
        assert primary.latest_version() + 1 > primary.delta_commits
    finally:
        rq.stop()

    # restart replication on the same checkpoint: nothing new to apply
    v_before = replica.latest_version()
    rq2 = run_change_replication(
        spark, primary, replica, str(tmp_path / "repl-ckpt")
    )
    try:
        rq2.processAllAvailable()
        assert replica.latest_version() == v_before
        assert {r.k: r.n for r in replica.read_state(spark).collect()} == want
    finally:
        rq2.stop()


def test_dr_failover_promotes_standby_engine(spark, tmp_path):
    """R10 failover (KafkaPartitionShardRouterActor.scala:87,144-156 —
    surge fails over by re-routing shards to a standby consuming the same
    Kafka topics): run a primary SurgeEngine with a recorded change feed,
    replicate to a standby store, stop the primary, promote a FRESH
    SurgeEngine on the replica path. At promotion read_state equals the
    last replicated version; acks resume and state continues from it; R4
    dedup is intact (an already-applied replication batch id re-commits
    as a no-op); and the feed prefix-replay property holds ACROSS the
    promotion boundary — the promoted engine records its own feed, so
    replaying the replica's feed from v0 through post-promotion commits
    reproduces its read_state."""
    from surge_spark.engine import SurgeEngine, SurgeModel
    from surge_spark.streaming.snapshot_store import (
        _repl_hwm,
        replicate_changes,
    )

    def process(state, cmd):
        return (
            [{"aggregate_id": cmd["aggregate_id"], "amt": cmd["amt"]}],
            False,
        )

    def handle(state, ev):
        return {
            "aggregate_id": ev["aggregate_id"],
            "total": (state["total"] if state else 0) + ev["amt"],
        }

    def mk_model():
        return SurgeModel(
            process,
            handle,
            "aggregate_id string, total long",
            "aggregate_id string, amt long",
        )

    primary = SurgeEngine(
        spark, mk_model(), str(tmp_path / "primary"),
        fold_partitions=2, delta_commits=2, change_feed=True,
    )
    # several batches, crossing a compaction (delta_commits=2)
    for i in range(3):
        res = primary.submit_many(
            [(f"a{j}", {"amt": 10 + i}) for j in range(3)]
        )
        assert all(r.is_success for r in res)
    p_store = primary._store
    want = {
        r.aggregate_id: r.total for r in p_store.read_state(spark).collect()
    }
    assert want == {f"a{j}": 33 for j in range(3)}

    replica = SnapshotStore(
        str(tmp_path / "replica"), key_col="aggregate_id",
        delta_commits=2, change_feed=True,
    )
    applied = replicate_changes(spark, p_store, replica)
    assert applied == p_store.latest_version() + 1
    assert _repl_hwm(replica) == p_store.latest_version()

    # primary "fails" here (no further commits). Promote a fresh engine
    # on the replica path — the standby is a real store, serving state
    # immediately.
    promoted = SurgeEngine(
        spark, mk_model(), str(tmp_path / "replica"),
        fold_partitions=2, delta_commits=2, change_feed=True,
    )
    got = {
        r.aggregate_id: r.total
        for r in promoted._store.read_state(spark).collect()
    }
    assert got == want  # read_state == last replicated version

    # acks resume; state continues FROM the replicated snapshot
    r = promoted.aggregate_for("a0").send_command(amt=5)
    assert r.is_success and r.state["total"] == want["a0"] + 5
    assert promoted.aggregate_for("a0").get_state()["total"] == want["a0"] + 5

    # R4 dedup intact across promotion: an already-applied replication
    # batch id is refused as a duplicate, leaving state untouched
    dup = promoted._store.commit(
        None,
        spark.createDataFrame(
            [("a0", 999)], "aggregate_id string, total long"
        ),
        f"repl-v{0:012d}",
        updates_unique=True,
    )
    assert dup is False
    assert promoted.aggregate_for("a0").get_state()["total"] == want["a0"] + 5

    # prefix-replay across the promotion boundary: the replica's own feed
    # (replicated prefix + post-promotion commits) folds to read_state
    latest = promoted._store.latest_version()
    ch = promoted._store.read_changes(spark, start_version=0, end_version=latest)
    best: dict = {}
    for row in sorted(ch.collect(), key=lambda r: r._version):
        if row._change_type == "delete":
            best.pop(row.aggregate_id, None)
        else:
            best[row.aggregate_id] = row.total
    final = {
        r.aggregate_id: r.total
        for r in promoted._store.read_state(spark).collect()
    }
    assert best == final


@pytest.mark.parametrize("delta_commits", [2, None])
def test_driver_fold_equals_distributed_fold(spark, tmp_path, delta_commits):
    """Cross-mode pin for the driver-side fold fast path
    (driver_fold_max_rows): the SAME command stream through the driver
    fold (default) and the distributed fold (=0) yields identical
    snapshots, identical acks, and identical events — across updates,
    tombstones, rejections, handler errors, a nullable long state field
    (the NaN-through-pandas representation both paths share), multiple
    commits, and a compaction. The distributed fold remains the semantic
    source of truth; this is the contract that lets the fast path exist.
    Run on both store modes — merge-on-read (delta_commits=2) and COW
    (None) — since both folds commit through the engine's one commit
    call, and both folds run on either store mode. Two pins on the
    shared per-key kernel: key f's three commands arrive out of
    command_id order (its trail records the order they ran in), and the
    nullable long command column amt is null for some keys and set for
    others in one batch (each event records the type amt reached the
    handler as: int, or float NaN for a null in the key's own slice), with
    one value above 2^53 that must arrive exact."""
    import math

    def seen(v):
        return f"{type(v).__name__}:{'NaN' if v != v else v}"

    def process(state, cmd):
        op = cmd.get("op")
        if op == "reject":
            return ([], True)
        if op == "boom":
            raise RuntimeError("handler exploded")
        return (
            [{"k": cmd["k"], "op": op, "cid": cmd["command_id"], "amt": seen(cmd["amt"])}],
            False,
        )

    def handle(state, ev):
        if ev["op"] == "del":
            return None
        cur = state["n"] if state else 0
        # NaN parity probe: a nulled long arrives as float NaN via pandas
        # on BOTH paths; normalize the same way a real handler must
        if isinstance(cur, float) and math.isnan(cur):
            cur = 0
        # READ the nullable field back: the previous addnull must surface
        # as NaN (not None) on the driver-fold path too — extra=2 records
        # that this handler OBSERVED the NaN, so a None-vs-NaN divergence
        # flips a committed value and fails the cross-mode compare
        prev_extra = state["extra"] if state else None
        was_null = isinstance(prev_extra, float) and math.isnan(prev_extra)
        extra = None if ev["op"] == "addnull" else (2 if was_null else 1)
        trail = (state["trail"] if state and state["trail"] else "") + ev["cid"] + ","
        return {"k": ev["k"], "n": int(cur) + 1, "extra": extra, "trail": trail}

    batches = [
        [("a", "add", "c1", None), ("b", "add", "c2", 1), ("a", "add", "c3", None)],
        [("a", "addnull", "c4", 2), ("c", "add", "c5", None), ("b", "reject", "c6", None)],
        [("b", "del", "c7", None), ("d", "boom", "c8", 3), ("a", "add", "c9", None)],
        [("c", "add", "c10", None), ("e", "add", "c11", 4)],  # crosses compaction
        [
            ("f", "add", "c14", None),
            ("g", "add", "c15", 5),
            ("f", "add", "c12", 6),
            ("h", "add", "c16", None),
            ("f", "add", "c13", None),
            ("i", "add", "c17", 2**60 + 3),  # above 2^53, beside nulls
        ],
    ]

    def run(tag, fold_rows):
        store = SnapshotStore(
            str(tmp_path / tag),
            key_col="k",
            num_buckets=4,
            delta_commits=delta_commits,
        )
        eng = CommandEngine(
            store,
            process,
            handle,
            "k string, n long, extra long, trail string",
            "k string, op string, cid string, amt string",
            key_col="k",
            order_cols=["command_id"],
            fold_partitions=2,
            driver_fold_max_rows=fold_rows,
        )
        acks = []
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "k string, op string, command_id string, amt long"
            )
            out = eng.process_batch(df, f"b{i}")
            assert out is not None
            _, _, replies = out
            acks.extend(
                (r.command_id, r.status, r.new_state)
                for r in replies.collect()
            )
        snap = store.read_state(spark).collect()
        state = {r.k: (r.n, r.extra) for r in snap}
        trails = {r.k: r.trail for r in snap}
        events = sorted(
            (r.k, r.op, r.cid, r.amt) for r in store.read_events(spark).collect()
        )
        return sorted(acks), state, events, trails

    fast = run("fast", 512)
    slow = run("slow", 0)
    assert fast == slow, (fast, slow)
    # sanity on the content itself, not just cross-mode agreement
    acks, state, events, trails = fast
    # a: add, add, addnull, add — the final add SAW the NaN-null extra
    assert state["a"] == (4, 2)
    assert "b" not in state  # deleted
    statuses = {c: s for c, s, _ in acks}
    assert statuses["c6"] == "rejected"
    assert statuses["c8"].startswith("error:")
    # f ran in command_id order, not arrival order
    assert trails["f"] == "c12,c13,c14,"
    amt = {cid: a for _, _, cid, a in events}
    # f's slice holds a null, so its set value arrives as float too
    assert (amt["c12"], amt["c13"], amt["c14"]) == ("float:6.0", "float:NaN", "float:NaN")
    assert amt["c15"] == "int:5"  # g: null-free slice, exact int
    assert amt["c16"] == "float:NaN"  # h: all-null slice, NaN on both folds
    assert amt["c17"] == f"int:{2**60 + 3}"  # i: exact, no float64 pass


def test_driver_fold_falls_back_on_oversized_batch(spark, tmp_path):
    """A batch above driver_fold_max_rows must land on the distributed
    fold and still commit correctly — the limit probe is a size gate, not
    a truncation."""

    def process(state, cmd):
        return ([{"k": cmd["k"]}], False)

    def handle(state, ev):
        return {"k": ev["k"], "n": (state["n"] if state else 0) + 1}

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4
    )
    eng = CommandEngine(
        store,
        process,
        handle,
        "k string, n long",
        "k string",
        key_col="k",
        order_cols=["command_id"],
        fold_partitions=2,
        driver_fold_max_rows=4,
    )
    rows = [(f"k{i % 3}", f"c{i}") for i in range(9)]  # 9 > 4: fallback
    out = eng.process_batch(
        spark.createDataFrame(rows, "k string, command_id string"), "big"
    )
    assert out is not None
    got = {r.k: r.n for r in store.read_state(spark).collect()}
    assert got == {"k0": 3, "k1": 3, "k2": 3}
    # and a small follow-up batch takes the fast path against that state
    out2 = eng.process_batch(
        spark.createDataFrame([("k0", "c9")], "k string, command_id string"),
        "small",
    )
    assert out2 is not None
    assert store.get_state(spark, "k0")["n"] == 4


def test_session_window_counts_native_gap_sessions(spark, tmp_path):
    """Native session_window twin of the batch gap-sessionization: user 1's
    1900 s gap (> the 1800 s gap parameter) splits two sessions; user 2 is
    a singleton. Session end = last event + gap, per Spark's definition.
    Complete output mode so unfinalized sessions are visible too."""
    src = str(tmp_path / "sess_events")
    rows = [
        (1, _ts(0)), (1, _ts(100)), (1, _ts(2000)), (1, _ts(2100)),
        (2, _ts(50)),
    ]
    schema = "user_id long, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sw.session_window_counts(stream)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sess_out").collect()
    )
    gap = dt.timedelta(seconds=1800)
    assert got == [
        (1, _ts(0), _ts(100) + gap, 2),
        (1, _ts(2000), _ts(2100) + gap, 2),
        (2, _ts(50), _ts(50) + gap, 1),
    ]


def test_driver_fold_gates_on_struct_command_columns(spark, tmp_path):
    """ADVICE r10: Row.asDict() in the driver fold is non-recursive, so a
    struct-typed command column would reach handlers as a Row there while
    the distributed Arrow path hands a dict. The fast path must DECLINE
    complex-typed command batches; the distributed fold then delivers the
    dict-shaped payload."""

    def process(state, cmd):
        p = cmd["payload"]
        # the cross-mode contract: handlers always see plain dicts
        return ([{"k": cmd["k"], "amt": int(p["amt"]),
                  "was_dict": bool(isinstance(p, dict))}], False)

    def handle(state, ev):
        return {"k": ev["k"],
                "total": (state["total"] if state else 0) + ev["amt"],
                "was_dict": ev["was_dict"]}

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4
    )
    eng = CommandEngine(
        store,
        process,
        handle,
        "k string, total long, was_dict boolean",
        "k string, amt long, was_dict boolean",
        key_col="k",
        order_cols=["command_id"],
        fold_partitions=2,
        driver_fold_max_rows=512,
    )
    cmds = spark.createDataFrame(
        [("a", "c1", {"amt": 5}), ("a", "c2", {"amt": 7}), ("b", "c3", {"amt": 1})],
        "k string, command_id string, payload struct<amt:long>",
    )
    # the gate itself: fast path declines struct command columns outright
    assert eng._driver_fold(spark, cmds, "gate", None, None) is None
    # and the full batch still commits correctly via the distributed fold,
    # with the struct arriving as a dict
    assert eng.process_batch(cmds, "b1") is not None
    got = {r.k: (r.total, r.was_dict) for r in store.read_state(spark).collect()}
    assert got == {"a": (12, True), "b": (1, True)}


def _batch_gap_sessions(spark, rows, gap_s):
    """The batch entry's gap logic (h_session_windows re-parameterized):
    diff > gap keeps an exact-boundary event in the OLD session."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    w = W.partitionBy("user_id").orderBy("ts")
    micros = F.unix_micros(F.col("ts"))
    flagged = df.withColumn(
        "new_session",
        F.when(micros - F.lag(micros).over(w) > gap_s * 1_000_000, 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return {
        (r.user_id, r.session_id): r.n
        for r in sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def _native_sessions(spark, tmp_path, rows, gap_s, tag):
    src = str(tmp_path / f"pssrc_{tag}")
    schema = "user_id long, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sw.session_window_counts(stream, gap=f"{gap_s} seconds")
        .writeStream.format("memory")
        .queryName(f"pss_{tag}")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"pssck_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from pss_{tag}").collect()


def test_session_window_boundary_contract_property(spark, tmp_path):
    """r10 VERDICT #6 — the cross-engine session-window contract, pinned
    on generated data. MEASURED RESULT (corrects the r10 docstring note,
    which claimed an on-boundary divergence): Spark's native
    session_window merges sessions that overlap OR are adjacent, i.e.
    merge iff diff <= gap — the SAME rule as the batch entry's
    ``diff > gap`` split. So the two halves agree everywhere, INCLUDING
    an event landing exactly ``gap`` after its predecessor. Pins:
    (a) generated multi-user streams with inter-arrival gaps drawn
    around AND exactly on the boundary agree on the per-user session
    partition; (b) the three boundary cases explicitly: diff == gap-1
    merges, diff == gap merges, diff == gap+1 splits, on both halves."""
    import random

    gap_s = 300
    rng = random.Random(1107)
    # 6 users x ~12 events; gaps include the EXACT boundary value
    choices = [1, 30, 299, 300, 301, 600, 1200]
    rows = []
    for u in range(6):
        t = rng.randrange(0, 100)
        for _ in range(12):
            rows.append((u, _ts(t)))
            t += rng.choice(choices)

    batch = _batch_gap_sessions(spark, rows, gap_s)
    native = _native_sessions(spark, tmp_path, rows, gap_s, "off")
    # compare per-user sorted session-size lists (ids/bounds differ by
    # construction; the partition into sessions is the contract)
    def sizes(d):
        out = {}
        for (u, _), n in d.items():
            out.setdefault(u, []).append(n)
        return {u: sorted(v) for u, v in out.items()}

    nat = {}
    for r in native:
        nat.setdefault(r.user_id, []).append(r.n_events)
    nat = {u: sorted(v) for u, v in nat.items()}
    assert sizes(batch) == nat

    # the three boundary cases, explicit on both halves
    for tag, diff, want in [("in", gap_s - 1, [2]), ("on", gap_s, [2]),
                            ("out", gap_s + 1, [1, 1])]:
        brows = [(99, _ts(0)), (99, _ts(diff))]
        b = sorted(_batch_gap_sessions(spark, brows, gap_s).values())
        n = sorted(r.n_events
                   for r in _native_sessions(spark, tmp_path, brows, gap_s, tag))
        assert b == n == want, (tag, b, n)


def test_dedup_events_stream_within_watermark(spark, tmp_path):
    """dedup_events_stream: a redelivered event inside the watermark
    horizon is dropped even ACROSS micro-batches (state carries over); the
    stream's output is exactly the distinct events."""
    src = str(tmp_path / "dd_src")
    schema = "event_id long, ts timestamp, user_id long"
    b1 = [(1, _ts(0), 7), (2, _ts(10), 7), (1, _ts(0), 7)]   # in-batch dup
    b2 = [(2, _ts(10), 7), (3, _ts(20), 8)]                   # cross-batch dup
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sw.dedup_events_stream(stream, keys=["event_id"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select event_id from dd_out").collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]


def test_cusum_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode CUSUM pin: the streaming stateful operator over TWO
    micro-batches (state carried across the batch boundary) lands on the
    exact final state the batch fold handler computes over the same
    ts-ordered values — alarms, resets, and float64 bit patterns
    included."""
    from surge_spark.operators.eventsourcing import cusum_handle_event

    vals = [0.0, 2.0, 9.0, 1.0, -8.0, -9.0, 0.5, 30.0]
    schema = "sensor string, value double, ts timestamp"
    src = str(tmp_path / "readings")
    # two files = two availableNow micro-batches with maxFilesPerTrigger
    half = len(vals) // 2
    spark.createDataFrame(
        [("s1", v, _ts(i)) for i, v in enumerate(vals[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("s1", v, _ts(half + i)) for i, v in enumerate(vals[half:])], schema
    ).coalesce(1).write.parquet(src + "/f2")
    readings = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.cusum_stream(readings)
        .writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_cusum"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from cusum_out order by n desc").collect()[0]
    )
    st = None
    for v in vals:
        st = cusum_handle_event(st, {"user_id": "s1", "value": v})
    assert got.n == st["n"] == len(vals)
    assert got.baseline == st["baseline"]
    assert got.s_pos == st["s_pos"] and got.s_neg == st["s_neg"]
    assert got.n_alarms == st["n_alarms"] and got.n_alarms >= 1


def test_publish_changes_idempotent_republish(spark, tmp_path):
    """S7's downstream re-publish leg (SURVEY §2.1 S7): publish the store's
    change feed to a filelog topic, batch_id per version, dedup on read —
    a crashed publisher that replays a version (hwm written AFTER the
    produce) leaves duplicate raw records but an IDENTICAL consumer-visible
    stream, and a TORN first attempt (produce is per-partition atomic)
    composes to the same content. Folding the deduped stream KTable-style
    reproduces the store's own read_state."""
    import os

    from surge_spark.sources import filelog
    from surge_spark.streaming.snapshot_store import (
        _publish_hwm,
        _write_publish_hwm,
        publish_changes,
        read_published,
    )

    # change_feed=True: the FIRST commit is a rewriting commit, and only
    # the feed flag records its batch — same requirement as a replication
    # primary (publish_changes rides the same read_changes contract)
    store = SnapshotStore(
        str(tmp_path / "pubstore"),
        key_col="aggregate_id",
        delta_commits=4,
        change_feed=True,
    )
    topic = str(tmp_path / "pubtopic")

    def st(rows):
        return spark.createDataFrame(rows, "aggregate_id string, n long")

    store.commit(None, st([("a", 1), ("b", 1)]), "b1")
    store.commit(None, st([("a", 2), ("c", 1)]), "b2")
    store.commit(
        None,
        st([]),
        "b3",
        delete_keys=spark.createDataFrame([("b",)], "aggregate_id string"),
    )
    latest = store.latest_version()

    n = publish_changes(spark, store, topic)
    assert n == latest + 1
    assert _publish_hwm(topic) == latest

    def content(df):
        return sorted(
            (r.batch_id, r.key, r.value) for r in df.collect()
        )

    baseline = content(read_published(spark, topic))
    assert len(baseline) == 5  # 2 + 2 + 1 records across the three versions
    # the tombstone publishes as a NULL value under its version's batch id
    assert (f"pub-v{latest:012d}", "b", None) in baseline
    # and an upsert's value is the state row as JSON
    a2 = [v for b, k, v in baseline if k == "a" and "pub-v" in b]
    assert any(v and json.loads(v) == {"aggregate_id": "a", "n": 2} for v in a2)

    # caught up: a second call publishes nothing and changes nothing
    assert publish_changes(spark, store, topic) == 0
    assert content(read_published(spark, topic)) == baseline

    # crash window: hwm write lost AFTER the last version's produce -> the
    # restart re-publishes it. Raw log grows; deduped stream is identical.
    raw_before = filelog.read(spark, topic).count()
    _write_publish_hwm(topic, latest - 1)
    assert publish_changes(spark, store, topic) == 1
    assert filelog.read(spark, topic).count() > raw_before
    assert content(read_published(spark, topic)) == baseline

    # torn first attempt: a fresh topic where version latest's publish made
    # only ONE key's records visible before the crash (per-partition
    # atomicity), hwm never written -> restart re-publishes the version in
    # full; min-offset-per-(batch_id, key) composes survivor + replay into
    # the same consumer-visible content.
    topic2 = str(tmp_path / "pubtopic-torn")
    _write_publish_hwm(topic2, latest - 1)  # versions before it "published"
    ch = store.read_changes(spark, start_version=latest, end_version=latest)
    survivor = ch.where(F.col("aggregate_id") == "b").select(
        F.col("aggregate_id").cast("string").alias("key"),
        F.lit(None).cast("string").alias("value"),  # b's change IS a delete
    )
    filelog.produce(
        survivor, topic2, batch_id=f"pub-v{latest:012d}", order_by=[F.col("key")]
    )
    assert publish_changes(spark, store, topic2) == 1
    torn = content(read_published(spark, topic2))
    assert torn == [x for x in baseline if x[0] == f"pub-v{latest:012d}"]

    # end to end: fold the deduped stream KTable-style (latest version per
    # key, NULL value deletes) == the store's own latest snapshot
    pub = read_published(spark, topic).withColumn(
        "_v", F.regexp_extract("batch_id", r"pub-v(\d{12})", 1).cast("long")
    )
    latest_per = (
        pub.groupBy("key")
        .agg(F.max_by(F.col("value"), F.col("_v")).alias("value"))
        .where(F.col("value").isNotNull())
        .select(
            F.get_json_object("value", "$.aggregate_id").alias("aggregate_id"),
            F.get_json_object("value", "$.n").cast("long").alias("n"),
        )
    )
    folded = {(r.aggregate_id, r.n) for r in latest_per.collect()}
    stored = {
        (r.aggregate_id, r.n) for r in store.read_state(spark).collect()
    }
    assert folded == stored == {("a", 2), ("c", 1)}

    # incremental: a new commit publishes exactly one more version
    store.commit(None, st([("d", 9)]), "b4")
    assert publish_changes(spark, store, topic) == 1
    assert (
        f"pub-v{store.latest_version():012d}",
        "d",
    ) in [(b, k) for b, k, _ in content(read_published(spark, topic))]


def test_token_bucket_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode rate-limiter pin: the streaming token bucket over TWO
    micro-batches (state crosses the boundary mid-burst) equals the batch
    fold handler over the same (ms, event_id)-ordered events EXACTLY —
    both modes call the one all-integer token_bucket_step kernel, so the
    assertion is integer equality, no tolerance. The event sequence
    exercises a full-bucket drain, throttling, a whole-token refill, and
    the re-anchor-at-capacity rule."""
    from surge_spark.operators.eventsourcing import token_bucket_handle_event
    from surge_spark.streaming import metrics as sm

    day = 86_400_000
    ms_seq = [0, 1_000, 2_000, 3_000, 4_000, day + 500, day + 600, 3 * day]
    schema = "user_id string, ms long, event_id long"
    src = str(tmp_path / "tb_events")
    half = len(ms_seq) // 2
    spark.createDataFrame(
        [("u1", t, i) for i, t in enumerate(ms_seq[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("u1", t, half + i) for i, t in enumerate(ms_seq[half:])], schema
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.token_bucket_stream(events)
        .writeStream.format("memory")
        .queryName("tb_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_tb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from tb_out order by n desc").collect()[0]
    st = None
    for t in ms_seq:
        st = token_bucket_handle_event(st, {"user_id": "u1", "ms": t})
    assert got.n == st["n"] == len(ms_seq)
    assert got.tokens == st["tokens"]
    assert got.anchor_ms == st["anchor_ms"]
    assert got.n_allowed == st["n_allowed"]
    assert got.n_throttled == st["n_throttled"]
    # the sequence must actually throttle and refill, or the pin is vacuous
    assert st["n_throttled"] >= 1
    assert st["n_allowed"] >= 5


def test_burn_rate_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode burn-rate pin (the FIFTH twin, r14): the streaming
    error-budget monitor over TWO micro-batches equals the batch fold
    handler over the same (ms, event_id)-ordered events EXACTLY — both
    modes call the one all-integer burn_rate_step kernel. The sequence
    is built so the ALARM DECISION ITSELF straddles the boundary: batch
    1 fills a day-0 bucket at 2/3 error rate (open, no alarm yet), and
    batch 1's emitted row pins n_alarms == 0 — the split premise; batch
    2's first event lands in day 1, closing day 0 → the alarm fires
    across the micro-batch boundary. Day 1 then closes clean (0 errors)
    to pin the no-alarm side."""
    from surge_spark.operators.eventsourcing import burn_rate_handle_event
    from surge_spark.streaming import metrics as sm

    day = 86_400_000
    seq = [
        (0, "error"),
        (1_000, "view"),
        (2_000, "error"),
        (day + 100, "view"),
        (day + 200, "view"),
        (2 * day + 50, "view"),
    ]
    schema = "user_id string, event_type string, ms long, event_id long"
    src = str(tmp_path / "burn_events")
    half = 3
    spark.createDataFrame(
        [("u1", et, t, i) for i, (t, et) in enumerate(seq[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("u1", et, t, half + i) for i, (t, et) in enumerate(seq[half:])],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.burn_rate_stream(events)
        .writeStream.format("memory")
        .queryName("burn_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_burn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from burn_out order by n").collect()
    # the split premise itself: two micro-batch outputs, and batch 1's
    # row shows the day-0 bucket still OPEN (no alarm before the split)
    assert len(rows) == 2
    assert rows[0].n == half and rows[0].n_alarms == 0
    got = rows[-1]
    st = None
    for t, et in seq:
        st = burn_rate_handle_event(
            st, {"user_id": "u1", "ms": t, "event_type": et}
        )
    assert (got.bucket, got.n_total, got.n_err, got.n_alarms, got.n) == (
        st["bucket"],
        st["n_total"],
        st["n_err"],
        st["n_alarms"],
        st["n"],
    )
    # the sequence must actually alarm once (day 0 burned 2/3 >> 2% x 2)
    # and close one clean bucket (day 1), or the pin is vacuous
    assert st["n_alarms"] == 1
    assert (st["bucket"], st["n_total"], st["n_err"], st["n"]) == (2, 1, 0, 6)


def test_page_hinkley_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode Page-Hinkley pin (the SIXTH twin): two micro-batches —
    batch 1 is the clean baseline (its emitted row must show 0 alarms),
    batch 2 carries the shift, so the DETECTION depends entirely on the
    running-mean/sum state carried across the boundary — and the final
    streaming state equals the batch fold handler's BITWISE (same float
    kernel, same (ts, event_id) order)."""
    from surge_spark.operators.eventsourcing import page_hinkley_handle_event
    from surge_spark.streaming import metrics as sm

    vals = [10.0] * 8 + [80.0] * 4  # baseline batch, then the shift
    schema = "user_id string, value double, ts long, event_id long"
    src = str(tmp_path / "ph_events")
    half = 8
    spark.createDataFrame(
        [("u1", v, i * 1000, i) for i, v in enumerate(vals[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("u1", v, (half + i) * 1000, half + i) for i, v in enumerate(vals[half:])],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.page_hinkley_stream(events)
        .writeStream.format("memory")
        .queryName("ph_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_ph"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from ph_out order by n").collect()
    assert len(rows) == 2 and rows[0].n == half
    got = rows[-1]
    st = None
    for i, v in enumerate(vals):
        st = page_hinkley_handle_event(
            st, {"user_id": "u1", "value": v, "ts": i, "event_id": i}
        )
    # bitwise: the kernel is shared, the order identical
    assert (got.n, got.s, got.m, got.m_min, got.n_alarms) == (
        st["n"], st["s"], st["m"], st["m_min"], st["n_alarms"]
    )
    # the premise: the alarm fired, and AFTER the split (batch-1 row clean)
    assert st["n_alarms"] >= 1 and rows[0].n_alarms == 0


def test_token_bucket_stream_idle_timeout_contract(spark, tmp_path):
    """idle_timeout_ms < capacity*refill_ms is rejected (an expired
    bucket must be provably FULL so re-init is admission-equivalent);
    a legal bound keeps the cross-mode equality intact when it never
    fires within the run."""
    from surge_spark.operators.eventsourcing import (
        TB_CAPACITY,
        TB_REFILL_MS,
        token_bucket_handle_event,
    )
    from surge_spark.streaming import metrics as sm

    schema = "user_id string, ms long, event_id long"
    src = str(tmp_path / "tb_idle")
    ms_seq = [0, 1_000, 2_000]
    spark.createDataFrame(
        [("u1", t, i) for i, t in enumerate(ms_seq)], schema
    ).coalesce(1).write.parquet(src + "/f1")
    events = spark.readStream.schema(schema).parquet(src + "/*")

    with pytest.raises(ValueError, match="idle_timeout_ms"):
        sm.token_bucket_stream(
            events, idle_timeout_ms=TB_CAPACITY * TB_REFILL_MS - 1
        )

    q = (
        sm.token_bucket_stream(
            events, idle_timeout_ms=TB_CAPACITY * TB_REFILL_MS
        )
        .writeStream.format("memory")
        .queryName("tb_idle_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_tb_idle"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from tb_idle_out order by n desc").collect()[0]
    st = None
    for t in ms_seq:
        st = token_bucket_handle_event(st, {"user_id": "u1", "ms": t})
    assert got.user_id == "u1"
    assert (got.tokens, got.anchor_ms, got.n_allowed, got.n_throttled, got.n) == (
        st["tokens"],
        st["anchor_ms"],
        st["n_allowed"],
        st["n_throttled"],
        st["n"],
    )


def test_holt_stream_matches_batch_fold(spark, tmp_path):
    """Fourth cross-mode twin pin, and the strongest of the family: the
    Holt float recurrence has no order-free closed form, so BITWISE
    equality (raw-double ==, no tolerance) of the streaming state after
    a mid-series micro-batch split against the batch handler fold proves
    the stream replays the exact ordered float64 op sequence. Values are
    chosen non-representable (1/3-ish) so any re-ordering or re-derived
    arithmetic would differ in the low bits."""
    from surge_spark.operators.eventsourcing import holt_handle_event
    from surge_spark.streaming import metrics as sm

    vals = [10.1, 3.333333333333333, 7.77, 0.1, 12.9, 5.5555, 9.0, 2.1]
    schema = "user_id string, value double, ts long, event_id long"
    src = str(tmp_path / "holt_events")
    half = len(vals) // 2
    spark.createDataFrame(
        [("u1", v, 1000 * i, i) for i, v in enumerate(vals[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("u1", v, 1000 * (half + i), half + i) for i, v in enumerate(vals[half:])],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.holt_stream(events)
        .writeStream.format("memory")
        .queryName("holt_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_holt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from holt_out order by n").collect()
    # split premise pinned (the saga-test lesson): two micro-batch outputs
    assert len(rows) == 2, [r.n for r in rows]
    assert rows[0].n == half
    st = None
    mid = None
    for i, v in enumerate(vals):
        st = holt_handle_event(st, {"user_id": "u1", "value": v})
        if i == half - 1:
            mid = dict(st)
    # BITWISE: raw doubles compared with ==, at the boundary AND the end
    assert (rows[0].level, rows[0].trend) == (mid["level"], mid["trend"])
    got = rows[1]
    assert got.n == st["n"] == len(vals)
    assert (got.level, got.trend) == (st["level"], st["trend"])
    assert got.forecast == st["level"] + st["trend"]
    # the state must genuinely carry a nonzero trend across the boundary
    assert mid["trend"] != 0.0


def test_saga_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode saga pin: a saga STARTED in micro-batch 1 and
    COMPENSATED in micro-batch 2 (the state machine split mid-flight
    across the boundary) folds to exactly the batch handler's final
    state — both modes call the one all-integer saga_handle_event
    kernel, so the assertion is integer equality."""
    from surge_spark.operators.eventsourcing import saga_handle_event
    from surge_spark.streaming import metrics as sm

    seq = [
        "purchase",  # idle: ignored
        "view",      # start saga 1
        "click",     # step
        "purchase",  # complete saga 1
        "view",      # start saga 2 (still open at the batch boundary)
        # ---- micro-batch boundary ----
        "error",     # compensate saga 2
        "view",      # start saga 3
        "click",     # step
    ]
    schema = "user_id string, event_type string, ms long, event_id long"
    src = str(tmp_path / "saga_events")
    half = 5
    spark.createDataFrame(
        [("u1", et, 1000 * i, i) for i, et in enumerate(seq[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("u1", et, 1000 * (half + i), half + i) for i, et in enumerate(seq[half:])],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.saga_stream(events)
        .writeStream.format("memory")
        .queryName("saga_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_saga"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Pin the SPLIT PREMISE itself, not just the final fold (ADVICE r12):
    # the memory sink must have seen TWO distinct micro-batch outputs,
    # and the batch-1 row must show st==1 — saga 2 genuinely open AT the
    # boundary. If the file source ever read f2 first (mtime inversion)
    # this fails loudly instead of silently passing as a single-batch run.
    rows = spark.sql("select * from saga_out order by n").collect()
    assert len(rows) == 2, [r.n for r in rows]
    assert rows[0].n == half and rows[0].st == 1
    got = spark.sql("select * from saga_out order by n desc").collect()[0]
    st = None
    for et in seq:
        st = saga_handle_event(st, {"user_id": "u1", "event_type": et})
    assert got.n == st["n"] == len(seq)
    for f in ("st", "n_started", "n_completed", "n_compensated", "n_steps", "n_ignored"):
        assert got[f] == st[f], f
    # the sequence must exercise the interesting paths, or the pin is vacuous
    assert st["n_compensated"] == 1 and st["n_completed"] == 1
    assert st["st"] == 1  # saga 3 dangling


def test_token_bucket_stream_idle_expiry_fires(spark, tmp_path):
    """The ProcessingTimeTimeout path actually fires: a key idle past
    idle_timeout_ms has its state removed (hasTimedOut -> remove), and
    its next event re-inits a FULL bucket via token_bucket_init — the
    per-lifetime counters restart, exactly the documented expiry
    contract. capacity=2/refill_ms=50 keeps the enforced bound tiny so
    the test sleeps milliseconds, not minutes."""
    import time as _time

    from surge_spark.streaming import metrics as sm

    schema = "user_id string, ms long, event_id long"
    src = tmp_path / "tb_expiry"
    src.mkdir()
    ck = str(tmp_path / "ck_tb_expiry")
    # batch 1: three rapid events drain the 2-token bucket (1 throttled)
    spark.createDataFrame(
        [("u1", 0, 0), ("u1", 1, 1), ("u1", 2, 2)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    events = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = (
        sm.token_bucket_stream(events, capacity=2, refill_ms=50, idle_timeout_ms=100)
        .writeStream.format("memory")
        .queryName("tb_expiry_out")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.sql("select * from tb_expiry_out").count() >= 1:
                break
            _time.sleep(0.2)
        first = spark.sql(
            "select * from tb_expiry_out order by n desc"
        ).collect()[0]
        assert first.n == 3 and first.n_throttled == 1
        # idle well past the 100 ms bound across several empty triggers,
        # then send ONE late event with a far-future event time
        _time.sleep(2.0)
        spark.createDataFrame(
            [("u1", 10_000_000, 3)], schema
        ).coalesce(1).write.parquet(str(src / "f2"))
        while _time.time() < deadline:
            rows = spark.sql(
                "select * from tb_expiry_out where n = 1"
            ).collect()
            if rows:
                break
            _time.sleep(0.2)
        assert rows, "expiry never fired: counters did not restart"
        r = rows[0]
        # restarted lifetime: full bucket consumed one token, no throttle
        assert (r.n, r.n_allowed, r.n_throttled) == (1, 1, 0)
        assert r.tokens == 1
    finally:
        q.stop()


def test_multiwindow_burn_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode multi-window burn pin (the SEVENTH twin, r15): the
    streaming dual-window pager over TWO micro-batches equals the batch
    fold handler over the same (ms, event_id)-ordered events EXACTLY —
    both modes call the one all-integer multiwindow_burn_step kernel.
    The sequence makes the PAGE DECISION straddle the boundary: batch 1
    fills day 0 hot (2/3 errors — short AND long counters both >2×
    budget, but the bucket stays OPEN so its emitted row pins
    n_pages == 0); batch 2's first event lands in day 1, closing day 0
    → the page fires using the short AND long counters carried across
    the split. Day 1 then closes clean inside the same long window
    (long still hot, short cool → NO page: the AND rule's silent side
    is exercised too), and a week-8 event rolls the long bucket."""
    from surge_spark.operators.eventsourcing import (
        multiwindow_burn_handle_event,
    )
    from surge_spark.streaming import metrics as sm

    day = 86_400_000
    seq = [
        (0, "error"),
        (1_000, "view"),
        (2_000, "error"),
        (day + 100, "view"),   # closes day 0: short hot + long hot -> PAGE
        (day + 200, "view"),
        (2 * day + 50, "error"),  # closes day 1: short cool -> no page
        (8 * 7 * day, "view"),  # rolls BOTH windows (closing short is 1/1
        # error = hot, long 6/6... day-2 bucket: 1 event 1 error -> short
        # hot; long counters at that point: 6 events 3 errors -> hot -> PAGE
    ]
    schema = "user_id string, event_type string, ms long, event_id long"
    src = str(tmp_path / "mw_events")
    half = 3
    spark.createDataFrame(
        [("u1", et, t, i) for i, (t, et) in enumerate(seq[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("u1", et, t, half + i) for i, (t, et) in enumerate(seq[half:])],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.multiwindow_burn_stream(events)
        .writeStream.format("memory")
        .queryName("mw_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_mw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from mw_out order by n").collect()
    # the split premise: two micro-batch outputs, and batch 1's row shows
    # day 0 still OPEN (no page before the split)
    assert len(rows) == 2
    assert rows[0].n == half and rows[0].n_pages == 0
    got = rows[-1]
    st = None
    for t, et in seq:
        st = multiwindow_burn_handle_event(
            st, {"user_id": "u1", "ms": t, "event_type": et}
        )
    for f in (
        "short_bucket", "s_total", "s_err",
        "long_bucket", "l_total", "l_err", "n_pages", "n",
    ):
        assert getattr(got, f) == st[f], (f, getattr(got, f), st[f])
    # non-vacuous: the cross-boundary page fired, the AND rule also
    # stayed silent once (day-1 close: long hot, short cool)
    assert st["n_pages"] == 2
    assert st["n"] == len(seq)


def test_sprt_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode SPRT pin (the EIGHTH twin, r15): the streaming
    sequential test over TWO micro-batches equals the batch fold
    handler BITWISE (float recurrence, literal increments — the
    holt/PH pin class). The sequence is built so the DETECTION
    straddles the boundary: batch 1 carries two errors (llr just below
    ln(19), its emitted row pins n_detect == 0 — the split premise);
    batch 2's third error crosses the threshold using the carried llr,
    then a run of clean events drives llr down to a CLEAR, exercising
    the reset on both decision sides."""
    from surge_spark.operators.eventsourcing import (
        SPRT_A,
        SPRT_L_ERR,
        sprt_handle_event,
    )
    from surge_spark.streaming import metrics as sm

    assert 2 * SPRT_L_ERR < SPRT_A < 3 * SPRT_L_ERR  # the premise itself
    seq = ["error", "error", "view", "error"] + ["view"] * 80
    schema = "user_id string, event_type string, ms long, event_id long"
    src = str(tmp_path / "sprt_events")
    half = 3
    spark.createDataFrame(
        [("u1", et, 1000 * i, i) for i, et in enumerate(seq[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("u1", et, 1000 * (half + i), half + i)
         for i, et in enumerate(seq[half:])],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.sprt_stream(events)
        .writeStream.format("memory")
        .queryName("sprt_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_sprt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sprt_out order by n").collect()
    assert len(rows) == 2
    assert rows[0].n == half and rows[0].n_detect == 0  # split premise
    got = rows[-1]
    st = None
    for i, et in enumerate(seq):
        st = sprt_handle_event(
            st, {"user_id": "u1", "ms": 1000 * i, "event_type": et}
        )
    assert got.llr == st["llr"]  # BITWISE — same kernel, same order
    assert (got.n_detect, got.n_clear, got.n) == (
        st["n_detect"], st["n_clear"], st["n"]
    )
    # non-vacuous: one detection (across the boundary) and >=1 clear
    assert st["n_detect"] == 1 and st["n_clear"] >= 1


def test_debounce_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode debounce pin (the NINTH twin, r15): the streaming
    debounce over TWO micro-batches equals the batch fold handler
    EXACTLY (all-integer state). The sequence is built so (a) batch
    2's first admission is decided by the last-admitted timestamp
    CARRIED from batch 1, and (b) that event's gap from the PREVIOUS
    (suppressed) event is below the gap — so gap-from-previous-event
    throttling semantics would decide differently; the pin
    distinguishes the two."""
    from surge_spark.operators.eventsourcing import (
        DEBOUNCE_GAP_MS,
        debounce_handle_event,
    )
    from surge_spark.streaming import metrics as sm

    ts = [0, 50_000, 105_000, 130_000, 200_000]
    # the split premise: the third event is within gap of its
    # predecessor but beyond gap of the last ADMITTED event
    assert ts[2] - ts[1] < DEBOUNCE_GAP_MS <= ts[2] - ts[0]
    schema = "user_id string, event_type string, ms long, event_id long"
    src = str(tmp_path / "deb_events")
    half = 2
    spark.createDataFrame(
        [("u1", "view", t, i) for i, t in enumerate(ts[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("u1", "view", t, half + i) for i, t in enumerate(ts[half:])],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.debounce_stream(events)
        .writeStream.format("memory")
        .queryName("deb_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_deb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from deb_out order by n").collect()
    assert len(rows) == 2
    # split premise emitted: after batch 1 exactly one admission
    assert (rows[0].n_accepted, rows[0].n_suppressed) == (1, 1)
    got = rows[-1]
    st = None
    for i, t in enumerate(ts):
        st = debounce_handle_event(st, {"user_id": "u1", "ms": t})
    assert (got.last_ms, got.n_accepted, got.n_suppressed, got.n) == (
        st["last_ms"], st["n_accepted"], st["n_suppressed"], st["n"]
    )
    # non-vacuous: the cross-boundary admission happened (3 admits:
    # t0, t2, t4) and conservation holds
    assert st["n_accepted"] == 3 and st["n_suppressed"] == 2
    assert st["n_accepted"] + st["n_suppressed"] == st["n"]


def test_croston_stream_matches_batch_fold(spark, tmp_path):
    """Cross-mode Croston pin (the TENTH twin, r15): the streaming
    intermittent-demand EWMAs over TWO micro-batches equal the batch
    fold handler BITWISE (float recurrence, literal coefficients —
    the holt/PH/SPRT pin class). Batch 2's first update consumes the
    (z, p, last_ms) carried from batch 1 — its interval term is
    computed against batch 1's last demand timestamp."""
    from surge_spark.operators.eventsourcing import croston_handle_event
    from surge_spark.streaming import metrics as sm

    pts = [(0, 12.5), (70_000, 3.25), (95_000, 8.0), (240_000, 1.75)]
    schema = "user_id string, value double, ms long, event_id long"
    src = str(tmp_path / "cro_events")
    half = 2
    spark.createDataFrame(
        [("u1", v, t, i) for i, (t, v) in enumerate(pts[:half])], schema
    ).coalesce(1).write.parquet(src + "/f1")
    # a NULL-value row rides along in batch 2: the stream must drop it
    # exactly like the batch twin's value-not-null filter (a NaN here
    # would poison z/p forever — the review-pinned filter parity)
    spark.createDataFrame(
        [("u1", v, t, half + i) for i, (t, v) in enumerate(pts[half:])]
        + [("u1", None, 100_000, 99)],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sm.croston_stream(events)
        .writeStream.format("memory")
        .queryName("cro_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_cro"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from cro_out order by n").collect()
    assert len(rows) == 2
    assert rows[0].n == half and rows[0].last_ms == pts[half - 1][0]
    got = rows[-1]
    st = None
    for i, (t, v) in enumerate(pts):
        st = croston_handle_event(
            st, {"user_id": "u1", "ms": t, "value": v}
        )
    # BITWISE — same kernel, same order
    assert (got.z, got.p, got.last_ms, got.n) == (
        st["z"], st["p"], st["last_ms"], st["n"]
    )
    assert got.p > 0  # non-vacuous: interval EWMA advanced
