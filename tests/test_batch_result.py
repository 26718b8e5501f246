"""What a folded batch costs on the driver fold, and what it returns.

- The driver fold of a command-sized batch runs one Spark job (collecting
  the batch) and builds no DataFrame: its ``BatchResult`` holds the rows,
  and the frames are built only when read.
- ``submit_many`` reads its replies from the rows the commit collected, so
  no job runs after its commit.
- The frames equal the distributed fold's and the values the frame-building
  code returned before (pinned literally), with a NULL key, a tombstone and
  context-mode records.
- A stream restarted on its checkpoint (written through the session's
  FileSystem checkpoint manager) resumes where it stopped, and a replayed
  batch folds nothing.
"""

from __future__ import annotations

import json
import os

import pytest

from surge_spark.streaming import command_engine
from surge_spark.streaming.command_engine import CommandEngine
from surge_spark.streaming.context import ProducerRecord
from surge_spark.streaming.snapshot_store import SnapshotStore


def _jobs(spark, group: str, fn):
    """Run ``fn`` under a job group; return its result and the group's job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _counter_engine(store, calls=None):
    def process(state, cmd):
        if calls is not None:
            calls.append(cmd["command_id"])
        return ([{"aggregate_id": cmd["aggregate_id"]}], False)

    def handle(state, ev):
        return {"aggregate_id": ev["aggregate_id"], "n": (state["n"] if state else 0) + 1}

    return CommandEngine(
        store, process, handle, "aggregate_id string, n long", "aggregate_id string",
        order_cols=["command_id"], fold_partitions=2,
    )


def test_driver_fold_runs_one_job_and_builds_no_frame(spark, tmp_path, monkeypatch):
    store = SnapshotStore(str(tmp_path / "s"), key_col="aggregate_id", num_buckets=4, delta_commits=16)
    seed = spark.range(64).selectExpr("CAST(id AS STRING) AS aggregate_id", "CAST(0 AS LONG) AS n")
    store.commit(None, seed, "seed", updates_unique=True)
    engine = _counter_engine(store)
    src = str(tmp_path / "cmds")
    spark.range(128).selectExpr(
        "CAST(id % 64 AS STRING) AS aggregate_id", "format_string('c%03d', id) AS command_id"
    ).coalesce(1).write.parquet(src)
    cmds = spark.read.parquet(src)

    def no_frame(*a, **k):
        raise AssertionError("the driver fold built a DataFrame")

    monkeypatch.setattr(command_engine, "arrow_frame", no_frame)
    monkeypatch.setattr(CommandEngine, "_project_sides", no_frame)
    result, jobs = _jobs(spark, "driver-fold", lambda: engine.process_batch(cmds, "b0"))
    assert len(jobs) == 1, jobs  # the batch's collect, nothing else
    m = store._manifest(store.latest_version())
    assert m["writes"] == "driver" and "fallback" not in m, m
    assert len(result.replies) == 128 and {r["status"] for r in result.replies} == {"success"}
    assert sorted((s["aggregate_id"], s["n"]) for s in result.state) == [
        (str(k), 2) for k in sorted(range(64), key=str)
    ]
    assert len(result.events) == 128 and result.deletes == [] and result.records == []

    monkeypatch.undo()  # the frames build on first read, from the held rows
    assert sorted(tuple(r) for r in result.state_df.collect()) == sorted(
        (s["aggregate_id"], s["n"]) for s in result.state
    )
    _, _, replies_df = result
    assert replies_df.count() == 128


def test_submit_many_reads_replies_without_a_job_after_commit(spark, tmp_path, monkeypatch):
    from surge_spark.engine import SurgeEngine, SurgeModel

    def process(state, cmd):
        return ([{"aggregate_id": cmd["aggregate_id"], "amt": cmd["amt"]}], False)

    def handle(state, ev):
        return {"aggregate_id": ev["aggregate_id"], "n": (state["n"] if state else 0) + ev["amt"]}

    model = SurgeModel(process, handle, "aggregate_id string, n long", "aggregate_id string, amt long")
    eng = SurgeEngine(spark, model, str(tmp_path / "s"), fold_partitions=2, num_buckets=4)
    eng.submit_many([("seed", {"amt": 1})])  # the store's first version
    at_commit: list[int] = []
    real_commit = SnapshotStore.commit

    def commit(self, *a, **k):
        out = real_commit(self, *a, **k)
        at_commit.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup("bulk")))
        return out

    monkeypatch.setattr(SnapshotStore, "commit", commit)
    cmds = [(f"k{i}", {"amt": i}) for i in range(2048)]
    results, jobs = _jobs(spark, "bulk", lambda: eng.submit_many(cmds))
    assert at_commit == [len(jobs)], (at_commit, jobs)  # no job after the commit
    assert [r.status for r in results] == ["success"] * 2048
    assert [r.state["n"] for r in results[:3]] == [0, 1, 2]
    assert results[-1].state == {"aggregate_id": "k2047", "n": 2047}


def _context_engine(store, max_fold_rows: int):
    def process(ctx, state, cmd):
        k, op = cmd["k"], cmd["op"]
        if op == "del":
            return ctx.persist_event({"k": k, "op": op}).update_state(None)
        if op == "rej":
            return ctx.reject({"why": k})
        n = (state["n"] if state else 0) + 1
        ctx = ctx.persist_event({"k": k, "op": op}).update_state({"k": k, "n": n})
        if op == "rec":
            ctx = ctx.persist_record(ProducerRecord("t", k, f"v{n}")).persist_to_topic(
                {"k": k, "op": "routed"}, "side"
            )
        return ctx

    return CommandEngine(
        store, process, None, "k string, n long", "k string, op string",
        key_col="k", order_cols=["command_id"], context_mode=True,
        fold_partitions=2, driver_fold_max_rows=max_fold_rows,
    )


_SIDE_BATCH = [
    ("a", "add", "c1"), ("b", "del", "c2"), (None, "add", "c3"),
    ("c", "rec", "c4"), ("a", "rej", "c5"), ("a", "add", "c6"),
]


@pytest.mark.parametrize("fold", ["driver", "distributed"])
def test_batch_frames_keep_their_values(spark, tmp_path, fold):
    store = SnapshotStore(str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4)
    engine = _context_engine(store, 512 if fold == "driver" else 0)
    schema = "k string, op string, command_id string"
    engine.process_batch(spark.createDataFrame([("a", "add", "c0"), ("b", "add", "c0b")], schema), "b0")
    result = engine.process_batch(spark.createDataFrame(_SIDE_BATCH, schema), "b1")
    state_df, events_df, replies_df = result
    assert events_df.columns == ["k", "op", "_topic"]
    assert sorted((tuple(r) for r in state_df.collect()), key=repr) == sorted(
        [("a", 3), ("c", 1), (None, 1)], key=repr
    )
    assert sorted((tuple(r) for r in events_df.collect()), key=repr) == sorted(
        [
            ("a", "add", None), ("a", "add", None), ("b", "del", None),
            ("None", "add", None), ("c", "rec", None), ("c", "routed", "side"),
        ],
        key=repr,
    )
    replies = sorted((tuple(r) for r in replies_df.collect()), key=repr)
    assert replies == sorted(
        [
            ("c1", "a", "success", '{"k": "a", "n": 2}', None, None),
            ("c2", "b", "success", None, None, None),
            ("c3", "None", "success", '{"k": null, "n": 1}', None, None),
            ("c4", "c", "success", '{"k": "c", "n": 1}', None, None),
            ("c5", "a", "rejected", '{"k": "a", "n": 2}', '{"why": "a"}', None),
            ("c6", "a", "success", '{"k": "a", "n": 3}', None, None),
        ],
        key=repr,
    )
    # the held rows say the same, on both folds (a delta store within bounds)
    assert sorted((tuple(r.values()) for r in result.replies), key=repr) == replies
    assert result.deletes == ["b"]
    assert result.records == [{"topic": "t", "key": "c", "value": "v1"}]
    assert sorted(json.dumps(e, sort_keys=True) for e in result.rows("events")) == sorted(
        json.dumps(e, sort_keys=True)
        for e in [
            {"k": "a", "op": "add", "_topic": None}, {"k": "a", "op": "add", "_topic": None},
            {"k": "b", "op": "del", "_topic": None}, {"k": "None", "op": "add", "_topic": None},
            {"k": "c", "op": "rec", "_topic": None}, {"k": "c", "op": "routed", "_topic": "side"},
        ]
    )
    assert [tuple(r) for r in store.read_records(spark).collect()] == [("t", "c", "v1")]
    assert {r.k: r.n for r in store.read_state(spark).collect()} == {"a": 3, "c": 1}


def test_stream_restart_resumes_and_replays_nothing(spark, tmp_path):
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager"
    )
    store = SnapshotStore(str(tmp_path / "s"), key_col="aggregate_id", num_buckets=4, delta_commits=2)
    calls: list[str] = []
    engine = _counter_engine(store, calls)
    src, ck = str(tmp_path / "cmds"), str(tmp_path / "ck")
    schema = "aggregate_id string, command_id string"

    def add_file(i: int) -> None:
        rows = [(f"k{j % 3}", f"c{i}-{j}") for j in range(4)]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run() -> list[int]:
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = engine.run_stream(stream, ck, replies_path=str(tmp_path / "replies"))
        q.awaitTermination(120)
        assert q.exception() is None
        return [p["batchId"] for p in q.recentProgress]

    for i in range(3):
        add_file(i)
    assert run() == [0, 1, 2]
    # batch 2 committed to the store, but the query stopped before its
    # commit log entry: the restart replays it, then resumes at batch 3
    for name in ("2", ".2.crc"):
        p = os.path.join(ck, "commits", name)
        if os.path.exists(p):
            os.remove(p)
    add_file(3)
    assert run() == [2, 3]
    assert len(calls) == 16 and len(set(calls)) == 16  # batch 2 folded once
    assert store.committed_batch_ids() == {"0", "1", "2", "3"}
    assert {r.aggregate_id: r.n for r in store.read_state(spark).collect()} == {
        "k0": 8, "k1": 4, "k2": 4,
    }
    assert sorted(os.listdir(str(tmp_path / "replies"))) == [f"batch={i}" for i in range(4)]
    left = [
        os.path.join(root, n)
        for d in ("offsets", "commits", "sources")
        for root, _dirs, names in os.walk(os.path.join(ck, d))
        for n in names
        if n.endswith(".tmp")
    ]
    assert left == []
    assert sorted(n for n in os.listdir(os.path.join(ck, "offsets")) if n.isdigit()) == [
        "0", "1", "2", "3",
    ]
