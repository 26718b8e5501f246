"""Driver-side (pyarrow) rewrites: compactions, copy-on-write commits
and first commits.

A rewriting commit that receives the engine's collected rows folds every
live delta (none on a copy-on-write store) plus the batch into the
touched base buckets on the driver, writes one parquet file per touched
bucket, and publishes the manifest through the unchanged fence. The
Spark rewrite is the one fallback. These pins cover: the write path every
manifest records, the bucket math the driver placement relies on, and the
commit's crash points (reopen reads the pre-commit version, or none, a
replay equals an uninterrupted run, vacuum reclaims the orphan). The
cross-mode equality pin against the Spark rewrite lives in
test_delta_store.py (slow tier).
"""

from __future__ import annotations

import json
import os
import random
import re

import pytest

from surge_spark.streaming.snapshot_store import SnapshotStore

STATE_SCHEMA = "aggregate_id string, n long"
EVENT_SCHEMA = "aggregate_id string"


def _process(state, cmd):
    return [{"aggregate_id": cmd["aggregate_id"]}], False


def _handle(state, event):
    return {"aggregate_id": event["aggregate_id"], "n": (state["n"] if state else 0) + 1}


def _store(root, buckets=8, change_feed=False, delta_commits=2):
    return SnapshotStore(
        str(root), key_col="aggregate_id", num_buckets=buckets,
        delta_commits=delta_commits, change_feed=change_feed,
    )


def _seed(spark, store, n_keys):
    seed = spark.range(n_keys).selectExpr(
        "CAST(id AS STRING) AS aggregate_id", "CAST(0 AS LONG) AS n"
    )
    store.commit(None, seed, "seed", updates_unique=True)


def _engine(store):
    from surge_spark.streaming.command_engine import CommandEngine

    return CommandEngine(
        store, _process, _handle, STATE_SCHEMA, EVENT_SCHEMA,
        key_col="aggregate_id", order_cols=["command_id"], fold_partitions=2,
    )


def _batches(n_batches, batch, n_keys, seed=5):
    rng = random.Random(seed)
    return [
        [(str(rng.randrange(n_keys)), f"c{i}-{j}") for j in range(batch)]
        for i in range(n_batches)
    ]


def _run(spark, engine, batches, replies_root, start=0):
    for i, rows in enumerate(batches, start):
        df = spark.createDataFrame(rows, "aggregate_id string, command_id string")
        engine.process_batch(df, str(i), replies_dir=os.path.join(replies_root, f"batch={i}"))


def _manifest(store, v):
    with open(store._manifest_path(v)) as f:
        return json.load(f)


def test_bucket_of_matches_spark_bucket_expr(spark):
    """The driver compaction places rows with _bucket_of; a mismatch with
    Spark's _bucket_expr would misplace them permanently (the point read
    and the next Spark merge look in the other bucket)."""
    strs = ["", "a", "é", "日本語", "emoji-\U0001F600", "it's", "a'b\"c", "back\\slash", "\\", "0", "-1"]
    longs = [0, 1, -1, 42, -42, 2**31 - 1, -(2**31 - 1), 2**63 - 1, -(2**63 - 1)]
    ints = [0, 1, -1, 2**31 - 1, -(2**31 - 1)]
    for dtype, keys in (("string", strs), ("long", longs), ("int", ints)):
        store = SnapshotStore("/nonexistent-unused", key_col="k")
        df = spark.createDataFrame([(k,) for k in keys], f"k {dtype}")
        nbs = (7, 16, 64)
        got = [tuple(r) for r in df.select(*[store._bucket_expr(nb) for nb in nbs]).collect()]
        want = [tuple(SnapshotStore._bucket_of(k, nb) for nb in nbs) for k in keys]
        assert got == want, dtype


@pytest.mark.parametrize("delta_commits", [2, None])
def test_every_commit_records_its_write_path(spark, tmp_path, delta_commits):
    """A cmd-stream-shaped run (128-command batches). Merge-on-read
    (delta_commits=2, two compactions): every append and every compaction
    is written by the driver with no fallback, and the seed stays a plain
    Spark write. Copy-on-write (None, no seed): every commit, the first
    included, is a driver rewrite with no fallback. The store reads the
    generator's tally."""
    store = _store(tmp_path / "s", delta_commits=delta_commits)
    tally = {}
    if delta_commits:
        _seed(spark, store, 512)
        tally = {str(k): 0 for k in range(512)}
        assert _manifest(store, 0)["writes"] == "spark"
        assert "fallback" not in _manifest(store, 0)
    batches = _batches(6, 128, 512)
    _run(spark, _engine(store), batches, str(tmp_path / "replies"))
    rewrites = []
    first = 1 if delta_commits else 0  # the seed is no engine commit
    for v in range(first, store.latest_version() + 1):
        m = _manifest(store, v)
        assert m["writes"] == "driver" and "fallback" not in m, (v, m)
        if "state_deltas" not in m:
            rewrites.append(v)
    assert rewrites == ([3, 6] if delta_commits else [0, 1, 2, 3, 4, 5])
    # one file per rewritten bucket, in the Spark write's layout
    last = _manifest(store, store.latest_version())
    for b, p in last["state_buckets"].items():
        assert p.endswith(f"/state/__bucket={b}")
        assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) == 1
    for rows in batches:
        for k, _ in rows:
            tally[k] = tally.get(k, 0) + 1
    assert {r.aggregate_id: r.n for r in store.read_state(spark).collect()} == tally
    got = store._multi_point_read_arrow(last, list(tally))
    assert {k: r["n"] for k, r in got.items()} == tally


def test_double_key_compaction_records_spark_fallback(spark, tmp_path):
    """A double-keyed store's compaction takes the Spark path (no
    driver-side bucket mirror for floats) and says why; its appends stay
    on the driver."""
    import pyspark.sql.types as T

    struct = T.StructType([T.StructField("k", T.DoubleType()), T.StructField("n", T.LongType())])
    store = SnapshotStore(str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=2)
    store.commit(None, spark.createDataFrame([(1.5, 1), (1e20, 2)], struct), "b0", updates_unique=True)
    for i, rows in enumerate([[(1.5, 3)], [(2.5, 4)], [(1e20, 5)]], 1):
        store.commit(
            None, spark.createDataFrame(rows, struct), f"b{i}", updates_unique=True,
            driver_sides={"state_struct": struct, "state": [{"k": k, "n": n} for k, n in rows]},
        )
    assert [_manifest(store, v)["writes"] for v in (1, 2, 3)] == ["driver", "driver", "spark"]
    assert "state_deltas" not in _manifest(store, 3)
    assert "key type double" in _manifest(store, 3)["fallback"]
    assert {r.k: r.n for r in store.read_state(spark).collect()} == {1.5: 3, 2.5: 4, 1e20: 5}


# -- crash points of the driver compaction -------------------------------------


class _Crash(BaseException):
    """Stands in for the process dying: not an Exception, so the commit's
    driver-path fallback cannot catch it."""


def _arm(monkeypatch, point):
    """Make the next commit die at ``point``; returns the write log."""
    log = []
    write = SnapshotStore._arrow_write_table

    def is_bucket(path):
        return re.search(r"/state/__bucket=\d+$", path) is not None

    def crashing_write(path, table):
        if point == "all_buckets" and not is_bucket(path) and any(map(is_bucket, log)):
            raise _Crash(point)
        write(path, table)
        log.append(path)
        if point == "first_bucket" and is_bucket(path):
            raise _Crash(point)

    def crashing_link(self, version, manifest):
        raise _Crash(point)

    monkeypatch.setattr(SnapshotStore, "_arrow_write_table", staticmethod(crashing_write))
    if point == "before_link":
        monkeypatch.setattr(SnapshotStore, "_link_manifest", crashing_link)
    return log


def _reads(spark, store, end):
    """Everything a reader sees at ``end``."""
    m = store._manifest(end)
    keys = sorted(r.aggregate_id for r in store.read_state(spark).collect())
    return {
        "latest": store.latest_version(),
        "state": sorted((r.aggregate_id, r.n) for r in store.read_state(spark).collect()),
        "points": store._multi_point_read_arrow(m, keys + ["absent"]),
        "get": store.get_state(spark, keys[0]) if keys else None,
        "changes": sorted(tuple(r) for r in store.read_changes(spark, 0, end).collect()),
        "events": sorted(r.aggregate_id for r in store.read_events(spark).collect()),
    }


def _replies(spark, root, batch):
    return sorted(
        (r.command_id, r.status, r.batch_id)
        for r in spark.read.parquet(os.path.join(root, f"batch={batch}")).collect()
    )


@pytest.mark.parametrize("delta_commits", [2, None])
def test_driver_compaction_crash_before_link_store_level(
    spark, tmp_path, monkeypatch, delta_commits
):
    """Fast-tier crash case: a store-level rewrite with driver_sides (a
    compaction at delta_commits=2, a copy-on-write commit at None) dies
    after every write but before the manifest link. A fresh reader sees
    version 2 (arrow reads, no Spark job); the replayed commit lands the
    merged state; vacuum reclaims the orphan."""
    import pyspark.sql.types as T

    struct = T.StructType(
        [T.StructField("aggregate_id", T.StringType()), T.StructField("n", T.LongType())]
    )
    path = tmp_path / "s"
    store = _store(path, buckets=4, change_feed=True, delta_commits=delta_commits)
    store.commit(
        None, spark.createDataFrame([(str(k), 0) for k in range(8)], struct), "seed",
        updates_unique=True,
    )
    empty = spark.createDataFrame([], struct)

    def commit(s, bid, rows, deletes=()):
        return s.commit(
            None, empty, bid, updates_unique=True, delete_keys=list(deletes),
            driver_sides={
                "state_struct": struct, "deletes": list(deletes),
                "state": [{"aggregate_id": k, "n": n} for k, n in rows],
            },
        )

    commit(store, "b1", [("1", 1), ("9", 1)])
    commit(store, "b2", [("1", 2)], deletes=["2"])
    keys = [str(k) for k in range(12)]
    before = store._multi_point_read_arrow(store._manifest(2), keys)
    _arm(monkeypatch, "before_link")
    with pytest.raises(_Crash):
        commit(store, "b3", [("3", 7), ("9", 2)], deletes=["1"])
    monkeypatch.undo()
    (orphan,) = [d for d in os.listdir(path) if d.startswith("v000000000003-")]
    assert os.path.isdir(path / orphan / "state") and os.path.isdir(path / orphan / "changes")

    fresh = _store(path, buckets=4, change_feed=True, delta_commits=delta_commits)
    assert fresh.latest_version() == 2
    assert fresh._multi_point_read_arrow(fresh._manifest(2), keys) == before
    assert commit(fresh, "b3", [("3", 7), ("9", 2)], deletes=["1"])
    m = fresh._manifest(3)
    assert m["writes"] == "driver" and "state_deltas" not in m and m["changes"]
    want = {str(k): 0 for k in range(8)}
    want.update({"3": 7, "9": 2})
    del want["1"], want["2"]
    got = fresh._multi_point_read_arrow(m, keys)
    assert {k: r["n"] for k, r in got.items() if r is not None} == want
    fresh.vacuum()
    assert not os.path.exists(path / orphan)


CRASH_POINTS = ["before_link", "first_bucket", "all_buckets"]
# the rewrite each case crashes: (delta_commits, seeded, crashed batch)
CRASH_CASES = {
    "compaction": (2, True, 2),  # v3 folds two deltas into the seed
    "cow": (None, True, 2),  # v3 rewrites a copy-on-write store
    "first": (2, False, 0),  # v0, an engine's first commit
}


@pytest.mark.slow
@pytest.mark.parametrize("case", list(CRASH_CASES))
@pytest.mark.parametrize("point", CRASH_POINTS)
def test_driver_compaction_crash_point(spark, tmp_path, monkeypatch, point, case):
    """Kill a rewriting commit at ``point``: a compaction, a copy-on-write
    commit, or an engine's first commit. A fresh reader sees the
    pre-commit version in every read, or no version at all; replaying the
    batch id yields the state, replies and change feed of an uninterrupted
    run; vacuum then reclaims the crashed commit's orphaned version dir."""
    delta_commits, seeded, crash = CRASH_CASES[case]
    v_crash = crash + 1 if seeded else crash

    def open_store(root):
        return _store(root, buckets=4, change_feed=True, delta_commits=delta_commits)

    def new_store(root):
        store = open_store(root)
        if seeded:
            _seed(spark, store, 32)
        return store

    batches = _batches(3, 16, 32)
    ref = new_store(tmp_path / "ref")
    _run(spark, _engine(ref), batches, str(tmp_path / "ref-replies"))
    end = ref.latest_version()
    m = ref._manifest(v_crash)
    assert "state_deltas" not in m and m["writes"] == "driver"

    path, replies = tmp_path / "s", str(tmp_path / "replies")
    store = new_store(path)
    _run(spark, _engine(store), batches[:crash], replies)
    before = _reads(spark, store, v_crash - 1) if v_crash else None
    log = _arm(monkeypatch, point)
    with pytest.raises(_Crash):
        _run(spark, _engine(store), batches[crash:], replies, start=crash)
    monkeypatch.undo()
    if point != "before_link":
        assert any("/state/__bucket=" in p for p in log)
    orphans = [d for d in os.listdir(path) if d.startswith(f"v{v_crash:012d}-")]
    assert len(orphans) == 1

    fresh = open_store(path)
    if v_crash:
        assert _reads(spark, fresh, v_crash - 1) == before
    else:
        assert fresh.latest_version() is None and fresh.read_state(spark) is None
        assert fresh.get_state(spark, "0") is None

    _run(spark, _engine(fresh), batches[crash:], replies, start=crash)
    assert fresh._manifest(v_crash)["writes"] == "driver"
    got, want = _reads(spark, fresh, end), _reads(spark, ref, end)
    assert got["state"] == want["state"] and got["changes"] == want["changes"]
    assert got["events"] == want["events"] and got["points"] == want["points"]
    ref_replies = str(tmp_path / "ref-replies")
    assert _replies(spark, replies, crash) == _replies(spark, ref_replies, crash)

    fresh.vacuum()
    assert not os.path.exists(path / orphans[0])
    assert _reads(spark, open_store(path), end)["state"] == want["state"]
