"""Skew helpers, snapshot vacuum, and the query supervisor control loop."""

from __future__ import annotations

import pytest

import pandas as pd

from surge_spark.operators.skew import salted_count_per_key, salted_join
from surge_spark.streaming.listeners import QuerySupervisor
from surge_spark.streaming.snapshot_store import SnapshotStore


def test_salted_join_matches_plain_join(spark):
    """Salting must be invisible to results: same rows as the plain join,
    including a 90%-hot key."""
    large = spark.createDataFrame(
        pd.DataFrame({"k": [1] * 900 + list(range(2, 102)), "v": range(1000)})
    )
    small = spark.createDataFrame(
        pd.DataFrame({"k": list(range(1, 102)), "w": [f"w{i}" for i in range(1, 102)]})
    )
    plain = large.join(small, "k").toPandas()
    salted = salted_join(large, small, "k", salt_buckets=8).toPandas()
    key = lambda d: sorted(map(tuple, d[["k", "v", "w"]].values.tolist()))  # noqa: E731
    assert key(salted) == key(plain)
    assert len(salted) == 1000


def test_salted_count_per_key(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["hot"] * 500 + ["cold"] * 7}))
    out = salted_count_per_key(df, "k", salt_buckets=4).toPandas().set_index("k")
    assert out.loc["hot", "n"] == 500
    assert out.loc["cold", "n"] == 7


@pytest.mark.slow  # r16 fast-tier split (>10 s; see pytest.ini)
def test_snapshot_vacuum_keeps_recent_and_events(spark, tmp_path):
    """Vacuum is reference-counted under the bucketed layout: superseded
    bucket dirs are reclaimed, but a dir still referenced by a kept manifest
    survives even if an old version wrote it."""
    store = SnapshotStore(str(tmp_path / "s"), key_col="k")
    for i in range(5):
        # same key every commit -> each version supersedes the previous
        # version's bucket, so old dirs become unreferenced
        updates = spark.createDataFrame([("key", i)], "k string, v int")
        events = spark.createDataFrame([("key", f"e{i}")], "k string, e string")
        store.commit(events, updates, f"b{i}")
    # a key in a different bucket, written at v5, untouched afterwards
    store.commit(
        None, spark.createDataFrame([("other", 99)], "k string, v int"), "b5"
    )
    store.commit(
        None, spark.createDataFrame([("key", 9)], "k string, v int"), "b6"
    )
    # kept = v5, v6. v5 still references v4's dir for "key"'s bucket, so v4
    # is NOT reclaimable — exactly the sharing-safety vacuum must honor.
    removed = store.vacuum(keep_last=2)
    assert removed == [0, 1, 2, 3]
    # latest state + full event log still readable; batch-id dedup intact;
    # 'other' (written by a vacuumed-era version but still referenced) intact
    state = {r.k: r.v for r in store.read_state(spark).collect()}
    assert state == {"key": 9, "other": 99}
    assert store.read_events(spark).count() == 5
    assert store.commit(None, spark.createDataFrame([("x", 9)], "k string, v int"), "b3") is False


def test_commit_rewrites_only_touched_buckets(spark, tmp_path):
    """Commit cost is O(touched buckets): buckets whose keys weren't updated
    are carried by reference — same directory, byte-identical files."""
    import os

    store = SnapshotStore(str(tmp_path / "bk"), key_col="k", num_buckets=8)
    rows = [(f"key{i}", i) for i in range(40)]
    store.commit(None, spark.createDataFrame(rows, "k string, v int"), "b1")
    m1 = store._manifest(0)["state_buckets"]

    def files(d):
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {b: files(p) for b, p in m1.items()}
    store.commit(
        None, spark.createDataFrame([("key0", 100)], "k string, v int"), "b2"
    )
    m2 = store._manifest(1)["state_buckets"]
    touched = str(SnapshotStore._bucket_of("key0", 8))
    assert m2[touched] != m1[touched]
    untouched = [b for b in m1 if b != touched]
    assert untouched  # 40 keys over 8 buckets: others exist
    for b in untouched:
        assert m2[b] == m1[b]  # same directory, never rewritten
        assert files(m2[b]) == before[b]  # same files, untouched mtimes
    # merged read: updated key new value, everything else intact
    state = {r.k: r.v for r in store.read_state(spark).collect()}
    assert state["key0"] == 100 and len(state) == 40 and state["key39"] == 39


def test_snapshot_delete_keys_tombstones(spark, tmp_path):
    """delete_keys removes rows during the bucket merge; deleting the last
    key leaves an empty-but-readable snapshot."""
    store = SnapshotStore(str(tmp_path / "del"), key_col="k", num_buckets=4)
    store.commit(
        None, spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), "b1"
    )
    store.commit(
        None,
        spark.createDataFrame([], "k string, v int"),
        "b2",
        delete_keys=["a"],
    )
    assert store.get_state(spark, "a") is None
    assert store.get_state(spark, "b")["v"] == 2
    store.commit(
        None, spark.createDataFrame([], "k string, v int"), "b3", delete_keys=["b"]
    )
    state = store.read_state(spark)
    assert state is not None and state.count() == 0
    assert [f.name for f in state.schema.fields] == ["k", "v"]


def test_snapshot_commit_filters_null_keys_at_gate(spark, tmp_path):
    """Null-key rows are rejected at the commit gate: they would land in a
    hive default-partition bucket the driver-side crc32 math can never
    address — unreadable via get_state, un-updatable, un-tombstonable, and
    silently dropped whenever a later commit rewrote that sentinel bucket.
    Filtering up front makes the store's one-row-per-ADDRESSABLE-key
    invariant honest across the store's whole life, not just until the next
    null-key write."""
    store = SnapshotStore(str(tmp_path / "nk"), key_col="k", num_buckets=4)
    store.commit(
        None, spark.createDataFrame([(None, 1), ("a", 2)], "k string, v int"), "b1"
    )
    store.commit(None, spark.createDataFrame([("a", 3)], "k string, v int"), "b2")
    rows = {r.k: r.v for r in store.read_state(spark).collect()}
    assert rows == {"a": 3}


def test_pre_bucketing_layout_is_rejected(spark, tmp_path):
    """A manifest of the pre-bucketing layout (one ``state`` path, no
    ``state_buckets``) is input from disk that no code path reads or
    migrates: every reader and the commit refuse it with one error that
    names the layout, instead of reading it as an empty store."""
    import json
    import os

    import pytest as _pytest

    path = str(tmp_path / "legacy")
    os.makedirs(os.path.join(path, "_manifests"))
    legacy_state = os.path.join(path, "v000000000000", "state")
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "aggregate_id string, n int"
    )
    base.coalesce(1).write.parquet(legacy_state)
    manifest = {
        "version": 0,
        "batch_id": "legacy-0",
        "events": None,
        "state": legacy_state,
        "state_schema": base.schema.json(),
        "n_events": 0,
        "ts": 0,
    }
    with open(os.path.join(path, "_manifests", "v000000000000.json"), "w") as f:
        json.dump(manifest, f)

    store = SnapshotStore(path, key_col="aggregate_id", num_buckets=8)
    with _pytest.raises(ValueError, match="pre-bucketing"):
        store.read_state(spark)
    with _pytest.raises(ValueError, match="pre-bucketing"):
        store.get_state(spark, "a")
    updates = spark.createDataFrame([("b", 20)], "aggregate_id string, n int")
    with _pytest.raises(ValueError, match="pre-bucketing"):
        store.commit(None, updates, "b1")
    assert store.latest_version() == 0


def test_commit_dedupes_duplicate_key_updates(spark, tmp_path):
    """commit() enforces the one-row-per-key snapshot invariant on the
    update frame itself (first commit AND merge path)."""
    store = SnapshotStore(str(tmp_path / "dup"), key_col="k", num_buckets=4)
    store.commit(
        None, spark.createDataFrame([("k1", 1), ("k1", 2)], "k string, v int"), "b1"
    )
    assert store.read_state(spark).count() == 1
    store.commit(
        None, spark.createDataFrame([("k1", 3), ("k1", 4)], "k string, v int"), "b2"
    )
    state = store.read_state(spark)
    assert state.count() == 1
    assert state.collect()[0].v in (3, 4)


def test_query_supervisor_restarts_and_gives_up(spark, tmp_path):
    """W6/§4 control loop: a dying query is restarted with backoff; after
    the budget it is reported as gave_up (surge: shutdown after max
    retries, AggregateStateStoreKafkaStreams.scala:98-101)."""
    calls = {"n": 0}

    def factory():
        calls["n"] += 1
        df = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        return (
            df.writeStream.format("memory")
            .queryName(f"sup_q_{calls['n']}")
            .option("checkpointLocation", str(tmp_path / f"ck{calls['n']}"))
            .start()
        )

    sup = QuerySupervisor()
    entry = sup.supervise("rate-q", factory, max_restarts=2, backoff_s=0.01)
    assert sup.poll()["rate-q"] == "active"

    entry.query.stop()
    assert sup.poll()["rate-q"] == "restarted"
    assert calls["n"] == 2

    entry.query.stop()
    assert sup.poll()["rate-q"] == "restarted"
    entry.query.stop()
    assert sup.poll()["rate-q"] == "gave_up"
    assert "gave_up" in entry.history[-1]
    sup.stop_all()


def test_partition_assignment_tracker_fires_on_change():
    """R9: the tracker diffs topic-partition assignments from progress
    events and fires callbacks only on change."""
    from surge_spark.streaming.listeners import PartitionAssignmentTracker

    seen = []
    tr = PartitionAssignmentTracker()
    tr.on_change(lambda old, new: seen.append((old, new)))

    p1 = {"sources": [{"endOffset": '{"orders": {"0": 100, "1": 50}}'}]}
    assert tr.observe(p1) is True
    assert seen[-1] == ({}, {"orders": [0, 1]})

    # same assignment, new offsets: no rebalance
    p2 = {"sources": [{"endOffset": '{"orders": {"0": 200, "1": 80}}'}]}
    assert tr.observe(p2) is False

    # partition 2 assigned
    p3 = {"sources": [{"endOffset": '{"orders": {"0": 1, "1": 2, "2": 3}}'}]}
    assert tr.observe(p3) is True
    assert seen[-1] == ({"orders": [0, 1]}, {"orders": [0, 1, 2]})

    # full revocation (shrink to EMPTY) fires and resets the tracked state,
    # so re-assigning the identical partitions fires again
    p4 = {"sources": [{"endOffset": "{}"}]}
    assert tr.observe(p4) is True
    assert seen[-1] == ({"orders": [0, 1, 2]}, {})
    assert tr.observe(p3) is True
    assert seen[-1] == ({}, {"orders": [0, 1, 2]})
    # a progress dict with no source info at all is not evidence of revocation
    assert tr.observe({}) is False
    assert tr.observe(p2) is True  # tracked state kept through the blank

    # non-partitioned source (file/rate): never fires
    tr2 = PartitionAssignmentTracker()
    assert tr2.observe({"sources": [{"endOffset": "57"}]}) is False
    assert tr2.observe({"sources": [{"endOffset": '{"logOffset": 3}'}]}) is False


def test_standby_engine_follows_then_activates(spark, tmp_path):
    """R10: standby follows the primary's commits without processing;
    activate() starts the stream exactly once."""
    from surge_spark.streaming.listeners import StandbyEngine

    store = SnapshotStore(str(tmp_path / "dr"), key_col="k")
    started = {"n": 0}

    def factory():
        started["n"] += 1
        df = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        return (
            df.writeStream.format("memory")
            .queryName("standby_q")
            .option("checkpointLocation", str(tmp_path / "drck"))
            .start()
        )

    node = StandbyEngine(store, factory)
    assert node.is_standby and node.poll() is None

    # primary commits advance; the standby follows without starting a stream
    store.commit(None, spark.createDataFrame([("a", 1)], "k string, v int"), "b1")
    store.commit(None, spark.createDataFrame([("a", 2)], "k string, v int"), "b2")
    assert node.poll() == 1
    assert node.followed_versions == [1] and started["n"] == 0
    assert store.get_state(spark, "a")["v"] == 2  # stale-read serving allowed

    q = node.activate()
    assert not node.is_standby and started["n"] == 1
    assert node.activate() is q  # idempotent
    node.stop()


def test_snapshot_store_fencing(spark, tmp_path):
    """R5 zombie-writer fencing: two stores over the same path racing to
    commit the same version — the second manifest write must fail loudly
    (the ProducerFencedException analog), not silently overwrite."""
    import os

    import pytest as _pytest

    store_a = SnapshotStore(str(tmp_path / "f"), key_col="k")
    store_b = SnapshotStore(str(tmp_path / "f"), key_col="k")
    updates = spark.createDataFrame([("a", 1)], "k string, v int")
    assert store_a.commit(None, updates, "b1") is True

    # race: another writer lands the v1 manifest while b is mid-commit.
    # Freeze b's view at [v0] so it also targets version 1, and pre-place
    # the winner's manifest — b's exclusive link must fail.
    manifest_v1 = store_b._manifest_path(1)
    with open(manifest_v1 + ".race", "w") as f:
        f.write('{"version": 1, "batch_id": "other-writer", "events": null, "state": "x", "n_events": 0, "ts": 0}')
    os.rename(manifest_v1 + ".race", manifest_v1)
    store_b.latest_version = lambda: 0  # stale view mid-race

    with _pytest.raises(RuntimeError, match="fenced"):
        store_b.commit(None, spark.createDataFrame([("b", 2)], "k string, v int"), "b2")


def test_manifest_checkpoint_bounds_commit_and_lookup_cost(spark, tmp_path):
    """Scale guard: with a checkpoint in place, commit / batch-id dedup /
    reply lookup open only the manifests written SINCE the checkpoint —
    never the whole log. 1000 fabricated commits, then a real commit: the
    fresh store instance reads at most one old manifest (the previous
    version it merges against), not 1000."""
    import json
    import os

    from surge_spark.streaming.snapshot_store import SnapshotStore as SS

    path = str(tmp_path / "big")
    schema_json = spark.createDataFrame([("a", 1)], "k string, v int").schema.json()
    writer = SS(path, key_col="k", checkpoint_interval=100, dedup_horizon=200)
    for v in range(1000):
        m = {
            "version": v,
            "batch_id": f"b{v}",
            "events": None,
            "state_buckets": {},
            "state_schema": schema_json,
            "num_buckets": 64,
            "replies": None,
            "records": None,
            "n_events": 0,
            "ts": 0,
        }
        with open(writer._manifest_path(v), "w") as f:
            json.dump(m, f)
    # one-time cold scan (the legacy-store migration cost), then checkpoint;
    # the horizon bounds what the CHECKPOINT carries, not the cold scan
    assert len(writer.committed_batch_ids()) == 1000
    writer._write_checkpoint(999)
    assert os.path.isfile(os.path.join(path, "_manifests", "_last_checkpoint"))

    opened: list[int] = []
    orig = SS._manifest

    def spy(self, version):
        if version not in self._manifest_cache:
            opened.append(version)
        return orig(self, version)

    SS._manifest = spy
    try:
        fresh = SS(path, key_col="k", checkpoint_interval=100, dedup_horizon=200)
        assert fresh.latest_version() == 999
        ids = fresh.committed_batch_ids()
        assert opened == []  # fully served by the checkpoint
        assert "b999" in ids and "b900" in ids
        assert "b0" not in ids  # aged out of the dedup horizon (documented)
        # real commit: opens exactly the previous manifest it merges against
        assert fresh.commit(
            None, spark.createDataFrame([("a", 1)], "k string, v int"), "b1000"
        )
        assert [v for v in opened] == [999]
        # replay dedup + reply lookup stay dict-cheap on a third instance
        third = SS(path, key_col="k", checkpoint_interval=100, dedup_horizon=200)
        assert third.commit(
            None, spark.createDataFrame([("a", 2)], "k string, v int"), "b1000"
        ) is False  # R4 dedup via checkpoint + the one post-ckpt manifest
        assert third.replies_for_batch(spark, "never-committed") is None
    finally:
        SS._manifest = orig


@pytest.mark.slow  # r16 fast-tier split (>10 s; see pytest.ini)
def test_checkpointed_store_preserves_read_and_reply_paths(spark, tmp_path):
    """End-to-end over the checkpoint boundary: commits beyond the interval
    keep read_state/get_state/replies_for_batch/time-travel exact, across
    fresh instances that seed from the checkpoint."""
    from surge_spark.streaming.snapshot_store import SnapshotStore as SS

    path = str(tmp_path / "ckpt_e2e")
    store = SS(path, key_col="k", num_buckets=8, checkpoint_interval=5)
    for i in range(12):
        store.commit(
            None,
            spark.createDataFrame([(f"k{i % 3}", i)], "k string, v int"),
            f"batch-{i}",
            replies=spark.createDataFrame([(f"c{i}", "success")], "command_id string, status string"),
        )
    fresh = SS(path, key_col="k", num_buckets=8, checkpoint_interval=5)
    assert fresh.latest_version() == 11
    rows = {r.k: r.v for r in fresh.read_state(spark).collect()}
    assert rows == {"k0": 9, "k1": 10, "k2": 11}
    assert fresh.get_state(spark, "k1")["v"] == 10
    replies = fresh.replies_for_batch(spark, "batch-3")
    assert replies is not None and replies.collect()[0].command_id == "c3"
    # time travel across the checkpoint boundary still works
    assert {r.k: r.v for r in fresh.read_state(spark, version=2).collect()} == {
        "k0": 0, "k1": 1, "k2": 2,
    }
    assert fresh.commit(
        None, spark.createDataFrame([("k0", 99)], "k string, v int"), "batch-3"
    ) is False  # R4 across instances


def test_snapshot_time_travel(spark, tmp_path):
    """read_state/get_state accept a version (the Delta versionAsOf analog):
    old versions stay readable until vacuum reclaims their unshared buckets."""
    import pytest

    store = SnapshotStore(str(tmp_path / "tt"), key_col="k", num_buckets=4)
    store.commit(None, spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int"), "b0")
    store.commit(None, spark.createDataFrame([("a", 2)], "k string, v int"), "b1")
    store.commit(None, spark.createDataFrame([], "k string, v int"), "b2", delete_keys=["b"])

    assert store.get_state(spark, "a")["v"] == 2
    assert store.get_state(spark, "a", version=0)["v"] == 1
    assert store.get_state(spark, "b", version=1)["v"] == 1
    assert store.get_state(spark, "b") is None  # deleted at v2
    assert store.read_state(spark, version=0).count() == 2
    assert store.read_state(spark, version=2).count() == 1
    with pytest.raises(ValueError):
        store.read_state(spark, version=99)


def test_shuffle_shards_balanced_and_seed_independent(spark):
    """Shuffle-shard semantics: hash-balanced shard sizes, and a different
    seed yields a different permutation (per-epoch reshuffle)."""
    from surge_spark.operators.text import shuffle_shards

    import pytest as _pytest

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(df, "doc_id", n_shards=16, seed=1).toPandas()
    sizes = a.groupby("shard").size()
    assert len(sizes) == 16
    assert sizes.max() < 2.0 * sizes.mean()  # no hot shard
    b = shuffle_shards(df, "doc_id", n_shards=16, seed=2).toPandas()
    order_a = list(a.sort_values(["shard", "sort_key"]).id)
    order_b = list(b.sort_values(["shard", "sort_key"]).id)
    assert order_a != order_b  # independent permutations per seed
    with _pytest.raises(ValueError):
        shuffle_shards(df, "doc_id", n_shards=0)


@pytest.mark.slow  # r16 fast-tier split (>10 s; see pytest.ini)
def test_event_log_compaction_preserves_log_and_reclaims_dirs(spark, tmp_path):
    """compact_events: read_events is identical before/after, superseded
    per-version dirs are reclaimed, a second (incremental) compaction folds
    only the new commits plus the previous consolidated dir, and a fresh
    store instance reads the compacted layout."""
    import glob
    import os

    store = SnapshotStore(str(tmp_path / "cmp"), key_col="k")
    for i in range(6):
        store.commit(
            spark.createDataFrame([(f"k{i}", f"e{i}")], "k string, e string"),
            spark.createDataFrame([(f"k{i}", i)], "k string, v int"),
            f"b{i}",
        )
    before = sorted(r.e for r in store.read_events(spark).collect())
    assert store.compact_events(spark, target_files=1) == 6
    after = sorted(r.e for r in store.read_events(spark).collect())
    assert after == before
    # superseded per-version event dirs are gone; one consolidated dir with
    # the requested file count remains
    for v in range(6):
        assert not os.path.exists(store._manifest(v)["events"])
    comp = store._events_sidecar()
    assert comp["upto"] == 5
    assert len(glob.glob(os.path.join(comp["path"], "*.parquet"))) == 1
    # idempotent no-op when nothing new
    assert store.compact_events(spark) == 0

    # two more commits, then incremental compaction
    for i in range(6, 8):
        store.commit(
            spark.createDataFrame([(f"k{i}", f"e{i}")], "k string, e string"),
            spark.createDataFrame([(f"k{i}", i)], "k string, v int"),
            f"b{i}",
        )
    old_consolidated = comp["path"]
    assert sorted(r.e for r in store.read_events(spark).collect()) == [
        f"e{i}" for i in range(8)
    ]
    assert store.compact_events(spark) == 2
    assert not os.path.exists(old_consolidated)  # folded + reclaimed
    fresh = SnapshotStore(str(tmp_path / "cmp"), key_col="k")
    assert sorted(r.e for r in fresh.read_events(spark).collect()) == [
        f"e{i}" for i in range(8)
    ]
    # state reads and R4 dedup are untouched by event compaction
    assert fresh.read_state(spark).count() == 8
    assert fresh.commit(
        None, spark.createDataFrame([("x", 1)], "k string, v int"), "b3"
    ) is False


def test_kmv_estimate_bounded_error(spark, tmp_path):
    """KMV(k=64) relative error on a 5000-distinct-key group stays well
    inside the sketch's theoretical ~1/sqrt(k-2) envelope (≈12.7%)."""
    import pandas as pd

    from surge_spark.queries.relational import a_kmv_distinct_estimate

    n = 5000
    df = pd.DataFrame(
        {
            "event_id": range(n * 2),
            "ts": pd.to_datetime(["2024-01-01"] * (n * 2)),
            "user_id": [i % n for i in range(n * 2)],  # each key seen twice
            "event_type": ["t"] * (n * 2),
            "value": [0.0] * (n * 2),
            "props": ["{}"] * (n * 2),
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(df).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    row = a_kmv_distinct_estimate(spark, sf).collect()[0]
    assert row.n_exact == n
    assert abs(row.kmv_estimate - n) / n < 0.127 * 3  # 3-sigma-ish guard
