"""Merge-on-read (delta-commit) snapshot store: append path, latest-wins
reads, tombstones, compaction, interop with COW writers, vacuum safety.

Reference anchor: surge appends events + state to Kafka in one transaction
(KafkaProducerActorImpl.scala:421-453) and lets the compacted KTable fold
the log in the background — delta commits are that shape on a file store:
a commit is O(batch) regardless of snapshot size, compaction amortizes the
bucket rewrite over ``delta_commits`` batches.
"""

from __future__ import annotations

import pytest

import json
import os

from surge_spark.streaming.snapshot_store import SnapshotStore


# r16 fast-tier split (see pytest.ini): snapshot-store end-to-end scenarios (~2 min)
pytestmark = pytest.mark.slow

def _upd(spark, rows):
    return spark.createDataFrame(rows, "k string, n long")


def _state(spark, store):
    return {r.k: r.n for r in store.read_state(spark).collect()}


def test_delta_append_then_compact_roundtrip(spark, tmp_path):
    """Commits 1..N append deltas (base bucket map unchanged, one delta dir
    per commit); commit N+1 compacts: deltas fold into the base and the
    manifest's delta list resets. Reads agree at every step."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=3
    )
    store.commit(None, _upd(spark, [("a", 1), ("b", 1)]), "b0", updates_unique=True)
    base_map = dict(store._manifest(0)["state_buckets"])

    store.commit(None, _upd(spark, [("a", 2)]), "b1", updates_unique=True)
    store.commit(None, _upd(spark, [("c", 5)]), "b2", updates_unique=True)
    m2 = store._manifest(2)
    assert len(m2["state_deltas"]) == 2
    assert m2["state_buckets"] == base_map  # appends never touch the base
    assert _state(spark, store) == {"a": 2, "b": 1, "c": 5}

    store.commit(None, _upd(spark, [("b", 9)]), "b3", updates_unique=True)
    assert len(store._manifest(3)["state_deltas"]) == 3

    # 4th state commit exceeds delta_commits=3 -> compaction
    store.commit(None, _upd(spark, [("d", 7)]), "b4", updates_unique=True)
    m4 = store._manifest(4)
    assert not m4.get("state_deltas")
    assert _state(spark, store) == {"a": 2, "b": 9, "c": 5, "d": 7}
    # compacted base is self-contained: bucket dirs live in v4's dir
    assert all("v000000000004" in p for p in m4["state_buckets"].values())


def test_delta_tombstone_latest_wins(spark, tmp_path):
    """A delete in a delta hides the key from reads immediately (before any
    compaction), and a later re-insert resurrects it; compaction preserves
    both outcomes."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=3
    )
    store.commit(None, _upd(spark, [("a", 1), ("b", 2)]), "b0", updates_unique=True)
    store.commit(
        None,
        _upd(spark, []).limit(0),
        "b1",
        delete_keys=["a"],
        updates_unique=True,
    )
    assert _state(spark, store) == {"b": 2}
    assert store.get_state(spark, "a") is None
    store.commit(None, _upd(spark, [("a", 3)]), "b2", updates_unique=True)
    assert _state(spark, store) == {"a": 3, "b": 2}
    assert store.get_state(spark, "a")["n"] == 3
    # force compaction (delta_commits reached at the next state commit)
    store.commit(None, _upd(spark, [("c", 4)]), "b3", updates_unique=True)
    store.commit(None, _upd(spark, [("d", 5)]), "b4", updates_unique=True)
    assert not store._manifest(4).get("state_deltas")
    assert _state(spark, store) == {"a": 3, "b": 2, "c": 4, "d": 5}


def test_delta_point_read_prunes_base_scans_flat_deltas(spark, tmp_path):
    """get_state under merge-on-read reads ONE bucket's base dir plus the
    (flat, micro-batch-sized) delta dirs — never another base bucket. The
    delta chain is bounded by delta_commits, so the point read stays
    O(bucket + batch·delta_commits)."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8
    )
    rows = [(f"k{i}", i) for i in range(16)]
    store.commit(None, _upd(spark, rows), "b0", updates_unique=True)
    store.commit(None, _upd(spark, [("k3", 100)]), "b1", updates_unique=True)
    assert store.get_state(spark, "k3")["n"] == 100
    assert store.get_state(spark, "k5")["n"] == 5
    assert store.get_state(spark, "nope") is None
    m = store._manifest(store.latest_version())
    b = str(store._bucket_of("k3", 4))
    store._arrow_dsets.clear()
    assert store.get_state(spark, "k3")["n"] == 100
    # the key's base bucket dir and the one delta dir are read — no OTHER
    # base bucket dir
    assert set(store._arrow_dsets) == {
        m["state_buckets"][b],
        m["state_deltas"][0]["path"],
    }


def test_cow_writer_compacts_foreign_deltas(spark, tmp_path):
    """A plain (COW-mode) SnapshotStore committing against a store that has
    pending deltas folds them in rather than losing them — mode is a writer
    choice, not a store property."""
    d = SnapshotStore(str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8)
    d.commit(None, _upd(spark, [("a", 1)]), "b0", updates_unique=True)
    d.commit(None, _upd(spark, [("b", 2)]), "b1", updates_unique=True)
    assert d._manifest(1).get("state_deltas")

    cow = SnapshotStore(str(tmp_path / "s"), key_col="k", num_buckets=4)
    cow.commit(None, _upd(spark, [("c", 3)]), "b2", updates_unique=True)
    m = cow._manifest(2)
    assert not m.get("state_deltas")
    assert _state(spark, cow) == {"a": 1, "b": 2, "c": 3}


def test_delta_time_travel_and_vacuum_shared_dirs(spark, tmp_path):
    """Old versions read their own delta prefix; vacuum keeps delta dirs
    still referenced by kept manifests and reclaims superseded ones after
    compaction drops them."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=3
    )
    store.commit(None, _upd(spark, [("a", 0)]), "b0", updates_unique=True)
    for i in range(1, 4):
        store.commit(None, _upd(spark, [("a", i)]), f"b{i}", updates_unique=True)
    # time travel: version 2 sees the first two deltas only
    assert {r.k: r.n for r in store.read_state(spark, version=2).collect()} == {
        "a": 2
    }
    # compact (v4), then new deltas; vacuum keeping last 2 reclaims the
    # pre-compaction delta dirs (no kept manifest references them)
    store.commit(None, _upd(spark, [("a", 4)]), "b4", updates_unique=True)
    store.commit(None, _upd(spark, [("a", 5)]), "b5", updates_unique=True)
    removed = store.vacuum(keep_last=2)
    assert removed  # something reclaimed
    assert _state(spark, store) == {"a": 5}
    # the kept delta (v5's) survived
    m5 = store._manifest(5)
    assert len(m5["state_deltas"]) == 1
    assert os.path.isdir(m5["state_deltas"][0]["path"])


def test_delta_manifest_schema_recorded_per_delta(spark, tmp_path):
    """Each delta entry carries the schema it was written with, so readers
    type every delta correctly even across engine upgrades."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4
    )
    store.commit(None, _upd(spark, [("a", 1)]), "b0", updates_unique=True)
    store.commit(None, _upd(spark, [("b", 2)]), "b1", updates_unique=True)
    entry = store._manifest(1)["state_deltas"][0]
    fields = {f["name"] for f in json.loads(entry["schema"])["fields"]}
    assert fields == {"k", "n"}


def test_empty_state_delta_not_appended(spark, tmp_path):
    """No-change-no-write under merge-on-read: a commit whose state-update
    frame is empty (all commands rejected / state unchanged) must not
    append an empty delta dir to the manifest chain."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8
    )
    store.commit(None, _upd(spark, [("a", 1)]), "b0", updates_unique=True)
    store.commit(None, _upd(spark, [("b", 2)]), "b1", updates_unique=True)
    n_before = len(store._manifest(1)["state_deltas"])
    replies = spark.createDataFrame([("c1", "rejected")], "command_id string, status string")
    store.commit(None, _upd(spark, []).limit(0), "b2", replies=replies, updates_unique=True)
    m2 = store._manifest(2)
    assert len(m2.get("state_deltas", [])) == n_before  # no empty delta
    assert m2["replies"]  # the ack side still committed
    assert _state(spark, store) == {"a": 1, "b": 2}


def test_vacuum_reclaims_fenced_orphan_version_dirs(spark, tmp_path):
    """A fenced committer's writer-unique version dir (data written, no
    manifest linked) is reclaimed by vacuum once the version chain passed
    it — while every manifest-referenced dir survives."""
    import os

    import pytest as _pytest

    path = str(tmp_path / "s")
    a = SnapshotStore(path, key_col="k", num_buckets=4, delta_commits=4)
    b = SnapshotStore(path, key_col="k", num_buckets=4, delta_commits=4)
    a.commit(None, _upd(spark, [("x", 1)]), "b0", updates_unique=True)
    # loser: b freezes its view at v0 and races a's v1 — a wins
    a.commit(None, _upd(spark, [("y", 2)]), "b1", updates_unique=True)
    b.latest_version = lambda: 0
    with _pytest.raises(RuntimeError, match="fenced"):
        b.commit(None, _upd(spark, [("z", 9)]), "b-lost", updates_unique=True)
    orphans = [
        d for d in os.listdir(path)
        if d.startswith("v000000000001-")
        and os.path.join(path, d) not in {
            os.path.dirname(os.path.dirname(p))
            for p in a._manifest(1)["state_buckets"].values()
        }
    ]
    # winner's v1 dir may or may not exist (delta commit) — find dirs not
    # referenced by ANY manifest
    fresh = SnapshotStore(path, key_col="k", num_buckets=4, delta_commits=4)
    before = set(os.listdir(path))
    fresh.vacuum(keep_last=10)
    after = set(os.listdir(path))
    reclaimed = before - after
    assert any(d.startswith("v000000000001-") for d in reclaimed), (
        before,
        after,
        orphans,
    )
    # reads fully intact
    assert _state(spark, fresh) == {"x": 1, "y": 2}


def test_point_read_arrow_matches_spark_fallback(spark, tmp_path):
    """get_state's driver-side pyarrow fast path (zero Spark jobs — the
    KTable-point-lookup analog) returns EXACTLY what the Spark-scan
    fallback returns, across: base-only hits, delta-overridden keys,
    tombstoned keys, absent keys, and both store modes (merge-on-read and
    COW). The r6 driver bench measured the Spark-job point read at 99.5 ms
    under delta mode; the arrow path is the ≤50 ms fix, so its equality
    with the exact path is load-bearing."""
    d = SnapshotStore(
        str(tmp_path / "mor"), key_col="k", num_buckets=4, delta_commits=8
    )
    d.commit(None, _upd(spark, [(f"k{i}", i) for i in range(8)]), "b0",
             updates_unique=True)
    d.commit(None, _upd(spark, [("k3", 100)]), "b1", updates_unique=True)
    d.commit(None, _upd(spark, []).limit(0), "b2", delete_keys=["k5"],
             updates_unique=True)
    d.commit(None, _upd(spark, [("k5", 55), ("knew", 9)]), "b3",
             updates_unique=True)

    cow = SnapshotStore(str(tmp_path / "cow"), key_col="k", num_buckets=4)
    cow.commit(None, _upd(spark, [("a", 1), ("b", 2)]), "c0", updates_unique=True)
    cow.commit(None, _upd(spark, [("b", 20)]), "c1", updates_unique=True)

    for store, keys in (
        (d, ["k0", "k3", "k5", "k7", "knew", "nope"]),
        (cow, ["a", "b", "nope"]),
    ):
        m = store._manifest(store.latest_version())
        for k in keys:
            arrow = store._multi_point_read_arrow(m, [k])[k]
            via_spark = store._point_read_spark(spark, m, k)
            assert arrow == via_spark, (k, arrow, via_spark)
            assert store.get_state(spark, k) == via_spark

    # tombstone visible through the arrow path at the pre-resurrect version
    m2 = d._manifest(2)
    assert d._multi_point_read_arrow(m2, ["k5"])["k5"] is None
    assert d._point_read_spark(spark, m2, "k5") is None


def test_point_read_arrow_decimal_key_semantics(spark, tmp_path):
    """Decimal key columns stay on the arrow fast path: Spark renders
    decimal(p,s) at exactly scale s (BigDecimal.toPlainString), so the
    quantize-and-re-render canonical check decides hit-vs-miss without a
    Spark job. Non-canonical spellings ('5.0', '5.000', '1E+2', '-0.00')
    are definitive misses on both paths."""
    from decimal import Decimal

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4
    )
    upd = spark.createDataFrame(
        [(Decimal("5.00"), 50), (Decimal("-3.10"), 31)], "k decimal(10,2), n long"
    )
    store.commit(None, upd, "b0", updates_unique=True)
    store.commit(
        None,
        spark.createDataFrame([(Decimal("5.00"), 51)], "k decimal(10,2), n long"),
        "b1",
        updates_unique=True,
    )
    m = store._manifest(store.latest_version())
    for key in ("5.00", "-3.10", "9.99"):
        arrow = store._multi_point_read_arrow(m, [key])[key]
        via_spark = store._point_read_spark(spark, m, key)
        assert arrow == via_spark, (key, arrow, via_spark)
    assert store._multi_point_read_arrow(m, ["5.00"])["5.00"] == {
        "k": Decimal("5.00"),
        "n": 51,
    }
    for bad in ("5", "5.0", "5.000", "05.00", "1E+2", "-0.00", "abc", ""):
        assert store._multi_point_read_arrow(m, [bad])[bad] is None
        assert store._point_read_spark(spark, m, bad) is None
    # the fast path really is job-free for these key types
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    assert store.get_state(spark, "-3.10") == {"k": Decimal("-3.10"), "n": 31}
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


def test_read_state_partitions_hint_copartitions_fold_join(spark, tmp_path):
    """read_state(partitions=N) shapes the latest-wins aggregate so the
    command engine's fold join is exchange-free: exactly TWO hash
    exchanges in the whole fold pipeline (commands repartition + the
    latest-wins pre-shuffle), with no exchange at the session's
    spark.sql.shuffle.partitions width between them. This is the r7
    batch-ack fix — regressing it re-introduces the 4-exchange /
    5-stage plan (AQE is off inside foreachBatch, so the session width
    — sized for analytics — would apply)."""
    from pyspark.sql import functions as F

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8
    )
    store.commit(None, _upd(spark, [("a", 1), ("b", 2)]), "b0", updates_unique=True)
    store.commit(None, _upd(spark, [("b", 20)]), "b1", updates_unique=True)

    snap = store.read_state(spark, partitions=4)
    prefixed = snap.select(*[F.col(c).alias(f"__state__{c}") for c in snap.columns])
    cmds = spark.createDataFrame(
        [("a", "c1"), ("b", "c2")], "k string, command_id string"
    ).repartition(4, F.col("k"))
    joined = cmds.join(
        prefixed, cmds["k"].cast("string") == prefixed["__state__k"], "left"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # both exchanges at the requested width, none at the session width
    assert plan.count(", 4)") >= 2, plan
    sess_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert f", {sess_width})" not in plan or sess_width == 4, plan
    # values unchanged by the hint
    assert {r.k: r.n for r in snap.collect()} == {"a": 1, "b": 20}


def test_change_data_feed_gapless_across_compaction(spark, tmp_path):
    """read_changes (the Delta-CDF analog): append commits' delta dirs
    serve as free change records; with change_feed=True the first commit
    and compaction commits also record their OWN batch (not the folded
    backlog), so the feed is gapless across append/compact cycling —
    upserts and tombstones with exact (_version, _change_type)."""
    import pytest as _pytest

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=2,
        change_feed=True,
    )
    store.commit(None, _upd(spark, [("a", 1), ("b", 2)]), "b0", updates_unique=True)
    store.commit(None, _upd(spark, [("a", 10)]), "b1", updates_unique=True)
    store.commit(
        None, _upd(spark, []).limit(0), "b2", delete_keys=["b"],
        updates_unique=True,
    )
    # b3 exceeds delta_commits=2 -> compaction; its own change is (c, 5)
    store.commit(None, _upd(spark, [("c", 5)]), "b3", updates_unique=True)
    assert not store._manifest(3).get("state_deltas")

    ch = store.read_changes(spark)
    rows = {(r._version, r.k): (r._change_type, r.n) for r in ch.collect()}
    assert rows == {
        (0, "a"): ("upsert", 1),
        (0, "b"): ("upsert", 2),
        (1, "a"): ("upsert", 10),
        (2, "b"): ("delete", None),
        (3, "c"): ("upsert", 5),
    }, rows
    # bounded range: only versions 1..2
    sub = store.read_changes(spark, start_version=1, end_version=2)
    assert {(r._version, r.k) for r in sub.collect()} == {(1, "a"), (2, "b")}

    # replaying the feed reproduces the snapshot (CDF's core contract)
    latest = {}
    for r in sorted(ch.collect(), key=lambda r: r._version):
        if r._change_type == "delete":
            latest.pop(r.k, None)
        else:
            latest[r.k] = r.n
    assert latest == {r.k: r.n for r in store.read_state(spark).collect()}

    # a store WITHOUT change_feed: append versions still readable, but a
    # range crossing the (unrecorded) rewriting commit raises
    plain = SnapshotStore(
        str(tmp_path / "p"), key_col="k", num_buckets=4, delta_commits=8
    )
    plain.commit(None, _upd(spark, [("x", 1)]), "c0", updates_unique=True)
    plain.commit(None, _upd(spark, [("y", 2)]), "c1", updates_unique=True)
    got = plain.read_changes(spark, start_version=1)
    assert {(r._version, r.k) for r in got.collect()} == {(1, "y")}
    with _pytest.raises(ValueError, match="no readable change record"):
        plain.read_changes(spark)  # version 0 (first commit) unrecorded


def test_fold_join_copartitioned_for_typed_keys_too(spark, tmp_path):
    """r7 review fix: the engine hashes ONE canonical string-cast key
    (__k) for repartition, join, and fold grouping, so a LONG command-key
    column still yields the 2-exchange fold pipeline — hashing the raw
    key and joining on its cast would re-exchange both join and groupBy
    at the session width for every non-string key type."""
    from pyspark.sql import functions as F

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8
    )
    store.commit(None, _upd(spark, [("7", 1), ("8", 2)]), "b0", updates_unique=True)
    store.commit(None, _upd(spark, [("8", 20)]), "b1", updates_unique=True)

    snap = store.read_state(spark, partitions=4)
    prefixed = snap.select(*[F.col(c).alias(f"__state__{c}") for c in snap.columns])
    cmds = (
        spark.createDataFrame([(7, "c1"), (8, "c2")], "k long, command_id string")
        .withColumn("__k", F.col("k").cast("string"))
        .repartition(4, F.col("__k"))
    )
    joined = cmds.join(prefixed, F.col("__k") == prefixed["__state__k"], "left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_replicate_changes_builds_equivalent_standby(spark, tmp_path):
    """R10 DR standby over the change feed: incremental replication
    produces a replica whose read_state/get_state equal the primary's at
    every sync point, deletes propagate, replication is idempotent
    (re-running applies nothing), and it resumes incrementally after the
    primary advances — including across a primary-side compaction."""
    from surge_spark.streaming.snapshot_store import replicate_changes

    src = SnapshotStore(
        str(tmp_path / "pri"), key_col="k", num_buckets=4, delta_commits=2,
        change_feed=True,
    )
    dst = SnapshotStore(
        str(tmp_path / "dr"), key_col="k", num_buckets=4, delta_commits=2,
        change_feed=True,
    )
    src.commit(None, _upd(spark, [("a", 1), ("b", 2)]), "b0", updates_unique=True)
    src.commit(None, _upd(spark, [("a", 10)]), "b1", updates_unique=True)
    assert replicate_changes(spark, src, dst) == 2
    assert _state(spark, dst) == {"a": 10, "b": 2}
    # idempotent: nothing new to apply
    assert replicate_changes(spark, src, dst) == 0

    # primary advances (delete + enough commits to compact); resume
    src.commit(None, _upd(spark, []).limit(0), "b2", delete_keys=["b"],
               updates_unique=True)
    src.commit(None, _upd(spark, [("c", 3)]), "b3", updates_unique=True)
    src.commit(None, _upd(spark, [("d", 4)]), "b4", updates_unique=True)
    assert not src._manifest(3).get("state_deltas") or not src._manifest(4).get(
        "state_deltas"
    )  # a compaction happened somewhere in the chain
    assert replicate_changes(spark, src, dst) == 3
    assert _state(spark, dst) == _state(spark, src) == {"a": 10, "c": 3, "d": 4}
    # the replica serves point reads immediately (failover readiness)
    assert dst.get_state(spark, "c")["n"] == 3
    assert dst.get_state(spark, "b") is None


def test_replication_hwm_survives_dedup_horizon_aging(spark, tmp_path):
    """Second review pass: replication progress must be a monotonic
    high-water mark, NOT the dedup_horizon-bounded batch-id set — with a
    tiny horizon the replica's early repl-v* ids age out of the R4
    window, and set-based tracking would re-apply ancient versions as
    the replica's NEWEST commits (reverting keys under latest-wins)."""
    from surge_spark.streaming.snapshot_store import (
        _repl_hwm,
        replicate_changes,
    )

    src = SnapshotStore(
        str(tmp_path / "pri"), key_col="k", num_buckets=4, delta_commits=16,
        change_feed=True,
    )
    # horizon 2 with per-commit checkpoints: ids age out almost at once
    dst = SnapshotStore(
        str(tmp_path / "dr"), key_col="k", num_buckets=4, delta_commits=16,
        change_feed=True, dedup_horizon=2, checkpoint_interval=1,
    )
    src.commit(None, _upd(spark, [("a", 1)]), "b0", updates_unique=True)
    for i in range(1, 6):
        src.commit(None, _upd(spark, [("a", i + 1)]), f"b{i}", updates_unique=True)
    assert replicate_changes(spark, src, dst) == 6
    assert _repl_hwm(dst) == 5
    # a FRESH replica handle (checkpoint-seeded dedup view, early ids
    # aged out) must apply NOTHING — state stays at the latest value
    fresh = SnapshotStore(
        str(tmp_path / "dr"), key_col="k", num_buckets=4, delta_commits=16,
        change_feed=True, dedup_horizon=2, checkpoint_interval=1,
    )
    assert replicate_changes(spark, src, fresh) == 0
    assert fresh.get_state(spark, "a")["n"] == 6


def test_read_changes_rejects_negative_end(spark, tmp_path):
    import pytest as _pytest

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4
    )
    store.commit(None, _upd(spark, [("a", 1)]), "b0", updates_unique=True)
    with _pytest.raises(ValueError):
        store.read_changes(spark, 0, end_version=-5)
    with _pytest.raises(ValueError):
        store.read_changes(spark, start_version=-1)


def test_change_feed_replay_equals_snapshot_random_sequence(spark, tmp_path):
    """CDF's core contract under a seeded-random commit sequence (mixed
    upserts/deletes over few keys, delta_commits small enough to force
    several compactions): replaying the feed start→v reproduces
    read_state(version=v) EXACTLY for every prefix v — not just the
    final state."""
    import random

    rng = random.Random(11)
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=2,
        change_feed=True,
    )
    keys = [f"k{i}" for i in range(6)]
    live: set[str] = set()
    for v in range(10):
        ups, dels = [], []
        for k in rng.sample(keys, rng.randint(1, 3)):
            if k in live and rng.random() < 0.4:
                dels.append(k)
                live.discard(k)
            else:
                ups.append((k, rng.randint(0, 99)))
                live.add(k)
        store.commit(
            None,
            _upd(spark, ups),
            f"b{v}",
            delete_keys=dels or None,
            updates_unique=True,
        )

    feed = sorted(
        store.read_changes(spark).collect(), key=lambda r: r._version
    )
    replay: dict[str, int] = {}
    next_i = 0
    for v in range(10):
        while next_i < len(feed) and feed[next_i]._version <= v:
            r = feed[next_i]
            if r._change_type == "delete":
                replay.pop(r.k, None)
            else:
                replay[r.k] = r.n
            next_i += 1
        at_v = {
            row.k: row.n for row in store.read_state(spark, version=v).collect()
        }
        assert replay == at_v, (v, replay, at_v)


# -- driver-side commit writes (the write twin of the arrow point read) -------


def _mk_engine(spark, root, max_rows):
    from surge_spark.streaming.command_engine import CommandEngine

    store = SnapshotStore(
        str(root), key_col="aggregate_id", num_buckets=8, delta_commits=16
    )

    def process(state, cmd):
        if cmd.get("kind") == "del":
            return ([{"aggregate_id": cmd["aggregate_id"], "op": "del"}], False)
        return ([{"aggregate_id": cmd["aggregate_id"], "op": "add"}], False)

    def handle(state, ev):
        if ev.get("op") == "del":
            return None  # tombstone
        return {
            "aggregate_id": ev["aggregate_id"],
            "n": (state["n"] if state else 0) + 1,
            "score": ((state["score"] if state else 0.0) + 0.5),
            "flag": True,
        }

    eng = CommandEngine(
        store,
        process,
        handle,
        "aggregate_id string, n long, score double, flag boolean",
        "aggregate_id string, op string",
        order_cols=["command_id"],
        fold_partitions=2,
        driver_commit_max_rows=max_rows,
    )
    return store, eng


def _drive(spark, eng, root, batches):
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "aggregate_id string, kind string, command_id string"
        )
        eng.process_batch(df, f"b{i}", replies_dir=f"{root}-replies")


def test_driver_commit_writes_equal_spark_path(spark, tmp_path):
    """Cross-mode pin: the SAME command stream through the driver-side
    arrow commit path (default) and the Spark write path
    (driver_commit_max_rows=0) yields identical snapshots, identical acks,
    identical event logs, and identical arrow point reads — including a
    tombstone batch and a typed (double/boolean) state schema. This is the
    contract that lets the fast path exist at all."""
    batches = [
        [(f"k{i % 7}", "add", f"c0-{i}") for i in range(20)],
        [("k1", "del", "c1-0"), ("k9", "add", "c1-1")],
        [(f"k{i % 5}", "add", f"c2-{i}") for i in range(10)],
    ]
    s_drv, e_drv = _mk_engine(spark, tmp_path / "drv", 65536)
    s_spk, e_spk = _mk_engine(spark, tmp_path / "spk", 0)
    _drive(spark, e_drv, str(tmp_path / "drv"), batches)
    _drive(spark, e_spk, str(tmp_path / "spk"), batches)

    st_d = {
        r.aggregate_id: (r.n, r.score, r.flag)
        for r in s_drv.read_state(spark).collect()
    }
    st_s = {
        r.aggregate_id: (r.n, r.score, r.flag)
        for r in s_spk.read_state(spark).collect()
    }
    assert st_d == st_s and st_d["k9"] == (1, 0.5, True)
    # k1: tombstoned in batch 1, re-created in batch 2 → the fold restarted
    # it from empty state (2 adds), not from its pre-tombstone n=3
    assert st_d["k1"] == (2, 1.0, True)

    ev_d = sorted(
        (r.aggregate_id, r.op) for r in s_drv.read_events(spark).collect()
    )
    ev_s = sorted(
        (r.aggregate_id, r.op) for r in s_spk.read_events(spark).collect()
    )
    assert ev_d == ev_s and len(ev_d) == 32

    for store in (s_drv, s_spk):
        got = store.get_state(spark, "k2")
        assert got is not None and got["n"] == st_d["k2"][0]
    # replies written (and batch_id-stamped) identically
    rep_d = spark.read.parquet(str(tmp_path / "drv-replies")).collect()
    rep_s = spark.read.parquet(str(tmp_path / "spk-replies")).collect()
    key = lambda r: (r.batch_id, r.command_id)  # noqa: E731
    assert sorted((r.batch_id, r.command_id, r.status) for r in rep_d) == sorted(
        (r.batch_id, r.command_id, r.status) for r in rep_s
    )
    # the two stores really took different writes: the bound of 0 sends
    # every append through Spark, from the driver fold's lazily built frames
    for v in (1, 2):
        md, ms = s_drv._manifest(v), s_spk._manifest(v)
        assert "state_deltas" in md and "state_deltas" in ms
        assert md["writes"] == "driver" and "fallback" not in md, md
        assert ms["writes"] == "spark" and "bound" in ms["fallback"], ms


def test_driver_commit_falls_back_on_uncoercible_value(spark, tmp_path):
    """A handler emitting a wrong-typed field must route the batch to the
    Spark write path (whose from_json semantics null the field) — never a
    driver-path guess. The commit still lands, later well-typed batches
    take the fast path again, and reads agree throughout."""
    from surge_spark.streaming.command_engine import CommandEngine

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="aggregate_id", num_buckets=4, delta_commits=16
    )

    def process(state, cmd):
        return ([{"aggregate_id": cmd["aggregate_id"]}], False)

    bad = {"on": True}

    def handle(state, ev):
        # a nulled long arrives as NaN through the Arrow fold (pandas int
        # columns have no null) — both write paths share that behavior
        n0 = state.get("n") if state else None
        n = (int(n0) + 1) if isinstance(n0, int) else 1
        return {
            "aggregate_id": ev["aggregate_id"],
            # a STRING where the schema says long → driver coercion raises
            "n": "oops" if bad["on"] else n,
        }

    eng = CommandEngine(
        store,
        process,
        handle,
        "aggregate_id string, n long",
        "aggregate_id string",
        order_cols=["command_id"],
        fold_partitions=2,
    )
    df = spark.createDataFrame([("a", "c0")], "aggregate_id string, command_id string")
    eng.process_batch(df, "b0")
    got = store.get_state(spark, "a")
    assert got is not None and got["n"] is None  # from_json nulled the field
    assert store.latest_version() == 0

    bad["on"] = False
    eng.process_batch(
        spark.createDataFrame([("a", "c1")], "aggregate_id string, command_id string"),
        "b1",
    )
    assert store.get_state(spark, "a")["n"] == 1


def test_read_state_memo_survives_fresh_session_wrappers(spark, tmp_path):
    """foreachBatch hands a NEW Python SparkSession wrapper every trigger;
    the frame memo must hit across wrappers of the same JVM session
    (id(spark) keys + `is` checks rebuilt the read_state plan on every
    micro-batch)."""
    from pyspark.sql import SparkSession

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8
    )
    store.commit(None, _upd(spark, [("a", 1)]), "b0", updates_unique=True)
    f1 = store.read_state(spark, partitions=2)
    wrapper2 = SparkSession(spark.sparkContext, spark._jsparkSession)
    assert wrapper2 is not spark
    f2 = store.read_state(wrapper2, partitions=2)
    assert f2 is f1  # memo hit across wrappers, not a rebuilt plan


def test_streaming_replication_prefix_replay_property(spark, tmp_path):
    """Streaming twin of the CDF prefix-replay property: while
    run_change_replication drains a random commit history one record file
    per trigger, every consistently-sampled (hwm, replica-state) snapshot
    equals the primary's read_state at that version — the standby is
    always SOME committed prefix of the primary, never a torn mix."""
    import random
    import threading
    import time as _time

    from surge_spark.streaming.snapshot_store import (
        _repl_hwm,
        run_change_replication,
    )

    rng = random.Random(11)
    store = SnapshotStore(
        str(tmp_path / "p"), key_col="k", num_buckets=4,
        delta_commits=3, change_feed=True,
    )
    live: set[str] = set()
    for v in range(12):
        # one action per key per version: updates_unique=True is a real
        # contract — duplicate keys in one commit corrupt the snapshot
        ups: dict[str, int] = {}
        dels: set[str] = set()
        for _ in range(rng.randint(1, 4)):
            k = f"k{rng.randint(0, 9)}"
            if k in live and rng.random() < 0.3:
                dels.add(k)
                ups.pop(k, None)
                live.discard(k)
            else:
                ups[k] = rng.randint(0, 99)
                dels.discard(k)
                live.add(k)
        store.commit(
            None, _upd(spark, sorted(ups.items())), f"b{v}",
            delete_keys=sorted(dels) or None, updates_unique=True,
        )

    replica = SnapshotStore(str(tmp_path / "r"), key_col="k", num_buckets=4)
    samples: list[tuple[int, dict]] = []
    stop = threading.Event()

    def sampler() -> None:
        while not stop.is_set():
            h1 = _repl_hwm(replica)
            if h1 >= 0:
                st = {r.k: r.n for r in replica.read_state(spark).collect()}
                if _repl_hwm(replica) == h1:  # consistent sample only
                    samples.append((h1, st))
            _time.sleep(0.05)

    t = threading.Thread(target=sampler, daemon=True)
    t.start()
    q = run_change_replication(
        spark, store, replica, str(tmp_path / "ck"), max_files_per_trigger=1
    )
    try:
        deadline = _time.time() + 120
        while _repl_hwm(replica) < store.latest_version() and _time.time() < deadline:
            _time.sleep(0.1)
    finally:
        stop.set()
        q.stop()
    assert _repl_hwm(replica) == store.latest_version()
    distinct_hwms = {h for h, _ in samples}
    assert len(distinct_hwms) >= 2, "sampler never caught an intermediate prefix"
    latest = store.latest_version()
    for h, st in samples:
        # the replica commits version h+1's data BEFORE advancing the hwm
        # (crash-window documented on replicate_changes), so a sample may
        # legitimately be one version ahead of its hwm — but never torn,
        # never further ahead, never behind
        ok = False
        for v in (h, h + 1):
            if v <= latest:
                at_v = {
                    r.k: r.n
                    for r in store.read_state(spark, version=v).collect()
                }
                if st == at_v:
                    ok = True
                    break
        assert ok, (h, st)


# -- memo hygiene (r9 advice defects: eviction, collision, dup-key gate) ------


def test_read_state_memo_stays_bounded(spark, tmp_path):
    """Every delta-append version is a new read_state memo key; the memo
    must keep only the 8 newest (session wrapper + plan) entries instead
    of growing one per commit forever, and still read the latest state."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=64
    )
    store.commit(None, _upd(spark, [("a", 0)]), "b0", updates_unique=True)
    for i in range(1, 13):
        store.commit(None, _upd(spark, [("a", i)]), f"b{i}", updates_unique=True)
        store.read_state(spark, partitions=2)
    assert len(store._read_state_frames) <= 8
    assert _state(spark, store) == {"a": 12}


def test_memo_hit_rejects_stale_session_key_collision(spark, tmp_path):
    """_session_key is a JVM identity hashCode — NOT unique across a
    stopped-and-restarted session. A memo entry whose stored wrapper is
    not the caller's JVM session must read as a miss (serving the stale
    frame would hand out dead JVM refs), and the rebuild must overwrite
    the poisoned entry."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8
    )
    store.commit(None, _upd(spark, [("a", 7)]), "b0", updates_unique=True)

    class _DeadJvmSession:
        def equals(self, other):
            return False

        def hashCode(self):
            return 0

    class _StaleWrapper:
        _jsparkSession = _DeadJvmSession()

    sentinel = object()
    key = (store._session_key(spark), 0, None)
    with store._memo_lock:
        store._read_state_frames[key] = (_StaleWrapper(), sentinel)
    df = store.read_state(spark)
    assert df is not sentinel
    assert {r.k: r.n for r in df.collect()} == {"a": 7}
    # the rebuilt frame replaced the stale entry and now hits
    assert store.read_state(spark) is df


def test_driver_commit_dedupes_duplicate_keys_like_spark_gate(spark, tmp_path):
    """A non-engine caller passing duplicate-key updates through the
    driver-side fast path (updates_unique=False) must not corrupt the
    one-row-per-key snapshot invariant — the Spark path applies
    dropDuplicates at the gate; the arrow path must gate too."""
    import pyspark.sql.types as T

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8
    )
    store.commit(None, _upd(spark, [("a", 1)]), "b0", updates_unique=True)

    struct = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("n", T.LongType())]
    )
    dup_rows = [{"k": "b", "n": 10}, {"k": "b", "n": 11}, {"k": "c", "n": 1}]
    assert store.commit(
        None,
        _upd(spark, dup_rows),
        "b1",
        updates_unique=False,
        driver_sides={"state": dup_rows, "state_struct": struct},
    )
    # one row per key in the snapshot, and a survivor from the dup set
    rows = store.read_state(spark).collect()
    assert sorted(r.k for r in rows) == ["a", "b", "c"]
    n_b = {r.k: r.n for r in rows}["b"]
    assert n_b in (10, 11)

    # unit pin on the arrow writer itself (the commit above could in
    # principle have fallen back to the Spark path, whose dropDuplicates
    # would mask a missing gate here): duplicate keys with
    # updates_unique=False write exactly one delta row per key
    import pyarrow.dataset as pads

    p = str(tmp_path / "unit-delta")
    _, written, _ = store._driver_commit_writes(
        {"state": dup_rows, "state_struct": struct},
        p,
        None,
        None,
        None,
        None,
        updates_unique=False,
    )
    assert written
    tbl = pads.dataset(p).to_table()
    assert sorted(tbl.column("k").to_pylist()) == ["b", "c"]


def test_version_floor_glob_decomposition_exact():
    """The start_version floor glob must match EXACTLY {v : v >= floor}
    over zero-padded 12-digit versions — an off-by-one either skips a
    version (lost changes) or re-lists history (the O(all-versions) bug
    the floor exists to fix)."""
    import fnmatch
    import random

    rng = random.Random(7)
    floors = [0, 1, 9, 10, 99, 100, 1000, 123456] + [
        rng.randrange(10**12) for _ in range(30)
    ]
    for floor in floors:
        pats = SnapshotStore._version_floor_globs(floor)
        assert len(pats) <= 12
        probes = {0, 1, max(floor - 1, 0), floor, floor + 1, 10**12 - 1}
        probes.update(rng.randrange(10**12) for _ in range(20))
        for v in probes:
            s = f"{v:012d}"
            matched = any(fnmatch.fnmatchcase(s, p) for p in pats)
            assert matched == (v >= floor), (floor, v, pats)


def test_stream_changes_start_version_floor_bounds_listing(spark, tmp_path):
    """stream_changes(start_version=N) must deliver every change record of
    versions >= N and NONE below — the seen-files log and per-trigger
    listing then cover only the unconsumed tail, not the store's whole
    history."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4,
        delta_commits=16, change_feed=True,
    )
    for v in range(6):
        store.commit(None, _upd(spark, [(f"k{v}", v)]), f"b{v}", updates_unique=True)

    feed = store.stream_changes(spark, start_version=3)
    q = (
        feed.writeStream.format("memory")
        .queryName("floor_feed")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select _version, k from floor_feed").collect()
    got = {(r._version, r.k) for r in rows}
    assert got == {(3, "k3"), (4, "k4"), (5, "k5")}, got


def test_none_key_tombstone_dropped_by_both_commit_modes(spark, tmp_path):
    """A None delete key is unaddressable (no bucket, no snapshot row can
    carry a null key) and must be DROPPED — identically — by the Spark
    path (isNotNull filter on the delete-keys frame) and the arrow
    driver-side path (None-skip in _driver_commit_writes). Neither may
    crash or touch live keys."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    struct = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("n", T.LongType())]
    )

    def mk(path):
        s = SnapshotStore(str(path), key_col="k", num_buckets=4, delta_commits=8)
        s.commit(None, _upd(spark, [("a", 1), ("b", 2)]), "b0", updates_unique=True)
        return s

    # Spark path: delete_keys frame containing a NULL key
    s1 = mk(tmp_path / "spark-path")
    nulls = spark.createDataFrame([("a",), (None,)], "k string")
    assert s1.commit(
        None, _upd(spark, []).limit(0), "b1",
        delete_keys=nulls.select(F.col("k")), updates_unique=True,
    )
    assert _state(spark, s1) == {"b": 2}

    # arrow path: driver_sides deletes list containing None
    s2 = mk(tmp_path / "arrow-path")
    assert s2.commit(
        None, _upd(spark, []).limit(0), "b1",
        delete_keys=["a"], updates_unique=True,
        driver_sides={"state": [], "state_struct": struct, "deletes": ["a", None]},
    )
    assert _state(spark, s2) == {"b": 2}


def test_timestamp_time_travel(spark, tmp_path):
    """read_state(timestamp=) — the Delta timestampAsOf analog: resolves
    to the latest version committed at or before the instant (manifest
    ts), including exact-boundary hits; pre-history timestamps raise;
    version+timestamp together raise; clock regression between commits
    resolves by VERSION recency (eligibility by time, answer by
    version)."""
    import pytest

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=8
    )
    for i in range(4):
        store.commit(None, _upd(spark, [("a", i)]), f"b{i}", updates_unique=True)
    ts = [store._manifest(v)["ts"] for v in range(4)]
    assert ts == sorted(ts)

    # mid-interval, exact boundary, and "now"
    mid = (ts[1] + ts[2]) / 2
    assert store.version_at(mid) == 1
    assert {r.k: r.n for r in store.read_state(spark, timestamp=mid).collect()} == {
        "a": 1
    }
    assert store.version_at(ts[2]) == 2  # <= is inclusive
    assert store.version_at(ts[3] + 3600) == 3

    with pytest.raises(ValueError, match="at or before"):
        store.read_state(spark, timestamp=ts[0] - 1.0)
    with pytest.raises(ValueError, match="not both"):
        store.read_state(spark, version=1, timestamp=mid)

    # clock regression: forge an older ts onto the NEWEST manifest — the
    # newest eligible VERSION still wins
    import json as _json

    p = store._manifest_path(3)
    m = _json.load(open(p))
    m["ts"] = ts[1]
    _json.dump(m, open(p, "w"))
    store._manifest_cache.pop(3, None)
    assert store.version_at((ts[1] + ts[2]) / 2) == 3


def test_schema_evolution_add_column(spark, tmp_path):
    """Schema evolution contract (r15): the manifest's state_schema
    tracks the LATEST commit's update schema, so a delta-append commit
    with a WIDER schema evolves the table — old rows read back with the
    new column NULL, across the drifted-delta scan (per-dir union with
    allowMissingColumns), the COW compaction (base buckets read under
    the new schema -> missing column NULL), the arrow point read (or
    its documented Spark fallback — get_state equality is the pin), and
    time travel, which returns each VERSION's OWN schema."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4
    )
    store.commit(
        None,
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long"),
        "b0",
        updates_unique=True,
    )
    # delta-append with a WIDER schema: adds column m
    store.commit(
        None,
        spark.createDataFrame([("b", 20, 7), ("c", 30, 8)],
                              "k string, n long, m long"),
        "b1",
        updates_unique=True,
    )
    rows = {r.k: r for r in store.read_state(spark).collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"].n == 1 and rows["a"].m is None  # old row, new col NULL
    assert rows["b"].n == 20 and rows["b"].m == 7
    assert rows["c"].m == 8
    # point reads agree with the scan for old-schema and new-schema keys
    assert store.get_state(spark, "a") == {"k": "a", "n": 1, "m": None}
    assert store.get_state(spark, "c") == {"k": "c", "n": 30, "m": 8}
    # time travel: version 0 answers in ITS schema (no m column)
    v0 = {r.k: r.asDict() for r in store.read_state(spark, version=0).collect()}
    assert v0 == {"a": {"k": "a", "n": 1}, "b": {"k": "b", "n": 2}}
    # force a compaction (delta_commits=4 -> commits 2,3,4 then compact)
    for i in range(2, 6):
        store.commit(
            None,
            spark.createDataFrame([(f"x{i}", i, i * 10)],
                                  "k string, n long, m long"),
            f"b{i}",
            updates_unique=True,
        )
    rows2 = {r.k: r for r in store.read_state(spark).collect()}
    assert rows2["a"].m is None and rows2["b"].m == 7
    assert rows2["x5"].m == 50
    assert store.get_state(spark, "a") == {"k": "a", "n": 1, "m": None}
    # update an OLD key post-evolution and read it back through both paths
    store.commit(
        None,
        spark.createDataFrame([("a", 100, 9)], "k string, n long, m long"),
        "b9",
        updates_unique=True,
    )
    assert store.get_state(spark, "a") == {"k": "a", "n": 100, "m": 9}
    assert {
        r.k: (r.n, r.m) for r in store.read_state(spark).collect()
    }["a"] == (100, 9)


# -- driver-side (arrow) compaction vs the Spark compaction --------------------


def _compacting_engine(spark, root, max_rows, case, tagged=False):
    """delta_commits=2 with the change feed on: compactions at v3, v6 (the
    ``cow`` case rewrites on every commit). ``long`` handlers write the
    key as an int, ``long-str`` ones as its str() into long key columns
    of the state and event schemas."""
    from surge_spark.streaming.command_engine import CommandEngine

    key_type = "long" if case.startswith("long") else "string"
    store = SnapshotStore(
        str(root), key_col="aggregate_id", num_buckets=4,
        delta_commits=None if case == "cow" else 2, change_feed=True,
    )

    def process(state, cmd):
        op = "del" if cmd.get("kind") == "del" else "add"
        return ([{"aggregate_id": cmd["aggregate_id"], "op": op}], False)

    def handle(state, ev):
        if ev.get("op") == "del":
            return None  # tombstone
        k = ev["aggregate_id"]  # the command's key (NaN for a NULL key)
        if case == "long-str":
            k = str(int(k))
        return {
            "aggregate_id": int(k) if case == "long" else k,
            "n": (state["n"] if state else 0) + 1,
            "score": ((state["score"] if state else 0.0) + 0.5),
            "flag": True,
            "tag": "t",  # written only when the schema declares it
        }

    schema = f"aggregate_id {key_type}, n long, score double, flag boolean"
    eng = CommandEngine(
        store, process, handle,
        schema + (", tag string" if tagged else ""),
        f"aggregate_id {'long' if case == 'long-str' else 'string'}, op string",
        order_cols=["command_id"], fold_partitions=2,
        driver_commit_max_rows=max_rows,
    )
    return store, eng


def _compaction_stream(key):
    """Eight batches: a NULL command key, k1 tombstoned then recreated
    across a compaction, k2 tombstoned then recreated within one delta
    chain, k3 deleted by a compacting batch."""
    return [
        [(key(i % 7), "add", f"c0-{i}") for i in range(20)],
        [(key(1), "del", "c1-0"), (key(9), "add", "c1-1"), (None, "add", "c1-2")],
        [(key(i % 5), "add", f"c2-{i}") for i in range(10)],
        [(key(1), "add", "c3-0"), (key(3), "del", "c3-1"), (key(8), "add", "c3-2")],
        [(key(2), "del", "c4-0"), (key(6), "add", "c4-1")],
        [(key(2), "add", "c5-0"), (key(5), "del", "c5-1"), (key(1), "add", "c5-2")],
        [(key(i % 8), "add", f"c6-{i}") for i in range(12)],
        [(key(4), "add", "c7-0"), (key(10), "add", "c7-1")],
    ]


def _compaction_reads(spark, store, keys):
    key = repr
    m = store._manifest(store.latest_version())
    return {
        "state": sorted((tuple(r) for r in store.read_state(spark).collect()), key=key),
        "get": [store.get_state(spark, k) for k in keys],
        "points": store._multi_point_read_arrow(m, keys),
        "changes": sorted((tuple(r) for r in store.read_changes(spark, 0).collect()), key=key),
        "events": sorted((tuple(r) for r in store.read_events(spark).collect()), key=key),
    }


@pytest.mark.parametrize("case", ["string", "long", "long-str", "drift", "cow"])
def test_arrow_compaction_equals_spark_compaction(spark, tmp_path, case):
    """Cross-mode pin: the same command stream through the arrow-rewritten
    store (default) and the Spark-rewritten one (driver_commit_max_rows=0,
    which bounds every driver write to zero rows) reads identically:
    read_state, get_state, the arrow point read, read_changes over a range
    spanning both compactions, read_events, and the replies. ``drift``
    widens the state schema mid-chain: that compaction must run on Spark
    in both stores, with its reason recorded. ``cow`` runs the stream on
    a copy-on-write store, where every commit is a rewrite. ``long-str``
    writes the engine's str(key) into long key columns: no key is nulled,
    each key's state is its last reply's, and the driver store never
    falls back."""
    key_type = "long" if case.startswith("long") else "string"
    key = (lambda i: i) if key_type == "long" else (lambda i: f"k{i}")
    batches = _compaction_stream(key)
    cmd_schema = f"aggregate_id {key_type}, kind string, command_id string"
    out = {}
    for mode, max_rows in (("arrow", 65536), ("spark", 0)):
        root = tmp_path / mode
        store, eng = _compacting_engine(spark, root, max_rows, case)
        for i, rows in enumerate(batches):
            if case == "drift" and i == 5:
                _, eng = _compacting_engine(spark, root, max_rows, case, tagged=True)
                eng.store = store
            eng.process_batch(
                spark.createDataFrame(rows, cmd_schema), f"b{i}",
                replies_dir=str(tmp_path / f"{mode}-replies" / f"batch={i}"),
            )
        manifests = [store._manifest(v) for v in range(len(batches))]
        rewrites = list(range(len(batches))) if case == "cow" else [0, 3, 6]
        assert [v for v, m in enumerate(manifests) if "state_deltas" not in m] == rewrites
        for v, m in enumerate(manifests):
            if case == "drift" and v == 6:
                assert m["writes"] == "spark" and "schema" in m["fallback"], m
            elif mode == "spark":
                assert m["writes"] == "spark" and "bound" in m["fallback"], m
            else:
                assert m["writes"] == "driver" and "fallback" not in m, m
        keys = [str(key(i)) for i in range(12)]
        out[mode] = _compaction_reads(spark, store, keys)
        replies = spark.read.parquet(str(tmp_path / f"{mode}-replies")).collect()
        out[mode]["replies"] = sorted((r.batch_id, r.command_id, r.status) for r in replies)
        if case == "long-str":
            assert out[mode]["events"] and all(e[0] is not None for e in out[mode]["events"])
            last = {}
            for r in sorted(replies, key=lambda r: (int(r.batch_id[1:]), r.command_id)):
                if r.status == "success":
                    last[r.aggregate_id] = r.new_state and json.loads(r.new_state)
            assert len(last) == 11
            for k, st in last.items():
                got = store.get_state(spark, k)
                if st is not None:  # the declared columns, the key as a long
                    st = {c: st[c] for c in got or st} | {"aggregate_id": int(k)}
                assert got == st, k
    for part in out["arrow"]:
        assert out["arrow"][part] == out["spark"][part], part
    # the stream's intended end state, independent of either mode: per
    # key, "del" drops the state and "add" counts from empty state
    want: dict = {}
    for rows in batches:
        for k, kind, _ in rows:
            if k is not None and kind == "del":
                want.pop(k, None)
            elif k is not None:
                want[k] = want.get(k, 0) + 1
    assert {r[0]: r[1] for r in out["arrow"]["state"]} == want
    assert len(out["arrow"]["replies"]) == sum(map(len, batches))
    if case == "drift":
        assert {r[4] for r in out["arrow"]["state"]} == {None, "t"}
