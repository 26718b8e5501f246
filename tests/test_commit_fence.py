"""The manifest fence under a real race (R5): two committers of one version
both write their manifest before either links it.

The existing fence tests pre-place the winner's manifest, so the loser's
link fails on its own. Here both writers run the whole commit in threads and
meet at a barrier wrapped around ``os.link``: the publication step is the
only thing they race on.
"""

from __future__ import annotations

import json
import os
import threading

from surge_spark.streaming import snapshot_store
from surge_spark.streaming.snapshot_store import SnapshotStore


def _upd(spark, rows):
    return spark.createDataFrame(rows, "k string, n long")


def test_racing_committers_one_wins_other_is_fenced(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "s")
    a = SnapshotStore(path, key_col="k", num_buckets=2, delta_commits=4)
    b = SnapshotStore(path, key_col="k", num_buckets=2, delta_commits=4)
    a.commit(None, _upd(spark, [("x", 1)]), "seed", updates_unique=True)
    updates = {"ba": _upd(spark, [("a", 1)]), "bb": _upd(spark, [("b", 2)])}

    barrier = threading.Barrier(2, timeout=60)
    real_link = os.link

    def link(src, dst, *args, **kwargs):
        if os.path.basename(dst) == "v000000000001.json":
            barrier.wait()  # both manifests written before either links
        return real_link(src, dst, *args, **kwargs)

    monkeypatch.setattr(snapshot_store.os, "link", link)
    outcome: dict[str, object] = {}

    def commit(store, bid):
        try:
            outcome[bid] = store.commit(None, updates[bid], bid, updates_unique=True)
        except Exception as e:  # noqa: BLE001 — the outcome under test
            outcome[bid] = e

    threads = [
        threading.Thread(target=commit, args=(s, bid)) for s, bid in ((a, "ba"), (b, "bb"))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    monkeypatch.setattr(snapshot_store.os, "link", real_link)

    winners = [bid for bid, r in outcome.items() if r is True]
    losers = [bid for bid, r in outcome.items() if r is not True]
    assert len(winners) == 1 and len(losers) == 1, outcome
    (won,), (lost,) = winners, losers
    err = outcome[lost]
    assert isinstance(err, RuntimeError) and "fenced" in str(err), repr(err)

    # the published manifest is the winner's, and nothing else sits in the log
    with open(os.path.join(path, "_manifests", "v000000000001.json")) as f:
        assert json.load(f)["batch_id"] == won
    assert not [n for n in os.listdir(os.path.join(path, "_manifests")) if n.endswith(".tmp")]

    fresh = SnapshotStore(path, key_col="k", num_buckets=2, delta_commits=4)
    assert fresh.latest_version() == 1
    won_dirs = {
        os.path.basename(os.path.dirname(d["path"]))
        for d in fresh._manifest(1)["state_deltas"]
    }
    v1_dirs = {d for d in os.listdir(path) if d.startswith("v000000000001-")}
    assert len(v1_dirs) == 2 and len(won_dirs & v1_dirs) == 1, (v1_dirs, won_dirs)
    fresh.vacuum(keep_last=10)
    assert {d for d in os.listdir(path) if d.startswith("v000000000001-")} == won_dirs
    want = {"x": 1, "a": 1} if won == "ba" else {"x": 1, "b": 2}
    assert {r.k: r.n for r in fresh.read_state(spark).collect()} == want

    # the loser's replay commits at the next version (R4 holds for the winner)
    loser_store = a if lost == "ba" else b
    assert loser_store.commit(None, updates[lost], lost, updates_unique=True) is True
    assert loser_store.commit(None, updates[won], won, updates_unique=True) is False
    assert {r.k: r.n for r in fresh.read_state(spark).collect()} == {
        "x": 1, "a": 1, "b": 2,
    }
