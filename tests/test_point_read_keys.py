"""Arrow point-read key semantics, in the fast tier: the driver-side
pyarrow reader (``SnapshotStore._multi_point_read_arrow``, behind both
``get_state`` and the driver fold's state read) must answer exactly like
the Spark scan's ``cast(key as string) == aggregate_id`` for typed key
columns. A key type the arrow reader cannot filter fails here instead of
falling back to Spark without notice."""

from __future__ import annotations

from surge_spark.streaming.snapshot_store import SnapshotStore


def test_point_read_arrow_integer_key_semantics(spark, tmp_path):
    """Integer key columns: the arrow filter compares typed values, which
    must mirror the Spark path's cast(key as string) == aggregate_id —
    canonical spellings hit, non-canonical ('05', '5.0', 'abc') are
    definitive misses on both paths."""
    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4
    )
    upd = spark.createDataFrame([(5, 50), (7, 70)], "k long, n long")
    store.commit(None, upd, "b0", updates_unique=True)
    m = store._manifest(0)
    assert store._multi_point_read_arrow(m, ["5"])["5"] == {"k": 5, "n": 50}
    assert store._point_read_spark(spark, m, "5") == {"k": 5, "n": 50}
    for bad in ("05", "5.0", "abc", ""):
        assert store._multi_point_read_arrow(m, [bad])[bad] is None
        assert store._point_read_spark(spark, m, bad) is None
    assert store.get_state(spark, "7")["n"] == 70


def test_point_read_arrow_date_key_semantics(spark, tmp_path):
    """Date key columns stay on the arrow fast path: Spark casts dates to canonical ISO 'yyyy-MM-dd', so the canonical-
    spelling check extends directly — ISO spellings hit, anything else
    ('2024-1-5', '2024-01-05T00:00:00', 'abc') is a definitive miss on
    both paths. Equality pinned across deltas and tombstones."""
    import datetime

    store = SnapshotStore(
        str(tmp_path / "s"), key_col="k", num_buckets=4, delta_commits=4
    )
    d1, d2 = datetime.date(2024, 1, 5), datetime.date(2023, 12, 31)
    upd = spark.createDataFrame([(d1, 10), (d2, 20)], "k date, n long")
    store.commit(None, upd, "b0", updates_unique=True)
    store.commit(
        None,
        spark.createDataFrame([(d1, 11)], "k date, n long"),
        "b1",
        updates_unique=True,
    )
    store.commit(
        None,
        spark.createDataFrame([], "k date, n long"),
        "b2",
        delete_keys=["2023-12-31"],
        updates_unique=True,
    )
    m = store._manifest(store.latest_version())
    for key in ("2024-01-05", "2023-12-31", "1999-09-09"):
        arrow = store._multi_point_read_arrow(m, [key])[key]
        via_spark = store._point_read_spark(spark, m, key)
        assert arrow == via_spark, (key, arrow, via_spark)
    assert store._multi_point_read_arrow(m, ["2024-01-05"])["2024-01-05"] == {
        "k": d1,
        "n": 11,
    }
    # tombstoned
    assert store._multi_point_read_arrow(m, ["2023-12-31"])["2023-12-31"] is None
    for bad in ("2024-1-5", "2024-01-05T00:00:00", "abc", ""):
        assert store._multi_point_read_arrow(m, [bad])[bad] is None
        assert store._point_read_spark(spark, m, bad) is None
