"""The benchmark's three workloads, run in a fresh process each.

Every workload is a closed loop with one caller. Each returns a ``Result``:
the timed units of its window, the set-up repetitions, how many checked
operations it attempted and how many failed, and (traced runs) its
per-layer numbers. Output checks run outside the timed window.

- ``cmd-stream``: pre-written command files replayed through
  ``CommandEngine.run_stream`` (the production shape): streaming trigger
  bookkeeping, the driver-side fold, delta append and compaction.
- ``cmd-bulk``: ``SurgeEngine.submit_many`` with distinct uniform keys over a
  wide store, each call followed by ``AggregateRef.get_state`` reads: the
  facade, the distributed fold, wide-store commits and point reads.
- ``catalog-slice``: one pass over ten paper-core ``queries`` entries per
  timed unit: ``queries``, ``operators`` and ``io``, which the command
  workloads bypass.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from . import datagen
from .tracing import Tracer, p, spark_per_op

STATE_SCHEMA = "aggregate_id string, n long"
EVENT_SCHEMA = "aggregate_id string"


def process_command(state, cmd):
    return [{"aggregate_id": cmd["aggregate_id"]}], False


def handle_event(state, event):
    return {"aggregate_id": event["aggregate_id"], "n": (state["n"] if state else 0) + 1}


@dataclass
class Result:
    setup_s: list[float]
    units_ms: list[float]  # one latency per timed unit, in window order
    window_s: float
    work: int  # commands or queries completed inside the window
    attempted: int = 0
    failed: int = 0
    diagnostics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


def _manifest(store_path: str, version: int) -> dict:
    with open(os.path.join(store_path, "_manifests", f"v{version:012d}.json")) as f:
        return json.load(f)


def _is_compaction(store_path: str, version: int) -> bool:
    """A delta-mode commit that left no pending deltas folded them into the
    base buckets (version 0 is the seed's full write)."""
    return version > 0 and "state_deltas" not in _manifest(store_path, version)


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def _half_ratio(units: list[float]) -> float:
    """Median of the window's first half over that of its second half."""
    half = len(units) // 2
    if half == 0:
        return 1.0
    return statistics.median(units[:half]) / statistics.median(units[-half:])


def _store_layers(spans, store_path: str) -> dict:
    commits = [s for s in spans if s.name == "snapshot_store.commit"]
    appends = [s.ms for s in commits if s.attrs.get("kind") == "append"]
    compacts = [s.ms for s in commits if s.attrs.get("kind") == "compaction"]
    reads = [s.ms for s in spans if s.name == "snapshot_store.get_state"]
    files, size = _tree_size(store_path)
    return {
        "snapshot_store.append_ms_p50": p(appends, 50),
        "snapshot_store.compact_ms_p50": p(compacts, 50),
        "snapshot_store.compactions": len(compacts),
        "snapshot_store.read_state_ms_p50": p(
            [s.ms for s in spans if s.name == "snapshot_store.read_state"], 50
        ),
        "snapshot_store.point_read_ms_p50": p(reads, 50),
        "snapshot_store.point_read_ms_p90": p(reads, 90),
        "snapshot_store.files_end": files,
        "snapshot_store.bytes_end": size,
    }


def _engine_layers(tracer: Tracer, spans) -> dict:
    batches = [s for s in spans if s.name == "command_engine.process_batch"]
    taken = sum(1 for s in spans if s.name == "command_engine.driver_fold" and s.attrs.get("taken"))
    submits = [s for s in spans if s.name == "engine.submit_many"]
    return {
        "engine.submit_self_ms_p50": p([tracer.self_ms(s) for s in submits], 50),
        "command_engine.batch_ms_p50": p([s.ms for s in batches], 50),
        "command_engine.batch_ms_p90": p([s.ms for s in batches], 90),
        "command_engine.fold_self_ms_p50": p([tracer.self_ms(s) for s in batches], 50),
        "command_engine.driver_fold_batches": taken,
        "command_engine.distributed_fold_batches": len(batches) - taken,
    }


def _fold_fallbacks(spans, batch_rows: int) -> int:
    """Batches at or under the engine's ``driver_fold_max_rows`` whose
    driver-fold attempt declined, so they took the distributed fold."""
    if batch_rows > _driver_fold_max_rows():
        return 0
    return sum(1 for s in spans if s.name == "command_engine.driver_fold" and not s.attrs.get("taken"))


def _driver_fold_max_rows() -> int:
    """The engine's default batch-size limit for the driver-side fold: a
    batch at or under it that still takes the distributed fold is a
    fallback."""
    import inspect

    from surge_spark.streaming.command_engine import CommandEngine

    return inspect.signature(CommandEngine).parameters["driver_fold_max_rows"].default


def install_tracer(tracer: Tracer) -> None:
    """Wrap the public call at each layer boundary (plus the driver-fold
    attempt, whose result tells which fold path a batch took)."""
    from surge_spark.engine import SurgeEngine
    from surge_spark.streaming.command_engine import CommandEngine
    from surge_spark.streaming.snapshot_store import SnapshotStore

    def commit_kind(args, kwargs, result):
        store = args[0]
        v = store.latest_version()
        return {"kind": "compaction" if _is_compaction(store.path, v) else "append", "version": v}

    tracer.wrap(SurgeEngine, "submit_many", "engine.submit_many")
    tracer.wrap(CommandEngine, "process_batch", "command_engine.process_batch")
    tracer.wrap(
        CommandEngine,
        "_driver_fold",
        "command_engine.driver_fold",
        on_result=lambda a, k, r: {"taken": r is not None},
    )
    tracer.wrap(SnapshotStore, "commit", "snapshot_store.commit", on_result=commit_kind)
    tracer.wrap(SnapshotStore, "read_state", "snapshot_store.read_state")
    tracer.wrap(SnapshotStore, "get_state", "snapshot_store.get_state")


def _repeat_setup(reps: int, build):
    """Run ``build(i)`` ``reps`` times on fresh directories; keep the last
    result. Set-up is reported as the median of the repetitions."""
    times, out = [], None
    for i in range(reps):
        t = time.perf_counter()
        out = build(i)
        times.append(time.perf_counter() - t)
    return times, out


# -- cmd-stream -----------------------------------------------------------------

STREAM_KEYS, STREAM_BUCKETS, STREAM_DELTAS, STREAM_BATCH, STREAM_ZIPF = 4096, 16, 16, 128, 1.1
STREAM_WARM_CYCLES = 1


def _seed_store(spark, path: str, n_keys: int, buckets: int, deltas: int):
    from surge_spark.streaming.snapshot_store import SnapshotStore

    store = SnapshotStore(path, key_col="aggregate_id", num_buckets=buckets, delta_commits=deltas)
    seed = spark.range(n_keys).selectExpr("CAST(id AS STRING) AS aggregate_id", "CAST(0 AS LONG) AS n")
    store.commit(None, seed, "seed", updates_unique=True)
    return store


def _stream(spark, store, cmd_dir: str, root: str):
    """Run one availableNow stream over ``cmd_dir``; return its progress list."""
    from surge_spark.streaming.command_engine import CommandEngine

    engine = CommandEngine(
        store,
        process_command,
        handle_event,
        STATE_SCHEMA,
        EVENT_SCHEMA,
        key_col="aggregate_id",
        order_cols=["command_id"],
        fold_partitions=4,
    )
    stream = (
        spark.readStream.schema("aggregate_id string, command_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(cmd_dir)
    )
    q = engine.run_stream(stream, f"{root}/ckpt", replies_path=f"{root}/replies")
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]


def _epoch(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def cmd_stream(spark, seed: int, seconds: int, root: str, tracer: Tracer | None) -> Result:
    window_cycles = max(1, round(seconds / 12))
    # the input is sized from the store's configured interval; the cycles
    # the window uses are read back from its commits
    n_files = (STREAM_DELTAS + 1) * (STREAM_WARM_CYCLES + window_cycles)

    def build(i: int):
        run_root = f"{root}/stream-{i}"
        tally = datagen.write_command_files(
            f"{run_root}/cmds", seed, n_files, STREAM_BATCH, STREAM_KEYS, STREAM_ZIPF
        )
        store = _seed_store(spark, f"{run_root}/store", STREAM_KEYS, STREAM_BUCKETS, STREAM_DELTAS)
        return run_root, store, tally

    setup, (run_root, store, tally) = _repeat_setup(3, build)
    clock = time.perf_counter() - time.time()  # epoch seconds -> perf_counter
    progress = _stream(spark, store, f"{run_root}/cmds", run_root)

    # trigger i commits store version i + 1 (version 0 is the seed). The
    # first STREAM_WARM_CYCLES cycles are the untimed warm-up; the window is
    # the whole cycles after them, so it starts right after a compaction and
    # ends with one.
    compactions = [v for v in range(1, len(progress) + 1) if _is_compaction(store.path, v)]
    cycles = [b - a for a, b in zip([0] + compactions, compactions)]
    if len(compactions) < STREAM_WARM_CYCLES + window_cycles:
        raise RuntimeError(f"expected {STREAM_WARM_CYCLES + window_cycles} compactions, got {compactions}")
    first, last = compactions[STREAM_WARM_CYCLES - 1], compactions[-1]
    window = progress[first:last]
    units = [float(pr["durationMs"]["triggerExecution"]) for pr in window]
    t0 = _epoch(window[0])
    t1 = _epoch(window[-1]) + units[-1] / 1e3

    # checks, outside the window: every reply is a success and every key's
    # final state equals the generator's tally
    replies = pq.read_table(f"{run_root}/replies", columns=["command_id", "status"])
    ok = sum(1 for s in replies.column("status").to_pylist() if s == "success")
    commands = n_files * STREAM_BATCH
    state = {r.aggregate_id: r.n for r in store.read_state(spark).collect()}
    bad_keys = sum(1 for k in range(STREAM_KEYS) if state.get(str(k)) != int(tally[k]))
    res = Result(
        setup_s=setup,
        units_ms=units,
        window_s=t1 - t0,
        work=sum(int(pr["numInputRows"]) for pr in window),
        attempted=commands + STREAM_KEYS,
        failed=(commands - ok) + bad_keys,
        diagnostics={
            "compactions_in_window": sum(first < v <= last for v in compactions),
            "cycle_commits": cycles,
            "triggers": len(progress),
            "window_triggers": len(window),
            "warmup_ms": [float(pr["durationMs"]["triggerExecution"]) for pr in progress[:first]],
            "trigger_phases_ms_p50": {
                k: p([pr["durationMs"].get(k, 0) for pr in window], 50)
                for k in sorted({k for pr in window for k in pr["durationMs"]})
            },
            "half_ratio": _half_ratio(units),
        },
    )
    if tracer is not None:
        spans = tracer.window(t0 + clock, t1 + clock)
        d = [pr["durationMs"] for pr in window]
        res.layers = {
            **_engine_layers(tracer, spans),
            **_store_layers(spans, store.path),
            "streaming.add_batch_ms_p50": p([x.get("addBatch", 0) for x in d], 50),
            "streaming.bookkeeping_ms_p50": p(
                [x["triggerExecution"] - x.get("addBatch", 0) for x in d], 50
            ),
            "streaming.wal_commit_ms_p50": p([x.get("walCommit", 0) for x in d], 50),
            "streaming.commit_offsets_ms_p50": p([x.get("commitOffsets", 0) for x in d], 50),
            "streaming.latest_offset_ms_p50": p([x.get("latestOffset", 0) for x in d], 50),
            **spark_per_op(
                spark,
                [(_epoch(pr), _epoch(pr) + pr["durationMs"]["triggerExecution"] / 1e3) for pr in window],
            ),
        }
        res.diagnostics["fold_fallbacks"] = _fold_fallbacks(spans, STREAM_BATCH)
    return res


# -- cmd-bulk -------------------------------------------------------------------

BULK_KEYS, BULK_BUCKETS, BULK_BATCH, BULK_READS = 65536, 64, 2048, 32
# untimed warm-up calls, with smaller batches that still take the
# distributed fold (over the engine's driver_fold_max_rows of 512)
BULK_WARM, BULK_WARM_BATCH = 3, 640


def cmd_bulk(spark, seed: int, seconds: int, root: str, tracer: Tracer | None) -> Result:
    from surge_spark.engine import SurgeEngine, SurgeModel

    model = SurgeModel(process_command, handle_event, STATE_SCHEMA, EVENT_SCHEMA)

    def build(i: int):
        path = f"{root}/bulk-{i}"
        _seed_store(spark, path, BULK_KEYS, BULK_BUCKETS, 16)
        return path, SurgeEngine(spark, model, path, fold_partitions=4, num_buckets=BULK_BUCKETS)

    setup, (store_path, engine) = _repeat_setup(3, build)
    rng = np.random.default_rng(seed)
    tally = np.zeros(BULK_KEYS, dtype=np.int64)
    n_calls = max(2, round(seconds / 3))
    attempted = failed = 0
    units, reads_ms, ops = [], [], []
    t0 = 0.0
    for call in range(BULK_WARM + n_calls):
        if call == BULK_WARM:
            t0 = time.perf_counter()
        keys = rng.choice(BULK_KEYS, BULK_WARM_BATCH if call < BULK_WARM else BULK_BATCH, replace=False)
        tally[keys] += 1
        op_start = time.time()
        s = time.perf_counter()
        results = engine.submit_many([(str(k), {"kind": "bump"}) for k in keys])
        units.append((time.perf_counter() - s) * 1e3)
        ops.append((op_start, time.time()))
        attempted += len(keys)
        failed += sum(
            1
            for k, r in zip(keys, results)
            if not (r.is_success and r.state is not None and r.state["n"] == tally[k])
        )
        for k in rng.integers(0, BULK_KEYS, BULK_READS):
            s = time.perf_counter()
            got = engine.aggregate_for(str(k)).get_state()
            reads_ms.append((time.perf_counter() - s) * 1e3)
            attempted += 1
            failed += int(got is None or got["n"] != tally[k])
    t1 = time.perf_counter()
    warmup, units = units[:BULK_WARM], units[BULK_WARM:]
    reads_ms = reads_ms[BULK_WARM * BULK_READS :]
    res = Result(
        setup_s=setup,
        units_ms=units,
        window_s=t1 - t0,
        work=n_calls * BULK_BATCH,
        attempted=attempted,
        failed=failed,
        diagnostics={
            "calls": n_calls,
            "warmup_ms": warmup,
            "read_p50_ms": p(reads_ms, 50),
            "read_p90_ms": p(reads_ms, 90),
            "half_ratio": _half_ratio(units),
            "compactions_in_window": sum(
                _is_compaction(store_path, v) for v in range(1 + BULK_WARM, 1 + BULK_WARM + n_calls)
            ),
        },
    )
    if tracer is not None:
        spans = tracer.window(t0, t1)
        res.layers = {
            **_engine_layers(tracer, spans),
            **_store_layers(spans, store_path),
            **spark_per_op(spark, ops[BULK_WARM:]),
        }
    return res


# -- catalog-slice --------------------------------------------------------------

SLICE = (
    "a2_latest_per_key",
    "es_count_fold",
    "es_count_fold_vectorized",
    "es_debounce_fold",
    "h_session_windows",
    "w_topk_per_key",
    "j_revenue_per_nation",
    "a_groupby_pricing_summary",
    "d_exact_dedup",
    "q3_shipping_priority",
)
SLICE_SF = 0.1
CATALOG_WARM_PASSES = 1
# longest first (h_session_windows compares about 95k rows one value at a
# time), so the two check threads finish close together
CHECK_ORDER = ("h_session_windows", "w_topk_per_key") + tuple(
    n for n in SLICE if n not in ("h_session_windows", "w_topk_per_key")
)


def catalog_slice(spark, seed: int, seconds: int, root: str, tracer: Tracer | None) -> Result:
    from surge_spark.oracle import compare
    from surge_spark.queries import all_oracles, all_queries

    queries = all_queries()
    missing = [n for n in SLICE if n not in all_oracles()]
    if missing:
        raise RuntimeError(f"slice entries without oracle SQL: {missing}")

    def build(i: int):
        out = f"{root}/sf-{i}"
        datagen.write_catalog_tables(out, seed, SLICE_SF)
        return out

    setup, sf_dir = _repeat_setup(3, build)

    def one_pass() -> tuple[float, dict, dict, list]:
        """Build and run every entry once: pass ms, build and exec ms per
        entry, and each entry's (start, end) epoch span."""
        build, run, ops = {}, {}, []
        s = time.perf_counter()
        for name in SLICE:
            op_start = time.time()
            a = time.perf_counter()
            df = queries[name](spark, sf_dir)
            b = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            build[name], run[name] = (b - a) * 1e3, (time.perf_counter() - b) * 1e3
            ops.append((op_start, time.time()))
        return (time.perf_counter() - s) * 1e3, build, run, ops

    def check(name: str) -> tuple[bool, str, float]:
        t = time.perf_counter()
        try:
            ok, msg = compare(spark, name, sf_dir)
        except Exception as exc:  # noqa: BLE001 — a failing entry is a failed check
            ok, msg = False, f"error: {str(exc).splitlines()[0][:300]}"
        return ok, msg, time.perf_counter() - t

    # untimed: the oracle checks, two at a time and longest first, while a
    # third thread runs the warm-up passes
    t = time.perf_counter()
    with ThreadPoolExecutor(max_workers=3) as pool:
        warm = pool.submit(lambda: [one_pass()[0] for _ in range(CATALOG_WARM_PASSES)])
        verdicts = dict(zip(CHECK_ORDER, pool.map(check, CHECK_ORDER)))
        warmup = warm.result()
    checks_s = time.perf_counter() - t
    failed = sum(1 for ok, _, _ in verdicts.values() if not ok)
    checks = {n: msg for n, (_, msg, _) in verdicts.items()}
    check_s = {n: s for n, (_, _, s) in verdicts.items()}

    n_passes = max(2, round(seconds / 5))
    t0 = time.perf_counter()
    passes = [one_pass() for _ in range(n_passes)]
    t1 = time.perf_counter()
    units = [ms for ms, _, _, _ in passes]
    build_ms = {n: [bm[n] for _, bm, _, _ in passes] for n in SLICE}
    exec_ms = {n: [em[n] for _, _, em, _ in passes] for n in SLICE}
    ops = [op for _, _, _, o in passes for op in o]
    res = Result(
        setup_s=setup,
        units_ms=units,
        window_s=t1 - t0,
        work=n_passes * len(SLICE),
        attempted=len(SLICE) + n_passes * len(SLICE),
        failed=failed,
        diagnostics={
            "passes": n_passes,
            "warmup_ms": warmup,
            "entry_ms_p50": {n: statistics.median(map(sum, zip(build_ms[n], exec_ms[n]))) for n in SLICE},
            "oracle": checks,
            "checks_and_warmup_s": checks_s,
            "oracle_entry_s": check_s,
            "half_ratio": _half_ratio(units),
        },
    )
    if tracer is not None:
        res.layers = {
            **{f"queries.build_ms.{n}": statistics.median(v) for n, v in build_ms.items()},
            **{f"queries.exec_ms.{n}": statistics.median(v) for n, v in exec_ms.items()},
            **spark_per_op(spark, ops),
        }
    return res


WORKLOADS = {"cmd-stream": cmd_stream, "cmd-bulk": cmd_bulk, "catalog-slice": catalog_slice}

