"""The command engine: surge §3.1 re-architected for micro-batches.

Reference pipeline (SURVEY §3.1): sendCommand → route to the key's single
writer actor → user handlers produce events + new state → one Kafka
transaction writes both → ack with the new state. Steps 2-5 of the reference
(router, shards, init barrier) disappear — Spark's shuffle assigns each key
to exactly one task per batch, and the snapshot store's commit ordering gives
read-your-writes (R2) by construction.

This engine processes a *commands* DataFrame per micro-batch:

  1. shuffle by aggregate_id (single-writer per key within the batch, R1)
  2. left-join the current state snapshot (actor init, §3.1.5)
  3. per key, in command order: processCommand → events, handleEvent → state
     (U1/U2), rejections produce nothing (PersistentActor.scala:203-205)
  4. commit {events, state updates, replies} atomically via SnapshotStore
     (S7); duplicate batch ids are dropped (R4)
  5. replies (ACKSuccess/ACKRejection with the new state, §3.1.9-10) are
     returned / appended to a replies table for the RPC gateway

``run_stream`` wires the same batch function into foreachBatch for a real
commands stream; ``process_batch`` is the deterministic core the tests and
batch replays call directly.

Two folds share that pipeline. Batches at or under ``driver_fold_max_rows``
fold driver-side: the batch's state comes from the batched arrow point read
and the handlers run in-process. Larger batches take the distributed fold (a
snapshot join plus ``groupBy.applyInArrow``), which stays the semantic source
of truth. Both run their keys through one kernel, ``_fold_frame``, over plain
column lists (what Arrow's ``to_pylist`` yields), with one handler-value
contract (``_handler_values``), and hand its output to the same single
``SnapshotStore.commit`` call (``_commit``). Rows cross between the JVM and
Python as Arrow: the fold's buckets, and every local relation the command
path builds (``arrow_frame``).
"""

from __future__ import annotations

import asyncio
import inspect
import json
import os
from collections.abc import Callable, Sequence
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_shipped
from ._prof import phase
from .context import ContextCommandHandler, SurgeContext
from .snapshot_store import DRIVER_COMMIT_MAX_ROWS, LazyFrames, SnapshotStore

# handler contracts (mirror AggregateProcessingModel.scala:18-34):
#   process_command(state|None, cmd) -> (events: list[dict], rejected: bool)
#   handle_event(state|None, event) -> state|None
CommandHandler = Callable[[dict | None, dict[str, Any]], tuple[list[dict], bool]]
EventHandler = Callable[[dict | None, dict[str, Any]], dict | None]

REPLY_SCHEMA = (
    "command_id string, aggregate_id string, status string, new_state string, "
    "rejection string, reply string"
)
RECORD_SCHEMA = "topic string, key string, value string"

_INTEGRAL = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
# key types the fold's output reads from a string spelling and casts
_CAST_KEYS = _INTEGRAL + (T.DoubleType, T.FloatType)
PACKED_SCHEMA = pa.schema([("kind", pa.string()), ("payload", pa.string())])


def arrow_frame(spark: SparkSession, rows: list[dict], schema: pa.Schema) -> DataFrame:
    """A local relation of ``rows`` built through Arrow: the one way the
    command path turns driver-side rows into a DataFrame (the facade's
    command batches, the driver fold's packed output). Arrow keeps a double
    NaN and a null apart at every batch size, and ints stay exact."""
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema))


def _handler_values(
    vals: list, dt: T.DataType, slices: Sequence[list[int]], tz: str
) -> list:
    """The handler-value contract, in one place. ``vals`` is one column as
    Arrow's ``to_pylist`` yields it (exact ints, None for null, a NaN kept
    apart from null), ``slices`` the row indices of each key. Returns the
    values handlers see:
    - integral: int when the key's slice has no null, otherwise float with
      NaN for the nulls (the per-key typing a pandas frame per key gave);
    - float/double: NaN for null;
    - timestamp: a naive ``pd.Timestamp`` in the session time zone ``tz``
      (timestamp_ntz: naive as stored), NaT for null;
    - day-time interval: ``pd.Timedelta``, NaT for null;
    - map: a dict;
    - anything else as it is, None for null."""
    if isinstance(dt, _INTEGRAL):
        if None not in vals:
            return vals
        out = list(vals)
        for idx in slices:
            if any(vals[i] is None for i in idx):
                for i in idx:
                    out[i] = float("nan") if vals[i] is None else float(vals[i])
        return out
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return [float("nan") if v is None else v for v in vals]
    if isinstance(dt, T.TimestampType):
        return [
            pd.NaT if v is None
            else pd.Timestamp(v).tz_convert(tz).tz_localize(None).as_unit("ns")
            for v in vals
        ]
    if isinstance(dt, T.TimestampNTZType):
        return [pd.NaT if v is None else pd.Timestamp(v).as_unit("ns") for v in vals]
    if isinstance(dt, T.DayTimeIntervalType):
        return [pd.NaT if v is None else pd.Timedelta(v).as_unit("ns") for v in vals]
    if isinstance(dt, T.MapType):
        return [None if v is None else dict(v) for v in vals]
    return vals


class BatchResult:
    """What ``process_batch`` returns for a batch it committed.

    The per-side rows (``state``, ``events``, ``replies``, ``deletes``,
    ``records``: the lists ``_split_sides`` yields) are held whenever they
    exist: always on the driver fold, and on the distributed fold when the
    commit collected them. They are None otherwise (a fold output over
    ``driver_commit_max_rows``, or schemas the driver writes can't take).

    ``state_df``, ``events_df`` and ``replies_df`` are the typed frames. On
    the driver fold they are built on first read, as local relations over
    the held rows, and stay valid at any time. On the distributed fold they
    are projections over the persisted fold cache, valid until the next
    ``process_batch`` call on the engine.

    Unpacks and indexes as ``(state_df, events_df, replies_df)``."""

    def __init__(self, rows: dict | None, frames: Callable[[], dict]) -> None:
        self._rows = rows
        self._build = frames
        self._frames: dict | None = None

    def frames(self) -> dict:
        """Every per-side frame (``_project_sides``), built once."""
        if self._frames is None:
            self._frames = self._build()
        return self._frames

    def _side(self, name: str) -> list | None:
        return None if self._rows is None else self._rows[name]

    state = property(lambda self: self._side("state"))
    events = property(lambda self: self._side("events"))
    replies = property(lambda self: self._side("replies"))
    deletes = property(lambda self: self._side("deletes"))
    records = property(lambda self: self._side("records"))
    state_df = property(lambda self: self.frames()["state_df"])
    events_df = property(lambda self: self.frames()["events_df"])
    replies_df = property(lambda self: self.frames()["replies_df"])

    def rows(self, side: str) -> list[dict]:
        """One side (``"replies"`` or ``"events"``) as dicts: the held rows,
        else the collected frame (its columns are the declared schema's,
        so read optional fields with ``.get``)."""
        held = self._side(side)
        if held is not None:
            return held
        return [r.asDict() for r in self.frames()[f"{side}_df"].collect()]

    def __iter__(self):
        return iter((self.state_df, self.events_df, self.replies_df))

    def __getitem__(self, i):
        return tuple(self)[i]

    def __len__(self) -> int:
        return 3


class CommandEngine:
    def __init__(
        self,
        store: SnapshotStore,
        process_command: CommandHandler | ContextCommandHandler,
        handle_event: EventHandler | None,
        state_schema: str,
        event_schema: str,
        key_col: str = "aggregate_id",
        order_cols: Sequence[str] = ("ts",),
        context_mode: bool = False,
        fold_partitions: int | None = None,
        driver_commit_max_rows: int = DRIVER_COMMIT_MAX_ROWS,
        driver_fold_max_rows: int = 512,
    ) -> None:
        """Handler models supported (CommandModels.scala:12-74):

        - plain (U1/U2): ``process_command(state, cmd) -> (events, rejected)``
          + ``handle_event(state, event) -> state``
        - async (U3, AsyncAggregateCommandModel): either/both handlers may be
          ``async def`` — coroutines are awaited per key inside the
          distributed fold (one event loop per key group).
        - context-aware (U4, ContextAwareAggregateCommandModel): pass
          ``context_mode=True`` and ``process_command(ctx, state, cmd) ->
          SurgeContext`` (sync or async); ``handle_event`` becomes optional.
          The returned context carries updated state, default + per-topic
          events (persist_to_topic), raw producer records, side effects, a
          custom reply payload, or a rejection.

        ``fold_partitions`` right-sizes the fold's shuffle for micro-batch
        latency: groupBy.applyInArrow otherwise inherits
        spark.sql.shuffle.partitions (sized for the analytic queries — 32+),
        and a 50 ms-flush-sized batch pays one Python worker round-trip per
        mostly-empty partition. Pre-repartitioning by key satisfies the
        fold's clustered-distribution requirement, so the groupBy adds no
        second exchange. Commands per trigger ÷ fold_partitions should be
        a comfortable Arrow batch; leave None for backfill-sized batches
        where the session default is right.

        ``driver_commit_max_rows``: fold outputs at or under this row count
        take the driver-side commit-write path (collect the cached fold
        once, write the delta/events/replies/records parquet via pyarrow —
        zero Spark write jobs, the write twin of the arrow point read;
        measured ~0.2 s/job floor saved). Requires every engine schema to
        be arrow-writable primitives (checked once, cached); any per-batch
        value that doesn't coerce exactly falls back to the Spark path.
        Every commit writes driver-side only when the batch's rows (state,
        tombstones, events, replies, records) fit the bound, on every
        store mode. A rewriting commit (a store's first commit, every
        copy-on-write commit, a merge-on-read compaction) merges on the
        driver (SnapshotStore._driver_rewrite) only when the live deltas
        plus the touched base buckets fit it too, counted from the parquet
        footers; larger stores rewrite on Spark. Set 0 to disable the
        driver-side writes of every non-empty commit.

        ``driver_fold_max_rows``: command batches at or under this row
        count run the ENTIRE fold driver-side (the read twin completing
        driver_commit_max_rows' write twin): collect the batch (one tiny
        narrow job), fetch the batch keys' state through the batched
        arrow point read (SnapshotStore._multi_point_read_arrow — zero
        Spark jobs), fold the whole batch's column lists through the SAME
        per-key kernel the distributed fold runs per bucket
        (_fold_frame), and commit through the driver-side arrow writes.
        The whole
        distributed fold job — the two exchanges, the snapshot scan, the
        Arrow python round trip, ~0.4 s of a 0.85 s trigger at 128-command
        batches — disappears. The exchange itself is NOT elidable any
        other way: a gateway writing commands pre-bucketed still reads
        back with unknown outputPartitioning, so EnsureRequirements
        re-inserts Exchange hashpartitioning under the fold regardless
        (verified on the executed plan; OSS Spark has no assume-
        partitioned hint for file sources). Strict gates (arrow-writable
        schemas, arrow-readable key type),
        and ANY failure before the handlers run falls back to the
        distributed fold — which remains the semantic source of truth,
        pinned equal by cross-mode tests. Set 0 to disable."""
        self.store = store
        self.process_command = process_command
        self.handle_event = handle_event
        self.state_schema = state_schema
        self.event_schema = event_schema
        self.key_col = key_col
        self.order_cols = list(order_cols)
        self.context_mode = context_mode
        if fold_partitions is not None and fold_partitions < 1:
            raise ValueError(f"fold_partitions must be >= 1, got {fold_partitions}")
        self.fold_partitions = fold_partitions
        self.driver_commit_max_rows = driver_commit_max_rows
        self.driver_fold_max_rows = driver_fold_max_rows
        # cache of the current batch's fold output; see process_batch
        self._prev_packed: DataFrame | None = None
        # lazily-resolved StructTypes for the driver-side commit path;
        # False = schemas not arrow-writable (decided once)
        self._driver_structs_cache: dict | None | bool = None

    # -- driver-side commit path ----------------------------------------------

    def _driver_structs(self) -> dict | None:
        """StructTypes for the driver-side commit writes, or None when any
        engine schema isn't arrow-writable (decided once — the answer is a
        pure function of the declared schemas)."""
        if self._driver_structs_cache is False:
            return None
        if isinstance(self._driver_structs_cache, dict):
            return self._driver_structs_cache
        try:
            parse = T._parse_datatype_string
            state_struct = T.StructType.fromDDL(self.state_schema) if hasattr(
                T.StructType, "fromDDL"
            ) else parse(self.state_schema)
            event_fields = list(parse(f"struct<{self.event_schema}>").fields)
            if self.context_mode:
                event_fields.append(T.StructField("_topic", T.StringType()))
            events_struct = T.StructType(event_fields)
            replies_struct = parse(REPLY_SCHEMA)
            replies_bid_struct = T.StructType(
                list(replies_struct.fields)
                + [T.StructField("batch_id", T.StringType())]
            )
            records_struct = parse(RECORD_SCHEMA)
            for s in (state_struct, events_struct, replies_bid_struct, records_struct):
                SnapshotStore._arrow_write_schema(s)
            # the tombstone cast needs a castable key type too
            kt = type(state_struct[self.store.key_col].dataType)
            if kt not in (
                T.StringType, T.LongType, T.IntegerType,
                T.ShortType, T.ByteType, T.DoubleType, T.FloatType,
            ):
                raise ValueError(f"key type {kt.__name__} not driver-castable")
            self._driver_structs_cache = {
                "state_struct": state_struct,
                "events_struct": events_struct,
                "replies_struct": replies_struct,
                "replies_bid_struct": replies_bid_struct,
                "records_struct": records_struct,
            }
            return self._driver_structs_cache
        except Exception:  # noqa: BLE001 — unsupported schema: Spark path
            self._driver_structs_cache = False
            return None

    def _split_sides(self, pairs, stamp_batch_id: str | None) -> dict:
        """Split (kind, payload-json) fold rows into the per-side dict
        SnapshotStore.commit takes as ``driver_sides`` — shared by the
        collect-the-distributed-fold path and the driver-side fold."""
        structs = self._driver_structs()
        assert structs is not None
        st: list[dict] = []
        ev: list[dict] = []
        rep: list[dict] = []
        tomb: list[str] = []
        rec: list[dict] = []
        for kind, payload in pairs:
            d = json.loads(payload)
            if kind == "state":
                st.append(d)
            elif kind == "event":
                evd = d.get("event")
                evd = dict(evd) if isinstance(evd, dict) else {}
                if self.context_mode:
                    evd["_topic"] = d.get("topic")
                ev.append(evd)
            elif kind == "reply":
                if stamp_batch_id is not None:
                    d = dict(d)
                    d["batch_id"] = stamp_batch_id
                rep.append(d)
            elif kind == "tombstone":
                # a handler returning None state for a None/absent key packs
                # a None tombstone here; BOTH commit modes drop it as
                # unaddressable (Spark path: the isNotNull filter on the
                # delete-keys frame; arrow path: the None-skip in
                # _driver_commit_writes) — mirrored comments at both sites
                tomb.append(d.get(self.store.key_col))
            elif kind == "record":
                rec.append(d)
            else:
                raise ValueError(f"unknown fold row kind {kind!r}")
        return {
            "state_struct": structs["state_struct"],
            "state": st,
            "deletes": tomb,
            "events_struct": structs["events_struct"],
            "events": ev,
            "replies_struct": (
                structs["replies_bid_struct"]
                if stamp_batch_id is not None
                else structs["replies_struct"]
            ),
            "replies": rep,
            "records_struct": structs["records_struct"],
            "records": rec if self.context_mode else [],
            # the row bound the store applies to a driver-side compaction
            "max_rows": self.driver_commit_max_rows,
        }

    def _project_sides(
        self, packed: DataFrame, batch_id: str, replies_dir: str | None
    ) -> dict:
        """Typed per-side frames as from_json projections over a packed
        (kind, payload) fold output — shared by the distributed fold
        (projections over the persisted fold cache) and the driver fold
        (projections over a local relation of the in-memory rows)."""
        state_key_col = self.store.key_col

        def unpack(kind: str, schema) -> DataFrame:
            return (
                packed.where(F.col("kind") == kind)
                .select(F.from_json("payload", schema).alias("r"))
                .select("r.*")
            )

        def keyed(ddl: str):
            # the store key column takes the tombstone-key rule: read as a
            # string and cast to its declared type. The engine stamps every
            # event with str(key), and a handler may copy that into the
            # state; from_json would null such a key in a numeric field
            # (and the commit's null-key gate then drops the row), where
            # the cast parses it, and under ANSI fails the batch on a
            # spelling that isn't a number
            struct = T._parse_datatype_string(f"struct<{ddl}>")
            dt = {f.name: f.dataType for f in struct.fields}.get(state_key_col)
            if not isinstance(dt, _CAST_KEYS):
                return struct, lambda df: df
            read = T.StructType([
                T.StructField(f.name, T.StringType()) if f.name == state_key_col else f
                for f in struct.fields
            ])
            return read, lambda df: df.withColumn(
                state_key_col, F.col(state_key_col).cast(dt)
            )

        state_read, state_cast = keyed(self.state_schema)
        state_df = state_cast(unpack("state", state_read))
        # events are wrapped {"event": ..., "topic": ...}: topic is the
        # persist_to_topic routing column (null = default events output)
        event_read, event_cast = keyed(self.event_schema)
        events_df = event_cast(
            packed.where(F.col("kind") == "event")
            .select(
                F.from_json(
                    "payload",
                    T.StructType([
                        T.StructField("event", event_read),
                        T.StructField("topic", T.StringType()),
                    ]),
                ).alias("r")
            )
            .select("r.event.*", F.col("r.topic").alias("_topic"))
        )
        if not self.context_mode:
            events_df = events_df.drop("_topic")  # plain model: single output
        replies_df = unpack("reply", REPLY_SCHEMA)
        records_df = unpack("record", RECORD_SCHEMA)
        tombstones = packed.where(F.col("kind") == "tombstone").select(
            F.get_json_object("payload", f"$.{state_key_col}").alias(state_key_col)
        )
        replies_to_commit = replies_df.coalesce(1)
        if replies_dir is not None:
            # stamp batch_id so the gateway can dedup/trace, same as the
            # old per-batch rewrite did
            replies_to_commit = replies_to_commit.withColumn(
                "batch_id", F.lit(str(batch_id))
            )
        return {
            "state_df": state_df,
            "events_df": events_df,
            "replies_df": replies_df,
            "records_df": records_df,
            "tombstones": tombstones,
            "replies_to_commit": replies_to_commit,
        }

    # -- core ----------------------------------------------------------------

    @staticmethod
    def _fold_frame(
        cols: dict[str, list],
        types: dict[str, T.DataType],
        state_fields: list[str],
        key_col: str,
        store_key_col: str,
        order_cols: list[str],
        process_command: CommandHandler | ContextCommandHandler,
        handle_event: EventHandler | None,
        context_mode: bool,
        tz: str,
    ) -> list[tuple[str, str]]:
        """The one per-key fold of both folds: the columns of MANY keys in
        (the distributed fold's Arrow bucket, or the driver fold's whole
        batch), packed (kind, json) rows out. ``cols`` holds plain value
        lists as ``to_pylist`` yields them, ``types`` each column's Spark
        type. Columns: the command columns, ``__k`` (the canonical string
        key; None is the distributed groupBy's NULL group, whose state join
        always misses), the ``__state__*`` columns of the snapshot join
        (actor init, §3.1.5), and maybe the salt ``__g``. Handlers see each
        row as a dict of every column except ``__k``/``__g``, valued by
        ``_handler_values`` (``tz`` is the session time zone).

        The per-key work is plain list indexing, in first-appearance order
        of ``__k``:
        - a multi-command key runs in ``order_cols`` order: a stable sort,
          nulls (and NaN/NaT) last per column;
        - the initial state is the first row's ``__state__*`` values, None
          when its ``__state__<store key>`` is null.

        Static with plain-value args: the fold closure shipped to executors
        must not capture the engine instance (it holds the cached previous
        batch DataFrame → unpicklable SparkContext)."""
        names = [c for c in cols if c not in ("__k", "__g")]
        groups: dict[Any, list[int]] = {}
        for i, k in enumerate(cols["__k"]):
            groups.setdefault(k, []).append(i)
        vals = {
            c: _handler_values(cols[c], types[c], groups.values(), tz) for c in names
        }
        rows = [dict(zip(names, r)) for r in zip(*vals.values())]
        order = [vals[c] for c in order_cols if c in vals]

        def order_key(i: int) -> tuple:
            return tuple(
                (1, 0) if v[i] is None or v[i] != v[i] else (0, v[i]) for v in order
            )

        state_key = cols.get(f"__state__{store_key_col}")
        out: list[tuple[str, str]] = []
        for idx in groups.values():
            first = rows[idx[0]]
            state = None
            if state_fields and state_key[idx[0]] is not None:
                state = {f: first[f"__state__{f}"] for f in state_fields}
            if order and len(idx) > 1:
                idx = sorted(idx, key=order_key)
            k = first[key_col]
            s, e, r, d, recs = CommandEngine._handle_group(
                # a NULL numeric key reaches handlers as NaN: its stamp is
                # null, not "nan", which the key casts would reject (a
                # NULL string key keeps its "None" spelling)
                str(k) if k == k else None,
                state,
                [rows[i] for i in idx],
                store_key_col,
                process_command,
                handle_event,
                context_mode,
            )
            out.extend(CommandEngine._pack_rows(s, e, r, d, recs, store_key_col))
        return out

    @staticmethod
    def _handle_group(
        key: str | None,
        state: dict | None,
        cmds: list[dict],
        store_key_col: str,
        process_command: CommandHandler | ContextCommandHandler,
        handle_event: EventHandler | None,
        context_mode: bool,
    ):
        """Run one key's commands serially (R1), starting from ``state``.
        Returns (state_rows, event_rows, reply_rows, deleted_keys,
        record_rows). Each event row is ``(event_dict, topic_or_None)`` —
        None routes to the default events output, a string is a
        persist_to_topic destination."""
        initial_state = state
        events_out: list[tuple[dict, str | None]] = []
        records_out: list[dict] = []
        replies: list[dict] = []

        # one event loop per key group services every awaited handler (U3)
        loop: asyncio.AbstractEventLoop | None = None

        def run(value):
            nonlocal loop
            if inspect.iscoroutine(value):
                if loop is None:
                    loop = asyncio.new_event_loop()
                return loop.run_until_complete(value)
            return value

        def reply_row(status, new_state=None, rejection=None, reply=None):
            return {
                "command_id": str(cmd.get("command_id", "")),
                "aggregate_id": key,
                "status": status,
                "new_state": json.dumps(new_state, default=str)
                if new_state is not None
                else None,
                "rejection": json.dumps(rejection, default=str)
                if rejection is not None
                else None,
                "reply": json.dumps(reply, default=str)
                if reply is not None
                else None,
            }

        try:
            for cmd in cmds:
                if context_mode:
                    # U4: handler drives a SurgeContext
                    # (AggregateProcessingModel.scala:36-64)
                    try:
                        ctx = run(process_command(SurgeContext(state=state), state, cmd))
                    except Exception as e:  # noqa: BLE001 — handler error → ACKError
                        replies.append(reply_row(f"error: {type(e).__name__}"))
                        continue
                    if ctx.rejected:
                        # rejection publishes nothing (PersistentActor.scala:203-205)
                        replies.append(
                            reply_row("rejected", state, rejection=ctx.rejection)
                        )
                        continue
                    # apply the context transactionally per command: a raising
                    # side effect / reply_fn must yield an error ACK for THIS
                    # command, not poison the whole micro-batch (a failed
                    # batch replays forever against the same exception).
                    # Already-run side effects are not undone — side effects
                    # are at-least-once, like the reference's.
                    pre_state, pre_ev, pre_rec = state, len(events_out), len(records_out)
                    try:
                        state = ctx.state
                        for ev, topic in ctx.events:
                            events_out.append(({**ev, store_key_col: key}, topic))
                        for rec in ctx.records:
                            records_out.append(
                                {"topic": rec.topic, "key": rec.key, "value": rec.value}
                            )
                        for fn in ctx.side_effects:
                            run(fn(state))
                        reply = run(ctx.reply_fn(state)) if ctx.reply_fn else None
                    except Exception as e:  # noqa: BLE001 — handler error → ACKError
                        state = pre_state
                        del events_out[pre_ev:]
                        del records_out[pre_rec:]
                        replies.append(reply_row(f"error: {type(e).__name__}"))
                        continue
                    replies.append(reply_row("success", state, reply=reply))
                    continue
                try:
                    events, rejected = run(process_command(state, cmd))
                except Exception as e:  # noqa: BLE001 — handler error → ACKError (§5 tier-1)
                    replies.append(reply_row(f"error: {type(e).__name__}"))
                    continue
                if rejected:
                    replies.append(reply_row("rejected", state))
                    continue
                # a raising handle_event rolls this command back (state and
                # its already-appended events) and error-ACKs it — same
                # poison-pill isolation as process_command above
                pre_state, pre_ev = state, len(events_out)
                try:
                    for ev in events:
                        state = run(handle_event(state, ev))
                        events_out.append(({**ev, store_key_col: key}, None))
                except Exception as e:  # noqa: BLE001 — handler error → ACKError
                    state = pre_state
                    del events_out[pre_ev:]
                    replies.append(reply_row(f"error: {type(e).__name__}"))
                    continue
                replies.append(reply_row("success", state))
        finally:
            if loop is not None:
                loop.close()
        # no-change-no-write (PersistentActor.scala:212): only emit a state
        # row if the fold changed it; events still publish (":495" semantics).
        # A non-None -> None transition is a DELETION and must tombstone the
        # snapshot row (the reference publishes whenever stateOpt != result),
        # not silently leave the old state serving reads forever.
        state_rows = [state] if state != initial_state and state is not None else []
        deleted_keys = [key] if initial_state is not None and state is None else []
        return state_rows, events_out, replies, deleted_keys, records_out

    @staticmethod
    def _pack_rows(s, e, r, d, recs, state_key_col) -> list[tuple[str, str]]:
        """One key group's fold outputs as tagged (kind, json) rows — the
        single wire format both the distributed fold and the driver fold
        emit, so every downstream consumer (projections, commit splitting)
        is path-agnostic."""
        return (
            [("state", json.dumps(x, default=str)) for x in s]
            + [
                ("event", json.dumps({"event": ev, "topic": topic}, default=str))
                for ev, topic in e
            ]
            + [("reply", json.dumps(x, default=str)) for x in r]
            + [("tombstone", json.dumps({state_key_col: k})) for k in d]
            + [("record", json.dumps(x, default=str)) for x in recs]
        )

    @staticmethod
    def _batch_columns(
        rows: list,
        key_col: str,
        command_fields: list[T.StructField],
        state_struct_fields: list[T.StructField],
        state_map: dict[str, dict | None],
    ) -> tuple[dict[str, list], dict[str, T.DataType]]:
        """The driver fold's whole batch as ONE ``_fold_frame`` input: the
        column lists the distributed fold's joined Arrow bucket yields
        (the command columns, ``__k`` — the state lookup key, None for a
        NULL key, which joins nothing — and a ``__state__*`` column per
        state field from ``state_map``), with each column's Spark type."""
        cols: dict[str, list] = {}
        types: dict[str, T.DataType] = {}
        for j, f in enumerate(command_fields):
            vals = [r[j] for r in rows]
            if isinstance(f.dataType, T.TimestampType):
                # a collected Row holds a naive datetime in the driver's
                # local time; Arrow hands the same instant time-zone aware
                vals = [None if v is None else v.astimezone() for v in vals]
            cols[f.name], types[f.name] = vals, f.dataType
        cols["__k"] = [None if r[key_col] is None else str(r[key_col]) for r in rows]
        states = [state_map.get(k) if k is not None else None for k in cols["__k"]]
        for f in state_struct_fields:
            name = f"__state__{f.name}"
            cols[name] = [None if st is None else st.get(f.name) for st in states]
            types[name] = f.dataType
        return cols, types

    def _driver_fold(
        self,
        spark: SparkSession,
        commands: DataFrame,
        batch_id: str,
        replies_dir: str | None,
        n_rows_hint: int | None = None,
    ) -> BatchResult | None:
        """Driver-side fold fast path (see driver_fold_max_rows in
        __init__): the whole fold — state read, per-key handler run,
        commit writes — in-process, zero wide Spark jobs, and no DataFrame
        unless the commit falls back to the Spark writes or a caller reads
        a frame. Returns the process_batch result, or None to fall back to the
        distributed fold (which is the semantic source of truth; ANY
        gate failure or exception before the handlers run lands there).
        Handlers/side-effects run at-least-once either way, same as the
        distributed path's replay contract."""
        if not self.driver_fold_max_rows:
            return None
        if self._driver_structs() is None:
            return None
        # complex-typed COMMAND columns gate: a collected Row nests Row
        # objects (and converts nested timestamps its own way) where the
        # distributed fold's to_pylist hands dicts — _driver_structs
        # covers state/event/reply/record schemas, not the command batch.
        if any(
            isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
            for f in commands.schema.fields
        ):
            return None
        try:
            with phase("pb.df_collect"):
                if n_rows_hint is not None:
                    # caller vouches for the size: collect directly
                    rows = commands.collect()
                else:
                    rows = commands.limit(self.driver_fold_max_rows + 1).collect()
            if len(rows) > self.driver_fold_max_rows:
                return None  # batch too big: distributed fold re-scans
            # actor init (§3.1.5) as a batched arrow point read over the
            # batch's key set — the KTable-multi-get analog of the
            # distributed path's snapshot join. NULL keys are excluded:
            # the distributed join's NULL never matches, so a stored key
            # spelled literally "None" must not be fetched for them.
            keys = [
                str(r[self.key_col])
                for r in rows
                if r[self.key_col] is not None
            ]
            state_struct_fields: list[T.StructField] = []
            state_map: dict[str, dict | None] = {}
            v = self.store.latest_version()
            if v is not None:
                m = self.store._manifest(v)
                with phase("pb.df_state"):
                    state_map = self.store._multi_point_read_arrow(
                        m, list(dict.fromkeys(keys))
                    )
                state_struct_fields = T.StructType.fromJson(
                    json.loads(m["state_schema"])
                ).fields
            with phase("pb.df_frame"):
                cols, types = CommandEngine._batch_columns(
                    rows,
                    self.key_col,
                    commands.schema.fields,
                    state_struct_fields,
                    state_map,
                )
                tz = spark.conf.get("spark.sql.session.timeZone")
        except Exception:  # noqa: BLE001 — exact fallback, never guess
            return None
        with phase("pb.df_handlers"):
            packed_rows = CommandEngine._fold_frame(
                cols,
                types,
                [f.name for f in state_struct_fields],
                self.key_col,
                self.store.key_col,
                self.order_cols,
                self.process_command,
                self.handle_event,
                self.context_mode,
                tz,
            )
        with phase("pb.df_split"):
            ds = self._split_sides(
                packed_rows, str(batch_id) if replies_dir is not None else None
            )

        def frames() -> dict:
            # the typed frames, as projections over a local relation of the
            # packed fold rows: read by a caller, or by the commit when it
            # falls back to the Spark writes
            packed_local = arrow_frame(
                spark,
                [{"kind": k, "payload": p} for k, p in packed_rows],
                PACKED_SCHEMA,
            )
            return self._project_sides(packed_local, batch_id, replies_dir)

        result = BatchResult(ds, frames)
        self._commit(result, batch_id, replies_dir)
        # release the previous batch's fold cache, same lifecycle as the
        # distributed path; local-relation frames need no persist
        if self._prev_packed is not None:
            self._prev_packed.unpersist()
            self._prev_packed = None
        return result

    def process_batch(
        self,
        commands: DataFrame,
        batch_id: str,
        replies_dir: str | None = None,
        fold_partitions: int | None = None,
        n_rows_hint: int | None = None,
        keys_hint: list | None = None,
    ) -> BatchResult | None:
        """Process one micro-batch of commands; atomically commit and return
        a ``BatchResult``. It unpacks as (state_updates, events, replies)
        frames and holds the batch's per-side rows whenever they exist:
        - driver fold: the rows always; the frames are built on first read,
          as local relations over them, and stay valid at any time;
        - distributed fold: the rows when the commit collected them (a fold
          output within ``driver_commit_max_rows``); the
          frames are lazy projections over the batch's cached fold output,
          valid until the NEXT process_batch call on this engine (which
          releases the cache).
        Callers that only need the replies or events read the rows and run
        no Spark job; without rows they collect the frames.

        ``replies_dir``: commit the ACK rows (stamped with ``batch_id``)
        directly into that directory — the streaming reply channel — so the
        gateway copy IS the commit's write, not a second job per batch.

        Returns None for an already-committed batch_id (R4): foreachBatch is
        at-least-once, and re-folding a committed batch against the
        post-commit snapshot would double-apply commands and fabricate wrong
        ACKs — a replay must be a pure no-op.

        ``keys_hint``: the batch's exact key set when the caller already
        holds it (the facade's submit_many does) — the snapshot side of
        the fold join is then filtered to those keys BEFORE the
        latest-wins aggregate (the filter is on the grouping key, so
        Catalyst pushes it below the aggregate to the scans): at a
        65k-key snapshot the aggregate merges ~|batch| rows instead of
        the full table (r12 task 3 — the full-width latest-wins was the
        named term in hc_submit_many's 2.4x degradation). Exact by
        construction — latest-wins is per-key independent and the join
        only ever matches the batch's keys. The hint MUST cover every
        key in ``commands``; extra keys are harmless."""
        with phase("pb.dedup_check"):
            if str(batch_id) in self.store.committed_batch_ids():
                return None
        spark = commands.sparkSession
        if "__k" in commands.columns:
            # the engine-internal partitioning column would silently
            # shadow a user column of the same name — refuse loudly
            raise ValueError(
                "commands must not carry a column named '__k' "
                "(engine-internal partitioning key)"
            )
        # resolve the fold width up front: the commands repartition AND the
        # snapshot-side latest-wins aggregate both use it, so the fold join
        # sees two sides hash-partitioned identically on the key — zero
        # extra exchanges between scan and Python fold (the pre-r7 shape
        # joined at the session's 32 shuffle partitions and THEN
        # repartitioned down: 4 exchanges / 5 stages per micro-batch)
        fp = fold_partitions if fold_partitions is not None else self.fold_partitions
        # command-sized batches: the whole fold runs driver-side (state via
        # the batched arrow point read, handlers in-process, arrow commit
        # writes) — zero wide Spark jobs; None = fall through to the
        # distributed fold below, the semantic source of truth.
        # ``n_rows_hint`` (the facade passes its exact count) skips the
        # size-probe job: an oversized hint skips the fast path outright —
        # without it, submit_many-scale local relations paid a wasted
        # limit+collect before every distributed fold.
        if n_rows_hint is None or n_rows_hint <= self.driver_fold_max_rows:
            fast = self._driver_fold(
                spark, commands, batch_id, replies_dir, n_rows_hint
            )
            if fast is not None:
                return fast
        with phase("pb.read_state"):
            snapshot = self.store.read_state(spark, partitions=fp)
            if keys_hint is not None and snapshot is not None:
                # see keys_hint in the docstring: pushed below the
                # latest-wins aggregate (grouping-key predicate), so the
                # merge runs over the batch's keys, not the snapshot.
                # ONE parsed IN string, never Column.isin(2048 values) —
                # the py4j literal-list marshalling costs >1 s per call
                # at submit_many cardinality (the plan-build-tax class;
                # perfbench's traced cmd-bulk run shows this layer)
                # backslash BEFORE quote: Spark's lexer treats \x inside a
                # single-quoted literal as an escape, so an unescaped
                # backslash in a key ('a\b') silently changes the literal
                # and prunes the key's real state out of the fold join
                # (review finding — the exactness claim depends on this)
                lits = ",".join(
                    "'"
                    + str(k).replace("\\", "\\\\").replace("'", "\\'")
                    + "'"
                    for k in dict.fromkeys(keys_hint)
                    if k is not None
                )
                if lits:
                    snapshot = snapshot.where(
                        F.expr(f"`{self.store.key_col}` IN ({lits})")
                    )
        # ONE canonical partitioning key for repartition, join, and fold
        # grouping: the string-cast command key. Hashing the raw key and
        # joining on its cast would co-partition only when the key is
        # already a string (cast simplifies away) — for a typed key (long
        # user ids) EnsureRequirements would re-exchange the join AND the
        # groupBy at the session width, silently worse than pre-r7. The
        # cast is injective for atomic key types, the snapshot side's key
        # is a string by the engine contract (state dicts carry
        # str(command key)), and _handle_group stringifies the key it
        # reads anyway.
        commands = commands.withColumn(
            "__k", F.col(self.key_col).cast("string")
        )
        if fp is not None:
            # pre-shuffle BEFORE the snapshot join: with the snapshot side
            # partitioned the same way the join is exchange-free, and
            # groupBy.applyInArrow reuses the join output's clustering —
            # the fold pipeline is 2 exchanges total
            commands = commands.repartition(fp, F.col("__k"))
        state_fields: list[str] = []
        if snapshot is not None:
            # Actor init (§3.1.5) as a distributed left join: each command
            # row carries its aggregate's snapshot as __state__* columns.
            # Engine contract: the state dict's store.key_col value equals
            # str(command key). No driver-side state ever materializes, so
            # this scales with the snapshot table, not driver memory; at
            # 100 TB Catalyst plans it as broadcast (small batch key set)
            # or shuffled hash join.
            state_fields = snapshot.columns
            prefixed = snapshot.select(
                *[F.col(c).alias(f"__state__{c}") for c in snapshot.columns]
            )
            commands = commands.join(
                prefixed,
                F.col("__k") == prefixed[f"__state__{self.store.key_col}"],
                "left",
            )

        # The fold emits a tagged union of (kind, json payload) rows — one
        # row per output state/event/reply/tombstone — that stays DISTRIBUTED
        # end to end: the typed frames below are from_json projections of the
        # persisted fold output, and the commit writes them executor-side
        # unless the output fits driver_commit_max_rows. Above that bound
        # row data never materializes on the driver (only the row count and
        # the commit's touched-bucket ids do), so batch size is bounded by
        # the cluster, not driver memory. Handler contract:
        # state/event dicts are JSON-serializable and the declared schemas
        # use JSON-native types (string/numeric/boolean; from_json also
        # parses ISO-format timestamp strings, which json.dumps(default=str)
        # produces).
        # capture only plain values in the executor-shipped closure
        state_key_col = self.store.key_col
        types = {f.name: f.dataType for f in commands.schema.fields}
        tz = spark.conf.get("spark.sql.session.timeZone")
        key_col = self.key_col
        order_cols = self.order_cols
        process_command = self.process_command
        handle_event = self.handle_event
        context_mode = self.context_mode

        def fold(table: pa.Table) -> pa.Table:
            # ONE Arrow group carries MANY keys (__g is a salted hash of
            # __k, see below): the grouped map pays a JVM<->Python framing
            # cost per GROUP (~0.5 ms measured under applyInPandas), so
            # 2048 one-key groups would cost ~1.0 s of framing at fold
            # width 4, while _fold_frame's per-key work is list indexing
            # (23 us per key on a 128-key bucket of the submit_many shape,
            # handlers and JSON included; Xeon, one core). The bucket stays
            # Arrow until to_pylist, so a null in one key's slice never
            # rounds another key's ints through float64.
            packed = CommandEngine._fold_frame(
                {c: table.column(c).to_pylist() for c in table.column_names},
                types,
                state_fields,
                key_col,
                state_key_col,
                order_cols,
                process_command,
                handle_event,
                context_mode,
                tz,
            )
            return pa.Table.from_pylist(
                [{"kind": k, "payload": p} for k, p in packed], schema=PACKED_SCHEMA
            )

        ensure_shipped(spark)
        # persist: the fold runs ONCE; the per-kind projections and the
        # commit's bucket-merge all read the cached union. Unpersisted on the
        # next process_batch call — recomputing a returned frame after a
        # LATER commit would re-join against the newer snapshot and change
        # answers, so the cache must outlive the caller's reads of this
        # batch's frames.
        with phase("pb.fold_plan"):
            # fp resolved above (per-call override beats the engine
            # default: the facade knows its batch size — send_command is 1
            # row, and folding one command through 8 python tasks is 7
            # empty Arrow round trips). Grouping is by __g — a SALTED
            # key-hash bucket (xxhash64 of the canonical key, ~4 buckets
            # per fold partition) — so one Arrow group carries many key
            # groups and the per-group framing cost is paid ~4*fp times,
            # not |keys| times (see fold above). All rows of one key
            # share one __g by construction, so per-key serial order (R1)
            # is intact; a NULL key hashes to xxhash64's seed value — a
            # deterministic ordinary bucket. The groupBy's exchange moves
            # BATCH-sized joined rows (the snapshot side was already
            # reduced to the batch's keys by the fold join), so the extra
            # exchange is micro-batch-cheap at any snapshot width.
            n_groups = 4 * (fp if fp else 32)
            commands = commands.withColumn(
                "__g", F.pmod(F.xxhash64(F.col("__k")), F.lit(n_groups))
            )
            packed = (
                commands.groupBy("__g")
                .applyInArrow(fold, "kind string, payload string")
                .persist()
            )
        if self._prev_packed is not None:
            self._prev_packed.unpersist()
        self._prev_packed = packed

        sides = self._project_sides(packed, batch_id, replies_dir)
        # Materialize the fold ONCE before the commit's concurrent write
        # jobs: the persist() dedupe is racy under concurrent jobs (each
        # job can compute the same partition before the first finishes
        # caching it — the "Block already exists; not re-adding"
        # warnings), so without this the Arrow fold ran up to 3× and the
        # python worker pool thrashed. One cheap count() job pays a single
        # fold pass; the write jobs then scan cached blocks only.
        with phase("pb.materialize"):
            n_packed = packed.count()
        # driver-safe batches: collect the cached fold (one fast job over
        # cached blocks) so the commit can write all its parquet
        # driver-side — zero Spark write jobs. Any failure here or any
        # value that doesn't coerce exactly inside commit falls back to the
        # Spark writes.
        driver_sides = None
        if (
            self.driver_commit_max_rows
            and n_packed <= self.driver_commit_max_rows
            and self._driver_structs() is not None
        ):
            with phase("pb.collect_rows"):
                try:
                    driver_sides = self._split_sides(
                        ((r[0], r[1]) for r in packed.collect()),
                        str(batch_id) if replies_dir is not None else None,
                    )
                except Exception:  # noqa: BLE001 — Spark path is the truth
                    driver_sides = None
        result = BatchResult(driver_sides, lambda: sides)
        self._commit(result, batch_id, replies_dir)
        return result

    def _commit(
        self, result: BatchResult, batch_id: str, replies_dir: str | None
    ) -> None:
        """The one commit of a folded batch, shared by the driver fold and
        the distributed fold on every store mode. Every batch commits, even
        one that changed nothing: rejection-only and empty batches persist
        their ACKs (replies_for_batch recovery) and enter the R4 dedup set,
        so a foreachBatch replay can never re-fold them and re-run side
        effects. An empty events, records or delta side writes no dir.
        The store writes ``result``'s rows driver-side when it can, and
        builds its frames only when it takes the Spark writes."""
        def commit_frames() -> dict:
            sides = result.frames()
            return {
                "events": sides["events_df"].coalesce(1),
                "state_updates": sides["state_df"].coalesce(1),
                "replies": sides["replies_to_commit"],
                "delete_keys": sides["tombstones"],
                "records": sides["records_df"].coalesce(1) if self.context_mode else None,
            }

        with phase("pb.commit"):
            self.store.commit(
                None,
                LazyFrames(
                    commit_frames,
                    ("events", "replies") + (("records",) if self.context_mode else ()),
                ),
                batch_id,
                updates_unique=True,  # the fold emits at most one state row/key
                replies_dir=replies_dir,
                driver_sides=result._rows,
            )

    # -- streaming & serving -------------------------------------------------

    def run_stream(
        self,
        commands_stream: DataFrame,
        checkpoint: str,
        replies_path: str | None = None,
        **trigger,
    ):
        """Attach the engine to a commands stream (Kafka in prod, any source
        in tests) via foreachBatch — the micro-batch is surge's 50 ms flush
        batch (reference.conf:20-21), and the snapshot-store commit is the
        Kafka transaction. When ``replies_path`` is set, each batch appends
        its ACK rows there keyed by command_id — the §3.1.9 reply channel an
        RPC gateway polls to complete sendCommand futures."""

        def on_batch(batch_df: DataFrame, batch_id: int) -> None:
            # no isEmpty() pre-check: that is a take(1) job (~0.2 s of a
            # micro-batch locally) and Spark only fires foreachBatch when
            # the trigger has new offsets; a rare genuinely-empty batch
            # folds to nothing and commits an empty (harmless) version.
            target = (
                os.path.join(replies_path, f"batch={batch_id}")
                if replies_path is not None
                else None
            )
            # the commit writes the ACKs once, staged next to the gateway
            # dir and renamed into place only AFTER the manifest publishes
            # — the gateway polls for the final dir, so an ack can never
            # become visible for a batch whose commit can still fail
            # (commit precedes ack, same as the old two-write scheme but
            # with a single write job per batch).
            result = self.process_batch(batch_df, str(batch_id), replies_dir=target)
            if result is None and target is not None:
                # replayed batch committed by a PRIOR engine run: its acks
                # are durable in the store, but may live in the version dir
                # (older layout, or a non-streaming committer) rather than
                # the gateway dir — recover them idempotently. When the
                # manifest already points AT the gateway dir, the acks are
                # in place; rewriting would read and clobber the same files.
                loc = self.store.replies_location(str(batch_id))
                if loc is not None and os.path.abspath(loc) == os.path.abspath(target):
                    # acks were committed to the gateway dir; a crash
                    # between manifest link and the publication rename
                    # leaves them staged — finish it (idempotent), then
                    # there is nothing to rewrite
                    self.store.ensure_replies_published(str(batch_id))
                    return
                spark = batch_df.sparkSession
                recovered = self.store.replies_for_batch(spark, str(batch_id))
                if recovered is not None:
                    cols = recovered.columns
                    if "batch_id" not in cols:
                        recovered = recovered.withColumn(
                            "batch_id", F.lit(str(batch_id))
                        )
                    recovered.coalesce(1).write.mode("overwrite").parquet(target)

        return (
            commands_stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )

    def get_state(self, spark: SparkSession, aggregate_id: str) -> dict | None:
        """§3.2 read path: point query of the latest committed snapshot —
        read-your-writes because process_batch committed before replying."""
        return self.store.get_state(spark, aggregate_id)

    @staticmethod
    def prune_replies(replies_path: str, keep_last: int = 1000) -> int:
        """Reply-channel retention: drop the oldest per-batch reply dirs
        beyond ``keep_last`` (surge expires publish trackers after 60 s,
        reference.conf:182-183 — same idea, bounded by count not time so a
        paused consumer can still drain). Returns dirs removed."""
        import shutil

        if not os.path.isdir(replies_path):
            return 0
        entries = [d for d in os.listdir(replies_path) if d.startswith("batch=")]
        # orphaned writer-unique staging dirs (commit crashed before the
        # manifest, or a fenced loser) must not count toward keep_last —
        # they would permanently displace real batch dirs from the
        # retention window. Reclaim any whose final dir exists (published,
        # so the staging copy is stale) and skip the rest.
        batches = []
        removed = 0
        for d in entries:
            p = os.path.join(replies_path, d)
            if ".staging-" in d:
                final = os.path.join(replies_path, d.split(".staging-", 1)[0])
                if os.path.isdir(final):
                    shutil.rmtree(p)
                    removed += 1
                continue
            batches.append(p)

        # order by the numeric batch id in the dir name, not mtime: a
        # replayed old batch dir is rewritten (mode overwrite) and gets a
        # fresh mtime, which would evict newer batches while keeping older
        # ones. Non-numeric ids (ad-hoc callers) fall back after numeric
        # ones in name order.
        def batch_key(p: str):
            bid = os.path.basename(p).split("=", 1)[1]
            return (0, int(bid), "") if bid.isdigit() else (1, 0, bid)

        batches.sort(key=batch_key)
        for d in batches[: max(0, len(batches) - keep_last)]:
            shutil.rmtree(d)
            removed += 1
        return removed

    @staticmethod
    def await_caught_up(query, timeout_s: float = 60.0, poll_s: float = 0.5) -> bool:
        """R3 lag-gated startup (waitingForKTableIndexing,
        KafkaProducerActorImpl.scala:202-218): wait until consumer lag
        reaches 0 before serving reads / accepting writes.

        Polls StreamingQuery.lastProgress and computes per-partition lag
        (sources.kafka.consumer_lag, the KTableLagChecker analog) — safe on
        a live source, where processAllAvailable() would block as long as
        producers keep writing. Sources without offset lag info (file
        streams) count as caught up once a full trigger processed zero new
        rows. Returns True if caught up within the timeout."""
        import time as _time

        from ..sources.kafka import consumer_lag

        deadline = _time.monotonic() + timeout_s
        while _time.monotonic() < deadline:
            progress = query.lastProgress
            if progress:
                lags = consumer_lag(progress)
                if lags:
                    if all(v == 0 for v in lags.values()):
                        return True
                elif progress.get("numInputRows", 1) == 0:
                    return True
            if not query.isActive:
                return False
            _time.sleep(poll_s)
        return False
