"""User-facing engine facade — the scaladsl API surface (SURVEY §3, §2.10).

Mirrors the reference's public shape so a surge user maps their program 1:1:

    surge (scaladsl)                        surge_spark
    ------------------------------------    ----------------------------------
    SurgeCommand.create(businessLogic)      SurgeEngine(spark, model, path)
    engine.aggregateFor(id)                 engine.aggregate_for(id)
    ref.sendCommand(cmd)                    ref.send_command(cmd)
    ref.getState                            ref.get_state()
    ref.applyEvents(events)                 ref.apply_events(events)
    CommandSuccess/CommandFailure           CommandResult(status, state, error)

(AggregateRef.scala:35-58, SurgeCommand.scala:27-69,
AggregateRefResult.scala:5-11.) Commands submitted through the facade are
processed synchronously as single-command micro-batches — the degenerate
form of the streaming engine (run the commands topic through
CommandEngine.run_stream in production; the semantics are identical because
both paths share process_batch).
"""

from __future__ import annotations

import itertools
import json
import uuid
from collections.abc import Sequence
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
from pyspark.sql import SparkSession

from .streaming.command_engine import CommandEngine, arrow_frame
from .streaming.snapshot_store import SnapshotStore


@dataclass
class SurgeModel:
    """The business-logic bundle (SurgeModel.scala:20 / U1-U6): handlers plus
    the schemas that replace surge's user serdes."""

    process_command: Any  # (state|None, cmd) -> (events, rejected)
    handle_event: Any  # (state|None, event) -> state|None
    state_schema: str
    event_schema: str
    key_col: str = "aggregate_id"
    # command_id is injected by the facade on every command, so the default
    # ordering never KeyErrors; streaming deployments order by event time
    order_cols: Sequence[str] = ("command_id",)


@dataclass
class CommandResult:
    """CommandSuccess | CommandFailure (AggregateRefResult.scala:5-11)."""

    status: str  # success | rejected | error: <type>
    state: dict | None
    command_id: str

    @property
    def is_success(self) -> bool:
        return self.status == "success"


class AggregateRef:
    """aggregateFor(id) handle (AggregateRef.scala:35-58)."""

    def __init__(self, engine: "SurgeEngine", aggregate_id: str) -> None:
        self._engine = engine
        self.aggregate_id = aggregate_id

    def send_command(self, **cmd: Any) -> CommandResult:
        """3.1 write path: process → atomic commit → ack with new state.

        Cost note: each call is ONE single-command micro-batch — a few
        Spark jobs plus a store commit. That is the right shape for the
        interactive facade it mirrors (ref.sendCommand), not for volume:
        looping send_command over N commands pays N commits. Batch callers
        should use ``engine.submit_many`` (one commit for the whole batch)
        or run the commands topic through ``CommandEngine.run_stream``."""
        return self._engine._submit(self.aggregate_id, cmd)

    def get_state(self) -> dict | None:
        """3.2 read path: point read of the latest committed snapshot;
        read-your-writes per R2 (the commit happens before send_command
        returns)."""
        return self._engine._store.get_state(self._engine._spark, self.aggregate_id)

    def apply_events(self, events: list[dict]) -> dict | None:
        """3.3 event path (SurgeEvent engine): fold events directly, skip
        command processing; state-only publish, and only on change."""
        return self._engine._apply_events(self.aggregate_id, events)


class SurgeEngine:
    def __init__(
        self,
        spark: SparkSession,
        model: SurgeModel,
        store_path: str,
        fold_partitions: int | None = None,
        delta_commits: int | None = 16,
        change_feed: bool = False,
        num_buckets: int | None = None,
    ) -> None:
        """``fold_partitions`` right-sizes the per-batch fold shuffle for
        command-sized batches (see CommandEngine.__init__); the facade's
        single-command micro-batches otherwise pay one Python worker
        round-trip per mostly-empty session shuffle partition.

        ``delta_commits``: the snapshot store's merge-on-read interval
        (SnapshotStore.__init__) — the facade's one-commit-per-command
        usage is exactly the workload the append path exists for; pass
        ``None`` for copy-on-write commits, each a rewrite of the touched
        buckets through the same driver rewrite and Spark fallback as a
        compaction.

        ``change_feed``: record a COMPLETE change data feed (first/COW/
        compaction commits capture their own batch — append commits' delta
        dirs are free records regardless). Required on an engine whose
        store is a DR-replication primary (replicate_changes /
        run_change_replication), and on a promoted standby that may itself
        be re-replicated.

        ``num_buckets``: the store's crc32 bucket count (None = the store
        default) — a deployment knob sized to key cardinality, same as the
        raw SnapshotStore's; the facade passes it through so
        high-cardinality engines don't funnel every key into a handful of
        bucket files."""
        self._spark = spark
        self._model = model
        self._store = SnapshotStore(
            store_path,
            key_col=model.key_col,
            delta_commits=delta_commits,
            change_feed=change_feed,
            **({"num_buckets": num_buckets} if num_buckets is not None else {}),
        )
        self._engine = CommandEngine(
            self._store,
            model.process_command,
            model.handle_event,
            model.state_schema,
            model.event_schema,
            key_col=model.key_col,
            order_cols=list(model.order_cols),
            fold_partitions=fold_partitions,
        )
        self._seq = itertools.count()

    def aggregate_for(self, aggregate_id: str) -> AggregateRef:
        return AggregateRef(self, str(aggregate_id))

    def submit_many(
        self, commands: Sequence[tuple[str, dict]]
    ) -> list[CommandResult]:
        """Submit many commands as ONE micro-batch / ONE store commit — the
        volume path the per-call ``send_command`` facade is not (see its
        cost note). ``commands`` is [(aggregate_id, cmd_dict), ...]; results
        come back in submission order, and commands for the same aggregate
        are processed in submission order (R1 — the injected command_id is
        the order column, zero-padded so lexicographic == numeric).

        All commands must share one field set (they land in one DataFrame);
        mixed shapes should pre-serialize their payload, same as the
        reference moves opaque SerializedMessage bytes."""
        if not commands:
            return []
        rows = []
        ids = []
        for aggregate_id, cmd in commands:
            n = next(self._seq)
            command_id = str(cmd.get("command_id") or f"cmd-{n:012d}")
            ids.append(command_id)
            rows.append(
                {
                    **cmd,
                    self._model.key_col: str(aggregate_id),
                    "command_id": command_id,
                }
            )
        fields = set(rows[0])
        for r in rows[1:]:
            if set(r) != fields:
                raise TypeError(
                    "submit_many commands must share one field set; got "
                    f"{sorted(fields)} vs {sorted(set(r))}"
                )
        batch = self._create_batch_frame(rows)
        result = self._engine.process_batch(
            batch,
            f"submit-{uuid.uuid4().hex}",
            n_rows_hint=len(rows),
            # the facade holds the exact key set — the engine filters the
            # snapshot side of the fold join to it before the latest-wins
            # aggregate (full-width merge was hc_submit_many's named term)
            keys_hint=[r[self._model.key_col] for r in rows],
        )
        assert result is not None  # uuid cannot collide with committed ids
        by_id = {r["command_id"]: r for r in result.rows("replies")}
        out = []
        for command_id in ids:
            r = by_id[command_id]
            state = json.loads(r["new_state"]) if r["new_state"] else None
            out.append(CommandResult(r["status"], state, command_id))
        return out

    # -- internals -------------------------------------------------------

    def _create_batch_frame(self, rows: list[dict]):
        """Command rows -> DataFrame through Arrow (``arrow_frame``): one
        builder for every batch size, exact ints, and a double NaN kept
        apart from null. _infer_schema rejects nested values and rows that
        disagree on a field's type, so primitives of one type are
        guaranteed."""
        return arrow_frame(self._spark, rows, self._infer_schema(rows))

    def _submit(self, aggregate_id: str, cmd: dict) -> CommandResult:
        n = next(self._seq)
        command_id = str(cmd.get("command_id") or f"cmd-{n}")
        row = {**cmd, self._model.key_col: aggregate_id, "command_id": command_id}
        batch = self._create_batch_frame([row])
        # uuid batch ids: a per-engine counter would collide with a prior
        # engine instance on the same store and be silently R4-deduped
        batch_id = f"submit-{uuid.uuid4().hex}"
        # single-command batch: one fold partition (the engine-level
        # fold_partitions is sized for submit_many-scale batches)
        result = self._engine.process_batch(
            batch,
            batch_id,
            fold_partitions=1,
            n_rows_hint=1,
            keys_hint=[row[self._model.key_col]],
        )
        assert result is not None  # uuid cannot collide with committed ids
        reply = next(r for r in result.rows("replies") if r["command_id"] == command_id)
        state = json.loads(reply["new_state"]) if reply["new_state"] else None
        return CommandResult(reply["status"], state, command_id)

    def _apply_events(self, aggregate_id: str, events: list[dict]) -> dict | None:
        state = self._store.get_state(self._spark, aggregate_id)
        prev = state
        for ev in events:
            state = self._model.handle_event(state, ev)
        if state != prev:
            # publish on ANY change, including deletion (the reference
            # publishes whenever stateOpt != result.state): a non-None ->
            # None transition tombstones the snapshot row so get_state stops
            # serving the deleted aggregate
            if state is not None:
                updates = self._spark.createDataFrame(
                    [state], schema=self._model.state_schema
                )
                delete_keys = None
            else:
                updates = self._spark.createDataFrame(
                    [], schema=self._model.state_schema
                )
                delete_keys = [aggregate_id]
            self._store.commit(
                None,
                updates,
                f"apply-events-{uuid.uuid4().hex}",
                delete_keys=delete_keys,
            )
        return state

    @staticmethod
    def _infer_schema(rows: list[dict]) -> pa.Schema:
        """Arrow schema of a command batch: each field takes the type of
        its value in the first row (None reads as string), and every other
        row must hold a value of exactly that type or None — pyarrow would
        otherwise convert a mismatch silently (2.5 in a long field reads
        back as 2)."""
        fields = []
        for k, v in rows[0].items():
            if isinstance(v, bool):
                t, ok = pa.bool_(), bool
            elif isinstance(v, int):
                t, ok = pa.int64(), int
            elif isinstance(v, float):
                t, ok = pa.float64(), float
            elif v is None or isinstance(v, str):
                t, ok = pa.string(), str
            else:
                raise TypeError(
                    f"command field {k!r} has unsupported type "
                    f"{type(v).__name__}; pre-serialize nested payloads "
                    "(e.g. json.dumps) — the engine moves opaque strings/"
                    "bytes like the reference (SerializedMessage.scala:6)"
                )
            for r in rows:
                x = r[k]
                # bool is an int subclass: only a boolean field takes one
                if x is not None and (
                    not isinstance(x, ok) or isinstance(x, bool) is not (ok is bool)
                ):
                    raise TypeError(
                        f"command field {k!r} holds {type(x).__name__} "
                        f"{x!r} where the batch's first row set {t}"
                    )
            fields.append(pa.field(k, t))
        return pa.schema(fields)
