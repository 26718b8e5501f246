"""U7 — the multilanguage protocol surface (§3.4).

The reference exposes surge to non-JVM languages over gRPC: a
``MultilanguageGatewayService`` (ForwardCommand / GetState / HealthCheck)
fronts the engine, and the engine calls business logic back out over a
``BusinessLogicService`` (ProcessCommand / HandleEvents) where state,
command, and event are opaque ``{aggregateId, bytes payload}`` envelopes —
multilanguage-protocol.proto:7-20,82-92;
MultilanguageGatewayServiceImpl.scala:29-81;
GenericAsyncAggregateCommandModel.scala:50-103.

This module re-creates that protocol transport-agnostically:

- the proto message shapes are plain dataclasses (same field names);
- ``BusinessLogicService`` is the callback contract — implement it in any
  Python object (methods may be ``async``, matching the reference's
  Future-based bridge); a real gRPC client implementing the same three
  methods plugs in unchanged;
- ``GenericCommandModel`` adapts a BusinessLogicService to the engine's
  context-aware handler (U4): processCommand → events, then ONE
  handleEvents call with the full event list computes the new state —
  exactly the reference bridge's composition
  (GenericAsyncAggregateCommandModel.scala:50-76, 84-103), including the
  "Wrong aggregate ids!" validation;
- ``MultilanguageGateway`` is the gateway service: forward_command /
  get_state / health_check with the proto reply shapes;
- the cross-process wire is ``h2c.py`` (serve_business_logic_h2c /
  H2cBusinessLogicClient): cleartext-HTTP/2 frames, HPACK header blocks,
  the 5-byte gRPC message prefix and grpc-status trailers around REAL
  proto3 payloads (proto_wire.py — hand-rolled varint/length-delimited
  encoding of the reference's exact message shapes, golden-byte-pinned).
  This module holds the transport-independent half both ends share: the
  server-side dispatch table (``_dispatch``) and the client's three-method
  contract over one ``_call`` (``BusinessLogicCallerMixin``). The client
  carries only (host, port) and dials per call, so it pickles into Spark's
  Python workers and the distributed fold really does call out of
  process, exactly like the reference engine calling a business app over
  gRPC. grpcio itself stays uninstallable here, but the wire is
  frame-for-frame gRPC-over-h2c.

Payloads are opaque bytes end to end. Inside the engine they ride as
base64 strings (the snapshot store's schemas are JSON-native by contract,
command_engine.py process_batch notes), decoded back at the protocol edge.
"""

from __future__ import annotations

import base64
import json
import uuid
from dataclasses import dataclass
from typing import Any, Protocol

from pyspark.sql import SparkSession

from . import proto_wire as pw

from .command_engine import CommandEngine
from .context import SurgeContext
from .snapshot_store import SnapshotStore

# -- proto message shapes (multilanguage-protocol.proto:7-66) ----------------


@dataclass(frozen=True)
class State:
    aggregate_id: str
    payload: bytes


@dataclass(frozen=True)
class Command:
    aggregate_id: str
    payload: bytes


@dataclass(frozen=True)
class Event:
    aggregate_id: str
    payload: bytes


@dataclass(frozen=True)
class ProcessCommandReply:
    """proto:27-33 — business logic's answer to ProcessCommand."""

    aggregate_id: str
    is_success: bool
    rejection_message: str = ""
    events: tuple[Event, ...] = ()


@dataclass(frozen=True)
class ForwardCommandReply:
    """proto:52-58 — the gateway's answer to a forwarded command."""

    aggregate_id: str
    is_success: bool
    rejection_message: str = ""
    new_state: State | None = None
    logged_events: tuple[Event, ...] = ()


@dataclass(frozen=True)
class GetStateReply:
    aggregate_id: str
    state: State | None = None


@dataclass(frozen=True)
class HealthCheckReply:
    service_name: str
    status: str = "UP"  # proto:73-80 enum {UP, DOWN}


class BusinessLogicService(Protocol):
    """The callback contract the engine invokes (proto service
    BusinessLogicService:88-92). Methods may be sync or ``async`` — the
    engine awaits coroutines per key (U3 machinery)."""

    def process_command(
        self, aggregate_id: str, state: State | None, command: Command
    ) -> ProcessCommandReply: ...

    def handle_events(
        self, aggregate_id: str, state: State | None, events: list[Event]
    ) -> State | None: ...

    def health_check(self) -> HealthCheckReply: ...


# -- engine adapter ----------------------------------------------------------

STATE_SCHEMA = "aggregate_id string, payload string"
EVENT_SCHEMA = "payload string, aggregate_id string"


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode("ascii")


def _unb64(s: str | None) -> bytes:
    return base64.b64decode(s) if s else b""


def _state_of(key: str, state_dict: dict | None) -> State | None:
    if state_dict is None:
        return None
    return State(key, _unb64(state_dict.get("payload")))


class GenericCommandModel:
    """Context-aware handler (U4) bridging the engine to a
    BusinessLogicService — the Spark analog of
    GenericAsyncAggregateCommandModel.scala:15-103. Rejections reject the
    context (nothing persists); the full event list goes through ONE
    handle_events call to compute the new state, and id mismatches fail the
    command like the reference's validIds checks (":26-44")."""

    def __init__(self, service: BusinessLogicService) -> None:
        self.service = service

    async def __call__(
        self, ctx: SurgeContext, state: dict | None, cmd: dict
    ) -> SurgeContext:
        import inspect

        async def call(value):
            return await value if inspect.iscoroutine(value) else value

        key = str(cmd["aggregate_id"])
        if state is not None and str(state.get("aggregate_id")) != key:
            raise ValueError("Wrong aggregate ids!")
        reply = await call(
            self.service.process_command(
                key, _state_of(key, state), Command(key, _unb64(cmd.get("payload")))
            )
        )
        if not reply.is_success:
            return ctx.reject(reply.rejection_message)
        events = list(reply.events)
        if any(e.aggregate_id != key for e in events):
            raise ValueError("Wrong aggregate ids!")
        new_state = state
        if events:  # no events → state unchanged (reference :86-88)
            result = await call(
                self.service.handle_events(key, _state_of(key, state), events)
            )
            new_state = (
                {"aggregate_id": key, "payload": _b64(result.payload)}
                if result is not None
                else None
            )
        for e in events:
            ctx = ctx.persist_event({"payload": _b64(e.payload)})
        return ctx.update_state(new_state)


# -- the proto3 method table shared by both wire ends ------------------------
#
# Requests and replies are real proto3 wire format (proto_wire.py,
# byte-compatible with the reference's generated stubs — golden-byte tests
# pin this). The method ids map to gRPC ``:path`` values in h2c.py.

_M_PROCESS_COMMAND, _M_HANDLE_EVENTS, _M_HEALTH_CHECK = 1, 2, 3


def _state_proto(s: State | None) -> bytes | None:
    return None if s is None else pw.encode_kv(s.aggregate_id, s.payload)


def _state_unproto(b: bytes | None) -> State | None:
    if b is None:
        return None
    agg, payload = pw.decode_kv(b)
    return State(agg, payload)


def _dispatch(service: BusinessLogicService, method: int, body: bytes) -> bytes:
    """Server-side method dispatch (sync or async service methods):
    proto3 request bytes in, proto3 reply bytes out."""
    import asyncio
    import inspect

    def run(value):
        return asyncio.run(value) if inspect.iscoroutine(value) else value

    if method == _M_PROCESS_COMMAND:
        agg, state_b, cmd_b = pw.decode_process_command_request(body)
        cmd_agg, cmd_payload = pw.decode_kv(cmd_b)
        r = run(
            service.process_command(
                agg, _state_unproto(state_b), Command(cmd_agg or agg, cmd_payload)
            )
        )
        return pw.encode_process_command_reply(
            r.aggregate_id,
            r.is_success,
            r.rejection_message,
            [pw.encode_kv(e.aggregate_id, e.payload) for e in r.events],
        )
    if method == _M_HANDLE_EVENTS:
        agg, state_b, event_bs = pw.decode_handle_events_request(body)
        events = []
        for eb in event_bs:
            e_agg, e_payload = pw.decode_kv(eb)
            events.append(Event(e_agg or agg, e_payload))
        s = run(service.handle_events(agg, _state_unproto(state_b), events))
        return pw.encode_handle_events_response(agg, _state_proto(s))
    if method == _M_HEALTH_CHECK:
        r = run(service.health_check())
        status = pw.HEALTH_DOWN if str(r.status).upper() == "DOWN" else pw.HEALTH_UP
        return pw.encode_health_check_reply(r.service_name, status)
    raise ValueError(f"unknown method id {method!r}")


class BusinessLogicCallerMixin:
    """The three BusinessLogicService methods expressed over a transport's
    ``self._call(method_int, proto_request_bytes) -> proto_reply_bytes``;
    the h2c gRPC client (h2c.py) supplies the transport."""

    def _call(self, method: int, payload: bytes) -> bytes:  # pragma: no cover
        raise NotImplementedError

    def process_command(
        self, aggregate_id: str, state: State | None, command: Command
    ) -> ProcessCommandReply:
        body = self._call(
            _M_PROCESS_COMMAND,
            pw.encode_process_command_request(
                aggregate_id,
                _state_proto(state),
                pw.encode_kv(command.aggregate_id, command.payload),
            ),
        )
        agg, ok, rejection, event_bs, _ns = pw.decode_process_command_reply(body)
        events = []
        for eb in event_bs:
            e_agg, e_payload = pw.decode_kv(eb)
            events.append(Event(e_agg or agg, e_payload))
        return ProcessCommandReply(
            aggregate_id=agg,
            is_success=ok,
            rejection_message=rejection,
            events=tuple(events),
        )

    def handle_events(
        self, aggregate_id: str, state: State | None, events: list[Event]
    ) -> State | None:
        body = self._call(
            _M_HANDLE_EVENTS,
            pw.encode_handle_events_request(
                aggregate_id,
                _state_proto(state),
                [pw.encode_kv(e.aggregate_id, e.payload) for e in events],
            ),
        )
        _agg, state_b = pw.decode_handle_events_response(body)
        return _state_unproto(state_b)

    def health_check(self) -> HealthCheckReply:
        body = self._call(_M_HEALTH_CHECK, pw.encode_health_check_request())
        name, status = pw.decode_health_check_reply(body)
        return HealthCheckReply(
            service_name=name,
            status="DOWN" if status == pw.HEALTH_DOWN else "UP",
        )


# -- the gateway service -----------------------------------------------------


class MultilanguageGateway:
    """MultilanguageGatewayService (proto:82-86) over a CommandEngine: each
    forwarded command is one single-row micro-batch through the §3.1
    pipeline (commit → read-your-writes ACK), exactly the sendCommand the
    reference gateway performs (MultilanguageGatewayServiceImpl.scala:29-56).
    """

    def __init__(
        self,
        store: SnapshotStore,
        service: BusinessLogicService,
        service_name: str = "surge-spark-multilanguage",
    ) -> None:
        self.service = service
        self.service_name = service_name
        self.engine = CommandEngine(
            store,
            process_command=GenericCommandModel(service),
            handle_event=None,
            state_schema=STATE_SCHEMA,
            event_schema=EVENT_SCHEMA,
            key_col="aggregate_id",
            order_cols=["ts"],
            context_mode=True,
        )

    def forward_command(
        self, spark: SparkSession, aggregate_id: str, payload: bytes
    ) -> ForwardCommandReply:
        cmds = spark.createDataFrame(
            [(str(aggregate_id), _b64(payload), 0, str(uuid.uuid4()))],
            "aggregate_id string, payload string, ts long, command_id string",
        )
        result = self.engine.process_batch(cmds, f"ml-{uuid.uuid4().hex}")
        assert result is not None  # fresh uuid batch id is never a replay
        reply = result.rows("replies")[0]
        logged = tuple(
            Event(str(aggregate_id), _unb64(r.get("payload")))
            for r in result.rows("events")
        )
        if reply["status"] == "success":
            return ForwardCommandReply(
                aggregate_id=str(aggregate_id),
                is_success=True,
                new_state=self.get_state(spark, aggregate_id).state,
                logged_events=logged,
            )
        import json

        msg = reply["rejection"] or reply["status"]
        if isinstance(msg, str):
            try:
                msg = json.loads(msg)
            except ValueError:
                pass
        return ForwardCommandReply(
            aggregate_id=str(aggregate_id),
            is_success=False,
            rejection_message=str(msg),
        )

    def get_state(self, spark: SparkSession, aggregate_id: str) -> GetStateReply:
        row = self.engine.get_state(spark, str(aggregate_id))
        state = (
            State(str(aggregate_id), _unb64(row.get("payload"))) if row else None
        )
        return GetStateReply(aggregate_id=str(aggregate_id), state=state)

    def health_check(self) -> HealthCheckReply:
        """proto HealthCheck: UP iff the business service answers UP too
        (the reference gateway health-checks its business app)."""
        try:
            svc = self.service.health_check()
            status = "UP" if svc.status == "UP" else "DOWN"
        except Exception:  # noqa: BLE001 — unreachable business app
            status = "DOWN"
        return HealthCheckReply(service_name=self.service_name, status=status)
