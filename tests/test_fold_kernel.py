"""Parity pin for the per-key fold kernel (``CommandEngine._fold_frame``).

The kernel replaced a per-key pandas path: ``groupby("__k")`` over the
distributed fold's bucket, a per-key ``astype`` restoring integral columns,
and a ``_handle_group`` that took a per-key frame (``iloc`` for the key and
initial state, ``sort_values`` for command order, a row iterator for the
command dicts). A frozen copy of that path is the oracle below, fed each
key's slice of the Arrow bucket converted to pandas on its own
(``table.take(idx).to_pandas()``, timestamps made naive in the session time
zone as applyInPandas makes them): that per-key conversion is the semantics
the kernel claims. Generated multi-key buckets, with ints above 2^53 next to
nulls in other keys' slices, must fold to the same packed rows, and every
handler must receive the same cmd/state dicts (same keys, same order, same
Python value types, NaN and NaT included), for plain, async and
context-mode handlers. The driver fold's batch columns
(``CommandEngine._batch_columns``) built from the same commands must fold
identically too: the distributed fold is the source of truth.

No Spark session: buckets are built with pyarrow, typed as applyInArrow
hands them to the fold.
"""

from __future__ import annotations

import asyncio
import datetime as dt
import inspect
import json

import pandas as pd
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T

from surge_spark.streaming.command_engine import CommandEngine
from surge_spark.streaming.context import ProducerRecord, SurgeContext

# -- the frozen per-key path (the oracle) ----------------------------------


def _ref_handle_group(
    pdf, state_fields, key_col, store_key_col, order_cols,
    process_command, handle_event, context_mode,
):
    key = str(pdf[key_col].iloc[0])
    state = None
    if state_fields and pdf[f"__state__{store_key_col}"].notna().iloc[0]:
        first = pdf.iloc[0]
        state = {
            f: (v.item() if hasattr(v, "item") else v)
            for f in state_fields
            for v in [first[f"__state__{f}"]]
        }
    initial_state = state
    events_out: list = []
    records_out: list = []
    replies: list = []
    present_order = [c for c in order_cols if c in pdf.columns]
    if present_order and len(pdf) > 1:
        pdf = pdf.sort_values(present_order, kind="mergesort")
    loop = None

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
            "new_state": json.dumps(new_state, default=str) if new_state is not None else None,
            "rejection": json.dumps(rejection, default=str) if rejection is not None else None,
            "reply": json.dumps(reply, default=str) if reply is not None else None,
        }

    cols = list(pdf.columns)
    try:
        for vals in zip(*(pdf[c].tolist() for c in cols)):
            cmd = dict(zip(cols, vals))
            if context_mode:
                try:
                    ctx = run(process_command(SurgeContext(state=state), state, cmd))
                except Exception as e:  # noqa: BLE001
                    replies.append(reply_row(f"error: {type(e).__name__}"))
                    continue
                if ctx.rejected:
                    replies.append(reply_row("rejected", state, rejection=ctx.rejection))
                    continue
                pre_state, pre_ev, pre_rec = state, len(events_out), len(records_out)
                try:
                    state = ctx.state
                    for ev, topic in ctx.events:
                        events_out.append(({**ev, store_key_col: key}, topic))
                    for rec in ctx.records:
                        records_out.append({"topic": rec.topic, "key": rec.key, "value": rec.value})
                    for fn in ctx.side_effects:
                        run(fn(state))
                    reply = run(ctx.reply_fn(state)) if ctx.reply_fn else None
                except Exception as e:  # noqa: BLE001
                    state = pre_state
                    del events_out[pre_ev:]
                    del records_out[pre_rec:]
                    replies.append(reply_row(f"error: {type(e).__name__}"))
                    continue
                replies.append(reply_row("success", state, reply=reply))
                continue
            try:
                events, rejected = run(process_command(state, cmd))
            except Exception as e:  # noqa: BLE001
                replies.append(reply_row(f"error: {type(e).__name__}"))
                continue
            if rejected:
                replies.append(reply_row("rejected", state))
                continue
            pre_state, pre_ev = state, len(events_out)
            try:
                for ev in events:
                    state = run(handle_event(state, ev))
                    events_out.append(({**ev, store_key_col: key}, None))
            except Exception as e:  # noqa: BLE001
                state = pre_state
                del events_out[pre_ev:]
                replies.append(reply_row(f"error: {type(e).__name__}"))
                continue
            replies.append(reply_row("success", state))
    finally:
        if loop is not None:
            loop.close()
    state_rows = [state] if state != initial_state and state is not None else []
    deleted_keys = [key] if initial_state is not None and state is None else []
    return state_rows, events_out, replies, deleted_keys, records_out


def _ref_pack_rows(s, e, r, d, recs, state_key_col):
    return (
        [("state", json.dumps(x, default=str)) for x in s]
        + [("event", json.dumps({"event": ev, "topic": t}, default=str)) for ev, t in e]
        + [("reply", json.dumps(x, default=str)) for x in r]
        + [("tombstone", json.dumps({state_key_col: k})) for k in d]
        + [("record", json.dumps(x, default=str)) for x in recs]
    )


def _ref_fold(table, state_fields, integral_cols, key_col, store_key_col,
              order_cols, process_command, handle_event, context_mode, tz):
    out = []
    groups: dict = {}
    for i, k in enumerate(table.column("__k").to_pylist()):
        groups.setdefault(k, []).append(i)
    for idx in groups.values():
        kpdf = table.take(idx).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True
        )
        for c in kpdf.columns:
            if isinstance(kpdf[c].dtype, pd.DatetimeTZDtype):
                kpdf[c] = kpdf[c].dt.tz_convert(tz).dt.tz_localize(None)
        kpdf = kpdf.drop(columns=["__g", "__k"])
        for c in integral_cols:
            col = kpdf[c]
            if col.dtype.kind == "f" and col.notna().all():
                kpdf[c] = col.astype("int64")
        s, e, r, d, recs = _ref_handle_group(
            kpdf, state_fields, key_col, store_key_col, order_cols,
            process_command, handle_event, context_mode,
        )
        out.extend(_ref_pack_rows(s, e, r, d, recs, store_key_col))
    return out


# -- generated buckets -----------------------------------------------------

COMMAND_FIELDS = [
    T.StructField("k", T.StringType()),
    T.StructField("command_id", T.StringType()),
    T.StructField("seq", T.LongType()),
    T.StructField("sub", T.IntegerType()),
    T.StructField("amt", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("at", T.TimestampType()),
]
STATE_FIELDS = [
    T.StructField("k", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("ts", T.TimestampType()),
]
ARROW_TYPES = {
    "k": pa.string(), "command_id": pa.string(), "seq": pa.int64(),
    "sub": pa.int32(), "amt": pa.int64(), "op": pa.string(),
}
SPARK_TYPES = {
    **{f.name: f.dataType for f in COMMAND_FIELDS},
    "__k": T.StringType(),
    **{f"__state__{f.name}": f.dataType for f in STATE_FIELDS},
    "__g": T.LongType(),
}
INTEGRAL = ["seq", "sub", "amt", "__state__n"]
ORDER = ["seq", "sub"]
OPS = ["ok", "ok", "reject", "boom", "evboom", "del", "topic"]
ZONES = ["UTC", "America/New_York"]

_small = st.integers(0, 2)
# above 2^53 a float64 no longer holds every int: a bucket-wide float pass
# would round these
_long = st.integers(-(2**40), 2**40) | st.integers(2**53 + 1, 2**63 - 1)
_ts = st.datetimes(dt.datetime(2020, 1, 1), dt.datetime(2030, 1, 1)).map(
    lambda t: t.replace(tzinfo=dt.timezone.utc)
)


@st.composite
def batches(draw):
    """(commands, states, tz): command dicts over a few keys, NULL key
    included, with nullable order/amount columns; per-key stored state or
    None (timestamps time-zone aware, as Arrow reads them); the session
    time zone."""
    keys = draw(st.lists(st.sampled_from(["a", "b", "c", "d", None]),
                         min_size=1, max_size=5, unique=True))
    states = {}
    for k in keys:
        if k is not None and draw(st.booleans()):
            states[k] = {"k": k, "n": draw(st.none() | _long), "ts": draw(st.none() | _ts)}
    commands = [
        {
            "k": draw(st.sampled_from(keys)),
            "command_id": f"c{i}",
            "seq": draw(st.none() | _small),
            "sub": draw(st.none() | _small),
            "amt": draw(st.none() | _long),
            "op": draw(st.sampled_from(OPS)),
            "at": draw(st.none() | _ts),
        }
        for i in range(draw(st.integers(1, 14)))
    ]
    return commands, states, draw(st.sampled_from(ZONES))


def _bucket(commands, states, tz) -> pa.Table:
    """The distributed fold's joined Arrow bucket, as applyInArrow hands
    it over (timestamps in the session time zone)."""
    st_rows = [states.get(c["k"]) if c["k"] is not None else None for c in commands]
    cols = {f: pa.array([c[f] for c in commands], t) for f, t in ARROW_TYPES.items()}
    cols["at"] = pa.array([c["at"] for c in commands], pa.timestamp("us", tz=tz))
    cols["__k"] = pa.array([c["k"] for c in commands], pa.string())
    for f, t in (("k", pa.string()), ("n", pa.int64()), ("ts", pa.timestamp("us", tz=tz))):
        cols[f"__state__{f}"] = pa.array([s[f] if s else None for s in st_rows], t)
    cols["__g"] = pa.array([0] * len(commands), pa.int64())
    return pa.table(cols)


def _arrow_columns(commands, states, tz):
    table = _bucket(commands, states, tz)
    return {c: table.column(c).to_pylist() for c in table.column_names}, SPARK_TYPES


def _driver_columns(commands, states, tz):
    # a collected Row holds a timestamp as a naive datetime in the
    # process's local time zone
    rows = [
        Row(**{**c, "at": c["at"] and c["at"].astimezone().replace(tzinfo=None)})
        for c in commands
    ]
    return CommandEngine._batch_columns(rows, "k", COMMAND_FIELDS, STATE_FIELDS, states)


# -- recording handlers ------------------------------------------------------


def _norm(v):
    if isinstance(v, dict):
        return [(k, _norm(x)) for k, x in v.items()]
    return (type(v).__name__, "NaN" if v != v else v)


def _handlers(mode: str, log: list):
    def process(state, cmd):
        log.append(("cmd", _norm(state), _norm(cmd)))
        op = cmd["op"]
        if op == "reject":
            return [], True
        if op == "boom":
            raise RuntimeError("boom")
        return [{"k": cmd["k"], "op": op, "amt": cmd["amt"], "cid": cmd["command_id"]}], False

    def handle(state, ev):
        log.append(("event", _norm(state), _norm(ev)))
        if ev["op"] == "evboom":
            raise ValueError("evboom")
        if ev["op"] == "del":
            return None
        n = state["n"] if state else 0
        return {"k": ev["k"], "n": (n if n == n else 0) + 1,
                "ts": state["ts"] if state else None, "last": ev["cid"]}

    if mode == "plain":
        return process, handle
    if mode == "async":
        async def aprocess(state, cmd):
            await asyncio.sleep(0)
            return process(state, cmd)

        return aprocess, handle

    def ctx_process(ctx, state, cmd):
        log.append(("ctx", _norm(state), _norm(cmd)))
        op = cmd["op"]
        if op == "reject":
            return ctx.reject({"why": cmd["command_id"]})
        if op == "boom":
            raise RuntimeError("boom")
        if op == "del":
            return ctx.update_state(None)
        ev = {"k": cmd["k"], "amt": cmd["amt"]}
        n = state["n"] if state else 0
        new = {"k": cmd["k"], "n": (n if n == n else 0) + 1, "ts": state["ts"] if state else None}
        ctx = ctx.update_state(new).reply(lambda s: {"n": s["n"]})
        if op == "evboom":
            def fail(s):
                raise ValueError("side effect")

            return ctx.persist_event(ev).side_effect(fail)
        if op == "topic":
            return ctx.persist_to_topic(ev, "audit").persist_record(
                ProducerRecord("audit", cmd["k"], cmd["command_id"])
            )
        return ctx.persist_event(ev)

    return ctx_process, None


def _fold_all(mode, commands, states, tz):
    """Fold one batch three ways: the oracle over the Arrow bucket's
    per-key slices, the kernel over the bucket's column lists, and the
    kernel over the driver fold's batch columns. Returns (packed rows,
    handler log) per way."""
    results = []
    for way in ("oracle", "arrow", "driver"):
        log: list = []
        pc, he = _handlers(mode, log)
        args = (["k", "n", "ts"], "k", "k", ORDER, pc, he, mode == "context", tz)
        if way == "oracle":
            packed = _ref_fold(_bucket(commands, states, tz), args[0], INTEGRAL, *args[1:])
        else:
            build = _arrow_columns if way == "arrow" else _driver_columns
            packed = CommandEngine._fold_frame(*build(commands, states, tz), *args)
        results.append((packed, log))
    return results


# -- tests -----------------------------------------------------------------

_SETTINGS = settings(
    max_examples=120, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _check(mode, batch):
    (ref, ref_log), (kern, kern_log), (drv, drv_log) = _fold_all(mode, *batch)
    assert kern_log == ref_log
    assert kern == ref
    assert drv_log == ref_log
    assert drv == ref


@_SETTINGS
@given(batches())
def test_kernel_matches_per_key_path_plain(batch):
    _check("plain", batch)


@_SETTINGS
@given(batches())
def test_kernel_matches_per_key_path_async(batch):
    _check("async", batch)


@_SETTINGS
@given(batches())
def test_kernel_matches_per_key_path_context(batch):
    _check("context", batch)


def test_kernel_types_each_key_slice():
    """The cases the generator must reach, pinned by hand: a long above
    2^53 next to a null in ANOTHER key's slice comes back as the exact int;
    a null in the key's own slice keeps the slice float; an all-null slice
    reads NaN on both folds; nulls sort last and ties keep arrival order;
    a timestamp (stored or commanded) reaches handlers naive in the
    session time zone, a null one as NaT."""
    at = dt.datetime(2024, 5, 1, 4, tzinfo=dt.timezone.utc)  # 00:00 in New York

    def cmd(k, cid, seq, sub, amt, at=None):
        return {"k": k, "command_id": cid, "seq": seq, "sub": sub, "amt": amt,
                "op": "ok", "at": at}

    commands = [
        cmd("a", "c0", 2, 0, 7, at),
        cmd("b", "c1", None, 0, None),
        cmd("a", "c2", None, 1, 8),
        cmd("a", "c3", 1, 0, 2**60 + 9),
        cmd("a", "c4", 2, 0, 5),
        cmd("c", "c5", 0, 0, 3),
        cmd("c", "c6", 0, 0, None),
    ]
    states = {"a": {"k": "a", "n": 2**60 + 1, "ts": at}}
    results = _fold_all("plain", commands, states, "America/New_York")
    for _, log in results:
        cmds = [c for kind, _, c in log if kind == "cmd"]
        got = [(dict(c)["command_id"][1], dict(c)["amt"], dict(c)["__state__n"]) for c in cmds]
        assert got == [
            ("c3", ("int", 2**60 + 9), ("int", 2**60 + 1)),
            ("c0", ("int", 7), ("int", 2**60 + 1)),
            ("c4", ("int", 5), ("int", 2**60 + 1)),
            ("c2", ("int", 8), ("int", 2**60 + 1)),
            ("c1", ("float", "NaN"), ("float", "NaN")),
            ("c5", ("float", 3.0), ("float", "NaN")),
            ("c6", ("float", "NaN"), ("float", "NaN")),
        ]
        ats = {dict(c)["command_id"][1]: dict(c)["at"] for c in cmds}
        assert ats["c0"] == ("Timestamp", pd.Timestamp("2024-05-01"))
        assert ats["c1"] == ("NaTType", "NaN")
        first_state = log[0][1]
        assert first_state == [
            ("k", ("str", "a")),
            ("n", ("int", 2**60 + 1)),
            ("ts", ("Timestamp", pd.Timestamp("2024-05-01"))),
        ]
    assert results[0] == results[1] == results[2]


def test_null_numeric_key_is_stamped_null():
    """A NULL long command key reaches handlers as NaN. Its events and
    replies carry a null key, not "nan": the commit reads a numeric store
    key from its string spelling and casts it, which would fail the batch
    on "nan". A NULL string key keeps its "None" spelling."""
    for key_type, key in ((T.LongType(), 1), (T.StringType(), "1")):
        cols = {"k": [None, key], "command_id": ["c0", "c1"], "__k": [None, "1"]}
        types = {"k": key_type, "command_id": T.StringType()}
        packed = CommandEngine._fold_frame(
            cols, types, [], "k", "k", ["command_id"],
            lambda s, c: ([{"x": 1}], False), lambda s, e: s, False, "UTC",
        )
        events = [json.loads(p)["event"]["k"] for kind, p in packed if kind == "event"]
        replies = [json.loads(p)["aggregate_id"] for kind, p in packed if kind == "reply"]
        null = None if isinstance(key_type, T.LongType) else "None"
        assert events == replies == [null, "1"], key_type
