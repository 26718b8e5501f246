"""Hand-rolled proto3 wire-format codec for the multilanguage protocol.

Byte-compatible encoding of the reference's message shapes
(modules/multilanguage-protocol/src/main/protobuf/multilanguage-protocol.proto:7-92)
using only the stdlib: varints, tag = (field_number << 3) | wire_type,
length-delimited strings/bytes/sub-messages, proto3 default-value omission,
unknown-field tolerance on parse. With this, the h2c transport (h2c.py)
ships the SAME bytes a grpcio-generated stub would put in a DATA frame
(grpcio is not installable here).

Field numbers (from the proto):
  State / Command / Event:  1 aggregateId (string), 2 payload (bytes)
  ProcessCommandRequest:    1 aggregateId, 2 state (State), 3 command (Command)
  ProcessCommandReply:      1 aggregateId, 2 isSuccess (bool),
                            3 rejectionMessage (string), 4 events (repeated
                            Event), 5 newState (State)
  HandleEventsRequest:      1 aggregateId, 2 state, 3 events (repeated)
  HandleEventsResponse:     1 aggregateId, 2 state
  GetStateRequest:          1 aggregateId
  GetStateReply:            1 aggregateId, 2 state
  HealthCheckRequest:       (empty)
  HealthCheckReply:         1 serviceName (string), 2 status (enum UP=0/DOWN=1)
"""

from __future__ import annotations

# -- primitives ---------------------------------------------------------------


def encode_varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("proto3 varints here are unsigned")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _tag(field: int, wire_type: int) -> bytes:
    return encode_varint((field << 3) | wire_type)


def _len_delim(field: int, data: bytes) -> bytes:
    return _tag(field, 2) + encode_varint(len(data)) + data


def _string(field: int, s: str | None) -> bytes:
    # proto3 scalar default omission: empty string is not serialized
    return _len_delim(field, s.encode("utf-8")) if s else b""


def _bytes(field: int, b: bytes | None) -> bytes:
    return _len_delim(field, b) if b else b""


def _bool(field: int, v: bool) -> bytes:
    return _tag(field, 0) + b"\x01" if v else b""


def _enum(field: int, v: int) -> bytes:
    return _tag(field, 0) + encode_varint(v) if v else b""


def parse_message(buf: bytes) -> dict[int, list[bytes | int]]:
    """Generic proto3 message parse: field number → values in order.
    Length-delimited fields yield bytes, varint fields ints; unknown
    fields are preserved (callers just ignore numbers they don't model);
    fixed32/fixed64 are skipped (the protocol uses neither)."""
    out: dict[int, list[bytes | int]] = {}
    pos = 0
    while pos < len(buf):
        key, pos = decode_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = decode_varint(buf, pos)
            out.setdefault(field, []).append(v)
        elif wt == 2:
            n, pos = decode_varint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("truncated length-delimited field")
            out.setdefault(field, []).append(buf[pos : pos + n])
            pos += n
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")
    return out


def _first_bytes(fields: dict, n: int) -> bytes:
    v = fields.get(n, [b""])
    return v[0] if isinstance(v[0], bytes) else b""


def _first_str(fields: dict, n: int) -> str:
    try:
        return _first_bytes(fields, n).decode("utf-8")
    except UnicodeDecodeError as e:
        # untrusted wire bytes: a mutated string field must surface as the
        # protocol-error type, not crash a handler with UnicodeDecodeError
        raise ValueError(f"proto3 string field {n} is not UTF-8") from e


def _first_int(fields: dict, n: int) -> int:
    v = fields.get(n, [0])
    return v[0] if isinstance(v[0], int) else 0


# -- message codecs (dicts in, dicts out — the transport layer binds them to
#    the dataclasses in multilanguage.py) ------------------------------------


def encode_kv(aggregate_id: str, payload: bytes | None) -> bytes:
    """State / Command / Event share one shape (proto:7-20)."""
    return _string(1, aggregate_id) + _bytes(2, payload)


def decode_kv(buf: bytes) -> tuple[str, bytes]:
    f = parse_message(buf)
    return _first_str(f, 1), _first_bytes(f, 2)


def encode_process_command_request(
    aggregate_id: str, state: bytes | None, command: bytes
) -> bytes:
    out = _string(1, aggregate_id)
    if state is not None:
        out += _len_delim(2, state)
    out += _len_delim(3, command)
    return out


def decode_process_command_request(buf: bytes) -> tuple[str, bytes | None, bytes]:
    f = parse_message(buf)
    state = f.get(2)
    return (
        _first_str(f, 1),
        state[0] if state else None,
        _first_bytes(f, 3),
    )


def encode_process_command_reply(
    aggregate_id: str,
    is_success: bool,
    rejection_message: str,
    events: list[bytes],
    new_state: bytes | None = None,
) -> bytes:
    out = _string(1, aggregate_id) + _bool(2, is_success) + _string(
        3, rejection_message
    )
    for e in events:
        out += _len_delim(4, e)
    if new_state is not None:
        out += _len_delim(5, new_state)
    return out


def decode_process_command_reply(
    buf: bytes,
) -> tuple[str, bool, str, list[bytes], bytes | None]:
    f = parse_message(buf)
    ns = f.get(5)
    return (
        _first_str(f, 1),
        bool(_first_int(f, 2)),
        _first_str(f, 3),
        [v for v in f.get(4, []) if isinstance(v, bytes)],
        ns[0] if ns else None,
    )


def encode_handle_events_request(
    aggregate_id: str, state: bytes | None, events: list[bytes]
) -> bytes:
    out = _string(1, aggregate_id)
    if state is not None:
        out += _len_delim(2, state)
    for e in events:
        out += _len_delim(3, e)
    return out


def decode_handle_events_request(
    buf: bytes,
) -> tuple[str, bytes | None, list[bytes]]:
    f = parse_message(buf)
    state = f.get(2)
    return (
        _first_str(f, 1),
        state[0] if state else None,
        [v for v in f.get(3, []) if isinstance(v, bytes)],
    )


def encode_handle_events_response(aggregate_id: str, state: bytes | None) -> bytes:
    out = _string(1, aggregate_id)
    if state is not None:
        out += _len_delim(2, state)
    return out


def decode_handle_events_response(buf: bytes) -> tuple[str, bytes | None]:
    f = parse_message(buf)
    state = f.get(2)
    return _first_str(f, 1), state[0] if state else None


def encode_get_state_request(aggregate_id: str) -> bytes:
    return _string(1, aggregate_id)


def decode_get_state_request(buf: bytes) -> str:
    return _first_str(parse_message(buf), 1)


def encode_get_state_reply(aggregate_id: str, state: bytes | None) -> bytes:
    out = _string(1, aggregate_id)
    if state is not None:
        out += _len_delim(2, state)
    return out


def decode_get_state_reply(buf: bytes) -> tuple[str, bytes | None]:
    f = parse_message(buf)
    state = f.get(2)
    return _first_str(f, 1), state[0] if state else None


HEALTH_UP, HEALTH_DOWN = 0, 1


def encode_health_check_request() -> bytes:
    return b""


def encode_health_check_reply(service_name: str, status: int) -> bytes:
    return _string(1, service_name) + _enum(2, status)


def decode_health_check_reply(buf: bytes) -> tuple[str, int]:
    f = parse_message(buf)
    return _first_str(f, 1), _first_int(f, 2)
