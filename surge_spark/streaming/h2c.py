"""h2c (cleartext HTTP/2) gRPC framing for the U7 multilanguage wire.

The reference exposes BusinessLogicService over gRPC
(multilanguage-protocol.proto:88-92; the engine side dials it from
GenericAsyncAggregateCommandModel.scala:50-103). grpcio is not installable
in this environment, but gRPC's transport is specified, stdlib-reachable
wire format: HTTP/2 (RFC 9113) frames with HPACK (RFC 7541) header blocks
and a 5-byte gRPC message prefix on DATA. This module implements exactly
that subset over TCP, completing the stack proto_wire.py started — the
bytes on the socket are now frame-for-frame what a grpc client/server pair
exchanges over h2c:

  client preface  "PRI * HTTP/2.0\\r\\n\\r\\nSM\\r\\n\\r\\n"
  SETTINGS  (+ACKs both ways)
  HEADERS   :method POST / :scheme http / :path /BusinessLogicService/X /
            :authority, content-type: application/grpc, te: trailers
            (HPACK: static-table indexed where the table has the pair,
            literal-without-indexing otherwise — deterministic bytes,
            golden-pinned against RFC 7541 Appendix C examples)
  DATA      1-byte compressed flag (0) | 4-byte BE length | proto3 message
  response  HEADERS :status 200 + content-type, DATA, then TRAILERS
            (HEADERS frame, END_STREAM) carrying grpc-status/grpc-message

TLS: pass ssl contexts (make_server_ssl_context / make_client_ssl_context)
to upgrade both ends to gRPC-over-TLS with ALPN 'h2' negotiation (RFC
7301) — the grpc SECURE channel's transport; the client refuses a server
that negotiated anything but h2. Without contexts the endpoint speaks h2c
(prior-knowledge cleartext — grpc's insecure channel).

Scope, stated honestly: HPACK Huffman coding is fully supported on decode
(grpc-java peers Huffman-code header values by default; table + error
cases golden-pinned against RFC 7541 Appendix B/C) and opt-in on encode
(our own frames default to raw literals for golden-byte determinism); no
server push / priorities (gRPC uses neither). Flow control is REAL on
both sides: receivers replenish
connection+stream windows after every DATA frame, and senders track the
peer's windows (seeded from its SETTINGS_INITIAL_WINDOW_SIZE, credited by
WINDOW_UPDATE) and wait for credit before each chunk — see _ConnState.
The server dispatches by :path into the proto3 dispatch table in
multilanguage._dispatch, and the client speaks the proto3 payloads of
multilanguage.BusinessLogicCallerMixin.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading

# -- HTTP/2 frame layer (RFC 9113 §4) -----------------------------------------

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

F_DATA = 0x0
F_HEADERS = 0x1
F_RST_STREAM = 0x3
F_SETTINGS = 0x4
F_PING = 0x6
F_GOAWAY = 0x7
F_WINDOW_UPDATE = 0x8
F_CONTINUATION = 0x9

FLAG_END_STREAM = 0x1
FLAG_ACK = 0x1  # SETTINGS / PING reuse bit 0
FLAG_END_HEADERS = 0x4


def encode_frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    """9-byte frame header: 24-bit length, type, flags, 31-bit stream id."""
    if len(payload) > 0xFFFFFF:
        raise ValueError("frame too large")
    return (
        struct.pack(">I", len(payload))[1:]
        + bytes((ftype, flags))
        + struct.pack(">I", stream_id & 0x7FFFFFFF)
        + payload
    )


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise EOFError("peer closed")
        buf += chunk
    return buf


def read_frame(sock: socket.socket) -> tuple[int, int, int, bytes]:
    hdr = _recv_exact(sock, 9)
    length = int.from_bytes(hdr[:3], "big")
    ftype, flags = hdr[3], hdr[4]
    stream_id = int.from_bytes(hdr[5:9], "big") & 0x7FFFFFFF
    return ftype, flags, stream_id, _recv_exact(sock, length) if length else b""


# -- HPACK (RFC 7541) ---------------------------------------------------------

# Appendix A static table, 1-indexed.
STATIC_TABLE: list[tuple[str, str]] = [
    (":authority", ""),
    (":method", "GET"),
    (":method", "POST"),
    (":path", "/"),
    (":path", "/index.html"),
    (":scheme", "http"),
    (":scheme", "https"),
    (":status", "200"),
    (":status", "204"),
    (":status", "206"),
    (":status", "304"),
    (":status", "400"),
    (":status", "404"),
    (":status", "500"),
    ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"),
    ("accept-language", ""),
    ("accept-ranges", ""),
    ("accept", ""),
    ("access-control-allow-origin", ""),
    ("age", ""),
    ("allow", ""),
    ("authorization", ""),
    ("cache-control", ""),
    ("content-disposition", ""),
    ("content-encoding", ""),
    ("content-language", ""),
    ("content-length", ""),
    ("content-location", ""),
    ("content-range", ""),
    ("content-type", ""),
    ("cookie", ""),
    ("date", ""),
    ("etag", ""),
    ("expect", ""),
    ("expires", ""),
    ("from", ""),
    ("host", ""),
    ("if-match", ""),
    ("if-modified-since", ""),
    ("if-none-match", ""),
    ("if-range", ""),
    ("if-unmodified-since", ""),
    ("last-modified", ""),
    ("link", ""),
    ("location", ""),
    ("max-forwards", ""),
    ("proxy-authenticate", ""),
    ("proxy-authorization", ""),
    ("range", ""),
    ("referer", ""),
    ("refresh", ""),
    ("retry-after", ""),
    ("server", ""),
    ("set-cookie", ""),
    ("strict-transport-security", ""),
    ("transfer-encoding", ""),
    ("user-agent", ""),
    ("vary", ""),
    ("via", ""),
    ("www-authenticate", ""),
]
_STATIC_PAIR = {pair: i + 1 for i, pair in enumerate(STATIC_TABLE)}
_STATIC_NAME: dict[str, int] = {}
for _i, (_n, _v) in enumerate(STATIC_TABLE):
    _STATIC_NAME.setdefault(_n, _i + 1)


def hpack_int(value: int, prefix_bits: int, first_byte: int = 0) -> bytes:
    """RFC 7541 §5.1 prefix-coded integer; ``first_byte`` carries the
    pattern bits above the prefix."""
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes((first_byte | value,))
    out = bytearray((first_byte | limit,))
    value -= limit
    while value >= 128:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def _hpack_read_int(buf: bytes, pos: int, prefix_bits: int) -> tuple[int, int]:
    limit = (1 << prefix_bits) - 1
    v = buf[pos] & limit
    pos += 1
    if v < limit:
        return v, pos
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        v += (b & 0x7F) << shift
        if not (b & 0x80):
            return v, pos
        shift += 7


# -- HPACK Huffman coding (RFC 7541 §5.2 + Appendix B) ------------------------
#
# The static Huffman table: entry i is (code, bit-length) for octet i;
# entry 256 is EOS. A real grpc peer (grpc-java — the reference engine's
# counterpart in MultilanguageGatewayServiceImpl.scala:29-81) Huffman-codes
# header values by default, so accepting the wire format requires this
# table. It is a complete canonical prefix code — tests pin the Kraft sum
# (Σ 2^-len == 1) and the RFC 7541 Appendix C.4/C.6 golden strings.

_HUFFMAN_TABLE: list[tuple[int, int]] = [
    (0x1FF8, 13), (0x7FFFD8, 23), (0xFFFFFE2, 28), (0xFFFFFE3, 28),
    (0xFFFFFE4, 28), (0xFFFFFE5, 28), (0xFFFFFE6, 28), (0xFFFFFE7, 28),
    (0xFFFFFE8, 28), (0xFFFFEA, 24), (0x3FFFFFFC, 30), (0xFFFFFE9, 28),
    (0xFFFFFEA, 28), (0x3FFFFFFD, 30), (0xFFFFFEB, 28), (0xFFFFFEC, 28),
    (0xFFFFFED, 28), (0xFFFFFEE, 28), (0xFFFFFEF, 28), (0xFFFFFF0, 28),
    (0xFFFFFF1, 28), (0xFFFFFF2, 28), (0x3FFFFFFE, 30), (0xFFFFFF3, 28),
    (0xFFFFFF4, 28), (0xFFFFFF5, 28), (0xFFFFFF6, 28), (0xFFFFFF7, 28),
    (0xFFFFFF8, 28), (0xFFFFFF9, 28), (0xFFFFFFA, 28), (0xFFFFFFB, 28),
    (0x14, 6), (0x3F8, 10), (0x3F9, 10), (0xFFA, 12),
    (0x1FF9, 13), (0x15, 6), (0xF8, 8), (0x7FA, 11),
    (0x3FA, 10), (0x3FB, 10), (0xF9, 8), (0x7FB, 11),
    (0xFA, 8), (0x16, 6), (0x17, 6), (0x18, 6),
    (0x0, 5), (0x1, 5), (0x2, 5), (0x19, 6),
    (0x1A, 6), (0x1B, 6), (0x1C, 6), (0x1D, 6),
    (0x1E, 6), (0x1F, 6), (0x5C, 7), (0xFB, 8),
    (0x7FFC, 15), (0x20, 6), (0xFFB, 12), (0x3FC, 10),
    (0x1FFA, 13), (0x21, 6), (0x5D, 7), (0x5E, 7),
    (0x5F, 7), (0x60, 7), (0x61, 7), (0x62, 7),
    (0x63, 7), (0x64, 7), (0x65, 7), (0x66, 7),
    (0x67, 7), (0x68, 7), (0x69, 7), (0x6A, 7),
    (0x6B, 7), (0x6C, 7), (0x6D, 7), (0x6E, 7),
    (0x6F, 7), (0x70, 7), (0x71, 7), (0x72, 7),
    (0xFC, 8), (0x73, 7), (0xFD, 8), (0x1FFB, 13),
    (0x7FFF0, 19), (0x1FFC, 13), (0x3FFC, 14), (0x22, 6),
    (0x7FFD, 15), (0x3, 5), (0x23, 6), (0x4, 5),
    (0x24, 6), (0x5, 5), (0x25, 6), (0x26, 6),
    (0x27, 6), (0x6, 5), (0x74, 7), (0x75, 7),
    (0x28, 6), (0x29, 6), (0x2A, 6), (0x7, 5),
    (0x2B, 6), (0x76, 7), (0x2C, 6), (0x8, 5),
    (0x9, 5), (0x2D, 6), (0x77, 7), (0x78, 7),
    (0x79, 7), (0x7A, 7), (0x7B, 7), (0x7FFE, 15),
    (0x7FC, 11), (0x3FFD, 14), (0x1FFD, 13), (0xFFFFFFC, 28),
    (0xFFFE6, 20), (0x3FFFD2, 22), (0xFFFE7, 20), (0xFFFE8, 20),
    (0x3FFFD3, 22), (0x3FFFD4, 22), (0x3FFFD5, 22), (0x7FFFD9, 23),
    (0x3FFFD6, 22), (0x7FFFDA, 23), (0x7FFFDB, 23), (0x7FFFDC, 23),
    (0x7FFFDD, 23), (0x7FFFDE, 23), (0xFFFFEB, 24), (0x7FFFDF, 23),
    (0xFFFFEC, 24), (0xFFFFED, 24), (0x3FFFD7, 22), (0x7FFFE0, 23),
    (0xFFFFEE, 24), (0x7FFFE1, 23), (0x7FFFE2, 23), (0x7FFFE3, 23),
    (0x7FFFE4, 23), (0x1FFFDC, 21), (0x3FFFD8, 22), (0x7FFFE5, 23),
    (0x3FFFD9, 22), (0x7FFFE6, 23), (0x7FFFE7, 23), (0xFFFFEF, 24),
    (0x3FFFDA, 22), (0x1FFFDD, 21), (0xFFFE9, 20), (0x3FFFDB, 22),
    (0x3FFFDC, 22), (0x7FFFE8, 23), (0x7FFFE9, 23), (0x1FFFDE, 21),
    (0x7FFFEA, 23), (0x3FFFDD, 22), (0x3FFFDE, 22), (0xFFFFF0, 24),
    (0x1FFFDF, 21), (0x3FFFDF, 22), (0x7FFFEB, 23), (0x7FFFEC, 23),
    (0x1FFFE0, 21), (0x1FFFE1, 21), (0x3FFFE0, 22), (0x1FFFE2, 21),
    (0x7FFFED, 23), (0x3FFFE1, 22), (0x7FFFEE, 23), (0x7FFFEF, 23),
    (0xFFFEA, 20), (0x3FFFE2, 22), (0x3FFFE3, 22), (0x3FFFE4, 22),
    (0x7FFFF0, 23), (0x3FFFE5, 22), (0x3FFFE6, 22), (0x7FFFF1, 23),
    (0x3FFFFE0, 26), (0x3FFFFE1, 26), (0xFFFEB, 20), (0x7FFF1, 19),
    (0x3FFFE7, 22), (0x7FFFF2, 23), (0x3FFFE8, 22), (0x1FFFFEC, 25),
    (0x3FFFFE2, 26), (0x3FFFFE3, 26), (0x3FFFFE4, 26), (0x7FFFFDE, 27),
    (0x7FFFFDF, 27), (0x3FFFFE5, 26), (0xFFFFF1, 24), (0x1FFFFED, 25),
    (0x7FFF2, 19), (0x1FFFE3, 21), (0x3FFFFE6, 26), (0x7FFFFE0, 27),
    (0x7FFFFE1, 27), (0x3FFFFE7, 26), (0x7FFFFE2, 27), (0xFFFFF2, 24),
    (0x1FFFE4, 21), (0x1FFFE5, 21), (0x3FFFFE8, 26), (0x3FFFFE9, 26),
    (0xFFFFFFD, 28), (0x7FFFFE3, 27), (0x7FFFFE4, 27), (0x7FFFFE5, 27),
    (0xFFFEC, 20), (0xFFFFF3, 24), (0xFFFED, 20), (0x1FFFE6, 21),
    (0x3FFFE9, 22), (0x1FFFE7, 21), (0x1FFFE8, 21), (0x7FFFF3, 23),
    (0x3FFFEA, 22), (0x3FFFEB, 22), (0x1FFFFEE, 25), (0x1FFFFEF, 25),
    (0xFFFFF4, 24), (0xFFFFF5, 24), (0x3FFFFEA, 26), (0x7FFFF4, 23),
    (0x3FFFFEB, 26), (0x7FFFFE6, 27), (0x3FFFFEC, 26), (0x3FFFFED, 26),
    (0x7FFFFE7, 27), (0x7FFFFE8, 27), (0x7FFFFE9, 27), (0x7FFFFEA, 27),
    (0x7FFFFEB, 27), (0xFFFFFFE, 28), (0x7FFFFEC, 27), (0x7FFFFED, 27),
    (0x7FFFFEE, 27), (0x7FFFFEF, 27), (0x7FFFFF0, 27), (0x3FFFFEE, 26),
    (0x3FFFFFFF, 30),
]

_HUFF_EOS = 256
_HUFF_DECODE = {
    (bits, code): sym for sym, (code, bits) in enumerate(_HUFFMAN_TABLE)
}


def huffman_encode(data: bytes) -> bytes:
    """Appendix B encode; final partial byte padded with EOS-prefix ones
    (RFC 7541 §5.2)."""
    acc = 0
    nbits = 0
    out = bytearray()
    for b in data:
        code, length = _HUFFMAN_TABLE[b]
        acc = (acc << length) | code
        nbits += length
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        pad = 8 - nbits
        out.append(((acc << pad) | ((1 << pad) - 1)) & 0xFF)
    return bytes(out)


def huffman_decode(data: bytes) -> bytes:
    """Canonical prefix walk over the Appendix B code. Decoding errors per
    §5.2: a complete in-stream EOS code, padding of 8+ bits (a truncated
    code), or padding bits that are not the EOS prefix (not all ones) —
    each raises ValueError so the connection layer can fail the header
    block instead of silently mis-decoding."""
    out = bytearray()
    code = 0
    bits = 0
    for byte in data:
        for shift in range(7, -1, -1):
            code = (code << 1) | ((byte >> shift) & 1)
            bits += 1
            sym = _HUFF_DECODE.get((bits, code))
            if sym is not None:
                if sym == _HUFF_EOS:
                    raise ValueError("in-stream EOS in Huffman-coded string")
                out.append(sym)
                code = 0
                bits = 0
    if bits:
        if bits >= 8:
            raise ValueError("truncated Huffman code (8+ bits of padding)")
        if code != (1 << bits) - 1:
            raise ValueError("Huffman padding is not an EOS prefix")
    return bytes(out)


def _hpack_str(s: str, huffman: bool = False) -> bytes:
    """String literal — 7-bit length prefix; H bit set iff ``huffman``."""
    data = s.encode("utf-8")
    if huffman:
        data = huffman_encode(data)
        return hpack_int(len(data), 7, 0x80) + data
    return hpack_int(len(data), 7, 0x00) + data


def _hpack_read_str(buf: bytes, pos: int) -> tuple[str, int]:
    huffman = bool(buf[pos] & 0x80)
    n, pos = _hpack_read_int(buf, pos, 7)
    raw = buf[pos : pos + n]
    if len(raw) != n:
        # Python slicing never raises: an over-declared length prefix would
        # otherwise decode to a silently truncated header value instead of
        # surfacing as a malformed block.
        raise ValueError("HPACK string literal over-declares its length")
    if huffman:
        raw = huffman_decode(raw)
    return raw.decode("utf-8"), pos + n


def hpack_encode(headers: list[tuple[str, str]], huffman: bool = False) -> bytes:
    """Deterministic encoder: full static match → indexed field; static
    name → literal WITHOUT indexing with indexed name; otherwise literal
    without indexing with a new name. Never writes to the dynamic table,
    so identical header lists always produce identical bytes (the
    golden-frame property). ``huffman=True`` Huffman-codes every string
    literal (what grpc-java peers do by default) — still deterministic,
    just a different golden."""
    out = bytearray()
    for name, value in headers:
        idx = _STATIC_PAIR.get((name, value))
        if idx is not None:
            out += hpack_int(idx, 7, 0x80)
            continue
        nidx = _STATIC_NAME.get(name)
        if nidx is not None:
            out += hpack_int(nidx, 4, 0x00)
        else:
            out += b"\x00" + _hpack_str(name, huffman)
        out += _hpack_str(value, huffman)
    return bytes(out)


class HpackDecoder:
    """Decoder with a real dynamic table (a grpc peer indexes
    incrementally); Huffman-coded string literals decode via the
    Appendix B table (grpc-java's default encoding)."""

    def __init__(self, max_size: int = 4096) -> None:
        self.dynamic: list[tuple[str, str]] = []
        self.max_size = max_size
        # RFC 7541 §6.3: size updates above the advertised
        # SETTINGS_HEADER_TABLE_SIZE are a decoding error — without this
        # bound a peer could grow the table (and decoder memory) at will.
        self.settings_max_size = max_size

    def _entry(self, idx: int) -> tuple[str, str]:
        if 1 <= idx <= len(STATIC_TABLE):
            return STATIC_TABLE[idx - 1]
        didx = idx - len(STATIC_TABLE) - 1
        if 0 <= didx < len(self.dynamic):
            return self.dynamic[didx]
        raise ValueError(f"HPACK index {idx} out of range")

    def _evict(self) -> None:
        size = sum(len(n) + len(v) + 32 for n, v in self.dynamic)
        while size > self.max_size and self.dynamic:
            n, v = self.dynamic.pop()
            size -= len(n) + len(v) + 32

    def _insert(self, name: str, value: str) -> None:
        self.dynamic.insert(0, (name, value))
        self._evict()

    def decode(self, block: bytes) -> list[tuple[str, str]]:
        """Decode one header block. Malformed blocks raise ValueError
        uniformly — truncated varints/strings surface as IndexError and
        mutated literals as UnicodeDecodeError from the primitives, and a
        wire peer must never crash the connection handler with anything
        but the protocol-error type (fuzz-pinned in
        tests/test_decoder_fuzz.py)."""
        try:
            return self._decode_inner(block)
        except (IndexError, UnicodeDecodeError) as e:
            raise ValueError(f"malformed HPACK block: {type(e).__name__}") from e

    def _decode_inner(self, block: bytes) -> list[tuple[str, str]]:
        headers: list[tuple[str, str]] = []
        pos = 0
        while pos < len(block):
            b = block[pos]
            if b & 0x80:  # indexed
                idx, pos = _hpack_read_int(block, pos, 7)
                headers.append(self._entry(idx))
            elif b & 0x40:  # literal with incremental indexing
                idx, pos = _hpack_read_int(block, pos, 6)
                name = self._entry(idx)[0] if idx else None
                if name is None:
                    name, pos = _hpack_read_str(block, pos)
                value, pos = _hpack_read_str(block, pos)
                self._insert(name, value)
                headers.append((name, value))
            elif b & 0x20:  # dynamic table size update
                # evict directly — a phantom insert would overcount by 32
                # bytes and could evict a live entry the peer still
                # references by index (connection-fatal)
                new_size, pos = _hpack_read_int(block, pos, 5)
                if new_size > self.settings_max_size:
                    raise ValueError(
                        f"HPACK table size update {new_size} exceeds "
                        f"SETTINGS_HEADER_TABLE_SIZE {self.settings_max_size}"
                    )
                self.max_size = new_size
                self._evict()
            else:  # literal without indexing (0000) / never indexed (0001)
                idx, pos = _hpack_read_int(block, pos, 4)
                name = self._entry(idx)[0] if idx else None
                if name is None:
                    name, pos = _hpack_read_str(block, pos)
                value, pos = _hpack_read_str(block, pos)
                headers.append((name, value))
        return headers


# -- gRPC message framing (5-byte prefix) -------------------------------------


def grpc_wrap(message: bytes) -> bytes:
    """DATA payload: 1-byte compressed flag (0) + 4-byte BE length + bytes."""
    return b"\x00" + struct.pack(">I", len(message)) + message


MAX_FRAME_SIZE = 16384  # RFC 9113 default SETTINGS_MAX_FRAME_SIZE


def data_frames(stream_id: int, payload: bytes, end_stream: bool) -> bytes:
    """A gRPC message as one-or-more DATA frames, each within the
    unnegotiated SETTINGS_MAX_FRAME_SIZE — a compliant peer answers a
    larger frame with FRAME_SIZE_ERROR and kills the connection.
    END_STREAM rides only the final frame."""
    out = bytearray()
    chunks = [
        payload[i : i + MAX_FRAME_SIZE]
        for i in range(0, len(payload), MAX_FRAME_SIZE)
    ] or [b""]
    for i, chunk in enumerate(chunks):
        last = i == len(chunks) - 1
        out += encode_frame(
            F_DATA, FLAG_END_STREAM if (end_stream and last) else 0, stream_id, chunk
        )
    return bytes(out)


def grpc_unwrap(data: bytes) -> bytes:
    if len(data) < 5:
        raise ValueError("short gRPC message frame")
    if data[0] != 0:
        raise ValueError("compressed gRPC messages not supported")
    (n,) = struct.unpack(">I", data[1:5])
    if len(data) < 5 + n:
        raise ValueError("truncated gRPC message")
    return data[5 : 5 + n]


# -- service paths ------------------------------------------------------------

# method-int ↔ :path mapping; the ints are multilanguage.py's dispatch ids,
# the paths the proto's (package-less) service/method names — byte-equal to
# what a generated stub requests (multilanguage-protocol.proto:88-92)
PATHS = {
    1: "/BusinessLogicService/ProcessCommand",
    2: "/BusinessLogicService/HandleEvents",
    3: "/BusinessLogicService/HealthCheck",
}
_PATH_TO_METHOD = {p: m for m, p in PATHS.items()}


def request_headers(
    path: str, authority: str, scheme: str = "http"
) -> list[tuple[str, str]]:
    """``scheme`` must reflect the transport (RFC 9113 §8.3.1): 'https'
    when the connection is TLS-carried — strict servers/intermediaries
    reject a scheme that contradicts the transport."""
    return [
        (":method", "POST"),
        (":scheme", scheme),
        (":path", path),
        (":authority", authority),
        ("content-type", "application/grpc"),
        ("te", "trailers"),
    ]


RESPONSE_HEADERS = [(":status", "200"), ("content-type", "application/grpc")]


def trailers(status: int, message: str = "") -> list[tuple[str, str]]:
    out = [("grpc-status", str(status))]
    if message:
        out.append(("grpc-message", message))
    return out


# -- connection transport state (shared by server and client loops) ----------


class _ConnState:
    """One HTTP/2 connection's transport bookkeeping: SEND-side flow
    control (RFC 9113 §5.2 — connection + per-stream windows seeded from
    the peer's SETTINGS_INITIAL_WINDOW_SIZE, replenished by
    WINDOW_UPDATE) and transport-frame handling (SETTINGS/PING/
    WINDOW_UPDATE). When a DATA send exhausts the peer's window the
    sender reads frames inline — transport frames are consumed on the
    spot, everything else queues for the owning loop via ``pending``
    (both our loops are single-threaded per connection, so no further
    synchronization is needed beyond the sendall lock)."""

    def __init__(self, sock) -> None:
        import collections

        self.sock = sock
        self._lock = threading.Lock()
        self.pending = collections.deque()
        self.conn_window = 65535
        self.init_window = 65535
        self.stream_windows: dict[int, int] = {}

    def send_raw(self, b: bytes) -> None:
        with self._lock:
            self.sock.sendall(b)

    def next_frame(self) -> tuple[int, int, int, bytes]:
        if self.pending:
            return self.pending.popleft()
        return read_frame(self.sock)

    def transport_frame(self, ftype: int, flags: int, sid: int, payload: bytes) -> bool:
        """Handle a transport frame; True if consumed."""
        if ftype == F_SETTINGS:
            if not flags & FLAG_ACK:
                for i in range(0, len(payload) - 5, 6):
                    ident = int.from_bytes(payload[i : i + 2], "big")
                    val = int.from_bytes(payload[i + 2 : i + 6], "big")
                    if ident == 0x4:  # SETTINGS_INITIAL_WINDOW_SIZE
                        delta = val - self.init_window
                        self.init_window = val
                        for k in self.stream_windows:
                            self.stream_windows[k] += delta
                self.send_raw(encode_frame(F_SETTINGS, FLAG_ACK, 0, b""))
            return True
        if ftype == F_PING:
            if not flags & FLAG_ACK:
                self.send_raw(encode_frame(F_PING, FLAG_ACK, 0, payload))
            return True
        if ftype == F_WINDOW_UPDATE:
            inc = int.from_bytes(payload[:4], "big") & 0x7FFFFFFF
            if sid == 0:
                self.conn_window += inc
            else:
                self.stream_windows[sid] = (
                    self.stream_windows.get(sid, self.init_window) + inc
                )
            return True
        return False

    def _stream_window(self, sid: int) -> int:
        return self.stream_windows.setdefault(sid, self.init_window)

    def send_data(self, sid: int, payload: bytes, end_stream: bool) -> None:
        """Flow-controlled DATA send: each frame is sized to the
        CURRENTLY AVAILABLE credit (capped at MAX_FRAME_SIZE), so a peer
        advertising any positive window makes progress — a fixed chunk
        size could deadlock against a window smaller than the chunk.
        Exhausted credit blocks on the peer's frames until WINDOW_UPDATE
        arrives (transport frames consumed inline, others queued)."""
        if not payload:
            self.send_raw(
                encode_frame(
                    F_DATA, FLAG_END_STREAM if end_stream else 0, sid, b""
                )
            )
            return
        pos = 0
        while pos < len(payload):
            avail = min(
                self.conn_window, self._stream_window(sid), MAX_FRAME_SIZE
            )
            if avail <= 0:
                f = read_frame(self.sock)
                if not self.transport_frame(*f):
                    if f[0] == F_GOAWAY:
                        raise RuntimeError("peer sent GOAWAY mid-send")
                    self.pending.append(f)
                continue
            chunk = payload[pos : pos + avail]
            pos += len(chunk)
            last = pos >= len(payload)
            self.send_raw(
                encode_frame(
                    F_DATA,
                    FLAG_END_STREAM if (end_stream and last) else 0,
                    sid,
                    chunk,
                )
            )
            self.conn_window -= len(chunk)
            self.stream_windows[sid] = self._stream_window(sid) - len(chunk)

    def replenish_recv(self, sid: int, n: int) -> None:
        upd = struct.pack(">I", n)
        self.send_raw(encode_frame(F_WINDOW_UPDATE, 0, 0, upd))
        self.send_raw(encode_frame(F_WINDOW_UPDATE, 0, sid, upd))


# -- server -------------------------------------------------------------------


class _H2cServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True
    ssl_context = None  # set by serve_business_logic_h2c(tls=...)


def make_server_ssl_context(certfile: str, keyfile: str):
    """TLS context for gRPC-over-TLS: HTTP/2 is negotiated via ALPN 'h2'
    (RFC 7301), exactly what a grpc secure channel expects. Cert/key come
    from the caller (any PEM pair — tests generate a self-signed one with
    the openssl binary)."""
    import ssl

    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile, keyfile)
    ctx.set_alpn_protocols(["h2"])
    return ctx


def make_client_ssl_context(
    cafile: str | None = None, verify_hostname: bool = True
):
    """Client TLS context offering ALPN 'h2'; ``cafile`` pins the trust
    root (a self-signed cert in tests). Hostname verification stays ON by
    default even with a pinned CA — a private CA signs certs for MANY
    hosts, and silently skipping the hostname check would let any of them
    impersonate the server; pass ``verify_hostname=False`` only where the
    peer identity is established out of band (tests on loopback). The
    client additionally VERIFIES the negotiated ALPN protocol is h2
    before speaking frames."""
    import ssl

    ctx = ssl.create_default_context(cafile=cafile)
    if not verify_hostname:
        ctx.check_hostname = False
    ctx.set_alpn_protocols(["h2"])
    return ctx


def serve_business_logic_h2c(
    service, host: str = "127.0.0.1", port: int = 0, ssl_context=None
) -> _H2cServer:
    """Serve a BusinessLogicService as a wire-true h2c gRPC endpoint (the
    analog of the reference's business app serving BusinessLogicService
    over gRPC, multilanguage-protocol.proto:88-92): multilanguage._dispatch
    over real HTTP/2 framing — a grpc client on an insecure channel
    interoperates (Huffman-coded headers included). One connection handles
    many sequential or interleaved streams (client stream ids are odd and
    increasing, as the RFC requires).

    ``ssl_context`` (make_server_ssl_context) upgrades the endpoint to
    gRPC-over-TLS with ALPN 'h2' negotiation — the grpc SECURE channel's
    transport; without it the endpoint speaks h2c (prior-knowledge
    cleartext)."""
    from .multilanguage import _dispatch

    class Handler(socketserver.BaseRequestHandler):
        def handle(self) -> None:
            sock = self.request
            if self.server.ssl_context is not None:
                # handshake in the PER-CONNECTION thread, with a timeout:
                # doing it in get_request would run it on the accept-loop
                # thread, where one silent client (port scanner, half-open
                # peer) blocks every new connection AND deadlocks
                # shutdown(). Handshake failures just drop the connection.
                try:
                    sock.settimeout(30)
                    sock = self.server.ssl_context.wrap_socket(
                        sock, server_side=True
                    )
                    sock.settimeout(None)
                except Exception:  # noqa: BLE001 — bad/non-TLS client
                    return
            try:
                if _recv_exact(sock, len(PREFACE)) != PREFACE:
                    return
            except (EOFError, ConnectionError, OSError):
                return
            conn = _ConnState(sock)
            send = conn.send_raw
            send(encode_frame(F_SETTINGS, 0, 0, b""))
            decoder = HpackDecoder()
            streams: dict[int, dict] = {}
            while True:
                try:
                    ftype, flags, sid, payload = conn.next_frame()
                    # transport_frame may WRITE (SETTINGS/PING acks) — a
                    # peer that disconnected right after sending raises on
                    # the ack send, not just on reads
                    if conn.transport_frame(ftype, flags, sid, payload):
                        continue
                except (EOFError, ConnectionError, OSError):
                    return
                if ftype == F_GOAWAY:
                    return
                if ftype == F_RST_STREAM:
                    # peer cancelled (grpc deadline/cancel): drop buffered
                    # stream state or a long-lived channel leaks an entry
                    # per cancelled RPC
                    streams.pop(sid, None)
                    continue
                if ftype not in (F_HEADERS, F_DATA, F_CONTINUATION):
                    # PRIORITY et al. must not allocate stream state a
                    # long-lived channel would never reap (real peers send
                    # PRIORITY; an entry per frame is a slow leak)
                    continue
                st = streams.setdefault(
                    sid,
                    {
                        "headers": [],
                        "data": b"",
                        "hdr_buf": b"",
                        "open_hdr": False,
                        "end_stream": False,
                    },
                )
                if ftype == F_HEADERS or (
                    ftype == F_CONTINUATION and st["open_hdr"]
                ):
                    st["hdr_buf"] += payload
                    st["open_hdr"] = not (flags & FLAG_END_HEADERS)
                    if flags & FLAG_END_HEADERS:
                        st["headers"] += decoder.decode(st["hdr_buf"])
                        st["hdr_buf"] = b""
                elif ftype == F_DATA:
                    st["data"] += payload
                    if payload:
                        # replenish receive windows (both levels)
                        conn.replenish_recv(sid, len(payload))
                # LATCH END_STREAM: a HEADERS frame may carry it without
                # END_HEADERS (block split into CONTINUATIONs, which per
                # RFC 9113 never carry END_STREAM themselves) — acting
                # only on the flag of the current frame would hang the
                # exchange once the block closes
                if flags & FLAG_END_STREAM and ftype in (F_HEADERS, F_DATA):
                    st["end_stream"] = True
                if st["end_stream"] and not st["open_hdr"]:
                    self._respond(conn, sid, st)
                    streams.pop(sid, None)

        def _respond(self, conn: _ConnState, sid: int, st: dict) -> None:
            send = conn.send_raw
            hdrs = dict(st["headers"])
            path = hdrs.get(":path", "")
            method = _PATH_TO_METHOD.get(path)
            try:
                if method is None:
                    raise ValueError(f"unimplemented path {path!r}")
                body = grpc_unwrap(st["data"])
                reply = _dispatch(service, method, body)
            except Exception as exc:  # noqa: BLE001 — becomes grpc-status
                send(
                    encode_frame(
                        F_HEADERS,
                        FLAG_END_HEADERS | FLAG_END_STREAM,
                        sid,
                        hpack_encode(
                            RESPONSE_HEADERS
                            + trailers(2, f"{type(exc).__name__}: {exc}")
                        ),
                    )
                )
                return
            send(
                encode_frame(
                    F_HEADERS, FLAG_END_HEADERS, sid, hpack_encode(RESPONSE_HEADERS)
                )
            )
            conn.send_data(sid, grpc_wrap(reply), end_stream=False)
            send(
                encode_frame(
                    F_HEADERS,
                    FLAG_END_HEADERS | FLAG_END_STREAM,
                    sid,
                    hpack_encode(trailers(0)),
                )
            )

    srv = _H2cServer((host, port), Handler)
    srv.ssl_context = ssl_context
    return srv


# -- client -------------------------------------------------------------------


from .multilanguage import BusinessLogicCallerMixin  # noqa: E402


class H2cBusinessLogicClient(BusinessLogicCallerMixin):
    """BusinessLogicService client over h2c gRPC frames. It holds only
    (host, port, timeout) so it pickles into Spark Python workers; each
    call dials a fresh connection (stream id 1) — the per-call handshake
    is 3 tiny frames each way, microseconds on loopback."""

    def __init__(
        self,
        host: str,
        port: int,
        timeout: float = 30.0,
        ssl_context=None,
        server_hostname: str | None = None,
        huffman: bool = False,
    ) -> None:
        self.host = host
        self.port = port
        self.timeout = timeout
        self.ssl_context = ssl_context
        self.server_hostname = server_hostname
        # Huffman-code our request header literals (what grpc-java does by
        # default); off by default to keep our own frames golden-stable.
        self.huffman = huffman

    def _call(self, method: int, payload: bytes) -> bytes:
        path = PATHS[method]
        with socket.create_connection(
            (self.host, self.port), timeout=self.timeout
        ) as raw:
            sock = raw
            try:
                if self.ssl_context is not None:
                    sock = self.ssl_context.wrap_socket(
                        raw, server_hostname=self.server_hostname or self.host
                    )
                    # gRPC-over-TLS REQUIRES the h2 ALPN token — a server
                    # that negotiated something else cannot speak frames
                    if sock.selected_alpn_protocol() != "h2":
                        raise RuntimeError(
                            "server did not negotiate ALPN h2 "
                            f"(got {sock.selected_alpn_protocol()!r})"
                        )
                headers, data = self._exchange(sock, path, payload)
            finally:
                if sock is not raw:
                    # wrap_socket detached the fd from raw, so the with-
                    # block's raw.close() is a no-op — close the SSLSocket
                    # explicitly (sends close_notify, frees the fd now,
                    # not at some later GC)
                    sock.close()
        hdrs = dict(headers)
        status = int(hdrs.get("grpc-status", "2"))
        if status != 0:
            raise RuntimeError(
                f"remote business logic failed: {hdrs.get('grpc-message', '')}"
                f" (grpc-status {status})"
            )
        return grpc_unwrap(data)

    def _exchange(
        self, sock, path: str, payload: bytes
    ) -> tuple[list[tuple[str, str]], bytes]:
        """One request/response over an established (possibly TLS) socket:
        preface + SETTINGS, HEADERS, flow-controlled DATA, then collect
        the response's HEADERS/DATA/trailers."""
        conn = _ConnState(sock)
        conn.send_raw(PREFACE + encode_frame(F_SETTINGS, 0, 0, b""))
        scheme = "https" if self.ssl_context is not None else "http"
        conn.send_raw(
            encode_frame(
                F_HEADERS,
                FLAG_END_HEADERS,
                1,
                hpack_encode(
                    request_headers(
                        path, f"{self.host}:{self.port}", scheme=scheme
                    ),
                    huffman=self.huffman,
                ),
            )
        )
        conn.send_data(1, grpc_wrap(payload), end_stream=True)
        decoder = HpackDecoder()
        headers: list[tuple[str, str]] = []
        data = b""
        hdr_buf = b""
        open_hdr = False
        end_stream = False
        while True:
            ftype, flags, sid, fp = conn.next_frame()
            if conn.transport_frame(ftype, flags, sid, fp):
                continue
            if ftype == F_GOAWAY:
                raise RuntimeError("server sent GOAWAY before reply")
            if sid != 1:
                continue
            if ftype == F_HEADERS or (ftype == F_CONTINUATION and open_hdr):
                hdr_buf += fp
                open_hdr = not (flags & FLAG_END_HEADERS)
                if flags & FLAG_END_HEADERS:
                    headers += decoder.decode(hdr_buf)
                    hdr_buf = b""
            elif ftype == F_DATA:
                data += fp
                if fp:
                    # replenish receive windows — a compliant peer
                    # streaming a reply past the 64 KiB initial window
                    # stalls forever otherwise
                    conn.replenish_recv(1, len(fp))
            # latch: trailers may arrive as HEADERS(END_STREAM) +
            # CONTINUATION(END_HEADERS) — see the server loop
            if flags & FLAG_END_STREAM and ftype in (F_HEADERS, F_DATA):
                end_stream = True
            if end_stream and not open_hdr:
                return headers, data
