"""U7 h2c gRPC wire: golden HTTP/2+HPACK frame bytes (pinned against RFC
7541's published test vectors where the spec provides them), gRPC message
prefix framing, and the BusinessLogicService running cross-process over
real h2c frames — the last transport layer between this repo and the
reference's gRPC sidecar (multilanguage-protocol.proto:82-92)."""

from __future__ import annotations

import json
import subprocess
import sys
import threading
from pathlib import Path

import pytest

import surge_spark
from surge_spark.streaming import h2c
from surge_spark.streaming import multilanguage as ml
from surge_spark.streaming.snapshot_store import SnapshotStore

REPO = str(Path(surge_spark.__file__).resolve().parents[1])


# -- HPACK golden bytes -------------------------------------------------------


def test_hpack_integer_rfc_c1_examples():
    """RFC 7541 Appendix C.1: 10 and 1337 with a 5-bit prefix, 42 with 8."""
    assert h2c.hpack_int(10, 5) == bytes.fromhex("0a")
    assert h2c.hpack_int(1337, 5) == bytes.fromhex("1f9a0a")
    assert h2c.hpack_int(42, 8) == bytes.fromhex("2a")


def test_hpack_literal_without_indexing_rfc_c22():
    """RFC 7541 C.2.2: (:path, /sample/path) as literal without indexing
    with an indexed name — the exact published byte sequence."""
    assert h2c.hpack_encode([(":path", "/sample/path")]) == bytes.fromhex(
        "040c2f73616d706c652f70617468"
    )


def test_hpack_decoder_rfc_c3_request_sequence():
    """RFC 7541 C.3.1 + C.3.2 (non-Huffman request vectors): incremental
    indexing populates the dynamic table and the second request references
    it by index (0xbe)."""
    d = h2c.HpackDecoder()
    one = d.decode(bytes.fromhex("828684410f7777772e6578616d706c652e636f6d"))
    assert one == [
        (":method", "GET"),
        (":scheme", "http"),
        (":path", "/"),
        (":authority", "www.example.com"),
    ]
    two = d.decode(bytes.fromhex("828684be58086e6f2d6361636865"))
    assert two == one + [("cache-control", "no-cache")]


# -- HPACK Huffman coding (RFC 7541 §5.2 / Appendix B) ------------------------

# Every Huffman-coded string RFC 7541 Appendix C publishes, both request
# (C.4) and response (C.6) sequences — pins the Appendix B table in both
# directions (our encoder must produce the byte and our decoder must
# invert it).
_HUFFMAN_GOLDENS = [
    (b"www.example.com", "f1e3c2e5f23a6ba0ab90f4ff"),  # C.4.1
    (b"no-cache", "a8eb10649cbf"),  # C.4.2
    (b"custom-key", "25a849e95ba97d7f"),  # C.4.3
    (b"custom-value", "25a849e95bb8e8b4bf"),  # C.4.3
    (b"302", "6402"),  # C.6.1
    (b"private", "aec3771a4b"),  # C.6.1
    (b"Mon, 21 Oct 2013 20:13:21 GMT", "d07abe941054d444a8200595040b8166e082a62d1bff"),
    (b"https://www.example.com", "9d29ad171863c78f0b97c8e9ae82ae43d3"),  # C.6.1
    (b"307", "640eff"),  # C.6.2
    (b"Mon, 21 Oct 2013 20:13:22 GMT", "d07abe941054d444a8200595040b8166e084a62d1bff"),
    (b"gzip", "9bd9ab"),  # C.6.3
    (
        b"foo=ASDJKHQKBZXOQWEOPIUAXQWEOIU; max-age=3600; version=1",
        "94e7821dd7f2e6c7b335dfdfcd5b3960d5af27087f3672c1ab270fb5291f9587"
        "316065c003ed4ee5b1063d5007",
    ),  # C.6.3
]


def test_huffman_table_is_complete_prefix_code():
    """Kraft sum over the 257 Appendix B codes must be exactly 1 — a
    transcription error in any (code, length) pair breaks this."""
    from fractions import Fraction

    assert len(h2c._HUFFMAN_TABLE) == 257
    assert sum(
        Fraction(1, 2**bits) for _, bits in h2c._HUFFMAN_TABLE
    ) == 1
    # prefix-freeness: dict of (bits, code) must be injective over the table
    assert len(h2c._HUFF_DECODE) == 257


def test_huffman_rfc_appendix_c_goldens_both_directions():
    for raw, hexs in _HUFFMAN_GOLDENS:
        assert h2c.huffman_encode(raw).hex() == hexs
        assert h2c.huffman_decode(bytes.fromhex(hexs)) == raw


def test_huffman_roundtrip_every_octet():
    data = bytes(range(256))
    assert h2c.huffman_decode(h2c.huffman_encode(data)) == data


def test_huffman_decode_error_cases():
    # a complete 30-bit EOS code in-stream is a decoding error (§5.2)
    eos_plus_pad = bytes([0xFF, 0xFF, 0xFF, 0xFF])  # 30 ones + 2 pad ones
    with pytest.raises(ValueError, match="EOS"):
        h2c.huffman_decode(eos_plus_pad)
    # padding not an EOS prefix: 'a' (00011, 5 bits) + 3 zero pad bits
    with pytest.raises(ValueError, match="padding"):
        h2c.huffman_decode(bytes([0b00011000]))
    # 8+ bits of padding = truncated long code: first 8 bits of '!' (10 bits)
    with pytest.raises(ValueError, match="truncated"):
        h2c.huffman_decode(bytes([0xFE]))


def test_hpack_decoder_huffman_request_sequence_rfc_c4():
    """RFC 7541 C.4.1-C.4.3: the full Huffman-coded request header blocks,
    including dynamic-table inserts referenced by later blocks — the
    exact frames grpc-java style peers send."""
    d = h2c.HpackDecoder()
    one = d.decode(bytes.fromhex("828684418cf1e3c2e5f23a6ba0ab90f4ff"))
    assert one == [
        (":method", "GET"),
        (":scheme", "http"),
        (":path", "/"),
        (":authority", "www.example.com"),
    ]
    two = d.decode(bytes.fromhex("828684be5886a8eb10649cbf"))
    assert two == one + [("cache-control", "no-cache")]
    three = d.decode(
        bytes.fromhex("828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf")
    )
    assert three == [
        (":method", "GET"),
        (":scheme", "https"),
        (":path", "/index.html"),
        (":authority", "www.example.com"),
        ("custom-key", "custom-value"),
    ]


def test_hpack_encode_huffman_matches_rfc_c4_literal():
    """Our opt-in Huffman encoder emits the same literal-with-new-name
    bytes as C.4.3's custom-key/custom-value (modulo the 0x40
    incremental-indexing bit — we use 0x00 literal-without-indexing, so
    compare the string literals)."""
    block = h2c.hpack_encode([("custom-key", "custom-value")], huffman=True)
    assert block == bytes.fromhex("008825a849e95ba97d7f8925a849e95bb8e8b4bf")


def test_h2c_roundtrip_with_huffman_coded_request_headers():
    """End-to-end: a client that Huffman-codes its header literals (the
    grpc-java default) completes a full gRPC exchange against our
    server."""
    srv = h2c.serve_business_logic_h2c(_EchoService())
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        client = h2c.H2cBusinessLogicClient(
            "127.0.0.1", srv.server_address[1], huffman=True
        )
        r = client.process_command("k", None, ml.Command("k", b"hufftest"))
        assert r.is_success and r.events[0].payload == b"hufftest"
        assert client.health_check().status == "UP"
    finally:
        srv.shutdown()
        srv.server_close()


def test_grpc_request_header_block_golden():
    """The canonical gRPC request header block for HealthCheck: indexed
    :method/:scheme, literal-without-indexing path/authority/content-type,
    new-name te — byte-for-byte stable (the encoder never touches the
    dynamic table)."""
    blk = h2c.hpack_encode(
        h2c.request_headers("/BusinessLogicService/HealthCheck", "localhost")
    )
    assert blk == bytes.fromhex(
        "838604212f427573696e6573734c6f676963536572766963652f4865616c7468"
        "436865636b01096c6f63616c686f73740f10106170706c69636174696f6e2f67"
        "7270630002746508747261696c657273"
    )
    # response + trailers blocks
    assert h2c.hpack_encode(h2c.RESPONSE_HEADERS) == bytes.fromhex(
        "880f10106170706c69636174696f6e2f67727063"
    )
    assert h2c.hpack_encode(h2c.trailers(0)) == bytes.fromhex(
        "000b677270632d7374617475730130"
    )
    # every block round-trips through the decoder
    d = h2c.HpackDecoder()
    assert dict(d.decode(blk))[":path"] == "/BusinessLogicService/HealthCheck"


# -- frame + gRPC prefix golden bytes ----------------------------------------


def test_frame_codec_golden_and_roundtrip():
    assert h2c.encode_frame(h2c.F_SETTINGS, 0, 0, b"") == bytes.fromhex(
        "000000040000000000"
    )
    assert h2c.encode_frame(
        h2c.F_DATA, h2c.FLAG_END_STREAM, 1, b"xyz"
    ) == bytes.fromhex("000003000100000001") + b"xyz"
    # HEADERS with END_HEADERS on stream 3
    f = h2c.encode_frame(h2c.F_HEADERS, h2c.FLAG_END_HEADERS, 3, b"\x88")
    assert f == bytes.fromhex("000001010400000003") + b"\x88"


def test_grpc_message_prefix_golden():
    assert h2c.grpc_wrap(b"abc") == bytes.fromhex("0000000003") + b"abc"
    assert h2c.grpc_unwrap(h2c.grpc_wrap(b"")) == b""
    payload = bytes(range(256))
    assert h2c.grpc_unwrap(h2c.grpc_wrap(payload)) == payload
    with pytest.raises(ValueError, match="compressed"):
        h2c.grpc_unwrap(b"\x01\x00\x00\x00\x00")


# -- in-process client/server over real frames --------------------------------


class _EchoService:
    async def process_command(self, aggregate_id, state, command):
        if command.payload == b"boom":
            raise RuntimeError("handler exploded")
        return ml.ProcessCommandReply(
            aggregate_id, True, "", (ml.Event(aggregate_id, command.payload),)
        )

    async def handle_events(self, aggregate_id, state, events):
        return ml.State(aggregate_id, b"|".join(e.payload for e in events))

    async def health_check(self):
        return ml.HealthCheckReply("echo-h2c", "UP")


def test_h2c_client_server_roundtrip_and_grpc_status_errors():
    """Full h2c exchange: preface/SETTINGS handshake, HEADERS/DATA/trailers
    per stream; a handler exception comes back as grpc-status 2 with the
    message in grpc-message — failing the command, not the transport."""
    srv = h2c.serve_business_logic_h2c(_EchoService())
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        client = h2c.H2cBusinessLogicClient("127.0.0.1", srv.server_address[1])
        payload = bytes(range(256))
        r = client.process_command("k", None, ml.Command("k", payload))
        assert r.is_success and r.events[0].payload == payload
        s = client.handle_events(
            "k", ml.State("k", b"old"), [ml.Event("k", b"a"), ml.Event("k", b"b")]
        )
        assert s.payload == b"a|b"
        assert client.health_check().status == "UP"
        with pytest.raises(RuntimeError, match="handler exploded"):
            client.process_command("k", None, ml.Command("k", b"boom"))
    finally:
        srv.shutdown()
        srv.server_close()


class _FlakyAsyncService:
    """Async service whose handlers fail on demand, for error isolation."""

    async def process_command(self, aggregate_id, state, command):
        if command.payload == b"boom":
            raise RuntimeError("handler exploded")
        return ml.ProcessCommandReply(
            aggregate_id, True, "", (ml.Event(aggregate_id, command.payload),)
        )

    async def handle_events(self, aggregate_id, state, events):
        if any(e.payload == b"bad" for e in events):
            raise ValueError("bad event")
        return ml.State(aggregate_id, b"|".join(e.payload for e in events))

    async def health_check(self):
        return ml.HealthCheckReply("flaky", "UP")


def test_h2c_async_service_errors_fail_the_command_not_the_transport():
    """Async service methods are awaited server-side and bytes round-trip
    exactly; an exception in either handler fails that one call as a
    client-side RuntimeError carrying the message, and the same client
    and server keep serving afterwards."""
    srv = h2c.serve_business_logic_h2c(_FlakyAsyncService())
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        client = h2c.H2cBusinessLogicClient("127.0.0.1", srv.server_address[1])
        with pytest.raises(RuntimeError, match="handler exploded"):
            client.process_command("k", None, ml.Command("k", b"boom"))
        with pytest.raises(RuntimeError, match="bad event"):
            client.handle_events("k", None, [ml.Event("k", b"bad")])
        payload = bytes(range(256))  # every byte value survives the frames
        r = client.process_command("k", None, ml.Command("k", payload))
        assert r.is_success and r.events[0].payload == payload
        s = client.handle_events(
            "k", ml.State("k", b"old"), [ml.Event("k", b"a"), ml.Event("k", b"b")]
        )
        assert s.payload == b"a|b"
        assert client.health_check().status == "UP"
    finally:
        srv.shutdown()
        srv.server_close()


# -- cross-process integration through the Spark engine -----------------------

CHILD_SRC = '''
import json, sys
sys.path.insert(0, {repo!r})
from surge_spark.streaming import h2c
from surge_spark.streaming import multilanguage as ml


class CounterService:
    def process_command(self, aggregate_id, state, command):
        cmd = json.loads(command.payload.decode())
        if cmd.get("op") == "bad":
            return ml.ProcessCommandReply(aggregate_id, False, "bad op")
        ev = ml.Event(aggregate_id, json.dumps({{"add": cmd["n"]}}).encode())
        return ml.ProcessCommandReply(aggregate_id, True, "", (ev,))

    def handle_events(self, aggregate_id, state, events):
        count = json.loads(state.payload.decode())["count"] if state else 0
        for e in events:
            count += json.loads(e.payload.decode())["add"]
        return ml.State(aggregate_id, json.dumps({{"count": count}}).encode())

    def health_check(self):
        return ml.HealthCheckReply("counter-h2c", "UP")


srv = h2c.serve_business_logic_h2c(CounterService())
print(srv.server_address[1], flush=True)
srv.serve_forever()
'''


def test_cross_process_h2c_business_logic(spark, tmp_path):
    """The engine's distributed fold dials business logic in a CHILD
    process over wire-true h2c gRPC frames; commits, rejections and
    read-your-writes hold across the process boundary (proto3 payloads
    from the shared mixin, h2c framing)."""
    script = tmp_path / "svc_h2c.py"
    script.write_text(CHILD_SRC.format(repo=REPO))
    proc = subprocess.Popen(
        [sys.executable, str(script)], stdout=subprocess.PIPE, text=True
    )
    try:
        port = int(proc.stdout.readline())
        client = h2c.H2cBusinessLogicClient("127.0.0.1", port)
        store = SnapshotStore(str(tmp_path / "store"), key_col="aggregate_id")
        gw = ml.MultilanguageGateway(store, client)

        r1 = gw.forward_command(
            spark, "h-1", json.dumps({"op": "add", "n": 5}).encode()
        )
        assert r1.is_success
        assert json.loads(r1.new_state.payload) == {"count": 5}
        r2 = gw.forward_command(
            spark, "h-1", json.dumps({"op": "add", "n": 3}).encode()
        )
        assert json.loads(r2.new_state.payload) == {"count": 8}
        bad = gw.forward_command(spark, "h-1", json.dumps({"op": "bad"}).encode())
        assert not bad.is_success and "bad op" in bad.rejection_message
        assert json.loads(gw.get_state(spark, "h-1").state.payload) == {"count": 8}
        assert gw.health_check().status == "UP"
    finally:
        proc.terminate()
        proc.wait(timeout=10)
    assert gw.health_check().status == "DOWN"


def test_large_payload_chunked_into_max_frame_size():
    """r7 review fixes: DATA never exceeds the unnegotiated
    SETTINGS_MAX_FRAME_SIZE (a compliant peer kills oversized frames with
    FRAME_SIZE_ERROR), END_STREAM rides only the last chunk, and a >16 KiB
    message round-trips through the live client/server."""
    big = bytes(range(256)) * 256  # 64 KiB
    frames = h2c.data_frames(1, h2c.grpc_wrap(big), end_stream=True)
    pos, sizes, flags_seen = 0, [], []
    while pos < len(frames):
        length = int.from_bytes(frames[pos : pos + 3], "big")
        sizes.append(length)
        flags_seen.append(frames[pos + 4])
        pos += 9 + length
    assert all(s <= h2c.MAX_FRAME_SIZE for s in sizes)
    assert [f & h2c.FLAG_END_STREAM for f in flags_seen[:-1]] == [0] * (
        len(flags_seen) - 1
    )
    assert flags_seen[-1] & h2c.FLAG_END_STREAM

    srv = h2c.serve_business_logic_h2c(_EchoService())
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        client = h2c.H2cBusinessLogicClient("127.0.0.1", srv.server_address[1])
        r = client.process_command("k", None, ml.Command("k", big))
        assert r.is_success and r.events[0].payload == big
    finally:
        srv.shutdown()
        srv.server_close()


def test_hpack_size_update_does_not_evict_fitting_entry():
    """A dynamic-table size update must not evict entries that still fit
    (the phantom-insert bug overcounted by 32 bytes): fill the table to
    exactly max_size, update to the same size, then reference the entry."""
    d = h2c.HpackDecoder()
    name, value = "x-a", "v" * (64 - 32 - 3)  # entry size exactly 64
    d.max_size = 64
    d._insert(name, value)
    assert d.dynamic == [(name, value)]
    # size update to the SAME max (001 + 5-bit-prefix int 64): nothing
    # may be evicted
    upd = h2c.hpack_int(64, 5, 0x20)
    assert d.decode(upd) == []
    assert d.dynamic == [(name, value)]
    # the entry is still referenceable at index 62
    got = d.decode(h2c.hpack_int(62, 7, 0x80))
    assert got == [(name, value)]


def test_hpack_size_update_above_settings_limit_rejected():
    """RFC 7541 §6.3: a size update above SETTINGS_HEADER_TABLE_SIZE is a
    decoding error — accepting it would let a peer grow the dynamic table
    (decoder memory) without bound."""
    d = h2c.HpackDecoder(max_size=4096)
    with pytest.raises(ValueError, match="SETTINGS_HEADER_TABLE_SIZE"):
        d.decode(h2c.hpack_int(1 << 20, 5, 0x20))
    # an update AT the limit is fine, and lowering then restoring works
    assert d.decode(h2c.hpack_int(4096, 5, 0x20)) == []
    assert d.decode(h2c.hpack_int(0, 5, 0x20)) == []
    assert d.max_size == 0


def test_grpc_over_tls_with_alpn_h2(tmp_path):
    """gRPC-over-TLS: both ends negotiate ALPN 'h2' (RFC 7301 — the grpc
    secure channel's transport) over a self-signed cert generated with
    the openssl binary; frames flow unchanged inside TLS and the client
    REFUSES a server that did not negotiate h2."""
    import shutil
    import subprocess as sp

    if shutil.which("openssl") is None:
        pytest.skip("openssl binary unavailable for self-signed cert")
    key, crt = str(tmp_path / "k.pem"), str(tmp_path / "c.pem")
    sp.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", key, "-out", crt, "-days", "1",
            "-subj", "/CN=localhost",
        ],
        check=True,
        capture_output=True,
    )
    srv = h2c.serve_business_logic_h2c(
        _EchoService(), ssl_context=h2c.make_server_ssl_context(crt, key)
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        client = h2c.H2cBusinessLogicClient(
            "127.0.0.1",
            srv.server_address[1],
            # loopback test: peer identity established by the pinned
            # self-signed cert itself; hostname check stays ON by default
            ssl_context=h2c.make_client_ssl_context(
                cafile=crt, verify_hostname=False
            ),
            server_hostname="localhost",
        )
        payload = bytes(range(64))
        r = client.process_command("k", None, ml.Command("k", payload))
        assert r.is_success and r.events[0].payload == payload
        assert client.health_check().status == "UP"
    finally:
        srv.shutdown()
        srv.server_close()


def test_sender_respects_peer_flow_control_window():
    """Second review pass: senders must consume the peer's advertised
    window (RFC 9113 §5.2), not just chunk by frame size — a compliant
    peer treats over-window DATA as FLOW_CONTROL_ERROR. With a 10-octet
    window, every frame is ≤ the available credit and the transfer
    completes as the peer grants more."""
    import socket as socklib
    import struct

    a, b = socklib.socketpair()
    try:
        conn = h2c._ConnState(a)
        conn.conn_window = 10
        conn.init_window = 10
        payload = bytes(range(100)) * 1  # 100 bytes through a 10-byte window
        got = {"n": 0, "oversize": False, "end_seen": False}

        def feeder():
            while got["n"] < len(payload) or not got["end_seen"]:
                ftype, flags, sid, fp = h2c.read_frame(b)
                if ftype != h2c.F_DATA:
                    continue
                if len(fp) > 10:
                    got["oversize"] = True
                got["n"] += len(fp)
                if flags & h2c.FLAG_END_STREAM:
                    got["end_seen"] = True
                upd = struct.pack(">I", len(fp))
                b.sendall(h2c.encode_frame(h2c.F_WINDOW_UPDATE, 0, 0, upd))
                b.sendall(h2c.encode_frame(h2c.F_WINDOW_UPDATE, 0, 1, upd))

        t = threading.Thread(target=feeder, daemon=True)
        t.start()
        conn.send_data(1, payload, end_stream=True)
        t.join(timeout=10)
        assert got["n"] == len(payload)
        assert not got["oversize"]
        assert got["end_seen"]
    finally:
        a.close()
        b.close()


def test_hpack_over_declared_string_length_is_malformed():
    # ADVICE r10: buf[pos:pos+n] never raises in Python, so a length
    # prefix that over-declares the remaining block used to decode to a
    # silently TRUNCATED header value. It must surface as the uniform
    # malformed-block ValueError instead.
    # literal without indexing, new name: name "a" (len 1), then a value
    # whose 7-bit length prefix claims 10 bytes but only 3 follow.
    block = bytes([0x00, 0x01]) + b"a" + bytes([0x0A]) + b"xyz"
    dec = h2c.HpackDecoder()
    with pytest.raises(ValueError, match="malformed HPACK|over-declare"):
        dec.decode(block)
    # exact-length twin decodes fine (the guard is ==, not a behavior change)
    ok = bytes([0x00, 0x01]) + b"a" + bytes([0x03]) + b"xyz"
    assert h2c.HpackDecoder().decode(ok) == [("a", "xyz")]
