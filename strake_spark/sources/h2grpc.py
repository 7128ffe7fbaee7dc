"""Jar-free gRPC transport over cleartext HTTP/2 (h2c, prior knowledge).

Reference: crates/connectors/src/sources/grpc.rs:21-45 opens a tonic
channel and issues unary/server-streaming calls; this module is the
one gRPC transport (no ``grpcio`` dependency) and implements the minimal
client side of the public wire contract from the specs alone:

- HTTP/2 framing (RFC 7540): connection preface, SETTINGS exchange +
  acks, HEADERS/DATA/WINDOW_UPDATE/PING/RST_STREAM/GOAWAY handling,
  inbound flow-control replenished as DATA is consumed.
- HPACK (RFC 7541): requests are encoded as literal-never-indexed
  fields (always valid, no shared state); responses are decoded with
  the full static table, a dynamic table fed by incremental-indexing
  literals, table-size updates, and Huffman-coded strings (the
  Appendix B code table, validated against the RFC's own Appendix C
  canonical vectors — grpc-go/grpc-java Huffman-encode response
  headers, so real-peer interop requires this path).
- Send-side flow control (RFC 7540 §6.9): connection and stream send
  windows start at 65 535 (or the peer's SETTINGS_INITIAL_WINDOW_SIZE)
  and request DATA blocks on WINDOW_UPDATE replenishment instead of
  overrunning the peer's windows.
- TLS (``grpcs://``): the same framing over an ``ssl``-wrapped socket
  with ALPN ``h2`` (RFC 7301); hostname verification is on by default,
  with a pinned-roots option mirroring ``remote.py``'s
  ``tls_root_certs`` (reference transport:
  crates/connectors/src/sources/grpc.rs:21-45, tonic TLS).
- gRPC message framing: 1-byte compressed flag + 4-byte big-endian
  length per message; request DATA carries END_STREAM; the response
  ends with an HTTP/2 trailers HEADERS frame carrying grpc-status.

Scale shape: the transport is used per input partition inside the
Python DataSource reader — each Spark task opens its own connection to
the endpoint, streams its partition's messages, and closes; no driver
funnel.
"""

from __future__ import annotations

import socket
import ssl
import struct
from dataclasses import dataclass, field

from strake_spark.errors import SourceError

# ------------------------------------------------------------------ HPACK

# RFC 7541 Appendix A — the full static table.
HPACK_STATIC: list[tuple[str, str]] = [
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


# RFC 7541 Appendix B — the static Huffman code, (code, nbits) indexed
# by symbol 0..256 (256 = EOS). Verified at test time against the
# RFC's Appendix C canonical vectors, Kraft sum == 1 (complete code)
# and prefix-freeness (tests/test_source_grpc_transport.py).
HUFF_TABLE: tuple[tuple[int, int], ...] = (
    (0x1FF8, 13), (0x7FFFD8, 23), (0xFFFFFE2, 28), (0xFFFFFE3, 28),
    (0xFFFFFE4, 28), (0xFFFFFE5, 28), (0xFFFFFE6, 28), (0xFFFFFE7, 28),
    (0xFFFFFE8, 28), (0xFFFFEA, 24), (0x3FFFFFFC, 30), (0xFFFFFE9, 28),
    (0xFFFFFEA, 28), (0x3FFFFFFD, 30), (0xFFFFFEB, 28), (0xFFFFFEC, 28),
    (0xFFFFFED, 28), (0xFFFFFEE, 28), (0xFFFFFEF, 28), (0xFFFFFF0, 28),
    (0xFFFFFF1, 28), (0xFFFFFF2, 28), (0x3FFFFFFE, 30), (0xFFFFFF3, 28),
    (0xFFFFFF4, 28), (0xFFFFFF5, 28), (0xFFFFFF6, 28), (0xFFFFFF7, 28),
    (0xFFFFFF8, 28), (0xFFFFFF9, 28), (0xFFFFFFA, 28), (0xFFFFFFB, 28),
    (0x14, 6), (0x3F8, 10), (0x3F9, 10), (0xFFA, 12), (0x1FF9, 13),
    (0x15, 6), (0xF8, 8), (0x7FA, 11), (0x3FA, 10), (0x3FB, 10),
    (0xF9, 8), (0x7FB, 11), (0xFA, 8), (0x16, 6), (0x17, 6), (0x18, 6),
    (0x0, 5), (0x1, 5), (0x2, 5), (0x19, 6), (0x1A, 6), (0x1B, 6),
    (0x1C, 6), (0x1D, 6), (0x1E, 6), (0x1F, 6), (0x5C, 7), (0xFB, 8),
    (0x7FFC, 15), (0x20, 6), (0xFFB, 12), (0x3FC, 10), (0x1FFA, 13),
    (0x21, 6), (0x5D, 7), (0x5E, 7), (0x5F, 7), (0x60, 7), (0x61, 7),
    (0x62, 7), (0x63, 7), (0x64, 7), (0x65, 7), (0x66, 7), (0x67, 7),
    (0x68, 7), (0x69, 7), (0x6A, 7), (0x6B, 7), (0x6C, 7), (0x6D, 7),
    (0x6E, 7), (0x6F, 7), (0x70, 7), (0x71, 7), (0x72, 7), (0xFC, 8),
    (0x73, 7), (0xFD, 8), (0x1FFB, 13), (0x7FFF0, 19), (0x1FFC, 13),
    (0x3FFC, 14), (0x22, 6), (0x7FFD, 15), (0x3, 5), (0x23, 6),
    (0x4, 5), (0x24, 6), (0x5, 5), (0x25, 6), (0x26, 6), (0x27, 6),
    (0x6, 5), (0x74, 7), (0x75, 7), (0x28, 6), (0x29, 6), (0x2A, 6),
    (0x7, 5), (0x2B, 6), (0x76, 7), (0x2C, 6), (0x8, 5), (0x9, 5),
    (0x2D, 6), (0x77, 7), (0x78, 7), (0x79, 7), (0x7A, 7), (0x7B, 7),
    (0x7FFE, 15), (0x7FC, 11), (0x3FFD, 14), (0x1FFD, 13),
    (0xFFFFFFC, 28), (0xFFFE6, 20), (0x3FFFD2, 22), (0xFFFE7, 20),
    (0xFFFE8, 20), (0x3FFFD3, 22), (0x3FFFD4, 22), (0x3FFFD5, 22),
    (0x7FFFD9, 23), (0x3FFFD6, 22), (0x7FFFDA, 23), (0x7FFFDB, 23),
    (0x7FFFDC, 23), (0x7FFFDD, 23), (0x7FFFDE, 23), (0xFFFFEB, 24),
    (0x7FFFDF, 23), (0xFFFFEC, 24), (0xFFFFED, 24), (0x3FFFD7, 22),
    (0x7FFFE0, 23), (0xFFFFEE, 24), (0x7FFFE1, 23), (0x7FFFE2, 23),
    (0x7FFFE3, 23), (0x7FFFE4, 23), (0x1FFFDC, 21), (0x3FFFD8, 22),
    (0x7FFFE5, 23), (0x3FFFD9, 22), (0x7FFFE6, 23), (0x7FFFE7, 23),
    (0xFFFFEF, 24), (0x3FFFDA, 22), (0x1FFFDD, 21), (0xFFFE9, 20),
    (0x3FFFDB, 22), (0x3FFFDC, 22), (0x7FFFE8, 23), (0x7FFFE9, 23),
    (0x1FFFDE, 21), (0x7FFFEA, 23), (0x3FFFDD, 22), (0x3FFFDE, 22),
    (0xFFFFF0, 24), (0x1FFFDF, 21), (0x3FFFDF, 22), (0x7FFFEB, 23),
    (0x7FFFEC, 23), (0x1FFFE0, 21), (0x1FFFE1, 21), (0x3FFFE0, 22),
    (0x1FFFE2, 21), (0x7FFFED, 23), (0x3FFFE1, 22), (0x7FFFEE, 23),
    (0x7FFFEF, 23), (0xFFFEA, 20), (0x3FFFE2, 22), (0x3FFFE3, 22),
    (0x3FFFE4, 22), (0x7FFFF0, 23), (0x3FFFE5, 22), (0x3FFFE6, 22),
    (0x7FFFF1, 23), (0x3FFFFE0, 26), (0x3FFFFE1, 26), (0xFFFEB, 20),
    (0x7FFF1, 19), (0x3FFFE7, 22), (0x7FFFF2, 23), (0x3FFFE8, 22),
    (0x1FFFFEC, 25), (0x3FFFFE2, 26), (0x3FFFFE3, 26), (0x3FFFFE4, 26),
    (0x7FFFFDE, 27), (0x7FFFFDF, 27), (0x3FFFFE5, 26), (0xFFFFF1, 24),
    (0x1FFFFED, 25), (0x7FFF2, 19), (0x1FFFE3, 21), (0x3FFFFE6, 26),
    (0x7FFFFE0, 27), (0x7FFFFE1, 27), (0x3FFFFE7, 26), (0x7FFFFE2, 27),
    (0xFFFFF2, 24), (0x1FFFE4, 21), (0x1FFFE5, 21), (0x3FFFFE8, 26),
    (0x3FFFFE9, 26), (0xFFFFFFD, 28), (0x7FFFFE3, 27), (0x7FFFFE4, 27),
    (0x7FFFFE5, 27), (0xFFFEC, 20), (0xFFFFF3, 24), (0xFFFED, 20),
    (0x1FFFE6, 21), (0x3FFFE9, 22), (0x1FFFE7, 21), (0x1FFFE8, 21),
    (0x7FFFF3, 23), (0x3FFFEA, 22), (0x3FFFEB, 22), (0x1FFFFEE, 25),
    (0x1FFFFEF, 25), (0xFFFFF4, 24), (0xFFFFF5, 24), (0x3FFFFEA, 26),
    (0x7FFFF4, 23), (0x3FFFFEB, 26), (0x7FFFFE6, 27), (0x3FFFFEC, 26),
    (0x3FFFFED, 26), (0x7FFFFE7, 27), (0x7FFFFE8, 27), (0x7FFFFE9, 27),
    (0x7FFFFEA, 27), (0x7FFFFEB, 27), (0xFFFFFFE, 28), (0x7FFFFEC, 27),
    (0x7FFFFED, 27), (0x7FFFFEE, 27), (0x7FFFFEF, 27), (0x7FFFFF0, 27),
    (0x3FFFFEE, 26), (0x3FFFFFFF, 30),
)

# (nbits, code) -> symbol, for the bit-at-a-time decoder (max 30 bits;
# header strings are tiny, so table simplicity beats a state machine)
_HUFF_DECODE: dict[tuple[int, int], int] = {
    (n, c): sym for sym, (c, n) in enumerate(HUFF_TABLE)
}
_HUFF_EOS = 256


def huffman_encode(data: bytes) -> bytes:
    """RFC 7541 §5.2 string encoding: concatenated codes, padded to a
    byte boundary with the EOS prefix (all-ones)."""
    acc = 0
    nbits = 0
    out = bytearray()
    for byte in data:
        code, n = HUFF_TABLE[byte]
        acc = (acc << n) | code
        nbits += n
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        pad = 8 - nbits
        out.append(((acc << pad) | ((1 << pad) - 1)) & 0xFF)
    return bytes(out)


def huffman_decode(data: bytes) -> bytes:
    """Decode a Huffman-coded HPACK string. Per RFC 7541 §5.2 the
    padding must be the EOS prefix, strictly shorter than 8 bits, and
    a full EOS code is a decoding error."""
    out = bytearray()
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= 5:  # shortest code is 5 bits
            sym = None
            for n in range(5, min(nbits, 30) + 1):
                sym = _HUFF_DECODE.get((n, (acc >> (nbits - n)) & ((1 << n) - 1)))
                if sym is not None:
                    if sym == _HUFF_EOS:
                        raise SourceError("HPACK Huffman: EOS inside string")
                    out.append(sym)
                    nbits -= n
                    acc &= (1 << nbits) - 1
                    break
            if sym is None:
                break  # need more input bits
    if nbits >= 8:
        raise SourceError("HPACK Huffman: undecodable trailing bits")
    if acc != (1 << nbits) - 1:
        raise SourceError("HPACK Huffman: padding is not an EOS prefix")
    return bytes(out)


def _encode_int(value: int, prefix_bits: int, flags: int = 0) -> bytes:
    """RFC 7541 §5.1 prefix-varint encoding."""
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes([flags | value])
    out = bytearray([flags | limit])
    value -= limit
    while value >= 128:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def _decode_int(buf: bytes, pos: int, prefix_bits: int) -> tuple[int, int]:
    if pos >= len(buf):
        # bounds-checked (r18): a truncated header block from a buggy
        # or malicious peer must be a loud protocol error, not a raw
        # IndexError out of the wire client
        raise SourceError("HPACK truncated integer")
    limit = (1 << prefix_bits) - 1
    value = buf[pos] & limit
    pos += 1
    if value < limit:
        return value, pos
    shift = 0
    while True:
        if pos >= len(buf):
            raise SourceError("HPACK truncated integer")
        b = buf[pos]
        pos += 1
        value += (b & 0x7F) << shift
        if not b & 0x80:
            return value, pos
        shift += 7
        if shift > 63:
            raise SourceError("HPACK integer overflow")


def encode_headers(headers: list[tuple[str, str]]) -> bytes:
    """Encode as literal-never-indexed fields with literal names
    (RFC 7541 §6.2.3) — stateless, accepted by every compliant peer."""
    out = bytearray()
    for name, value in headers:
        out += b"\x10"  # 0001 0000: never indexed, new name
        n = name.encode()
        v = value.encode()
        out += _encode_int(len(n), 7)  # huffman bit clear
        out += n
        out += _encode_int(len(v), 7)
        out += v
    return bytes(out)


@dataclass
class HpackDecoder:
    """Response-side HPACK state: static + dynamic table, size updates,
    Huffman-coded strings (Appendix B code)."""

    max_size: int = 4096
    # the ceiling WE advertise (SETTINGS_HEADER_TABLE_SIZE); §6.3 size
    # updates may shrink-or-restore max_size only up to this
    advertised_max: int = 4096
    dynamic: list[tuple[str, str]] = field(default_factory=list)

    def _lookup(self, index: int) -> tuple[str, str]:
        if 1 <= index <= len(HPACK_STATIC):
            return HPACK_STATIC[index - 1]
        d = index - len(HPACK_STATIC) - 1
        if 0 <= d < len(self.dynamic):
            return self.dynamic[d]
        raise SourceError(f"HPACK index {index} out of range")

    def _read_string(self, buf: bytes, pos: int) -> tuple[str, int]:
        if pos >= len(buf):
            raise SourceError("HPACK truncated string")
        huffman = bool(buf[pos] & 0x80)
        length, pos = _decode_int(buf, pos, 7)
        if pos + length > len(buf):
            # a declared length past the block end previously decoded a
            # silently SHORTENED string — silent-wrong header values
            raise SourceError("HPACK string length exceeds header block")
        raw = buf[pos : pos + length]
        pos += length
        if huffman:
            raw = huffman_decode(raw)
        return raw.decode("utf-8", "replace"), pos

    def _evict(self) -> None:
        # entry size per RFC 7541 §4.1: name + value + 32 overhead bytes
        def size() -> int:
            return sum(len(n) + len(v) + 32 for n, v in self.dynamic)

        while self.dynamic and size() > self.max_size:
            self.dynamic.pop()

    def decode(self, buf: bytes) -> list[tuple[str, str]]:
        headers: list[tuple[str, str]] = []
        pos = 0
        while pos < len(buf):
            b = buf[pos]
            if b & 0x80:  # indexed field
                index, pos = _decode_int(buf, pos, 7)
                headers.append(self._lookup(index))
            elif b & 0x40:  # literal with incremental indexing
                index, pos = _decode_int(buf, pos, 6)
                name = self._lookup(index)[0] if index else None
                if name is None:
                    name, pos = self._read_string(buf, pos)
                value, pos = self._read_string(buf, pos)
                self.dynamic.insert(0, (name, value))
                self._evict()
                headers.append((name, value))
            elif b & 0x20:  # dynamic table size update
                size, pos = _decode_int(buf, pos, 5)
                # RFC 7541 §6.3: the peer may only shrink-or-restore up
                # to the limit WE advertise (advertised_max, the value
                # our SETTINGS_HEADER_TABLE_SIZE carries) — anything
                # above is a decoding error (r19; the r18 check used a
                # 65536 literal, wrongly accepting (4096, 65536])
                if size > self.advertised_max:
                    raise SourceError(
                        f"HPACK size update {size} exceeds advertised "
                        f"limit {self.advertised_max}"
                    )
                self.max_size = size
                self._evict()
            else:  # literal without indexing (0000) / never indexed (0001)
                index, pos = _decode_int(buf, pos, 4)
                name = self._lookup(index)[0] if index else None
                if name is None:
                    name, pos = self._read_string(buf, pos)
                value, pos = self._read_string(buf, pos)
                headers.append((name, value))
        return headers


# ------------------------------------------------------------- HTTP/2 frames

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

FT_DATA, FT_HEADERS, FT_PRIORITY, FT_RST, FT_SETTINGS = 0, 1, 2, 3, 4
FT_PUSH, FT_PING, FT_GOAWAY, FT_WINDOW_UPDATE, FT_CONTINUATION = 5, 6, 7, 8, 9

FLAG_END_STREAM = 0x1
FLAG_END_HEADERS = 0x4
FLAG_ACK = 0x1
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20

# RFC 7540 §6.5.2 SETTINGS_MAX_FRAME_SIZE default — the largest frame a
# peer must accept without negotiation
MAX_FRAME_SIZE = 16384


def pack_frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return (
        len(payload).to_bytes(3, "big")
        + bytes([ftype, flags])
        + (stream_id & 0x7FFFFFFF).to_bytes(4, "big")
        + payload
    )


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise SourceError("h2c connection closed mid-frame")
        buf += chunk
    return bytes(buf)


def read_frame(sock: socket.socket) -> tuple[int, int, int, bytes]:
    head = _recv_exact(sock, 9)
    length = int.from_bytes(head[:3], "big")
    ftype, flags = head[3], head[4]
    stream_id = int.from_bytes(head[5:9], "big") & 0x7FFFFFFF
    payload = _recv_exact(sock, length) if length else b""
    return ftype, flags, stream_id, payload


def strip_padding(flags: int, payload: bytes) -> bytes:
    if flags & FLAG_PADDED:
        # §6.1: pad length >= remaining payload is a PROTOCOL_ERROR —
        # silently returning a short/empty payload surfaced much later
        # as an opaque truncated-message error (r19 review)
        if not payload or payload[0] >= len(payload):
            raise SourceError("h2c padded frame: pad length exceeds payload")
        pad = payload[0]
        payload = payload[1 : len(payload) - pad]
    return payload


# -------------------------------------------------------------- gRPC client


def grpc_frame(message: bytes) -> bytes:
    """gRPC length-prefixed message (uncompressed)."""
    return b"\x00" + len(message).to_bytes(4, "big") + message


class GrpcMessageBuffer:
    """Reassembles gRPC messages across DATA frame boundaries."""

    # The 4-byte length prefix is peer bytes: a declared multi-GiB
    # message would stream DATA frames into ``_buf`` until the process
    # OOMs (flow control replenishes as data arrives, so it does not
    # bound the total). Cap at the pg-frame posture (r19 opt round).
    _MAX_MESSAGE = 512 * 1024 * 1024

    def __init__(self) -> None:
        self._buf = bytearray()

    def feed(self, data: bytes) -> list[bytes]:
        self._buf += data
        out: list[bytes] = []
        while len(self._buf) >= 5:
            compressed = self._buf[0]
            ln = int.from_bytes(self._buf[1:5], "big")
            if ln > self._MAX_MESSAGE:
                raise SourceError(
                    f"gRPC message length {ln} exceeds {self._MAX_MESSAGE} "
                    "bytes (corrupt or hostile length prefix)"
                )
            if len(self._buf) < 5 + ln:
                break
            if compressed:
                raise SourceError(
                    "compressed gRPC message received; this transport "
                    "negotiates identity encoding only"
                )
            out.append(bytes(self._buf[5 : 5 + ln]))
            del self._buf[: 5 + ln]
        return out

    def pending(self) -> int:
        return len(self._buf)


# RFC 7540 §6.5.2 / §6.9.1: flow-control windows start at 65,535 bytes
# until the peer's SETTINGS says otherwise
DEFAULT_WINDOW = 65535
_SETTINGS_INITIAL_WINDOW_SIZE = 0x4
_SETTINGS_MAX_FRAME_SIZE = 0x5


class H2GrpcChannel:
    """One HTTP/2 connection (cleartext or TLS); one RPC at a time
    (each Spark task opens its own channel, so per-connection
    concurrency buys nothing here)."""

    def __init__(
        self,
        host: str,
        port: int,
        timeout: float = 30.0,
        tls: bool = False,
        tls_root_certs: str | None = None,
    ) -> None:
        self.authority = f"{host}:{port}"
        self._sock = socket.create_connection((host, port), timeout=timeout)
        # every failure from here until the handshake completes must
        # close the socket — __init__ raising means no caller ever
        # holds the object to close() it (one FD leaked per failed
        # Spark-task attempt otherwise)
        try:
            if tls:
                # stdlib TLS with ALPN h2 (RFC 7301); hostname verification
                # stays ON — pass tls_root_certs (a PEM bundle path) to pin
                # a private CA, mirroring remote.py's option
                ctx = ssl.create_default_context(cafile=tls_root_certs)
                ctx.set_alpn_protocols(["h2"])
                try:
                    self._sock = ctx.wrap_socket(self._sock, server_hostname=host)
                except ssl.SSLError as e:
                    raise SourceError(
                        f"grpcs TLS handshake with {host}:{port} failed: {e}"
                    ) from e
                if self._sock.selected_alpn_protocol() != "h2":
                    raise SourceError(
                        f"peer {host}:{port} did not negotiate ALPN h2 "
                        f"(got {self._sock.selected_alpn_protocol()!r})"
                    )
            self._scheme = "https" if tls else "http"
            self._decoder = HpackDecoder()
            self._next_stream = 1
            self._goaway_last: int | None = None  # graceful-drain marker
            # send-side flow control (RFC 7540 §6.9): connection window plus
            # the initial window every new stream starts with
            self._conn_window = DEFAULT_WINDOW
            self._initial_window = DEFAULT_WINDOW
            self._peer_max_frame = MAX_FRAME_SIZE
            self._stream_windows: dict[int, int] = {}
            self._sock.sendall(
                PREFACE
                # SETTINGS: defaults are fine; advertise no server push
                + pack_frame(FT_SETTINGS, 0, 0, struct.pack("!HI", 0x2, 0))
            )
            self._settings_acked = False
            self._peer_settings_received = False
            # wait for the peer's initial SETTINGS before opening streams —
            # its SETTINGS_INITIAL_WINDOW_SIZE governs how much request
            # DATA may be in flight (§6.9.2); sending against the 65,535
            # default and letting windows go negative is legal but this
            # half-RTT wait keeps the sender conservative and testable
            while not self._peer_settings_received:
                ftype, flags, _sid, payload = read_frame(self._sock)
                self._handle_control(ftype, flags, payload)
        except BaseException:
            try:
                self._sock.close()
            except OSError:
                pass
            raise

    # -------------------------------------------------------------- control
    def _handle_control(self, ftype: int, flags: int, payload: bytes) -> None:
        if ftype == FT_SETTINGS:
            if not flags & FLAG_ACK:
                self._apply_settings(payload)
                self._peer_settings_received = True
                self._sock.sendall(pack_frame(FT_SETTINGS, FLAG_ACK, 0, b""))
            else:
                self._settings_acked = True
        elif ftype == FT_PING:
            if not flags & FLAG_ACK:
                self._sock.sendall(pack_frame(FT_PING, FLAG_ACK, 0, payload))
        elif ftype == FT_WINDOW_UPDATE:
            if len(payload) >= 4:
                self._conn_window += int.from_bytes(payload[:4], "big") & 0x7FFFFFFF
        elif ftype == FT_GOAWAY:
            err = int.from_bytes(payload[4:8], "big") if len(payload) >= 8 else -1
            last_sid = (
                int.from_bytes(payload[:4], "big") & 0x7FFFFFFF
                if len(payload) >= 4 else 0
            )
            # §6.8: a graceful GOAWAY (NO_ERROR) promises streams up to
            # last_stream_id will complete — standard with grpc-go/java
            # MaxConnectionAge draining (r19 review: aborting the
            # in-flight RPC here failed healthy Spark tasks). Keep
            # draining permitted streams; only new calls must fail.
            if err == 0 and all(sid <= last_sid for sid in self._stream_windows):
                self._goaway_last = last_sid
                return
            raise SourceError(f"h2c GOAWAY from peer (error {err})")

    def _apply_settings(self, payload: bytes) -> None:
        for i in range(0, len(payload) - 5, 6):
            ident = int.from_bytes(payload[i : i + 2], "big")
            value = int.from_bytes(payload[i + 2 : i + 6], "big")
            if ident == _SETTINGS_INITIAL_WINDOW_SIZE:
                # §6.9.2: adjusts open streams by the delta too
                delta = value - self._initial_window
                self._initial_window = value
                for sid in self._stream_windows:
                    self._stream_windows[sid] += delta
            elif ident == _SETTINGS_MAX_FRAME_SIZE:
                # §6.5.2: the largest frame WE may send the peer; values
                # outside 16384..2^24-1 are a connection error of type
                # PROTOCOL_ERROR — fail loudly here instead of clamping
                # UP, which would license us to send DATA frames larger
                # than the peer's (non-conformant) declared limit and
                # surface later as an opaque FRAME_SIZE_ERROR (r16
                # ADVICE)
                if not (MAX_FRAME_SIZE <= value <= (1 << 24) - 1):
                    raise SourceError(
                        f"peer SETTINGS_MAX_FRAME_SIZE {value} outside "
                        f"{MAX_FRAME_SIZE}..{(1 << 24) - 1} (RFC 7540 "
                        "§6.5.2 protocol error)"
                    )
                self._peer_max_frame = value

    def _replenish(self, stream_id: int, consumed: int) -> None:
        if consumed <= 0:
            return
        inc = consumed.to_bytes(4, "big")
        self._sock.sendall(
            pack_frame(FT_WINDOW_UPDATE, 0, 0, inc)
            + pack_frame(FT_WINDOW_UPDATE, 0, stream_id, inc)
        )

    # ------------------------------------------------------------------ rpc
    def call(self, method: str, request: bytes):
        """Unary request -> iterator of response message bytes (covers
        both unary and server-streaming responses; the trailers'
        grpc-status is checked either way)."""
        if self._goaway_last is not None:
            raise SourceError(
                "h2c connection is draining (graceful GOAWAY received); "
                "open a new connection"
            )
        stream_id = self._next_stream
        self._next_stream += 2
        headers = [
            (":method", "POST"),
            (":scheme", self._scheme),
            (":path", method),
            (":authority", self.authority),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
            ("grpc-accept-encoding", "identity"),
        ]
        body = grpc_frame(request)
        self._stream_windows[stream_id] = self._initial_window
        try:
            yield from self._call(stream_id, method, body, headers)
        finally:
            self._stream_windows.pop(stream_id, None)

    def _call(self, stream_id: int, method: str, body: bytes, headers):
        self._sock.sendall(
            pack_frame(FT_HEADERS, FLAG_END_HEADERS, stream_id, encode_headers(headers))
        )
        # RFC 7540 §6.9: request DATA is sent only as far as the
        # connection + stream send windows allow (chunked to the §4.2
        # frame cap); when blocked, fall through to the read loop and
        # resume after the peer's WINDOW_UPDATEs replenish the windows
        send_state = {"sent": 0, "end_sent": False}
        self._pump_send(stream_id, body, send_state)
        buf = GrpcMessageBuffer()
        got_headers = False
        header_block = bytearray()
        collecting = False
        while True:
            if not send_state["end_sent"]:
                self._pump_send(stream_id, body, send_state)
            ftype, flags, sid, payload = read_frame(self._sock)
            if sid == 0:
                self._handle_control(ftype, flags, payload)
                continue
            if sid != stream_id:
                continue  # stale frames from a previous stream
            if ftype == FT_WINDOW_UPDATE:
                if len(payload) >= 4:
                    inc = int.from_bytes(payload[:4], "big") & 0x7FFFFFFF
                    self._stream_windows[stream_id] = (
                        self._stream_windows.get(stream_id, 0) + inc
                    )
                continue
            if ftype in (FT_HEADERS, FT_CONTINUATION):
                if ftype == FT_HEADERS:
                    payload = strip_padding(flags, payload)
                    if flags & FLAG_PRIORITY:
                        payload = payload[5:]
                    header_block = bytearray(payload)
                    collecting = True
                else:
                    header_block += payload
                if collecting and flags & FLAG_END_HEADERS:
                    decoded = dict(self._decoder.decode(bytes(header_block)))
                    collecting = False
                    if not got_headers:
                        got_headers = True
                        status = decoded.get(":status")
                        if status != "200":
                            raise SourceError(f"h2c :status {status} from {method}")
                        # grpc-status may arrive in headers (trailers-only)
                        if "grpc-status" in decoded:
                            self._check_status(decoded, method)
                            return
                    else:  # trailers
                        self._check_status(decoded, method)
                        if buf.pending():
                            raise SourceError("truncated trailing gRPC message")
                        return
                if flags & FLAG_END_STREAM and not collecting and got_headers:
                    continue
            elif ftype == FT_DATA:
                data = strip_padding(flags, payload)
                self._replenish(stream_id, len(payload))
                for msg in buf.feed(data):
                    yield msg
                if flags & FLAG_END_STREAM:
                    # stream closed without trailers — not valid gRPC
                    raise SourceError("gRPC stream ended without trailers")
            elif ftype == FT_RST:
                code = int.from_bytes(payload[:4], "big")
                raise SourceError(f"h2c RST_STREAM (error {code}) from {method}")
            # PRIORITY/PUSH_PROMISE on our stream: ignore

    def _pump_send(self, stream_id: int, body: bytes, state: dict) -> None:
        """Flush request DATA as far as both send windows allow; leaves
        state['end_sent'] False when blocked on flow control."""
        while not state["end_sent"]:
            remaining = len(body) - state["sent"]
            if remaining == 0:
                # empty request body: one empty END_STREAM frame
                # (consumes no window — §6.9.1 counts payload bytes)
                self._sock.sendall(
                    pack_frame(FT_DATA, FLAG_END_STREAM, stream_id, b"")
                )
                state["end_sent"] = True
                return
            allow = min(
                self._conn_window,
                self._stream_windows.get(stream_id, 0),
                self._peer_max_frame,
                remaining,
            )
            if allow <= 0:
                return  # blocked; caller reads frames until WINDOW_UPDATE
            chunk = body[state["sent"] : state["sent"] + allow]
            last = state["sent"] + allow == len(body)
            self._sock.sendall(
                pack_frame(
                    FT_DATA, FLAG_END_STREAM if last else 0, stream_id, chunk
                )
            )
            self._conn_window -= allow
            self._stream_windows[stream_id] -= allow
            state["sent"] += allow
            if last:
                state["end_sent"] = True

    @staticmethod
    def _check_status(trailers: dict, method: str) -> None:
        status = trailers.get("grpc-status", "2")
        if status != "0":
            msg = trailers.get("grpc-message", "")
            raise SourceError(
                f"gRPC call {method} failed: status {status} {msg!r}"
            )

    def close(self) -> None:
        try:
            self._sock.sendall(
                pack_frame(FT_GOAWAY, 0, 0, b"\x00" * 8)
            )
        except OSError:
            pass
        self._sock.close()

    def __enter__(self) -> "H2GrpcChannel":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def parse_endpoint(endpoint: str) -> tuple[str, int, bool]:
    """``[grpc://|grpcs://]host:port`` -> (host, port, tls). A bare
    ``host:port`` is cleartext h2c (back-compat); ``grpcs://`` defaults
    to port 443 when omitted."""
    tls = False
    if endpoint.startswith("grpcs://"):
        endpoint, tls = endpoint[len("grpcs://") :], True
    elif endpoint.startswith("grpc://"):
        endpoint = endpoint[len("grpc://") :]
    host, _, port = endpoint.rpartition(":")
    if not host:
        if tls:
            return endpoint, 443, True
        raise SourceError(f"grpc endpoint {endpoint!r} must be host:port")
    return host, int(port), tls


def unary_stream(
    endpoint: str,
    method: str,
    request: bytes,
    timeout: float = 30.0,
    tls_root_certs: str | None = None,
):
    """One-shot helper: open a channel, yield response messages, close."""
    host, port, tls = parse_endpoint(endpoint)
    chan = H2GrpcChannel(
        host, port, timeout=timeout, tls=tls, tls_root_certs=tls_root_certs
    )
    try:
        yield from chan.call(method, request)
    finally:
        chan.close()
