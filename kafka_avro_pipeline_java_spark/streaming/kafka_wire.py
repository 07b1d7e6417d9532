"""Pure-Python Kafka wire protocol: codec + minimal client.

The reference talks to Kafka through the Java client jars
(``02-producer/.../AvroProducer.java:83-90`` send path,
``03-consumer/.../AvroConsumer.java:116-138`` poll loop); this container
has neither the spark-sql-kafka jar nor a broker, so the executed-read
story is built from the protocol itself: the Apache Kafka wire format is
a public, versioned binary protocol (kafka.apache.org/protocol), and the
subset below — Metadata v0, ListOffsets v1, Fetch v4, Produce v3,
ApiVersions v0, CreateTopics v0, DeleteTopics v0, and record batches
(magic 2, zigzag-varint deltas, CRC32C — the format every 0.11+ broker
natively writes, the reference's cp-kafka 7.0.0 brokers included) — is
enough for a correct bounded consumer, producer, and topic-DDL admin.

Each API is spoken at one version. Its request and response layouts are
written once, in the ``MESSAGES`` table, and one pair of functions
(``write``/``read``) lays out any of them; a frame that is short or has
bytes left over is refused. The client checks the broker's ApiVersions
response once per connection and refuses a broker that does not offer
Produce v3 or Fetch v4. Batches may be compressed: gzip is implemented
with the stdlib both ways (attribute bits, CRC over the compressed wire
bytes), snappy/lz4/zstd are recognized and raise a named
``KafkaCodecError`` unless their third-party package is present. The
table and the record-batch codec are shared by the client here and the
in-process broker in ``fake_broker.py``, so both sides of every test
exchange REAL protocol bytes over a REAL TCP socket; golden-byte tests
pin the layouts to the protocol guide (tests/test_kafka_wire_v2.py).

Scale shape: one socket per (client, broker), and this module never
aggregates across partitions. The DataSource built on top
(sources/kafka_pyds.py) uses it in two places. Its batch reader opens a
connection inside each per-partition reader on an executor. Its stream
reader fetches every partition from one process, the driver's Python
source runner, and keeps at most one Fetch response per partition
buffered there (see that module).

Routing: ``KafkaWireClient`` is one socket to one broker.
``KafkaClusterClient`` layers leader routing on top — it refreshes
Metadata, opens one ``KafkaWireClient`` per advertised broker lazily, and
sends each fetch/produce/list_offsets to the partition's leader,
retrying through one metadata refresh on NOT_LEADER_FOR_PARTITION
(the same discovery→route→refresh loop the Java client runs inside
``AvroProducer.java:83-90``).
"""

from __future__ import annotations

import functools
import socket
import struct
from dataclasses import dataclass
from typing import NamedTuple

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_VERSIONS = 18
API_CREATE_TOPICS = 19
API_DELETE_TOPICS = 20

ERR_NONE = 0
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_UNKNOWN_TOPIC_OR_PARTITION = 3
ERR_NOT_LEADER_FOR_PARTITION = 6
ERR_UNSUPPORTED_VERSION = 35
ERR_TOPIC_ALREADY_EXISTS = 36
ERR_INVALID_PARTITIONS = 37

EARLIEST = -2
LATEST = -1

# ---------------------------------------------------------------------------
# message layouts: each request and response body is written once, here,
# and read and written from this table by both the client below and the
# in-process broker (fake_broker.py), as Kafka generates both sides from
# one JSON spec per message. A layout is a tuple of fields; a field is a
# primitive below, a nested tuple (a struct) or a one-element list (an
# ARRAY of that field). Values mirror layouts: a tuple per struct, a list
# per array, None for a null string, bytes or array. Every API is spoken
# at one classic (non-flexible) version, so a layout covers its frame
# exactly. Field names per kafka.apache.org/protocol.
# ---------------------------------------------------------------------------

INT8, INT16, INT32, INT64 = "b", "h", "i", "q"
STRING = "string"  # INT16 length then UTF-8; -1 is null
BYTES = "bytes"    # INT32 length then the bytes; -1 is null (also RECORDS)

# api_key, api_version, correlation_id, client_id
REQUEST_HEADER = (INT16, INT16, INT32, STRING)
RESPONSE_HEADER = (INT32,)  # correlation_id


class Message(NamedTuple):
    version: int
    request: tuple
    response: tuple


MESSAGES = {
    # Produce v3 / Fetch v4 are the first versions that carry magic-2
    # record batches
    API_PRODUCE: Message(
        3,
        # transactional_id, acks, timeout_ms,
        # topic_data [name, partition_data [index, records]]
        (STRING, INT16, INT32, [(STRING, [(INT32, BYTES)])]),
        # responses [name, partition_responses [index, error_code,
        # base_offset, log_append_time_ms]], throttle_time_ms
        ([(STRING, [(INT32, INT16, INT64, INT64)])], INT32),
    ),
    API_FETCH: Message(
        4,
        # replica_id, max_wait_ms, min_bytes, max_bytes, isolation_level,
        # topics [topic, partitions [partition, fetch_offset,
        # partition_max_bytes]]
        (INT32, INT32, INT32, INT32, INT8,
         [(STRING, [(INT32, INT64, INT32)])]),
        # throttle_time_ms, responses [topic, partitions [partition_index,
        # error_code, high_watermark, last_stable_offset,
        # aborted_transactions [producer_id, first_offset], records]]
        (INT32, [(STRING, [(INT32, INT16, INT64, INT64,
                            [(INT64, INT64)], BYTES)])]),
    ),
    API_LIST_OFFSETS: Message(
        1,
        # replica_id, topics [name, partitions [partition_index, timestamp]]
        (INT32, [(STRING, [(INT32, INT64)])]),
        # topics [name, partitions [partition_index, error_code,
        # timestamp, offset]]
        ([(STRING, [(INT32, INT16, INT64, INT64)])],),
    ),
    API_METADATA: Message(
        0,
        ([STRING],),  # topics (empty: every topic)
        # brokers [node_id, host, port], topics [error_code, name,
        # partitions [error_code, partition_index, leader_id,
        # replica_nodes [], isr_nodes []]]
        ([(INT32, STRING, INT32)],
         [(INT16, STRING, [(INT16, INT32, INT32, [INT32], [INT32])])]),
    ),
    API_VERSIONS: Message(
        0,
        (),
        # error_code, api_keys [api_key, min_version, max_version]
        (INT16, [(INT16, INT16, INT16)]),
    ),
    API_CREATE_TOPICS: Message(
        0,
        # topics [name, num_partitions, replication_factor,
        # assignments [partition_index, broker_ids []],
        # configs [name, value]], timeout_ms
        ([(STRING, INT32, INT16, [(INT32, [INT32])], [(STRING, STRING)])],
         INT32),
        ([(STRING, INT16)],),  # topics [name, error_code]
    ),
    API_DELETE_TOPICS: Message(
        0,
        ([STRING], INT32),  # topic_names [], timeout_ms
        ([(STRING, INT16)],),  # responses [name, error_code]
    ),
}

# (api_key, min_version, max_version) advertised by the fake broker and
# spoken by the client: one version per API
SUPPORTED_APIS = [(k, m.version, m.version) for k, m in MESSAGES.items()]

_INTS = {t: struct.Struct(">" + t) for t in (INT8, INT16, INT32, INT64)}
_LENGTH = {STRING: INT16, BYTES: INT32}


class KafkaFrameError(ValueError):
    """A frame this end cannot read: shorter than its layout, with bytes
    left over after it, or of an api version it has no layout for."""


def write(layout, value) -> bytes:
    """``value`` laid out as ``layout`` → its bytes."""
    out: list[bytes] = []
    _write(layout, value, out)
    return b"".join(out)


def _write(field, value, out: list[bytes]) -> None:
    if isinstance(field, tuple):
        for f, v in zip(field, value, strict=True):
            _write(f, v, out)
    elif isinstance(field, list):
        out.append(_INTS[INT32].pack(-1 if value is None else len(value)))
        for v in value or ():
            _write(field[0], v, out)
    elif field in _INTS:
        out.append(_INTS[field].pack(value))
    elif value is None:
        out.append(_INTS[_LENGTH[field]].pack(-1))
    else:
        data = value.encode("utf-8") if field == STRING else value
        out.append(_INTS[_LENGTH[field]].pack(len(data)))
        out.append(data)


def read(layout, buf: bytes, pos: int = 0):
    """``buf[pos:]`` read as ``layout`` → its value. Raises
    ``KafkaFrameError`` when the bytes end before the layout does or go on
    after it: at these versions every layout is exact, so leftover bytes
    mean the two ends disagree on it."""
    value, end = _read(layout, buf, pos)
    if end != len(buf):
        raise KafkaFrameError(
            f"{len(buf) - end} bytes left over after the layout at {end}")
    return value


def _read(field, buf: bytes, pos: int):
    """→ (value, position after it)."""
    if isinstance(field, tuple):
        values = []
        for f in field:
            v, pos = _read(f, buf, pos)
            values.append(v)
        return tuple(values), pos
    if isinstance(field, list):
        n, pos = _read(INT32, buf, pos)
        if n < 0:
            return None, pos
        values = []
        for _ in range(n):
            v, pos = _read(field[0], buf, pos)
            values.append(v)
        return values, pos
    if field in _INTS:
        s = _INTS[field]
        end = _end(buf, pos, s.size)
        return s.unpack_from(buf, pos)[0], end
    n, pos = _read(_LENGTH[field], buf, pos)
    if n < 0:
        return None, pos
    end = _end(buf, pos, n)
    data = buf[pos:end]
    return (data.decode("utf-8") if field == STRING else data), end


def _end(buf: bytes, pos: int, n: int) -> int:
    if pos + n > len(buf):
        raise KafkaFrameError(
            f"frame of {len(buf)} bytes ends inside a {n}-byte field at {pos}")
    return pos + n


@dataclass
class WireRecord:
    offset: int
    timestamp: int
    key: bytes | None
    value: bytes | None


class KafkaCodecError(RuntimeError):
    """A record-batch compression codec problem: an unknown codec-bits
    value, or a codec whose third-party package isn't importable."""


class KafkaProtocolError(RuntimeError):
    """A broker-side error code on a per-partition response — carries the
    code so routing layers can react (e.g. NOT_LEADER_FOR_PARTITION →
    refresh metadata and retry at the new leader)."""

    def __init__(self, message: str, code: int) -> None:
        super().__init__(message)
        self.code = code


# ---------------------------------------------------------------------------
# record batches (magic 2): the v2 on-disk/wire encoding — zigzag-varint
# record fields, batch-level CRC32C over attributes..end. Layout per the
# public spec (kafka.apache.org/documentation/#recordbatch).
# ---------------------------------------------------------------------------

# CRC32C (Castagnoli), reflected polynomial 0x82F63B78; Kafka's magic-2
# batch CRC is CRC32C, not zlib's IEEE CRC32. Short buffers run the
# byte-table loop. Longer ones are cut into equal lanes whose CRC
# registers advance together in numpy, one little-endian word per step,
# and the lane registers are then folded with the GF(2) "shift by n zero
# bytes" operator — the construction of zlib's crc32_combine.
_CRC32C_TABLE: list[int] = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)
del _i, _c

_CRC_LANE_WORDS = 64                     # 256-byte lanes
_CRC_LANE_BYTES = 4 * _CRC_LANE_WORDS
_CRC_MIN_LANES = 32                      # below 8 KiB the table loop wins


class _Crc32cLanes:
    """numpy tables of the lane kernel, built once on first use.

    The CRC register is linear over GF(2) in (register, data), so a lane
    can start from register 0 and its contribution be moved into place
    afterwards by a linear operator: ``shift[k]`` maps a register to the
    register after ``_CRC_LANE_BYTES · 2^k`` more zero bytes, stored as
    four 256-entry tables, one per register byte."""

    def __init__(self) -> None:
        import numpy as np

        self.np = np
        byte = np.array(_CRC32C_TABLE, dtype=np.uint32)

        def zero_bytes(regs, n):
            for _ in range(n):
                regs = byte[regs & 0xFF] ^ (regs >> 8)
            return regs

        # one 32-bit word per step: register ^= word, then 4 zero bytes,
        # split into lookups on the register's low and high halves
        half = np.arange(1 << 16, dtype=np.uint32)
        self.lo = zero_bytes(half, 4)
        self.hi = zero_bytes(half << 16, 4)
        self._bits = (np.arange(256)[:, None] >> np.arange(8)) & 1 == 1
        unit = np.uint32(1) << np.arange(32, dtype=np.uint32)
        # every level up front (2^32 lanes is past any buffer), so the
        # tables are read-only once built and safe to share across threads
        self.shift = [self._tables(zero_bytes(unit, _CRC_LANE_BYTES))]
        for _ in range(31):  # square the last operator
            t = self.shift[-1]
            self.shift.append(self._tables(self._apply(t, self._apply(t, unit))))

    def _tables(self, images):
        """The images of the 32 unit registers → per-byte lookup tables."""
        np = self.np
        return np.stack([
            np.bitwise_xor.reduce(
                np.where(self._bits, images[8 * j: 8 * j + 8], np.uint32(0)),
                axis=1)
            for j in range(4)
        ])

    @staticmethod
    def _apply(t, regs):
        return (t[0][regs & 0xFF] ^ t[1][(regs >> 8) & 0xFF]
                ^ t[2][(regs >> 16) & 0xFF] ^ t[3][regs >> 24])

    def register(self, data, reg: int, n_lanes: int) -> int:
        """The raw register after the first ``n_lanes`` lanes of ``data``,
        starting from ``reg``."""
        np = self.np
        words = np.frombuffer(data, dtype="<u4",
                              count=n_lanes * _CRC_LANE_WORDS)
        columns = np.ascontiguousarray(
            words.reshape(n_lanes, _CRC_LANE_WORDS).T)
        # leading all-zero lanes pad the count to a power of two; they
        # add nothing and keep every real lane's distance from the end
        pad = (1 << (n_lanes - 1).bit_length()) - n_lanes
        regs = np.zeros(pad + n_lanes, dtype=np.uint32)
        regs[pad] = reg
        lanes, lo, hi = regs[pad:], self.lo, self.hi
        for w in columns:
            x = lanes ^ w
            lanes = lo[x & 0xFFFF] ^ hi[x >> 16]
        regs[pad:] = lanes
        level = 0
        while len(regs) > 1:  # fold neighbours: left · shift ^ right
            regs = self._apply(self.shift[level], regs[0::2]) ^ regs[1::2]
            level += 1
        return int(regs[0])


@functools.cache
def _crc32c_lanes() -> _Crc32cLanes:
    return _Crc32cLanes()


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    n_lanes = len(data) // _CRC_LANE_BYTES
    if n_lanes >= _CRC_MIN_LANES:
        crc = _crc32c_lanes().register(data, crc, n_lanes)
        data = memoryview(data)[n_lanes * _CRC_LANE_BYTES:]
    tbl = _CRC32C_TABLE
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def encode_varint(v: int) -> bytes:
    """Zigzag varint (protobuf sint encoding) — record-field lengths and
    deltas in magic-2 records; -1 encodes a null key/value."""
    z = (v << 1) if v >= 0 else (-(v << 1) - 1)
    out = bytearray()
    while z >= 0x80:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """→ (value, new_pos)."""
    z = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise EOFError("varint runs past end of buffer")
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")
    return (z >> 1) ^ -(z & 1), pos


# Compression codecs, keyed by the low 3 attribute bits of a magic-2 batch
# (kafka.apache.org/documentation/#recordbatch). gzip is stdlib and fully
# supported both ways; snappy (raw block), lz4 (frame) and zstd (frame)
# are gated on their third-party packages — absent in this sandbox, so an
# unsupported codec raises a NAMED error instead of a silent misparse.
CODEC_BITS = {"none": 0, "gzip": 1, "snappy": 2, "lz4": 3, "zstd": 4}
_CODEC_NAMES = {v: k for k, v in CODEC_BITS.items()}


def _compress(codec: int, data: bytes) -> bytes:
    if codec == 1:
        import gzip as _gzip
        # mtime=0: deterministic output (the gzip header embeds a
        # timestamp; Kafka's Java codec leaves it zero too)
        return _gzip.compress(data, mtime=0)
    if codec == 2:
        try:
            import snappy  # type: ignore
        except ImportError as e:
            raise KafkaCodecError(
                "snappy compression requires the 'python-snappy' package"
            ) from e
        return snappy.compress(data)
    if codec == 3:
        try:
            import lz4.frame  # type: ignore
        except ImportError as e:
            raise KafkaCodecError(
                "lz4 compression requires the 'lz4' package"
            ) from e
        return lz4.frame.compress(data)
    if codec == 4:
        try:
            import zstandard  # type: ignore
        except ImportError as e:
            raise KafkaCodecError(
                "zstd compression requires the 'zstandard' package"
            ) from e
        return zstandard.ZstdCompressor().compress(data)
    raise KafkaCodecError(f"unknown compression codec bits {codec}")


def _decompress(codec: int, data: bytes) -> bytes:
    if codec == 1:
        import gzip as _gzip
        return _gzip.decompress(data)
    if codec == 2:
        try:
            import snappy  # type: ignore
        except ImportError as e:
            raise KafkaCodecError(
                "batch is snappy-compressed; decoding requires the "
                "'python-snappy' package"
            ) from e
        return snappy.decompress(data)
    if codec == 3:
        try:
            import lz4.frame  # type: ignore
        except ImportError as e:
            raise KafkaCodecError(
                "batch is lz4-compressed; decoding requires the 'lz4' package"
            ) from e
        return lz4.frame.decompress(data)
    if codec == 4:
        try:
            import zstandard  # type: ignore
        except ImportError as e:
            raise KafkaCodecError(
                "batch is zstd-compressed; decoding requires the "
                "'zstandard' package"
            ) from e
        return zstandard.ZstdDecompressor().decompress(data)
    raise KafkaCodecError(f"unknown compression codec bits {codec}")


# The fixed-width head of a magic-2 batch: baseOffset and batchLength
# (which counts the bytes after it); partitionLeaderEpoch, magic and crc;
# then the CRC-covered attributes, lastOffsetDelta, baseTimestamp,
# maxTimestamp, producerId, producerEpoch, baseSequence and recordCount.
_BATCH_LENGTH = struct.Struct(">qi")
_BATCH_CRC = struct.Struct(">ibI")
_BATCH_ATTRS = struct.Struct(">hiqqqhii")
BATCH_HEADER_LEN = _BATCH_LENGTH.size + _BATCH_CRC.size + _BATCH_ATTRS.size


def encode_record_body(key: bytes | None, value: bytes | None,
                       ts_delta: int, offset_delta: int) -> bytes:
    """The varint-encoded interior of one magic-2 record (sans the leading
    length varint) — split out so the broker's max_bytes cut can size
    records exactly before committing them to a batch."""
    parts = [b"\x00"]  # record attributes: unused
    parts.append(encode_varint(ts_delta))
    parts.append(encode_varint(offset_delta))
    if key is None:
        parts.append(encode_varint(-1))
    else:
        parts.append(encode_varint(len(key)))
        parts.append(key)
    if value is None:
        parts.append(encode_varint(-1))
    else:
        parts.append(encode_varint(len(value)))
        parts.append(value)
    parts.append(encode_varint(0))  # header count
    return b"".join(parts)


def encode_record_batch(records: list[tuple[bytes | None, bytes | None, int]],
                        base_offset: int = 0, *,
                        codec: str = "none") -> bytes:
    """[(key, value, timestamp_ms)] → one magic-2 RecordBatch
    (non-transactional, idempotence off: producerId -1). ``codec``
    compresses the records section; the batch header (including
    recordCount) stays uncompressed and the CRC32C covers the bytes as
    transmitted, exactly as a broker stores them."""
    codec_bits = CODEC_BITS[codec]
    base_ts = records[0][2] if records else -1
    max_ts = max((r[2] for r in records), default=-1)
    recs_parts: list[bytes] = []
    for i, (key, value, ts) in enumerate(records):
        body = encode_record_body(key, value, ts - base_ts, i)
        recs_parts.append(encode_varint(len(body)))
        recs_parts.append(body)
    recs = b"".join(recs_parts)
    if codec_bits:
        recs = _compress(codec_bits, recs)
    attrs = _BATCH_ATTRS.pack(
        codec_bits,                     # compression bits 0-2
        max(len(records) - 1, 0),       # lastOffsetDelta
        base_ts, max_ts,
        -1, -1, -1,                     # producerId, producerEpoch, baseSequence
        len(records),
    )
    return b"".join((
        _BATCH_LENGTH.pack(base_offset,
                           _BATCH_CRC.size + len(attrs) + len(recs)),
        _BATCH_CRC.pack(0, 2, crc32c(recs, crc32c(attrs))),
        attrs,
        recs,
    ))


def decode_record_batches(buf: bytes) -> list[WireRecord]:
    """Concatenated magic-2 RecordBatches → records, verifying each batch
    CRC32C. A trailing partial batch (cut at max_bytes) is dropped, per
    the consumer contract. gzip-compressed batches (the stdlib codec) are
    decompressed inline; snappy/lz4/zstd batches raise a NAMED
    KafkaCodecError unless their third-party package is importable."""
    out: list[WireRecord] = []
    start = 0
    while len(buf) - start >= _BATCH_LENGTH.size:
        base_offset, batch_len = _BATCH_LENGTH.unpack_from(buf, start)
        start += _BATCH_LENGTH.size
        end = start + batch_len
        if len(buf) < end:
            break  # partial trailing batch
        if batch_len < _BATCH_CRC.size + _BATCH_ATTRS.size:
            raise ValueError(f"record batch at {base_offset} is "
                             f"{batch_len} bytes, shorter than its header")
        _, magic, crc = _BATCH_CRC.unpack_from(buf, start)
        if magic != 2:
            raise ValueError(f"expected magic 2 in record batch, got {magic}")
        covered = buf[start + _BATCH_CRC.size:end]
        start = end
        if crc32c(covered) != crc:
            raise ValueError(f"CRC32C mismatch in batch at {base_offset}")
        attributes, _, base_ts, *_, count = _BATCH_ATTRS.unpack_from(covered)
        codec_bits = attributes & 0x07
        if codec_bits:
            # the records section (everything after recordCount) is the
            # compressed unit; decompress AFTER the CRC check above, which
            # covers the on-wire (compressed) bytes
            raw = _decompress(codec_bits, covered[_BATCH_ATTRS.size:])
            pos = 0
        else:
            raw = covered
            pos = _BATCH_ATTRS.size
        for _ in range(count):
            _, pos = decode_varint(raw, pos)  # record length
            pos += 1  # record attributes
            ts_delta, pos = decode_varint(raw, pos)
            offset_delta, pos = decode_varint(raw, pos)
            klen, pos = decode_varint(raw, pos)
            key = None if klen < 0 else raw[pos: pos + klen]
            pos += max(klen, 0)
            vlen, pos = decode_varint(raw, pos)
            value = None if vlen < 0 else raw[pos: pos + vlen]
            pos += max(vlen, 0)
            nheaders, pos = decode_varint(raw, pos)
            for _ in range(nheaders):
                hklen, pos = decode_varint(raw, pos)
                pos += max(hklen, 0)
                hvlen, pos = decode_varint(raw, pos)
                pos += max(hvlen, 0)
            out.append(
                WireRecord(base_offset + offset_delta, base_ts + ts_delta,
                           key, value)
            )
    return out


# ---------------------------------------------------------------------------
# request/response framing
# ---------------------------------------------------------------------------


def encode_request(header: tuple, request: tuple) -> bytes:
    """(api_key, api_version, correlation_id, client_id) and a request
    body → the length-prefixed frame, laid out by the api key's entry."""
    layout = (REQUEST_HEADER, MESSAGES[header[0]].request)
    return _framed(write(layout, (header, request)))


def decode_request(frame: bytes) -> tuple[tuple, tuple | None]:
    """A request frame (after its length prefix) → (header, body). The
    body is None when the table has no layout for the header's api key
    at the header's version."""
    header, pos = _read(REQUEST_HEADER, frame, 0)
    message = MESSAGES.get(header[0])
    if message is None or message.version != header[1]:
        return header, None
    return header, read(message.request, frame, pos)


def encode_response(api_key: int, correlation_id: int,
                    response: tuple) -> bytes:
    """A response body → the length-prefixed frame."""
    layout = (RESPONSE_HEADER, MESSAGES[api_key].response)
    return _framed(write(layout, ((correlation_id,), response)))


def decode_response(api_key: int, frame: bytes) -> tuple[int, tuple]:
    """A response frame (after its length prefix) → (correlation_id,
    body)."""
    layout = (RESPONSE_HEADER, MESSAGES[api_key].response)
    (correlation_id,), response = read(layout, frame)
    return correlation_id, response


def _framed(payload: bytes) -> bytes:
    return _INTS[INT32].pack(len(payload)) + payload


def read_frame(sock: socket.socket) -> bytes:
    head = _recv_exact(sock, 4)
    (n,) = struct.unpack(">i", head)
    return _recv_exact(sock, n)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    chunks = []
    got = 0
    while got < n:
        c = sock.recv(n - got)
        if not c:
            raise ConnectionError("socket closed mid-frame")
        chunks.append(c)
        got += len(c)
    return b"".join(chunks)


def _one_partition(topics: list) -> tuple:
    """The response row of the one partition a request named."""
    [(_, [row])] = topics
    return row


class _Closing:
    """``with client:`` closes the client on exit."""

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class KafkaWireClient(_Closing):
    """Minimal synchronous client over one TCP connection.

    Covers the reference's four broker interactions: topic/partition
    discovery (AvroProducer.java:63-66 describeTopics), cold-start seek
    (AvroConsumer.java:66 earliest), the bounded poll loop
    (AvroConsumer.java:116-138), and the send path
    (AvroProducer.java:83-90) — each as one protocol round-trip.
    """

    def __init__(self, bootstrap: str, *, client_id: str = "pyspark-wire",
                 timeout_s: float = 10.0) -> None:
        host, port = bootstrap.rsplit(":", 1)
        self._sock = socket.create_connection((host, int(port)), timeout=timeout_s)
        self._client_id = client_id
        self._corr = 0
        self._versions: dict[int, tuple[int, int]] | None = None

    def _version_for(self, api_key: int) -> int:
        """The one version this client speaks for ``api_key``, checked
        against the broker's ApiVersions range — one round-trip, cached
        for the connection's lifetime (the check every Java client makes
        on connect). A broker that does not offer it is refused."""
        if self._versions is None:
            self._versions = self.api_versions()
        if api_key not in self._versions:
            raise RuntimeError(f"broker does not support api_key {api_key}")
        v = MESSAGES[api_key].version
        br_lo, br_hi = self._versions[api_key]
        if not br_lo <= v <= br_hi:
            raise RuntimeError(
                f"no common version for api_key {api_key}: "
                f"client [{v},{v}] broker [{br_lo},{br_hi}]"
            )
        return v

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    def _call(self, api_key: int, request: tuple) -> tuple:
        self._corr += 1
        header = (api_key, MESSAGES[api_key].version, self._corr,
                  self._client_id)
        self._sock.sendall(encode_request(header, request))
        corr, response = decode_response(api_key, read_frame(self._sock))
        if corr != self._corr:
            raise ValueError(f"correlation id mismatch: {corr} != {self._corr}")
        return response

    def api_versions(self) -> dict[int, tuple[int, int]]:
        err, rows = self._call(API_VERSIONS, ())
        if err != ERR_NONE:
            raise RuntimeError(f"ApiVersions error {err}")
        return {k: (lo, hi) for k, lo, hi in rows}

    def metadata(self, topics: list[str] | None = None):
        """→ (brokers {node_id: (host, port)}, topics {name: [partition]})."""
        brokers, leaders = self.metadata_leaders(topics)
        return brokers, {
            name: sorted(parts) for name, parts in leaders.items()
        }

    def metadata_leaders(self, topics: list[str] | None = None):
        """→ (brokers {node_id: (host, port)},
        {topic: {partition: leader_node_id}}) — the full routing view the
        Java client builds its cluster map from. No topics asks for all."""
        brokers, topic_rows = self._call(API_METADATA, (topics or [],))
        leader_map: dict[str, dict[int, int]] = {}
        for err, name, parts in topic_rows:
            if err != ERR_NONE:
                raise KeyError(f"topic {name!r}: error {err}")
            leader_map[name] = {pid: leader for _, pid, leader, _, _ in parts}
        return {node: (host, port) for node, host, port in brokers}, leader_map

    def list_offsets(self, topic: str, partition: int, timestamp: int) -> int:
        """EARLIEST (-2) → log start, LATEST (-1) → high watermark."""
        (topics,) = self._call(
            API_LIST_OFFSETS,
            (-1, [(topic, [(partition, timestamp)])]),  # -1: a consumer
        )
        pid, err, _, off = _one_partition(topics)
        if err != ERR_NONE:
            raise KafkaProtocolError(
                f"ListOffsets {topic}[{pid}]: error {err}", err)
        return off

    def fetch(self, topic: str, partition: int, offset: int,
              *, max_bytes: int = 1 << 20, max_wait_ms: int = 100,
              min_bytes: int = 1) -> tuple[int, list[WireRecord]]:
        """One poll: → (high_watermark, records from ``offset``). An empty
        record list with high_watermark == offset means caught-up — the
        loop condition of the reference's AvroConsumer.java:116-138.
        Sends Fetch v4; the response carries magic-2 record batches."""
        self._version_for(API_FETCH)
        _, topics = self._call(API_FETCH, (
            -1,  # replica_id: an ordinary consumer
            max_wait_ms, min_bytes,
            max_bytes,  # request-level max_bytes
            0,  # isolation_level: READ_UNCOMMITTED
            [(topic, [(partition, offset, max_bytes)])],
        ))
        pid, err, hw, _, _, record_set = _one_partition(topics)
        if err != ERR_NONE:
            raise KafkaProtocolError(
                f"Fetch {topic}[{pid}] at {offset}: error {err}", err)
        records = [rec for rec in decode_record_batches(record_set or b"")
                   if rec.offset >= offset]
        return hw, records

    def produce(self, topic: str, partition: int,
                records: list[tuple[bytes | None, bytes | None, int]],
                *, acks: int = -1, timeout_ms: int = 10_000,
                compression: str = "none") -> int:
        """Append [(key, value, timestamp_ms)] → base offset assigned.
        Sends Produce v3 with one magic-2 record batch, what a 0.11+/3.x
        broker natively stores (no up-conversion); ``compression`` names
        the batch codec."""
        self._version_for(API_PRODUCE)
        record_set = encode_record_batch(records, codec=compression)
        topics, _ = self._call(API_PRODUCE, (
            None,  # transactional_id: non-transactional
            acks, timeout_ms, [(topic, [(partition, record_set)])],
        ))
        pid, err, base, _ = _one_partition(topics)
        if err != ERR_NONE:
            raise KafkaProtocolError(f"Produce {topic}[{pid}]: error {err}", err)
        return base

    def create_topics(self, topics: dict[str, int], *,
                      replication_factor: int = 1,
                      timeout_ms: int = 10_000) -> dict[str, int]:
        """CreateTopics v0: {name: num_partitions} → {name: error_code}.
        The wire form of the reference's AdminClient createTopics step
        (01-infra topic provisioning, DataPipeline.java:80-126)."""
        (rows,) = self._call(API_CREATE_TOPICS, (
            # no manual assignments, no configs
            [(name, n, replication_factor, [], []) for name, n in topics.items()],
            timeout_ms,
        ))
        return dict(rows)

    def delete_topics(self, topics: list[str], *,
                      timeout_ms: int = 10_000) -> dict[str, int]:
        """DeleteTopics v0: [name] → {name: error_code}."""
        (rows,) = self._call(API_DELETE_TOPICS, (list(topics), timeout_ms))
        return dict(rows)


class KafkaClusterClient(_Closing):
    """Leader-routing client over multiple brokers.

    Builds the cluster map from a bootstrap Metadata round-trip (one
    ``KafkaWireClient`` per advertised broker, opened lazily) and sends
    each fetch/produce/list_offsets to the partition's LEADER — the
    discovery→route loop the Java client runs internally for the
    reference's send path (AvroProducer.java:83-90) and poll loop
    (AvroConsumer.java:116-138). On NOT_LEADER_FOR_PARTITION (a moved
    leader) it refreshes metadata once and retries at the new leader.

    Scale shape: connections are per (client, broker) and opened on first
    use, so a reader task touching one partition holds exactly one socket
    to that partition's leader — fan-out across a 1000-partition topic is
    the Spark partitioning above this layer, never this object.
    """

    def __init__(self, bootstrap: str, *, client_id: str = "pyspark-wire",
                 timeout_s: float = 10.0) -> None:
        self._bootstrap = bootstrap
        self._client_id = client_id
        self._timeout_s = timeout_s
        self._boot = KafkaWireClient(
            bootstrap, client_id=client_id, timeout_s=timeout_s
        )
        self._conns: dict[int, KafkaWireClient] = {}
        self._brokers: dict[int, tuple[str, int]] = {}
        self._leaders: dict[tuple[str, int], int] = {}

    def close(self) -> None:
        for c in self._conns.values():
            c.close()
        self._conns.clear()
        self._boot.close()

    # -- routing -----------------------------------------------------------

    def _refresh(self, topic: str) -> None:
        brokers, leaders = self._boot.metadata_leaders([topic])
        self._brokers.update(brokers)
        for pid, node in leaders[topic].items():
            self._leaders[(topic, pid)] = node

    def _conn_for(self, topic: str, partition: int) -> KafkaWireClient:
        key = (topic, partition)
        if key not in self._leaders:
            self._refresh(topic)
        node = self._leaders[key]
        if node not in self._conns:
            host, port = self._brokers[node]
            self._conns[node] = KafkaWireClient(
                f"{host}:{port}", client_id=self._client_id,
                timeout_s=self._timeout_s,
            )
        return self._conns[node]

    def _routed(self, topic: str, partition: int, op):
        try:
            return op(self._conn_for(topic, partition))
        except KafkaProtocolError as e:
            if e.code != ERR_NOT_LEADER_FOR_PARTITION:
                raise
            # moved leader: one refresh, one retry — then surface
            self._leaders.pop((topic, partition), None)
            self._refresh(topic)
            return op(self._conn_for(topic, partition))

    # -- delegated API (same signatures as KafkaWireClient) ----------------

    def api_versions(self):
        return self._boot.api_versions()

    def metadata(self, topics: list[str] | None = None):
        return self._boot.metadata(topics)

    def metadata_leaders(self, topics: list[str] | None = None):
        return self._boot.metadata_leaders(topics)

    def list_offsets(self, topic: str, partition: int, timestamp: int) -> int:
        return self._routed(
            topic, partition, lambda c: c.list_offsets(topic, partition, timestamp)
        )

    def fetch(self, topic: str, partition: int, offset: int, **kw):
        return self._routed(
            topic, partition, lambda c: c.fetch(topic, partition, offset, **kw)
        )

    def produce(self, topic: str, partition: int, records, **kw) -> int:
        return self._routed(
            topic, partition, lambda c: c.produce(topic, partition, records, **kw)
        )

    def create_topics(self, topics: dict[str, int], **kw) -> dict[str, int]:
        return self._boot.create_topics(topics, **kw)

    def delete_topics(self, topics: list[str], **kw) -> dict[str, int]:
        return self._boot.delete_topics(topics, **kw)
