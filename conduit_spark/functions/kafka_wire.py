"""Kafka RecordBatch v2 wire format — pure-Python encode/decode.

Upgrades the engine's ``builtin:kafka`` parity from options-level to
protocol-level without a broker: these functions produce and consume
the exact on-wire/on-disk record batch layout (magic 2) from the
public Kafka protocol spec — varint/zigzag record framing, header
arrays, and the CRC32C (Castagnoli) integrity field over the batch
body (a table loop for small inputs, numpy lanes from 2 KB up). A
capture of real broker traffic (or a segment file) decodes
with ``decode_record_batches``; batches we encode are byte-valid for a
real producer path.

Reference behavior: the conduit kafka connector moves OpenCDC
key/value/headers through franz-go, which speaks this format
(conduit-connector-kafka source/destination). The envelope mapping
lives in ``pipeline/registry.envelope_from_kafka`` and
``sinks.kafka_records``; this module is the byte layer underneath.

Scale note: this codec is for verification and capture replay —
the hot path on a cluster stays ``spark-sql-kafka`` (JVM, zero-copy).
"""

from __future__ import annotations

import functools
import struct

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli, reflected poly 0x82F63B78)
# ---------------------------------------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)

# Below this many bytes the byte-at-a-time table loop beats the numpy
# lanes' fixed cost (break-even measured near 2 KB).
_LANES_MIN_BYTES = 2048
# Bytes per lane: each lane is 4 words, one numpy step per word.
_LANE = 16


def _table_crc(reg: int, data) -> int:
    for b in data:
        reg = _CRC32C_TABLE[(reg ^ b) & 0xFF] ^ (reg >> 8)
    return reg


def _apply(images: list[int], v: int) -> int:
    out = 0
    for img in images:
        if v & 1:
            out ^= img
        v >>= 1
    return out


@functools.cache
def _shift(n: int):
    """The linear map "feed ``n`` zero bytes through the register",
    for a power of two ``n``: its 32 bit images, squared up from one
    byte, and as four byte-indexed lookup tables."""
    import numpy as np

    if n == 1:
        images = [_table_crc(1 << i, b"\0") for i in range(32)]
    else:
        half = _shift(n // 2)[1]
        images = [_apply(half, _apply(half, 1 << i)) for i in range(32)]
    tabs = np.zeros((4, 256), dtype=np.uint32)
    for j in range(4):
        for k in range(8):
            b = 1 << k
            tabs[j, b : 2 * b] = tabs[j, :b] ^ np.uint32(images[8 * j + k])
    return tabs, images


@functools.cache
def _lane_tables():
    """The slicing-by-4 tables: row k advances a byte k more places."""
    import numpy as np

    rows = [_CRC32C_TABLE]
    for _ in range(3):
        rows.append([(v >> 8) ^ _CRC32C_TABLE[v & 0xFF] for v in rows[-1]])
    return np.array(rows, dtype=np.uint32)


def _lanes_crc(reg: int, data) -> int:
    """The register after ``data``, from register ``reg``, for large
    inputs: the input splits into equal lanes that advance in lock
    step (numpy, slicing-by-4: four table lookups per 4-byte word of
    every lane), the first lane starting from ``reg`` and the others
    from 0. The CRC is linear, so lanes combine pairwise up a tree —
    crc(A || B) = shift(crc(A), len(B)) ^ crc(B) — with a zero lane
    prepended at an odd level, which changes nothing. The tail past
    the last whole lane runs the table loop."""
    import numpy as np

    t0, t1, t2, t3 = _lane_tables()
    n = len(data) // _LANE
    words = (
        np.frombuffer(data, dtype="<u4", count=n * _LANE // 4)
        .reshape(n, _LANE // 4)
        .T.copy()
    )
    c = np.zeros(n, dtype=np.uint32)
    c[0] = reg
    for w in words:
        c ^= w
        nxt = t3.take(c & 0xFF)
        nxt ^= t2.take((c >> 8) & 0xFF)
        nxt ^= t1.take((c >> 16) & 0xFF)
        nxt ^= t0.take(c >> 24)
        c = nxt
    size = _LANE
    while len(c) > 1:
        if len(c) & 1:
            c = np.concatenate((np.zeros(1, dtype=np.uint32), c))
        tabs = _shift(size)[0]
        x = c[0::2]
        c = (
            tabs[0].take(x & 0xFF)
            ^ tabs[1].take((x >> 8) & 0xFF)
            ^ tabs[2].take((x >> 16) & 0xFF)
            ^ tabs[3].take(x >> 24)
            ^ c[1::2]
        )
        size *= 2
    return _table_crc(int(c[0]), memoryview(data)[n * _LANE :])


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC32C of ``data``, continuing from ``crc`` (the CRC of what
    came before it)."""
    reg = ~crc & 0xFFFFFFFF
    if len(data) >= _LANES_MIN_BYTES:
        reg = _lanes_crc(reg, data)
    else:
        reg = _table_crc(reg, data)
    return ~reg & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# varint / zigzag (protobuf-style, as used by Kafka record framing)
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(n: int) -> bytes:
    n = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, at: int) -> tuple[int, int]:
    b = buf[at]
    if b < 0x80:  # record fields mostly fit one or two bytes
        return (b >> 1) ^ -(b & 1), at + 1
    c = buf[at + 1]
    if c < 0x80:
        v = (b & 0x7F) | (c << 7)
        return (v >> 1) ^ -(v & 1), at + 2
    shift = 0
    val = 0
    while True:
        b = buf[at]
        at += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(val), at
        shift += 7


# ---------------------------------------------------------------------------
# RecordBatch v2
# ---------------------------------------------------------------------------

def _encode_record(
    offset_delta: int,
    ts_delta: int,
    key: bytes | None,
    value: bytes | None,
    headers: dict[str, bytes] | None,
) -> bytes:
    body = bytearray()
    body += b"\x00"  # record attributes (unused)
    body += _write_varint(ts_delta)
    body += _write_varint(offset_delta)
    for blob in (key, value):
        if blob is None:
            body += _write_varint(-1)
        else:
            body += _write_varint(len(blob)) + blob
    hdrs = list((headers or {}).items())
    body += _write_varint(len(hdrs))
    for hk, hv in hdrs:
        kb = hk.encode("utf-8")
        body += _write_varint(len(kb)) + kb
        if hv is None:
            body += _write_varint(-1)
        else:
            body += _write_varint(len(hv)) + hv
    return _write_varint(len(body)) + bytes(body)


_COMPRESSION_CODES = {None: 0, "gzip": 1, "snappy": 2, "lz4": 3, "zstd": 4}
_CODE_NAMES = {1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}


def encode_record_batch(
    records: list[dict],
    *,
    base_offset: int = 0,
    base_timestamp: int = 0,
    compression: str | None = None,
) -> bytes:
    """Records (``{key: bytes|None, value: bytes|None, headers:
    dict[str, bytes], timestamp: int}``) → one RecordBatch v2
    (non-transactional). ``compression`` takes any of the wire's four
    codecs — the records section alone is compressed and attribute
    bits 0-2 carry the code, exactly as a real producer does (the
    batch HEADER stays uncompressed per spec). gzip is stdlib;
    snappy/lz4/zstd come from the from-spec pure-Python codecs in
    ``functions/compression.py`` (zstd emits Raw/RLE-block frames —
    valid to every decoder, RLE-only ratio)."""
    if compression not in _COMPRESSION_CODES:
        raise ValueError(
            f"unsupported compression {compression!r}; pick one of "
            f"{sorted(k for k in _COMPRESSION_CODES if k)}"
        )
    if not records:
        raise ValueError("a record batch holds at least one record")
    timestamps = [int(r.get("timestamp", base_timestamp)) for r in records]
    base_ts = min(timestamps)
    max_ts = max(timestamps)
    payload = b"".join(
        _encode_record(
            i,
            timestamps[i] - base_ts,
            r.get("key"),
            r.get("value"),
            r.get("headers"),
        )
        for i, r in enumerate(records)
    )
    if compression is not None:
        from conduit_spark.functions.compression import kafka_compress

        payload = kafka_compress(payload, compression)
    # everything after the crc field, in order
    after_crc = (
        struct.pack(">h", _COMPRESSION_CODES[compression])  # attributes
        + struct.pack(">i", len(records) - 1)  # lastOffsetDelta
        + struct.pack(">q", base_ts)
        + struct.pack(">q", max_ts)
        + struct.pack(">q", -1)  # producerId
        + struct.pack(">h", -1)  # producerEpoch
        + struct.pack(">i", -1)  # baseSequence
        + struct.pack(">i", len(records))
        + payload
    )
    crc = crc32c(after_crc)
    body = struct.pack(">i", 0) + b"\x02" + struct.pack(">I", crc) + after_crc
    # body = partitionLeaderEpoch + magic + crc + after_crc
    return struct.pack(">q", base_offset) + struct.pack(">i", len(body)) + body


def _frames(data: bytes, verify_crc: bool):
    """Each RecordBatch v2 frame of ``data`` as (base offset, base
    timestamp, record count, records section), the section a view into
    ``data``, or decompressed bytes when the frame is compressed."""
    view = memoryview(data)
    pos = 0
    n = len(data)
    while pos + 12 <= n:
        base_offset, batch_len = struct.unpack_from(">qi", data, pos)
        body = view[pos + 12 : pos + 12 + batch_len]
        pos += 12 + batch_len
        magic = body[4]
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        (crc,) = struct.unpack_from(">I", body, 5)
        after_crc = body[9:]
        if verify_crc and crc32c(after_crc) != crc:
            raise ValueError("record batch CRC32C mismatch")
        # lastOffsetDelta (bytes 2-6) is deliberately not validated
        # against the decoded records: compacted real segments keep it
        # above the last surviving record's delta, and integrity is
        # already covered by the CRC over the batch body.
        (attributes,) = struct.unpack_from(">h", after_crc, 0)
        codec = attributes & 0x07
        if codec not in (0, 1, 2, 3, 4):
            raise ValueError(f"unknown compression code {codec}")
        base_ts, _max_ts = struct.unpack_from(">qq", after_crc, 6)
        (record_count,) = struct.unpack_from(">i", after_crc, 36)
        records = after_crc[40:]
        if codec:
            from conduit_spark.functions.compression import kafka_decompress

            # CRC covers the COMPRESSED bytes (verified above); the
            # records section alone is compressed, the header is not.
            # zstd: foreign entropy-coded frames raise here by design
            # (compression.py module docstring).
            records = kafka_decompress(bytes(records), _CODE_NAMES[codec])
        yield base_offset, base_ts, record_count, records


def _varints(buf, pos):
    """The zigzag varint at each position ``pos`` of ``buf`` (numpy
    uint8, padded with 10 zero bytes) → (values, next positions)."""
    import numpy as np

    val = np.zeros(len(pos), dtype=np.uint64)
    nxt = pos.copy()
    more = np.ones(len(pos), dtype=bool)
    for k in range(10):
        b = buf[pos + k].astype(np.uint64)
        val |= np.where(more, (b & 0x7F) << np.uint64(7 * k), np.uint64(0))
        nxt += more
        more &= b >= 0x80
        if not more.any():
            break
    # unzigzag with a logical shift: ``val`` is unsigned
    sign = (val & np.uint64(1)).view(np.int64)
    return (val >> np.uint64(1)).view(np.int64) ^ -sign, nxt


def _record_fields(data: bytes, verify_crc: bool):
    """Where every record of ``data`` keeps its fields: (buffer,
    offsets, timestamps, key positions, key lengths, value positions,
    value lengths, header positions, record ends), the buffer every
    frame's records section joined, the rest numpy int64 arrays into
    it (a length of -1 is null). One Python step per record finds where
    each record starts; numpy decodes the fields of all records at
    once."""
    import numpy as np

    sections, starts, ends, bases, base_ts, counts = [], [], [], [], [], []
    size = 0
    for base_offset, ts, record_count, buf in _frames(data, verify_crc):
        at = 0
        for _ in range(record_count):
            rec_len, at = _read_varint(buf, at)
            starts.append(size + at)
            at += rec_len
            ends.append(size + at)
        sections.append(buf)
        size += len(buf)
        bases.append(base_offset)
        base_ts.append(ts)
        counts.append(record_count)
    joined = b"".join(sections + [bytes(10)])  # padded for _varints
    buf = np.frombuffer(joined, dtype=np.uint8)
    ends = np.array(ends, dtype=np.int64)
    pos = np.array(starts, dtype=np.int64) + 1  # record attributes
    ts_delta, pos = _varints(buf, pos)
    offset_delta, pos = _varints(buf, pos)
    klen, kpos = _varints(buf, pos)
    vlen, vpos = _varints(buf, kpos + np.maximum(klen, 0))
    hpos = vpos + np.maximum(vlen, 0)
    # a record without headers ends at its header count; one with
    # headers ends past it (decode_record_batches walks them to the end)
    hcount, after = _varints(buf, hpos)
    if ((hcount < 0) | (after > ends) | ((hcount == 0) & (after != ends))).any():
        raise ValueError("record length mismatch")
    counts = np.array(counts, dtype=np.int64)
    offsets = np.repeat(np.array(bases, dtype=np.int64), counts) + offset_delta
    timestamps = np.repeat(np.array(base_ts, dtype=np.int64), counts) + ts_delta
    return joined, offsets, timestamps, kpos, klen, vpos, vlen, hpos, ends


def _blobs(buf: bytes, at, n) -> list:
    return [
        buf[a : a + k] if k >= 0 else None for a, k in zip(at.tolist(), n.tolist())
    ]


def _headers(buf: bytes, at: int, end: int) -> dict[str, bytes | None]:
    hcount, at = _read_varint(buf, at)
    headers: dict[str, bytes | None] = {}
    for _ in range(hcount):
        hklen, at = _read_varint(buf, at)
        hk = buf[at : at + hklen].decode("utf-8")
        at += hklen
        hvlen, at = _read_varint(buf, at)
        if hvlen >= 0:
            headers[hk] = buf[at : at + hvlen]
            at += hvlen
        else:
            headers[hk] = None
    if at != end:
        raise ValueError("record length mismatch")
    return headers


def decode_record_columns(data: bytes, *, verify_crc: bool = True):
    """A concatenation of RecordBatch v2 frames → its records as
    columns, without headers: (offsets, timestamps, keys, values), numpy
    int64 arrays and lists of bytes or None. The kafka wire source
    decodes with this; :func:`decode_record_batches` is the same walk
    with each record's headers."""
    buf, offsets, timestamps, kpos, klen, vpos, vlen, _h, _e = _record_fields(
        data, verify_crc
    )
    return offsets, timestamps, _blobs(buf, kpos, klen), _blobs(buf, vpos, vlen)


def decode_record_batches(data: bytes, *, verify_crc: bool = True) -> list[dict]:
    """A concatenation of RecordBatch v2 frames (e.g. a segment-file or
    fetch-response capture) → flat record dicts with batch context:
    :func:`decode_record_columns` plus each record's headers."""
    buf, offsets, timestamps, kpos, klen, vpos, vlen, hpos, ends = _record_fields(
        data, verify_crc
    )
    return [
        {
            "offset": o,
            "timestamp": t,
            "key": k,
            "value": v,
            "headers": _headers(buf, h, e),
        }
        for o, t, k, v, h, e in zip(
            offsets.tolist(),
            timestamps.tolist(),
            _blobs(buf, kpos, klen),
            _blobs(buf, vpos, vlen),
            hpos.tolist(),
            ends.tolist(),
        )
    ]
