"""Property tests for the Kafka RecordBatch v2 codec: any combination
of keys/values/headers/timestamps must round-trip byte-faithfully, and
every single-bit corruption of the post-CRC body must be detected.
Every decode also runs ``decode_record_columns`` (the kafka wire
source's decoder) and checks it field by field against
``decode_record_batches``."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conduit_spark.functions.kafka_wire import (
    _encode_record,
    crc32c,
    decode_record_batches,
    decode_record_columns,
    encode_record_batch,
)


def _decode(wire: bytes) -> list[dict]:
    """``decode_record_batches(wire)``, after checking that
    ``decode_record_columns`` reads the same offsets, timestamps, keys
    and values."""
    out = decode_record_batches(wire)
    offsets, timestamps, keys, values = decode_record_columns(wire)
    assert offsets.tolist() == [r["offset"] for r in out]
    assert timestamps.tolist() == [r["timestamp"] for r in out]
    assert keys == [r["key"] for r in out]
    assert values == [r["value"] for r in out]
    return out


blob = st.one_of(st.none(), st.binary(max_size=64))
header_key = st.text(min_size=0, max_size=12)
record = st.fixed_dictionaries(
    {
        "key": blob,
        "value": blob,
        "headers": st.dictionaries(header_key, blob, max_size=4),
        "timestamp": st.integers(min_value=-(2**40), max_value=2**40),
    }
)


@settings(max_examples=150, deadline=None)
@given(
    records=st.lists(record, min_size=1, max_size=12),
    base_offset=st.integers(min_value=0, max_value=2**40),
)
def test_round_trip_any_records(records, base_offset):
    out = _decode(encode_record_batch(records, base_offset=base_offset))
    assert len(out) == len(records)
    for i, (orig, dec) in enumerate(zip(records, out)):
        assert dec["offset"] == base_offset + i
        assert dec["timestamp"] == orig["timestamp"]
        assert dec["key"] == (bytes(orig["key"]) if orig["key"] is not None else None)
        assert dec["value"] == (
            bytes(orig["value"]) if orig["value"] is not None else None
        )
        assert dec["headers"] == {
            k: (bytes(v) if v is not None else None)
            for k, v in orig["headers"].items()
        }


@settings(max_examples=60, deadline=None)
@given(
    records=st.lists(record, min_size=1, max_size=4),
    data=st.data(),
)
def test_single_bitflip_detected_or_harmless(records, data):
    wire = bytearray(encode_record_batch(records))
    # flip one bit anywhere after the batch header's crc field (byte 21
    # onward = the crc-protected region)
    idx = data.draw(st.integers(min_value=21, max_value=len(wire) - 1))
    bit = data.draw(st.integers(min_value=0, max_value=7))
    wire[idx] ^= 1 << bit
    with pytest.raises(ValueError):
        decode_record_batches(bytes(wire))
    with pytest.raises(ValueError):
        decode_record_columns(bytes(wire))


def test_gzip_batches_round_trip_property():
    """Property: gzip-compressed batches round-trip for arbitrary
    key/value/header content; the CRC covers the compressed bytes
    (flipping one compressed byte fails integrity, not gunzip); and
    unsupported codecs are refused by name."""
    import struct

    from hypothesis import given, settings, strategies as st

    from conduit_spark.functions.kafka_wire import (
        decode_record_batches,
        encode_record_batch,
    )

    blob = st.binary(min_size=0, max_size=60)

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.tuples(st.one_of(st.none(), blob), st.one_of(st.none(), blob)),
            min_size=1,
            max_size=8,
        )
    )
    def check(kvs):
        records = [
            {"key": k, "value": v, "headers": {"n": b"1"}, "timestamp": i}
            for i, (k, v) in enumerate(kvs)
        ]
        raw = encode_record_batch(records, compression="gzip")
        out = _decode(raw)
        assert [(r["key"], r["value"]) for r in out] == kvs

    check()

    records = [{"key": b"k", "value": b"v" * 100, "headers": {}, "timestamp": 0}]
    raw = bytearray(encode_record_batch(records, compression="gzip"))
    raw[-1] ^= 0xFF  # corrupt one compressed byte
    for decode in (decode_record_batches, decode_record_columns):
        with pytest.raises(ValueError, match="CRC32C"):
            decode(bytes(raw))

    # every wire codec round-trips through the pure-Python codecs
    many = [
        {"key": f"k{i}".encode(), "value": (f"v{i}" * 30).encode(),
         "headers": {"h": b"x"}, "timestamp": i}
        for i in range(50)
    ]
    for codec in ("gzip", "snappy", "lz4", "zstd"):
        raw = encode_record_batch(many, compression=codec)
        out = _decode(raw)
        assert [(r["key"], r["value"]) for r in out] == [
            (r["key"], r["value"]) for r in many
        ], codec

    # a zstd-flagged batch whose payload is not a zstd frame fails by
    # name (bad magic), not with a gunzip error
    good = encode_record_batch(records)
    body_at = 12
    attrs_at = body_at + 9  # past partitionLeaderEpoch+magic+crc
    patched = bytearray(good)
    struct.pack_into(">h", patched, attrs_at, 4)  # zstd
    # recompute crc over the patched after_crc
    from conduit_spark.functions.kafka_wire import crc32c

    after = bytes(patched[attrs_at:])
    struct.pack_into(">I", patched, body_at + 5, crc32c(after))
    try:
        decode_record_batches(bytes(patched))
        raise AssertionError("expected codec refusal")
    except ValueError as e:
        assert "zstd" in str(e)



def _frame(payload: bytes, count: int, base_offset: int, base_ts: int) -> bytes:
    """One uncompressed RecordBatch v2 frame around ``count`` encoded
    records, laid out as :func:`encode_record_batch` lays it out."""
    after_crc = (
        struct.pack(">hiqqqhii", 0, count - 1, base_ts, base_ts, -1, -1, -1, count)
        + payload
    )
    body = struct.pack(">ib", 0, 2) + struct.pack(">I", crc32c(after_crc)) + after_crc
    return struct.pack(">qi", base_offset, len(body)) + body


# lengths past 8 KB need three varint bytes
long_blob = st.builds(
    lambda n, b: b * n, st.integers(8192, 20_000), st.binary(min_size=1, max_size=1)
)
raw_record = st.fixed_dictionaries(
    {
        "ts_delta": st.integers(min_value=-(2**62), max_value=2**62),
        "offset_delta": st.integers(min_value=0, max_value=2**31 - 1),
        "key": st.one_of(st.none(), st.binary(max_size=40), long_blob),
        "value": st.one_of(st.none(), st.binary(max_size=40), long_blob),
        "headers": st.dictionaries(header_key, blob, max_size=3),
    }
)


@settings(max_examples=60, deadline=None)
@given(
    frames=st.lists(
        st.tuples(
            st.lists(raw_record, min_size=1, max_size=6),
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=-(2**40), max_value=2**40),
        ),
        min_size=1,
        max_size=3,
    )
)
def test_hand_framed_records_decode_alike(frames):
    """Frames the encoder never writes: negative timestamp deltas,
    offset deltas out of order, multi-byte key and value lengths,
    tombstones and headers, several frames in one capture."""
    wire = b"".join(
        _frame(
            b"".join(
                _encode_record(
                    r["offset_delta"], r["ts_delta"], r["key"], r["value"], r["headers"]
                )
                for r in recs
            ),
            len(recs),
            base_offset,
            base_ts,
        )
        for recs, base_offset, base_ts in frames
    )
    want = [
        {
            "offset": base_offset + r["offset_delta"],
            "timestamp": base_ts + r["ts_delta"],
            "key": r["key"],
            "value": r["value"],
            "headers": r["headers"],
        }
        for recs, base_offset, base_ts in frames
        for r in recs
    ]
    assert _decode(wire) == want


def test_empty_capture_decodes_to_nothing():
    assert _decode(b"") == []
    offsets, timestamps, keys, values = decode_record_columns(b"")
    assert len(offsets) == len(timestamps) == 0 and keys == values == []
