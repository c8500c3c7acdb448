"""sources/avro_lite.py — the bundled Avro Object Container File
reader. Oracle layers:

- spec vectors: the zig-zag varint examples printed in the Avro
  specification itself (https://avro.apache.org/docs/1.12.0/specification/
  "Binary Encoding": 0->00, -1->01, 1->02, -2->03, 2->04, -64->7f,
  64->80 01).
- the Apache Avro JAVA library bundled with the Spark distribution: an
  independent canonical ENCODER writes container files (all primitive
  types, unions, enums, arrays, maps, nested records, null + deflate
  codecs) that avro_lite must decode value-exactly.
- the JVM's zstd-jni encoder (native libzstd in the Spark
  distribution) at every compression level, for the ``zstandard``
  codec layer, plus hostile frames that must refuse as AvroLiteError.
"""

from __future__ import annotations

import json
import os
import random
import struct
import zlib

import pyarrow as pa
import pytest

from sclera_spark.sources import avro_lite
from sclera_spark.sources.avro_lite import AvroLiteError, _Decoder


def test_zigzag_spec_vectors():
    for raw, want in [
        (b"\x00", 0),
        (b"\x01", -1),
        (b"\x02", 1),
        (b"\x03", -2),
        (b"\x04", 2),
        (b"\x7f", -64),
        (b"\x80\x01", 64),
        (b"\xfe\xff\xff\xff\xff\xff\xff\xff\xff\x01", 2**63 - 1),
        (b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01", -(2**63)),
    ]:
        assert _Decoder(raw).long() == want, raw


def test_truncation_and_bad_magic_are_loud():
    with pytest.raises(AvroLiteError, match="truncated"):
        _Decoder(b"\x80").long()  # continuation bit, no next byte
    import io

    with pytest.raises(AvroLiteError, match="magic"):
        list(avro_lite.reader(io.BytesIO(b"NOPE" + b"\x00" * 32)))


def test_undefined_named_type_is_loud():
    dr = avro_lite._DatumReader()
    with pytest.raises(AvroLiteError, match="undefined named type"):
        dr.datum(_Decoder(b"\x00"), "mystery_record")


def _write_java_avro(spark, path, schema_json, json_rows, codec=None):
    """Encode rows with the Apache Avro JAVA library (Avro-JSON datum
    encoding in, canonical binary container out)."""
    jvm = spark._jvm
    parser = jvm.org.apache.avro.Schema.Parser()
    schema = parser.parse(json.dumps(schema_json))
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    reader = jvm.org.apache.avro.generic.GenericDatumReader(schema)
    dfw = jvm.org.apache.avro.file.DataFileWriter(writer)
    if codec == "deflate":
        dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    dfw.create(schema, jvm.java.io.File(path))
    for row in json_rows:
        dec = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
            schema, json.dumps(row)
        )
        dfw.append(reader.read(None, dec))
    dfw.close()


_SCHEMA = {
    "type": "record",
    "name": "everything",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "l", "type": "long"},
        {"name": "i", "type": "int"},
        {"name": "b", "type": "boolean"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "by", "type": "bytes"},
        {"name": "u", "type": ["null", "long"], "default": None},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "a", "type": {"type": "array", "items": "int"}},
        {
            "name": "e",
            "type": {"type": "enum", "name": "E", "symbols": ["X", "Y"]},
        },
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "v", "type": "double"}],
            },
        },
        {"name": "again", "type": "inner"},  # named-type reference
        {
            "name": "fx",
            "type": {"type": "fixed", "name": "F8", "size": 3},
        },
    ],
}

_ROWS = [
    {
        "s": "héllo",
        "l": 2**40 + 3,
        "i": -7,
        "b": True,
        "f": 1.5,
        "d": -2.25,
        "by": "\u0001\u00ff",
        "u": {"long": 99},
        "m": {"k1": "v1", "k2": "v2"},
        "a": [1, -2, 3],
        "e": "Y",
        "nested": {"v": 3.5},
        "again": {"v": -4.5},
        "fx": "abc",
    },
    {
        "s": "",
        "l": -9,
        "i": 0,
        "b": False,
        "f": 0.0,
        "d": 0.0,
        "by": "",
        "u": None,
        "m": {},
        "a": [],
        "e": "X",
        "nested": {"v": 0.0},
        "again": {"v": 0.0},
        "fx": "xyz",
    },
]

_WANT = [
    dict(
        _ROWS[0],
        by=b"\x01\xff",
        u=99,
        fx=b"abc",
    ),
    dict(_ROWS[1], by=b"", u=None, fx=b"xyz"),
]


@pytest.mark.parametrize("codec", [None, "deflate"])
def test_decodes_java_encoded_container_value_exactly(spark, tmp_path, codec):
    path = str(tmp_path / f"t_{codec}.avro")
    _write_java_avro(spark, path, _SCHEMA, _ROWS, codec)
    got = avro_lite.read_file(path)
    assert len(got) == 2
    for g, w in zip(got, _WANT):
        for k, v in w.items():
            if k == "f":  # float32 round-trip
                assert abs(g[k] - v) < 1e-6
            else:
                assert g[k] == v, (codec, k, g[k], v)
    assert avro_lite.schema_of(path)["name"] == "everything"


def test_sync_marker_mismatch_is_loud(spark, tmp_path):
    path = str(tmp_path / "t.avro")
    _write_java_avro(spark, path, _SCHEMA, _ROWS)
    blob = bytearray(open(path, "rb").read())
    blob[-1] ^= 0xFF  # corrupt the trailing sync marker
    corrupt = str(tmp_path / "corrupt.avro")
    open(corrupt, "wb").write(bytes(blob))
    with pytest.raises(AvroLiteError, match="sync marker"):
        avro_lite.read_file(corrupt)


def test_vendored_fixture_bytes_decode(tmp_path):
    """The committed fixture files (written by the Java encoder via
    tools/gen_iceberg_avro_fixture.py) decode to the exact records the
    Iceberg replay expects — pinning the VENDORED bytes, not just
    freshly-generated ones."""
    fixdir = os.path.join(
        os.path.dirname(__file__), "fixtures", "iceberg_avro"
    )
    mlist = avro_lite.read_file(
        os.path.join(fixdir, "manifest_list.avro")
    )
    assert [r["manifest_path"] for r in mlist] == ["metadata/m1.avro"]
    assert mlist[0]["content"] == 0
    assert mlist[0]["added_snapshot_id"] == 77
    assert mlist[0]["partitions"][0]["lower_bound"] == b"\x00\x01"
    entries = avro_lite.read_file(os.path.join(fixdir, "m1.avro"))
    assert [e["status"] for e in entries] == [1, 1, 2]
    assert [e["data_file"]["file_path"] for e in entries] == [
        "data/f1.parquet",
        "data/f2.parquet",
        "data/gone.parquet",
    ]
    assert all(
        e["data_file"]["file_format"] == "PARQUET" for e in entries
    )
    dele = avro_lite.read_file(
        os.path.join(fixdir, "manifest_list_deletes.avro")
    )
    assert dele[0]["content"] == 1
    # snappy DECODES (CRC32 verified) — snappy-java's bytes are the
    # canonical vector; the snappy list must yield the identical
    # records as the null-codec one
    snap = avro_lite.read_file(
        os.path.join(fixdir, "manifest_list_snappy.avro")
    )
    assert snap == mlist
    # the full-snappy chain: a snappy manifest's entries match the
    # deflate manifest's (multi-record blocks exercise back-references
    # across the repetitive entry structs)
    snap_entries = avro_lite.read_file(
        os.path.join(fixdir, "m1_snappy.avro")
    )
    assert snap_entries == entries
    allsnap = avro_lite.read_file(
        os.path.join(fixdir, "manifest_list_allsnappy.avro")
    )
    assert [r["manifest_path"] for r in allsnap] == ["metadata/m1_snappy.avro"]
    # the FULL Avro 1.12 codec matrix decodes — zstd (Avro Java's
    # codec writes frames with no content size, so this is the
    # streamed libzstd path), bzip2 and xz (stdlib); the Java-encoder
    # bytes are the canonical vectors for each
    for name in (
        "manifest_list_zstd.avro",
        "manifest_list_bzip2.avro",
        "manifest_list_xz.avro",
    ):
        got = avro_lite.read_file(os.path.join(fixdir, name))
        assert got == mlist, name
    # an UNKNOWN codec name stays a loud refusal
    with pytest.raises(AvroLiteError, match="lz4hc"):
        avro_lite.reader(
            __import__("io").BytesIO(_unknown_codec_container())
        ).__next__()


def _unknown_codec_container() -> bytes:
    """A structurally-valid Avro container whose avro.codec names a
    codec that does not exist — built by hand with the spec's binary
    encoding, for pinning the unknown-codec refusal now that every
    real Avro 1.12 codec decodes."""
    import json as _json

    def _varint(v: int) -> bytes:
        z = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        out = bytearray()
        while True:
            b = z & 0x7F
            z >>= 7
            if z:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def _bytes(b: bytes) -> bytes:
        return _varint(len(b)) + b

    schema = _json.dumps({"type": "record", "name": "r", "fields": []}).encode()
    meta = (
        _varint(2)
        + _bytes(b"avro.schema") + _bytes(schema)
        + _bytes(b"avro.codec") + _bytes(b"lz4hc")
        + _varint(0)
    )
    sync = b"\x01" * 16
    block = _varint(1) + _varint(4) + b"\x00\x00\x00\x00" + sync
    return b"Obj\x01" + meta + sync + block


def _crc(data: bytes) -> bytes:
    return struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)


def test_snappy_hostile_input_refuses():
    """The snappy codec refuses corrupt/hostile blocks loudly: CRC
    mismatch, out-of-range copy offsets, truncated literals,
    preamble/output length mismatch, and length-bomb or overlong
    preambles — and round-trips overlapping-copy (RLE) encodings."""
    # hand-built valid block: literal 'abcd' + overlapping copy
    # (offset 2, len 6) -> abcd + cdcdcd (byte-wise RLE semantics)
    body = bytes([10]) + b"\x0c" + b"abcd" + bytes([(2 << 2) | 1, 2])
    assert avro_lite._decompress("snappy", body + _crc(b"abcdcdcdcd")) == (
        b"abcdcdcdcd"
    )
    with pytest.raises(AvroLiteError, match="CRC32"):
        avro_lite._decompress("snappy", body + b"\x00\x00\x00\x00")
    with pytest.raises(AvroLiteError, match="trailer"):
        avro_lite._decompress("snappy", b"\x01\x00")
    for corrupt in (
        # copy offset past the produced output
        bytes([6]) + b"\x04ab" + bytes([(3 << 2) | 1, 9]),
        # zero offset
        bytes([6]) + b"\x04ab" + bytes([(3 << 2) | 1, 0]),
        # truncated literal
        bytes([4]) + b"\x0cab",
        # output shorter than the preamble claims
        bytes([9]) + b"\x0c" + b"abcd",
        # output exceeding the preamble
        bytes([2]) + b"\x0c" + b"abcd",
    ):
        with pytest.raises(AvroLiteError, match="failed to decode"):
            avro_lite._decompress("snappy", corrupt + _crc(b""))
    # length-bomb preamble (~4 GiB claim) refuses before allocating
    with pytest.raises(AvroLiteError, match="cap"):
        avro_lite._decompress("snappy", b"\xff\xff\xff\xff\x0f" + _crc(b""))
    # overlong (and truncated) preamble varints
    for pre in (b"\x80\x80\x80\x80\x80\x80\x01", b"\x80", b""):
        with pytest.raises(AvroLiteError, match="overlong"):
            avro_lite._decompress("snappy", pre + _crc(b""))


def _payloads(seed: int, n_trials: int):
    rng = random.Random(seed)
    for trial in range(n_trials):
        kind = trial % 6
        n = rng.choice([0, 1, 5, 100, 1000, 20000, 300000])
        if kind == 0:
            data = bytes(rng.randrange(256) for _ in range(min(n, 5000)))
        elif kind == 1:
            data = (
                b"hello world, this is a repetitive corpus line. "
                * (n // 40 + 1)
            )[:n]
        elif kind == 2:
            data = bytes(rng.randrange(4) for _ in range(n))
        elif kind == 3:
            words = [b"alpha", b"beta", b"gamma", b"delta12345", b"x"]
            data = b" ".join(
                rng.choice(words) for _ in range(n // 4 + 1)
            )[:n]
        elif kind == 4:
            data = bytes([trial % 256]) * n
        else:
            base = bytes(rng.randrange(256) for _ in range(50))
            data = (base * (n // 50 + 1))[:n]
        yield trial, data


def _unsized_zstd_frame(data: bytes) -> bytes:
    """A streamed zstd frame: like Avro Java's zstandard codec, the
    header carries no content size."""
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(data)
    return sink.getvalue().to_pybytes()


def test_zstd_fuzz_vs_jvm_all_levels(spark):
    """zstd-jni (native libzstd in the Spark distribution) at every
    level 1-22 — high levels emit FSE_Compressed sequence tables and
    4-stream Huffman literals, low levels predefined tables and RLE."""
    Z = spark.sparkContext._jvm.com.github.luben.zstd.Zstd
    for trial, data in _payloads(11, 132):
        level = 1 + trial % 22
        comp = bytes(Z.compress(bytearray(data), level))
        got = avro_lite._decompress("zstandard", comp)
        assert got == data, f"trial {trial} level {level}"


def test_zstd_frame_without_content_size():
    """A frame whose header declares no content size decodes through
    the stream, across several read chunks."""
    data = b"streamed zstd payload " * 150_000  # ~3.3 MB
    frame = _unsized_zstd_frame(data)
    assert frame[4] == 0x00  # Frame_Header_Descriptor: no FCS field
    assert avro_lite._decompress("zstandard", frame) == data


def test_zstd_skippable_and_concatenated_frames():
    zc = pa.Codec("zstd")
    comp = zc.compress(b"actual content", asbytes=True)
    skip = (
        (0x184D2A53).to_bytes(4, "little")
        + (7).to_bytes(4, "little")
        + b"x" * 7
    )
    assert avro_lite._decompress("zstandard", skip + comp) == b"actual content"
    assert avro_lite._decompress("zstandard", comp + comp) == (
        b"actual content" * 2
    )
    with pytest.raises(AvroLiteError, match="truncated|Truncated"):
        avro_lite._decompress("zstandard", skip[:6])


def test_zstd_checksummed_frame(spark):
    """zstd-jni can emit the optional XXH64 content checksum: the
    happy path decodes, a flipped checksum bit refuses."""
    jvm = spark.sparkContext._jvm
    try:
        ctx = jvm.com.github.luben.zstd.ZstdCompressCtx()
        ctx.setChecksum(True)
        ctx.setLevel(3)
        comp = bytes(ctx.compress(bytearray(b"checksummed content " * 50)))
    except Exception:
        pytest.skip("zstd-jni ZstdCompressCtx unavailable")
    assert comp[4] & 0x04  # checksum flag actually set
    assert avro_lite._decompress("zstandard", comp) == (
        b"checksummed content " * 50
    )
    bad = bytearray(comp)
    bad[-1] ^= 0x01  # flip a checksum bit
    with pytest.raises(AvroLiteError, match="zstandard"):
        avro_lite._decompress("zstandard", bytes(bad))


def test_zstd_hostile_inputs_refuse():
    """Every malformed frame refuses as AvroLiteError, never as a bare
    pyarrow OSError."""
    zc = pa.Codec("zstd")
    good = zc.compress(b"payload payload payload", asbytes=True)
    # pyarrow's stream decodes b"" to b"": the codec layer must not
    with pytest.raises(AvroLiteError, match="empty"):
        avro_lite._decompress("zstandard", b"")
    bad = bytearray(good)
    bad[-3] ^= 0xFF  # a corrupt content byte inside the block
    # dictionary-id frame: Dictionary_ID_flag = 1, dict id 7 inserted
    # before the window/FCS fields
    dict_frame = bytearray(good)
    dict_frame[4] |= 0x01
    dict_frame.insert(5, 7)
    for corrupt in (
        b"\x00\x00\x00\x00" + good[4:],  # bad magic
        good[:5],  # truncated header
        good[:-2],  # truncated tail
        bytes(bad),
        bytes(dict_frame),
        good + b"xyz",  # trailing garbage after the frame
    ):
        with pytest.raises(AvroLiteError, match="zstandard"):
            avro_lite._decompress("zstandard", corrupt)


def test_zstd_bomb_refuses_at_inflate_cap(monkeypatch):
    """Output past the inflate cap refuses while streaming: the frame
    declares no size, so the cap is checked chunk by chunk."""
    monkeypatch.setattr(avro_lite, "_MAX_INFLATE", 3 << 20)
    at_cap = b"\x00" * (3 << 20)
    assert avro_lite._decompress("zstandard", _unsized_zstd_frame(at_cap)) == (
        at_cap
    )
    with pytest.raises(AvroLiteError, match="inflates past"):
        avro_lite._decompress(
            "zstandard", _unsized_zstd_frame(at_cap + b"\x00")
        )
    # a frame that DOES declare its size refuses the same way
    sized = pa.Codec("zstd").compress(b"\x00" * (5 << 20), asbytes=True)
    with pytest.raises(AvroLiteError, match="inflates past"):
        avro_lite._decompress("zstandard", sized)


def test_hostile_counts_and_sizes_refuse():
    """Corrupt/hostile containers must refuse, not spin: zero-width
    datums make block counts legitimately unbounded by input size, so
    a loop-bomb count hits a hard cap; negative counts/sizes/lengths
    are refused outright."""
    import io
    import json as _json

    def _varint(v):
        # zig-zag encode
        z = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        out = bytearray()
        while True:
            b = z & 0x7F
            z >>= 7
            if z:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    schema = _json.dumps({"type": "record", "name": "r", "fields": []})
    header = (
        b"Obj\x01"
        + _varint(2)  # metadata map: 2 pairs
        + _varint(len("avro.schema")) + b"avro.schema"
        + _varint(len(schema)) + schema.encode()
        + _varint(len("avro.codec")) + b"avro.codec"
        + _varint(4) + b"null"
        + _varint(0)  # map terminator
        + b"S" * 16  # sync
    )
    # data block: 10^12 zero-width records in 0 bytes -> cap refusal
    bomb = header + _varint(10**12) + _varint(0) + b"S" * 16
    with pytest.raises(AvroLiteError, match="cap"):
        list(avro_lite.reader(io.BytesIO(bomb)))
    # negative block size -> refusal
    neg = header + _varint(1) + _varint(-5)
    with pytest.raises(AvroLiteError, match="negative"):
        list(avro_lite.reader(io.BytesIO(neg)))


def test_chained_blocks_hit_container_budget():
    """A per-block cap alone is bypassable by CHAINING at-cap blocks of
    zero-width records (~20 hostile bytes per block buys unbounded
    decode work); the shared container budget — proportional to input
    bytes — must refuse the chain."""
    import io
    import json as _json

    def _varint(v):
        z = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        out = bytearray()
        while True:
            b = z & 0x7F
            z >>= 7
            if z:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    schema = _json.dumps({"type": "record", "name": "r", "fields": []})
    header = (
        b"Obj\x01"
        + _varint(2)
        + _varint(len("avro.schema")) + b"avro.schema"
        + _varint(len(schema)) + schema.encode()
        + _varint(len("avro.codec")) + b"avro.codec"
        + _varint(4) + b"null"
        + _varint(0)
        + b"S" * 16
    )
    # each block stays UNDER the per-block cap but the chain's total
    # item claim dwarfs what the byte count can legitimately encode
    block = _varint(99_000_000) + _varint(0) + b"S" * 16
    bomb = header + block * 50
    with pytest.raises(AvroLiteError, match="byte size"):
        list(avro_lite.reader(io.BytesIO(bomb)))
    # the same chaining inside ONE datum: an array of nulls split
    # across many sub-cap blocks
    arr_schema = _json.dumps({"type": "array", "items": "null"})
    header2 = (
        b"Obj\x01"
        + _varint(2)
        + _varint(len("avro.schema")) + b"avro.schema"
        + _varint(len(arr_schema)) + arr_schema.encode()
        + _varint(len("avro.codec")) + b"avro.codec"
        + _varint(4) + b"null"
        + _varint(0)
        + b"S" * 16
    )
    arr_bomb = (
        header2
        + _varint(1)  # one record in the data block
        + _varint(len(block) * 50)  # claimed block byte size
        + (_varint(99_000_000) * 200 + _varint(0))  # chained array blocks
        + b"S" * 16
    )
    with pytest.raises(AvroLiteError):
        list(avro_lite.reader(io.BytesIO(arr_bomb)))


def test_deflate_bomb_refuses_at_inflate_cap():
    """A deflate block claiming gigabytes from a few kilobytes must
    refuse at the inflation ceiling instead of allocating its claim."""
    import io
    import json as _json
    import zlib

    def _varint(v):
        z = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        out = bytearray()
        while True:
            b = z & 0x7F
            z >>= 7
            if z:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    schema = _json.dumps(
        {"type": "record", "name": "r",
         "fields": [{"name": "b", "type": "bytes"}]}
    )
    header = (
        b"Obj\x01"
        + _varint(2)
        + _varint(len("avro.schema")) + b"avro.schema"
        + _varint(len(schema)) + schema.encode()
        + _varint(len("avro.codec")) + b"avro.codec"
        + _varint(7) + b"deflate"
        + _varint(0)
        + b"S" * 16
    )
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    payload = co.compress(b"\x00" * (avro_lite._MAX_INFLATE + (1 << 20)))
    payload += co.flush()
    bomb = header + _varint(1) + _varint(len(payload)) + payload + b"S" * 16
    with pytest.raises(AvroLiteError, match="inflates past"):
        list(avro_lite.reader(io.BytesIO(bomb)))
