"""Avro Object Container File codec tests (sources/avro_codec.py).

Independence strategy (no fastavro/spark-avro in the container): the
test file carries its OWN 4-line zigzag-varint encoder written straight
from the spec table, and a complete minimal container file is assembled
byte-by-byte with it — the codec's writer must reproduce those bytes
exactly and its reader must parse them. Spec-table golden values pin the
varint encoding itself. The Spark seam tests cover nullable/nested/
logical types end-to-end plus deflate, schema mismatch, and writer
idempotency.
"""

from __future__ import annotations

import datetime
import json

import pytest

from python_kinesis_streaming_spark.sources.avro_codec import (
    read_avro,
    read_container,
    read_header,
    read_long,
    write_avro,
    write_container,
    write_long,
    zigzag_encode,
)


def zz(n: int) -> bytes:
    """Independent zigzag varint, transcribed from the spec's examples."""
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        if u > 0x7F:
            out.append((u & 0x7F) | 0x80)
            u >>= 7
        else:
            out.append(u)
            return bytes(out)


# The spec's own value/encoding table (Avro 1.11 "binary encoding").
SPEC_VARINTS = {
    0: b"\x00",
    -1: b"\x01",
    1: b"\x02",
    -2: b"\x03",
    2: b"\x04",
    -64: b"\x7f",
    64: b"\x80\x01",
}


class TestBinaryEncoding:
    def test_varints_match_spec_table(self):
        for value, expected in SPEC_VARINTS.items():
            out = bytearray()
            write_long(out, value)
            assert bytes(out) == expected, value
            assert zz(value) == expected  # the test's own encoder agrees
            decoded, pos = read_long(expected, 0)
            assert decoded == value and pos == len(expected)

    def test_large_roundtrip(self):
        for v in (10**18, -(10**18), 2**62, -(2**62)):
            out = bytearray()
            write_long(out, v)
            assert read_long(bytes(out), 0)[0] == v

    def test_zigzag_examples(self):
        assert zigzag_encode(-3) == 5
        assert zigzag_encode(3) == 6


SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [{"name": "a", "type": "long"}],
}
SYNC = b"0123456789abcdef"


def hand_built_container() -> bytes:
    """Assemble the container for one record {a: 3} byte-by-byte."""
    schema_json = json.dumps(SCHEMA, sort_keys=True, separators=(",", ":")).encode()
    out = bytearray(b"Obj\x01")
    out += zz(2)  # two metadata entries
    out += zz(len(b"avro.codec")) + b"avro.codec"
    out += zz(len(b"null")) + b"null"
    out += zz(len(b"avro.schema")) + b"avro.schema"
    out += zz(len(schema_json)) + schema_json
    out += zz(0)  # metadata terminator
    out += SYNC
    payload = zz(3)  # the single field, long 3
    out += zz(1)  # record count
    out += zz(len(payload))
    out += payload
    out += SYNC
    return bytes(out)


class TestContainer:
    def test_writer_reproduces_hand_built_bytes(self):
        got = write_container([{"a": 3}], SCHEMA, codec="null", sync=SYNC)
        assert got == hand_built_container()

    def test_reader_parses_hand_built_bytes(self):
        recs = list(read_container(hand_built_container()))
        assert recs == [{"a": 3}]

    def test_header_metadata(self):
        schema, codec, sync, _ = read_header(hand_built_container())
        assert schema == SCHEMA
        assert codec == "null"
        assert sync == SYNC

    def test_deflate_codec_roundtrip(self):
        rows = [{"a": i} for i in range(500)]
        blob = write_container(rows, SCHEMA, codec="deflate", sync=SYNC)
        assert list(read_container(blob)) == rows
        # deflate genuinely compresses the monotone payload
        plain = write_container(rows, SCHEMA, codec="null", sync=SYNC)
        assert len(blob) < len(plain)

    def test_negative_block_count_read_path(self):
        # Spec: a negative count is followed by the block's byte size.
        schema_json = json.dumps(SCHEMA, sort_keys=True, separators=(",", ":")).encode()
        out = bytearray(b"Obj\x01")
        out += zz(2)
        out += zz(len(b"avro.codec")) + b"avro.codec"
        out += zz(len(b"null")) + b"null"
        out += zz(len(b"avro.schema")) + b"avro.schema"
        out += zz(len(schema_json)) + schema_json
        out += zz(0)
        out += SYNC
        # array-typed record to exercise negative item-block counts
        arr_schema = {
            "type": "record",
            "name": "r",
            "fields": [{"name": "a", "type": {"type": "array", "items": "long"}}],
        }
        payload = zz(-2) + zz(2) + zz(7) + zz(9) + zz(0)  # 2 items, sized block
        from python_kinesis_streaming_spark.sources.avro_codec import read_datum

        rec, _ = read_datum(bytes(payload), 0, arr_schema)
        assert rec == {"a": [7, 9]}

    def test_sync_mismatch_rejected(self):
        blob = bytearray(hand_built_container())
        blob[-1] ^= 0xFF
        with pytest.raises(ValueError, match="sync"):
            list(read_container(bytes(blob)))

    def test_complex_types_roundtrip(self):
        schema = {
            "type": "record",
            "name": "doc",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "tags", "type": {"type": "array", "items": "string"}},
                {"name": "props", "type": {"type": "map", "values": "double"}},
                {"name": "body", "type": ["null", "string"]},
                {"name": "blob", "type": "bytes"},
                {
                    "name": "kind",
                    "type": {"type": "enum", "name": "k", "symbols": ["x", "y"]},
                },
                {
                    "name": "nested",
                    "type": {
                        "type": "record",
                        "name": "inner",
                        "fields": [{"name": "v", "type": "double"}],
                    },
                },
            ],
        }
        rows = [
            {
                "id": 1,
                "tags": ["a", "b"],
                "props": {"p": 1.5, "q": -2.25},
                "body": "text",
                "blob": b"\x00\xff",
                "kind": "y",
                "nested": {"v": 3.5},
            },
            {
                "id": 2,
                "tags": [],
                "props": {},
                "body": None,
                "blob": b"",
                "kind": "x",
                "nested": {"v": -0.5},
            },
        ]
        assert list(read_container(write_container(rows, schema))) == rows


class TestSparkSeam:
    def test_write_read_roundtrip(self, spark, tmp_path):
        out = str(tmp_path / "avro")
        rows = [
            (
                1,
                "alpha",
                1.5,
                datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
                datetime.date(2024, 3, 1),
                [1, 2, 3],
                {"k": 2.5},
                bytearray(b"\x01\x02"),
            ),
            (2, None, None, None, None, [], {}, bytearray(b"")),
        ]
        df = spark.createDataFrame(
            rows,
            "id long, name string, score double, ts timestamp, d date, "
            "xs array<long>, m map<string,double>, payload binary",
        )
        manifest = write_avro(df.repartition(2), out, codec="deflate").collect()
        assert sum(r["n_records"] for r in manifest) == 2

        back = {r["id"]: r for r in read_avro(spark, out + "/part-*.avro").collect()}
        assert back[1]["name"] == "alpha"
        assert back[1]["score"] == 1.5
        assert back[1]["ts"] == datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)
        assert back[1]["d"] == datetime.date(2024, 3, 1)
        assert back[1]["xs"] == [1, 2, 3]
        assert dict(back[1]["m"]) == {"k": 2.5}
        assert bytes(back[1]["payload"]) == b"\x01\x02"
        assert back[2]["name"] is None
        assert back[2]["ts"] is None
        assert back[2]["d"] is None

    def test_fixture_table_roundtrip(self, spark, tmp_path):
        # A real fixture slice through the full write/read path.
        src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        out = str(tmp_path / "nation_avro")
        write_avro(src, out, codec="null").collect()
        back = read_avro(spark, out + "/part-*.avro")
        a = sorted(src.collect(), key=lambda r: r["n_nationkey"])
        b = sorted(back.collect(), key=lambda r: r["n_nationkey"])
        assert [r.asDict() for r in a] == [r.asDict() for r in b]

    def test_writer_idempotent_rerun(self, spark, tmp_path):
        out = str(tmp_path / "avro")
        df8 = spark.range(100).repartition(8)
        write_avro(df8, out).collect()
        import glob as g

        assert len(g.glob(out + "/part-*.avro")) == 8
        write_avro(spark.range(100).repartition(2), out).collect()
        assert len(g.glob(out + "/part-*.avro")) == 2  # stale parts cleared

    def test_schema_mismatch_between_files_fails_clearly(self, spark, tmp_path):
        out = tmp_path
        s1 = {"type": "record", "name": "r", "fields": [{"name": "a", "type": "long"}]}
        s2 = {"type": "record", "name": "r", "fields": [{"name": "b", "type": "long"}]}
        (out / "part-00000.avro").write_bytes(write_container([{"a": 1}], s1))
        (out / "part-00001.avro").write_bytes(write_container([{"b": 1}], s2))
        with pytest.raises(Exception, match="schema differs"):
            read_avro(spark, str(out / "part-*.avro")).collect()


class TestSchemaResolution:
    """Spec 'Schema Resolution': mixed-generation files read as one table."""

    OLD = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "score", "type": "int"},
            {"name": "legacy", "type": "string"},
        ],
    }
    NEW = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "id", "type": "long"},        # int -> long promotion
            {"name": "score", "type": "double"},   # int -> double promotion
            {"name": "lang", "type": ["null", "string"], "default": None},
            # 'legacy' dropped
        ],
    }

    def test_resolve_record_rules(self):
        from python_kinesis_streaming_spark.sources.avro_codec import (
            resolve_record,
        )

        rec = resolve_record(
            {"id": 7, "score": 3, "legacy": "x"}, self.OLD, self.NEW
        )
        assert rec == {"id": 7, "score": 3.0, "lang": None}
        assert isinstance(rec["score"], float)

        missing_default = {
            "type": "record",
            "name": "doc",
            "fields": [{"name": "brand_new", "type": "long"}],
        }
        with pytest.raises(ValueError, match="no default"):
            resolve_record({"id": 1}, self.OLD, missing_default)

        bad_promo = {
            "type": "record",
            "name": "doc",
            "fields": [{"name": "legacy", "type": "long"}],
        }
        with pytest.raises(ValueError, match="cannot resolve"):
            resolve_record({"legacy": "x"}, self.OLD, bad_promo)

    def test_mixed_generation_files_one_table(self, spark, tmp_path):
        old_rows = [{"id": i, "score": i * 2, "legacy": "old"} for i in range(4)]
        new_rows = [
            {"id": 100 + i, "score": 0.5 * i, "lang": "en"} for i in range(3)
        ]
        (tmp_path / "part-00000.avro").write_bytes(
            write_container(old_rows, self.OLD)
        )
        (tmp_path / "part-00001.avro").write_bytes(
            write_container(new_rows, self.NEW)
        )
        df = read_avro(spark, str(tmp_path / "part-*.avro"), reader_schema=self.NEW)
        got = {r["id"]: r for r in df.collect()}
        assert len(got) == 7
        assert got[2]["score"] == 4.0 and got[2]["lang"] is None
        assert got[101]["score"] == 0.5 and got[101]["lang"] == "en"
        assert "legacy" not in df.columns

    def test_without_reader_schema_mixed_files_still_fail(self, spark, tmp_path):
        (tmp_path / "part-00000.avro").write_bytes(
            write_container([{"id": 1, "score": 2, "legacy": "x"}], self.OLD)
        )
        (tmp_path / "part-00001.avro").write_bytes(
            write_container([{"id": 2, "score": 0.5, "lang": None}], self.NEW)
        )
        with pytest.raises(Exception, match="schema differs"):
            read_avro(spark, str(tmp_path / "part-*.avro")).collect()
