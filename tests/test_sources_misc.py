"""Iceberg config plumbing (gated on the runtime jar) and the gRPC
descriptor-driven proto decode path (the transport itself is tested
live in tests/test_source_grpc_transport.py)."""

from __future__ import annotations

import struct

import pytest

from strake_spark.config import parse_config
from strake_spark.errors import SourceError
from strake_spark.sources.grpc_source import (
    decode_message,
    parse_field_spec,
    spec_schema,
)
from strake_spark.sources.registry import SOURCE_TYPES, register_source


def _varint(v: int) -> bytes:
    out = b""
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out += bytes([b | 0x80])
        else:
            return out + bytes([b])


def _tag(field_no: int, wt: int) -> bytes:
    return _varint((field_no << 3) | wt)


class TestProtoDecode:
    FIELDS = parse_field_spec("1:id:int64,2:name:string,3:score:double,4:ok:bool")

    def test_roundtrip_message(self):
        msg = (
            _tag(1, 0) + _varint(42)
            + _tag(2, 2) + _varint(5) + b"hello"
            + _tag(3, 1) + struct.pack("<d", 2.5)
            + _tag(4, 0) + _varint(1)
        )
        row = decode_message(msg, self.FIELDS)
        assert row == {"id": 42, "name": "hello", "score": 2.5, "ok": True}

    def test_unknown_fields_skipped(self):
        msg = _tag(9, 0) + _varint(7) + _tag(1, 0) + _varint(1)
        assert decode_message(msg, self.FIELDS) == {"id": 1}

    def test_negative_int64_two_complement(self):
        msg = _tag(1, 0) + _varint((1 << 64) - 5)  # -5 as unsigned varint
        assert decode_message(msg, self.FIELDS)["id"] == -5

    def test_schema_from_spec(self):
        s = spec_schema("1:id:int64,2:name:string")
        assert [f.name for f in s.fields] == ["id", "name"]
        assert s["id"].dataType.simpleString() == "bigint"

    def test_bad_type_rejected(self):
        with pytest.raises(SourceError, match="unsupported proto type"):
            parse_field_spec("1:x:message")


class TestGrpcRegistration:
    def test_registered_type(self):
        assert "grpc" in SOURCE_TYPES


class TestIcebergRegistration:
    def test_registered_type(self):
        assert "iceberg" in SOURCE_TYPES and "iceberg_rest" in SOURCE_TYPES

    def test_missing_runtime_gives_clear_error(self, spark):
        cfg = parse_config(
            {
                "sources": [
                    {
                        "name": "ib",
                        "type": "iceberg",
                        "url": "http://localhost:8181",
                        "tables": [{"name": "t"}],
                    }
                ]
            }
        )
        with pytest.raises(SourceError, match="iceberg-spark-runtime"):
            register_source(spark, cfg.sources[0])
