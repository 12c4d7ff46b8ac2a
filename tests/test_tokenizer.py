"""Unit tests for tokenizer/encoder semantics.

Vectors mirror the reference's Catch2 coverage
(components/core/tests/test-EncodedVariableInterpreter.cpp,
test-ir_parsing.cpp) re-derived from the documented rules — not copied.
"""

from __future__ import annotations

import pytest

from clp_spark.config import VT_DICT, VT_FLOAT, VT_INT
from clp_spark.oracle.tokenizer import (
    decode_float,
    decode_message,
    encode_float,
    encode_int,
    tokenize_message,
)
from clp_spark.parse.tokenizer import parse_one


class TestIntEncoding:
    @pytest.mark.parametrize(
        "s,expected",
        [
            ("0", 0),
            ("1", 1),
            ("-1", -1),
            ("9223372036854775807", 2**63 - 1),
            ("-9223372036854775808", -(2**63)),
            ("12345", 12345),
        ],
    )
    def test_encodable(self, s, expected):
        assert encode_int(s) == expected

    @pytest.mark.parametrize(
        "s",
        [
            "",
            "007",          # zero-padded
            "00",
            "-0",           # '-' must be followed by 1-9
            "-01",
            "+5",           # explicit '+' not allowed
            "9223372036854775808",   # > int64 max
            "-9223372036854775809",  # < int64 min
            "1.5",
            "12a",
            "a12",
        ],
    )
    def test_not_encodable(self, s):
        assert encode_int(s) is None


class TestFloatEncoding:
    @pytest.mark.parametrize(
        "s",
        ["0.5", "0.500", ".5", "-.5", "-3.14159", "00.5", "0.000",
         "1234567890.123456", ".1234567890123456", "-.1234567890123456",
         "123456789012345.6"],
    )
    def test_round_trip_byte_identical(self, s):
        e = encode_float(s)
        assert e is not None
        assert decode_float(e) == s

    @pytest.mark.parametrize(
        "s",
        ["", "5", "-5", "1.", "-1.", ".", "-.", "1..2", "1.2.3", "+1.5",
         "12345678901234567.8",  # 17 digits
         "1e5", "0x1.5"],
    )
    def test_not_encodable(self, s):
        assert encode_float(s) is None


class TestTokenizer:
    def test_var_schemas(self):
        # contains digit → var; '='-prefixed alpha → var; hex(2+) → var
        # note: "abc"/"ff"/"deadbeef" are multi-digit-hex candidates → vars;
        # single-char "f" and non-hex "xyz" are static text
        lt, vs, vt, _ = tokenize_message("xyz abc a1 =hello ff f deadbeef x")
        assert vs == ["abc", "a1", "hello", "ff", "deadbeef"]
        assert all(t == VT_DICT for t in vt)

    def test_type_split(self):
        _, vs, vt, enc = tokenize_message("n=42 f=0.500 s=abc z 007")
        assert vs == ["42", "0.500", "abc", "007"]
        assert vt == [VT_INT, VT_FLOAT, VT_DICT, VT_DICT]
        assert enc[0] == 42
        assert enc[2] is None and enc[3] is None

    def test_logtype_placeholders_and_escape(self):
        lt, vs, _, _ = tokenize_message("a\x11b 42 c\\d")
        # placeholder byte in static text escaped; '\' escaped; int placeholder
        assert lt == "a\\\x11b \x11 c\\\\d"
        assert vs == ["42"]

    def test_eq_prefix_context(self):
        _, vs, _, _ = tokenize_message("==foo =bar baz= =+-")
        assert vs == ["foo", "bar"]

    def test_ip_is_dict_var(self):
        _, vs, vt, _ = tokenize_message("conn 10.0.0.1 end")
        assert vs == ["10.0.0.1"] and vt == [VT_DICT]

    @pytest.mark.parametrize(
        "msg",
        [
            "",
            "no variables at all",
            "x=5 y=hello z=0.500 -17 007 0 -0 00.5 .5 1. deadbeef ff f",
            "a\\b c\x11d e\x12f g\x13h \\ \x13",
            "9223372036854775807 9223372036854775808 -9223372036854775809",
            "tail delim end :",
            "unicode müller straße 42",
        ],
    )
    def test_decode_round_trip(self, msg):
        lt, vs, _, _ = tokenize_message(msg)
        assert decode_message(lt, vs) == msg

    @pytest.mark.parametrize(
        "msg",
        [
            "", "plain", "x=1 y=2.5 z=abc", "=a ==b =1 = . -",
            "\x11\x12\x13\\", "path task_77.log C:\\x\\y",
            "hex ffff Ffab 0a f", "big 99999999999999999999999 -0 007",
        ],
    )
    def test_spark_impl_agrees_with_oracle(self, msg):
        o_lt, o_vs, o_vt, o_enc = tokenize_message(msg)
        s_lt, s_vs, s_vt, s_enc = parse_one(msg)
        assert (s_lt, s_vs, s_vt) == (o_lt, o_vs, o_vt)
        assert s_enc == [0 if e is None else e for e in o_enc]

    def test_fixture_corpus_agreement(self, pages_pdf):
        for msg in pages_pdf["text"]:
            o = tokenize_message(msg)
            s = parse_one(msg)
            assert (s[0], s[1], s[2]) == (o[0], o[1], o[2])
            assert decode_message(o[0], o[1]) == msg
