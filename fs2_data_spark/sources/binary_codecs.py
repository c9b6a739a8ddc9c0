"""CBOR and MessagePack codecs + Spark transcoding operators.

From-scratch minimal binary item codecs (RFC 8949 / MessagePack spec — both
public), re-expressing the reference's item-level parsers
(``cbor/shared/src/main/scala/fs2/data/cbor/low/internal/ItemParser.scala``,
``msgpack/shared/src/main/scala/fs2/data/msgpack/low/internal/ItemParser.scala``)
and the CBOR->JSON transcoder (``cbor-json/.../cbor/package.scala:32-62``:
byte strings render as base64url, like the reference's tag-aware rules).

The Spark surface is columnar: ``transcode_cbor_to_json`` /
``transcode_msgpack_to_json`` turn a ``binary`` column into a JSON string
column inside a per-row Arrow kernel (``functions/arrow_kernel.run_rows``:
binary payloads never explode row counts; per-batch memory is bounded by
Arrow batch size). Python-side
decoding is the honest cost of a format Spark has no native reader for —
exactly the "(b) Pandas-UDF-backed" tier of the build rules.
"""

from __future__ import annotations

import base64
import json
import struct
from dataclasses import dataclass

from pyspark.sql import DataFrame

BREAK = object()

# CBOR tags with rendering semantics (reference
# ``cbor-json/shared/src/main/scala/fs2/data/cbor/package.scala:31-62``)
TAG_POS_BIGNUM = 2
TAG_NEG_BIGNUM = 3
TAG_DECIMAL_FRACTION = 4        # RFC 8949 §3.4.4 (not in the reference's set)
TAG_EXPECT_B64URL = 21
TAG_EXPECT_B64 = 22
TAG_EXPECT_B16 = 23
_KNOWN_TAGS = {TAG_POS_BIGNUM, TAG_NEG_BIGNUM, TAG_DECIMAL_FRACTION,
               TAG_EXPECT_B64URL, TAG_EXPECT_B64, TAG_EXPECT_B16}


@dataclass(frozen=True)
class CborTagged:
    """A semantically-known CBOR tag kept through decoding so the JSON
    renderer can apply the reference's tag-aware rules; unknown tags stay
    transparent (value passed through), like the reference's default arm."""
    tag: int
    value: object


@dataclass(frozen=True)
class MpExt:
    """MessagePack application extension (types 0xC7-0xC9 / 0xD4-0xD8,
    reference ``msgpack/low/model.scala:45``)."""
    type: int       # signed byte, application-defined (>= 0)
    data: bytes


@dataclass(frozen=True)
class MpTimestamp:
    """MessagePack predefined timestamp extension (type -1): Timestamp32/
    64/96 of reference ``msgpack/low/model.scala:48-62``, normalized to
    (seconds, nanoseconds)."""
    sec: int
    nsec: int = 0


# --------------------------- CBOR (RFC 8949) -------------------------------

def _cbor_read_uint(b: bytes, i: int, info: int) -> tuple[int, int]:
    if info < 24:
        return info, i
    if info == 24:
        return b[i], i + 1
    if info == 25:
        return int.from_bytes(b[i:i + 2], "big"), i + 2
    if info == 26:
        return int.from_bytes(b[i:i + 4], "big"), i + 4
    if info == 27:
        return int.from_bytes(b[i:i + 8], "big"), i + 8
    raise ValueError(f"cbor: invalid additional info {info}")


def _cbor_decode_item(b: bytes, i: int):
    if i >= len(b):
        raise ValueError("cbor: truncated input")
    ib = b[i]
    major, info = ib >> 5, ib & 0x1F
    i += 1
    if major == 0:
        return _cbor_read_uint(b, i, info)
    if major == 1:
        n, i = _cbor_read_uint(b, i, info)
        return -1 - n, i
    if major == 2 or major == 3:
        if info == 31:  # indefinite: concatenate definite chunks until break
            parts = []
            while b[i] != 0xFF:
                chunk, i = _cbor_decode_item(b, i)
                parts.append(chunk)
            i += 1
            return (b"".join(parts) if major == 2 else "".join(parts)), i
        n, i = _cbor_read_uint(b, i, info)
        raw = b[i:i + n]
        if len(raw) < n:
            raise ValueError("cbor: truncated string")
        i += n
        return (bytes(raw) if major == 2 else raw.decode("utf-8")), i
    if major == 4:
        out = []
        if info == 31:
            while b[i] != 0xFF:
                v, i = _cbor_decode_item(b, i)
                out.append(v)
            return out, i + 1
        n, i = _cbor_read_uint(b, i, info)
        for _ in range(n):
            v, i = _cbor_decode_item(b, i)
            out.append(v)
        return out, i
    if major == 5:
        m = {}
        if info == 31:
            while b[i] != 0xFF:
                k, i = _cbor_decode_item(b, i)
                v, i = _cbor_decode_item(b, i)
                m[k] = v
            return m, i + 1
        n, i = _cbor_read_uint(b, i, info)
        for _ in range(n):
            k, i = _cbor_decode_item(b, i)
            v, i = _cbor_decode_item(b, i)
            m[k] = v
        return m, i
    if major == 6:  # tag: known tags kept for tag-aware rendering
        tag, i = _cbor_read_uint(b, i, info)
        v, i = _cbor_decode_item(b, i)
        if tag in _KNOWN_TAGS:
            return CborTagged(tag, v), i
        return v, i  # unknown tags are transparent (reference default arm)
    # major 7: simple / floats
    if info == 20:
        return False, i
    if info == 21:
        return True, i
    if info == 22 or info == 23:
        return None, i
    if info == 25:
        return struct.unpack(">e", b[i:i + 2])[0], i + 2
    if info == 26:
        return struct.unpack(">f", b[i:i + 4])[0], i + 4
    if info == 27:
        return struct.unpack(">d", b[i:i + 8])[0], i + 8
    if info < 20 or info == 24:
        n, i = _cbor_read_uint(b, i, info)
        return f"simple({n})", i
    raise ValueError(f"cbor: unsupported major=7 info={info}")


def cbor_decode(b: bytes):
    v, i = _cbor_decode_item(bytes(b), 0)
    if i != len(b):
        raise ValueError(f"cbor: {len(b) - i} trailing bytes")
    return v


def _cbor_head(major: int, n: int) -> bytes:
    if n < 24:
        return bytes([(major << 5) | n])
    if n < 1 << 8:
        return bytes([(major << 5) | 24, n])
    if n < 1 << 16:
        return bytes([(major << 5) | 25]) + n.to_bytes(2, "big")
    if n < 1 << 32:
        return bytes([(major << 5) | 26]) + n.to_bytes(4, "big")
    return bytes([(major << 5) | 27]) + n.to_bytes(8, "big")


def cbor_encode(v) -> bytes:
    if isinstance(v, CborTagged):
        return _cbor_head(6, v.tag) + cbor_encode(v.value)
    if v is False:
        return b"\xf4"
    if v is True:
        return b"\xf5"
    if v is None:
        return b"\xf6"
    if isinstance(v, int):
        return _cbor_head(0, v) if v >= 0 else _cbor_head(1, -1 - v)
    if isinstance(v, float):
        return b"\xfb" + struct.pack(">d", v)
    if isinstance(v, bytes):
        return _cbor_head(2, len(v)) + v
    if isinstance(v, str):
        u = v.encode("utf-8")
        return _cbor_head(3, len(u)) + u
    if isinstance(v, (list, tuple)):
        return _cbor_head(4, len(v)) + b"".join(cbor_encode(x) for x in v)
    if isinstance(v, dict):
        return _cbor_head(5, len(v)) + b"".join(
            cbor_encode(k) + cbor_encode(x) for k, x in v.items())
    raise TypeError(f"cbor: cannot encode {type(v)}")


# ------------------------------ MessagePack --------------------------------

def _mp_decode_item(b: bytes, i: int):
    t = b[i]
    i += 1
    if t <= 0x7F:
        return t, i
    if t >= 0xE0:
        return t - 256, i
    if 0x80 <= t <= 0x8F:
        return _mp_map(b, i, t & 0x0F)
    if 0x90 <= t <= 0x9F:
        return _mp_arr(b, i, t & 0x0F)
    if 0xA0 <= t <= 0xBF:
        n = t & 0x1F
        return b[i:i + n].decode("utf-8"), i + n
    if t == 0xC0:
        return None, i
    if t == 0xC2:
        return False, i
    if t == 0xC3:
        return True, i
    if t in (0xC4, 0xC5, 0xC6):  # bin8/16/32
        w = 1 << (t - 0xC4)
        n = int.from_bytes(b[i:i + w], "big")
        i += w
        return bytes(b[i:i + n]), i + n
    if t == 0xCA:
        return struct.unpack(">f", b[i:i + 4])[0], i + 4
    if t == 0xCB:
        return struct.unpack(">d", b[i:i + 8])[0], i + 8
    if t in (0xCC, 0xCD, 0xCE, 0xCF):  # uint8/16/32/64
        w = 1 << (t - 0xCC)
        return int.from_bytes(b[i:i + w], "big"), i + w
    if t in (0xD0, 0xD1, 0xD2, 0xD3):  # int8/16/32/64
        w = 1 << (t - 0xD0)
        return int.from_bytes(b[i:i + w], "big", signed=True), i + w
    if t in (0xD9, 0xDA, 0xDB):  # str8/16/32
        w = 1 << (t - 0xD9)
        n = int.from_bytes(b[i:i + w], "big")
        i += w
        return b[i:i + n].decode("utf-8"), i + n
    if t in (0xDC, 0xDD):  # array16/32
        w = 2 << (t - 0xDC)
        n = int.from_bytes(b[i:i + w], "big")
        return _mp_arr(b, i + w, n)
    if t in (0xDE, 0xDF):  # map16/32
        w = 2 << (t - 0xDE)
        n = int.from_bytes(b[i:i + w], "big")
        return _mp_map(b, i + w, n)
    if 0xD4 <= t <= 0xD8:  # fixext 1/2/4/8/16
        n = 1 << (t - 0xD4)
        return _mp_ext(b, i, n)
    if t in (0xC7, 0xC8, 0xC9):  # ext8/16/32
        w = 1 << (t - 0xC7)
        n = int.from_bytes(b[i:i + w], "big")
        return _mp_ext(b, i + w, n)
    raise ValueError(f"msgpack: unsupported type byte 0x{t:02x}")


def _mp_ext(b: bytes, i: int, n: int):
    """Extension payload: signed type byte + n data bytes. Type -1 is the
    predefined Timestamp32/64/96 (reference ``msgpack/low/model.scala:48-62``)."""
    tpe = int.from_bytes(b[i:i + 1], "big", signed=True)
    i += 1
    data = bytes(b[i:i + n])
    if len(data) < n:
        raise ValueError("msgpack: truncated ext payload")
    i += n
    if tpe == -1:
        if n == 4:      # timestamp32: uint32 seconds
            return MpTimestamp(int.from_bytes(data, "big")), i
        if n == 8:      # timestamp64: 30-bit nsec | 34-bit sec
            combined = int.from_bytes(data, "big")
            return MpTimestamp(combined & 0x3_FFFF_FFFF,
                               (combined >> 34) & 0x3FFF_FFFF), i
        if n == 12:     # timestamp96: uint32 nsec + int64 sec
            return MpTimestamp(int.from_bytes(data[4:], "big", signed=True),
                               int.from_bytes(data[:4], "big")), i
        raise ValueError(f"msgpack: invalid timestamp length {n}")
    return MpExt(tpe, data), i


def _mp_arr(b, i, n):
    out = []
    for _ in range(n):
        v, i = _mp_decode_item(b, i)
        out.append(v)
    return out, i


def _mp_map(b, i, n):
    m = {}
    for _ in range(n):
        k, i = _mp_decode_item(b, i)
        v, i = _mp_decode_item(b, i)
        m[k] = v
    return m, i


def msgpack_decode(b: bytes):
    v, i = _mp_decode_item(bytes(b), 0)
    if i != len(b):
        raise ValueError(f"msgpack: {len(b) - i} trailing bytes")
    return v


def _mp_encode_ext(tpe: int, data: bytes) -> bytes:
    n = len(data)
    tb = tpe.to_bytes(1, "big", signed=True)
    if n in (1, 2, 4, 8, 16):
        return bytes([0xD4 + n.bit_length() - 1]) + tb + data
    if n < 1 << 8:
        return b"\xc7" + bytes([n]) + tb + data
    if n < 1 << 16:
        return b"\xc8" + n.to_bytes(2, "big") + tb + data
    return b"\xc9" + n.to_bytes(4, "big") + tb + data


def msgpack_encode(v) -> bytes:
    if isinstance(v, MpTimestamp):
        # smallest representation, per the msgpack timestamp spec
        if v.nsec == 0 and 0 <= v.sec < 1 << 32:
            return _mp_encode_ext(-1, v.sec.to_bytes(4, "big"))
        if 0 <= v.sec < 1 << 34 and 0 <= v.nsec < 1 << 30:
            combined = (v.nsec << 34) | v.sec
            return _mp_encode_ext(-1, combined.to_bytes(8, "big"))
        return _mp_encode_ext(-1, v.nsec.to_bytes(4, "big")
                              + v.sec.to_bytes(8, "big", signed=True))
    if isinstance(v, MpExt):
        return _mp_encode_ext(v.type, v.data)
    if v is None:
        return b"\xc0"
    if v is False:
        return b"\xc2"
    if v is True:
        return b"\xc3"
    if isinstance(v, int):
        if 0 <= v <= 0x7F:
            return bytes([v])
        if -32 <= v < 0:
            return bytes([v & 0xFF])
        if v >= 0:
            for code, w in ((0xCC, 1), (0xCD, 2), (0xCE, 4), (0xCF, 8)):
                if v < 1 << (8 * w):
                    return bytes([code]) + v.to_bytes(w, "big")
        for code, w in ((0xD0, 1), (0xD1, 2), (0xD2, 4), (0xD3, 8)):
            if -(1 << (8 * w - 1)) <= v:
                return bytes([code]) + v.to_bytes(w, "big", signed=True)
        raise OverflowError("msgpack: int out of range")
    if isinstance(v, float):
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, bytes):
        n = len(v)
        if n < 1 << 8:
            return b"\xc4" + bytes([n]) + v
        if n < 1 << 16:
            return b"\xc5" + n.to_bytes(2, "big") + v
        return b"\xc6" + n.to_bytes(4, "big") + v
    if isinstance(v, str):
        u = v.encode("utf-8")
        n = len(u)
        if n < 32:
            return bytes([0xA0 | n]) + u
        if n < 1 << 8:
            return b"\xd9" + bytes([n]) + u
        if n < 1 << 16:
            return b"\xda" + n.to_bytes(2, "big") + u
        return b"\xdb" + n.to_bytes(4, "big") + u
    if isinstance(v, (list, tuple)):
        n = len(v)
        head = (bytes([0x90 | n]) if n < 16 else
                b"\xdc" + n.to_bytes(2, "big") if n < 1 << 16 else
                b"\xdd" + n.to_bytes(4, "big"))
        return head + b"".join(msgpack_encode(x) for x in v)
    if isinstance(v, dict):
        n = len(v)
        head = (bytes([0x80 | n]) if n < 16 else
                b"\xde" + n.to_bytes(2, "big") if n < 1 << 16 else
                b"\xdf" + n.to_bytes(4, "big"))
        return head + b"".join(msgpack_encode(k) + msgpack_encode(x)
                               for k, x in v.items())
    raise TypeError(f"msgpack: cannot encode {type(v)}")


# --------------------------- Spark transcoders -----------------------------

def _render_bytes(b: bytes, enc: str) -> str:
    if enc == "b64url":
        return base64.urlsafe_b64encode(b).rstrip(b"=").decode("ascii")
    if enc == "b64":
        return base64.b64encode(b).decode("ascii")
    return b.hex()  # b16


def _jsonable(v, enc: str = "b64url"):
    """JSON-compatible view, RFC 8949 §6.1 / reference cbor-json rules:

    - bytes -> base64url without padding by default; tags 21/22/23 switch the
      encoding (base64url / base64 / base16) for their subtree
    - tag 2/3 bignums -> exact integers (``BigInt(bytes)`` / ``-1 - BigInt``)
    - tag 4 decimal fraction ``[e, m]`` -> ``m * 10^e`` (int when exact)
    - msgpack Timestamp -> {"sec": s, "nsec": ns}; Ext -> {"ext": t, "data": b64url}
    - map keys stringified
    """
    if isinstance(v, CborTagged):
        t, inner = v.tag, v.value
        if t == TAG_POS_BIGNUM and isinstance(inner, bytes):
            return int.from_bytes(inner, "big")
        if t == TAG_NEG_BIGNUM and isinstance(inner, bytes):
            return -1 - int.from_bytes(inner, "big")
        if t == TAG_DECIMAL_FRACTION and isinstance(inner, list) and len(inner) == 2:
            e, m = inner
            return m * 10 ** e if e >= 0 else m / 10 ** (-e)
        if t == TAG_EXPECT_B64URL:
            return _jsonable(inner, "b64url")
        if t == TAG_EXPECT_B64:
            return _jsonable(inner, "b64")
        if t == TAG_EXPECT_B16:
            return _jsonable(inner, "b16")
        return _jsonable(inner, enc)
    if isinstance(v, MpTimestamp):
        return {"sec": v.sec, "nsec": v.nsec}
    if isinstance(v, MpExt):
        return {"ext": v.type, "data": _render_bytes(v.data, "b64url")}
    if isinstance(v, bytes):
        return _render_bytes(v, enc)
    if isinstance(v, list):
        return [_jsonable(x, enc) for x in v]
    if isinstance(v, dict):
        return {str(_jsonable(k, enc)): _jsonable(x, enc) for k, x in v.items()}
    return v


def _transcode(df: DataFrame, col: str, decoder, mode: str,
               out_col: str = "json") -> DataFrame:
    from fs2_data_spark.functions.arrow_kernel import run_rows  # noqa: PLC0415

    def transcoded(raw):
        return [(json.dumps(_jsonable(decoder(raw)), sort_keys=True), True)]

    def error_row(e):
        return [(json.dumps({"__error": str(e)}), False)]

    return run_rows(df, transcoded, [col], f"`{out_col}` string, ok boolean",
                    keys=[c for c in df.columns if c not in (out_col, "ok")],
                    errors=(Exception,), strict=mode == "strict",
                    on_error=error_row, per_doc=True)


def transcode_cbor_to_json(df: DataFrame, col: str = "payload",
                           mode: str = "strict") -> DataFrame:
    """CBOR binary column -> JSON string column (S15 ``cbor-json`` surface)."""
    return _transcode(df, col, cbor_decode, mode)


def transcode_msgpack_to_json(df: DataFrame, col: str = "payload",
                              mode: str = "strict") -> DataFrame:
    """MessagePack binary column -> JSON string column."""
    return _transcode(df, col, msgpack_decode, mode)


def _transcode_to_binary(df: DataFrame, col: str, encoder, out_col: str,
                         mode: str) -> DataFrame:
    from fs2_data_spark.functions.arrow_kernel import run_rows  # noqa: PLC0415

    def encoded(raw):
        return [(encoder(json.loads(raw)), True)]

    return run_rows(df, encoded, [col], f"`{out_col}` binary, ok boolean",
                    keys=df.columns, errors=(Exception,),
                    strict=mode == "strict", per_doc=True)


def decode_msgpack(df: DataFrame, schema, col: str = "payload",
                   out_col: str = "value", mode: str = "strict") -> DataFrame:
    """Typed MessagePack deserialization one-liner (reference
    ``msgpack/high/package.scala:43-144`` typed deserializers): binary ->
    typed struct column in one call, fusing :func:`transcode_msgpack_to_json`
    with ``from_json(schema)``. ``schema`` is a Spark DDL string or DataType;
    fields absent from the payload come back null, like a lenient decoder.
    The intermediate JSON rides in a reserved column, so an existing
    ``json`` column on the input passes through untouched."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    return (_transcode(df, col, msgpack_decode, mode, out_col="__typed_json")
            .withColumn(out_col, F.from_json("__typed_json", schema))
            .drop("__typed_json"))


def decode_cbor(df: DataFrame, schema, col: str = "payload",
                out_col: str = "value", mode: str = "strict") -> DataFrame:
    """Typed CBOR deserialization one-liner — CBOR twin of
    :func:`decode_msgpack`."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    return (_transcode(df, col, cbor_decode, mode, out_col="__typed_json")
            .withColumn(out_col, F.from_json("__typed_json", schema))
            .drop("__typed_json"))


def transcode_json_to_cbor(df: DataFrame, col: str = "json",
                           out_col: str = "payload",
                           mode: str = "strict") -> DataFrame:
    """JSON string column -> CBOR binary column — the reverse transcoding
    direction (reference ``cbor-json/shared/src/main/scala/fs2/data/json/
    package.scala`` ``encodeItems``)."""
    return _transcode_to_binary(df, col, cbor_encode, out_col, mode)


def transcode_json_to_msgpack(df: DataFrame, col: str = "json",
                              out_col: str = "payload",
                              mode: str = "strict") -> DataFrame:
    """JSON string column -> MessagePack binary column."""
    return _transcode_to_binary(df, col, msgpack_encode, out_col, mode)
