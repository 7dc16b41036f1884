"""Row-oriented input/output formats beyond the DataFrameReader set.

Reference: src/Formats/registerFormats.cpp — RowBinary(WithNames,
WithNamesAndTypes) (src/Processors/Formats/Impl/BinaryRowInputFormat.cpp),
MsgPack (src/Processors/Formats/Impl/MsgPackRowInputFormat.cpp), TSKV
(src/Processors/Formats/Impl/TSKVRowInputFormat.cpp), JSONCompactEachRow
(src/Processors/Formats/Impl/JSONCompactEachRowRowInputFormat.cpp),
Values (src/Processors/Formats/Impl/ValuesBlockInputFormat.cpp),
Regexp (src/Processors/Formats/Impl/RegexpRowInputFormat.cpp),
CustomSeparated (src/Processors/Formats/Impl/CustomSeparatedRowInputFormat.cpp).

Execution shapes, chosen per format:

- **Binary formats (RowBinary, MsgPack)**: files ship as splittable
  blobs through the ``binaryFile`` source; each executor walks its blob
  locally inside Arrow-batched ``mapInPandas`` — one Python call per
  batch, never per row.  The codecs are pure Python implementations of
  the PUBLIC wire layouts (LEB128 varints + little-endian fixed widths
  for RowBinary; the msgpack spec subset for MsgPack) — no external
  codec libraries.
- **Text formats (TSKV, JSONCompactEachRow, Regexp)**: decoded entirely
  JVM-side with Catalyst expressions over ``spark.read.text`` lines
  (``str_to_map`` / ``from_json`` / ``regexp_extract``) — whole-stage
  codegen, zero Python in the data path.
- **Values**: quote-aware tuple tokenizer in ``mapInPandas`` (commas
  may appear inside string literals, so a regex split is incorrect).
- **CustomSeparated**: a reader-options mapping onto the csv source.
"""

from __future__ import annotations

import re
import struct
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _schema(schema) -> T.StructType:
    """Accept DDL strings everywhere a StructType is expected."""
    if isinstance(schema, str):
        return T.StructType.fromDDL(schema)
    return schema


# ------------------------------------------------------------------ RowBinary

# CH type name per Spark type, used by the WithNamesAndTypes header.
_CH_TYPE = {
    T.ByteType: "Int8", T.ShortType: "Int16", T.IntegerType: "Int32",
    T.LongType: "Int64", T.FloatType: "Float32", T.DoubleType: "Float64",
    T.StringType: "String", T.BinaryType: "String", T.BooleanType: "UInt8",
    T.DateType: "Date", T.TimestampType: "DateTime",
}

_FIXED = {  # Spark type -> (struct fmt, byte width)
    T.ByteType: ("<b", 1), T.ShortType: ("<h", 2), T.IntegerType: ("<i", 4),
    T.LongType: ("<q", 8), T.FloatType: ("<f", 4), T.DoubleType: ("<d", 8),
    T.BooleanType: ("<B", 1),
}


def _put_varint(out: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("malformed varint")


def encode_rowbinary(rows: list[dict], schema: T.StructType,
                     with_names: bool = False,
                     with_types: bool = False,
                     with_defaults: bool = False) -> bytes:
    """Encode rows to RowBinary(/WithNames/WithNamesAndTypes/
    WithDefaults) bytes (reference
    src/Processors/Formats/Impl/BinaryRowOutputFormat.cpp: values
    back-to-back, String = varint length + utf8, fixed-width
    little-endian numerics, nullable prefixed by a 0/1 byte).
    WithDefaults prefixes EVERY column with a byte — 1 means "use the
    column default, no value follows", 0 means the normal
    serialization follows (RowBinaryWithDefaults registration)."""
    import datetime as _dt
    out = bytearray()
    if with_names or with_types:
        _put_varint(out, len(schema.fields))
        for f in schema.fields:
            raw = f.name.encode("utf-8")
            _put_varint(out, len(raw))
            out += raw
        if with_types:
            for f in schema.fields:
                ch = _CH_TYPE[type(f.dataType)]
                if f.nullable and not isinstance(
                        f.dataType, (T.DateType, T.TimestampType)):
                    ch = f"Nullable({ch})"
                raw = ch.encode("utf-8")
                _put_varint(out, len(raw))
                out += raw
    epoch = _dt.date(1970, 1, 1)
    for r in rows:
        for f in schema.fields:
            v = r.get(f.name)
            if with_defaults:
                if v is None:
                    out.append(1)   # column default, no value
                    continue
                out.append(0)
            if f.nullable:
                out.append(1 if v is None else 0)
                if v is None:
                    continue
            elif v is None:
                raise ValueError(f"NULL in non-nullable field {f.name}")
            dt = f.dataType
            if isinstance(dt, T.StringType):
                raw = v.encode("utf-8")
                _put_varint(out, len(raw))
                out += raw
            elif isinstance(dt, T.BinaryType):
                raw = bytes(v)
                _put_varint(out, len(raw))
                out += raw
            elif isinstance(dt, T.DateType):
                out += struct.pack("<H", (v - epoch).days)
            elif isinstance(dt, T.TimestampType):
                ts = int(v.replace(tzinfo=_dt.timezone.utc).timestamp()
                         if v.tzinfo is None else v.timestamp())
                out += struct.pack("<I", ts)
            else:
                fmt, _ = _FIXED[type(dt)]
                out += struct.pack(fmt, bool(v) if isinstance(
                    dt, T.BooleanType) else v)
    return bytes(out)


def _rb_default(f: "T.StructField"):
    if f.nullable:
        return None
    dt = f.dataType
    if isinstance(dt, T.StringType):
        return ""
    if isinstance(dt, T.BinaryType):
        return bytearray()
    if isinstance(dt, T.DateType):
        import datetime as _dt
        return _dt.date(1970, 1, 1)
    if isinstance(dt, T.TimestampType):
        import datetime as _dt
        return _dt.datetime(1970, 1, 1)
    if isinstance(dt, T.BooleanType):
        return False
    return 0


def _decode_rowbinary_blob(buf: bytes, schema: T.StructType,
                           with_names: bool, with_types: bool,
                           with_defaults: bool = False) -> list[dict]:
    import datetime as _dt
    pos = 0
    if with_names or with_types:
        ncols, pos = _read_varint(buf, pos)
        for _ in range(ncols * (2 if with_types else 1)):
            ln, pos = _read_varint(buf, pos)
            pos += ln  # header names/types are informational; schema wins
    epoch = _dt.date(1970, 1, 1)
    rows: list[dict] = []
    n = len(buf)
    while pos < n:
        row: dict = {}
        for f in schema.fields:
            if with_defaults:
                use_default = buf[pos]
                pos += 1
                if use_default:
                    row[f.name] = _rb_default(f)
                    continue
            if f.nullable:
                is_null = buf[pos]
                pos += 1
                if is_null:
                    row[f.name] = None
                    continue
            dt = f.dataType
            if isinstance(dt, (T.StringType, T.BinaryType)):
                ln, pos = _read_varint(buf, pos)
                raw = buf[pos:pos + ln]
                pos += ln
                row[f.name] = (raw.decode("utf-8")
                               if isinstance(dt, T.StringType)
                               else bytearray(raw))
            elif isinstance(dt, T.DateType):
                days = struct.unpack_from("<H", buf, pos)[0]
                pos += 2
                row[f.name] = epoch + _dt.timedelta(days=days)
            elif isinstance(dt, T.TimestampType):
                secs = struct.unpack_from("<I", buf, pos)[0]
                pos += 4
                row[f.name] = _dt.datetime.fromtimestamp(
                    secs, tz=_dt.timezone.utc).replace(tzinfo=None)
            else:
                fmt, w = _FIXED[type(dt)]
                v = struct.unpack_from(fmt, buf, pos)[0]
                pos += w
                row[f.name] = bool(v) if isinstance(
                    dt, T.BooleanType) else v
        rows.append(row)
    return rows


def read_rowbinary(spark: SparkSession, path: str, schema: T.StructType,
                   with_names: bool = False,
                   with_types: bool = False,
                   with_defaults: bool = False) -> DataFrame:
    """RowBinary file source: blobs via binaryFile (one task per file,
    executor-local decode), Arrow-batched back to the JVM."""
    schema = _schema(schema)
    names = [f.name for f in schema.fields]
    blobs = spark.read.format("binaryFile").load(path).select("content")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for blob in pdf["content"]:
                rows.extend(_decode_rowbinary_blob(
                    bytes(blob), schema, with_names, with_types,
                    with_defaults))
            yield pd.DataFrame(
                {n: [r.get(n) for r in rows] for n in names}, columns=names)

    return blobs.mapInPandas(batches, schema=schema)


def decode_rowbinary(df: DataFrame, schema: T.StructType,
                     value_col: str = "value",
                     with_names: bool = False,
                     with_types: bool = False) -> DataFrame:
    """Decode a binary column carrying RowBinary payloads (the Kafka
    message shape — reference Kafka engine + kafka_format='RowBinary',
    src/Storages/Kafka/KafkaSource.cpp format plumbing).  One payload
    may carry multiple rows; works on batch and streaming frames."""
    schema = _schema(schema)
    names = [f.name for f in schema.fields]
    idx = df.columns.index(value_col)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for blob in pdf.iloc[:, idx]:
                if blob is not None:
                    rows.extend(_decode_rowbinary_blob(
                        bytes(blob), schema, with_names, with_types))
            yield pd.DataFrame(
                {n: [r.get(n) for r in rows] for n in names}, columns=names)

    return df.mapInPandas(batches, schema=schema)


# -------------------------------------------------------------------- MsgPack

def _mp_encode_value(out: bytearray, v, dt: T.DataType) -> None:
    if v is None:
        out.append(0xC0)
    elif isinstance(dt, T.BooleanType):
        out.append(0xC3 if v else 0xC2)
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        out.append(0xCB)
        out += struct.pack(">d", float(v))
    elif isinstance(dt, (T.StringType,)):
        raw = v.encode("utf-8")
        n = len(raw)
        if n < 32:
            out.append(0xA0 | n)
        elif n < 256:
            out += bytes((0xD9, n))
        elif n < 65536:
            out.append(0xDA)
            out += struct.pack(">H", n)
        else:
            out.append(0xDB)
            out += struct.pack(">I", n)
        out += raw
    elif isinstance(dt, T.BinaryType):
        raw = bytes(v)
        n = len(raw)
        if n < 256:
            out += bytes((0xC4, n))
        elif n < 65536:
            out.append(0xC5)
            out += struct.pack(">H", n)
        else:
            out.append(0xC6)
            out += struct.pack(">I", n)
        out += raw
    else:  # integral
        v = int(v)
        if 0 <= v < 128:
            out.append(v)
        elif -32 <= v < 0:
            out.append(v & 0xFF)
        elif -128 <= v < 128:
            out.append(0xD0)
            out += struct.pack(">b", v)
        elif -32768 <= v < 32768:
            out.append(0xD1)
            out += struct.pack(">h", v)
        elif -(1 << 31) <= v < (1 << 31):
            out.append(0xD2)
            out += struct.pack(">i", v)
        else:
            out.append(0xD3)
            out += struct.pack(">q", v)


def encode_msgpack(rows: list[dict], schema: T.StructType) -> bytes:
    """MsgPack row stream: num_columns top-level values per row, in
    schema order (the reference's MsgPackRowOutputFormat layout)."""
    out = bytearray()
    for r in rows:
        for f in schema.fields:
            _mp_encode_value(out, r.get(f.name), f.dataType)
    return bytes(out)


def _mp_decode_value(buf: bytes, pos: int):
    b = buf[pos]
    pos += 1
    if b < 0x80:          # positive fixint
        return b, pos
    if b >= 0xE0:         # negative fixint
        return b - 256, pos
    if 0xA0 <= b < 0xC0:  # fixstr
        n = b & 0x1F
        return buf[pos:pos + n].decode("utf-8"), pos + n
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b == 0xC4:
        n = buf[pos]
        return bytearray(buf[pos + 1:pos + 1 + n]), pos + 1 + n
    if b == 0xC5:
        n = struct.unpack_from(">H", buf, pos)[0]
        return bytearray(buf[pos + 2:pos + 2 + n]), pos + 2 + n
    if b == 0xC6:
        n = struct.unpack_from(">I", buf, pos)[0]
        return bytearray(buf[pos + 4:pos + 4 + n]), pos + 4 + n
    if b == 0xCA:
        return struct.unpack_from(">f", buf, pos)[0], pos + 4
    if b == 0xCB:
        return struct.unpack_from(">d", buf, pos)[0], pos + 8
    if b in (0xCC, 0xCD, 0xCE, 0xCF):
        w = 1 << (b - 0xCC)
        fmt = {1: ">B", 2: ">H", 4: ">I", 8: ">Q"}[w]
        return struct.unpack_from(fmt, buf, pos)[0], pos + w
    if b in (0xD0, 0xD1, 0xD2, 0xD3):
        w = 1 << (b - 0xD0)
        fmt = {1: ">b", 2: ">h", 4: ">i", 8: ">q"}[w]
        return struct.unpack_from(fmt, buf, pos)[0], pos + w
    if b == 0xD9:
        n = buf[pos]
        return buf[pos + 1:pos + 1 + n].decode("utf-8"), pos + 1 + n
    if b == 0xDA:
        n = struct.unpack_from(">H", buf, pos)[0]
        return buf[pos + 2:pos + 2 + n].decode("utf-8"), pos + 2 + n
    if b == 0xDB:
        n = struct.unpack_from(">I", buf, pos)[0]
        return buf[pos + 4:pos + 4 + n].decode("utf-8"), pos + 4 + n
    raise NotImplementedError(
        f"msgpack type byte 0x{b:02X} (arrays/maps/ext need the full "
        f"msgpack library at deploy time)")


def read_msgpack(spark: SparkSession, path: str,
                 schema: T.StructType) -> DataFrame:
    """MsgPack file source — same distributed blob-walk shape as
    RowBinary."""
    schema = _schema(schema)
    names = [f.name for f in schema.fields]
    ncols = len(names)
    blobs = spark.read.format("binaryFile").load(path).select("content")

    def _coerce(v, dt):
        if v is None:
            return None
        if isinstance(dt, T.BooleanType):
            return bool(v)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return float(v)
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            return int(v)
        return v

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for blob in pdf["content"]:
                buf = bytes(blob)
                pos, n = 0, len(buf)
                while pos < n:
                    row = {}
                    for f in schema.fields:
                        v, pos = _mp_decode_value(buf, pos)
                        row[f.name] = _coerce(v, f.dataType)
                    rows.append(row)
                if pos != n and rows:
                    raise ValueError("trailing msgpack bytes")
            yield pd.DataFrame(
                {c: [r.get(c) for r in rows] for c in names}, columns=names)

    return blobs.mapInPandas(batches, schema=schema)


def decode_msgpack(df: DataFrame, schema: T.StructType,
                   value_col: str = "value") -> DataFrame:
    """Decode a binary column of MsgPack payloads (Kafka message shape;
    same contract as :func:`decode_rowbinary`)."""
    schema = _schema(schema)
    names = [f.name for f in schema.fields]
    idx = df.columns.index(value_col)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for blob in pdf.iloc[:, idx]:
                if blob is None:
                    continue
                buf = bytes(blob)
                pos, n = 0, len(buf)
                while pos < n:
                    row = {}
                    for f in schema.fields:
                        v, pos = _mp_decode_value(buf, pos)
                        row[f.name] = v
                    rows.append(row)
            yield pd.DataFrame(
                {c: [r.get(c) for r in rows] for c in names}, columns=names)

    return df.mapInPandas(batches, schema=schema)


# ----------------------------------------------------------------- TSKV (JVM)

def read_tskv(spark: SparkSession, path: str,
              schema: T.StructType) -> DataFrame:
    """TSKV lines ``k=v<TAB>k=v`` decoded with ``str_to_map`` — pure
    Catalyst, whole-stage codegen, no Python in the data path."""
    schema = _schema(schema)
    lines = spark.read.text(path)
    m = F.str_to_map(F.col("value"), F.lit("\t"), F.lit("="))
    cols = [F.element_at(m, f.name).cast(f.dataType).alias(f.name)
            for f in schema.fields]
    return lines.select(*cols)


def write_tskv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    fields = df.schema.fields
    parts = []
    for f in fields:
        parts.append(F.concat(F.lit(f.name + "="),
                              F.col(f.name).cast("string")))
    df.select(F.concat_ws("\t", *parts).alias("value")) \
        .write.mode(mode).text(path)


# ------------------------------------------------- JSONCompactEachRow (JVM)

def read_json_compact_each_row(spark: SparkSession, path: str,
                               schema: T.StructType,
                               with_names: bool = False) -> DataFrame:
    """``[v1, v2, ...]`` per line: from_json to array<string> +
    positional casts — JVM-side.  WithNames variants carry one (or two)
    header lines that fail the numeric casts; they are dropped by
    filtering on the first castable column when ``with_names``."""
    schema = _schema(schema)
    lines = spark.read.text(path)
    arr = F.from_json(F.col("value"), "array<string>")
    cols = [F.element_at(arr, i + 1).cast(f.dataType).alias(f.name)
            for i, f in enumerate(schema.fields)]
    out = lines.select(*cols)
    if with_names:
        # header rows decode to the column-name strings -> non-castable
        first_num = next((f for f in schema.fields if not isinstance(
            f.dataType, T.StringType)), None)
        if first_num is not None:
            out = out.filter(F.col(first_num.name).isNotNull())
        else:
            names_arr = F.array(*[F.lit(f.name) for f in schema.fields])
            out = lines.select(arr.alias("__a")).filter(
                F.col("__a") != names_arr).select(
                *[F.element_at(F.col("__a"), i + 1).cast(f.dataType)
                  .alias(f.name) for i, f in enumerate(schema.fields)])
    return out


def write_json_compact_each_row(df: DataFrame, path: str,
                                mode: str = "overwrite") -> None:
    arr = F.to_json(F.array(*[F.col(f.name).cast("string")
                              for f in df.schema.fields]))
    df.select(arr.alias("value")).write.mode(mode).text(path)


# ---------------------------------------------------------------- Regexp (JVM)

def read_regexp(spark: SparkSession, path: str, schema: T.StructType,
                pattern: str, skip_unmatched: bool = True) -> DataFrame:
    """Regexp input format: one capture group per schema field
    (reference src/Processors/Formats/Impl/RegexpRowInputFormat.cpp,
    format_regexp setting).  regexp_extract per group — JVM-side."""
    schema = _schema(schema)
    lines = spark.read.text(path)
    if skip_unmatched:
        lines = lines.filter(F.col("value").rlike(pattern))
    cols = [F.regexp_extract(F.col("value"), pattern, i + 1)
            .cast(f.dataType).alias(f.name)
            for i, f in enumerate(schema.fields)]
    return lines.select(*cols)


# ---------------------------------------------------------------------- Values

def _split_values(text: str) -> list[list[str]]:
    """Quote-aware tokenizer for the Values format ``(a, 'b'), (c, 'd')``
    (reference src/Processors/Formats/Impl/ValuesBlockInputFormat.cpp —
    constant-expression subset; CH-style '' escaping and backslash
    escapes inside literals)."""
    rows: list[list[str]] = []
    i, n = 0, len(text)
    while i < n:
        while i < n and text[i] not in "(":
            i += 1
        if i >= n:
            break
        i += 1  # past '('
        row: list[str] = []
        tok: list[str] = []
        depth = 0
        in_str = False
        while i < n:
            c = text[i]
            if in_str:
                if c == "\\" and i + 1 < n:
                    tok.append(c)
                    tok.append(text[i + 1])
                    i += 2
                    continue
                if c == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        tok.append("''")
                        i += 2
                        continue
                    in_str = False
                tok.append(c)
            elif c == "'":
                in_str = True
                tok.append(c)
            elif c == "(":
                depth += 1
                tok.append(c)
            elif c == ")" and depth > 0:
                depth -= 1
                tok.append(c)
            elif c == ")":
                row.append("".join(tok).strip())
                i += 1
                break
            elif c == "," and depth == 0:
                row.append("".join(tok).strip())
                tok = []
            else:
                tok.append(c)
            i += 1
        rows.append(row)
    return rows


def _parse_scalar(tok: str, dt: T.DataType):
    if tok.upper() in ("NULL", ""):
        return None
    if tok.startswith("'") and tok.endswith("'"):
        s = tok[1:-1].replace("''", "'")
        s = s.replace("\\'", "'").replace("\\\\", "\\")
        if isinstance(dt, T.BinaryType):
            return bytearray(s.encode("utf-8"))
        tok = s
    if isinstance(dt, T.StringType):
        return str(tok)
    if isinstance(dt, T.BooleanType):
        return tok.lower() in ("1", "true")
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(tok)
    if isinstance(dt, T.DateType):
        import datetime as _dt
        return _dt.date.fromisoformat(str(tok))
    if isinstance(dt, T.TimestampType):
        import datetime as _dt
        return _dt.datetime.fromisoformat(str(tok))
    return int(tok)


def read_values(spark: SparkSession, path: str,
                schema: T.StructType) -> DataFrame:
    """Values file source.  Tuple boundaries can span lines, so files
    ship whole through binaryFile and each executor tokenizes its blob."""
    schema = _schema(schema)
    names = [f.name for f in schema.fields]
    blobs = spark.read.format("binaryFile").load(path).select("content")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for blob in pdf["content"]:
                for toks in _split_values(bytes(blob).decode("utf-8")):
                    rows.append({f.name: _parse_scalar(t, f.dataType)
                                 for f, t in zip(schema.fields, toks)})
            yield pd.DataFrame(
                {c: [r.get(c) for r in rows] for c in names}, columns=names)

    return blobs.mapInPandas(batches, schema=schema)


def _parse_values_literal(s: str, i: int):
    """One Values literal starting at ``i``: string / number / NULL /
    [array] / {map} / (tuple).  Returns (python value, next index)."""
    n = len(s)
    while i < n and s[i] in " \t\n\r":
        i += 1
    c = s[i]
    if c == "'":
        out, i = [], i + 1
        while i < n:
            if s[i] == "\\" and i + 1 < n:
                out.append(s[i + 1])
                i += 2
            elif s[i] == "'":
                i += 1
                break
            else:
                out.append(s[i])
                i += 1
        return "".join(out), i
    if c in "[({":
        close = {"[": "]", "(": ")", "{": "}"}[c]
        items, keys = [], []
        i += 1
        while True:
            while i < n and s[i] in " \t\n\r":
                i += 1
            if i >= n or s[i] == close:
                i += 1
                break
            v, i = _parse_values_literal(s, i)
            while i < n and s[i] in " \t\n\r":
                i += 1
            if c == "{" and i < n and s[i] == ":":
                keys.append(v)
                v, i = _parse_values_literal(s, i + 1)
                while i < n and s[i] in " \t\n\r":
                    i += 1
            items.append(v)
            if i < n and s[i] == ",":
                i += 1
        if c == "{":
            return dict(zip(keys, items)), i
        return (tuple(items), i) if c == "(" else (items, i)
    m = re.match(r"(?i)NULL\b", s[i:])
    if m:
        return None, i + m.end()
    m = re.match(r"[-+]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?",
                 s[i:])
    if m:
        t = m.group(0)
        return ((float(t), i + m.end())
                if any(ch in t for ch in ".eE")
                else (int(t), i + m.end()))
    m = re.match(r"(?i)(true|false)\b", s[i:])
    if m:
        return m.group(1).lower() == "true", i + m.end()
    return None, i + 1


_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}$")
_DATETIME_RE = re.compile(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}$")
_DATETIME64_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}\.\d+$")


def _ch_unify(a: str, b: str) -> str:
    """CH schema-inference type unification (SchemaInferenceUtils
    transformInferredTypesIfNeeded): Nothing absorbs, Date widens to
    DateTime widens to DateTime64, numbers widen to Float64, any
    date-vs-string conflict decays to String."""
    if a == b:
        return a
    if a == "Nothing":
        return b
    if b == "Nothing":
        return a
    an = a[9:-1] if a.startswith("Nullable(") else None
    bn = b[9:-1] if b.startswith("Nullable(") else None
    if an is not None or bn is not None:
        return f"Nullable({_ch_unify(an or a, bn or b)})"
    if a.startswith("Array(") and b.startswith("Array("):
        return f"Array({_ch_unify(a[6:-1], b[6:-1])})"
    if a.startswith("Map(String, ") and b.startswith("Map(String, "):
        return f"Map(String, {_ch_unify(a[12:-1], b[12:-1])})"
    pair = {a, b}
    if pair == {"Date", "DateTime"}:
        return "DateTime"
    if pair <= {"Date", "DateTime", "DateTime64(9)"}:
        return "DateTime64(9)"
    if pair == {"Int64", "Float64"}:
        return "Float64"
    return "String"


def _ch_infer_type(v) -> str:
    """Bare (non-Nullable-wrapped) inferred CH type of one parsed
    Values literal (reference SchemaInferenceUtils with the default
    try_infer_dates/datetimes=1)."""
    if v is None:
        return "Nothing"
    if isinstance(v, bool):
        return "Bool"
    if isinstance(v, int):
        return "Int64"
    if isinstance(v, float):
        return "Float64"
    if isinstance(v, str):
        if _DATE_RE.fullmatch(v):
            return "Date"
        if _DATETIME_RE.fullmatch(v):
            return "DateTime"
        if _DATETIME64_RE.fullmatch(v):
            return "DateTime64(9)"
        return "String"
    if isinstance(v, list):
        ets = [_ch_infer_type(e) for e in v]
        t = "Nothing"
        for e in ets:
            t = _ch_unify(t, e)
        if t == "String" and any(
                e is not None and not isinstance(e, str) for e in v):
            # a number/bool mixed with strings cannot unify — the
            # reference infers a positional Tuple instead
            # (SchemaInferenceUtils; golden 02326)
            return ("Tuple(" + ", ".join(_nullable_wrap(x)
                                         for x in ets) + ")")
        return f"Array({_nullable_wrap(t)})"
    if isinstance(v, dict):
        t = "Nothing"
        for e in v.values():
            t = _ch_unify(t, _ch_infer_type(e))
        return f"Map(String, {_nullable_wrap(t)})"
    if isinstance(v, tuple):
        inner = ", ".join(_nullable_wrap(_ch_infer_type(e)) for e in v)
        return f"Tuple({inner})"
    return "String"


def _nullable_wrap(t: str) -> str:
    if t.startswith(("Array(", "Map(", "Tuple(", "Object(",
                     "Nullable(")):
        return t
    return f"Nullable({'String' if t == 'Nothing' else t})"


def infer_values_schema(data: str) -> list[tuple[str, str]]:
    """Schema inference over inline Values text (reference
    src/Processors/Formats/Impl/ValuesBlockInputFormat.cpp +
    SchemaInferenceUtils; golden 02325_dates_schema_inference):
    columns are named c1..cN, per-column types unify across rows, and
    scalars wrap in Nullable."""
    rows = []
    i, n = 0, len(data)
    while i < n:
        if data[i] == "(":
            row, i = _parse_values_literal(data, i)
            rows.append(row if isinstance(row, tuple) else (row,))
        else:
            i += 1
    ncols = max((len(r) for r in rows), default=0)
    out = []
    for ci in range(ncols):
        t = "Nothing"
        for r in rows:
            if ci < len(r):
                t = _ch_unify(t, _ch_infer_type(r[ci]))
        out.append((f"c{ci + 1}", _nullable_wrap(t)))
    return out


def format_values(rows: list[dict], schema: T.StructType) -> str:
    """Render rows in Values format (test fixtures / INSERT bodies)."""
    parts = []
    for r in rows:
        toks = []
        for f in schema.fields:
            v = r.get(f.name)
            if v is None:
                toks.append("NULL")
            elif isinstance(f.dataType, (T.StringType, T.DateType,
                                         T.TimestampType)):
                toks.append("'" + str(v).replace("'", "''") + "'")
            elif isinstance(f.dataType, T.BooleanType):
                toks.append("1" if v else "0")
            else:
                toks.append(str(v))
        parts.append("(" + ", ".join(toks) + ")")
    return ", ".join(parts)


# ------------------------------------------------------------------- Npy

_NPY_DTYPES = {
    "int8": T.ByteType(), "int16": T.ShortType(), "int32": T.IntegerType(),
    "int64": T.LongType(), "uint8": T.ShortType(), "uint16": T.IntegerType(),
    "uint32": T.LongType(), "float32": T.FloatType(),
    "float64": T.DoubleType(), "bool": T.BooleanType(),
}


def read_npy(spark: SparkSession, path: str,
             column: str = "array") -> DataFrame:
    """Npy input format (reference
    src/Processors/Formats/Impl/NpyRowInputFormat.cpp): one .npy file →
    one column; 1-D arrays give scalar rows, 2-D arrays give
    array-typed rows (one per outer row).  Blobs ship via binaryFile
    and numpy parses executor-side — one task per file, the same
    distribution contract as the other binary formats.  String dtypes
    (<U/S) map to StringType."""
    import glob as _glob
    import io as _io
    import os as _os

    import numpy as np

    # schema from one file's header (driver reads the 128-byte header
    # region only in spirit; np.load of the first file is metadata-cheap
    # for schema inference on the small leading file)
    pattern = _os.path.join(path, "*") if _os.path.isdir(path) else path
    candidates = sorted(_glob.glob(pattern)) or [path]
    first = np.load(candidates[0], allow_pickle=False)
    kind = first.dtype.kind
    if kind in ("U", "S"):
        base: T.DataType = T.StringType()
    else:
        base = _NPY_DTYPES.get(first.dtype.name)
        if base is None:
            raise NotImplementedError(
                f"Npy dtype {first.dtype} not mapped")
    if first.ndim == 1:
        out_type: T.DataType = base
    elif first.ndim == 2:
        out_type = T.ArrayType(base)
    else:
        raise NotImplementedError(
            f"Npy ndim {first.ndim} (reference supports 1-D and "
            f"fixed-shape nested)")
    schema = T.StructType([T.StructField(column, out_type, True)])

    blobs = spark.read.format("binaryFile").load(path).select("content")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vals: list = []
            for blob in pdf["content"]:
                arr = np.load(_io.BytesIO(bytes(blob)), allow_pickle=False)
                if arr.dtype.kind in ("U", "S"):
                    arr = arr.astype(str)
                if arr.ndim == 1:
                    vals.extend(arr.tolist())
                else:
                    vals.extend([row.tolist() for row in arr])
            yield pd.DataFrame({column: vals}, columns=[column])

    return blobs.mapInPandas(batches, schema=schema)


def write_npy(df: DataFrame, path: str, column: str | None = None) -> None:
    """Npy output: one .npy file per partition (executor-local numpy
    save — the partitioned-sink analog of the reference's single-column
    NpyOutputFormat)."""
    import io as _io
    import os as _os

    import numpy as np

    col = column or df.columns[0]
    _os.makedirs(path, exist_ok=True)

    def _save(it):
        import socket
        import uuid as _uuid
        rows = [r[0] for batch in it for r in batch.itertuples(index=False)]
        if rows:
            buf = _io.BytesIO()
            np.save(buf, np.asarray(rows), allow_pickle=False)
            fname = _os.path.join(path, f"part-{_uuid.uuid4().hex}.npy")
            with open(fname, "wb") as fh:
                fh.write(buf.getvalue())
        yield pd.DataFrame({"n": [len(rows)]})

    (df.select(col).mapInPandas(_save, "n long")).collect()


# ---------------------------------------------------------- CustomSeparated

def read_custom_separated(spark: SparkSession, path: str,
                          schema: T.StructType | None = None,
                          field_delimiter: str = "\t",
                          with_names: bool = False, **extra) -> DataFrame:
    """CustomSeparated: csv reader with remapped delimiters (the
    reference's format_custom_* settings reduce to reader options for
    the row-per-line case)."""
    reader = (spark.read.format("csv")
              .option("sep", field_delimiter)
              .option("header", "true" if with_names else "false")
              .options(**extra))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def object_type_tree(vals):
    """Typed tree of the row-union named tuple an ``Object('json')``
    column finalizes to (reference DataTypeObject unification —
    subcolumn paths union across rows, sorted; goldens
    01825_type_json*).  Nodes: ``("struct", [(name, node), ...])``,
    ``("array", node)``, ``("scalar", spark_ddl, ch_name,
    nullable)`` — ``nullable`` records whether an explicit JSON null
    was seen at the path (Nullable in the reference; paths merely
    MISSING from other rows default-fill instead).  ``vals`` are the
    column's raw JSON strings; None when nothing parseable."""
    import json as _json

    parsed = []
    for s in vals:
        if not s:
            continue
        try:
            v = _json.loads(s)
        except Exception:
            continue
        if isinstance(v, dict) and v:
            parsed.append(v)
    if not parsed:
        return None

    def node_of(vs):
        xs = [v for v in vs if v is not None]
        nullable = len(xs) != len(vs)
        if not xs:
            return ("scalar", "STRING", "String", True)
        if all(isinstance(v, dict) for v in xs):
            keys = sorted({k for v in xs for k in v})
            if not keys:
                return ("scalar", "STRING", "String", nullable)
            return ("struct", [
                (k, node_of([v[k] for v in xs if k in v]))
                for k in keys])
        if all(isinstance(v, list) for v in xs):
            return ("array",
                    node_of([e for v in xs for e in v]))
        if all(isinstance(v, bool) for v in xs):
            # bools PARSE as BOOLEAN and store as UInt8 1/0
            # (FieldToDataType; golden 01825_type_json_bools (1,0)
            # Tuple(k1 UInt8, ...)) — the finalizer casts
            return ("scalar", "BOOLEAN", "UInt8", nullable)
        if all(isinstance(v, int) and not isinstance(v, bool)
               for v in xs):
            # the SMALLEST int width that fits every value
            # (least-supertype; golden 01825_type_json_18 Int8)
            lo, hi = min(xs), max(xs)
            for bound, ddl, ch in ((127, "TINYINT", "Int8"),
                                   (32767, "SMALLINT", "Int16"),
                                   (2147483647, "INT", "Int32")):
                if -bound - 1 <= lo and hi <= bound:
                    return ("scalar", ddl, ch, nullable)
            return ("scalar", "BIGINT", "Int64", nullable)
        if all(isinstance(v, (int, float))
               and not isinstance(v, bool) for v in xs):
            return ("scalar", "DOUBLE", "Float64", nullable)
        # mixed-type paths decay to String; a path that was NUMERIC
        # in earlier rows migrated its stored default '0' (golden
        # 01825_type_json_2 (1,2,'0'))
        dflt = ("0" if any(isinstance(v, (int, float))
                           and not isinstance(v, bool) for v in xs)
                else "")
        return ("scalar", "STRING", "String", nullable, dflt)

    return node_of(parsed)


def object_tree_ddl(node) -> str:
    """Spark DDL of a :func:`object_type_tree` node."""
    kind = node[0]
    if kind == "struct":
        return ("STRUCT<" + ",".join(
            f"`{k}`:{object_tree_ddl(s)}" for k, s in node[1]) + ">")
    if kind == "array":
        return f"ARRAY<{object_tree_ddl(node[1])}>"
    return node[1]


def object_tree_ch_name(node, indent: int = 4,
                        force_nullable: bool = False) -> str:
    """Reference NAME of a :func:`object_type_tree` node
    (DataTypeTuple getName — named tuples multi-line, 4-space
    nesting; Nullable wraps paths that held explicit nulls, or
    EVERY leaf for Object(Nullable('json')) columns)."""
    kind = node[0]
    if kind == "struct":
        parts = []
        for k, s in node[1]:
            kq = k if re.fullmatch(r"\w+", k) else f"`{k}`"
            parts.append(f"\n{' ' * indent}{kq} "
                         f"{object_tree_ch_name(s, indent + 4, force_nullable)}")
        return "Tuple(" + ",".join(parts) + ")"
    if kind == "array":
        inner = node[1]
        if inner[0] == "struct":
            # array-of-named-tuple inside an Object renders as the
            # flattened Nested(...) form, single-line
            # (golden 01825_type_json_2)
            parts = ", ".join(
                f"{k} {_flat_ch_name(s, force_nullable)}"
                for k, s in inner[1])
            return f"Nested({parts})"
        return f"Array({object_tree_ch_name(inner, indent, force_nullable)})"
    ch = node[2]
    return f"Nullable({ch})" if (node[3] or force_nullable) else ch


def _flat_ch_name(node, force_nullable: bool = False) -> str:
    """Single-line reference name (used inside Nested(...) renders)."""
    kind = node[0]
    if kind == "struct":
        parts = ", ".join(f"{k} {_flat_ch_name(s, force_nullable)}"
                          for k, s in node[1])
        return f"Tuple({parts})"
    if kind == "array":
        if node[1][0] == "struct":
            parts = ", ".join(
                f"{k} {_flat_ch_name(s, force_nullable)}"
                for k, s in node[1][1])
            return f"Nested({parts})"
        return f"Array({_flat_ch_name(node[1], force_nullable)})"
    ch = node[2]
    return f"Nullable({ch})" if (node[3] or force_nullable) else ch
