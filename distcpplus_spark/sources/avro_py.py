"""Avro Object Container Files in pure Python — no avro/fastavro/
spark-avro dependency.

The environment ships neither the spark-avro datasource jar nor a
Python avro library, so this module implements the public Avro 1.x
specification (binary encoding + object container file format:
https://avro.apache.org/docs/current/specification/) directly:
zigzag-varint ints/longs, little-endian floats, length-prefixed
strings/bytes, tagged unions, block-encoded arrays/maps, and the
container framing (magic ``Obj\\x01``, metadata map carrying
``avro.schema`` JSON + ``avro.codec``, 16-byte sync marker, counted
blocks, null/deflate codecs — deflate is raw zlib, wbits=-15).

Spark integration keeps the distributed plan identical to what the
JVM datasource would produce:

- **read**: the driver reads ONE file header (a few KB) to learn the
  writer schema — exactly what spark-avro does at planning time —
  then a ``binaryFile`` scan feeds whole files to executors where
  ``mapInPandas`` decodes blocks. Per-file parallelism is the unit
  (binaryFile yields one row per file); the block-per-sync-marker
  split the JVM source adds for giant files is documented as the
  scale path and avro files are normally written at O(100 MB) anyway.
- **write**: each partition encodes and writes its own ``part-*``
  container file from the executor — no driver collect of data, only
  a one-row-per-partition summary.

Pure-Python per-row coding is the honest cost of a jar-less
container; it is confined to executors and swaps out for the JVM
datasource wholesale when the package is available (sources/
formats.py read_avro/write_avro keep that gate).
"""

from __future__ import annotations

import io
import json
import struct
import zlib

MAGIC = b"Obj\x01"

# ------------------------------------------------------------ primitives


def _zigzag(n: int) -> int:
    return (n << 1) if n >= 0 else ((-n) << 1) - 1


def _write_varlong(out, n: int) -> None:
    """zigzag + varint (spec: int and long share this encoding)."""
    z = _zigzag(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def _read_varlong(buf) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def _write_bytes(out, b: bytes) -> None:
    _write_varlong(out, len(b))
    out.write(b)


def _read_bytes(buf) -> bytes:
    n = _read_varlong(buf)
    return buf.read(n)


# ------------------------------------------------------------ schema


def spark_schema_to_avro(schema, name: str = "topLevelRecord") -> dict:
    """Spark StructType → Avro record schema (same shape the JVM
    spark-avro converter emits: nullable fields become
    ``["null", T]`` unions, timestamps become long/timestamp-micros,
    dates int/date)."""
    from pyspark.sql import types as T

    def conv(dt, nullable, field_name):
        if isinstance(dt, T.StructType):
            a = {
                "type": "record",
                "name": field_name + "_rec",
                "fields": [
                    {
                        "name": f.name,
                        "type": conv(f.dataType, f.nullable, f.name),
                    }
                    for f in dt.fields
                ],
            }
        elif isinstance(dt, T.ArrayType):
            a = {
                "type": "array",
                "items": conv(dt.elementType, dt.containsNull, field_name),
            }
        elif isinstance(dt, T.MapType):
            a = {
                "type": "map",
                "values": conv(dt.valueType, dt.valueContainsNull, field_name),
            }
        elif isinstance(dt, (T.LongType,)):
            a = "long"
        elif isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            a = "int"
        elif isinstance(dt, T.DoubleType):
            a = "double"
        elif isinstance(dt, T.FloatType):
            a = "float"
        elif isinstance(dt, T.BooleanType):
            a = "boolean"
        elif isinstance(dt, T.StringType):
            a = "string"
        elif isinstance(dt, T.BinaryType):
            a = "bytes"
        elif isinstance(dt, T.TimestampType):
            a = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(dt, T.DateType):
            a = {"type": "int", "logicalType": "date"}
        else:
            raise ValueError(f"unsupported Spark type for Avro: {dt}")
        return ["null", a] if nullable else a

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": conv(f.dataType, f.nullable, f.name)}
            for f in schema.fields
        ],
    }


def avro_schema_to_spark_ddl(avro_schema: dict) -> str:
    """Avro record schema → Spark DDL string for createDataFrame /
    mapInPandas output typing."""

    def conv(a) -> tuple[str, bool]:
        if isinstance(a, list):  # union
            branches = [b for b in a if b != "null"]
            if len(branches) != 1:
                raise ValueError(f"unsupported union {a}")
            ddl, _ = conv(branches[0])
            return ddl, True
        if isinstance(a, dict):
            t = a["type"]
            if t == "record":
                inner = ", ".join(
                    f"{f['name']}: {conv(f['type'])[0]}" for f in a["fields"]
                )
                return f"struct<{inner}>", False
            if t == "array":
                return f"array<{conv(a['items'])[0]}>", False
            if t == "map":
                return f"map<string,{conv(a['values'])[0]}>", False
            if a.get("logicalType") == "timestamp-micros":
                return "timestamp", False
            if a.get("logicalType") == "date":
                return "date", False
            if t in ("enum",):
                return "string", False
            if t in ("fixed",):
                return "binary", False
            return conv(t)
        return {
            "long": "bigint",
            "int": "int",
            "double": "double",
            "float": "float",
            "boolean": "boolean",
            "string": "string",
            "bytes": "binary",
        }[a], False

    cols = []
    for f in avro_schema["fields"]:
        ddl, _ = conv(f["type"])
        cols.append(f"{f['name']} {ddl}")
    return ", ".join(cols)


# ------------------------------------------------------------ encode


def _encoder_for(a):
    """Compile an Avro schema node into an encode(out, value) fn."""
    if isinstance(a, list):  # union — resolve branch by value
        encs = [( _encoder_for(b), b) for b in a]

        def enc_union(out, v):
            if v is None:
                for i, (_, b) in enumerate(encs):
                    if b == "null":
                        _write_varlong(out, i)
                        return
                raise ValueError("null for non-nullable union")
            for i, (e, b) in enumerate(encs):
                if b != "null":
                    _write_varlong(out, i)
                    e(out, v)
                    return
            raise ValueError("no non-null branch")

        return enc_union
    if isinstance(a, dict):
        t = a["type"]
        if t == "record":
            fencs = [_encoder_for(f["type"]) for f in a["fields"]]
            fnames = [f["name"] for f in a["fields"]]

            def enc_record(out, v):
                for name, e in zip(fnames, fencs):
                    e(out, v[name] if isinstance(v, dict) else getattr(v, name))

            return enc_record
        if t == "array":
            ie = _encoder_for(a["items"])

            def enc_array(out, v):
                v = list(v)
                if v:
                    _write_varlong(out, len(v))
                    for item in v:
                        ie(out, item)
                _write_varlong(out, 0)

            return enc_array
        if t == "map":
            ve = _encoder_for(a["values"])

            def enc_map(out, v):
                items = list(v.items())
                if items:
                    _write_varlong(out, len(items))
                    for k, val in items:
                        _write_bytes(out, str(k).encode("utf-8"))
                        ve(out, val)
                _write_varlong(out, 0)

            return enc_map
        if a.get("logicalType") == "timestamp-micros":
            def enc_ts(out, v):
                import pandas as pd

                if isinstance(v, pd.Timestamp):
                    _write_varlong(out, v.value // 1000)
                else:  # datetime
                    import calendar

                    micros = (
                        calendar.timegm(v.utctimetuple()) * 1_000_000
                        + v.microsecond
                    )
                    _write_varlong(out, micros)

            return enc_ts
        if a.get("logicalType") == "date":
            def enc_date(out, v):
                import datetime

                _write_varlong(out, (v - datetime.date(1970, 1, 1)).days)

            return enc_date
        return _encoder_for(t)
    if a == "long" or a == "int":
        return lambda out, v: _write_varlong(out, int(v))
    if a == "double":
        return lambda out, v: out.write(struct.pack("<d", float(v)))
    if a == "float":
        return lambda out, v: out.write(struct.pack("<f", float(v)))
    if a == "boolean":
        return lambda out, v: out.write(b"\x01" if v else b"\x00")
    if a == "string":
        return lambda out, v: _write_bytes(out, str(v).encode("utf-8"))
    if a == "bytes":
        return lambda out, v: _write_bytes(out, bytes(v))
    if a == "null":
        return lambda out, v: None
    raise ValueError(f"unsupported Avro type {a!r}")


# ------------------------------------------------------------ decode


def _decoder_for(a):
    """Compile an Avro schema node into a decode(buf) -> value fn."""
    if isinstance(a, list):
        decs = [_decoder_for(b) for b in a]

        def dec_union(buf):
            return decs[_read_varlong(buf)](buf)

        return dec_union
    if isinstance(a, dict):
        t = a["type"]
        if t == "record":
            fdecs = [(f["name"], _decoder_for(f["type"])) for f in a["fields"]]

            def dec_record(buf):
                return {name: d(buf) for name, d in fdecs}

            return dec_record
        if t == "array":
            idec = _decoder_for(a["items"])

            def dec_array(buf):
                out = []
                while True:
                    n = _read_varlong(buf)
                    if n == 0:
                        return out
                    if n < 0:  # block with byte size prefix
                        n = -n
                        _read_varlong(buf)
                    for _ in range(n):
                        out.append(idec(buf))

            return dec_array
        if t == "map":
            vdec = _decoder_for(a["values"])

            def dec_map(buf):
                out = {}
                while True:
                    n = _read_varlong(buf)
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        _read_varlong(buf)
                    for _ in range(n):
                        k = _read_bytes(buf).decode("utf-8")
                        out[k] = vdec(buf)

            return dec_map
        if a.get("logicalType") == "timestamp-micros":
            def dec_ts(buf):
                import datetime

                micros = _read_varlong(buf)
                # tz-naive on purpose: sessions pin UTC, and naive
                # values convert cleanly through Arrow to TIMESTAMP
                return datetime.datetime(1970, 1, 1) + datetime.timedelta(
                    microseconds=micros
                )

            return dec_ts
        if a.get("logicalType") == "date":
            def dec_date(buf):
                import datetime

                return datetime.date(1970, 1, 1) + datetime.timedelta(
                    days=_read_varlong(buf)
                )

            return dec_date
        if t == "enum":
            symbols = a["symbols"]
            return lambda buf: symbols[_read_varlong(buf)]
        if t == "fixed":
            size = a["size"]
            return lambda buf: buf.read(size)
        return _decoder_for(t)
    if a == "long" or a == "int":
        return _read_varlong
    if a == "double":
        return lambda buf: struct.unpack("<d", buf.read(8))[0]
    if a == "float":
        return lambda buf: struct.unpack("<f", buf.read(4))[0]
    if a == "boolean":
        return lambda buf: buf.read(1) == b"\x01"
    if a == "string":
        return lambda buf: _read_bytes(buf).decode("utf-8")
    if a == "bytes":
        return lambda buf: _read_bytes(buf)
    if a == "null":
        return lambda buf: None
    raise ValueError(f"unsupported Avro type {a!r}")


# ------------------------------------------------------------ container


def write_container(
    records,
    avro_schema: dict,
    codec: str = "deflate",
    sync_marker: bytes | None = None,
    block_rows: int = 1000,
) -> bytes:
    """Serialize records (dicts keyed by field name) into a complete
    Avro Object Container File (returned as bytes)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    if sync_marker is None:
        # deterministic marker derived from the schema (no RNG — the
        # driver re-runs queries for stability hashing)
        import hashlib

        sync_marker = hashlib.md5(
            json.dumps(avro_schema, sort_keys=True).encode()
        ).digest()
    enc = _encoder_for(avro_schema)
    out = io.BytesIO()
    out.write(MAGIC)
    # file metadata map<bytes>
    meta = {
        "avro.schema": json.dumps(avro_schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _write_varlong(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode("utf-8"))
        _write_bytes(out, v)
    _write_varlong(out, 0)
    out.write(sync_marker)
    batch = []

    def flush():
        if not batch:
            return
        body = io.BytesIO()
        for rec in batch:
            enc(body, rec)
        data = body.getvalue()
        if codec == "deflate":
            data = zlib.compress(data)[2:-4]  # raw deflate per spec
        _write_varlong(out, len(batch))
        _write_varlong(out, len(data))
        out.write(data)
        out.write(sync_marker)
        batch.clear()

    for rec in records:
        batch.append(rec)
        if len(batch) >= block_rows:
            flush()
    flush()
    return out.getvalue()


def read_header(content: bytes) -> tuple[dict, str, bytes, int]:
    """Parse a container header → (schema, codec, sync_marker,
    first_block_offset)."""
    if content[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    buf = io.BytesIO(content)
    buf.read(4)
    meta = {}
    while True:
        n = _read_varlong(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_varlong(buf)
        for _ in range(n):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = buf.read(16)
    return schema, codec, sync, buf.tell()


def read_container(content: bytes):
    """Decode a full container file → (schema, list of record dicts)."""
    schema, codec, sync, pos = read_header(content)
    dec = _decoder_for(schema)
    buf = io.BytesIO(content)
    buf.seek(pos)
    records = []
    n_total = len(content)
    while buf.tell() < n_total:
        n_rows = _read_varlong(buf)
        n_bytes = _read_varlong(buf)
        data = buf.read(n_bytes)
        if codec == "deflate":
            data = zlib.decompress(data, wbits=-15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        block = io.BytesIO(data)
        for _ in range(n_rows):
            records.append(dec(block))
        marker = buf.read(16)
        if marker != sync:
            raise ValueError("sync marker mismatch (corrupt block?)")
    return schema, records


# ------------------------------------------------------------ Spark


def read_avro_py(spark, path: str):
    """Distributed Avro read without the JVM datasource: driver sniffs
    ONE header for the schema (same planning-time move spark-avro
    makes), then binaryFile + mapInPandas decode whole files on
    executors."""
    import glob as _glob
    import os

    cands = sorted(
        _glob.glob(os.path.join(path, "**", "*.avro"), recursive=True)
    ) or ([path] if os.path.isfile(path) else [])
    if not cands:
        raise FileNotFoundError(f"no .avro files under {path}")
    with open(cands[0], "rb") as fh:
        head = fh.read(1 << 20)
    avro_schema, _, _, _ = read_header(head)
    ddl = avro_schema_to_spark_ddl(avro_schema)

    def decode_files(batches):
        import pandas as pd

        cols = [f["name"] for f in avro_schema["fields"]]
        for pdf in batches:
            for content in pdf["content"]:
                _, recs = read_container(bytes(content))
                # column-wise OBJECT series: pd.DataFrame(list-of-rows)
                # promotes an int column to float64 when any record
                # holds null (nullable unions are the Avro norm),
                # silently corrupting longs above 2^53; object columns
                # hand Arrow exact Python ints (multimodal._typed_pdf
                # bug class, round 8)
                yield pd.DataFrame(
                    {
                        c: pd.Series([r[c] for r in recs], dtype=object)
                        for c in cols
                    }
                )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )
    return files.mapInPandas(decode_files, ddl)


def write_avro_py(df, path: str, codec: str = "deflate") -> int:
    """Distributed Avro write: each partition encodes + writes its own
    container file from the executor. Returns total rows written.
    Only a one-row-per-partition summary ever reaches the driver."""
    import os

    os.makedirs(path, exist_ok=True)
    avro_schema = spark_schema_to_avro(df.schema)
    cols = [f.name for f in df.schema.fields]

    def write_partition(batches):
        # mapInArrow, NOT mapInPandas: the Arrow->pandas input
        # conversion renders a nullable bigint column as float64,
        # corrupting longs above 2^53 before they reach the encoder
        # (the round-8 _typed_pdf bug class, on the INPUT side).
        # RecordBatch.to_pylist-style access hands the encoder exact
        # Python ints, None for nulls, datetime for timestamps.
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows_written = 0
        records = []
        for batch in batches:
            cols_data = [
                batch.column(i).to_pylist()
                for i in range(batch.num_columns)
            ]
            for vals in zip(*cols_data):
                records.append(dict(zip(cols, vals)))
        if records:
            content = write_container(records, avro_schema, codec=codec)
            part = os.path.join(path, f"part-{pid:05d}.avro")
            tmp = part + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(content)
            os.replace(tmp, part)  # tmp+rename: readers never see partials
            rows_written = len(records)
        yield pa.RecordBatch.from_pydict(
            {"pid": [pid], "rows": [rows_written]},
            schema=pa.schema(
                [("pid", pa.int32()), ("rows", pa.int64())]
            ),
        )

    summary = df.mapInArrow(write_partition, "pid int, rows long").collect()
    return sum(r["rows"] for r in summary)
