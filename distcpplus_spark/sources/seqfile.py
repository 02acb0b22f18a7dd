"""Hadoop SequenceFile source/sink, hand-rolled from the public
on-disk format (Apache Hadoop ``SequenceFile`` / ``WritableUtils``
spec; no Hadoop classes involved):

    header:  b"SEQ" + version(=6)
             keyClassName, valueClassName   (VInt length + UTF-8)
             compression(=0), blockCompression(=0)   (boolean bytes)
             metadata count (4-byte BE) + (Text key, Text value) pairs
             sync marker (16 bytes, unique per file)
    record:  recordLength (4-byte BE: len(key bytes)+len(value bytes))
             keyLength    (4-byte BE)
             key bytes, value bytes
    every ~sync_interval bytes the writer emits the SYNC ESCAPE:
             0xFFFFFFFF + the file's 16-byte sync marker

Writables implemented: LongWritable (8-byte BE two's complement) and
Text (Hadoop VInt length + UTF-8). VInt encoding (WritableUtils):
values in [-112, 127] are one raw byte; otherwise a prefix byte
(-113..-120 positive, -121..-128 negative, encoding the byte count)
followed by the big-endian magnitude bytes (ones' complement for
negatives).

Why this format matters here: it is the REFERENCE ecosystem's native
container (the reference engine is Hadoop MapReduce —
turn/DistCPPlus treats SequenceFiles as opaque bytes when copying;
this engine can actually read them), and the sync-marker design is
the original SPLITTABLE-file trick this repo re-uses for WARC/gzip:
a byte-range task seeks to the first sync after its start offset and
reads to the first sync after its end — no central index needed.

Scale: reading is file-per-task or sync-split byte ranges (hundreds
of tasks per large file); writing is shard-per-partition with the
tmp+rename commit protocol.
"""

from __future__ import annotations

import os
import struct
import uuid

SYNC_ESCAPE = b"\xff\xff\xff\xff"
_MAGIC = b"SEQ\x06"
KEY_CLASS = "org.apache.hadoop.io.LongWritable"
VALUE_CLASS = "org.apache.hadoop.io.Text"


def write_vint(i: int) -> bytes:
    """Hadoop WritableUtils.writeVLong."""
    if -112 <= i <= 127:
        return struct.pack("b", i)
    neg = i < 0
    mag = ~i if neg else i
    nbytes = (mag.bit_length() + 7) // 8
    prefix = (-120 if neg else -112) - nbytes
    return struct.pack("b", prefix) + mag.to_bytes(nbytes, "big")


def read_vint(buf: bytes, pos: int) -> tuple[int, int]:
    first = struct.unpack_from("b", buf, pos)[0]
    pos += 1
    if first >= -112:
        return first, pos
    neg = first < -120
    nbytes = (-120 - first) if neg else (-112 - first)
    mag = int.from_bytes(buf[pos : pos + nbytes], "big")
    pos += nbytes
    return (~mag if neg else mag), pos


def _text(s: str) -> bytes:
    b = s.encode("utf-8")
    return write_vint(len(b)) + b


def _read_text(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = read_vint(buf, pos)
    return buf[pos : pos + n].decode("utf-8"), pos + n


CODEC_CLASS = "org.apache.hadoop.io.compress.DefaultCodec"  # zlib


def _header(
    sync: bytes, compression: bool = False, block: bool = False
) -> bytes:
    out = [
        _MAGIC,
        _text(KEY_CLASS),
        _text(VALUE_CLASS),
        b"\x01" if compression else b"\x00",  # compression
        b"\x01" if block else b"\x00",  # block compression
    ]
    if compression:
        # codec class name present only when compressed (spec layout)
        out.append(_text(CODEC_CLASS))
    out += [
        struct.pack(">i", 0),  # metadata pairs
        sync,
    ]
    return b"".join(out)


def _record(doc_id: int, text: str) -> bytes:
    key = struct.pack(">q", doc_id)
    val = _text(text)
    return (
        struct.pack(">i", len(key) + len(val))
        + struct.pack(">i", len(key))
        + key
        + val
    )


def write_seqfile(
    rows, path: str, sync_interval: int = 2000,
    compression: str | None = None,
) -> int:
    """Write (long, str) rows as one SequenceFile with a sync marker
    roughly every ``sync_interval`` bytes; returns rows written.
    Atomic: tmp + rename.

    compression=None: uncompressed records (the original mode).
    compression='record': each record's serialized value is
      zlib-deflated (DefaultCodec), keys stay plain — the Hadoop
      RecordCompressWriter layout.
    compression='block': records buffer until ~sync_interval
      uncompressed bytes, then flush as ONE sync-anchored block of
      four zlib buffers (key-lengths, keys, value-lengths, values) —
      the BlockCompressWriter layout, the canonical SPLITTABLE
      compressed container (each block decompresses alone; splits
      own blocks by sync anchor exactly like the plain mode)."""
    import zlib

    if compression not in (None, "record", "block"):
        raise ValueError(f"unknown compression mode: {compression}")
    sync = uuid.uuid4().bytes
    tmp = path + ".tmp"
    n = 0
    with open(tmp, "wb") as f:
        f.write(
            _header(
                sync,
                compression=compression is not None,
                block=compression == "block",
            )
        )
        if compression == "block":
            keys: list[bytes] = []
            vals: list[bytes] = []
            pending = 0

            def flush():
                nonlocal pending
                if not keys:
                    return
                klens = b"".join(write_vint(len(k)) for k in keys)
                vlens = b"".join(write_vint(len(v)) for v in vals)
                f.write(SYNC_ESCAPE + sync)
                f.write(write_vint(len(keys)))
                for buf in (
                    zlib.compress(klens),
                    zlib.compress(b"".join(keys)),
                    zlib.compress(vlens),
                    zlib.compress(b"".join(vals)),
                ):
                    f.write(write_vint(len(buf)) + buf)
                keys.clear()
                vals.clear()
                pending = 0

            for doc_id, text in rows:
                keys.append(struct.pack(">q", doc_id))
                vals.append(_text(text))
                pending += 8 + len(vals[-1])
                n += 1
                if pending >= sync_interval:
                    flush()
            flush()
        else:
            since_sync = 0
            for doc_id, text in rows:
                if compression == "record":
                    key = struct.pack(">q", doc_id)
                    cval = zlib.compress(_text(text))
                    rec = (
                        struct.pack(">i", len(key) + len(cval))
                        + struct.pack(">i", len(key))
                        + key
                        + cval
                    )
                else:
                    rec = _record(doc_id, text)
                if since_sync >= sync_interval:
                    f.write(SYNC_ESCAPE + sync)
                    since_sync = 0
                f.write(rec)
                since_sync += len(rec)
                n += 1
    os.replace(tmp, path)
    return n


def read_seqfile_header(buf: bytes) -> tuple[bytes, int, str]:
    """Validate the header; returns (sync marker, payload offset,
    mode) with mode in {'plain', 'record', 'block'}. Compressed modes
    require DefaultCodec (zlib) — the Hadoop default; other codecs
    raise explicitly."""
    if buf[:4] != _MAGIC:
        raise ValueError("not a SequenceFile v6 (bad magic)")
    pos = 4
    kc, pos = _read_text(buf, pos)
    vc, pos = _read_text(buf, pos)
    if kc != KEY_CLASS or vc != VALUE_CLASS:
        raise ValueError(f"unsupported writables: {kc} / {vc}")
    compressed = buf[pos] != 0
    block = buf[pos + 1] != 0
    pos += 2
    mode = "plain"
    if compressed:
        codec, pos = _read_text(buf, pos)
        if codec != CODEC_CLASS:
            raise ValueError(f"unsupported codec: {codec}")
        mode = "block" if block else "record"
    elif block:
        raise ValueError("blockCompression without compression flag")
    (nmeta,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    for _ in range(nmeta):
        _, pos = _read_text(buf, pos)
        _, pos = _read_text(buf, pos)
    sync = buf[pos : pos + 16]
    return sync, pos + 16, mode


_CHUNK = 1 << 20
_HEADER_CAP = 1 << 16  # class names + small metadata; plenty


def _read_header_file(f) -> tuple[bytes, int, str]:
    """Header read bounded to the first 64 KiB — never the whole
    file. Files with metadata blocks larger than that are rejected
    explicitly rather than mis-parsed."""
    f.seek(0)
    buf = f.read(_HEADER_CAP)
    try:
        return read_seqfile_header(buf)
    except struct.error as exc:  # ran past the bounded prefix
        raise ValueError(
            f"SequenceFile header exceeds {_HEADER_CAP} bytes"
        ) from exc


def _find_sync(f, marker: bytes, start: int, end: int) -> int | None:
    """Absolute offset of the first sync escape at offset >= start
    whose anchor is < end, scanning forward in bounded chunks (a
    19-byte tail is kept across chunks so a straddling marker is
    still found). Returns None when this split owns no block."""
    f.seek(start)
    abs0 = start  # absolute offset of buf[0]
    buf = b""
    while True:
        chunk = f.read(_CHUNK)
        if not chunk:
            return None
        buf += chunk
        hit = buf.find(marker)
        if hit != -1:
            pos = abs0 + hit
            return pos if pos < end else None
        if len(buf) > len(marker) - 1:
            abs0 += len(buf) - (len(marker) - 1)
            buf = buf[-(len(marker) - 1):]
        if abs0 >= end:  # any later hit would anchor past end
            return None


def _iter_blocks_stream(f, sync: bytes, pos: int, end: int):
    """Block-compressed mode: yield (doc_id, text) from the sync
    anchor at absolute offset ``pos`` through the last block anchored
    before ``end``. Each block = SYNC + VInt record count + four
    VInt-length-prefixed zlib buffers (key-lengths, keys,
    value-lengths, values) — the Hadoop BlockCompressWriter layout.
    Streaming: reads one block at a time, never the whole file."""
    import zlib

    f.seek(pos)
    buf = b""
    base = pos
    off = 0

    def ensure(n: int) -> bool:
        nonlocal buf, base, off
        if off + n <= len(buf):
            return True
        buf = buf[off:]
        base += off
        off = 0
        while len(buf) < n:
            chunk = f.read(max(_CHUNK, n - len(buf)))
            if not chunk:
                return False
            buf += chunk
        return True

    def take_vint() -> int:
        nonlocal off
        if not ensure(1):
            raise ValueError("truncated vint")
        first = struct.unpack_from("b", buf, off)[0]
        if first >= -112:
            off += 1
            return first
        nbytes = (-120 - first) if first < -120 else (-112 - first)
        if not ensure(1 + nbytes):
            raise ValueError("truncated vint")
        v, newpos = read_vint(buf, off)
        off = newpos
        return v

    while True:
        anchor = base + off
        if anchor >= end:
            return
        if not ensure(20):
            if len(buf) - off:
                raise ValueError(f"truncated sync at {anchor}")
            return  # clean EOF
        if buf[off : off + 4] != SYNC_ESCAPE or buf[off + 4 : off + 20] != sync:
            raise ValueError(f"expected block sync at {anchor}")
        off += 20
        n_rec = take_vint()
        bufs = []
        for _ in range(4):
            blen = take_vint()
            if not ensure(blen):
                raise ValueError("truncated block buffer")
            bufs.append(zlib.decompress(buf[off : off + blen]))
            off += blen
        klens_b, keys_b, vlens_b, vals_b = bufs
        kp = vp = klp = vlp = 0
        for _ in range(n_rec):
            klen, klp = read_vint(klens_b, klp)
            vlen, vlp = read_vint(vlens_b, vlp)
            (doc_id,) = struct.unpack_from(">q", keys_b, kp)
            kp += klen
            tlen, tpos = read_vint(vals_b, vp)
            text = vals_b[tpos : tpos + tlen].decode("utf-8")
            vp += vlen
            yield doc_id, text


def _iter_records_stream(
    f, sync: bytes, pos: int, end: int, record_compressed: bool = False
):
    """Yield (doc_id, text) from absolute offset ``pos`` (a record or
    sync boundary) until EOF or the first sync anchored at >= end —
    the Hadoop reader loop (rec_len == -1 is the inline sync escape),
    over a bounded forward-only buffer. Never holds more than one
    chunk + one record in memory. With ``record_compressed``, each
    record's value bytes are a zlib (DefaultCodec) stream of the
    serialized Text."""
    import zlib
    f.seek(pos)
    buf = b""
    base = pos  # absolute offset of buf[0]
    off = 0

    def ensure(n: int) -> bool:
        nonlocal buf, base, off
        if off + n <= len(buf):
            return True
        buf = buf[off:]
        base += off
        off = 0
        while len(buf) < n:
            chunk = f.read(max(_CHUNK, n - len(buf)))
            if not chunk:
                return False
            buf += chunk
        return True

    while True:
        if not ensure(4):
            if len(buf) - off:
                raise ValueError(f"truncated record header at {base + off}")
            return  # clean EOF
        (first,) = struct.unpack_from(">i", buf, off)
        if first == -1:  # sync escape: anchor of the next block
            if base + off >= end:
                return  # next block belongs to another split
            if not ensure(20):
                raise ValueError(f"truncated sync at {base + off}")
            if buf[off + 4 : off + 20] != sync:
                raise ValueError(f"sync mismatch at {base + off}")
            off += 20
            continue
        rec_len = first
        if rec_len < 8 or not ensure(8 + rec_len):
            raise ValueError(f"truncated record at {base + off}")
        (key_len,) = struct.unpack_from(">i", buf, off + 4)
        if key_len != 8:
            raise ValueError(f"unexpected key length {key_len}")
        (doc_id,) = struct.unpack_from(">q", buf, off + 8)
        if record_compressed:
            raw = zlib.decompress(buf[off + 16 : off + 8 + rec_len])
            tlen, tpos = read_vint(raw, 0)
            text = raw[tpos : tpos + tlen].decode("utf-8")
        else:
            tlen, tpos = read_vint(buf, off + 16)
            text = buf[tpos : tpos + tlen].decode("utf-8")
        off += 8 + rec_len
        yield doc_id, text


def iter_seqfile(path: str, start: int | None = None, end: int | None = None):
    """Yield (doc_id, text). With (start, end): the Hadoop split
    convention — a split OWNS a block iff the block's anchor offset
    falls in [start, end), where the first block (whose records
    follow the header) anchors at byte 0 and every later block
    anchors at its sync escape. Any disjoint cover of [0, filesize)
    therefore reads every record exactly once.

    Streaming: a split task seeks to its range and reads O(split
    length + one trailing block) bytes — NEVER the whole file (a
    100 GB file really does become thousands of independent tasks;
    this was a whole-file read until round 9).

    All three spec layouts are handled: plain, record-compressed
    (zlib value per record), and block-compressed (sync-anchored
    blocks of four zlib buffers — the canonical splittable
    compressed container; splits own blocks by sync anchor exactly
    like plain mode)."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        sync, payload0, mode = _read_header_file(f)
        if start is None:
            start, end = 0, size
        if mode == "block":
            # every block (incl. the first) is sync-anchored
            hit = _find_sync(f, SYNC_ESCAPE + sync, max(start, payload0), end)
            if hit is None:
                return
            yield from _iter_blocks_stream(f, sync, hit, end)
            return
        if start <= 0 < end:
            pos = payload0  # first block anchors at byte 0
        else:
            hit = _find_sync(f, SYNC_ESCAPE + sync, start, end)
            if hit is None:
                return
            pos = hit  # the record loop verifies + skips the sync
        yield from _iter_records_stream(
            f, sync, pos, end, record_compressed=(mode == "record")
        )


def write_seqfile_shards(
    df, path: str, compression: str | None = None,
    sync_interval: int = 2000,
) -> int:
    """One SequenceFile shard per partition of df(doc_id, text);
    returns total rows written. mapInArrow keeps int64 ids exact.
    ``compression``: None / 'record' / 'block' (see write_seqfile)."""
    os.makedirs(path, exist_ok=True)

    def write(batches):
        import pyarrow as pa

        rows = []
        for batch in batches:
            ids = batch.column(0).to_pylist()
            txts = batch.column(1).to_pylist()
            rows.extend(
                (i, t) for i, t in zip(ids, txts) if i is not None
            )
        if rows:
            shard = os.path.join(
                path, f"part-{uuid.uuid4().hex[:8]}.seq"
            )
            n = write_seqfile(
                rows, shard, sync_interval=sync_interval,
                compression=compression,
            )
            yield pa.RecordBatch.from_pydict(
                {"shard": [shard], "n": [n]},
                schema=pa.schema([("shard", pa.string()), ("n", pa.int64())]),
            )

    out = df.mapInArrow(write, "shard string, n long").collect()
    return sum(r["n"] for r in out)


def read_seqfile_spark(spark, path: str, split_bytes: int | None = None):
    """Read a directory of SequenceFile shards as a DataFrame
    (doc_id long, text string). With ``split_bytes``, each file is
    read as MULTIPLE byte-range tasks delimited by sync markers —
    the splittable path a 100 GB file needs (tasks seek, never read
    the whole file into one executor)."""
    import pandas as pd

    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".seq")
    )
    tasks = []
    for f in files:
        size = os.path.getsize(f)
        if split_bytes is None:
            tasks.append((f, 0, size))
        else:
            off = 0
            while off < size:
                tasks.append((f, off, min(off + split_bytes, size)))
                off += split_bytes

    def gen(pdfs):
        for pdf in pdfs:
            for f, s, e in zip(pdf["f"], pdf["s"], pdf["e"]):
                rows = list(iter_seqfile(f, int(s), int(e)))
                if rows:
                    yield pd.DataFrame(
                        {
                            "doc_id": pd.Series(
                                [r[0] for r in rows], dtype="int64"
                            ),
                            "text": [r[1] for r in rows],
                        }
                    )

    # one-slice local relation: the task list is a few (file, range)
    # rows; the repartition below sets real read parallelism, so the
    # 32-slice default parallelize only added Python round trips
    tdf = spark.createDataFrame(
        spark.sparkContext.parallelize(tasks, numSlices=1),
        "f string, s long, e long",
    ).repartition(max(len(tasks), 1))
    return tdf.mapInPandas(gen, "doc_id long, text string")


# ---------------------------------------------------------------------------
# MapFile-style indexed point get over a SORTED SequenceFile
# (Hadoop MapFile = sorted data SequenceFile + a sparse key->offset
# index; the index here is a JSON sidecar rather than a second
# SequenceFile — same seek semantics, simpler plumbing)


def write_seqfile_sorted_indexed(
    rows_sorted, dirpath: str, index_every: int = 64,
    sync_interval: int = 2000, compression: str | None = None,
) -> int:
    """Write key-ascending (long, str) rows as ``data.seq`` plus a
    sparse index sampling every ``index_every``-th record's (key,
    absolute byte offset). Raises if keys are not non-decreasing —
    the MapFile contract.

    compression=None (plain) or 'record' (per-value zlib, the
    RecordCompressWriter layout — every record is still a seek
    point, so the sparse index stays valid). 'block' is rejected:
    block mode has no per-record offsets to index."""
    import zlib

    if compression not in (None, "record"):
        raise ValueError(
            "indexed seqfile supports compression None or 'record' "
            f"(got {compression!r}; block mode has no per-record "
            "seek points)"
        )
    os.makedirs(dirpath, exist_ok=True)
    sync = uuid.uuid4().bytes
    data_tmp = os.path.join(dirpath, "data.seq.tmp")
    keys, offsets = [], []
    last = None
    n = 0
    with open(data_tmp, "wb") as f:
        f.write(_header(sync, compression=compression == "record"))
        since_sync = 0
        for doc_id, text in rows_sorted:
            if last is not None and doc_id < last:
                raise ValueError(
                    f"keys out of order: {doc_id} after {last}"
                )
            last = doc_id
            if since_sync >= sync_interval:
                f.write(SYNC_ESCAPE + sync)
                since_sync = 0
            if n % index_every == 0:
                keys.append(doc_id)
                offsets.append(f.tell())
            if compression == "record":
                key = struct.pack(">q", doc_id)
                cval = zlib.compress(_text(text))
                rec = (
                    struct.pack(">i", len(key) + len(cval))
                    + struct.pack(">i", len(key))
                    + key
                    + cval
                )
            else:
                rec = _record(doc_id, text)
            f.write(rec)
            since_sync += len(rec)
            n += 1
    os.replace(data_tmp, os.path.join(dirpath, "data.seq"))
    import json

    idx_tmp = os.path.join(dirpath, "index.json.tmp")
    with open(idx_tmp, "w") as f:
        json.dump({"keys": keys, "offsets": offsets, "n": n}, f)
    os.replace(idx_tmp, os.path.join(dirpath, "index.json"))
    return n


def seqfile_get(dirpath: str, key: int):
    """Point get: binary-search the sparse index for the rightmost
    sampled key <= ``key``, seek there, scan forward until found or
    passed (keys sorted). O(log index + index_every) per get."""
    import bisect
    import json

    with open(os.path.join(dirpath, "index.json")) as f:
        idx = json.load(f)
    keys, offsets = idx["keys"], idx["offsets"]
    if not keys or key < keys[0]:
        return None
    i = bisect.bisect_right(keys, key) - 1
    data = os.path.join(dirpath, "data.seq")
    size = os.path.getsize(data)
    with open(data, "rb") as f:
        sync, _, mode = _read_header_file(f)
        # honor the header's compression mode: record-compressed
        # values decode per record; a block-compressed data.seq has
        # no per-record seek points at index offsets, so reject it
        # explicitly rather than misparse (ADVICE r9 — previously
        # record_compressed was unconditionally False).
        if mode == "block":
            raise ValueError(
                "seqfile_get: block-compressed data.seq is not "
                "point-gettable via the sparse record index; use the "
                "plain or record-compressed writer for indexed dirs"
            )
        # stream from the sampled offset; keys sorted => stop on pass.
        # O(log index) search + O(index_every) records read — the
        # file is seeked, never loaded (was a whole-file read).
        for doc_id, text in _iter_records_stream(
            f, sync, offsets[i], size, record_compressed=(mode == "record")
        ):
            if doc_id == key:
                return text
            if doc_id > key:
                return None
    return None
