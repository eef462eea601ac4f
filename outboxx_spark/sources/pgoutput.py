"""pgoutput logical-replication binary protocol: encoder + decoder (S6).

The reference's decoder (`src/source/postgres/pg_output_decoder.zig:
11-30, 162-412`) parses the pgoutput v1 binary stream: message types
B(egin) C(ommit) R(elation) I(nsert) U(pdate) D(elete), consumed-but-
skipped T(runcate) Y(type) O(rigin), fail-stop on unknown; tuples carry
per-column kinds 'n' (null) / 'u' (unchanged TOAST) / 't' (text,
u32-length-prefixed); all integers big-endian. The relation registry
(S7, `relation_registry.zig`) maps relation_id -> schema, upserted on
every RELATION message (ALTER TABLE safe), lookup failure = fail-stop.
The converter (S8, `converter.zig:26-102`) stamps every event of a txn
with the BEGIN's commit time and renders metadata.

Spark shape: the byte stream is a partitioned binary column; decoding is
``mapInPandas`` — Arrow batches in, ChangeEvent rows out, with the
relation registry + current-txn state held per partition (the exact
state scope the reference keeps per connection). No shuffle: decode is a
narrow map over however the feed is partitioned. The encoder exists for
the testbed: it renders a deterministic pgoutput stream from the events
feed so decode can be verified against the same DuckDB oracle as the
plain feed (queries: ``cdc_pgoutput_roundtrip``).

Format reference: PostgreSQL docs, "Logical Replication Message Formats"
(protocol version 1).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from outboxx_spark.config import TOAST_PLACEHOLDER
from outboxx_spark.pyworker import guard_zip_invalidation

PG_EPOCH_UNIX = 946_684_800  # 2000-01-01, converter.zig:19

# OIDs (converter.zig:146-192 promotion set)
OID_BOOL = 16
OID_INT8 = 20
OID_INT2 = 21
OID_INT4 = 23
OID_TEXT = 25
OID_FLOAT4 = 700
OID_FLOAT8 = 701
OID_NUMERIC = 1700
OID_JSONB = 3802


class PgOutputError(ValueError):
    """Decode failure (unknown message type, truncated buffer, unknown
    relation) — fail-stop, like the reference."""


# ---------------------------------------------------------------------------
# encoding (testbed side)
# ---------------------------------------------------------------------------


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def encode_begin(final_lsn: int, commit_ts_us: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QQI", final_lsn, commit_ts_us, xid)


def encode_commit(commit_lsn: int, end_lsn: int, commit_ts_us: int) -> bytes:
    return b"C" + struct.pack(">BQQQ", 0, commit_lsn, end_lsn, commit_ts_us)


def encode_relation(
    relation_id: int,
    namespace: str,
    relname: str,
    columns: list[tuple[str, int]],
    replica_identity: bytes = b"f",
) -> bytes:
    out = b"R" + struct.pack(">I", relation_id) + _cstr(namespace) + _cstr(relname)
    out += replica_identity + struct.pack(">H", len(columns))
    for name, oid in columns:
        out += b"\x01" + _cstr(name) + struct.pack(">Ii", oid, -1)
    return out


def encode_tuple(values: list[str | None | type(...)]) -> bytes:
    """``None`` -> 'n' null; ``...`` (Ellipsis) -> 'u' unchanged TOAST;
    str -> 't' text with u32 length prefix."""
    out = struct.pack(">H", len(values))
    for v in values:
        if v is None:
            out += b"n"
        elif v is ...:
            out += b"u"
        else:
            b = str(v).encode()
            out += b"t" + struct.pack(">I", len(b)) + b
    return out


def encode_insert(relation_id: int, new: list) -> bytes:
    return b"I" + struct.pack(">I", relation_id) + b"N" + encode_tuple(new)


def encode_update(relation_id: int, new: list, old: list | None = None) -> bytes:
    out = b"U" + struct.pack(">I", relation_id)
    if old is not None:
        out += b"O" + encode_tuple(old)
    return out + b"N" + encode_tuple(new)


def encode_delete(relation_id: int, old: list, key_only: bool = False) -> bytes:
    return b"D" + struct.pack(">I", relation_id) + (b"K" if key_only else b"O") + encode_tuple(old)


def encode_truncate() -> bytes:
    # minimal body; decoder skips T without parsing
    return b"T" + struct.pack(">IBI", 1, 0, 1)


# ---------------------------------------------------------------------------
# decoding
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise PgOutputError(
                f"truncated message: need {n} bytes at offset {self.pos}, have {len(self.buf)}"
            )
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def u8(self) -> int:
        return self.take(1)[0]

    def u16(self) -> int:
        return struct.unpack(">H", self.take(2))[0]

    def u32(self) -> int:
        return struct.unpack(">I", self.take(4))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def u64(self) -> int:
        return struct.unpack(">Q", self.take(8))[0]

    def cstr(self) -> str:
        end = self.buf.find(b"\x00", self.pos)
        if end < 0:
            raise PgOutputError("unterminated cstring")
        out = self.buf[self.pos : end].decode()
        self.pos = end + 1
        return out


def _decode_tuple_at(buf: bytes, pos: int) -> tuple[list[str | None], int]:
    """Per-column kinds n/u/t/b (`pg_output_decoder.zig:24-30`); 'u'
    renders the TOAST placeholder so the column stays present.

    Flat (buf, pos) parsing, not a _Reader: this runs once or twice per
    data message and the reader's per-field method call + bytes-slice
    pair was ~half the whole decode cost (profiled: 1.6M take() calls
    per 100k 4-col inserts). Same fail-stop truncation contract — every
    read is bounds-checked before use."""
    n = len(buf)
    if pos + 2 > n:
        raise PgOutputError(f"truncated message: need 2 bytes at offset {pos}, have {n}")
    ncols = (buf[pos] << 8) | buf[pos + 1]
    pos += 2
    out: list[str | None] = []
    append = out.append
    for _ in range(ncols):
        if pos >= n:
            raise PgOutputError(f"truncated message: need 1 bytes at offset {pos}, have {n}")
        kind = buf[pos]
        pos += 1
        if kind == 0x74 or kind == 0x62:  # 't' text / 'b' binary
            end = pos + 4
            if end > n:
                raise PgOutputError(f"truncated message: need 4 bytes at offset {pos}, have {n}")
            ln = int.from_bytes(buf[pos:end], "big")
            pos = end + ln
            if pos > n:
                raise PgOutputError(f"truncated message: need {ln} bytes at offset {end}, have {n}")
            append(buf[end:pos].decode())
        elif kind == 0x6E:  # 'n' null
            append(None)
        elif kind == 0x75:  # 'u' unchanged TOAST
            append(TOAST_PLACEHOLDER)
        else:
            raise PgOutputError(f"unknown tuple column kind {bytes([kind])!r}")
    return out, pos


def _decode_tuple(r: _Reader) -> list[str | None]:
    """_Reader-based wrapper kept for the cold paths / direct callers."""
    out, r.pos = _decode_tuple_at(r.buf, r.pos)
    return out


class RelationInfo:
    __slots__ = ("namespace", "relname", "columns", "colnames", "resource")

    def __init__(self, namespace: str, relname: str, columns: list[tuple[str, int]]) -> None:
        self.namespace = namespace
        self.relname = relname
        self.columns = columns
        # precomputed per registration (once per relation), not per
        # message: the hot loop zips these against decoded tuples
        self.colnames = [c[0] for c in columns]
        self.resource = f"{namespace}.{relname}"


class PgOutputDecoder:
    """Stateful message decoder + converter: registry (S7) + current-txn
    commit time (S8). One instance per partition."""

    def __init__(self) -> None:
        self.registry: dict[int, RelationInfo] = {}
        self.commit_ts_us: int | None = None

    def decode(self, lsn: int, payload: bytes) -> dict | None:
        """One message -> one ChangeEvent dict (I/U/D) or None (B/C/R and
        skipped types). Raises PgOutputError on unknown types (fail-stop)
        after consuming nothing further."""
        if not payload:
            raise PgOutputError("empty message")
        tb = payload[0]
        if tb == 0x49 or tb == 0x55 or tb == 0x44:  # I/U/D — the hot path
            return self._decode_data(lsn, payload, tb)
        r = _Reader(payload)
        t = r.take(1)
        if t == b"B":
            r.u64()  # final lsn
            self.commit_ts_us = r.u64()
            return None
        if t == b"C":
            return None
        if t == b"R":
            rid = r.u32()
            ns, rel = r.cstr(), r.cstr()
            r.take(1)  # replica identity
            cols = []
            for _ in range(r.u16()):
                r.take(1)  # flags
                name = r.cstr()
                oid = r.u32()
                r.i32()  # typmod
                cols.append((name, oid))
            # upsert: re-registration on ALTER TABLE replaces the entry
            self.registry[rid] = RelationInfo(ns, rel, cols)
            return None
        if t in (b"T", b"Y", b"O"):
            return None  # consumed-but-skipped, don't crash
        raise PgOutputError(f"unknown message type {t!r}")

    def _decode_data(self, lsn: int, payload: bytes, tb: int) -> dict:
        """The I/U/D hot path on flat (buf, pos) arithmetic — same
        messages, checks, and fail-stop order as the _Reader form it
        replaced (r6 perf: the reader's per-field call overhead was the
        top decode cost), pinned by the roundtrip oracle + unit tests."""
        n = len(payload)
        # error ORDER mirrors the _Reader form exactly (differential-
        # fuzzed): rid is parsed and looked up first, so a registered-
        # relation check outranks a missing tuple tag
        if n < 5:
            raise PgOutputError(f"truncated message: need 4 bytes at offset 1, have {n}")
        rid = int.from_bytes(payload[1:5], "big")
        info = self.registry.get(rid)
        if info is None:
            raise PgOutputError(f"RelationNotFound: {rid}")
        if n < 6:
            raise PgOutputError(f"truncated message: need 1 bytes at offset 5, have {n}")
        old = None
        tag = payload[5]
        pos = 6
        if tb == 0x49:  # INSERT
            if tag != 0x4E:  # 'N'
                raise PgOutputError(f"unexpected insert tuple tag {bytes([tag])!r}")
            new, pos = _decode_tuple_at(payload, pos)
            op = "INSERT"
        elif tb == 0x55:  # UPDATE
            if tag == 0x4F or tag == 0x4B:  # 'O'/'K' old image first
                old, pos = _decode_tuple_at(payload, pos)
                if pos >= n:
                    raise PgOutputError(
                        f"truncated message: need 1 bytes at offset {pos}, have {n}"
                    )
                tag = payload[pos]
                pos += 1
            if tag != 0x4E:
                raise PgOutputError(f"unexpected update tuple tag {bytes([tag])!r}")
            new, pos = _decode_tuple_at(payload, pos)
            op = "UPDATE"
        else:  # DELETE
            if tag != 0x4F and tag != 0x4B:
                raise PgOutputError(f"unexpected delete tuple tag {bytes([tag])!r}")
            new, pos = _decode_tuple_at(payload, pos)  # DELETE data = old image
            op = "DELETE"
        colnames = info.colnames
        if len(new) != len(colnames):
            raise PgOutputError(
                f"ColumnCountMismatch: {len(new)} values vs {len(colnames)} columns"
            )
        if self.commit_ts_us is None:
            # fail-stop like missing RELATION: every I/U/D must be
            # stamped with its txn commit time (converter.zig S8); a
            # data message outside a BEGIN means the frame stream was
            # split/reordered between encode and decode
            raise PgOutputError(f"{op} message with no preceding BEGIN (no commit time)")
        commit_ts = self.commit_ts_us // 1_000_000 + PG_EPOCH_UNIX
        return {
            "op": op,
            "resource": info.resource,
            "lsn": lsn,
            "commit_ts": commit_ts,
            "data": dict(zip(colnames, new)),
            "old": dict(zip(colnames, old)) if old else None,
        }


def decode_stream(df: DataFrame) -> DataFrame:
    """(lsn, payload binary) -> ChangeEvents, via mapInPandas with
    per-partition decoder state. Narrow map — decode never shuffles."""
    out_schema = (
        "op string, resource string, lsn long, commit_ts long, "
        "data map<string,string>, old map<string,string>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard_zip_invalidation()  # for this worker's later tasks
        dec = PgOutputDecoder()  # state spans all batches of the partition
        cols = ("op", "resource", "lsn", "commit_ts", "data", "old")
        for pdf in batches:
            # columnar accumulation: pd.DataFrame from dict-of-lists is
            # ~3x cheaper than from list-of-dicts at Arrow batch sizes
            out: tuple[list, ...] = tuple([] for _ in cols)
            decode = dec.decode
            for lsn, payload in zip(pdf["lsn"].tolist(), pdf["payload"].tolist()):
                ev = decode(lsn, bytes(payload))
                if ev is not None:
                    for lst, c in zip(out, cols):
                        lst.append(ev[c])
            yield pd.DataFrame(dict(zip(cols, out)))

    return df.select("lsn", "payload").mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# testbed: events feed -> pgoutput byte stream
# ---------------------------------------------------------------------------

FEED_COLUMNS = [
    ("user_id", OID_INT8),
    ("event_type", OID_TEXT),
    ("value", OID_FLOAT8),
    ("props", OID_JSONB),
]


def encode_feed_as_pgoutput(feed: DataFrame) -> DataFrame:
    """Deterministic pgoutput stream from the flat feed: per partition,
    RELATION on first use of each virtual table, then one
    BEGIN / I|U|D / COMMIT txn per event (READ events are skipped — they
    exist only on the snapshot path, never in WAL). Output (lsn,
    payload) rows, ~3 messages per event.

    Partition-safe by construction: every partition emits its own
    RELATION messages before using them, so the stream decodes under any
    input partitioning — and we spread single-file feeds across cores.
    """
    from outboxx_spark.dataops.util import parallelized

    feed = parallelized(feed)
    out_schema = "lsn long, payload binary"

    # Fixed-layout messages (BEGIN: B u64 u64 u32; COMMIT: C u8 u64 u64
    # u64) are framed for the whole Arrow batch with one big-endian numpy
    # structured array each, then sliced per row — the per-row Python
    # work collapses to the variable-length tuple body. Measured ~2.5x
    # over the previous per-row struct.pack chain at sf0.1.
    begin_dt = np.dtype([("t", "S1"), ("lsn", ">u8"), ("ts", ">u8"), ("xid", ">u4")])
    commit_dt = np.dtype(
        [("t", "S1"), ("flags", "u1"), ("clsn", ">u8"), ("elsn", ">u8"), ("ts", ">u8")]
    )
    tup_hdr = struct.pack(">H", len(FEED_COLUMNS))
    body_prefix = {
        ("INSERT", t): b"I" + struct.pack(">I", 1000 + t) + b"N" for t in range(4)
    } | {
        ("UPDATE", t): b"U" + struct.pack(">I", 1000 + t) + b"O" for t in range(4)
    } | {
        ("DELETE", t): b"D" + struct.pack(">I", 1000 + t) + b"O" for t in range(4)
    }

    def _enc_str_col(values: list) -> list[bytes | None]:
        return [None if v is None else str(v).encode() for v in values]

    def _enc_float_col(values: list) -> list[bytes | None]:
        # repr() = shortest round-trip form, like PG float8 out
        return [None if v is None else repr(v).encode() for v in values]

    def _tuple_bytes(cols: tuple) -> bytes:
        # struct.Struct isn't cloudpickle-able, so the packer is looked
        # up lazily; struct caches compiled formats, so this is cheap
        pack_len = struct.pack
        parts = [tup_hdr]
        for b in cols:
            if b is None:
                parts.append(b"n")
            else:
                parts.append(b"t")
                parts.append(pack_len(">I", len(b)))
                parts.append(b)
        return b"".join(parts)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard_zip_invalidation()  # for this worker's later tasks
        seen: set[int] = set()
        for pdf in batches:
            pdf = pdf[pdf["op"].to_numpy() != "READ"]
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"lsn": [], "payload": []})
                continue
            lsn = pdf["lsn"].to_numpy(np.int64)
            commit_us = (pdf["commit_ts"].to_numpy(np.int64) - PG_EPOCH_UNIX) * 1_000_000
            uid = pdf["user_id"].to_numpy(np.int64)
            table_n = uid % 4

            ba = np.empty(n, dtype=begin_dt)
            ba["t"], ba["lsn"], ba["ts"], ba["xid"] = b"B", lsn, commit_us, 1
            begins = ba.tobytes()
            bsz = begin_dt.itemsize
            ca = np.empty(n, dtype=commit_dt)
            ca["t"], ca["flags"], ca["clsn"], ca["elsn"], ca["ts"] = b"C", 0, lsn, lsn, commit_us
            commits = ca.tobytes()
            csz = commit_dt.itemsize

            uid_b = [str(u).encode() for u in uid.tolist()]
            et_b = _enc_str_col(pdf["event_type"].tolist())
            val_b = _enc_float_col(pdf["value"].tolist())
            props_b = _enc_str_col(pdf["props"].tolist())
            tuples = [_tuple_bytes(c) for c in zip(uid_b, et_b, val_b, props_b)]

            ops = pdf["op"].tolist()
            lsns = lsn.tolist()
            tns = table_n.tolist()
            out_l: list[int] = []
            out_p: list[bytes] = []
            for i in range(n):
                t, li = tns[i], lsns[i]
                rid = 1000 + t
                if rid not in seen:
                    seen.add(rid)
                    out_l.append(li)
                    out_p.append(encode_relation(rid, "public", f"t{t}", FEED_COLUMNS))
                tup = tuples[i]
                body = body_prefix[(ops[i], t)] + tup
                if ops[i] == "UPDATE":
                    body += b"N" + tup  # old image then new image
                out_l.extend((li, li, li))
                out_p.extend(
                    (begins[i * bsz : i * bsz + bsz], body, commits[i * csz : i * csz + csz])
                )
            yield pd.DataFrame({"lsn": out_l, "payload": out_p})

    return feed.mapInPandas(run, out_schema)
