"""MySQL-protocol binlog dump endpoint — the COM_BINLOG_DUMP framing of
the reference's dump server (CdcServer.java:70,154 serves the same
contract over gRPC; the CN fronts it with the MySQL protocol so a stock
replica/`mysqlbinlog --read-from-remote-server` can attach). This module
implements the public client/server protocol subset that attach needs:

* server greeting (HandshakeV10) and HandshakeResponse41 acceptance —
  auth is accepted unconditionally (the slice serves localhost; real
  deployments front this with the platform's auth),
* ``COM_BINLOG_DUMP`` (0x12): [pos:4][flags:2][server_id:4][file] —
  streams every event from that byte position through the rotated chain,
  each event framed as a MySQL packet whose payload is ``0x00`` (OK)
  followed by the raw event bytes — exactly what a replica's relay-log
  writer ingests,
* ``COM_QUIT`` (0x01) and an OK for anything else (a real replica's
  preamble SELECTs are catalog concerns; see catalog.py for the engine's
  SQL surface).

Packet framing is the standard [len:3 LE][seq:1][payload]; payloads
larger than 0xFFFFFF are split per the protocol. The event bytes come
from the same wire files `binlog_wire.export_wire_files` renders, so a
consumer that speaks MySQL replication gets CRC-checksummed binlog v4
events with FDE/TABLE_MAP/ROWS/GTID framing.

Scale posture (100 TB): this endpoint — including the blocking live
push and the COM_BINLOG_DUMP_GTID auto-position attach — is CONTROL
PLANE: a protocol SERVING slice whose job is replica attach, exactly
like the reference's CdcServer dump endpoint. Its unit of work is one
replica connection streaming one binlog chain at the master's write
rate; bytes are pumped frame-whole with no per-event decode (the GTID
skip path reads 2 fixed header fields per event, nothing per column).
The DATA PLANE — bulk encode of table data into wire bytes and bulk
decode back into DataFrames — runs distributed in
`binlog_wire.events_to_binlog`/`binlog_to_events` (Arrow-batched
mapInPandas on executors). `dump_decode` is the one place the two
meet: each of its decode tasks is a replica of its own, dumping one
run of chain files by position and decoding it in place, so catch-up
fans out over as many connections as cores and no byte passes through
the driver. Scaling replica fan-out = more handler threads
(ThreadingTCPServer, one per replica); scaling data volume = Spark
parallelism.
"""

from __future__ import annotations

import os
import socket
import socketserver
import struct
import threading
import zlib

from . import binlog_wire as W

#: QUERY-event first keywords that end a transaction group by themselves
#: (implicit-commit DDL / admin statements — the server never wraps these
#: in BEGIN…XID). Used to unlatch the GTID-dump skip state at group end.
_DDL_HEADS = frozenset((
    "CREATE", "ALTER", "DROP", "RENAME", "TRUNCATE", "ANALYZE",
    "OPTIMIZE", "REPAIR", "GRANT", "REVOKE", "FLUSH",
    "INSTALL", "UNINSTALL",  # INSTALL/UNINSTALL PLUGIN implicit-commit
))


def _query_ends_group(q: str, in_group: bool = False) -> bool:
    """True iff a QUERY event's text terminates its transaction group.
    COMMIT/ROLLBACK and implicit-commit DDL do; BEGIN, statement-era DML
    and XA START/END (they OPEN/continue a group) do NOT.

    *in_group* says an explicit BEGIN / XA START opened the current
    group. CREATE/DROP TEMPORARY TABLE is MySQL's documented
    no-implicit-commit exception, but that only matters MID-group: under
    GTID mode a lone TEMPORARY DDL is binlogged as its own GTID-framed
    group with no XID, so standalone it IS the group end — treating it
    as non-ending there would leave the dump skip-latch stuck across
    the following non-GTID-framed events."""
    words = q.split(None, 2)
    if not words:
        return False
    head = words[0].upper()
    if head in ("COMMIT", "ROLLBACK"):
        return True
    if head == "XA":
        return len(words) > 1 and words[1].upper() in ("COMMIT", "ROLLBACK")
    if head == "SET":
        # SET PASSWORD is an implicit commit; every other SET (timestamp,
        # names, session vars) rides inside its group
        return len(words) > 1 and words[1].upper() == "PASSWORD"
    if in_group and head in ("CREATE", "DROP") and len(words) > 1 \
            and words[1].upper() == "TEMPORARY":
        return False
    return head in _DDL_HEADS

COM_QUIT = 0x01
COM_QUERY = 0x03
COM_BINLOG_DUMP = 0x12
COM_REGISTER_SLAVE = 0x15
COM_BINLOG_DUMP_GTID = 0x1E

_MAX_PACKET = 0xFFFFFF

GtidSet = dict[bytes, list[tuple[int, int]]]


def _parse_gtid_set(data: bytes) -> GtidSet:
    """Decode the Gtid_set wire encoding (same layout as the
    PREVIOUS_GTIDS payload): n_sids(8) then per sid 16-byte uuid +
    n_intervals(8) + (start, end)×8 LE pairs, end EXCLUSIVE."""
    out: GtidSet = {}
    n_sids = struct.unpack_from("<Q", data, 0)[0]
    p = 8
    for _ in range(n_sids):
        sid = bytes(data[p : p + 16])
        n_iv = struct.unpack_from("<Q", data, p + 16)[0]
        p += 24
        ivs = []
        for _ in range(n_iv):
            s0, e0 = struct.unpack_from("<QQ", data, p)
            ivs.append((s0, e0))
            p += 16
        out[sid] = ivs
    return out


def encode_gtid_set(gtid_set: GtidSet) -> bytes:
    """Inverse of :func:`_parse_gtid_set` — used by the replica-side
    client to build the COM_BINLOG_DUMP_GTID data payload."""
    payload = bytearray(struct.pack("<Q", len(gtid_set)))
    for sid, intervals in gtid_set.items():
        payload += sid + struct.pack("<Q", len(intervals))
        for start, end in intervals:
            payload += struct.pack("<QQ", start, end)
    return bytes(payload)


def _merged(intervals: list[tuple[int, int]]) -> list[tuple[int, int]]:
    ivs = sorted(intervals)
    out: list[tuple[int, int]] = []
    for s, e in ivs:
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _gtid_covers(gtid_set: GtidSet, sid: bytes, gno: int) -> bool:
    return any(s <= gno < e for s, e in gtid_set.get(sid, ()))


def _gtid_subset(a: GtidSet, b: GtidSet) -> bool:
    """True iff every gtid in *a* is in *b*."""
    for sid, ivs in a.items():
        cov = _merged(b.get(sid, []))
        for s, e in ivs:
            if s >= e:
                continue
            if not any(cs <= s and e <= ce for cs, ce in cov):
                return False
    return True


def _write_packet(wfile, seq: int, payload: bytes) -> int:
    """Write one (possibly split) protocol packet and flush; returns next
    seq. The catch-up dump loops frame a whole file with
    `_event_packets` and write it once instead (a write per event
    throttled the byte pump to ~7 MB/s on localhost)."""
    view = memoryview(payload)
    while True:
        chunk = view[:_MAX_PACKET]
        wfile.write(len(chunk).to_bytes(3, "little") + bytes([seq & 0xFF]) + chunk)
        seq += 1
        view = view[_MAX_PACKET:]
        if len(chunk) < _MAX_PACKET:
            break
    wfile.flush()
    return seq


def _strip_frame_crc(frame: bytes) -> bytes:
    """Stored CRC32 frame → NONE-wire frame (a binlog_checksum=NONE
    master's stream). Non-FDE events: drop the 4-byte trailer and patch
    the header's event_size. The FDE KEEPS its footer — a real master
    stamps the FDE itself even under binlog_checksum=NONE (the replica
    learns the alg FROM this event, so it must be verifiable) — with the
    checksum_alg byte at its fixed event_size-5 offset flipped to 0 and
    the CRC recomputed over the patched bytes. The reference reader
    (LogHeader.java:191) reads checksumAlg at exactly that offset."""
    if frame[4] == W.FORMAT_DESCRIPTION_EVENT:
        out = bytearray(frame)
        out[-W.CHECKSUM_LEN - 1] = W.BINLOG_CHECKSUM_ALG_OFF
        struct.pack_into(
            "<I", out, len(out) - W.CHECKSUM_LEN,
            zlib.crc32(bytes(out[: -W.CHECKSUM_LEN])) & 0xFFFFFFFF,
        )
        return bytes(out)
    out = bytearray(frame[: -W.CHECKSUM_LEN])
    struct.pack_into("<I", out, 9, len(out))
    return bytes(out)


def _event_packets(parts: list, seq: int, frame, none: bool) -> int:
    """Append one event packet to *parts*, the per-file output of both
    catch-up dump loops: the packet header, then the OK byte and the
    event frame (*none*: a binlog_checksum=NONE master's frame,
    `_strip_frame_crc`). Header and OK byte share one small bytes object
    and the frame joins zero-copy from the caller's memoryview. An event
    of 16 MB or more splits exactly like `_write_packet`. Returns the
    next seq."""
    if none:
        frame = _strip_frame_crc(frame)
    pl = len(frame) + 1
    if pl < _MAX_PACKET:
        parts.append(pl.to_bytes(3, "little") + bytes((seq & 0xFF, 0)))
        parts.append(frame)
        return seq + 1
    view = memoryview(b"\x00" + bytes(frame))
    while True:
        chunk = view[:_MAX_PACKET]
        parts.append(len(chunk).to_bytes(3, "little") + bytes([seq & 0xFF]))
        parts.append(bytes(chunk))
        seq += 1
        view = view[_MAX_PACKET:]
        if len(chunk) < _MAX_PACKET:
            return seq


#: reassembled-packet cap = 1 GiB, the MAX_MAX_ALLOWED_PACKET a real
#: replication channel runs at (a slave I/O thread raises its
#: max_allowed_packet to 1GB so >16MB row events fit). A client
#: streaming endless continuation chunks hits ERR at the cap instead of
#: holding unbounded buffer; legitimate >16MB event reassembly (shared
#: by the client helpers below) stays untouched.
_MAX_ALLOWED_PACKET = 1 << 30


def _read_packet(rfile) -> tuple[int, bytes] | None:
    head = rfile.read(4)
    if len(head) < 4:
        return None
    ln = int.from_bytes(head[:3], "little")
    seq = head[3]
    chunks = []
    total = 0
    while True:
        chunk = rfile.read(ln)
        if len(chunk) < ln:
            return None  # torn packet (client died mid-write): clean close
        chunks.append(chunk)
        total += ln
        if total > _MAX_ALLOWED_PACKET:
            raise ValueError(
                f"packet exceeds max_allowed_packet ({total} bytes)")
        if ln < _MAX_PACKET:
            break
        head = rfile.read(4)  # continuation packet
        if len(head) < 4:
            return None
        ln = int.from_bytes(head[:3], "little")
    return seq, b"".join(chunks)


def _ok_packet() -> bytes:
    # OK: header(0x00) affected_rows(lenenc 0) last_insert_id(0) status(2) warnings(2)
    return b"\x00\x00\x00\x02\x00\x00\x00"


def _err_packet(code: int, msg: str) -> bytes:
    return (
        b"\xff" + struct.pack("<H", code) + b"#HY000" + msg.encode()
    )


def gtid_set_text(gtid_set: GtidSet) -> str:
    """Canonical Executed_Gtid_Set rendering: intervals MERGED first
    (overlap/adjacency collapse exactly like the server's Gtid_set
    print), then ``uuid:start-end[:...]`` per sid (end INCLUSIVE in text,
    exclusive on the wire), sids comma-joined in uuid order. The single
    source of truth — SHOW MASTER STATUS (both surfaces) and any client
    rendering go through here."""
    import uuid as _uuid

    parts = []
    for sid in sorted(gtid_set, key=lambda b: str(_uuid.UUID(bytes=b))):
        ivs = ":".join(
            f"{s}-{e - 1}" if e - 1 > s else f"{s}"
            for s, e in _merged(gtid_set[sid]) if s < e
        )
        if ivs:
            parts.append(f"{_uuid.UUID(bytes=sid)}:{ivs}")
    return ",".join(parts)


def master_status(wire_dir: str) -> tuple[str, int, str] | None:
    """(file, position, executed_gtid_set_text) of the wire directory's
    tail file — the pure-Python walk behind SHOW MASTER STATUS (the
    Spark-facing twin is ``catalog.show_master_status_wire``)."""
    files = sorted(
        f for f in os.listdir(wire_dir)
        if f.startswith("binlog.") and f.split(".")[-1].isdigit()
    )
    if not files:
        return None
    last = files[-1]
    with open(os.path.join(wire_dir, last), "rb") as fh:
        buf = fh.read()
    gtids: GtidSet = {}
    body, off = buf[4:], 0
    while off + W.HEADER_LEN <= len(body):
        elen = struct.unpack_from("<I", body, off + 9)[0]
        if elen < W.HEADER_LEN + W.CHECKSUM_LEN or off + elen > len(body):
            break
        tc = body[off + 4]
        if tc == W.PREVIOUS_GTIDS_LOG_EVENT:
            prev = _parse_gtid_set(
                body[off + W.HEADER_LEN : off + elen - W.CHECKSUM_LEN]
            )
            for sid, ivs in prev.items():
                gtids.setdefault(sid, []).extend(ivs)
        elif tc == W.GTID_LOG_EVENT:
            sid = bytes(body[off + 20 : off + 36])
            gno = struct.unpack_from("<q", body, off + 36)[0]
            gtids.setdefault(sid, []).append((gno, gno + 1))
        off += elen
    return last, off + 4, gtid_set_text(gtids)


#: session/global variables the COM_QUERY surface answers — the set a
#: stock replica / replication client probes before COM_BINLOG_DUMP
_SERVER_VARS = {
    "server_id": "1",
    "server_uuid": "c0ffee00-c0ff-ee00-c0ff-ee00c0ffee00",
    "version": "8.0.32-polardbx-cdc-spark",
    "version_comment": "polardbx-cdc-spark dump endpoint",
    "binlog_checksum": "CRC32",
    "master_binlog_checksum": "CRC32",
    "binlog_format": "ROW",
    "binlog_row_image": "FULL",
    "binlog_row_metadata": "FULL",
    "gtid_mode": "ON",
    "lower_case_table_names": "0",
    "character_set_server": "utf8mb4",
    "collation_server": "utf8mb4_general_ci",
    "read_only": "0",
}


def _split_select_list(body: str) -> list[str]:
    """Split a SELECT expression list on TOP-LEVEL commas only —
    paren-depth and quote aware, so ``CONCAT('a','b'), @@x`` is two
    expressions, not three. Backslash escapes inside quotes honored."""
    parts: list[str] = []
    depth, quote, start, i = 0, "", 0, 0
    while i < len(body):
        c = body[i]
        if quote:
            if c == "\\" and quote in "'\"":
                i += 1  # skip escaped char
            elif c == quote:
                quote = ""
        elif c in "'\"`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
        i += 1
    parts.append(body[start:])
    return [p.strip() for p in parts]


def _col_def(name: str) -> bytes:
    """Protocol-41 column definition: every catalog field var_string."""
    def lcs(s: bytes) -> bytes:
        return _lenenc_bytes(s)

    return (
        lcs(b"def") + lcs(b"") + lcs(b"") + lcs(b"")
        + lcs(name.encode()) + lcs(name.encode())
        + b"\x0c" + struct.pack("<H", 33) + struct.pack("<I", 1024)
        + b"\xfd" + struct.pack("<H", 0) + b"\x00" + b"\x00\x00"
    )


def _lenenc_bytes(b: bytes) -> bytes:
    if len(b) < 251:
        return bytes([len(b)]) + b
    if len(b) < 1 << 16:
        return b"\xfc" + struct.pack("<H", len(b)) + b
    return b"\xfd" + len(b).to_bytes(3, "little") + b


def _eof_packet() -> bytes:
    return b"\xfe\x00\x00\x02\x00"


class _Handler(socketserver.StreamRequestHandler):
    def handle(self):  # noqa: D102
        try:
            self._session()
        except OSError:
            # client vanished (RST mid-read, broken pipe mid-write):
            # a clean close, never a crashed handler thread
            return

    def _session(self):
        srv: MySQLDumpServer = self.server.dump_server  # type: ignore[attr-defined]
        # HandshakeV10 greeting
        auth1, auth2 = b"12345678", b"901234567890\x00"
        greeting = (
            b"\x0a"  # protocol 10
            + b"8.0.32-polardbx-cdc-spark\x00"
            + struct.pack("<I", 1)  # thread id
            + auth1 + b"\x00"
            # capabilities lower: LONG_PASSWORD..TRANSACTIONS (0x00FF) |
            # CLIENT_PROTOCOL_41 (0x0200) | CLIENT_SECURE_CONNECTION (0x8000)
            # — PROTOCOL_41 is mandatory for stock clients/mysqlbinlog, and
            # the #HY000 sql-state marker in our ERR packets is only valid
            # under it.
            + struct.pack("<H", 0x82FF)
            + b"\x21"  # charset utf8
            + struct.pack("<H", 0x0002)  # status: autocommit
            # capabilities upper: CLIENT_PLUGIN_AUTH (0x0008 here = 0x00080000)
            # — required because the greeting appends an auth-plugin name.
            + struct.pack("<H", 0x0008)
            + bytes([len(auth1) + len(auth2)])
            + b"\x00" * 10
            + auth2
            + b"mysql_native_password\x00"
        )
        seq = _write_packet(self.wfile, 0, greeting)
        try:
            resp = _read_packet(self.rfile)
        except ValueError:
            resp = None  # oversized garbage during auth: close
        if resp is None:
            return
        _write_packet(self.wfile, resp[0] + 1, _ok_packet())  # auth OK

        while True:
            try:
                pkt = _read_packet(self.rfile)
            except ValueError:
                # continuation chain past max_allowed_packet: the stock
                # ER_NET_PACKET_TOO_LARGE answer, then drop the session
                try:
                    _write_packet(self.wfile, 1, _err_packet(
                        1153, "Got a packet bigger than "
                        "'max_allowed_packet' bytes"))
                except OSError:
                    pass
                return
            if pkt is None:
                return
            _seq, payload = pkt
            if not payload:
                return
            cmd = payload[0]
            if cmd == COM_QUIT:
                return
            if cmd == COM_REGISTER_SLAVE:
                _write_packet(self.wfile, 1, _ok_packet())
                continue
            declared = getattr(self, "_checksum_mode", "CRC32")
            if (cmd in (COM_BINLOG_DUMP, COM_BINLOG_DUMP_GTID)
                    and srv.binlog_checksum == "CRC32"
                    and declared not in ("CRC32", "@@GLOBAL.BINLOG_CHECKSUM")):
                # replica declared a checksum mode it can verify that is
                # NOT what the binlog carries — refuse like a real master.
                # (A NONE-logging master streams trailer-less frames every
                # replica can parse, so no refusal in that mode.)
                _write_packet(self.wfile, 1, _err_packet(
                    1236,
                    "Slave can not handle replication events with the "
                    "checksum that master is configured to log",
                ))
                return
            if cmd in (COM_BINLOG_DUMP, COM_BINLOG_DUMP_GTID):
                # PARSE phase: malformed bytes (truncated fixed fields,
                # oversized lengths, garbage GTID sets) answer ERR and
                # drop the session — the ER_MALFORMED_PACKET discipline.
                # The catch covers ONLY the field extraction: a bug in
                # the streaming phase below must escape to handle_error/
                # handler_errors, not be masked as a client error.
                try:
                    if cmd == COM_BINLOG_DUMP:
                        if len(payload) < 11:  # pos(4) flags(2) server_id(4)
                            raise ValueError("truncated COM_BINLOG_DUMP")
                        pos = struct.unpack_from("<I", payload, 1)[0]
                        flags = struct.unpack_from("<H", payload, 5)[0]
                        # server_id(4) @7, file @11
                        fname = payload[11:].split(b"\x00")[0].decode() or None
                        args = (fname, pos)
                    else:
                        # flags(2) server_id(4) name_len(4) name pos(8)
                        # data_len(4) data
                        if len(payload) < 11:
                            raise ValueError("truncated COM_BINLOG_DUMP_GTID")
                        flags = struct.unpack_from("<H", payload, 1)[0]
                        name_len = struct.unpack_from("<I", payload, 7)[0]
                        p = 11 + name_len
                        p += 8  # pos — GTID attach resolves its own start
                        data_len = struct.unpack_from("<I", payload, p)[0]
                        args = (_parse_gtid_set(payload[p + 4 : p + 4 + data_len]),)
                except Exception:  # noqa: BLE001
                    try:
                        _write_packet(self.wfile, 1, _err_packet(
                            1835, "Malformed communication packet"))
                    except OSError:
                        pass
                    return
                # STREAM phase: flag 0x01 = BINLOG_DUMP_NON_BLOCK
                # (mysqlbinlog's default: EOF at end-of-chain). A real
                # replica leaves it CLEAR and the master keeps the stream
                # open, pushing appended events and heartbeats while idle.
                # Client-addressable conditions (unknown file, bad
                # position) surface as ValueError → ERR 1236 like a real
                # master's ER_MASTER_FATAL_ERROR_READING_BINLOG; genuine
                # server bugs escape to handle_error.
                try:
                    if cmd == COM_BINLOG_DUMP:
                        self._stream_dump(srv, *args, block=not (flags & 0x01))
                    else:
                        self._stream_dump_gtid(srv, *args,
                                               block=not (flags & 0x01))
                except OSError:
                    pass  # client went away mid-stream: clean close
                except ValueError as exc:
                    try:
                        _write_packet(self.wfile, 1,
                                      _err_packet(1236, str(exc)[:200]))
                    except OSError:
                        pass
                return  # dump holds the connection; done = close
            if cmd == COM_QUERY:
                # unparseable SQL answers ERR 1064 (ER_PARSE_ERROR) like
                # a real server; non-ValueError bugs escape to
                # handle_error instead of masquerading as client errors
                try:
                    self._answer_query(
                        srv, payload[1:].decode(errors="replace"))
                except OSError:
                    return
                except ValueError as exc:
                    try:
                        _write_packet(self.wfile, 1,
                                      _err_packet(1064, str(exc)[:200]))
                    except OSError:
                        return
                continue
            # anything else: OK (catalog.py owns the full SQL surface)
            _write_packet(self.wfile, 1, _ok_packet())

    def _send_result_set(self, names: list[str],
                         rows: list[list[str | None]]) -> None:
        """Text-protocol result set: column count, column definitions,
        EOF, row packets (lenenc strings, 0xFB = NULL), EOF."""
        seq = _write_packet(self.wfile, 1, bytes([len(names)]))  # lenenc count (< 251 cols)
        for n in names:
            seq = _write_packet(self.wfile, seq, _col_def(n))
        seq = _write_packet(self.wfile, seq, _eof_packet())
        for row in rows:
            blob = b"".join(
                b"\xfb" if v is None else _lenenc_bytes(str(v).encode())
                for v in row
            )
            seq = _write_packet(self.wfile, seq, blob)
        _write_packet(self.wfile, seq, _eof_packet())

    def _server_vars(self, srv: "MySQLDumpServer") -> dict:
        """The module-level variable table with per-SERVER overrides
        (binlog_checksum reflects what this master actually logs)."""
        if srv.binlog_checksum == "CRC32":
            return _SERVER_VARS
        return {**_SERVER_VARS,
                "binlog_checksum": srv.binlog_checksum,
                "master_binlog_checksum": srv.binlog_checksum}

    def _answer_query(self, srv: "MySQLDumpServer", sql: str) -> None:
        """The replication-preamble SQL surface a stock client issues
        before COM_BINLOG_DUMP (the reference CN answers the same set;
        catalog.py carries the engine's full Spark-side SQL commands):
        SELECT @@vars / VERSION() / UNIX_TIMESTAMP(), SHOW MASTER STATUS,
        SHOW BINARY LOGS, SHOW VARIABLES [LIKE], SET → OK."""
        import fnmatch
        import re as _re
        import time as _time

        q = sql.strip().rstrip(";").strip()
        u = q.upper()
        if u.startswith("SET "):
            # honor @master_heartbeat_period (nanoseconds, like a real
            # master): a stock replica sets it before COM_BINLOG_DUMP and
            # expects idle HEARTBEATs at that cadence on the live stream
            m = _re.match(
                r"SET\s+@MASTER_HEARTBEAT_PERIOD\s*=\s*(\d+)", u
            )
            if m:
                ns = int(m.group(1))
                # 0 = heartbeats OFF (the protocol's disable value), else
                # clamp to a 50ms floor like the server's 1ms granularity
                self._heartbeat_period = 0.0 if ns == 0 else max(ns / 1e9, 0.05)
            # checksum negotiation: a stock replica declares what it can
            # verify with SET @master_binlog_checksum = 'X' (libmysql
            # sends the expression form @@global.binlog_checksum == our
            # CRC32). Every wire file this endpoint serves carries CRC32,
            # so a replica declaring NONE must be refused at dump time
            # exactly like a real master (ER_MASTER_FATAL_ERROR 1236) —
            # streaming events it would mis-parse is worse than an error.
            mc = _re.match(
                r"SET\s+@MASTER_BINLOG_CHECKSUM\s*=\s*(?:'|\")?"
                r"(@@GLOBAL\.BINLOG_CHECKSUM|[A-Z0-9_]+)", u
            )
            if mc:
                self._checksum_mode = (
                    "CRC32" if mc.group(1) == "@@GLOBAL.BINLOG_CHECKSUM"
                    else mc.group(1)
                )
            _write_packet(self.wfile, 1, _ok_packet())
            return
        if u in ("SHOW MASTER STATUS", "SHOW BINARY LOG STATUS"):
            hit = master_status(srv.wire_dir)
            names = ["File", "Position", "Binlog_Do_DB",
                     "Binlog_Ignore_DB", "Executed_Gtid_Set"]
            rows = [] if hit is None else [
                [hit[0], str(hit[1]), "", "", hit[2]]
            ]
            self._send_result_set(names, rows)
            return
        if u in ("SHOW BINARY LOGS", "SHOW MASTER LOGS"):
            rows = [
                [f, str(os.path.getsize(os.path.join(srv.wire_dir, f)))]
                for f in srv.files()
            ]
            self._send_result_set(["Log_name", "File_size"], rows)
            return
        m = _re.match(r"SHOW (?:GLOBAL |SESSION )?VARIABLES(?:\s+LIKE\s+'([^']*)')?$",
                      q, _re.I)
        if m:
            pat = (m.group(1) or "%").replace("%", "*").replace("_", "?")
            rows = [
                [k, v] for k, v in sorted(self._server_vars(srv).items())
                if fnmatch.fnmatch(k, pat.lower())
            ]
            self._send_result_set(["Variable_name", "Value"], rows)
            return
        if u.startswith("SELECT"):
            # the stock mysql client's opening statement is
            # "select @@version_comment limit 1" — strip the LIMIT tail
            body = _re.sub(r"\s+LIMIT\s+\d+(?:\s+OFFSET\s+\d+)?\s*$", "",
                           q[6:], flags=_re.I)
            exprs = _split_select_list(body)
            names, vals = [], []
            for e in exprs:
                alias = None
                am = _re.match(r"(.*?)\s+AS\s+(\S+)$", e, _re.I)
                if am:
                    e, alias = am.group(1).strip(), am.group(2).strip("`'\"")
                ue = e.upper()
                if ue.startswith("@@"):
                    var = e[2:].split(".")[-1].lower()
                    names.append(alias or e)
                    vals.append(self._server_vars(srv).get(var))
                elif ue == "VERSION()":
                    names.append(alias or "VERSION()")
                    vals.append(_SERVER_VARS["version"])
                elif ue == "UNIX_TIMESTAMP()":
                    names.append(alias or "UNIX_TIMESTAMP()")
                    vals.append(str(int(_time.time())))
                elif ue.startswith("'") or ue.isdigit():
                    names.append(alias or e)
                    vals.append(e.strip("'"))
                elif "(" in e:
                    # an unsupported function call: a NULL here would be
                    # silently wrong — answer the way a server answers an
                    # unknown function
                    _write_packet(
                        self.wfile, 1,
                        _err_packet(1305, f"FUNCTION {e} does not exist"),
                    )
                    return
                else:
                    names.append(alias or e)
                    vals.append(None)
            self._send_result_set(names, [vals])
            return
        _write_packet(self.wfile, 1, _ok_packet())

    def _stream_dump(self, srv: "MySQLDumpServer", fname: str | None,
                     pos: int, block: bool = False) -> None:
        files = srv.files()
        if not files:
            _write_packet(self.wfile, 1, _err_packet(1236, "no binlog files"))
            return
        if fname is None or fname == "":
            fname = files[0]
        if fname not in files:
            _write_packet(
                self.wfile, 1,
                _err_packet(1236, f"could not find binlog file {fname!r}"),
            )
            return
        seq = 1
        none = srv.binlog_checksum == "NONE"
        cur, cur_off = fname, max(pos, 4)
        for name in files[files.index(fname):]:
            with open(os.path.join(srv.wire_dir, name), "rb") as fh:
                buf = fh.read()
            if buf[:4] != W.MAGIC:
                continue
            start = max(pos, 4) if name == fname else 4
            body = memoryview(buf)[4:]
            off = start - 4
            # per-FILE batched framing: every event packet goes into one
            # parts list and the socket sees ONE write per file
            parts: list = []
            while off + W.HEADER_LEN <= len(body):
                elen = struct.unpack_from("<I", body, off + 9)[0]
                if elen < W.HEADER_LEN + W.CHECKSUM_LEN or off + elen > len(body):
                    break
                seq = _event_packets(parts, seq, body[off : off + elen], none)
                off += elen
            if parts:
                self.wfile.write(b"".join(parts))
            cur, cur_off = name, off + 4
        if block:
            seq = self._follow_live(srv, cur, cur_off, seq)
        # end of chain (or live idle limit): EOF packet
        try:
            _write_packet(self.wfile, seq, b"\xfe\x00\x00\x02\x00")
        except OSError:
            pass  # replica already detached

    def _follow_live(self, srv: "MySQLDumpServer", cur: str, off: int,
                     seq: int) -> int:
        """Blocking-dump live loop (the master side of a replica that
        attached WITHOUT BINLOG_DUMP_NON_BLOCK — CdcServer.java:154-286
        keeps its stream open the same way): push CRC-complete appended
        frames, follow rotation once the tail file is drained AND
        size-stable across polls, and send HEARTBEAT events while idle.
        Ends after ``srv.live_idle_timeout`` seconds with no new bytes
        (a real master never ends; the slice bounds it) or when the
        replica detaches."""
        import time as _time
        import zlib as _zlib

        # a replica's SET @master_heartbeat_period (captured per
        # connection by _answer_query) overrides the server default;
        # an explicit 0 DISABLES heartbeats entirely
        hb = getattr(self, "_heartbeat_period", None)
        if hb is None:
            hb = srv.heartbeat_interval
        deadline = _time.monotonic() + srv.live_idle_timeout
        next_hb = _time.monotonic() + hb if hb > 0 else float("inf")
        stable_size = -1
        while _time.monotonic() < deadline:
            path = os.path.join(srv.wire_dir, cur)
            try:
                size = os.path.getsize(path)
            except OSError:
                size = 0
            sent = False
            if size > off:
                with open(path, "rb") as fh:
                    fh.seek(off)
                    tail = fh.read()
                span = 0
                while span + W.HEADER_LEN <= len(tail):
                    elen = struct.unpack_from("<I", tail, span + 9)[0]
                    if (elen < W.HEADER_LEN + W.CHECKSUM_LEN
                            or span + elen > len(tail)):
                        break
                    frame = tail[span : span + elen]
                    want = struct.unpack_from(
                        "<I", frame, elen - W.CHECKSUM_LEN
                    )[0]
                    if _zlib.crc32(frame[: -W.CHECKSUM_LEN]) & 0xFFFFFFFF != want:
                        break  # torn/in-flight: retry next poll
                    if srv.binlog_checksum == "NONE":
                        frame = _strip_frame_crc(frame)
                    try:
                        seq = _write_packet(self.wfile, seq, b"\x00" + frame)
                    except OSError:
                        return seq  # replica detached
                    span += elen
                if span:
                    off += span
                    sent = True
                    stable_size = -1
                    deadline = _time.monotonic() + srv.live_idle_timeout
            if not sent:
                files = srv.files()
                nxt = files[files.index(cur) + 1 : files.index(cur) + 2] \
                    if cur in files else []
                if nxt and off == size and size == stable_size:
                    cur, off, stable_size = nxt[0], 4, -1
                    deadline = _time.monotonic() + srv.live_idle_timeout
                    continue
                stable_size = size
                if _time.monotonic() >= next_hb:
                    try:
                        hb_frame = W.encode_heartbeat(cur)
                        if srv.binlog_checksum == "NONE":
                            hb_frame = _strip_frame_crc(hb_frame)
                        seq = _write_packet(
                            self.wfile, seq, b"\x00" + hb_frame,
                        )
                    except OSError:
                        return seq
                    next_hb = _time.monotonic() + hb
                _time.sleep(0.05)
        return seq

    def _file_prev_gtids(self, srv: "MySQLDumpServer",
                         name: str) -> GtidSet | None:
        """First PREVIOUS_GTIDS payload of *name*; None if the file's
        head carries none (a non-GTID-framed export — start resolution
        must not scan past it). Reads event headers only and stops at the
        first non-bookkeeping event, so resolving a long chain costs
        O(file-head bytes) per file, never whole-file reads."""
        with open(os.path.join(srv.wire_dir, name), "rb") as fh:
            if fh.read(4) != W.MAGIC:
                return None
            while True:
                head = fh.read(W.HEADER_LEN)
                if len(head) < W.HEADER_LEN:
                    return None
                elen = struct.unpack_from("<I", head, 9)[0]
                if elen < W.HEADER_LEN + W.CHECKSUM_LEN:
                    return None
                tc = head[4]
                if tc == W.PREVIOUS_GTIDS_LOG_EVENT:
                    rest = fh.read(elen - W.HEADER_LEN)
                    if len(rest) < elen - W.HEADER_LEN:
                        return None
                    return _parse_gtid_set(rest[: -W.CHECKSUM_LEN])
                if tc != W.FORMAT_DESCRIPTION_EVENT:
                    return None  # past the file head: no bookkeeping here
                fh.seek(elen - W.HEADER_LEN, 1)

    def _stream_dump_gtid(self, srv: "MySQLDumpServer",
                          executed: GtidSet, block: bool = False) -> None:
        """COM_BINLOG_DUMP_GTID: resolve the replica's executed-GTID set
        to a start file (latest file whose PREVIOUS_GTIDS ⊆ executed —
        the server's Gtid_state::find lookup), then stream the chain
        skipping every transaction group whose GTID the replica already
        has. Requires GTID-framed wire files (export_wire_files with
        gtid framing on); the dump contract is CdcServer.java:154,
        GTID event codes LogEvent.java:161-171."""
        files = srv.files()
        if not files:
            _write_packet(self.wfile, 1, _err_packet(1236, "no binlog files"))
            return
        start_idx = None
        for i, name in enumerate(files):
            prev = self._file_prev_gtids(srv, name)
            if prev is None:
                # un-bookkept file: attach from the chain head and let the
                # per-transaction skip below do the filtering
                if i == 0:
                    start_idx = 0
                break
            if _gtid_subset(prev, executed):
                start_idx = i
            else:
                break  # PREVIOUS_GTIDS grows monotonically along the chain
        if start_idx is None:
            _write_packet(self.wfile, 1, _err_packet(
                1236,
                "Cannot replicate: required binary logs have been purged",
            ))
            return
        seq = 1
        none = srv.binlog_checksum == "NONE"
        cur, cur_off = files[start_idx], 4
        for name in files[start_idx:]:
            with open(os.path.join(srv.wire_dir, name), "rb") as fh:
                buf = fh.read()
            if buf[:4] != W.MAGIC:
                continue
            body, off, skip = memoryview(buf)[4:], 0, False
            in_group = False  # explicit BEGIN/XA START opened current group
            # GCN/SEQUENCE carriers precede their transaction's GTID
            # (render order: GCN, GTID, BEGIN, …, XID) — hold them until
            # the skip decision so they share their OWN txn's fate, not
            # the previous one's
            pending: list = []
            parts: list = []  # one write per file, as in _stream_dump
            while off + W.HEADER_LEN <= len(body):
                elen = struct.unpack_from("<I", body, off + 9)[0]
                if elen < W.HEADER_LEN + W.CHECKSUM_LEN or off + elen > len(body):
                    break
                tc = body[off + 4]
                frame = body[off : off + elen]
                if tc in (W.GCN_EVENT, W.SEQUENCE_EVENT):
                    pending.append(frame)
                    off += elen
                    continue
                if tc == W.GTID_LOG_EVENT:
                    # commit_flag(1) sid(16) gno(8) — group starts here
                    sid = bytes(body[off + 20 : off + 36])
                    gno = struct.unpack_from("<q", body, off + 36)[0]
                    skip = _gtid_covers(executed, sid, gno)
                    in_group = False  # no explicit BEGIN/XA START seen yet
                elif tc in (W.FORMAT_DESCRIPTION_EVENT,
                            W.PREVIOUS_GTIDS_LOG_EVENT, W.ROTATE_EVENT):
                    skip = False  # bookkeeping always flows; groups don't span files
                elif tc == W.ANONYMOUS_GTID_LOG_EVENT:
                    # anonymous groups are never in the replica's executed
                    # set — always stream them
                    skip = False
                if not skip:
                    for held in pending:
                        seq = _event_packets(parts, seq, held, none)
                    seq = _event_packets(parts, seq, frame, none)
                pending = []
                if tc == W.XID_EVENT:
                    # transaction group ends at its XID: the skip decision
                    # must not leak onto a following anonymous
                    # (non-GTID-framed) transaction's events
                    skip = False
                    in_group = False
                elif tc == W.QUERY_EVENT:
                    # groups may also terminate at a QUERY event — COMMIT
                    # / ROLLBACK text or an implicit-commit DDL (which is
                    # its whole group). BEGIN / XA START open a group and
                    # statement-era DML QUERYs sit inside one, so none of
                    # those clears skip (_query_ends_group); a TEMPORARY
                    # DDL ends the group ONLY when standalone (no opener).
                    # The opener latch is tracked UNconditionally — not
                    # just while skipping — so a skip source introduced
                    # mid-group can never observe a stale in_group=False.
                    # Bounds-check every derived offset against the frame
                    # end: the loop guard only proves elen >= 27, so a
                    # truncated/alien QUERY frame must leave skip alone
                    # rather than parse adjacent bytes.
                    b0 = off + W.HEADER_LEN
                    if elen >= W.HEADER_LEN + 13 + W.CHECKSUM_LEN:
                        dlen = body[b0 + 8]
                        svlen = struct.unpack_from("<H", body, b0 + 11)[0]
                        q_lo = b0 + 13 + svlen + dlen + 1
                        q_hi = off + elen - W.CHECKSUM_LEN
                        if q_lo <= q_hi:
                            q = bytes(body[q_lo:q_hi]).decode(
                                errors="replace").strip()
                            words = [w.upper() for w in q.split(None, 2)[:2]]
                            if words[:1] == ["BEGIN"] or words == ["XA", "START"]:
                                in_group = True
                            elif _query_ends_group(q, in_group=in_group):
                                skip = False
                                in_group = False
                elif tc == W.XA_PREPARE_EVENT:
                    # an XA transaction's group ends at its XA_PREPARE
                    # (one-phase or not) — the XA COMMIT arrives later as
                    # its OWN GTID-framed group
                    skip = False
                off += elen
            if parts:
                self.wfile.write(b"".join(parts))
            cur, cur_off = name, off + 4
        if block:
            # auto-position replicas block by default too: after catch-up
            # the stream stays open and newly-appended transactions push
            # live (fresh GTIDs are by construction not in the replica's
            # executed set, so no skip evaluation is needed on the tail)
            seq = self._follow_live(srv, cur, cur_off, seq)
        try:
            _write_packet(self.wfile, seq, b"\xfe\x00\x00\x02\x00")
        except OSError:
            pass  # replica already detached


class _Server(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def handle_error(self, request, client_address):  # noqa: D102
        # an exception ESCAPING a handler is a server bug (a real
        # master answers garbage with ERR or a close, never a crashed
        # session thread — CdcServer.java:154's error discipline).
        # Record it where tests can assert emptiness instead of letting
        # socketserver dump a traceback to stderr and carry on.
        import traceback

        ds = getattr(self, "dump_server", None)
        if ds is not None:
            ds.handler_errors.append(traceback.format_exc())
        else:  # pragma: no cover - server wired without owner
            super().handle_error(request, client_address)


class MySQLDumpServer:
    """Serve a wire-binlog directory over the MySQL protocol."""

    def __init__(self, wire_dir: str, host: str = "127.0.0.1", port: int = 0,
                 live_idle_timeout: float = 10.0,
                 heartbeat_interval: float = 0.5,
                 binlog_checksum: str = "CRC32"):
        self.wire_dir = wire_dir
        #: what this master LOGS (binlog_checksum): "CRC32" (default —
        #: every in-repo wire file carries CRC32 trailers) or "NONE" (a
        #: binlog_checksum=NONE master: non-FDE frames stream WITHOUT
        #: trailers — stored CRC32 bytes are stripped on the wire — and
        #: the FDE keeps its stamped footer with alg byte 0 at the fixed
        #: event_size-5 offset, so the replica sees exactly what a NONE
        #: master writes). The checksum negotiation (ERR 1236 for a
        #: replica that cannot verify what we log) keys off this.
        self.binlog_checksum = binlog_checksum.upper()
        #: blocking dumps (replica attach without BINLOG_DUMP_NON_BLOCK)
        #: end after this many idle seconds — a real master never ends;
        #: the slice bounds it so tests and ad-hoc consumers terminate
        self.live_idle_timeout = live_idle_timeout
        self.heartbeat_interval = heartbeat_interval
        #: tracebacks of exceptions that ESCAPED a handler thread — a
        #: malformed/adversarial client must yield ERR or a clean close,
        #: never an unhandled exception; the protocol fuzz asserts this
        #: stays empty (test_mysql_dump.py)
        self.handler_errors: list[str] = []
        self._srv = _Server((host, port), _Handler)
        self._srv.dump_server = self  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    def files(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.wire_dir)
            if f.startswith("binlog.") and f.split(".")[-1].isdigit()
        )

    @property
    def address(self) -> tuple[str, int]:
        return self._srv.server_address[:2]

    def start(self) -> tuple[str, int]:
        # poll_interval: socketserver's serve_forever only notices
        # shutdown() between selector timeouts — the 0.5s default put a
        # constant ~1s of pure wait inside every `with MySQLDumpServer`
        # attach (r14 profile: the sf0.1 dump fetch read EXACTLY 1.004s
        # regardless of bytes); 20ms bounds the shutdown wait without
        # measurable idle cost (one selector wake per 20ms, accept path
        # unchanged)
        self._thread = threading.Thread(
            target=lambda: self._srv.serve_forever(poll_interval=0.02),
            daemon=True)
        self._thread.start()
        return self.address

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "MySQLDumpServer":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()


# -- minimal replica-side client (protocol exerciser) -----------------------

def binlog_dump_fetch(host: str, port: int, file_name: str = "",
                      pos: int = 4, server_id: int = 99,
                      block: bool = False, timeout: float = 30.0,
                      files: int | None = None) -> bytes:
    """Attach like a replica: handshake → COM_BINLOG_DUMP → collect the
    raw event bytes from the event packets until EOF. Returns bytes that
    feed straight into ``binlog_wire.decode_events`` — a relay log.

    ``block=True`` leaves BINLOG_DUMP_NON_BLOCK clear (a real replica's
    posture): the server keeps the stream open, pushing appended events
    and HEARTBEAT filler until its live-idle limit ends the dump.

    ``files=k`` reads k chain files and hangs up: the fetch stops before
    the event that would open file k+1, or at EOF. A file is opened by
    its FDE (or, for a dump that starts mid-file, by the dump's first
    event), so a file that ends without a ROTATE (a crashed master's)
    cannot run the fetch into its neighbour's events. Artificial events
    (flag ``LOG_EVENT_ARTIFICIAL_F``, a real master's fake ROTATE) open
    nothing. The server sees the hang-up as a client that went away."""
    with socket.create_connection((host, port), timeout=timeout) as sock:
        rf = sock.makefile("rb")
        wf = sock.makefile("wb")
        greet = _read_packet(rf)
        assert greet is not None and greet[1][0] == 0x0A, "bad greeting"
        # HandshakeResponse41: capabilities, max packet, charset, 23 zeros,
        # user, empty auth response
        resp = (
            struct.pack("<I", 0x0200 | 0x8000)  # PROTOCOL_41 | SECURE_CONN
            + struct.pack("<I", 1 << 24)
            + b"\x21" + b"\x00" * 23
            + b"replica\x00" + b"\x00"
        )
        _write_packet(wf, greet[0] + 1, resp)
        ok = _read_packet(rf)
        assert ok is not None and ok[1][:1] == b"\x00", "auth rejected"
        dump = (
            bytes([COM_BINLOG_DUMP])
            + struct.pack("<I", pos)
            + struct.pack("<H", 0 if block else 0x01)  # NON_BLOCK flag
            + struct.pack("<I", server_id)
            + file_name.encode()
        )
        _write_packet(wf, 0, dump)
        return _collect_event_packets(rf, files)


def binlog_dump_gtid_fetch(host: str, port: int, executed: GtidSet,
                           server_id: int = 99, block: bool = False,
                           timeout: float = 30.0) -> bytes:
    """Attach like a GTID replica: handshake → COM_BINLOG_DUMP_GTID with
    the executed-GTID set → collect raw event bytes until EOF. The server
    resolves the start file from its PREVIOUS_GTIDS chain and skips every
    transaction the set already covers."""
    with socket.create_connection((host, port), timeout=timeout) as sock:
        rf = sock.makefile("rb")
        wf = sock.makefile("wb")
        greet = _read_packet(rf)
        assert greet is not None and greet[1][0] == 0x0A, "bad greeting"
        resp = (
            struct.pack("<I", 0x0200 | 0x8000)
            + struct.pack("<I", 1 << 24)
            + b"\x21" + b"\x00" * 23
            + b"replica\x00" + b"\x00"
        )
        _write_packet(wf, greet[0] + 1, resp)
        ok = _read_packet(rf)
        assert ok is not None and ok[1][:1] == b"\x00", "auth rejected"
        data = encode_gtid_set(executed)
        dump = (
            bytes([COM_BINLOG_DUMP_GTID])
            # BINLOG_THROUGH_GTID (0x04) | NON_BLOCK unless blocking
            + struct.pack("<H", 0x04 | (0 if block else 0x01))
            + struct.pack("<I", server_id)
            + struct.pack("<I", 0)  # name_len: server resolves the file
            + struct.pack("<Q", 4)
            + struct.pack("<I", len(data))
            + data
        )
        _write_packet(wf, 0, dump)
        return _collect_event_packets(rf)


def _read_lenenc_str(buf: bytes, pos: int) -> tuple[bytes | None, int]:
    first = buf[pos]
    if first == 0xFB:
        return None, pos + 1
    if first < 251:
        ln, pos = first, pos + 1
    elif first == 0xFC:
        ln, pos = struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    elif first == 0xFD:
        ln, pos = int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    else:
        ln, pos = struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9
    return bytes(buf[pos : pos + ln]), pos + ln


def query(host: str, port: int, sql: str
          ) -> tuple[list[str], list[list[str | None]]]:
    """Issue one COM_QUERY like a stock client and parse the text-protocol
    response: returns (column_names, rows); an OK (e.g. for SET) returns
    ([], []); a server ERR raises."""
    with socket.create_connection((host, port), timeout=30) as sock:
        rf = sock.makefile("rb")
        wf = sock.makefile("wb")
        greet = _read_packet(rf)
        assert greet is not None and greet[1][0] == 0x0A, "bad greeting"
        resp = (
            struct.pack("<I", 0x0200 | 0x8000)
            + struct.pack("<I", 1 << 24)
            + b"\x21" + b"\x00" * 23
            + b"client\x00" + b"\x00"
        )
        _write_packet(wf, greet[0] + 1, resp)
        ok = _read_packet(rf)
        assert ok is not None and ok[1][:1] == b"\x00", "auth rejected"
        _write_packet(wf, 0, b"\x03" + sql.encode())
        first = _read_packet(rf)
        assert first is not None
        p = first[1]
        if p[:1] == b"\x00":
            return [], []
        if p[:1] == b"\xff":
            raise ValueError(p[9:].decode(errors="replace"))
        n_cols = p[0]  # lenenc, < 251 in this surface
        names: list[str] = []
        for _ in range(n_cols):
            pkt = _read_packet(rf)
            assert pkt is not None
            buf, pos = pkt[1], 0
            parts = []
            for _f in range(5):  # def, schema, table, org_table, name
                v, pos = _read_lenenc_str(buf, pos)
                parts.append(v)
            names.append((parts[4] or b"").decode())
        eof = _read_packet(rf)
        assert eof is not None and eof[1][:1] == b"\xfe"
        rows: list[list[str | None]] = []
        while True:
            pkt = _read_packet(rf)
            assert pkt is not None
            buf = pkt[1]
            if buf[:1] == b"\xfe" and len(buf) < 9:
                break
            pos, row = 0, []
            for _ in range(n_cols):
                v, pos = _read_lenenc_str(buf, pos)
                row.append(None if v is None else v.decode())
            rows.append(row)
        return names, rows


#: LOG_EVENT_ARTIFICIAL_F: the event header flag of events a master
#: makes up for the replica (the fake ROTATE that opens a dump)
_ARTIFICIAL_F = 0x20


def _collect_event_packets(rf, files: int | None = None) -> bytes:
    # NOTE (r14): a chunked read1+offset-arithmetic rewrite of this loop
    # was tried and MEASURED SLOWER (interleaved A/B: 0.80-0.90s old vs
    # 0.92-1.02s chunked for the 190k-packet sf0.1 fetch) — the two
    # BufferedReader.read(n) calls per packet are C-level and beat
    # Python-side buffer slicing; reverted. The fetch's former constant
    # 1.0s was the server's serve_forever poll_interval, fixed in
    # MySQLDumpServer.start.
    out = bytearray()
    opened = 0  # chain files begun (see binlog_dump_fetch's ``files``)
    while True:
        pkt = _read_packet(rf)
        if pkt is None:
            break
        payload = pkt[1]
        if payload[:1] == b"\xfe" and len(payload) < 9:
            break  # EOF
        if payload[:1] == b"\xff":
            raise ValueError(f"server error: {payload[9:].decode(errors='replace')}")
        assert payload[:1] == b"\x00"
        # payload = OK byte + event: type at 1+4, flags' low byte at 1+17
        if (files is not None and len(payload) > W.HEADER_LEN
                and not payload[18] & _ARTIFICIAL_F
                and (opened == 0 or payload[5] == W.FORMAT_DESCRIPTION_EVENT)):
            if opened == files:
                break
            opened += 1
        out += payload[1:]
    return bytes(out)


def plan_runs(logs: list[tuple[str, int]], n: int) -> list[list[str]]:
    """Cut a binlog chain — ``(Log_name, File_size)`` rows of SHOW BINARY
    LOGS, in chain order — into at most *n* contiguous runs of whole
    files, balanced by size: run *i* closes once the chain's bytes so far
    reach *i* shares of ``ceil(total / n)``, and once the files left fit
    one per remaining run, each gets a run of its own. So a chain of at
    most *n* files gets one run per file."""
    if not logs:
        return []
    share = -(-sum(size for _, size in logs) // n)
    runs: list[list[str]] = [[]]
    cum = 0
    for i, (name, size) in enumerate(logs):
        runs[-1].append(name)
        cum += size
        left = len(logs) - i - 1
        if left and (cum >= len(runs) * share or left <= n - len(runs)):
            runs.append([])
    return runs


def dump_decode(spark, host: str, port: int):
    """Parallel position-based attach: decode a dump server's whole chain
    in one Spark job, with no driver-side fetch and no spool. The driver
    lists the chain (SHOW BINARY LOGS) and cuts it into at most
    ``defaultParallelism`` runs of files (`plan_runs`); task *i* of
    ``spark.range(runs).mapInPandas`` opens its own COM_BINLOG_DUMP
    (NON_BLOCK) at (first file of run *i*, 4), reads the run's files
    (`binlog_dump_fetch` ``files=``) and decodes them in place through
    `binlog_wire.binlog_to_events`' projection. Every run opens with its
    own file's FDE, so it decodes standalone, a binlog_checksum=NONE
    chain included. Executors must reach ``host:port``, and the server
    must stay up until the frame has run. Returns the (db, tbl, action,
    pk, value) frame, or None when the server lists no files."""
    _, logs = query(host, port, "SHOW BINARY LOGS")
    runs = plan_runs([(name, int(size)) for name, size in logs],
                     spark.sparkContext.defaultParallelism)
    if not runs:
        return None

    def fetch_decode(batches):
        import pandas as pd

        for pdf in batches:
            for i in pdf["id"]:
                run = runs[i]
                blob = binlog_dump_fetch(host, port, run[0], 4, files=len(run))
                yield from W._decode_event_blobs(
                    [pd.DataFrame({"payload": [blob]})])

    return spark.range(0, len(runs), 1, len(runs)).mapInPandas(
        fetch_decode, W.EVENTS_DDL)
