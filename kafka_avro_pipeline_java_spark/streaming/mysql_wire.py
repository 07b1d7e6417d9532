"""MySQL client/server wire protocol in pure Python — no driver, no jars.

The reference's consumer binds rows into MySQL through JDBC
(``MySQLProcessData.java:94-156`` dynamic INSERT + typed binding over
mysql-connector). This container ships no MySQL server and no JDBC
driver, so — same move as ``kafka_wire.py`` for the broker side — the
protocol itself is implemented from the public MySQL Client/Server
Protocol documentation (handshake v10, ``mysql_native_password`` auth,
COM_QUERY, text resultsets), giving the
repo an EXECUTED MySQL path over real TCP sockets:

- ``MySQLWireConnection`` — a DB-API 2.0 subset (cursor / execute /
  executemany / fetchall / commit / rollback) speaking the text protocol.
  It plugs directly into ``streaming/sink.py::ExactlyOnceDbSink`` with
  ``paramstyle="format"`` — the sink neither knows nor cares that the
  driver underneath is stdlib only.
- ``streaming/fake_mysql.py`` — the in-process protocol-faithful server
  (sqlite-backed) the tests run this client against, mirroring
  ``fake_broker.py``.

Scope (documented, not hidden): the COM_QUERY text protocol only.
Parameters are bound client-side with full literal escaping
(mysql-connector's non-prepared mode); the reference's typed
``setInt``/``setLong``/``setDouble``/``setString`` binding
(MySQLProcessData.java:110-125,132-156) becomes typed literals. Text
resultsets decode INT types to ``int``, DOUBLE/DECIMAL to ``float``,
charset-63 (binary) columns to ``bytes`` and the rest to ``str``.
``mysql_native_password`` auth (+ auth-switch), no TLS, no
multi-resultsets, no server-side prepared statements. That covers
everything the reference's SQL surface uses: CREATE TABLE / INSERT /
upsert / SELECT / BEGIN / COMMIT / ROLLBACK.

100 TB shape: connections are made per PARTITION TASK inside
``foreachPartition`` (the sink's contract) — 1,000 executors open 1,000
short-lived connections per micro-batch, which is the load profile MySQL
connection pools are sized for; row batches ride ``executemany`` as one
multi-row INSERT statement per call, so the per-row wire overhead is the
row itself, not a round-trip.
"""

from __future__ import annotations

import hashlib
import re
import socket
import struct

# --- capability flags (protocol constants, public docs) -------------------
CLIENT_LONG_PASSWORD = 0x00000001
CLIENT_FOUND_ROWS = 0x00000002
CLIENT_CONNECT_WITH_DB = 0x00000008
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_TRANSACTIONS = 0x00002000
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_MULTI_RESULTS = 0x00020000
CLIENT_PLUGIN_AUTH = 0x00080000

COM_QUIT = 0x01
COM_QUERY = 0x03
COM_PING = 0x0E

# column type codes (a subset; everything else decodes as str, or as
# bytes in a BINARY_CHARSET column)
TYPE_TINY = 0x01
TYPE_SHORT = 0x02
TYPE_LONG = 0x03
TYPE_FLOAT = 0x04
TYPE_DOUBLE = 0x05
TYPE_LONGLONG = 0x08
TYPE_INT24 = 0x09
TYPE_NEWDECIMAL = 0xF6
TYPE_BLOB = 0xFC
TYPE_VAR_STRING = 0xFD
TYPE_STRING = 0xFE

_INT_TYPES = {TYPE_TINY, TYPE_SHORT, TYPE_LONG, TYPE_LONGLONG, TYPE_INT24}
_FLOAT_TYPES = {TYPE_FLOAT, TYPE_DOUBLE, TYPE_NEWDECIMAL}

# column-definition charset of binary data (BLOB, VARBINARY; MySQL also
# tags numeric columns with it)
BINARY_CHARSET = 63


# --- primitives ------------------------------------------------------------
def lenenc_int(n: int) -> bytes:
    """Length-encoded integer (the protocol's varint)."""
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def read_lenenc_int(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    if first == 0xFE:
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9
    raise ValueError(f"invalid lenenc int head {first:#x}")


def lenenc_str(s: bytes) -> bytes:
    return lenenc_int(len(s)) + s


def read_lenenc_str(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = read_lenenc_int(buf, pos)
    return buf[pos:pos + n], pos + n


def native_password_scramble(password: str, salt: bytes) -> bytes:
    """``mysql_native_password``: SHA1(pwd) XOR SHA1(salt + SHA1(SHA1(pwd)))
    over the 20-byte salt (public auth-plugin spec)."""
    if not password:
        return b""
    h1 = hashlib.sha1(password.encode()).digest()
    h2 = hashlib.sha1(h1).digest()
    h3 = hashlib.sha1(salt[:20] + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, h3))


def escape_literal(v) -> str:
    """Client-side parameter binding for the text protocol: standard-SQL
    quote doubling, NOT backslash escapes — the connection pins
    ``sql_mode='NO_BACKSLASH_ESCAPES'`` at connect, so a real MySQL server
    parses these literals identically to sqlite/ANSI engines (backslashes,
    newlines, control bytes travel raw inside the length-prefixed packet).
    Doubled quotes are valid in EVERY MySQL sql_mode, so the encoding is
    safe even before the SET lands."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # repr() of non-finite floats yields the bare words inf/-inf/nan,
        # which MySQL cannot parse as literals (and DOUBLE cannot store) —
        # fail loudly client-side instead of shipping unparseable SQL.
        if v != v or v in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite float {v!r} is not bindable as a MySQL literal")
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return "x'" + bytes(v).hex() + "'"
    return "'" + str(v).replace("'", "''") + "'"


class PacketIO:
    """4-byte-header packet framing (3B little-endian length + 1B seq),
    shared by the client here and the fake server."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.seq = 0

    def reset_seq(self) -> None:
        self.seq = 0

    def _read_exact(self, n: int) -> bytes:
        chunks = []
        while n:
            b = self.sock.recv(n)
            if not b:
                raise ConnectionError("MySQL peer closed the connection")
            chunks.append(b)
            n -= len(b)
        return b"".join(chunks)

    def read_packet(self) -> bytes:
        head = self._read_exact(4)
        length = int.from_bytes(head[:3], "little")
        self.seq = (head[3] + 1) & 0xFF
        payload = self._read_exact(length)
        if length == 0xFFFFFF:  # multi-packet payload (≥16MB)
            return payload + self.read_packet()
        return payload

    def write_packet(self, payload: bytes) -> None:
        # split at 16MB-1 per the spec; sink batches stay far below this
        while True:
            chunk, payload = payload[:0xFFFFFF], payload[0xFFFFFF:]
            self.sock.sendall(
                len(chunk).to_bytes(3, "little") + bytes([self.seq]) + chunk
            )
            self.seq = (self.seq + 1) & 0xFF
            if len(chunk) < 0xFFFFFF:
                return


class MySQLError(Exception):
    def __init__(self, code: int, message: str):
        super().__init__(f"MySQL error {code}: {message}")
        self.code = code
        self.message = message


def _parse_err(payload: bytes) -> MySQLError:
    code = struct.unpack_from("<H", payload, 1)[0]
    msg = payload[3:]
    if msg[:1] == b"#":  # SQL-state marker
        msg = msg[6:]
    return MySQLError(code, msg.decode("utf-8", "replace"))


def _parse_ok(payload: bytes) -> tuple[int, int]:
    """→ (affected_rows, last_insert_id)."""
    pos = 1
    affected, pos = read_lenenc_int(payload, pos)
    last_id, pos = read_lenenc_int(payload, pos)
    return affected, last_id


# --- DB-API subset ----------------------------------------------------------
class MySQLWireCursor:
    def __init__(self, conn: "MySQLWireConnection"):
        self._conn = conn
        self.description = None
        self.rowcount = -1
        self._rows: list[tuple] = []
        self._idx = 0

    def execute(self, sql: str, params=None) -> None:
        if params is not None:
            sql = self._bind(sql, params)
        cols, rows, affected = self._conn._query(sql)
        self.description = (
            [(name, code, None, None, None, None, None) for name, code in cols]
            if cols is not None
            else None
        )
        self._rows, self._idx = rows or [], 0
        self.rowcount = affected if cols is None else len(self._rows)

    _VALUES_TAIL = re.compile(
        r"^(?P<head>.*\bVALUES\s*)\((?P<group>[^()]*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def executemany(self, sql: str, seq_of_params) -> None:
        seq = list(seq_of_params)
        if not seq:
            self.rowcount = 0
            return
        m = self._VALUES_TAIL.match(sql)
        # Multi-row rewrite is only valid for a plain INSERT ... VALUES (...)
        # where the matched tail group holds ALL the placeholders. A greedy
        # match on an upsert ending in "... ON DUPLICATE KEY UPDATE c =
        # VALUES(c)" latches onto that LAST "VALUES(c)" — a 0-placeholder
        # group with the real placeholders stranded in head — so require the
        # group to carry every %s of the statement and the head to contain
        # no ON DUPLICATE KEY UPDATE clause; otherwise run per-row.
        if (
            m
            and m.group("group").count("%s") == sql.count("%s") > 0
            and "ON DUPLICATE KEY UPDATE" not in m.group("head").upper()
        ):  # plain INSERT ... VALUES (...): ship ONE multi-row statement
            group = "(" + m.group("group") + ")"
            groups = [self._bind(group, params) for params in seq]
            self.execute(m.group("head") + ", ".join(groups))
            return
        total = 0
        for params in seq:
            self.execute(sql, params)
            total += max(self.rowcount, 0)
        self.rowcount = total

    def _bind(self, sql: str, params) -> str:
        parts = sql.split("%s")
        if len(parts) - 1 != len(params):
            raise ValueError(
                f"{len(parts) - 1} placeholders, {len(params)} params"
            )
        out = [parts[0]]
        for part, v in zip(parts[1:], params):
            out.append(escape_literal(v))
            out.append(part)
        return "".join(out)

    def fetchone(self):
        if self._idx >= len(self._rows):
            return None
        row = self._rows[self._idx]
        self._idx += 1
        return row

    def fetchall(self):
        rows = self._rows[self._idx:]
        self._idx = len(self._rows)
        return rows

    def close(self) -> None:
        self._rows = []


class MySQLWireConnection:
    """DB-API 2.0 subset over the raw wire. ``paramstyle`` is ``format``
    (%s), matching what ExactlyOnceDbSink emits for MySQL."""

    paramstyle = "format"

    def __init__(self, host: str, port: int, user: str, password: str = "",
                 database: str | None = None, timeout_s: float = 10.0):
        self.host, self.port = host, port
        sock = socket.create_connection((host, port), timeout=timeout_s)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._io = PacketIO(sock)
        self._handshake(user, password, database)
        # DB-API semantics: statements accumulate into an explicit
        # transaction until commit()/rollback() (MySQL defaults to
        # autocommit=1, so turn it off exactly like the real drivers do)
        self._query("SET autocommit=0")
        # quote-doubled literals parse identically on MySQL and ANSI
        # engines only with backslash escapes off (see escape_literal)
        self._query("SET sql_mode = 'NO_BACKSLASH_ESCAPES'")

    # --- connection phase ---
    def _handshake(self, user: str, password: str, database: str | None):
        payload = self._io.read_packet()
        if payload[:1] == b"\xff":
            raise _parse_err(payload)
        if payload[0] != 10:
            raise MySQLError(-1, f"unsupported handshake v{payload[0]}")
        pos = 1
        end = payload.index(b"\x00", pos)  # server version, NUL-terminated
        pos = end + 1
        pos += 4  # thread id
        salt = payload[pos:pos + 8]
        pos += 8 + 1  # auth-plugin-data-part-1 + filler
        cap_low = struct.unpack_from("<H", payload, pos)[0]
        pos += 2
        plugin_name = b"mysql_native_password"
        cap = cap_low
        if len(payload) > pos:
            pos += 1 + 2  # charset + status flags
            cap_high = struct.unpack_from("<H", payload, pos)[0]
            cap = cap_low | (cap_high << 16)
            pos += 2
            auth_len = payload[pos]
            pos += 1 + 10  # auth data len + reserved
            if cap & CLIENT_SECURE_CONNECTION:
                part2 = max(13, auth_len - 8)
                salt = salt + payload[pos:pos + part2].rstrip(b"\x00")
                pos += part2
            if cap & CLIENT_PLUGIN_AUTH:
                end = payload.index(b"\x00", pos)
                plugin_name = payload[pos:end]

        flags = (
            CLIENT_LONG_PASSWORD | CLIENT_PROTOCOL_41 | CLIENT_TRANSACTIONS
            | CLIENT_SECURE_CONNECTION | CLIENT_PLUGIN_AUTH
        )
        if database:
            flags |= CLIENT_CONNECT_WITH_DB
        auth = native_password_scramble(password, salt)
        resp = (
            struct.pack("<IIB23x", flags, 1 << 24, 0x21)  # utf8_general_ci
            + user.encode() + b"\x00"
            + bytes([len(auth)]) + auth
            + ((database.encode() + b"\x00") if database else b"")
            + b"mysql_native_password\x00"
        )
        self._io.write_packet(resp)
        payload = self._io.read_packet()
        if payload[:1] == b"\xfe" and len(payload) > 1:  # AuthSwitchRequest
            end = payload.index(b"\x00", 1)
            if payload[1:end] != b"mysql_native_password":
                raise MySQLError(
                    -1, f"unsupported auth switch to {payload[1:end]!r}"
                )
            new_salt = payload[end + 1:].rstrip(b"\x00")
            self._io.write_packet(
                native_password_scramble(password, new_salt)
            )
            payload = self._io.read_packet()
        if payload[:1] == b"\xff":
            raise _parse_err(payload)
        if payload[:1] != b"\x00":
            raise MySQLError(-1, "unexpected auth response")

    # --- command phase ---
    def _query(self, sql: str):
        """→ (cols | None, rows | None, affected_rows)."""
        self._io.reset_seq()
        self._io.write_packet(bytes([COM_QUERY]) + sql.encode())
        payload = self._io.read_packet()
        if payload[:1] == b"\xff":
            raise _parse_err(payload)
        if payload[:1] == b"\x00":
            affected, _ = _parse_ok(payload)
            return None, None, affected
        ncols, _ = read_lenenc_int(payload, 0)
        cols, binary = [], []
        for _ in range(ncols):
            cdef = self._io.read_packet()
            pos = 0
            for _ in range(4):  # catalog, schema, table, org_table
                _, pos = read_lenenc_str(cdef, pos)
            name, pos = read_lenenc_str(cdef, pos)
            _, pos = read_lenenc_str(cdef, pos)  # org_name
            charset = struct.unpack_from("<H", cdef, pos + 1)[0]
            type_code = cdef[pos + 1 + 2 + 4]  # after marker, charset, length
            cols.append((name.decode(), type_code))
            binary.append(charset == BINARY_CHARSET)
        self._expect_eof()
        rows = []
        while True:
            payload = self._io.read_packet()
            if payload[:1] == b"\xfe" and len(payload) < 9:
                break
            if payload[:1] == b"\xff":
                raise _parse_err(payload)
            pos, vals = 0, []
            for (_, type_code), is_binary in zip(cols, binary):
                if payload[pos] == 0xFB:  # NULL
                    vals.append(None)
                    pos += 1
                    continue
                raw, pos = read_lenenc_str(payload, pos)
                if type_code in _INT_TYPES:
                    vals.append(int(raw))
                elif type_code in _FLOAT_TYPES:
                    vals.append(float(raw))
                elif is_binary:  # BLOB/VARBINARY: bytes, as connectors do
                    vals.append(raw)
                else:
                    vals.append(raw.decode("utf-8", "replace"))
            rows.append(tuple(vals))
        return cols, rows, len(rows)

    def _expect_eof(self) -> None:
        payload = self._io.read_packet()
        if not (payload[:1] == b"\xfe" and len(payload) < 9):
            raise MySQLError(-1, "expected EOF packet")

    # --- DB-API surface ---
    def cursor(self) -> MySQLWireCursor:
        return MySQLWireCursor(self)

    def commit(self) -> None:
        self._query("COMMIT")

    def rollback(self) -> None:
        self._query("ROLLBACK")

    def ping(self) -> None:
        self._io.reset_seq()
        self._io.write_packet(bytes([COM_PING]))
        payload = self._io.read_packet()
        if payload[:1] != b"\x00":
            raise MySQLError(-1, "ping failed")

    def close(self) -> None:
        try:
            self._io.reset_seq()
            self._io.write_packet(bytes([COM_QUIT]))
        except OSError:
            pass
        finally:
            self._io.sock.close()


def connect(host: str, port: int, user: str, password: str = "",
            database: str | None = None, **kw) -> MySQLWireConnection:
    """mysql-connector-style module-level entry point."""
    return MySQLWireConnection(host, port, user, password, database, **kw)
