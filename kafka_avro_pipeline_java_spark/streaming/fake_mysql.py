"""In-process protocol-faithful MySQL server for tests (sqlite-backed).

The mirror of ``fake_broker.py`` for the database side: listens on a real
TCP socket, speaks handshake v10 + ``mysql_native_password`` auth +
COM_QUERY text resultsets (the exact subset ``mysql_wire.py`` implements
from the public protocol docs), and executes statements against sqlite so
transactions, rollbacks, and upserts behave for real. This is what lets
reference ops #24–25 (dynamic INSERT + typed binding into MySQL,
``MySQLProcessData.java:94-156``) EXECUTE end-to-end over real sockets in
a container with no MySQL and no JDBC driver. Any other command (a
server-side prepare, 0x16, included) gets error 1047 and the connection
keeps serving. Each resultset column gets one type over all its rows
(``_column_type``); BLOB and numeric columns carry charset 63 (binary).

Dialect bridge (the server's analog of a test double's canned behavior —
documented, bounded, and exercised by the parity tests):

- ``INSERT ... ON DUPLICATE KEY UPDATE <assigns>`` rewrites to sqlite's
  ``ON CONFLICT (<pk cols>) DO UPDATE SET <assigns>`` with
  ``VALUES(col)`` → ``excluded.col`` and ``GREATEST`` → ``MAX``; the
  conflict target comes from ``PRAGMA table_info`` (the real PK), not a
  hardcoded table list.
- ``SET ...`` session commands acknowledge with OK. Autocommit=0 is
  emulated by the server itself: BEGIN IMMEDIATE before a client's first
  statement, explicit COMMIT/ROLLBACK (IMMEDIATE because a deferred
  SELECT-then-INSERT transaction hits sqlite's upgrade-deadlock "database
  is locked" under concurrent writers — the busy timeout is not consulted
  on that path; taking the write lock up front serializes writers through
  the timeout instead, the innodb-lock-wait shape).

Concurrency: one sqlite connection per CLIENT connection against a shared
on-disk database with a busy timeout — writers serialize exactly like
innodb row-lock waits would at this scale, and each client's transaction
is isolated. Clients that disconnect mid-transaction roll back
(connection close == implicit rollback), matching server behavior.
"""

from __future__ import annotations

import os
import re
import secrets
import socket
import sqlite3
import struct
import tempfile
import threading

from .mysql_wire import (
    BINARY_CHARSET,
    COM_PING,
    COM_QUERY,
    COM_QUIT,
    TYPE_BLOB,
    TYPE_DOUBLE,
    TYPE_LONGLONG,
    TYPE_VAR_STRING,
    PacketIO,
    lenenc_int,
    lenenc_str,
    native_password_scramble,
)

_ODKU_RE = re.compile(r"\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+", re.IGNORECASE)
_VALUES_REF_RE = re.compile(r"VALUES\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)",
                            re.IGNORECASE)
_INSERT_TABLE_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)", re.IGNORECASE
)


def _ok_packet(affected: int = 0) -> bytes:
    return b"\x00" + lenenc_int(affected) + lenenc_int(0) + b"\x02\x00\x00\x00"


def _err_packet(code: int, msg: str) -> bytes:
    return (b"\xff" + struct.pack("<H", code) + b"#HY000"
            + msg.encode("utf-8", "replace"))


_EOF = b"\xfe\x00\x00\x02\x00"


def _coldef(name: str, type_code: int) -> bytes:
    # charset 63 (binary) on every non-string column, as MySQL sends it:
    # the client returns bytes for a charset-63 BLOB, never decoded text
    charset = 0x21 if type_code == TYPE_VAR_STRING else BINARY_CHARSET
    return (
        lenenc_str(b"def") + lenenc_str(b"") + lenenc_str(b"")
        + lenenc_str(b"") + lenenc_str(name.encode()) + lenenc_str(b"")
        + b"\x0c" + struct.pack("<HIBHBxx", charset, 1024, type_code, 0, 0)
    )


def _column_type(values) -> int:
    """One wire type for a whole resultset column. sqlite types values,
    not columns, so a column may hold an int and then a string; typing it
    from its first value would make the client parse 'abc' as an integer
    mid-resultset. Widening: int + float -> DOUBLE, any other mix ->
    VAR_STRING, all NULL -> VAR_STRING."""
    t = None
    for v in values:
        if v is None:
            continue
        if isinstance(v, int):  # bool included
            vt = TYPE_LONGLONG
        elif isinstance(v, float):
            vt = TYPE_DOUBLE
        elif isinstance(v, bytes):
            vt = TYPE_BLOB
        else:
            vt = TYPE_VAR_STRING
        if t is None or t == vt:
            t = vt
        elif {t, vt} == {TYPE_LONGLONG, TYPE_DOUBLE}:
            t = TYPE_DOUBLE
        else:
            return TYPE_VAR_STRING
    return TYPE_VAR_STRING if t is None else t


class FakeMySQLServer:
    """``with FakeMySQLServer(password="pw") as srv:`` →
    ``mysql_wire.connect("127.0.0.1", srv.port, "root", "pw", "testdb")``."""

    def __init__(self, user: str = "root", password: str = "",
                 db_path: str | None = None):
        self.user, self.password = user, password
        self._own_db = db_path is None
        if db_path is None:
            fd, db_path = tempfile.mkstemp(suffix=".fakemysql.sqlite")
            os.close(fd)
        self.db_path = db_path
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(32)
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._accept_thread = threading.Thread(target=self._accept_loop,
                                               daemon=True)
        self._accept_thread.start()

    # --- lifecycle ---
    def close(self) -> None:
        self._stop.set()
        try:
            # unblock accept()
            socket.create_connection(("127.0.0.1", self.port),
                                     timeout=1).close()
        except OSError:
            pass
        self._sock.close()
        for t in self._threads:
            t.join(timeout=5)
        if self._own_db:
            for suffix in ("", "-wal", "-shm"):
                try:
                    os.unlink(self.db_path + suffix)
                except FileNotFoundError:
                    pass

    def __enter__(self) -> "FakeMySQLServer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # --- networking ---
    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            if self._stop.is_set():
                conn.close()
                return
            t = threading.Thread(target=self._serve_client, args=(conn,),
                                 daemon=True)
            t.start()
            self._threads.append(t)

    def _serve_client(self, sock: socket.socket) -> None:
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        io = PacketIO(sock)
        # isolation_level=None: NO implicit transaction management from
        # the Python layer — the server emulates MySQL autocommit=0 itself
        # (BEGIN before the first statement, explicit COMMIT/ROLLBACK), so
        # DDL issued mid-transaction stays inside it (sqlite DDL is
        # transactional; Python's legacy implicit-commit-before-DDL would
        # silently break the sink's rows+ledger atomicity)
        db = sqlite3.connect(self.db_path, timeout=30,
                             check_same_thread=False, isolation_level=None)
        db.execute("PRAGMA busy_timeout=30000")
        try:
            if not self._auth(io):
                return
            while True:
                io.reset_seq()
                # command packets reset the sequence; read manually so the
                # response continues the same sequence numbering
                payload = io.read_packet()
                if not payload or payload[0] == COM_QUIT:
                    return
                if payload[0] == COM_PING:
                    io.write_packet(_ok_packet())
                    continue
                if payload[0] != COM_QUERY:
                    io.write_packet(_err_packet(1047, "unsupported command"))
                    continue
                self._run_query(io, db, payload[1:].decode("utf-8", "replace"))
        except (ConnectionError, OSError):
            pass
        finally:
            try:
                db.rollback()  # disconnect mid-transaction == rollback
            finally:
                db.close()
                sock.close()

    def _auth(self, io: PacketIO) -> bool:
        salt = secrets.token_bytes(20).replace(b"\x00", b"\x01")
        greeting = (
            b"\x0a" + b"8.0.0-fake-wire\x00"
            + struct.pack("<I", threading.get_ident() & 0xFFFFFFFF)
            + salt[:8] + b"\x00"
            + struct.pack("<H", 0xF7FF)        # capabilities (low)
            + b"\x21" + struct.pack("<H", 2)   # charset, status
            + struct.pack("<H", 0x0008 | 0x0080)  # caps high: PLUGIN_AUTH...
            + bytes([21]) + b"\x00" * 10
            + salt[8:] + b"\x00"
            + b"mysql_native_password\x00"
        )
        io.write_packet(greeting)
        resp = io.read_packet()
        # HandshakeResponse41: 4+4+1+23 fixed, then user NUL, then auth
        pos = 32
        end = resp.index(b"\x00", pos)
        user = resp[pos:end].decode()
        pos = end + 1
        alen = resp[pos]
        auth = resp[pos + 1:pos + 1 + alen]
        expect = native_password_scramble(self.password, salt)
        if user != self.user or auth != expect:
            io.write_packet(_err_packet(1045, f"Access denied for {user!r}"))
            return False
        io.write_packet(_ok_packet())
        return True

    # --- SQL execution ---
    def _run_query(self, io: PacketIO, db: sqlite3.Connection,
                   sql: str) -> None:
        stripped = sql.strip().rstrip(";").strip()
        up = stripped.upper()
        if up.startswith("SET "):
            io.write_packet(_ok_packet())
            return
        if up in ("COMMIT", "ROLLBACK"):
            if db.in_transaction:
                db.execute(stripped)
            io.write_packet(_ok_packet())
            return
        if up.startswith("BEGIN") or up.startswith("START TRANSACTION"):
            if not db.in_transaction:
                db.execute("BEGIN IMMEDIATE")
            io.write_packet(_ok_packet())
            return
        try:
            if not db.in_transaction:
                # MySQL autocommit=0 semantics. IMMEDIATE, not DEFERRED:
                # a deferred transaction that SELECTs (ledger probe) and
                # then INSERTs needs a SHARED->RESERVED lock upgrade,
                # and sqlite fails that upgrade with an IMMEDIATE
                # "database is locked" (deadlock avoidance — the busy
                # timeout is not consulted) when another writer holds
                # RESERVED. Taking the write lock up front serializes
                # concurrent partition transactions through the busy
                # timeout instead, like innodb lock waits would.
                db.execute("BEGIN IMMEDIATE")
            cur = db.execute(self._to_sqlite(db, stripped))
        except sqlite3.Error as e:
            io.write_packet(_err_packet(1064, str(e)))
            return
        if cur.description is None:
            io.write_packet(_ok_packet(max(cur.rowcount, 0)))
            return
        rows = cur.fetchall()
        names = [d[0] for d in cur.description]
        types = [_column_type(r[i] for r in rows) for i in range(len(names))]
        io.write_packet(lenenc_int(len(names)))
        for name, t in zip(names, types):
            io.write_packet(_coldef(name, t))
        io.write_packet(_EOF)
        for r in rows:
            out = b""
            for v in r:
                if v is None:
                    out += b"\xfb"
                else:
                    if isinstance(v, bytes):
                        s = v
                    elif isinstance(v, bool):
                        s = b"1" if v else b"0"
                    elif isinstance(v, float):
                        s = repr(v).encode()
                    else:
                        s = str(v).encode()
                    out += lenenc_str(s)
            io.write_packet(out)
        io.write_packet(_EOF)

    def _to_sqlite(self, db: sqlite3.Connection, sql: str) -> str:
        """MySQL → sqlite dialect bridge for the constructs this repo's
        SQL surface emits (see module docstring)."""
        m = _ODKU_RE.search(sql)
        if m:
            head, assigns = sql[:m.start()], sql[m.end():]
            tm = _INSERT_TABLE_RE.match(head)
            if not tm:
                raise sqlite3.OperationalError(
                    "ON DUPLICATE KEY UPDATE outside INSERT"
                )
            pk = [
                r[1]
                for r in db.execute(f"PRAGMA table_info({tm.group(1)})")
                if r[5] > 0
            ]
            if not pk:
                raise sqlite3.OperationalError(
                    f"{tm.group(1)} has no PRIMARY KEY for upsert"
                )
            assigns = _VALUES_REF_RE.sub(r"excluded.\1", assigns)
            assigns = re.sub(r"\bGREATEST\s*\(", "MAX(", assigns,
                             flags=re.IGNORECASE)
            sql = (f"{head} ON CONFLICT ({', '.join(pk)}) "
                   f"DO UPDATE SET {assigns}")
        return sql
