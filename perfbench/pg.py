"""Minimal PostgreSQL v3 frontend for the benchmark: startup without
auth and the simple query protocol, which is what `psql` sends for a
statement typed at its prompt."""

from __future__ import annotations

import socket
import struct


class PgError(Exception):
    """An ErrorResponse from the server (the message's `M` field)."""


class PgClient:
    def __init__(self, port: int, host: str = "127.0.0.1",
                 timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.buf = bytearray()
        body = (struct.pack(">i", 196608) + b"user\x00bench\x00"
                + b"database\x00xtdb\x00\x00")
        self.sock.sendall(struct.pack(">i", len(body) + 4) + body)
        while True:
            t, payload = self._read_msg()
            if t == b"E":
                raise PgError(_error_message(payload))
            if t == b"Z":
                return

    def _fill(self, n: int) -> None:
        while len(self.buf) < n:
            chunk = self.sock.recv(1 << 16)
            if not chunk:
                raise ConnectionResetError("server closed the connection")
            self.buf += chunk

    def _read_msg(self) -> tuple[bytes, bytes]:
        self._fill(5)
        t = bytes(self.buf[:1])
        (ln,) = struct.unpack(">i", self.buf[1:5])
        self._fill(1 + ln)
        payload = bytes(self.buf[5:1 + ln])
        del self.buf[:1 + ln]
        return t, payload

    def query(self, sql: str) -> tuple[list[str], list[tuple], str]:
        """Send one simple-protocol Query; return (column names, rows of
        text values or None, last command tag). Raises PgError after the
        server is ready again if any statement failed."""
        body = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack(">i", len(body) + 4) + body)
        cols: list[str] = []
        rows: list[tuple] = []
        tag = ""
        err = None
        while True:
            t, payload = self._read_msg()
            if t == b"T":
                cols = _row_description(payload)
            elif t == b"D":
                rows.append(_data_row(payload))
            elif t == b"C":
                tag = payload.rstrip(b"\x00").decode()
            elif t == b"E":
                err = _error_message(payload)
            elif t == b"Z":
                if err is not None:
                    raise PgError(err)
                return cols, rows, tag

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack(">i", 4))
        finally:
            self.sock.close()


def _row_description(p: bytes) -> list[str]:
    (n,) = struct.unpack(">h", p[:2])
    off, names = 2, []
    for _ in range(n):
        end = p.index(b"\x00", off)
        names.append(p[off:end].decode())
        off = end + 1 + 18
    return names


def _data_row(p: bytes) -> tuple:
    (n,) = struct.unpack(">h", p[:2])
    off, vals = 2, []
    for _ in range(n):
        (ln,) = struct.unpack(">i", p[off:off + 4])
        off += 4
        if ln < 0:
            vals.append(None)
        else:
            vals.append(p[off:off + ln].decode())
            off += ln
    return tuple(vals)


def _error_message(p: bytes) -> str:
    fields = {}
    for part in p.split(b"\x00"):
        if part:
            fields[part[:1]] = part[1:].decode(errors="replace")
    return f"{fields.get(b'C', '?')}: {fields.get(b'M', '')}"
