"""Minimal PostgreSQL wire-protocol v3 client (simple-query flow only).

Standard library only: startup, clear-text password, ``Query`` and the
reply stream up to ``ReadyForQuery``.  Each reply records when the first
``DataRow`` arrived, how many rows came back and how many bytes the
server sent, so the benchmark can split a statement's latency into time
to first row and delivery.
"""

from __future__ import annotations

import socket
import struct
import time
from dataclasses import dataclass, field
from typing import List, Optional


@dataclass
class Reply:
    rows: List[tuple] = field(default_factory=list)
    error: Optional[str] = None
    sent_at: float = 0.0
    first_row_at: Optional[float] = None
    last_row_at: Optional[float] = None
    done_at: float = 0.0
    nbytes: int = 0

    @property
    def latency_s(self) -> float:
        return self.done_at - self.sent_at


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class PgClient:
    def __init__(self, port: int, host: str = "127.0.0.1",
                 user: str = "bench", timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self._buf = bytearray()
        self._pos = 0
        body = (struct.pack("!I", 196608) + _cstr("user") + _cstr(user)
                + _cstr("database") + _cstr("yupana") + b"\x00")
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        tag, payload = self._read_msg()
        if tag != b"R" or struct.unpack("!I", payload[:4])[0] != 3:
            raise ConnectionError(f"unexpected auth request {tag!r}")
        pw = _cstr("bench")
        self.sock.sendall(b"p" + struct.pack("!I", len(pw) + 4) + pw)
        while True:
            tag, payload = self._read_msg()
            if tag == b"E":
                raise ConnectionError(_error_text(payload))
            if tag == b"Z":
                return

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) - self._pos < n:
            if self._pos:                     # drop what was consumed
                del self._buf[:self._pos]
                self._pos = 0
            chunk = self.sock.recv(max(65536, n - len(self._buf)))
            if not chunk:
                raise ConnectionError("server closed the connection")
            self._buf += chunk
        out = bytes(self._buf[self._pos:self._pos + n])
        self._pos += n
        return out

    def _read_msg(self):
        tag = self._read_exact(1)
        (ln,) = struct.unpack("!I", self._read_exact(4))
        return tag, self._read_exact(ln - 4)

    def query(self, sql: str) -> Reply:
        """Send one simple Query and read every message up to ReadyForQuery."""
        q = _cstr(sql)
        r = Reply(sent_at=time.perf_counter())
        self.sock.sendall(b"Q" + struct.pack("!I", len(q) + 4) + q)
        while True:
            tag, payload = self._read_msg()
            r.nbytes += 5 + len(payload)
            if tag == b"D":
                now = time.perf_counter()
                if r.first_row_at is None:
                    r.first_row_at = now
                r.last_row_at = now
                r.rows.append(_data_row(payload))
            elif tag == b"E":
                r.error = _error_text(payload)
            elif tag == b"Z":
                r.done_at = time.perf_counter()
                return r

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!I", 4))
        except OSError:
            pass
        self.sock.close()


def _data_row(payload: bytes) -> tuple:
    (n,) = struct.unpack_from("!H", payload, 0)
    off, vals = 2, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", payload, off)
        off += 4
        if ln < 0:
            vals.append(None)
        else:
            vals.append(payload[off:off + ln].decode())
            off += ln
    return tuple(vals)


def _error_text(payload: bytes) -> str:
    fields = {}
    for part in payload.split(b"\x00"):
        if part:
            fields[part[:1]] = part[1:].decode(errors="replace")
    return fields.get(b"M", "error")
