"""A minimal HTTP/1.1 client for kbrowse's chunked JSON-array responses.

It reads the socket in large blocks and only finds the chunk framing it
needs for timing while the response streams; the response is decoded and
checked after its last byte. (`http.client` reads a chunk at a time, and on
a 100k-record response its parsing, not the server, is the bottleneck.)
"""

import json
import socket
import time

from . import stats

PIONEER = b'{"type":"pioneer"}'
# The two chunks every array opens with: "[" and the pioneer record.
PREFIX = b"1\r\n[\r\n12\r\n" + PIONEER + b"\r\n"
TERMINATOR = b"\r\n0\r\n\r\n"


class Response:
    __slots__ = ("status", "t_send", "t_headers", "t_first", "t_last", "body", "error")

    def __init__(self):
        self.status = None
        self.t_send = self.t_headers = self.t_first = self.t_last = None
        self.body = b""
        self.error = None


def fetch(port, path, headers=None, timeout=170.0):
    """GET `path`; returns a Response with perf_counter timestamps of the
    send, the response headers, the first record chunk (the end of the
    response when the array is empty) and the last byte."""
    r = Response()
    extra = "".join(f"{k}: {v}\r\n" for k, v in (headers or {}).items())
    req = f"GET {path} HTTP/1.1\r\nHost: localhost\r\nConnection: close\r\n{extra}\r\n".encode()
    try:
        s = socket.create_connection(("127.0.0.1", port), timeout=timeout)
    except OSError as e:
        r.error = f"connect: {e}"
        return r
    try:
        s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        r.t_send = time.perf_counter()
        s.sendall(req)
        buf = bytearray()
        body_at = -1
        chunked = False
        length = None
        while True:
            data = s.recv(1 << 20)
            now = time.perf_counter()
            if not data:
                break
            buf += data
            if body_at < 0:
                i = buf.find(b"\r\n\r\n")
                if i < 0:
                    continue
                body_at = i + 4
                r.t_headers = now
                head = bytes(buf[:i]).decode("latin-1").split("\r\n")
                r.status = int(head[0].split()[1])
                for line in head[1:]:
                    k, _, v = line.partition(":")
                    k = k.strip().lower()
                    if k == "transfer-encoding" and "chunked" in v.lower():
                        chunked = True
                    elif k == "content-length":
                        length = int(v.strip())
            n = len(buf) - body_at
            if chunked:
                if r.t_first is None and n > len(PREFIX) + 3 and \
                        buf[body_at + len(PREFIX):body_at + len(PREFIX) + 3] != b"1\r\n":
                    r.t_first = now
                if buf.endswith(TERMINATOR) or n == 5 and buf.endswith(b"0\r\n\r\n"):
                    r.t_last = now
                    break
            elif length is not None and n >= length:
                r.t_last = now
                break
        if r.t_last is None:
            r.error = "connection closed before the end of the response"
        elif r.t_first is None:
            r.t_first = r.t_last
        r.body = bytes(buf[body_at:]) if body_at >= 0 else b""
    except OSError as e:
        r.error = f"socket: {e}"
    finally:
        s.close()
    return r


def dechunk(body):
    """The data of each chunk of a chunked body; raises ValueError on a
    malformed or unterminated body."""
    out = []
    pos = 0
    while True:
        eol = body.index(b"\r\n", pos)
        size = int(body[pos:eol].split(b";")[0], 16)
        if size == 0:
            return out
        start = eol + 2
        end = start + size
        if body[end:end + 2] != b"\r\n":
            raise ValueError("chunk overruns its length")
        out.append(body[start:end])
        pos = end + 2


class Failure(Exception):
    """A response that does not count as served; `cause` names why."""

    def __init__(self, cause):
        super().__init__(cause)
        self.cause = cause


def array_rows(resp):
    """The record chunks of a complete, pioneer-led JSON array closed by
    `]`. Both routes commit a 200 before executing, so a mid-stream failure
    arrives as a 200 whose array is never closed."""
    if resp.error:
        raise Failure("transport")
    if resp.status != 200:
        raise Failure(f"http_{resp.status}")
    try:
        chunks = dechunk(resp.body)
    except ValueError:
        raise Failure("bad_chunking")
    if len(chunks) < 2 or chunks[0] != b"[" or chunks[1] != PIONEER:
        raise Failure("no_pioneer")
    if chunks[-1] != b"]":
        raise Failure("truncated")
    rows = chunks[2:-1]
    if any(not c.startswith(b", ") for c in rows):
        raise Failure("bad_framing")
    return rows


def search_digest(rows):
    """Digest of /search records over (type, topic, partition, offset)."""
    try:
        recs = json.loads(b"[" + b",".join(c[2:] for c in rows) + b"]")
    except ValueError:
        raise Failure("bad_json")
    d = stats.Digest()
    for rec in recs:
        d.add(stats.search_key(rec))
    return d


def verbatim_digest(rows):
    """Digest of /pipeline rows, each exactly as the server sent it."""
    try:
        json.loads(b"[" + b",".join(c[2:] for c in rows) + b"]")
    except ValueError:
        raise Failure("bad_json")
    d = stats.Digest()
    for c in rows:
        d.add(c[2:])
    return d


def check(resp, ref, route):
    """Returns (rows, cause): cause is None when the response is a complete
    array whose row count and digest equal the in-process reference."""
    try:
        rows = array_rows(resp)
        d = search_digest(rows) if route == "search" else verbatim_digest(rows)
    except Failure as f:
        return 0, f.cause
    if d.rows != ref["rows"]:
        return d.rows, "row_count"
    if d.hex != ref["digest"]:
        return d.rows, "digest"
    return d.rows, None
