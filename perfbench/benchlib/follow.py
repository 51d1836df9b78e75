"""The `follow` workload's two halves: an open-loop producer that appends
seeded record files to a watched directory, and clients that hold a
`/search?...&follow` response open and time every record they receive."""

import json
import os
import random
import re
import socket
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from .client import PIONEER, Failure

SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                    ("user_id", pa.int64()), ("event_type", pa.string()),
                    ("value", pa.float64()), ("props", pa.string())])
FIRST_EVENT_ID = 10_000_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def java_string_hash(s):
    """`String.hashCode` of a Java string, as `Integer.toHexString` prints it."""
    b = s.encode("utf-16-be")
    h = 0
    for i in range(0, len(b), 2):
        h = (31 * h + (b[i] << 8 | b[i + 1])) & 0xFFFFFFFF
    return "%x" % h


def stream_dir(fixture_dir):
    """The directory `graft.streaming.StreamingLog.streamDir` watches for a
    fixture directory."""
    return os.path.join("/tmp", "graft-stream-" + java_string_hash(fixture_dir))


def write_empty_events(path):
    pq.write_table(SCHEMA.empty_table(), path)


class Producer(threading.Thread):
    """Publishes `rate` files a second of `per_file` records each for
    `seconds`, on a fixed schedule that does not slow when the server does.
    Each record's `ts` is the time its file was due; a file appears under
    its final name only once completely written (hidden temp name, then
    rename). `created[event_id]` is the due time on the perf_counter clock."""

    def __init__(self, watch_dir, seed, rate, per_file, seconds, key_user):
        super().__init__(daemon=True)
        self.watch_dir, self.rate, self.per_file, self.seconds = watch_dir, rate, per_file, seconds
        self.rng = random.Random(seed)
        self.key_user = key_user
        self.records = []      # (event_id, user_id, props)
        self.created = {}
        self.late_ms = []
        self.error = None

    def run(self):
        try:
            self._run()
        except Exception as e:  # reported as a failed run, never swallowed
            self.error = repr(e)

    def _run(self):
        n_files = int(self.seconds * self.rate)
        t0_perf, t0_wall = time.perf_counter(), time.time()
        next_id = FIRST_EVENT_ID
        for i in range(n_files):
            due = t0_perf + i / self.rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            due_wall_us = int((t0_wall + i / self.rate) * 1e6)
            rows = {k: [] for k in SCHEMA.names}
            for _ in range(self.per_file):
                user = self.key_user if self.rng.random() < 0.2 else self.rng.randrange(1500)
                props = '{"k": %d}' % self.rng.randrange(100)
                rows["event_id"].append(next_id)
                rows["ts"].append(due_wall_us)
                rows["user_id"].append(user)
                rows["event_type"].append(self.rng.choice(EVENT_TYPES))
                rows["value"].append(round(self.rng.random() * 100, 2))
                rows["props"].append(props)
                self.records.append((next_id, user, props))
                self.created[next_id] = due
                next_id += 1
            tmp = os.path.join(self.watch_dir, ".part-%05d.parquet" % i)
            pq.write_table(pa.table(rows, schema=SCHEMA), tmp)
            os.rename(tmp, os.path.join(self.watch_dir, "part-%05d.parquet" % i))
            self.late_ms.append((time.perf_counter() - due) * 1000.0)


class FollowClient(threading.Thread):
    """Holds one follow response open until `stop` is set, recording the
    perf_counter time each record arrives. `accept(record)` is the client's
    own filter, re-checked on every record the server sends."""

    def __init__(self, port, path, accept, stop):
        super().__init__(daemon=True)
        self.port, self.path, self.accept, self.stop = port, path, accept, stop
        self.received = {}     # offset -> arrival time
        self.failures = []     # causes
        self.status = None
        self.opened = threading.Event()

    def run(self):
        try:
            self._run()
        except Failure as f:
            self.failures.append(f.cause)
        except OSError:
            self.failures.append("transport")
        finally:
            self.opened.set()

    def _run(self):
        s = socket.create_connection(("127.0.0.1", self.port), timeout=0.2)
        try:
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            s.sendall(f"GET {self.path} HTTP/1.1\r\nHost: localhost\r\n\r\n".encode())
            buf = b""
            body = None
            chunks = 0
            while not self.stop.is_set():
                try:
                    data = s.recv(1 << 16)
                except socket.timeout:
                    continue
                now = time.perf_counter()
                if not data:
                    raise Failure("closed_early")
                buf += data
                if body is None:
                    i = buf.find(b"\r\n\r\n")
                    if i < 0:
                        continue
                    self.status = int(buf[:i].split(b" ", 2)[1])
                    if self.status != 200:
                        raise Failure(f"http_{self.status}")
                    body, buf = True, buf[i + 4:]
                while True:
                    eol = buf.find(b"\r\n")
                    if eol < 0:
                        break
                    size = int(buf[:eol], 16)
                    if len(buf) < eol + 2 + size + 2:
                        break
                    data, buf = buf[eol + 2:eol + 2 + size], buf[eol + 4 + size:]
                    chunks += 1
                    if chunks == 1:
                        if data != b"[":
                            raise Failure("no_pioneer")
                    elif chunks == 2:
                        if data != PIONEER:
                            raise Failure("no_pioneer")
                        self.opened.set()
                    elif size == 0 or data == b"]":
                        raise Failure("closed_early")
                    else:
                        self._record(data, now)
        finally:
            s.close()

    def _record(self, data, now):
        if not data.startswith(b", "):
            raise Failure("bad_framing")
        rec = json.loads(data[2:])
        if rec.get("type") != "result" or not self.accept(rec):
            self.failures.append("wrong_record")
        elif rec["offset"] in self.received:
            self.failures.append("duplicate")
        else:
            self.received[rec["offset"]] = now


# The two follow clients: a pruned literal-key filter and an unpruned value
# regex. Each is (query, predicate on a received record, predicate on a
# produced (user_id, props) pair).
K_PATTERN = re.compile(r'\{"k": (\d+)\}')


def key_client(user):
    return (f"key-regex={user}&default-partition",
            lambda rec: str(rec["key"]) == str(user),
            lambda user_id, props: user_id == user)


def value_client():
    def in_range(k):
        return 10 <= k <= 49
    return ('val-regex=\\{"k": [1-4][0-9]\\}',
            lambda rec: isinstance(rec["value"], dict) and in_range(rec["value"].get("k", -1)),
            lambda user_id, props: in_range(int(K_PATTERN.fullmatch(props).group(1))))
