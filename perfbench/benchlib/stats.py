"""The benchmark's own arithmetic: percentiles and the tail rule, the
response digest, span self time and the failure fraction."""

import hashlib
import math

MASK64 = (1 << 64) - 1


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile. A
    tail percentile is reported only where this is at least 10."""
    return n - max(1, math.ceil(p / 100.0 * n))


def median(values):
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


class Digest:
    """Order-insensitive digest of a multiset of rows: the 64-bit wrapping
    sum of the first 8 bytes (little-endian) of each row's MD5. Matches
    `perfbench.Digest` on the server side."""

    def __init__(self):
        self.sum = 0
        self.rows = 0

    def add(self, row):
        if isinstance(row, str):
            row = row.encode("utf-8")
        self.sum = (self.sum + int.from_bytes(hashlib.md5(row).digest()[:8], "little")) & MASK64
        self.rows += 1

    @property
    def hex(self):
        return "%016x" % self.sum


def search_key(rec):
    """The identity of one /search record: type, topic, partition, offset."""
    return "%s|%s|%d|%d" % (rec["type"], rec["topic"], rec["partition"], rec["offset"])


def self_time(duration, child_busy):
    """A span's self time: its duration minus the time its (sequential,
    non-overlapping) children were busy."""
    return duration - sum(child_busy)


def failed_frac(attempted, failed):
    """Failed operations over attempted ones. Every operation that was
    started counts in the base, whether it failed or not."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted

