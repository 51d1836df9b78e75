"""Seeded request plans. The seed draws the parameters and the order; the
composition of a pass (how many requests of each kind) is fixed, and a run
serves a fixed number of passes, so every seed serves the same mix of work
and a faster commit serves the same requests, only sooner."""

import random
import urllib.parse

# One /search pass: every request kind PER_KIND times (24 requests). The
# kinds are the ones kbrowse's /search API offers; no record of real
# traffic sets their shares, so each kind gets the same count, and the
# per-kind aggregates in run.py weight them equally too. Every kind reads
# the archived `events` (and `clicks`) topics of the sf0.1 record log.
SEARCH_KINDS = [
    "key_pruned",   # literal key + default-partition: 1 of 10 partitions
    "key_regex",    # unpruned key regex, ~10 users
    "val_regex",    # unpruned value regex, ~1% of records
    "partitions",   # explicit partitions + print-offset heartbeats
    "tail",         # relative-offset tail window, last 100 per partition
    "ts_window",    # six-hour timestamp window
    "two_topic",    # events + clicks, key regex
    "dump",         # whole `events` topic, 100k records
]
PER_KIND = 3


# Each kind's parameters come from a small pool with weights 1/(i+1), so
# some requests repeat within a pass. The skew is a design choice, not one
# measured from traffic.
def _skewed(rng, pool, k):
    weights = [1.0 / (i + 1) for i in range(len(pool))]
    return rng.choices(pool, weights=weights, k=k)


T0_MS = 1704067200000  # 2024-01-01T00:00Z, start of the fixture's events
HOUR_MS = 3600 * 1000


def _search_pools(rng):
    two = ["%02d" % v for v in rng.sample(range(10, 100), 9)]
    return {
        "key_pruned": [f"topics=events&key-regex={u}&default-partition"
                       for u in rng.sample(range(1500), 12)],
        "key_regex": [f"topics=events&key-regex={p}[0-9]" for p in two[0:3]],
        "val_regex": ['topics=events&val-regex=\\{"k": %d\\}' % k
                      for k in rng.sample(range(100), 3)],
        "partitions": ["topics=events&partitions=%d,%d&print-offset=500&key-regex=%s[0-9]"
                       % (*rng.sample(range(10), 2), p) for p in two[3:6]],
        "tail": ["topics=%s&relative-offset=-100" % t for t in ("events", "clicks")],
        "ts_window": ["topics=events&start-timestamp=%d&stop-timestamp=%d"
                      % (T0_MS + h * HOUR_MS, T0_MS + (h + 6) * HOUR_MS)
                      for h in rng.sample(range(0, 29 * 24), 3)],
        "two_topic": [f"topics=events,clicks&key-regex={p}[0-9]" for p in two[6:9]],
        "dump": ["topics=events"],
    }


class Item:
    """One request of a pass: its route, path and the id of its reference."""
    __slots__ = ("kind", "route", "path", "ref")

    def __init__(self, kind, route, path, ref):
        self.kind, self.route, self.path, self.ref = kind, route, path, ref


def search_plan(seed, sf_dir):
    rng = random.Random(seed)
    pools = _search_pools(rng)
    queries = []
    for kind in SEARCH_KINDS:
        queries += [(kind, q) for q in _skewed(rng, pools[kind], PER_KIND)]
    rng.shuffle(queries)
    distinct = sorted({q for _, q in queries})
    ref_id = {q: f"s{i}" for i, q in enumerate(distinct)}
    items = []
    for kind, q in queries:
        full = f"bootstrap-servers={sf_dir}&{q}"
        path = "/search?" + urllib.parse.quote(full, safe="=&,-")
        items.append(Item(kind, "search", path, ref_id[q]))
    plan = {"search": [{"id": ref_id[q], "query": f"bootstrap-servers={sf_dir}&{q}"}
                       for q in distinct]}
    return items, plan


# The catalog pass: a fixed list of registered queries on the sf0.01
# fixture (a whole 204-query pass takes minutes on 4 cores, longer than a
# run may last). Construction-bound: the q150 trainer (21 driver jobs before
# its frame exists); the rest are single-stage corpus operators whose time
# is mostly execution, q21 with multibyte output. Left out for time: q102
# (q150's shape again), q104 (~4 s a request, a quarter of each pass),
# q121 (its first run builds sidecar tables for ~13 s) and q97 (at this
# fixture size its 0.8 MB response is not render-bound; search's 16 MB
# dumps are).
CATALOG = [
    "q150_adc_rerank", "q21_fingerprint", "q24_text_stats",
    "q25_simhash", "q35_langid", "q44_quality_flags", "q46_repetition", "q47_pii_scrub",
    "q53_corpus_stats",
]
# `/pipeline?dir=` takes a configured cluster name, never a path.
CATALOG_CLUSTER = "sf0.01"


def catalog_plan(seed):
    rng = random.Random(seed)
    names = list(CATALOG)
    rng.shuffle(names)
    items = [Item(n, "pipeline", f"/pipeline?name={n}&dir={CATALOG_CLUSTER}", f"p_{n}")
             for n in names]
    plan = {"pipeline": [{"id": f"p_{n}", "name": n, "dir": CATALOG_CLUSTER} for n in CATALOG]}
    return items, plan
