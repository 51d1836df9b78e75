#!/usr/bin/env python3
"""Serving benchmark: kbrowse's HTTP API (`graft.server.HttpService`) on a
warm server, driven by a separate load-generator process.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md): `search`, `catalog` and `follow`.
`--trace 0` prints the end-to-end metrics; `--trace 1` replays the same
seeded requests, alternating passes between the real routes and their
span-recording twin, and prints the per-layer metrics. The last line of
standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`; the lines before it are the run's report.
"""

import argparse
import collections
import hashlib
import json
import math
import multiprocessing
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from benchlib import client, follow, stats, workloads  # noqa: E402
from benchlib.server import Server, ServerError, XMX  # noqa: E402

WORK = os.path.join(build.ROOT, ".bench_build", "perfbench")
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
FIXTURES = {"sf0.1": os.path.join(TESTDATA, "sf0.1"), "sf0.01": os.path.join(TESTDATA, "sf0.01")}
SEARCH_SF = FIXTURES["sf0.1"]
NPROC = len(os.sched_getaffinity(0))
# A closed-loop run serves a fixed number of whole passes, never stopping
# at a clock deadline: `--seconds` sets that number through the seconds a
# pass took on a 4-core machine (search: 24 requests; catalog: 9), so the
# sequence a run serves depends on the seed and the run length only.
PASS_S = {"search": 5.0, "catalog": 5.0}
# A generator process busier than this share of one core is saturated.
GEN_SATURATED = 0.9
CLIENTS = {"search": min(4, NPROC), "catalog": 1}
# Untimed passes the clients send before the timed ones, the last step of
# set-up: measured on 4 cores, passes kept getting faster for about 45 s of
# load, as the per-request paths (analysis, planning, scheduling of many
# small jobs) reached the JIT's optimizing tier.
WARM_PASSES = 3
# Each workload's tail percentile: the highest with at least 10 samples
# beyond it at the samples a 15 s run collects (search: 3 passes of 24
# requests; catalog: 3 passes of 9; follow: 1000 delivered records in 20 s).
# The report flags runs with fewer.
TAIL_PCT = {"search": 86, "catalog": 62, "follow": 99}
# follow: files a second, records per file, and how long the clients keep
# reading after the producer stops, then wait after disconnecting before
# streams still running count as orphaned.
FOLLOW_RATE, FOLLOW_PER_FILE, FOLLOW_DRAIN_S, FOLLOW_GRACE_S = 4, 25, 3.0, 3.0
# Output-check causes: a response with one of these is wrong, not just lost.
WRONG = {"row_count", "digest", "truncated", "bad_json", "no_pioneer", "bad_chunking",
         "bad_framing", "wrong_record", "duplicate"}

Rec = collections.namedtuple("Rec", "idx kind cause t_send t_headers t_first t_last rows")


# ---------------------------------------------------------------- closed loop

def passes(workload, seconds):
    return max(1, round(seconds / PASS_S[workload]))


def _client(home, ports, items, refs, counter, done, lock, warm, total, queue):
    n = len(items)
    out = []
    untimed = 0
    c0, w0 = os.times(), time.perf_counter()
    while True:
        with lock:
            if done.value == total - warm:
                break
            idx = counter.value
            counter.value = idx + 1
        item = items[idx % n]
        if not warm <= idx < total:
            client.fetch(home, item.path)
            untimed += 1
            continue
        port = ports[(idx - warm) // n % len(ports)]
        resp = client.fetch(port, item.path, {"X-Bench-Id": str(idx)})
        rows, cause = client.check(resp, refs[item.ref], item.route)
        out.append(Rec(idx, item.kind, cause, resp.t_send, resp.t_headers, resp.t_first,
                       resp.t_last, rows))
        with lock:
            done.value += 1
    c1 = os.times()
    queue.put((out, untimed, (c1.user - c0.user) + (c1.system - c0.system),
               time.perf_counter() - w0))


class Phase:
    """The requests a closed-loop phase served."""

    def __init__(self, records, cpu_frac):
        self.records = sorted(records)
        self.cpu_frac = cpu_frac
        self.failures = collections.Counter(r.cause for r in self.records if r.cause)

    def ok(self):
        return [r for r in self.records if r.cause is None]


def drive(home, ports, items, refs, clients, n_passes):
    """Runs `clients` closed-loop generator processes over the seeded
    request sequence in one unbroken loop: WARM_PASSES untimed passes to
    the `home` port, then `n_passes` timed passes for each port (timed pass
    k goes to ports[k % len(ports)]), then untimed requests to `home` until
    the last timed one has completed, so every timed request sees the same
    load. Returns one Phase per port and the number of requests served."""
    ctx = multiprocessing.get_context("fork")
    counter, done = ctx.Value("q", 0, lock=False), ctx.Value("q", 0, lock=False)
    lock, queue = ctx.Lock(), ctx.Queue()
    n = len(items)
    warm = n * WARM_PASSES
    total = warm + n * n_passes * len(ports)
    procs = [ctx.Process(target=_client, args=(home, ports, items, refs, counter, done, lock,
                                               warm, total, queue)) for _ in range(clients)]
    for p in procs:
        p.start()
    got = [queue.get() for _ in procs]
    for p in procs:
        p.join()
    cpu_frac = max(cpu / wall for _, _, cpu, wall in got)
    records = [r for out, _, _, _ in got for r in out]
    served = len(records) + sum(untimed for _, untimed, _, _ in got)
    return [Phase([r for r in records if (r.idx - warm) // n % len(ports) == k], cpu_frac)
            for k in range(len(ports))], served


def _ms(x):
    return x * 1000.0


def cpu_times():
    """Aggregate (busy, steal) jiffies of the machine from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f) - f[3] - f[4], f[7]


def steal_frac(before, after):
    """Share of the machine's non-idle CPU time taken by the hypervisor:
    on a shared VM it stretches every wall-clock metric of the run."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / busy if busy else 0.0


def tail_report(n, pct):
    beyond = stats.beyond(n, pct)
    return {"percentile": pct, "samples": n, "beyond": beyond, "supported": beyond >= 10}


def kind_medians(phase, field):
    """Median milliseconds from send to `field` of each request kind."""
    by_kind = collections.defaultdict(list)
    for r in phase.ok():
        by_kind[r.kind].append(_ms(getattr(r, field) - r.t_send))
    return {k: stats.median(v) for k, v in by_kind.items()}


def kind_p50(phase, field):
    """Median latency of each request kind, combined by geometric mean over
    the kinds: the mix holds requests whose sizes differ by orders of
    magnitude, and the plain median of such a mix jumps between them."""
    return math.exp(statistics.fmean(math.log(v) for v in kind_medians(phase, field).values()))


def pass_s(phase, per_pass):
    """Seconds from send to last byte summed over one pass: each kind's
    median times its count in a pass (`per_pass`). Unlike the geometric
    means it weights each kind by its time, so a slower large response
    moves it in proportion to its share of the work."""
    med = kind_medians(phase, "t_last")
    return sum(med[k] * n for k, n in per_pass.items()) / 1000.0


def e2e_metrics(phase, tail_pct, per_pass):
    ok = phase.ok()
    ttfr = [_ms(r.t_first - r.t_send) for r in ok]
    ttlb = [_ms(r.t_last - r.t_send) for r in ok]
    span = max(r.t_last for r in phase.records) - min(r.t_send for r in phase.records)
    return {
        "ttfb_p50_ms": (kind_p50(phase, "t_headers"), "ms"),
        "ttfr_p50_ms": (kind_p50(phase, "t_first"), "ms"),
        "ttfr_tail_ms": (stats.percentile(ttfr, tail_pct), "ms"),
        "ttlb_p50_ms": (kind_p50(phase, "t_last"), "ms"),
        "ttlb_tail_ms": (stats.percentile(ttlb, tail_pct), "ms"),
        "pass_s": (pass_s(phase, per_pass), "s"),
        "req_per_s": (len(phase.records) / span, "1/s"),
    }


LAYER_UNITS = {
    "construct.ms": "ms", "construct.jobs": "count", "construct.frames": "count",
    "plan.ms": "ms",
    "log.records_read": "count", "log.records_per_result": "ratio", "log.bytes_read_mb": "MB",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_wait_ms": "ms", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "render.ms": "ms", "render.mb": "MB", "render.us_per_row": "us",
    "server.self_ms": "ms", "server.chunks": "count",
    "ops.live_frames_after": "count",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    "gen.cpu_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def layer_metrics(traced, untraced, spans, listeners, end, base, served):
    """Per-layer metrics of the traced requests, each a mean per request
    except the ratios and the run-wide `ops.*` / `jvm.*`. For
    every request, the child spans' busy time plus server.self_ms equals
    the client's time to last byte."""
    requests = len(traced.records)
    tot = collections.Counter()
    additivity_err, negative_self = 0.0, 0
    for r in traced.records:
        rid = str(r.idx)
        tr = spans.get(rid, {"spans": [], "counters": {}})
        busy = collections.Counter()
        for s in tr["spans"]:
            if s["parent"] == "http":
                busy[s["name"]] += s["busy"] / 1e6
                if s["name"] == "render":
                    tot["render.rows"] += s["calls"]
                    tot["render.chars"] += s["chars"]
        ttlb = _ms(r.t_last - r.t_send)
        self_ms = stats.self_time(ttlb, busy.values())
        negative_self += self_ms < 0
        additivity_err = max(additivity_err, abs(sum(busy.values()) + self_ms - ttlb))
        for k, v in busy.items():
            tot[k + ".ms"] += v
        tot["server.self_ms"] += self_ms
        tot["result_rows"] += r.rows
        for k, v in tr["counters"].items():
            tot["counter." + k] += v
        for phase_name, agg in listeners["requests"].get(rid, {}).items():
            for k, v in agg.items():
                tot[f"{phase_name}.{k}"] += v
    mb = 1024.0 * 1024.0
    records_read = tot["construct.records_read"] + tot["exec.records_read"]
    per_request = {
        "construct.ms": tot["construct.ms"],
        "construct.jobs": tot["construct.jobs"],
        "construct.frames": tot["counter.construct_frames"],
        "plan.ms": tot["plan.ms"],
        "log.records_read": records_read,
        "log.bytes_read_mb": (tot["construct.bytes_read"] + tot["exec.bytes_read"]) / mb,
        "exec.ms": tot["exec.ms"],
        "exec.jobs": tot["exec.jobs"],
        "exec.stages": tot["exec.stages"],
        "exec.tasks": tot["exec.tasks"],
        "exec.task_wait_ms": tot["exec.task_wait_ms"],
        "exec.shuffle_read_mb": tot["exec.shuffle_read"] / mb,
        "exec.shuffle_write_mb": tot["exec.shuffle_write"] / mb,
        "exec.spill_mb": tot["exec.spill"] / mb,
        "render.ms": tot["render.ms"],
        "render.mb": tot["render.chars"] / mb,
        "server.self_ms": tot["server.self_ms"],
        "server.chunks": tot["counter.chunks"],
    }
    m = {k: v / requests for k, v in per_request.items()}
    m.update({
        # GC time covers every request served, untimed ones too.
        "jvm.gc_ms": end["gc_ms"] / served,
        "log.records_per_result": records_read / max(tot["result_rows"], 1),
        "render.us_per_row": tot["render.ms"] * 1000.0 / max(tot["render.rows"], 1),
        "ops.live_frames_after": end["live_frames"] - base["live_frames"],
        "jvm.heap_peak_mb": end["heap_peak_mb"],
        "gen.cpu_frac": traced.cpu_frac,
        "trace.overhead_frac": kind_p50(traced, "t_last") / kind_p50(untraced, "t_last") - 1.0,
    })
    notes = {
        "log.records_per_result": f"{records_read:.0f} records read / "
                                  f"{tot['result_rows']:.0f} result rows",
        "additivity_max_err_ms": additivity_err,
        "requests_with_negative_server_self": negative_self,
        "traced_requests": requests,
        "render.rows": tot["render.rows"] / requests,
        "overhead": f"{m['trace.overhead_frac'] * 100:+.1f}% on ttlb_p50_ms "
                    f"(traced {kind_p50(traced, 't_last'):.0f} ms over {requests} requests, "
                    f"untraced {kind_p50(untraced, 't_last'):.0f} ms over "
                    f"{len(untraced.records)})",
    }
    return {k: (v, LAYER_UNITS[k]) for k, v in m.items()}, notes


def closed_loop(args, classes, items, plan, clients, report):
    srv = Server(classes, build.spark_jars(), os.path.join(WORK, "runs", f"run-{os.getpid()}"),
                 SEARCH_SF, FIXTURES, NPROC, args.trace, plan)
    try:
        ready = srv.wait_setup()
        refs = ready["refs"]
        report["stamps"].update(srv.setup["stamps"])
        report["setup_phases_s"] = ready["phases"]
        base = srv.control("/bench/mark")
        srv.rss_mark()
        cpu0 = cpu_times()
        n_passes = passes(args.workload, args.seconds)
        if not args.trace:
            (phase,), _ = drive(srv.port, [srv.port], items, refs, clients, n_passes)
            per_pass = collections.Counter(i.kind for i in items)
            metrics = e2e_metrics(phase, TAIL_PCT[args.workload], per_pass)
            # Set-up ends when the first timed request is sent.
            metrics["setup_s"] = (min(r.t_send for r in phase.records) - srv.t_spawn, "s")
            report["rss_peak_mb"] = srv.rss_peak_mb()
            end = srv.control("/bench/stats")
            metrics["heap_live_mb"] = (srv.control("/bench/live")["heap_live_mb"], "MB")
            report["tail"] = tail_report(len(phase.ok()), TAIL_PCT[args.workload])
            phases = [phase]
        else:
            # Alternate passes between the routes and their traced twin; the
            # pass order flips with the seed so warm-up does not always
            # favour the same side of the overhead estimate.
            ports = [srv.port, srv.traced_port][::1 if args.seed % 2 else -1]
            phases, served = drive(srv.port, ports, items, refs, clients, n_passes)
            untraced, traced = phases if args.seed % 2 else phases[::-1]
            end = srv.control("/bench/stats")
            metrics, report["trace"] = layer_metrics(traced, untraced,
                                                     srv.control("/bench/spans"),
                                                     end["listeners"], end, base, served)
            phase = traced
        report["cpu_steal_frac"] = steal_frac(cpu0, cpu_times())
    finally:
        srv.stop()
        srv.remove()
    leaks = collections.Counter()
    if end["live_frames"] > base["live_frames"]:
        leaks["leaked_frames"] = end["live_frames"] - base["live_frames"]
    if end["active_streams"]:
        leaks["orphan_stream"] = len(end["active_streams"])
    kinds = collections.defaultdict(list)
    for r in phase.ok():
        kinds[r.kind].append(_ms(r.t_last - r.t_send))
    report["passes"] = n_passes
    report["requests"] = [len(p.records) for p in phases]
    report["ttlb_p50_ms_by_kind"] = {k: round(stats.median(v), 1) for k, v in sorted(kinds.items())}
    report["gen_cpu_frac"] = phase.cpu_frac
    report["gen_saturated"] = phase.cpu_frac >= GEN_SATURATED
    report["records"] = [r._asdict() for p in phases for r in p.records]
    failures = sum((p.failures for p in phases), collections.Counter()) + leaks
    attempted = sum(len(p.records) for p in phases) + sum(leaks.values())
    return metrics, attempted, failures


def run_search(args, classes, report):
    items, plan = workloads.search_plan(args.seed, SEARCH_SF)
    report["distinct_requests"] = len(plan["search"])
    return closed_loop(args, classes, items, plan, CLIENTS["search"], report)


def run_catalog(args, classes, report):
    items, plan = workloads.catalog_plan(args.seed)
    return closed_loop(args, classes, items, plan, CLIENTS["catalog"], report)


# ---------------------------------------------------------------- follow

def run_follow(args, classes, report):
    rng = random.Random(args.seed)
    srv = Server(classes, build.spark_jars(), os.path.join(WORK, "runs", f"run-{os.getpid()}"),
                 SEARCH_SF, FIXTURES, NPROC, args.trace, {})
    # A fresh fixture directory of the benchmark's own: the server watches
    # the /tmp directory StreamingLog derives from its path, never the one
    # derived from the real fixture.
    fixture = os.path.join(srv.run_dir, "follow-fixture")
    watch = follow.stream_dir(fixture)
    assert watch != follow.stream_dir(SEARCH_SF)
    stop = threading.Event()
    key_user = rng.randrange(1500)
    specs = [follow.key_client(key_user), follow.value_client()]
    try:
        os.makedirs(fixture)
        follow.write_empty_events(os.path.join(fixture, "events.parquet"))
        shutil.rmtree(watch, ignore_errors=True)
        os.makedirs(watch)
        report["setup_phases_s"] = srv.wait_setup()["phases"]
        setup_s = srv.elapsed()
        report["stamps"].update(srv.setup["stamps"])
        srv.control("/bench/mark")
        srv.rss_mark()
        cpu0 = cpu_times()
        c0, w0 = os.times(), time.perf_counter()
        clients = []
        for query, accept, _ in specs:
            path = "/search?" + urllib.parse.quote(
                f"bootstrap-servers={fixture}&topics=events&follow&{query}", safe="=&,-")
            clients.append(follow.FollowClient(srv.port, path, accept, stop))
            clients[-1].start()
        deadline = time.perf_counter() + 60
        while len(srv.control("/bench/stats")["active_streams"]) < len(clients):
            if time.perf_counter() > deadline:
                raise ServerError("follow streams did not start")
            time.sleep(0.1)
        producer = follow.Producer(watch, args.seed, FOLLOW_RATE, FOLLOW_PER_FILE,
                                   args.seconds, key_user)
        producer.start()
        producer.join()
        time.sleep(FOLLOW_DRAIN_S)
        stop.set()
        for c in clients:
            c.join()
        c1 = os.times()
        cpu_frac = ((c1.user - c0.user) + (c1.system - c0.system)) / (time.perf_counter() - w0)
        time.sleep(FOLLOW_GRACE_S)
        rss = srv.rss_peak_mb()
        end = srv.control("/bench/stats")
        report["cpu_steal_frac"] = steal_frac(cpu0, cpu_times())
    finally:
        stop.set()
        srv.stop()
        srv.remove()
        shutil.rmtree(watch, ignore_errors=True)
    if producer.error:
        raise ServerError(f"producer failed: {producer.error}")
    failures = collections.Counter()
    lags = []
    expected = 0
    for (_, _, produced), c in zip(specs, clients):
        want = [eid for eid, user, props in producer.records if produced(user, props)]
        expected += len(want)
        lags += [_ms(c.received[e] - producer.created[e]) for e in want if e in c.received]
        failures["not_received"] += sum(e not in c.received for e in want)
        failures.update(c.failures)
    orphans = [n for n in end["active_streams"] if n.startswith("graft-follow-")]
    failures["orphan_stream"] += len(orphans)
    failures = +failures
    report["orphan_streams"] = orphans
    report["delivered"] = {"expected": expected, "received": len(lags)}
    report["gen_cpu_frac"] = cpu_frac
    report["gen_saturated"] = cpu_frac >= GEN_SATURATED
    attempted = expected + len(clients)
    if not args.trace:
        metrics = {
            "lag_p50_ms": (stats.median(lags), "ms"),
            "lag_tail_ms": (stats.percentile(lags, TAIL_PCT["follow"]), "ms"),
            "setup_s": (setup_s, "s"),
            "rss_peak_mb": (rss, "MB"),
        }
        report["tail"] = tail_report(len(lags), TAIL_PCT["follow"])
    else:
        streams = [s for name, s in end["listeners"]["streams"].items()
                   if name.startswith("graft-follow-")]
        batches = max(sum(s["batches"] for s in streams), 1)
        metrics = {
            "stream.batches": (sum(s["batches"] for s in streams), "count"),
            "stream.rows_per_batch": (sum(s["rows"] for s in streams) / batches, "count"),
            "stream.trigger_ms": (sum(s["trigger_ms"] for s in streams) / batches, "ms"),
            "stream.add_batch_ms": (sum(s["add_batch_ms"] for s in streams) / batches, "ms"),
            "stream.list_ms": (sum(s["list_ms"] for s in streams) / batches, "ms"),
            "server.orphan_streams": (len(orphans), "count"),
            "gen.late_ms": (stats.percentile(producer.late_ms, 99), "ms"),
            "gen.cpu_frac": (cpu_frac, "ratio"),
            "jvm.gc_ms": (end["gc_ms"], "ms"),
            "jvm.heap_peak_mb": (end["heap_peak_mb"], "MB"),
        }
    return metrics, attempted, failures


WORKLOADS = {"search": run_search, "catalog": run_catalog, "follow": run_follow}


# ---------------------------------------------------------------- main

def fixture_fingerprint():
    h = hashlib.sha256()
    for name, d in sorted(FIXTURES.items()):
        for f in sorted(os.listdir(d)):
            st = os.stat(os.path.join(d, f))
            h.update(f"{name}/{f}:{st.st_size}:{int(st.st_mtime)}|".encode())
    return h.hexdigest()[:16]


def commit():
    """The checked-out commit, or "none" outside a git checkout (the source
    hash stamped beside it still names the code that was built)."""
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except OSError:
        return "none"


def main():
    # A terminated run still stops its server JVM and client processes.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classes, source_hash = build.build()
        missing = [d for d in FIXTURES.values() if not os.path.isdir(d)]
        if missing:
            raise build.BuildError(f"fixture directories missing: {missing}")
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "stamps": {"nproc": NPROC, "commit": commit(), "source_hash": source_hash[:16],
                         "fixture": fixture_fingerprint(), "heap": XMX}}
    try:
        metrics, attempted, failures = WORKLOADS[args.workload](args, classes, report)
    except ServerError as e:
        sys.exit(f"perfbench: {e}")
    failed = sum(failures.values())
    report["failed_frac"] = stats.failed_frac(attempted, failed)
    report["failures_by_cause"] = dict(failures)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"report": report, "metrics": metrics}, fh, indent=1)
    for k, v in report.items():
        if k != "records":
            print(f"# {k}: {json.dumps(v)}")
    for k, (v, unit) in metrics.items():
        print(f"# {k} = {v:.6g} {unit}")
    print(json.dumps({"correct": not WRONG & set(failures), "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
