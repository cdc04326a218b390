"""Pure functions behind the benchmark's metrics and checks.

Nothing here starts processes or touches files; ``run.py`` feeds it the raw
record a benchmark JVM wrote, and ``tests/`` pins its behaviour.
"""
import math
import re
import statistics


# ---------------------------------------------------------------- statistics

def percentile(values, q):
    """q-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spread(values):
    """Inter-quartile distance as a share of the median, as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


# --------------------------------------------------------- intervals & jobs

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_time(window, intervals):
    """Wall time of `window` not covered by any interval clipped to it:
    the driver-only time between Spark jobs."""
    w0, w1 = window
    clipped = [(max(s, w0), min(e, w1)) for s, e in intervals if e > w0 and s < w1]
    return (w1 - w0) - union_length(clipped)


MODULES = [
    ("store", ("DocumentStore.scala",)),
    ("alerts", ("Alerts.scala",)),
    ("api", ("CollectorServer.scala", "DevResource.scala", "UserAuth.scala",
             "FunctionManager.scala")),
    ("query", ("EdnDatalog.scala", "Compiler.scala", "DatalogDb.scala", "Edn.scala",
               "Fixpoint.scala")),
    ("stream", ("StreamIO.scala", "Topology.scala", "StreamManager.scala",
                "Stateful.scala", "StoreIngest.scala", "StoreChanges.scala",
                "StreamJoin.scala", "StreamDedup.scala", "StreamScore.scala",
                "StreamAsOf.scala", "NodeSpec.scala")),
]
SITE_FILE = re.compile(r"at (\w+\.scala):\d+")


def module_of(site):
    """Module a Spark job belongs to, from the source file in its call site
    (e.g. ``collect at DocumentStore.scala:613`` -> ``store``); streaming
    micro-batch jobs carry their query's description instead."""
    if "runId = " in (site or ""):  # a streaming micro-batch's description
        return "stream"
    m = SITE_FILE.search(site or "")
    if m:
        for module, files in MODULES:
            if m.group(1) in files:
                return module
    return "other"


def jobs_by_module(jobs):
    counts = {m: 0 for m, _ in MODULES}
    counts["other"] = 0
    for j in jobs:
        counts[module_of(j["site"])] += 1
    return counts


def jobs_within(jobs, windows, exclude=()):
    """Jobs whose start falls inside any (start, end) window, skipping
    jobs of the excluded modules (background work that only overlaps)."""
    return [j for j in jobs
            if module_of(j["site"]) not in exclude
            and any(s <= j["start"] <= e for s, e in windows)]


# ------------------------------------------------------------------- spans

def self_times(spans):
    """Each span's duration minus the time its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], []) if b > s["start"] and a < s["end"]]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def attach_jobs(spans, jobs, first_id):
    """Job spans parented to the innermost span containing the job's start
    (attribution by time window)."""
    out = []
    for i, j in enumerate(sorted(jobs, key=lambda j: j["start"])):
        holders = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        parent = max(holders, key=lambda s: s["start"])["id"] if holders else 0
        out.append({"id": first_id + i, "parent": parent, "kind": "job",
                    "name": j["site"], "start": j["start"], "end": j["end"]})
    return out


# ------------------------------------------------------- runtime correctness

def decode_sink(value):
    """Sink value n*1000+k -> (n, k)."""
    v = int(round(value))
    return v // 1000, v % 1000


def check_runtime(ops, sink, preload, readback, direct_puts=()):
    """The runtime correctness model. Returns (failed op keys, reasons).

    - any non-2xx or failed request fails;
    - a query must return every doc of its group acknowledged before the
      send, each at a version no older than the last acknowledged one, and
      only versions sent before the response (a stale read fails);
    - every acknowledged push appears in the sink exactly once (a lost or
      duplicated row fails), computed by a spec version at least the last
      swap acknowledged before the push was sent and at most the last swap
      requested before the row was seen; a row naming no pushed value or no
      issued version fails (a transform applied twice);
    - every acknowledged write reads back byte-for-byte after a restart.
    """
    failed, reasons = set(), []

    def fail(op_key, why):
        failed.add(op_key)
        reasons.append(f"{op_key[0]} {op_key[1]}: {why}")

    for o in ops:
        if o["status"] // 100 != 2:
            fail(op_key(o), f"status {o['status']}")

    # Writes: preload (acknowledged before any op), then HTTP ingests.
    writes = {}  # id -> list of (sent, done_or_None, ver, group, body)
    for doc_id, body in preload.items():
        writes.setdefault(doc_id, []).append((-math.inf, -math.inf, 0, group_of(body), body))
    for o in ops:
        if o["kind"] == "ingest":
            d = o["detail"]
            done = o["done"] if o["status"] // 100 == 2 else None
            writes.setdefault(o["key"], []).append((o["sent"], done, d["ver"], d["grp"], d["body"]))
    for p in direct_puts:
        writes.setdefault(p["id"], []).append((p["start"], p["end"], 1, "direct", p["body"]))

    for o in ops:
        if o["kind"] != "query" or o["status"] // 100 != 2:
            continue
        grp = f"g{o['detail']['grp']}"
        got = {}
        for e, v in o["detail"]["rows"]:
            got.setdefault(e, []).append(v)
        key = op_key(o)
        for doc_id, ws in writes.items():
            ws_grp = [w for w in ws if w[3] == grp]
            acked = [w[2] for w in ws_grp if w[1] is not None and w[1] < o["sent"]]
            sent = {w[2] for w in ws_grp if w[0] < o["done"]}
            vs = got.pop(doc_id, [])
            if acked and not vs:
                fail(key, f"stale read: {doc_id} missing")
            elif len(vs) > 1:
                fail(key, f"{doc_id} returned {len(vs)} times")
            elif vs and acked and vs[0] < max(acked):
                fail(key, f"stale read: {doc_id} at version {vs[0]} < {max(acked)}")
            elif vs and vs[0] not in sent:
                fail(key, f"{doc_id} at version {vs[0]} never sent before the response")
        for doc_id in got:
            fail(key, f"{doc_id} returned but never written to {grp}")

    swaps = sorted((o for o in ops if o["kind"] == "swap"), key=lambda o: int(o["key"]))
    issued = {0} | {int(o["key"]) for o in swaps}
    pushes = {int(o["key"]): o for o in ops if o["kind"] == "push" and o["status"] // 100 == 2}
    rows = {}
    for value, seen in sink:
        n, k = decode_sink(value)
        rows.setdefault(n, []).append((k, seen))
    for n, o in pushes.items():
        got = rows.pop(n, [])
        key = ("push", str(n))
        if not got:
            fail(key, "lost: no sink row")
            continue
        if len(got) > 1:
            fail(key, f"duplicated: {len(got)} sink rows")
        k, seen = got[0]
        k_lo = max([int(s["key"]) for s in swaps
                    if s["status"] // 100 == 2 and s["done"] <= o["sent"]], default=0)
        k_hi = max([int(s["key"]) for s in swaps if s["sent"] <= seen], default=0)
        if not k_lo <= k <= k_hi or k not in issued:
            fail(key, f"computed by version {k}, expected {k_lo}..{k_hi}")
    for n, got in rows.items():
        fail(("sink", str(n)), f"row for a value never pushed ({len(got)} rows)")

    # Durability: the last acknowledged write of every id reads back as sent.
    for doc_id, ws in writes.items():
        acked = [w for w in ws if w[1] is not None]
        if not acked:
            continue
        last = max(acked, key=lambda w: w[1])
        if readback.get(doc_id) != last[4]:
            fail(("durable", doc_id), "acknowledged write did not read back byte-for-byte")
    return failed, reasons


def op_key(o):
    """The key a failure is counted under: a doc id, push value or swap
    version names one operation; every query reads the same group, so a
    query is named by its send time as well."""
    if o["kind"] == "query":
        return ("query", f"{o['key']}@{o['sent']:.0f}")
    return (o["kind"], o["key"])


def group_of(body):
    m = re.search(r'"grp":"([^"]*)"', body)
    return m.group(1) if m else None


# ---------------------------------------------------------- runtime latency

def runtime_latencies(ops, sink, since=-math.inf, until=math.inf):
    """Per-class latencies in ms, each from the op's scheduled send time:
    ingest and query to the response, stream to the pushed value's first
    sink row, swap to the first sink row computed by the new version."""
    window = [o for o in ops if since <= o["sched"] < until]
    ok = [o for o in window if o["status"] // 100 == 2]
    lat = {
        "ingest": [o["done"] - o["sched"] for o in ok if o["kind"] == "ingest"],
        "query": [o["done"] - o["sched"] for o in ok if o["kind"] == "query"],
        "stream": [], "swap": [],
    }
    first_seen = {}
    first_version = {}
    for value, seen in sink:
        n, k = decode_sink(value)
        first_seen.setdefault(n, seen)
        first_version[k] = min(first_version.get(k, math.inf), seen)
    for o in ok:
        if o["kind"] == "push" and int(o["key"]) in first_seen:
            lat["stream"].append(first_seen[int(o["key"])] - o["sched"])
        if o["kind"] == "swap" and int(o["key"]) in first_version:
            lat["swap"].append(first_version[int(o["key"])] - o["sched"])
    return lat


def starts_per_swap(ops, starts, name):
    """Starts of the streaming query `name` inside swap operations (from
    the request until the swap was applied everywhere), per swap."""
    swaps = [o for o in ops if o["kind"] == "swap"]
    if not swaps:
        return 0.0
    n = sum(1 for q, t in starts if q == name
            and any(o["sent"] <= t <= o["done"] for o in swaps))
    return n / len(swaps)


def swap_gaps(ops, sink):
    """For each swap k: first row of version k minus the last row seen
    from an older version before it."""
    gaps = []
    seen = sorted((t, decode_sink(v)[1]) for v, t in sink)
    for o in ops:
        if o["kind"] != "swap":
            continue
        k = int(o["key"])
        first_new = min((t for t, kv in seen if kv == k), default=None)
        if first_new is None:
            continue
        last_old = max((t for t, kv in seen if kv < k and t <= first_new), default=None)
        if last_old is not None:
            gaps.append(first_new - last_old)
    return gaps
