"""Summary statistics the benchmark reports, kept free of I/O so the
self-checks in ``perfbench/tests`` can pin them."""
import math

# a percentile is reported only when at least this many samples lie
# beyond it
TAIL_SAMPLES = 10


def percentile(values, q):
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``."""
    xs = sorted(values)
    if not xs:
        return math.nan
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values):
    xs = sorted(values)
    if not xs:
        return math.nan
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def mean(values):
    """Arithmetic mean; steadier than the median when the samples fall
    into two clusters of similar weight (a read that overlaps a stream
    batch and one that does not), where the median jumps between them."""
    xs = list(values)
    return sum(xs) / len(xs) if xs else math.nan


def beyond(values, q):
    """How many samples lie strictly above the ``q``-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def supported(values, q):
    """True when the ``q``-th percentile has enough samples beyond it."""
    return len(values) > 0 and beyond(values, q) >= TAIL_SAMPLES


def failed_share(attempted, failed):
    """Failed operations over operations attempted; a wrong output is a
    failure."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def account(ops, checks):
    """(attempted, failed) over operation records. A failed check names
    the operations it covers under ``covers`` (a kind, or a list of op
    ids); each of those counts as failed once."""
    failed_ids = {(o["kind"], o["op"]) for o in ops if not o["ok"]}
    for c in checks:
        if c["ok"]:
            continue
        cov = c.get("covers")
        for o in ops:
            if cov == o["kind"] or (isinstance(cov, list) and (o["kind"], o["op"]) in cov):
                failed_ids.add((o["kind"], o["op"]))
        if cov is None:  # a check that covers nothing still fails the run
            failed_ids.add(("check", c["name"]))
    attempted = len(ops) + sum(1 for c in checks if not c["ok"] and c.get("covers") is None)
    return attempted, len(failed_ids)


def open_loop_latencies(due_ms, done_ms):
    """Latency of each open-loop request, timed from when it was due,
    not from when the generator got round to sending it: a generator
    stall is charged to every request that was due during it."""
    return [d - s for s, d in zip(due_ms, done_ms)]


def self_times(spans):
    """Map span id -> its duration minus the part of it that its child
    spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover, end = 0.0, s["start_ms"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], end, s["start_ms"]), min(c["end_ms"], s["end_ms"])
            if b > a:
                cover += b - a
            end = max(end, b)
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - cover
    return out
