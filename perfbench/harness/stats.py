"""Pure arithmetic of the benchmark: percentiles, span self time, job
attribution and result digests. Kept free of I/O so the self-tests can
pin each rule."""
import hashlib
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# The percentile ladder latency tails are read from.
PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9, 99.99)


def tail(samples):
    """The highest percentile of PERCENTILES that still has at least 10
    samples beyond it.

    Returns (value, percentile, n). The value is the nearest-rank
    percentile: with n samples sorted ascending, the ceil(p*n/100)-th
    smallest, which leaves n - ceil(p*n/100) samples beyond it. Reading
    the tail off a fixed ladder, not at exactly 10 beyond, keeps the
    percentile the same for a fixed sample count and rests it on more
    than 10 samples: the 11th-largest of a few hundred moves a lot from
    run to run. Below 20 samples not even p50 has 10 beyond it; the
    maximum stands in, reported as percentile 100.
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan"), 0
    for p in reversed(PERCENTILES):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return s[rank - 1], p, n
    return s[-1], 100.0, n


def backlog_grew(latencies, phase_ms):
    """Did an open loop's queue grow for the whole phase? `latencies` are
    in due order. When the system sustains the rate, latency is flat; when
    it does not, every request waits for all earlier ones and latency
    climbs with due time. The loop counts as grown when the last quarter's
    median exceeds the first quarter's by more than a tenth of the phase
    and by more than the first quarter's median itself."""
    n = len(latencies) // 4
    if n == 0:
        return False
    first = median(latencies[:n])
    last = median(latencies[-n:])
    return last - first > max(0.1 * phase_ms, first)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover;
    overlapping children count once."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def attach_jobs(jobs, candidates):
    """Parent each Spark job span by time: the candidate span containing
    the job's start, the latest-starting one when several do. Jobs no
    candidate contains are left unparented. Returns {job id: parent id}."""
    cands = sorted(candidates, key=lambda s: s["start"])
    out = {}
    for j in jobs:
        best = None
        for c in cands:
            if c["start"] > j["start"]:
                break
            if c["end"] >= j["start"]:
                best = c
        if best is not None:
            out[j["id"]] = best["id"]
    return out


def canon(v):
    """Value canonicalisation of the repository's oracle check
    (scripts/check_oracle.py): repr, with NaN spelled "nan"."""
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return repr(v)


def digest(columns, rows):
    """Order-independent digest of a result: columns sorted by name, each
    row canonicalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()
