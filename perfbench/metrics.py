"""Pure metric arithmetic for run.py: percentiles, the live ladder, span
self time and the per-layer sums of the traced run."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples above it.

    Of n sorted samples, the k-th smallest (1-based) has n - k above it, so
    the highest supported one is k = n - 10 and its percentile is
    100 * k / n. Returns (value, percentile, n); (nan, 0, n) when fewer
    than 11 samples support no percentile at all."""
    n = len(xs)
    k = n - 10
    if k < 1:
        return float("nan"), 0.0, n
    # percentiles are quoted in whole steps: p99 needs 1000 samples
    pct = math.floor(100.0 * k / n)
    s = sorted(xs)
    return s[max(0, math.ceil(pct / 100.0 * n) - 1)], float(pct), n


def live_latencies(batches, t0_ms, requests):
    """Latency of every emitted row, from its request's due time to the
    commit of the micro-batch that emitted it. `batches` are the sink's
    records (ids, due offsets, commit time); returns {seq: latency_ms} keyed
    by the emitted request and the list of emitted ids."""
    due_to_seq = {}
    for r in requests:
        due_to_seq[(r["id"], r["due_ms"])] = r["seq"]
    lat = {}
    emitted = []
    for b in batches:
        for tid, due in zip(b["ids"], b["due_ms"]):
            if tid.startswith("primer-"):
                continue
            emitted.append(tid)
            seq = due_to_seq.get((tid, int(due)))
            if seq is not None:
                lat[seq] = b["commit_ms"] - (t0_ms + int(due))
    return lat, emitted


def backlog(requests, written_ms, batches):
    """Requests written but not yet consumed, at each sink commit:
    [(commit_ms, rows)]. `written_ms` maps file number to the time the file
    landed. A batch has consumed every file up to the newest one it emitted
    a row from (the file source takes files oldest first)."""
    file_of = {(r["id"], r["due_ms"]): r["file"] for r in requests}
    rows = {}
    for r in requests:
        rows[r["file"]] = rows.get(r["file"], 0) + 1
    landed = sorted((w, rows[f]) for f, w in written_ms.items())
    out = []
    consumed_file = -1
    j = written = 0
    for b in sorted(batches, key=lambda b: b["commit_ms"]):
        for tid, due in zip(b["ids"], b["due_ms"]):
            f = file_of.get((tid, int(due)))
            if f is not None:
                consumed_file = max(consumed_file, f)
        while j < len(landed) and landed[j][0] <= b["commit_ms"]:
            written += landed[j][1]
            j += 1
        consumed = sum(n for f, n in rows.items() if f <= consumed_file)
        out.append((b["commit_ms"], max(0, written - consumed)))
    return out


def rung_ok(lats, backlog_pts, rung_start_ms, rung_end_ms, rate, limit_ms):
    """A rung is sustained when its tail latency meets the limit and the
    backlog did not grow across it: the second half's peak backlog stays
    within the first half's plus a quarter second of input."""
    value, _, _ = tail(lats)
    if not lats or math.isnan(value) or value > limit_ms:
        return False
    mid = (rung_start_ms + rung_end_ms) / 2
    first = [b for t, b in backlog_pts if rung_start_ms <= t < mid]
    second = [b for t, b in backlog_pts if mid <= t < rung_end_ms]
    if not first or not second:
        return True
    return max(second) <= max(first) + 0.25 * rate


def self_times(spans):
    """Self time per span: its duration minus the part of it its children
    cover. Returns {span id: self ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered = 0.0
        cur_s = cur_e = None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = max(0.0, (s["end_ms"] - s["start_ms"]) - covered)
    return out
