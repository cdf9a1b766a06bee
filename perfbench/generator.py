"""Seeded open-loop transaction generator for the `txn_live` workload.

A request is one wire-format transaction (the JSON shape
`Reference.wireSchema` reads), the analogue of one `POST /transactions` to
the reference service. Clients' requests land as files: every 50 ms one
file holds the requests due at that instant (a file per request would
measure only the file source's per-file cost; see README.md). The schedule
is fixed by the seed before the run starts: files are due at fixed
offsets, rung after rung of a rate ladder, and `Sender` writes each one at
its due time whether or not the pipeline keeps up (open loop).

Every record carries its due offset in `metadata.due_ms`, so the sink's
commit time can be turned into a latency from the due time, not from the
moment the file was written. File contents depend only on the seed and
the ladder: the same seed gives byte-identical files.
"""
import bisect
import datetime
import json
import os
import random
import threading
import time

# Event times are offsets from this instant; the primer sits at it.
EVENT_BASE = datetime.datetime(2025, 8, 27, 10, 0, 0, tzinfo=datetime.timezone.utc)
WATERMARK_S = 600            # Streaming.dedupStream's default watermark
RETRY_SHARE = 0.10           # client retries that reuse an earlier id
OUT_OF_ORDER_SHARE = 0.10    # event time up to 5 minutes old: inside the watermark
BEYOND_SHARE = 0.02          # event time 30-40 minutes old: beyond the watermark
PRIMER_ROWS = 20
TICK_MS = 50                 # one file every TICK_MS
CURRENCIES = ["USD", "EUR", "GBP", "JPY"]
TYPES = ["credit", "debit", None]
MERCHANTS = ["Amazon", "Spotify", "Netflix", "Uber", "Tesco", "Zalando"]


def _ts(offset_ms):
    t = EVENT_BASE + datetime.timedelta(milliseconds=offset_ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def _line(rec, due_ms):
    meta = {"merchant": rec["merchant"], "due_ms": str(due_ms)}
    return json.dumps({
        "transaction_id": rec["id"], "user_id": rec["user"], "amount": rec["amount"],
        "currency": rec["currency"], "type": rec["type"], "metadata": meta,
        "timestamp": _ts(rec["event_ms"])}, separators=(",", ":")) + "\n"


def primer():
    """The file written before the pipeline starts: its batch sets the
    watermark, so lateness is judged from the first scheduled request on."""
    recs = [{"id": "primer-%03d" % i, "user": 1, "amount": 1.0, "currency": "USD",
             "type": "credit", "merchant": "Amazon", "event_ms": 0} for i in range(PRIMER_ROWS)]
    return "".join(_line(r, 0) for r in recs)


def schedule(seed, rates, rung_s):
    """The requests of one run, in due order.

    Returns a list of dicts: `seq` (request number), `file` (number of the
    file it is sent in), `due_ms` (offset from the schedule start), `rung`,
    `id`, `late` (event time beyond the watermark), `retry` and `body` (its
    JSON line)."""
    rng = random.Random(seed)
    sent, sent_ms = [], []
    out = []
    seq = 0
    carry = 0.0
    ticks = int(round(rung_s * 1000 / TICK_MS))
    for rung, rate in enumerate(rates):
        for t in range(ticks):
            due = int(round((rung * ticks + t) * TICK_MS))
            carry += rate * TICK_MS / 1000.0
            n, carry = int(carry), carry - int(carry)
            for _ in range(n):
                u = rng.random()
                if sent and u < RETRY_SHARE:
                    # a retry resends a request of the last 2 seconds
                    first = bisect.bisect_left(sent_ms, due - 2000)
                    rec = dict(sent[rng.randrange(first, len(sent))])
                    retry = True
                else:
                    retry = False
                    event = due
                    if u < RETRY_SHARE + OUT_OF_ORDER_SHARE:
                        event = due - rng.randint(1000, 300000)
                    elif u < RETRY_SHARE + OUT_OF_ORDER_SHARE + BEYOND_SHARE:
                        event = due - (WATERMARK_S * 3 + rng.randint(0, WATERMARK_S)) * 1000
                    rec = {"id": "t%d-%07d" % (seed, seq), "user": rng.randint(1000, 1999),
                           "amount": round(rng.uniform(1, 2000), 2),
                           "currency": rng.choice(CURRENCIES), "type": rng.choice(TYPES),
                           "merchant": rng.choice(MERCHANTS), "event_ms": event}
                sent.append(rec)
                sent_ms.append(due)
                late = rec["event_ms"] < due - WATERMARK_S * 1000
                out.append({"seq": seq, "file": rung * ticks + t, "due_ms": due, "rung": rung,
                            "id": rec["id"], "late": late, "retry": retry, "body": _line(rec, due)})
                seq += 1
    return out


def files(requests):
    """The files of a schedule in due order: [(file number, due_ms, body)]."""
    out = []
    for r in requests:
        if out and out[-1][0] == r["file"]:
            out[-1][2].append(r["body"])
        else:
            out.append((r["file"], r["due_ms"], [r["body"]]))
    return [(f, due, "".join(lines)) for f, due, lines in out]


def expected_ids(requests):
    """Ids the dedup stream must emit: every distinct id the generator sent
    at least once inside the watermark."""
    return {r["id"] for r in requests if not r["late"]}


def write_atomic(directory, name, body):
    """Writes `name` so the file source never sees it half written: a
    hidden temporary file (the file source skips names starting with '.')
    renamed into place."""
    tmp = os.path.join(directory, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write(body)
    os.rename(tmp, os.path.join(directory, name))


def file_name(n):
    return "req-%06d.json" % n


class Sender(threading.Thread):
    """Writes each file at `t0 + due_ms`, never waiting on the pipeline.
    `written_ms[f]` is the wall-clock time file f landed."""

    def __init__(self, directory, requests, t0_ms):
        super().__init__(daemon=True)
        self.directory = directory
        self.files = files(requests)
        self.t0_ms = t0_ms
        self.written_ms = {}

    def run(self):
        for n, due, body in self.files:
            wait = (self.t0_ms + due) / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
            write_atomic(self.directory, file_name(n), body)
            self.written_ms[n] = time.time() * 1000.0
