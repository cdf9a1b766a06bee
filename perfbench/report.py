#!/usr/bin/env python3
"""Summarises the run records in .bench_out/ (written by run.py):

    python3 perfbench/report.py [DIR ...]

For every workload: each end-to-end metric's median, quartiles and spread
(the distance between the quartiles as a share of the median) over the
untraced runs; how the first timed query of each batch run reads against
the same query's median when it ran later in the order; and the traced
runs' tracing overhead and per-layer self times.
"""
import json
import statistics
import sys
from pathlib import Path

OUT = Path(__file__).resolve().parent.parent / ".bench_out"


def main():
    dirs = [Path(d) for d in sys.argv[1:]] or sorted(OUT.iterdir())
    runs = []
    for d in dirs:
        f = d / "result.json"
        if f.is_file():
            runs.append(json.loads(f.read_text()))
    by = {}
    for r in runs:
        by.setdefault((r["context"]["workload"], r["context"]["trace"]), []).append(r)
    for (wl, trace), rs in sorted(by.items()):
        print("%s trace=%d runs=%d seeds=%s" % (wl, trace, len(rs), sorted(r["context"]["seed"] for r in rs)))
        metrics = rs[0]["per_layer"] if trace else rs[0]["end_to_end"]
        for k in sorted(metrics):
            vals = [(r["per_layer"] if trace else r["end_to_end"])[k][0] for r in rs]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med if med else float("nan")
            else:
                q1 = q3 = spread = float("nan")
            print("  %-32s median %14.4f  q1 %14.4f  q3 %14.4f  spread %7.4f" % (k, med, q1, q3, spread))
        if trace or "queries" not in rs[0]["detail"]:
            continue
        # first timed query against the same query's readings later in the order
        later = {}
        for r in rs:
            for q in r["detail"]["queries"][1:]:
                later.setdefault(q["name"], []).append(q["ttr_ms"])
        ratios = []
        for r in rs:
            first = r["detail"]["queries"][0]
            base = later.get(first["name"])
            if base:
                ratios.append(first["ttr_ms"] / statistics.median(base))
                print("  first %-26s %8.0f ms vs %8.0f ms later (ratio %.3f)" % (
                    first["name"], first["ttr_ms"], statistics.median(base), ratios[-1]))
        if ratios:
            print("  first-query ratio median %.3f, range %.3f-%.3f" % (
                statistics.median(ratios), min(ratios), max(ratios)))


if __name__ == "__main__":
    main()
