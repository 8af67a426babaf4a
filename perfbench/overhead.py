#!/usr/bin/env python3
"""Tracing overhead: run workloads untraced and traced on the same seeds and
print, per end-to-end metric, the traced median relative to the untraced one.

    python3 perfbench/overhead.py --workloads migrate corpus_ingest --seeds 1 2 3 --seconds 5

Run from the root of a checkout. Both runs print their end-to-end numbers in
the detail line, so the comparison needs no extra instrumentation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", trace],
                         capture_output=True, text=True, check=True).stdout
    detail = next(json.loads(x) for x in out.splitlines() if x.startswith('{"detail"'))
    return {k: v["value"] for k, v in detail["detail"]["end_to_end"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=["migrate", "corpus_ingest"])
    ap.add_argument("--seeds", nargs="+", type=int, default=[1, 2, 3])
    ap.add_argument("--seconds", type=float, default=5)
    a = ap.parse_args()
    for w in a.workloads:
        runs = {t: [end_to_end(w, s, a.seconds, t) for s in a.seeds] for t in ("0", "1")}
        print(f"{w} ({len(a.seeds)} seeds): metric, untraced median, traced median, traced/untraced - 1")
        for m in runs["0"][0]:
            off = statistics.median(r[m] for r in runs["0"])
            on = statistics.median(r[m] for r in runs["1"])
            print(f"  {m:20s} {off:12.4f} {on:12.4f} {on / off - 1:+8.3f}")


if __name__ == "__main__":
    main()
