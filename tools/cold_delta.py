#!/usr/bin/env python3
"""Cold-run comparison of two full bench dumps (BASELINE.md 'Bench dump
provenance' reading rule): diff queries_cold, flagging the streaming
family (every query whose name carries the `_stream_` token; cold =
checkpoint replay cost) and any query whose cold run regressed > 1.5x
and > 1 s.

Usage: python3 tools/cold_delta.py bench/r9_quiet_full_203.json \
           bench/r10_quiet_full_204.json
"""
import json
import sys


def main(old_path, new_path):
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    oc, nc = old["queries_cold"], new["queries_cold"]

    print(f"== streaming family cold (replay) runs: {old_path} -> {new_path}")
    tot_o = tot_n = 0.0
    for q in sorted(q for q in set(oc) | set(nc) if "_stream_" in q):
        o, n = oc.get(q, -1), nc.get(q, -1)
        tot_o += max(o, 0)
        tot_n += max(n, 0)
        print(f"  {q:26s} {o:6.2f} -> {n:6.2f}  ({n - o:+.2f})")
    print(f"  {'TOTAL':26s} {tot_o:6.2f} -> {tot_n:6.2f}  ({tot_n - tot_o:+.2f})")

    print("== cold regressions > 1.5x and > 1 s (all queries)")
    reg = [
        (q, oc[q], n)
        for q, n in nc.items()
        if q in oc and oc[q] > 0 and n > 1.5 * oc[q] and n - oc[q] > 1.0
    ]
    for q, o, n in sorted(reg, key=lambda r: r[1] - r[2]):
        print(f"  {q:28s} {o:6.2f} -> {n:6.2f}  ({n / o:4.1f}x)")
    if not reg:
        print("  none")

    new_qs = sorted(set(nc) - set(oc))
    if new_qs:
        print("== queries new in", new_path)
        for q in new_qs:
            print(f"  {q:28s} cold {nc[q]:6.2f}  warm {new['queries'][q]:6.2f}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
