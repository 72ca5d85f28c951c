#!/usr/bin/env python3
"""Per-layer diff of two traced runs, e.g. a parent commit and a change.

    python3 perfbench/diff.py <parent> <change>

Each argument is a trace file written by ``run.py --trace 1``
(``perfbench/traces/<workload>-seed<n>.json``) or a directory of them;
directories are matched file by file. For each workload it prints every
per-layer metric with both values and the change, and then each op whose
physical-plan fingerprint differs. "plan-identical" means every op ran
the same physical plan on both sides, so a timing delta between them is
not a plan change.
"""
import difflib
import json
import os
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def pairs(a, b):
    if os.path.isdir(a) and os.path.isdir(b):
        for name in sorted(set(os.listdir(a)) & set(os.listdir(b))):
            if name.endswith(".json"):
                yield name[:-5], os.path.join(a, name), os.path.join(b, name)
    else:
        yield os.path.basename(a)[:-5], a, b


def plan_changes(pa, pb):
    """Ops whose fingerprints differ, and ops present on one side only."""
    ops = sorted(set(pa) | set(pb))
    return [(op, pa.get(op), pb.get(op)) for op in ops if pa.get(op) != pb.get(op)]


def diff(name, a, b, out=sys.stdout):
    la, lb = a["layers"], b["layers"]
    print(f"== {name}", file=out)
    print(f"{'metric':<28}{'parent':>16}{'change':>16}{'delta':>14}{'%':>9}", file=out)
    for k in sorted(set(la) | set(lb)):
        va, vb = la.get(k), lb.get(k)
        if va is None or vb is None:
            print(f"{k:<28}{str(va):>16}{str(vb):>16}", file=out)
            continue
        pct = f"{(vb - va) / va * 100:+.1f}" if va else ""
        print(f"{k:<28}{va:>16.2f}{vb:>16.2f}{vb - va:>+14.2f}{pct:>9}", file=out)
    changed = plan_changes(a.get("plans", {}), b.get("plans", {}))
    if not changed:
        print("plans: plan-identical", file=out)
    texts = {**a.get("plan_texts", {}), **b.get("plan_texts", {})}
    for op, fa, fb in changed:
        print(f"plan-changed {op}: {fa} -> {fb}", file=out)
        old = [l for f in (fa or "").split("+") for l in texts.get(f, "").splitlines()]
        new = [l for f in (fb or "").split("+") for l in texts.get(f, "").splitlines()]
        for line in list(difflib.unified_diff(old, new, lineterm="", n=1))[2:40]:
            print("    " + line, file=out)
    return changed


def main(argv):
    if len(argv) != 3:
        raise SystemExit(__doc__)
    for name, a, b in pairs(argv[1], argv[2]):
        diff(name, load(a), load(b))


if __name__ == "__main__":
    main(sys.argv)
