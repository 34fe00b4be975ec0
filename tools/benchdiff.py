#!/usr/bin/env python3
"""Compare two bench outputs (canonical line files or BENCH_r*.json).

Usage: benchdiff.py <before> <after> [threshold]
Accepts either a raw bench stdout file (last {"metric":...} line wins) or
a driver BENCH_r*.json (uses .parsed). Prints total, geomean speedup over
the common set, and the biggest movers in both directions.
"""
import json, math, sys


def load(path):
    txt = open(path).read()
    line = None
    try:
        j = json.loads(txt)
        if isinstance(j, dict) and "parsed" in j:
            line = j["parsed"]
        elif isinstance(j, dict) and "metric" in j:
            line = j
    except json.JSONDecodeError:
        for ln in txt.splitlines():
            if '"metric"' in ln:
                try:
                    line = json.loads(ln[ln.index('{"metric"'):])
                except Exception:
                    pass
    # a BENCH_r*.json of a failed run carries "parsed": null
    if not isinstance(line, dict) or "queries" not in line \
            or "value" not in line:
        sys.exit(f"no canonical line with queries and value in {path}")
    return line


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb), key=lambda k: int(k) if k.isdigit() else 0)
    ratios = []
    movers = []
    for q in common:
        va, vb = float(qa[q]), float(qb[q])
        if va <= 0 or vb <= 0:
            continue
        r = va / vb  # speedup: >1 means after is faster
        ratios.append(math.log(r))
        if r >= thr or r <= 1 / thr:
            movers.append((r, q, va, vb))
    print(f"total: {a['value']} -> {b['value']} "
          f"({float(a['value']) / float(b['value']):.3f}x)")
    if "jit" in b:
        print(f"after jit: {b['jit']}")
    if ratios:
        print(f"geomean speedup over {len(ratios)} common: "
              f"{math.exp(sum(ratios) / len(ratios)):.3f}")
    print(f"only-in-before: {sorted(set(qa) - set(qb))}")
    print(f"only-in-after: {sorted(set(qb) - set(qa))}")
    for r, q, va, vb in sorted(movers):
        tag = "IMPROVED" if r > 1 else "REGRESSED"
        print(f"  {tag} q{q}: {va} -> {vb} ({r:.2f}x)")


if __name__ == "__main__":
    main()
