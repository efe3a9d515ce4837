#!/usr/bin/env python3
"""Per-query diff of two steady-bench detail files (min-of-N per
query), for round-over-round drift attribution (r9 VERDICT task 3).

Usage: python3 tools/bench_diff.py OLD.json NEW.json [threshold_s]

Prints shared-query regressions/improvements over the threshold, the
new-query cost, and totals. Loadavg arrays (when present) are shown for
regressed queries so box contention is visible in place. Each side's
failed queries are listed; a total leaves them out, so two totals are
not comparable when either side has failures (detail files written
before the `failed` field count as 0 failures).
"""
import json
import sys


def main():
    old_p, new_p = sys.argv[1], sys.argv[2]
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 0.5
    old = json.load(open(old_p))
    new = json.load(open(new_p))
    oq, nq = old["queries"], new["queries"]
    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    drift = sorted(((nq[q] - oq[q], q) for q in shared), reverse=True)
    print(f"old total {old['value']:.1f}s/{len(oq)}q   "
          f"new total {new['value']:.1f}s/{len(nq)}q")
    for side, d in (("old", old), ("new", new)):
        names = d.get("failed_queries", [])
        print(f"{side} failed: {d.get('failed', 0)}"
              + (f" {', '.join(names)}" if names else ""))
    if old.get("failed", 0) or new.get("failed", 0):
        print("totals are NOT comparable: failed queries are left out of them")
    shared_old = sum(oq[q] for q in shared)
    shared_new = sum(nq[q] for q in shared)
    print(f"shared-query subtotal: {shared_old:.1f}s -> {shared_new:.1f}s "
          f"({shared_new - shared_old:+.1f}s)")
    print(f"new-query cost: {sum(nq[q] for q in added):.1f}s "
          f"({', '.join(f'{q}={nq[q]:.1f}' for q in added)})")
    if removed:
        print(f"removed: {removed}")
    loads = new.get("loadavg", {})
    print(f"\nshared-query drift over {thresh}s:")
    for d, q in drift:
        if abs(d) < thresh:
            continue
        la = loads.get(q)
        la_s = f"  load={la}" if la else ""
        print(f"  {d:+6.2f}s  {q}  ({oq[q]:.2f} -> {nq[q]:.2f}){la_s}")


if __name__ == "__main__":
    main()
