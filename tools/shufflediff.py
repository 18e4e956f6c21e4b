#!/usr/bin/env python3
"""Diff two bench_detail.json files by shuffle fingerprint — dev tool.

Wall-clock drifts with box state; shuffle bytes don't. This prints
only keys whose warm-pass shuffle read/write or spill bytes changed
between two bench runs — the noise-free signal that a PLAN changed
(or the input did). Identical fingerprints with different timings =
box drift; different fingerprints = diff the code.

    python3 tools/shufflediff.py <old bench_detail.json> <new ...>
"""
import json
import sys

# Compressed shuffle sizes jitter across runs of one plan (block-packing
# order): join_geo_nearest by 986 B of 687 KB (0.14%) across three
# full-surface captures at local[32]/shuffle 32, every other key by 0 B;
# a relative tolerance keeps the diff signal plan-only. An AQE-elidable exchange (bipartite) moves real
# bytes and SHOULD print; bench_bands.json records such keys with more
# than one accepted fingerprint.
TOL = 0.002


def differs(x, y):
    if x == y:
        return False
    return abs(x - y) > TOL * max(abs(x), abs(y))


def main():
    old, new = (json.load(open(p))["queries"] for p in sys.argv[1:3])
    fields = ("shr", "shw", "spill")
    changed = []
    for k in sorted(set(old) | set(new)):
        a, b = old.get(k), new.get(k)
        if a is None or b is None:
            changed.append((k, a and "removed" or "added", "", ""))
            continue
        if any(differs(a.get(f, -1), b.get(f, -1)) for f in fields):
            changed.append(
                (k, *(f"{a.get(f, -1)}->{b.get(f, -1)}"
                      for f in fields)))
    if not changed:
        print(f"fingerprints identical across {len(new)} keys")
        return
    print(f"{len(changed)} key(s) changed (shr / shw / spill):")
    for row in changed:
        print("  " + "  ".join(str(x) for x in row))
    sys.exit(1)


if __name__ == "__main__":
    main()
