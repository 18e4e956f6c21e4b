#!/usr/bin/env python3
"""rebaseline.py — write bench_bands.json, benchcheck.py's yardstick,
whole from full-surface Bench captures.

    tools/capture_bench.sh close 2            # tmp/bd_close_{1,2}.json
    python3 tools/rebaseline.py tmp/bd_close_1.json tmp/bd_close_2.json
    cp tmp/bd_close_2.json bench_detail.json  # commit both files

How the bands are made:

* All captures share one config (sf, cpus, shuffle) and one source
  stamp (`src`, Bench's md5 of src/main/scala): fingerprints shift
  5–15% between 4 and 32 shuffle partitions on identical plans, and a
  band that spans a code change would accept both plans. The file
  carries that one stamp; benchcheck refuses a capture or BENCH line
  stamped with another config.
* warm: per key, the median across captures of each capture's `warm`
  (the median of its later passes); band = [min, max] of those. Take
  at least two captures — one gives a point band.
* fingerprints: per key, the (shuffle read, shuffle write) bytes of
  each capture. A capture that differs from every earlier alternative
  beyond benchcheck's tolerance (`same_fingerprint`) adds one — an
  AQE-elidable exchange or block-packing jitter — and benchcheck
  accepts any of them.
* spill: true if any capture spilled; only the constrained-heap sweep
  is expected to.

Keys missing from a capture are dropped with a warning. The file holds
the present only: earlier yardsticks are in git history.
"""
import argparse
import json
import statistics
import sys

from benchcheck import same_fingerprint


def bands(caps):
    keys = set.intersection(*(set(c["queries"]) for c in caps))
    dropped = set.union(*(set(c["queries"]) for c in caps)) - keys
    if dropped:
        print(f"rebaseline: WARNING {len(dropped)} keys not in every "
              f"capture, skipped: {sorted(dropped)[:5]}...", file=sys.stderr)
    out = {}
    for k in sorted(keys):
        rows = [c["queries"][k] for c in caps]
        warms = [r["warm"] for r in rows]
        alts = []
        for r in rows:
            fp = [r.get("shr", 0), r.get("shw", 0)]
            if not any(same_fingerprint(fp, a) for a in alts):
                alts.append(fp)
        out[k] = {"warm": round(statistics.median(warms), 3),
                  "band": [min(warms), max(warms)],
                  "fingerprints": alts,
                  "spill": any(r.get("spill", 0) > 0 for r in rows)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("details", nargs="+", help="bench_detail captures")
    ap.add_argument("--out", default="bench_bands.json")
    args = ap.parse_args()

    caps = [json.load(open(p)) for p in args.details]
    stamp = {}
    for field in ("sf", "cpus", "shuffle", "src"):
        vals = {c.get(field) for c in caps}
        if len(vals) != 1 or None in vals:
            sys.exit(f"rebaseline: captures disagree on or lack {field}: {vals}")
        stamp[field] = vals.pop()
    keys = bands(caps)
    with open(args.out, "w", encoding="utf-8") as f:
        f.write("{\n")
        for field, v in stamp.items():
            f.write(f" {json.dumps(field)}: {json.dumps(v)},\n")
        f.write(f' "captures": {json.dumps(sorted(c.get("ts") for c in caps))},\n')
        f.write(' "keys": {\n')
        f.write(",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}"
                           for k, v in keys.items()))
        f.write("\n }\n}\n")
    multi = [k for k, v in keys.items() if len(v["fingerprints"]) > 1]
    print(f"rebaseline: wrote {len(keys)} keys from {len(caps)} captures to "
          f"{args.out}; {len(multi)} keys carry more than one fingerprint"
          f"{': ' + ', '.join(multi) if multi else ''}")


if __name__ == "__main__":
    main()
