#!/usr/bin/env python3
"""benchcheck.py — automated driver-bench attribution.

Joins a driver BENCH_r{N}.json against the committed yardstick —
bench_bands.json (written whole by tools/rebaseline.py) and the
full-surface bench_detail.json capture — and classifies every visible
key, so a box-drift round (r10: +40% uniform) can never mask a real
plan regression, and a real regression can never hide behind "the box
is noisy":

  inside-warm-band    driver time is the key's warm band scaled by the
                      run's GLOBAL drift factor (median of driver time /
                      warm median over all banded keys — uniform drift
                      is box, not plans) plus per-key slack.
  faster-than-band    below the scaled band: listed, not fatal (a plan
                      doing LESS work lands here too; the fingerprint
                      is the cross-check).
  cold-attributable   the key's capture shows a big cold/warm gap
                      (stored-artifact build, first-plan codegen) and
                      the driver number is consistent with paying cold.
  fingerprint-changed the detail capture's shuffle read/write moved
                      against every accepted fingerprint in the bands
                      (>0.2% rel AND >64 KB abs) — a PLAN change.
  no-yardstick        the key has neither a band nor a capture.
  UNEXPLAINED         none of the above. Investigate before shipping.

Exit 1 iff any of these holds:
  * a key is UNEXPLAINED;
  * a fingerprint moved and fingerprints_ok.json ({key: reason}) does
    not justify it — fatal even when the key's timing is inside its
    band, because a plan regression lands exactly in the moved class.
    The normal path is to rebaseline, so the new plan IS the
    expectation; fingerprints_ok.json only bridges an intentional
    re-plan until then;
  * the detail capture, or the BENCH line, is stamped with another
    (cpus, shuffle) than the bands: fingerprints shift 5–15% between 4
    and 32 shuffle partitions on identical plans, and bands are as
    config-sensitive, so a mismatch would switch a whole gate off;
  * the detail file covers under 90% of the bench keys (a scoped
    capture committed as the yardstick);
  * with --prev, the suite total regressed more than --ratchet: the
    drift factor is a MEDIAN, so a uniform per-key code regression is
    absorbed into it and only the total can catch it.

--slack 0.5: the largest same-round driver-vs-capture residual against
the scaled band ceiling was graph_khop at (t-floor)/(hi·drift) = 1.29
(round-11 data), so 0.5 keeps ×1.16 margin over it.

Usage:
  python3 tools/benchcheck.py BENCH_r18.json \
      [--detail bench_detail.json] [--bands bench_bands.json] \
      [--prev <older BENCH json>] [--slack 0.5] [--abs-floor 0.35] \
      [--fingerprints-ok fingerprints_ok.json] [--ratchet 0.15]
  python3 tools/benchcheck.py BENCH_r18.json --selftest
"""
import argparse
import json
import os
import statistics
import sys

CONFIG = ("cpus", "shuffle")


def same_fingerprint(a, b, rel_tol=0.002, abs_tol=64 * 1024):
    """True iff (shuffle read, shuffle write) byte pairs a and b agree
    within the tolerance on both sides. rebaseline.py records a new
    alternative exactly when this is False for every earlier one."""
    return all(abs(x - y) <= max(rel_tol * max(x, y), abs_tol)
               for x, y in zip(a, b))


def load_bench(path):
    """(doc, times): the BENCH document and its per-key seconds. The
    driver wraps the line in {"parsed": ...}; a bare line is legal too."""
    doc = json.load(open(path))
    parsed = doc.get("parsed", doc)
    times = {k: float(v) for k, v in parsed.get("queries", {}).items()
             if isinstance(v, (int, float)) and v >= 0}
    return doc, times


def config_errors(bands, detail_doc, bench_doc):
    """One line per stamped (cpus, shuffle) field of the capture or the
    BENCH line that disagrees with the bands."""
    errs = []
    for name, doc in (("detail capture", detail_doc), ("bench line", bench_doc)):
        for f in CONFIG:
            if f in doc and doc[f] != bands.get(f):
                errs.append(f"{name} {f}={doc[f]} vs bands {f}={bands.get(f)}")
    return errs


def selftest(args):
    """Negative and positive controls for the gate itself:

      A clean      the tree as-is exits 0 (else the committed yardstick
                   is already out of sync — fix that before any work).
      B ×5         ×5 on the slowest banded key → exit 1.
      C ×5+fp      the same ×5 plus a forged fingerprint move on the
                   victim → exit 1 (the r11 hole: the move routed the
                   anomaly to a non-fatal class and the ×5 exited 0).
      D fp-only    the forged move, timing untouched → exit 1.
      E fp+ok      the forged move justified in a fingerprints_ok file
                   → exit 0 (the gate is strict, not stuck).
      F config     the detail capture stamped with another cpus → exit 1
                   (a mismatch must not switch the fingerprint gate off).
    """
    import copy
    import subprocess
    import tempfile
    base, times = load_bench(args.bench)
    bands = json.load(open(args.bands))
    victim = max((k for k in times if k in bands["keys"]), key=times.get)
    det = json.load(open(args.detail))
    tmp = []

    def tmpjson(obj):
        f = tempfile.NamedTemporaryFile("w", suffix=".json", delete=False)
        json.dump(obj, f)
        f.close()
        tmp.append(f.name)
        return f.name

    bad = copy.deepcopy(base)
    bad.get("parsed", bad)["queries"][victim] = times[victim] * 5.0
    badpath = tmpjson(bad)
    # forged move: the victim's accepted shuffle bytes +50% — far
    # outside the 0.2%/64KB tolerance for any real key
    fdet = copy.deepcopy(det)
    shr, shw = bands["keys"][victim]["fingerprints"][0]
    fdet["queries"][victim] = dict(det["queries"].get(victim, {}),
                                   shr=int(shr * 1.5) + 10**6, shw=shw)
    fdetpath = tmpjson(fdet)
    cdetpath = tmpjson(dict(det, cpus=8 if bands["cpus"] != 8 else 4))
    # A-D and F pass an EXPLICIT empty justification file: the default
    # resolves against CWD, and a committed entry naming the victim
    # would turn C/D's expected exit 1 into 0.
    emptyok = tmpjson({})
    okpath = tmpjson({victim: "selftest: forged move, justified leg"})

    def run(bench, detail, ok=emptyok):
        return subprocess.run(
            ["python3", __file__, bench, "--bands", args.bands,
             "--detail", detail, "--fingerprints-ok", ok],
            stdout=subprocess.DEVNULL).returncode

    cases = [
        ("A clean", run(args.bench, args.detail), 0),
        ("B x5", run(badpath, args.detail), 1),
        ("C x5+fp-move", run(badpath, fdetpath), 1),
        ("D fp-move-only", run(args.bench, fdetpath), 1),
        ("E fp-move+justified", run(args.bench, fdetpath, okpath), 0),
        ("F detail-at-other-config", run(args.bench, cdetpath), 1),
    ]
    for p in tmp:
        os.unlink(p)
    passed = 0
    for name, got, want in cases:
        passed += got == want
        print(f"selftest {name} (victim '{victim}'): exit {got} "
              f"(want {want}) -> {'ok' if got == want else 'FAIL'}")
    print(f"selftest: {passed}/{len(cases)} "
          f"{'PASS' if passed == len(cases) else 'FAIL'}")
    sys.exit(0 if passed == len(cases) else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("bench")
    ap.add_argument("--detail", default="bench_detail.json")
    ap.add_argument("--bands", default="bench_bands.json")
    ap.add_argument("--prev", default=None)
    ap.add_argument("--slack", type=float, default=0.5,
                    help="per-key multiplicative slack beyond global drift")
    ap.add_argument("--abs-floor", type=float, default=0.35,
                    help="seconds a key must exceed its scaled band by "
                         "before it can be UNEXPLAINED")
    ap.add_argument("--fingerprints-ok", default="fingerprints_ok.json",
                    help="committed {key: reason} justifications for "
                         "intentional plan changes awaiting rebaseline")
    ap.add_argument("--ratchet", type=float, default=0.15,
                    help="with --prev: fail if suite total regressed by "
                         "more than this fraction (0 disables)")
    ap.add_argument("--selftest", action="store_true",
                    help="run the six gate controls (A-F) and exit")
    args = ap.parse_args()
    if args.selftest:
        selftest(args)

    bench, times = load_bench(args.bench)
    parsed = bench.get("parsed", bench)
    bands = json.load(open(args.bands))
    band = bands["keys"]
    detail_doc = json.load(open(args.detail))
    detail = detail_doc["queries"]
    justified = {}
    if os.path.exists(args.fingerprints_ok):
        justified = json.load(open(args.fingerprints_ok))

    errs = config_errors(bands, detail_doc, bench)
    if errs:
        print(f"benchcheck: FATAL — config mismatch with {args.bands} "
              f"({'; '.join(errs)}). The bands hold one config; compare "
              f"at it, or rebaseline at the capture's config.")
        sys.exit(1)
    detail_cov = sum(1 for k in times if k in detail)
    if times and detail_cov < 0.9 * len(times):
        print(f"benchcheck: FATAL — detail file {args.detail} covers only "
              f"{detail_cov}/{len(times)} bench keys; it looks like a "
              f"scoped capture committed as the full-surface yardstick. "
              f"Recapture (no SPARK_GRAFT_ONLY) and recommit.")
        sys.exit(1)

    ratios = [times[k] / band[k]["warm"] for k in times
              if k in band and band[k]["warm"] > 0]
    drift = statistics.median(ratios) if ratios else 1.0

    classes = {"inside-warm-band": [], "faster-than-band": [],
               "cold-attributable": [], "fingerprint-changed": [],
               "no-yardstick": [], "UNEXPLAINED": []}
    fp_moves, fp_compared = [], 0
    for k in sorted(times, key=lambda x: -times[x]):
        t = times[k]
        moved = False
        if k in band and k in detail:
            fp_compared += 1
            got = (detail[k].get("shr", 0), detail[k].get("shw", 0))
            alts = band[k]["fingerprints"]
            moved = not any(same_fingerprint(got, a) for a in alts)
            if moved:
                fp_moves.append((k, got, alts))
        if k in band:
            lo, hi = band[k]["band"]
            ceil = hi * drift * (1 + args.slack) + args.abs_floor
            floor = lo * drift / (1 + args.slack) - args.abs_floor
            if floor <= t <= ceil:
                classes["inside-warm-band"].append((k, t, band[k]["warm"] * drift))
                continue
            if t < floor:
                classes["faster-than-band"].append((k, t, band[k]["warm"] * drift))
                continue
        if k in detail:
            cold, warm = detail[k].get("cold", 0), detail[k].get("warm", 0)
            if warm > 0 and cold / warm > 1.8 and t <= cold * drift * (1 + args.slack) + args.abs_floor:
                classes["cold-attributable"].append((k, t, cold * drift))
                continue
        if moved:
            classes["fingerprint-changed"].append((k, t, band[k]["warm"] * drift))
        elif k not in band and k not in detail:
            classes["no-yardstick"].append((k, t, None))
        else:
            classes["UNEXPLAINED"].append((k, t, band.get(k, {}).get("warm", 0) * drift))

    total = parsed.get("value")
    print(f"benchcheck: {args.bench}  total={total}s  keys={len(times)}  "
          f"global-drift×{drift:.2f} (median driver/warm over {len(ratios)} banded keys)  "
          f"config cpus={bands.get('cpus')} shuffle={bands.get('shuffle')}")
    ratchet_fired = False
    if args.prev:
        pdoc, prev = load_bench(args.prev)
        prev_total = pdoc.get("parsed", pdoc).get("value")
        common = [k for k in times if prev.get(k, 0) > 0]
        if common:
            r = statistics.median(times[k] / prev[k] for k in common)
            print(f"  vs {args.prev}: median per-key ratio {r:.2f} over {len(common)} common keys")
        if (args.ratchet > 0 and isinstance(total, (int, float))
                and isinstance(prev_total, (int, float)) and prev_total > 0):
            tr = total / prev_total
            if tr > 1 + args.ratchet:
                ratchet_fired = True
                print(f"  RATCHET: total {total}s is ×{tr:.2f} of previous "
                      f"{prev_total}s (> +{args.ratchet:.0%}). A uniform "
                      f"per-key regression hides inside the drift median — "
                      f"re-measure, or pass --ratchet 0 after diagnosing "
                      f"({'fingerprint moves present' if fp_moves else 'zero fingerprint moves'}).")
    for name, rows in classes.items():
        print(f"  {name}: {len(rows)}")
        if name != "inside-warm-band":
            for k, t, extra in rows:
                print(f"    {k}: driver {t:.2f}s  "
                      f"({'expected~%.2fs' % extra if extra is not None else 'no band, no capture'})")
    print(f"  fingerprints compared: {fp_compared} of {len(times)} keys")
    unjustified = [k for k, _, _ in fp_moves if k not in justified]
    if fp_moves:
        print(f"  fingerprint moves vs {args.bands} (plan changes):")
        for k, got, alts in fp_moves:
            exps = " or ".join(f"{r / 1e6:.2f}/{w / 1e6:.2f}" for r, w in alts)
            j = f"justified: {justified[k]}" if k in justified else "UNJUSTIFIED (fatal)"
            print(f"    {k}: got {got[0] / 1e6:.2f}/{got[1] / 1e6:.2f} MB  "
                  f"expected {exps} MB  [{j}]")
    else:
        print(f"  fingerprints: all compared keys match {args.bands}")
    fatal = bool(classes["UNEXPLAINED"]) or bool(unjustified) or ratchet_fired
    sys.exit(1 if fatal else 0)


if __name__ == "__main__":
    main()
