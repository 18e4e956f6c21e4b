#!/usr/bin/env python3
"""benchcheck.py — automated driver-bench attribution (round-11, re-armed
round-12 per the r11 verdict).

Joins a driver BENCH_r{N}.json against the three local artifacts that
explain per-key timing moves, and classifies every visible key so a
box-drift round (r10: +40% uniform) can never mask a real plan
regression — and a real regression can never hide behind "the box is
noisy":

  inside-warm-band    driver time is the builder's warm band scaled by
                      the round's GLOBAL drift factor (median ratio of
                      driver time / builder warm median over all keys —
                      uniform drift is box, not plans) plus per-key
                      slack.
  cold-attributable   key's local capture shows a big cold/warm gap
                      (stored-artifact build, first-plan codegen); the
                      driver number is consistent with paying cold.
  fingerprint-changed the local bench_detail shuffle fingerprint moved
                      vs BASELINE.md's table (>0.2% rel AND >64 KB abs;
                      the AQE-flicker keys carry both accepted values) —
                      a PLAN change. FATAL unless the key is justified
                      in fingerprints_ok.json (see below).
  UNEXPLAINED         none of the above. Investigate before shipping.

Round-12 hardening (r11 verdict tasks 1/3/6):

  * An unjustified fingerprint move is FATAL even when the key's timing
    is inside its band — a plan regression lands exactly in the
    fingerprint-moved class, and r11's selftest proved a ×5 regression
    could hide behind a concurrent fingerprint move and exit 0.
    Justification = a committed fingerprints_ok.json mapping
    {key: "reason"}; the normal path is regenerating the BASELINE
    tables (tools/rebaseline.py) at round close so the new plan IS the
    expectation — fingerprints_ok.json only bridges the window between
    an intentional re-plan and the next rebaseline.
  * Fingerprints are CONFIG-KEYED: shuffle block packing differs 5–15%
    between 4 and 32 shuffle partitions on identical plans (the 16
    spurious r11 "moves" were exactly this). bench_detail.json records
    (cpus, shuffle); rebaseline.py stamps them into each BASELINE
    section header; a compare across differing configs is SKIPPED with
    a loud note instead of reported as a move. Legacy artifacts without
    config stamps compare as before (flagged "config-unknown").
  * --prev total-time ratchet: global drift is a MEDIAN, so a uniform
    per-key code regression is absorbed into the drift factor and every
    key classifies inside-band. If the suite total regresses more than
    --ratchet (default 0.15) vs the previous round's BENCH file, exit
    nonzero regardless of per-key classes; box drift that large must be
    re-measured (3-pass median) or explicitly waved through with
    --ratchet 0 after investigation.
  * Default --slack tightened 0.6 → 0.5. Calibration (round-11 data):
    the largest same-round driver-vs-builder residual against the
    scaled band ceiling was graph_khop at (t-floor)/(hi·drift) = 1.29
    (next: sssp 1.15, dedup_components 0.86); slack 0.5 keeps ×1.16
    margin over the worst observed residual while flagging per-key
    regressions 20% earlier than 0.6 did. Bands regenerate each round,
    so slack only has to absorb within-round box asymmetry, not
    round-over-round drift (the drift factor handles that).

Usage:
  python3 tools/benchcheck.py BENCH_r12.json \
      [--detail bench_detail.json] [--baseline BASELINE.md] \
      [--prev BENCH_r11.json] [--slack 0.5] [--abs-floor 0.35] \
      [--fingerprints-ok fingerprints_ok.json] [--ratchet 0.15]

Exit code 1 iff any UNEXPLAINED key remains, any fingerprint move is
unjustified, or the --prev ratchet fires.

Sources joined (all committed in-repo):
  * BASELINE.md "per-key warm bands" table — three-run min–max of the
    warm (median-of-later-passes) time at the driver config.
  * BASELINE.md "per-key shuffle fingerprint" tables — expected
    deterministic shr/shw per key at the stamped config (flat table +
    the "old → new" reductions table; the arrow's right side is
    current).
  * bench_detail.json — the FULL-surface local capture at the driver
    config committed each round close ({med, cold, warm, shr, shw,
    spill} per key + {sf, cpus, shuffle, passes} config stamp).
"""
import argparse
import json
import os
import re
import statistics
import sys

DASH = "–"  # en-dash used in the band column


def section_config(line):
    """Extract {cpus, shuffle} stamped into a '## ...' section header by
    rebaseline.py; {} for legacy headers without a stamp."""
    cfg = {}
    m = re.search(r"cpus=(\d+)", line)
    if m:
        cfg["cpus"] = int(m.group(1))
    m = re.search(r"shuffle=(\d+)", line)
    if m:
        cfg["shuffle"] = int(m.group(1))
    return cfg


def parse_baseline(path):
    """Return (warm_bands, fingerprints, band_cfg, fp_cfg).

    warm_bands: {key: (median, lo, hi)} seconds.
    fingerprints: {key: [(shr_mb, shw_mb), ...]} — a list because the
    documented AQE-flicker keys have two accepted values.
    band_cfg / fp_cfg: {key: {cpus, shuffle}} from the section header
    that last wrote the key ({} for legacy sections).

    Later sections SUPERSEDE earlier ones per key: a regenerated
    round-N table (tools/rebaseline.py appends one each round) replaces
    a key's older band/fingerprint instead of widening the accepted
    set — a stale expectation must not keep blessing an old plan.
    """
    bands, fps = {}, {}
    band_cfg, fp_cfg = {}, {}
    fp_section = {}  # key -> section id that last wrote it
    section, section_id, cur_cfg = None, 0, {}
    for line in open(path, encoding="utf-8"):
        if line.startswith("## "):
            low = line.lower()
            section_id += 1
            cur_cfg = section_config(line)
            if "warm band" in low:
                section = "bands"
            elif "shuffle fingerprint" in low:
                section = "fps"
            else:
                section = None
            continue
        if not line.startswith("|") or section is None:
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) < 3 or cells[0] in ("key", "---") or set(cells[0]) <= {"-"}:
            continue
        key = cells[0]
        if section == "bands":
            m = re.match(r"^([\d.]+)\s*[%s-]\s*([\d.]+)$" % DASH, cells[2])
            if m and re.match(r"^[\d.]+$", cells[1]):
                bands[key] = (float(cells[1]), float(m.group(1)), float(m.group(2)))
                band_cfg[key] = cur_cfg
        elif section == "fps":
            # flat rows: "| key | 5.24 | 5.24 |"
            # reduction rows: "| key | 108.06 → 36.90 (solo) / 60.01 (…) | … | how |"
            def nums(cell):
                if "→" in cell:  # arrow: accept every number on the right side
                    cell = cell.split("→", 1)[1]
                return [float(x) for x in re.findall(r"[\d]+\.[\d]+", cell)]

            rs, ws = nums(cells[1]), nums(cells[2])
            if rs and ws:
                # pair positionally; pad the shorter list with its last value
                n = max(len(rs), len(ws))
                rs += [rs[-1]] * (n - len(rs))
                ws += [ws[-1]] * (n - len(ws))
                if fp_section.get(key, section_id) != section_id:
                    fps[key] = []  # newer section supersedes
                fp_section[key] = section_id
                fps.setdefault(key, []).extend(zip(rs, ws))
                fp_cfg[key] = cur_cfg
    return bands, fps, band_cfg, fp_cfg


def config_mismatch(a, b):
    """True iff both configs are stamped and disagree on any shared key.
    An unstamped (legacy) side never mismatches — it compares with a
    'config-unknown' note instead of silently skipping."""
    if not a or not b:
        return False
    return any(a.get(f) != b.get(f)
               for f in ("cpus", "shuffle") if f in a and f in b)


def fingerprint_moved(key, detail, fps, rel_tol=0.002, abs_tol=64 * 1024):
    """None if no expectation exists; else (moved?, detail_mb, expected_list)."""
    if key not in fps or key not in detail:
        return None
    got_r = detail[key].get("shr", 0) / 1e6
    got_w = detail[key].get("shw", 0) / 1e6
    for exp_r, exp_w in fps[key]:
        ok = True
        for got, exp in ((got_r, exp_r), (got_w, exp_w)):
            diff = abs(got - exp)
            if diff > max(rel_tol * max(exp, got), abs_tol / 1e6):
                ok = False
        if ok:
            return (False, (got_r, got_w), fps[key])
    return (True, (got_r, got_w), fps[key])


def selftest(args):
    """Negative+positive controls for the gate itself. Five cases:

      A clean      tree as-is must exit 0 (if this fails, the committed
                   yardstick is already out of sync — fix before work).
      B ×5         injected ×5 on the slowest banded key → exit 1.
      C ×5+fp      SAME injection plus a forged fingerprint move on the
                   victim → exit 1. This is the exact r11 hole: the
                   move routed the anomaly to the non-fatal
                   fingerprint-changed class and the ×5 exited 0.
      D fp-only    forged fingerprint move, timing untouched → exit 1
                   (an unjustified plan change is fatal on its own).
      E fp+ok      same forged move with the key justified in a
                   fingerprints_ok file → exit 0 (justification path
                   works; the gate is strict, not stuck).

    Guards against the tool drifting into a rubber stamp as slack/floor
    are tuned."""
    import copy
    import subprocess
    import tempfile
    base = json.load(open(args.bench))
    bands, fps, _, fp_cfg = parse_baseline(args.baseline)
    # Mutate through the same resolved dict used for reading: flat
    # bench files (no 'parsed' wrapper) are legal loader input and must
    # be legal selftest input too (r11 ADVICE).
    qs = base.get("parsed", base)["queries"]
    victim = max((k for k in qs if k in bands), key=lambda k: qs[k])

    def tmpjson(obj, suffix=".json"):
        f = tempfile.NamedTemporaryFile("w", suffix=suffix, delete=False)
        json.dump(obj, f)
        f.close()
        return f.name

    bad = copy.deepcopy(base)
    bad.get("parsed", bad)["queries"][victim] = qs[victim] * 5.0
    badpath = tmpjson(bad)
    # forged fingerprint move: +50% shuffle read on the victim — far
    # outside the 0.2%/64KB tolerance for any real key.
    det = json.load(open(args.detail))
    det_q = det.get("queries", det)
    # The committed detail may be a capture at another (cpus, shuffle)
    # than the victim's BASELINE fingerprints, and the gate skips a
    # config-mismatched compare — D and E would then pass vacuously.
    # Stamp the forged copy with the victim's fingerprint config, and
    # give every other key fingerprinted at that config its expected
    # bytes, so the forged move is the only one the gate sees.
    cfg = fp_cfg.get(victim, {})
    if cfg and isinstance(det, dict) and "queries" in det:
        det.update(cfg)
        for k, alts in fps.items():
            if k in det_q and fp_cfg.get(k) == cfg:
                det_q[k]["shr"] = int(alts[0][0] * 1e6)
                det_q[k]["shw"] = int(alts[0][1] * 1e6)
    if victim in det_q and det_q[victim].get("shr", 0) > 0:
        det_q[victim]["shr"] = int(det_q[victim]["shr"] * 1.5)
    else:  # key absent from detail: forge an entry with a huge shr
        det_q[victim] = {"med": qs[victim], "cold": qs[victim],
                         "warm": qs[victim], "shr": 10**9, "shw": 10**9,
                         "spill": 0}
    fdetpath = tmpjson(det)
    okpath = tmpjson({victim: "selftest: forged move, justified leg"})

    me = __file__
    # Cases A-D must run with an EXPLICIT empty justification file: the
    # default --fingerprints-ok resolves against CWD, so a repo-committed
    # fingerprints_ok.json that happens to name the victim key would turn
    # C/D's expected exit 1 into 0 and fail the selftest on a healthy
    # tree. Only case E exercises the justification path, with its own
    # purpose-built file.
    emptyok = tmpjson({})

    def run(bench, detail, extra=("--fingerprints-ok", emptyok)):
        return subprocess.run(
            ["python3", me, bench, "--baseline", args.baseline,
             "--detail", detail, *extra],
            stdout=subprocess.DEVNULL).returncode

    cases = [
        ("A clean", run(args.bench, args.detail), 0),
        ("B x5", run(badpath, args.detail), 1),
        ("C x5+fp-move", run(badpath, fdetpath), 1),
        ("D fp-move-only", run(args.bench, fdetpath), 1),
        ("E fp-move+justified", run(args.bench, fdetpath,
                                    ("--fingerprints-ok", okpath)), 0),
    ]
    ok = True
    for name, got, want in cases:
        good = got == want
        ok = ok and good
        print(f"selftest {name} (victim '{victim}'): exit {got} "
              f"(want {want}) -> {'ok' if good else 'FAIL'}")
    for p in (badpath, fdetpath, okpath, emptyok):
        try:
            os.unlink(p)
        except OSError:
            pass
    print(f"selftest: {'PASS' if ok else 'FAIL'}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("bench")
    ap.add_argument("--detail", default="bench_detail.json")
    ap.add_argument("--baseline", default="BASELINE.md")
    ap.add_argument("--prev", default=None)
    ap.add_argument("--slack", type=float, default=0.5,
                    help="per-key multiplicative slack beyond global drift. "
                         "Calibrated from round-11: worst same-round "
                         "residual vs scaled band ceiling was 1.29 "
                         "(graph_khop); 0.5 keeps ×1.16 margin")
    ap.add_argument("--abs-floor", type=float, default=0.35,
                    help="seconds a key must exceed its scaled band by "
                         "before it can be UNEXPLAINED")
    ap.add_argument("--fingerprints-ok", default="fingerprints_ok.json",
                    help="committed {key: reason} justifications for "
                         "intentional plan changes awaiting rebaseline")
    ap.add_argument("--ratchet", type=float, default=0.15,
                    help="with --prev: fail if suite total regressed by "
                         "more than this fraction (0 disables). Uniform "
                         "regressions are absorbed into the drift median, "
                         "so only the total can catch them")
    ap.add_argument("--selftest", action="store_true",
                    help="negative+positive controls: ×5 regression, "
                         "×5 hidden behind a forged fingerprint move, "
                         "bare forged move, justified move")
    args = ap.parse_args()
    if args.selftest:
        selftest(args)

    bench = json.load(open(args.bench))
    parsed = bench.get("parsed", bench)
    times = {k: float(v) for k, v in parsed.get("queries", {}).items()
             if isinstance(v, (int, float)) and v >= 0}
    bands, fps, band_cfg, fp_cfg = parse_baseline(args.baseline)
    try:
        detail_doc = json.load(open(args.detail))
        detail = detail_doc.get("queries", detail_doc)
    except FileNotFoundError:
        detail_doc, detail = {}, {}
    detail_config = {f: detail_doc[f] for f in ("cpus", "shuffle")
                     if isinstance(detail_doc, dict) and f in detail_doc}
    # The RUN's config, for band gating: the driver stamps cpus at the
    # BENCH doc's top level; shuffle isn't stamped there, so only cpus
    # gates (an unstamped field never mismatches — legacy behavior).
    # Bands are cpus/shuffle-sensitive just like fingerprints; comparing
    # a 4-cpu run against 32-cpu bands would let the drift median absorb
    # a real 8x skew, so a config-mismatched band is SKIPPED, not used.
    run_cfg = {f: bench[f] for f in ("cpus", "shuffle")
               if isinstance(bench, dict) and f in bench}
    justified = {}
    if os.path.exists(args.fingerprints_ok):
        justified = json.load(open(args.fingerprints_ok))
    prev = {}
    prev_total = None
    if args.prev:
        pdoc = json.load(open(args.prev))
        pparsed = pdoc.get("parsed", pdoc)
        prev = {k: float(v) for k, v in pparsed.get("queries", {}).items()}
        prev_total = pparsed.get("value")

    # Yardstick-integrity guard (r11 verdict task 2: commit 0431c47
    # shipped a 2-key scoped capture as "the" bench_detail and disarmed
    # the fingerprint gate for 261 keys): the committed detail must be
    # a full-surface capture — covering (almost) every key the bench
    # ran — or the attribution below is vacuous. Fatal, not a warning.
    detail_cov = sum(1 for k in times if k in detail)
    if times and detail_cov < 0.9 * len(times):
        print(f"benchcheck: FATAL — detail file {args.detail} covers only "
              f"{detail_cov}/{len(times)} bench keys; it looks like a "
              f"scoped capture committed as the full-surface yardstick. "
              f"Recapture (no SPARK_GRAFT_ONLY) and recommit.")
        sys.exit(1)

    # Global drift: median driver/warm ratio over banded keys. Uniform
    # drift is the box (container, cpu steal); per-key residuals are us.
    ratios = {k: times[k] / bands[k][0] for k in times
              if k in bands and bands[k][0] > 0
              and not config_mismatch(run_cfg, band_cfg.get(k, {}))}
    drift = statistics.median(ratios.values()) if ratios else 1.0

    classes = {"inside-warm-band": [], "faster-than-band": [],
               "cold-attributable": [], "fingerprint-changed": [],
               "UNEXPLAINED": [], "no-yardstick": []}
    fp_moves, fp_skipped, band_skipped = [], [], []
    for k in sorted(times, key=lambda x: -times[x]):
        t = times[k]
        if config_mismatch(detail_config, fp_cfg.get(k, {})):
            fp_skipped.append((k, detail_config, fp_cfg.get(k, {})))
            fp = None
        else:
            fp = fingerprint_moved(k, detail, fps)
        if fp and fp[0]:
            fp_moves.append((k, fp[1], fp[2]))
        band_usable = k in bands and not config_mismatch(
            run_cfg, band_cfg.get(k, {}))
        if k in bands and not band_usable:
            band_skipped.append((k, run_cfg, band_cfg.get(k, {})))
        if band_usable:
            med, lo, hi = bands[k]
            ceil = hi * drift * (1 + args.slack) + args.abs_floor
            floor = lo * drift / (1 + args.slack) - args.abs_floor
            if floor <= t <= ceil:
                classes["inside-warm-band"].append((k, t, med * drift))
                continue
            if t < floor:
                # faster than the scaled band: informational, not fatal
                # (e.g. a stored artifact pre-built by the driver's
                # Verify pass ahead of Bench) — but listed, because a
                # plan doing LESS WORK than it should also lands here
                # and the fingerprint column is the cross-check.
                classes["faster-than-band"].append((k, t, med * drift))
                continue
        if k in detail:
            cold, warm = detail[k].get("cold", 0), detail[k].get("warm", 0)
            if warm > 0 and cold / warm > 1.8 and t <= cold * drift * (1 + args.slack) + args.abs_floor:
                classes["cold-attributable"].append((k, t, cold * drift))
                continue
        if fp and fp[0]:
            classes["fingerprint-changed"].append((k, t, fp[1]))
            continue
        if not band_usable and k not in detail:
            classes["no-yardstick"].append((k, t, None))
            continue
        if k in bands and not band_usable:
            # a config-mismatched band is NO yardstick, not a stale one:
            # don't let the key fall through to UNEXPLAINED against a
            # band measured at a different cpus/shuffle shape
            classes["no-yardstick"].append(
                (k, t, f"band config-mismatch {band_cfg.get(k, {})}"))
            continue
        classes["UNEXPLAINED"].append((k, t, bands.get(k, (0, 0, 0))[0] * drift))

    total = parsed.get("value")
    print(f"benchcheck: {args.bench}  total={total}s  keys={len(times)}  "
          f"global-drift×{drift:.2f} (median driver/warm over {len(ratios)} banded keys)  "
          f"detail-config={detail_config or 'unstamped'}")
    ratchet_fired = False
    if prev:
        common = [k for k in times if k in prev and prev[k] > 0]
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
    for name in ("inside-warm-band", "faster-than-band", "cold-attributable",
                 "fingerprint-changed", "no-yardstick", "UNEXPLAINED"):
        rows = classes[name]
        print(f"  {name}: {len(rows)}")
        if name in ("faster-than-band", "cold-attributable",
                    "fingerprint-changed", "no-yardstick", "UNEXPLAINED"):
            for k, t, extra in rows:
                print(f"    {k}: driver {t:.2f}s  ({'expected~%.2fs' % extra if isinstance(extra, float) else extra})")
    if band_skipped:
        cfgs = {(json.dumps(r, sort_keys=True), json.dumps(b, sort_keys=True))
                for _, r, b in band_skipped}
        print(f"  warm-band compare SKIPPED for {len(band_skipped)} keys — "
              f"CONFIG MISMATCH between this run and the BASELINE band "
              f"section ({'; '.join(f'run {r} vs baseline {b}' for r, b in cfgs)}). "
              f"Re-run at the baseline config or rebaseline; these keys "
              f"have NO timing gate this run.")
    if fp_skipped:
        cfgs = {(json.dumps(d, sort_keys=True), json.dumps(b, sort_keys=True))
                for _, d, b in fp_skipped}
        print(f"  fingerprint compare SKIPPED for {len(fp_skipped)} keys — "
              f"CONFIG MISMATCH between detail capture and BASELINE section "
              f"({'; '.join(f'detail {d} vs baseline {b}' for d, b in cfgs)}). "
              f"Recapture bench_detail at the baseline config or rebaseline "
              f"at the capture config; these keys have NO fingerprint gate "
              f"this run.")
    unjustified = [(k, got, exp) for k, got, exp in fp_moves if k not in justified]
    if fp_moves:
        print("  fingerprint moves vs BASELINE.md (plan changes):")
        for k, got, exp in fp_moves:
            exps = " or ".join(f"{r:.2f}/{w:.2f}" for r, w in exp)
            j = f"justified: {justified[k]}" if k in justified else "UNJUSTIFIED (fatal)"
            print(f"    {k}: got {got[0]:.2f}/{got[1]:.2f} MB  expected {exps} MB  [{j}]")
    else:
        print("  fingerprints: all compared keys match BASELINE.md")
    fatal = bool(classes["UNEXPLAINED"]) or bool(unjustified) or ratchet_fired
    sys.exit(1 if fatal else 0)


if __name__ == "__main__":
    main()
