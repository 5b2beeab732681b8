#!/usr/bin/env python3
"""Regenerate bench_reference.json WITHOUT resetting the regression baseline.

The r14 lesson (judge's finding on polar_changes): regenerating the
reference map from the current round's windows silently ADOPTS any
regression that persists across that round's windows — the auto-retimer
then never fires on it again. This tool makes the regeneration itself
regression-aware:

  python3 tools/bench_ref.py PRIOR_REF WINDOW1 [WINDOW2 ...] \
      [--retime name=sec ...] [--out bench_reference.json]

- computes the elementwise MIN across the window files' `queries` maps
  (and `control` maps), substituting any --retime overrides (fresh-JVM
  GateProf evidence);
- compares the result against PRIOR_REF (the PRIOR round's committed
  map): every gate whose new best-of exceeds 2x the prior value (and by
  more than 1s, the Bench retimer's own noise floor) is printed as a
  REGRESSION and the tool exits 1 WITHOUT writing — the round must either
  fresh-JVM retime the gate (pass --retime) or explain the number
  in-artifact and pass --accept name;
- new gates (absent from the prior map) pass through with a note.

Exit 0 = reference written; the report is the PLANS-paste-able audit.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def main(argv):
    args = [a for a in argv[1:]]
    out_path = "bench_reference.json"
    retimes, accepted, paths = {}, set(), []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--out":
            out_path = args[i + 1]; i += 2
        elif a == "--retime":
            name, sec = args[i + 1].split("="); retimes[name] = float(sec); i += 2
        elif a == "--accept":
            accepted.add(args[i + 1]); i += 2
        else:
            paths.append(a); i += 1
    if len(paths) < 2:
        print(__doc__)
        return 2
    prior, windows = load(paths[0]), [load(p) for p in paths[1:]]

    merged, control = {}, {}
    for w in windows:
        for k, v in w.get("queries", {}).items():
            merged[k] = min(merged.get(k, float("inf")), float(v))
        for k, v in w.get("control", {}).items():
            control[k] = min(control.get(k, float("inf")), float(v))
    # fold each window's own retimed evidence in (it is fresher than the
    # battery number for the same gate in the same window)
    for w in windows:
        for k, v in w.get("retimed", {}).items():
            if k in merged:
                merged[k] = min(merged[k], float(v))
    merged.update(retimes)

    prior_q = prior.get("queries", {})
    regressions, news = [], []
    for k, v in sorted(merged.items()):
        if k not in prior_q:
            news.append(k)
        else:
            p = float(prior_q[k])
            if v > 2.0 * p and v - p > 1.0 and k not in accepted:
                regressions.append((k, p, v))
    for k in sorted(set(prior_q) - set(merged)):
        print(f"NOTE  gate removed since prior round: {k}")
    for k in news:
        print(f"NOTE  new gate (no prior baseline): {k} = {merged[k]:.3f}s")
    if regressions:
        for k, p, v in regressions:
            ratio = f"{v / p:.1f}x" if p > 0 else "inf"
            print(f"REGRESSION  {k}: prior {p:.3f}s -> best-of {v:.3f}s "
                  f"({ratio}). Fresh-JVM retime (GateProf) and pass "
                  f"--retime {k}=<sec>, or justify in PLANS and pass --accept {k}")
        print(f"\n{len(regressions)} unexplained regression(s) vs the prior "
              f"committed map — reference NOT written.")
        return 1

    # windows carry sf as the SPARK_GRAFT_SF_DIR path — normalize to the
    # numeric scale factor the reference schema intends (portable across
    # hosts, numerically comparable)
    raw_sf = windows[-1].get("sf", prior.get("sf", 0.1))
    if isinstance(raw_sf, str):
        import re
        m = re.search(r"sf([0-9.]+)/?$", raw_sf)
        raw_sf = float(m.group(1)) if m else prior.get("sf", 0.1)
    doc = {
        "note": ("clean per-gate reference map for Bench outlier auto-retime; "
                 "regenerated by tools/bench_ref.py against the PRIOR round's "
                 "committed map (regressions >2x prior refuse adoption)"),
        "sf": raw_sf,
        "control": {k: round(v, 3) for k, v in control.items()},
        "queries": {k: round(v, 3) for k, v in sorted(merged.items())},
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(f"OK  wrote {out_path}: {len(merged)} gates, "
          f"sum {sum(merged.values()):.1f}s (prior sum over common gates "
          f"{sum(float(prior_q[k]) for k in merged if k in prior_q):.1f}s)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
