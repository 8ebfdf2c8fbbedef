#!/usr/bin/env python
"""Host-normalized per-query bench gate with FITTED error bars.

Flags per-query slowdowns after calibration normalization, against
per-query error bars fitted from the committed bench history (not a
fixed threshold) — automating the
analysis VERDICT r12 had to do by hand to clear the misleading
126.9 s vs 101.8 s raw driver numbers (a 1.33x host-factor artifact).

Model ("fit"): the committed BENCH_local_r*.json / driver
BENCH_r*.json artifacts of the last --window rounds (default 3 — an
older round's plan IMPROVEMENT would otherwise inflate the bar
forever; q146's full-history envelope was 12.2x) are converted to
CALIBRATION UNITS — each per-query time divided by that artifact's
q01 calibration seconds, the fixed yardstick bench.py runs first on
every host window. Per query, the fitted error bar is the largest
deviation factor any windowed observation shows against the
window's median, padded 15% and floored at 1.30x (sub-100 ms
queries wobble more than any plan change): a bound derived from how
much THIS query's shipping plan actually moves on wobbling hosts.
Written to BENCH_MODEL.json.

Gate ("check OLD NEW"): both artifacts are normalized by their own
calibration, then every common query's normalized ratio must sit
inside its fitted bar (falling back to 2.0x for queries with no
history). Regressions smaller than --abs-floor calibration units
(default 0.05 ~= 150 ms on this container) never fail — a 1.5x
"regression" of a 40 ms query is scheduler noise, not a plan change.
A query that errored in NEW but ran in OLD always fails. Exit 1 on
any failure.

Usage:
    python tools/bench_gate.py fit [--out BENCH_MODEL.json]
    python tools/bench_gate.py check OLD.json NEW.json
        [--model BENCH_MODEL.json] [--abs-floor 0.05]
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_TOL = 2.0      # queries with no fitted history
TOL_FLOOR = 1.30       # no bar tighter than this (timer noise)
TOL_PAD = 1.15         # envelope padding over the observed max dev


def load_bench(path: str) -> dict | None:
    """Normalize one artifact to {queries: {q: sec}, calibration}.
    Accepts bench.py's own JSON or the driver wrapper (parsed /
    tail-scraped)."""
    try:
        with open(path) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return None
    if "queries" not in d:
        if d.get("parsed"):
            d = d["parsed"]
        else:
            tail = d.get("tail", "") or ""
            queries = {
                m.group(1): float(m.group(2))
                for m in re.finditer(
                    r'"(q\d+[a-z0-9_]*)":\s*(-?\d+(?:\.\d+)?)', tail)
            }
            if not queries:
                return None
            d = {"queries": queries}
            cm = re.search(
                r'"calibration":\s*{[^}]*"sec":\s*(\d+(?:\.\d+)?)', tail)
            if cm:
                d["calibration"] = {"sec": float(cm.group(1))}
    calib = (d.get("calibration") or {}).get("sec")
    if not calib or calib <= 0:
        return None
    return {"queries": d["queries"], "calib": float(calib),
            "path": os.path.basename(path)}


def _round_of(path: str) -> int:
    m = re.search(r"_r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else 0


def fit(out_path: str, window: int = 3) -> int:
    """Fit over the LAST `window` rounds only: a query that a past
    round made 12x faster would otherwise carry that plan change as
    its 'error bar' forever (q146's envelope spanned 12.2x over the
    full history), leaving the gate blind to a real regression of
    the CURRENT plan. Three rounds of (local + driver) artifacts
    give up to 6 observations of the plan actually shipping."""
    candidates = []
    for pat in ("BENCH_local_r*.json", "BENCH_r*.json"):
        candidates.extend(glob.glob(os.path.join(REPO, pat)))
    rounds = sorted({_round_of(p) for p in candidates})
    keep = set(rounds[-window:]) if window else set(rounds)
    history = []
    for p in sorted(candidates):
        if _round_of(p) not in keep:
            continue
        b = load_bench(p)
        if b:
            history.append(b)
    if len(history) < 2:
        print("bench_gate: need >= 2 loadable artifacts to fit",
              file=sys.stderr)
        return 2
    series: dict[str, list[float]] = {}
    for b in history:
        for q, t in b["queries"].items():
            # strictly positive: bench.py rounds, so a sub-threshold
            # query can record 0.0 — a zero median would divide the
            # deviation calc by zero and an all-zero series would
            # empty the max() generator (both crash fit)
            if t is not None and t > 0:
                series.setdefault(q, []).append(t / b["calib"])
    model = {}
    for q, vals in sorted(series.items()):
        vals = sorted(vals)
        med = vals[len(vals) // 2]
        if len(vals) < 2:
            model[q] = {"median_cal": round(med, 4), "n": 1,
                        "tolerance": DEFAULT_TOL}
            continue
        maxdev = max(max(v / med, med / v) for v in vals)
        tol = max(TOL_FLOOR, round(maxdev * TOL_PAD, 3))
        model[q] = {"median_cal": round(med, 4), "n": len(vals),
                    "max_dev": round(maxdev, 3), "tolerance": tol}
    artifact = {
        "queries": model,
        "artifacts": [b["path"] for b in history],
        "note": (
            "per-query wall-time error bars in q01-calibration units "
            "over the committed bench history; tolerance = "
            f"max({TOL_FLOOR}, observed-max-dev * {TOL_PAD}). "
            "bench_gate.py check fails any host-normalized regression "
            "past its query's bar."
        ),
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    n_tight = sum(1 for m in model.values()
                  if m["tolerance"] < DEFAULT_TOL)
    print(f"wrote {out_path}: {len(model)} queries over "
          f"{len(history)} artifacts ({n_tight} with sub-{DEFAULT_TOL}x "
          "fitted bars)")
    return 0


def check(old_path: str, new_path: str, model_path: str,
          abs_floor: float) -> int:
    old, new = load_bench(old_path), load_bench(new_path)
    if old is None or new is None:
        print("bench_gate: artifact unreadable or missing calibration "
              f"({old_path if old is None else new_path})",
              file=sys.stderr)
        return 2
    bars = {}
    if os.path.exists(model_path):
        with open(model_path) as f:
            bars = json.load(f)["queries"]
    host = new["calib"] / old["calib"]
    print(f"calibration: old {old['calib']:.2f}s new {new['calib']:.2f}s "
          f"-> host factor {host:.2f}x")
    failures = []
    common = sorted(set(old["queries"]) & set(new["queries"]))
    for q in common:
        a, b = old["queries"][q], new["queries"][q]
        if b is not None and b < 0 and (a is not None and a >= 0):
            failures.append(f"{q}: ran in OLD, errored in NEW")
            continue
        if not a or not b or a < 0:
            continue
        an, bn = a / old["calib"], b / new["calib"]
        ratio = bn / an if an > 0 else 1.0
        tol = (bars.get(q) or {}).get("tolerance", DEFAULT_TOL)
        if ratio > tol and (bn - an) > abs_floor:
            failures.append(
                f"{q}: {a:.2f}s -> {b:.2f}s = {ratio:.2f}x normalized "
                f"(bar {tol}x, delta {bn - an:.2f} cal-units)")
    only_new = sorted(set(new["queries"]) - set(old["queries"]))
    if only_new:
        print(f"new queries (informational): {', '.join(only_new)}")
    only_old = sorted(set(old["queries"]) - set(new["queries"]))
    if only_old:
        failures.append(f"queries dropped in NEW: {', '.join(only_old)}")
    for msg in failures:
        print(f"FAIL {msg}")
    print(f"{len(common)} compared, {len(failures)} fail")
    return 1 if failures else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    f = sub.add_parser("fit")
    f.add_argument("--out", default=os.path.join(REPO, "BENCH_MODEL.json"))
    f.add_argument("--window", type=int, default=3,
                   help="fit over the last N rounds (0 = all history)")
    c = sub.add_parser("check")
    c.add_argument("old")
    c.add_argument("new")
    c.add_argument("--model",
                   default=os.path.join(REPO, "BENCH_MODEL.json"))
    c.add_argument("--abs-floor", type=float, default=0.05,
                   help="min normalized regression (cal-units) to fail")
    args = ap.parse_args()
    if args.cmd == "fit":
        return fit(args.out, args.window)
    return check(args.old, args.new, args.model, args.abs_floor)


if __name__ == "__main__":
    raise SystemExit(main())
