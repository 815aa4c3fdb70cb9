#!/usr/bin/env python3
"""Per-family machine-phase attribution table (VERDICT r16 #6).

Compares two bench artifacts (current vs baseline) and prints, per
query family, the calibration ratio that normalizes that family and the
median per-query wall ratio — so a machine whose disk or state-commit
phase moved reads as CALIBRATION movement, not as a wall of per-query
regressions.

Usage: tools/calib_table.py CURRENT.json BASELINE.json [--md]
Artifacts may be raw bench lines, driver wrappers ({"parsed": ...}), or
reps files (median map under "median").
"""
import json
import statistics
import sys

STREAMING = {
    "q52", "q64", "q73", "q74", "q80", "q81", "q84", "q85",
    "q86", "q87", "q88", "q89", "q105", "q110",
}


def load(path):
    with open(path) as f:
        root = json.loads(f.readline())
    if isinstance(root.get("parsed"), dict):
        root = root["parsed"]
    queries = root.get("queries") or root.get("median") or {}
    # normalize keys to the short form (up to first underscore)
    qs = {k.split("_")[0]: v for k, v in queries.items()}

    def warm_median(arr):
        ok = [v for v in arr if v is not None and v >= 0]
        warm = ok[1:] if len(ok) > 1 else ok  # first value is JIT-cold
        return statistics.median(warm) if warm else None

    calib = {}
    for scalar, array in (("calib_s", "calib"),
                          ("calib_shuffle_s", "calib_shuffle"),
                          ("calib_state_s", "calib_state")):
        v = root.get(scalar)
        if v is None and isinstance(root.get(array), list):
            v = warm_median(root[array])
        calib[scalar] = v
    return qs, calib


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    md = "--md" in sys.argv
    cur_q, cur_c = load(args[0])
    base_q, base_c = load(args[1])

    def ratio(key):
        c, b = cur_c.get(key), base_c.get(key)
        return (c / b) if c and b and b > 0 else None

    fam_calib = {
        "streaming": ratio("calib_state_s") or ratio("calib_s"),
        "batch": ratio("calib_shuffle_s") or ratio("calib_s"),
    }
    rows = []
    for fam in ("batch", "streaming"):
        keys = [k for k in cur_q if k in base_q and
                ((k in STREAMING) == (fam == "streaming"))]
        ratios = [cur_q[k] / base_q[k] for k in keys if base_q[k] > 0]
        if not ratios:
            continue
        med = statistics.median(ratios)
        cr = fam_calib[fam]
        rows.append((fam, len(keys), cr, med,
                     (med / cr) if cr else None))
    hdr = ("family", "n", "calib_ratio", "median_query_ratio", "normalized")
    if md:
        print("| " + " | ".join(hdr) + " |")
        print("|" + "---|" * len(hdr))
        for r in rows:
            print("| " + " | ".join(
                f"{v:.3f}" if isinstance(v, float) else str(v) for v in r) + " |")
    else:
        print("%-10s %4s %12s %19s %11s" % hdr)
        for fam, n, cr, med, norm in rows:
            print("%-10s %4d %12s %19.3f %11s" % (
                fam, n, f"{cr:.3f}" if cr else "-", med,
                f"{norm:.3f}" if norm else "-"))
    # verdict line: normalized ratio near 1.0 = machine movement, not code
    for fam, n, cr, med, norm in rows:
        if norm is not None and abs(norm - 1.0) > 0.25:
            print(f"# NOTE: {fam} normalized ratio {norm:.2f} deviates from "
                  f"1.0 beyond calibration — code-level movement likely")


if __name__ == "__main__":
    main()
