#!/usr/bin/env python3
"""Steadiness tool: repeats workloads over several seeds and prints, per
end-to-end metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median) against the metric's
bound in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads ingest,batch] [--seeds 1-10]
                                [--seconds S] [--traced]

The spread of each metric, `setup_s` included, must stay within its bound
and should stay below a third of it. Under every workload it also prints
the workload document's named metrics (README.md), so one invocation with
one seed and `--traced` prints all of them by name with their units. With
`--traced` each seed is also run with tracing on, the tracing overhead is
printed as the change of each named metric against the untraced run, and
the named metrics that only traced runs measure (`analytics_total_s`) are
printed from the traced runs. Exits 1 when any run fails or reports a
wrong output.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import stats  # noqa: E402

NAMED_LINE = re.compile(r"^\s{2}(\w+)\s+(-?[0-9.]+(?:e[-+]?\d+)?)\s+(\S+)$")


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload, seed, seconds, trace):
    """One run: (result JSON or None, named metrics {name: (value, unit)})."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE))
    named = {}
    for line in proc.stderr.splitlines():
        m = NAMED_LINE.match(line)
        if m:
            named[m.group(1)] = (float(m.group(2)), m.group(3))
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    if proc.returncode != 0:
        sys.stderr.write(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}\n"
                         f"{proc.stderr[-2000:]}\n")
    return result, named, proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    bad = False
    for w in workloads:
        values, named_runs, overhead = {}, {}, {}
        for seed in seeds_of(a.seeds):
            result, named, code = run_once(w, seed, seconds, 0)
            bad |= code != 0 or result is None or not result["correct"]
            if result:
                for k, v in result["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
                print(f"{w} seed {seed}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
                    + f" (steal {named.get('host_steal_pct', (float('nan'),))[0]:.1f}%)", flush=True)
            for k, v in named.items():
                named_runs.setdefault(k, []).append(v)
            if a.traced:
                _, tnamed, code = run_once(w, seed, seconds, 1)
                bad |= code != 0
                for k, (v, u) in tnamed.items():
                    if k in named and named[k][0]:
                        overhead.setdefault(k, []).append(v / named[k][0] - 1.0)
                    elif k not in named:  # measured in traced runs only
                        named_runs.setdefault(k, []).append((v, u))
        print(f"\n== {w}: {len(seeds_of(a.seeds))} seeds, {seconds:g} s runs")
        print(f"{'metric':<22}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>8}  verdict")
        for m in spec["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 2:
                print(f"{m['name']:<22} (fewer than two runs)")
                continue
            med, q1, q3, sp = stats.spread(xs)
            verdict = ("ok" if sp < m["bound"] / 3 else "within bound" if sp <= m["bound"]
                       else "TOO WIDE")
            bad |= sp > m["bound"]
            print(f"{m['name']:<22}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}{sp:>9.3f}{m['bound']:>8.2f}  {verdict}")
        print(f"\n{w} named metrics (median over seeds):")
        for k, vs in named_runs.items():
            line = f"  {k:<26}{stats.median([v for v, _ in vs]):>14.4f} {vs[0][1]}"
            if k in overhead:
                line += f"   traced/untraced - 1 = {stats.median(overhead[k]):+.3f}"
            print(line)
        print(flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
