#!/usr/bin/env python3
"""Per-query before/after of two Bench attribution artifacts.

Usage: tools/stage_diff.py A/BENCH_stages.json B/BENCH_stages.json

For every query present in both files, prints wall time, job count,
task count, shuffle bytes (read + write) and spill bytes (memory + disk),
each summed over the query's stages, and the plan's interpreted
operators (Filter, Project and Generate nodes outside every codegen
span), as old -> new and as the ratio new/old; a counter an artifact
lacks prints as "-". Rows are sorted by |new wall - old wall|, largest
first. Queries present in one file only are left out (their count goes
to stderr).
"""
import json
import sys


def load(path):
    with open(path) as f:
        root = json.load(f)
    out = {}
    for q in root.get("queries", []):
        stages = q.get("stages", [])

        def total(*keys):
            return sum(s.get(k, 0) for s in stages for k in keys)

        out[q["query"]] = {
            "wall_s": q.get("wall_s", 0.0),
            "jobs": q.get("jobs", 0),
            "tasks": total("tasks"),
            "shuffle_b": total("shuffle_read_bytes", "shuffle_write_bytes"),
            "spill_b": total("spill_mem_bytes", "spill_disk_bytes"),
            "interpreted_ops": q.get("plan", {}).get("interpreted_ops"),
        }
    return out


COLUMNS = ["wall_s", "jobs", "tasks", "shuffle_b", "spill_b", "interpreted_ops"]


def cell(old, new):
    if old is None or new is None:  # a counter the older artifact lacks
        return f"{'-' if old is None else old} -> {'-' if new is None else new}"
    ratio = f"{new / old:.2f}x" if old else ("=" if new == old else "new")
    fmt = "{:.3f}" if isinstance(old, float) or isinstance(new, float) else "{:d}"
    return f"{fmt.format(old)} -> {fmt.format(new)} ({ratio})"


def diff(a, b):
    common = sorted(set(a) & set(b),
                    key=lambda q: (-abs(b[q]["wall_s"] - a[q]["wall_s"]), q))
    rows = [["query"] + COLUMNS]
    for q in common:
        rows.append([q] + [cell(a[q][c], b[q][c]) for c in COLUMNS])
    return rows, len(set(a) ^ set(b))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    rows, one_sided = diff(load(argv[1]), load(argv[2]))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(v.ljust(w) for v, w in zip(r, widths)).rstrip())
    if one_sided:
        print(f"left out, in one file only: {one_sided} queries", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
