"""Medians and spreads over benchmark runs, from their sidecar files.

    python3 perfbench/summarize.py [.perfbench/out]

For each workload: every end-to-end metric's run count, median and
inter-quartile range as a share of the median (untraced runs), the
tracing overhead (traced median over untraced median, minus one), and
the per-layer medians of the traced runs.
"""

from __future__ import annotations

import glob
import json
import os
import sys

from measure import summary


def load(out_dir: str) -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(out_dir, "*.json"))):
        with open(f) as fh:
            side = json.load(fh)
        if side.get("failures"):
            continue
        key = (side["args"]["workload"], side["args"]["trace"])
        runs.setdefault(key, []).append(side)
    return runs


def report(runs: dict[tuple[str, int], list[dict]]) -> str:
    lines = []
    for wl in sorted({w for w, _ in runs}):
        plain, traced = runs.get((wl, 0), []), runs.get((wl, 1), [])
        lines.append(f"== {wl}: {len(plain)} untraced, {len(traced)} traced runs")
        for name in (plain or traced)[0]["e2e"]:
            s = summary([r["e2e"][name] for r in plain]) if plain else None
            row = f"  {name:22s}"
            if s:
                row += (f" median {s['median']:12.4f}  q1 {s['q1']:12.4f}  "
                        f"q3 {s['q3']:12.4f}  iqr/median {s['iqr_rel']:.3f}")
            if s and traced and s["median"]:
                t = summary([r["e2e"][name] for r in traced])["median"]
                row += f"  tracing {t / s['median'] - 1:+.3f}"
            lines.append(row)
        if traced:
            lines.append("  per-layer medians (traced runs):")
            for name in traced[0]["layers"]:
                med = summary([r["layers"][name] for r in traced])["median"]
                lines.append(f"    {name:36s} {med:14.4f}")
    return "\n".join(lines)


if __name__ == "__main__":
    print(report(load(sys.argv[1] if len(sys.argv) > 1
                      else os.path.join(".perfbench", "out"))))
