"""Compare two sets of benchmark runs, one row per workload.

    python3 perfbench/compare.py --parent PARENT --change CHANGE

PARENT and CHANGE are each a results directory or ``.jsonl`` file as
``run.py`` writes them (``.perfbench-work/results/<workload>.jsonl``, one
untraced run per line, in the order the runs were made). The i-th parent
run of a workload is paired with its i-th change run, so make the runs in
alternating order.

For every end-to-end metric of ``BENCHMARK.json`` and every workload the
verdict is:

- ``improved``: at least ten pairs, the change wins at least nine tenths
  of them (ties count for neither side), and the medians differ by more
  than the distance between the parent's own quartiles;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound;
- ``unresolved``: neither, and the parent's quartile spread is wider than
  the bound, unless every change run reads better than every parent run;
- ``unchanged``: otherwise.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import core  # noqa: E402


def load_runs(path: str) -> dict[str, list[dict[str, float]]]:
    """workload -> list of {metric: value}, in file order."""
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    out: dict[str, list[dict[str, float]]] = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    rec = json.loads(line)
                    out.setdefault(rec["workload"], []).append(rec["metrics"])
    return out


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    sign = 1 if better == "lower" else -1  # sign * (b - a) < 0 means b is better
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    p1, pm, p3 = core.quartiles(parent) if len(parent) > 1 else (parent[0],) * 3
    cm = core.median(change)
    better_by = sign * (pm - cm) / pm if pm else 0.0
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1:
        label = "improved"
    elif -better_by > bound:
        label = "worse"
    elif (p3 - p1) / pm > bound and not all(sign * (c - p) < 0 for c in change for p in parent):
        label = "unresolved"
    else:
        label = "unchanged"
    return {"label": label, "pairs": len(pairs), "wins": wins, "parent": (p1, pm, p3),
            "change_median": cm, "better_by": better_by}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    args = ap.parse_args(argv)
    bench = core.load_json(core.BENCHMARK_FILE)
    parent, change = load_runs(args.parent), load_runs(args.change)
    for wl in [w["name"] for w in bench["workloads"]]:
        if not parent.get(wl) or not change.get(wl):
            print(f"{wl}: no runs on {'parent' if not parent.get(wl) else 'change'} side")
            continue
        cells = []
        for m in bench["end_to_end"]:
            v = verdict(
                [r[m["name"]] for r in parent[wl]],
                [r[m["name"]] for r in change[wl]],
                m["better"],
                m["bound"],
            )
            cells.append(
                f"{m['name']}={v['label']} ({v['parent'][1]:.4g}->{v['change_median']:.4g} {m['unit']}, "
                f"{v['better_by']:+.1%} better, {v['wins']}/{v['pairs']} wins)"
            )
        print(f"{wl}: " + "; ".join(cells))
    return 0


if __name__ == "__main__":
    sys.exit(main())
