"""Paired benchmark runs: a parent commit against the working tree.

Runs ``perfbench/run.py`` for each workload and seed on both sides, each
side from its own checkout (the benchmark builds from the source in its
current directory), alternating which side runs first from seed to seed so
a host that drifts over minutes favours neither. Then, for every workload
and metric, prints each side's median and quartiles, how many pairs the
change won (ties count for neither side) and a verdict:

- ``gain``: over at least 10 pairs, the change won at least 9/10 of them and
  the medians differ in its favour by more than the parent's interquartile
  range;
- ``REGRESSION``: the change's median is worse than the parent's by more
  than the metric's bound in ``BENCHMARK.json``;
- ``unresolved``: within the bound, but either side's IQR/median exceeds
  the bound and not every change run beats every parent run;
- ``within bound`` otherwise (``-`` for per-layer metrics, which have no
  bound).

Usage (from the repository root):

    python scripts/perf_pairs.py --seeds 301-310 [--workloads crawl_resume]
        [--seconds 12] [--trace 0] [--parent HEAD] [--parent-dir DIR]
        [--out pairs.jsonl]

The parent side is a ``git worktree`` of ``--parent`` (default ``HEAD``:
the working tree's uncommitted change against its last commit), created in
a temporary directory and removed at the end; ``--parent-dir`` uses an
existing checkout of the parent instead. Every run's last JSON line is
appended to ``--out`` with its side, seed, workload and run order.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10  # fewer pairs than this never read as a gain


def parse_seeds(spec: str) -> list[int]:
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_side(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run in ``tree``; returns its result line (``failed``
    counts the run itself when it exits non-zero or prints no result)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines or '"metrics"' not in lines[-1]:
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def verdict(
    parent: list[float], change: list[float], higher: bool, bound: float | None
) -> tuple[int, str]:
    sign = 1.0 if higher else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gain = sign * (cmed - pmed)
    if len(parent) >= MIN_PAIRS and wins >= 0.9 * len(parent) and gain > pq3 - pq1:
        return wins, "gain"
    if bound is None:
        return wins, "-"
    if pmed and -gain / abs(pmed) > bound:
        return wins, "REGRESSION"
    wide = any(
        m and (q3 - q1) / abs(m) > bound for q1, m, q3 in ((pq1, pmed, pq3), (cq1, cmed, cq3))
    )
    if wide and min(sign * c for c in change) <= max(sign * p for p in parent):
        return wins, "unresolved"
    return wins, "within bound"


def report(workload: str, pairs: list[tuple[dict, dict]], spec: dict) -> None:
    ok = [(p, c) for p, c in pairs if all(s["correct"] and not s["failed"] for s in (p, c))]
    print(f"\n## {workload}: {len(ok)} of {len(pairs)} pairs correct on both sides")
    print(f"{'metric':34} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30} "
          f"{'Δmed':>8} {'wins':>6}  verdict")
    first = ok[0][0]["metrics"] if ok else {}
    names = [n for n in first if all(n in s["metrics"] for pc in ok for s in pc)]
    for name in names:
        parent = [p["metrics"][name]["value"] for p, _ in ok]
        change = [c["metrics"][name]["value"] for _, c in ok]
        higher, bound = spec.get(name, ("higher", None))
        wins, word = verdict(parent, change, higher == "higher", bound)
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(parent), quartiles(change)
        delta = f"{(cm - pm) / abs(pm):+.1%}" if pm else "n/a"
        print(f"{name:34} {f'{pm:.4g} [{pq1:.4g}, {pq3:.4g}]':>30} "
              f"{f'{cm:.4g} [{cq1:.4g}, {cq3:.4g}]':>30} {delta:>8} "
              f"{f'{wins}/{len(ok)}':>6}  {word}")


def metric_spec(tree: str) -> tuple[dict, list[str]]:
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: (m["better"], m.get("bound")) for m in bench.get("end_to_end", [])}
    spec.update({m["name"]: (m["better"], None) for m in bench.get("per_layer", [])})
    return spec, [w["name"] for w in bench["workloads"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="e.g. 301-310 or 5,7,9")
    ap.add_argument("--workloads", default="", help="comma list; default: every workload")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--parent-dir", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)

    spec, all_workloads = metric_spec(REPO)
    workloads = args.workloads.split(",") if args.workloads else all_workloads
    seeds = parse_seeds(args.seeds)
    parent_dir, worktree = args.parent_dir, None
    if not parent_dir:
        worktree = parent_dir = tempfile.mkdtemp(prefix="perf-pairs-parent-")
        subprocess.run(["git", "worktree", "add", "--detach", worktree, args.parent],
                       cwd=REPO, check=True)
    out = open(args.out, "a") if args.out else None
    try:
        results = {w: [] for w in workloads}
        for i, seed in enumerate(seeds):
            for w in workloads:
                sides = [("parent", parent_dir), ("change", REPO)]
                if i % 2:
                    sides.reverse()
                got = {}
                for order, (side, tree) in enumerate(sides):
                    got[side] = run_side(tree, w, seed, args.seconds, args.trace)
                    if out:
                        out.write(json.dumps({"side": side, "seed": seed, "workload": w,
                                              "order": order, **got[side]}) + "\n")
                        out.flush()
                    m = got[side]["metrics"]
                    print(f"seed {seed} {w} {side}: correct={got[side]['correct']} "
                          + " ".join(f"{k}={m[k]['value']:.4g}" for k in list(m)[:2]),
                          flush=True)
                results[w].append((got["parent"], got["change"]))
        for w in workloads:
            report(w, results[w], spec)
    finally:
        if out:
            out.close()
        if worktree:
            subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=REPO)
    return 0


if __name__ == "__main__":
    sys.exit(main())
