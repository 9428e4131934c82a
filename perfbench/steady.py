"""Steadiness mode: repeat workloads over seeds and set the spread of
every end-to-end metric against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads sketch_groups stream_fold --runs 10 --sets 2

Each set runs every workload ``--runs`` times, each time with another
seed, through ``run.py --trace 0``.  Per metric it prints the median,
the quartiles (``statistics.quantiles(values, n=4)``) and the spread,
(Q3 − Q1) / median, next to the bound; a spread under a third of the
bound is marked steady.  With two sets it also prints by how much the
second set's median is worse than the first's.  The summary is written
under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, log) -> tuple[dict, float]:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True, check=False,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    return json.loads(lines[-1]), wall


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / abs(med) if med else float("inf")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "steady": spread <= bound / 3, "values": values}


def worse_by(first: float, second: float, better: str) -> float:
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", nargs="+", choices=names, default=names)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, choices=(1, 2), default=1)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)

    out_dir = ROOT / ".perfbench_work"
    out_dir.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    summary: dict = {"runs": args.runs, "sets": args.sets, "workloads": {}}
    ok = True
    with open(out_dir / f"steady-{stamp}.log", "w") as log:
        for w in args.workloads:
            sets = []
            for k in range(args.sets):
                seeds = [args.first_seed + k * args.runs + i for i in range(args.runs)]
                results = []
                for s in seeds:
                    res, wall = run_once(w, s, spec["run_seconds"], log)
                    results.append({"seed": s, "wall_s": wall, **res})
                    print(f"{w} seed {s}: {wall:.1f} s wall, correct={res['correct']}", flush=True)
                per_metric = {}
                for m in spec["end_to_end"]:
                    vals = [r["metrics"][m["name"]]["value"] for r in results]
                    per_metric[m["name"]] = summarize(vals, m["bound"])
                sets.append({"seeds": seeds, "metrics": per_metric,
                             "wall_s": [r["wall_s"] for r in results],
                             "all_correct": all(r["correct"] for r in results)})
                ok &= sets[-1]["all_correct"]
            summary["workloads"][w] = sets
            print(f"\n{w}: {'metric':<20} {'median':>12} {'Q1':>12} {'Q3':>12} {'spread':>8} {'bound':>6}")
            for m in spec["end_to_end"]:
                for k, st in enumerate(sets):
                    r = st["metrics"][m["name"]]
                    flag = "steady" if r["steady"] else ("ok" if r["spread"] <= r["bound"] else "NOISY")
                    if m["name"] == "setup_s":
                        flag = "(ungated)"
                    print(f"  set {k}  {m['name']:<20} {r['median']:>12.5g} {r['q1']:>12.5g} "
                          f"{r['q3']:>12.5g} {r['spread']:>8.3f} {r['bound']:>6.2f} {flag}")
                if len(sets) == 2:
                    d = worse_by(sets[0]["metrics"][m["name"]]["median"],
                                 sets[1]["metrics"][m["name"]]["median"], m["better"])
                    agree = d <= m["bound"]
                    ok &= agree
                    print(f"         second median worse by {d:+.3f} ({'agrees' if agree else 'DISAGREES'})")
                ok &= m["name"] == "setup_s" or all(
                    st["metrics"][m["name"]]["spread"] <= m["bound"] for st in sets)
    (out_dir / f"steady-{stamp}.json").write_text(json.dumps(summary, indent=1))
    print(f"\nsummary: {out_dir / f'steady-{stamp}.json'}; {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
