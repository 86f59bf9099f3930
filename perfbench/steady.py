"""Steadiness check: rerun a workload with different seeds and print,
for each end-to-end metric, the median, the quartiles and the spread
(IQR / median) next to the bound in BENCHMARK.json. Runs last
BENCHMARK.json's ``run_seconds``; run ``r`` uses seed ``1000 + r``.

    python3 perfbench/steady.py --workload full_reload --runs 5
    python3 perfbench/steady.py --workload full_reload --runs 10 --save a.json
    python3 perfbench/steady.py --workload full_reload --runs 10 --against a.json
    python3 perfbench/steady.py --layers

Run from the checkout root. A spread should stay below a third of the
metric's bound (``setup_s`` is exempt: only its median is compared);
``--against`` also reports how far each median moved from a saved set,
as a share of the saved median, against the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402


SEED_BASE = 1000  # run r uses seed SEED_BASE + r


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    print(f"  {workload} seed {seed}: {time.monotonic() - t0:.1f} s wall", flush=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    return json.loads(lines[-1])


def worse_share(better: str, old: float, new: float) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``."""
    if not old:
        return 0.0
    return (new - old) / old if better == "lower" else (old - new) / old


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", help="repeatable; default: all")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--save", help="write the per-run values to this JSON file")
    ap.add_argument("--against", help="compare medians with a file written by --save")
    ap.add_argument("--layers", action="store_true", help="list per-layer metrics and targets")
    args = ap.parse_args(argv)

    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    if args.layers:
        for name, unit, better, span, _field, _per, target in layers.PER_LAYER:
            print(f"{name:42s} {unit:7s} {better:6s} {span or '-':28s} -> {target}")
        return 0
    seconds = bench["run_seconds"]
    spec = {m["name"]: m for m in bench["end_to_end"]}
    names = args.workload or [w["name"] for w in bench["workloads"]]
    saved = {}
    if args.against:
        with open(args.against, encoding="utf-8") as fh:
            saved = json.load(fh)
    values: dict = {}
    steady = True
    for wl in names:
        per_metric: dict = {}
        for r in range(args.runs):
            seed = SEED_BASE + r
            out = run_once(wl, seed, seconds)
            if not out["correct"]:
                steady = False
                print(f"{wl} seed {seed}: correct=false, failed {out['failed']}/{out['attempted']}")
            for name, m in out["metrics"].items():
                per_metric.setdefault(name, []).append(m["value"])
        values[wl] = per_metric
        print(f"\n{wl}: {args.runs} runs, {seconds} s each")
        print(f"  {'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} "
              f"{'bound':>6s} {'drift':>7s}")
        for name, vals in per_metric.items():
            q1, med, q3 = stats.quartiles(vals)
            spread = stats.iqr_over_median(vals) if med else 0.0
            bound = spec.get(name, {}).get("bound")
            flag = ""
            if bound is not None and name != "setup_s" and spread > bound / 3:
                flag = " <- spread over bound/3"
                steady = False
            drift = ""
            if name in saved.get(wl, {}) and bound is not None:
                share = worse_share(spec[name]["better"], stats.median(saved[wl][name]), med)
                drift = f"{share:+.3f}"
                if share > bound:
                    flag += " <- median worse than saved by more than bound"
                    steady = False
            print(f"  {name:34s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
                  f"{bound if bound is not None else '-':>6} {drift:>7s}{flag}")
    if args.save:
        with open(args.save, "w", encoding="utf-8") as fh:
            json.dump(values, fh, indent=1)
    print("\nsteady" if steady else "\nNOT steady")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
