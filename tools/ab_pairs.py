#!/usr/bin/env python3
"""A/B of two checkouts on one pipebench workload, in alternating pairs.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload accidents --seed 1 --pairs 10 --seconds 3 --out ab/s1

Runs ``pipebench/run.py --trace 0`` in each checkout, ``--pairs`` times
each, alternating which side runs first (pair 1 parent first, pair 2 change
first, ...). Each run's last stdout line (its JSON result, with the line
before it, per-stage seconds and outputs, under ``detail``) is appended to
``<out>/runs.jsonl`` with the side and pair number, so an interrupted A/B
keeps its finished pairs and ``--report`` can summarise them again.

For each end-to-end metric of the change's BENCHMARK.json it prints both
sides' median and quartiles, the parent's IQR (Q3 - Q1), the median gap,
and in how many pairs the change was better (ties count for neither), then
whether the claim rule holds: the change better in at least nine tenths of
the pairs and the median gap wider than the parent's IQR. Then, for each
op (pipebench stage or query) in the runs' ``detail.op_median_s``, both
sides' median of the per-run medians and the gap, so a claim can name the
stage or query that moved.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """Q1, median, Q3 (the 'inclusive' method; needs two or more values)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_one(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "pipebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
        res["detail"] = json.loads(lines[-2])  # layers_s, outputs
        return res
    except (IndexError, ValueError):
        return {"error": f"exit {p.returncode}, no JSON result line"}


def value(res, name):
    return res.get("metrics", {}).get(name, {}).get("value")


def report(runs, metrics):
    by = {}
    for r in runs:
        by.setdefault(r["pair"], {})[r["side"]] = r["result"]
    pairs = sorted(p for p, s in by.items() if {"parent", "change"} <= set(s))
    print(f"{len(pairs)} complete pairs")
    bad = [(p, side) for p in pairs for side, res in by[p].items()
           if not res.get("correct", False)]
    if bad:
        print("runs not correct:", ", ".join(f"pair {p} {s}" for p, s in bad))
    print(f"{'metric':<15}{'parent med [Q1-Q3]':>30}{'change med [Q1-Q3]':>30}"
          f"{'IQR':>9}{'gap':>9}{'wins':>7}  claim")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = [(value(by[p]["parent"], name), value(by[p]["change"], name))
                for p in pairs]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            print(f"{name:<15} no values")
            continue
        pa, pb = [a for a, _ in vals], [b for _, b in vals]
        a1, am, a3 = quartiles(pa)
        b1, bm, b3 = quartiles(pb)
        wins = sum((b < a) if lower else (b > a) for a, b in vals)
        gap = (am - bm) if lower else (bm - am)
        holds = wins * 10 >= 9 * len(vals) and gap > a3 - a1
        print(f"{name:<15}{f'{am:.4g} [{a1:.4g}-{a3:.4g}]':>30}"
              f"{f'{bm:.4g} [{b1:.4g}-{b3:.4g}]':>30}{a3 - a1:>9.4g}"
              f"{gap:>9.4g}{f'{wins}/{len(vals)}':>7}  {'yes' if holds else 'no'}")
    ops = {}
    for p in pairs:
        for side, res in by[p].items():
            for op, v in res.get("detail", {}).get("op_median_s", {}).items():
                ops.setdefault(op, {}).setdefault(side, []).append(v)
    if ops:
        print(f"{'op (median s)':<32}{'parent':>10}{'change':>10}{'gap':>10}")
    for op, sides in sorted(ops.items()):
        pm, cm = (statistics.median(sides[k]) if sides.get(k) else None
                  for k in ("parent", "change"))
        cell = lambda v: f"{v:>10.4f}" if v is not None else f"{'-':>10}"
        gap = pm - cm if pm is not None and cm is not None else None
        print(f"{op:<32}{cell(pm)}{cell(cm)}{cell(gap)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--out", required=True, help="dir for runs.jsonl")
    ap.add_argument("--report", action="store_true",
                    help="only summarise the runs already in --out")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    os.makedirs(a.out, exist_ok=True)
    log = os.path.join(a.out, "runs.jsonl")
    runs = []
    if os.path.exists(log):
        with open(log) as f:
            runs = [json.loads(line) for line in f if line.strip()]
    if not a.report:
        done = {(r["pair"], r["side"]) for r in runs}
        for i in range(1, a.pairs + 1):
            order = ("parent", "change") if i % 2 else ("change", "parent")
            for side in order:
                if (i, side) in done:
                    continue
                res = run_one(getattr(a, side), a.workload, a.seed, a.seconds)
                rec = {"workload": a.workload, "seed": a.seed, "pair": i,
                       "side": side, "result": res}
                runs.append(rec)
                with open(log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"pair {i} {side}: pass_s={value(res, 'pass_s')} "
                      f"correct={res.get('correct')}", flush=True)
    report([r for r in runs
            if r["workload"] == a.workload and r["seed"] == a.seed], metrics)


if __name__ == "__main__":
    main()
