"""Run sets of benchmark runs and compare them.

  python3 perfbench/compare.py runs --out DIR --seeds 1-10 [--workload W ...] [--trace 1]
      Run run.py once per workload and seed; keep each stdout as DIR/<workload>__<seed>.out.
  python3 perfbench/compare.py diff DIR_A DIR_B
      Median and IQR (Python's statistics.quantiles, n=4) of every metric per
      workload in both sets, flagging a spread (IQR/median) wider than the
      metric's bound and a median of B worse than A's by more than the bound.
  python3 perfbench/compare.py overhead --workload W --seed S
      Tracing overhead: the timed seconds of a traced and an untraced run of the
      same seed.

Run from the checkout root. Bounds come from BENCHMARK.json.
"""
import argparse
import json
import math
import re
import statistics
import subprocess
import sys
from pathlib import Path


def bench_spec():
    return json.loads(Path("BENCHMARK.json").read_text())


def run_once(workload, seed, trace):
    spec = bench_spec()
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return proc.stdout


def seeds(text):
    a, _, b = text.partition("-")
    return range(int(a), int(b or a) + 1)


def load(dir_):
    """workload → metric → [values] from DIR/<workload>__<seed>.out files."""
    out = {}
    for f in sorted(Path(dir_).glob("*__*.out")):
        workload = f.name.split("__")[0]
        result = json.loads(f.read_text().strip().splitlines()[-1])
        for k, v in result["metrics"].items():
            out.setdefault(workload, {}).setdefault(k, []).append(v["value"])
    return out


def summary(values):
    """(median, IQR / median); the spread is infinite when a median of 0 has any."""
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [med] * 3
    iqr = q[2] - q[0]
    return med, iqr / abs(med) if med else (math.inf if iqr else 0.0)


def flags(spec, va, vb):
    """What is wrong between set A and set B of one metric under its spec
    (a BENCHMARK.json end_to_end entry): spreads wider than the bound, and a
    median of B worse than A's by more than the bound."""
    (ma, sa), (mb, sb) = summary(va), summary(vb)
    bound = spec["bound"]
    out = [f"spread {x} > bound" for x, s in (("A", sa), ("B", sb)) if s > bound]
    if ma:
        worse = (mb - ma) / abs(ma) if spec["better"] == "lower" else (ma - mb) / abs(ma)
        if worse > bound:
            out.append(f"B worse by {worse:.1%} > {bound:.0%}")
    elif mb != ma:
        out.append("median A is 0")
    return out


def diff(dir_a, dir_b):
    bounds = {m["name"]: m for m in bench_spec()["end_to_end"]}
    a, b = load(dir_a), load(dir_b)
    flagged = 0
    print(f"{'workload':18} {'metric':28} {'median A':>12} {'IQR/med A':>9} "
          f"{'median B':>12} {'IQR/med B':>9}  flags")
    for workload in sorted(set(a) | set(b)):
        for metric in sorted(set(a.get(workload, {})) | set(b.get(workload, {}))):
            va, vb = a.get(workload, {}).get(metric), b.get(workload, {}).get(metric)
            if not va or not vb:
                continue
            (ma, sa), (mb, sb) = summary(va), summary(vb)
            found = flags(bounds[metric], va, vb) if metric in bounds else []
            flagged += bool(found)
            print(f"{workload:18} {metric:28} {ma:12.5g} {sa:9.3f} {mb:12.5g} {sb:9.3f}  "
                  + "; ".join(found))
    return flagged


def main():
    ap = argparse.ArgumentParser(description="Run and compare benchmark sets.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workload", action="append")
    r.add_argument("--trace", type=int, default=0)
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    o = sub.add_parser("overhead")
    o.add_argument("--workload", required=True)
    o.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    if args.cmd == "runs":
        out = Path(args.out)
        out.mkdir(parents=True, exist_ok=True)
        workloads = args.workload or [w["name"] for w in bench_spec()["workloads"]]
        for w in workloads:
            for s in seeds(args.seeds):
                (out / f"{w}__{s}.out").write_text(run_once(w, s, args.trace))
    elif args.cmd == "diff":
        sys.exit(1 if diff(args.a, args.b) else 0)
    else:
        timed = {}
        for trace in (0, 1):
            text = run_once(args.workload, args.seed, trace)
            timed[trace] = float(re.search(r"timed_s=([0-9.]+)", text).group(1))
        print(f"{args.workload} seed {args.seed}: timed {timed[0]:.3f} s untraced, "
              f"{timed[1]:.3f} s traced, overhead {timed[1] - timed[0]:+.3f} s "
              f"({(timed[1] - timed[0]) / timed[0]:+.1%})")


if __name__ == "__main__":
    main()
