"""Run the benchmark in fresh processes over several seeds and report
each end-to-end metric's median and spread (interquartile range as a
share of the median, from ``statistics.quantiles(values, n=4)``) — the
figures that set and check the bounds in ``BENCHMARK.json``.

    python3 perfbench/steadiness.py --workload dedup_pipeline \\
        --seeds 1-10 --out perfbench/steadiness/dedup_pipeline-a.jsonl

Each line of ``--out`` is one run's self-description and result; the
summary is printed at the end. ``--summarize FILE...`` only re-reads
saved runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "rc": proc.returncode,
           "elapsed_s": time.monotonic() - t0}
    if proc.returncode == 0 and len(lines) >= 2:
        rec["run"] = json.loads(lines[-2])["run"]
        rec["result"] = json.loads(lines[-1])
    return rec


def summarize(records: list[dict]) -> dict[str, dict]:
    """Per metric: median, quartiles and spread over the runs."""
    values: dict[str, list[float]] = {}
    for rec in records:
        for name, m in rec.get("result", {}).get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    p.add_argument("--out")
    p.add_argument("--summarize", nargs="*", default=None)
    args = p.parse_args(argv)
    if args.summarize is not None:
        records = []
        for path in args.summarize:
            with open(path) as f:
                records.extend(json.loads(line) for line in f if line.strip())
    else:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            seconds = args.seconds or json.load(f)["run_seconds"]
        records = []
        for seed in _seeds(args.seeds):
            rec = run_one(args.workload, seed, seconds)
            records.append(rec)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
    for name, s in summarize(records).items():
        print(f"{name:12s} n={s['n']:2d} median={s['median']:.4f} "
              f"q1={s['q1']:.4f} q3={s['q3']:.4f} spread={s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
