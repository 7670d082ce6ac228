#!/usr/bin/env python3
"""Record the 1 -> N core scaling of each workload (not a gated metric).

    python3 perfbench/scaling.py --seed 1 --seconds 10 \\
        --out .perfbench/out/scaling.json

Runs ``run.py`` once per workload at ``local[1]`` and once at
``local[nproc]`` on the same seed, and records
``scaling_eff_1toN = seq_per_s(N) / (N * seq_per_s(1))``."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.host import host_facts, nproc  # noqa: E402


def run(workload: str, seed: int, seconds: float, cores: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0", "--cores", str(cores)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--workloads",
                   default="short_series,long_series")
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "out",
                                                 "scaling.json"))
    args = p.parse_args()
    n = nproc()
    record = {"host": host_facts(), "seed": args.seed, "pair": f"1->{n}",
              "workloads": {}}
    for w in args.workloads.split(","):
        one, many = (run(w, args.seed, args.seconds, c) for c in (1, n))
        rate1 = one["metrics"]["seq_per_s"]["value"]
        rate_n = many["metrics"]["seq_per_s"]["value"]
        record["workloads"][w] = {
            "seq_per_s_local1": rate1, f"seq_per_s_local{n}": rate_n,
            "wall_s_local1": one["metrics"]["wall_s"]["value"],
            f"wall_s_local{n}": many["metrics"]["wall_s"]["value"],
            f"scaling_eff_1to{n}": rate_n / (n * rate1),
            "correct": one["correct"] and many["correct"]}
        print(w, json.dumps(record["workloads"][w]), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
