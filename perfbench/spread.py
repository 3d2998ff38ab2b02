#!/usr/bin/env python3
"""Run a workload once per seed and report each end-to-end metric's spread.

    python3 perfbench/spread.py --workload knn_exact --seeds 1-10 [--out runs.jsonl]

For every metric: the median of the runs and (Q3 - Q1) / median as
statistics.quantiles(values, n=4) gives the quartiles, next to the
metric's bound in BENCHMARK.json. A spread above a third of its bound
is flagged; setup_s is reported but has no spread gate. Each run's
box verdict is listed, so a contended window is visible.
"""

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--out", help="append each run's two output lines here")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    runs = []
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: run failed ({proc.returncode})\n{proc.stderr[-2000:]}")
            continue
        meta, result = json.loads(lines[-2])["perfbench"], json.loads(lines[-1])
        runs.append((seed, meta, result))
        if args.out:
            with open(args.out, "a") as f:
                f.write(lines[-2] + "\n" + lines[-1] + "\n")
        print(f"seed {seed}: {meta['box']['verdict']} wall={time.monotonic() - t0:.0f}s "
              f"ops={result['attempted']} "
              f"failed={result['failed']} correct={result['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    if len(runs) < 2:
        sys.exit("too few runs for a spread")
    ok = True
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for _, _, r in runs]
        spread = stats.quartile_spread(vals)
        gated = m["name"] != "setup_s"
        flag = "" if not gated or spread <= m["bound"] / 3 else "  <-- above bound/3"
        ok &= not flag
        print(f"{m['name']:32s} median={stats.median(vals):.6g} spread={spread:.4f} "
              f"bound={m['bound']}{flag}")
    quiet = sum(meta["box"]["verdict"] == "quiet" for _, meta, _ in runs)
    print(f"{quiet}/{len(runs)} runs quiet; {'steady' if ok else 'NOT steady'}")


if __name__ == "__main__":
    main()
