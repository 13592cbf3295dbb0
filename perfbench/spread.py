"""Run the benchmark on several seeds and report each metric's median and
spread (inter-quartile range as a share of the median), the check the
benchmark must pass: every end-to-end spread except ``setup_s`` within
its bound.

    python3 perfbench/spread.py --workload batch_mix --seeds 1-10 [--trace 1]

Results go to ``.perfbench_work/spread-<workload>-t<trace>.json``. When
both the traced and the untraced file exist for a workload, the tracing
overhead (traced ``trace.pass_s`` minus untraced ``pass_s``, per seed run
in both) is printed too.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import median, spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = bench["per_layer" if args.trace else "end_to_end"]

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        result.update(seed=seed, run_s=time.monotonic() - t0,
                      summary=json.loads(lines[-2])["summary"])
        runs.append(result)
        print(json.dumps({"seed": seed, "run_s": round(result["run_s"], 1),
                          "correct": result["correct"], "failed": result["failed"],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()
                             if k in {m["name"] for m in declared[:8]}}}), flush=True)
    path = os.path.join(WORK, f"spread-{args.workload}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(runs, fh)

    print(f"{args.workload}: {len(runs)} runs, all correct: "
          f"{all(r['correct'] for r in runs)}, longest run {max(r['run_s'] for r in runs):.1f} s")
    for m in declared:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        med = median(values)
        sp = spread(values) if len(values) >= 2 and med else float("nan")
        bound = m.get("bound")
        flag = "" if bound is None else ("  ok" if sp <= bound / 3 else "  WIDE")
        print(f"  {m['name']:34s} median {med:12.4f} {m['unit']:6s} spread {sp:7.2%}"
              + ("" if bound is None else f" (bound {bound:.0%})") + flag)

    other = os.path.join(WORK, f"spread-{args.workload}-t{1 - args.trace}.json")
    if os.path.exists(other):
        with open(other) as fh:
            by_seed = {r["seed"]: r for r in json.load(fh)}
        traced = {r["seed"]: r for r in runs} if args.trace else by_seed
        plain = by_seed if args.trace else {r["seed"]: r for r in runs}
        diffs = [traced[s]["metrics"]["trace.pass_s"]["value"]
                 - plain[s]["metrics"]["pass_s"]["value"] for s in traced if s in plain]
        if diffs:
            print(f"  tracing overhead (trace.pass_s - pass_s): median {median(diffs):.3f} s"
                  f" over {len(diffs)} seeds")
    return 0


if __name__ == "__main__":
    sys.exit(main())
