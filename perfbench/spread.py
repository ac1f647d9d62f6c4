#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root):
  python3 perfbench/spread.py --workloads job_dispatch,corpus_ingest
      --seeds 1-10 [--trace 0] [--out FILE]

For every (workload, metric) prints the median, the first and third
quartiles (statistics.quantiles(values, n=4)) and the quartile distance as a
share of the median, plus the median host steal of the runs. Each run
measures BENCHMARK.json's run_seconds. Writes every run's figures to FILE
(default perfbench/.work/spread-<time>.json).
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    out = a.out or os.path.join(HERE, ".work", f"spread-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    runs = []
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", seconds, "--trace", a.trace],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            steal = [float(m.group(1)) for m in re.finditer(r"steal=([0-9.]+)%", p.stdout)]
            rec = {"workload": w, "seed": s, "exit": p.returncode, "wall_s": time.time() - t0,
                   "steal_pct": statistics.median(steal) if steal else None}
            for line in lines:
                if line.startswith("[check] {"):
                    rec["check_notes"] = json.loads(line[len("[check] "):])
                elif line.startswith("[run] reference "):
                    rec["reference"] = {k: float(v) for k, v in
                                        re.findall(r"(\S+?)(?: \([^)]*\))?=([-0-9.e+]+)", line[16:])}
            if p.returncode == 0 and lines:
                rec.update(json.loads(lines[-1]))
            else:
                rec["stderr"] = p.stderr[-2000:]
            runs.append(rec)
            print(json.dumps({k: v for k, v in rec.items() if k != "stderr"}), flush=True)
            with open(out, "w") as f:
                json.dump(runs, f)
    for w in a.workloads.split(","):
        ok = [r for r in runs if r["workload"] == w and "metrics" in r]
        if not ok:
            print(f"{w}: no successful runs")
            continue
        print(f"\n{w}: {len(ok)} runs, correct={all(r['correct'] for r in ok)}, "
              f"failed={sum(r['failed'] for r in ok)}, median steal "
              f"{statistics.median([r['steal_pct'] for r in ok if r['steal_pct'] is not None] or [0]):.1f}%, "
              f"median run wall {statistics.median([r['wall_s'] for r in ok]):.1f}s")
        figures = [(m, [r["metrics"][m]["value"] for r in ok]) for m in ok[0]["metrics"]]
        figures += [(f"{m} (reference)", [r["reference"][m] for r in ok])
                    for m in ok[0].get("reference", {})]
        for m, v in figures:
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
            share = (q3 - q1) / med if med else float("nan")
            print(f"  {m:<28} median {med:>10.4g}  q1 {q1:>10.4g}  q3 {q3:>10.4g}  iqr/median {share:.3f}")
        notes = [r["check_notes"] for r in ok if "check_notes" in r]
        if notes:
            print(f"  check notes per run: {notes}")


if __name__ == "__main__":
    main()
