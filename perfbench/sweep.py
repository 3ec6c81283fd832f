#!/usr/bin/env python3
"""Runs one workload over several seeds and summarises each end-to-end
metric as median, quartiles and spread (quartile distance over median), the
way the benchmark's stability is judged.

    python3 perfbench/sweep.py --workload lake_mixed --seeds 1-10 --out sweep.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", "0"],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            sys.exit(f"seed {s} failed (rc={p.returncode}):\n{p.stderr[-2000:]}")
        report = json.loads(lines[-2])
        runs.append(report)
        print(f"seed {s}: correct={report['correct']} "
              f"failed={report['failed']}/{report['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in report["end_to_end"].items()
                       if not k.endswith(("_samples", "_percentile"))), flush=True)
    summary = {}
    for k in runs[0]["end_to_end"]:
        v = [r["end_to_end"][k]["value"] for r in runs if k in r["end_to_end"]]
        q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        summary[k] = {"unit": runs[0]["end_to_end"][k]["unit"], "median": med,
                      "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}
        print(f"{k:24s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {summary[k]['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
                       "host": runs[0]["host"], "summary": summary,
                       "runs": [{"seed": r["seed"], "correct": r["correct"],
                                 "end_to_end": {k: v["value"] for k, v in r["end_to_end"].items()}}
                                for r in runs]}, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
