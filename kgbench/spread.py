"""Runs the benchmark once per seed (1, 2, ... --runs) on each workload and
reports, for every end-to-end metric, the median and the interquartile
spread as a share of the median, against the bound in BENCHMARK.json.

Usage (from the repository root):
  python3 kgbench/spread.py [--runs 10] [--workloads build_text,...]
    [--out kgbench/baseline/NAME.json]

Exits non-zero if a run fails, or if a spread reaches its bound.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    summary = {"host": run.host_stamp(), "run_seconds": bench["run_seconds"],
               "workloads": {}}
    ok = True
    for wl in args.workloads.split(","):
        runs = []
        for seed in range(1, args.runs + 1):
            p = subprocess.run([sys.executable, os.path.join("kgbench", "run.py"),
                                "--workload", wl, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            if not res or not res["correct"]:
                ok = False
                sys.stderr.write(f"{wl} seed {seed}: failed\n{p.stderr[-2000:]}\n")
                continue
            artifact = [l.split("artifact ", 1)[1] for l in p.stderr.splitlines()
                        if l.startswith("kgbench: artifact ")]
            with open(artifact[-1]) as f:
                host = json.load(f)["host"]
            runs.append({"seed": seed, "host": host, "result": res})
            print(f"{wl} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        stats = {}
        for name in (runs[0]["result"]["metrics"] if runs else {}):
            xs = [r["result"]["metrics"][name]["value"] for r in runs]
            q2, sp = run.median(xs), run.spread(xs) if len(xs) > 1 else 0.0
            b = bounds[name]
            stats[name] = {"values": xs, "median": q2, "spread": sp, "bound": b}
            flag = "" if sp < b / 3 else "  (above a third of the bound)"
            if sp >= b:
                ok = False
                flag = "  (ABOVE BOUND)"
            print(f"  {wl} {name}: median {q2:.5g} spread {sp:.4f} bound {b}{flag}")
        summary["workloads"][wl] = {"runs": runs, "stats": stats}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
