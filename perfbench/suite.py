"""Run every workload over several seeds and summarise.

    python3 perfbench/suite.py --seeds 1 2 --seconds 10
    python3 perfbench/suite.py --workloads corpus_batch --seeds 1 2 3 4 5 --trace both

Each (workload, seed, trace) is one ``run.py`` process, run one after
another.  Prints, per workload, every metric by name and unit with its
per-seed values, median and quartile spread (the distance between the
first and third quartile as a share of the median), the output-check
error rate of each run, and with ``--trace both`` the tracing overhead
(traced ``trace.wall_s`` median over untraced ``wall_s`` median).
``--json PATH`` also writes the raw results there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = "\n".join(p.stderr.strip().splitlines()[-5:])
        return {"error": f"exit {p.returncode}: {tail}"}
    detail = [ln for ln in p.stderr.splitlines() if ln.startswith('{"workload"')]
    out = json.loads(lines[-1])
    if detail:
        out["detail"] = json.loads(detail[-1])
    return out


def spread(values: list[float]) -> float:
    """Quartile distance over the median; NaN for fewer than two values
    or a zero median (a per-layer count the workload never touches)."""
    median = statistics.median(values)
    if len(values) < 2 or median == 0:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seeds", nargs="+", type=int, default=[1, 2])
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--trace", choices=("0", "1", "both"), default="0")
    p.add_argument("--json")
    args = p.parse_args(argv)
    traces = [0, 1] if args.trace == "both" else [int(args.trace)]

    raw: dict[str, dict] = {}
    ok = True
    for w in args.workloads:
        for t in traces:
            runs = []
            for seed in args.seeds:
                r = run_one(w, seed, args.seconds, t)
                runs.append({"seed": seed, **r})
                status = r.get("error") or (
                    f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']}"
                    f" error_rate={r['failed'] / r['attempted']:.3f}"
                )
                ok = ok and r.get("correct", False)
                print(f"{w} trace={t} seed={seed}: {status}", flush=True)
            raw[f"{w}/trace{t}"] = runs
            good = [r for r in runs if "metrics" in r]
            if not good:
                continue
            print(f"\n{w} (trace={t}, seeds {args.seeds})")
            for name, m in good[0]["metrics"].items():
                vals = [r["metrics"][name]["value"] for r in good]
                print(
                    f"  {name:42s} {m['unit']:6s} median {statistics.median(vals):12.4f}"
                    f"  spread {spread(vals):7.3f}  values {[round(v, 4) for v in vals]}"
                )
            print()
        if len(traces) == 2:
            plain = [r["metrics"]["wall_s"]["value"] for r in raw[f"{w}/trace0"] if "metrics" in r]
            traced = [r["metrics"]["trace.wall_s"]["value"] for r in raw[f"{w}/trace1"] if "metrics" in r]
            if plain and traced:
                over = statistics.median(traced) / statistics.median(plain) - 1.0
                print(f"{w}: tracing overhead {100 * over:+.1f}% of wall_s\n")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(raw, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
