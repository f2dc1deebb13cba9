"""Run the benchmark over several seeds and summarize the spread.

Usage (from the repository root):

    python3 perfbench/collect.py --out perfbench/baseline/set1.jsonl \
        --seeds 1-10 [--workloads spatial_join,query_sweep] [--trace 0] \
        [--logs DIR]

Each run's result line is appended to ``--out`` as one JSON object with
the workload, seed, exit code and elapsed seconds; with ``--logs``,
each run's full output goes to ``DIR/<workload>-<seed>.log``. At the
end, each metric's median and quartile spread (IQR / median, from
``statistics.quantiles(values, n=4)``) is printed per workload, next to
the unit and bound ``BENCHMARK.json`` gives it. The exit code is 1 if
any run failed or gave a wrong answer.
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
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spreads(rows):
    """{workload: {metric: (median, spread, n)}} over successful runs."""
    values: dict[str, dict[str, list[float]]] = {}
    for r in rows:
        if r["exit"] != 0:
            continue
        for k, m in r["result"]["metrics"].items():
            values.setdefault(r["workload"], {}).setdefault(k, []).append(
                m["value"])
    out = {}
    for w, metrics in values.items():
        out[w] = {}
        for k, v in metrics.items():
            med = statistics.median(v)
            if len(v) >= 2 and med:
                q = statistics.quantiles(v, n=4)
                out[w][k] = (med, (q[2] - q[0]) / abs(med), len(v))
            else:
                out[w][k] = (med, 0.0, len(v))
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--logs")
    args = ap.parse_args(argv)

    rows = []
    for w in args.workloads.split(","):
        for seed in _seeds(args.seeds):
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]),
                "--trace", str(args.trace)]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               check=False)
            last = (p.stdout.strip().splitlines() or ["{}"])[-1]
            row = {"workload": w, "seed": seed, "exit": p.returncode,
                   "elapsed_s": round(time.perf_counter() - t0, 1),
                   "result": json.loads(last) if last.startswith("{")
                   else None}
            if args.logs:
                os.makedirs(args.logs, exist_ok=True)
                with open(os.path.join(args.logs, f"{w}-{seed}.log"), "w",
                          encoding="utf-8") as f:
                    f.write(p.stdout + p.stderr)
            if p.returncode != 0:
                print(p.stderr[-2000:], file=sys.stderr)
            rows.append(row)
            with open(args.out, "a", encoding="utf-8") as f:
                f.write(json.dumps(row) + "\n")
            print(f"{w} seed {seed}: exit {p.returncode}, "
                  f"{row['elapsed_s']} s", flush=True)

    declared = {m["name"]: m for m in bench["end_to_end"]
                + bench["per_layer"]}
    for w, metrics in spreads(rows).items():
        print(w)
        for k, (med, spread, n) in metrics.items():
            m = declared[k]
            print(f"  {k:34s} median {med:12.6g} {m['unit']:7s} spread "
                  f"{spread:6.3f}" + (f"  bound {m['bound']}" if "bound" in m
                                      else "") + f"  n={n}")
    return 0 if all(r["exit"] == 0 for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
