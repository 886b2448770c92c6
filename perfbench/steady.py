#!/usr/bin/env python3
"""Steadiness check: run every workload repeatedly and print, per end-to-end
metric, the median, the quartiles and the spread (interquartile range as a
share of the median, what the bounds in BENCHMARK.json are checked against).

    python3 perfbench/steady.py --runs 10 [--first-seed 1] [--out FILE]

Every workload of BENCHMARK.json is run with its run_seconds. Run i uses
seed `--first-seed + i`; the workload order alternates between rounds
(a b, b a, ...) so a drift of the machine does not land on one workload.
Also reports each run's and the whole wall time, and writes every result
to --out as JSON lines.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def bench_config() -> dict:
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of the machine, from /proc/stat: the share of
    CPU time the hypervisor gave to other guests explains noisy runs."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return f[7], sum(f[:8])


def spread(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    cfg = bench_config()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=str(HERE.parent / ".perfbench" / "steady.jsonl"))
    args = ap.parse_args()
    workloads = [w["name"] for w in cfg["workloads"]]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)

    values = {w: {} for w in workloads}
    t_all = time.time()
    with out.open("a") as log:
        for i in range(args.runs):
            order = workloads if i % 2 == 0 else workloads[::-1]
            for w in order:
                seed = args.first_seed + i
                t0, ticks0 = time.time(), cpu_ticks()
                proc = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                     "--seconds", str(cfg["run_seconds"]), "--trace", "0"],
                    stdout=subprocess.PIPE, text=True)
                wall = time.time() - t0
                ticks1 = cpu_ticks()
                steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
                if proc.returncode != 0:
                    print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                    return 1
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                log.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                                      "steal": steal, **res}) + "\n")
                log.flush()
                for k, m in res["metrics"].items():
                    values[w].setdefault(k, []).append(m["value"])
                values[w].setdefault("_wall_s", []).append(wall)
                values[w].setdefault("_steal", []).append(steal)
                values[w].setdefault("_failed_share", []).append(res["failed"] / res["attempted"])
                print(f"{w} seed {seed}: {wall:.1f} s, steal {steal:.0%}, correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']} " +
                      " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
                      flush=True)

    print(f"\nall runs: {time.time() - t_all:.0f} s")
    print(f"{'workload':14} {'metric':18} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} bound")
    for w in workloads:
        for k, vs in values[w].items():
            if len(vs) < 2:
                continue
            med, q1, q3, sp = spread(vs)
            b = bounds.get(k)
            flag = "" if b is None else f"{b:.2f}" + (" OVER" if sp > b else
                                                      " >1/3" if sp > b / 3 else "")
            print(f"{w:14} {k:18} {med:11.4f} {q1:11.4f} {q3:11.4f} {sp:7.3f} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
