#!/usr/bin/env python3
"""graft benchmark: one workload per run, in one JVM, checked on every run.

    python3 perfbench/run.py --workload streaming --seed 1 --seconds 2 --trace 0

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark's own Scala sources with the Scala
compiler that ships in the Spark jars, into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are unchanged.

The last line of stdout is one JSON object: correct, attempted, failed and
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
See perfbench/README.md for the workloads, metrics and reference figures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("streaming", "board_heavy")
CORES = min(4, os.cpu_count() or 1)
# fixed heap and young generation: peak RSS then follows the live data, not
# the collector's heap-sizing decisions, which differ from run to run
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
# units of work per run: warm-up (round 0 loads the streaming views), then a
# fixed number timed: streaming rounds, board passes
WARM = {"streaming": 2, "board_heavy": 1}
UNITS = {"streaming": 2, "board_heavy": 1}
BUCKETS = 16           # both streaming views, as graft.StreamBench builds them
BOARD_QUERIES = ("q134_pagerank", "q148_prefix_join", "q152_item_cf")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


class BenchError(Exception):
    pass


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def scalac(out: Path, sources: list, classpath: str) -> None:
    jars = spark_jars()
    compiler = ":".join(str(next(jars.glob(f"{n}-2.13.*.jar")))
                        for n in ("scala-compiler", "scala-library", "scala-reflect"))
    out.mkdir(parents=True)
    argfile = out.parent / f"{out.name}.args"
    argfile.write_text("\n".join(str(s) for s in sources))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
         "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-cp", classpath, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        raise BenchError(f"compile of {out.name} failed:\n{proc.stdout[-4000:]}")


def build() -> Path:
    """Compile the program, then the benchmark, each unless its classes
    match its sources; returns the build directory."""
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "scala").glob("*.scala"))
    if not program:
        raise BenchError("no program sources under src/main/scala; run from the repository root")
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    jars = f"{spark_jars()}/*"
    h = hashlib.sha256()
    for name, sources, classpath in (("classes", program, jars),
                                     ("bench", bench, f"{out / 'classes'}:{jars}")):
        # the bench stage's digest covers the program's too
        for f in sources:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
        stamp = out / f"{name}.stamp"
        if stamp.exists() and stamp.read_text() == h.hexdigest():
            continue
        stamp.unlink(missing_ok=True)
        shutil.rmtree(out / name, ignore_errors=True)
        scalac(out / name, sources, classpath)
        stamp.write_text(h.hexdigest())
    return out


def make_inputs(workload: str, seed: int, into: Path):
    rng = np.random.default_rng([seed % 2**64, WORKLOADS.index(workload)])
    d = into / workload
    if workload == "streaming":
        return gen.stream_feed(rng, d)
    gen.board_tables(rng, d)
    return None


def run_jvm(classes: Path, run: Path, workloads: list, seconds: int, trace: bool) -> None:
    tmp = run / "tmp"
    tmp.mkdir()
    cmd = ["java", *ADD_OPENS, *JVM_MEMORY, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={run / 'warehouse'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", f"{classes / 'bench'}:{classes / 'classes'}:{spark_jars()}/*",
           "perfbench.PerfBench",
           f"workloads={','.join(workloads)}", f"in={run / 'in'}", f"out={run / 'out'}",
           f"work={run / 'work'}", f"seconds={seconds}", f"trace={int(trace)}",
           f"cores={CORES}", f"buckets={BUCKETS}", f"queries={','.join(BOARD_QUERIES)}",
           *(f"warm_{w}={n}" for w, n in WARM.items()),
           *(f"units_{w}={n}" for w, n in UNITS.items())]
    with open(run / "jvm.log", "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=run, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM did not finish in {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        tail = (run / "jvm.log").read_text()[-4000:]
        raise BenchError(f"JVM exited with {proc.returncode}:\n{tail}")


def check(workload: str, feed, res: dict, out: Path) -> tuple:
    """(problems per op unit, problems not tied to one unit)."""
    ops = res["ops"]
    if workload == "streaming":
        return checks.check_stream_ops(feed, ops), checks.check_stream_final(
            feed, ops[-1]["round"], pd.read_parquet(out / "mv_final"),
            pd.read_parquet(out / "join_final"))
    oracle_sql = json.loads((out / "oracle_sql.json").read_text())
    con = checks.board_connection(str(out.parent / "in" / "board_heavy"))
    want, per_op = {}, {}
    for op in ops:
        q = op["query"]
        if q not in want:
            want[q] = (checks.pagerank_oracle(con, oracle_sql["q43_ngram_jaccard"])
                       if q == "q134_pagerank" else con.sql(oracle_sql[q]).df())
        got = pd.read_parquet(out / "board" / f"p{op['pass']}" / q)
        rtol = checks.PAGERANK_RTOL if q == "q134_pagerank" else 0.0
        per_op[op["unit"]] = [f"{op['unit']}: {p}" for p in checks.compare_query(got, want[q], rtol)]
    return per_op, []


def summarize(workload: str, feed, res: dict, out: Path, setup_t0: float) -> dict:
    per_op, whole = check(workload, feed, res, out)
    timed = [o for o in res["ops"] if o["timed"]]
    warm_bad = [p for o in res["ops"] if not o["timed"] for p in per_op[o["unit"]]]
    failed = sum(1 for o in timed if per_op[o["unit"]])
    problems = warm_bad + whole + [p for o in timed for p in per_op[o["unit"]]]
    for p in problems[:10]:
        print(f"[perfbench] {workload}: {p}", file=sys.stderr)
    return {
        "correct": not warm_bad and not whole,
        "attempted": len(timed),
        "failed": failed,
        "e2e": {
            "setup_s": res["first_op_ms"] / 1000.0 - setup_t0,
            "latency_ms_p50": statistics.median(o["ms"] for o in timed),
            "throughput_per_s": len(timed) / res["timed_s"],
            "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        },
        "layers": res["layers"],
        "units_ms": [round(o["ms"]) for o in res["ops"]],
    }


def metric_units(kind: str) -> dict:
    """Unit of every metric of one kind, as BENCHMARK.json declares it."""
    cfg = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in cfg[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    state = ROOT / ".perfbench"
    run = state / f"run-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    (run / "in").mkdir(parents=True)
    try:
        # a traced run measures every workload, the named one first, so it
        # reports every per-layer metric
        workloads = [args.workload] + ([w for w in WORKLOADS if w != args.workload]
                                       if args.trace else [])
        setup_t0 = time.time()
        feeds = {w: make_inputs(w, args.seed, run / "in") for w in workloads}
        run_jvm(classes, run, workloads, args.seconds, bool(args.trace))
        out = run / "out"
        summaries = {}
        for w in workloads:
            res = json.loads((out / f"{w}.json").read_text())
            summaries[w] = summarize(w, feeds[w], res, out, setup_t0)
        main_s = summaries[args.workload]
        print(f"[perfbench] {args.workload}: {main_s['e2e']} units_ms={main_s['units_ms']}",
              file=sys.stderr)
        if args.trace:
            units = metric_units("per_layer")
            layers = {k: v for s in summaries.values() for k, v in s["layers"].items()}
            missing = sorted(set(units) - set(layers))
            if missing:
                raise BenchError(f"traced run lacks per-layer metrics {missing}")
            metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
            traces = state / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            stem = f"{args.workload}-seed{args.seed}"
            shutil.copy(out / "spans.jsonl", traces / f"{stem}.spans.jsonl")
            (traces / f"{stem}.json").write_text(json.dumps(
                {w: {"e2e": s["e2e"], "layers": s["layers"]} for w, s in summaries.items()},
                indent=1))
        else:
            metrics = {k: {"value": main_s["e2e"][k], "unit": u}
                       for k, u in metric_units("end_to_end").items()}
        result = {
            "correct": all(s["correct"] for s in summaries.values()),
            "attempted": sum(s["attempted"] for s in summaries.values()),
            "failed": sum(s["failed"] for s in summaries.values()),
            "metrics": metrics,
        }
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # a terminated run raises SystemExit, so subprocess.run kills the JVM
    # and the run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
