#!/usr/bin/env python3
"""End-to-end benchmark of the spark-bm25 engine (`tantivy_spark`).

    python3 perfbench/run.py --workload dist_query --seed 1 --seconds 30 --trace 0

Run from the repository root.  One run starts a `local[nproc]` Spark
session, builds a seeded transcripts index several times, then serves,
queries and ingests against it in rounds until `--seconds` have passed
(see workloads.py).  Every answer is checked; a wrong one makes the run
report `"correct": false` and exit 1.  A run whose metrics cannot all be
computed (say every merge failed) prints no result and exits 1.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics`.  With `--trace 0` the metrics are the
`end_to_end` list of BENCHMARK.json, with `--trace 1` the `per_layer`
list; the traced run also writes its spans under perfbench/.work/traces/.
The line before it carries the host, versions and corpus sizes.

Everything the run writes (corpus, indexes, Spark scratch, temp files)
stays under perfbench/.work/ and is removed at the end, except traces.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="minimal corpus and operation counts (self-test)")
    return ap.parse_args()


def host_env(work: str) -> None:
    """Host-fit settings, set only in this process's environment before
    Spark starts: all cores, a driver heap that fits beside other tenants,
    and every scratch path inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # a fixed-size heap keeps the JVM's share of peak RSS steady
        f"--driver-java-options '-Xms2g -Djava.io.tmpdir={tmp}' "
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0]}


def main() -> int:
    args = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {workloads}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("tantivy_spark") is None:
        print(f"tantivy_spark is not importable from {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2

    from tracing import RssSampler, Tracer, reap_descendants, stop_spark
    from workloads import FULL, TINY, Run

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host_env(work)
    tracer = Tracer(bool(args.trace))
    # the span covering everything before this point: interpreter start,
    # argument parsing and imports
    tracer.spans.append([-1, "bench.start", None, None, T_START,
                         time.perf_counter()])
    run = Run(args.workload, args.seed, args.seconds,
              TINY if args.tiny else FULL, tracer, work)
    try:
        with RssSampler() as rss:
            run.quiet = rss.quiet
            try:
                run.run()
            finally:
                if hasattr(run, "spark"):
                    with tracer.span("bench.stop"):
                        stop_spark(run.spark)
        run.e2e["peak_rss_mb"] = rss.peak / 2**20
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        t_end = time.perf_counter()
        self_s, count, root = tracer.layer_totals()
        for layer in ("bench", "session", "build", "blocks", "parser", "serve",
                      "kernel", "search", "writer", "merge"):
            run.layer[f"self_s.{layer}"] = self_s.get(layer, 0.0)
            run.layer[f"spans.{layer}"] = count.get(layer, 0)
        run.layer["trace.coverage"] = root / (t_end - T_START)
        run.layer["failed_ratio"] = run.failed / max(1, run.attempted)
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(
            traces, f"{args.workload}-seed{args.seed}.jsonl"))
        wanted, values = spec["per_layer"], run.layer
    else:
        wanted, values = spec["end_to_end"], run.e2e

    metrics = {}
    for m in wanted:
        v = float(values[m["name"]])
        if not math.isfinite(v):
            print(f"metric {m['name']} is {v}; no result", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": host_info(), **run.info}
    print(json.dumps({"info": info, "wrong": run.wrong[:20]}))
    print(json.dumps({"correct": not run.wrong, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if not run.wrong else 1


if __name__ == "__main__":
    sys.exit(main())
