#!/usr/bin/env python3
"""perfbench — the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run starts Spark (``local[nproc]``, the
package's own session defaults), warms it with an untimed pass, then repeats
the workload's unit of work until ``--seconds`` of it have been measured,
checking every repetition's output outside the timed region. Spark, its
workers and the heads write only under ``.perfbench_out/``.

Workloads (closed loop: each partition's consumers await their replies):

* ``ingest_io_bound``     — ``run_pipeline`` over 800 rows in one batch,
  4 partitions x 20 concurrent requests, the fake API holds 100 ms per
  request, no auth, parquet sink in ``merge`` mode, ``timing`` middleware.
* ``ingest_resume_flaky`` — 1200 rows, 600 of them already in the sink,
  batches of 300, 100 ms API time, seeded first-attempt 503/429 faults,
  OAuth2 client credentials through the driver token RPC.
* ``query_heads``         — three registry heads on the bundled sf0.01
  tables, each written to the ``noop`` sink (heads.py).

At 20 ms per request the client's own CPU (~40 ms a request with the
``requests`` engine) saturated four cores and walls doubled between
identical runs; at 100 ms the wall is set by requests in flight.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
orchestration layer's public functions in spans, reads Spark's status store
and prints the per-layer metrics. Both print a table of every measured value
first; the last line of stdout is the JSON result. Each run appends its
record to ``.perfbench_out/results.jsonl``; a traced run also writes its
spans and, when an untraced run of the same workload and seed is recorded,
the tracing overhead to ``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "distributed_api_etl_spark")
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("ingest_io_bound", "ingest_resume_flaky", "query_heads")


def _configure_env(work_dir: str) -> None:
    """Keep every file Spark, its workers and the heads write under OUT, and
    let the Python workers import the package from the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # small heap: the inputs are small and the machine's memory is shared
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path[:0] = [ROOT, HERE]


def _git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def _start_spark(work_dir: str):
    from distributed_api_etl_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _median_layers(reps: list[dict]) -> dict:
    keys = sorted({k for r in reps for k in r.get("layers", {})})
    return {k: statistics.median(r["layers"].get(k, 0.0) for r in reps) for k in keys}


def _overhead(workload: str, seed: int, traced: dict) -> dict | None:
    path = os.path.join(OUT, "results.jsonl")
    if not os.path.exists(path):
        return None
    base = None
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["workload"] == workload and rec["seed"] == seed and not rec["trace"]:
                base = rec["summary"]
    if base is None:
        return None
    return {k: traced[k] - base[k] for k in traced if k in base}


def measure(args, work_dir: str, meta: dict) -> tuple[list[dict], dict, list[dict]]:
    """Start Spark (and the fake API), warm up, then repeat the workload's
    unit of work for ``args.seconds``. Returns the repetitions, the median
    per-layer values and the spans (both empty unless tracing)."""
    from tracing import ProcessTree, SparkJobs, Tracer, find_jvm, install_spans

    ingest = args.workload.startswith("ingest_")
    api = spark = None
    try:
        if ingest:
            from api_client import FakeApiProcess
            from ingest import IngestWorkload as Workload

            api = FakeApiProcess()
        else:
            from heads import HeadsWorkload as Workload
        t0 = time.perf_counter()
        spark = _start_spark(work_dir)
        meta["session_start_s"] = time.perf_counter() - t0
        meta["spark_version"] = spark.version
        tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
        jobs = SparkJobs(spark) if args.trace else None
        tree = ProcessTree(find_jvm(spark.sparkContext._gateway.proc.pid))
        wl = Workload(args.workload, spark, api, tree, work_dir, tracer, jobs)
        t0 = time.perf_counter()
        wl.warmup(args.seed)
        meta["warmup_s"] = time.perf_counter() - t0
        if tracer:
            install_spans(tracer)
            jobs.new_jobs()  # skip the warm-up's jobs
        reps: list[dict] = []
        while not reps or sum(r["wall_s"] for r in reps) < args.seconds:
            reps.append(wl.run_rep(args.seed, len(reps)))
        layers = _median_layers(reps)
        if tracer and ingest:
            layers.update(wl.probe(args.seed))
        return reps, layers, tracer.spans if tracer else []
    finally:
        if spark is not None:
            _stop_spark(spark)
        if api is not None:
            api.close()
        shutil.rmtree(work_dir, ignore_errors=True)


def run(args) -> dict:
    from metrics import END_TO_END, PER_LAYER

    started = time.perf_counter()
    work_dir = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    _configure_env(work_dir)
    from distributed_api_etl_spark.request_execution.transport.registry import build_engine

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "git_head": _git_head(),
        "transport_engine": type(build_engine({"engine": "auto"})).__name__,
    }
    reps, layers, spans = measure(args, work_dir, meta)
    meta["loadavg_end"] = os.getloadavg()
    meta["elapsed_s"] = time.perf_counter() - started

    if args.workload.startswith("ingest_"):
        from ingest import summarize
    else:
        from heads import summarize
    summary = summarize(reps)
    attempted = sum(r["attempted"] for r in reps)
    failed = sum(r["failed"] for r in reps)
    errors = sorted({e for r in reps for e in r["errors"]})
    record = {**meta, "reps": reps, "summary": summary, "layers": layers,
              "attempted": attempted, "failed": failed, "errors": errors}
    if args.trace:
        record["tracing_overhead"] = _overhead(args.workload, args.seed, summary)
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"meta": meta, "spans": spans, "layers": layers,
                       "tracing_overhead": record["tracing_overhead"]}, f, indent=1)
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    # human-readable table, then the result line
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"reps={len(reps)} engine={meta['transport_engine']} nproc={meta['nproc']} "
          f"spark={meta['spark_version']} git={meta['git_head']} "
          f"load={meta['loadavg_start'][0]:.2f}->{meta['loadavg_end'][0]:.2f} "
          f"session_start_s={meta['session_start_s']:.2f} warmup_s={meta['warmup_s']:.2f}")
    for k, v in summary.items():
        print(f"#   {k:<34} {v:12.4f}")
    print(f"#   {'failed_share':<34} {failed / max(1, attempted):12.4f}")
    for e in errors:
        print(f"#   CHECK FAILED: {e}")
    if args.trace:
        for k, (unit, _) in PER_LAYER.items():
            print(f"#   {k:<54} {layers.get(k, 0.0):12.4f} {unit}")
        for k, v in (record["tracing_overhead"] or {}).items():
            print(f"#   tracing overhead {k:<34} {v:+.4f}")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(summary[k]), "unit": u}
                   for k, (u, _) in END_TO_END.items()}
    return {"correct": failed == 0 and not errors, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through run()'s cleanup: stop Spark and the fake API
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: the package is missing ({PACKAGE}); run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
