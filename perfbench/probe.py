"""Standalone ``run_rows`` probe: one partition's rows through the request
layers (middleware, transport) with no Spark, in its own process.

``run_probe`` compiles the pipeline config on the driver exactly as
``run_pipeline`` does, then runs this file as a subprocess that reads
``{"compiled": ..., "rows": [...]}`` on stdin and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_probe(spark, config: dict, rows: list[dict]) -> dict:
    from distributed_api_etl_spark.config.loader import load_config
    from distributed_api_etl_spark.orchestration.orchestrator import PipelineOrchestrator

    compiled = PipelineOrchestrator(spark, load_config(config)).compile()
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "probe.py")],
        input=json.dumps({"compiled": compiled, "rows": rows}, default=str),
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    from distributed_api_etl_spark.orchestration.partition_executor import run_rows

    job = json.load(sys.stdin)
    rows = job["rows"]
    t0 = time.perf_counter()
    records = list(run_rows(rows, job["compiled"]))
    wall = time.perf_counter() - t0
    lat = sorted(
        1000.0 * json.loads(r["response_metadata"])["timing"]["total_seconds"]
        for r in records
        if r["response_metadata"]
    )
    print(json.dumps({
        "rows": len(records),
        "ok": sum(bool(r["success"]) for r in records),
        "wall_s": wall,
        "rows_per_s": len(records) / wall,
        "request_p50_ms": lat[len(lat) // 2] if lat else 0.0,
    }))


if __name__ == "__main__":
    main()
