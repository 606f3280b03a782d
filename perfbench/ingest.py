"""Ingest workloads: ``run_pipeline`` from a seeded source into a fresh
parquet sink, against the fake API.

Each repetition builds its own inputs (set-up, timed apart), runs one
pipeline (the timed unit of work), then checks the sink and the API's
counters outside the timed region.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass
from datetime import datetime

import pyarrow.parquet as pq

from fake_api import CLIENT_SECRET, fault_for
from tracing import PeakRss, attribute, job_intervals, spark_totals, union_s

PARTITIONS = 4
CONCURRENCY = 20
# set-up is timed this many times per repetition; setup_s is the median
SETUP_REPEATS = 3


@dataclass(frozen=True)
class IngestSpec:
    rows: int
    batch_size: int
    service_ms: float
    faults: bool = False
    oauth: bool = False
    preseed_share: float = 0.0


# Sized so one repetition takes ~4-5 s on a 4-core VM and two fit the run
# time; 100 ms per request keeps the client below saturation (see run.py's
# docstring).
SPECS = {
    "ingest_io_bound": IngestSpec(rows=800, batch_size=10_000, service_ms=100.0),
    "ingest_resume_flaky": IngestSpec(
        rows=1200, batch_size=300, service_ms=100.0, faults=True, oauth=True,
        preseed_share=0.5,
    ),
}


def pipeline_config(spec: IngestSpec, base_url: str, source_dir: str, sink_dir: str) -> dict:
    auth = {"type": "none"}
    if spec.oauth:
        auth = {
            "type": "oauth2_client_credentials",
            "token_url": f"{base_url}/oauth/token",
            "client_id": "perfbench",
            "client_secret": CLIENT_SECRET,
        }
    return {
        "endpoint": {
            "method": "GET",
            "url": f"{base_url}/api",
            "param_mapping": [
                {"endpoint_param": "id", "source_column": "request_id"},
                {"endpoint_param": "q", "source_column": "q"},
            ],
        },
        "transport": {"engine": "auto"},
        "auth": auth,
        "middleware": [{"type": "timing"}],
        "tables": {
            "source": {"location": source_dir, "id_column": "request_id"},
            "sink": {"format": "parquet", "location": sink_dir, "mode": "merge"},
        },
        "execution": {
            "batch_size": spec.batch_size,
            "num_partitions": PARTITIONS,
            "max_concurrent_requests": CONCURRENCY,
        },
    }


@dataclass
class Inputs:
    ids: list[str]
    q: dict[str, str]
    preseeded: set[str]
    fault_seed: int | None


def make_inputs(spec: IngestSpec, seed: int, rep: int) -> Inputs:
    rng = random.Random(f"{seed}:{rep}")
    ids = [f"s{seed}-r{rep}-{i:06d}" for i in range(spec.rows)]
    q = {rid: "%012x" % rng.getrandbits(48) for rid in ids}
    preseeded = set(rng.sample(ids, int(spec.rows * spec.preseed_share)))
    fault_seed = rng.getrandbits(31) if spec.faults else None
    return Inputs(ids, q, preseeded, fault_seed)


def _echo_body(rid: str, q: str) -> str:
    return json.dumps({"echo": {"id": rid, "q": q}}, separators=(",", ":"), sort_keys=True)


def preseed_sink(spark, inputs: Inputs, base_url: str, sink_dir: str) -> None:
    """Write the bronze rows a previous, interrupted run would have left."""
    import pandas as pd

    from distributed_api_etl_spark.core.bronze import BRONZE_COLUMNS, BRONZE_SCHEMA

    ids = sorted(inputs.preseeded)
    bodies = [_echo_body(rid, inputs.q[rid]) for rid in ids]
    n = len(ids)
    pdf = pd.DataFrame({
        "request_id": ids,
        "row_hash": [hashlib.sha256(b.encode()).hexdigest() for b in bodies],
        "url": [f"{base_url}/api"] * n,
        "method": ["GET"] * n,
        "request_headers": [{}] * n,
        "request_params": [{"id": rid, "q": inputs.q[rid]} for rid in ids],
        "request_metadata": [None] * n,
        "status_code": [200] * n,
        "response_headers": [None] * n,
        "body_text": bodies,
        "success": [True] * n,
        "error_message": [None] * n,
        "attempts": [1] * n,
        "response_metadata": [None] * n,
        "_request_time": [datetime(2026, 1, 1)] * n,
    }, columns=list(BRONZE_COLUMNS))
    spark.createDataFrame(pdf, BRONZE_SCHEMA).write.mode("overwrite").parquet(sink_dir)


def check_rep(inputs: Inputs, sink_dir: str, api) -> dict:
    """Correctness of one repetition; returns counts and request timings."""
    table = pq.read_table(
        sink_dir,
        columns=["request_id", "status_code", "success", "attempts", "body_text",
                 "response_metadata"],
    ).to_pydict()
    counts = Counter(table["request_id"])
    source = set(inputs.ids)
    wrong: set[str] = set()
    latencies, attempts = [], []
    for i, rid in enumerate(table["request_id"]):
        if rid in inputs.preseeded or rid not in source:
            continue
        try:
            body = json.loads(table["body_text"][i])
        except (TypeError, ValueError):
            body = None
        want = 2 if fault_for(inputs.fault_seed, rid) is not None else 1
        if not (table["success"][i] is True and table["status_code"][i] == 200
                and body == {"echo": {"id": rid, "q": inputs.q[rid]}}
                and table["attempts"][i] == want):
            wrong.add(rid)
        attempts.append(table["attempts"][i] or 0)
        timing = json.loads(table["response_metadata"][i] or "{}").get("timing")
        if timing:
            latencies.append(1000.0 * timing["total_seconds"])
    resent = inputs.preseeded & api.seen_ids().keys() if inputs.preseeded else set()
    problems = {
        "written more than once": {r for r, n in counts.items() if n > 1},
        "missing from the sink": source - counts.keys(),
        "in the sink but not in the source": counts.keys() - source,
        "with a wrong status, body or attempts count": wrong,
        "pre-seeded but sent to the API again": resent,
    }
    todo = source - inputs.preseeded
    return {
        "written": len(attempts),
        "attempted": len(todo),
        # share of the rows to send whose first attempt is a seeded fault
        "fault_share": sum(fault_for(inputs.fault_seed, r) is not None for r in todo)
        / max(1, len(todo)),
        "failed": len(set().union(*problems.values())),
        "errors": [f"{len(ids)} rows {what}" for what, ids in problems.items() if ids],
        "latencies_ms": latencies,
        "attempts": attempts,
    }


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class IngestWorkload:
    def __init__(self, name: str, spark, api, tree, work_dir: str, tracer=None, jobs=None):
        self.name = name
        self.spec = SPECS[name]
        self.spark = spark
        self.api = api
        self.tree = tree
        self.work_dir = work_dir
        self.tracer = tracer
        self.jobs = jobs

    # -- set-up ----------------------------------------------------------
    def setup(self, seed: int, rep: int) -> tuple[Inputs, dict]:
        """Write the source table (and, on resume, the pre-seeded sink) and
        reset the fake API; returns the inputs and the pipeline config."""
        import pandas as pd

        inputs = make_inputs(self.spec, seed, rep)
        source = os.path.join(self.work_dir, f"source-{rep}")
        sink = os.path.join(self.work_dir, f"sink-{rep}")
        shutil.rmtree(sink, ignore_errors=True)
        self.spark.createDataFrame(
            pd.DataFrame({"request_id": inputs.ids, "q": [inputs.q[r] for r in inputs.ids]})
        ).write.mode("overwrite").parquet(source)
        if inputs.preseeded:
            preseed_sink(self.spark, inputs, self.api.base_url, sink)
        self.api.reset(self.spec.service_ms, inputs.fault_seed, self.spec.oauth)
        return inputs, pipeline_config(self.spec, self.api.base_url, source, sink)

    def _cleanup(self, cfg: dict) -> None:
        shutil.rmtree(cfg["tables"]["source"]["location"], ignore_errors=True)
        shutil.rmtree(cfg["tables"]["sink"]["location"], ignore_errors=True)

    def warmup(self, seed: int) -> None:
        """One full repetition, unmeasured: forks the Python workers, opens
        the connection pools and compiles the plans."""
        from distributed_api_etl_spark.orchestration.orchestrator import run_pipeline

        _, cfg = self.setup(seed, -1)
        run_pipeline(self.spark, cfg)
        self._cleanup(cfg)

    # -- one repetition --------------------------------------------------
    def run_rep(self, seed: int, rep: int) -> dict:
        from distributed_api_etl_spark.orchestration.orchestrator import run_pipeline

        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            inputs, cfg = self.setup(seed, rep)
            setups.append(time.perf_counter() - t0)
        sink = cfg["tables"]["sink"]["location"]
        preseed_bytes = _dir_bytes(sink) if inputs.preseeded else 0
        n_spans = len(self.tracer.spans) if self.tracer else 0

        cpu0 = self.tree.cpu()
        with PeakRss(self.tree) as rss:
            t1 = time.perf_counter()
            with (self.tracer.span("orchestrator.run_pipeline", rep=rep) if self.tracer
                  else contextlib.nullcontext()):
                run_pipeline(self.spark, cfg)
            wall = time.perf_counter() - t1
        cpu1 = self.tree.cpu()

        api_stats = self.api.stats()
        check = check_rep(inputs, sink, self.api)
        written = check["written"]
        rec = {
            "rep": rep,
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "cpu_s": sum(cpu1.values()) - sum(cpu0.values()),
            "peak_rss_mb": rss.total_mb,
            "peak_jvm_rss_mb": rss.jvm_mb,
            "peak_python_rss_mb": rss.python_mb,
            "rows_per_s": written / wall,
            "request_p50_ms": _pct(check["latencies_ms"], 0.50),
            "request_p99_ms": _pct(check["latencies_ms"], 0.99),
            "latency_samples": len(check["latencies_ms"]),
            "api_calls_per_row": api_stats["requests"] / max(1, written),
            "fault_share": check["fault_share"],
            "attempted": check["attempted"],
            "failed": check["failed"],
            "errors": check["errors"],
            "api": api_stats,
        }
        if self.tracer:
            rec["layers"] = self._layers(
                rec, check, api_stats, self.tracer.spans[n_spans:], cpu0, cpu1,
                _dir_bytes(sink) - preseed_bytes,
            )
        self._cleanup(cfg)
        return rec

    def _layers(self, rec, check, api_stats, spans, cpu0, cpu1, sink_bytes) -> dict:
        jobs = self.jobs.new_jobs()
        attribute(jobs, spans)
        by_name: dict[str, set[int]] = {}
        for s in spans:
            by_name.setdefault(s["name"], set()).add(s["id"])
        root = next(s for s in spans if s["name"] == "orchestrator.run_pipeline")
        bp_ids = by_name.get("batch_processor.process", set()) | by_name.get(
            "batch_processor.remaining", set()
        )
        bh_ids = by_name.get("batch_handler.process", set())
        rep_ids = {s["id"] for s in spans}
        rep_jobs = [j for j in jobs if j["span"] in rep_ids]
        bp_jobs = [j for j in rep_jobs if j["span"] in bp_ids]
        bh_jobs = [j for j in rep_jobs if j["span"] in bh_ids]
        wall_s = (root["end_ms"] - root["start_ms"]) / 1000.0
        spark = spark_totals(rep_jobs)
        written = max(1, check["written"])
        attempts = check["attempts"] or [0]
        out = {
            "orchestrator.driver_gap_s": wall_s - union_s(job_intervals(rep_jobs)),
            "orchestrator.spark_jobs": len(rep_jobs),
            "batch_processor.jobs": len(bp_jobs),
            "batch_processor.diff_s": union_s(job_intervals(bp_jobs)),
            "batch_processor.read_mb": spark_totals(bp_jobs)["input_mb"],
            "batch_handler.process_s": sum(
                (s["end_ms"] - s["start_ms"]) / 1000.0 for s in spans if s["id"] in bh_ids
            ),
            "batch_handler.read_mb": spark_totals(bh_jobs)["input_mb"],
            "batch_handler.sink_bytes_per_row": sink_bytes / written,
            "partition_executor.in_flight_max": api_stats["in_flight_max"],
            "partition_executor.in_flight_mean": api_stats["in_flight_mean"],
            "partition_executor.in_flight_ratio": api_stats["in_flight_mean"]
            / (PARTITIONS * CONCURRENCY),
            "partition_executor.http_busy_s": api_stats["busy_s"],
            "request_execution.api_calls_per_row": rec["api_calls_per_row"],
            "request_execution.request_p50_ms": rec["request_p50_ms"],
            "request_execution.request_p99_ms": rec["request_p99_ms"],
            "transport.connections_opened": api_stats["connections"],
            "middleware.retry.retried_share": sum(a > 1 for a in attempts) / written,
            "middleware.retry.attempts_max": max(attempts),
            "auth.token_grants": api_stats["token_grants"],
            "auth.unauthorized_share": api_stats["unauthorized"]
            / max(1, api_stats["requests"]),
            "proc.jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
            "proc.python_workers_cpu_s": cpu1["workers"] - cpu0["workers"],
            "proc.driver_python_cpu_s": cpu1["driver"] - cpu0["driver"],
            "proc.fake_api_cpu_s": api_stats["cpu_s"],
        }
        for k, v in spark.items():
            if k != "input_mb":
                out[f"spark.{k}"] = v
        return out

    def probe(self, seed: int) -> dict:
        """run_rows over one partition's rows with no Spark, in a separate
        process, against the fake API (see probe.py)."""
        from probe import run_probe

        small = IngestSpec(self.spec.rows // PARTITIONS, self.spec.batch_size,
                           self.spec.service_ms, self.spec.faults, self.spec.oauth)
        inputs = make_inputs(small, seed, -2)
        self.api.reset(small.service_ms, inputs.fault_seed, small.oauth)
        unused = os.path.join(self.work_dir, "unused")
        cfg = pipeline_config(small, self.api.base_url, unused, unused)
        rows = [{"request_id": r, "q": inputs.q[r]} for r in inputs.ids]
        res = run_probe(self.spark, cfg, rows)
        stats = self.api.stats()
        return {
            "request_execution.run_rows_per_s": res["rows_per_s"],
            "request_execution.client_overhead_ms_p50": res["request_p50_ms"]
            - stats["service_ms_p50"],
        }


def summarize(reps: list[dict]) -> dict:
    med = lambda k: statistics.median(r[k] for r in reps)  # noqa: E731
    return {
        k: med(k)
        for k in ("setup_s", "wall_s", "peak_python_rss_mb", "peak_rss_mb",
                  "peak_jvm_rss_mb", "cpu_s", "rows_per_s",
                  "request_p50_ms", "request_p99_ms", "api_calls_per_row", "fault_share")
    }
