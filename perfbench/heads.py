"""Query-heads workload: registered query heads on the bundled sf0.01
tables, each written to the ``noop`` sink in a warmed session.

The warm-up pass builds every head once, in an order the seed permutes, and
checks its output against the head's registered DuckDB oracle, hashed the
way tests/oracle.py's ``driver_vhash`` does. The timed passes then run the
same heads in a fixed order: the order alone moved a pass's wall by ~12%.

Some oracles take minutes in DuckDB (the streaming recipe's oracle replays
the whole batch recipe), so their results on the bundled tables are recorded in
expected.json, keyed by a hash of the oracle SQL. A head whose oracle SQL
no longer matches its record is checked against a live DuckDB run instead.
Refresh the file with ``python3 perfbench/heads.py``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time

from ingest import SETUP_REPEATS
from tracing import PeakRss, attribute, job_intervals, spark_totals, union_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")

HEADS = (
    "q1_pricing_summary",
    "dedup_clusters_two_phase",
    "streaming_training_recipe",
)
HEAD_METRICS = (
    "wall_s", "jobs", "executor_run_s", "executor_cpu_s", "python_workers_cpu_s",
    "shuffle_write_mb", "driver_gap_s",
)


def _oracle_tools():
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle import driver_vhash, run_oracle

    return driver_vhash, run_oracle


def oracle_result(spec) -> dict:
    """Row count, columns and value hash of the head's oracle on DATA."""
    driver_vhash, run_oracle = _oracle_tools()
    pdf = run_oracle(spec.oracle, DATA)
    return {
        "oracle_sha256": hashlib.sha256(spec.oracle.encode()).hexdigest(),
        "rows": len(pdf),
        "columns": sorted(pdf.columns),
        "vhash": driver_vhash(pdf),
    }


def expected_result(spec) -> dict:
    with open(EXPECTED) as f:
        rec = json.load(f).get(spec.name)
    if rec and rec["oracle_sha256"] == hashlib.sha256(spec.oracle.encode()).hexdigest():
        return rec
    return oracle_result(spec)


class HeadsWorkload:
    def __init__(self, name: str, spark, api, tree, work_dir: str, tracer=None, jobs=None):
        from distributed_api_etl_spark.queries import load_all

        self.spark = spark
        self.tree = tree
        self.work_dir = work_dir
        self.tracer = tracer
        self.jobs = jobs
        self.specs = load_all()

    @staticmethod
    def warmup_order(seed: int) -> list[str]:
        heads = list(HEADS)
        random.Random(seed).shuffle(heads)
        return heads

    def stage(self, tag: str) -> str:
        """Copy the input tables into a fresh directory named like the scale
        factor (heads derive scratch names from it)."""
        out = os.path.join(self.work_dir, tag, "sf0.01")
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        shutil.copytree(DATA, out)
        for name in sorted(os.listdir(out)):
            self.spark.read.parquet(os.path.join(out, name)).schema  # noqa: B018
        return out

    def _reset(self) -> None:
        from distributed_api_etl_spark.session import release_caches

        release_caches()
        self.spark.catalog.clearCache()

    def warmup(self, seed: int) -> None:
        """Checked pass: every head once, compared with its oracle; then one
        untimed pass like the timed ones, because the first pass after the
        checked one still ran ~15% slow (JIT)."""
        driver_vhash, _ = _oracle_tools()
        sf_dir = self.stage("warmup")
        self.check_failures: list[str] = []
        for h in self.warmup_order(seed):
            self._reset()
            spec = self.specs[h]
            pdf = spec.build(self.spark, sf_dir).toPandas()
            want = expected_result(spec)
            got = {"rows": len(pdf), "columns": sorted(pdf.columns), "vhash": driver_vhash(pdf)}
            if any(got[k] != want[k] for k in got):
                self.check_failures.append(f"{h}: spark {got} != oracle {want}")
        for h in HEADS:
            self._reset()
            self._run_head(h, sf_dir)

    def run_rep(self, seed: int, rep: int) -> dict:
        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            sf_dir = self.stage(f"rep{rep}")
            setups.append(time.perf_counter() - t0)
        n_spans = len(self.tracer.spans) if self.tracer else 0
        walls: dict[str, float] = {}
        per_head_cpu: dict[str, dict] = {}
        cpu0 = self.tree.cpu()
        with PeakRss(self.tree) as rss:
            for h in HEADS:
                self._reset()
                c0 = self.tree.cpu()
                t0 = time.perf_counter()
                with self._span(f"query.{h}", rep):
                    self._run_head(h, sf_dir)
                walls[h] = time.perf_counter() - t0
                c1 = self.tree.cpu()
                per_head_cpu[h] = {k: c1[k] - c0[k] for k in c1}
        cpu1 = self.tree.cpu()
        # the checked pass counts once, with the first repetition
        first = rep == 0
        rec = {
            "rep": rep,
            "setup_s": statistics.median(setups),
            "wall_s": sum(walls.values()),
            "cpu_s": sum(cpu1.values()) - sum(cpu0.values()),
            "peak_rss_mb": rss.total_mb,
            "peak_jvm_rss_mb": rss.jvm_mb,
            "peak_python_rss_mb": rss.python_mb,
            "head_walls_s": walls,
            "attempted": len(HEADS) if first else 0,
            "failed": len(self.check_failures) if first else 0,
            "errors": list(self.check_failures) if first else [],
        }
        if self.tracer:
            rec["layers"] = self._layers(self.tracer.spans[n_spans:], walls, per_head_cpu,
                                         cpu0, cpu1)
        shutil.rmtree(os.path.join(self.work_dir, f"rep{rep}"), ignore_errors=True)
        return rec

    def _span(self, name: str, rep: int):
        return self.tracer.span(name, rep=rep) if self.tracer else contextlib.nullcontext()

    def _run_head(self, h: str, sf_dir: str) -> None:
        self.specs[h].build(self.spark, sf_dir).write.format("noop").mode("overwrite").save()

    def _layers(self, spans, walls, per_head_cpu, cpu0, cpu1) -> dict:
        jobs = self.jobs.new_jobs()
        attribute(jobs, spans)
        out: dict[str, float] = {}
        for h in HEADS:
            sp = next(s for s in spans if s["name"] == f"query.{h}")
            hj = [j for j in jobs if j["span"] == sp["id"]]
            tot = spark_totals(hj)
            wall = (sp["end_ms"] - sp["start_ms"]) / 1000.0
            out[f"query.{h}.wall_s"] = walls[h]
            out[f"query.{h}.jobs"] = tot["jobs"]
            out[f"query.{h}.executor_run_s"] = tot["executor_run_s"]
            out[f"query.{h}.executor_cpu_s"] = tot["executor_cpu_s"]
            out[f"query.{h}.python_workers_cpu_s"] = per_head_cpu[h]["workers"]
            out[f"query.{h}.shuffle_write_mb"] = tot["shuffle_write_mb"]
            out[f"query.{h}.driver_gap_s"] = wall - union_s(job_intervals(hj))
        for k, v in spark_totals(jobs).items():
            if k != "input_mb":
                out[f"spark.{k}"] = v
        out["proc.jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
        out["proc.python_workers_cpu_s"] = cpu1["workers"] - cpu0["workers"]
        out["proc.driver_python_cpu_s"] = cpu1["driver"] - cpu0["driver"]
        return out


def summarize(reps: list[dict]) -> dict:
    med = lambda k: statistics.median(r[k] for r in reps)  # noqa: E731
    return {k: med(k) for k in ("setup_s", "wall_s", "peak_python_rss_mb", "peak_rss_mb",
                                "peak_jvm_rss_mb", "cpu_s")}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from distributed_api_etl_spark.queries import load_all

    specs = load_all()
    out = {h: oracle_result(specs[h]) for h in HEADS}
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
