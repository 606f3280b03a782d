"""Pipeline orchestrator: config -> compiled plan -> batched execution.

Entry point parity with the reference (run_pipeline, orchestrator.py:246-261):
load/validate config, resolve source (catalog table XOR caller DataFrame),
normalize the id column to ``request_id``, prune to the columns the request
builder needs, then hand off to the batch engine.

Compile step: the validated pydantic tree is flattened to plain dicts —
the only thing that crosses the driver->executor pickle boundary. No
SparkSession, no sockets, no live tokens in the closure (SURVEY §7.4 #3).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_api_etl_spark.config.loader import load_config
from distributed_api_etl_spark.config.models import (
    EndpointConfig,
    PipelineConfig,
    validate_dataframe,
)
from distributed_api_etl_spark.orchestration.batch_handler import BronzeBatchHandler
from distributed_api_etl_spark.orchestration.batch_processor import (
    BatchProcessor,
    BatchRunStats,
)


def prepare_source(df: DataFrame, id_col: str, endpoint: EndpointConfig) -> DataFrame:
    """Normalize ``id_col`` to a string ``request_id`` and prune to the
    columns a mapping or template binds (at scale this reaches the parquet
    scan as ReadSchema pruning). Shared by batch runs, dry runs and streaming
    micro-batches."""
    needed = (
        {m.source_column for m in endpoint.param_mapping + endpoint.json_body_mapping}
        | endpoint.template_columns()
    )
    if id_col != "request_id":
        if id_col in needed:
            # A mapping/template binds the id column by its source name.
            # Keep it as a real column (request_id becomes a copy) so the
            # injector sees the value — renaming would silently send the
            # request without the parameter.
            df = df.withColumn("request_id", F.col(id_col))
        else:
            df = df.withColumnRenamed(id_col, "request_id")
    keep = [c for c in df.columns if c in needed | {"request_id"}]
    return df.select(*keep).withColumn("request_id", F.col("request_id").cast("string"))


@dataclass
class PipelineResult:
    stats: BatchRunStats
    bronze_df: DataFrame | None = None  # populated in dry-run mode


class PipelineOrchestrator:
    def __init__(self, spark: SparkSession, config: PipelineConfig) -> None:
        self.spark = spark
        self.config = config
        self._auth_runtime = None

    @classmethod
    def from_config(cls, spark: SparkSession, config: PipelineConfig | dict | str):
        if not isinstance(config, PipelineConfig):
            config = load_config(config)
        return cls(spark, config)

    # -- source resolution ---------------------------------------------------
    def _resolve_source(self, source_df: DataFrame | None, source_id: str | None) -> DataFrame:
        src_cfg = self.config.tables.source
        configured = src_cfg.full_name is not None or src_cfg.location is not None
        if (source_df is None) == (not configured):
            raise ValueError(
                "exactly one of tables.source.{name,location} or source_df required"
            )
        if source_df is not None:
            df = source_df
        elif src_cfg.location is not None:
            reader = self.spark.read.format(src_cfg.format)
            for k, v in src_cfg.options.items():
                reader = reader.option(k, v)
            df = reader.load(src_cfg.location)
        else:
            df = self.spark.table(src_cfg.full_name)
        id_col = source_id or src_cfg.id_column
        ok, errors = validate_dataframe(
            src_cfg.model_copy(update={"id_column": id_col}), df
        )
        if not ok:
            raise ValueError(f"source validation failed: {errors}")
        return prepare_source(df, id_col, self.config.endpoint)

    # -- compile -------------------------------------------------------------
    def compile(self, fixed_time: str | None = None) -> dict[str, Any]:
        cfg = self.config
        compiled: dict[str, Any] = {
            "endpoint": cfg.endpoint.model_dump(),
            "transport": cfg.transport.model_dump(),
            "retry": cfg.retry.model_dump(),
            "auth": cfg.auth.model_dump(),
            "middleware": [m.model_dump() for m in cfg.middleware],
            "execution": cfg.execution.model_dump(),
        }
        if fixed_time:
            compiled["fixed_time"] = fixed_time
        if self._auth_runtime is not None:
            compiled["auth"]["rpc_url"] = self._auth_runtime.rpc_url
            compiled["auth"]["rpc_secret"] = self._auth_runtime.rpc_secret
        return compiled

    # -- auth runtime (driver-side) -------------------------------------------
    def _start_auth_runtime(self) -> None:
        if self.config.auth.type in ("oauth2_client_credentials", "oauth2_password"):
            from distributed_api_etl_spark.auth.rpc import RpcBootstrapper

            auth = self.config.auth.model_dump()
            if not auth.get("rpc_bind_host"):
                # Bind where executors connect (reference parity: the token
                # service binds to spark.driver.host, never 0.0.0.0).
                try:
                    auth["rpc_bind_host"] = self.spark.conf.get("spark.driver.host")
                except Exception:  # noqa: BLE001 - conf key absent -> autodetect
                    pass
            self._auth_runtime = RpcBootstrapper(auth)
            self._auth_runtime.start()

    def _stop_auth_runtime(self) -> None:
        if self._auth_runtime is not None:
            self._auth_runtime.stop()
            self._auth_runtime = None

    # -- sink ----------------------------------------------------------------
    def _sink_dict(self) -> dict | None:
        sink = self.config.tables.sink
        if sink.name is None and sink.location is None:
            return None
        return sink.model_dump()

    def _sink_reader(self):
        sink = self._sink_dict()
        spark = self.spark

        def read() -> DataFrame | None:
            if sink is None:
                return None
            try:
                if sink.get("location"):
                    return spark.read.format(sink["format"]).load(sink["location"])
                return spark.table(sink["name"])
            except Exception:
                return None  # sink doesn't exist yet

        return read

    # -- run -----------------------------------------------------------------
    def run(
        self,
        source_df: DataFrame | None = None,
        source_id: str | None = None,
        dry_run: bool = False,
        fixed_time: str | None = None,
    ) -> PipelineResult:
        source = self._resolve_source(source_df, source_id)
        self._start_auth_runtime()
        try:
            compiled = self.compile(fixed_time=fixed_time)
            sink = None if dry_run else self._sink_dict()
            handler = BronzeBatchHandler(self.spark, compiled, sink)
            ex = self.config.execution
            processor = BatchProcessor(
                batch_size=ex.batch_size,
                num_partitions=ex.num_partitions,
                max_attempts=ex.max_attempts,
            )
            if dry_run:
                # single pass, no idempotency loop (nothing is persisted); the
                # batch split still binds num_partitions, which keeps
                # single-partition invariants (one RateLimiter bucket)
                total = source.count()
                stats = BatchRunStats(total_rows=total, processed_rows=total, attempts=1)
                for batch_df in processor.batches(source, total):
                    handler.process(batch_df)
                    stats.batches_ok += 1
            else:
                stats = processor.process(source, handler.process, self._sink_reader())
            return PipelineResult(stats=stats, bronze_df=handler.result_df())
        finally:
            self._stop_auth_runtime()


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig | dict | str,
    source_df: DataFrame | None = None,
    source_id: str | None = None,
    dry_run: bool = False,
    fixed_time: str | None = None,
) -> PipelineResult:
    """Primary entry point (reference parity: orchestrator.run_pipeline)."""
    orch = PipelineOrchestrator.from_config(spark, config)
    return orch.run(
        source_df=source_df, source_id=source_id, dry_run=dry_run, fixed_time=fixed_time
    )


def generate_tracking_ids(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Synthesize a demo/test source of n unique tracking ids.

    Reference parity: ``spark.range(n).repartition(p).select(sha2(uuid(),
    256))`` (dags/scripts/run_demo_pipeline.py:62-70). Generation is
    distributed — ``range`` splits across the cluster and uuid() runs
    per-row on executors; no driver-side materialization.
    """
    df = spark.range(n)
    if partitions:
        df = df.repartition(partitions)
    return df.select(F.sha2(F.uuid(), 256).alias("tracking_id"))
