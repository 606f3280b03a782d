"""Batch -> mapInPandas(HTTP) -> typed bronze rows -> sink.

Reference parity: src/orchestration/batch_handler.py, with one Arrow stage
typed by ``BRONZE_SCHEMA`` by name (no positional renaming bug) and a
pluggable sink: parquet append (default), Delta append, or Delta MERGE on
request_id for exactly-once upsert when delta-spark is installed. Batch
runs, dry runs and streaming share the source prep (``prepare_source``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_api_etl_spark.core.bronze import BRONZE_SCHEMA
from distributed_api_etl_spark.orchestration.partition_executor import (
    build_map_in_pandas_fn,
)


def delta_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.io.delta.tables.DeltaTable  # noqa: SLF001
        return True
    except Exception:
        return False


class BronzeBatchHandler:
    def __init__(self, spark: SparkSession, compiled: dict, sink: dict | None) -> None:
        self._spark = spark
        self._compiled = compiled
        self._sink = sink
        self.collected: list[DataFrame] = []  # dry-run mode accumulates here

    def process(self, batch_df: DataFrame) -> None:
        result = batch_df.mapInPandas(
            build_map_in_pandas_fn(self._compiled), BRONZE_SCHEMA
        )
        if self._sink is None:
            # dry-run: materialize now (localCheckpoint) so a re-run of the
            # lineage doesn't re-fire HTTP requests, then accumulate
            self.collected.append(result.localCheckpoint(eager=True))
            return
        self._write(result)

    def _write(self, result: DataFrame) -> None:
        sink = self._sink
        fmt = sink.get("format", "parquet")
        location = sink.get("location")
        partition_by = sink.get("partition_by") or []
        if sink.get("mode") == "merge":
            if fmt == "delta":
                self._merge_delta(result, sink)
            else:
                self._merge_parquet(result, sink)
            return
        writer = result.write.format(fmt).mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if location:
            writer.save(location)
        else:
            writer.saveAsTable(sink["name"])

    def _merge_delta(self, result: DataFrame, sink: dict) -> None:
        """Exactly-once upsert on request_id (Delta MERGE)."""
        from delta.tables import DeltaTable  # gated: requires delta-spark

        location = sink.get("location")
        if location and DeltaTable.isDeltaTable(self._spark, location):
            target = DeltaTable.forPath(self._spark, location)
        elif not location:
            target = DeltaTable.forName(self._spark, sink["name"])
        else:
            result.write.format("delta").save(location)
            return
        (
            target.alias("t")
            .merge(result.alias("s"), "t.request_id = s.request_id")
            .whenNotMatchedInsertAll()
            .execute()
        )

    def _merge_parquet(self, result: DataFrame, sink: dict) -> None:
        """Insert-only merge on request_id for parquet sinks — the
        exactly-once equivalent of Delta's ``whenNotMatchedInsertAll``
        (reference: src/orchestration/batch_handler.py:47 writes Delta;
        delta-spark is not installable in this runtime, so the semantics
        are proven on parquet).

        A half-written batch that re-runs after a crash appends only the
        rows whose request_id is not already in the sink, so duplicates
        cannot accumulate (tests/test_pipeline_e2e.py). Parquet has no
        transaction log: concurrent writers must be externally serialized
        (the driver's batch loop is). At scale the anti-join's sink scan
        prunes to the request_id column only; partition the sink (e.g. by
        ingest date) to bound it further, or use Delta where available.
        """
        location = sink["location"]
        spark = self._spark
        try:
            existing = spark.read.format("parquet").load(location).select("request_id")
        except Exception:
            existing = None  # first write: nothing to merge against
        if existing is not None:
            result = result.join(existing, "request_id", "left_anti")
        writer = result.write.format("parquet").mode("append")
        if sink.get("partition_by"):
            writer = writer.partitionBy(*sink["partition_by"])
        writer.save(location)

    def result_df(self) -> DataFrame | None:
        if not self.collected:
            return None
        out = self.collected[0]
        for df in self.collected[1:]:
            out = out.unionByName(df)
        return out
