"""Idempotent batch engine: anti-join diff -> hash batches -> driver retry.

Reference parity: src/orchestration/batch_processor.py, with the fixes
SURVEY.md calls for:
  * non-negative batch ids (``pmod`` — Spark ``hash`` can go negative);
  * remaining-work recomputation per attempt stays a *declarative* plan, so
    Catalyst picks broadcast vs shuffled anti-join from actual sink size;
  * explicit ``repartition`` before the HTTP stage, deliberately defeating
    AQE coalescing — for I/O-bound work many small partitions are right
    even though AQE would merge them (the decision the reference documents).

At 100 TB: the anti-join shuffles on request_id only after projection to
the needed columns; the sink side prunes to a single column. Batch ids are
uniform by construction (hash), so no skew; per-batch processing bounds the
blast radius of a mid-run failure to batch_size rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class PipelineExecutionError(RuntimeError):
    pass


@dataclass
class BatchRunStats:
    total_rows: int = 0
    processed_rows: int = 0
    attempts: int = 0
    batches_ok: int = 0
    batches_failed: int = 0
    errors: list[str] = field(default_factory=list)


class BatchProcessor:
    def __init__(
        self,
        batch_size: int = 10_000,
        num_partitions: int | None = None,
        max_attempts: int = 5,
    ) -> None:
        self.batch_size = batch_size
        self.num_partitions = num_partitions
        self.max_attempts = max_attempts

    @staticmethod
    def remaining(source_df: DataFrame, sink_df: DataFrame | None) -> DataFrame:
        """Rows not yet in the sink — the idempotency diff (left_anti)."""
        if sink_df is None:
            return source_df
        processed = sink_df.select("request_id")
        return source_df.join(processed, on="request_id", how="left_anti")

    def batches(self, df: DataFrame, total: int) -> Iterator[DataFrame]:
        """Hash-split ``df`` (``total`` rows) into ceil(total / batch_size)
        batches, each repartitioned for the HTTP stage; a batch holds <=
        batch_size rows, so more partitions than that are dead weight."""
        num_batches = max(1, -(-total // self.batch_size))  # ceil
        df = df.withColumn(
            "batch_id", F.pmod(F.hash(F.col("request_id")), F.lit(num_batches))
        )
        parts = min(self.num_partitions or num_batches, self.batch_size)
        for batch_id in range(num_batches):
            yield df.where(F.col("batch_id") == batch_id).drop("batch_id").repartition(parts)

    def process(
        self,
        source_df: DataFrame,
        handler: Callable[[DataFrame], None],
        sink_reader: Callable[[], DataFrame | None],
    ) -> BatchRunStats:
        stats = BatchRunStats()
        stats.total_rows = source_df.count()
        initial_remaining: int | None = None
        for attempt in range(1, self.max_attempts + 1):
            stats.attempts = attempt
            todo = self.remaining(source_df, sink_reader())
            total = todo.count()
            if initial_remaining is None:
                initial_remaining = total
            if total == 0:
                # processed = what this run actually drained, not attempts ×
                # batch_size (the final partial batch would inflate that).
                stats.processed_rows = initial_remaining
                return stats
            for batch_id, batch_df in enumerate(self.batches(todo, total)):
                try:
                    handler(batch_df)
                    stats.batches_ok += 1
                except Exception as exc:  # noqa: BLE001 - retried next attempt
                    stats.batches_failed += 1
                    stats.errors.append(f"attempt {attempt} batch {batch_id}: {exc}")
                    if attempt >= self.max_attempts:
                        raise PipelineExecutionError(
                            f"batch {batch_id} failed on final attempt: {exc}"
                        ) from exc
        leftover = self.remaining(source_df, sink_reader()).count()
        stats.processed_rows = max(0, (initial_remaining or 0) - leftover)
        if leftover > 0:
            raise PipelineExecutionError(
                f"{leftover} rows unprocessed after {self.max_attempts} attempts: "
                + "; ".join(stats.errors[-3:])
            )
        return stats
