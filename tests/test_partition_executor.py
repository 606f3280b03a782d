"""Partition executor tested directly on Python iterators (the reference's
integration-test strategy: the partition body needs no cluster)."""

from __future__ import annotations

import asyncio
import time

from distributed_api_etl_spark.core.bronze import BRONZE_COLUMNS
from distributed_api_etl_spark.core.runtime import ProcessScope, RateLimiter
from distributed_api_etl_spark.orchestration.partition_executor import (
    build_map_in_pandas_fn,
    run_rows,
)


def compiled(**over):
    base = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/x",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "mock"},
        "retry": {"max_attempts": 3, "base_delay": 0.0, "max_delay": 0.0},
        "auth": {"type": "none"},
        "middleware": [{"type": "timing"}, {"type": "worker_identity"}],
        "execution": {
            "max_concurrent_requests": 8,
            "chunk_size": 50,
        },
        "fixed_time": "2024-01-01T00:00:00",
    }
    base.update(over)
    return base


def rows(n):
    return [{"request_id": str(i)} for i in range(n)]


def setup_function(_):
    ProcessScope.clear()


def test_all_rows_processed_and_typed():
    out = list(run_rows(rows(137), compiled()))
    assert len(out) == 137
    ids = sorted(int(r["request_id"]) for r in out)
    assert ids == list(range(137))
    r = out[0]
    assert r["status_code"] == 200
    assert r["success"] is True
    assert r["attempts"] == 1
    assert r["method"] == "GET"
    assert "timing" in r["response_metadata"]
    assert "executor_identity" in r["response_metadata"]


def test_empty_and_single_row_partitions():
    assert list(run_rows([], compiled())) == []
    assert len(list(run_rows(rows(1), compiled()))) == 1


def test_chunking_bounds_memory():
    # chunk_size=10 over 35 rows -> 4 asyncio runs, all rows out
    out = list(run_rows(rows(35), compiled(execution={
        "max_concurrent_requests": 4, "chunk_size": 10})))
    assert len(out) == 35


def test_concurrency_is_bounded():
    observed = {"now": 0, "max": 0}

    class CountingEngine:
        loop_bound = False

        async def send(self, request):
            from distributed_api_etl_spark.request_execution.models import (
                TransportResponse,
            )

            observed["now"] += 1
            observed["max"] = max(observed["max"], observed["now"])
            await asyncio.sleep(0.005)
            observed["now"] -= 1
            return TransportResponse(status_code=200, body=b"{}")

    import distributed_api_etl_spark.orchestration.partition_executor as pe

    orig = pe.build_engine
    pe.build_engine = lambda cfg: CountingEngine()
    try:
        cfg = compiled(execution={"max_concurrent_requests": 5, "chunk_size": 1000})
        out = list(run_rows(rows(60), cfg))
    finally:
        pe.build_engine = orig
    assert len(out) == 60
    assert 1 < observed["max"] <= 5


def test_rate_limiter_enforces_rate():
    limiter = RateLimiter(rate=100.0, capacity=1.0)

    async def hammer():
        t0 = time.monotonic()
        for _ in range(21):
            await limiter.acquire()
        return time.monotonic() - t0

    elapsed = asyncio.run(hammer())
    assert elapsed >= 0.18  # 20 extra tokens at 100/s >= 0.2s (sched slack)


def test_retry_with_injected_failures_end_to_end():
    cfg = compiled(
        transport={"engine": "mock", "mock_fail_first_attempts": 2, "mock_fail_status": 503},
    )
    out = list(run_rows(rows(10), cfg))
    assert all(r["status_code"] == 200 for r in out)
    assert all(r["attempts"] == 3 for r in out)


def test_map_in_pandas_fn_emits_one_bronze_frame_per_chunk(monkeypatch):
    import json

    import numpy as np
    import pandas as pd

    import distributed_api_etl_spark.orchestration.partition_executor as pe
    from distributed_api_etl_spark.request_execution.models import TransportResponse

    class JsonEchoEngine:
        loop_bound = False

        async def send(self, request):
            # serialise the body as a wire transport does: numpy scalars raise
            body = json.dumps(request.json_body).encode()
            return TransportResponse(status_code=200, body=body)

    monkeypatch.setattr(pe, "build_engine", lambda cfg: JsonEchoEngine())
    cfg = compiled(
        endpoint={
            "method": "POST",
            "url": "http://mock.local/x",
            "json_body_mapping": [{"endpoint_param": "n", "source_column": "n"}],
        },
        execution={"max_concurrent_requests": 4, "chunk_size": 10},
    )
    ids = np.arange(25, dtype=np.int64)
    batches = iter([
        pd.DataFrame({"request_id": ids[:12].astype(str), "n": ids[:12]}),
        pd.DataFrame({"request_id": ids[12:].astype(str), "n": ids[12:]}),
    ])
    try:
        frames = list(build_map_in_pandas_fn(cfg)(batches))
    finally:
        ProcessScope.clear()  # drop the patched engine from the process cache
    assert [len(f) for f in frames] == [10, 10, 5]
    assert all(list(f.columns) == list(BRONZE_COLUMNS) for f in frames)
    out = pd.concat(frames)
    assert out["success"].all()
    bodies = dict(zip(out["request_id"], out["body_text"].map(json.loads)))
    assert bodies == {str(i): {"n": i} for i in range(25)}
