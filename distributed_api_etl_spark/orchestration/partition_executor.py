"""Worker-side async fan-out: the core non-relational operator.

One Spark task == one partition of request rows (the ``mapInPandas`` body
built by ``build_map_in_pandas_fn``). Inside the task we run an asyncio
producer/consumer pool: a queue bounded at ``2 * max_concurrent_requests``
(backpressure — the reference documents ``maxsize=2*limit`` but ships an
unbounded queue), ``max_concurrent_requests`` consumers, an optional shared
token-bucket rate limiter, and a middleware chain ending in the HTTP
transport.

Memory: rows are processed in chunks of ``execution.chunk_size`` and each
chunk leaves as one bronze frame — the whole partition is never
materialized (the reference returns ``list[Row]``; at 100 TB that's an OOM).

Event-loop lifecycle: ``asyncio.run`` per chunk. ``loop_bound`` engines
(aiohttp) are created/closed inside the loop; thread-based engines and their
thread pools are process-scoped via ``ProcessScope`` and reused across
chunks and tasks (``spark.python.worker.reuse`` makes this pay off).

Everything captured by the returned closure is a plain picklable dict.
"""

from __future__ import annotations

import asyncio
import itertools
import json
from collections.abc import Iterable, Iterator
from datetime import datetime
from typing import Any

from distributed_api_etl_spark.core.runtime import ProcessScope, RateLimiter
from distributed_api_etl_spark.request_execution.executor import RequestExecutor
from distributed_api_etl_spark.request_execution.middleware.interceptors import (
    JsonResponseMiddleware,
    RetryMiddleware,
)
from distributed_api_etl_spark.request_execution.middleware.injectors import (
    BasicAuthMiddleware,
    BearerTokenMiddleware,
    JsonBodyInjectorMiddleware,
    LoggingMiddleware,
    ParamInjectorMiddleware,
    RequestTemplateMiddleware,
    TimingMiddleware,
    TransportDiagnosticsMiddleware,
    WorkerIdentityMiddleware,
)
from distributed_api_etl_spark.request_execution.middleware.pipeline import (
    MiddlewarePipeline,
)
from distributed_api_etl_spark.request_execution.models import (
    RequestContext,
    RequestExchange,
)
from distributed_api_etl_spark.request_execution.transport.registry import (
    build_engine,
    engine_class,
)

_SENTINEL = object()


def build_request_context(row: dict[str, Any], endpoint: dict) -> RequestContext:
    """Template one row into a RequestContext (endpoint factory)."""
    return RequestContext(
        method=endpoint["method"],
        url=endpoint["url"],
        headers=dict(endpoint.get("headers") or {}),
        params={},
        timeout=endpoint.get("timeout"),
        metadata=dict(endpoint.get("metadata") or {}),
        row=row,
        request_id=str(row.get("request_id", "")),
    )


def build_middlewares(compiled: dict, transport_diag: dict | None = None) -> list:
    """Config -> ordered middleware chain (request-side first, then
    response-side; retry innermost so every attempt re-crosses transport
    only, and the JSON middleware sees the final attempt).

    ``transport_diag`` (built per chunk when ``transport.diagnostics`` is
    on) appends the TransportDiagnosticsMiddleware with the live engine
    info + warmup probe result."""
    endpoint = compiled["endpoint"]
    retry = compiled.get("retry") or {}
    auth = compiled.get("auth") or {"type": "none"}
    extras = compiled.get("middleware") or []

    chain: list = []
    param_mapping = [
        (m["endpoint_param"], m["source_column"], m.get("transform"))
        for m in endpoint.get("param_mapping", [])
    ]
    if param_mapping:
        chain.append(ParamInjectorMiddleware(param_mapping))
    if endpoint.get("request_template"):
        chain.append(RequestTemplateMiddleware(endpoint["request_template"]))
    body_mapping = [
        (m["endpoint_param"], m["source_column"], m.get("transform"))
        for m in endpoint.get("json_body_mapping", [])
    ]
    if body_mapping:
        chain.append(JsonBodyInjectorMiddleware(body_mapping))
    if endpoint.get("pagination"):
        from distributed_api_etl_spark.request_execution.middleware.interceptors import (
            PaginationMiddleware,
        )

        chain.append(PaginationMiddleware(**endpoint["pagination"]))

    if auth["type"] == "basic":
        chain.append(BasicAuthMiddleware(auth["username"], auth["password"]))
    elif auth["type"] == "bearer_static":
        chain.append(BearerTokenMiddleware(auth["token"]))
    elif auth["type"] in ("oauth2_client_credentials", "oauth2_password"):
        from distributed_api_etl_spark.auth.providers import build_worker_token_provider

        chain.append(BearerTokenMiddleware(build_worker_token_provider(auth)))

    names = {spec["type"] for spec in extras}
    if "logging" in names:
        chain.append(LoggingMiddleware())
    if "timing" in names:
        chain.append(TimingMiddleware())
    if "worker_identity" in names:
        chain.append(WorkerIdentityMiddleware())
    if transport_diag is not None:
        chain.append(TransportDiagnosticsMiddleware(**transport_diag))
    chain.append(JsonResponseMiddleware())
    chain.append(
        RetryMiddleware(
            max_attempts=retry.get("max_attempts", 10),
            base_delay=retry.get("base_delay", 0.1),
            max_delay=retry.get("max_delay", 2.0),
            retry_statuses=retry.get("retry_statuses", [429, 500, 502, 503, 504]),
        )
    )
    return chain


async def _run_chunk(rows: list[dict[str, Any]], compiled: dict) -> list[dict[str, Any]]:
    execution = compiled["execution"]
    concurrency = max(1, int(execution.get("max_concurrent_requests", 20)))
    rps = execution.get("max_requests_per_second")

    transport_cfg = compiled["transport"]
    process_scoped = not engine_class(transport_cfg).loop_bound
    key = "transport:" + json.dumps(transport_cfg, sort_keys=True, default=str)
    engine = (
        ProcessScope.get(key, lambda: build_engine(transport_cfg))
        if process_scoped
        else build_engine(transport_cfg)
    )

    executor = RequestExecutor(engine)
    limiter = RateLimiter(rps) if rps else None
    fixed_time = compiled.get("fixed_time")
    request_time = datetime.fromisoformat(fixed_time) if fixed_time else None

    if transport_cfg.get("warmup"):
        warm_meta = await engine.warmup(
            compiled["endpoint"]["url"], transport_cfg.get("warmup_timeout", 10.0)
        )
    else:
        warm_meta = None
    transport_diag = None
    if transport_cfg.get("diagnostics", True):
        transport_diag = {
            "engine_info": {
                "engine": type(engine).__name__,
                "pool_limit": transport_cfg.get("pool_limit", 100),
            },
            "warmup_meta": warm_meta,
        }
    pipeline = MiddlewarePipeline(
        build_middlewares(compiled, transport_diag), executor.send
    )

    queue: asyncio.Queue = asyncio.Queue(maxsize=2 * concurrency)
    results: list[dict[str, Any]] = []

    async def producer() -> None:
        for row in rows:
            await queue.put(row)
        for _ in range(concurrency):
            await queue.put(_SENTINEL)

    async def consumer() -> None:
        while True:
            item = await queue.get()
            if item is _SENTINEL:
                return
            if limiter is not None:
                await limiter.acquire()
            exchange = RequestExchange(
                context=build_request_context(item, compiled["endpoint"])
            )
            exchange = await pipeline.execute(exchange)
            results.append(exchange.build_record(request_time))

    try:
        await asyncio.gather(producer(), *[consumer() for _ in range(concurrency)])
    finally:
        if not process_scoped:
            await engine.aclose()
    return results


def _run_chunks(rows: Iterable[dict[str, Any]], compiled: dict) -> Iterator[list[dict]]:
    """Chunked sync->async bridge: one ``asyncio.run`` and one list of bronze
    records per ``execution.chunk_size`` input rows."""
    chunk_size = max(1, int(compiled["execution"].get("chunk_size", 5000)))
    it = iter(rows)
    while chunk := list(itertools.islice(it, chunk_size)):
        yield asyncio.run(_run_chunk(chunk, compiled))


def run_rows(rows: Iterable[dict[str, Any]], compiled: dict) -> Iterator[dict[str, Any]]:
    """Yields bronze records incrementally, one chunk in memory at a time."""
    for records in _run_chunks(rows, compiled):
        yield from records


def build_map_in_pandas_fn(compiled: dict):
    """Returns the mapInPandas body: Iterator[pd.DataFrame] -> same, with
    BRONZE_COLUMNS output, one frame per chunk.

    The Arrow path: no ``df.rdd`` conversion (which costs ~1s of driver-side
    plan analysis per batch) and no per-row pickle — input rows arrive as
    Arrow batches and bronze records leave as Arrow batches. numpy scalars
    are unboxed so request params/json serialize as plain Python values.
    """
    from distributed_api_etl_spark.core.bronze import BRONZE_COLUMNS

    def fn(batches):
        import pandas as pd

        def dict_rows():
            for pdf in batches:
                cols = list(pdf.columns)
                for tup in pdf.itertuples(index=False, name=None):
                    yield {
                        c: (v.item() if hasattr(v, "item") else v)
                        for c, v in zip(cols, tup)
                    }

        for records in _run_chunks(dict_rows(), compiled):
            yield pd.DataFrame(records, columns=list(BRONZE_COLUMNS))

    return fn
