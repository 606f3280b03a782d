"""Engine selection: config dict -> TransportEngine class and instance.

``auto`` prefers aiohttp (native async) and falls back to the thread-bridged
requests engine; ``mock`` is the deterministic in-process responder.
"""

from __future__ import annotations

from distributed_api_etl_spark.request_execution.transport.aiohttp_engine import (
    AiohttpEngine,
    aiohttp_available,
)
from distributed_api_etl_spark.request_execution.transport.base import TransportEngine
from distributed_api_etl_spark.request_execution.transport.mock import MockEngine
from distributed_api_etl_spark.request_execution.transport.threaded import RequestsEngine

_ENGINES = {"mock": MockEngine, "requests": RequestsEngine, "aiohttp": AiohttpEngine}


def engine_class(transport: dict) -> type[TransportEngine]:
    """Resolve ``transport.engine`` (``auto`` included) without building one."""
    name = transport.get("engine", "auto")
    if name == "auto":
        name = "aiohttp" if aiohttp_available() else "requests"
    if name not in _ENGINES:
        raise ValueError(f"unknown transport engine {name!r}")
    return _ENGINES[name]


def build_engine(transport: dict) -> TransportEngine:
    """``transport`` is a plain dict (TransportConfig.model_dump()) so the
    factory closure pickles cleanly across the executor boundary."""
    cls = engine_class(transport)
    if cls is MockEngine:
        return MockEngine(
            latency=transport.get("mock_latency", 0.0),
            fail_first_attempts=transport.get("mock_fail_first_attempts", 0),
            fail_status=transport.get("mock_fail_status", 503),
        )
    verify = transport.get("verify_tls", True)
    ca_bundle = transport.get("ca_bundle")
    cert = None
    if transport.get("client_cert") and transport.get("client_key"):
        cert = (transport["client_cert"], transport["client_key"])
    if cls is RequestsEngine:
        return RequestsEngine(
            base_timeout=transport.get("base_timeout", 30.0),
            pool_limit=transport.get("pool_limit", 100),
            verify_tls=(ca_bundle or verify) if verify else False,
            client_cert=cert,
        )
    return AiohttpEngine(
        base_timeout=transport.get("base_timeout", 30.0),
        pool_limit=transport.get("pool_limit", 100),
        verify_tls=verify,
        ca_bundle=ca_bundle,
        client_cert=cert,
    )
