"""Thread-bridged HTTP engine built on ``requests`` (stdlib-adjacent, always
available). The async boundary is ``loop.run_in_executor`` on the engine's
own ``ThreadPoolExecutor``: the event loop stays responsive while a pooled
``requests.Session`` does blocking I/O on one of those threads.

Why this exists: aiohttp may be absent from the runtime image. The engine
abstraction keeps the pipeline identical either way; on clusters with
aiohttp installed, ``transport.engine: aiohttp`` selects the native-async
path (see aiohttp_engine.py).

Concurrency: ``pool_limit`` (default 100) sizes both the thread pool and
urllib3's connection pool, so requests in flight per partition are
``min(max_concurrent_requests, pool_limit)``. The loop's default executor
would cap them at min(32, cpu + 4) threads instead. Threads start on demand
and, like the session, live as long as the process-scoped engine.
"""

from __future__ import annotations

import asyncio
import threading
from concurrent.futures import ThreadPoolExecutor

from distributed_api_etl_spark.request_execution.models import (
    TransportRequest,
    TransportResponse,
)
from distributed_api_etl_spark.request_execution.transport.base import TransportEngine


class RequestsEngine(TransportEngine):
    loop_bound = False  # session state is thread-safe-ish & process-scoped

    def __init__(
        self,
        base_timeout: float = 30.0,
        pool_limit: int = 100,
        verify_tls: bool | str = True,
        client_cert: tuple[str, str] | None = None,
    ) -> None:
        self._base_timeout = base_timeout
        self._pool_limit = pool_limit
        self._verify = verify_tls
        self._cert = client_cert
        self._session = None
        self._session_lock = threading.Lock()
        self._pool = ThreadPoolExecutor(
            max_workers=pool_limit, thread_name_prefix="requests-engine"
        )

    def _get_session(self):
        if self._session is not None:
            return self._session
        with self._session_lock:  # first sends race in from many pool threads
            if self._session is not None:
                return self._session
            import requests
            from requests.adapters import HTTPAdapter

            s = requests.Session()
            adapter = HTTPAdapter(
                pool_connections=self._pool_limit,
                pool_maxsize=self._pool_limit,
                max_retries=0,  # retry policy lives in RetryMiddleware, not transport
            )
            s.mount("http://", adapter)
            s.mount("https://", adapter)
            s.verify = self._verify
            if self._cert:
                s.cert = self._cert
            self._session = s
        return self._session

    def _send_sync(self, request: TransportRequest) -> TransportResponse:
        import requests

        try:
            resp = self._get_session().request(
                method=request.method,
                url=request.url,
                headers=request.headers or None,
                params=request.params or None,
                json=request.json_body,
                data=request.data,
                timeout=request.timeout or self._base_timeout,
            )
            return TransportResponse(
                status_code=resp.status_code,
                headers=dict(resp.headers),
                body=resp.content,
            )
        except requests.RequestException as exc:  # errors are data, never raised
            return TransportResponse(error=f"{type(exc).__name__}: {exc}")

    async def send(self, request: TransportRequest) -> TransportResponse:
        loop = asyncio.get_running_loop()
        return await loop.run_in_executor(self._pool, self._send_sync, request)

    async def aclose(self) -> None:
        self._pool.shutdown(wait=False)
        if self._session is not None:
            self._session.close()
            self._session = None
