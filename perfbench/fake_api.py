"""Fake HTTP API for the benchmark: one process, one asyncio thread.

The server answers every data request after a fixed service time, and in a
single ``write`` (status line, headers and body together), so the time a
client measures is the pipeline's own cost plus the service time, not the
server's. The service time each request actually got is recorded.

Routes:

* ``GET /api?...``      — data endpoint; echoes its query params as JSON.
* ``POST /oauth/token`` — OAuth2 client-credentials grant.
* ``GET /_stats``       — counters since the last reset (not counted).
* ``POST /_reset``      — clear counters and set the run's behaviour from a
  JSON body: ``service_ms``, ``fault_seed``, ``require_auth``.

Faults are a pure function of ``(fault_seed, id)`` (see :func:`fault_for`):
the chosen ids answer 503 or 429 on their first attempt only, so the
benchmark can predict every row's ``attempts`` without asking the server.

Run: ``python3 perfbench/fake_api.py`` — prints ``PORT <n>`` once listening
and serves until stdin closes.
"""

from __future__ import annotations

import asyncio
import hashlib
import json
import os
import sys
import time
import urllib.parse

SHARE_503 = 0.05
SHARE_429 = 0.01
CLIENT_SECRET = "bench-secret"


def fault_for(fault_seed: int | None, request_id: str) -> int | None:
    """Status the first attempt of ``request_id`` answers, or None."""
    if fault_seed is None:
        return None
    digest = hashlib.blake2b(f"{fault_seed}:{request_id}".encode(), digest_size=8)
    u = int.from_bytes(digest.digest(), "big") / 2**64
    if u < SHARE_503:
        return 503
    if u < SHARE_503 + SHARE_429:
        return 429
    return None


def _response(code: int, payload: dict) -> bytes:
    body = json.dumps(payload, separators=(",", ":"), sort_keys=True).encode()
    reason = {200: "OK", 401: "Unauthorized", 404: "Not Found", 429: "Too Many Requests",
              503: "Service Unavailable"}.get(code, "Error")
    head = (
        f"HTTP/1.1 {code} {reason}\r\nContent-Type: application/json\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body


class Counters:
    """Everything the server observed since the last reset."""

    def __init__(self, service_ms: float = 0.0, fault_seed: int | None = None,
                 require_auth: bool = False) -> None:
        self.service_s = service_ms / 1000.0
        self.fault_seed = fault_seed
        self.require_auth = require_auth
        self.requests = 0
        self.connections = 0  # connections whose first API request came now
        self.token_grants = 0
        self.unauthorized = 0
        self.seen: dict[str, int] = {}
        self.tokens: set[str] = set()
        self.service_times: list[float] = []
        self.in_flight = 0
        # (monotonic time, in-flight after the change) at every arrival and
        # every reply: the in-flight timeline
        self.timeline: list[tuple[float, int]] = []
        self.cpu0 = time.process_time()

    def enter(self) -> None:
        self.in_flight += 1
        self.timeline.append((time.monotonic(), self.in_flight))

    def leave(self) -> None:
        self.in_flight -= 1
        self.timeline.append((time.monotonic(), self.in_flight))

    def summary(self) -> dict:
        """Counters plus in-flight statistics over the busy periods."""
        busy = weighted = 0.0
        peak = 0
        for (t0, n), (t1, _) in zip(self.timeline, self.timeline[1:]):
            peak = max(peak, n)
            if n > 0:
                busy += t1 - t0
                weighted += n * (t1 - t0)
        st = sorted(self.service_times)
        return {
            "requests": self.requests,
            "connections": self.connections,
            "token_grants": self.token_grants,
            "unauthorized": self.unauthorized,
            "in_flight_max": peak,
            "in_flight_mean": weighted / busy if busy else 0.0,
            "busy_s": busy,
            "service_ms_p50": 1000.0 * st[len(st) // 2] if st else 0.0,
            "cpu_s": time.process_time() - self.cpu0,
        }


class FakeApi:
    def __init__(self) -> None:
        self.c = Counters()

    async def _data(self, target: urllib.parse.SplitResult, headers: dict) -> bytes:
        c = self.c
        params = dict(urllib.parse.parse_qsl(target.query))
        rid = params.get("id", "")
        c.requests += 1
        c.enter()
        t0 = time.monotonic()
        try:
            if c.require_auth:
                auth = headers.get("authorization", "")
                if not (auth.startswith("Bearer ") and auth[7:] in c.tokens):
                    c.unauthorized += 1
                    return _response(401, {"error": "unauthorized"})
            n = c.seen.get(rid, 0)
            c.seen[rid] = n + 1
            if c.service_s:
                # a timer, not a busy wait: the server must not take a core
                # from the program it measures. Overshoot (about a
                # millisecond) shows in the recorded service times.
                await asyncio.sleep(c.service_s)
            fault = fault_for(c.fault_seed, rid) if n == 0 else None
            if fault is not None:
                return _response(fault, {"error": "transient", "id": rid})
            return _response(200, {"echo": params})
        finally:
            c.service_times.append(time.monotonic() - t0)
            c.leave()

    def _token(self, body: bytes) -> bytes:
        fields = dict(urllib.parse.parse_qsl(body.decode()))
        if fields.get("client_secret") != CLIENT_SECRET:
            return _response(401, {"error": "bad client"})
        self.c.token_grants += 1
        token = f"tok-{os.getpid()}-{self.c.token_grants}"
        self.c.tokens.add(token)
        return _response(200, {"access_token": token, "expires_in": 3600})

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        used = False  # has this connection carried an API request yet?
        try:
            while True:
                line = await reader.readline()
                if not line:
                    return
                method, path, _ = line.decode("latin-1").split(" ", 2)
                headers: dict[str, str] = {}
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    k, _, v = h.decode("latin-1").partition(":")
                    headers[k.strip().lower()] = v.strip()
                length = int(headers.get("content-length", "0") or 0)
                body = await reader.readexactly(length) if length else b""
                target = urllib.parse.urlsplit(path)
                if method == "GET" and target.path == "/api":
                    if not used:
                        self.c.connections += 1
                        used = True
                    out = await self._data(target, headers)
                elif method == "POST" and target.path == "/oauth/token":
                    out = self._token(body)
                elif method == "GET" and target.path == "/_stats":
                    out = _response(200, self.c.summary())
                elif method == "GET" and target.path == "/_ids":
                    out = _response(200, self.c.seen)
                elif method == "POST" and target.path == "/_reset":
                    self.c = Counters(**json.loads(body or b"{}"))
                    out = _response(200, {"ok": True})
                else:
                    out = _response(404, {"error": "not found"})
                writer.write(out)
                await writer.drain()
        except (ConnectionError, asyncio.IncompleteReadError, ValueError):
            return
        finally:
            writer.close()


async def _serve() -> None:
    api = FakeApi()
    server = await asyncio.start_server(api.handle, "127.0.0.1", 0, backlog=1024)
    port = server.sockets[0].getsockname()[1]
    print(f"PORT {port}", flush=True)
    loop = asyncio.get_running_loop()
    # serve until the parent closes our stdin (or dies)
    await loop.run_in_executor(None, sys.stdin.read)
    server.close()
    await server.wait_closed()


if __name__ == "__main__":
    asyncio.run(_serve())
