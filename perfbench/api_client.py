"""Start, drive and stop the fake API process (perfbench/fake_api.py)."""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class FakeApiProcess:
    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fake_api.py")],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"fake API failed to start: {line!r}")
        self.port = int(line.split()[1])
        self.base_url = f"http://127.0.0.1:{self.port}"

    @property
    def pid(self) -> int:
        return self.proc.pid

    def _call(self, method: str, path: str, payload: dict | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
        try:
            body = json.dumps(payload).encode() if payload is not None else None
            conn.request(method, path, body=body)
            resp = conn.getresponse()
            return json.loads(resp.read())
        finally:
            conn.close()

    def reset(self, service_ms: float, fault_seed: int | None, require_auth: bool) -> None:
        self._call(
            "POST",
            "/_reset",
            {"service_ms": service_ms, "fault_seed": fault_seed, "require_auth": require_auth},
        )

    def stats(self) -> dict:
        return self._call("GET", "/_stats")

    def seen_ids(self) -> dict[str, int]:
        return self._call("GET", "/_ids")

    def close(self) -> None:
        if self.proc.stdin and not self.proc.stdin.closed:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
