"""HTTP load from one client process.

Open loop: request i is due at ``t0 + i / rate`` whatever happened to
earlier ones.  At most ``threads`` requests are in flight (one
connection each); a request that finds every thread busy is sent late,
and its latency is counted from when it was due, so a stall shows in
every request queued behind it.  ``lateness`` is how late the generator
sent each request.
"""

from __future__ import annotations

import gc
import http.client
import json
import threading
import time
from dataclasses import dataclass


# what one failed request raises: refused or reset connections and
# timeouts (OSError), malformed responses, unparsable bodies
CLIENT_ERRORS = (OSError, http.client.HTTPException, ValueError)


@dataclass
class Result:
    cls: str
    due: float
    sent: float
    end: float
    status: int  # HTTP status; 0 = exception or timeout

    @property
    def latency_ms(self) -> float:
        return (self.end - self.due) * 1000.0

    @property
    def lateness_ms(self) -> float:
        return max(0.0, self.sent - self.due) * 1000.0

    @property
    def ok(self) -> bool:
        return self.status == 200


def request(host: str, port: int, method: str, path: str,
            body: dict | None = None, timeout: float = 10.0
            ) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection(host, port, timeout=timeout)
    try:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if data else {}
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


@dataclass
class OpenLoop:
    host: str
    port: int
    threads: int
    timeout: float = 10.0

    def run(self, reqs: list[tuple[str, dict]], rate: float) -> list[Result]:
        """Send every (class, body) at `rate` per second; -> results in
        request order."""
        out: list[Result | None] = [None] * len(reqs)
        nxt = [0]
        lock = threading.Lock()
        t0 = time.perf_counter() + 0.05
        wall0 = time.time() - time.perf_counter()

        def worker():
            while True:
                with lock:
                    i = nxt[0]
                    nxt[0] += 1
                if i >= len(reqs):
                    return
                due = t0 + i / rate
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                sent = time.perf_counter()
                cls, body = reqs[i]
                try:
                    status, _ = request(self.host, self.port, "POST", "/",
                                        body, self.timeout)
                except CLIENT_ERRORS:
                    status = 0
                end = time.perf_counter()
                # wall-clock times, so spans line up with other spans
                out[i] = Result(cls, due + wall0, sent + wall0, end + wall0, status)

        _run_threads(worker, self.threads)
        return out


def _run_threads(target, n: int) -> None:
    """Run `n` client threads to completion with the client's own cyclic
    garbage collector off, so client pauses do not show as latency."""
    gc.disable()
    try:
        pool = [threading.Thread(target=target) for _ in range(n)]
        for t in pool:
            t.start()
        for t in pool:
            t.join()
    finally:
        gc.enable()
