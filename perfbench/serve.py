"""Closed-loop HTTP load against ``server.run_server``: each client sends
its next request only after the previous reply has fully arrived."""

from __future__ import annotations

import http.client
import threading
import time
from dataclasses import dataclass
from urllib.parse import quote

from sparql import Request

#: a reply slower than this is a failed operation
REQUEST_TIMEOUT_S = 60


@dataclass
class Sample:
    rid: str
    req: Request
    start: float
    end: float
    status: int
    body: str
    error: str | None = None


def send(port: int, req: Request, rid: str) -> Sample:
    """One GET /query, timed from sending the request to reading the last
    byte of the body."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    start = time.perf_counter()
    try:
        conn.request("GET", "/query?query=" + quote(req.text), headers={"X-Request-Id": rid})
        resp = conn.getresponse()
        body = resp.read().decode("utf-8")
        return Sample(rid, req, start, time.perf_counter(), resp.status, body)
    except (OSError, http.client.HTTPException) as e:
        return Sample(rid, req, start, time.perf_counter(), 0, "", f"{type(e).__name__}: {e}")
    finally:
        conn.close()


def send_all(port: int, requests: list[Request], clients: int) -> list[Sample]:
    """Send every request once, ``clients`` at a time."""
    return closed_loop(port, requests, clients, float(REQUEST_TIMEOUT_S), "w")


def closed_loop(
    port: int, requests, clients: int, seconds: float, prefix: str, quantum: int = 1, minimum: int = 0
) -> list[Sample]:
    """Run ``clients`` client threads, each pulling the next request from
    the shared iterator ``requests``, until ``seconds`` have passed, at
    least ``minimum`` requests were sent, and the number sent is a
    multiple of ``quantum`` (so a window holds whole blocks of the
    stream). Requests in flight then complete and are kept."""
    lock = threading.Lock()
    source = iter(requests)
    samples: list[Sample] = []
    deadline = time.perf_counter() + seconds
    n_sent = 0

    def client() -> None:
        nonlocal n_sent
        while True:
            with lock:
                if time.perf_counter() >= deadline and n_sent >= minimum and n_sent % quantum == 0:
                    return
                req = next(source, None)
                if req is None:
                    return
                rid = f"{prefix}{n_sent}"
                n_sent += 1
            s = send(port, req, rid)
            with lock:
                samples.append(s)

    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + 4 * REQUEST_TIMEOUT_S)
    return samples


def serve(engine, tracer=None):
    """Start ``run_server`` on an ephemeral port in a background thread.
    With a tracer, each request handler thread is scoped to the request
    id the client sent."""
    from graphdb_wikidata_spark.server import run_server

    srv = run_server(engine, host="127.0.0.1", port=0)
    if tracer is not None:
        handler = srv.RequestHandlerClass
        original = handler.do_GET
        sc = engine.spark.sparkContext

        def do_get(self):
            with tracer.request(self.headers.get("X-Request-Id"), sc):
                with tracer.span("server.request"):
                    original(self)

        handler.do_GET = do_get
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    return srv, thread


def shutdown(srv, thread) -> None:
    srv.shutdown()
    srv.server_close()
    thread.join(timeout=30)
