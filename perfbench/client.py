"""Closed-loop SPARQL-over-HTTP load generator, run as its own process so
its threads do not share the engine process's interpreter lock.

    python3 perfbench/client.py REQUESTS.json OUT.json

REQUESTS.json holds ``{"port", "clients", "seconds", "min_requests",
"pass_len", "timeout_s", "requests": [[kind, query], ...]}``. Each client
thread sends its next request only after the previous reply; the threads
draw from one queue in the given order (cycled) for ``seconds`` and at
least ``min_requests`` requests, and stop at a multiple of ``pass_len``
requests, so every kind of the mix is sent equally often. OUT.json receives ``{"t0", "t1", "replies":
[[kind, query, latency_s, status, content_type, body], ...]}`` with
epoch-second window bounds; answers are checked by the caller.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request


def http_query(port: int, query: str, timeout_s: float) -> tuple[int, str, str]:
    url = f"http://127.0.0.1:{port}/sparql?" + urllib.parse.urlencode({"query": query})
    req = urllib.request.Request(
        url, headers={"Accept": "application/sparql-results+json"})
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            return resp.status, resp.headers.get("Content-Type", ""), resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, "", ""
    except OSError:  # refused, reset or timed out: a failed request
        return 0, "", ""


def serve(spec: dict) -> dict:
    lock = threading.Lock()
    queue = itertools.cycle(spec["requests"])
    replies: list[list] = []
    issued = 0
    deadline = time.perf_counter() + spec["seconds"]

    def client() -> None:
        nonlocal issued
        while True:
            with lock:
                if (issued >= spec["min_requests"] and issued % spec["pass_len"] == 0
                        and time.perf_counter() >= deadline):
                    return
                issued += 1
                kind, q = next(queue)
            t = time.perf_counter()
            status, ctype, body = http_query(spec["port"], q, spec["timeout_s"])
            lat = time.perf_counter() - t
            with lock:
                replies.append([kind, q, lat, status, ctype, body])

    t0 = time.time()
    threads = [threading.Thread(target=client) for _ in range(spec["clients"])]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return {"t0": t0, "t1": time.time(), "replies": replies}


def main(argv: list[str]) -> int:
    with open(argv[0]) as fh:
        spec = json.load(fh)
    out = serve(spec)
    with open(argv[1], "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
