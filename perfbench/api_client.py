"""Closed-loop HTTP load generator for ``api_serve``, run as its own process.

Reads one JSON job from stdin::

    {"port": 8080, "rounds": 2, "conns": 3, "seed": 1,
     "requests": [{"key": "...", "method": "GET", "path": "...", "body": null}]}

The load is ``rounds`` copies of ``requests`` in a seeded order, so every
seed sends the same requests. Each connection thread takes the next
request from that shared queue only after its previous reply, until the
queue is empty. Prints one JSON list of
``{key, start, end, status, digest, error}`` to stdout, where ``digest``
is :func:`digest` of the response's ``data``.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import random
import sys
import threading
import time


def digest(data: list) -> str:
    """Order-insensitive digest of the JSON rows of a response."""
    rows = sorted(json.dumps(row) for row in data)
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def _send(conn: http.client.HTTPConnection, req: dict) -> tuple[int, dict]:
    headers = {}
    body = None
    if req["body"] is not None:
        body = req["body"].encode()
        headers["Content-Type"] = "application/x-www-form-urlencoded"
    conn.request(req["method"], req["path"], body=body, headers=headers)
    resp = conn.getresponse()
    return resp.status, json.loads(resp.read())


def client(port: int, queue: list, lock: threading.Lock, out: list) -> None:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        while True:
            with lock:
                if not queue:
                    return
                req = queue.pop()
            start = time.perf_counter()
            try:
                status, payload = _send(conn, req)
                error = payload.get("error")
                data = digest(payload["data"]) if "data" in payload else None
            except (OSError, http.client.HTTPException, ValueError) as e:
                conn.close()
                status, error, data = 0, repr(e), None
            out.append({"key": req["key"], "start": start,
                        "end": time.perf_counter(), "status": status,
                        "digest": data, "error": error})
    finally:
        conn.close()


def main() -> None:
    job = json.load(sys.stdin)
    queue = job["requests"] * job["rounds"]
    random.Random(job["seed"]).shuffle(queue)
    lock = threading.Lock()
    results: list[dict] = []
    threads = [threading.Thread(target=client, args=(job["port"], queue, lock, results))
               for _ in range(job["conns"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    json.dump(results, sys.stdout)


if __name__ == "__main__":
    main()
