"""Closed-loop HTTP load generator, run as its own process.

Each client sends its next request only after the previous answer has
arrived. Requests walk a JSON-lines pool file in a fixed schedule:
request ``i`` of client ``c`` out of ``C`` takes spec ``(i*C + c) mod
len(pool)``, so the ``C`` requests the clients have in flight together
are always ``C`` consecutive specs. Each client's first request meets
the server's cold paths; the run ends ``--seconds`` after the last of
them is answered: clients finish the request in flight, then one JSON
line with every request record is written to standard output.

    python3 perfbench/loadgen.py --port 8080 --clients 4 \\
        --pool queries.jsonl --seconds 12
"""

from __future__ import annotations

import argparse
import json
import threading
import time
import urllib.error
import urllib.parse
import urllib.request


def client(idx: int, clients: int, port: int, pool: list[dict],
           stop: threading.Event, first: threading.Semaphore,
           out: list[dict]) -> None:
    n = 0
    while not stop.is_set():
        pool_idx = (n * clients + idx) % len(pool)
        spec = pool[pool_idx]
        params = {k: spec[k] for k in ("query", "mode", "offset", "limit")}
        rid = f"c{idx}-{n}"
        n += 1
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/search?"
            + urllib.parse.urlencode(params),
            headers={"X-Bench-Request": rid},
        )
        rec = {"id": rid, "n": n - 1, "pool_idx": pool_idx}
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                body = resp.read()
                rec["status"] = resp.status
            rec["urls"] = [r["url"] for r in json.loads(body)["results"]]
        except urllib.error.HTTPError as e:
            rec["status"] = e.code
        except (OSError, ValueError, KeyError) as e:
            rec["status"] = -1
            rec["error"] = repr(e)
        # perf_counter is CLOCK_MONOTONIC on Linux: "done" compares with
        # the benchmark process's own timestamps
        rec["done"] = time.perf_counter()
        rec["latency_s"] = rec["done"] - t0
        out.append(rec)
        if n == 1:
            first.release()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--pool", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    with open(args.pool) as f:
        pool = [json.loads(line) for line in f]
    stop = threading.Event()
    first = threading.Semaphore(0)
    records: list[list[dict]] = [[] for _ in range(args.clients)]
    threads = [
        threading.Thread(
            target=client,
            args=(i, args.clients, args.port, pool, stop, first, records[i]),
        )
        for i in range(args.clients)
    ]
    for t in threads:
        t.start()
    for _ in threads:
        first.acquire()
    time.sleep(args.seconds)
    stop.set()
    for t in threads:
        t.join()
    print(json.dumps([r for rs in records for r in rs]))


if __name__ == "__main__":
    main()
