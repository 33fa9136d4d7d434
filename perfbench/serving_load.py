"""Serving side of the ``wells_serve`` workload: the HTTP server and the
open-loop request generator, each run as its own process.

    python3 perfbench/serving_load.py server EXPORT_DIR
        Serves EXPORT_DIR with ``serving.serve_wells_http``, prints the bound
        port on stdout and runs until its stdin closes.

    python3 perfbench/serving_load.py loadgen < SPEC_JSON
        Sends one window of requests on a fixed seeded schedule over at
        most ``conns`` keep-alive connections and prints one JSON list of
        request records. SPEC_JSON holds port, seed, duration_s, rate_rps,
        conns, and the expected row counts used to check every response.

The mix is 80 % one-partition viewport reads (``/wells?formation=...``),
10 % full reads (``/wells``) and 10 % non-partition filters
(``/wells?doc_id=...``). Each request is timed from its due time, so a
stalled server also delays the requests queued behind it.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import random
import sys
import threading
import time


def schedule(seed: int, duration_s: float, rate_rps: float, views: list[str],
             doc_ids: list[int]) -> list[tuple[float, str, str]]:
    """Seeded (due_s, route, path) list: evenly spaced at ``rate_rps`` from a
    seeded phase, with seeded routes, so every window offers the same load."""
    rng = random.Random(seed)
    out = []
    t = rng.random() / rate_rps
    while t < duration_s:
        u = rng.random()
        if u < 0.8:
            value = rng.choice(views)
            out.append((t, "view", f"/wells?formation={value}"))
        elif u < 0.9:
            out.append((t, "full", "/wells"))
        else:
            out.append((t, "filter", f"/wells?doc_id={rng.choice(doc_ids)}"))
        t += 1.0 / rate_rps
    return out


def _check(route: str, path: str, body: bytes, spec: dict) -> tuple[int, bool]:
    rows = json.loads(body)
    if route == "full":
        return len(rows), len(rows) == spec["full_rows"]
    key, value = path.split("?", 1)[1].split("=", 1)
    want = spec["views"][value] if route == "view" else 1
    match = all(str(r.get(key)) == value for r in rows)
    return len(rows), match and len(rows) == want


def loadgen(spec: dict) -> list[dict]:
    plan = schedule(spec["seed"], spec["duration_s"], spec["rate_rps"],
                    sorted(spec["views"]), spec["doc_ids"])
    todo: queue.Queue = queue.Queue()
    records: list[dict] = []
    lock = threading.Lock()

    def worker() -> None:
        conn = http.client.HTTPConnection("127.0.0.1", spec["port"], timeout=30)
        while True:
            item = todo.get()
            if item is None:
                break
            due, route, path = item
            rec = {"route": route, "due": due, "sent": time.perf_counter() - t0}
            try:
                conn.request("GET", path)
                resp = conn.getresponse()
                body = resp.read()
                rec["done"] = time.perf_counter() - t0
                rec["status"] = resp.status
                rec["bytes"] = len(body)
                rec["rows"], rec["ok"] = (
                    _check(route, path, body, spec) if resp.status == 200 else (0, False))
            except Exception as e:  # refused, reset or unparseable: a failure
                rec.setdefault("done", time.perf_counter() - t0)
                rec.update(status=0, bytes=0, rows=0, ok=False, error=repr(e))
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", spec["port"], timeout=30)
            with lock:
                records.append(rec)
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(spec["conns"])]
    for th in threads:
        th.start()
    t0 = time.perf_counter()
    for item in plan:
        delay = item[0] - (time.perf_counter() - t0)
        if delay > 0:
            time.sleep(delay)
        todo.put(item)
    for _ in threads:
        todo.put(None)
    for th in threads:
        th.join()
    return sorted(records, key=lambda r: r["due"])


def server(export_dir: str) -> None:
    from oil_wells_data_wrangling_spark.serving import serve_wells_http

    srv = serve_wells_http(export_dir)
    print(srv.server_port, flush=True)
    sys.stdin.read()  # the benchmark closes our stdin to stop us
    srv.shutdown()
    srv.server_close()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if sys.argv[1:2] == ["server"] and len(sys.argv) == 3:
        server(sys.argv[2])
    elif sys.argv[1:] == ["loadgen"]:
        print(json.dumps(loadgen(json.load(sys.stdin))))
    else:
        print(__doc__)
        raise SystemExit(2)
