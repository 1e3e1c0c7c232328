"""Open-loop HTTP client for ``serve_api``.

A dispatcher releases each scheduled request at its due time onto a queue;
``connections`` workers, each with one keep-alive connection, send them.
Latency counts from the due time, so time spent waiting for a free
connection is part of it (no coordinated omission).
"""
import http.client
import json
import queue
import threading
import time


def run(port, schedule, connections, keep=lambda k: False):
    """Send ``schedule`` [(due_s, route, path)]; return one record per request:
    dict(route, status, latency_ms, late_ms, body). ``status`` is None when no
    response came and -1 for a 200 whose body is not JSON; ``body`` is the
    parsed payload when ``keep(k)``, else None."""
    q = queue.Queue()
    records = [None] * len(schedule)

    def worker():
        conn = None
        while True:
            item = q.get()
            if item is None:
                break
            k, t_due, t_sent = item
            route, path = schedule[k][1], schedule[k][2]
            status, body = None, None
            try:
                if conn is None:
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                conn.request("GET", path)
                resp = conn.getresponse()
                status, body = resp.status, resp.read()
            except (OSError, http.client.HTTPException):
                if conn is not None:
                    conn.close()
                conn = None
            t_end = time.perf_counter()
            parsed = None
            if body is not None:
                try:
                    parsed = json.loads(body)
                except ValueError:
                    status = -1 if status == 200 else status
            records[k] = {
                "route": route, "status": status,
                "latency_ms": (t_end - t_due) * 1e3,
                "late_ms": (t_sent - t_due) * 1e3,
                "body": parsed if keep(k) else None,
            }
        if conn is not None:
            conn.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(connections)]
    for t in threads:
        t.start()
    t0 = time.perf_counter()
    for k, (due, _, _) in enumerate(schedule):
        t_due = t0 + due
        wait = t_due - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        q.put((k, t_due, time.perf_counter()))
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join()
    return records
