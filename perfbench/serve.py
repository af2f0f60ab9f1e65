"""The dashboard read path: the stdlib HTTP server over the published
GOLD tables, and a closed loop of client threads sending a fixed mix of
report pages, report listings and dashboard slider queries, with seeded
offsets and slider bounds.

Every response is checked: status code, and page rows against the GOLD
table sorted by every column (``fetch_report``'s default order).
"""

from __future__ import annotations

import http.client
import json
import math
import random
import statistics
import threading
import time

from workloads import GOLD_TABLES

from nyc_government_hiring_audit_data_platform_spark.serving import reports

# One cycle of each client's requests: 2 listings, 2 slider queries and
# 8 pages - (table, limit), table 0 half of them, an offset past the end
# (404) for the last. The mix is fixed, so every seed sends the same
# work; the seed picks offsets and slider bounds. Client i starts i * 3
# into the cycle, so concurrent clients send different kinds.
CYCLE = (("list",), ("page", 0, 10), ("page", 2, 25), ("dash",), ("page", 0, 50), ("page", 1, 100),
         ("list",), ("page", 0, 25), ("page", 2, 10), ("dash",), ("page", 0, 100), ("page", 3, 50, "past"))


def _sort_key(row: dict):
    return tuple((row[k] is not None, row[k]) for k in row)


class Server:
    """``build_stdlib_server`` on an ephemeral port, serving in a thread."""

    def __init__(self):
        self.httpd = reports.build_stdlib_server(0)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)


class Expected:
    """Answers for one published GOLD state, computed from its rows."""

    def __init__(self, gold: dict[str, list[dict]]):
        self.pages = [json.loads(json.dumps(sorted(gold[t], key=_sort_key))) for t in GOLD_TABLES]
        self.listing = [{"id": i, "report": t} for i, t in enumerate(GOLD_TABLES)]
        self.scores = [float(r["match_score"]) for r in gold["nyc_salary_matches"]
                       if r["match_score"] is not None]

    def dashboard(self, lo: float, hi: float) -> dict:
        shown = [s for s in self.scores if lo <= s <= hi]
        return {
            "bounds": (min(self.scores), max(self.scores)),
            "rows_shown": len(shown),
            "rows_total": len(self.scores),
            "avg_score": round(sum(shown) / len(shown), 1) if shown else None,
        }


class Clients:
    """A closed loop of ``n`` client threads; each sends its next request
    only after the previous one completed."""

    def __init__(self, port: int, dashboard_df, expected: Expected, seed: int, n: int):
        self.port, self.df, self.exp, self.seed, self.n = port, dashboard_df, expected, seed, n
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed: list[str] = []
        self._lock = threading.Lock()

    def _op(self, rng: random.Random, conn: http.client.HTTPConnection, op: tuple) -> str | None:
        """One request of kind ``op`` (a ``CYCLE`` entry); returns a
        failure description or None."""
        if op[0] == "list":
            return self._get(conn, "/reports", 200, self.exp.listing)
        if op[0] == "dash":
            lo = rng.uniform(85, 95)
            hi = rng.uniform(lo, 100)
            got = reports.dashboard_view(self.df, lo, hi)
            want = self.exp.dashboard(lo, hi)
            avg, want_avg = got["avg_score"], want["avg_score"]
            ok = (tuple(got["bounds"]) == want["bounds"] and got["rows_shown"] == want["rows_shown"]
                  and got["rows_total"] == want["rows_total"]
                  # Spark and Python sum in different orders: allow one rounding step
                  and (avg == want_avg or (None not in (avg, want_avg)
                                           and abs(avg - want_avg) <= 0.1 + 1e-9)))
            return None if ok else f"dashboard_view({lo}, {hi}) = {got}, expected {want}"
        table, limit = op[1], op[2]
        rows = self.exp.pages[table]
        offset = len(rows) + rng.randrange(5) if op[3:] == ("past",) else rng.randrange(max(len(rows), 1))
        page = rows[offset:offset + limit]
        return self._get(conn, f"/reports/{table}?offset={offset}&limit={limit}",
                         200 if page else 404, page if page else None)

    def _get(self, conn, path: str, status: int, body) -> str | None:
        conn.request("GET", path)
        resp = conn.getresponse()
        data = resp.read()
        if resp.status != status:
            return f"GET {path}: status {resp.status}, expected {status}"
        if body is not None and json.loads(data) != body:
            return f"GET {path}: wrong rows"
        return None

    def _client(self, idx: int, ops: int) -> None:
        rng = random.Random(f"client-{self.seed}-{idx}")
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            for k in range(ops):
                t0 = time.perf_counter()
                try:
                    err = self._op(rng, conn, CYCLE[(3 * idx + k) % len(CYCLE)])
                except (OSError, http.client.HTTPException, ValueError) as e:
                    err = f"{type(e).__name__}: {e}"
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
                dt = time.perf_counter() - t0
                with self._lock:
                    self.attempted += 1
                    if err is None:
                        self.latencies.append(dt)
                    else:
                        self.failed.append(err)
        finally:
            conn.close()

    def run(self, ops_per_client: int) -> float:
        """Each client sends ``ops_per_client`` requests; returns the wall
        time. The counters cover the latest call only."""
        self.latencies, self.attempted, self.failed = [], 0, []
        t0 = time.perf_counter()
        threads = [threading.Thread(target=self._client, args=(i, ops_per_client))
                   for i in range(self.n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0


def latency_summary(latencies: list[float]) -> dict:
    """Median, and p99 when at least 1000 samples - otherwise the highest
    percentile that keeps ten samples beyond it."""
    lat = sorted(latencies)
    n = len(lat)
    if n < 11:
        return {"n": n, "p50_ms": 1e3 * statistics.median(lat) if lat else math.nan,
                "tail_ms": 1e3 * lat[-1] if lat else math.nan, "tail_pct": 100.0}
    k = min(math.ceil(0.99 * n), n - 10)
    return {"n": n, "p50_ms": 1e3 * statistics.median(lat), "tail_ms": 1e3 * lat[k - 1],
            "tail_pct": 100.0 * k / n}
