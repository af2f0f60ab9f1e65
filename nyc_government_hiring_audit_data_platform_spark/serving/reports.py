"""Serving layer (reference parity: EP4 - api/ + streamlit/).

The reference serves GOLD tables through a per-request DuckDB connect +
``SELECT * ... OFFSET ? LIMIT ?`` FastAPI endpoint (reference:
api/fetch_data.py:42-69, api/main.py:42-51) and a Streamlit dashboard
with slider filtering and mean/min/max summary stats
(streamlit/app.py:29-112). Here the same surface runs against one
long-lived SparkSession: a dataset registry, deterministic pagination
(explicit sort - unordered OFFSET/LIMIT is nondeterministic, SURVEY.md
§7.3), range filtering, and the dashboard aggregations. FastAPI is not
installed in this container, so ``build_app`` gates the import and the
plain functions are the tested surface; the HTTP layer is a thin shim.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# id -> (name, dataframe-producer) registry; mirrors DATASET_CONFIG
# (reference: api/fetch_data.py:13-26). Names keep the reference's
# "GOLD." prefix; listings strip it (api/fetch_data.py:86-94).
_REGISTRY: dict[int, tuple[str, Any]] = {}

# the reference's four GOLD datasets in DATASET_CONFIG order
GOLD_DATASET_NAMES = (
    "GOLD.nyc_salary_matches",
    "GOLD.nyc_matched_job_posting_duration_SOC",
    "GOLD.nyc_salary_matches_unique_job_posting_title",
    "GOLD.nyc_matched_job_posting_duration_SOC_unique_title",
)


def register_dataset(dataset_id: int, name: str, df_factory) -> None:
    _REGISTRY[dataset_id] = (name, df_factory)


def register_gold_tables(tables: dict[str, Any]) -> None:
    """Bind the pipeline's GOLD tables to the reference's dataset ids
    0-3 (reference: api/fetch_data.py:13-26). ``tables`` maps the
    unprefixed reference table name -> DataFrame."""
    for i, full_name in enumerate(GOLD_DATASET_NAMES):
        short = full_name.split("GOLD.")[-1]
        if short in tables:
            df = tables[short]
            register_dataset(i, full_name, lambda df=df: df)


# pipelines.hiring_audit.run_pipeline key -> reference GOLD table name
PIPELINE_TO_GOLD = {
    "gold_salary_matches": "nyc_salary_matches",
    "gold_durations": "nyc_matched_job_posting_duration_SOC",
    "gold_salary_matches_unique": "nyc_salary_matches_unique_job_posting_title",
    "gold_durations_unique": "nyc_matched_job_posting_duration_SOC_unique_title",
}


def register_pipeline(tables: dict[str, Any]) -> None:
    """Bind run_pipeline's output dict straight onto the reference's
    dataset ids (the end-to-end EP3 -> EP4 hookup)."""
    register_gold_tables(
        {PIPELINE_TO_GOLD[k]: v for k, v in tables.items() if k in PIPELINE_TO_GOLD}
    )


def list_datasets() -> list[dict]:
    """GET /reports (reference: api/main.py:33-39 ->
    fetch_data.get_reports_list:86-96): id + table name with the
    'GOLD.' prefix stripped, under the reference's ``report`` key."""
    return [
        {"id": i, "report": name.split("GOLD.")[-1]}
        for i, (name, _) in sorted(_REGISTRY.items())
    ]


def fetch_report(
    dataset_id: int,
    offset: int = 0,
    limit: int = 750_000,
    order_by: list[Column | str] | None = None,
) -> list[dict]:
    """GET /reports/{id} with pagination (reference: api/fetch_data.py:
    57-69). Params are int-cast defensively like the reference (:30-32);
    ordering defaults to every column for determinism."""
    offset, limit = int(offset), int(limit)
    if dataset_id not in _REGISTRY:
        raise KeyError(f"unknown dataset id {dataset_id}")
    _, factory = _REGISTRY[dataset_id]
    df: DataFrame = factory()
    order = order_by if order_by is not None else [F.asc(c) for c in df.columns]
    page = df.orderBy(*order).offset(offset).limit(limit)
    return [r.asDict(recursive=True) for r in page.collect()]


def fetch_single_dataset(dataset_id, offset, limit) -> list[dict]:
    """Reference-shaped fetch (api/fetch_data.py:28-43): all three params
    arrive untyped from the route and are int-cast first (a non-numeric
    value raises ValueError -> HTTP 400), an unknown id raises ValueError
    ('Invalid dataset_id' -> 400, reference :36-37), and so does a
    negative offset or limit (Spark would reject it as an analysis
    error, which the routes would answer with 500)."""
    dataset_id, offset, limit = int(dataset_id), int(offset), int(limit)
    if offset < 0 or limit < 0:
        raise ValueError(
            f"offset and limit must be non-negative, got {offset}/{limit}"
        )
    if dataset_id not in _REGISTRY:
        raise ValueError(f"Invalid dataset_id: {dataset_id}")
    return fetch_report(dataset_id, offset, limit)


# -- dashboard aggregations (streamlit/app.py) -------------------------------


def score_bounds(df: DataFrame, col: str = "match_score") -> tuple[float, float]:
    """Slider bounds: min/max of the score column (reference:
    streamlit/app.py:55-59)."""
    row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    return row["lo"], row["hi"]


def filter_score_range(df: DataFrame, lo: float, hi: float, col: str = "match_score") -> DataFrame:
    """Interactive range filter (reference: streamlit/app.py:65-73)."""
    return df.filter(F.col(col).cast("double").between(lo, hi))


def summary_metrics(df: DataFrame, col: str = "match_score") -> dict:
    """Row count + mean score over the filtered view (reference:
    streamlit/app.py:82-91), one pass."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg(F.col(col).cast("double")), 2).alias("mean")
    ).collect()[0]
    return {"rows": row["n"], "mean_score": row["mean"]}


def dashboard_view(
    df: DataFrame,
    lo: float | None = None,
    hi: float | None = None,
    col: str = "match_score",
) -> dict:
    """The Streamlit page's data contract in one call (reference:
    streamlit/app.py:42-91): slider bounds from the full dataset,
    range-filtered row count vs total, and the filtered mean formatted
    to 1 decimal like the st.metric (:89). ``lo``/``hi`` default to the
    bounds (the slider's initial value, :63).

    ONE Spark job: bounds, total, and the filtered count/mean fold into
    a single aggregate (conditional aggregation replaces the separate
    filtered pass, and an unset bound means "every non-null score" -
    exactly what filtering by the observed min/max admits)."""
    c = F.col(col).cast("double")
    cond = c.isNotNull()
    if lo is not None:
        cond = cond & (c >= lo)
    if hi is not None:
        cond = cond & (c <= hi)
    row = df.agg(
        F.min(c).alias("lo"),
        F.max(c).alias("hi"),
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(cond, 1)).alias("shown"),
        F.avg(F.when(cond, c)).alias("mean"),
    ).collect()[0]
    return {
        "bounds": (row["lo"], row["hi"]),
        "selected": (row["lo"] if lo is None else lo, row["hi"] if hi is None else hi),
        "rows_shown": row["shown"],
        "rows_total": row["total"],
        "avg_score": None if row["mean"] is None else round(float(row["mean"]), 1),
    }


def build_app():  # pragma: no cover - fastapi not installed here
    """FastAPI shim over the functions above, route-for-route with the
    reference (api/main.py:14-51): '/', '/health', '/reports',
    '/reports/{report_id}' (string path param int-cast inside the fetch;
    ValueError -> 400, empty result -> 404 'Report not found').
    Gated: raises with guidance when fastapi is unavailable."""
    try:
        from fastapi import FastAPI, HTTPException
    except ImportError as exc:
        raise NotImplementedError(
            "fastapi is not installed in this container; serve the plain "
            "functions (list_datasets/fetch_single_dataset) behind any "
            "HTTP layer"
        ) from exc

    import datetime

    app = FastAPI(title="nyc-hiring-audit-spark")

    @app.get("/", tags=["Root"])
    def read_root():
        return {
            "message": "Welcome to the NYC Jobs Audit API. Please visit "
            "'/docs' for documentation on how to use this API."
        }

    @app.get("/health", tags=["Health"])
    def read_health():
        return {
            "status": "healthy",
            "timestamp": datetime.datetime.now().isoformat(),
        }

    @app.get("/reports", tags=["Reports"])
    def reports():
        return list_datasets()

    @app.get("/reports/{report_id}", tags=["Reports"])
    def report(report_id, offset: int = 0, limit: int = 750_000):
        try:
            rows = fetch_single_dataset(report_id, offset, limit)
        except ValueError as e:
            raise HTTPException(status_code=400, detail=str(e))
        except KeyError:
            raise HTTPException(status_code=404, detail="Dataset not found")
        if not rows:
            raise HTTPException(status_code=404, detail="Report not found")
        return rows

    return app


# -- pure-stdlib HTTP server (ungated serving path) --------------------------


def build_stdlib_server(port: int = 0):
    """The same route surface as :func:`build_app` (reference
    api/main.py:14-51) over ``http.server`` - zero dependencies, so the
    serving layer RUNS in this container instead of raising. Routes:
    '/', '/health', '/reports', '/reports/{id}?offset=&limit=' with the
    reference's status mapping (bad params -> 400, unknown id/empty
    page -> 404). Returns the (unstarted) ThreadingHTTPServer; callers
    own serve_forever/shutdown. Production serving would front Spark
    with a proper ASGI stack - this is route-parity for tests and
    local use, not a scalability claim (each request triggers a Spark
    job; see dashboard_view for the one-action aggregate pattern)."""
    import datetime
    import json
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # silence per-request stderr noise
            pass

        def _send(self, code: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (http.server API name)
            url = urlparse(self.path)
            parts = [p for p in url.path.split("/") if p]
            try:
                if not parts:
                    self._send(200, {
                        "message": "Welcome to the NYC Jobs Audit API. Please "
                        "visit '/docs' for documentation on how to use this API."
                    })
                elif parts == ["health"]:
                    self._send(200, {
                        "status": "healthy",
                        "timestamp": datetime.datetime.now().isoformat(),
                    })
                elif parts == ["reports"]:
                    self._send(200, list_datasets())
                elif len(parts) == 2 and parts[0] == "reports":
                    q = parse_qs(url.query)
                    try:
                        rows = fetch_single_dataset(
                            parts[1],
                            q.get("offset", ["0"])[0],
                            q.get("limit", ["750000"])[0],
                        )
                    except ValueError as e:
                        return self._send(400, {"detail": str(e)})
                    if not rows:
                        return self._send(404, {"detail": "Report not found"})
                    self._send(200, rows)
                else:
                    self._send(404, {"detail": "Not Found"})
            except (BrokenPipeError, ConnectionResetError):
                pass  # client went away mid-write
            except Exception as e:  # noqa: BLE001 - route-parity: 500, not a dropped socket
                try:
                    self._send(500, {"detail": f"{type(e).__name__}: {e}"})
                except OSError:
                    pass

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)
