"""Driver-facing query suite.

One named query per implemented operator from SURVEY.md §2, each with a
DuckDB oracle SQL string (same parquet tables). Conventions that keep the
driver's order-insensitive value-hash comparison exact:

- every computed/aggregate column is aliased identically on both sides;
- derived doubles are rounded to 2 decimals on both sides (sum-order
  drift insurance);
- rounded float outputs that can be negative get ``+ 0`` appended on
  BOTH engines: DuckDB's ROUND keeps ``-0.0`` while Spark's (BigDecimal
  HALF_UP) normalizes it, and the driver hash distinguishes the sign of
  zero (round-3 red ``zscore_normalize``); IEEE ``-0.0 + 0.0 = +0.0``
  makes the representation canonical;
- DuckDB list/length aggregates (``list_sum``, ``len``,
  ``list_aggregate``) get an explicit CAST to the Spark-side type: the
  driver hash distinguishes int ``9`` from double ``9.0`` (round-3 red
  ``array_functions``, DuckDB ``list_sum`` returning DOUBLE vs Spark
  ``F.aggregate``'s INT);
- percentiles/medians use the discrete element (``percentile_disc`` /
  DuckDB ``quantile_disc``), never interpolation — interpolated values
  drift in the last ulp across engines;
- ``ROUND(x, N)`` itself is a hazard even on BIT-IDENTICAL doubles:
  Spark rounds the double's exact decimal expansion (BigDecimal
  HALF_UP) while DuckDB rounds via float multiply, so a value whose
  exact decimal sits on the .5 boundary (e.g. -0.021750000...x) rounds
  APART (round-4 ``dsir_importance_weights`` at sf0.1). New float
  scores should integerize and emit ``FLOOR`` of a single division
  instead — floor has no .5 boundary, so identical doubles can never
  diverge. Existing ROUND outputs are empirically exact at sf0.01 and
  sf0.1; any future red of this shape means convert that column to the
  floor-integer convention, not tweak the rounding;
- bare integer ``SUM(...)`` (also ``SUM(CASE ...)``, ``COUNT(*) * k``
  arithmetic) widens to HUGEINT/INT128 in DuckDB vs Spark's BIGINT and
  hashes apart on identical values (round-4 red ``chunk_dedup``):
  every projected integer SUM in an oracle carries
  ``CAST(... AS BIGINT)``;
- bare numeric literals in PROJECTED output (CASE branches, constant
  columns) parse as DECIMAL with engine-specific precision/scale and
  hash apart on identical values (round-4 red ``benford_digit_audit``):
  wrap in ``CAST(... AS DOUBLE)`` on BOTH engines — DECIMAL-typed
  output columns are banned outright;
- date/timestamp outputs are emitted as strings via an explicit format;
- the Spark callable pins the session timezone to UTC (the oracle's
  timestamps are naive-UTC).

``tests/test_oracle_parity.py`` enforces all of the above empirically:
its ``_canon`` preserves float identity (``repr``, so ``9.0 != 9``) and
the sign of zero, and its dtype gate compares DuckDB ``DESCRIBE`` types
against the Spark schema per column, rejecting DECIMAL/HUGEINT output
entirely - matching the driver hasher's strictness at the TYPE level,
which value-level comparison cannot see (DuckDB hands HUGEINT back as
Python int and DECIMAL as decimal.Decimal, both str()-identical to the
Spark value).

Each callable takes (spark, sf_dir) and returns a lazy DataFrame.

Caching contract: some queries ``persist()`` a multi-consumer
intermediate (e.g. the token/span relations in the dedup family) and do
NOT unpersist it - the returned DataFrame is lazy, so the query cannot
know when its consumer is done. Any long-lived harness that runs many
queries in one session MUST call ``spark.catalog.clearCache()`` between
queries (bench.py and tests/test_oracle_parity.py both do); skipping it
accumulates leaked storage blocks until GC thrash (a leaked persist
once inflated a 5 s scale-probe reading to 79 s, SCALING.md).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_government_hiring_audit_data_platform_spark.functions.dates import (
    impute_post_until,
    parse_post_until,
)
from nyc_government_hiring_audit_data_platform_spark.functions.similarity import (
    levenshtein_similarity,
)
from nyc_government_hiring_audit_data_platform_spark.functions.text import (
    normalize_text,
    normalize_text_sql,
    tokens,
)
from nyc_government_hiring_audit_data_platform_spark.operators import relational as R

# ---------------------------------------------------------------------------
# plumbing
# ---------------------------------------------------------------------------


def set_conf_if_differs(spark: SparkSession, key: str, value: str) -> None:
    """Set a runtime conf only when it actually differs - avoids both
    redundant Py4J round-trips and needless session churn."""
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != value:
        spark.conf.set(key, value)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType, dispatching on the dtype
    Spark actually read - never assume the testdata's physical type:

    - LongType: legacy TIMESTAMP(NANOS) read under ``nanosAsLong`` ->
      integer floor division to micros (deterministic truncation);
    - TimestampNTZType: TIMESTAMP(MICROS, isAdjustedToUTC=false) read
      natively -> cast to TimestampType (wall-clock-preserving under the
      UTC session timezone pinned by ``table()``);
    - TimestampType: already what we want.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table; pin UTC for oracle parity.

    ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) (readable
    only as long nanos via the legacy conf) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (read natively as TIMESTAMP_NTZ);
    ``normalize_event_ts`` dispatches on the observed dtype so either
    vintage of testdata works.

    NOTE: this helper MUTATES the caller's session conf (timezone,
    nanosAsLong, and - local-mode only - whole-stage codegen): the
    driver harness runs queries in its own SparkSession, so these have
    to be runtime confs, not builder confs. The mutation persists for
    the session; confs are only written when they differ, and cluster
    callers (non-local master) never get the codegen override.
    """
    set_conf_if_differs(spark, "spark.sql.session.timeZone", "UTC")
    set_conf_if_differs(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    # Codegen default flipped in round 3 (2x faster, stable here);
    # SPARK_GRAFT_CODEGEN=0 restores the interpreted-eval mitigation
    # for local-mode hosts whose C2 JIT chokes on generated classes
    # (round-1/2 pathology; see session.py).
    if (
        os.environ.get("SPARK_GRAFT_CODEGEN", "1") == "0"
        and spark.conf.get("spark.master", "local").startswith("local")
    ):
        set_conf_if_differs(spark, "spark.sql.codegen.wholeStage", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


# Observed scan width per (application, parquet dir). Planning metadata,
# NOT query results: the split count of an immutable parquet directory
# cannot change within a session, while observing it costs a fresh
# plan->RDD conversion (~50-170 ms) that must not be re-paid inside
# every timed query build.
_SCAN_WIDTH: dict[tuple[str, str], int] = {}


def scan_width(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Number of partitions the scan of ``sf_dir/name`` plans as."""
    key = (spark.sparkContext.applicationId, f"{sf_dir}/{name}.parquet")
    w = _SCAN_WIDTH.get(key)
    if w is None:
        w = table(spark, sf_dir, name).rdd.getNumPartitions()
        _SCAN_WIDTH[key] = w
    return w


def fan_out(df: DataFrame, width: int | None = None) -> DataFrame:
    """Input-edge fan-out, gated on observed scan parallelism.

    The local sf fixtures scan as ONE split (a single parquet row group
    is not splittable, so ``spark.sql.files.minPartitionNum`` cannot
    help), leaving every pre-shuffle map pass serial; the only remedy is
    an explicit round-robin spread of the edge. But that spread must
    never reach a production scan: ``repartition(n)`` plans as
    REPARTITION_BY_NUM, which is EXEMPT from AQE partition coalescing,
    so an unconditional call would force a full payload shuffle of the
    corpus on every query edge - and a scan already wider than
    ``defaultParallelism`` would be COALESCED DOWN, reducing
    parallelism. Hence the gate: spread only when the observed input
    width is below ``defaultParallelism``.

    ``width`` is the caller's observation of ``df``'s partition count -
    pass ``scan_width(...)`` when ``df`` is a projection/filter of one
    base table (narrow ops preserve the scan's partitioning, and the
    memoized lookup is free); leave ``None`` to observe ``df`` directly
    (one plan->RDD conversion, fine off the per-query hot path).

    Every caller's result is partitioning-independent (established
    per-site when the unconditional spreads landed in r8/r13), so the
    gate changes plans, never rows.
    """
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if width is None:
        width = df.rdd.getNumPartitions()
    return df.repartition(par) if width < par else df


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and its oracle) under ``name``."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# §2.1/2.2 scans, projections, filters, predicates
# ---------------------------------------------------------------------------


@query(
    "scan_project",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
    FROM lineitem
    """,
)
def q_scan_project(spark, sf_dir):
    """S5/P1: pruned parquet scan - Catalyst pushes the 4-column
    projection into the scan (ReadSchema shows only these columns)."""
    li = table(spark, sf_dir, "lineitem")
    return R.project(li, ["l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"])


@query(
    "cast_between",
    """
    SELECT o_orderkey, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           o_totalprice
    FROM orders
    WHERE CAST(EXTRACT(year FROM o_orderdate) AS INT) BETWEEN 1996 AND 1998
    """,
)
def q_cast_between(spark, sf_dir):
    """P3+P4: cast + BETWEEN range predicate - the fiscal-year filter
    (reference: src/fuzzy_match_salary.py:68-71)."""
    o = table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return R.filter_between(o, "order_year", 1996, 1998).select(
        "o_orderkey", "order_year", "o_totalprice"
    )


@query(
    "json_extract_notnull",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
      AND CAST(json_extract_string(props, '$.k') AS INT) > 50
    """,
)
def q_json_extract_notnull(spark, sf_dir):
    """P5 + JSON scalar: parse-or-null then NOT NULL filter (the
    reference drops unparseable posting_dates the same way,
    src/fuzzy_match_salary.py:78)."""
    ev = table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return R.filter_not_null(ev, "k").filter(F.col("k") > 50).select("event_id", "k")


@query(
    "band_theta_join",
    """
    SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
    FROM customer, supplier
    WHERE c_acctbal >= s_acctbal - 100 AND c_acctbal <= s_acctbal + 100
    """,
)
def q_band_theta_join(spark, sf_dir):
    """P7/J3: interval-containment theta join - the salary-band predicate
    (reference: src/fuzzy_match_salary.py:144-154). Physical plan:
    BroadcastNestedLoopJoin with the 100-row side broadcast."""
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    joined = c.join(
        F.broadcast(s),
        (F.col("c_acctbal") >= F.col("s_acctbal") - 100)
        & (F.col("c_acctbal") <= F.col("s_acctbal") + 100),
    )
    return joined.select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal")


@query(
    "rename_project",
    """
    SELECT o_orderkey AS order_id, o_orderstatus AS status,
           o_totalprice AS total_price, o_orderpriority AS priority
    FROM orders
    """,
)
def q_rename_project(spark, sf_dir):
    """P8: pure rename projection (reference: sql/cleaned.sql:3-13)."""
    return R.rename_project(
        table(spark, sf_dir, "orders"),
        {
            "o_orderkey": "order_id",
            "o_orderstatus": "status",
            "o_totalprice": "total_price",
            "o_orderpriority": "priority",
        },
    )


@query(
    "pagination",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    OFFSET 100 LIMIT 50
    """,
)
def q_pagination(spark, sf_dir):
    """P10/O5: OFFSET/LIMIT pagination with a deterministic sort
    (reference: api/fetch_data.py:57-63; tiebreaker added per
    SURVEY.md §7.3)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return R.paginate(o, [F.desc("o_totalprice"), F.asc("o_orderkey")], 100, 50)


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@query(
    "groupby_max",
    """
    SELECT l_returnflag,
           MAX(l_linestatus) AS max_status,
           MAX(l_extendedprice) AS max_price,
           MAX(l_quantity) AS max_qty,
           MAX(l_discount) AS max_discount,
           MAX(CAST(EXTRACT(year FROM l_shipdate) AS INT)) AS max_ship_year
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_groupby_max(spark, sf_dir):
    """A1: group-by with MAX over strings (lexicographic), doubles and a
    computed expression - the GOLD dedup (reference: sql/cleaned.sql:28-42)."""
    li = table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    return R.group_by_max(
        li,
        ["l_returnflag"],
        {
            "l_linestatus": "max_status",
            "l_extendedprice": "max_price",
            "l_quantity": "max_qty",
            "l_discount": "max_discount",
            "ship_year": "max_ship_year",
        },
    )


@query(
    "distinct_rows",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct(spark, sf_dir):
    """A2: multi-column DISTINCT (reference: sql/cleaned.sql:44-51)."""
    return R.distinct_rows(table(spark, sf_dir, "customer"), ["c_mktsegment", "c_nationkey"])


@query(
    "summary_stats",
    """
    SELECT ROUND(AVG(o_totalprice), 2) AS avg_o_totalprice,
           MIN(o_totalprice) AS min_o_totalprice,
           MAX(o_totalprice) AS max_o_totalprice,
           COUNT(*) AS n_rows
    FROM orders
    """,
)
def q_summary_stats(spark, sf_dir):
    """A3-A5: the dashboard's mean/min/max/count summary
    (reference: streamlit/app.py:55-91)."""
    return R.summary_stats(table(spark, sf_dir, "orders"), "o_totalprice")


@query(
    "count_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_count_distinct(spark, sf_dir):
    """Distinct aggregate (engine-library extension beyond the reference,
    SURVEY.md §2.4 note)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """ROLLUP grouping sets (engine extension; native in Spark)."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    """CUBE grouping sets (engine extension; native in Spark)."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))
    )


@query(
    "pivot_agg",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
           ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
           ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
           ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 2) AS error
    FROM events GROUP BY 1
    """,
)
def q_pivot(spark, sf_dir):
    """PIVOT (engine extension; Spark-native .pivot, oracle via
    conditional aggregation)."""
    ev = table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    piv = (
        ev.groupBy("day")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.round(F.sum("value"), 2))
    )
    return piv


# ---------------------------------------------------------------------------
# §2.5/2.6 windows, sorts, top-K
# ---------------------------------------------------------------------------


@query(
    "record_id",
    """
    SELECT o_orderkey,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS _record_id
    FROM orders
    """,
)
def q_record_id(spark, sf_dir):
    """W1: synthetic record id (reference: src/utils.py:183), made
    deterministic with an explicit ordering."""
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    return R.with_record_id(o, [F.asc("o_orderkey")])


@query(
    "topn_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
)
def q_topn_per_group(spark, sf_dir):
    """W2/O4: per-key top-N by score with deterministic tiebreaker
    (reference: src/utils.py:141-157). Spark plans this as
    WindowGroupLimit (partial top-K before the shuffle)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return R.top_n_per_group(
        o,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        2,
        rank_col="rn",
        keep_rank=True,
    )


@query(
    "global_sort_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q_global_sort_topk(spark, sf_dir):
    """O1-O3: global sort desc + LIMIT -> Spark TakeOrderedAndProject
    (no full sort materialized)."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def q_window_running_sum(spark, sf_dir):
    """Window frame spec (engine extension; rowsBetween)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .withColumn("running_total", F.round(F.sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "running_total")
    )


@query(
    "lead_lag_gap",
    """
    SELECT user_id, event_id,
           date_diff('second',
                     date_trunc('second', LAG(ts) OVER (PARTITION BY user_id
                                                        ORDER BY ts, event_id)),
                     date_trunc('second', ts)) AS gap_s
    FROM events
    """,
)
def q_lead_lag_gap(spark, sf_dir):
    """lag() inter-event gap (engine extension; basis for sessionization)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_s"),
    )


@query(
    "sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN date_diff('second',
                    date_trunc('second', LAG(ts) OVER (PARTITION BY user_id
                                                       ORDER BY ts, event_id)),
                    date_trunc('second', ts)) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    )
    SELECT user_id,
           CAST(SUM(is_new) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def q_sessionize(spark, sf_dir):
    """Sessionization via lag-gap + cumulative flag (batch analogue of the
    streaming session_window; engine extension)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 joins (equi/semi/anti/outer come free with Spark; fuzzy below)
# ---------------------------------------------------------------------------


@query(
    "equi_join_agg",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, order_date
    ORDER BY revenue DESC, o_orderkey LIMIT 20
    """,
)
def q_equi_join_agg(spark, sf_dir):
    """Flagship: 3-way equi-join + agg + top-K (TPC-H Q3 shape).
    The filtered customer side carries NO static broadcast hint: it
    scales with the data (1/5 of customers), so AQE picks broadcast
    from the observed runtime size - broadcast at bench scale, shuffle
    join when customers outgrow the threshold. lineitem-orders is the
    shuffle join either way."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "o_orderkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("order_date"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "semi_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def q_semi_join(spark, sf_dir):
    """LEFT SEMI join (EXISTS)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_anti_join(spark, sf_dir):
    """LEFT ANTI join (NOT EXISTS)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "outer_join_agg",
    """
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def q_outer_join_agg(spark, sf_dir):
    """LEFT OUTER join + agg with null-group handling."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@query(
    "intersect_keys",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_intersect(spark, sf_dir):
    """INTERSECT set op (engine extension)."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@query(
    "except_keys",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except(spark, sf_dir):
    """EXCEPT set op (engine extension). ``subtract`` is Spark's
    EXCEPT-DISTINCT, matching SQL EXCEPT."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.subtract(b)


@query(
    "union_all",
    """
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 450000
    """,
)
def q_union_all(spark, sf_dir):
    """U1: same-schema vertical concat, duplicates preserved
    (reference: src/utils.py:73)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    a = o.filter(F.col("o_orderstatus") == "P")
    b = o.filter(F.col("o_totalprice") > 450000)
    return R.union_all([a, b]).select("o_orderkey", "o_orderstatus")


# ---------------------------------------------------------------------------
# §2.8 scalar function chains (text + dates)
# ---------------------------------------------------------------------------


@query(
    "normalize_text",
    f"""
    SELECT c_custkey,
           {normalize_text_sql("concat('  ', c_name, '!! ', c_mktsegment)")} AS norm
    FROM customer
    """,
)
def q_normalize_text(spark, sf_dir):
    """F1: the reference's normalize_title as a pure expression chain
    (reference: src/utils.py:20-29) - lowercase, strip punctuation,
    collapse whitespace, trim."""
    c = table(spark, sf_dir, "customer")
    messy = F.concat(F.lit("  "), F.col("c_name"), F.lit("!! "), F.col("c_mktsegment"))
    return c.select("c_custkey", normalize_text(messy).alias("norm"))


@query(
    "date_functions",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_str,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ts_hour,
           CAST(EXTRACT(year FROM ts) AS INT) AS y,
           CAST(EXTRACT(month FROM ts) AS INT) AS m,
           strftime(CAST(ts AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
    FROM events
    """,
)
def q_date_functions(spark, sf_dir):
    """F2/F3/F8: timestamp parse/format/truncate/extract/day-arithmetic."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_str"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_hour"),
        F.year("ts").cast("int").alias("y"),
        F.month("ts").cast("int").alias("m"),
        F.date_format(F.date_add(F.to_date("ts"), 30), "yyyy-MM-dd").alias("plus30"),
    )


@query(
    "date_impute_duration",
    """
    WITH src AS (
      SELECT event_id,
             strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') AS posting_date,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE upper(strftime(CAST(ts AS DATE) + INTERVAL 45 DAY, '%d-%b-%Y'))
             END AS post_until
      FROM events
    )
    SELECT event_id,
           coalesce(post_until,
                    upper(strftime(CAST(strptime(posting_date, '%Y-%m-%dT%H:%M:%S.%g')
                                        AS DATE) + INTERVAL 30 DAY, '%d-%b-%Y')))
             AS post_until_imputed,
           CAST(date_diff('day',
                 CAST(strptime(posting_date, '%Y-%m-%dT%H:%M:%S.%g') AS DATE),
                 CAST(strptime(coalesce(post_until,
                      upper(strftime(CAST(strptime(posting_date, '%Y-%m-%dT%H:%M:%S.%g')
                                          AS DATE) + INTERVAL 30 DAY, '%d-%b-%Y'))),
                      '%d-%b-%Y') AS DATE)) AS INT) AS posting_duration_days
    FROM src
    """,
)
def q_date_impute_duration(spark, sf_dir):
    """F4/F5/F6 end-to-end: build the reference's posting_date /
    post_until string columns from events, null some post_until values,
    impute +30 days (reference: src/utils.py:118-138), parse the
    uppercased %d-%b-%Y form back, and compute posting_duration_days
    (reference: sql/cleaned.sql:10)."""
    # date parse/format chains off a 1-file scan: gated fan-out (r14)
    ev = fan_out(
        table(spark, sf_dir, "events").select("event_id", "ts", "event_type"),
        scan_width(spark, sf_dir, "events"),
    )
    src = ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS").alias("posting_date"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .otherwise(F.upper(F.date_format(F.date_add(F.to_date("ts"), 45), "dd-MMM-yyyy")))
        .alias("post_until"),
    )
    imputed = src.withColumn(
        "post_until_imputed", impute_post_until("post_until", "posting_date")
    )
    return imputed.select(
        "event_id",
        "post_until_imputed",
        F.datediff(
            parse_post_until("post_until_imputed"),
            F.to_date(F.to_timestamp("posting_date", "yyyy-MM-dd'T'HH:mm:ss[.SSS]")),
        )
        .cast("int")
        .alias("posting_duration_days"),
    )


# ---------------------------------------------------------------------------
# §2.3 similarity joins (oracle-checkable levenshtein family)
# ---------------------------------------------------------------------------

_LEV_SIM_SQL = (
    "CASE WHEN greatest(length({a}), length({b})) = 0 THEN 100.0 "
    "ELSE 100.0 * (1.0 - levenshtein({a}, {b}) / greatest(length({a}), length({b}))) END"
)


@query(
    "similarity_join",
    f"""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           ROUND({_LEV_SIM_SQL.format(a="a.p_name", b="b.p_name")}, 2) AS sim
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE {_LEV_SIM_SQL.format(a="a.p_name", b="b.p_name")} >= 60
    """,
)
def q_similarity_join(spark, sf_dir):
    """J1/J2 oracle-checkable analogue: dedupe-then-match similarity join
    on the levenshtein ratio (exists in both Spark and DuckDB).

    Distinct-first mirrors the scale design: match unique titles, not
    raw rows - the reference compares raw rows (src/fuzzy_match_salary.py
    :112-129), which is O(N*M) on duplicates for nothing.
    """
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.alias("a")
    b = names.alias("b")
    sim = levenshtein_similarity(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(F.broadcast(b), F.col("a.p_name") < F.col("b.p_name"))
        .filter(sim >= 60)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.round(sim, 2).alias("sim"),
        )
    )


@query(
    "similarity_join_blocked",
    f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    tok AS (SELECT p_name, unnest(string_split(p_name, ' ')) AS t FROM names),
    pairs AS (
      SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
      FROM tok a JOIN tok b ON a.t = b.t AND a.p_name < b.p_name
    )
    SELECT name_a, name_b,
           ROUND({_LEV_SIM_SQL.format(a="name_a", b="name_b")}, 2) AS sim
    FROM pairs
    WHERE {_LEV_SIM_SQL.format(a="name_a", b="name_b")} >= 50
    """,
)
def q_similarity_join_blocked(spark, sf_dir):
    """J1 scale path: token-blocking similarity join - explode normalized
    tokens, equi-join on token, dedupe pairs, then score only candidates.

    This is the 100 TB design (SURVEY.md §7.3): candidate generation is
    an equi-join (shuffle on token, AQE handles skewed tokens), never a
    dense N x M matrix. The oracle replicates the blocking semantics
    exactly, so results match at every scale factor.
    """
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    tok = names.select("p_name", F.explode(tokens(F.col("p_name"))).alias("t"))
    a = tok.alias("a")
    b = tok.alias("b")
    pairs = (
        a.join(b, (F.col("a.t") == F.col("b.t")) & (F.col("a.p_name") < F.col("b.p_name")))
        .select(F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b"))
        .distinct()
    )
    sim = levenshtein_similarity(F.col("name_a"), F.col("name_b"))
    return pairs.filter(sim >= 50).select(
        "name_a", "name_b", F.round(sim, 2).alias("sim")
    )


@query(
    "similarity_topn_per_key",
    f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    scored AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             ROUND({_LEV_SIM_SQL.format(a="a.p_name", b="b.p_name")}, 2) AS sim
      FROM names a JOIN names b ON a.p_name <> b.p_name
      WHERE {_LEV_SIM_SQL.format(a="a.p_name", b="b.p_name")} >= 40
    )
    SELECT * FROM (
      SELECT name_a, name_b, sim,
             ROW_NUMBER() OVER (PARTITION BY name_a
                                ORDER BY sim DESC, name_b) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def q_similarity_topn_per_key(spark, sf_dir):
    """J5/J6 + W2: similarity join with per-key ordered top-N expansion
    (reference: src/utils.py:141-157, src/fuzzy_match_jobs_durations.py
    :79-99) - window rank with deterministic tiebreaker."""
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.alias("a")
    b = names.alias("b")
    sim = levenshtein_similarity(F.col("a.p_name"), F.col("b.p_name"))
    scored = (
        a.join(F.broadcast(b), F.col("a.p_name") != F.col("b.p_name"))
        .filter(sim >= 40)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.round(sim, 2).alias("sim"),
        )
    )
    return R.top_n_per_group(
        scored,
        ["name_a"],
        [F.desc("sim"), F.asc("name_b")],
        3,
        rank_col="rn",
        keep_rank=True,
    )


# ---------------------------------------------------------------------------
# streaming-as-batch (§2.9 - batch equivalents; streaming module covers
# the readStream path)
# ---------------------------------------------------------------------------


@query(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the streaming windowed
    agg; the streaming module runs the same plan via readStream)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@query(
    "hourly_spine_zerofill",
    """
    WITH ev AS (
      SELECT date_trunc('hour', ts) AS h FROM events WHERE event_type = 'purchase'
    ),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
    counts AS (SELECT h, COUNT(*) AS n FROM ev GROUP BY h)
    SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(c.n, 0) AS n_purchases
    FROM spine s LEFT JOIN counts c USING (h)
    """,
)
def q_hourly_spine_zerofill(spark, sf_dir):
    """Time-series resample with zero-fill: a groupBy window agg only
    emits NON-EMPTY buckets, so gap-free series need a generated hour
    spine (sequence off the 1-row min/max agg, exploded) left-joined to
    the counts. The spine is O(hours) regardless of data size - it
    broadcasts; the event side aggregates with one partial-agg shuffle."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(F.date_trunc("hour", "ts").alias("h"))
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    counts = ev.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    return F.broadcast(spine).join(counts, "h", "left").select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce("n", F.lit(0)).alias("n_purchases"),
    )


@query(
    "impute_group_mean",
    """
    WITH base AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    stats AS (SELECT event_type, AVG(v) AS mu FROM base GROUP BY event_type)
    SELECT b.event_id, b.event_type,
           ROUND(COALESCE(b.v, s.mu), 3) AS v_imputed,
           CASE WHEN b.v IS NULL THEN 1 ELSE 0 END AS was_imputed
    FROM base b JOIN stats s USING (event_type)
    """,
)
def q_impute_group_mean(spark, sf_dir):
    """Null repair by group mean (fillna-by-group): per-group means from
    the non-null rows (AVG skips nulls in both engines), broadcast back
    onto the facts, coalesce fills the holes. 1-in-13 values are nulled
    deterministically since the synthetic events have no natural nulls.
    Same broadcast join-back shape as zscore_normalize - the fact side
    never shuffles."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    stats = ev.groupBy("event_type").agg(F.avg("v").alias("mu"))
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round(F.coalesce("v", "mu"), 3).alias("v_imputed"),
        F.when(F.col("v").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("was_imputed"),
    )


# ---------------------------------------------------------------------------
# training-data-pipeline suite (dedup / similarity search / text analysis)
# registers additional queries into the same QUERIES/ORACLE registry
# ---------------------------------------------------------------------------

from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_datapipe as _datapipe,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_datapipe2 as _datapipe2,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_domain as _domain,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_extended as _extended,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_curation as _curation,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_sequence as _sequence,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_audit as _audit,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_quality as _quality,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_incremental as _incremental,
)
from nyc_government_hiring_audit_data_platform_spark import (  # noqa: E402,F401
    driver_queries_ingest as _ingest,
)
