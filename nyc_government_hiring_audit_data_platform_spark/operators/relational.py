"""Relational operator library - thin, typed wrappers over DataFrame ops
for every relational operator in SURVEY.md §2.2/2.4-2.7.

Each wrapper is declarative (builds a lazy plan for Catalyst); nothing
here collects, loops rows, or touches the driver. The wrappers exist so
the domain pipelines and the driver-facing ``queries()`` share one
implementation per operator.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# -- projections / filters (P1-P10) -----------------------------------------


def project(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """Column projection - Catalyst pushes it into the parquet scan (P1/P2,
    reference: src/fuzzy_match_salary.py:40-55)."""
    return df.select(*cols)


def rename_project(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """``SELECT old AS new, ...`` (P8, reference: sql/cleaned.sql:3-13)."""
    return df.select(*[F.col(old).alias(new) for old, new in mapping.items()])


def filter_between(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """Range predicate (P4, reference: src/fuzzy_match_salary.py:71)."""
    return df.filter(F.col(col).between(lo, hi))


def filter_not_null(df: DataFrame, col: str) -> DataFrame:
    """P5 - drop rows whose parse failed (reference:
    src/fuzzy_match_salary.py:78)."""
    return df.filter(F.col(col).isNotNull())


def paginate(df: DataFrame, order_by: list[Column | str], offset: int, limit: int) -> DataFrame:
    """OFFSET/LIMIT pagination (P10/O5, reference: api/fetch_data.py:57-63).

    Always paired with an explicit sort - unordered OFFSET/LIMIT is
    nondeterministic in any engine (SURVEY.md §7.3)."""
    return df.orderBy(*order_by).offset(offset).limit(limit)


# -- aggregations (A1-A6) ----------------------------------------------------


def group_by_max(df: DataFrame, keys: list[str], max_cols: Mapping[str, str]) -> DataFrame:
    """Hash group-by with MAX per non-key column - the reference's
    "one row per posted title" dedup (A1, reference: sql/cleaned.sql:28-42).
    MAX over strings is lexicographic in both Spark and DuckDB."""
    aggs = [F.max(src).alias(alias) for src, alias in max_cols.items()]
    return df.groupBy(*keys).agg(*aggs)


def distinct_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Multi-column DISTINCT (A2, reference: sql/cleaned.sql:44-51)."""
    return (df.select(*cols) if cols else df).distinct()


def summary_stats(df: DataFrame, col: str) -> DataFrame:
    """avg/min/max/count summary (A3-A5, reference: streamlit/app.py:55-91)."""
    return df.agg(
        F.round(F.avg(col), 2).alias("avg_" + col),
        F.min(col).alias("min_" + col),
        F.max(col).alias("max_" + col),
        F.count(F.lit(1)).alias("n_rows"),
    )


# -- windows (W1-W2) ---------------------------------------------------------


def with_record_id(df: DataFrame, order_by: list[Column | str] | None = None) -> DataFrame:
    """Synthetic 1-based ``_record_id`` (W1, reference: src/utils.py:183).

    The reference's ``ROW_NUMBER() OVER ()`` is arbitrary-order; for
    deterministic tests pass an explicit ordering. A single unpartitioned
    window serializes - fine for per-file BRONZE stamping (bounded files),
    replaced by ``monotonically_increasing_id`` for bulk data.
    """
    if order_by is None:
        return df.withColumn("_record_id", F.monotonically_increasing_id() + 1)
    w = Window.orderBy(*order_by)
    return df.withColumn("_record_id", F.row_number().over(w).cast("long"))


def top_n_per_group(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    n: int,
    rank_col: str = "_rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Per-group top-N (W2, reference: src/utils.py:141-157).

    ``order_by`` must include a deterministic tiebreaker - Python's
    ``sorted`` is stable on input order, Spark is not (SURVEY.md §7.3).
    Spark rewrites this rank<=k pattern into WindowGroupLimit (partial
    per-partition top-k before the shuffle), so it scales.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= n)
    return out if keep_rank else out.drop(rank_col)


# -- set ops (U1) ------------------------------------------------------------


def union_all(dfs: list[DataFrame]) -> DataFrame:
    """Same-schema vertical concat (U1, reference: src/utils.py:73)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# -- lineage stamping (S9) ---------------------------------------------------


def with_lineage(df: DataFrame, source_file: str) -> DataFrame:
    """BRONZE lineage columns (S9, reference: src/utils.py:177-185):
    ``_source_file`` literal, ``_ingestion_timestamp``, ``_record_id``."""
    return (
        df.withColumn("_source_file", F.lit(source_file))
        .withColumn("_ingestion_timestamp", F.current_timestamp())
        .transform(with_record_id)
    )


# -- merge / upsert ----------------------------------------------------------


def merge_upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """SCD-Type-1 merge: rows from ``updates`` replace same-key rows in
    ``base``; unmatched base rows pass through; unmatched update rows
    insert. Spark's batch analogue of MERGE INTO (which needs a
    transactional table format - Delta/Iceberg - for in-place commit;
    this produces the merged dataset for an overwrite/CTAS). The
    anti-join and union shuffle once on the key; with both sides
    bucketed by the key (operators.bucketing) it is shuffle-free."""
    survivors = base.join(updates.select(*keys), keys, "left_anti")
    return survivors.unionByName(updates)


# -- pipeline observability (A6) ---------------------------------------------


def with_observed_metrics(df: DataFrame, name: str, count_col: Column | str | None = None):
    """A6 (reference: src/data_ingestion.py:31 accumulates
    ``total_records`` driver-side during ingestion): the Spark-idiomatic
    form is ``df.observe`` - named metrics computed DURING the action
    that materializes the plan, no second pass, no driver loop. Read
    them back via ``Observation`` (batch) or the streaming progress
    events; works identically on a cluster because the metrics
    aggregate on the executors."""
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if count_col is not None:
        c = F.col(count_col) if isinstance(count_col, str) else count_col
        metrics.append(F.count(c).alias("n_nonnull"))
        metrics.append(F.round(F.sum(c), 2).alias("total"))
    return df.observe(obs, *metrics), obs


# -- interval overlap join ---------------------------------------------------


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    bucket_seconds: int = 3600,
    l_start: str = "l_start",
    l_end: str = "l_end",
    r_start: str = "r_start",
    r_end: str = "r_end",
) -> DataFrame:
    """Temporal interval-overlap join: every (left, right) pair whose
    [start, end) intervals intersect (half-open: touching endpoints do
    NOT overlap).

    Scale path: each interval explodes into the ``bucket_seconds`` grid
    cells it covers, candidates come from an EQUI-join on cell, pairs
    dedup, and the exact overlap predicate verifies - the same
    block-then-verify shape as the fuzzy/LSH joins, turning the naive
    quadratic theta join into a shuffle keyed by time cell (cells per
    interval = duration / bucket; pick the bucket near the typical
    interval length). AQE splits hot cells.

    Cells are computed from raw MICROSECONDS (integer ``div``, never a
    truncating second cast), so sub-second intervals that straddle a
    bucket boundary still land in every cell they touch. Degenerate
    empty intervals (start >= end) are dropped up front: an empty
    interval contains no instant, so it overlaps nothing - without the
    guard the verify predicate would admit them against any interval
    that strictly contains the degenerate point.
    """
    # round, don't truncate: bucket_seconds=0.5 is a legal sub-second
    # grid (int() would yield 0 micros -> div-by-zero NULL cells -> a
    # silently empty join)
    bucket_micros = int(round(bucket_seconds * 1_000_000))
    if bucket_micros <= 0:
        raise ValueError(f"bucket_seconds={bucket_seconds!r}: grid must be >= 1 microsecond")

    def cells(start_col: str, end_col: str):
        lo = F.expr(f"unix_micros({start_col}) div {bucket_micros}")
        # half-open: an interval ending exactly on a cell boundary does
        # not cover that cell, hence end-1 microsecond
        hi = F.expr(f"(unix_micros({end_col}) - 1) div {bucket_micros}")
        return F.sequence(lo, hi)

    le = left.filter(F.col(l_start) < F.col(l_end)).select(
        *left_keys, l_start, l_end, F.explode(cells(l_start, l_end)).alias("_cell")
    )
    re_ = right.filter(F.col(r_start) < F.col(r_end)).select(
        *right_keys, r_start, r_end, F.explode(cells(r_start, r_end)).alias("_cell")
    )
    cand = le.join(re_, "_cell").drop("_cell").distinct()
    overlap = (F.col(l_start) < F.col(r_end)) & (F.col(r_start) < F.col(l_end))
    return cand.filter(overlap)


def grid_split_self_join_sides(
    rel: DataFrame,
    key_cols: list[str],
    id_col: str,
    split_buckets: int,
    split_threshold: int,
) -> tuple[DataFrame, DataFrame]:
    """Lossless hot-bucket parallelization for a SELF-join on
    ``key_cols`` (Okcan & Riedewald's matrix partitioning for theta
    joins, SIGMOD 2011, re-expressed relationally; SCALING.md r9):
    buckets whose occupancy exceeds ``split_threshold`` (one agg,
    broadcast back) assign each member a group g = hash(id) % G; the
    returned side ``a`` carries (p = g, q = explode(0..G-1)), side
    ``b`` the transpose, and the caller adds ``a.p == b.p AND a.q ==
    b.q`` to its join - pair (x, y) then matches at exactly the one
    grid cell (g(x), g(y)) and the usual ``a.id < b.id`` keeps one
    orientation, so output is BIT-IDENTICAL while a hot bucket's
    quadratic enumeration runs in G^2 cells instead of one task (which
    is not merely a straggler: at 10k-member cliques the single task's
    partial-aggregate is a measured MEMORY CLIFF). Cold buckets ride a
    single (0, 0) cell with no replication; hot-bucket rows replicate
    G times per side. Returned sides are aliased "a" and "b"."""
    reserved = {"p", "q", "_hot", "_occ"} & set(rel.columns)
    if reserved:
        raise ValueError(
            f"grid_split_self_join_sides reserves columns {sorted(reserved)}; "
            "rename them on the input relation first"
        )
    G = split_buckets
    hot = (
        rel.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") > split_threshold)
        .select(*key_cols, F.lit(True).alias("_hot"))
    )
    marked = rel.join(F.broadcast(hot), key_cols, "left")
    grp = F.pmod(F.hash(id_col), F.lit(G))
    gs = F.sequence(F.lit(0), F.lit(G - 1))
    one = F.array(F.lit(0))
    base_cols = rel.columns
    a = marked.select(
        *base_cols,
        F.when(F.col("_hot"), grp).otherwise(F.lit(0)).alias("p"),
        F.explode(F.when(F.col("_hot"), gs).otherwise(one)).alias("q"),
    ).alias("a")
    b = marked.select(
        *base_cols,
        F.explode(F.when(F.col("_hot"), gs).otherwise(one)).alias("p"),
        F.when(F.col("_hot"), grp).otherwise(F.lit(0)).alias("q"),
    ).alias("b")
    return a, b
