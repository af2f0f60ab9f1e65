"""End-to-end domain pipeline with the reference's semantics.

EP1 ingestion shape -> BRONZE lineage stamping -> EP2 two fuzzy-match
flows -> EP3 four GOLD tables (reference: src/data_ingestion.py,
src/fuzzy_match_salary.py, src/fuzzy_match_jobs_durations.py,
sql/cleaned.sql). Everything is one lazy DataFrame plan per output; the
reference's chunking/batching/spill machinery disappears into Spark's
partitioning (SURVEY.md §4).

The deterministic fixtures below mirror FIXTURES.md (schemas + edge
cases); they stand in for the Socrata API / XLSX inputs which are not
reachable in this environment.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_government_hiring_audit_data_platform_spark import lease as LS
from nyc_government_hiring_audit_data_platform_spark.functions.dates import (
    format_posting_ts,
    impute_post_until,
    parse_posting_ts,
    posting_duration_days,
)
from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
from nyc_government_hiring_audit_data_platform_spark.operators import incremental as IVM
from nyc_government_hiring_audit_data_platform_spark.operators import relational as R
from nyc_government_hiring_audit_data_platform_spark.pipelines import versioned as VB
from nyc_government_hiring_audit_data_platform_spark.plans import inspect as PI

# ---------------------------------------------------------------------------
# fixtures (FIXTURES.md §1-3)
# ---------------------------------------------------------------------------

_TITLE_STEMS = [
    "accountant", "administrative assistant", "agency attorney", "analyst",
    "assistant commissioner", "asst deputy acco", "budget analyst",
    "city planner", "civil engineer", "community coordinator",
    "computer specialist software", "correction officer", "deputy director",
    "director of operations", "electrical engineer", "emergency medical specialist",
    "environmental scientist", "executive agency counsel", "firefighter",
    "health inspector", "hr specialist", "investigator", "legal coordinator",
    "maintenance worker", "mechanical engineer", "nurse practitioner",
    "paralegal aide", "police officer", "project manager construction",
    "public health adviser", "registered nurse", "sanitation worker",
    "senior data scientist", "social worker", "software engineer",
    "staff analyst", "systems administrator", "tax auditor",
    "urban designer", "youth counselor",
]


def _variants(stem: str, rng: random.Random) -> list[str]:
    """Case/punctuation/word-order variants (FIXTURES.md §1 edge cases)."""
    words = stem.split()
    out = [stem, stem.upper(), stem.title(), f"{stem}."]
    if len(words) > 1:
        out.append(" ".join(reversed(words)))          # token reorder
        out.append(f"{words[0]},  {' '.join(words[1:])}")  # punctuation + spaces
    out.append(f"senior {stem}" if rng.random() < 0.5 else f"{stem} ii")
    return out


def make_payroll_fixture(spark: SparkSession, n_rows: int = 2000) -> DataFrame:
    """``nyc_payroll_data`` fixture (FIXTURES.md §1): string fiscal_year,
    title variants, nullable salaries, in/out-of-band values."""
    rng = random.Random(1001)
    rows = []
    for i in range(n_rows):
        stem = _TITLE_STEMS[i % len(_TITLE_STEMS)]
        title = rng.choice(_variants(stem, rng))
        if i % 97 == 0:
            title = ""          # empty-string title (normalize -> "")
        if i % 131 == 0:
            title = None        # null title (non-str -> "")
        base = round(rng.uniform(30_000, 180_000), 2)
        rows.append(
            (
                str(rng.choice([2022, 2023, 2024, 2024, 2025, 2025, 2026])),
                title,
                None if i % 53 == 0 else base,
                rng.choice(["per Annum", "per Hour", "per Day"]),
                None if i % 71 == 0 else round(rng.uniform(-5_000, 150_000), 2),
                round(rng.uniform(0, 30_000), 2) if i % 3 else 0.0,
                round(rng.uniform(-2_000, 20_000), 2),
            )
        )
    return spark.createDataFrame(
        rows,
        "fiscal_year string, title_description string, base_salary double, "
        "pay_basis string, regular_gross_paid double, total_ot_paid double, "
        "total_other_pay double",
    )


def make_postings_fixture(spark: SparkSession, n_rows: int = 200) -> DataFrame:
    """``nyc_job_postings_data`` fixture (FIXTURES.md §2): fuzzy-
    overlapping titles, date strings with unparseable/null edge cases."""
    rng = random.Random(2002)
    rows = []
    for i in range(n_rows):
        stem = _TITLE_STEMS[i % len(_TITLE_STEMS)]
        roll = rng.random()
        if roll < 0.4:
            title = stem.title()                      # exact-ish match
        elif roll < 0.6:
            title = " ".join(reversed(stem.split())).title()  # reorder
        elif roll < 0.8:
            title = f"{stem} ({rng.choice(['levels i-ii', 'provisional'])})"
        else:
            title = f"{stem.split()[0]} trainee distinct role"  # partial ~70-84
        lo = round(rng.uniform(35_000, 120_000), 2)
        hi = round(lo * rng.uniform(1.0, 1.8), 2)
        if i % 41 == 0:
            lo, hi = hi, lo                           # inverted range
        if i % 37 == 0:
            lo = None                                 # null bound
        day = rng.randrange(1, 28)
        month = rng.randrange(1, 13)
        posting_date = f"2024-{month:02d}-{day:02d}T00:00:00.000"
        if i % 29 == 0:
            posting_date = "not-a-date"               # unparseable -> dropped
        if i % 23 == 0:
            post_until = None                         # -> +30d imputation
        else:
            month2 = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
                      "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"][month - 1]
            post_until = f"{day:02d}-{month2}-{2024 + (i % 2)}"
        rows.append((title, lo, hi, posting_date, post_until))
    return spark.createDataFrame(
        rows,
        "business_title string, salary_range_from double, salary_range_to double, "
        "posting_date string, post_until string",
    )


def make_lightcast_fixture(spark: SparkSession, n_rows: int = 50) -> DataFrame:
    """``lightcast_top_posted_occupations_SOC`` fixture (FIXTURES.md §3),
    exotic column names kept verbatim (quoting test)."""
    rng = random.Random(3003)
    rows = []
    for i in range(n_rows):
        stem = _TITLE_STEMS[i % len(_TITLE_STEMS)]
        occ = stem.title() + ("s" if not stem.endswith("s") else "")
        rows.append(
            (
                occ,
                rng.randrange(1_000, 90_000),
                None if i % 17 == 0 else round(rng.uniform(10, 60), 1),
            )
        )
    df = spark.createDataFrame(rows, ["occ", "postings", "duration"])
    return df.select(
        F.col("occ").alias("Occupation (SOC)"),
        F.col("postings").cast("long").alias("Total Postings (Jan 2024 - Jun 2025)"),
        F.col("duration").alias("Median Posting Duration"),
    )


# ---------------------------------------------------------------------------
# BRONZE registration (S9)
# ---------------------------------------------------------------------------


def register_bronze(df: DataFrame, source_file: str) -> DataFrame:
    """Stamp the reference's lineage columns (reference: src/utils.py:
    177-185): ``_source_file`` literal, ``_ingestion_timestamp``,
    ``_record_id`` (arbitrary-order row number)."""
    return R.with_lineage(df, source_file)


# ---------------------------------------------------------------------------
# EP2a: payroll <-> postings fuzzy match (src/fuzzy_match_salary.py)
# ---------------------------------------------------------------------------

MATCH_COLUMNS = [
    "business_title", "salary_range_from", "salary_range_to", "posting_date",
    "post_until", "title_description", "base_salary", "pay_basis",
    "regular_gross_paid", "total_ot_paid", "total_other_pay", "score",
]


def _skew_kwargs(
    max_block: int | None, salt_buckets: int | None, hot_occupancy: int
) -> dict:
    """Forward only the engaged skew levers to ``join_fn``: with all
    three at their defaults the call is byte-identical to the pre-lever
    pipelines (driver hashes unchanged), and custom ``join_fn``
    callables that predate the levers keep working untouched."""
    kw: dict = {}
    if max_block is not None:
        kw["max_block"] = max_block
    if salt_buckets is not None:
        kw["salt_buckets"] = salt_buckets
        kw["hot_occupancy"] = hot_occupancy
    return kw


def fuzzy_match_salary(
    payroll: DataFrame,
    postings: DataFrame,
    year_start: int = 2024,
    year_end: int = 2025,
    prefilter_cutoff: int = 85,
    score_cutoff: int = 85,
    limit: int | None = None,
    join_fn=FZ.fuzzy_join,
    row_key: str | None = None,
    observation=None,
    max_block: int | None = None,
    salt_buckets: int | None = None,
    hot_occupancy: int = 1024,
) -> DataFrame:
    """The reference's first fuzzy flow as ONE lazy plan.

    Prep (reference: src/fuzzy_match_salary.py:67-91): cast fiscal_year,
    BETWEEN filter, lenient timestamp parse + not-null + reformat,
    post_until +30d imputation. Match: two-stage fuzzy join 85/85.
    Post: salary-band filter; with ``limit``, the band filter runs FIRST
    and the top-N slice is keyed per posting ROW - the reference admits
    only in-band candidates into matches_by_job (src/fuzzy_match_salary
    .py:144-158, keyed by job_index) and slices top-``limit`` by score
    inside apply_limit_to_matches (src/utils.py:141-157, which re-checks
    the band redundantly). Deliberate deviations, both documented:
    (a) the reference's limit is per (posting row, payroll CHUNK) -
    matches_by_job resets every payroll_chunk_size slice, so a posting
    can emit up to limit x n_chunks rows; here the limit is global per
    posting row (the semantics the parameter name promises);
    (b) the reference breaks score ties by payroll insertion order
    (stable sort); here ties break deterministically by
    (title_description, base_salary).
    Output: the declared 12-column schema (:94-107).

    ``join_fn`` swaps the scorer (default: the reference's WRatio
    pipeline via ``fuzzy_join``; the driver-verified domain queries pass
    ``fuzzy_join_tokensort``, the oracle-expressible scorer - same
    two-stage plan shape). ``row_key`` names an existing unique posting
    column to key the top-N window by (and carry into the output);
    without it a partition-local monotonically_increasing_id is used.
    ``observation`` (a ``pyspark.sql.Observation``) attaches free
    run metrics - match count and mean score - collected as the plan
    executes (the reference logs these counters from a separate pass,
    src/fuzzy_match_salary.py:178-189; observe() costs no extra job).

    ``max_block`` / ``salt_buckets`` / ``hot_occupancy`` - the measured
    skew levers (SCALING.md r9), forwarded to ``join_fn`` only when
    engaged (:func:`_skew_kwargs`): ``max_block`` caps each blocking
    key's per-side occupancy (bounded work, documented subset recall);
    ``salt_buckets`` losslessly parallelizes keys hotter than
    ``hot_occupancy`` on either side. The reference's own production
    log hit this shape - a 612,076-record comparison group for one
    title (logs/application.log.1) - which under a blocking join
    serializes into one task unless capped or salted. Defaults (all
    off) leave the plan byte-identical to the lever-free pipeline.
    """
    pay = _prep_payroll(payroll, year_start, year_end)
    post = _prep_postings(postings)
    post_row = row_key or "_post_row"
    if limit is not None and row_key is None:
        # per-posting-ROW key for the top-N window (reference keys
        # matches_by_job by job_index, not by title - duplicate titles
        # are limited independently). monotonically_increasing_id is
        # partition-local arithmetic: no shuffle, scale-safe.
        post = post.withColumn("_post_row", F.monotonically_increasing_id())
    joined = join_fn(
        post, pay, "business_title", "title_description",
        prefilter_cutoff, score_cutoff,
        **_skew_kwargs(max_block, salt_buckets, hot_occupancy),
    )
    return _band_limit_select(joined, limit, row_key, post_row, observation)


def _prep_payroll(payroll: DataFrame, year_start: int, year_end: int) -> DataFrame:
    """EP2a payroll prep (reference: src/fuzzy_match_salary.py:67-71):
    cast fiscal_year, BETWEEN filter. Shared by the one-shot flow and
    the incremental index build so both match over the SAME title
    domain (the BETWEEN filter changes which titles exist)."""
    return (
        payroll.withColumn("fiscal_year", F.col("fiscal_year").cast("int"))
        .filter(F.col("fiscal_year").between(year_start, year_end))
        .drop("fiscal_year")
    )


def _prep_postings(postings: DataFrame) -> DataFrame:
    """EP2a postings prep (reference: src/fuzzy_match_salary.py:73-91):
    lenient timestamp parse + not-null + reformat, +30d imputation."""
    return (
        postings.withColumn("_ts", parse_posting_ts("posting_date"))
        .filter(F.col("_ts").isNotNull())
        .withColumn("posting_date", format_posting_ts("_ts"))
        .drop("_ts")
        .withColumn("post_until", impute_post_until("post_until", "posting_date"))
    )


def _band_limit_select(
    joined: DataFrame,
    limit: int | None,
    row_key: str | None,
    post_row: str,
    observation,
) -> DataFrame:
    """EP2a post-join stages shared by the one-shot and incremental
    flows: salary-band filter, optional per-posting-row top-N, the
    declared 12-column projection, optional observe() metrics."""
    in_band = (
        (F.col("base_salary") >= F.col("salary_range_from"))
        & (F.col("base_salary") <= F.col("salary_range_to"))
    )
    out_cols = MATCH_COLUMNS + ([row_key] if row_key else [])
    if limit is None:
        out = joined.filter(in_band)
    else:
        # band filter BEFORE the window: out-of-band higher scorers must
        # not push in-band matches out of the top-N (reference admits
        # only in-band candidates into the slice).
        # fully deterministic tiebreak: payroll rows can collide on
        # (title, base_salary) yet differ in pay columns - order by every
        # payroll column so Spark and the oracle slice identically
        w = Window.partitionBy(post_row).orderBy(
            F.desc("score"),
            F.asc("title_description"),
            F.asc("base_salary"),
            F.asc("pay_basis"),
            F.asc("regular_gross_paid"),
            F.asc("total_ot_paid"),
            F.asc("total_other_pay"),
        )
        out = (
            joined.filter(in_band)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= limit)
            .drop("_rn", "_post_row")
        )
    out = out.select(*out_cols)
    if observation is not None:
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("n_matches"),
            F.round(F.avg("score"), 2).alias("avg_score"),
        )
    return out


# ---------------------------------------------------------------------------
# EP2a incremental: persisted payroll-title index + weekly delta probe
# ---------------------------------------------------------------------------


def build_payroll_title_index(
    payroll: DataFrame,
    year_start: int = 2024,
    year_end: int = 2025,
    max_block: int | None = None,
) -> DataFrame:
    """The persisted side of incremental salary matching: the PREPPED
    payroll titles (same cast+BETWEEN as :func:`fuzzy_match_salary`, so
    the title domain is identical) exploded into their tokensort
    blocking index (operators.fuzzy.build_tokensort_title_index; for
    the WRatio lane build ``build_fuzzy_title_index(_prep_payroll(...),
    "title_description")`` - the probe reads the lane from the index,
    so nothing else changes). Write it
    once - partitioned/bucketed on the key column in production - and
    every weekly postings batch probes it via
    :func:`incremental_fuzzy_match_salary` instead of re-running the
    full payroll x postings blocking join the reference schedules
    weekly (src/fuzzy_flows.py:16-23). ``max_block`` is the probe
    path's hot-key lever, forwarded to the index builder (build-time
    per-key occupancy cap, subset-recall semantics - see
    operators.fuzzy.build_fuzzy_title_index)."""
    return FZ.build_tokensort_title_index(
        _prep_payroll(payroll, year_start, year_end), "title_description",
        max_block,
    )


def incremental_fuzzy_match_salary(
    payroll: DataFrame,
    title_index: DataFrame,
    delta_postings: DataFrame,
    year_start: int = 2024,
    year_end: int = 2025,
    prefilter_cutoff: int = 85,
    score_cutoff: int = 85,
    limit: int | None = None,
    row_key: str | None = None,
    observation=None,
) -> DataFrame:
    """The weekly-cadence incremental twin of :func:`fuzzy_match_salary`:
    score a DELTA postings batch against the persisted payroll title
    index, then re-attach full rows and run the shared band-filter /
    top-N / projection stages. Per-batch cost is O(|delta| + matched
    index blocks) - the payroll side contributes only the (cheap,
    AQE-broadcastable) row re-attach equi-join, never another blocking
    join over its full title domain.

    Because a scored pair is a pure function of the two titles and the
    probe shares the one-shot join's candidate and scoring stages,
    (prior matches) UNION (this delta's matches) is row-identical to
    a full re-match when the batches partition the postings - the
    hash-verified claim of the ``fuzzy_incremental_union`` driver row.
    The per-posting-row ``limit`` composes too: the top-N window is
    keyed per posting row, and a delta batch's rows are new.

    The lane is read from the index's layout
    (``operators.fuzzy.probe_title_index``): a tokensort index
    (:func:`build_payroll_title_index`) takes ``prefilter_cutoff`` as
    its min shared tokens, as ``fuzzy_join_tokensort`` does; a WRatio
    index (``build_fuzzy_title_index``) takes it as the token_set_ratio
    prefilter cutoff, as ``fuzzy_join`` does."""
    pay = _prep_payroll(payroll, year_start, year_end)
    post = _prep_postings(delta_postings)
    post_row = row_key or "_post_row"
    if limit is not None and row_key is None:
        post = post.withColumn("_post_row", F.monotonically_increasing_id())
    pairs = FZ.probe_title_index(
        title_index, post, "business_title", prefilter_cutoff, score_cutoff
    )
    joined = FZ.reattach_title_pairs(
        post, pay, "business_title", "title_description", pairs
    )
    return _band_limit_select(joined, limit, row_key, post_row, observation)


# ---------------------------------------------------------------------------
# EP2b: matches <-> Lightcast fuzzy match (src/fuzzy_match_jobs_durations.py)
# ---------------------------------------------------------------------------


def fuzzy_match_durations(
    matches: DataFrame,
    lightcast: DataFrame,
    prefilter_cutoff: int = 75,
    score_cutoff: int = 75,
    join_fn=FZ.fuzzy_join,
    max_block: int | None = None,
    salt_buckets: int | None = None,
    hot_occupancy: int = 1024,
) -> DataFrame:
    """Second fuzzy flow: distinct match titles vs Lightcast occupation
    strings, thresholds 75/75 (reference: src/fuzzy_match_jobs_durations
    .py:58-99, cutoffs :128-129). Emits the stage-1 title, the matched
    occupation + score, and every Lightcast column verbatim. The three
    skew levers forward to ``join_fn`` exactly as in
    :func:`fuzzy_match_salary` (off by default, byte-identical plan)."""
    titles = matches.select("business_title").distinct()
    joined = join_fn(
        titles, lightcast, "business_title", "Occupation (SOC)",
        prefilter_cutoff, score_cutoff,
        **_skew_kwargs(max_block, salt_buckets, hot_occupancy),
    )
    return joined.select(
        "business_title",
        F.col("Occupation (SOC)").alias("lightcast_matched_occupation"),
        F.col("score").alias("lightcast_match_score"),
        "Total Postings (Jan 2024 - Jun 2025)",
        "Median Posting Duration",
    )


# ---------------------------------------------------------------------------
# EP3: GOLD layer (sql/cleaned.sql)
# ---------------------------------------------------------------------------


def gold_salary_matches(matches: DataFrame) -> DataFrame:
    """GOLD.nyc_salary_matches (reference: sql/cleaned.sql:2-15): rename
    projection + posting_duration_days + ORDER BY match_score DESC."""
    return (
        matches.select(
            F.col("business_title").alias("posted_job_title"),
            F.col("salary_range_from").alias("posted_salary_range_from"),
            F.col("salary_range_to").alias("posted_salary_range_to"),
            F.col("posting_date"),
            F.col("post_until"),
            posting_duration_days("post_until", "posting_date").alias(
                "posting_duration_days"
            ),
            F.col("title_description").alias("payroll_job_title"),
            F.col("base_salary"),
            F.col("pay_basis"),
            F.col("regular_gross_paid"),
            F.col("total_ot_paid"),
            F.col("total_other_pay"),
            F.col("score").alias("match_score"),
        )
        .orderBy(F.desc("match_score"))
    )


def _durations_projection(durations: DataFrame) -> DataFrame:
    """The 4-column rename projection of both GOLD durations tables,
    shared by the ordered table, the one-shot DISTINCT and the
    incremental count-state builders."""
    return durations.select(
        F.col("business_title").alias("title"),
        F.col("lightcast_matched_occupation"),
        F.col("Total Postings (Jan 2024 - Jun 2025)").alias("total_postings"),
        F.col("Median Posting Duration").alias("median_posting_duration"),
    )


def gold_durations(durations: DataFrame) -> DataFrame:
    """GOLD.nyc_matched_job_posting_duration_SOC (sql/cleaned.sql:17-24)."""
    return _durations_projection(durations).orderBy(
        F.desc("median_posting_duration")
    )


# The GOLD unique table's partial-MAX state: keyed by (title, dates) so
# the heavy posting_duration_days parse chain evaluates once per
# distinct key on the small intermediate, and every aggregate is MAX
# (decomposable) - which also makes the table INCREMENTALLY
# MAINTAINABLE (operators/incremental.py): matches only ever append,
# and max-of-maxes is exact, so new match batches fold into a persisted
# state instead of re-aggregating all matches (the reference re-runs
# the full CTAS weekly, sql/cleaned.sql:28-42 via src/cleaned_data.py).
GOLD_UNIQUE_STATE_KEYS = ["business_title", "posting_date", "post_until"]
GOLD_UNIQUE_STATE_SPECS = [
    ("payroll_job_title", "title_description", "max"),
    ("match_score", "score", "max"),
    ("posted_salary_range_from", "salary_range_from", "max"),
    ("posted_salary_range_to", "salary_range_to", "max"),
    ("base_salary", "base_salary", "max"),
    ("regular_gross_paid", "regular_gross_paid", "max"),
    ("total_ot_paid", "total_ot_paid", "max"),
    ("total_other_pay", "total_other_pay", "max"),
]


def gold_matches_state(matches: DataFrame) -> DataFrame:
    """Mergeable partial state for the GOLD unique table: one shuffle
    over the match batch, group-sized output."""
    return IVM.partial_agg_state(
        matches, GOLD_UNIQUE_STATE_KEYS, GOLD_UNIQUE_STATE_SPECS
    )


def gold_matches_state_refresh(state: DataFrame, new_matches: DataFrame) -> DataFrame:
    """Fold a new batch of match rows into the persisted GOLD state -
    O(|batch| + |state|), the full match history never re-reads."""
    return IVM.incremental_agg_refresh(
        state, new_matches, GOLD_UNIQUE_STATE_KEYS, GOLD_UNIQUE_STATE_SPECS
    )


def gold_salary_matches_unique_from_state(state: DataFrame) -> DataFrame:
    """GOLD answer from the state alone: evaluate the duration parse
    chain on the small intermediate (one eval per distinct key), then
    the final MAX by title."""
    partial = IVM.finalize_agg_state(
        state, GOLD_UNIQUE_STATE_KEYS, GOLD_UNIQUE_STATE_SPECS
    )
    partial = partial.withColumn(
        "_dur", posting_duration_days("post_until", "posting_date")
    )
    return (
        partial.groupBy(F.col("business_title").alias("posted_job_title"))
        .agg(
            F.max("payroll_job_title").alias("payroll_job_title"),
            F.max("match_score").alias("match_score"),
            F.max("posted_salary_range_from").alias("posted_salary_range_from"),
            F.max("posted_salary_range_to").alias("posted_salary_range_to"),
            F.max("base_salary").alias("base_salary"),
            F.max("_dur").alias("posting_duration_days"),
            F.max("regular_gross_paid").alias("regular_gross_paid"),
            F.max("total_ot_paid").alias("total_ot_paid"),
            F.max("total_other_pay").alias("total_other_pay"),
        )
        .orderBy(F.desc("match_score"))
    )


def gold_salary_matches_unique(matches: DataFrame) -> DataFrame:
    """GOLD.nyc_salary_matches_unique_job_posting_title (sql/cleaned.sql:
    28-42): one row per business_title via MAX over every other column
    (MAX over strings = lexicographic, same in Spark and DuckDB).

    posting_duration_days is a heavy parse chain (two date parses, a
    month-case fixup) but depends only on the low-cardinality
    (posting_date, post_until) pair. Because every aggregate here is
    MAX (decomposable), aggregate in two levels: partial MAX keyed by
    (title, posting_date, post_until), evaluate the parse chain on that
    small intermediate (one eval per distinct key instead of per match
    row), then final MAX by title. One pass over the match rows, ~10^3
    parse evaluations instead of ~10^5+ at any scale (measured 3x on
    the whole gold query at sf0.1). The two levels flow through the
    shared IVM state ops, so this one-shot build and the incremental
    path (gold_matches_state_refresh) are the same code."""
    return gold_salary_matches_unique_from_state(gold_matches_state(matches))


def gold_durations_unique(durations: DataFrame) -> DataFrame:
    """GOLD.nyc_matched_job_posting_duration_SOC_unique_title
    (sql/cleaned.sql:44-51): DISTINCT 4-column projection + sort."""
    return (
        _durations_projection(durations)
        .distinct()
        .orderBy(F.desc("median_posting_duration"))
    )


# The DISTINCT GOLD table's incremental form: DISTINCT over a stream of
# batches is exactly a COUNT state keyed by the full projection -
# a row is in the distinct set iff its retained count is > 0. Exact
# under inserts AND retractions (sign=-1 folds; a key retracting to
# zero drops at finalize via drop_empty - the zombie-drop the count
# kind already carries), so the reference's weekly full
# CREATE TABLE ... AS SELECT DISTINCT (sql/cleaned.sql:44-51) becomes a
# per-batch fold over O(|batch| + |distinct keys|) state.
GOLD_DURATIONS_UNIQUE_KEYS = [
    "title",
    "lightcast_matched_occupation",
    "total_postings",
    "median_posting_duration",
]
GOLD_DURATIONS_UNIQUE_SPECS = [("n_rows", "1", "count")]


def gold_durations_state(durations: DataFrame, sign: int = 1) -> DataFrame:
    """Count state for one durations batch (``sign=-1`` builds the
    retraction fold for deleted rows)."""
    return IVM.partial_agg_state(
        _durations_projection(durations),
        GOLD_DURATIONS_UNIQUE_KEYS,
        GOLD_DURATIONS_UNIQUE_SPECS,
        sign=sign,
    )


def gold_durations_state_refresh(
    state: DataFrame, new_durations: DataFrame, sign: int = 1
) -> DataFrame:
    """Fold a durations batch into the persisted DISTINCT state."""
    return IVM.incremental_agg_refresh(
        state,
        _durations_projection(new_durations),
        GOLD_DURATIONS_UNIQUE_KEYS,
        GOLD_DURATIONS_UNIQUE_SPECS,
        sign=sign,
    )


def gold_durations_unique_from_state(state: DataFrame) -> DataFrame:
    """The DISTINCT table from the count state alone: keys whose
    retained count is positive (drop_empty), counts discarded."""
    return (
        IVM.finalize_agg_state(
            state, GOLD_DURATIONS_UNIQUE_KEYS, GOLD_DURATIONS_UNIQUE_SPECS
        )
        .select(*GOLD_DURATIONS_UNIQUE_KEYS)
        .orderBy(F.desc("median_posting_duration"))
    )


# ---------------------------------------------------------------------------
# full pipeline
# ---------------------------------------------------------------------------


def run_pipeline(spark: SparkSession, limit: int | None = None) -> dict[str, DataFrame]:
    """Fixtures -> BRONZE -> fuzzy flows -> GOLD; returns every table."""
    payroll = make_payroll_fixture(spark)
    postings = make_postings_fixture(spark)
    lightcast = make_lightcast_fixture(spark)
    matches = fuzzy_match_salary(payroll, postings, limit=limit)
    durations = fuzzy_match_durations(matches, lightcast)
    return {
        "bronze_payroll": register_bronze(payroll, "nyc_payroll_data.parquet"),
        "bronze_postings": register_bronze(postings, "nyc_job_postings_data.parquet"),
        "bronze_lightcast": register_bronze(
            lightcast, "lightcast_top_posted_occupations_SOC.parquet"
        ),
        "payroll_to_jobs_title_fuzzy_matches": matches,
        "jobs_to_lightcast_title_fuzzy_matches": durations,
        "gold_salary_matches": gold_salary_matches(matches),
        "gold_durations": gold_durations(durations),
        "gold_salary_matches_unique": gold_salary_matches_unique(matches),
        "gold_durations_unique": gold_durations_unique(durations),
    }


# ---------------------------------------------------------------------------
# EP3 SQL path: sql/cleaned.sql ported to Spark SQL (SURVEY §7.1.6 asks
# for BOTH forms so they can cross-check each other; the DataFrame
# builders above are the primary path)
# ---------------------------------------------------------------------------

# post_until is '17-SEP-2025'; Java's MMM parse needs title case (same
# fix as functions.dates.parse_post_until, inlined as SQL). get() and
# the try_ parsers keep null-on-failure under ANSI, where [i] on a
# short split and to_date/to_timestamp on a dirty string throw.
_POST_UNTIL_DATE_SQL = (
    "try_to_date(concat_ws('-', get(split(post_until, '-'), 0), "
    "concat(upper(substring(get(split(post_until, '-'), 1), 1, 1)), "
    "lower(substring(get(split(post_until, '-'), 1), 2, 2))), "
    "get(split(post_until, '-'), 2)), 'dd-MMM-yyyy')"
)
_DURATION_SQL = (
    f"CAST(datediff({_POST_UNTIL_DATE_SQL}, "
    "to_date(try_to_timestamp(posting_date, \"yyyy-MM-dd'T'HH:mm:ss[.SSS]\"))) AS INT)"
)

GOLD_SQL: dict[str, str] = {
    "nyc_salary_matches": f"""
        SELECT business_title AS posted_job_title,
               salary_range_from AS posted_salary_range_from,
               salary_range_to AS posted_salary_range_to,
               posting_date, post_until,
               {_DURATION_SQL} AS posting_duration_days,
               title_description AS payroll_job_title,
               base_salary, pay_basis, regular_gross_paid,
               total_ot_paid, total_other_pay,
               score AS match_score
        FROM bronze_salary_matches
        ORDER BY match_score DESC
    """,
    "nyc_matched_job_posting_duration_SOC": """
        SELECT business_title AS title,
               lightcast_matched_occupation,
               `Total Postings (Jan 2024 - Jun 2025)` AS total_postings,
               `Median Posting Duration` AS median_posting_duration
        FROM bronze_lightcast_durations
        ORDER BY median_posting_duration DESC
    """,
    "nyc_salary_matches_unique_job_posting_title": f"""
        SELECT business_title AS posted_job_title,
               MAX(title_description) AS payroll_job_title,
               MAX(score) AS match_score,
               MAX(salary_range_from) AS posted_salary_range_from,
               MAX(salary_range_to) AS posted_salary_range_to,
               MAX(base_salary) AS base_salary,
               MAX({_DURATION_SQL}) AS posting_duration_days,
               MAX(regular_gross_paid) AS regular_gross_paid,
               MAX(total_ot_paid) AS total_ot_paid,
               MAX(total_other_pay) AS total_other_pay
        FROM bronze_salary_matches
        GROUP BY business_title
        ORDER BY match_score DESC
    """,
    "nyc_matched_job_posting_duration_SOC_unique_title": """
        SELECT DISTINCT business_title AS title,
               lightcast_matched_occupation,
               `Total Postings (Jan 2024 - Jun 2025)` AS total_postings,
               `Median Posting Duration` AS median_posting_duration
        FROM bronze_lightcast_durations
        ORDER BY median_posting_duration DESC
    """,
}


def gold_tables_sql(
    spark: SparkSession, matches: DataFrame, durations: DataFrame
) -> dict[str, DataFrame]:
    """The four GOLD tables via ``spark.sql`` over temp views (reference:
    sql/cleaned.sql:2-51, column aliases matching the DataFrame builders
    so the two paths cross-check; Catalyst compiles both to the same
    logical plans)."""
    matches.createOrReplaceTempView("bronze_salary_matches")
    durations.createOrReplaceTempView("bronze_lightcast_durations")
    return {name: spark.sql(q) for name, q in GOLD_SQL.items()}


# ---------------------------------------------------------------------------
# EP2a streaming: weekly postings batches matched at ingest time
# ---------------------------------------------------------------------------
#
# The operational lifecycle (single writer per step - MECHANICALLY
# enforced since round 13 by the shared lease at {index_dir}/
# _lifecycle_lease.json, see lease.lifecycle_lease: concurrent entry
# points refuse, crashed holders are taken over after lease_stale_after;
# every step is individually crash-safe and replay-exact,
# property-tested end to end under random interleavings in
# tests/test_fuzzy.py):
#
#   setup    build_payroll_title_index(base payroll)
#            -> operators.fuzzy.write_title_index(index_dir,
#               index_format="bucketed")   # the 100 TB probe shape
#            base payroll rows -> {payroll_dir}/base
#   weekly   run_fuzzy_match_ingest(postings stream, payroll_dir, ...)
#            - probes the index per batch, no index-side shuffle
#   payroll  run_fuzzy_index_maintenance(payroll stream, ...)
#   lands    - extends the index (g{j}) + archives rows (d{j}) +
#              back-fills (archived postings x new payroll) exactly once
#   monitor  lifecycle_status(index_dir, payroll_dir, matches_dir)
#            - the whole deployment's state + recommended actions in
#              one METADATA-ONLY call (no SparkSession); the detailed
#              signals it aggregates:
#            operators.fuzzy.title_index_occupancy(index)
#            - compact when keys_over_cap > 0 (capped indexes) or the
#              generation count makes the probe's union tax noticeable
#            operators.fuzzy.title_index_bucket_stats(index_dir)
#            - per-bucket rows/bytes; when suggest_index_buckets()
#              differs from the persisted count, the next compaction
#              re-buckets (n_buckets="auto") - bucket-count evolution
#              rides the fold's rewrite, never a standalone rewrite
#   compact  operators.fuzzy.compact_persisted_title_index(
#                spark, index_dir, payroll_dir=payroll_dir)  # FIRST
#            compact_payroll_corpus(spark, payroll_dir, index_dir)
#            compact_matches_corpus(spark, matches_dir, lease_dir=...)
#            - restores the bucketed no-shuffle probe and the exact
#              per-key occupancy bound; folded deltas read through the
#              versioned payroll base
#
# The three stores - title index (g{j}), payroll corpus (d{j}) and
# matches corpus (b{j}/p{j}) - share ONE crash-safe fold protocol,
# pipelines/versioned.py: entry GC, the new base written completely to
# a fresh version dir (base_v{n} / mbase_v{n}), then one atomic swap of
# the store's manifest (_index_meta.json / _payroll_manifest.json /
# _matches_manifest.json) naming it and the generations it folded,
# then cleanup. Readers take the manifest's base plus the generation
# dirs it does not record as folded, so a crash on either side of the
# swap never double-counts or drops rows; lifecycle_status reports the
# leftovers as litter until the next fold's entry GC removes them.
#
# Both sinks refuse foreign/fresh checkpoints over existing state (the
# pinned-identity guards) and skip replays of completed batches; the
# maintenance sink refuses matches built with a per-posting-row limit.


def _checkpoint_identity(checkpoint_dir: str) -> str | None:
    """The streaming query id Spark pins in ``{checkpoint}/metadata``
    at first start - the durable identity of a checkpoint's batch
    numbering. None when the checkpoint has never run a query."""
    return VB.read_manifest(os.path.join(checkpoint_dir, "metadata"), {}).get("id")


def _guard_checkpoint(
    out_dir: str,
    checkpoint_dir: str,
    marker: str,
    batch_dir_re: str,
    folded: bool = False,
) -> None:
    """Refuse to extend an output directory under a DIFFERENT
    checkpoint than the one that built it. The per-batch overwrite
    sinks are replay-idempotent only under the SAME checkpoint: a
    fresh checkpoint (or changed trigger/file layout) re-partitions
    the source files into different batch ids, leaving stale ``b{id}``
    subdirectories whose rows the read-back would double-count
    (round-11 ADVICE). The first batch records the checkpoint's query
    id in ``{out_dir}/{marker}``; later runs must present the same id.

    A MARKER-LESS dir that already holds per-batch subdirectories
    (``batch_dir_re``; a pre-marker-era sink wrote it, or the marker
    file was lost) is only extendable by a checkpoint that has already
    run - a FRESH checkpoint (no metadata yet) refuses, because its
    renumbered batches are exactly the double-count hazard; a resumed
    checkpoint adopts the dir and pins its id from the first batch.

    Residual limitation (documented, not closed): if the marker is
    LOST while batch dirs remain, a checkpoint that has run before
    (metadata present) adopts the dir - only fresh checkpoints refuse.
    Closing that would need cross-checking the existing batch ids
    against the adopted checkpoint's committed offsets.

    ``folded`` - True when a compaction has folded this flow's batches
    into a base the live dirs no longer evidence (the index meta's
    ``folded_generations``, the payroll manifest's ``folded_deltas``,
    the matches manifest's folded b/p ids). Folded records COUNT as
    batch evidence (round-12 ADVICE): after a full compaction cadence
    the live ``g{j}``/``d{j}`` dirs are all gone, and releasing the
    pin here would let a fresh checkpoint renumber from 0 straight
    into the folded id space - the new ``d0``'s rows are invisible to
    ``read_payroll_corpus`` (the manifest already lists 0 as folded)
    and the next ``compact_payroll_corpus`` GC deletes the new archive
    as dead, silently losing them."""
    path = os.path.join(out_dir, marker)
    current = _checkpoint_identity(checkpoint_dir)
    has_batches = folded or (
        os.path.isdir(out_dir)
        and any(
            re.fullmatch(batch_dir_re, d)
            and os.path.isdir(os.path.join(out_dir, d))
            for d in os.listdir(out_dir)
        )
    )
    if not os.path.exists(path):
        if has_batches and current is None:
            raise ValueError(
                f"{out_dir} holds per-batch output (live subdirectories "
                f"or batches folded into a compacted base) but no "
                f"{marker} marker, and checkpoint {checkpoint_dir} is "
                "fresh - a fresh checkpoint renumbers batches and would "
                "collide with the existing batch ids (double-counted "
                "live dirs, or rows invisible behind a folded-id "
                "record). Resume the original checkpoint (its id is "
                "adopted and pinned), or start a fresh output dir"
            )
        return
    with open(path) as f:
        recorded = f.read().strip()
    if current != recorded:
        if not has_batches:
            # a marker without any of THIS flow's batch output, live
            # OR folded (e.g. a run refused by validation after
            # pinning, then the output dir rebuilt): nothing can be
            # double-counted - release the stale pin instead of a
            # false permanent lockout
            os.remove(path)
            return
        raise ValueError(
            f"{out_dir} was built under checkpoint id {recorded}; "
            f"checkpoint {checkpoint_dir} has id {current} - a replay "
            "under a different checkpoint re-partitions batches and "
            "would double-count stale per-batch subdirectories (or "
            "renumber into ids a compaction already folded, whose rows "
            "readers resolve through the base). Reuse the original "
            "checkpoint, or start a fresh output dir"
        )


def _record_checkpoint(out_dir: str, checkpoint_dir: str, marker: str) -> None:
    """Pin the checkpoint identity after a successful run (first run
    only; later runs are guarded against a different identity)."""
    path = os.path.join(out_dir, marker)
    current = _checkpoint_identity(checkpoint_dir)
    if os.path.exists(path) or current is None:
        return
    os.makedirs(out_dir, exist_ok=True)
    VB.write_atomic(path, current)


_BATCH_META = "_meta.json"


def _read_batch_meta(matches_dir: str, name: str) -> dict | None:
    """The ``_meta.json`` a sink stamped into one per-batch output
    subdirectory (``b{id}`` / ``p{id}``), or None pre-first-write."""
    return VB.read_manifest(os.path.join(matches_dir, name, _BATCH_META), None)


def _write_batch_meta(matches_dir: str, name: str, meta: dict) -> None:
    VB.write_atomic(os.path.join(matches_dir, name, _BATCH_META), json.dumps(meta))


def _unfolded_batches(matches_dir: str, man: dict) -> list[str]:
    """Names of the ``b{id}`` / ``p{id}`` per-batch dirs on disk that
    the matches manifest ``man`` does not record as folded."""
    folded = set(man["folded"])
    names = (f"{p}{j}" for p in "bp" for j in VB.generations(matches_dir, p))
    return sorted(n for n in names if n not in folded)


_MATCHES_MANIFEST = "_matches_manifest.json"


def _matches_manifest(matches_dir: str) -> dict:
    """The matches corpus' commit record: which directory holds the
    compacted match rows (``mbase_v{n}`` after
    :func:`compact_matches_corpus`; None for a never-compacted dir)
    and which per-batch subdirectories that base already contains
    (``folded`` - dir NAMES like ``b0``/``p1``, since the ingest and
    maintenance numbering spaces are independent). Replaced atomically
    - the one json swap that is the matches compaction's commit
    point. Folded batches keep their ``_meta.json`` on disk (the
    covered-set and replay-skip bookkeeping reads them; folding rows
    must not launder batch history)."""
    return VB.read_manifest(
        os.path.join(matches_dir, _MATCHES_MANIFEST), {"base": None, "folded": []}
    )


_PAYROLL_MANIFEST = "_payroll_manifest.json"


def _payroll_manifest(payroll_dir: str) -> dict:
    """The payroll corpus' commit record: which directory is the
    current base (``base`` for a never-compacted corpus, ``base_v{n}``
    after :func:`compact_payroll_corpus`) and which delta ids that
    base already contains (``folded_deltas``). Replaced atomically -
    this ONE json swap is the compaction's commit point."""
    return VB.read_manifest(
        os.path.join(payroll_dir, _PAYROLL_MANIFEST),
        {"base": "base", "folded_deltas": []},
    )


def read_payroll_corpus(
    spark: SparkSession, payroll_dir: str, generations: list[int] | None = None
) -> DataFrame:
    """The payroll rows at ``payroll_dir``: the manifest's current base
    plus the ``d{batch_id}`` deltas the maintenance sink archived.
    ``generations`` pins an explicit delta set (None = every committed
    delta) - the same replay bookkeeping as
    ``operators.fuzzy.read_title_index``; the ``d{j}`` archives pair
    1:1 with the index's ``g{j}`` generations (same maintenance batch
    writes both). Deltas the manifest records as FOLDED read through
    the base (their archive dirs are gone, their rows are not - the
    multiset is unchanged: base_v{n+1} = old base ⊎ folded d rows); a
    pinned id that is neither on disk nor folded raises rather than
    silently shrinking a replay's corpus."""
    man = _payroll_manifest(payroll_dir)
    folded = set(man["folded_deltas"])
    out = spark.read.parquet(os.path.join(payroll_dir, man["base"]))
    if generations is None:
        generations = list_payroll_deltas(payroll_dir)
    for j in sorted(set(generations) - folded):
        d = os.path.join(payroll_dir, f"d{j}")
        if not os.path.isdir(d):
            raise ValueError(
                f"payroll delta d{j} is pinned by a replay but neither "
                "on disk nor folded into the base - the corpus cannot "
                "be reconstructed"
            )
        out = out.unionByName(spark.read.parquet(d))
    return out


def compact_payroll_corpus(
    spark: SparkSession,
    payroll_dir: str,
    index_dir: str,
    lease_stale_after: float = 3600.0,
) -> list[int]:
    """Fold payroll delta archives into the corpus base - the payroll
    side of the compaction cadence (the index side is
    ``operators.fuzzy.compact_persisted_title_index``; run that FIRST:
    only deltas the INDEX meta records as folded are eligible here,
    because a delta still carried by a live ``g{j}`` must keep its
    ``d{j}`` archive for the committed-batch pairing rule, and a torn
    batch has no business in the base at all). Returns the ids folded.

    Crash-safe via a versioned base + one atomic manifest swap (the
    protocol of ``pipelines/versioned.py``, shared with the index and
    matches folds):

    1. stale unreferenced ``base_v*`` leftovers from a previous crash
       are GC'd;
    2. the new base (current base ⊎ eligible delta rows - a multiset
       union, content identical to what readers already assembled)
       writes COMPLETELY to a fresh ``base_v{n}`` directory;
    3. the manifest swaps atomically to name it and record the folded
       ids - before the swap readers see the old layout, after it the
       new one, never a mixture (the double-count/missing-rows window
       a plain base overwrite would open);
    4. the old base and the folded ``d{j}`` dirs are removed (a crash
       here leaves garbage the manifest no longer references - the
       next run's GC and the folded-record reads are unaffected).

    Replays of postings batches whose metas pin folded ids read their
    rows through the new base (``read_payroll_corpus`` filters pinned
    ids against the manifest; the multiset is unchanged). Single-writer
    like every sink here: not concurrent with a maintenance batch -
    MECHANICALLY enforced since round 13 by the lifecycle lease at
    ``index_dir`` (``lease.lifecycle_lease``: a live holder refuses
    with LeaseHeldError, a holder stale past ``lease_stale_after`` is
    taken over)."""
    with LS.lifecycle_lease(
        index_dir, "compact_payroll_corpus", lease_stale_after
    ) as lease:
        man = _payroll_manifest(payroll_dir)
        new_base = VB.begin(
            payroll_dir, man["base"], "base",
            [f"d{j}" for j in man["folded_deltas"]],
        )
        eligible = sorted(
            (set(FZ.title_index_folded_generations(index_dir))
             & set(list_payroll_deltas(payroll_dir)))
            - set(man["folded_deltas"])
        )
        if not eligible:
            return []
        folded = [f"d{j}" for j in eligible]
        _write_fold(spark, payroll_dir, [man["base"]] + folded, new_base)
        VB.commit(
            payroll_dir, _PAYROLL_MANIFEST,
            {"base": new_base,
             "folded_deltas": sorted(set(man["folded_deltas"]) | set(eligible))},
            man["base"], folded, lease=lease,
        )
        return eligible


def _covered_postings_batches(matches_dir: str, batch_id: int) -> list[int]:
    """The postings batches maintenance batch ``batch_id``'s cross-term
    back-fill must cover: every archived batch that has NOT yet seen
    this payroll delta - neither as a live generation (its meta's
    ``generations``) nor compacted into the base it probed (its meta's
    ``payroll_deltas``, which record the d{j} archives it re-attached;
    missing either check would double-count the (batch x d{j}) pairs).
    Validates the matches dir (no-meta or limit-probed batches refuse)
    BEFORE the caller writes anything."""
    covered: list[int] = []
    for j in VB.generations(matches_dir, "b"):
        d = f"b{j}"
        bmeta = _read_batch_meta(matches_dir, d)
        if bmeta is None:
            raise ValueError(
                f"postings batch {d} has no _meta.json - written by a "
                "pre-maintenance sink? rebuild the matches dir with the "
                "current ingest"
            )
        if bmeta.get("limit") is not None:
            raise ValueError(
                f"postings batch {d} was probed with a per-posting-row "
                "limit, which does not compose with payroll deltas (a "
                "new payroll row can displace an earlier top-N member) "
                "- re-ingest without limit to maintain"
            )
        if batch_id not in bmeta["generations"] and (
            batch_id not in bmeta.get("payroll_deltas", [])
        ):
            covered.append(j)
    return covered


def _visible_maintenance(index_dir: str, payroll_dir: str) -> tuple[list[int], list[int]]:
    """(live index generations, payroll deltas) of the COMMITTED
    maintenance batches: a batch is visible only when BOTH its index
    side (a live ``g{j}`` dir, or ``j`` compacted into the base) and
    its payroll archive ``d{j}`` exist. The pairing rule is what makes
    the maintenance sink's two writes crash-safe without a transaction:
    ``g{j}`` lands first, ``d{j}`` is the atomic commit point (a dir
    rename), so a crash between them leaves ``g{j}`` INVISIBLE to the
    ingest - its new titles neither probe (no pairs without payroll
    rows to re-attach) nor get recorded as seen, and the maintenance
    replay's back-fill covers the batch exactly once. A delta the
    payroll manifest records as folded COUNTS as committed: its rows
    now live in the payroll base (compact_payroll_corpus only folds
    index-folded, d-present deltas, so the pairing held when it
    ran)."""
    d_ids = set(list_payroll_deltas(payroll_dir)) | set(
        _payroll_manifest(payroll_dir)["folded_deltas"]
    )
    live = [g for g in FZ.list_index_generations(index_dir) if g in d_ids]
    folded = [
        g for g in FZ.title_index_folded_generations(index_dir) if g in d_ids
    ]
    return sorted(live), sorted(set(live) | set(folded))


def list_payroll_deltas(payroll_dir: str) -> list[int]:
    """Sorted batch ids of the ``d{batch_id}`` payroll archive dirs ON
    DISK at ``payroll_dir`` (pairs with
    ``operators.fuzzy.list_index_generations``, but tracked SEPARATELY:
    INDEX compaction folds ``g{j}`` dirs away while these archives stay
    until :func:`compact_payroll_corpus` folds them too - after which
    the manifest's ``folded_deltas``, not this listing, is the source
    of truth for rows now living in the base; corpus readers must go
    through :func:`read_payroll_corpus` / ``_visible_maintenance``,
    which consult both)."""
    return VB.generations(payroll_dir, "d")


def run_fuzzy_match_ingest(
    stream_postings: DataFrame,
    payroll: DataFrame | str,
    index_dir: str,
    matches_dir: str,
    checkpoint_dir: str,
    year_start: int = 2024,
    year_end: int = 2025,
    prefilter_cutoff: int = 85,
    score_cutoff: int = 85,
    limit: int | None = None,
    row_key: str | None = None,
    lease_stale_after: float = 3600.0,
) -> None:
    """The reference's weekly cron re-match (src/fuzzy_flows.py:16-23)
    as a streaming ingest loop: each postings micro-batch is scored by
    probing the PERSISTED payroll-title index
    (:func:`incremental_fuzzy_match_salary`) and its matches land in
    a per-batch subdirectory of ``matches_dir`` - per-batch cost
    O(|batch| + matched index blocks), the payroll blocking work paid
    once at index-build time, never per week. The probe runs in the
    lane the index was built for (read from its layout).

    The index reads through ``operators.fuzzy.read_title_index``, so
    every persisted shape works unchanged: the legacy plain-parquet
    dir, the managed parquet layout, and the PRODUCTION
    ``index_format="bucketed"`` table - under which the probe's
    blocking-key equi-join moves only the batch's exploded keys, the
    index side scanning with NO Exchange (each batch's ``_meta.json``
    records the probe plan's exchange count as the audit trail,
    asserted on this sink's own plan in tests/test_fuzzy.py).

    ``payroll`` - a frozen DataFrame (the weekly cadence: payroll
    lands yearly), or a ``read_payroll_corpus`` directory when the
    payroll side also grows mid-stream via
    :func:`run_fuzzy_index_maintenance`; a frozen DataFrame combined
    with a maintained (generation-carrying) index refuses loudly -
    probed titles from new payroll could not re-attach rows and
    matches would silently drop.

    Writes are REPLAY-IDEMPOTENT under the SAME checkpoint (identity
    recorded in ``{matches_dir}/_checkpoint_id``; a different
    checkpoint refuses - it would re-partition batches and leave
    stale subdirectories the read-back double-counts): a batch's
    matches are a pure function of (batch, index generations recorded
    in its meta, payroll), and each batch overwrites its own
    ``b{batch_id}`` subdirectory. The raw batch rows archive to
    ``{matches_dir}/src/b{batch_id}`` - the corpus the payroll
    maintenance probe re-reads (at 100 TB point this at the lake's
    postings table partitioned by ingest batch instead).
    availableNow + awaitTermination. Read the accumulated matches
    back with :func:`read_ingested_matches`; totals equal the
    one-shot full re-match over the same postings (tested).

    Single-writer is MECHANICAL (round-13): the shared lifecycle lease
    at ``index_dir`` is acquired for the run and heartbeated per
    micro-batch - a concurrent maintenance/compaction step refuses
    with LeaseHeldError, and a lease whose heartbeat is older than
    ``lease_stale_after`` (a crashed run) is taken over."""
    with LS.lifecycle_lease(
        index_dir, "run_fuzzy_match_ingest", lease_stale_after
    ) as _lease:
        # b{id} dirs carry THIS flow's numbering; p{id} back-fills belong
        # to the maintenance flow's checkpoint and do not gate this one.
        # Folded b-ids in the matches manifest count as evidence too - a
        # compaction may have absorbed every live b{id} into the base
        _guard_checkpoint(
            matches_dir, checkpoint_dir, "_checkpoint_id", r"b\d+",
            folded=any(
                n.startswith("b") for n in _matches_manifest(matches_dir)["folded"]
            ),
        )

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            # per-batch heartbeat: the lease's staleness clock must
            # outlive the longest batch, not the longest run
            _lease.heartbeat()
            spark = batch_df.sparkSession
            bname = f"b{batch_id}"
            # pin the checkpoint identity from the FIRST batch, not after
            # awaitTermination: a first run killed mid-stream has already
            # written b{id} dirs, and an unmarked matches dir would let a
            # fresh-checkpoint restart re-partition around them - the exact
            # double-count hole the guard exists to close
            _record_checkpoint(matches_dir, checkpoint_dir, "_checkpoint_id")
            # a COMPLETED batch skips its replay outright: the meta lands
            # last, so meta-present means src + matches are fully written,
            # and the content is already the pure function of the inputs
            # the original run saw. Recomputing instead would have to
            # reconstruct those inputs exactly - impossible once the
            # compaction cadence has folded later generations/deltas into
            # the index and payroll BASES (a replayed early batch would
            # probe titles and attach rows it never saw, re-emitting pairs
            # the maintenance back-fill already holds; review r12 pass 4).
            # A crash mid-batch leaves no meta and replays from scratch
            # with fresh sets - safe, because the maintenance sink refuses
            # to cover meta-less batches.
            if _read_batch_meta(matches_dir, bname) is not None:
                return
            if isinstance(payroll, str):
                # only COMMITTED maintenance batches are visible (g{j} and
                # d{j} both on disk, or j compacted into the base with its
                # d{j} present): a half-landed batch from a maintenance
                # crash must neither probe title-less payroll nor be
                # recorded as seen - its replay back-fills this batch
                gens, pdeltas = _visible_maintenance(index_dir, payroll)
            else:
                gens = FZ.list_index_generations(index_dir)
                pdeltas = []
            index = FZ.read_title_index(spark, index_dir, generations=gens)
            maintained = bool(gens) or bool(
                FZ.title_index_folded_generations(index_dir)
            )
            if isinstance(payroll, str):
                pay = read_payroll_corpus(spark, payroll, generations=pdeltas)
            elif maintained:
                raise ValueError(
                    "the index carries maintenance generations (live or "
                    "compacted-in) but payroll is a frozen DataFrame - pass "
                    "the read_payroll_corpus directory so new payroll rows "
                    "can re-attach"
                )
            else:
                pay = payroll
            matches = incremental_fuzzy_match_salary(
                pay, index, batch_df,
                year_start=year_start, year_end=year_end,
                prefilter_cutoff=prefilter_cutoff, score_cutoff=score_cutoff,
                limit=limit, row_key=row_key,
            )
            exchanges = PI.shuffle_count(matches)
            batch_df.write.mode("overwrite").parquet(
                os.path.join(matches_dir, "src", bname)
            )
            matches.write.mode("overwrite").parquet(
                os.path.join(matches_dir, bname)
            )
            _write_batch_meta(
                matches_dir, bname,
                {
                    "batch_id": batch_id,
                    "generations": gens,
                    "payroll_deltas": pdeltas,
                    "exchanges": exchanges,
                    "limit": limit,
                },
            )

        q = (
            stream_postings.writeStream.foreachBatch(apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _record_checkpoint(matches_dir, checkpoint_dir, "_checkpoint_id")


def run_fuzzy_index_maintenance(
    stream_payroll: DataFrame,
    payroll_dir: str,
    index_dir: str,
    matches_dir: str,
    checkpoint_dir: str,
    year_start: int = 2024,
    year_end: int = 2025,
    prefilter_cutoff: int = 85,
    score_cutoff: int = 85,
    row_key: str | None = None,
    max_block: int | None = None,
    lease_stale_after: float = 3600.0,
) -> None:
    """Index maintenance IN the ingest loop (round-11 VERDICT ask #6):
    payroll deltas landing mid-stream extend the persisted title index
    and back-fill the matches the postings probes could not have seen.
    Per payroll micro-batch ``j``:

    1. ``operators.fuzzy.extend_title_index`` computes the index
       append-delta (in the persisted index's lane) against the index
       as of the OTHER generations and overwrites ``{index_dir}/g{j}``
       (replay reproduces identical content - reading its own prior
       output would emit an empty delta and lose the generation under
       the overwrite);
    2. the raw batch rows archive to ``{payroll_dir}/d{j}`` so later
       postings probes can re-attach them. ``d{j}`` is the batch's
       ATOMIC COMMIT POINT (staging write + dir rename, after
       ``g{j}``): until it lands the ingest treats the whole batch as
       nonexistent (``_visible_maintenance``'s pairing rule), so a
       crash between the two writes tears nothing - the replay
       overwrites both and the back-fill still covers every batch
       exactly once;
    3. the CROSS TERM lands: this is the ΔP side of the bilinear
       Δ(A⋈P) = ΔA⋈P ∪ A⋈ΔP decomposition - the batch's titles
       (ALL of them, not only index-new ones: a new payroll ROW under
       an existing title is still a new match) probe every archived
       postings batch whose recorded generation set predates ``j``,
       re-attaching ONLY this batch's rows, and the matches overwrite
       ``{matches_dir}/p{j}``. Postings batches that arrive later see
       generation ``j`` in their own probe, so each (posting, payroll
       row) pair lands exactly once - interleaved postings/payroll
       batches reproduce the one-shot re-match over the unions
       row-for-row (tested).

    Per-batch cost: O(|Δpayroll| index build + archived-postings keys
    ⋈ batch-sized title index) - the batch-title index is tiny, so AQE
    broadcasts it and the postings side never shuffles by key.

    Single-writer RULE (same as the IVM sinks): alternate this sink
    with ``run_fuzzy_match_ingest`` (availableNow cadences), never run
    the two concurrently - the exactly-once bookkeeping reads the
    other sink's on-disk state. Since round 13 the rule is MECHANICAL:
    every lifecycle entry point acquires the shared lease at
    ``index_dir`` (``lease.lifecycle_lease``), heartbeats it per
    micro-batch, and refuses with LeaseHeldError while another step
    holds it; a holder stale past ``lease_stale_after`` (a crashed
    cron) is taken over, so a dead writer never wedges the weekly
    cadence. Per-posting-row ``limit`` does NOT
    compose with payroll deltas (a new payroll row can displace an
    earlier top-N member), so this sink refuses matches_dir batches
    that were produced with one. Same checkpoint-identity guard as the
    ingest sink (marker ``_checkpoint_id_maintenance``)."""
    with LS.lifecycle_lease(
        index_dir, "run_fuzzy_index_maintenance", lease_stale_after
    ) as _lease:
        # the maintenance sink's batch numbering lives in THREE dirs: its
        # matches back-fills (p{id}), the index generations (g{id}) and the
        # payroll archives (d{id}) - a fresh checkpoint over any of them
        # renumbers batches against existing state (e.g. a new matches_dir
        # with a reused index/payroll pair would overwrite d0 with
        # re-batched rows while stale d1 doubles its payroll), so identity
        # is pinned and checked on all three. FOLDED batches count as
        # evidence (round-12 ADVICE): after a full compaction cadence the
        # live g{j}/d{j}/p{j} dirs are gone but their ids live on in the
        # bases - a fresh checkpoint's renumbered batch 0 would collide
        # with a folded id, its d0 rows invisible to read_payroll_corpus
        # and GC'd as dead by the next compact_payroll_corpus
        _guard_checkpoint(
            matches_dir, checkpoint_dir, "_checkpoint_id_maintenance", r"p\d+",
            folded=any(
                n.startswith("p") for n in _matches_manifest(matches_dir)["folded"]
            ),
        )
        _guard_checkpoint(
            index_dir, checkpoint_dir, "_checkpoint_id_maintenance", r"g\d+",
            folded=bool(FZ.title_index_folded_generations(index_dir)),
        )
        _guard_checkpoint(
            payroll_dir, checkpoint_dir, "_checkpoint_id_maintenance", r"d\d+",
            folded=bool(_payroll_manifest(payroll_dir)["folded_deltas"]),
        )

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            _lease.heartbeat()  # staleness clock per batch, not per run
            spark = batch_df.sparkSession
            pname = f"p{batch_id}"
            # cross-term bookkeeping FIRST - it validates the matches dir
            # (no-meta batches, limit-probed batches). Validating after the
            # g{j}/d{j} writes would leave a LIVE generation whose
            # back-fill never lands: later postings probes would see (and
            # record) generation j while the (old postings x d{j}) pairs
            # stay permanently missing.
            # a COMPLETED maintenance batch skips its replay outright (same
            # rule as the ingest: the p-meta lands last, so its presence
            # means g{j}, d{j}, the back-fill matches and the meta are all
            # complete, and recomputing after a compaction mutated the
            # bases would reconstruct the wrong inputs). The covered-empty
            # case writes no p-meta and recomputes from scratch - safe:
            # the recompute excludes by each batch's OWN meta, so batches
            # that saw the delta (live or compacted-in) never re-cover.
            if _read_batch_meta(matches_dir, pname) is not None:
                return
            covered = _covered_postings_batches(matches_dir, batch_id)
            # checkpoint pinning AFTER validation (a refused run must not
            # leave markers in dirs it never wrote - a later legitimate
            # fresh start would hit a false 'different checkpoint' lockout)
            # but BEFORE any write (the crash-window pinning rule)
            for d in (matches_dir, index_dir, payroll_dir):
                _record_checkpoint(d, checkpoint_dir, "_checkpoint_id_maintenance")
            gens_before = [
                g for g in FZ.list_index_generations(index_dir) if g != batch_id
            ]
            index_before = FZ.read_title_index(
                spark, index_dir, generations=gens_before
            )
            prepped = _prep_payroll(batch_df, year_start, year_end)
            delta_idx = FZ.extend_title_index(
                index_before, prepped, "title_description", max_block=max_block,
            )
            # g{j} first, then d{j} as the atomic COMMIT POINT (staging
            # write + dir rename): a crash in between leaves g{j} without
            # d{j}, which _visible_maintenance hides from the ingest, and
            # the replay overwrites both - no torn batch is ever readable
            delta_idx.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"g{batch_id}")
            )
            staged = os.path.join(payroll_dir, f"_d{batch_id}.staging")
            final = os.path.join(payroll_dir, f"d{batch_id}")
            batch_df.write.mode("overwrite").parquet(staged)
            if os.path.isdir(final):
                # removed-then-renamed: the brief d-less window reads as
                # "uncommitted" (safe direction), never as partial rows
                shutil.rmtree(final)
            os.rename(staged, final)
            if covered:
                posts = spark.read.parquet(
                    *[os.path.join(matches_dir, "src", f"b{i}") for i in covered]
                )
                # ALL batch titles, not the stored dedup delta: a new
                # payroll ROW under an existing title is still a new match.
                # extend-against-empty builds the batch-title index in
                # the persisted index's lane (read from its layout),
                # capped like the base when max_block is set.
                batch_index = FZ.extend_title_index(
                    index_before.limit(0), prepped, "title_description",
                    max_block=max_block,
                )
                matches = incremental_fuzzy_match_salary(
                    batch_df, batch_index, posts,
                    year_start=year_start, year_end=year_end,
                    prefilter_cutoff=prefilter_cutoff,
                    score_cutoff=score_cutoff,
                    limit=None, row_key=row_key,
                )
                matches.write.mode("overwrite").parquet(
                    os.path.join(matches_dir, pname)
                )
                _write_batch_meta(
                    matches_dir, pname,
                    {"batch_id": batch_id, "covered_batches": covered},
                )

        q = (
            stream_payroll.writeStream.foreachBatch(apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        for d in (matches_dir, index_dir, payroll_dir):
            _record_checkpoint(d, checkpoint_dir, "_checkpoint_id_maintenance")


def _write_fold(
    spark: SparkSession, root: str, dirs: list[str], new_base: str,
    target_bytes: int = 128 << 20,
) -> None:
    """Write the multiset union of ``root``'s ``dirs`` (the current base
    and the generations being folded) as the new base version,
    coalesced to ~``target_bytes`` per file (input bytes from a
    driver-side listing, no Spark job). Without the coalesce the union
    write PRESERVES its input partitioning - N folded dirs produce N
    output files, old-base files carry into every new base, and the
    file count the fold exists to retire instead grows additively per
    fold cycle (SCALING.md, "Round 13: small-files axis")."""
    paths = [os.path.join(root, d) for d in dirs]
    total = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for p in paths
        for dirpath, _dirnames, files in os.walk(p)
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    )
    corpus = spark.read.parquet(paths[0])
    for p in paths[1:]:
        corpus = corpus.unionByName(spark.read.parquet(p))
    corpus.coalesce(max(1, -(-total // target_bytes))).write.parquet(
        os.path.join(root, new_base)
    )


def compact_matches_corpus(
    spark: SparkSession,
    matches_dir: str,
    *,
    lease_dir: str | None,
    lease_stale_after: float = 3600.0,
) -> list[str]:
    """Fold completed per-batch match outputs into a versioned base -
    the matches side of the compaction cadence (round-12 VERDICT ask
    #1: ``read_ingested_matches`` otherwise unions every ``b{id}`` /
    ``p{id}`` dir ever written, hundreds of small dirs per year at the
    reference's weekly cron in the production read path - the exact
    shape :func:`compact_payroll_corpus` retired on the payroll side).
    Returns the dir names folded this run.

    Same crash-safe protocol as the payroll and index folds
    (``pipelines/versioned.py``): entry-time GC of both crash
    directions, the new base (current base ⊎ eligible batch
    rows - a pure multiset union, content identical to what readers
    already assembled) writes completely to a fresh ``mbase_v{n}``,
    then ONE atomic manifest swap commits it; cleanup past the commit
    point is unreferenced garbage the next entry GC finishes.

    Eligible = batch dirs whose ``_meta.json`` is on disk (the
    meta-lands-last rule: meta present means the rows are complete) and
    that the manifest has not already folded. A meta-less dir is a
    torn batch mid-crash - its replay overwrites it, so it stays.

    Batch HISTORY is preserved, not laundered: every folded dir stays
    on disk holding exactly its ``_meta.json`` (the parquet rows are
    removed), because the maintenance covered-set bookkeeping
    (:func:`_covered_postings_batches`) and both sinks' completed-
    batch replay skip read those metas, and the checkpoint guards
    count the dirs as batch evidence. Single-writer like every
    lifecycle step: never concurrent with either sink.

    ``lease_dir`` is a REQUIRED keyword: pass the lifecycle's
    ``index_dir`` to enforce single-writer through the shared
    mechanical lease, or an explicit ``None`` ONLY for a standalone
    matches dir outside any live lifecycle (no sinks that could write
    concurrently). Making the opt-out explicit keeps this the one
    lifecycle step that cannot silently run unleased by default."""
    ctx = (
        LS.lifecycle_lease(
            lease_dir, "compact_matches_corpus", lease_stale_after
        )
        if lease_dir is not None
        else nullcontext()
    )
    with ctx as lease:
        man = _matches_manifest(matches_dir)
        new_base = VB.begin(
            matches_dir, man["base"], "mbase", man["folded"], keep=_BATCH_META
        )
        eligible = [
            d for d in _unfolded_batches(matches_dir, man)
            if _read_batch_meta(matches_dir, d) is not None
        ]
        if not eligible:
            return []
        _write_fold(
            spark, matches_dir,
            ([man["base"]] if man["base"] else []) + eligible, new_base,
        )
        VB.commit(
            matches_dir, _MATCHES_MANIFEST,
            {"base": new_base, "folded": sorted(set(man["folded"]) | set(eligible))},
            man["base"], eligible, keep=_BATCH_META, lease=lease,
        )
        return eligible


def read_ingested_matches(spark: SparkSession, matches_dir: str) -> DataFrame:
    """All matches produced by ``run_fuzzy_match_ingest`` plus the
    payroll-delta back-fills from ``run_fuzzy_index_maintenance``: the
    manifest's compacted base (when :func:`compact_matches_corpus` has
    run) unioned with the still-unfolded ``b{id}`` / ``p{id}``
    per-batch subdirectories. Folded dirs hold only their meta and
    read through the base - the multiset is unchanged."""
    man = _matches_manifest(matches_dir)
    paths = [
        os.path.join(matches_dir, d)
        for d in ([man["base"]] if man["base"] else [])
        + _unfolded_batches(matches_dir, man)
    ]
    if not paths:
        raise ValueError(f"no ingested match batches under {matches_dir}")
    return spark.read.parquet(*paths)


def lifecycle_status(
    index_dir: str,
    payroll_dir: str | None = None,
    matches_dir: str | None = None,
    lease_stale_after: float = 3600.0,
) -> dict:
    """One driver-side view of a whole lifecycle deployment - the
    runbook's monitor step as a function. METADATA ONLY: file
    listings, json manifests and parquet footers; no SparkSession, no
    jobs - safe from any monitor at any cadence (same cost class as
    ``title_index_occupancy``'s caller-side checks, minus the Spark
    session).

    Returns ``{"lease", "index", "payroll", "matches", "actions"}``:
    each section is raw state; ``actions`` is the recommended next
    moves in runbook order (``compact_index`` when generations are
    pending, ``rebucket_on_next_compaction`` when
    :func:`~..operators.fuzzy.suggest_index_buckets` disagrees with
    the persisted count, ``fold_payroll`` / ``fold_matches`` when
    eligible batches await, ``investigate_lease`` when the lease file
    is unreadable or older than ``lease_stale_after`` - pass the SAME
    value the entry points use; the advice is sized by it - meaning a
    crashed writer the next cron will take over, or a clock problem).
    Each store section lists its ``litter``: the version dirs its
    manifest does not name (``pipelines.versioned.litter``, one rule
    for all three), left by a fold that crashed; a store with litter
    adds ``compact_index_crashed_previously`` /
    ``fold_payroll_crashed_previously`` /
    ``fold_matches_crashed_previously`` - the next such fold's entry GC
    removes it.

    The monitor holds no lease, so a compaction can move the index
    under the read: transient races surface as
    ``index["stats_unavailable"] = True`` for that tick (bucket
    fields absent), never as a crash."""
    actions: list[str] = []

    lease_path = os.path.join(index_dir, LS._LEASE)
    lease: dict | None = None
    try:
        with open(lease_path) as f:
            holder = json.load(f)
    except FileNotFoundError:
        holder = False  # no lease at all (also: released mid-read)
    except (OSError, ValueError):
        holder = None  # present but unreadable
    if holder is not False:
        try:
            age = time.time() - os.path.getmtime(lease_path)
        except OSError:
            age = None  # released between the read and the stat
        if age is not None:
            lease = {"holder": holder, "heartbeat_age_s": round(age, 1)}
            if holder is None or age > lease_stale_after:
                actions.append("investigate_lease")

    meta = FZ.title_index_meta(index_dir) or {}
    folded_gens = sorted(meta.get("folded_generations", []))
    live_gens = [
        g for g in FZ.list_index_generations(index_dir) if g not in folded_gens
    ]
    index: dict = {
        "format": meta.get("format", "legacy"),
        "rebuilding": bool(meta.get("rebuilding")),
        "generations_pending": live_gens,
        "folded_generations": folded_gens,
        "litter": VB.litter(index_dir, meta.get("base"), "base"),
    }
    if live_gens:
        actions.append("compact_index")
    if meta.get("format") == "bucketed" and not meta.get("rebuilding"):
        try:
            stats = FZ.title_index_bucket_stats(index_dir)
            suggestion = FZ.suggest_index_buckets(index_dir, stats=stats)
        except (OSError, ValueError):
            # the monitor holds no lease: a concurrent compaction can
            # clear generations / rewrite the base under this read.
            # One stale tick beats a crashed monitor.
            index["stats_unavailable"] = True
        else:
            index.update({
                "n_buckets": stats["n_buckets"],
                "rows": stats["rows"],
                "bytes": stats["bytes"],
                "max_bucket_rows": stats["max_bucket_rows"],
                "generation_rows": stats["generation_rows"],
                "suggested_n_buckets": suggestion,
            })
            if suggestion != stats["n_buckets"]:
                actions.append("rebucket_on_next_compaction")

    payroll: dict | None = None
    if payroll_dir is not None:
        man = _payroll_manifest(payroll_dir)
        live = list_payroll_deltas(payroll_dir)
        eligible = sorted(
            (set(index["folded_generations"]) & set(live))
            - set(man["folded_deltas"])
        )
        payroll = {
            "base": man["base"],
            "folded_deltas": man["folded_deltas"],
            "deltas_pending": live,
            "fold_eligible": eligible,
            "litter": VB.litter(payroll_dir, man["base"], "base"),
        }
        if eligible:
            actions.append("fold_payroll")

    matches: dict | None = None
    if matches_dir is not None:
        man = _matches_manifest(matches_dir)
        unfolded = _unfolded_batches(matches_dir, man)
        torn = [d for d in unfolded if _read_batch_meta(matches_dir, d) is None]
        matches = {
            "base": man["base"],
            "folded": len(man["folded"]),
            "unfolded": unfolded,
            "torn": torn,
            "litter": VB.litter(matches_dir, man["base"], "mbase"),
        }
        if set(unfolded) - set(torn):
            actions.append("fold_matches")

    # a version dir the manifest does not name is litter from a fold
    # that crashed: harmless (the next fold's entry GC removes it), but
    # worth surfacing
    for step, store in (
        ("compact_index", index), ("fold_payroll", payroll), ("fold_matches", matches)
    ):
        if store and store["litter"]:
            actions.append(f"{step}_crashed_previously")

    return {
        "lease": lease,
        "index": index,
        "payroll": payroll,
        "matches": matches,
        "actions": actions,
    }
