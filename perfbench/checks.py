"""Output checks: GOLD content hashes and the ETL invariants."""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

from workloads import DURATIONS, GOLD_TABLES, MATCHES, Env

from nyc_government_hiring_audit_data_platform_spark.pipelines import catalog as CAT

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_gold.json")


def _row_key(row: dict) -> bytes:
    return json.dumps([row[k] for k in sorted(row)], default=repr).encode()


def content_hash(rows: list[dict]) -> str:
    """Order-independent hash of a table's rows (sum of row digests)."""
    total = 0
    for row in rows:
        total += int.from_bytes(hashlib.blake2b(_row_key(row), digest_size=8).digest(), "big")
    return f"{len(rows)}:{total % (1 << 64):016x}"


def collect_gold(env: Env) -> dict[str, list[dict]]:
    return {t: [r.asDict() for r in env.table(CAT.GOLD, t).collect()] for t in GOLD_TABLES}


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def etl_problems(env: Env, gold: dict[str, list[dict]], cutoff: int) -> tuple[list[str], int]:
    """Every match is in its salary band and at or above the cutoff,
    GOLD-unique has one row per title, GOLD row counts match BRONZE.
    Returns the problems found and the BRONZE match row count."""
    matches = env.table(CAT.BRONZE, MATCHES)
    row = matches.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~((F.col("base_salary") >= F.col("salary_range_from"))
                       & (F.col("base_salary") <= F.col("salary_range_to"))
                       & (F.col("score") >= cutoff)), 1).otherwise(0)).alias("bad"),
        F.countDistinct("business_title").alias("titles"),
    ).collect()[0]
    durations = env.table(CAT.BRONZE, DURATIONS)
    n_durations = durations.count()
    n_durations_distinct = durations.select(
        "business_title", "lightcast_matched_occupation",
        "Total Postings (Jan 2024 - Jun 2025)", "Median Posting Duration",
    ).distinct().count()
    unique = gold["nyc_salary_matches_unique_job_posting_title"]
    problems = [] if row["n"] else ["the refresh matched nothing"]
    if row["bad"]:
        problems.append(f"{row['bad']} matches outside their band or below {cutoff}")
    if len({r["posted_job_title"] for r in unique}) != len(unique):
        problems.append("GOLD unique table repeats a title")
    expect = {
        "nyc_salary_matches": row["n"],
        "nyc_matched_job_posting_duration_SOC": n_durations,
        "nyc_salary_matches_unique_job_posting_title": row["titles"],
        "nyc_matched_job_posting_duration_SOC_unique_title": n_durations_distinct,
    }
    for table, n in expect.items():
        if len(gold[table]) != n:
            problems.append(f"GOLD {table} has {len(gold[table])} rows, BRONZE implies {n}")
    return problems, row["n"]


def hash_problems(hashes: dict[str, str], reference: dict[str, str]) -> list[str]:
    return [f"GOLD {t} hash {hashes[t]} != recorded {reference[t]}"
            for t in GOLD_TABLES if hashes[t] != reference[t]]
