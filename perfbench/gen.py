"""Seeded input generator for the hiring-audit benchmark.

Writes the three landed sources of the weekly cron as parquet, with
pyarrow only (no Spark), so the program under test receives nothing but
files:

- ``payroll.parquet``   - ``nyc_payroll_data``: string fiscal_year,
  title variants with Zipf-skewed occupancy (the hottest title, which
  has postings, holds a fifth to a quarter of the rows: the shape of the
  reference's 612,076-record group), null and empty titles, null and
  negative pay columns.
- ``postings.parquet``  - ``nyc_job_postings_data``: titles that
  straddle the 85 cutoff, inverted and null salary bands, unparseable
  ``posting_date`` and null ``post_until``.
- ``lightcast.parquet`` - ``lightcast_top_posted_occupations_SOC`` with
  the reference's exotic column names kept verbatim.
- ``delta_postings.parquet`` (when ``delta_postings > 0``) - one weekly
  postings batch drawn from the same title families.

The seed changes values and row order only, never the shape of the work:
titles, rows per title, which payroll rows fall in the fiscal-year
window, salary bands (whole thousands, fixed per posting index) and the
thousand each payroll salary falls in are fixed, and the seed picks the
cents, years, dates, pay columns and the order of the rows. So every seed
scores the same title pairs and yields the same number of matches, and
runs on different seeds time the same work. (Seeded title words would
not do: the words move WRatio scores across the cutoff, and with them
the match volume, by up to 2x.)

The same (seed, sizes) always yields byte-identical files. Run as a
script to write one input set: ``python3 perfbench/gen.py OUT_DIR --seed 1``.
"""

from __future__ import annotations

import argparse
import dataclasses
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

STEMS = [
    "accountant", "administrative assistant", "agency attorney", "analyst",
    "assistant commissioner", "budget analyst", "city planner",
    "civil engineer", "community coordinator", "computer specialist software",
    "correction officer", "deputy director", "director of operations",
    "electrical engineer", "emergency medical specialist",
    "environmental scientist", "executive agency counsel", "firefighter",
    "health inspector", "hr specialist", "investigator", "legal coordinator",
    "maintenance worker", "mechanical engineer", "nurse practitioner",
    "paralegal aide", "police officer", "project manager construction",
    "public health adviser", "registered nurse", "sanitation worker",
    "senior data scientist", "social worker", "software engineer",
    "staff analyst", "systems administrator", "tax auditor", "urban designer",
    "youth counselor", "bridge painter", "claims specialist",
    "contract specialist", "park supervisor", "school safety agent",
    "traffic enforcement agent", "housing inspector", "plumber",
    "laboratory microbiologist",
]

MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
          "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]

PAYROLL_SCHEMA = pa.schema([
    ("fiscal_year", pa.string()),
    ("title_description", pa.string()),
    ("base_salary", pa.float64()),
    ("pay_basis", pa.string()),
    ("regular_gross_paid", pa.float64()),
    ("total_ot_paid", pa.float64()),
    ("total_other_pay", pa.float64()),
])
POSTINGS_SCHEMA = pa.schema([
    ("business_title", pa.string()),
    ("salary_range_from", pa.float64()),
    ("salary_range_to", pa.float64()),
    ("posting_date", pa.string()),
    ("post_until", pa.string()),
])
LIGHTCAST_SCHEMA = pa.schema([
    ("Occupation (SOC)", pa.string()),
    ("Total Postings (Jan 2024 - Jun 2025)", pa.int64()),
    ("Median Posting Duration", pa.float64()),
])


@dataclasses.dataclass(frozen=True)
class Sizes:
    payroll_rows: int
    payroll_stems: int      # title families on the payroll side
    payroll_variants: int   # distinct spellings per payroll family
    posting_rows: int
    posting_stems: int      # families on the postings side (payroll's first N)
    posting_variants: int
    lightcast_rows: int
    delta_postings: int = 0
    zipf_s: float = 1.1


# Full: ~1030 candidate pairs cost 2-3 s of pure-Python WRatio scoring
# in a refresh of ~10 s on a 4-core host; Spark's fixed per-job cost is
# most of the rest. Delta: a larger corpus than full, so that its refresh cost
# is seen to follow the 24-row batch, not the corpus. BENCHMARK.json and
# README.md list the same sizes.
SIZES = {
    "weekly_full_refresh": Sizes(
        payroll_rows=2500, payroll_stems=16, payroll_variants=3,
        posting_rows=160, posting_stems=8, posting_variants=2,
        lightcast_rows=48,
    ),
    "weekly_delta_refresh": Sizes(
        payroll_rows=8000, payroll_stems=40, payroll_variants=4,
        posting_rows=400, posting_stems=36, posting_variants=3,
        lightcast_rows=48, delta_postings=24,
    ),
}


def _payroll_variant(stem: str, form: int) -> str:
    words = stem.split()
    forms = [
        stem,
        stem.upper(),
        f"{stem.title()}.",
        f"senior {stem}",
        f"{stem} ii",
        " ".join(reversed(words)) if len(words) > 1 else f"{stem} level 2",
        f"{words[0]},  {' '.join(words[1:])}" if len(words) > 1 else f"asst {stem}",
        f"assistant {stem}",
    ]
    return forms[form % len(forms)]


def _posting_variant(stem: str, form: int) -> str:
    words = stem.split()
    forms = [
        stem.title(),
        " ".join(reversed(words)).title(),
        f"{stem} (levels i-ii)",
        f"{stem} (provisional)",
        f"{words[0]} trainee distinct role",
    ]
    return forms[form % len(forms)]


def _title_families(sizes: Sizes) -> tuple[list[str], list[str], list[str]]:
    """(payroll titles in Zipf rank order, posting titles, lightcast
    occupations), the same for every seed. Postings draw from the payroll
    families, so every posting family can match; Zipf ranks alternate
    between families with postings and families without."""
    stems = STEMS[: max(sizes.payroll_stems, sizes.posting_stems)]
    posted, unposted = stems[: sizes.posting_stems], stems[sizes.posting_stems: sizes.payroll_stems]
    by_rank = [s for pair in zip(posted, unposted) for s in pair]
    by_rank += [s for s in posted + unposted if s not in by_rank]
    pay = [_payroll_variant(stem, k + j)
           for j in range(sizes.payroll_variants) for k, stem in enumerate(by_rank)]
    post = [_posting_variant(stem, k + j)
            for k, stem in enumerate(posted) for j in range(sizes.posting_variants)]
    occ = [s.title() + ("" if s.endswith("s") else "s") for s in STEMS[::-1]]
    return pay, post, occ


def _zipf_counts(n_rows: int, n_titles: int, s: float) -> list[int]:
    """Rows per Zipf rank, summing to ``n_rows`` (largest remainder)."""
    w = [1.0 / (r + 1) ** s for r in range(n_titles)]
    exact = [n_rows * x / sum(w) for x in w]
    counts = [int(x) for x in exact]
    by_remainder = sorted(range(n_titles), key=lambda r: counts[r] - exact[r])
    for r in by_remainder[: n_rows - sum(counts)]:
        counts[r] += 1
    return counts


def _payroll(rng: random.Random, ranked: list[str], sizes: Sizes) -> pa.Table:
    """Row j of a title gets its fixed shape - in the fiscal-year window
    or not, its salary's thousand - and seeded values; the rows are then
    shuffled. One row in 97 has an empty title and one in 131 a null one."""
    titles = [t for t, n in zip(ranked, _zipf_counts(sizes.payroll_rows, len(ranked), sizes.zipf_s))
              for _ in range(n)]
    titles = [("" if i % 97 == 0 else None) if i % 97 == 0 or i % 131 == 0 else t
              for i, t in enumerate(titles)]
    seen: dict[str | None, int] = {}
    rows = []
    for i, title in enumerate(titles):
        j = seen[title] = seen.get(title, -1) + 1
        in_window = j % 7 not in (0, 6)  # EP2a keeps fiscal years 2024-2025
        year = rng.choice([2024, 2025] if in_window else [2022, 2023, 2026])
        # strictly inside thousand k, so a whole-thousand band edge never
        # ties with it
        base = 30_000 + 1_000 * ((j * 37) % 150) + rng.randrange(1, 1_000)
        rows.append({
            "fiscal_year": str(year),
            "title_description": title,
            "base_salary": None if i % 53 == 0 else float(base),
            "pay_basis": rng.choice(["per Annum", "per Hour", "per Day"]),
            "regular_gross_paid": None if i % 71 == 0 else round(rng.uniform(-5_000, 150_000), 2),
            "total_ot_paid": round(rng.uniform(0, 30_000), 2) if i % 3 else 0.0,
            "total_other_pay": round(rng.uniform(-2_000, 20_000), 2),
        })
    rng.shuffle(rows)
    return pa.Table.from_pylist(rows, schema=PAYROLL_SCHEMA)


def _postings(rng: random.Random, titles: list[str], n_rows: int, first: int = 0) -> pa.Table:
    """Posting ``first + i`` has a fixed title and salary band; the seed
    picks its dates."""
    cols = {f.name: [] for f in POSTINGS_SCHEMA}
    for i in range(first, first + n_rows):
        title = None if i % 89 == 88 else titles[i % len(titles)]
        lo = 35_000 + 1_000 * ((i * 29) % 86)
        hi = lo + 1_000 * ((i * 13) % 80)
        if i % 41 == 40:
            lo, hi = hi, lo
        if i % 37 == 36:
            lo = None
        day, month = rng.randrange(1, 28), rng.randrange(1, 13)
        frac = ".000" if i % 2 else ""
        posting_date = f"2024-{month:02d}-{day:02d}T00:00:00{frac}"
        if i % 29 == 28:
            posting_date = "not-a-date"
        if i % 23 == 22:
            post_until = None
        else:
            post_until = f"{day:02d}-{MONTHS[(month + i % 3) % 12]}-{2024 + i % 2}"
        cols["business_title"].append(title)
        cols["salary_range_from"].append(None if lo is None else float(lo))
        cols["salary_range_to"].append(float(hi))
        cols["posting_date"].append(posting_date)
        cols["post_until"].append(post_until)
    return pa.table(cols, schema=POSTINGS_SCHEMA)


def _lightcast(rng: random.Random, occupations: list[str], n_rows: int) -> pa.Table:
    rows = [occupations[i % len(occupations)] for i in range(n_rows)]
    return pa.table({
        "Occupation (SOC)": rows,
        "Total Postings (Jan 2024 - Jun 2025)": [rng.randrange(1_000, 90_000) for _ in rows],
        "Median Posting Duration": [
            None if i % 17 == 16 else round(rng.uniform(10, 60), 1) for i in range(n_rows)
        ],
    }, schema=LIGHTCAST_SCHEMA)


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict[str, str]:
    """Write the input set for ``seed`` under ``out_dir``; returns
    source name -> parquet path."""
    os.makedirs(out_dir, exist_ok=True)
    pay_titles, post_titles, occupations = _title_families(sizes)
    tables = {
        "payroll": _payroll(random.Random(f"payroll-{seed}"), pay_titles, sizes),
        "postings": _postings(random.Random(f"postings-{seed}"), post_titles, sizes.posting_rows),
        "lightcast": _lightcast(random.Random(f"lightcast-{seed}"), occupations, sizes.lightcast_rows),
    }
    if sizes.delta_postings:
        tables["delta_postings"] = _postings(
            random.Random(f"delta-{seed}"), post_titles[::-1], sizes.delta_postings, first=sizes.posting_rows
        )
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", default="weekly_full_refresh")
    args = ap.parse_args()
    for name, path in generate(args.out_dir, args.seed, SIZES[args.workload]).items():
        print(name, path, os.path.getsize(path))


if __name__ == "__main__":
    main()
