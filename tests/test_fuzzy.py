"""Fuzzy-join operator and domain-pipeline tests.

The reference has no test suite (SURVEY.md §5), so correctness here is
defined by (a) pinned scorer values from the published fuzzywuzzy
algorithm, (b) blocked-join completeness vs a brute-force all-pairs
reference, and (c) pipeline invariants from the reference's semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
    fuzzy_title_pairs,
    partial_ratio,
    simple_ratio,
    token_set_ratio,
    token_sort_ratio,
    wratio,
)
from nyc_government_hiring_audit_data_platform_spark.pipelines import hiring_audit as HA


# -- scorers (pinned values) -------------------------------------------------


def test_simple_ratio_pinned():
    assert simple_ratio("", "") == 100.0
    assert simple_ratio("abc", "") == 0.0
    assert simple_ratio("analyst", "analyst") == 100.0
    # lcs('analyst','anlayst') = 6 ('anayst'/'anlyst') -> 200*6/14
    assert simple_ratio("analyst", "anlayst") == pytest.approx(85.714285, abs=1e-4)
    assert simple_ratio("abcd", "efgh") == 0.0


def test_partial_ratio_window():
    assert partial_ratio("engineer", "civil engineer") == 100.0
    assert partial_ratio("", "") == 100.0
    assert partial_ratio("abc", "xbcdef") == pytest.approx(200.0 * 2 / 6, abs=1e-9)


def test_token_set_ratio_reorder_and_subset():
    assert token_set_ratio("budget analyst", "analyst budget") == 100.0
    # subset: intersection vs intersection+diff -> 100 on the first term
    assert token_set_ratio("analyst", "senior analyst") == 100.0
    # disjoint tokens fall back to char ratio (NOT zero) - this is why
    # blocking needs the 4-gram union
    assert token_set_ratio("analyst", "analysts") > 90.0


def test_published_library_examples():
    """Pins against the published fuzzywuzzy/rapidfuzz documentation
    examples (the reference calls the real library,
    src/fuzzy_match_salary.py:119-140; these are its documented outputs,
    so any branch drift vs the real scorer surfaces here)."""
    # fuzzywuzzy README: fuzz.ratio("this is a test", "this is a test!") == 97
    # (rapidfuzz returns the unrounded 96.5517...)
    assert simple_ratio("this is a test", "this is a test!") == pytest.approx(
        200.0 * 14 / 29, abs=1e-9
    )
    assert int(round(simple_ratio("this is a test", "this is a test!"))) == 97
    # fuzzywuzzy README: fuzz.partial_ratio("this is a test",
    #                                       "this is a test!") == 100
    assert partial_ratio("this is a test", "this is a test!") == 100.0
    # fuzzywuzzy README: token_sort_ratio("fuzzy wuzzy was a bear",
    #                                     "wuzzy fuzzy was a bear") == 100
    assert token_sort_ratio("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear") == 100.0
    # fuzzywuzzy README: token_set_ratio("fuzzy was a bear",
    #                                    "fuzzy fuzzy was a bear") == 100
    assert token_set_ratio("fuzzy was a bear", "fuzzy fuzzy was a bear") == 100.0


def test_wratio_branch_coverage():
    """Exact expected values for each WRatio length-ratio branch, worked
    from the published algorithm (try_partial / partial_scale /
    unbase_scale constants - fuzzywuzzy fuzz.py WRatio).

    len_ratio < 1.5 branch: "this is a test" (14) vs
    "this is a new test" (18), ratio 1.286:
      base  = 200*14/32                  = 87.5
      sort  = ratio("a is test this", "a is new test this")*0.95
            = 87.5*0.95                  = 83.125
      set   = 100*0.95 (a's tokens are a subset of b's) = 95  <- max
    """
    assert wratio("this is a test", "this is a new test") == pytest.approx(95.0)

    # 1.5 <= len_ratio < 8 branch (partial_scale=0.9): "data analyst" (12)
    # vs "senior data analyst ii" (22), ratio 1.83: base=200*24/34=70.6;
    # partial=100 (exact 12-char window at offset 7) * 0.9 = 90  <- max;
    # sort/set partial variants cap at 100*0.95*0.9 = 85.5
    assert wratio("data analyst", "senior data analyst ii") == pytest.approx(90.0)

    # len_ratio >= 8 branch (partial_scale=0.6): "analyst" (7) vs 8
    # repetitions (63 chars), ratio 9: base=200*7/70=20; partial=100*0.6
    # = 60  <- max; sort/set partial variants cap at 100*0.95*0.6 = 57
    assert wratio("analyst", " ".join(["analyst"] * 8)) == pytest.approx(60.0)

    # boundary: equal lengths stay on the token branch (ratio 1.0 < 1.5)
    assert wratio("budget analyst", "analyst budget") == pytest.approx(95.0)


def test_wratio_bounds_and_symmetry():
    for a, b in [
        ("civil engineer", "civil engineer"),
        ("analyst", "budget analyst"),
        ("police officer", "police oficer"),
        ("registered nurse", "nurse practitioner"),
    ]:
        s = wratio(a, b)
        assert 0.0 <= s <= 100.0
        assert s == pytest.approx(wratio(b, a), abs=1e-9)
    assert wratio("civil engineer", "civil engineer") == 100.0


# -- blocked join completeness ----------------------------------------------


def test_blocked_join_matches_bruteforce(spark):
    """The token+4gram blocked fuzzy join must find exactly the pairs a
    brute-force all-pairs scorer finds (prefilter 85, cutoff 85)."""
    left = HA.make_postings_fixture(spark, 120).select("business_title")
    right = HA.make_payroll_fixture(spark, 400).select("title_description")

    got = {
        (r["left_title"], r["right_title"], r["score"])
        for r in fuzzy_title_pairs(
            left, right, "business_title", "title_description", 85, 85
        ).collect()
    }

    from nyc_government_hiring_audit_data_platform_spark.functions.text import (
        normalize_text,
    )

    lts = [
        (r[0], r[1])
        for r in left.where(F.col("business_title").isNotNull())
        .distinct()
        .withColumn("n", normalize_text(F.col("business_title")))
        .collect()
    ]
    rts = [
        (r[0], r[1])
        for r in right.where(F.col("title_description").isNotNull())
        .distinct()
        .withColumn("n", normalize_text(F.col("title_description")))
        .collect()
    ]
    want = set()
    for lt, ln in lts:
        for rt, rn in rts:
            # stage 1 rounds (uint8 cdist parity); stage 2 compares the
            # unrounded WRatio (reference :136-140) and rounds for output
            if int(round(token_set_ratio(ln, rn))) >= 85:
                s = wratio(ln, rn)
                if s >= 85:
                    want.add((lt, rt, int(round(s))))
    assert got == want


# -- pipeline invariants -----------------------------------------------------


@pytest.fixture(scope="module")
def pipeline_tables(spark):
    tables = HA.run_pipeline(spark)
    # materialize the expensive shared stage once
    tables["payroll_to_jobs_title_fuzzy_matches"] = tables[
        "payroll_to_jobs_title_fuzzy_matches"
    ].cache()
    return tables


def test_match_schema_and_band(pipeline_tables):
    m = pipeline_tables["payroll_to_jobs_title_fuzzy_matches"]
    assert m.columns == HA.MATCH_COLUMNS
    rows = m.collect()
    assert len(rows) > 0
    for r in rows:
        # salary-band invariant (reference: src/fuzzy_match_salary.py:144-154)
        assert r["salary_range_from"] <= r["base_salary"] <= r["salary_range_to"]
        assert r["score"] >= 85
        # imputation guarantees post_until is never null after prep
        assert r["post_until"] is not None
        # reformatted posting_date has no fractional seconds
        assert "." not in r["posting_date"]


def test_gold_unique_is_unique(pipeline_tables):
    g = pipeline_tables["gold_salary_matches_unique"]
    n = g.count()
    assert n == g.select("posted_job_title").distinct().count()


def test_gold_salary_matches_duration(pipeline_tables):
    g = pipeline_tables["gold_salary_matches"]
    rows = g.select("posting_date", "post_until", "posting_duration_days").collect()
    assert any(r["posting_duration_days"] == 30 for r in rows)  # imputed rows
    for r in rows:
        assert r["posting_duration_days"] is not None


def test_durations_thresholds(pipeline_tables):
    d = pipeline_tables["jobs_to_lightcast_title_fuzzy_matches"]
    for r in d.select("lightcast_match_score").collect():
        assert r["lightcast_match_score"] >= 75


def test_bronze_lineage(pipeline_tables):
    b = pipeline_tables["bronze_postings"]
    rows = b.select("_source_file", "_record_id").collect()
    assert all(r["_source_file"] == "nyc_job_postings_data.parquet" for r in rows)
    ids = sorted(r["_record_id"] for r in rows)
    assert ids == list(range(1, len(rows) + 1)) or len(set(ids)) == len(ids)


def test_limit_path(spark):
    """Top-N limit path is keyed per posting ROW (reference keys
    matches_by_job by job_index): a title appearing on k posting rows may
    emit up to k*limit matches, never more."""
    payroll = HA.make_payroll_fixture(spark, 400)
    postings = HA.make_postings_fixture(spark, 80)
    m = HA.fuzzy_match_salary(payroll, postings, limit=2)
    rows_per_title = {
        r["business_title"]: r["count"]
        for r in postings.groupBy("business_title").count().collect()
    }
    per_title = m.groupBy("business_title").count().collect()
    for r in per_title:
        assert r["count"] <= 2 * rows_per_title[r["business_title"]], r
    # and the limit path only ever emits in-band rows
    for r in m.collect():
        assert r["salary_range_from"] <= r["base_salary"] <= r["salary_range_to"]


def test_limit_band_filter_precedes_topn(spark):
    """Reference ordering regression (src/fuzzy_match_salary.py:144-158):
    only IN-BAND candidates enter the per-posting top-N, so an
    out-of-band perfect scorer must not evict an in-band match."""
    postings = spark.createDataFrame(
        [("data analyst", 50000.0, 60000.0, "2024-03-01T00:00:00.000", "01-JUN-2024")],
        "business_title string, salary_range_from double, salary_range_to double, "
        "posting_date string, post_until string",
    )
    payroll = spark.createDataFrame(
        [
            # exact title match (score 100) but salary OUT of band
            ("2024", "data analyst", 100000.0, "per Annum", 1.0, 0.0, 0.0),
            # weaker (but >=85) match, salary IN band
            ("2024", "data analyst junior", 55000.0, "per Annum", 1.0, 0.0, 0.0),
        ],
        "fiscal_year string, title_description string, base_salary double, "
        "pay_basis string, regular_gross_paid double, total_ot_paid double, "
        "total_other_pay double",
    )
    m = HA.fuzzy_match_salary(payroll, postings, limit=1).collect()
    assert len(m) == 1
    assert m[0]["title_description"] == "data analyst junior"
    # the old filter-after-topn ordering would have sliced to the
    # out-of-band 100-scorer and emitted nothing


def test_pipeline_gold_serves_through_registry(pipeline_tables):
    """EP3 -> EP4 end-to-end: the pipeline's GOLD tables registered on
    the reference's dataset ids, listed and fetched through the serving
    functions (dashboard view included)."""
    from nyc_government_hiring_audit_data_platform_spark.serving import reports as SRV

    saved = dict(SRV._REGISTRY)
    SRV._REGISTRY.clear()
    try:
        SRV.register_pipeline(pipeline_tables)
        listing = SRV.list_datasets()
        assert [d["id"] for d in listing] == [0, 1, 2, 3]
        assert listing[2]["report"] == "nyc_salary_matches_unique_job_posting_title"
        rows = SRV.fetch_single_dataset("2", 0, 750_000)  # streamlit's dataset 2
        assert len(rows) == pipeline_tables["gold_salary_matches_unique"].count()
        view = SRV.dashboard_view(
            pipeline_tables["gold_salary_matches_unique"], col="match_score"
        )
        assert view["rows_total"] == len(rows)
        assert view["bounds"][0] >= 85  # pipeline cutoff floor
    finally:
        SRV._REGISTRY.clear()
        SRV._REGISTRY.update(saved)


def test_gold_sql_path_matches_dataframe_path(pipeline_tables):
    """sql/cleaned.sql ported to spark.sql must agree with the DataFrame
    GOLD builders row-for-row (SURVEY §7.1.6 cross-check)."""
    matches = pipeline_tables["payroll_to_jobs_title_fuzzy_matches"]
    durations = pipeline_tables["jobs_to_lightcast_title_fuzzy_matches"]
    spark = matches.sparkSession
    sql_tables = HA.gold_tables_sql(spark, matches, durations)
    df_tables = {
        "nyc_salary_matches": HA.gold_salary_matches(matches),
        "nyc_matched_job_posting_duration_SOC": HA.gold_durations(durations),
        "nyc_salary_matches_unique_job_posting_title": HA.gold_salary_matches_unique(
            matches
        ),
        "nyc_matched_job_posting_duration_SOC_unique_title": HA.gold_durations_unique(
            durations
        ),
    }
    for name, sdf in sql_tables.items():
        ddf = df_tables[name]
        assert sorted(sdf.columns) == sorted(ddf.columns), name
        s = sorted(map(tuple, sdf.select(*sorted(sdf.columns)).collect()))
        d = sorted(map(tuple, ddf.select(*sorted(ddf.columns)).collect()))
        assert s == d, f"{name}: SQL path != DataFrame path"


def test_date_parse_null_on_failure_under_ansi(spark):
    """The driver runs a plain Spark 4 session where ANSI is ON and
    to_timestamp/to_date THROW on unparseable input; the engine's parse
    helpers must keep the reference's null-on-failure contract there
    (round-2 regression: gold_salary_matches_unique crashed on the
    'not-a-date' fixture rows in an ANSI session)."""
    from nyc_government_hiring_audit_data_platform_spark.functions import dates as D

    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [("not-a-date", "also-bad"), ("2024-06-03T00:00:00.000", "17-SEP-2025")],
            "posting_date string, post_until string",
        )
        rows = df.select(
            D.parse_posting_ts("posting_date").alias("ts"),
            D.parse_post_until("post_until").alias("d"),
        ).collect()
        assert rows[0]["ts"] is None and rows[0]["d"] is None
        assert rows[1]["ts"] is not None and str(rows[1]["d"]) == "2025-09-17"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_fuzzy_match_observation_metrics(spark):
    """observe() metrics ride the existing job: n_matches equals the
    actual row count and avg_score the actual mean, with no second
    pass over the pipeline."""
    from pyspark.sql import Observation

    from nyc_government_hiring_audit_data_platform_spark.pipelines import (
        hiring_audit as HA,
    )

    obs = Observation("fuzzy_metrics")
    payroll = HA.make_payroll_fixture(spark, 400)
    postings = HA.make_postings_fixture(spark, 60)
    out = HA.fuzzy_match_salary(payroll, postings, observation=obs)
    rows = out.collect()
    got = obs.get
    assert got["n_matches"] == len(rows)
    want_avg = round(sum(r["score"] for r in rows) / len(rows), 2)
    assert abs(got["avg_score"] - want_avg) < 1e-9


def test_tokensort_join_matches_bruteforce(spark):
    """The oracle-expressible tokensort fuzzy join (driver-verified
    scorer) must find exactly the pairs a brute-force all-pairs
    implementation of its contract finds: >= min shared distinct
    normalized tokens AND token-sort levenshtein ratio >= cutoff."""
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_title_pairs_tokensort,
    )

    left = HA.make_postings_fixture(spark, 120).select("business_title")
    right = HA.make_payroll_fixture(spark, 400).select("title_description")
    got = {
        (r["left_title"], r["right_title"], r["score"])
        for r in fuzzy_title_pairs_tokensort(
            left, right, "business_title", "title_description",
            min_shared_tokens=1, score_cutoff=70,
        ).collect()
    }

    import re

    def norm(s):
        s = (s or "").lower()
        s = re.sub(r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]""", "", s)
        return re.sub(r"\s+", " ", s).strip()

    def key(s):
        return " ".join(sorted(t for t in norm(s).split(" ") if t))

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def sim(a, b):
        m = max(len(a), len(b))
        return 100.0 if m == 0 else 100.0 * (1.0 - lev(a, b) / m)

    lts = {r[0] for r in left.collect() if r[0] is not None}
    rts = {r[0] for r in right.collect() if r[0] is not None}
    want = set()
    for lt in lts:
        for rt in rts:
            lk, rk = key(lt), key(rt)
            shared = set(lk.split(" ")) & set(rk.split(" ")) - {""}
            if len(shared) >= 1 and sim(lk, rk) >= 70:
                want.add((lt, rt, int(round(sim(lk, rk)))))
    assert got == want


# -- hot-token occupancy cap (max_block) --------------------------------------


def _tokensort_pairs(spark, left_titles, right_titles, max_block=None, **kw):
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_title_pairs_tokensort,
    )

    left = spark.createDataFrame([(t,) for t in left_titles], ["t"])
    right = spark.createDataFrame([(t,) for t in right_titles], ["t"])
    return {
        (r["left_title"], r["right_title"], r["score"])
        for r in fuzzy_title_pairs_tokensort(
            left, right, "t", "t", min_shared_tokens=kw.pop("min_shared", 1),
            score_cutoff=85, max_block=max_block, **kw,
        ).collect()
    }


def test_block_cap_subset_and_hot_family_bounded(spark):
    """max_block contract: capped output is a strict SUBSET of the
    uncapped output; a hot-token family's CROSS pairs shrink to the cap
    members, while pairs that also share a sub-cap token (here the
    identical titles via their unique gradeN token) ALL survive -
    capping is per blocking key, not per pair."""
    hot = [f"analyst grade{i}" for i in range(12)]
    healthy_l = ["senior data engineer", "staff accountant"]
    healthy_r = ["senior data engineerx", "staff accountantt"]
    unc = _tokensort_pairs(spark, hot + healthy_l, hot + healthy_r)
    cap = _tokensort_pairs(spark, hot + healthy_l, hot + healthy_r, max_block=4)

    assert cap <= unc and len(cap) < len(unc)
    # healthy-token pairs are untouched by the cap
    for lt, rt in zip(healthy_l, healthy_r):
        assert any(p[0] == lt and p[1] == rt for p in cap)
    # identical hot titles survive via their rare gradeN token
    for t in hot:
        assert any(p[0] == t and p[1] == t for p in cap)
    # non-identical hot pairs exist only among the 4 lowest-key members
    lowest4 = set(sorted(hot)[:4])
    for lt, rt, _ in cap:
        if lt in set(hot) and rt in set(hot) and lt != rt:
            assert lt in lowest4 and rt in lowest4


def test_block_cap_none_is_lossless_and_wratio_path_subset(spark):
    """max_block=None (default) changes nothing; the WRatio path's cap
    obeys the same subset contract over its token+4gram keys."""
    titles = [f"analyst grade{i}" for i in range(8)] + ["chief data officer"]
    base = _tokensort_pairs(spark, titles, titles)
    again = _tokensort_pairs(spark, titles, titles, max_block=None)
    assert base == again

    left = spark.createDataFrame([(t,) for t in titles], ["t"])
    right = spark.createDataFrame([(t,) for t in titles], ["t"])
    unc = {
        (r["left_title"], r["right_title"])
        for r in fuzzy_title_pairs(left, right, "t", "t", 70, 70).collect()
    }
    cap = {
        (r["left_title"], r["right_title"])
        for r in fuzzy_title_pairs(
            left, right, "t", "t", 70, 70, max_block=3
        ).collect()
    }
    assert cap <= unc


def test_salt_buckets_lossless(spark):
    """salt_buckets is LOSSLESS: hot tokens' left rows are hash-salted,
    right rows replicated once per bucket, so every (left, right)
    meeting happens exactly once and output (including n_shared
    semantics) is identical to the unsalted plan - under both the
    broadcast and the forced-shuffle join strategies."""
    hot = [f"analyst grade{i}" for i in range(30)]  # occupancy 30 > 8
    extra_l = ["senior data engineer", "staff accountant"]
    extra_r = ["senior data engineerx", "staff accountantt"]
    base = _tokensort_pairs(spark, hot + extra_l, hot + extra_r)
    salted = _tokensort_pairs(
        spark, hot + extra_l, hot + extra_r, salt_buckets=4, hot_occupancy=8
    )
    assert salted == base and len(base) > 0

    base2 = _tokensort_pairs(spark, hot + extra_l, hot + extra_r, min_shared=2)
    salted2 = _tokensort_pairs(
        spark, hot + extra_l, hot + extra_r, min_shared=2,
        salt_buckets=4, hot_occupancy=8,
    )
    assert salted2 == base2

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = _tokensort_pairs(
            spark, hot + extra_l, hot + extra_r, salt_buckets=4, hot_occupancy=8
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert shuffled == base


def test_salt_buckets_one_is_noop_and_composes_with_cap(spark):
    """salt_buckets=1/None short-circuit to the plain join; salting
    composed with a binding cap equals the capped-only output (cap
    first, then nothing exceeds the occupancy threshold or the salted
    meeting is still unique per pair)."""
    hot = [f"analyst grade{i}" for i in range(12)]
    base = _tokensort_pairs(spark, hot, hot)
    assert _tokensort_pairs(spark, hot, hot, salt_buckets=1) == base
    capped = _tokensort_pairs(spark, hot, hot, max_block=4)
    both = _tokensort_pairs(
        spark, hot, hot, max_block=4, salt_buckets=3, hot_occupancy=2
    )
    assert both == capped


def test_wratio_path_salting_lossless(spark):
    """The WRatio path's salt lane (token AND 4-gram keys - grams are
    the hotter class) must be output-identical to the unsalted plan."""
    titles_l = [f"analyst grade{i}" for i in range(20)] + ["chief data officer"]
    titles_r = [f"analyst grade{i}" for i in range(20)] + ["chief dataa officer"]
    left = spark.createDataFrame([(t,) for t in titles_l], ["t"])
    right = spark.createDataFrame([(t,) for t in titles_r], ["t"])
    base = {
        tuple(r)
        for r in fuzzy_title_pairs(left, right, "t", "t", 70, 70).collect()
    }
    salted = {
        tuple(r)
        for r in fuzzy_title_pairs(
            left, right, "t", "t", 70, 70, salt_buckets=4, hot_occupancy=6
        ).collect()
    }
    assert salted == base and len(base) > 0


def test_salting_detects_left_only_hot_keys(spark):
    """Either-side hot detection: a key hot on the LEFT with a cold
    right side must still salt (it is a single-task straggler under a
    shuffle join) - and stay lossless."""
    left_titles = [f"analyst grade{i}" for i in range(25)]
    right_titles = ["analyst grade3x", "chief officer"]
    base = _tokensort_pairs(spark, left_titles, right_titles)
    salted = _tokensort_pairs(
        spark, left_titles, right_titles, salt_buckets=4, hot_occupancy=10
    )
    assert salted == base and len(base) > 0

    # the hot set really fires on the left-side count: with an absurd
    # threshold nothing salts, and output is still identical
    unsalted_hi = _tokensort_pairs(
        spark, left_titles, right_titles, salt_buckets=4, hot_occupancy=10_000
    )
    assert unsalted_hi == base


# -- skew levers at the PIPELINE entry points --------------------------------
# (the operators' cap/salt contracts above, re-asserted through
# fuzzy_match_salary / fuzzy_match_durations, which forward the levers
# to join_fn - the path a real user of the reference pipeline calls)


def _lever_inputs(spark):
    """12 titles sharing the hot token 'analyst' (each also carrying a
    unique gradeN token), salaries all in band so matches survive the
    band filter - the single-hot-key shape from the reference's own log
    (612,076-record comparison group, logs/application.log.1)."""
    hot_titles = [f"analyst grade{i}" for i in range(12)]
    payroll = spark.createDataFrame(
        [
            ("2024", t, 50_000.0 + i, "per Annum", 1.0, 0.0, 0.0)
            for i, t in enumerate(hot_titles)
        ],
        "fiscal_year string, title_description string, base_salary double, "
        "pay_basis string, regular_gross_paid double, total_ot_paid double, "
        "total_other_pay double",
    )
    postings = spark.createDataFrame(
        [
            (t, 40_000.0, 70_000.0, "2024-03-01T00:00:00.000", "01-JUN-2024")
            for t in hot_titles
        ],
        "business_title string, salary_range_from double, salary_range_to double, "
        "posting_date string, post_until string",
    )
    return payroll, postings


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_pipeline_salt_buckets_lossless(spark):
    """fuzzy_match_salary(salt_buckets=...) engages the lossless salt
    lane through join_fn: output identical to the lever-free pipeline
    (test_salt_buckets_lossless semantics at the entry point), on both
    the tokensort and the default WRatio scorer paths."""
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    payroll, postings = _lever_inputs(spark)
    base = _rows(
        HA.fuzzy_match_salary(
            payroll, postings, prefilter_cutoff=1, score_cutoff=85,
            join_fn=fuzzy_join_tokensort,
        )
    )
    salted = _rows(
        HA.fuzzy_match_salary(
            payroll, postings, prefilter_cutoff=1, score_cutoff=85,
            join_fn=fuzzy_join_tokensort, salt_buckets=4, hot_occupancy=4,
        )
    )
    # the 12-occupancy 'analyst' token exceeds hot_occupancy=4, so the
    # salt lane genuinely fires - and output must not move
    assert salted == base and len(base) > 12  # cross-grade pairs present

    base_w = _rows(HA.fuzzy_match_salary(payroll, postings))
    salted_w = _rows(
        HA.fuzzy_match_salary(
            payroll, postings, salt_buckets=4, hot_occupancy=4
        )
    )
    assert salted_w == base_w and len(base_w) > 0


def test_pipeline_max_block_subset(spark):
    """fuzzy_match_salary(max_block=...) caps blocking-key occupancy
    through join_fn: capped output is a strict SUBSET, and pairs that
    share a sub-cap key (each title's unique gradeN token) all survive
    (test_block_cap_subset_and_hot_family_bounded semantics)."""
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    payroll, postings = _lever_inputs(spark)
    base = _rows(
        HA.fuzzy_match_salary(
            payroll, postings, prefilter_cutoff=1, score_cutoff=85,
            join_fn=fuzzy_join_tokensort,
        )
    )
    capped = _rows(
        HA.fuzzy_match_salary(
            payroll, postings, prefilter_cutoff=1, score_cutoff=85,
            join_fn=fuzzy_join_tokensort, max_block=3,
        )
    )
    assert capped <= base and len(capped) < len(base)
    # exact-title matches ride their rare gradeN token past the cap
    exact = {r for r in base if r[0] == r[5]}  # business_title == title_description
    assert exact and exact <= capped


def test_pipeline_durations_levers(spark):
    """fuzzy_match_durations forwards the levers too: salting is
    lossless, capping is a subset, on the matches<->Lightcast leg."""
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    matches = spark.createDataFrame(
        [(f"analyst grade{i}",) for i in range(12)], ["business_title"]
    )
    lightcast = spark.createDataFrame(
        [(f"analyst grade{i}s", 100 + i, 10.0 + i) for i in range(12)],
        ["occ", "postings", "duration"],
    ).select(
        F.col("occ").alias("Occupation (SOC)"),
        F.col("postings").cast("long").alias("Total Postings (Jan 2024 - Jun 2025)"),
        F.col("duration").alias("Median Posting Duration"),
    )
    base = _rows(
        HA.fuzzy_match_durations(
            matches, lightcast, prefilter_cutoff=1, score_cutoff=75,
            join_fn=fuzzy_join_tokensort,
        )
    )
    salted = _rows(
        HA.fuzzy_match_durations(
            matches, lightcast, prefilter_cutoff=1, score_cutoff=75,
            join_fn=fuzzy_join_tokensort, salt_buckets=3, hot_occupancy=4,
        )
    )
    assert salted == base and len(base) > 0
    capped = _rows(
        HA.fuzzy_match_durations(
            matches, lightcast, prefilter_cutoff=1, score_cutoff=75,
            join_fn=fuzzy_join_tokensort, max_block=3,
        )
    )
    assert capped <= base


def test_pipeline_levers_off_backward_compatible(spark):
    """With all levers at their defaults the pipeline passes NO lever
    kwargs to join_fn (_skew_kwargs returns {}), so pre-lever custom
    join callables keep working unchanged."""
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    assert HA._skew_kwargs(None, None, 1024) == {}
    assert HA._skew_kwargs(4, None, 1024) == {"max_block": 4}
    assert HA._skew_kwargs(None, 8, 99) == {"salt_buckets": 8, "hot_occupancy": 99}

    def legacy_join(left, right, lcol, rcol, prefilter, cutoff):
        # a user join_fn written before the levers existed: no **kwargs
        return fuzzy_join_tokensort(left, right, lcol, rcol, prefilter, cutoff)

    payroll, postings = _lever_inputs(spark)
    out = HA.fuzzy_match_salary(
        payroll, postings, prefilter_cutoff=1, score_cutoff=85,
        join_fn=legacy_join,
    )
    assert out.count() > 0


# ---------------------------------------------------------------------------
# incremental fuzzy matching: persisted blocking index + delta probe
# ---------------------------------------------------------------------------


def test_incremental_probe_equals_one_shot_both_lanes(spark, tmp_path):
    """The index probe is output-identical to the one-shot join on the
    same inputs, for BOTH lanes (tokensort and WRatio) - including
    through a PERSISTED index (parquet round-trip), the production
    shape where the stable side was written in a previous run."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 500)
    postings = HA.make_postings_fixture(spark, 100)

    # tokensort lane
    idx_path = str(tmp_path / "ts_index")
    FZ.build_tokensort_title_index(payroll, "title_description").write.parquet(
        idx_path
    )
    want = sorted(
        map(
            tuple,
            FZ.fuzzy_title_pairs_tokensort(
                postings, payroll, "business_title", "title_description", 1, 85
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            FZ.incremental_fuzzy_pairs_tokensort(
                spark.read.parquet(idx_path), postings, "business_title", 1, 85
            ).collect(),
        )
    )
    assert got == want and len(got) > 0

    # WRatio lane (token ∪ 4-gram keys)
    idxw_path = str(tmp_path / "w_index")
    FZ.build_fuzzy_title_index(payroll, "title_description").write.parquet(
        idxw_path
    )
    want_w = sorted(
        map(
            tuple,
            FZ.fuzzy_title_pairs(
                postings, payroll, "business_title", "title_description", 70, 80
            ).collect(),
        )
    )
    got_w = sorted(
        map(
            tuple,
            FZ.incremental_fuzzy_pairs(
                spark.read.parquet(idxw_path), postings, "business_title", 70, 80
            ).collect(),
        )
    )
    assert got_w == want_w and len(got_w) > 0


def test_incremental_match_union_equals_full_rematch(spark):
    """The weekly-cadence claim end-to-end: prior matches (batch 1,
    one-shot) UNION the index probe of a NEW batch equals the full
    re-match over all postings - row-identical, including through the
    per-posting-row top-N limit path."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 500)
    postings = HA.make_postings_fixture(spark, 120).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    b1 = postings.filter(F.col("post_id") % 3 != 0)
    b2 = postings.filter(F.col("post_id") % 3 == 0)
    idx = HA.build_payroll_title_index(payroll)

    for limit in (None, 2):
        full = HA.fuzzy_match_salary(
            payroll, postings, prefilter_cutoff=1, score_cutoff=85,
            join_fn=FZ.fuzzy_join_tokensort, limit=limit, row_key="post_id",
        )
        prior = HA.fuzzy_match_salary(
            payroll, b1, prefilter_cutoff=1, score_cutoff=85,
            join_fn=FZ.fuzzy_join_tokensort, limit=limit, row_key="post_id",
        )
        delta = HA.incremental_fuzzy_match_salary(
            payroll, idx, b2, prefilter_cutoff=1, score_cutoff=85,
            limit=limit, row_key="post_id",
        )
        want = sorted(map(tuple, full.collect()))
        got = sorted(map(tuple, prior.unionByName(delta).collect()))
        assert got == want and len(got) > 0


def test_wratio_index_probes_through_the_pipeline(spark):
    """The probe's lane comes from the index, not from a caller knob: a
    WRatio-lane payroll index probed through
    incremental_fuzzy_match_salary with no lane argument yields the
    rows of the default one-shot fuzzy_match_salary (fuzzy_join, the
    same WRatio lane) over the same delta postings."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 500)
    delta = HA.make_postings_fixture(spark, 60)
    idx = FZ.build_fuzzy_title_index(
        HA._prep_payroll(payroll, 2024, 2025), "title_description"
    )
    got = sorted(
        map(tuple, HA.incremental_fuzzy_match_salary(payroll, idx, delta).collect())
    )
    want = sorted(map(tuple, HA.fuzzy_match_salary(payroll, delta).collect()))
    assert got == want and len(got) > 0


def test_incremental_probe_never_rescans_stable_side(spark, tmp_path):
    """The incremental contract at the plan level: a delta probe reads
    the INDEX files and the delta - the stable side's source path must
    not appear in the probe's plan (the dedup band-index contract,
    test_incremental_probe_never_shuffles_the_index's sibling)."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    pay_path = str(tmp_path / "payroll_src")
    HA.make_payroll_fixture(spark, 300).write.parquet(pay_path)
    idx_path = str(tmp_path / "title_index")
    FZ.build_tokensort_title_index(
        spark.read.parquet(pay_path), "title_description"
    ).write.parquet(idx_path)

    delta = HA.make_postings_fixture(spark, 50)
    probe = FZ.incremental_fuzzy_pairs_tokensort(
        spark.read.parquet(idx_path), delta, "business_title", 1, 85
    )
    # inputFiles() is exact (plan toString truncates long paths)
    files = probe.inputFiles()
    assert files and all("title_index" in f for f in files)
    assert not any("payroll_src" in f for f in files)


def test_gold_durations_unique_incremental_state(spark):
    """The DISTINCT GOLD table as count state: two insert folds equal
    the one-shot DISTINCT; retracting SOME copies of a duplicated row
    keeps it in the set, retracting the LAST copy drops it - the
    multiset semantics a key-set state cannot express."""
    payroll = HA.make_payroll_fixture(spark, 400)
    postings = HA.make_postings_fixture(spark, 80)
    lightcast = HA.make_lightcast_fixture(spark, 40)
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    matches = HA.fuzzy_match_salary(
        payroll, postings, prefilter_cutoff=1, join_fn=fuzzy_join_tokensort
    )
    durations = HA.fuzzy_match_durations(
        matches, lightcast, prefilter_cutoff=1, score_cutoff=75,
        join_fn=fuzzy_join_tokensort,
    ).persist()
    want = sorted(map(tuple, HA.gold_durations_unique(durations).collect()))

    b1 = durations.filter(F.col("lightcast_match_score") % 2 == 0)
    b2 = durations.filter(F.col("lightcast_match_score") % 2 == 1)
    state = HA.gold_durations_state(b1)
    state = HA.gold_durations_state_refresh(state, b2)
    got = sorted(
        map(tuple, HA.gold_durations_unique_from_state(state).collect())
    )
    assert got == want and len(got) > 0

    # retraction: delete ONE batch's copies - rows that also appear in
    # the other batch survive (count still > 0), batch-exclusive rows
    # drop; equals DISTINCT over the remaining multiset
    state_r = HA.gold_durations_state_refresh(state, b2, sign=-1)
    got_r = sorted(
        map(tuple, HA.gold_durations_unique_from_state(state_r).collect())
    )
    want_r = sorted(map(tuple, HA.gold_durations_unique(b1).collect()))
    assert got_r == want_r
    durations.unpersist()


def test_extend_title_index_equals_rebuild_both_lanes(spark):
    """Index-side maintenance: appending extend_title_index's delta to
    the old index equals rebuilding over the unioned corpus, for both
    lanes - already-indexed titles contribute NO new rows (re-ingesting
    the same payroll is a no-op), genuinely new titles contribute all
    their key rows."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    old = HA.make_payroll_fixture(spark, 300)
    new = HA.make_payroll_fixture(spark, 420)  # superset stems + overlap

    for index_fn in (FZ.build_tokensort_title_index, FZ.build_fuzzy_title_index):
        idx_old = index_fn(old, "title_description")
        # index_fn deliberately NOT passed: the builder is inferred from
        # the index's own layout (a guessed default would build the
        # wrong layout for one of the two lanes - review finding r11)
        delta = FZ.extend_title_index(idx_old, new, "title_description")
        got = sorted(map(tuple, idx_old.unionByName(delta).collect()))
        want = sorted(
            map(
                tuple,
                index_fn(
                    old.unionByName(new), "title_description"
                ).collect(),
            )
        )
        assert got == want and len(got) > 0
        # idempotence: re-extending with already-indexed titles is empty
        assert FZ.extend_title_index(
            idx_old.unionByName(delta), new, "title_description"
        ).count() == 0


def test_fuzzy_match_ingest_stream_equals_full_rematch(spark, tmp_path):
    """The streaming form of the weekly loop: postings arriving as file
    micro-batches are matched at ingest time by probing the persisted
    index; the accumulated per-batch matches equal the one-shot full
    re-match. Replay under the SAME checkpoint overwrites each batch's
    own subdirectory with identical content - no duplicates - while a
    FRESH checkpoint over the same matches dir refuses (it would
    re-partition batches and double-count stale subdirectories;
    round-11 ADVICE)."""
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    payroll = HA.make_payroll_fixture(spark, 400)
    postings = HA.make_postings_fixture(spark, 100).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    idx_path = str(tmp_path / "title_index")
    HA.build_payroll_title_index(payroll).write.parquet(idx_path)

    src = tmp_path / "postings_src"
    src.mkdir()
    b1 = postings.filter(F.col("post_id") % 2 == 0)
    b2 = postings.filter(F.col("post_id") % 2 == 1)
    b1.coalesce(1).write.parquet(str(tmp_path / "w1"))
    for i, f in enumerate((tmp_path / "w1").glob("*.parquet")):
        shutil.copy(f, src / f"a{i}.parquet")

    def stream():
        return (
            spark.readStream.schema(postings.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )

    matches_dir = str(tmp_path / "matches")
    HA.run_fuzzy_match_ingest(
        stream(), payroll, idx_path, matches_dir, str(tmp_path / "ck"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )
    # second weekly batch arrives; same checkpoint continues
    b2.coalesce(1).write.parquet(str(tmp_path / "w2"))
    for i, f in enumerate((tmp_path / "w2").glob("*.parquet")):
        shutil.copy(f, src / f"b{i}.parquet")
    HA.run_fuzzy_match_ingest(
        stream(), payroll, idx_path, matches_dir, str(tmp_path / "ck"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )

    want = sorted(
        map(
            tuple,
            HA.fuzzy_match_salary(
                payroll, postings, prefilter_cutoff=1, score_cutoff=85,
                join_fn=fuzzy_join_tokensort, row_key="post_id",
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    assert got == want and len(got) > 0

    # replay under the SAME checkpoint: all batches already applied;
    # accumulated matches unchanged
    HA.run_fuzzy_match_ingest(
        stream(), payroll, idx_path, matches_dir, str(tmp_path / "ck"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )
    again = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    assert again == want

    # a FRESH checkpoint over the same matches dir refuses up front:
    # its re-partitioned batch ids would leave stale b{id} subdirs that
    # the read-back double-counts
    with pytest.raises(ValueError, match="different checkpoint"):
        HA.run_fuzzy_match_ingest(
            stream(), payroll, idx_path, matches_dir, str(tmp_path / "ck2"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )
    assert sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    ) == want


def test_bucketed_index_probe_never_shuffles_index(spark, tmp_path):
    """The 100 TB probe shape: with the title index persisted BUCKETED
    on the blocking key, the delta probe's equi-join moves only the
    delta's exploded keys - the index side carries no Exchange, while
    the plain-parquet index must shuffle for the same join."""
    from nyc_government_hiring_audit_data_platform_spark.operators import (
        bucketing as B,
    )
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.plans import inspect as PI

    payroll = HA.make_payroll_fixture(spark, 500)
    delta = HA.make_postings_fixture(spark, 40)
    idx = FZ.build_tokensort_title_index(payroll, "title_description")
    B.write_bucketed(idx, "fuzzy_title_index_bucketed", ["tok"], 8)
    plain_path = str(tmp_path / "index_plain")
    idx.write.parquet(plain_path)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed = FZ.incremental_fuzzy_pairs_tokensort(
            spark.table("fuzzy_title_index_bucketed"), delta,
            "business_title", 1, 85,
        )
        plain = FZ.incremental_fuzzy_pairs_tokensort(
            spark.read.parquet(plain_path), delta, "business_title", 1, 85
        )
        n_b, n_p = PI.shuffle_count(bucketed), PI.shuffle_count(plain)
        assert n_b < n_p, (n_b, n_p)  # the index-side Exchange is gone
        got = sorted(map(tuple, bucketed.collect()))
        want = sorted(map(tuple, plain.collect()))
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS fuzzy_title_index_bucketed")


def test_index_build_cap_bounds_occupancy_subset_recall(spark):
    """The probe path's hot-key lever lives at index BUILD time: a
    capped index stores at most max_block rows per key (deterministic
    lowest-(key,title) members - both lanes), the capped probe's output
    is a strict subset of the uncapped probe's, and pairs whose every
    shared key is under the cap are untouched."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 500)
    delta = HA.make_postings_fixture(spark, 60)
    cap = 3

    for build, probe, key in (
        (FZ.build_tokensort_title_index,
         lambda idx: FZ.incremental_fuzzy_pairs_tokensort(
             idx, delta, "business_title", 1, 85), "tok"),
        (FZ.build_fuzzy_title_index,
         lambda idx: FZ.incremental_fuzzy_pairs(
             idx, delta, "business_title", 70, 80), "blk"),
    ):
        capped_idx = build(payroll, "title_description", max_block=cap)
        occ = capped_idx.groupBy(key).count().agg(F.max("count")).first()[0]
        assert occ <= cap
        got = set(map(tuple, probe(capped_idx).collect()))
        full = set(map(tuple, probe(build(payroll, "title_description")).collect()))
        assert got <= full and len(got) > 0
        # healthy keys: rebuild keeping only under-cap keys' titles; the
        # capped probe must retain every pair all of whose shared keys
        # are healthy - check via the uncapped index restricted to
        # under-cap keys (those rows are identical in both indexes)
        healthy_keys = {
            r[0]
            for r in build(payroll, "title_description")
            .groupBy(key).count().filter(F.col("count") <= cap).collect()
        }
        uncapped_idx = build(payroll, "title_description")
        healthy_idx = uncapped_idx.filter(F.col(key).isin(list(healthy_keys)))
        healthy_pairs = set(map(tuple, probe(healthy_idx).collect()))
        assert healthy_pairs <= got


def test_extend_title_index_caps_delta_and_plan_shape(spark):
    """Review findings (r11 pass 2): (a) extending a capped index must
    cap the delta too - max_block forwards to the builder, each
    appended generation's per-key contribution stays bounded (the
    exact capped-rebuild parity deliberately does NOT hold under
    append maintenance - documented, rebuild at compaction cadence);
    (b) the membership probe must never shuffle the big index - the
    new-title set broadcasts into a semi-join (LeftAnti BHJ cannot
    build the left side, so the old plain anti-join shuffled the
    index's whole title set every maintenance run)."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.plans import inspect as PI

    old = HA.make_payroll_fixture(spark, 300)
    new = HA.make_payroll_fixture(spark, 420)
    cap = 3
    idx_old = FZ.build_tokensort_title_index(old, "title_description", max_block=cap)
    delta = FZ.extend_title_index(
        idx_old, new, "title_description", max_block=cap
    )
    occ = delta.groupBy("tok").count().agg(F.max("count")).first()
    assert occ[0] is not None and occ[0] <= cap
    # per-generation bound: the union's occupancy is <= 2*cap
    both = idx_old.unionByName(delta)
    assert both.groupBy("tok").count().agg(F.max("count")).first()[0] <= 2 * cap

    # plan shape: no SortMergeJoin anywhere even with broadcast
    # auto-detection off - both membership joins ride explicit
    # broadcasts of new-title-bounded sides
    oldconf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        d2 = FZ.extend_title_index(
            FZ.build_tokensort_title_index(old, "title_description"),
            new,
            "title_description",
        )
        plan = PI.physical_plan(d2)
        assert "SortMergeJoin" not in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldconf)


def test_title_index_layouts_roundtrip(spark, tmp_path):
    """write_title_index/read_title_index: the managed parquet and
    bucketed layouts, the legacy plain-parquet dir, the crashed-write
    refusal, catalog re-registration after a session-restart-shaped
    catalog wipe, and rebuild clearing stale generations."""
    import json
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 300)
    idx = HA.build_payroll_title_index(payroll)
    want = sorted(map(tuple, idx.collect()))

    # legacy: plain parquet at the root still reads
    legacy = str(tmp_path / "legacy")
    idx.write.parquet(legacy)
    assert sorted(map(tuple, FZ.read_title_index(spark, legacy).collect())) == want

    # managed parquet
    managed = str(tmp_path / "managed")
    FZ.write_title_index(idx, managed, "parquet")
    assert sorted(map(tuple, FZ.read_title_index(spark, managed).collect())) == want

    # bucketed: external table, rows identical, meta records the layout
    bucketed = str(tmp_path / "bucketed")
    FZ.write_title_index(idx, bucketed, "bucketed", n_buckets=8)
    with open(os.path.join(bucketed, "_index_meta.json")) as f:
        meta = json.load(f)
    assert meta["format"] == "bucketed" and meta["n_buckets"] == 8
    assert meta["key"] == "tok"
    got = sorted(map(tuple, FZ.read_title_index(spark, bucketed).collect()))
    assert got == want

    # session restart: catalog entry gone, files remain - re-registers
    spark.sql(f"DROP TABLE IF EXISTS {meta['table']}")
    got = sorted(map(tuple, FZ.read_title_index(spark, bucketed).collect()))
    assert got == want
    spark.sql(f"DROP TABLE IF EXISTS {meta['table']}")

    # crashed write: base/ without meta refuses instead of serving a
    # possibly partial index
    crashed = tmp_path / "crashed"
    (crashed / "base").mkdir(parents=True)
    with pytest.raises(ValueError, match="no _index_meta.json"):
        FZ.read_title_index(spark, str(crashed))

    # a rebuild clears stale append generations (the fresh base
    # subsumes them only when built over the union - the writer must
    # not let the reader union pre-rebuild rows onto it)
    stale = idx.limit(5)
    stale.write.parquet(os.path.join(managed, "g7"))
    assert FZ.list_index_generations(managed) == [7]
    FZ.write_title_index(idx, managed, "parquet")
    assert FZ.list_index_generations(managed) == []
    assert sorted(map(tuple, FZ.read_title_index(spark, managed).collect())) == want

    with pytest.raises(ValueError, match="parquet.*bucketed|bucketed.*parquet"):
        FZ.write_title_index(idx, str(tmp_path / "x"), "csv")


def test_bucketed_index_ingest_sink_never_shuffles_index(spark, tmp_path):
    """Round-11 VERDICT ask #1, the production gate: with the title
    index persisted index_format='bucketed', run_fuzzy_match_ingest's
    OWN per-batch probe plan carries no index-side Exchange - asserted
    via the exchange count each batch's _meta.json records - and the
    matches are row-identical to the plain-parquet-index ingest."""
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 400)
    postings = HA.make_postings_fixture(spark, 60).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    idx = HA.build_payroll_title_index(payroll)
    plain_dir = str(tmp_path / "idx_plain")
    buck_dir = str(tmp_path / "idx_buck")
    FZ.write_title_index(idx, plain_dir, "parquet")
    FZ.write_title_index(idx, buck_dir, "bucketed", n_buckets=8)

    src = tmp_path / "postings_src"
    src.mkdir()
    postings.coalesce(1).write.parquet(str(tmp_path / "w"))
    for i, f in enumerate((tmp_path / "w").glob("*.parquet")):
        shutil.copy(f, src / f"a{i}.parquet")

    def stream():
        return spark.readStream.schema(postings.schema).parquet(str(src))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        results = {}
        for tag, idx_dir in (("plain", plain_dir), ("bucketed", buck_dir)):
            mdir = str(tmp_path / f"matches_{tag}")
            HA.run_fuzzy_match_ingest(
                stream(), payroll, idx_dir, mdir, str(tmp_path / f"ck_{tag}"),
                prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
            )
            meta = HA._read_batch_meta(mdir, "b0")
            rows = sorted(
                map(tuple, HA.read_ingested_matches(spark, mdir).collect())
            )
            results[tag] = (meta["exchanges"], rows)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    (ex_b, rows_b), (ex_p, rows_p) = results["bucketed"], results["plain"]
    assert ex_b < ex_p, (ex_b, ex_p)  # the index-side Exchange is gone
    assert rows_b == rows_p and len(rows_b) > 0


def test_fuzzy_index_maintenance_interleaved_equals_one_shot(spark, tmp_path):
    """Round-11 VERDICT ask #6: payroll deltas landing mid-stream
    extend the index AND back-fill the cross-term matches. Interleaved
    postings/payroll batches (A0, ΔP0, A1, ΔP1) reproduce the one-shot
    re-match over the unions row-for-row: each (posting, payroll row)
    pair lands exactly once across the b{i} probes (ΔA ⋈ P-so-far) and
    the p{j} back-fills (A-before-j ⋈ ΔP). Replays under the same
    checkpoints are no-ops; fresh checkpoints refuse."""
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    payroll_all = HA.make_payroll_fixture(spark, 500).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 5 < 3).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 5 == 3).drop("rid")
    d1 = payroll_all.filter(F.col("rid") % 5 == 4).drop("rid")
    postings = HA.make_postings_fixture(spark, 80).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    a0 = postings.filter(F.col("post_id") % 2 == 0)
    a1 = postings.filter(F.col("post_id") % 2 == 1)

    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    base.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")

    post_src, pay_src = tmp_path / "post_src", tmp_path / "pay_src"
    post_src.mkdir(), pay_src.mkdir()

    def land(df, dest, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, dest / f"{name}.parquet")

    def ingest():
        HA.run_fuzzy_match_ingest(
            spark.readStream.schema(postings.schema).parquet(str(post_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_post"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    def maintain():
        HA.run_fuzzy_index_maintenance(
            spark.readStream.schema(base.schema).parquet(str(pay_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_pay"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    land(a0, post_src, "a0"); ingest()       # b0: A0 x base
    land(d0, pay_src, "d0"); maintain()      # g0/d0 + p0: A0 x d0
    land(a1, post_src, "a1"); ingest()       # b1: A1 x (base u d0)
    land(d1, pay_src, "d1"); maintain()      # g1/d1 + p1: (A0 u A1) x d1

    got = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            HA.fuzzy_match_salary(
                base.unionByName(d0).unionByName(d1),
                postings,
                prefilter_cutoff=1, score_cutoff=85,
                join_fn=fuzzy_join_tokensort, row_key="post_id",
            ).collect(),
        )
    )
    assert got == want and len(got) > 0

    # replays under the same checkpoints: no new batches, no changes
    ingest(); maintain()
    assert sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    ) == want

    # fresh maintenance checkpoint over the same matches dir refuses
    with pytest.raises(ValueError, match="different checkpoint"):
        HA.run_fuzzy_index_maintenance(
            spark.readStream.schema(base.schema).parquet(str(pay_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_pay2"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    # a frozen-DataFrame payroll with a maintained index refuses: new
    # payroll rows could not re-attach and matches would silently drop
    # (the ValueError raised inside foreachBatch surfaces wrapped in a
    # StreamingQueryException - match the message, not the type)
    land(postings.filter(F.col("post_id") == 0), post_src, "a2")
    with pytest.raises(Exception, match="frozen DataFrame"):
        HA.run_fuzzy_match_ingest(
            spark.readStream.schema(postings.schema).parquet(str(post_src)),
            base, index_dir, matches_dir, str(tmp_path / "ck_post"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )


def test_compact_title_index_equals_fresh_capped_rebuild(spark):
    """Round-11 VERDICT ask #2, the exactness property: N generations of
    append maintenance followed by compact_title_index(max_block) is
    row-identical to a fresh capped build over the union of titles -
    both lanes, for uncapped appends AND generation-local capped
    appends (a union element among a key's max_block lowest members has
    fewer than max_block smaller members within its own generation, so
    no append at cap >= max_block can have dropped it)."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 600).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    gens = [payroll.filter(F.col("rid") % 3 == k).drop("rid") for k in range(3)]
    union = gens[0].unionByName(gens[1]).unionByName(gens[2])
    cap = 3

    for index_fn in (FZ.build_tokensort_title_index, FZ.build_fuzzy_title_index):
        for gen_cap in (None, cap, cap + 2):
            idx = index_fn(gens[0], "title_description", max_block=gen_cap)
            for g in gens[1:]:
                delta = FZ.extend_title_index(
                    idx, g, "title_description", max_block=gen_cap
                )
                idx = idx.unionByName(delta)
            compacted = sorted(
                map(tuple, FZ.compact_title_index(idx, cap).collect())
            )
            want = sorted(
                map(
                    tuple,
                    index_fn(union, "title_description", max_block=cap).collect(),
                )
            )
            assert compacted == want and len(want) > 0, (index_fn, gen_cap)


def test_title_index_occupancy_stats_trigger(spark):
    """The compaction trigger stats: occupancy regrows past the cap
    under generation-local capped appends (the honest caveat in
    extend_title_index's docstring), keys_over_cap detects it, and
    compaction restores max_per_key <= cap."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 600).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    gens = [payroll.filter(F.col("rid") % 3 == k).drop("rid") for k in range(3)]
    cap = 2
    idx = FZ.build_tokensort_title_index(gens[0], "title_description", max_block=cap)
    for g in gens[1:]:
        idx = idx.unionByName(
            FZ.extend_title_index(idx, g, "title_description", max_block=cap)
        )
    stats = FZ.title_index_occupancy(idx, max_block=cap)
    assert stats["max_per_key"] > cap          # regrown past the cap
    assert stats["max_per_key"] <= cap * 3     # but bounded by gens x cap
    assert stats["keys_over_cap"] > 0          # the trigger fires
    assert stats["n_rows"] >= stats["n_keys"] > 0

    compacted = FZ.compact_title_index(idx, cap)
    after = FZ.title_index_occupancy(compacted, max_block=cap)
    assert after["max_per_key"] <= cap and after["keys_over_cap"] == 0
    assert FZ.title_index_occupancy(idx)["keys_over_cap"] is None


def test_compact_persisted_index_restores_bucketed_no_shuffle(spark, tmp_path):
    """Production compaction: generations fold back into the bucketed
    base (format preserved, g* dirs cleared), the probe's no-shuffle
    shape returns, and the probe output equals the pre-compaction
    (generation-unioned) probe when compaction is lossless."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.pipelines import versioned as VB
    from nyc_government_hiring_audit_data_platform_spark.plans import inspect as PI

    payroll = HA.make_payroll_fixture(spark, 400).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base, d0 = (
        payroll.filter(F.col("rid") % 4 < 3).drop("rid"),
        payroll.filter(F.col("rid") % 4 == 3).drop("rid"),
    )
    delta_posts = HA.make_postings_fixture(spark, 40)
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(
        HA.build_payroll_title_index(base), index_dir, "bucketed", n_buckets=8
    )
    # one maintenance generation lands as plain parquet
    idx_before = FZ.read_title_index(spark, index_dir)
    FZ.extend_title_index(
        idx_before, HA._prep_payroll(d0, 2024, 2025), "title_description"
    ).write.parquet(os.path.join(index_dir, "g0"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def probe():
            return FZ.incremental_fuzzy_pairs_tokensort(
                FZ.read_title_index(spark, index_dir), delta_posts,
                "business_title", 1, 85,
            )

        with_gen = probe()
        n_with_gen = PI.shuffle_count(with_gen)
        want = sorted(map(tuple, with_gen.collect()))

        FZ.compact_persisted_title_index(spark, index_dir)
        assert FZ.list_index_generations(index_dir) == []
        # the superseded base version is gone: the meta's is the only one
        assert VB.litter(
            index_dir, FZ.title_index_meta(index_dir)["base"], "base"
        ) == []
        after = probe()
        assert PI.shuffle_count(after) < n_with_gen  # bucketed shape is back
        assert sorted(map(tuple, after.collect())) == want and len(want) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        import json

        with open(os.path.join(index_dir, "_index_meta.json")) as f:
            spark.sql(f"DROP TABLE IF EXISTS {json.load(f)['table']}")


def test_bucket_stats_and_suggest_recipe(spark, tmp_path):
    """round-12 VERDICT ask #6: write_title_index freezes n_buckets at
    first write; title_index_bucket_stats surfaces per-bucket rows and
    bytes (footer/listing metadata only) and suggest_index_buckets
    turns it into the re-bucket count - power-of-two rounded, sized on
    the POST-fold index (base + pending generations)."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 300).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base, d0 = (
        payroll.filter(F.col("rid") % 3 < 2).drop("rid"),
        payroll.filter(F.col("rid") % 3 == 2).drop("rid"),
    )
    index_dir = str(tmp_path / "index")
    idx = HA.build_payroll_title_index(base)
    n_index_rows = idx.count()
    FZ.write_title_index(idx, index_dir, "bucketed", n_buckets=4)
    try:
        stats = FZ.title_index_bucket_stats(index_dir)
        assert stats["n_buckets"] == 4
        assert stats["rows"] == n_index_rows
        assert set(stats["per_bucket"]) <= set(range(4))
        assert sum(b["rows"] for b in stats["per_bucket"].values()) == n_index_rows
        assert stats["bytes"] > 0 and stats["max_bucket_bytes"] > 0
        assert stats["max_bucket_rows"] == max(
            b["rows"] for b in stats["per_bucket"].values()
        )
        assert stats["generation_rows"] == 0

        # a pending generation counts toward the post-fold sizing
        gen = FZ.extend_title_index(
            FZ.read_title_index(spark, index_dir),
            HA._prep_payroll(d0, 2024, 2025),
            "title_description",
        )
        n_gen_rows = gen.count()
        gen.write.parquet(os.path.join(index_dir, "g0"))
        stats = FZ.title_index_bucket_stats(index_dir)
        assert stats["generation_rows"] == n_gen_rows

        total = n_index_rows + n_gen_rows
        # tiny target: every row its own bucket, rounded up to 2^k
        got = FZ.suggest_index_buckets(index_dir, target_rows_per_bucket=1)
        assert got >= total and got & (got - 1) == 0 and got < 2 * total
        # huge target: one bucket suffices
        assert FZ.suggest_index_buckets(index_dir, 10**9) == 1
        # pure-arithmetic lane on a synthetic stats dict
        assert (
            FZ.suggest_index_buckets(
                index_dir, 100, stats={"rows": 500, "generation_rows": 12}
            )
            == 8
        )
    finally:
        import json

        with open(os.path.join(index_dir, "_index_meta.json")) as f:
            spark.sql(f"DROP TABLE IF EXISTS {json.load(f)['table']}")

    # plain-parquet layouts have no bucket knob: stats refuse
    plain_dir = str(tmp_path / "plain")
    FZ.write_title_index(idx, plain_dir, "parquet")
    with pytest.raises(ValueError, match="bucketed"):
        FZ.title_index_bucket_stats(plain_dir)


def test_rebucket_compaction_preserves_probe_shape_and_rows(spark, tmp_path):
    """Bucket-count evolution rides the compaction fold: compacting
    with n_buckets="auto" (or an explicit int) rewrites the base at the
    suggested count, the meta records it, the catalog table re-declares
    it, and the probe keeps BOTH its no-index-shuffle shape and its
    exact rows (the fuzzy_index_compaction driver row's property, here
    asserted across a bucket-count change)."""
    import json
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.plans import inspect as PI

    payroll = HA.make_payroll_fixture(spark, 400).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base, d0 = (
        payroll.filter(F.col("rid") % 4 < 3).drop("rid"),
        payroll.filter(F.col("rid") % 4 == 3).drop("rid"),
    )
    delta_posts = HA.make_postings_fixture(spark, 40)
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(
        HA.build_payroll_title_index(base), index_dir, "bucketed", n_buckets=4
    )
    FZ.extend_title_index(
        FZ.read_title_index(spark, index_dir),
        HA._prep_payroll(d0, 2024, 2025),
        "title_description",
    ).write.parquet(os.path.join(index_dir, "g0"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def probe():
            return FZ.incremental_fuzzy_pairs_tokensort(
                FZ.read_title_index(spark, index_dir), delta_posts,
                "business_title", 1, 85,
            )

        with_gen = probe()
        n_with_gen = PI.shuffle_count(with_gen)
        want = sorted(map(tuple, with_gen.collect()))

        # "auto" at the tiny test size suggests 1 bucket - a real change
        # from the written 4, exercising the evolution path end to end
        FZ.compact_persisted_title_index(spark, index_dir, n_buckets="auto")
        with open(os.path.join(index_dir, "_index_meta.json")) as f:
            meta = json.load(f)
        assert meta["n_buckets"] == 1 and meta["format"] == "bucketed"
        after = probe()
        assert PI.shuffle_count(after) < n_with_gen  # no-shuffle shape kept
        assert sorted(map(tuple, after.collect())) == want and len(want) > 0

        # explicit int lane: grow the count on a second compaction
        FZ.compact_persisted_title_index(spark, index_dir, n_buckets=8)
        with open(os.path.join(index_dir, "_index_meta.json")) as f:
            assert json.load(f)["n_buckets"] == 8
        again = probe()
        assert PI.shuffle_count(again) < n_with_gen
        assert sorted(map(tuple, again.collect())) == want
        assert FZ.title_index_bucket_stats(index_dir)["n_buckets"] == 8
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        with open(os.path.join(index_dir, "_index_meta.json")) as f:
            spark.sql(f"DROP TABLE IF EXISTS {json.load(f)['table']}")


def test_read_reregisters_catalog_table_after_foreign_rebucket(spark, tmp_path):
    """Review finding (r13, pass 1): a long-lived reader session's
    catalog entry can predate a re-bucketed compaction run by ANOTHER
    process (this session never saw the DROP). Reusing the stale
    CLUSTERED BY declaration over differently-bucketed files lets a
    bucketed join elide its exchange on a false premise - wrong rows.
    Each base version registers under its own table name, so the
    re-bucketed fold's meta names a table this session has never
    seen: read_title_index registers it at the new count, and the
    stale entry under the old name is never consulted."""
    import json
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 200)
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(
        HA.build_payroll_title_index(payroll), index_dir, "bucketed", n_buckets=8
    )
    with open(os.path.join(index_dir, "_index_meta.json")) as f:
        _meta = json.load(f)
    old_table, key = _meta["table"], _meta["key"]
    try:
        want = sorted(map(tuple, FZ.read_title_index(spark, index_dir).collect()))
        # the foreign process re-buckets to 4 ...
        FZ.compact_persisted_title_index(spark, index_dir, n_buckets=4)
        new = FZ.title_index_meta(index_dir)
        assert new["table"] != old_table and new["n_buckets"] == 4
        # ... and leaves THIS session as it would find it: the new
        # table registered only in the foreign catalog, the old
        # 8-bucket entry still registered here
        spark.sql(f"DROP TABLE IF EXISTS {new['table']}")
        schema = spark.read.parquet(os.path.join(index_dir, new["base"])).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {old_table} ({cols}) USING PARQUET "
            f"CLUSTERED BY (`{key}`) INTO 8 BUCKETS "
            f"LOCATION '{os.path.join(index_dir, _meta['base'])}'"
        )
        got_df = FZ.read_title_index(spark, index_dir)
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {new['table']}").collect()
        }
        assert int(desc["Num Buckets"]) == 4  # registered at the meta's count
        assert sorted(map(tuple, got_df.collect())) == want and len(want) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {old_table}")
        spark.sql(f"DROP TABLE IF EXISTS {FZ.title_index_meta(index_dir)['table']}")


def test_bucket_spec_verification_cached_off_hot_path(spark, tmp_path, monkeypatch):
    """Review finding (r13, pass 2): the stale-declaration DESCRIBE ran
    on EVERY bucketed read - a catalog round trip per micro-batch probe
    guarding against a drift that only a compaction can cause. A
    table name now stands for one base version whose files never
    change, so a read of a registered index issues no catalog SQL at
    all; a (foreign) re-bucketing compaction moves the meta to a new
    name, which the next read registers once - still without a
    DESCRIBE."""
    import json
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 150)
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(
        HA.build_payroll_title_index(payroll), index_dir, "bucketed", n_buckets=4
    )
    with open(os.path.join(index_dir, "_index_meta.json")) as f:
        tname = json.load(f)["table"]
    try:
        FZ.read_title_index(spark, index_dir).count()  # registered
        calls = []
        real_sql = spark.sql

        def spy(q, *a, **k):
            calls.append(q)
            return real_sql(q, *a, **k)

        monkeypatch.setattr(spark, "sql", spy)
        FZ.read_title_index(spark, index_dir).count()
        assert calls == []
        # a re-bucketing compaction by another process: its new table
        # is registered in ITS catalog, not this one
        monkeypatch.undo()
        FZ.compact_persisted_title_index(spark, index_dir, n_buckets=8)
        tname = FZ.title_index_meta(index_dir)["table"]
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        monkeypatch.setattr(spark, "sql", spy)
        FZ.read_title_index(spark, index_dir).count()
        assert [q.split(" (")[0] for q in calls] == [f"CREATE TABLE {tname}"]
        calls.clear()
        FZ.read_title_index(spark, index_dir).count()
        assert calls == []
    finally:
        monkeypatch.undo()
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_compaction_does_not_shrink_payroll_corpus(spark, tmp_path):
    """Review finding (r12): payroll-delta selection must not key off
    LIVE index generations - compaction deletes the g* dirs while the
    d* payroll archives stay, so a post-compaction postings batch must
    still re-attach maintained payroll rows (recorded per batch as
    payroll_deltas), and the frozen-DataFrame guard must keep firing
    off the meta's folded_generations."""
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    payroll_all = HA.make_payroll_fixture(spark, 400).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 4 < 3).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 4 == 3).drop("rid")
    postings = HA.make_postings_fixture(spark, 60).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    a0 = postings.filter(F.col("post_id") % 2 == 0)
    a1 = postings.filter(F.col("post_id") % 2 == 1)

    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    base.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")
    post_src, pay_src = tmp_path / "post_src", tmp_path / "pay_src"
    post_src.mkdir(), pay_src.mkdir()

    def land(df, dest, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, dest / f"{name}.parquet")

    def ingest(payroll_arg=payroll_dir):
        HA.run_fuzzy_match_ingest(
            spark.readStream.schema(postings.schema).parquet(str(post_src)),
            payroll_arg, index_dir, matches_dir, str(tmp_path / "ck_post"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    land(a0, post_src, "a0"); ingest()
    land(d0, pay_src, "d0")
    HA.run_fuzzy_index_maintenance(
        spark.readStream.schema(base.schema).parquet(str(pay_src)),
        payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_pay"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )
    # COMPACT: g0 folds into the base, d0 stays
    FZ.compact_persisted_title_index(spark, index_dir)
    assert FZ.list_index_generations(index_dir) == []
    assert FZ.title_index_folded_generations(index_dir) == [0]
    assert HA.list_payroll_deltas(payroll_dir) == [0]

    # a post-compaction postings batch still matches d0 payroll rows
    land(a1, post_src, "a1"); ingest()
    got = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            HA.fuzzy_match_salary(
                base.unionByName(d0), postings,
                prefilter_cutoff=1, score_cutoff=85,
                join_fn=fuzzy_join_tokensort, row_key="post_id",
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    # b1's meta records the decoupled payroll-delta set
    assert HA._read_batch_meta(matches_dir, "b1")["payroll_deltas"] == [0]

    # frozen-DataFrame payroll still refuses AFTER compaction (the
    # live generations are gone; folded_generations carries the truth)
    land(postings.filter(F.col("post_id") == 1), post_src, "a2")
    with pytest.raises(Exception, match="frozen DataFrame"):
        ingest(payroll_arg=base)


def test_maintenance_validates_before_writing_generation(spark, tmp_path):
    """Review finding (r12): the maintenance sink must validate the
    matches dir BEFORE writing g{j}/d{j} - a post-write refusal leaves
    a live generation whose cross-term back-fill never lands (later
    postings probes record generation j; the old-postings x d{j} pairs
    go permanently missing)."""
    import os
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 200)
    postings = HA.make_postings_fixture(spark, 30).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(payroll), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    payroll.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")
    post_src, pay_src = tmp_path / "post_src", tmp_path / "pay_src"
    post_src.mkdir(), pay_src.mkdir()

    def land(df, dest, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, dest / f"{name}.parquet")

    # a batch probed WITH limit - maintenance must refuse it
    land(postings, post_src, "a0")
    HA.run_fuzzy_match_ingest(
        spark.readStream.schema(postings.schema).parquet(str(post_src)),
        payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_post"),
        prefilter_cutoff=1, score_cutoff=85, limit=1, row_key="post_id",
    )
    land(payroll.limit(20), pay_src, "d0")
    with pytest.raises(Exception, match="limit"):
        HA.run_fuzzy_index_maintenance(
            spark.readStream.schema(payroll.schema).parquet(str(pay_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_pay"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )
    # the refusal left NO live generation and NO payroll archive
    assert FZ.list_index_generations(index_dir) == []
    assert HA.list_payroll_deltas(payroll_dir) == []
    assert not os.path.isdir(os.path.join(matches_dir, "p0"))


def test_checkpoint_identity_pinned_from_first_batch(spark, tmp_path, monkeypatch):
    """Review finding (r12): the checkpoint identity must be recorded
    from the FIRST batch, not after awaitTermination - a first run
    killed mid-stream has already written b{id} dirs, and an unmarked
    matches dir would let a fresh-checkpoint restart re-partition
    around them (the exact double-count hole the guard closes)."""
    import os
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.pipelines import (
        hiring_audit as HAmod,
    )

    payroll = HA.make_payroll_fixture(spark, 200)
    postings = HA.make_postings_fixture(spark, 30).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(payroll), index_dir, "parquet")
    matches_dir = str(tmp_path / "matches")
    src = tmp_path / "post_src"
    src.mkdir()
    for i, half in enumerate(
        (postings.filter(F.col("post_id") % 2 == 0),
         postings.filter(F.col("post_id") % 2 == 1))
    ):
        half.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, src / f"a{i}.parquet")

    real = HAmod.incremental_fuzzy_match_salary
    calls = {"n": 0}

    def crash_on_second(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated mid-stream kill")
        return real(*args, **kwargs)

    monkeypatch.setattr(
        HAmod, "incremental_fuzzy_match_salary", crash_on_second
    )
    with pytest.raises(Exception, match="simulated mid-stream kill"):
        HA.run_fuzzy_match_ingest(
            spark.readStream.schema(postings.schema)
            .option("maxFilesPerTrigger", "1").parquet(str(src)),
            payroll, index_dir, matches_dir, str(tmp_path / "ck"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )
    monkeypatch.undo()
    # b0 landed, the stream died - and the identity is ALREADY pinned
    assert os.path.isdir(os.path.join(matches_dir, "b0"))
    assert os.path.exists(os.path.join(matches_dir, "_checkpoint_id"))
    # so a fresh-checkpoint restart refuses instead of double-counting
    with pytest.raises(ValueError, match="different checkpoint"):
        HA.run_fuzzy_match_ingest(
            spark.readStream.schema(postings.schema).parquet(str(src)),
            payroll, index_dir, matches_dir, str(tmp_path / "ck_fresh"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )


def test_title_index_edge_regressions(spark, tmp_path):
    """Review findings (r12), small-bore: (a) keys_over_cap reads 0 -
    not None - on an empty index so the documented trigger comparison
    works; (b) rewriting a bucketed index dir as plain parquet drops
    the stale catalog entry (a CLUSTERED BY table over unbucketed
    files would let a later join trust false bucketing)."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 100)
    idx = HA.build_payroll_title_index(payroll)
    empty = idx.limit(0)
    stats = FZ.title_index_occupancy(empty, max_block=2)
    assert stats["keys_over_cap"] == 0 and stats["max_per_key"] == 0

    d = str(tmp_path / "idx")
    FZ.write_title_index(idx, d, "bucketed", n_buckets=4)
    tname = FZ.title_index_meta(d)["table"]
    assert FZ._index_table_name(d) in tname  # every version shares the stem
    assert spark.catalog.tableExists(tname)
    FZ.write_title_index(idx, d, "parquet")
    assert not spark.catalog.tableExists(tname)
    got = sorted(map(tuple, FZ.read_title_index(spark, d).collect()))
    assert got == sorted(map(tuple, idx.collect()))


def test_torn_maintenance_batch_invisible_until_committed(spark, tmp_path):
    """Review finding (r12, pass 2): a maintenance crash between the
    g{j} write and the d{j} commit must not lose matches. The torn
    batch (g0 on disk, d0 missing) is INVISIBLE to the ingest - its
    titles neither probe payroll-less nor get recorded as seen - and
    the maintenance replay commits both and back-fills the postings
    batch exactly once: the final corpus equals the one-shot re-match."""
    import os
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    payroll_all = HA.make_payroll_fixture(spark, 300).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 4 < 3).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 4 == 3).drop("rid")
    postings = HA.make_postings_fixture(spark, 50).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    base.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")
    post_src, pay_src = tmp_path / "post_src", tmp_path / "pay_src"
    post_src.mkdir(), pay_src.mkdir()

    def land(df, dest, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, dest / f"{name}.parquet")

    # fabricate the torn batch exactly as the crash leaves it: the
    # checkpoint metadata and the three pinned markers landed (apply
    # records them before writing), g0 was written, d0 never committed,
    # and the checkpoint never committed batch 0 - the maintenance run
    # below IS the replay, resuming the same checkpoint identity
    import json

    ck_pay = tmp_path / "ck_pay"
    ck_pay.mkdir()
    (ck_pay / "metadata").write_text(json.dumps({"id": "8f14e45f-ceea-467f-9575-7b7f8e4a3f21"}))
    for d in (matches_dir, index_dir, payroll_dir):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "_checkpoint_id_maintenance"), "w") as f:
            f.write("8f14e45f-ceea-467f-9575-7b7f8e4a3f21")
    land(d0, pay_src, "d0")
    FZ.extend_title_index(
        FZ.read_title_index(spark, index_dir),
        HA._prep_payroll(d0, 2024, 2025),
        "title_description",
    ).write.parquet(os.path.join(index_dir, "g0"))
    assert FZ.list_index_generations(index_dir) == [0]
    assert HA._visible_maintenance(index_dir, payroll_dir) == ([], [])

    # postings land while the batch is torn: the probe must ignore g0
    land(postings, post_src, "a0")
    HA.run_fuzzy_match_ingest(
        spark.readStream.schema(postings.schema).parquet(str(post_src)),
        payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_post"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )
    bmeta = HA._read_batch_meta(matches_dir, "b0")
    assert bmeta["generations"] == [] and bmeta["payroll_deltas"] == []

    # the maintenance replay commits g0+d0 and back-fills b0 x d0
    HA.run_fuzzy_index_maintenance(
        spark.readStream.schema(base.schema).parquet(str(pay_src)),
        payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_pay"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )
    assert HA._visible_maintenance(index_dir, payroll_dir) == ([0], [0])
    got = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            HA.fuzzy_match_salary(
                base.unionByName(d0), postings,
                prefilter_cutoff=1, score_cutoff=85,
                join_fn=fuzzy_join_tokensort, row_key="post_id",
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_covered_batches_skip_compacted_in_deltas(tmp_path):
    """Review finding (r12, pass 2): the cross-term covered test must
    skip a postings batch that re-attached d{j} via a COMPACTED-IN
    generation (meta payroll_deltas), not only via a live one (meta
    generations) - else a maintenance replay after a crash-then-compact
    double-counts every (batch x d{j}) pair."""
    import pytest as _pytest

    m = str(tmp_path / "matches")
    (tmp_path / "matches" / "b0").mkdir(parents=True)
    (tmp_path / "matches" / "b1").mkdir()
    (tmp_path / "matches" / "b2").mkdir()
    HA._write_batch_meta(m, "b0", {
        "batch_id": 0, "generations": [0], "payroll_deltas": [0],
        "limit": None,
    })  # saw g0 live
    HA._write_batch_meta(m, "b1", {
        "batch_id": 1, "generations": [], "payroll_deltas": [0],
        "limit": None,
    })  # saw d0 via the compacted base
    HA._write_batch_meta(m, "b2", {
        "batch_id": 2, "generations": [], "payroll_deltas": [],
        "limit": None,
    })  # never saw the delta: the only one to back-fill
    assert HA._covered_postings_batches(m, 0) == [2]
    assert HA._covered_postings_batches(m, 1) == [0, 1, 2]

    HA._write_batch_meta(m, "b2", {
        "batch_id": 2, "generations": [], "payroll_deltas": [], "limit": 1,
    })
    with _pytest.raises(ValueError, match="limit"):
        HA._covered_postings_batches(m, 0)


def test_guard_refuses_fresh_checkpoint_over_markerless_batches(tmp_path):
    """Review finding (r12, pass 2): a marker-LESS output dir that
    already holds per-batch subdirectories (pre-marker-era sink, or a
    lost marker file) must refuse a FRESH checkpoint - renumbered
    batches are the double-count hazard - while a RESUMED checkpoint
    (metadata on disk) adopts the dir."""
    import json
    import os

    out = tmp_path / "matches"
    (out / "b0").mkdir(parents=True)
    fresh_ck = str(tmp_path / "ck_fresh")  # no metadata: never ran
    with pytest.raises(ValueError, match="fresh"):
        HA._guard_checkpoint(str(out), fresh_ck, "_checkpoint_id", r"b\d+")
    # a resumed checkpoint (metadata exists) adopts the legacy dir
    resumed = tmp_path / "ck_resumed"
    resumed.mkdir()
    (resumed / "metadata").write_text(json.dumps({"id": "q-123"}))
    HA._guard_checkpoint(str(out), str(resumed), "_checkpoint_id", r"b\d+")
    # an EMPTY output dir accepts a fresh checkpoint (first run)
    HA._guard_checkpoint(
        str(tmp_path / "empty"), fresh_ck, "_checkpoint_id", r"b\d+"
    )
    os.makedirs(tmp_path / "empty", exist_ok=True)
    HA._guard_checkpoint(
        str(tmp_path / "empty"), fresh_ck, "_checkpoint_id", r"b\d+"
    )


def test_maintenance_guards_index_and_payroll_dirs(spark, tmp_path):
    """Review finding (r12, pass 2): the maintenance batch numbering
    lives in index_dir (g*) and payroll_dir (d*) too - starting over
    with a NEW matches dir and fresh checkpoint while reusing those
    dirs must refuse, else re-batched d0 plus stale d1 doubles payroll
    rows in every later probe."""
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 200)
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(payroll), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    payroll.write.parquet(f"{payroll_dir}/base")
    pay_src = tmp_path / "pay_src"
    pay_src.mkdir()
    payroll.limit(30).coalesce(1).write.parquet(str(tmp_path / "w"))
    for f in (tmp_path / "w").glob("*.parquet"):
        shutil.copy(f, pay_src / "d0.parquet")

    def maintain(mdir, ck):
        HA.run_fuzzy_index_maintenance(
            spark.readStream.schema(payroll.schema).parquet(str(pay_src)),
            payroll_dir, index_dir, str(tmp_path / mdir), str(tmp_path / ck),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    maintain("m1", "ck1")
    # new matches dir + FRESH checkpoint + reused index/payroll dirs:
    # the index/payroll markers from ck1 refuse the renumbering
    with pytest.raises(ValueError, match="different checkpoint"):
        maintain("m2", "ck2")


def test_rebuild_preserves_folded_generations(spark, tmp_path):
    """Review finding (r12, pass 3): a rebuild of a maintained index
    must not launder folded_generations away while d{j} payroll
    archives still exist - write_title_index preserves the record by
    default (explicit [] clears it), and a crash mid-rebuild leaves a
    TOMBSTONE meta that keeps it durable and refuses reads."""
    import json
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 150)
    idx = HA.build_payroll_title_index(payroll)
    d = str(tmp_path / "idx")
    FZ.write_title_index(idx, d, "parquet", folded_generations=[0, 2])
    assert FZ.title_index_folded_generations(d) == [0, 2]

    # plain rebuild: the record survives
    FZ.write_title_index(idx, d, "parquet")
    assert FZ.title_index_folded_generations(d) == [0, 2]
    # explicit clear (payroll corpus folded at the same time)
    FZ.write_title_index(idx, d, "parquet", folded_generations=[])
    assert FZ.title_index_folded_generations(d) == []

    # crash simulation: tombstone meta on disk mid-rebuild
    FZ.write_title_index(idx, d, "parquet", folded_generations=[1])
    meta_path = os.path.join(d, "_index_meta.json")
    with open(meta_path) as f:
        saved = json.load(f)
    tomb = {"rebuilding": True, "folded_generations": [1]}
    with open(meta_path, "w") as f:
        json.dump(tomb, f)
    with pytest.raises(ValueError, match="tombstone"):
        FZ.read_title_index(spark, d)
    with pytest.raises(ValueError, match="tombstone"):
        FZ.compact_persisted_title_index(spark, d)
    # the recovery rebuild preserves the tombstone's record
    FZ.write_title_index(idx, d, "parquet")
    assert FZ.title_index_folded_generations(d) == [1]
    assert json.loads(open(meta_path).read())["format"] == saved["format"]


def test_compaction_skips_torn_generations(spark, tmp_path):
    """Review finding (r12, pass 3): with payroll_dir supplied,
    compaction folds only COMMITTED generations - a torn g{j} (no
    d{j}) stays a live g dir for the maintenance replay to overwrite,
    never baked into the base."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll_all = HA.make_payroll_fixture(spark, 300).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 3 == 0).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 3 == 1).drop("rid")
    d1 = payroll_all.filter(F.col("rid") % 3 == 2).drop("rid")
    index_dir = str(tmp_path / "idx")
    payroll_dir = str(tmp_path / "payroll")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    base.write.parquet(os.path.join(payroll_dir, "base"))

    # committed generation 0 (g0 + d0) and TORN generation 1 (g1 only)
    prep = lambda df: HA._prep_payroll(df, 2024, 2025)  # noqa: E731
    g0 = FZ.extend_title_index(
        FZ.read_title_index(spark, index_dir), prep(d0), "title_description"
    )
    g0.write.parquet(os.path.join(index_dir, "g0"))
    d0.write.parquet(os.path.join(payroll_dir, "d0"))
    g1 = FZ.extend_title_index(
        FZ.read_title_index(spark, index_dir), prep(d1), "title_description"
    )
    g1.write.parquet(os.path.join(index_dir, "g1"))

    FZ.compact_persisted_title_index(spark, index_dir, payroll_dir=payroll_dir)
    # g0 folded and recorded; torn g1 survives as a live generation
    assert FZ.title_index_folded_generations(index_dir) == [0]
    assert FZ.list_index_generations(index_dir) == [1]
    got = sorted(
        map(
            tuple,
            FZ.read_title_index(spark, index_dir, generations=[]).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            HA.build_payroll_title_index(base.unionByName(d0)).collect(),
        )
    )
    assert got == want  # the base == exactly base+d0, no torn rows


def test_compaction_entry_gc_reclaims_stranded_staging(spark, tmp_path, monkeypatch):
    """Round-12 VERDICT ask #5: a hard kill mid-compaction strands
    leftovers that no reader ever sees and no replay ever reclaims;
    the next compaction's entry GC must reclaim them in both crash
    directions while a TORN generation (g1 without d1) stays live for
    the maintenance replay. Killed before the meta swap, the fold
    leaves an orphan base version; killed after it, the superseded
    base and the folded g{j} dirs - which readers skip through the
    meta's folded record."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.pipelines import versioned as VB

    payroll_all = HA.make_payroll_fixture(spark, 300).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 3 == 0).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 3 == 1).drop("rid")
    d1 = payroll_all.filter(F.col("rid") % 3 == 2).drop("rid")
    index_dir = str(tmp_path / "idx")
    payroll_dir = str(tmp_path / "payroll")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    base.write.parquet(os.path.join(payroll_dir, "base"))
    prep = lambda df: HA._prep_payroll(df, 2024, 2025)  # noqa: E731
    g0 = FZ.extend_title_index(
        FZ.read_title_index(spark, index_dir), prep(d0), "title_description"
    )
    g0.write.parquet(os.path.join(index_dir, "g0"))
    d0.write.parquet(os.path.join(payroll_dir, "d0"))
    g1 = FZ.extend_title_index(
        FZ.read_title_index(spark, index_dir), prep(d1), "title_description"
    )
    g1.write.parquet(os.path.join(index_dir, "g1"))
    g1_rows = sorted(map(tuple, spark.read.parquet(
        os.path.join(index_dir, "g1")).collect()))
    want = sorted(map(tuple, FZ.read_title_index(spark, index_dir).collect()))
    real_write = VB.write_atomic

    def compact_killed(after_swap):
        def killed(path, text):
            if after_swap:
                real_write(path, text)
            raise RuntimeError("killed")

        monkeypatch.setattr(VB, "write_atomic", killed)
        with pytest.raises(RuntimeError, match="killed"):
            FZ.compact_persisted_title_index(
                spark, index_dir, payroll_dir=payroll_dir
            )
        monkeypatch.undo()

    def litter():
        return VB.litter(index_dir, FZ.title_index_meta(index_dir)["base"], "base")

    # direction 1: killed after writing the new base, before the swap -
    # an orphan version readers never follow
    compact_killed(after_swap=False)
    assert litter() == ["base_v2"]
    assert FZ.title_index_folded_generations(index_dir) == []
    assert sorted(map(tuple, FZ.read_title_index(spark, index_dir).collect())) == want
    FZ.compact_persisted_title_index(spark, index_dir, payroll_dir=payroll_dir)
    assert litter() == []
    # the torn generation stayed live, never folded, rows intact
    assert FZ.title_index_folded_generations(index_dir) == [0]
    assert FZ.list_index_generations(index_dir) == [1]
    assert sorted(map(tuple, spark.read.parquet(
        os.path.join(index_dir, "g1")).collect())) == g1_rows

    # direction 2: the maintenance replay commits batch 1, and the fold
    # is killed after the swap - the superseded base and the folded g1
    # dir stay on disk, but readers do not count g1's rows twice
    d1.write.parquet(os.path.join(payroll_dir, "d1"))
    compact_killed(after_swap=True)
    assert FZ.title_index_folded_generations(index_dir) == [0, 1]
    assert litter() == ["base_v3"]
    assert FZ.list_index_generations(index_dir) == [1]  # leftover dir
    assert sorted(map(tuple, FZ.read_title_index(spark, index_dir).collect())) == want
    FZ.compact_persisted_title_index(spark, index_dir, payroll_dir=payroll_dir)
    assert litter() == [] and FZ.list_index_generations(index_dir) == []
    got = sorted(map(tuple, FZ.read_title_index(
        spark, index_dir, generations=[]).collect()))
    want = sorted(map(tuple, HA.build_payroll_title_index(
        base.unionByName(d0).unionByName(d1)).collect()))
    assert got == want


def test_folded_batches_keep_maintenance_checkpoint_pinned(spark, tmp_path):
    """Round-12 ADVICE (medium): after the full compaction cadence
    folds every g{j}/d{j} away, the maintenance checkpoint guards must
    COUNT the folded records as batch evidence - releasing the pin
    would let a fresh checkpoint renumber batch 0 into the folded id
    space, where the new d0's rows are invisible to
    read_payroll_corpus (manifest lists 0 as folded) and the next
    compact_payroll_corpus GC deletes the archive as dead, losing the
    payroll rows permanently."""
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll_all = HA.make_payroll_fixture(spark, 200).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 2 == 0).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 2 == 1).drop("rid")
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    base.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")
    pay_src = tmp_path / "pay_src"
    pay_src.mkdir()

    def land(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, pay_src / f"{name}.parquet")

    def maintain(ck):
        HA.run_fuzzy_index_maintenance(
            spark.readStream.schema(base.schema).parquet(str(pay_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / ck),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    # maintenance with NO archived postings: covered is empty, so no
    # p{id} dir ever lands - exactly the shape where the old guards
    # had zero live evidence after compaction
    land(d0, "d0")
    maintain("ck_pay")
    FZ.compact_persisted_title_index(spark, index_dir, payroll_dir=payroll_dir)
    assert HA.compact_payroll_corpus(spark, payroll_dir, index_dir) == [0]
    assert FZ.list_index_generations(index_dir) == []
    assert HA.list_payroll_deltas(payroll_dir) == []

    # a fresh checkpoint must REFUSE - the folded records are the
    # evidence now (pre-fix: all guards released and batch 0 collided)
    land(d0.limit(5), "d1")
    with pytest.raises(ValueError, match="different checkpoint"):
        maintain("ck_pay_fresh")
    # and the payroll corpus is still exactly base + d0
    got = HA.read_payroll_corpus(spark, payroll_dir).count()
    assert got == base.count() + d0.count()

    # the ORIGINAL checkpoint keeps working after compaction
    maintain("ck_pay")
    assert HA.list_payroll_deltas(payroll_dir) == [1]

    # unit level: a marker-LESS dir (lost marker) with only folded
    # evidence still refuses a fresh checkpoint
    import os

    os.remove(os.path.join(payroll_dir, "_checkpoint_id_maintenance"))
    with pytest.raises(ValueError, match="fresh"):
        HA._guard_checkpoint(
            payroll_dir, str(tmp_path / "ck_never_ran"),
            "_checkpoint_id_maintenance", r"NOMATCH\d+", folded=True,
        )


def test_corpus_fold_coalesces_output_files(spark, tmp_path):
    """Probe finding (r13, tools/matches_fold_probe.py): the fold's
    union write PRESERVED its input partitioning - one output file per
    folded dir, plus every old-base file carried into each new base,
    so the file count the fold exists to retire grew additively per
    fold cycle. Folds now coalesce to a byte-sized output target."""
    import json
    import os
    import shutil

    matches_dir = str(tmp_path / "matches")
    os.makedirs(matches_dir)
    rows = spark.range(50).selectExpr("id", "cast(id as string) as s")
    rows.coalesce(1).write.parquet(str(tmp_path / "proto"))
    part = [
        f for f in os.listdir(tmp_path / "proto") if f.endswith(".parquet")
    ][0]

    def land(name):
        bdir = os.path.join(matches_dir, name)
        os.makedirs(bdir)
        shutil.copy(
            os.path.join(tmp_path / "proto", part), os.path.join(bdir, part)
        )
        with open(os.path.join(bdir, "_meta.json"), "w") as f:
            json.dump({"limit": None}, f)

    def base_files():
        man = HA._matches_manifest(matches_dir)
        return [
            f
            for f in os.listdir(os.path.join(matches_dir, man["base"]))
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    for i in range(6):
        land(f"b{i}")
    assert len(HA.compact_matches_corpus(spark, matches_dir, lease_dir=None)) == 6
    assert len(base_files()) == 1  # not 6
    assert HA.read_ingested_matches(spark, matches_dir).count() == 300

    # second cycle: old base + 3 new batches still fold to ONE file
    for i in range(6, 9):
        land(f"b{i}")
    assert len(HA.compact_matches_corpus(spark, matches_dir, lease_dir=None)) == 3
    assert len(base_files()) == 1  # not 1 + 3
    assert HA.read_ingested_matches(spark, matches_dir).count() == 450


def test_compact_matches_corpus_folds_batches_preserving_history(spark, tmp_path):
    """Round-12 VERDICT ask #1: fold completed b/p match batches into
    a versioned base + manifest. The read-back multiset is unchanged,
    folded dirs keep exactly their _meta.json (covered-set and
    replay-skip bookkeeping must not be laundered), later batches keep
    landing and fold incrementally, and the entry GC reclaims both
    crash directions."""
    import json
    import os
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    payroll_all = HA.make_payroll_fixture(spark, 300).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 3 < 2).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 3 == 2).drop("rid")
    postings = HA.make_postings_fixture(spark, 60).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    a0 = postings.filter(F.col("post_id") % 2 == 0)
    a1 = postings.filter(F.col("post_id") % 2 == 1)
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    base.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")
    post_src, pay_src = tmp_path / "post_src", tmp_path / "pay_src"
    post_src.mkdir(), pay_src.mkdir()

    def land(df, dest, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, dest / f"{name}.parquet")

    def ingest():
        HA.run_fuzzy_match_ingest(
            spark.readStream.schema(postings.schema).parquet(str(post_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_post"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    def maintain():
        HA.run_fuzzy_index_maintenance(
            spark.readStream.schema(base.schema).parquet(str(pay_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_pay"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    # nothing ingested yet: the dir does not even exist
    with pytest.raises(ValueError, match="no ingested match batches"):
        HA.read_ingested_matches(spark, matches_dir)
    land(a0, post_src, "a0"); ingest()       # b0
    land(d0, pay_src, "d0"); maintain()      # g0/d0 + p0
    before = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    b0_meta = HA._read_batch_meta(matches_dir, "b0")
    p0_meta = HA._read_batch_meta(matches_dir, "p0")

    assert HA.compact_matches_corpus(spark, matches_dir, lease_dir=None) == ["b0", "p0"]
    man = HA._matches_manifest(matches_dir)
    assert man["base"] == "mbase_v1" and man["folded"] == ["b0", "p0"]
    # multiset unchanged; folded dirs hold exactly their meta; the
    # bookkeeping reads come out identical
    assert sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    ) == before
    for d in ("b0", "p0"):
        assert os.listdir(os.path.join(matches_dir, d)) == ["_meta.json"]
    assert HA._read_batch_meta(matches_dir, "b0") == b0_meta
    assert HA._read_batch_meta(matches_dir, "p0") == p0_meta
    # nothing eligible: idempotent no-op
    assert HA.compact_matches_corpus(spark, matches_dir, lease_dir=None) == []

    # later batches land (same checkpoints) and fold incrementally;
    # the covered-set bookkeeping on the folded b0 meta still excludes
    # it from re-coverage (b0 saw g0 live)
    land(a1, post_src, "a1"); ingest()       # b1 probes base+g0
    assert HA.compact_matches_corpus(spark, matches_dir, lease_dir=None) == ["b1"]
    man = HA._matches_manifest(matches_dir)
    assert man["base"] == "mbase_v2" and man["folded"] == ["b0", "b1", "p0"]
    assert not os.path.isdir(os.path.join(matches_dir, "mbase_v1"))
    want = sorted(
        map(
            tuple,
            HA.fuzzy_match_salary(
                base.unionByName(d0), postings,
                prefilter_cutoff=1, score_cutoff=85,
                join_fn=fuzzy_join_tokensort, row_key="post_id",
            ).collect(),
        )
    )
    assert sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    ) == want and len(want) > 0

    # crash-leftover GC, both directions: an uncommitted mbase version
    # and parquet leftovers inside a folded dir are reclaimed on entry
    os.makedirs(os.path.join(matches_dir, "mbase_v9"))
    with open(os.path.join(matches_dir, "b0", "leftover.parquet"), "w") as f:
        f.write("junk")
    assert HA.compact_matches_corpus(spark, matches_dir, lease_dir=None) == []
    assert not os.path.isdir(os.path.join(matches_dir, "mbase_v9"))
    assert os.listdir(os.path.join(matches_dir, "b0")) == ["_meta.json"]
    # a TORN batch dir (no meta: crash mid-batch) never folds
    os.makedirs(os.path.join(matches_dir, "b7"))
    assert HA.compact_matches_corpus(spark, matches_dir, lease_dir=None) == []
    assert "b7" not in HA._matches_manifest(matches_dir)["folded"]
    shutil.rmtree(os.path.join(matches_dir, "b7"))

    # the manifest swap is the commit point: a manifest pointing at a
    # committed base plus stale leftovers reads clean after GC
    assert json.load(
        open(os.path.join(matches_dir, "_matches_manifest.json"))
    )["base"] == "mbase_v2"


def test_maintenance_replay_covers_batches_landed_mid_replay(tmp_path):
    """Review finding (r12, pass 3): a maintenance replay unions its
    pinned covered set with a recompute - a postings batch that landed
    while a crashed replay attempt had the batch torn saw neither the
    generation nor the delta, and only the recompute can pick it up;
    batches that did see the delta are excluded by their own metas."""
    m = str(tmp_path / "matches")
    for b, meta in (
        ("b0", {"batch_id": 0, "generations": [0], "payroll_deltas": [0],
                "limit": None}),       # saw the delta: never re-covered
        ("b1", {"batch_id": 1, "generations": [], "payroll_deltas": [],
                "limit": None}),       # originally covered
        ("b2", {"batch_id": 2, "generations": [], "payroll_deltas": [],
                "limit": None}),       # landed mid-replay: ONLY recompute sees it
    ):
        (tmp_path / "matches" / b).mkdir(parents=True)
        HA._write_batch_meta(m, b, meta)
    pinned = [1]
    recomputed = HA._covered_postings_batches(m, 0)
    assert recomputed == [1, 2]
    assert sorted(set(pinned) | set(recomputed)) == [1, 2]


def test_guard_releases_stale_marker_without_batches(tmp_path):
    """Review finding (r12, pass 3): a marker left by a run that was
    refused before writing anything (no batch dirs of this flow) must
    not permanently lock the dir against a legitimate fresh start."""
    import json
    import os

    out = tmp_path / "state"
    out.mkdir()
    (out / "_checkpoint_id").write_text("11111111-1111-1111-1111-111111111111")
    fresh = str(tmp_path / "ck_fresh")
    # no b* dirs: the stale pin releases and the run proceeds
    HA._guard_checkpoint(str(out), fresh, "_checkpoint_id", r"b\d+")
    assert not os.path.exists(out / "_checkpoint_id")
    # with batch dirs present the mismatch still refuses
    (out / "_checkpoint_id").write_text("11111111-1111-1111-1111-111111111111")
    (out / "b0").mkdir()
    ck2 = tmp_path / "ck2"
    ck2.mkdir()
    (ck2 / "metadata").write_text(json.dumps({"id": "22222222-2222-2222-2222-222222222222"}))
    with pytest.raises(ValueError, match="different checkpoint"):
        HA._guard_checkpoint(str(out), str(ck2), "_checkpoint_id", r"b\d+")


def test_payroll_corpus_compaction_lifecycle(spark, tmp_path):
    """compact_payroll_corpus completes the compaction cadence: after
    the INDEX compaction folds g*, the payroll side folds the matching
    d* archives into a versioned base behind one atomic manifest swap.
    Post-compaction postings batches still re-attach every maintained
    row (exact vs the one-shot re-match), metas record folded ids as
    payroll_deltas, replayed pins read through the base, ineligible
    deltas (live generations) refuse to fold, and a crashed run's
    orphan base version GCs."""
    import json
    import os
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    payroll_all = HA.make_payroll_fixture(spark, 400).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 4 < 3).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 4 == 3).drop("rid")
    postings = HA.make_postings_fixture(spark, 60).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    a0 = postings.filter(F.col("post_id") % 2 == 0)
    a1 = postings.filter(F.col("post_id") % 2 == 1)

    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    base.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")
    post_src, pay_src = tmp_path / "post_src", tmp_path / "pay_src"
    post_src.mkdir(), pay_src.mkdir()

    def land(df, dest, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, dest / f"{name}.parquet")

    def ingest():
        HA.run_fuzzy_match_ingest(
            spark.readStream.schema(postings.schema).parquet(str(post_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_post"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    land(a0, post_src, "a0"); ingest()
    land(d0, pay_src, "d0")
    HA.run_fuzzy_index_maintenance(
        spark.readStream.schema(base.schema).parquet(str(pay_src)),
        payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_pay"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )
    # live generation: the payroll side refuses to fold ahead of the
    # index side
    assert HA.compact_payroll_corpus(spark, payroll_dir, index_dir) == []

    FZ.compact_persisted_title_index(spark, index_dir, payroll_dir=payroll_dir)
    # plant a crashed prior run's orphan base version: GC'd on entry
    orphan = tmp_path / "payroll" / "base_v7"
    orphan.mkdir()
    (orphan / "junk").write_bytes(b"x")
    assert HA.compact_payroll_corpus(spark, payroll_dir, index_dir) == [0]
    assert not orphan.exists()
    man = HA._payroll_manifest(payroll_dir)
    assert man["folded_deltas"] == [0] and man["base"].startswith("base_v")
    # the fold coalesces: one byte-sized file, not base-files + deltas
    assert (
        len([
            f for f in os.listdir(os.path.join(payroll_dir, man["base"]))
            if f.endswith(".parquet") and not f.startswith(".")
        ]) == 1
    )
    assert HA.list_payroll_deltas(payroll_dir) == []  # d0 dir gone
    assert not (tmp_path / "payroll" / "base").exists()  # old base GC'd
    # idempotent: nothing left to fold
    assert HA.compact_payroll_corpus(spark, payroll_dir, index_dir) == []

    # a post-compaction postings batch still matches d0's rows
    land(a1, post_src, "a1"); ingest()
    got = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            HA.fuzzy_match_salary(
                base.unionByName(d0), postings,
                prefilter_cutoff=1, score_cutoff=85,
                join_fn=fuzzy_join_tokensort, row_key="post_id",
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    # the batch's meta still records the folded delta as read
    assert HA._read_batch_meta(matches_dir, "b1")["payroll_deltas"] == [0]

    # replay: b0's pinned (pre-compaction) sets reproduce identical
    # content with d0's rows now reading through the base
    b0_before = sorted(
        map(tuple, spark.read.parquet(f"{matches_dir}/b0").collect())
    )
    ingest()  # same checkpoint: replays nothing new, b0 content stable
    assert sorted(
        map(tuple, spark.read.parquet(f"{matches_dir}/b0").collect())
    ) == b0_before

    # a pinned id that is neither on disk nor folded refuses
    with pytest.raises(ValueError, match="neither on disk nor folded"):
        HA.read_payroll_corpus(spark, payroll_dir, generations=[9]).collect()

    # corpus content is multiset-identical through the fold (string
    # sort key: the payroll fixture carries None titles/salaries)
    key = lambda r: tuple(map(str, r))  # noqa: E731
    corpus = sorted(
        map(tuple, HA.read_payroll_corpus(spark, payroll_dir).collect()),
        key=key,
    )
    assert corpus == sorted(
        map(tuple, base.unionByName(d0).collect()), key=key
    )
    json.loads((tmp_path / "payroll" / "_payroll_manifest.json").read_text())


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_maintenance_random_interleavings_equal_one_shot(spark, tmp_path, seed):
    """Randomized property over the exactly-once bookkeeping: payroll
    and postings split into random batches, applied in a random
    interleave order (each sink resumes its own checkpoint per step),
    with the index and payroll compactions fired at a random point -
    the accumulated matches always equal the one-shot re-match over
    the full unions."""
    import random
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )

    rng = random.Random(seed)
    n_pay_batches = rng.randint(1, 3)
    n_post_batches = rng.randint(1, 3)

    payroll_all = HA.make_payroll_fixture(spark, 360).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    splits = n_pay_batches + 2
    base = payroll_all.filter(F.col("rid") % splits < 2).drop("rid")
    pay_batches = [
        payroll_all.filter(F.col("rid") % splits == 2 + k).drop("rid")
        for k in range(n_pay_batches)
    ]
    postings = HA.make_postings_fixture(spark, 60).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    post_batches = [
        postings.filter(F.col("post_id") % n_post_batches == k)
        for k in range(n_post_batches)
    ]

    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    base.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")
    post_src, pay_src = tmp_path / "post_src", tmp_path / "pay_src"
    post_src.mkdir(), pay_src.mkdir()

    def land(df, dest, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, dest / f"{name}.parquet")

    steps = [("post", b) for b in post_batches] + [
        ("pay", b) for b in pay_batches
    ]
    rng.shuffle(steps)
    # the compaction point lands AFTER some payroll step, so every seed
    # exercises a real fold (a point before any maintenance batch would
    # compact nothing and silently test only the no-compaction path)
    pay_positions = [i for i, (k, _) in enumerate(steps) if k == "pay"]
    compact_after = rng.choice(pay_positions) + 1
    # the MATCHES fold can land after any step (it depends on neither
    # side's cadence); folded batches keep their metas, so the
    # covered-set and replay bookkeeping must come out identical
    matches_compact_after = rng.randint(1, len(steps))
    for i, (kind, df) in enumerate(steps):
        if kind == "post":
            land(df, post_src, f"a{i}")
            HA.run_fuzzy_match_ingest(
                spark.readStream.schema(postings.schema).parquet(str(post_src)),
                payroll_dir, index_dir, matches_dir,
                str(tmp_path / "ck_post"),
                prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
            )
        else:
            land(df, pay_src, f"d{i}")
            HA.run_fuzzy_index_maintenance(
                spark.readStream.schema(base.schema).parquet(str(pay_src)),
                payroll_dir, index_dir, matches_dir,
                str(tmp_path / "ck_pay"),
                prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
            )
        if i + 1 == compact_after:
            FZ.compact_persisted_title_index(
                spark, index_dir, payroll_dir=payroll_dir
            )
            HA.compact_payroll_corpus(spark, payroll_dir, index_dir)
        if i + 1 == matches_compact_after:
            HA.compact_matches_corpus(spark, matches_dir, lease_dir=index_dir)

    full_payroll = base
    for b in pay_batches:
        full_payroll = full_payroll.unionByName(b)
    got = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            HA.fuzzy_match_salary(
                full_payroll, postings,
                prefilter_cutoff=1, score_cutoff=85,
                join_fn=fuzzy_join_tokensort, row_key="post_id",
            ).collect(),
        )
    )
    assert got == want and len(got) > 0, (seed, len(got), len(want))

    # folding EVERYTHING at the end reads back the same multiset
    HA.compact_matches_corpus(spark, matches_dir, lease_dir=index_dir)
    assert sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    ) == want, seed


def test_completed_batch_replay_skips_after_compaction(spark, tmp_path, monkeypatch):
    """Review finding (r12, pass 4): a replayed COMPLETED batch (meta
    on disk, checkpoint uncommitted) must SKIP, not recompute - after
    the compaction cadence folded later deltas into the index/payroll
    BASES, a recompute would probe titles and attach rows the original
    run never saw, re-emitting pairs the maintenance back-fill already
    holds. Crash is injected right after the meta write; the resumed
    ingest replays the batch against fully-compacted state and the
    corpus stays exact."""
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join_tokensort,
    )
    from nyc_government_hiring_audit_data_platform_spark.pipelines import (
        hiring_audit as HAmod,
    )

    payroll_all = HA.make_payroll_fixture(spark, 300).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 4 < 3).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 4 == 3).drop("rid")
    postings = HA.make_postings_fixture(spark, 50).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    payroll_dir = str(tmp_path / "payroll")
    base.write.parquet(f"{payroll_dir}/base")
    matches_dir = str(tmp_path / "matches")
    post_src, pay_src = tmp_path / "post_src", tmp_path / "pay_src"
    post_src.mkdir(), pay_src.mkdir()

    def land(df, dest, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
        for f in (tmp_path / "w").glob("*.parquet"):
            shutil.copy(f, dest / f"{name}.parquet")

    def ingest():
        HA.run_fuzzy_match_ingest(
            spark.readStream.schema(postings.schema).parquet(str(post_src)),
            payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_post"),
            prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        )

    # batch 0 completes on disk (src + matches + meta) but the
    # checkpoint never commits: crash injected right after the meta
    real_meta = HAmod._write_batch_meta
    fired = {"n": 0}

    def crash_after_meta(mdir, name, meta):
        real_meta(mdir, name, meta)
        if name == "b0" and fired["n"] == 0:
            fired["n"] += 1
            raise RuntimeError("simulated crash after meta write")

    land(postings, post_src, "a0")
    monkeypatch.setattr(HAmod, "_write_batch_meta", crash_after_meta)
    with pytest.raises(Exception, match="simulated crash after meta"):
        ingest()
    monkeypatch.undo()
    assert HA._read_batch_meta(matches_dir, "b0") is not None

    # maintenance covers b0 x d0 (b0's meta says it never saw d0),
    # then the FULL compaction cadence mutates both bases
    land(d0, pay_src, "d0")
    HA.run_fuzzy_index_maintenance(
        spark.readStream.schema(base.schema).parquet(str(pay_src)),
        payroll_dir, index_dir, matches_dir, str(tmp_path / "ck_pay"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )
    FZ.compact_persisted_title_index(spark, index_dir, payroll_dir=payroll_dir)
    assert HA.compact_payroll_corpus(spark, payroll_dir, index_dir) == [0]

    # the resumed ingest replays batch 0 against the compacted state:
    # the completed batch SKIPS and the corpus stays exact (the old
    # recompute would have re-attached d0's rows and double-counted
    # every pair p0 already holds)
    ingest()
    got = sorted(
        map(tuple, HA.read_ingested_matches(spark, matches_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            HA.fuzzy_match_salary(
                base.unionByName(d0), postings,
                prefilter_cutoff=1, score_cutoff=85,
                join_fn=fuzzy_join_tokensort, row_key="post_id",
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_payroll_gc_reclaims_post_commit_crash_leftovers(spark, tmp_path):
    """Review finding (r12, pass 4): a crash between the manifest swap
    and the cleanup strands the old base and the folded d{j} dirs; the
    next run's entry GC must reclaim BOTH (the literal 'base' dir the
    version regex alone never matches, and already-folded archives)."""
    import os
    import shutil

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll_all = HA.make_payroll_fixture(spark, 200).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll_all.filter(F.col("rid") % 3 < 2).drop("rid")
    d0 = payroll_all.filter(F.col("rid") % 3 == 2).drop("rid")
    index_dir = str(tmp_path / "index")
    payroll_dir = str(tmp_path / "payroll")
    FZ.write_title_index(HA.build_payroll_title_index(base), index_dir, "parquet")
    base.write.parquet(os.path.join(payroll_dir, "base"))
    prep = HA._prep_payroll(d0, 2024, 2025)
    FZ.extend_title_index(
        FZ.read_title_index(spark, index_dir), prep, "title_description"
    ).write.parquet(os.path.join(index_dir, "g0"))
    d0.write.parquet(os.path.join(payroll_dir, "d0"))
    FZ.compact_persisted_title_index(spark, index_dir, payroll_dir=payroll_dir)

    # run the fold but simulate the crash AFTER the commit point by
    # restoring the stranded leftovers the cleanup removed
    keep_base = str(tmp_path / "stash_base")
    keep_d0 = str(tmp_path / "stash_d0")
    shutil.copytree(os.path.join(payroll_dir, "base"), keep_base)
    shutil.copytree(os.path.join(payroll_dir, "d0"), keep_d0)
    assert HA.compact_payroll_corpus(spark, payroll_dir, index_dir) == [0]
    shutil.copytree(keep_base, os.path.join(payroll_dir, "base"))
    shutil.copytree(keep_d0, os.path.join(payroll_dir, "d0"))
    assert HA.list_payroll_deltas(payroll_dir) == [0]  # the stranded dir

    # next run (nothing left to fold) reclaims both leftovers
    assert HA.compact_payroll_corpus(spark, payroll_dir, index_dir) == []
    assert not os.path.exists(os.path.join(payroll_dir, "base"))
    assert HA.list_payroll_deltas(payroll_dir) == []
    key = lambda r: tuple(map(str, r))  # noqa: E731
    got = sorted(
        map(tuple, HA.read_payroll_corpus(spark, payroll_dir).collect()),
        key=key,
    )
    assert got == sorted(map(tuple, base.unionByName(d0).collect()), key=key)


@pytest.mark.parametrize("crash", ["before_swap", "after_swap"])
@pytest.mark.parametrize("store", ["index", "payroll", "matches"])
def test_fold_crash_points_keep_readers_exact(
    spark, tmp_path, monkeypatch, store, crash
):
    """The versioned-base protocol (pipelines/versioned.py) killed at
    each of a fold's two crash points, for each store that uses it.
    Killed after the new base version is written but before the
    manifest swap, readers still return the old rows; killed after the
    swap but before cleanup, they return the new rows with none
    counted twice, although the folded generation dir is still on
    disk. lifecycle_status reports the leftover version as litter, and
    the next fold's entry GC removes every leftover."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.pipelines import versioned as VB

    payroll = HA.make_payroll_fixture(spark, 150).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    base = payroll.filter(F.col("rid") % 3 < 2).drop("rid")
    delta = payroll.filter(F.col("rid") % 3 == 2).drop("rid")
    index_dir, payroll_dir, matches_dir = (
        str(tmp_path / n) for n in ("index", "payroll", "matches")
    )
    FZ.write_title_index(
        HA.build_payroll_title_index(base), index_dir, "parquet",
        folded_generations=[0] if store == "payroll" else [],
    )
    if store == "index":
        FZ.extend_title_index(
            FZ.read_title_index(spark, index_dir),
            HA._prep_payroll(delta, 2024, 2025), "title_description",
        ).write.parquet(os.path.join(index_dir, "g0"))
        root, stem, gen, keep, step = index_dir, "base", "g0", None, "compact_index"

        def fold():
            FZ.compact_persisted_title_index(spark, index_dir)

        def read():
            return FZ.read_title_index(spark, index_dir)

        def manifest_base():
            return FZ.title_index_meta(index_dir)["base"]
    elif store == "payroll":
        base.write.parquet(os.path.join(payroll_dir, "base"))
        delta.write.parquet(os.path.join(payroll_dir, "d0"))
        root, stem, gen, keep, step = payroll_dir, "base", "d0", None, "fold_payroll"

        def fold():
            HA.compact_payroll_corpus(spark, payroll_dir, index_dir)

        def read():
            return HA.read_payroll_corpus(spark, payroll_dir)

        def manifest_base():
            return HA._payroll_manifest(payroll_dir)["base"]
    else:
        root, stem, gen, keep, step = (
            matches_dir, "mbase", "b1", "_meta.json", "fold_matches"
        )

        def fold():
            HA.compact_matches_corpus(spark, matches_dir, lease_dir=index_dir)

        def read():
            return HA.read_ingested_matches(spark, matches_dir)

        def manifest_base():
            return HA._matches_manifest(matches_dir)["base"]

        for name, rows in (("b0", base), ("b1", delta)):
            rows.write.parquet(os.path.join(matches_dir, name))
            HA._write_batch_meta(matches_dir, name, {"limit": None})
            if name == "b0":
                fold()  # b0 into mbase_v1; b1 is the pending generation

    def rows():
        return sorted(map(tuple, read().collect()), key=lambda r: tuple(map(str, r)))

    want = rows()
    old_base = manifest_base()
    real_write = VB.write_atomic

    def killed(path, text):
        if crash == "after_swap":
            real_write(path, text)
        raise RuntimeError("killed")

    monkeypatch.setattr(VB, "write_atomic", killed)
    with pytest.raises(RuntimeError, match="killed"):
        fold()
    monkeypatch.undo()

    litter = VB.litter(root, manifest_base(), stem)
    if crash == "before_swap":
        assert manifest_base() == old_base
        assert len(litter) == 1 and litter != [old_base]  # the orphan
    else:
        assert manifest_base() != old_base and litter == [old_base]
        assert any(
            f.endswith(".parquet") for f in os.listdir(os.path.join(root, gen))
        )
    assert rows() == want and len(want) > 0
    status = HA.lifecycle_status(index_dir, payroll_dir, matches_dir)
    assert status[store]["litter"] == litter
    assert f"{step}_crashed_previously" in status["actions"]

    fold()
    assert VB.litter(root, manifest_base(), stem) == []
    if keep is None:
        assert not os.path.exists(os.path.join(root, gen))
    else:
        assert os.listdir(os.path.join(root, gen)) == [keep]
    assert rows() == want
    assert not HA.lifecycle_status(index_dir, payroll_dir, matches_dir)[store]["litter"]


def test_maintenance_backfill_broadcasts_batch_index(spark, tmp_path):
    """The 100 TB shape of the cross-term back-fill: the payroll
    batch's title index is batch-sized, so its probe into the archived
    postings corpus must BROADCAST - the postings side (the big side:
    every archived batch) streams through with no blocking-key
    Exchange. Asserted on the exact plan the maintenance sink compiles
    (incremental_fuzzy_match_salary over an extend-against-empty batch
    index), with the default broadcast threshold."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
    from nyc_government_hiring_audit_data_platform_spark.plans import inspect as PI

    payroll = HA.make_payroll_fixture(spark, 400)
    batch = payroll.limit(40)
    posts = HA.make_postings_fixture(spark, 200).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    base_index = HA.build_payroll_title_index(payroll)
    batch_index = FZ.extend_title_index(
        base_index.limit(0), HA._prep_payroll(batch, 2024, 2025),
        "title_description",
    )
    matches = HA.incremental_fuzzy_match_salary(
        batch, batch_index, posts,
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
    )
    plan = PI.physical_plan(matches)
    assert "BroadcastExchange" in plan
    # the only shuffle Exchanges allowed are the candidate-dedup
    # aggregations (distinct pairs / distinct titles), never a
    # token-keyed repartition of the postings corpus: with the batch
    # index broadcast, the blocking equi-join itself moves nothing
    blocks = PI.exchange_blocks(matches)
    assert all("tok" not in b and "ltok" not in b for b in blocks), blocks
    assert len(sorted(map(tuple, matches.collect()))) > 0
