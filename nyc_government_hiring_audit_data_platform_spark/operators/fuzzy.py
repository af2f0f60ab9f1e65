"""Fuzzy similarity join operators (reference parity: J1-J6, U1-U2).

The reference implements its fuzzy joins as chunked dense cdist matrices
over rapidfuzz's C++ scorers (reference: src/fuzzy_match_salary.py:112-166,
src/fuzzy_match_jobs_durations.py:58-99). Here the same two-stage
semantics - cheap token_set_ratio prefilter gating an expensive WRatio
refinement - are re-expressed Spark-first:

1. candidate generation is a TOKEN-BLOCKING equi-join (explode normalized
   tokens, join on token, distinct pairs). token_set_ratio > 0 requires at
   least one shared token after normalization, so for any cutoff > 0 the
   blocked candidate set is a SUPERSET of the qualifying pairs - the
   blocking is lossless and the plan is a uniform shuffle instead of a
   dense N x M matrix (SURVEY.md §7.3);
2. scoring runs in Arrow-batched pandas UDFs over the (small) candidate
   pair set, with pure-Python implementations of the published
   fuzzywuzzy/rapidfuzz scorer algorithms (rapidfuzz is not available in
   this environment; the algorithms are public - MIT fuzzywuzzy spec).

At 100 TB: distinct-title dedup runs first (a few-hundred-thousand
distinct titles at most, vs billions of rows), the blocked join shuffles
on tokens, scoring touches only candidates, and results join back to
full rows by the normalized title. Hot-token skew ("analyst" in 30% of
titles) is NOT something AQE fixes - skew-join splitting keys off
shuffle-partition INPUT bytes while a hot title token is a few MB in,
quadratic out (measured: tools/skew_probe.py, SCALING.md r9) - so the
tokensort path carries a lossless length prefilter in the join
condition plus an optional per-token occupancy cap (``max_block``)
with documented subset-recall semantics.
On a cluster with rapidfuzz installed, swap the list comprehensions in
token_set_ratio_udf / wratio_udf for ``rapidfuzz.process.cpdist`` over
the same candidate pairs (identical published algorithm, C++ kernel,
~100x per-pair) - the plan shape and everything upstream is unchanged.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import shutil
from typing import Callable, NamedTuple

import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from nyc_government_hiring_audit_data_platform_spark import lease as LS
from nyc_government_hiring_audit_data_platform_spark.functions.similarity import (
    levenshtein_similarity,
)
from nyc_government_hiring_audit_data_platform_spark.functions.text import (
    normalize_text,
    tokens,
)
from nyc_government_hiring_audit_data_platform_spark.functions.textstats import (
    char_shingles,
)
from nyc_government_hiring_audit_data_platform_spark.pipelines import versioned as VB

# ---------------------------------------------------------------------------
# pure-Python scorers (published fuzzywuzzy/rapidfuzz algorithm definitions)
# ---------------------------------------------------------------------------


def _lcs_len(a: str, b: str) -> int:
    """Longest-common-subsequence length, O(len(a)*len(b)) two-row DP."""
    if not a or not b:
        return 0
    if len(b) < len(a):
        a, b = b, a
    prev = [0] * (len(a) + 1)
    for ch_b in b:
        cur = [0] * (len(a) + 1)
        for i, ch_a in enumerate(a, 1):
            cur[i] = prev[i - 1] + 1 if ch_a == ch_b else max(prev[i], cur[i - 1])
        prev = cur
    return prev[-1]


def simple_ratio(a: str, b: str) -> float:
    """Indel similarity 0-100: 200*LCS/(|a|+|b|) (rapidfuzz fuzz.ratio)."""
    if not a and not b:
        return 100.0
    denom = len(a) + len(b)
    if denom == 0:
        return 100.0
    return 200.0 * _lcs_len(a, b) / denom


def partial_ratio(a: str, b: str) -> float:
    """Best indel similarity of the shorter string against every
    equal-length window of the longer (published partial_ratio shape)."""
    if not a and not b:
        return 100.0
    short, long_ = (a, b) if len(a) <= len(b) else (b, a)
    if not short:
        return 0.0
    if len(short) == len(long_):
        return simple_ratio(short, long_)
    best = 0.0
    for start in range(len(long_) - len(short) + 1):
        window = long_[start : start + len(short)]
        score = simple_ratio(short, window)
        if score > best:
            best = score
            if best == 100.0:
                break
    return best


def _token_lists(s: str) -> list[str]:
    return [t for t in s.split(" ") if t]


def token_sort_ratio(a: str, b: str, ratio_fn=simple_ratio) -> float:
    """ratio over the token-sorted strings."""
    return ratio_fn(" ".join(sorted(_token_lists(a))), " ".join(sorted(_token_lists(b))))


def token_set_ratio(a: str, b: str, ratio_fn=simple_ratio) -> float:
    """Published token_set_ratio: compare sorted-intersection against each
    side's intersection+difference, take the max of the three ratios.
    Score > 0 on disjoint token sets is impossible, which is what makes
    token blocking lossless."""
    ta, tb = set(_token_lists(a)), set(_token_lists(b))
    if not ta and not tb:
        return 100.0
    inter = " ".join(sorted(ta & tb))
    diff_a = " ".join(sorted(ta - tb))
    diff_b = " ".join(sorted(tb - ta))
    combined_a = (inter + " " + diff_a).strip()
    combined_b = (inter + " " + diff_b).strip()
    if not inter:
        return ratio_fn(combined_a, combined_b)
    return max(
        ratio_fn(inter, combined_a),
        ratio_fn(inter, combined_b),
        ratio_fn(combined_a, combined_b),
    )


def wratio(a: str, b: str) -> float:
    """Published WRatio algorithm (fuzzywuzzy): base ratio, optionally
    blended with token and partial variants depending on the length
    ratio. Inputs are assumed already normalized."""
    if not a and not b:
        return 100.0
    if not a or not b:
        return 0.0
    unbase_scale = 0.95
    base = simple_ratio(a, b)
    len_ratio = max(len(a), len(b)) / min(len(a), len(b))
    if len_ratio < 1.5:
        return max(
            base,
            token_sort_ratio(a, b) * unbase_scale,
            token_set_ratio(a, b) * unbase_scale,
        )
    partial_scale = 0.9 if len_ratio < 8 else 0.6
    return max(
        base,
        partial_ratio(a, b) * partial_scale,
        token_sort_ratio(a, b, ratio_fn=partial_ratio) * unbase_scale * partial_scale,
        token_set_ratio(a, b, ratio_fn=partial_ratio) * unbase_scale * partial_scale,
    )


# ---------------------------------------------------------------------------
# pandas UDFs (Arrow-batched; the only Python in the plan)
# ---------------------------------------------------------------------------


@F.pandas_udf(IntegerType())
def token_set_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [int(round(token_set_ratio(x or "", y or ""))) for x, y in zip(a, b)],
        dtype="int32",
    )


@F.pandas_udf(DoubleType())
def wratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Unrounded WRatio: the reference compares rapidfuzz's float WRatio
    against the cutoff BEFORE any integer cast (src/fuzzy_match_salary.py
    :136-140), so rounding here would admit boundary scores in
    [cutoff-0.5, cutoff) that the reference rejects. Round at output."""
    return pd.Series(
        [wratio(x or "", y or "") for x, y in zip(a, b)], dtype="float64"
    )


# ---------------------------------------------------------------------------
# the two-stage fuzzy join
# ---------------------------------------------------------------------------


def _cap_block_occupancy(
    exploded: DataFrame, key_col: str, order_cols: list[str], max_block: int
) -> DataFrame:
    """Deterministically truncate each blocking-key group to its
    ``max_block`` lowest-ranked members (rank = ``order_cols`` asc).

    Same enforcement shape as dedup.minhash_lsh_pairs(max_bucket=...):
    one row_number window partitioned on the candidate join's key.
    Plan cost (plan-gated in tests/test_plans.py): Spark compiles the
    rank<=k filter to WindowGroupLimit with a PARTIAL map-side stage
    BELOW the window's exchange, so every mapper truncates each key to
    max_block before shuffling - a hot key can never flood one reducer
    with its raw occupancy. The window's exchange hash-partitions the
    (bounded, exploded) key rows; when the join side is large enough to
    shuffle (the 100 TB case) the join reuses that partitioning, and
    when the side broadcasts (driver-scale inputs) the exchange is
    additive but carries only capped rows. Recall semantics are the
    caller's to document."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    return (
        exploded.withColumn("_occ", F.row_number().over(w))
        .filter(F.col("_occ") <= max_block)
        .drop("_occ")
    )


def _salt_hot_blocks(
    lane: _Lane,
    probe: DataFrame,
    index: DataFrame,
    salt_buckets: int,
    hot_occupancy: int,
) -> tuple[DataFrame, DataFrame]:
    """Lossless hot-key parallelization shared by both lanes (SCALING.md
    r9 finding 4): blocking keys whose occupancy exceeds
    ``hot_occupancy`` on EITHER side (two map-side-combined counts,
    union, broadcast back) get the probe (LEFT) rows hash-salted into
    ``salt_buckets`` buckets and the index (RIGHT) rows replicated once
    per bucket; all other keys keep salt 0 with no replication. Each
    original (left, right) meeting happens in exactly ONE bucket, so
    joining on (key, salt) instead of (key) is output-identical - but
    a hot key's enumeration, which serializes into one task under a
    shuffle join, runs in salt_buckets tasks (measured 7.9x at x10).
    Either-side detection matters: a key hot on the LEFT with a cold
    right side is still a single-task straggler (|L_key| * |R_key|
    rows in one partition), and salting-left/replicating-right fixes
    it at the cost of replicating only the COLD side. Returns the two
    sides each carrying a ``salt`` column; the lane's pair function
    joins on it when called with ``salted=True``."""

    def hot_keys(side: DataFrame, key: str) -> DataFrame:
        return (
            side.groupBy(key)
            .agg(F.count(F.lit(1)).alias("_occ"))
            .filter(F.col("_occ") > hot_occupancy)
            .select(F.col(key).alias("_hot_tok"))
        )

    hot = F.broadcast(
        hot_keys(index, lane.key)
        .union(hot_keys(probe, lane.probe_key))
        .distinct()
    )
    probe2 = probe.join(
        hot, F.col(lane.probe_key) == F.col("_hot_tok"), "left"
    ).select(
        *probe.columns,
        F.when(
            F.col("_hot_tok").isNotNull(),
            F.pmod(F.hash(f"left_{lane.form}", "left_title"), F.lit(salt_buckets)),
        )
        .otherwise(F.lit(0))
        .alias("salt"),
    )
    index2 = index.join(hot, F.col(lane.key) == F.col("_hot_tok"), "left").select(
        *index.columns,
        F.explode(
            F.when(
                F.col("_hot_tok").isNotNull(),
                F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
            ).otherwise(F.array(F.lit(0)))
        ).alias("salt"),
    )
    return probe2, index2


def _blocking_keys(norm: Column) -> Column:
    """The WRatio lane's form -> blocking-keys map: whole tokens ∪
    character 4-grams of one normalized title (see fuzzy_title_pairs
    for why both classes are needed). Held in the lane record
    (``_WRATIO.to_keys``), so the one-shot join, the index build and
    the index probe explode titles through this one definition."""
    toks = tokens(norm)
    grams = char_shingles(norm, 4)
    return F.array_distinct(F.concat(toks, grams))


def token_sort_key(col: Column | str) -> Column:
    """Normalized, token-sorted form of a title: the string both sides of
    the token-sort scorer compare (fuzzywuzzy token_sort_ratio's
    "sorted join"). DuckDB twin: array_to_string(list_sort(list_filter(
    string_split(norm, ' '), t -> t <> '')), ' ')."""
    return F.concat_ws(" ", F.array_sort(tokens(col)))


def _wratio_pairs(
    probe: DataFrame,
    index: DataFrame,
    prefilter_cutoff: int,
    score_cutoff: int,
    salted: bool = False,
) -> DataFrame:
    """The WRatio lane's pair function: blocking-key equi-join of an
    exploded probe side against an index (plus the salt when
    ``salted``), pair distinct, then the two scoring stages. Returns
    (left_title, right_title, left_norm, right_norm, score)."""
    cand = (
        probe.join(index, ["blk", "salt"] if salted else ["blk"])
        .select("left_title", "left_norm", "right_title", "right_norm")
        .distinct()
    )
    stage1 = cand.withColumn(
        "ts_ratio", token_set_ratio_udf(F.col("left_norm"), F.col("right_norm"))
    ).filter(F.col("ts_ratio") >= prefilter_cutoff)
    # stage-1 int rounding above matches the reference's uint8 cdist;
    # stage 2 compares the UNROUNDED float WRatio (reference :136-140)
    # and rounds only the emitted score (stored as uint8 there).
    stage2 = stage1.withColumn(
        "score_f", wratio_udf(F.col("left_norm"), F.col("right_norm"))
    ).filter(F.col("score_f") >= score_cutoff)
    return stage2.select(
        "left_title",
        "right_title",
        "left_norm",
        "right_norm",
        F.round("score_f").cast("int").alias("score"),
    )


def _tokensort_pairs(
    probe: DataFrame,
    index: DataFrame,
    min_shared_tokens: int,
    score_cutoff: int,
    salted: bool = False,
) -> DataFrame:
    """The tokensort lane's pair function: token equi-join with the
    lossless length bound riding in the join condition (plus the salt
    when ``salted``), shared-token count >= ``min_shared_tokens``, then
    the levenshtein stage. Returns (left_title, right_title, score)."""
    # lossless length bound: lev >= |dlen|, so sim >= cutoff caps |dlen|
    cond = (F.col("ltok") == F.col("tok")) & (
        F.abs(F.length("left_key") - F.length("right_key"))
        <= (F.lit(100 - score_cutoff) / F.lit(100.0))
        * F.greatest(F.length("left_key"), F.length("right_key"))
    )
    if salted:
        cond = cond & (probe["salt"] == index["salt"])
    cand = (
        probe.join(index, cond)
        .groupBy("left_title", "left_key", "right_title", "right_key")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared_tokens)
    )
    sim = levenshtein_similarity(F.col("left_key"), F.col("right_key"))
    return cand.filter(sim >= score_cutoff).select(
        "left_title", "right_title", F.round(sim).cast("int").alias("score")
    )


class _Lane(NamedTuple):
    """One fuzzy lane's index layout, defined once. An exploded side
    has one row per (blocking key, title): the index side's key column
    is ``key`` next to ``right_title`` and ``right_{form}``; a probe
    side's is ``probe_key`` next to ``left_title`` and ``left_{form}``.
    ``to_form`` maps a title to the comparison form both scorers read,
    ``to_keys`` maps that form to its blocking keys, and ``pairs`` is
    the lane's candidate + scoring function (probe, index, prefilter,
    score cutoff, salted)."""

    key: str
    probe_key: str
    form: str
    to_form: Callable[[Column], Column]
    to_keys: Callable[[Column], Column]
    pairs: Callable[..., DataFrame]


_WRATIO = _Lane("blk", "blk", "norm", normalize_text, _blocking_keys, _wratio_pairs)
_TOKENSORT = _Lane(
    "tok", "ltok", "key", token_sort_key,
    lambda key: F.array_distinct(F.split(key, " ")), _tokensort_pairs,
)


def _lane_of(index: DataFrame) -> _Lane:
    """The lane a title index was built for, read from its key column
    (``blk`` = WRatio, ``tok`` = tokensort)."""
    for lane in (_WRATIO, _TOKENSORT):
        if lane.key in index.columns:
            return lane
    raise ValueError(
        f"unrecognized title-index layout {index.columns}; expected a "
        "blk (WRatio) or tok (tokensort) blocking-key column"
    )


def _exploded_titles(
    lane: _Lane,
    df: DataFrame,
    col: str,
    side: str,
    max_block: int | None = None,
) -> DataFrame:
    """The distinct non-null titles of ``df[col]``, put in the lane's
    comparison form and exploded into one row per blocking key.
    ``side="right"`` gives the index layout (key, right_title,
    right_{form}); ``side="left"`` gives a probe side under the lane's
    probe key. ``max_block`` keeps each key's lowest-(form, title)
    members (:func:`_cap_block_occupancy`)."""
    title, form = f"{side}_title", f"{side}_{lane.form}"
    key = lane.key if side == "right" else lane.probe_key
    out = (
        df.select(F.col(col).alias(title))
        .where(F.col(title).isNotNull())
        .distinct()
        .withColumn(form, lane.to_form(F.col(title)))
        .select(F.explode(lane.to_keys(F.col(form))).alias(key), title, form)
    )
    if max_block is not None:
        out = _cap_block_occupancy(out, key, [form, title], max_block)
    return out


def _one_shot_pairs(
    lane: _Lane,
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    prefilter: int,
    score_cutoff: int,
    max_block: int | None,
    salt_buckets: int | None,
    hot_occupancy: int,
) -> DataFrame:
    """A one-shot join is an index probe: the left side exploded, the
    right side built as its index (both capped at ``max_block``), hot
    keys optionally salted, then the lane's pair function."""
    probe = _exploded_titles(lane, left, left_col, "left", max_block)
    index = _exploded_titles(lane, right, right_col, "right", max_block)
    salted = salt_buckets is not None and salt_buckets > 1
    if salted:
        probe, index = _salt_hot_blocks(
            lane, probe, index, salt_buckets, hot_occupancy
        )
    return lane.pairs(probe, index, prefilter, score_cutoff, salted)


def reattach_title_pairs(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    pairs: DataFrame,
) -> DataFrame:
    """Full rows for scored title pairs: every left row whose
    ``left_col`` is a pair's left_title, joined to every right row
    whose ``right_col`` is its right_title, plus the pair's ``score``.
    Two equi-joins on the title with NO broadcast hint on the pair
    table (AQE decides from its runtime size, see :func:`fuzzy_join`).
    Shared by both one-shot joins and the incremental salary match."""
    p = pairs.select("left_title", "right_title", "score")
    return (
        left.join(p, left[left_col] == p["left_title"])
        .join(right, p["right_title"] == right[right_col])
        .drop("left_title", "right_title")
    )


def fuzzy_title_pairs(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    prefilter_cutoff: int,
    score_cutoff: int,
    max_block: int | None = None,
    salt_buckets: int | None = None,
    hot_occupancy: int = 1024,
) -> DataFrame:
    """Distinct-title two-stage fuzzy match.

    Returns (left_title, right_title, left_norm, right_norm, score) for
    every distinct title pair with token_set_ratio >= prefilter_cutoff
    (stage 1, reference: src/fuzzy_match_salary.py:119-126) and
    WRatio >= score_cutoff (stage 2, reference: :132-140). ``score`` is
    the WRatio, as in the reference (:140). Computed as a probe of the
    right side's :func:`build_fuzzy_title_index` - the same candidate
    and scoring code as :func:`incremental_fuzzy_pairs`.

    Candidates come from the UNION of two equi-join blockings over the
    normalized titles: shared whole token, and shared character 4-gram.
    Token blocking alone is NOT complete for token_set_ratio: on
    disjoint token sets the published algorithm falls back to a
    char-level ratio, so e.g. 'analyst'/'analysts' scores 93 with zero
    shared tokens; the 4-gram block catches those.

    Completeness bound (tests/test_fuzzy_properties.py): a pair sharing
    NO blocking key has all aligned runs <= 3 chars, which caps
    token_set_ratio at 92.3 - so blocking is provably lossless for
    cutoffs >= 93 and approximate below, where a miss requires
    adversarial short single-token strings ('abcd'/'abxcd' = 88.9), not
    realistic titles (brute-force equality on the domain fixtures is
    asserted at the reference's 85/75 cutoffs). (At extreme scale swap
    the 4-gram block for MinHash-LSH over title shingles -
    operators.dedup.minhash_lsh_pairs - to bound candidates.)

    ``max_block`` - HOT-KEY occupancy cap (see fuzzy_title_pairs_tokensort
    for the measured motivation): each blocking key (token or 4-gram)
    keeps only its max_block lowest-(norm, title) members per side
    before the equi-join, bounding per-key candidates at max_block^2.
    Capped output is a strict SUBSET of the uncapped output; a pair is
    lost only if EVERY key the two titles share is over-capped past one
    of them. None (default) = lossless.

    ``salt_buckets``/``hot_occupancy`` - the LOSSLESS lane
    (:func:`_salt_hot_blocks`): over-occupancy blocking keys (tokens
    AND 4-grams - grams are the hotter class) parallelize across salt
    buckets with bit-identical output; same trade table as the
    tokensort path (SCALING.md r9: planner broadcast / salt / cap).
    """
    return _one_shot_pairs(
        _WRATIO, left, right, left_col, right_col, prefilter_cutoff,
        score_cutoff, max_block, salt_buckets, hot_occupancy,
    )


def fuzzy_title_pairs_tokensort(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    min_shared_tokens: int = 2,
    score_cutoff: int = 85,
    max_block: int | None = None,
    salt_buckets: int | None = None,
    hot_occupancy: int = 1024,
) -> DataFrame:
    """Oracle-expressible two-stage fuzzy match: token-count prefilter +
    token-sort levenshtein ratio. Same two-stage plan shape as
    ``fuzzy_title_pairs`` (the reference's token_set_ratio-gated WRatio,
    src/fuzzy_match_salary.py:119-140) but built ENTIRELY from engine
    built-ins, so the identical computation runs in DuckDB SQL - this is
    the scorer the driver hash-verifies; rapidfuzz-parity for the
    published WRatio algorithm stays pinned in tests/test_fuzzy.py.
    Computed as a probe of the right side's
    :func:`build_tokensort_title_index` - the same candidate and
    scoring code as :func:`incremental_fuzzy_pairs_tokensort`.

    Stage 1 (prefilter): candidate pairs must share >= min_shared_tokens
    distinct normalized tokens - an explode + equi-join + count, i.e. a
    uniform shuffle on tokens, never a dense N x M matrix. The shared-
    token requirement is part of this operator's CONTRACT (pairs with
    zero shared tokens are non-candidates even if their char-level edit
    distance is small, e.g. 'analyst'/'analysts'); the WRatio path's
    token ∪ char-4-gram blocking in ``fuzzy_title_pairs`` covers that
    class when needed. Stage 2 (refine): levenshtein similarity over the
    token-SORTED normalized titles (word-order-insensitive, like the
    reference's token scorers) must reach score_cutoff. JVM levenshtein
    + whole-stage codegen: no Python in the plan at all, ~10x the
    pandas-UDF path per pair.

    LOSSLESS LENGTH PREFILTER (always on): lev(a,b) >= |len(a)-len(b)|,
    so sim >= score_cutoff forces |len(lkey)-len(rkey)| <=
    (1 - score_cutoff/100) * max(len) - the bound rides IN the join
    condition as a residual filter, so incompatible-length pairs are
    dropped at the token equi-join's probe instead of surviving into
    the pair-dedup shuffle. Final output is bit-identical (the dropped
    pairs cannot pass stage 2); on the skewed-title probe
    (tools/skew_probe.py) this cuts the hot token's emitted candidates
    by the length-compatibility factor before any shuffle.

    HOT-TOKEN SKEW (``max_block``, measured in SCALING.md): a token
    appearing in p% of titles on both sides emits (pN)*(pM) candidate
    pairs from ONE join key. AQE's skew-join split does NOT intervene:
    OptimizeSkewedJoin triggers on shuffle-partition INPUT bytes
    (default 256 MB / 5x median), and a hot title token's input is a
    few MB of short strings while its OUTPUT is quadratic - the
    explosion happens inside one join task, invisible to input-size
    skew detection. When ``max_block`` is set, each token keeps only
    its max_block lowest-(key, title) members per side (row_number
    window on the join key - the dedup.minhash_lsh_pairs(max_bucket)
    pattern; map-side partial WindowGroupLimit, see
    _cap_block_occupancy), bounding per-token
    candidates at max_block^2. Recall semantics: capped output is a
    strict SUBSET; a pair is lost only if EVERY token it shares is
    over-capped past one of its sides - healthy (sub-cap) tokens are
    untouched, and a hot STOP-WORD-like token's loss is exactly the
    pairs that share nothing rarer than it. None (default) = lossless.

    ``salt_buckets`` - the LOSSLESS skew answer, for when the hot
    token's pairs are genuinely wanted and only their single-task
    serialization is the problem: tokens whose occupancy on EITHER
    side exceeds ``hot_occupancy`` (two cheap map-side-combined
    counts, unioned and broadcast back - a key hot on the LEFT with a
    cold right side is still a single-task straggler, see
    :func:`_salt_hot_blocks`) have their LEFT rows salted into
    ``salt_buckets`` deterministic buckets (hash of key+title) and
    their RIGHT rows replicated once per bucket, so the hot key's
    quadratic enumeration runs in salt_buckets parallel tasks instead
    of one; every other token keeps salt 0 with no replication. Output
    is BIT-IDENTICAL to the unsalted plan (each original (left, right)
    meeting lands in exactly one salt bucket; hash-verified cross-
    engine by the ``fuzzy_block_salted`` driver row whose oracle is
    the plain unsalted SQL). Cost: the occupancy count + hot-side
    replication x salt_buckets (bounded: only over-threshold tokens
    replicate). Compose with ``max_block`` only in the degenerate
    sense (after capping nothing exceeds a sane threshold, so the salt
    lane no-ops); pick ONE - cap to bound work, salt to parallelize
    it. Measured on the skew probe (SCALING.md r9): the x10 hot task
    19.6 s -> seconds, x100 from NOT-RUNNABLE to a measured point.

    Returns (left_title, right_title, score int).
    """
    return _one_shot_pairs(
        _TOKENSORT, left, right, left_col, right_col, min_shared_tokens,
        score_cutoff, max_block, salt_buckets, hot_occupancy,
    )


def fuzzy_join_tokensort(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    min_shared_tokens: int = 2,
    score_cutoff: int = 85,
    max_block: int | None = None,
    salt_buckets: int | None = None,
    hot_occupancy: int = 1024,
) -> DataFrame:
    """Row-level fuzzy join over the oracle-expressible token-sort
    levenshtein scorer (same re-attach as ``fuzzy_join``,
    :func:`reattach_title_pairs`: score once per distinct title pair,
    join full rows back by title; AQE picks broadcast vs shuffle for
    the data-dependent pair table).

    The three skew levers forward verbatim to
    :func:`fuzzy_title_pairs_tokensort` (where their contracts -
    ``max_block`` subset-recall cap, ``salt_buckets``/``hot_occupancy``
    lossless hot-key parallelization - are documented and measured);
    defaults leave the plan byte-identical to the lever-free join."""
    pairs = fuzzy_title_pairs_tokensort(
        left, right, left_col, right_col, min_shared_tokens, score_cutoff,
        max_block, salt_buckets, hot_occupancy,
    )
    return reattach_title_pairs(left, right, left_col, right_col, pairs)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    prefilter_cutoff: int = 85,
    score_cutoff: int = 85,
    max_block: int | None = None,
    salt_buckets: int | None = None,
    hot_occupancy: int = 1024,
) -> DataFrame:
    """Row-level fuzzy join: every (left row, right row) pair whose titles
    fuzzy-match. Output: all left columns, all right columns, ``score``
    int (reference J4 row-merge, src/fuzzy_match_salary.py:156).

    The expensive scoring runs once per distinct title pair; full rows
    re-attach via two equi-joins on the title
    (:func:`reattach_title_pairs`). The pair table carries NO
    broadcast hint: its size is data-dependent (the reference's v2.0 run
    produced 8.7M match pairs - BASELINE.md - which at 100x would OOM a
    forced broadcast), so AQE picks the strategy from the observed
    runtime size - broadcast when the pairs are small (the common case:
    distinct titles x cutoff), shuffled hash/sort-merge when not.

    The three skew levers forward verbatim to
    :func:`fuzzy_title_pairs` (``max_block`` subset-recall occupancy
    cap; ``salt_buckets``/``hot_occupancy`` lossless hot-key salting
    over the token AND 4-gram blocking keys); defaults leave the plan
    byte-identical to the lever-free join. This matters at reference
    scale: its own log shows a 612,076-record comparison group for one
    hot title (logs/application.log.1) - exactly the shape where one
    blocking key serializes into a single task without these levers."""
    pairs = fuzzy_title_pairs(
        left, right, left_col, right_col, prefilter_cutoff, score_cutoff,
        max_block, salt_buckets, hot_occupancy,
    )
    return reattach_title_pairs(left, right, left_col, right_col, pairs)


# ---------------------------------------------------------------------------
# incremental fuzzy matching: persisted blocking index + delta probe
# ---------------------------------------------------------------------------
#
# The reference re-matches ALL payroll x postings on every weekly run
# (src/fuzzy_flows.py:16-23 schedules the full fuzzy_match_salary_flow
# weekly; src/fuzzy_match_salary.py:27-189 always scans both sides in
# full). At 100 TB that weekly cadence re-pays the whole blocking join
# for a delta that is typically <1% of the corpus. The incremental lane
# mirrors dedup's build_band_index/incremental_neardup: the STABLE side
# (payroll titles - new payroll lands yearly, postings weekly) persists
# ONCE as its exploded blocking index, and each postings batch probes
# the index with cost O(|delta keys| + matched blocks) instead of
# O(|payroll| + |postings|). Because a scored pair is a pure function of
# the two titles and the one-shot join IS a probe of the right side's
# index (same explode, same pair function), (prior matches) UNION
# (delta probe) is row-identical to the full re-match when the batches
# partition the postings - the hash-verified claim of the
# fuzzy_incremental_union driver row.
#
# Index layout: one row per (blocking key, title), described once per
# lane by its _Lane record (_WRATIO: blk, right_title, right_norm;
# _TOKENSORT: tok, right_title, right_key) and built by
# _exploded_titles. Readers take the lane from the key column
# (_lane_of), so callers never name it. Persist the index
# partitioned/bucketed on the key column in production so a delta
# probe shuffles only its own exploded keys (the dedup band index's
# contract).


def build_fuzzy_title_index(
    right: DataFrame, right_col: str, max_block: int | None = None
) -> DataFrame:
    """Persisted index side of incremental WRatio matching: the stable
    side's distinct normalized titles exploded into their blocking keys
    (token ∪ char-4-gram - exactly the index :func:`fuzzy_title_pairs`
    builds for its right side). Columns (blk, right_title,
    right_norm); size = O(sum of per-title key counts), linear.

    ``max_block`` - the probe path's hot-key lever, applied at BUILD
    time (the probe joins a delta against whatever the index stores,
    so the index is where occupancy must be bounded): each blocking
    key keeps only its ``max_block`` lowest-(norm, title) members, the
    same deterministic truncation and subset-recall semantics as the
    one-shot joins' ``max_block`` (:func:`_cap_block_occupancy`). A
    delta title probing a hot key then meets at most ``max_block``
    index rows instead of the key's raw occupancy. None = lossless."""
    return _exploded_titles(_WRATIO, right, right_col, "right", max_block)


def incremental_fuzzy_pairs(
    index: DataFrame,
    delta_left: DataFrame,
    left_col: str,
    prefilter_cutoff: int,
    score_cutoff: int,
) -> DataFrame:
    """Probe a :func:`build_fuzzy_title_index` with a delta batch of
    left titles - output-identical to ``fuzzy_title_pairs(delta_left,
    right, ...)`` (property-tested), which is this same probe against
    the right side's freshly built index, without touching the stable
    side's rows. Same 5-column output."""
    probe = _exploded_titles(_WRATIO, delta_left, left_col, "left")
    return _wratio_pairs(probe, index, prefilter_cutoff, score_cutoff)


def build_tokensort_title_index(
    right: DataFrame, right_col: str, max_block: int | None = None
) -> DataFrame:
    """Persisted index side of incremental tokensort matching: the
    stable side's distinct titles exploded into their token-sort-key
    tokens (exactly the index :func:`fuzzy_title_pairs_tokensort`
    builds for its right side). Columns (tok, right_title, right_key).
    ``max_block`` bounds each token's stored occupancy at build time -
    the probe path's hot-key lever, same truncation and subset-recall
    semantics as :func:`build_fuzzy_title_index`."""
    return _exploded_titles(_TOKENSORT, right, right_col, "right", max_block)


def incremental_fuzzy_pairs_tokensort(
    index: DataFrame,
    delta_left: DataFrame,
    left_col: str,
    min_shared_tokens: int = 2,
    score_cutoff: int = 85,
) -> DataFrame:
    """Probe a :func:`build_tokensort_title_index` with a delta batch:
    token equi-join with the lossless length prefilter riding in the
    join condition, then the candidate dedup + levenshtein stage -
    output-identical to ``fuzzy_title_pairs_tokensort(delta_left,
    right, ...)`` (property-tested, and hash-verified end-to-end by
    the fuzzy_incremental_union driver row)."""
    probe = _exploded_titles(_TOKENSORT, delta_left, left_col, "left")
    return _tokensort_pairs(probe, index, min_shared_tokens, score_cutoff)


def probe_title_index(
    index: DataFrame,
    delta_left: DataFrame,
    left_col: str,
    prefilter: int,
    score_cutoff: int,
) -> DataFrame:
    """Probe a title index of EITHER lane, the lane read from the
    index's own layout: :func:`incremental_fuzzy_pairs` for a WRatio
    index (``prefilter`` = token_set_ratio cutoff), or
    :func:`incremental_fuzzy_pairs_tokensort` for a tokensort index
    (``prefilter`` = min shared tokens)."""
    lane = _lane_of(index)
    probe = _exploded_titles(lane, delta_left, left_col, "left")
    return lane.pairs(probe, index, prefilter, score_cutoff)


def extend_title_index(
    index: DataFrame,
    new_right: DataFrame,
    right_col: str,
    max_block: int | None = None,
) -> DataFrame:
    """Maintain the INDEX side incrementally: the append-delta of index
    rows for titles in ``new_right`` that the persisted index does not
    already carry (the index stores one row per key x title, so title
    presence is the dedup unit). Append the returned rows to the
    persisted index (a file append, no rewrite):
    ``index(old) ∪ extend_title_index(index(old), new)`` ==
    ``index(old ∪ new)`` for UNCAPPED indexes (property-tested for
    both lanes). Works for either lane: the new rows take the layout
    of the index they extend (:func:`_lane_of`).

    ``max_block`` - REQUIRED to match the build cap when the index was
    built with one: the delta is capped per key among the new titles,
    so an appended generation's per-key contribution stays bounded -
    but truncation is GENERATION-LOCAL: the unioned occupancy is
    bounded by generations x max_block, not max_block, and the exact
    capped-rebuild parity (lowest members of old ∪ new) does NOT hold
    under append maintenance. :func:`compact_title_index` restores the
    exact bound (proven == a fresh capped rebuild; trigger on
    :func:`title_index_occupancy`'s ``keys_over_cap``), and
    :func:`compact_persisted_title_index` is its production form;
    leaving ``max_block`` unset on a capped index silently regrows hot
    keys uncapped.

    PLAN SHAPE (the reason for the two-step membership probe below):
    a plain ``fresh ANTI-JOIN index-titles`` cannot broadcast - Spark's
    LeftAnti BroadcastHashJoin only builds the RIGHT side, and the
    index's title set is the big side - so the big index would shuffle
    on every weekly maintenance run. Instead the (small) new-title set
    broadcasts into a semi-join against the index (no index shuffle,
    one streaming scan), yielding the <= |new titles| already-present
    subset, and the anti-join then runs against THAT tiny relation."""
    fresh = _exploded_titles(
        _lane_of(index), new_right, right_col, "right", max_block
    )
    new_titles = fresh.select("right_title").distinct()
    present = (
        index.select("right_title")
        .join(F.broadcast(new_titles), "right_title", "left_semi")
        .distinct()
    )
    return fresh.join(F.broadcast(present), "right_title", "left_anti").select(
        *index.columns
    )


# ---------------------------------------------------------------------------
# index persistence: the production on-disk shapes of a title index
# ---------------------------------------------------------------------------
#
# Layouts read_title_index understands, newest first:
#   - managed: ``{index_dir}/_index_meta.json`` naming the base version
#     ``{index_dir}/base_v{n}`` (plain parquet, or an external BUCKETED
#     table ``{_index_table_name}_v{n}`` on the blocking key) + zero or
#     more ``{index_dir}/g{batch_id}`` append generations written by the
#     streaming maintenance sink. A meta without a ``base`` key (older
#     writers) names ``base``;
#   - legacy: plain parquet files at ``{index_dir}`` itself (what every
#     pre-round-12 caller wrote with ``df.write.parquet(index_dir)``).
#
# The meta is the index's manifest in the versioned-base protocol
# (pipelines/versioned.py), shared with the payroll and matches corpora:
# write_title_index and compact_persisted_title_index each write a NEW
# base version and then swap the meta to name it, so a base version -
# and the catalog table named after it - never changes once written.
# Readers take the meta's base plus the g{j} dirs the meta does not
# record as folded.
#
# The bucketed shape is the 100 TB probe shape: the weekly delta
# probe's blocking-key equi-join then moves only the delta's exploded
# keys - the index side is a bucketed table scan with NO Exchange
# (plan-gated in tests/test_fuzzy.py) - while a plain-parquet index
# re-shuffles its full key domain on every weekly run. Append
# generations ride as plain parquet and DO shuffle (a union hides the
# bucketing from the planner); compaction folds them into a new base
# version to restore the shuffle-free shape - the compaction cadence
# bounds how long the probe pays the generation tax.

_INDEX_META = "_index_meta.json"


def _index_table_name(index_dir: str) -> str:
    """Deterministic catalog identifier stem for a bucketed title
    index, derived from the absolute path alone so any session can
    re-register (or defensively DROP) the entry; each base version is
    registered as ``{stem}_v{n}``. Same collision-hardening as the IVM
    state tables (streaming/jobs.py:_state_table_name): the munged
    readable form alone collides across distinct dirs, so an md5 of
    the exact path rides in the name."""
    path = os.path.abspath(index_dir)
    munged = re.sub(r"[^A-Za-z0-9_]+", "_", path).strip("_").lower()
    digest = hashlib.md5(path.encode()).hexdigest()[:10]
    return f"fuzzy_title_index_{munged[-48:].strip('_')}_{digest}".lower()


def title_index_meta(index_dir: str) -> dict | None:
    """The index's ``_index_meta.json`` (its manifest), or None for a
    legacy plain-parquet layout (or a dir that is no index). A meta
    without a ``base`` key (written before base versions) names
    ``base``."""
    meta = VB.read_manifest(os.path.join(index_dir, _INDEX_META), None)
    return None if meta is None else {"base": "base", **meta}


def _write_index_version(
    index: DataFrame, index_dir: str, name: str, index_format: str, n_buckets
) -> dict:
    """Write ``index`` as the fresh base version ``name`` (a bucketed
    one also registers as its own catalog table); returns the meta
    describing it."""
    key = _lane_of(index).key
    path = os.path.join(index_dir, name)
    meta = {"format": index_format, "key": key, "base": name}
    if index_format == "parquet":
        index.write.parquet(path)
        return meta
    spark = index.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    table = f"{_index_table_name(index_dir)}_{name.rsplit('_', 1)[1]}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    index.write.bucketBy(n_buckets, key).option("path", path).saveAsTable(table)
    return {**meta, "table": table, "n_buckets": n_buckets}


def _commit_index(
    spark, index_dir: str, old: dict, meta: dict, folded: list[int], lease=None
) -> None:
    """Swap the meta to the new version, remove the superseded base and
    the folded ``g{j}`` dirs, and drop the superseded version's catalog
    table (it names files that are gone)."""
    VB.commit(
        index_dir, _INDEX_META, meta, old.get("base"), [f"g{g}" for g in folded],
        lease=lease,
    )
    if old.get("table") and old["table"] != meta.get("table"):
        spark.sql(f"DROP TABLE IF EXISTS {old['table']}")


def write_title_index(
    index: DataFrame,
    index_dir: str,
    index_format: str = "parquet",
    n_buckets: int | None = None,
    folded_generations: list[int] | None = None,
) -> None:
    """Persist a ``build_*_title_index`` output as the production index
    at ``index_dir``, replacing whatever was there (a REBUILD; existing
    ``g*`` generation dirs are removed because the fresh base subsumes
    them only when the caller built it over the union, so the writer
    refuses to guess and clears them).

    ``index_format="parquet"``: plain parquet under a fresh
    ``{index_dir}/base_v{n}``. ``index_format="bucketed"``: an EXTERNAL
    bucketed table on the blocking key (``n_buckets`` defaulting to the
    session's shuffle partitions), the shape under which a delta probe
    never shuffles the index side. ``_index_meta.json`` records the
    layout for :func:`read_title_index`; it lands LAST (write-then-
    rename), so a crash mid-write leaves a directory the reader refuses
    (no meta, a base dir present -> error) rather than a silently
    partial index.

    ``folded_generations`` - the generation ids whose rows live in this
    base (the ingest sink's frozen-payroll guard and payroll-delta
    selection read it). None (the default) PRESERVES the existing
    meta's record - a rebuild of a previously-maintained dir must not
    launder it back into looking never-maintained while the ``d{j}``
    payroll archives still hold rows the base's titles need to
    re-attach. Pass ``[]`` explicitly only when the payroll corpus was
    folded into its base at the same time."""
    if index_format not in ("parquet", "bucketed"):
        raise ValueError(
            f"index_format must be 'parquet' or 'bucketed', got {index_format!r}"
        )
    old = title_index_meta(index_dir) or {}
    if folded_generations is None:
        folded_generations = old.get("folded_generations", [])
    name = VB.begin(index_dir, old.get("base"), "base")
    # a rebuild subsumes prior append generations: clear them so the
    # reader cannot union stale pre-rebuild rows onto the fresh base.
    # The old meta is replaced by a TOMBSTONE (not removed): readers
    # refuse it like a crashed write, but a crash mid-rebuild keeps the
    # folded_generations record durable for the recovery rebuild to
    # preserve - losing it would silently shrink the ingest's
    # re-attach corpus (review r12 pass 3).
    for g in list_index_generations(index_dir):
        shutil.rmtree(os.path.join(index_dir, f"g{g}"))
    folded = {"folded_generations": sorted(folded_generations)}
    if old:
        VB.write_atomic(
            os.path.join(index_dir, _INDEX_META),
            json.dumps({"rebuilding": True, **folded}),
        )
    meta = _write_index_version(index, index_dir, name, index_format, n_buckets)
    _commit_index(index.sparkSession, index_dir, old, {**meta, **folded}, [])


def _resolve_index_table(spark, index_dir: str, meta: dict) -> DataFrame:
    """The bucketed base as a catalog table, registering it when this
    session's catalog has never seen it (the default catalog is
    in-memory and session-scoped - session.py - and the weekly probe's
    normal cadence is repeated short-lived runs, so after a restart the
    files are all that survives). Each table name stands for one base
    version whose files never change, so a registered name is never
    stale. Mirrors streaming/jobs.py:_resolve_state_table."""
    tname = meta["table"]
    if not spark.catalog.tableExists(tname):
        path = os.path.join(index_dir, meta["base"])
        schema = spark.read.parquet(path).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        loc = path.replace("'", "''")
        spark.sql(
            f"CREATE TABLE {tname} ({cols}) USING PARQUET "
            f"CLUSTERED BY (`{meta['key']}`) INTO {meta['n_buckets']} BUCKETS "
            f"LOCATION '{loc}'"
        )
    return spark.table(tname)


def list_index_generations(index_dir: str) -> list[int]:
    """Sorted batch ids of the ``g{batch_id}`` append generations the
    maintenance sink has landed at ``index_dir``. The ingest sinks
    snapshot this BEFORE reading, record it in their per-batch meta,
    and re-read the SAME set on replay - the exactly-once bookkeeping
    that keeps a replayed postings batch from re-probing against
    generations that landed after its original run (which the payroll
    maintenance probe already covered)."""
    return VB.generations(index_dir, "g")


def title_index_folded_generations(index_dir: str) -> list[int]:
    """Generation ids a past compaction folded into ``index_dir``'s
    base (empty for never-compacted or legacy indexes). The ingest
    sink's frozen-payroll guard needs this: after a compaction the
    live ``g*`` dirs are gone, but the base still carries maintained
    titles whose payroll rows live only in the ``d{j}`` archives - a
    frozen payroll DataFrame would silently drop their matches."""
    return sorted((title_index_meta(index_dir) or {}).get("folded_generations", []))


def read_title_index(
    spark, index_dir: str, generations: list[int] | None = None
) -> DataFrame:
    """The production index at ``index_dir``: the meta's base (plain
    parquet, or the bucketed catalog table - registered on demand)
    unioned with the ``g{batch_id}`` append generations the meta does
    not record as folded (a folded ``g{j}`` a crashed compaction left
    on disk is never read twice). Directories with no
    ``_index_meta.json`` read as the legacy layout (plain parquet at
    the root; no generations possible).

    ``generations`` - None reads every generation on disk; an explicit
    list reads exactly those (the sinks' replay hook: a replayed batch
    re-reads the generation set its ORIGINAL run recorded, and the
    maintenance sink reads "everything except my own id" so a replay
    reproduces its original delta instead of seeing its prior output
    and emitting an empty one, which the overwrite would persist as a
    LOST generation)."""
    meta = title_index_meta(index_dir)
    if meta is None:
        if VB.litter(index_dir, None, "base"):
            raise ValueError(
                f"{index_dir} has a base directory but no {_INDEX_META}: "
                "a write_title_index crashed before publishing its meta - "
                "rebuild the index"
            )
        if generations:
            raise ValueError(
                "a legacy (meta-less) index has no append generations"
            )
        return spark.read.parquet(index_dir)
    if meta.get("rebuilding"):
        raise ValueError(
            f"{index_dir} holds a rebuild tombstone: a write_title_index "
            "crashed between clearing the old layout and publishing the "
            "new meta - rebuild the index (the tombstone preserves its "
            "folded_generations record for the rebuild to keep)"
        )
    if meta["format"] == "bucketed":
        out = _resolve_index_table(spark, index_dir, meta)
    else:
        out = spark.read.parquet(os.path.join(index_dir, meta["base"]))
    if generations is None:
        generations = list_index_generations(index_dir)
    for gid in sorted(set(generations) - set(meta.get("folded_generations", []))):
        out = out.unionByName(
            spark.read.parquet(os.path.join(index_dir, f"g{gid}"))
        )
    return out


# ---------------------------------------------------------------------------
# index compaction: restore the exact capped bound after append maintenance
# ---------------------------------------------------------------------------
#
# extend_title_index's per-key cap is GENERATION-LOCAL (its docstring):
# N appended generations bound a hot key at N x max_block, not
# max_block, so a year of weekly appends on a hot-key index silently
# regrows toward uncapped occupancy. Compaction closes the loop: cap
# the UNIONED rows once, restoring exactly the fresh-capped-rebuild
# bound. The equality is not approximate - for any key, an element of
# the union's max_block lowest members has fewer than max_block smaller
# members WITHIN its own generation too, so a generation-local cap at
# >= max_block (or an uncapped append) can never have dropped it; the
# union therefore still CONTAINS every row the fresh rebuild would
# keep, and one more cap selects exactly those (property-tested both
# lanes against a fresh capped build of the union of titles).


def compact_title_index(index: DataFrame, max_block: int) -> DataFrame:
    """Re-cap an appended index at ``max_block``: each blocking key
    keeps its ``max_block`` lowest-ranked members across ALL
    generations - row-identical to the lane's fresh capped build over
    the union of titles (``build_*_title_index(..., max_block)``),
    PROVIDED every append was uncapped or capped at >= ``max_block``
    (a tighter past
    cap may have dropped rows the rebuild would keep; compaction
    cannot resurrect them - it can only narrow). Works on either lane
    (read from the index, :func:`_lane_of`)."""
    lane = _lane_of(index)
    return _cap_block_occupancy(
        index, lane.key, [f"right_{lane.form}", "right_title"], max_block
    )


def title_index_occupancy(index: DataFrame, max_block: int | None = None) -> dict:
    """One-pass occupancy stats the compaction cadence triggers on:
    ``{"n_rows", "n_keys", "max_per_key", "keys_over_cap"}`` (the last
    None without ``max_block``). One map-side-combined aggregation over
    the index - O(|index|) with group-sized state, cheap enough to run
    after every append. Trigger recipe: compact when ``keys_over_cap``
    > 0 (exactness of the capped bound lost) or when ``max_per_key``
    crosses the probe-latency budget the cap was sized for."""
    key = _lane_of(index).key
    per_key = index.groupBy(key).agg(F.count(F.lit(1)).alias("occ"))
    aggs = [
        F.sum("occ").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("occ").alias("max_per_key"),
    ]
    if max_block is not None:
        aggs.append(
            F.sum((F.col("occ") > max_block).cast("long")).alias("keys_over_cap")
        )
    row = per_key.agg(*aggs).first()
    out = {
        "n_rows": row["n_rows"] or 0,
        "n_keys": row["n_keys"],
        "max_per_key": row["max_per_key"] or 0,
        # `or 0` matters on an EMPTY index: sum() over no rows is NULL,
        # and the documented `keys_over_cap > 0` trigger would TypeError
        # on None instead of reading 0
        "keys_over_cap": (
            (row["keys_over_cap"] or 0) if max_block is not None else None
        ),
    }
    return out


# Default sizing target for suggest_index_buckets. Index rows are
# narrow (blocking key + normalized title + raw title, ~100-200 B on
# disk after encoding), so 2M rows/bucket lands each bucket's file in
# the 128-512 MB scan-task sweet spot - big enough to amortize footer
# and open costs, small enough that one bucket is one comfortable task.
_ROWS_PER_BUCKET_TARGET = 2_000_000


def title_index_bucket_stats(index_dir: str) -> dict:
    """Per-bucket row/byte occupancy of a persisted BUCKETED index -
    the sizing signal :func:`write_title_index` freezes away at first
    write (``n_buckets`` is fixed then; at 100x index growth every
    bucket's file grows 100x and, before this, nothing surfaced it).
    Driver-side metadata only: directory listing for bytes, parquet
    FOOTERS for rows (no Spark job, no data pages read) - cheap enough
    for every compaction-cadence tick, same cost class as
    :func:`title_index_occupancy`.

    Returns ``{"n_buckets", "rows", "bytes", "per_bucket": {bucket_id:
    {"rows", "bytes", "files"}}, "max_bucket_rows", "max_bucket_bytes",
    "generation_rows"}`` - ``generation_rows`` counts the pending
    ``g{j}`` append generations a compaction would fold in, so the
    re-bucket decision sees the POST-fold size, not the stale base.
    Raises on a plain-parquet or legacy layout (no bucket files to
    measure; ``n_buckets`` is not a knob there)."""
    meta = title_index_meta(index_dir) or {"format": "legacy"}
    if meta.get("format") != "bucketed":
        raise ValueError(
            f"{index_dir} is format={meta.get('format')!r}; bucket stats "
            "apply only to index_format='bucketed'"
        )
    base = os.path.join(index_dir, meta["base"])
    per_bucket: dict[int, dict] = {}
    for fn in os.listdir(base):
        m = re.fullmatch(r"part-\d+-.+_(\d+)\.c\d+.*\.parquet", fn)
        if not m:
            continue
        path = os.path.join(base, fn)
        b = per_bucket.setdefault(
            int(m.group(1)), {"rows": 0, "bytes": 0, "files": 0}
        )
        b["rows"] += pq.ParquetFile(path).metadata.num_rows
        b["bytes"] += os.path.getsize(path)
        b["files"] += 1
    gen_rows = 0
    for g in set(list_index_generations(index_dir)) - set(
        meta.get("folded_generations", [])
    ):
        gdir = os.path.join(index_dir, f"g{g}")
        for fn in os.listdir(gdir):
            if fn.endswith(".parquet") and not fn.startswith("."):
                gen_rows += pq.ParquetFile(
                    os.path.join(gdir, fn)
                ).metadata.num_rows
    return {
        "n_buckets": meta["n_buckets"],
        "rows": sum(b["rows"] for b in per_bucket.values()),
        "bytes": sum(b["bytes"] for b in per_bucket.values()),
        "per_bucket": per_bucket,
        "max_bucket_rows": max(
            (b["rows"] for b in per_bucket.values()), default=0
        ),
        "max_bucket_bytes": max(
            (b["bytes"] for b in per_bucket.values()), default=0
        ),
        "generation_rows": gen_rows,
    }


def suggest_index_buckets(
    index_dir: str,
    target_rows_per_bucket: int = _ROWS_PER_BUCKET_TARGET,
    stats: dict | None = None,
) -> int:
    """The re-bucket recipe: the bucket count that holds the POST-fold
    index (base + pending generations) at or under
    ``target_rows_per_bucket`` rows per bucket, rounded UP to a power
    of two. Power-of-two rounding is the hysteresis: the suggestion
    only moves when the index roughly doubles or halves, so the weekly
    cadence is not re-bucketing (= rewriting every index byte) over
    noise. Callers pass the result as
    ``compact_persisted_title_index(..., n_buckets=...)`` - or just
    ``n_buckets="auto"`` there, which calls this. The cap-aware caveat:
    generation rows count pre-cap, so a ``max_block`` fold may come out
    smaller than sized for - an overshoot in bucket count, never an
    overfull bucket."""
    s = stats if stats is not None else title_index_bucket_stats(index_dir)
    total = s["rows"] + s["generation_rows"]
    need = max(1, math.ceil(total / max(1, target_rows_per_bucket)))
    return 2 ** math.ceil(math.log2(need))


def compact_persisted_title_index(
    spark,
    index_dir: str,
    max_block: int | None = None,
    n_buckets: int | str | None = None,
    payroll_dir: str | None = None,
    lease_stale_after: float = 3600.0,
) -> None:
    """The production compaction step: fold ``index_dir``'s append
    generations back into its base - re-capped at ``max_block`` when
    given - preserving the persisted format the meta records. For a
    BUCKETED index this also restores the shuffle-free probe shape
    (append generations ride as plain parquet whose union hides the
    bucketing from the planner; after compaction the probe is a single
    bucketed scan again - the generation tax the compaction cadence
    bounds). Single-writer: run from the job that owns the index, not
    concurrently with a maintenance batch - mechanically enforced by
    the shared lifecycle lease at ``index_dir``
    (``lease.lifecycle_lease``: live holder refuses, stale holder
    taken over after ``lease_stale_after``).

    ``n_buckets`` - None keeps the persisted bucket count; an int
    re-buckets the fold (the ONLY place the count can evolve - the
    base is being rewritten anyway, so re-bucketing is free here and
    a full-index rewrite anywhere else); the string ``"auto"`` applies
    :func:`suggest_index_buckets`'s rows-per-bucket recipe to the
    post-fold size. The cadence: check
    :func:`title_index_bucket_stats` alongside
    :func:`title_index_occupancy` each tick, compact with
    ``n_buckets="auto"`` when the suggestion differs from the meta's
    count.

    Crash-safe through the versioned-base protocol
    (``pipelines/versioned.py``, shared with the payroll and matches
    folds): the fold writes a fresh ``base_v{n}`` (a bucketed one
    registered as its own ``{table}_v{n}``) while readers keep the old
    base, then one meta swap commits it; a crash on either side of the
    swap leaves only leftovers readers skip and the next compaction's
    entry GC removes.

    ``payroll_dir`` - pass the maintenance flow's payroll archive dir
    so only COMMITTED generations fold (a ``g{j}`` whose ``d{j}``
    never landed is a torn maintenance batch: folding it would bake
    titles with no payroll rows into the base - and, under a re-cap,
    let torn rows displace committed ones. Torn generations stay on
    disk as live ``g`` dirs, still invisible to the ingest, for the
    maintenance replay to overwrite). Without ``payroll_dir`` every
    live generation folds - only safe when no maintenance run is
    mid-crash, which a standalone (non-maintained) index trivially
    satisfies."""
    with LS.lifecycle_lease(
        index_dir, "compact_persisted_title_index", lease_stale_after
    ) as lease:
        meta = title_index_meta(index_dir)
        if meta is None:
            raise ValueError(
                f"{index_dir} is a legacy plain-parquet index (no "
                f"{_INDEX_META}); rewrite it with write_title_index first"
            )
        if meta.get("rebuilding"):
            raise ValueError(
                f"{index_dir} holds a rebuild tombstone - rebuild the index "
                "before compacting"
            )
        if n_buckets == "auto":
            # resolved BEFORE any mutation below: a plain-parquet layout
            # has no bucket knob, and its refusal (raised by the stats
            # read) must land with the dir untouched
            n_buckets = suggest_index_buckets(index_dir)
        folded = meta.get("folded_generations", [])
        name = VB.begin(index_dir, meta["base"], "base", [f"g{g}" for g in folded])
        fold_gens = list_index_generations(index_dir)
        if payroll_dir is not None:
            fold_gens = sorted(set(fold_gens) & set(VB.generations(payroll_dir, "d")))
        index = read_title_index(spark, index_dir, generations=fold_gens)
        if max_block is not None:
            index = compact_title_index(index, max_block)
        new = _write_index_version(
            index, index_dir, name, meta["format"], n_buckets or meta.get("n_buckets")
        )
        # the folded ids stay on record (cumulatively): the base now holds
        # maintained titles whose payroll rows live only in the d{j}
        # archives, and the ingest's frozen-payroll guard must keep firing
        # after the live g* dirs are gone
        new["folded_generations"] = sorted(set(folded) | set(fold_gens))
        _commit_index(spark, index_dir, meta, new, fold_gens, lease)
