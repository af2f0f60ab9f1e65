"""Deduplication operators for training-data pipelines.

Exact dedup, MinHash+LSH near-dup, n-gram Jaccard, and SimHash - all as
declarative DataFrame plans (no UDFs), each with a DuckDB-SQL twin so
the driver's oracle hash-check runs the identical algorithm.

Scale notes (the 100 TB design):
- exact dedup = hash-groupBy: one shuffle on a 16-byte key, combiner
  does the map-side heavy lifting; no row ever leaves its partition
  except one per (hash) group.
- MinHash+LSH: per-doc signature is a map-side array fold (no shuffle);
  candidate pairs come from an equi-join on (band_id, band_hash) -
  shuffle KEYS are uniform md5 prefixes, so no hash skew; bucket
  OCCUPANCY is a different matter - see the hot-bucket contract on
  minhash_lsh_pairs.
- SimHash: map-side signature, then self-join on signature for exact
  16-bit collisions (tight hamming ball could be added by joining on
  signature-with-one-bit-flipped expansions).

Portability trick used throughout: md5 hex strings are fixed-width, so
lexicographic MIN equals numeric MIN - both engines agree without any
hex->int conversion.

INPUT-EDGE CONTRACT (the 100 TB shape, same as the PQ/IVFADC family):
no operator in this module shuffles raw document text - shingle
hashing, signatures and banding all run IN the caller's scan
partitions, and the only arrays that ever cross an exchange are the
8-byte shingle-hash sets the verify step is DEFINED over. A caller
feeding a single-file local fixture (one scan partition) should fan
the narrow (id, text) input out ONCE at its own edge
(``df.select(id, text).repartition(parallelism)``) so the per-doc
folds parallelize; a production pre-split scan needs nothing.
tests/test_plans.py gates that the operators themselves add zero
text-carrying exchanges.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nyc_government_hiring_audit_data_platform_spark.functions.textstats import (
    SHINGLE_N,
    char_shingles,
    char_shingles_sql,
)

# MinHash parameters: NUM_HASHES independent permutations approximated
# by universal hashing (a_k*h + b_k) mod P over ONE md5-derived base
# hash per shingle - hashing once and permuting arithmetically is 12x
# cheaper than 12 seeded md5 passes. BANDS x ROWS_PER_BAND = NUM_HASHES.
NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS

import random as _random

_mh_rng = _random.Random(20240817)
MH_P = 4294967311  # prime > 2^32
MH_M = 2147483647  # base-hash modulus (2^31-1): keeps a*h in 62 bits
MH_COEF = [
    (_mh_rng.randrange(1, MH_M), _mh_rng.randrange(0, MH_M))
    for _ in range(NUM_HASHES)
]

SIMHASH_BITS = 16  # first 4 md5 hex nibbles, LSB-first bit order


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text hash with the
    representative (minimum) id and the duplicate count."""
    return (
        df.groupBy(F.md5(_c(text_col).cast("binary")).alias("text_hash"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_groups_sql(table: str, text_col: str, id_col: str) -> str:
    return (
        f"SELECT md5({text_col}) AS text_hash, MIN({id_col}) AS rep_id, "
        f"COUNT(*) AS n_copies FROM {table} GROUP BY 1"
    )


# --------------------------------------------------------------------------
# MinHash signatures + LSH banding
# --------------------------------------------------------------------------


def base_hash(s: Column) -> Column:
    """One md5-derived 31-bit base hash per shingle (conv of the first
    15 hex chars, mod 2^31-1). The single expensive hash; the NUM_HASHES
    permutations are linear arithmetic over it."""
    return (
        F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("long") % MH_M
    )


def base_hash_sql(s_expr: str) -> str:
    return f"((('0x' || substr(md5({s_expr}), 1, 15))::BIGINT) % {MH_M})"


def hashed_shingles(col: Column | str, n: int = SHINGLE_N) -> Column:
    """Distinct 31-bit base hashes of the document's character shingles -
    the working representation for minhash AND jaccard verification
    (8-byte ints shuffle and intersect far cheaper than shingle strings;
    md5 runs exactly once per shingle)."""
    return F.array_distinct(F.transform(char_shingles(col, n), base_hash))


def hashed_shingles_sql(expr: str, n: int = SHINGLE_N) -> str:
    return (
        f"list_distinct(list_transform({char_shingles_sql(expr, n)}, "
        f"s -> {base_hash_sql('s')}))"
    )


def band_hash(sig: Column, band: int) -> Column:
    """Hash of one LSH band (rows ROWS_PER_BAND*band .. +ROWS_PER_BAND)."""
    rows = [sig.getItem(band * ROWS_PER_BAND + r) for r in range(ROWS_PER_BAND)]
    return F.md5(F.concat_ws("|", *rows).cast("binary"))


def band_hash_sql(sig_expr: str, band: int) -> str:
    rows = " || '|' || ".join(
        f"{sig_expr}[{band * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND)
    )
    return f"md5({rows})"


def minhash_signature_from_hashes(hs: Column) -> Column:
    """Signature from a base-hash array column: one fold with an array
    accumulator applies NUM_HASHES integer permutations per hash (the
    hash value binds to the fold's lambda variable, so upstream
    expressions evaluate once). Start value is P (greater than any
    (a*h+b) mod P). NOTE: one-arg inner lambdas only - a two-arg lambda
    makes PySpark bind the second parameter to the element index.
    """
    start = F.array_repeat(F.lit(MH_P).cast("long"), NUM_HASHES)

    def merge(acc, h):
        perms = F.array(*[(F.lit(a) * h + F.lit(b)) % MH_P for a, b in MH_COEF])
        return F.zip_with(acc, perms, lambda x, y: F.least(x, y))

    return F.aggregate(hs, start, merge)


def minhash_signature_from_hashes_sql(hs_expr: str) -> str:
    parts = ", ".join(
        f"coalesce(list_min(list_transform({hs_expr}, h -> ({a} * h + {b}) % {MH_P})), {MH_P})"
        for a, b in MH_COEF
    )
    return f"[{parts}]"


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    n: int = SHINGLE_N,
    max_bucket: int | None = None,
    split_buckets: int | None = None,
    split_threshold: int = 1024,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding, verified with the
    exact shingle-set Jaccard.

    Plan shape: shingles + signature are computed ONCE per doc
    (map-side) -> explode BANDS rows per doc -> shuffle on
    (band, band_hash) -> within-bucket self-join -> distinct id pairs ->
    join the per-doc shingle sets back in -> exact verify. The only
    quadratic work happens inside LSH buckets; everything else is
    linear and uniformly partitioned (band hashes are md5 prefixes).

    HOT-BUCKET CONTRACT (ordering requirement): uniform band-hash KEYS
    do not bound bucket OCCUPANCY - a template family of f
    byte-identical docs has identical signatures, lands in ONE
    (band, bh) bucket per band, and the in-bucket self-join emits
    BANDS * f^2/2 candidate pairs (f=10k -> ~1e8 verify pairs: the
    one-skewed-task failure). Callers MUST run exact dedup
    (exact_dedup_groups / normalized variant) FIRST, as every pipeline
    in this repo does (dedup_funnel, corpus_mix_plan stage 2 before
    any near-dup stage): byte-identical families collapse to one
    representative, and what remains in a bucket are genuinely
    DISTINCT near-duplicates - for which pair output is the requested
    result (a true near-dup clique is quadratic in any algorithm; a
    keep-list consumer that only needs connected components can use
    per-bucket star edges instead of all pairs). Enforced by
    tests/test_incremental_dedup.py::test_hot_bucket_*.

    ``max_bucket`` - OPERATOR-LEVEL ENFORCEMENT for the case the
    ordering contract cannot cover: a NEAR-identical family (template
    + per-doc counter) survives exact dedup, still collides into one
    bucket per band, and goes quadratic. When set, every (band, bh)
    bucket is deterministically truncated to its ``max_bucket``
    LOWEST-id members before the self-join (one row_number window on
    the same key the join shuffles on), so per-bucket candidates are
    bounded by max_bucket^2/2 regardless of occupancy. Documented
    recall semantics: the capped output is a strict SUBSET of the
    uncapped output; a pair is lost only if in EVERY band where the
    two docs collide, at least one of them ranks beyond max_bucket -
    for genuinely distinct near-dups in healthy buckets nothing
    changes, while an f-member near-identical clique emits only its
    max_bucket lowest-id members' pairs: clique members ranked beyond
    the cap in every band produce NO pairs and would survive a
    keep-list - that unbounded-recall-loss-on-pathological-buckets
    trade is the point (bounded work beats an exploding task), and the
    honest mitigation is exact-dedup-first PLUS the cap: the first
    collapses byte-identical mass, the second bounds whatever
    template-like residue remains. Enforced by
    tests/test_incremental_dedup.py::test_bucket_cap_*.

    ``split_buckets``/``split_threshold`` - the LOSSLESS lane for a hot
    bucket whose pairs are genuinely wanted: the self-join's quadratic
    enumeration inside ONE (band, bh) shuffle partition is spread over
    a G x G grid (Okcan & Riedewald's matrix partitioning for theta
    joins, SIGMOD 2011, re-expressed relationally). Buckets whose
    occupancy exceeds ``split_threshold`` (one agg, broadcast back)
    assign each member a group g = hash(id) % G; side A carries
    (p = g, q = explode(0..G-1)), side B the transpose, and the join
    adds (p, q) equality - pair (x, y) matches at exactly the one cell
    (g(x), g(y)) and the id < condition keeps one orientation, so
    output is BIT-IDENTICAL while each grid cell enumerates
    (occ/G)^2 instead of occ^2 in one task. Cost: hot-bucket band rows
    replicate G times per side (cold buckets ride a single (0, 0)
    cell, no replication). Same trade table as the fuzzy join's salt
    lane (SCALING.md r9): use when every pair is wanted and the
    single-task enumeration is the problem; ``max_bucket`` when
    bounded work wins.
    """
    # Shingle hashing runs IN the caller's scan partitions - no text
    # shuffle here (module input-edge contract; single-file fixtures
    # fan out at the caller).
    docs = (
        df.select(_c(id_col).alias("id"), _c(text_col).alias("txt"))
        .select("id", hashed_shingles(F.col("txt"), n).alias("hs"))
        # The 12-permutation signature fold rides INSIDE the persisted
        # projection (r13): band-side consumers re-derive the fold per
        # reference when only hs is cached - one extra pass in the
        # plain self-join lane, two in the grid-split lane (occupancy
        # agg + each grid side; the split sides differ so no exchange
        # reuse applies). Folding at materialization runs it exactly
        # once for 12 extra longs/row of cache.
        .withColumn("sig", minhash_signature_from_hashes(F.col("hs")))
        # three consumers (bands + both verify sides); AQE does not
        # unify their exchanges, so without persist the shingle hashing
        # runs 3x (measured 2.5x end-to-end). MEMORY_AND_DISK spills at
        # scale; the ContextCleaner frees the blocks when the plan is
        # garbage-collected.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = docs.select("id", "sig")
    bands = band_rows(sigs).select("id", "band", "bh")
    if max_bucket is not None:
        # deterministic min-id truncation; the window shuffles on the
        # SAME (band, bh) key the candidate join needs, so the cap adds
        # ordering work inside each bucket but no new partitioning
        w = Window.partitionBy("band", "bh").orderBy("id")
        bands = (
            bands.withColumn("_occ", F.row_number().over(w))
            .filter(F.col("_occ") <= max_bucket)
            .drop("_occ")
        )
    if split_buckets is not None and split_buckets > 1:
        from nyc_government_hiring_audit_data_platform_spark.operators.relational import (
            grid_split_self_join_sides,
        )

        a, b = grid_split_self_join_sides(
            bands, ["band", "bh"], "id", split_buckets, split_threshold
        )
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.p") == F.col("b.p"))
                & (F.col("a.q") == F.col("b.q"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    else:
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    da = docs.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    paired = cand.join(da, "id_a").join(db, "id_b")
    return jaccard_verify(paired, jaccard_threshold).select(
        "id_a", "id_b", "jaccard"
    )


def minhash_lsh_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    n: int = SHINGLE_N,
    max_bucket: int | None = None,
) -> str:
    sig = minhash_signature_from_hashes_sql("hs")
    band_selects = " UNION ALL ".join(
        f"SELECT id, {b} AS band, {band_hash_sql('sig', b)} AS bh FROM sigs"
        for b in range(BANDS)
    )
    cap_cte = (
        f"""
    bands AS (
      SELECT id, band, bh FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY band, bh ORDER BY id) AS _occ
        FROM rawbands
      ) WHERE _occ <= {max_bucket}
    ),"""
        if max_bucket is not None
        else ""
    )
    bands_name = "rawbands" if max_bucket is not None else "bands"
    return f"""
    WITH docs AS MATERIALIZED (
      SELECT {id_col} AS id, {hashed_shingles_sql(text_col, n)} AS hs FROM {table}
    ),
    sigs AS MATERIALIZED (
      SELECT id, {sig} AS sig FROM docs
    ),
    {bands_name} AS (
      {band_selects}
    ),{cap_cte}
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
    ),
    paired AS (
      SELECT id_a, id_b,
             len(list_intersect(da.hs, db.hs)) AS inter,
             len(da.hs) + len(db.hs) - len(list_intersect(da.hs, db.hs)) AS un
      FROM cand
      JOIN docs da ON cand.id_a = da.id
      JOIN docs db ON cand.id_b = db.id
    )
    SELECT id_a, id_b,
           CASE WHEN un = 0 THEN 1.0
                ELSE ROUND(CAST(inter AS DOUBLE) / un, 6) END AS jaccard
    FROM paired
    WHERE (CASE WHEN un = 0 THEN 1.0
                ELSE ROUND(CAST(inter AS DOUBLE) / un, 6) END) >= {jaccard_threshold}
    """


def incremental_neardup_sql(
    corpus_table: str,
    new_table: str,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    n: int = SHINGLE_N,
) -> str:
    """DuckDB oracle for :func:`incremental_neardup`: batch-vs-corpus
    band probe, same signature/band/verify math as
    :func:`minhash_lsh_pairs_sql` but with separate corpus (index) and
    new-batch relations and no ``id <`` constraint (distinct id
    spaces)."""
    sig = minhash_signature_from_hashes_sql("hs")

    def _side(prefix: str, table: str) -> str:
        band_selects = " UNION ALL ".join(
            f"SELECT id, {b} AS band, {band_hash_sql('sig', b)} AS bh "
            f"FROM {prefix}sigs"
            for b in range(BANDS)
        )
        return f"""
    {prefix}docs AS MATERIALIZED (
      SELECT {id_col} AS id, {hashed_shingles_sql(text_col, n)} AS hs FROM {table}
    ),
    {prefix}sigs AS MATERIALIZED (
      SELECT id, {sig} AS sig FROM {prefix}docs
    ),
    {prefix}bands AS (
      {band_selects}
    )"""

    return f"""
    WITH {_side('c', corpus_table)},
    {_side('n', new_table)},
    cand AS (
      SELECT DISTINCT n.id AS new_id, c.id AS corpus_id
      FROM nbands n JOIN cbands c ON n.band = c.band AND n.bh = c.bh
    ),
    paired AS (
      SELECT new_id, corpus_id,
             len(list_intersect(dn.hs, dc.hs)) AS inter,
             len(dn.hs) + len(dc.hs) - len(list_intersect(dn.hs, dc.hs)) AS un
      FROM cand
      JOIN ndocs dn ON cand.new_id = dn.id
      JOIN cdocs dc ON cand.corpus_id = dc.id
    )
    SELECT new_id, corpus_id,
           CASE WHEN un = 0 THEN 1.0
                ELSE ROUND(CAST(inter AS DOUBLE) / un, 6) END AS jaccard
    FROM paired
    WHERE (CASE WHEN un = 0 THEN 1.0
                ELSE ROUND(CAST(inter AS DOUBLE) / un, 6) END)
          >= {jaccard_threshold}
    """


# --------------------------------------------------------------------------
# n-gram Jaccard (shingle-blocked, exact)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n: int = SHINGLE_N,
    probe: Column | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join, blocked on shared shingles:
    a pair is only scored if it shares >= 1 shingle (necessary condition
    for jaccard > 0), so candidate generation is an equi-join on the
    shingle - never a dense cross product.

    ``probe``: optional boolean expression over the aliased ``id``
    column. When given, only pairs with >= 1 probe-side endpoint are
    emitted, and candidate generation joins the PROBE subset's shingle
    postings against the corpus instead of corpus x corpus - the exact
    lane's cost becomes |probe| x posting-length at ANY corpus size
    (the fixed-panel shape a ground-truth/recall harness needs at
    100 TB, where even a linear-in-corpus all-pairs lane spills the
    cluster: every candidate pair ships both full shingle arrays).
    If the probe covers every id the output is identical to the
    unprobed call. (A hot shingle's posting-list self-join has the
    same one-task shape the grid lane fixes elsewhere -
    relational.grid_split_self_join_sides - but this operator is the
    quarantined exact/didactic lane by policy; the probe parameter IS
    its scale path, and minhash_lsh_pairs(split_buckets=...) is the
    production near-dup join.)"""
    docs = (
        df.select(_c(id_col).alias("id"), _c(text_col).alias("txt"))
        .select("id", hashed_shingles(F.col("txt"), n).alias("hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)  # 3 consumers, see minhash_lsh_pairs
    )
    ex = docs.select("id", F.explode(F.col("hs")).alias("h"))
    a, b = ex.alias("a"), ex.alias("b")
    if probe is None:
        cand = (
            a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    else:
        # probe postings vs corpus postings; both-probe pairs arrive in
        # both orders, so canonicalize to (least, greatest) then distinct
        pex = ex.filter(probe).alias("a")
        cand = (
            pex.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")))
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            )
            .distinct()
        )
    da = docs.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    paired = cand.join(da, "id_a").join(db, "id_b")
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.size(F.col("hs_a")) + F.size(F.col("hs_b")) - inter
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter.cast("double") / union)
    return (
        paired.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_sql(
    table: str, text_col: str, id_col: str, threshold: float, n: int = SHINGLE_N
) -> str:
    return f"""
    WITH docs AS MATERIALIZED (
      SELECT {id_col} AS id, {hashed_shingles_sql(text_col, n)} AS hs FROM {table}
    ),
    ex AS (
      SELECT id, unnest(hs) AS h FROM docs
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id
    ),
    paired AS (
      SELECT id_a, id_b,
             len(list_intersect(da.hs, db.hs)) AS inter,
             len(da.hs) + len(db.hs) - len(list_intersect(da.hs, db.hs)) AS un
      FROM cand
      JOIN docs da ON cand.id_a = da.id
      JOIN docs db ON cand.id_b = db.id
    )
    SELECT id_a, id_b,
           CASE WHEN un = 0 THEN 1.0
                ELSE ROUND(CAST(inter AS DOUBLE) / un, 6) END AS jaccard
    FROM paired
    WHERE (CASE WHEN un = 0 THEN 1.0
                ELSE ROUND(CAST(inter AS DOUBLE) / un, 6) END) >= {threshold}
    """


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash(col: Column | str) -> Column:
    """SIMHASH_BITS-bit SimHash over normalized whitespace tokens.

    Bit i of md5(token) votes +1/-1; the signature bit is 1 iff the
    vote sum is >= 0. Computed as ONE fold with a 16-slot vote-sum
    accumulator over the per-token md5s: each token is hashed exactly
    once (the md5 binds to the fold's lambda variable), and the token
    expression is referenced exactly once - both matter because the
    interpreted path has no subexpression elimination.
    """
    from nyc_government_hiring_audit_data_platform_spark.functions.text import tokens

    # one md5 + one hex->int conversion per token; bits extracted
    # arithmetically (LSB-first) from the 16-bit value
    hv = F.transform(
        tokens(col),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 4), 16, 10).cast("int"),
    )
    start = F.array_repeat(F.lit(0), SIMHASH_BITS)

    def votes(v):
        out = []
        for bit in range(SIMHASH_BITS):
            # shiftright+and, not floor(v/2^bit)%2: ~2x faster in the
            # interpreted path (integer ops vs double division), same
            # values for the non-negative 16-bit hash
            bitval = F.shiftright(v, bit).bitwiseAND(F.lit(1))
            out.append(F.when(bitval == 1, F.lit(1)).otherwise(F.lit(-1)))
        return F.array(*out)

    sums = F.aggregate(hv, start, lambda acc, v: F.zip_with(acc, votes(v), lambda a, b: a + b))
    powers = F.array(*[F.lit(2**bit).cast("long") for bit in range(SIMHASH_BITS)])
    # single reference to `sums`: without codegen CSE, referencing it per
    # bit would re-run the whole fold 16 times
    bits = F.zip_with(sums, powers, lambda s, p: F.when(s >= 0, p).otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


def simhash_sql(expr: str) -> str:
    """DuckDB twin. Same structure: one md5 + hex->int per token into
    ``hv`` (bound once via an immediately-applied list lambda), then 16
    arithmetic vote-sum folds over the stored values."""
    from nyc_government_hiring_audit_data_platform_spark.functions.textstats import _tokens_sql

    hv = (
        f"list_transform({_tokens_sql(expr)}, "
        f"t -> (('0x' || substr(md5(t), 1, 4))::INT))"
    )
    terms = []
    for bit in range(SIMHASH_BITS):
        bitval = f"((v // {2 ** bit}) % 2)"
        vote = f"CASE WHEN {bitval} = 1 THEN 1 ELSE -1 END"
        s = f"list_sum(list_transform(hv, v -> {vote}))"
        terms.append(f"CASE WHEN coalesce({s}, 0) >= 0 THEN {2**bit} ELSE 0 END")
    body = " + ".join(terms)
    return f"list_transform([{hv}], hv -> CAST({body} AS BIGINT))[1]"


def simhash_signatures_df(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) for every document. The per-doc fold runs in the
    caller's scan partitions (module input-edge contract): a caller on
    a single-file fixture fans (id, text) out at its own edge, or the
    whole fold lands in one task (measured 5x on local[8])."""
    return (
        df.select(_c(id_col).alias("doc_id"), _c(text_col).alias("txt"))
        .select("doc_id", simhash(F.col("txt")).alias("simhash"))
    )


def simhash_collision_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_buckets: int | None = None,
    split_threshold: int = 1024,
) -> DataFrame:
    """Near-dup candidate pairs = identical 16-bit signatures. The
    signature projection is persisted: a self-join otherwise evaluates
    the full per-doc fold once PER SIDE (measured 65x end-to-end with
    repartition+persist vs the naive plan).

    ``split_buckets``/``split_threshold``: a hot signature (a large
    identical/near-identical family) is the same one-task memory cliff
    as a hot LSH bucket - the optional grid lane
    (relational.grid_split_self_join_sides, SCALING.md r9) spreads it
    over G x G cells with bit-identical output."""
    sigs = simhash_signatures_df(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if split_buckets is not None and split_buckets > 1:
        from nyc_government_hiring_audit_data_platform_spark.operators.relational import (
            grid_split_self_join_sides,
        )

        a, b = grid_split_self_join_sides(
            sigs, ["simhash"], "doc_id", split_buckets, split_threshold
        )
        cond = (
            (F.col("a.simhash") == F.col("b.simhash"))
            & (F.col("a.p") == F.col("b.p"))
            & (F.col("a.q") == F.col("b.q"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    else:
        a, b = sigs.alias("a"), sigs.alias("b")
        cond = (
            (F.col("a.simhash") == F.col("b.simhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    return a.join(b, cond).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.simhash"),
    )


# --------------------------------------------------------------------------
# incremental near-dup: new batch vs a persisted band index
# --------------------------------------------------------------------------


def band_rows(sigs: DataFrame) -> DataFrame:
    """(.., sig) -> one row per (doc, band) with the band hash - THE
    banding step, shared by full-corpus LSH and the incremental index
    so the two can never drift apart."""
    return sigs.select(
        *[c for c in sigs.columns if c != "sig"],
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_hash(F.col("sig"), b).alias("bh"))
                for b in range(BANDS)
            ])
        ).alias("e"),
    ).withColumns({"band": F.col("e.band"), "bh": F.col("e.bh")}).drop("e")


def jaccard_verify(
    cand: DataFrame, threshold: float, hs_a: str = "hs_a", hs_b: str = "hs_b"
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs, keeping rows at
    or above ``threshold`` with a rounded ``jaccard`` column - the ONE
    definition of the verify step (empty-vs-empty counts as identical)."""
    inter = F.size(F.array_intersect(F.col(hs_a), F.col(hs_b)))
    union = F.size(F.col(hs_a)) + F.size(F.col(hs_b)) - inter
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter.cast("double") / union)
    return cand.withColumn("jaccard", F.round(jac, 6)).filter(
        F.col("jaccard") >= threshold
    )


def build_band_index(
    df: DataFrame, text_col: str, id_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """The persisted side of INCREMENTAL dedup: (id, band, bh, hs) rows
    for the existing corpus - write this once (partitioned/bucketed on
    (band, bh) in production) and each new ingest batch probes it
    instead of re-deduping the whole corpus. Index size is
    BANDS rows/doc + one shingle-hash set/doc; growth is linear."""
    docs = (
        df.select(_c(id_col).alias("id"), _c(text_col).alias("txt"))
        .select("id", hashed_shingles(F.col("txt"), n).alias("hs"))
    )
    sigs = docs.select(
        "id", "hs", minhash_signature_from_hashes(F.col("hs")).alias("sig")
    )
    return band_rows(sigs).select("id", "band", "bh", "hs")


def band_bloom_gate(band_index: DataFrame) -> DataFrame:
    """ONE-row Bloom filter over the corpus index's ``(band, bh)`` keys
    - the constant-memory "seen in ANY previous crawl?" prefilter for
    :func:`incremental_neardup`. A new doc's band row whose key misses
    the filter PROVABLY has no bucket partner in the index (Bloom gives
    zero false negatives), so it can be dropped before the index join
    without changing the survivor set; at recrawl scale that rejects
    the bulk of an unseen batch with an 8 KB broadcast instead of an
    index probe. See operators/bloom.py for the determinism contract."""
    from nyc_government_hiring_audit_data_platform_spark.operators.bloom import (
        bloom_build,
    )

    keys = band_index.select(
        F.concat_ws(":", F.col("band").cast("string"), F.col("bh")).alias("k")
    )
    return bloom_build(keys, "k")


def incremental_neardup(
    new_df: DataFrame,
    band_index: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    n: int = SHINGLE_N,
    bloom_gate: DataFrame | None = None,
) -> DataFrame:
    """Near-dup matches of a NEW batch against an existing corpus's
    band index: (new_id, corpus_id, jaccard). Cost is proportional to
    the BATCH (hash + band each new doc, equi-join into the index's
    (band, bh) space, verify only in-bucket candidates) - the corpus is
    touched only through index lookups, which a (band, bh)-bucketed
    layout serves without a full shuffle. Batch-internal duplicates are
    the ordinary minhash_lsh_pairs call; this covers batch-vs-corpus.

    ``bloom_gate`` (from :func:`band_bloom_gate` over the SAME index)
    prefilters the batch's band rows map-side before the index join;
    zero-false-negative Bloom semantics make the survivor set provably
    identical with or without it.

    The batch side carries an explicit BROADCAST hint into the index
    join: the batch is bounded by the operator's own contract, and
    without the hint the gate's crossJoin+filter destroys the
    planner's size estimate - measured at a x100 index, the join
    flipped to sort-merge and shuffled the full 2M-row index TWICE
    (23.2 s vs 3.4 s gated-vs-ungated probe), exactly the corpus
    movement this operator exists to avoid. A batch too large to
    broadcast belongs in :func:`minhash_lsh_pairs` over the union
    instead."""
    new_idx = build_band_index(new_df, text_col, id_col, n)
    if bloom_gate is not None:
        from nyc_government_hiring_audit_data_platform_spark.operators.bloom import (
            bloom_probe,
        )

        new_idx = (
            bloom_probe(
                new_idx.withColumn(
                    "__k",
                    F.concat_ws(":", F.col("band").cast("string"), F.col("bh")),
                ),
                "__k",
                bloom_gate,
            )
            .filter(F.col("bloom_hit"))
            .drop("__k", "bloom_hit")
        )
    cand = (
        new_idx.alias("n")
        .hint("broadcast")
        .join(
            band_index.alias("c"),
            (F.col("n.band") == F.col("c.band")) & (F.col("n.bh") == F.col("c.bh")),
        )
        .select(
            F.col("n.id").alias("new_id"),
            F.col("c.id").alias("corpus_id"),
            F.col("n.hs").alias("hs_a"),
            F.col("c.hs").alias("hs_b"),
        )
    )
    # Verify BEFORE the pair dedup, not after: the candidate join's
    # output lives in the index-side scan partitions (broadcast join),
    # so the exact-Jaccard fold runs map-side there, and the only
    # exchange in the operator then carries (new_id, corpus_id,
    # jaccard) - 24 bytes/pair - instead of both shingle-hash sets.
    # Deduping first looked cheaper (one verify per pair instead of one
    # per shared band), but dropDuplicates over array payloads plans as
    # Sort + SortAggregate(first(hs_a), first(hs_b)) AROUND the
    # exchange: every candidate row is sorted WITH its arrays and the
    # arrays cross the wire (measured sf0.1: the verify save stage at
    # 24.5 s task CPU, the operator's hottest stage). jaccard is a
    # pure function of the pair, identical in every band copy; the
    # dedup GROUPS ON THE PAIR ALONE and folds jaccard with min() (r14,
    # ADVICE): one row per pair is now structural rather than dependent
    # on jaccard's value determinism, min over bit-identical copies is
    # that copy, and with no array in grouping keys or buffer the dedup
    # stays a plain HashAggregate whose exchange carries 24 bytes/pair.
    # Extra cost: pairs sharing k bands fold k intersects map-side
    # (k <= BANDS, overwhelmingly 1).
    return (
        jaccard_verify(cand, jaccard_threshold)
        .select("new_id", "corpus_id", "jaccard")
        .groupBy("new_id", "corpus_id")
        .agg(F.min("jaccard").alias("jaccard"))
    )
