"""Deduplication operators (north-star): exact, n-gram Jaccard near-dup,
MinHash+LSH, SimHash, embedding-cosine near-dup.

The LLM-data-pipeline dedup ladder, cheapest-first:

1. exact        — hash group-by; one shuffle on the dedup key.
2. ngram        — exact shingle-set Jaccard via a shared-shingle equi-join;
                  quadratic only within shingle buckets (inverted-index join),
                  the honest baseline the sketch methods approximate.
3. minhash_lsh  — the 100 TB path: fixed-size signatures (32 hashes), banded
                  into 16 bands × 2 rows; only band-collision candidates are
                  verified exactly. P(candidate | J=0.9) ≈ 1-1e-12, so at the
                  0.5 threshold the verified output equals the exact ngram
                  result, and both share one oracle.
3b. prefix      — PPJoin-style prefix filtering at θ=0.8 (its intended
                  high-threshold regime: prefix size is (1−θ)·n): candidates
                  from each doc's rarest shingles + length + positional
                  filters; kills the hot-key quadratic of the
                  inverted-index join by construction, deterministically.
4. simhash      — 32-bit signatures, hamming ≤ 3 pairs found via 4-byte
                  pigeonhole banding (a pair within distance 3 must agree on
                  ≥1 of 4 bytes) — exact under banding, no full cross-join.
5. embed_cos    — cosine near-dup over the embedding column: exact blocked
                  matmul at loose thresholds (q_dedup_embed, θ=0.4 — no
                  sketch prunes that regime on an isotropic corpus; measured
                  at EMBED_LSH_THRESHOLD below), multi-band hyperplane LSH +
                  exact verify at true near-dup thresholds
                  (q_dedup_embed_lsh, θ=0.85).

Spark-native hash functions (murmur3/xxhash64) don't exist in DuckDB, so the
sketch-internal queries are deterministic-rows-only; their *verified outputs*
(minhash) hash-check against the exact oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_aws_spark.functions.curation import (
    stratum_bucket,
    stratum_bucket_sql,
)
from data_pipeline_aws_spark.registry import query
from data_pipeline_aws_spark.tables import read_parquet, table

SHINGLE_WIDTH = 3
JACCARD_THRESHOLD = 0.5


def _shingle_array(text_col: str = "text"):
    """In-row distinct 3-token shingle array over a text column — the ONE
    definition every shingle-set operator derives from (explode here,
    explode_outer in _mh_sig_table): zip_with over the token array and its
    shift-by-1/shift-by-2 slices, array_distinct in-row, zero shuffles."""
    toks = F.split(text_col, " ")
    n = F.greatest(F.size(toks) - F.lit(SHINGLE_WIDTH - 1), F.lit(0))
    pair = F.zip_with(
        F.slice(toks, 1, n), F.slice(toks, 2, n), lambda x, y: F.concat_ws(" ", x, y)
    )
    sh = F.zip_with(pair, F.slice(toks, 3, n), lambda p, z: F.concat_ws(" ", p, z))
    return F.array_distinct(sh)


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — 3-token shingles, entirely map-side.

    zip_with over the token array and its shift-by-1/shift-by-2 slices builds
    the shingle list in-row, array_distinct dedupes in-row, and only then does
    explode emit pairs — so shingling needs ZERO shuffles (the earlier form,
    posexplode → window-lead partitioned by doc_id → distinct, shuffled every
    token twice; at 100 TB that's the corpus through the wire twice before
    dedup even starts). Output cardinality ≈ token count, same as before —
    the downstream inverted-index join is unchanged.

    The scan is spread (tables.spread: layout-gated repartition) so the
    shingle explode + fingerprint hashing parallelize on the single-file
    bench fixture instead of running inside a one-task scan stage; on any
    layout with >= cores row groups the gate is a no-op and shingling
    stays entirely map-side with zero shuffles.
    """
    d = table(spark, sf_dir, "documents", spread_scan=True)
    return d.select("doc_id", F.explode(_shingle_array()).alias("shingle"))


def shingle_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h) with h = xxhash64(shingle) — the join/shuffle currency for
    every shingle-set operator downstream.

    Fingerprinting before the inverted-index self-join keeps the shuffle key
    8 bytes regardless of shingle width (a 3-token shingle averages ~20-30
    bytes; wider shingles or CJK text only grow it), and int64 sort/hash
    comparisons beat string comparisons inside the sort-merge join — measured
    ~20% off the whole exact-Jaccard query at sf0.1. Collisions: two distinct
    shingles colliding under a 64-bit hash across D distinct shingles happens
    w.p. ≈ D²/2⁶⁵ (≈ 3e-11 at one million distinct shingles) — the standard
    fingerprint trade every production shingle pipeline makes."""
    return shingles(spark, sf_dir).select("doc_id", F.xxhash64("shingle").alias("h"))


# The ONE DuckDB definition of the distinct-shingle relation (tok/sh/shd),
# shared verbatim by every shingle-set oracle below — the SQL twin of
# _shingle_array being the one Spark-side definition. Editing the shingle
# width/tokenization here updates every oracle in lockstep. Oracles whose
# corpus is an augmented CTE (e.g. q_dedup_containment's aug) pass that
# relation name instead of the documents table.
def _shingle_ctes(src: str = "documents") -> str:
    return f"""tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' '))                   AS token,
         generate_subscripts(string_split(text, ' '), 1)   AS pos
  FROM {src}
),
sh AS (
  SELECT doc_id,
         token || ' ' || LEAD(token, 1) OVER w || ' ' || LEAD(token, 2) OVER w AS shingle
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL)"""


_SHINGLE_CTES = _shingle_ctes()

_SHINGLE_SQL = f"""
WITH {_SHINGLE_CTES},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, n_common,
       n_common * 1.0 / (ca.n + cb.n - n_common) AS jaccard
FROM inter
JOIN cnt ca ON d1 = ca.doc_id
JOIN cnt cb ON d2 = cb.doc_id
WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= 0.5
"""


def _exact_jaccard_pairs(
    shh: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = JACCARD_THRESHOLD,
    with_union: bool = False,
) -> DataFrame:
    """Exact shingle-Jaccard over a (doc_id, h) fingerprint relation, for all
    shared-shingle pairs or only for the given (d1, d2) candidate pairs.

    With candidates, the intersection join is RESTRICTED BEFORE counting:
    d1's shingles fan out only to its candidate partners, then equi-join d2's
    shingles on (d2, h) — cost O(|candidates| · shingles/doc), not the
    full shared-shingle blow-up. Verifying after the full inverted-index join
    would redo all the work LSH banding exists to avoid. Count joins carry no
    broadcast hint: per-doc counts scale with the corpus (not broadcastable
    at 100 TB), and AQE picks broadcast from runtime stats when small."""
    cnt = shh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shh.alias("a")
    b = shh.alias("b")
    if candidates is not None:
        probe = candidates.join(
            a, F.col("d1") == F.col("a.doc_id")
        ).select("d1", "d2", F.col("a.h").alias("h1"))
        inter = (
            probe.join(
                b,
                (F.col("d2") == F.col("b.doc_id"))
                & (F.col("h1") == F.col("b.h")),
                "left_semi",
            )
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        inter = (
            a.join(
                b,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    union_sz = F.col("ca.n") + F.col("cb.n") - F.col("n_common")
    jac = F.col("n_common") * 1.0 / union_sz
    cols = ["d1", "d2", "n_common", jac.alias("jaccard")]
    if with_union:
        # opt-in so existing consumers' schemas (q_dedup_ngram returns this
        # relation verbatim) stay frozen; n_union enables INTEGER Jaccard
        # bucketing (n_common*10 div n_union) with zero float drift
        cols.insert(3, union_sz.alias("n_union"))
    return (
        inter.join(ca, F.col("d1") == F.col("ca.doc_id"))
        .join(cb, F.col("d2") == F.col("cb.doc_id"))
        .select(*cols)
        .where(F.col("jaccard") >= threshold)
    )


@query(
    "q_dedup_exact",
    oracle="""
SELECT event_id, user_id, event_type, ts
FROM (
  SELECT event_id, user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact key-dedup, deterministic keep-first (earliest ts) — the
    window-rank form rather than dropDuplicates' keep-any, so the oracle can
    hash-match. One shuffle on the dedup key."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@query("q_dedup_ngram", oracle=_SHINGLE_SQL)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-token shingle) Jaccard near-duplicate pairs at ≥ 0.5.

    The join is an inverted-index equi-join on the 64-bit shingle fingerprint
    — cost scales with shared-shingle pair count, not |docs|². Jaccard is a
    single division of integers (bit-identical across engines, no rounding
    needed).
    """
    return _exact_jaccard_pairs(shingle_fingerprints(spark, sf_dir))


def _band_signatures(shh: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) MinHash-LSH band table from a (doc_id, h)
    fingerprint relation — 32 minhashes per doc, banded 16×2.

    All 32 minhashes in ONE aggregation pass: min(hash(seed_i, h)) as
    32 parallel agg columns. Shuffles |shingle-pairs| rows once — the
    seed-join alternative shuffles 32× that, which is the difference between
    one pass and an hour at 100 TB. Seeded murmur3 over the 8-byte
    fingerprint instead of the shingle string: 32 hash evaluations per row
    each touch 8 bytes, not ~30."""
    n_hashes, rows_per_band = 32, 2
    sig = shh.groupBy("doc_id").agg(
        *[F.min(F.hash(F.lit(i), "h")).alias(f"mh{i}") for i in range(n_hashes)]
    )
    # Band signature = hash of the band's (min, max) — order-insensitive.
    n_bands = n_hashes // rows_per_band
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.hash(
                    F.least(F.col(f"mh{2 * i}"), F.col(f"mh{2 * i + 1}")),
                    F.greatest(F.col(f"mh{2 * i}"), F.col(f"mh{2 * i + 1}")),
                )
                for i in range(n_bands)
            ])
        ).alias("band", "band_sig"),
    )


def _lsh_candidates(shh: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs: a pair is a candidate iff some band's
    signature collides. Detection probability at the planted-duplicate
    similarity (~0.9+) is 1-(1-0.81)^16 ≈ 1-1e-12."""
    band = _band_signatures(shh)
    a = band.alias("a")
    b = band.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


@query("q_dedup_minhash", oracle=_SHINGLE_SQL)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dedup — the 100 TB scale path.

    All 32 minhashes come from ONE aggregation pass (32 parallel min-agg
    columns — the seed-join formulation shuffles 32× the shingle table and
    is exactly what this avoids); band signatures collide candidates, and
    only candidates get exact Jaccard verification (restricted BEFORE
    intersection counting, see _exact_jaccard_pairs). The verified output
    equals q_dedup_ngram's exact result — same oracle."""
    shh = shingle_fingerprints(spark, sf_dir)
    return _exact_jaccard_pairs(shh, _lsh_candidates(shh))


# Prefix filtering runs at the high threshold it is built for: p ≈ (1−θ)·n,
# so θ=0.8 keeps 5× fewer prefix rows than θ=0.5 and the length/positional
# bounds actually discriminate. On this corpus every planted near-dup pair
# sits at J ≈ 0.9, so the θ=0.8 output still equals the exact result.
PREFIX_THRESHOLD = 0.8
# Exact rational form of PREFIX_THRESHOLD (θ = NUM/DEN) so every boundary
# comparison below runs in integer arithmetic — a pair at exactly J=θ must
# not be dropped by 1-ulp float rounding before exact verification sees it.
PREFIX_THRESHOLD_NUM, PREFIX_THRESHOLD_DEN = 4, 5
assert PREFIX_THRESHOLD_NUM / PREFIX_THRESHOLD_DEN == PREFIX_THRESHOLD


@query("q_dedup_prefix", oracle=_SHINGLE_SQL.replace(">= 0.5", ">= 0.8"))
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity join (PPJoin family, Xiao et al.
    WWW'08): exact Jaccard ≥ θ pairs at θ=0.8, with candidates generated
    ONLY from each document's rarest shingles.

    Order every document's shingle set by ascending global frequency and
    keep the first p = n − ⌈θ·n⌉ + 1 as its *prefix*: any pair with
    J ≥ θ must share at least one prefix element (if two sets disagree on
    all of either's p rarest elements, their overlap is < θ·n). Candidate
    pairs must also pass the length filter (θ·|B| ≤ |A| ≤ |B|/θ) and the
    positional filter (overlap upper bound from collision ranks); exact
    verification then runs restricted to survivors.

    θ matters here and is the honest operating point: prefix filtering is
    the HIGH-threshold tool — p shrinks as (1−θ)·n, so at θ=0.5 half of
    every set is prefix and on a low-entropy corpus (small vocabulary, high
    baseline similarity — exactly this fixture) the candidate set
    approaches the full inverted-index join it is meant to avoid. At
    θ=0.8, prefixes are ~20% of each set and the filters discriminate.

    Versus the alternatives: unlike `q_dedup_ngram`'s full inverted index,
    a stop-shingle appearing in k docs cannot create a k² blow-up (common
    shingles land in suffixes, which are never join keys — fan-in bounded
    by construction, not repaired by AQE skew splitting); unlike
    minhash-LSH, candidate generation is deterministic — no hash-collision
    recall argument needed. Costs one frequency aggregate + one
    doc-partitioned window over the 8-byte fingerprint relation."""
    shh = shingle_fingerprints(spark, sf_dir)
    freq = shh.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
    w_rank = Window.partitionBy("doc_id").orderBy("freq", "h")
    w_all = Window.partitionBy("doc_id")
    ranked = (
        shh.join(freq, "h")
        .select(
            "doc_id",
            "h",
            F.row_number().over(w_rank).alias("r"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
    )
    # ceil(θn) in exact integer form: ceil(NUM·n/DEN) = floor((NUM·n+DEN−1)/DEN).
    # (IEEE division is correctly rounded and the true quotient is ≥ 1/DEN
    # away from any integer when fractional, so floor() here is exact —
    # unlike ceil(0.8·n) where fl(0.8)·n can land a hair above the integer.)
    ceil_theta_n = F.floor(
        (F.col("n") * PREFIX_THRESHOLD_NUM + PREFIX_THRESHOLD_DEN - 1)
        / PREFIX_THRESHOLD_DEN
    )
    prefix = ranked.where(
        F.col("r") <= F.col("n") - ceil_theta_n + 1
    ).select("doc_id", "h", "n", "r")
    a = prefix.alias("a")
    b = prefix.alias("b")
    # Length filter (second PPJoin condition): J ≥ θ forces
    # θ·|B| ≤ |A| ≤ |B|/θ, so size-incompatible collisions die INSIDE the
    # join before any aggregation. Integer multiply-through (θ = NUM/DEN):
    # |A| ≥ θ|B| ⟺ DEN·|A| ≥ NUM·|B| — exact at the boundary.
    num, den = F.lit(PREFIX_THRESHOLD_NUM), F.lit(PREFIX_THRESHOLD_DEN)
    collisions = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.n") * den >= num * F.col("b.n"))
        & (F.col("b.n") * den >= num * F.col("a.n")),
    ).select(
        F.col("a.doc_id").alias("d1"),
        F.col("b.doc_id").alias("d2"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        # Positional filter (third PPJoin condition). Every document sorts
        # its shingles by the SAME global (freq, h) order, so common
        # elements appear in consistent order on both sides; for a
        # collision at ranks (ra, rb), common elements before it number
        # ≤ min(ra, rb) − 1 and after it ≤ min(na − ra, nb − rb), giving
        # overlap ≤ min(ra, rb) + min(na − ra, nb − rb).
        (
            F.least(F.col("a.r"), F.col("b.r"))
            + F.least(F.col("a.n") - F.col("a.r"), F.col("b.n") - F.col("b.r"))
        ).alias("ub"),
    )
    # J ≥ θ ⟺ overlap ≥ θ(na+nb)/(1+θ); multiply through by DEN(1+θ)/θ⁻¹:
    # (DEN+NUM)·overlap ≥ NUM·(na+nb) — at θ=4/5: 9·overlap ≥ 4(na+nb).
    # Integer arithmetic so the J=θ boundary can't be lost to float rounding.
    # min(ub) over a pair's collisions is its tightest provable bound — the
    # dedup groupBy doubles as the bound aggregation, replacing distinct().
    cands = (
        collisions.groupBy("d1", "d2", "na", "nb")
        .agg(F.min("ub").alias("ub"))
        .where(
            F.col("ub") * (den + num)
            >= num * (F.col("na") + F.col("nb"))
        )
        .select("d1", "d2")
    )
    return _exact_jaccard_pairs(shh, cands, threshold=PREFIX_THRESHOLD)


@query(
    "q_dedup_incremental",
    oracle="""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' '))                   AS token,
         generate_subscripts(string_split(text, ' '), 1)   AS pos
  FROM documents
),
sh AS (
  SELECT doc_id,
         token || ' ' || LEAD(token, 1) OVER w || ' ' || LEAD(token, 2) OVER w AS shingle
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT h.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM shd h JOIN shd b ON h.shingle = b.shingle
  WHERE h.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY h.doc_id, b.doc_id
),
near_dup AS (
  SELECT DISTINCT d2 AS doc_id
  FROM inter
  JOIN cnt ca ON d1 = ca.doc_id
  JOIN cnt cb ON d2 = cb.doc_id
  WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= 0.5
),
exact_dup AS (
  SELECT DISTINCT b.doc_id
  FROM documents b JOIN documents h ON md5(b.text) = md5(h.text)
  WHERE b.doc_id % 2 = 1 AND h.doc_id % 2 = 0
)
SELECT doc_id, lang, source
FROM documents
WHERE doc_id % 2 = 1
  AND doc_id NOT IN (SELECT doc_id FROM exact_dup)
  AND doc_id NOT IN (SELECT doc_id FROM near_dup)
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an arriving batch against an existing corpus —
    the shape a production pipeline actually runs (dedup the new crawl
    against 100 TB of history WITHOUT re-clustering the history). Fixtures
    have no arrival column, so the split is deterministic: even doc_ids are
    'history', odd are the 'batch'. A batch doc survives iff (1) no history
    doc has identical content (md5 anti-join) and (2) no history doc is a
    near-duplicate at Jaccard ≥ 0.5 (cross-side LSH candidates, exactly
    verified).

    Scale shape: both screens are anti-joins keyed on O(batch) relations.
    The exact screen shuffles 16-byte content hashes, never text. The near
    screen reuses the banded-minhash table (one agg pass over each side's
    fingerprints); only band collisions BETWEEN the sides are verified, so
    history×batch never materializes. History's band table is the thing a
    real pipeline would persist and append to — the incremental property is
    that nothing here rescans or re-pairs history against itself
    (`_lsh_candidates`' within-corpus join is exactly what this op avoids)."""
    d = table(spark, sf_dir, "documents")
    hist = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)

    hist_md5 = hist.select(F.md5(F.encode("text", "utf-8")).alias("chash"))
    surv_exact = batch.withColumn(
        "chash", F.md5(F.encode("text", "utf-8"))
    ).join(hist_md5, "chash", "left_anti")

    shh = shingle_fingerprints(spark, sf_dir)
    band = _band_signatures(shh)
    hb = band.where(F.col("doc_id") % 2 == 0).alias("hb")
    bb = band.where(F.col("doc_id") % 2 == 1).alias("bb")
    cands = (
        hb.join(
            bb,
            (F.col("hb.band") == F.col("bb.band"))
            & (F.col("hb.band_sig") == F.col("bb.band_sig")),
        )
        .select(F.col("hb.doc_id").alias("d1"), F.col("bb.doc_id").alias("d2"))
        .distinct()
    )
    near_dup_batch = _exact_jaccard_pairs(shh, cands).select(
        F.col("d2").alias("doc_id")
    ).distinct()
    return surv_exact.join(near_dup_batch, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# --- Persisted-signature MinHash-LSH index maintenance --------------------
# q_dedup_incremental screens one batch against history by recomputing BOTH
# sides' sketches from text. The maintained-index variant below completes
# the production story: signatures are computed ONCE per document, persisted
# at the doc grain (doc_id, epoch, chash, mh0..mh31 — ~280 B/doc), and every
# later refresh reads the INDEX, never history text. Portability: the base
# shingle hash is the HIGH 32 bits of md5(shingle) and the 32 minhashes are
# linear permutations (a_i·h + b_i) mod p of that ONE digest — the classic
# Broder construction — so the full signature content, not just admission
# decisions, is byte-replayable in the DuckDB oracle and in pure Python
# (Spark-private murmur3/xxhash64 would force a rows-only check). One md5
# per shingle instead of 32 cut the sf0.1 signature build ~5x (round-6
# measurement); a_i < 2^30 and h < 2^32 keep every product inside exact
# signed-int64 range in both engines.

_MH_N = 32  # minhashes per signature
_MH_BANDS = 16  # 16 bands x 2 rows: P(candidate | J=0.9) ≈ 1-1e-12
_MH_MATCH_MIN = 16  # admitted iff est. Jaccard < 0.5 ⇔ < 16 of 32 agree
_MH_P = 4294967291  # largest 32-bit prime: permutation modulus
# Fixed permutation constants, derived once from the Knuth multiplier so
# every engine (Spark expr, DuckDB VALUES, Python replay) sees the same
# literals. a_i odd and < 2^30 ⇒ a_i·h < 2^62 — no int64 overflow.
_MH_A = [(((2 * i + 1) * 2654435761) % (1 << 30)) | 1 for i in range(_MH_N)]
_MH_B = [(i * 40503 + 12345) % _MH_P for i in range(_MH_N)]
assert len(set(_MH_A)) == _MH_N

_MH_SEED_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
)


def _md5_hi32(c):
    """HIGH 32 bits of md5 (first 8 hex chars) as a non-negative BIGINT —
    byte-identical in DuckDB via CAST(concat('0x', substr(md5(s),1,8)) AS
    BIGINT) and in Python via int(hexdigest()[:8], 16)."""
    return F.conv(F.substring(F.md5(F.encode(c, "UTF-8")), 1, 8), 16, 10).cast(
        "long"
    )


def _mh_sig_table(d: DataFrame) -> DataFrame:
    """(doc_id, chash, mh0..mh31) portable signature table for a documents
    subset. All 32 minhashes in ONE aggregation pass (32 parallel min-agg
    columns over the in-row shingle explode — the one-pass shape
    q_dedup_minhash established); each shingle is md5-digested ONCE and the
    32 permutation values are int64 multiply-add-mods of that digest, so
    signature cost is 1 digest + 32 ALU ops per shingle. Shingle strings
    never shuffle, only the doc-grain partial mins do. ONE text scan
    (plan-pinned): chash rides the same projection and explode_outer keeps
    shingle-less docs as a single NULL-shingle row, whose digest/permute/min
    all stay NULL — the doc keeps a NULL signature and still dedups exactly
    by chash."""
    sh = d.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("chash"),
        F.explode_outer(_shingle_array()).alias("shingle"),
    )
    h = _md5_hi32(F.col("shingle"))
    sh = sh.select("doc_id", "chash", h.alias("h"))
    return sh.groupBy("doc_id", "chash").agg(
        *[
            F.min((_MH_A[i] * F.col("h") + _MH_B[i]) % _MH_P).alias(f"mh{i}")
            for i in range(_MH_N)
        ]
    )


def _mh_band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, s1, s2) band rows from a signature table — the LSH
    bucket key. NULL-signature docs emit NULL s1/s2, which can never
    equi-join (SQL NULL), so they produce no candidates on either side."""
    bands = F.array(
        *[
            F.struct(
                F.col(f"mh{2 * i}").alias("s1"), F.col(f"mh{2 * i + 1}").alias("s2")
            )
            for i in range(_MH_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band", "bs")).select(
        "doc_id", "band", F.col("bs.s1").alias("s1"), F.col("bs.s2").alias("s2")
    )


def _mh_near_hits(sig_a: DataFrame, sig_b: DataFrame, within: bool) -> DataFrame:
    """Distinct b-side doc_ids whose estimated Jaccard vs some a-side doc
    reaches 0.5 (>= _MH_MATCH_MIN of the 32 minhashes agree). Candidates
    come ONLY from band-bucket collisions — a×b never materializes; with
    ``within=True`` both sides are the same batch and only lower-id docs
    reject higher ones (keep-lowest, one pass, no transitivity — the
    deterministic rule the oracle replays)."""
    a, b = _mh_band_rows(sig_a).alias("a"), _mh_band_rows(sig_b).alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.s1") == F.col("b.s1"))
        & (F.col("a.s2") == F.col("b.s2"))
    )
    if within:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    cand = (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    matches = sum(
        F.when(F.col(f"x.mh{i}") == F.col(f"y.mh{i}"), 1).otherwise(0)
        for i in range(_MH_N)
    )
    return (
        cand.join(sig_a.alias("x"), cand.da == F.col("x.doc_id"))
        .join(sig_b.alias("y"), cand.db == F.col("y.doc_id"))
        .where(matches >= _MH_MATCH_MIN)
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )


def mh_index_refresh(batch_sig: DataFrame, index_sig: DataFrame) -> DataFrame:
    """One index-refresh step: admit the batch rows that are neither exact
    (chash) nor near (banded-signature) duplicates of the PERSISTED index
    or of a lower-id doc in the same batch. Reads only signatures — never
    index text. batch_sig is localCheckpoint'ed: it feeds four joins and
    would otherwise re-run the 32-min aggregation per consumer (executor
    block storage, O(batch) doc-grain rows — the CC-frontier pattern)."""
    bs = batch_sig.localCheckpoint()
    rej_exact_idx = bs.join(
        index_sig.select("chash"), "chash", "left_semi"
    ).select("doc_id")
    rej_exact_batch = (
        bs.alias("x")
        .join(
            bs.alias("y"),
            (F.col("x.chash") == F.col("y.chash"))
            & (F.col("y.doc_id") < F.col("x.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_id"))
    )
    rejected = (
        rej_exact_idx.union(rej_exact_batch)
        .union(_mh_near_hits(index_sig, bs, within=False))
        .union(_mh_near_hits(bs, bs, within=True))
        .distinct()
    )
    return bs.join(rejected, "doc_id", "left_anti")


def mh_refresh_frame(spark: SparkSession, sf_dir: str, epoch: int) -> DataFrame:
    """The admitted-rows DataFrame for refresh epoch 1 or 2, reading the
    PERSISTED index parquet — exposed so tests can pin the incremental
    plan property (exactly one documents scan: the batch; index text is
    never re-shingled)."""
    d = table(spark, sf_dir, "documents")
    prev = _mh_index_versions(spark, sf_dir, upto=epoch - 1)[epoch - 1]
    batch_sig = _mh_sig_table(d.where(F.col("doc_id") % 3 == epoch))
    return mh_index_refresh(batch_sig, read_parquet(spark, prev)).withColumn(
        "epoch", F.lit(epoch).cast("int")
    )


def _mh_index_versions(
    spark: SparkSession, sf_dir: str, upto: int = 2
) -> list[str]:
    """Materialize (once per sf_dir+code version) the persisted index
    versions 0..upto: v0 = history build, v1 = v0 + admitted batch1, v2 =
    v1 + admitted batch2. Returns their paths; each write is skipped when
    its _SUCCESS sentinel exists (the sink-fixture idempotence pattern)."""
    from data_pipeline_aws_spark import caches

    d = table(spark, sf_dir, "documents")
    cols = ["doc_id", "epoch", "chash"] + [f"mh{i}" for i in range(_MH_N)]
    # Every version is built in a staging dir and published
    # atomically (caches.materialize) — a concurrent same-version session
    # can never interleave part files into a half-written index (the
    # persisted layout IS the oracle-compared output, so a corrupted cache
    # would fail parity on every warm run until the code hash moved).
    paths: list[str] = []
    for k in range(upto + 1):

        def build(stage: str) -> None:
            sig = _mh_sig_table(d.where(F.col("doc_id") % 3 == k))
            if k == 0:
                index = sig.withColumn("epoch", F.lit(0).cast("int")).select(cols)
            else:
                prev = read_parquet(spark, paths[k - 1])
                adm = mh_index_refresh(sig, prev).withColumn("epoch", F.lit(k).cast("int"))
                index = prev.unionByName(adm.select(cols))
            index.write.mode("overwrite").parquet(stage)

        final = caches.versioned_cache_dir(f"mh_index_v{k}", sf_dir, __file__)
        paths.append(caches.materialize(final, build))
    return paths


# The ONE DuckDB replay of the md5-seeded portable signatures (mh/sig/bands),
# shared verbatim by the index-maintenance and sketch-audit oracles so both
# grade against the SAME sketch definition Spark persists. sig's ep/chash
# columns serve the incremental op; consumers that don't need them ignore
# them. Oracles auditing a sub-corpus (q_dedup_eval_sampled) pass that CTE
# name as ``src`` — the sketch definition itself never forks.
def _mh_sig_ctes(src: str = "documents") -> str:
    return f"""seeds(i, a, b) AS (VALUES {_MH_SEED_VALUES}),
shh AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM shd
),
mh AS (
  SELECT doc_id, s.i AS seed, MIN((s.a * h + s.b) % {_MH_P}) AS v
  FROM shh, seeds s
  GROUP BY doc_id, s.i
),
sig AS (
  SELECT d.doc_id, CAST(d.doc_id % 3 AS INT) AS ep, md5(d.text) AS chash,
         list(mh.v ORDER BY mh.seed) AS mhs
  FROM {src} d LEFT JOIN mh ON d.doc_id = mh.doc_id
  GROUP BY d.doc_id, d.text
),
bands AS (
  SELECT doc_id, ep, b.b AS band, mhs[2*b.b + 1] AS s1, mhs[2*b.b + 2] AS s2
  FROM sig, range(16) b(b)
)"""


_MH_SIG_CTES = _mh_sig_ctes()

_MH_INCR_ORACLE = f"""
WITH {_SHINGLE_CTES},
{_MH_SIG_CTES},
cand1 AS (
  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.s1 = y.s1 AND x.s2 = y.s2
  WHERE y.ep = 1 AND (x.ep = 0 OR (x.ep = 1 AND x.doc_id < y.doc_id))
),
rej1 AS (
  SELECT DISTINCT b.doc_id FROM sig b JOIN sig h ON b.chash = h.chash
   WHERE b.ep = 1 AND (h.ep = 0 OR (h.ep = 1 AND h.doc_id < b.doc_id))
  UNION
  SELECT DISTINCT c.db AS doc_id
  FROM cand1 c JOIN sig a ON a.doc_id = c.da JOIN sig b ON b.doc_id = c.db
  WHERE len(list_filter(range(1, 33), i -> a.mhs[i] = b.mhs[i])) >= 16
),
idx1 AS (
  SELECT doc_id FROM sig WHERE ep = 0
  UNION ALL
  SELECT doc_id FROM sig
  WHERE ep = 1 AND doc_id NOT IN (SELECT doc_id FROM rej1)
),
cand2 AS (
  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.s1 = y.s1 AND x.s2 = y.s2
  WHERE y.ep = 2
    AND ((x.ep <= 1 AND x.doc_id IN (SELECT doc_id FROM idx1))
         OR (x.ep = 2 AND x.doc_id < y.doc_id))
),
rej2 AS (
  SELECT DISTINCT b.doc_id FROM sig b JOIN sig h ON b.chash = h.chash
   WHERE b.ep = 2
     AND ((h.ep <= 1 AND h.doc_id IN (SELECT doc_id FROM idx1))
          OR (h.ep = 2 AND h.doc_id < b.doc_id))
  UNION
  SELECT DISTINCT c.db AS doc_id
  FROM cand2 c JOIN sig a ON a.doc_id = c.da JOIN sig b ON b.doc_id = c.db
  WHERE len(list_filter(range(1, 33), i -> a.mhs[i] = b.mhs[i])) >= 16
),
final AS (
  SELECT doc_id FROM idx1
  UNION ALL
  SELECT doc_id FROM sig
  WHERE ep = 2 AND doc_id NOT IN (SELECT doc_id FROM rej2)
)
SELECT s.doc_id, s.ep AS epoch,
       md5(COALESCE(array_to_string(s.mhs, ','), '')) AS sig_check
FROM sig s JOIN final f ON s.doc_id = f.doc_id
"""
# MATERIALIZED hints, applied to THIS oracle's composed string only (the
# shared _SHINGLE_CTES/_mh_sig_ctes definitions stay hint-free — the rest
# of the family passed sf1.0 without them and benefits from pushdown):
# sig/bands feed two candidate stages and two reject stages, and without
# the hint DuckDB re-inlines the whole shingle→minhash pipeline at every
# reference — at sf1.0 the re-expanded tree blew a 40 GB spill budget and
# OOM'd; materialized, the same oracle runs in ~8 s.
for _cte in (
    "shd AS (", "shh AS (", "mh AS (", "sig AS (", "bands AS (",
    "cand1 AS (", "rej1 AS (", "idx1 AS (", "cand2 AS (", "rej2 AS (",
):
    _MH_INCR_ORACLE = _MH_INCR_ORACLE.replace(
        _cte, _cte.replace("AS (", "AS MATERIALIZED (")
    )
# COALESCE on sig_check: a shingle-less doc's mhs is [NULL], and DuckDB's
# array_to_string([NULL]) is NULL while Spark's concat_ws over all-NULL
# columns is '' (md5('') both engines after the coalesce) — verified
# divergence, latent on the >=10-token fixtures but the NULL-signature
# path is a documented contract (and the Python replay agrees with Spark).


@query("q_dedup_minhash_incremental", oracle=_MH_INCR_ORACLE)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH index MAINTENANCE — the persisted-signature refresh that
    completes q_dedup_incremental's story. That operator recomputes both
    sides' sketches from text every run; this one maintains a PERSISTED doc-grain
    signature index (doc_id, epoch, chash, mh0..mh31 — ~280 B/doc) across
    two refresh epochs: v0 = history build (doc_id%3==0, signatures computed
    ONCE), v1 = v0 + admitted batch1 (%3==1), v2 = v1 + admitted batch2
    (%3==2). Each refresh reads ONLY the previous index version's parquet —
    history text is never re-shingled (plan-pinned via mh_refresh_frame) —
    computes signatures for the arriving batch alone, and admits a batch doc
    iff it has no exact (chash) or near (>=16 of 32 minhashes agreeing ⇔
    estimated Jaccard >= 0.5) duplicate in the index or in a lower-id doc of
    its own batch (keep-lowest, single-pass, no transitive chaining — the
    deterministic rule the oracle replays).

    Near-candidates come only from 16x2 band-bucket collisions on the
    signature columns — index×batch never materializes, and the verify step
    is signature arithmetic (32 integer compares in-row), NOT a text re-read:
    at 100 TB the refresh touches O(batch) text + O(index) signature bytes.
    Minhashes are linear permutations (a_i·h + b_i) mod p of ONE md5 digest
    per shingle (h = high 32 bits of md5(shingle) — the Broder
    construction), so the returned index — including a sig_check digest
    over the persisted signature values themselves — is byte-replayable in
    DuckDB: a FULL hash oracle over the sketch content, not just over
    admission decisions."""
    v2 = _mh_index_versions(spark, sf_dir)[2]
    idx = read_parquet(spark, v2)
    return idx.select(
        "doc_id",
        "epoch",
        F.md5(
            F.encode(
                F.concat_ws(",", *[F.col(f"mh{i}") for i in range(_MH_N)]), "UTF-8"
            )
        ).alias("sig_check"),
    )


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (doc_id, simhash) — shared by
    q_dedup_simhash and the banding-completeness property test, so the test
    verifies the exact signatures the operator banded. Token bits come
    from the first 32 bits of md5(token) — byte-identical in every engine
    (unlike Spark-private murmur3, which this replaced in round 5), which
    is what lets the operator carry a full hash oracle."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    th = F.conv(
        F.substring(F.md5(F.encode("token", "UTF-8")), 1, 8), 16, 10
    ).cast("long")
    # All 32 bit-votes in ONE aggregation pass (32 parallel sum columns),
    # mirroring the minhash one-pass form: the bits-table cross-join
    # alternative explodes every token 32× through the shuffle, and map-side
    # partial aggregation here collapses the shuffle to O(docs) regardless of
    # token count. Votes are term-frequency weighted, same as before.
    votes = tok.select("doc_id", th.alias("th")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("th", i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(32)
        ]
    )
    bit_terms = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(32)
    ]
    simhash_col = bit_terms[0]
    for term in bit_terms[1:]:
        simhash_col = simhash_col + term
    return votes.select("doc_id", simhash_col.alias("simhash"))


@query(
    "q_dedup_simhash",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
th AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS h
  FROM tok
),
votes AS (
  SELECT doc_id, b.i,
         SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN range(32) b(i)
  GROUP BY doc_id, b.i
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, b.i AS byte_idx, (simhash >> (8 * b.i)) & 255 AS byte_val
  FROM sig CROSS JOIN range(4) b(i)
)
SELECT DISTINCT d1, d2, hamming FROM (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(bit_count(xor(a.simhash, b.simhash) & 4294967295) AS INT) AS hamming
  FROM bands a JOIN bands b
    ON a.byte_idx = b.byte_idx AND a.byte_val = b.byte_val
   AND a.doc_id < b.doc_id
) WHERE hamming <= 3
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup: 32-bit signatures from token hashes, pairs at
    hamming distance ≤ 3 found via pigeonhole banding (a pair within distance
    3 must agree exactly on ≥ 1 of the 4 signature bytes), then exact hamming
    verification — exact w.r.t. the signature without a |docs|² cross-join.
    Fully hash-verified since round 5: md5-derived token bits (see
    simhash_signatures) let the DuckDB oracle regrow the identical
    bit-votes, signatures, bands, and hamming distances. The oracle pays
    the tokens×32 vote expansion the Spark side deliberately avoids (its
    32 vote sums ride ONE aggregation pass) — acceptable replay cost,
    wrong production shape.
    """
    sig = simhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("byte_idx"),
                    F.shiftright("simhash", 8 * i).bitwiseAND(255).alias("byte_val"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", "b.byte_idx", "b.byte_val")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).bitwiseAND(F.lit(0xFFFFFFFF))
    )
    return (
        a.join(
            b,
            (F.col("a.byte_idx") == F.col("b.byte_idx"))
            & (F.col("a.byte_val") == F.col("b.byte_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .distinct()
    )


_COSINE_BLOCK_TARGET = 8192  # rows per matmul block — cos cell ≤ 8k² x 8 B ≈ 0.5 GB


def _cosine_block_count(n_rows: int, *, floor: int) -> int:
    """Block count for the blocked exact-cosine matmul, sized from the
    CORPUS (round-12 sf10 lesson: a fixed B made each block-pair's dense
    cosine matrix O((N/B)^2) — ~25 GB per task at sf10, OOM — where the
    right invariant is O(target^2) PER TASK at every SF, with the task
    count growing as B^2 to carry the declared O(N^2) audit cost in
    bounded pieces). Floored at the fixture-scale default so small-SF
    plans keep their shape; the sizing count() is one column-pruned scan
    of an id column."""
    return max(floor, -(-n_rows // _COSINE_BLOCK_TARGET))


@query(
    "q_dedup_embed",
    oracle="""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.4
""",
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (≥ 0.4 on this corpus — no
    planted semantic dups, so the threshold sits in the distribution tail).

    Exact all-pairs via BLOCKED MATRIX MULTIPLY: vectors are hashed into B
    blocks, every block-pair (i ≤ j) becomes one `applyInPandas` group, and
    each group computes a dense numpy float64 matmul (BLAS) instead of a
    per-pair interpreted dot product. Replication factor is ~B (each vector
    joins B block-pairs) but every flop runs vectorized, and the B² tasks
    scale out linearly across executors — the standard distributed
    brute-force layout. The sketch-pruned alternative (prune first, then
    exact-verify) is `q_sim_lsh` in similarity.py.
    """
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_blocks = _cosine_block_count(e.count(), floor=8)
    blocked = e.withColumn("bid", F.pmod(F.hash("vec_id"), F.lit(n_blocks)))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    # Side A carries blocks matching bi, side B matching bj; bi == bj groups
    # self-pair within the block (the v1 < v2 filter dedups).
    side_a = blocked.join(F.broadcast(pairs), F.col("bid") == F.col("bi")).select(
        "bi", "bj", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    side_b = blocked.join(F.broadcast(pairs), F.col("bid") == F.col("bj")).select(
        "bi", "bj", F.lit(1).alias("side"), "vec_id", "embedding"
    )

    def block_cosine(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty or right.empty:
            return pd.DataFrame({"v1": [], "v2": [], "cos_sim": []}).astype(
                {"v1": "int64", "v2": "int64", "cos_sim": "float64"}
            )
        ma = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        mb = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        ids_a = left["vec_id"].to_numpy()
        ids_b = right["vec_id"].to_numpy()
        dots = ma @ mb.T
        cos = np.round(dots / np.outer(np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1)), 6)
        if left["bi"].iat[0] == left["bj"].iat[0]:
            # Same block on both sides: each unordered pair appears twice —
            # keep the id-ordered one.
            ia, ib = np.nonzero((cos >= 0.4) & (ids_a[:, None] < ids_b[None, :]))
            v1, v2 = ids_a[ia], ids_b[ib]
        else:
            # Disjoint blocks: every pair appears exactly once, in arbitrary
            # id order — normalize to (low, high).
            ia, ib = np.nonzero(cos >= 0.4)
            v1 = np.minimum(ids_a[ia], ids_b[ib])
            v2 = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame({"v1": v1, "v2": v2, "cos_sim": cos[ia, ib]})

    return (
        side_a.unionByName(side_b)
        .groupBy("bi", "bj")
        .applyInPandas(block_cosine, "v1 long, v2 long, cos_sim double")
    )


@query(
    "q_dedup_exact_docs",
    oracle="""
SELECT doc_id, lang, source, content_hash
FROM (
  SELECT doc_id, lang, source,
         md5(text) AS content_hash,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over the document corpus: hash the text, keep the
    lowest doc_id per hash — the first rung of the dedup ladder for training
    data. Grouping by the 128-bit digest instead of the raw text keeps the
    shuffle key 16 bytes regardless of document size (the difference between
    shuffling hashes and shuffling a 100 TB corpus)."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.col("text"), "UTF-8"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        d.select("doc_id", "lang", "source", h.alias("content_hash"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "content_hash")
    )


# Shared by q_dedup_clusters and q_cc_doubling: both compute the same
# components (min-doc_id representative over the exact Jaccard>=0.5 pair
# graph) by different distributed algorithms, so they share one oracle.
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' '))                   AS token,
         generate_subscripts(string_split(text, ' '), 1)   AS pos
  FROM documents
),
sh AS (
  SELECT doc_id,
         token || ' ' || LEAD(token, 1) OVER w || ' ' || LEAD(token, 2) OVER w AS shingle
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT d1, d2
  FROM inter
  JOIN cnt ca ON d1 = ca.doc_id
  JOIN cnt cb ON d2 = cb.doc_id
  WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach AS (
  SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT e.src AS node, reach.r FROM edges e JOIN reach ON e.dst = reach.node
)
SELECT d.doc_id,
       COALESCE(comp.rep, d.doc_id)                 AS cluster_rep,
       d.doc_id <> COALESCE(comp.rep, d.doc_id)     AS is_dup
FROM documents d
LEFT JOIN (SELECT node, MIN(r) AS rep FROM reach GROUP BY node) comp
       ON comp.node = d.doc_id
"""


def propagate_min_labels(edges: DataFrame, jump: bool) -> tuple[DataFrame, int]:
    """Min-label propagation to fixpoint over an (src, dst) edge relation,
    returning (labels, rounds). With ``jump=False`` each round takes the min
    over neighbors only (O(diameter) rounds); with ``jump=True`` it also
    takes P(P(v)) — pointer jumping — doubling label travel per round
    (O(log diameter)). tests/test_properties.py pins the round counts on a
    synthetic chain; both operators below share this loop."""
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    ).localCheckpoint()
    rounds = 0
    while True:
        rounds += 1
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("src", "node")
        )
        cur = labels.join(nbr, "node", "left")
        if jump:
            jmp = (
                labels.alias("x")
                .join(labels.alias("y"), F.col("x.label") == F.col("y.node"))
                .select(
                    F.col("x.node").alias("node"), F.col("y.label").alias("jlabel")
                )
            )
            cur = cur.join(jmp, "node", "left")
            new_label = F.least(
                F.col("label"),
                F.coalesce("nlabel", "label"),
                F.coalesce("jlabel", "label"),
            )
        else:
            new_label = F.least(F.col("label"), F.coalesce("nlabel", "label"))
        new_labels = cur.select("node", new_label.alias("label")).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels, rounds


@query("q_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: connected components over the near-dup
    pair graph (exact Jaccard ≥ 0.5), keep-lowest-doc_id representative per
    component — the transitive-closure step between pair detection and
    actually dropping rows (A~B, B~C must collapse to ONE kept doc even if
    A~C was never emitted).

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors'; converges in O(component diameter)
    rounds — near-dup clusters are shallow (pairs/chains), so 2-3 rounds in
    practice and the loop exits on a fixpoint count (a bounded scalar per
    round, not a data collect). `localCheckpoint` cuts the lineage each
    round so the plan doesn't grow with iterations — the standard Spark
    pattern for iterative graph algorithms at scale. The oracle computes the
    same components with a recursive-CTE transitive closure."""
    shh = shingle_fingerprints(spark, sf_dir)
    # LSH-candidate pruning before exact verification — same pairs as the
    # full inverted-index join w.p. 1-1e-12 (q_dedup_minhash's argument),
    # at O(candidates) verify cost; the recursive-CTE oracle recomputes the
    # exact pair graph from scratch and must agree.
    pairs = _exact_jaccard_pairs(shh, _lsh_candidates(shh)).select("d1", "d2")
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).toDF("src", "dst")
    labels, _ = propagate_min_labels(edges, jump=False)
    d = table(spark, sf_dir, "documents").select("doc_id")
    rep = F.coalesce(F.col("label"), F.col("doc_id"))
    # no broadcast hint: the labeled-node set scales with the dup-pair graph,
    # so let AQE pick broadcast vs shuffle from runtime stats
    return d.join(labels, d.doc_id == labels.node, "left").select(
        "doc_id",
        rep.alias("cluster_rep"),
        (F.col("doc_id") != rep).alias("is_dup"),
    )


# Multi-band hyperplane LSH for embedding near-dup. Threshold and band shape
# are coupled: at cos >= 0.85 (true near-duplicate territory) a pair agrees
# with a random hyperplane w.p. 1 - arccos(0.85)/pi ~ 0.823, so one 4-bit
# band matches w.p. 0.823^4 ~ 0.46 and SIXTEEN independent bands miss the
# pair w.p. (1-0.46)^16 ~ 5e-5 — effectively-certain recall, property-tested
# against planted duplicates. At the q_dedup_embed threshold of 0.4 no sketch
# can prune this corpus: measured on the fixture, per-plane agreement at cos
# 0.4-0.51 is ~0.65 (so any band count with usable recall admits ~all pairs
# as candidates), and triangle-inequality cluster pruning keeps 136/136
# cluster pairs (member-to-centroid radii ~85 deg on isotropic 64-d data) —
# brute force IS the honest 0.4 plan, and q_dedup_embed stays that baseline.
EMBED_LSH_THRESHOLD = 0.85
EMBED_LSH_PLANES = 64
EMBED_LSH_BAND_BITS = 4
# Band-shape boundary (round-13 sf-decade measurement, SCALE.md): with the
# EXACT-RECALL contract this key grades (oracle = the full exact threshold
# join, so banding may never miss a true pair), 16x4 banding is forced —
# at cos 0.85 a 4-bit band agrees w.p. 0.823^4=0.46, so 16 bands give
# ~99.995% per-pair recall, while any wider band (8x8: 85%, 4x16: 17%)
# breaks the contract. The price is that on an ISOTROPIC corpus a random
# pair band-collides somewhere w.p. 1-(1-2^-4)^16 ~ 0.64, so the band
# join evaluates Θ(N²) pairs by the screen's own definition — measured:
# 1.86 s (sf0.1) -> 77 s (sf1.0, slope 1.62); sf10 would be ~10^10 pair
# evaluations, same boundary as the q_embed_lsh_eval audit. This is a
# LOWER BOUND of the contract, not a tuning miss: exact recall at
# θ=0.85 on isotropic data is quadratic for any hyperplane banding (the
# alternative exact algorithms — APSS prefix filtering — prune on value
# skew the null corpus doesn't have). At 100 TB use the recall<1 rungs:
# q_semdedup (cluster-local pairs), q_sim_lsh (banded, recall measured),
# or the sampled audit; q_dedup_embed_lsh stays the exact screen for
# bounded corpora (per-epoch deltas, candidate re-checks).


def embed_near_dup_pairs(e: DataFrame, threshold: float = EMBED_LSH_THRESHOLD) -> DataFrame:
    """Sketch-first embedding near-dup over a (vec_id, e, nrm) relation:
    64 murmur3-derived hyperplane sign bits per vector, banded 16x4; only
    band-colliding pairs are cosine-verified. The band join moves 16 rows of
    ~12 bytes per vector — constant per item — and embeddings are re-joined
    only for the candidate set, so the corpus never rides the candidate
    shuffle.

    The vector math runs in numpy over Arrow batches (one matmul per batch
    for signatures, one row-wise einsum for verification): the interpreted
    zip_with/aggregate fold costs ~60 JVM lambda evaluations per dot and
    measured 3.85 s at sf0.1 vs ~0.6 s vectorized. The 64x64 +/-1 plane
    matrix is bounded model state, collected once from the same murmur3
    construction q_sim_lsh uses and closed over like a broadcast variable."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    dims = EMBED_LSH_PLANES  # hyperplane count == fixture embedding dims
    n_bands = EMBED_LSH_PLANES // EMBED_LSH_BAND_BITS
    plane_rows = (
        spark.range(EMBED_LSH_PLANES)
        .withColumnRenamed("id", "plane")
        .join(spark.range(dims).withColumnRenamed("id", "dim"))
        .select(
            "plane",
            "dim",
            F.when(F.hash("plane", "dim") % 2 == 0, F.lit(1.0))
            .otherwise(F.lit(-1.0))
            .alias("w"),
        )
        .collect()
    )
    planes = np.zeros((EMBED_LSH_PLANES, dims))
    for r in plane_rows:
        planes[r.plane, r.dim] = r.w
    band_weights = 1 << np.arange(EMBED_LSH_BAND_BITS)

    def sign_bands(batches):
        full_weights = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            bits = (mat @ planes.T >= 0).astype(np.int64)  # rows x 64
            sigs = bits.reshape(len(pdf), n_bands, EMBED_LSH_BAND_BITS) @ band_weights
            full = (bits.astype(np.uint64) * full_weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int32), len(pdf)),
                    "band_sig": sigs.reshape(-1),
                    "sig": full.repeat(n_bands),
                }
            )

    bands = e.select("vec_id", "e").mapInPandas(
        sign_bands, "vec_id long, band int, band_sig long, sig long"
    )
    a, b = bands.alias("a"), bands.alias("b")
    # Hamming pre-filter on the FULL 64-plane signature before the wide
    # embedding join: a cos>=0.85 pair differs on ~11 +/- 3 planes (binomial
    # n=64, p~0.18), so <=24 is a >4-sigma keep; background pairs on an
    # isotropic corpus differ on ~28-32 and mostly die here, shrinking the
    # pair relation that must carry 2x64 doubles for exact verification.
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (
                F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                <= F.lit(24)
            ),
        )
        .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
        .distinct()
    )
    e1 = e.select(F.col("vec_id").alias("v1"), F.col("e").alias("e1"), F.col("nrm").alias("n1"))
    e2 = e.select(F.col("vec_id").alias("v2"), F.col("e").alias("e2"), F.col("nrm").alias("n2"))

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m1 = np.stack(pdf["e1"].to_numpy()).astype(np.float64)
            m2 = np.stack(pdf["e2"].to_numpy()).astype(np.float64)
            cos = np.round(
                np.einsum("ij,ij->i", m1, m2)
                / (pdf["n1"].to_numpy() * pdf["n2"].to_numpy()),
                6,
            )
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "v1": pdf["v1"].to_numpy()[keep],
                    "v2": pdf["v2"].to_numpy()[keep],
                    "cos_sim": cos[keep],
                }
            )

    return (
        cands.join(e1, "v1")
        .join(e2, "v2")
        .select("v1", "v2", "e1", "e2", "n1", "n2")
        .mapInPandas(verify, "v1 long, v2 long, cos_sim double")
    )


@query(
    "q_dedup_embed_lsh",
    oracle=f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= {EMBED_LSH_THRESHOLD}
""",
)
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs at cos >= 0.85 via multi-band
    hyperplane LSH + exact verification — the sketch-pruned scale rung above
    `q_dedup_embed`'s exact blocked matmul (which remains the verification
    baseline and the honest plan for loose thresholds; see the band-shape
    note above EMBED_LSH_THRESHOLD for the measured why).

    Oracle is the full exact threshold join, so the driver hash checks BOTH
    directions on the fixture: no invented pairs (this corpus has no pairs
    >= 0.85, and ~80% of pairs band-collide somewhere on isotropic data —
    the exact verify must kill every one) and no missed pairs (recall is
    property-tested against planted duplicates in tests/test_properties.py,
    where brute force is replayed in numpy)."""
    from data_pipeline_aws_spark.operators.similarity import _normed

    return embed_near_dup_pairs(_normed(spark, sf_dir).select("vec_id", "e", "nrm"))


SUBSTR_GRAM = 8  # token width of the repeated-span unit (Lee et al. 2022 style)


@query(
    "q_dedup_substring",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
),
g AS (
  SELECT d.doc_id, t.i AS pos,
         md5(array_to_string(d.toks[t.i : t.i + {SUBSTR_GRAM - 1}], ' ')) AS gram
  FROM d, LATERAL unnest(generate_series(1, greatest(d.n_tok - {SUBSTR_GRAM - 1}, 0))) t(i)
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1
),
cover AS (
  SELECT DISTINCT g.doc_id, c.p
  FROM g JOIN dup USING (gram),
       LATERAL unnest(generate_series(g.pos, g.pos + {SUBSTR_GRAM - 1})) c(p)
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS covered_tok FROM cover GROUP BY 1
)
SELECT d.doc_id,
       CAST(d.n_tok AS BIGINT) AS n_tok,
       CAST(GREATEST(d.n_tok - {SUBSTR_GRAM - 1}, 0) AS BIGINT) AS n_grams,
       COALESCE(p.covered_tok, 0) AS covered_tok,
       ROUND(COALESCE(p.covered_tok, 0) * 1.0 / d.n_tok, 6) AS dup_frac
FROM d LEFT JOIN per_doc p USING (doc_id)
""",
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring accounting (the span-level sibling of
    doc-level dedup, after Lee et al. 2022 'Deduplicating Training Data
    Makes Language Models Better'): every 8-token span that occurs more
    than once ANYWHERE in the corpus marks its tokens as duplicated;
    each document reports how much of it is covered by repeated spans —
    the signal a pipeline uses to cut boilerplate spans (not whole docs).

    Plan: gram construction is map-only in-row JVM array work (slice +
    md5 per start position — the corpus shuffles 16-byte digests, never
    text); the duplicate-gram set comes from ONE partial-aggregated
    groupBy on the digest; coverage explodes each duplicated gram into
    its ≤8 positions and distinct-counts per doc — fan-out bounded by
    8×|dup positions|, output by |docs|. A true suffix-array pass (exact
    maximal repeats, not fixed grams) is the letter of the paper; the
    fixed-gram form is the standard distributed approximation and is
    exact for spans ≥ the gram width.

    At 100 TB: all three shuffles carry digests or (doc, int) pairs;
    nothing re-reads text after the first scan."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    # Digest choice is engine-local: the duplicated-gram set is derived
    # independently on each side, so Spark can use xxhash64 (8-byte shuffle
    # key, ~4x smaller than md5 hex and cheaper to compute) while the DuckDB
    # oracle keeps md5 — the outputs agree as long as neither digest
    # collides (~250k grams vs 2^64: negligible).
    gram_arr = F.when(
        F.col("n_tok") >= SUBSTR_GRAM,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tok") - (SUBSTR_GRAM - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i, SUBSTR_GRAM))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = d.select("doc_id", F.posexplode(gram_arr).alias("pos0", "gram")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "gram"
    )
    dup = g.groupBy("gram").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") > 1)
    cover = (
        g.join(dup.select("gram"), "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SUBSTR_GRAM - 1))
            ).alias("p"),
        )
        .distinct()
    )
    per_doc = cover.groupBy("doc_id").agg(F.count(F.lit(1)).alias("covered_tok"))
    return (
        d.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.greatest(F.col("n_tok") - (SUBSTR_GRAM - 1), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
            F.coalesce("covered_tok", F.lit(0)).alias("covered_tok"),
            F.round(
                F.coalesce("covered_tok", F.lit(0)) / F.col("n_tok"), 6
            ).alias("dup_frac"),
        )
    )


@query("q_cc_doubling", oracle=_CLUSTERS_ORACLE)
def q_cc_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-label propagation WITH pointer jumping —
    the O(log diameter) alternative to q_dedup_clusters' plain propagation
    (O(diameter)). Same pair graph, same min-doc_id representatives, same
    oracle; different convergence mechanics:

    each round computes P(v) ← min( P(v), P(P(v)), min_{u∈N(v)} P(u) ):
    the neighbor term walks labels one hop like plain propagation, while
    the P(P(v)) pointer-jump DOUBLES the distance already-walked labels
    travel — so a chain of length d converges in ~log₂(d) rounds instead
    of d. On shallow near-dup clusters both run 2-3 rounds; on
    pathological chains (linked crawls, quote threads) the difference is
    30 rounds vs ~5 at d=10⁹... this is why production CC (GraphX,
    Kiveris et al.'s large-star/small-star) is built on the jump.

    Monotone + component-closed: labels only decrease and only to labels
    from the same component, so the fixpoint is the component minimum —
    the oracle's recursive-CTE closure checks exactly that. Per round:
    one self-join on the label table (the jump), one edge join (the
    neighbor min), `localCheckpoint` to cut lineage; convergence is a
    bounded changed-count scalar."""
    shh = shingle_fingerprints(spark, sf_dir)
    pairs = _exact_jaccard_pairs(shh, _lsh_candidates(shh)).select("d1", "d2")
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).toDF("src", "dst")
    labels, _ = propagate_min_labels(edges, jump=True)
    d = table(spark, sf_dir, "documents").select("doc_id")
    rep = F.coalesce(F.col("label"), F.col("doc_id"))
    return d.join(labels, d.doc_id == labels.node, "left").select(
        "doc_id",
        rep.alias("cluster_rep"),
        (F.col("doc_id") != rep).alias("is_dup"),
    )


# --- Fuzzy entity matching + survivorship (shared blocking pipeline) ------
# One definition of the candidate pair graph: q_survivorship's clusters are
# the closure of EXACTLY q_fuzzy_match's pairs, so threshold/block-key tuning
# cannot desynchronize them (Spark helpers and SQL fragments both shared).

_FUZZY_MAX_DIST = 3

_FUZZY_NAMES_SQL = """
  SELECT p_name,
         string_split(p_name, ' ')[-1] AS block_key,
         CAST(COUNT(*) AS BIGINT)      AS n_parts
  FROM part GROUP BY p_name
"""

_FUZZY_PAIRS_SQL = f"""
  SELECT a.p_name AS d1, b.p_name AS d2,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
  FROM names a JOIN names b
    ON a.block_key = b.block_key AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
"""


def _fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-name grain with block key and part count — the blocking
    universe for the fuzzy-match family."""
    return (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            "p_name",
            F.element_at(F.split("p_name", " "), -1).alias("block_key"),
            "n_parts",
        )
    )


def _fuzzy_pairs(names: DataFrame) -> DataFrame:
    """(d1, d2, edit_dist) candidate pairs: block equi-join, then the
    Levenshtein verify ONLY inside blocks — never all-pairs."""
    a = names.select(F.col("p_name").alias("d1"), F.col("block_key").alias("bk"))
    b = names.select(F.col("p_name").alias("d2"), F.col("block_key").alias("bk"))
    return (
        a.join(b, "bk")
        .where(F.col("d1") < F.col("d2"))
        .where(F.levenshtein("d1", "d2") <= _FUZZY_MAX_DIST)
        .select(
            "d1",
            "d2",
            F.levenshtein("d1", "d2").cast("long").alias("edit_dist"),
        )
    )


@query(
    "q_fuzzy_match",
    oracle=f"""
WITH names AS ({_FUZZY_NAMES_SQL}),
pairs AS ({_FUZZY_PAIRS_SQL})
SELECT p.d1 AS name_a,
       p.d2 AS name_b,
       p.edit_dist,
       na.n_parts AS n_parts_a,
       nb.n_parts AS n_parts_b
FROM pairs p
JOIN names na ON p.d1 = na.p_name
JOIN names nb ON p.d2 = nb.p_name
""",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching (edit-distance similarity join): pairs of
    part names within Levenshtein distance ≤ 3, candidate-generated by
    BLOCKING on the head noun (last word) — the entity-resolution verb
    for catalog/vendor-name reconciliation, and the string-grain sibling
    of the dedup family (shingles→MinHash for documents, blocking→edit
    distance for short entity strings).

    The scale shape is the blocking: names collapse to DISTINCT-name
    grain first (name-cardinality, not row-cardinality — 64 names for
    2000 parts here), and the quadratic Levenshtein verify runs only
    INSIDE blocks, never all-pairs; at extreme name counts the block key
    graduates to phonetic/q-gram keys with a length filter (|len_a −
    len_b| ≤ 3 prunes before the O(len²) distance), exactly like
    q_dedup_prefix's length filter. Distances are exact integers — no
    float boundary anywhere. The pair pipeline is shared verbatim with
    q_survivorship (one definition, no drift)."""
    names = _fuzzy_names(spark, sf_dir)
    pairs = _fuzzy_pairs(names)
    na = names.select(F.col("p_name").alias("d1"), F.col("n_parts").alias("n_parts_a"))
    nb = names.select(F.col("p_name").alias("d2"), F.col("n_parts").alias("n_parts_b"))
    return (
        pairs.join(na, "d1")
        .join(nb, "d2")
        .select(
            F.col("d1").alias("name_a"),
            F.col("d2").alias("name_b"),
            "edit_dist",
            "n_parts_a",
            "n_parts_b",
        )
    )


@query(
    "q_survivorship",
    oracle=f"""
WITH RECURSIVE names AS ({_FUZZY_NAMES_SQL}),
pairs AS ({_FUZZY_PAIRS_SQL}),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach AS (
  SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT e.src AS node, reach.r FROM edges e JOIN reach ON e.dst = reach.node
),
comp AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node),
members AS (
  SELECT COALESCE(c.rep, n.p_name) AS cluster_rep, n.p_name, n.n_parts
  FROM names n LEFT JOIN comp c ON c.node = n.p_name
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY cluster_rep
                            ORDER BY n_parts DESC, p_name) AS rn
  FROM members
)
SELECT cluster_rep,
       MIN(CASE WHEN rn = 1 THEN p_name END)        AS survivor_name,
       CAST(COUNT(*) AS BIGINT)                     AS n_members,
       CAST(SUM(n_parts) AS BIGINT)                 AS total_parts
FROM ranked
GROUP BY cluster_rep
""",
)
def q_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — entity resolution's second half: take
    q_fuzzy_match's edit-distance pair graph (the SAME shared pipeline,
    not a copy), close it into entity clusters (min-label propagation,
    the q_dedup_clusters machinery), then elect one survivor per cluster
    by rule (most parts, then lexicographic) and report cluster
    size/coverage — the MDM verb that turns "these names look alike"
    into "this is the canonical record".

    Same scale shape as its parents: blocking bounds pair generation at
    distinct-name grain, propagation is O(cluster diameter) rounds over
    a name-grain edge list, survivor election is one rank window on the
    member table. Rules compare exact integers with a string tiebreak —
    no float in any election."""
    names = _fuzzy_names(spark, sf_dir)
    pairs = _fuzzy_pairs(names).select("d1", "d2")
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).toDF("src", "dst")
    labels, _ = propagate_min_labels(edges, jump=False)
    members = names.join(labels, names.p_name == labels.node, "left").select(
        F.coalesce(F.col("label"), F.col("p_name")).alias("cluster_rep"),
        "p_name",
        "n_parts",
    )
    rn = F.row_number().over(
        Window.partitionBy("cluster_rep").orderBy(F.desc("n_parts"), F.asc("p_name"))
    )
    ranked = members.withColumn("rn", rn)
    return ranked.groupBy("cluster_rep").agg(
        F.min(F.when(F.col("rn") == 1, F.col("p_name"))).alias("survivor_name"),
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_parts").alias("total_parts"),
    )


# --- Sketch-quality audit: LSH candidates vs exact ground truth -----------
# Shares _shingle_ctes (the one shingle definition) and _mh_sig_ctes (the
# one sketch definition) so the audit grades the SAME sketch the
# incremental index persists; sig's ep/chash columns are unused here.
# Parameterized by the corpus relation so the sampled-stratum mode audits
# a sub-corpus through the IDENTICAL confusion pipeline.
def _mh_eval_confusion_ctes(src: str = "documents") -> str:
    return f"""{_shingle_ctes(src)},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT d1, d2 FROM inter
  JOIN cnt ca ON d1 = ca.doc_id
  JOIN cnt cb ON d2 = cb.doc_id
  WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= 0.5
),
{_mh_sig_ctes(src)},
cand AS (
  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.s1 = y.s1 AND x.s2 = y.s2
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT c.d1, c.d2,
         len(list_filter(range(1, 33), i -> a.mhs[i] = b.mhs[i])) >= 16 AS acc
  FROM cand c JOIN sig a ON a.doc_id = c.d1 JOIN sig b ON b.doc_id = c.d2
),
cells AS (
  SELECT t.d1 IS NOT NULL AS is_true,
         e.d1 IS NOT NULL AS is_cand,
         COALESCE(e.acc, FALSE) AS acc
  FROM est e FULL JOIN truth t ON e.d1 = t.d1 AND e.d2 = t.d2
),
counts AS (
  SELECT CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN is_true AND is_cand AND acc THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true_caught_accepted,
         CAST(SUM(CASE WHEN is_true AND is_cand AND NOT acc THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true_caught_rejected,
         CAST(SUM(CASE WHEN is_true AND NOT is_cand THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true_missed,
         CAST(SUM(CASE WHEN NOT is_true AND acc THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_accepted,
         CAST(SUM(CASE WHEN NOT is_true AND is_cand AND NOT acc THEN 1 ELSE 0
              END) AS BIGINT) AS n_false_rejected
  FROM cells
)"""


_MH_EVAL_RATIOS_SQL = """
       ROUND(n_true_caught_accepted * 1.0 / NULLIF(n_true, 0), 6) AS recall,
       ROUND(n_true_caught_accepted * 1.0
             / NULLIF(n_true_caught_accepted + n_false_accepted, 0), 6)
         AS precision"""

_MH_EVAL_ORACLE = f"""
WITH {_mh_eval_confusion_ctes()}
SELECT *,{_MH_EVAL_RATIOS_SQL}
FROM counts
"""


@query("q_dedup_eval", oracle=_MH_EVAL_ORACLE)
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit — grade the MinHash-LSH sketch against exact
    shingle-Jaccard ground truth BEFORE trusting it at scale. q_dedup_minhash
    verifies its candidates exactly, so its OUTPUT can't reveal sketch error;
    what needs measuring is the candidate/estimate stage itself: recall (did
    every true J>=0.5 pair band-collide and pass the 16-of-32 screen?),
    precision (how many accepted pairs are below threshold?), and the wasted-
    verify rate (candidates the screen correctly rejects). One confusion row:
    n_true / caught-accepted / caught-rejected / missed / false-accepted /
    false-rejected + recall/precision.

    Built from the two established rails: exact truth = the shingle inverted-
    index join (q_dedup_ngram's baseline), sketch = the md5-seeded portable
    signatures of q_dedup_minhash_incremental (byte-replayable, so the oracle
    replays the ACTUAL sketch decisions, not a reimplementation). sig is
    localCheckpoint'ed — it feeds the band self-join and both estimate sides.

    At 100 TB the truth side is the quadratic-ish baseline, so production
    runs this audit on a sampled stratum (hash-mod of doc_id, the
    q_sample_stratified trick) and extrapolates — the sketch side's
    calibration is sample-invariant because banding probability depends only
    on pair similarity. That mode is RUNNABLE, not prose: q_dedup_eval_sampled
    below audits the hash-stratum sub-corpus through this exact pipeline and
    extrapolates the pair counts by 1/s²; the extrapolation envelope vs this
    full-truth row is property-tested at two SFs. The audit verb and its plan
    shape are what matter: banded candidate join (never all-pairs on the
    sketch side), in-row 32-compare screen, single bounded report row."""
    return _dedup_eval_report(
        table(spark, sf_dir, "documents", spread_scan=True)
    )


def _mh_band_candidates(sig: DataFrame) -> DataFrame:
    """Distinct (d1, d2) candidate pairs from the 16x2 band self-join —
    the one LSH candidate-generation definition the eval family shares."""
    band = _mh_band_rows(sig).alias("a")
    bandb = _mh_band_rows(sig).alias("b")
    return (
        band.join(
            bandb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.s1") == F.col("b.s1"))
            & (F.col("a.s2") == F.col("b.s2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def _dedup_eval_report(docs: DataFrame) -> DataFrame:
    """The confusion pipeline under q_dedup_eval / q_dedup_eval_sampled:
    sketch candidates + screen decisions vs exact shingle-Jaccard truth over
    the given corpus relation, one bounded report row."""
    sig = _mh_sig_table(docs).localCheckpoint()
    cand = _mh_band_candidates(sig)
    matches = sum(
        F.when(F.col(f"x.mh{i}") == F.col(f"y.mh{i}"), 1).otherwise(0)
        for i in range(_MH_N)
    )
    est = (
        cand.join(sig.alias("x"), cand.d1 == F.col("x.doc_id"))
        .join(sig.alias("y"), cand.d2 == F.col("y.doc_id"))
        .select("d1", "d2", (matches >= _MH_MATCH_MIN).alias("acc"))
    )
    # the truth side's fingerprint relation feeds three consumers (per-doc
    # counts + both inverted-index join sides): checkpoint the 12 B/shingle
    # rows once instead of re-scanning and re-shingling text per consumer
    shh = docs.select("doc_id", F.explode(_shingle_array()).alias("shingle")).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    truth = _exact_jaccard_pairs(shh.localCheckpoint()).select(
        "d1", "d2", F.lit(True).alias("is_true")
    )
    cells = (
        est.withColumnsRenamed({"d1": "e1", "d2": "e2"})
        .join(
            truth,
            (F.col("e1") == F.col("d1")) & (F.col("e2") == F.col("d2")),
            "full",
        )
        .select(
            F.coalesce("is_true", F.lit(False)).alias("is_true"),
            F.col("e1").isNotNull().alias("is_cand"),
            F.coalesce("acc", F.lit(False)).alias("acc"),
        )
    )
    it, ic, acc = F.col("is_true"), F.col("is_cand"), F.col("acc")
    n = lambda c, name: F.sum(F.when(c, 1).otherwise(0)).alias(name)  # noqa: E731
    counts = cells.agg(
        n(it, "n_true"),
        n(it & ic & acc, "n_true_caught_accepted"),
        n(it & ic & ~acc, "n_true_caught_rejected"),
        n(it & ~ic, "n_true_missed"),
        n(~it & acc, "n_false_accepted"),
        n(~it & ic & ~acc, "n_false_rejected"),
    )
    # ratios derive from the emitted counts in a post-agg select (1 row),
    # so the predicate definitions live in exactly one place; accepted
    # total = caught_accepted + false_accepted because acc ⇒ is_cand
    tca = F.col("n_true_caught_accepted")
    return counts.select(
        "*",
        F.round(tca * 1.0 / F.nullif(F.col("n_true"), F.lit(0)), 6).alias(
            "recall"
        ),
        F.round(
            tca * 1.0 / F.nullif(tca + F.col("n_false_accepted"), F.lit(0)), 6
        ).alias("precision"),
    )


# Sampled-stratum truth mode: the production way to run the audit at 100 TB.
# Doc stratum = the q_sample_stratified multiplicative-hash trick (same
# constant — one sampling definition repo-wide); a truth/candidate pair
# survives iff BOTH endpoints land in the stratum, so pair counts scale by
# s² and the extrapolation multiplier is (100/pct)².
EVAL_SAMPLE_PCT = 50  # doc-stratum keep rate (s = 0.5 → pair rate 0.25)
_EVAL_PAIR_MULT = (100 // EVAL_SAMPLE_PCT) ** 2
_EVAL_COUNT_COLS = (
    "n_true",
    "n_true_caught_accepted",
    "n_true_caught_rejected",
    "n_true_missed",
    "n_false_accepted",
    "n_false_rejected",
)

_MH_EVAL_SAMPLED_ORACLE = f"""
WITH sdocs AS (
  SELECT * FROM documents WHERE {stratum_bucket_sql("doc_id")} < {EVAL_SAMPLE_PCT}
),
{_mh_eval_confusion_ctes("sdocs")}
SELECT *,
       CAST({EVAL_SAMPLE_PCT} AS INT) AS sample_pct,
       {", ".join(f"CAST({c} * {_EVAL_PAIR_MULT} AS BIGINT) AS est_{c}" for c in _EVAL_COUNT_COLS)},{_MH_EVAL_RATIOS_SQL}
FROM counts
"""


@query("q_dedup_eval_sampled", oracle=_MH_EVAL_SAMPLED_ORACLE)
def q_dedup_eval_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_eval's 100-TB mode, executable: audit the sketch on a
    deterministic hash stratum of the corpus (EVAL_SAMPLE_PCT% of docs,
    the q_sample_stratified multiplicative-hash predicate — pushed to the
    scan) and EXTRAPOLATE the confusion counts to full-corpus estimates
    (est_* columns, pair counts × 1/s² since a pair survives iff both
    endpoints are sampled). recall/precision are emitted unextrapolated —
    they are ratio estimators, sample-invariant because band-collision
    probability depends only on pair similarity, never on corpus size.

    Why this is sound at 100 TB: the truth side's quadratic-ish exact
    Jaccard now runs over s² of the pair population (s=0.5 here; 0.01 in
    production is the same one-constant change), while the sketch's
    calibration transfers to the full corpus unchanged. The extrapolation
    envelope vs the full-truth row is property-tested at sf0.001 and
    sf0.01 (tests/test_properties.py) — the estimator's variance, not just
    its formula, is pinned to committed evidence."""
    docs = table(spark, sf_dir, "documents", spread_scan=True).where(
        stratum_bucket(F.col("doc_id")) < EVAL_SAMPLE_PCT
    )
    report = _dedup_eval_report(docs)
    return report.select(
        *_EVAL_COUNT_COLS,
        F.lit(EVAL_SAMPLE_PCT).cast("int").alias("sample_pct"),
        *[
            (F.col(c) * _EVAL_PAIR_MULT).cast("long").alias(f"est_{c}")
            for c in _EVAL_COUNT_COLS
        ],
        "recall",
        "precision",
    )


def _lsh_tune_sql(sampled: bool = False) -> str:
    """S-curve calibration oracle, over the full corpus or (sampled=True)
    over the EVAL_SAMPLE_PCT doc stratum with est_* extrapolations — the
    same one-SQL-definition-two-modes shape as the dedup-eval trio."""
    src = "sdocs" if sampled else "documents"
    head = (
        f"sdocs AS (SELECT * FROM documents"
        f" WHERE {stratum_bucket_sql('doc_id')} < {EVAL_SAMPLE_PCT}),\n"
        if sampled
        else ""
    )
    est = (
        f"""CAST({EVAL_SAMPLE_PCT} AS INT) AS sample_pct,
       CAST(n_pairs * {_EVAL_PAIR_MULT} AS BIGINT) AS est_n_pairs,
       CAST(n_cand * {_EVAL_PAIR_MULT} AS BIGINT) AS est_n_cand,
       """
        if sampled
        else ""
    )
    return f"""
WITH {head}{_shingle_ctes(src)},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pj AS (
  SELECT d1, d2, n_common, ca.n + cb.n - n_common AS n_union
  FROM inter
  JOIN cnt ca ON d1 = ca.doc_id
  JOIN cnt cb ON d2 = cb.doc_id
),
{_mh_sig_ctes(src)},
cand AS (
  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.s1 = y.s1 AND x.s2 = y.s2
  WHERE x.doc_id < y.doc_id
),
bucketed AS (
  SELECT LEAST((p.n_common * 10) // p.n_union, 9) AS bucket,
         c.d1 IS NOT NULL AS is_cand
  FROM pj p LEFT JOIN cand c ON p.d1 = c.d1 AND p.d2 = c.d2
),
agg AS (
  SELECT CAST(bucket AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand
  FROM bucketed GROUP BY bucket
),
mid AS (SELECT *, (2 * bucket + 1) / 20.0 AS s FROM agg),
p1 AS (SELECT *, 1.0 - s * s AS t1 FROM mid),
p2 AS (SELECT *, t1 * t1 AS t2 FROM p1),
p4 AS (SELECT *, t2 * t2 AS t4 FROM p2),
p8 AS (SELECT *, t4 * t4 AS t8 FROM p4)
SELECT bucket, n_pairs, n_cand,
       {est}ROUND(n_cand * 1.0 / n_pairs, 6) AS emp_rate,
       ROUND(1.0 - t8 * t8, 6) AS analytic_rate
FROM p8
"""


def _lsh_tune_report(docs: DataFrame, shh: DataFrame) -> DataFrame:
    """Shared S-curve machinery: exact-Jaccard decile buckets of ALL
    shared-shingle pairs (threshold 0 — the declared calibration cost)
    LEFT-joined against the broadcast banded candidate set, with the
    analytic 1-(1-s²)^16 curve by repeated squaring. Both tune modes run
    exactly this plan; only the docs/shh relations differ (full corpus vs
    pushed hash stratum)."""
    sig = _mh_sig_table(docs).localCheckpoint()
    cand = _mh_band_candidates(sig).withColumnsRenamed({"d1": "c1", "d2": "c2"})
    pairs = _exact_jaccard_pairs(
        shh.localCheckpoint(), threshold=0.0, with_union=True
    )
    bucketed = (
        pairs.select(
            F.expr("LEAST((n_common * 10) DIV n_union, 9)").alias("bucket"),
            "d1",
            "d2",
        )
        .join(
            # the candidate set is near-dup-pair-sized (banding exists to
            # keep it tiny relative to ALL shared-shingle pairs): broadcast
            # it so the big truth side never shuffles for this join
            F.broadcast(cand),
            (F.col("d1") == F.col("c1")) & (F.col("d2") == F.col("c2")),
            "left",
        )
        .select("bucket", F.col("c1").isNotNull().alias("is_cand"))
    )
    agg = bucketed.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0)).alias("n_cand"),
    )
    s = (2 * F.col("bucket") + 1) / 20.0
    out = agg.withColumn("s", s).withColumn("t1", 1.0 - F.col("s") * F.col("s"))
    for a, b in (("t2", "t1"), ("t4", "t2"), ("t8", "t4")):
        out = out.withColumn(a, F.col(b) * F.col(b))
    return out.select(
        "bucket",
        "n_pairs",
        "n_cand",
        F.round(F.col("n_cand") * 1.0 / F.col("n_pairs"), 6).alias("emp_rate"),
        F.round(1.0 - F.col("t8") * F.col("t8"), 6).alias("analytic_rate"),
    )


@query("q_lsh_tune", oracle=_lsh_tune_sql())
def q_lsh_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve calibration — the tuning table behind every
    (bands, rows) choice (Leskovec-Rajaraman-Ullman ch. 3): bucket all
    shared-shingle pairs by exact Jaccard decile and report, per bucket,
    the EMPIRICAL band-collision rate of the production 16x2 MinHash
    banding next to the ANALYTIC curve 1-(1-s^2)^16 at the bucket
    midpoint. This is how an operator decides whether the deployed
    banding's knee sits at the dedup threshold before re-signaturing a
    100 TB corpus — and the empirical column exposes what the formula
    can't: the linear-permutation scheme's deviation from ideal uniform
    minhashing on the corpus's real similarity mass.

    Determinism: buckets come from INTEGER arithmetic ((n_common*10) div
    n_union — exact rational floor, no float boundary), and the analytic
    curve is evaluated by repeated squaring (t=1-s*s; t16=(((t^2)^2)^2)^2)
    so both engines do the identical IEEE multiply sequence — no libm pow
    divergence. Scale shape: truth side IS the declared exact-audit cost
    (the q_dedup_eval class; q_lsh_tune_sampled below is its runnable
    production mode); sketch side reuses the banded candidate join
    (_mh_band_candidates, never all-pairs); the report is <= 10 rows of
    partial-agg counts. The shingle relation comes from the shared
    shingle_fingerprints helper — the same truth-side definition the
    whole dedup family audits against."""
    docs = table(spark, sf_dir, "documents", spread_scan=True)
    return _lsh_tune_report(docs, shingle_fingerprints(spark, sf_dir))


@query("q_lsh_tune_sampled", oracle=_lsh_tune_sql(sampled=True))
def q_lsh_tune_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_lsh_tune's 100-TB mode, executable: calibrate the S-curve on the
    deterministic EVAL_SAMPLE_PCT% doc stratum (the q_sample_stratified
    width-safe hash predicate — pushed to both the truth-side and
    sketch-side scans) and EXTRAPOLATE the per-decile pair counts to
    full-corpus estimates (est_n_pairs/est_n_cand × 1/s², since a pair
    survives iff both endpoints are sampled). emp_rate and analytic_rate
    are emitted unextrapolated — band-collision probability depends only
    on pair similarity, so the ratio transfers to the full corpus
    unchanged; that transfer is property-tested per decile against the
    full-truth table at two SFs (binomial envelope).

    This turns the single most expensive key in the repo into a knob: the
    exact threshold-0 Jaccard truth side — quadratic-ish in shared-shingle
    pairs — runs over s² of the pair population (s=0.5 here; 0.01 in
    production is the same one-constant change), while the banded
    candidate set it grades shrinks by the same factor."""
    stratum = stratum_bucket(F.col("doc_id")) < EVAL_SAMPLE_PCT
    docs = table(spark, sf_dir, "documents", spread_scan=True).where(stratum)
    shh = shingle_fingerprints(spark, sf_dir).where(stratum)
    rep = _lsh_tune_report(docs, shh)
    return rep.select(
        "bucket",
        "n_pairs",
        "n_cand",
        F.lit(EVAL_SAMPLE_PCT).cast("int").alias("sample_pct"),
        (F.col("n_pairs") * _EVAL_PAIR_MULT).cast("long").alias("est_n_pairs"),
        (F.col("n_cand") * _EVAL_PAIR_MULT).cast("long").alias("est_n_cand"),
        "emp_rate",
        "analytic_rate",
    )


ONION_WIDTH = 5  # span grams: wider than the 3-token Jaccard shingles, so
ONION_DUP_FRACTION = 0.5  # only real cross-doc span reuse trips the gate


@query(
    "q_dedup_onion",
    oracle=f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' '))                 AS token,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
g AS (
  SELECT doc_id,
         token || ' ' || LEAD(token, 1) OVER w || ' ' || LEAD(token, 2) OVER w
               || ' ' || LEAD(token, 3) OVER w || ' ' || LEAD(token, 4) OVER w AS gram
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
occ AS (SELECT doc_id, gram FROM g WHERE gram IS NOT NULL),
nd AS (SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM occ GROUP BY gram)
SELECT o.doc_id,
       CAST(COUNT(*) AS BIGINT)                                       AS n_grams,
       CAST(SUM(CASE WHEN nd.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       SUM(CASE WHEN nd.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS dup_fraction,
       SUM(CASE WHEN nd.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
           < {ONION_DUP_FRACTION}                                      AS keep
FROM occ o JOIN nd USING (gram)
GROUP BY o.doc_id
""",
)
def q_dedup_onion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONION-style per-document duplicated-span scoring: the fraction of a
    doc's 5-token-gram OCCURRENCES whose gram appears in >= 2 distinct
    documents, gating docs past ONION_DUP_FRACTION. Unlike the pairwise
    rungs above (which link SIMILAR doc pairs), onion scores each doc
    against the WHOLE corpus — the production gate for boilerplate and
    template farms where no single pair is near-identical but every
    paragraph is recycled somewhere (Pomikalek's onion, the dedup used for
    several public LM corpora).

    Scale shape: gram occurrences are built in-row (zip_with over the
    token array and its shift slices — the shingles() argument, zero
    shuffles to generate); the corpus-wide gram->doc-count table groups on
    the 8-byte xxhash64 fingerprint, never the raw 5-token string (the
    shingle_fingerprints trade: join/shuffle currency stays fixed-width
    however wide the gram); the occurrence->status join is gram-keyed
    (inverted-index shape, O(tokens) not O(docs^2)); the per-doc rollup is
    one partial-aggregated exchange. Three shuffles total, all on bounded-
    width keys, nothing driver-side — the 100 TB shape.

    Accepted oracle asymmetry (same trade as shingle_fingerprints): Spark
    groups gram doc-counts on the 64-bit xxhash64 FINGERPRINT while the
    oracle groups on the raw 5-token gram STRING, so a 64-bit collision
    between two distinct grams would merge their doc-counts on the Spark
    side only. At 100 TB (~10^12 grams) birthday-bound collisions are
    ~3%-of-one-gram-pair territory per 10^6 grams squared — negligible for
    a 0.5-threshold gate, and the fingerprint is what makes the shuffle
    currency fixed-width; a property test pins hash-vs-string agreement on
    the test corpus (tests/test_properties.py::test_onion_fingerprint_
    grouping_matches_string_grouping)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.greatest(F.size(toks) - F.lit(ONION_WIDTH - 1), F.lit(0))
    arr = F.slice(toks, 1, n)
    for k in range(2, ONION_WIDTH + 1):
        arr = F.zip_with(arr, F.slice(toks, k, n), lambda a, b: F.concat_ws(" ", a, b))
    occ = d.select("doc_id", F.explode(arr).alias("gram")).select(
        "doc_id", F.xxhash64("gram").alias("h")
    )
    nd = (
        occ.distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per = (
        occ.join(nd, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias("n_dup_grams"),
        )
    )
    dup_frac = F.col("n_dup_grams") * 1.0 / F.col("n_grams")
    return per.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        dup_frac.alias("dup_fraction"),
        (dup_frac < ONION_DUP_FRACTION).alias("keep"),
    )


# --- embed-LSH screen audit (planted-dup strata) -------------------------
# q_dedup_embed_lsh's exact-verify output can't reveal screen error (missed
# candidates never reach the verifier). This eval grades the SCREEN: plant
# a stratified twin for every 8th vector with per-stratum relative noise
# chosen to straddle the 0.85 operating threshold (cos ~ 1/sqrt(1+a^2)):
ELSH_EVAL_ALPHAS = (0.2, 0.5, 1.0, 3.0)  # cos ~ 0.98 / 0.89 / 0.71 / 0.32
ELSH_EVAL_STRIDE = 8  # originals with vec_id % 8 == 0 get a twin
ELSH_EVAL_OFFSET = 1_000_000  # twin vec_id = original + OFFSET
ELSH_EVAL_HAMMING = 24  # the operator's own full-signature acceptance gate

def _elsh_eval_ctes(src_where: str = "") -> str:
    """The embed-LSH audit's DuckDB pipeline up to the per-stratum counts,
    parameterized by an optional predicate on the original vectors — the
    sampled-stratum mode injects its hash-stratum filter there and the
    twins/planes/signatures/truth replay is shared verbatim."""
    return f"""orig AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings{src_where}),
tw AS (
  SELECT vec_id + {ELSH_EVAL_OFFSET} AS vec_id,
         list_transform(range(0, 64), d -> e[d + 1] * (1 + a *
           CASE WHEN CAST(concat('0x', substr(md5(concat(vec_id, ':', d)), 1, 4))
                     AS INTEGER) % 2 = 0 THEN 1.0 ELSE -1.0 END)) AS e
  FROM (
    SELECT vec_id, e,
           CASE CAST((vec_id // {ELSH_EVAL_STRIDE}) % 4 AS INT)
                WHEN 0 THEN {ELSH_EVAL_ALPHAS[0]} WHEN 1 THEN {ELSH_EVAL_ALPHAS[1]}
                WHEN 2 THEN {ELSH_EVAL_ALPHAS[2]} ELSE {ELSH_EVAL_ALPHAS[3]} END AS a
    FROM orig WHERE vec_id % {ELSH_EVAL_STRIDE} = 0
  )
),
aug AS (SELECT * FROM orig UNION ALL SELECT * FROM tw),
planes AS (
  SELECT p, list_transform(range(0, 64), d ->
           CASE WHEN CAST(concat('0x', substr(md5(concat('ep:', p, ':', d)), 1, 4))
                     AS INTEGER) % 2 = 0 THEN 1.0 ELSE -1.0 END)::DOUBLE[] AS pv
  FROM range(64) t(p)
),
bits AS (
  SELECT vec_id, p,
         CASE WHEN ROUND(list_dot_product(e, pv), 6) >= 0 THEN 1 ELSE 0 END AS bit
  FROM aug CROSS JOIN planes
),
sig AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN p < 32 THEN bit::BIGINT << p ELSE 0 END) AS BIGINT) AS lo,
         CAST(SUM(CASE WHEN p >= 32 THEN bit::BIGINT << (p - 32) ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY vec_id
),
bands AS (
  SELECT vec_id, p // 4 AS band,
         CAST(SUM(bit::BIGINT << (p % 4)) AS BIGINT) AS band_sig
  FROM bits GROUP BY vec_id, p // 4
),
cand AS (
  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.band_sig = y.band_sig AND x.vec_id < y.vec_id
  JOIN sig sa ON sa.vec_id = x.vec_id
  JOIN sig sb ON sb.vec_id = y.vec_id
  WHERE bit_count(xor(sa.lo, sb.lo)) + bit_count(xor(sa.hi, sb.hi))
        <= {ELSH_EVAL_HAMMING}
),
nr AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nm FROM aug),
truth AS (
  SELECT v1, v2 FROM (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           ROUND(list_dot_product(a.e, b.e) / (a.nm * b.nm), 6) AS cs
    FROM nr a JOIN nr b ON a.vec_id < b.vec_id
  ) WHERE cs >= {EMBED_LSH_THRESHOLD}
),
planted AS (
  SELECT vec_id AS v1, vec_id + {ELSH_EVAL_OFFSET} AS v2,
         CAST((vec_id // {ELSH_EVAL_STRIDE}) % 4 AS INT) AS stratum
  FROM orig WHERE vec_id % {ELSH_EVAL_STRIDE} = 0
),
uni AS (
  SELECT v1, v2 FROM planted
  UNION SELECT v1, v2 FROM truth
  UNION SELECT v1, v2 FROM cand
),
cells AS (
  SELECT COALESCE(p.stratum, -1) AS stratum,
         t.v1 IS NOT NULL AS is_true,
         c.v1 IS NOT NULL AS is_acc
  FROM uni u
  LEFT JOIN planted p ON u.v1 = p.v1 AND u.v2 = p.v2
  LEFT JOIN truth t ON u.v1 = t.v1 AND u.v2 = t.v2
  LEFT JOIN cand c ON u.v1 = c.v1 AND u.v2 = c.v2
),
counts AS (
  SELECT stratum,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN is_true AND is_acc THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_accepted,
         CAST(SUM(CASE WHEN is_true AND NOT is_acc THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_missed,
         CAST(SUM(CASE WHEN NOT is_true AND is_acc THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_accepted
  FROM cells GROUP BY stratum
)"""


_ELSH_EVAL_ORACLE = f"""
WITH {_elsh_eval_ctes()}
SELECT *, ROUND(n_true_accepted * 1.0 / NULLIF(n_true, 0), 6) AS recall
FROM counts
"""


@query("q_embed_lsh_eval", oracle=_ELSH_EVAL_ORACLE)
def q_embed_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit for the embedding-LSH rung — the q_dedup_eval
    symmetry partner. q_dedup_embed_lsh exact-verifies its candidates, so
    its OUTPUT can't reveal screen error; this key grades the candidate
    screen itself (16-band x 4-bit hyperplane collision + full-signature
    hamming <= 24) against exact-cosine truth on PLANTED near-duplicate
    strata: every 8th vector gets a twin with per-element relative noise
    e_i*(1 + alpha*s_i) (md5-parity signs s_i, so both engines grow
    byte-identical twins), alpha per stratum straddling the 0.85 threshold
    (cos ~ 0.98 / 0.89 / 0.71 / 0.32). One confusion row per stratum
    (n_pairs / n_true / accepted / missed / false-accepted / recall) plus
    stratum -1 for natural pairs — the wasted-verify volume the screen
    admits on an isotropic corpus.

    Unlike q_dedup_embed_lsh's murmur3 planes (Spark-private hash), the
    eval's planes are md5-parity derived (the q_sim_lsh construction), so
    the DuckDB oracle regrows the planes, signatures, band collisions and
    hamming gates and replays the ACTUAL screen decisions — a full hash
    oracle, not a bound verdict.

    Scale shape: signatures are one mapInPandas matmul pass (16 fixed-width
    band rows + two sig longs per vector — constant per item); candidates
    come only from the band equi-join with the in-join hamming prefilter
    (never all-pairs); exact truth is the blocked-matmul baseline — the
    declared audit cost, run on a sampled stratum + extrapolated at 100 TB
    exactly like q_dedup_eval's truth side (banding probability depends
    only on pair similarity, so the calibration is sample-invariant) —
    that sampled mode is the RUNNABLE q_embed_lsh_eval_sampled below."""
    return _elsh_eval_report(spark, _elsh_orig(spark, sf_dir))


def _elsh_orig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guarded original-vector relation under both embed-LSH audit
    keys. Planted twins live at vec_id + OFFSET; a real id at/above the
    offset would be misclassified as planted, silently corrupting every
    stratum row — fail loudly instead (lazy per-row guard, no extra
    action)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    return e.where(
        F.when(F.col("vec_id") < ELSH_EVAL_OFFSET, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("embed_lsh_eval: vec_id "),
                    F.col("vec_id").cast("string"),
                    F.lit(f" >= twin offset {ELSH_EVAL_OFFSET}; raise ELSH_EVAL_OFFSET"),
                )
            )
        )
    )


def _elsh_eval_report(spark: SparkSession, e: DataFrame) -> DataFrame:
    """The confusion pipeline under q_embed_lsh_eval(_sampled): plant the
    stratified twins over the given original vectors, sign/band/screen,
    blocked-matmul exact truth, one confusion row per stratum."""
    import numpy as np
    import pandas as pd

    n_planes, band_bits = EMBED_LSH_PLANES, EMBED_LSH_BAND_BITS
    n_bands = n_planes // band_bits
    stratum = ((F.col("vec_id") / ELSH_EVAL_STRIDE).cast("long") % 4).cast("int")
    alpha = (
        F.when(stratum == 0, F.lit(ELSH_EVAL_ALPHAS[0]))
        .when(stratum == 1, F.lit(ELSH_EVAL_ALPHAS[1]))
        .when(stratum == 2, F.lit(ELSH_EVAL_ALPHAS[2]))
        .otherwise(F.lit(ELSH_EVAL_ALPHAS[3]))
    )

    def sgn(i):  # +/-1 from md5("vec_id:i") parity — byte-identical in DuckDB
        src = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("vec_id").cast("string"), F.lit(":"), i.cast("string")
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        return F.when(src % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    # two-step select: Spark's lateral-column-alias rule would otherwise
    # bind sgn()'s F.col("vec_id") to the JUST-ALIASED offset id instead of
    # the input column (DuckDB binds the input — silent twin divergence)
    twins = (
        e.where(F.col("vec_id") % ELSH_EVAL_STRIDE == 0)
        .select(
            "vec_id",
            F.transform("e", lambda x, i: x * (1.0 + alpha * sgn(i))).alias("e"),
        )
        .select((F.col("vec_id") + ELSH_EVAL_OFFSET).alias("vec_id"), "e")
    )
    aug = e.unionByName(twins).localCheckpoint()

    # md5-parity planes (q_sim_lsh construction, 'ep' namespace): bounded
    # 64x64 model state, regenerable on any engine, collected once.
    sign_src = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("ep"), F.col("plane"), F.col("dim"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    plane_rows = (
        spark.range(n_planes)
        .withColumnRenamed("id", "plane")
        .join(spark.range(64).withColumnRenamed("id", "dim"))
        .select(
            "plane",
            "dim",
            F.when(sign_src % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("w"),
        )
        .collect()
    )
    planes = np.zeros((n_planes, 64))
    for r in plane_rows:
        planes[r.plane, r.dim] = r.w

    def sign_bands(batches):
        lo_w = 1 << np.arange(32, dtype=np.uint64)
        band_w = 1 << np.arange(band_bits, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            bits = (np.round(m @ planes.T, 6) >= 0).astype(np.int64)
            lo = (bits[:, :32].astype(np.uint64) * lo_w).sum(axis=1).astype(np.int64)
            hi = (bits[:, 32:].astype(np.uint64) * lo_w).sum(axis=1).astype(np.int64)
            band_sig = (bits.reshape(len(m), n_bands, band_bits) * band_w).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int64), len(m)),
                    "band_sig": band_sig.reshape(-1),
                    "lo": lo.repeat(n_bands),
                    "hi": hi.repeat(n_bands),
                }
            )

    bands = aug.mapInPandas(
        sign_bands, "vec_id long, band long, band_sig long, lo long, hi long"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (
                F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo")))
                + F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi")))
                <= F.lit(ELSH_EVAL_HAMMING)
            ),
        )
        .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
        .distinct()
        # cand feeds uni and the cells join: checkpoint so the band
        # self-join + signature mapInPandas run once, not per consumer
        .localCheckpoint(eager=False)
    )

    # exact truth: blocked matmul over the augmented corpus (the
    # q_dedup_embed layout — B^2 dense BLAS tasks, no interpreted dots);
    # B sized from the corpus so each cell's cos matrix stays ~constant
    # (aug is an eager localCheckpoint, so the sizing count is cheap)
    n_blocks = _cosine_block_count(aug.count(), floor=4)
    blocked = aug.withColumn("bid", F.pmod(F.hash("vec_id"), F.lit(n_blocks)))
    bpairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    side_a = blocked.join(F.broadcast(bpairs), F.col("bid") == F.col("bi")).select(
        "bi", "bj", F.lit(0).alias("side"), "vec_id", "e"
    )
    side_b = blocked.join(F.broadcast(bpairs), F.col("bid") == F.col("bj")).select(
        "bi", "bj", F.lit(1).alias("side"), "vec_id", "e"
    )

    def block_truth(pdf):
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty or right.empty:
            return pd.DataFrame({"v1": [], "v2": []}).astype(
                {"v1": "int64", "v2": "int64"}
            )
        ma = np.stack(left["e"].to_numpy()).astype(np.float64)
        mb = np.stack(right["e"].to_numpy()).astype(np.float64)
        ids_a = left["vec_id"].to_numpy()
        ids_b = right["vec_id"].to_numpy()
        cos = np.round(
            (ma @ mb.T)
            / np.outer(np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1)),
            6,
        )
        hit = cos >= EMBED_LSH_THRESHOLD
        if left["bi"].iat[0] == left["bj"].iat[0]:
            ia, ib = np.nonzero(hit & (ids_a[:, None] < ids_b[None, :]))
            v1, v2 = ids_a[ia], ids_b[ib]
        else:
            ia, ib = np.nonzero(hit)
            v1 = np.minimum(ids_a[ia], ids_b[ib])
            v2 = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame({"v1": v1, "v2": v2})

    # truth feeds TWO consumers (uni and the cells join); without the
    # checkpoint the O(N²/B) blocked matmuls — the declared audit cost and
    # the dominant stage of this key — would execute once per consumer
    # (ReuseExchange stops below the groupBy, not above the pandas stage).
    truth = (
        side_a.unionByName(side_b)
        .groupBy("bi", "bj")
        .applyInPandas(block_truth, "v1 long, v2 long")
        .withColumn("is_true", F.lit(True))
        .localCheckpoint(eager=False)
    )

    # derive the planted-pair list from the checkpointed aug's twin ids —
    # no parquet re-scan (plan-pinned single corpus read)
    planted = aug.where(F.col("vec_id") >= ELSH_EVAL_OFFSET).select(
        (F.col("vec_id") - ELSH_EVAL_OFFSET).alias("v1"),
        F.col("vec_id").alias("v2"),
        (((F.col("vec_id") - ELSH_EVAL_OFFSET) / ELSH_EVAL_STRIDE).cast("long") % 4)
        .cast("int")
        .alias("stratum"),
    )
    uni = (
        planted.select("v1", "v2")
        .union(truth.select("v1", "v2"))
        .union(cand.select("v1", "v2"))
        .distinct()
    )
    cells = (
        uni.join(planted, ["v1", "v2"], "left")
        .join(truth, ["v1", "v2"], "left")
        .join(cand.withColumn("is_acc", F.lit(True)), ["v1", "v2"], "left")
        .select(
            F.coalesce("stratum", F.lit(-1)).alias("stratum"),
            F.coalesce("is_true", F.lit(False)).alias("is_true"),
            F.coalesce("is_acc", F.lit(False)).alias("is_acc"),
        )
    )
    it, acc = F.col("is_true"), F.col("is_acc")
    cnt = lambda c, name: F.sum(F.when(c, 1).otherwise(0)).alias(name)  # noqa: E731
    counts = cells.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        cnt(it, "n_true"),
        cnt(it & acc, "n_true_accepted"),
        cnt(it & ~acc, "n_true_missed"),
        cnt(~it & acc, "n_false_accepted"),
    )
    return counts.select(
        "*",
        F.round(
            F.col("n_true_accepted") * 1.0 / F.nullif(F.col("n_true"), F.lit(0)), 6
        ).alias("recall"),
    )


# Sampled-stratum mode for the embed-LSH audit — same sampling constant as
# q_dedup_eval_sampled (one definition repo-wide). The stratum is drawn on
# ORIGINAL vectors, and twins exist iff their original is sampled, so a
# PLANTED pair survives at rate s (one sampled endpoint implies the other)
# while a NATURAL pair needs both endpoints: rate s². The extrapolation
# multiplier is therefore stratum-dependent: 1/s for strata 0..3, 1/s² for
# stratum -1.
ELSH_SAMPLE_PCT = 50
_ELSH_MULT_PLANTED = 100 // ELSH_SAMPLE_PCT
_ELSH_MULT_NATURAL = _ELSH_MULT_PLANTED**2
_ELSH_COUNT_COLS = (
    "n_pairs",
    "n_true",
    "n_true_accepted",
    "n_true_missed",
    "n_false_accepted",
)
_ELSH_MULT_SQL = (
    f"CASE WHEN stratum = -1 THEN {_ELSH_MULT_NATURAL} ELSE {_ELSH_MULT_PLANTED} END"
)

_ELSH_EVAL_SAMPLED_ORACLE = f"""
WITH {_elsh_eval_ctes(f" WHERE {stratum_bucket_sql('vec_id')} < {ELSH_SAMPLE_PCT}")}
SELECT *,
       CAST({ELSH_SAMPLE_PCT} AS INT) AS sample_pct,
       {", ".join(f"CAST({c} * {_ELSH_MULT_SQL} AS BIGINT) AS est_{c}" for c in _ELSH_COUNT_COLS)},
       ROUND(n_true_accepted * 1.0 / NULLIF(n_true, 0), 6) AS recall
FROM counts
"""


@query("q_embed_lsh_eval_sampled", oracle=_ELSH_EVAL_SAMPLED_ORACLE)
def q_embed_lsh_eval_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_embed_lsh_eval's 100-TB mode, executable — the q_dedup_eval_sampled
    pattern ported to the embedding audit: plant and screen only over a
    deterministic hash stratum of the ORIGINAL vectors (ELSH_SAMPLE_PCT%,
    the q_sample_stratified predicate, pushed to the scan) and extrapolate
    each stratum's counts to full-corpus estimates. The multiplier is
    stratum-aware: a planted pair's twin exists iff its original is sampled
    (rate s → est = count × 1/s), while a natural pair needs both
    endpoints sampled independently (rate s² → × 1/s²). Per-stratum recall
    stays unextrapolated — band-collision probability depends only on pair
    cosine, so the screen's calibration transfers to the full corpus
    unchanged; the binomial extrapolation envelope vs the full-truth rows
    is property-tested at two SFs."""
    sampled = _elsh_orig(spark, sf_dir).where(
        stratum_bucket(F.col("vec_id")) < ELSH_SAMPLE_PCT
    )
    report = _elsh_eval_report(spark, sampled)
    mult = (
        F.when(F.col("stratum") == -1, F.lit(_ELSH_MULT_NATURAL))
        .otherwise(F.lit(_ELSH_MULT_PLANTED))
    )
    return report.select(
        "stratum",
        *_ELSH_COUNT_COLS,
        F.lit(ELSH_SAMPLE_PCT).cast("int").alias("sample_pct"),
        *[(F.col(c) * mult).cast("long").alias(f"est_{c}") for c in _ELSH_COUNT_COLS],
        "recall",
    )


# --- containment (one-sided) near-dup ---------------------------------------
CONTAIN_THRESHOLD = 0.8  # max-side containment gate
CONTAIN_STRIDE = 41  # every 41st doc gets a planted half-length excerpt
CONTAIN_OFFSET = 10_000_000  # excerpt doc_id = source + OFFSET

_CONTAIN_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CONTAIN_OFFSET},
         array_to_string(list_slice(string_split(text, ' '), 1,
           CAST(ceil(len(string_split(text, ' ')) / 2.0) AS BIGINT)), ' ')
  FROM documents WHERE doc_id % {CONTAIN_STRIDE} = 0
),
{_shingle_ctes("aug")},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, n_common,
       ROUND(n_common * 1.0 / ca.n, 6) AS c1,
       ROUND(n_common * 1.0 / cb.n, 6) AS c2,
       ROUND(n_common * 1.0 / (ca.n + cb.n - n_common), 6) AS jaccard,
       n_common * 1.0 / (ca.n + cb.n - n_common) < {JACCARD_THRESHOLD}
         AS jaccard_missed
FROM inter
JOIN cnt ca ON d1 = ca.doc_id
JOIN cnt cb ON d2 = cb.doc_id
WHERE n_common * 1.0 / LEAST(ca.n, cb.n) >= {CONTAIN_THRESHOLD}
"""


@query("q_dedup_containment", oracle=_CONTAIN_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CONTAINMENT near-dup (Broder's containment coefficient
    |A∩B|/min(|A|,|B|) at 0.8): catches quote/excerpt/inclusion reuse —
    a short doc living inside a long one — which symmetric Jaccard
    structurally misses (a half-length excerpt of a 2x doc has J ~ 0.5-
    but containment 1.0). The corpus's natural duplicates are full
    copies, so the fixture plants the regime the operator exists for:
    every 41st document contributes a half-length excerpt twin (built
    in-row from its own token prefix, byte-identically in both engines),
    and the output's `jaccard_missed` column shows exactly which caught
    pairs the Jaccard rung would have dropped.

    Scale shape: the excerpt augmentation is map-only (slice on the
    token array); everything after is the established shingle rails —
    distinct-shingle counts, one inverted-index equi-join on the shingle
    (O(tokens), never doc x doc), count joins without broadcast hints
    (per-doc counts scale with the corpus; AQE promotes when small). The
    production screen for containment at 100 TB is the same banded
    MinHash front (band on the SHORTER side's signature) + this exact
    verify on candidates — the q_dedup_minhash split, unchanged."""
    d = table(spark, sf_dir, "documents")
    # Excerpt ids live at doc_id + OFFSET; a real doc_id at/above the
    # offset would be misclassified as a planted excerpt. Fail loudly
    # (lazy per-row guard — no extra action):
    d = d.where(
        F.when(F.col("doc_id") < CONTAIN_OFFSET, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("q_dedup_containment: doc_id "),
                    F.col("doc_id").cast("string"),
                    F.lit(f" >= excerpt offset {CONTAIN_OFFSET}; raise CONTAIN_OFFSET"),
                )
            )
        )
    )
    toks = F.split("text", " ")
    excerpt = F.concat_ws(
        " ", F.slice(toks, 1, F.ceil(F.size(toks) / 2.0).cast("int"))
    )
    aug = d.select("doc_id", "text").unionByName(
        d.where(F.col("doc_id") % CONTAIN_STRIDE == 0).select(
            (F.col("doc_id") + CONTAIN_OFFSET).alias("doc_id"),
            excerpt.alias("text"),
        )
    )
    # _shingle_array dedupes IN-ROW (array_distinct), so the exploded rows
    # are already distinct per doc — no distinct shuffle needed here
    shd = (
        aug.select("doc_id", F.explode(_shingle_array()).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .localCheckpoint()  # feeds counts + both inverted-index sides
    )
    cnt = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shd.alias("a"), shd.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    j = F.col("n_common") * 1.0 / (F.col("ca.n") + F.col("cb.n") - F.col("n_common"))
    return (
        inter.join(cnt.alias("ca"), F.col("d1") == F.col("ca.doc_id"))
        .join(cnt.alias("cb"), F.col("d2") == F.col("cb.doc_id"))
        .where(
            F.col("n_common") * 1.0 / F.least(F.col("ca.n"), F.col("cb.n"))
            >= CONTAIN_THRESHOLD
        )
        .select(
            "d1",
            "d2",
            "n_common",
            F.round(F.col("n_common") * 1.0 / F.col("ca.n"), 6).alias("c1"),
            F.round(F.col("n_common") * 1.0 / F.col("cb.n"), 6).alias("c2"),
            F.round(j, 6).alias("jaccard"),
            (j < JACCARD_THRESHOLD).alias("jaccard_missed"),
        )
    )


@query(
    "q_dup_source_matrix",
    oracle=f"""
WITH pairs AS ({_SHINGLE_SQL}),
m AS (
  SELECT LEAST(a.source, b.source)    AS src1,
         GREATEST(a.source, b.source) AS src2
  FROM pairs p
  JOIN documents a ON p.d1 = a.doc_id
  JOIN documents b ON p.d2 = b.doc_id
)
SELECT src1, src2,
       CAST(COUNT(*) AS BIGINT)                            AS n_pairs,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6)    AS pct_of_pairs
FROM m GROUP BY src1, src2
""",
)
def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the corpus-forensics table behind
    'how much of source X is copied from source Y' (the CommonCrawl-vs-C4
    overlap matrices in corpus audits): every verified near-dup pair
    (J >= 0.5) attributed to its unordered (source, source) cell, with
    each cell's share of all duplicate pairs. Off-diagonal mass means
    cross-source contamination (mirrors, scrapes of scrapes); diagonal
    mass means within-source redundancy — they demand different fixes,
    which is why the matrix, not a scalar dup-rate, is the audit.

    Scale shape: pairs come from the banded MinHash path with exact
    verification (q_dedup_minhash's rails — never all-pairs; the oracle
    is the exact inverted-index truth, the same recall-1-at-threshold
    contract that key pins); source attribution is two joins against the
    (doc_id, source) projection keyed on doc ids; the output matrix is
    bounded by |sources|^2 rows, so the share's global window runs over
    a metadata-sized relation."""
    shh = shingle_fingerprints(spark, sf_dir)
    pairs = _exact_jaccard_pairs(shh, _lsh_candidates(shh)).select("d1", "d2")
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    m = (
        pairs.join(
            docs.withColumnsRenamed({"doc_id": "d1", "source": "s1"}), "d1"
        )
        .join(docs.withColumnsRenamed({"doc_id": "d2", "source": "s2"}), "d2")
        .select(
            F.least("s1", "s2").alias("src1"),
            F.greatest("s1", "s2").alias("src2"),
        )
    )
    counts = m.groupBy("src1", "src2").agg(F.count(F.lit(1)).alias("n_pairs"))
    return counts.select(
        "src1",
        "src2",
        "n_pairs",
        F.round(
            F.col("n_pairs") * 1.0 / F.sum("n_pairs").over(Window.partitionBy()),
            6,
        ).alias("pct_of_pairs"),
    )


# The audited split IS the shipped split: both sides come from the single
# definition in functions/curation.py (width-safe stratum bucket — see
# stratum_bucket's contract there for why the key is masked to 31 bits).
from data_pipeline_aws_spark.functions.curation import (  # noqa: E402
    split_assign,
    split_assign_sql,
    stratum_bucket,
    stratum_bucket_sql,
)

_SPLIT_CASE_SQL = split_assign_sql("doc_id")
_KFOLD_K = 5  # rotation folds; fold id = width-safe bucket mod K


@query(
    "q_split_leakage",
    oracle=f"""
WITH pairs AS ({_SHINGLE_SQL}),
assigned AS (
  SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM documents
),
m AS (
  SELECT LEAST(a.split, b.split)    AS split1,
         GREATEST(a.split, b.split) AS split2
  FROM pairs p
  JOIN assigned a ON p.d1 = a.doc_id
  JOIN assigned b ON p.d2 = b.doc_id
)
SELECT split1, split2,
       CAST(COUNT(*) AS BIGINT)                         AS n_pairs,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS pct_of_pairs,
       split1 <> split2                                 AS is_leak
FROM m GROUP BY split1, split2
""",
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split leakage audit — the hygiene check q_decontaminate
    can't do: decontamination guards against an EXTERNAL benchmark, but a
    near-duplicate pair STRADDLING the pipeline's own train/val/test
    boundary leaks the eval answer into training even when every doc is
    in-corpus. One row per unordered (split, split) cell of the verified
    near-dup pairs (J >= 0.5), with the cell's share and an is_leak flag
    on every cross-split cell — the number that decides whether the split
    must be re-keyed by CLUSTER (near-dup groups assigned as units) rather
    than by document.

    Uses q_train_split's exact hash-split definition (same Knuth bucket —
    the split audited here IS the split that key ships) and
    q_dedup_minhash's banded-candidates + exact-verify rails (never
    all-pairs; the oracle is the exact inverted-index truth under the
    recall-1-at-threshold contract). The matrix is bounded at 6 cells, so
    the share's global window runs over metadata-sized rows."""
    shh = shingle_fingerprints(spark, sf_dir)
    pairs = _exact_jaccard_pairs(shh, _lsh_candidates(shh)).select("d1", "d2")
    assigned = table(spark, sf_dir, "documents").select(
        "doc_id",
        split_assign(F.col("doc_id")).alias("split"),
    )
    m = (
        pairs.join(
            assigned.withColumnsRenamed({"doc_id": "d1", "split": "sp1"}), "d1"
        )
        .join(assigned.withColumnsRenamed({"doc_id": "d2", "split": "sp2"}), "d2")
        .select(
            F.least("sp1", "sp2").alias("split1"),
            F.greatest("sp1", "sp2").alias("split2"),
        )
    )
    counts = m.groupBy("split1", "split2").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return counts.select(
        "split1",
        "split2",
        "n_pairs",
        F.round(
            F.col("n_pairs") * 1.0 / F.sum("n_pairs").over(Window.partitionBy()),
            6,
        ).alias("pct_of_pairs"),
        (F.col("split1") != F.col("split2")).alias("is_leak"),
    )


@query(
    "q_kfold",
    oracle=f"""
WITH pairs AS ({_SHINGLE_SQL}),
folded AS (
  SELECT doc_id,
         {stratum_bucket_sql("doc_id", _KFOLD_K)} AS fold,
         len(string_split(text, ' '))             AS n_tok
  FROM documents
),
cells AS (
  SELECT LEAST(a.fold, b.fold)    AS f1,
         GREATEST(a.fold, b.fold) AS f2,
         COUNT(*)                 AS n
  FROM pairs p
  JOIN folded a ON p.d1 = a.doc_id
  JOIN folded b ON p.d2 = b.doc_id
  GROUP BY 1, 2
),
per AS (
  SELECT fold,
         CAST(COUNT(*) AS BIGINT)    AS n_docs,
         CAST(SUM(n_tok) AS BIGINT)  AS n_tokens
  FROM folded GROUP BY fold
)
SELECT per.fold, per.n_docs, per.n_tokens,
       CAST(COALESCE(SUM(CASE WHEN c.f1 = per.fold AND c.f2 = per.fold
                              THEN c.n END), 0) AS BIGINT) AS n_val_dup_pairs,
       CAST(COALESCE(SUM(CASE WHEN (c.f1 = per.fold) <> (c.f2 = per.fold)
                              THEN c.n END), 0) AS BIGINT) AS n_leaked_pairs
FROM per LEFT JOIN cells c ON TRUE
GROUP BY per.fold, per.n_docs, per.n_tokens
""",
)
def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold split plan + per-rotation leakage audit — q_split_leakage's
    rotation generalization: a 5-fold cross-validation run trains K times,
    each time holding one fold out, so EVERY fold must be auditable as the
    validation set. Fold assignment is the width-safe multiplicative-hash
    bucket mod K (the single stratum_bucket definition — deterministic,
    replayable, rank-stable as the corpus grows), and for each rotation k
    the report carries the fold's size/token mass plus two leak numbers
    over the verified near-dup pairs (J >= 0.5, banded candidates + exact
    verify — never all-pairs): n_val_dup_pairs (both endpoints inside the
    held-out fold: benign duplication concentrated in val) and
    n_leaked_pairs (pairs STRADDLING the boundary: the train->val answer
    leak that forces cluster-keyed assignment).

    Scale shape: fold assignment and token counting are one map pass +
    one bounded groupBy; the pair relation is the shared dedup-audit
    machinery; everything after runs on a <= K(K+1)/2-cell matrix
    broadcast onto the K-row fold table — metadata grain, zero
    data-scale joins beyond the audit's declared pair computation."""
    d = table(spark, sf_dir, "documents")
    folded = d.select(
        "doc_id",
        stratum_bucket(F.col("doc_id"), _KFOLD_K).alias("fold"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    per = folded.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    shh = shingle_fingerprints(spark, sf_dir)
    pairs = _exact_jaccard_pairs(shh, _lsh_candidates(shh)).select("d1", "d2")
    fa = folded.select(F.col("doc_id").alias("d1"), F.col("fold").alias("fold1"))
    fb = folded.select(F.col("doc_id").alias("d2"), F.col("fold").alias("fold2"))
    cells = (
        pairs.join(fa, "d1")
        .join(fb, "d2")
        .select(
            F.least("fold1", "fold2").alias("f1"),
            F.greatest("fold1", "fold2").alias("f2"),
        )
        .groupBy("f1", "f2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        # LEFT on a literal-true condition, mirroring the oracle: a corpus
        # with zero verified near-dup pairs must still emit all K folds
        per.join(F.broadcast(cells), F.lit(True), "left")
        .groupBy("fold", "n_docs", "n_tokens")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("f1") == F.col("fold"))
                        & (F.col("f2") == F.col("fold")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("n_val_dup_pairs"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("f1") == F.col("fold"))
                        != (F.col("f2") == F.col("fold")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("n_leaked_pairs"),
        )
    )


@query(
    "q_ngram_novelty",
    oracle=f"""
WITH {_SHINGLE_CTES},
w AS (
  SELECT doc_id,
         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY shingle)
              THEN 1 ELSE 0 END AS novel
  FROM shd
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT)   AS n_grams,
       CAST(SUM(novel) AS BIGINT) AS n_novel,
       ROUND(SUM(novel) * 1.0 / COUNT(*), 6) AS novelty
FROM w
GROUP BY doc_id
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — the memorization/duplication screen a
    training-data release runs doc-by-doc (the per-document view of Lee et
    al. 2022's dedup counting: what fraction of this doc's n-grams is
    first INTRODUCED by it, under the corpus's canonical ingestion order):
    a doc full of previously-seen shingles is boilerplate/near-dup tail;
    novelty ~1 marks genuinely fresh text. Definition reuses the
    single-definition shingle relation (shingle_fingerprints — the same
    truth side as the whole dedup family; dedup.py:51) so a tokenization
    change can never fork this audit from the dedup ladder.

    Scale shape: one shuffle keyed on the 8-byte shingle fingerprint for
    the first-occurrence window (min over the hash partition — no
    collect, no join back: the window reuses the exchange), one shuffle
    keyed on doc_id for the per-doc fold. Both are the dedup family's
    standard partitioning; hot shingles (stopword trigrams) cost a fat
    window partition but min() is a constant-state streaming aggregate,
    so skew costs bandwidth, never memory. Oracle replays first-occurrence
    on raw shingles — the fingerprint side matches only while xxhash64
    stays collision-free (the documented D^2/2^65 fingerprint trade)."""
    shh = shingle_fingerprints(spark, sf_dir)
    novel = shh.select(
        "doc_id",
        F.when(
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("h")), 1
        )
        .otherwise(0)
        .alias("novel"),
    )
    return novel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("novel").alias("n_novel"),
        F.round(F.sum("novel") / F.count(F.lit(1)), 6).alias("novelty"),
    )
