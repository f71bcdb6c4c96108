"""Behavioral / product-analytics operators over the event stream: ordered
conversion funnels, daily cohort retention, Markov transition matrices, and
an A/B significance test.

Reference parity: the declared-but-empty Glue ETL job
(`/root/reference/Hoth/FHIR/glue/etl_script.py`, 0 bytes; job declared at
`/root/reference/Hoth/FHIR/cloudformations/lambda-stack.yml:11-21`) commits
to PySpark transformations over event-shaped data; funnel / retention /
transition analysis is the canonical product-analytics layer every event
pipeline grows.

Scale notes (100 TB):
- All four operators shuffle AT MOST ONCE on `user_id` and then reduce to a
  bounded output (stages, cohort×offset grid, |event_types|² matrix, one
  stats row). Nothing user-level ever reaches the driver.
- The funnel's three cascading "first qualifying timestamp" columns are
  three Window ops over the SAME partitioning — Catalyst reuses one
  Exchange; no sort is needed because every frame is unbounded.
- The A/B test converts money to integer cents BEFORE any aggregation:
  per-user sums become exact BIGINTs, so group means/variances are derived
  from order-independent integer sums and the t-statistic is bit-stable
  regardless of partitioning (float summation order never enters).
- The Markov matrix sorts each user's events once inside the `lead` window
  (ts, event_id tiebreak → deterministic under equal timestamps), then
  reduces to a |types|² table; the row-normalizing second window runs on
  that bounded table, not on events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_aws_spark.registry import query
from data_pipeline_aws_spark.tables import table, table_rows

# Conversion window between consecutive funnel stages.
_FUNNEL_WINDOW = "INTERVAL 24 HOURS"


@query(
    "q_funnel",
    oracle="""
WITH s1 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS first_view
  FROM events
),
s2 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'click' AND ts > first_view
                   AND ts <= first_view + INTERVAL 24 HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS first_click
  FROM s1
),
s3 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'purchase' AND ts > first_click
                   AND ts <= first_click + INTERVAL 24 HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS first_purchase
  FROM s2
),
agg AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_all,
         CAST(COUNT(DISTINCT CASE WHEN first_view     IS NOT NULL THEN user_id END) AS BIGINT) AS n_view,
         CAST(COUNT(DISTINCT CASE WHEN first_click    IS NOT NULL THEN user_id END) AS BIGINT) AS n_click,
         CAST(COUNT(DISTINCT CASE WHEN first_purchase IS NOT NULL THEN user_id END) AS BIGINT) AS n_purchase
  FROM s3
)
SELECT '0_all' AS stage, n_all AS n_users FROM agg
UNION ALL SELECT '1_view', n_view FROM agg
UNION ALL SELECT '2_click', n_click FROM agg
UNION ALL SELECT '3_purchase', n_purchase FROM agg
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase, each stage within
    24 hours of the previous one: how many users ever complete the strictly
    ordered sequence.

    Three cascading unbounded-frame Window mins over ONE `user_id`
    partitioning (single shuffle, Exchange reused across the Window ops).
    The window output is then collapsed to ONE ROW PER USER by a
    groupBy(user_id) that reuses the same hashpartitioning — no second
    user_id exchange — so the final stage is a plain flag-sum over a
    |users|-sized relation instead of a conditional count-distinct that
    would re-shuffle the event stream. At 100 TB: one shuffle of
    (user_id, type, ts) triples, bounded output."""
    w = Window.partitionBy("user_id")
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    horizon = F.expr(_FUNNEL_WINDOW)
    s = (
        ev.withColumn(
            "first_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "first_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("first_view"))
                    & (F.col("ts") <= F.col("first_view") + horizon),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "first_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("first_click"))
                    & (F.col("ts") <= F.col("first_click") + horizon),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    # first_* are per-user constants (unbounded frame), so max() just picks
    # the flag; groupBy(user_id) satisfies its distribution requirement from
    # the window's hashpartitioning(user_id) — zero extra exchange
    per_user = s.groupBy("user_id").agg(
        F.max(F.col("first_view").isNotNull()).alias("has_view"),
        F.max(F.col("first_click").isNotNull()).alias("has_click"),
        F.max(F.col("first_purchase").isNotNull()).alias("has_purchase"),
    )
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("has_view"), 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("has_click"), 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("has_purchase"), 1).otherwise(0)).alias("n_purchase"),
    )
    return agg.selectExpr(
        "stack(4, '0_all', n_all, '1_view', n_view, '2_click', n_click, "
        "'3_purchase', n_purchase) AS (stage, n_users)"
    )


@query(
    "q_retention",
    oracle="""
WITH a AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
f AS (
  SELECT user_id, d,
         MIN(d) OVER (PARTITION BY user_id) AS cohort
  FROM a
)
SELECT CAST(cohort AS TIMESTAMP)                AS cohort_day,
       DATEDIFF('day', cohort, d)               AS day_offset,
       CAST(COUNT(*) AS BIGINT)                 AS n_users
FROM f
GROUP BY 1, 2
""",
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle: users grouped by first-active day,
    counted on each later active day (offset in days).

    `(user, day)` distinct first (map-side combine collapses each user's
    ~dozens of daily events before the shuffle), then a `user_id` window
    min for the cohort day, then a bounded `(cohort, offset)` count — the
    count needs no DISTINCT because rows are already unique per (user, day).
    At 100 TB the first distinct is the only data-scale shuffle."""
    a = (
        table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    f = a.withColumn("cohort", F.min("d").over(Window.partitionBy("user_id")))
    return f.groupBy(
        F.col("cohort").cast("timestamp").alias("cohort_day"),
        F.datediff("d", "cohort").alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "q_markov",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
),
c AS (
  SELECT event_type AS src_type, next_type AS dst_type,
         CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT src_type, dst_type, n_transitions,
       ROUND(n_transitions * 1.0
             / SUM(n_transitions) OVER (PARTITION BY src_type), 6) AS p
FROM c
""",
)
def q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences:
    P(next event type | current event type), estimated per-user-ordered.

    One `lead` window (partition user, order ts with event_id tiebreak so
    equal timestamps stay deterministic), a |types|² count, and a
    row-normalizing window over that bounded matrix. The probability is a
    ratio of exact integer counts — bit-stable across engines."""
    seq = table(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    c = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src_type"),
            F.col("next_type").alias("dst_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return c.select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(Window.partitionBy("src_type")),
            6,
        ).alias("p"),
    )


@query(
    "q_abtest",
    oracle="""
WITH u AS (
  SELECT user_id, user_id % 2 AS grp,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
g AS (
  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)     AS n_a,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)     AS n_b,
         CAST(SUM(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_b,
         CAST(SUM(CASE WHEN grp = 0 THEN cents * cents ELSE 0 END) AS BIGINT) AS ss_a,
         CAST(SUM(CASE WHEN grp = 1 THEN cents * cents ELSE 0 END) AS BIGINT) AS ss_b
  FROM u
)
SELECT n_a, n_b,
       ROUND(s_a / (100.0 * n_a), 4) AS mean_a,
       ROUND(s_b / (100.0 * n_b), 4) AS mean_b,
       ROUND((s_b * 1.0 * n_a / (s_a * n_b) - 1.0) * 100, 4) AS lift_pct,
       ROUND((s_b * 1.0 / n_b - s_a * 1.0 / n_a)
             / SQRT( (ss_a - s_a * 1.0 * s_a / n_a) / (n_a - 1) / n_a
                   + (ss_b - s_b * 1.0 * s_b / n_b) / (n_b - 1) / n_b ), 4)
         AS t_welch
FROM g
""",
)
def q_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split by deterministic assignment
    (user_id parity), metric = per-user purchase revenue; reports group
    sizes, means, relative lift, and Welch's t-statistic.

    Money → integer cents BEFORE aggregation, so every sum is an exact
    BIGINT and the variance comes from the Σx/Σx² identity — the t-stat is
    a fixed sequence of float ops on exact integers, identical in any
    engine and any partitioning (no float-summation-order drift). Two
    all-integer aggregations (per-user, then global) → one stats row."""
    ev = table(spark, sf_dir, "events")
    cents_expr = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    u = ev.groupBy("user_id").agg(F.sum(cents_expr).alias("cents"))
    u = u.withColumn("grp", F.col("user_id") % 2)
    g = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("cents")).otherwise(0)).alias("s_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("cents")).otherwise(0)).alias("s_b"),
        F.sum(
            F.when(F.col("grp") == 0, F.col("cents") * F.col("cents")).otherwise(0)
        ).alias("ss_a"),
        F.sum(
            F.when(F.col("grp") == 1, F.col("cents") * F.col("cents")).otherwise(0)
        ).alias("ss_b"),
    )
    return g.select(
        "n_a",
        "n_b",
        F.round(F.col("s_a") / (100.0 * F.col("n_a")), 4).alias("mean_a"),
        F.round(F.col("s_b") / (100.0 * F.col("n_b")), 4).alias("mean_b"),
        F.round(
            (F.col("s_b") * 1.0 * F.col("n_a") / (F.col("s_a") * F.col("n_b")) - 1.0)
            * 100,
            4,
        ).alias("lift_pct"),
        F.round(
            (F.col("s_b") * 1.0 / F.col("n_b") - F.col("s_a") * 1.0 / F.col("n_a"))
            / F.sqrt(
                (
                    F.col("ss_a")
                    - F.col("s_a") * 1.0 * F.col("s_a") / F.col("n_a")
                )
                / (F.col("n_a") - 1)
                / F.col("n_a")
                + (
                    F.col("ss_b")
                    - F.col("s_b") * 1.0 * F.col("s_b") / F.col("n_b")
                )
                / (F.col("n_b") - 1)
                / F.col("n_b")
            ),
            4,
        ).alias("t_welch"),
    )


@query(
    "q_market_basket",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
),
items AS (SELECT DISTINCT user_id, sess_id, event_type FROM sess),
n AS (SELECT COUNT(*) AS n_sessions
      FROM (SELECT DISTINCT user_id, sess_id FROM items)),
singles AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS s_one
  FROM items GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS antecedent, b.event_type AS consequent,
         CAST(COUNT(*) AS BIGINT) AS s_pair
  FROM items a
  JOIN items b ON a.user_id = b.user_id AND a.sess_id = b.sess_id
             AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT antecedent, consequent, s_pair,
       s_pair * 1.0 / sa.s_one                                    AS confidence,
       CAST(s_pair * n_sessions AS DOUBLE)
         / CAST(sa.s_one * sb.s_one AS DOUBLE)                    AS lift
FROM pairs
JOIN singles sa ON sa.event_type = antecedent
JOIN singles sb ON sb.event_type = consequent
CROSS JOIN n
WHERE s_pair >= 5
""",
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over behavior sessions (market-basket):
    which event types co-occur in the same 30-minute session, with
    support, confidence, and lift — the recommendation/affinity verb
    (Apriori's counting core for itemsets of size 2).

    Sessions come from the same gap-and-island construction as
    q_win_session (lag flag + running sum — one user-partitioned window
    exchange). The basket relation collapses to DISTINCT (session, item)
    BEFORE any join, so pair counting is an equi-join on the session key
    over |sessions|·|item-types| rows, never raw events; the co-occurrence
    matrix is bounded at |types|² and the singles/total relations broadcast
    into the final rule scoring. Confidence and lift are divisions of
    exact integer supports — bit-identical across engines unrounded. At
    100 TB the same plan holds: everything after the distinct is
    item-vocabulary-scale."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        prev.isNull() | (F.unix_micros("ts") - prev >= gap_us), 1
    ).otherwise(0)
    sess_id = F.sum(new_sess).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    items = (
        e.select("user_id", "event_type", sess_id.alias("sess_id"))
        .distinct()
    )
    n = items.select("user_id", "sess_id").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    singles = items.groupBy("event_type").agg(F.count(F.lit(1)).alias("s_one"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess_id") == F.col("b.sess_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("s_pair"))
        .where(F.col("s_pair") >= 5)
    )
    sa = singles.alias("sa")
    sb = singles.alias("sb")
    return (
        pairs.join(F.broadcast(sa), F.col("antecedent") == F.col("sa.event_type"))
        .join(F.broadcast(sb), F.col("consequent") == F.col("sb.event_type"))
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "s_pair",
            (F.col("s_pair") * 1.0 / F.col("sa.s_one")).alias("confidence"),
            (
                (F.col("s_pair") * F.col("n_sessions")).cast("double")
                / (F.col("sa.s_one") * F.col("sb.s_one")).cast("double")
            ).alias("lift"),
        )
    )


@query(
    "q_attribution",
    oracle="""
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT p.purchase_id, p.value, e.event_type AS touch_type
  FROM purchases p
  JOIN events e
    ON e.user_id = p.user_id
   AND e.event_type <> 'purchase'
   AND e.ts >= p.ts - INTERVAL 30 MINUTE AND e.ts < p.ts
),
credited AS (
  SELECT touch_type,
         value * 1.0 / COUNT(*) OVER (PARTITION BY purchase_id) AS credit
  FROM touches
)
SELECT touch_type,
       CAST(COUNT(*) AS BIGINT)    AS n_touches,
       ROUND(SUM(credit), 4)       AS attributed_revenue
FROM credited
GROUP BY touch_type
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the user's touchpoints (non-purchase events) in the
    preceding 30 minutes, then attributed revenue rolls up by touchpoint
    type — the marketing-analytics verb between first-touch (q_join_asof's
    shape) and data-driven models.

    Plan: the touch lookup is a user_id equi-join with the time window as
    a residual (never a theta join); per-purchase touch counts come from a
    window over the SAME purchase_id grouping the join produced, so credit
    splitting adds one bounded exchange on purchase_id. Credit is one IEEE
    division per row of a stored double by an exact integer; only the
    rolled-up sum is rounded (summation-order parity)."""
    e = table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    t = e.where(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    touches = p.join(
        t,
        (p.p_user == t.t_user)
        & (t.t_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTES"))
        & (t.t_ts < p.p_ts),
    )
    w = Window.partitionBy("purchase_id")
    credited = touches.select(
        "touch_type",
        (F.col("value") * 1.0 / F.count(F.lit(1)).over(w)).alias("credit"),
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("credit"), 4).alias("attributed_revenue"),
    )


@query(
    "q_active_users",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
spine AS (SELECT DISTINCT day FROM ud),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
),
wau AS (
  SELECT s.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM spine s
  JOIN ud u ON u.day BETWEEN s.day - INTERVAL 6 DAY AND s.day
  GROUP BY s.day
)
SELECT d.day, d.dau, w.wau,
       d.dau * 1.0 / w.wau AS stickiness
FROM dau d JOIN wau w ON d.day = w.day
""",
)
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness — the product-analytics staple: distinct
    daily actives, distinct trailing-7-day actives, and their ratio per
    day. Rolling DISTINCT counts can't ride an ordinary window frame
    (distinct doesn't decompose over frames), so the trailing-week count
    joins the day spine against the (user, day) activity grid with a
    6-day band — a |days| × |user-days| range join, both sides already
    collapsed to grid grain before the join (the event-scale work is one
    DISTINCT pass).

    At 100 TB the same shape holds because the grid, not the event log, is
    what the band join touches; at extreme user counts the rolling
    distinct swaps in per-day HLL sketches merged over the trailing
    window (`q_hll_merge` shows the mergeable machinery). Stickiness is
    one IEEE division of exact BIGINTs."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    spine = ud.select("day").distinct().select(F.col("day").alias("s_day"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        spine.join(
            ud,
            (ud.day >= spine.s_day - F.expr("INTERVAL 6 DAYS"))
            & (ud.day <= spine.s_day),
        )
        .groupBy("s_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.s_day)
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau") * 1.0 / F.col("wau")).alias("stickiness"),
        )
    )


@query(
    "q_active_users_hll",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau_exact FROM ud GROUP BY day),
wau AS (
  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau_exact
  FROM (SELECT DISTINCT day FROM ud) d
  JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
  GROUP BY d.day
)
SELECT d.day, d.dau_exact, w.wau_exact,
       TRUE AS dau_within_5pct,
       TRUE AS wau_within_5pct
FROM dau d JOIN wau w ON d.day = w.day
""",
)
def q_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_active_users' extreme-scale mode, executable — the documented HLL
    swap as running code instead of prose. One pass over events builds a
    per-day HyperLogLog sketch of the active-user set (hll_sketch_agg,
    lgConfigK=12 → 4 KB registers, ~1.6% standard error); the trailing-
    7-day WAU is then `hll_union_agg` over the 7 sketches in each day's
    band — merging kilobytes per day, NEVER rescanning events or shuffling
    the (user, day) grid, which is exactly how a 100 TB DAU/WAU dashboard
    refreshes (the grid band join q_active_users runs is the piece that
    stops scaling when distinct users explode; sketch merge replaces it).

    Oracle pattern = q_hll_merge's BOUND ASSERTION: estimates have no SQL
    twin, so the row carries the exact DAU/WAU (computed here the
    q_active_users way purely to judge the sketch — production drops
    them) plus boolean verdicts that each day's DAU estimate and merged
    WAU estimate land within 5% of exact; the oracle recomputes the exact
    counts and asserts TRUE. HLL register updates are order-insensitive,
    so the verdicts are deterministic bounds, not flaky statistics."""
    e = table(spark, sf_dir, "events")
    per_day = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.count_distinct("user_id").alias("dau_exact"),
    )
    ud = e.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    spine = per_day.select(F.col("day").alias("s_day"))
    wau_est = (
        spine.join(
            per_day.select("day", "sk"),
            (F.col("day") >= F.col("s_day") - F.expr("INTERVAL 6 DAYS"))
            & (F.col("day") <= F.col("s_day")),
        )
        .groupBy("s_day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("wau_approx"))
    )
    wau_exact = (
        spine.withColumnRenamed("s_day", "x_day")
        .join(
            ud,
            (F.col("day") >= F.col("x_day") - F.expr("INTERVAL 6 DAYS"))
            & (F.col("day") <= F.col("x_day")),
        )
        .groupBy("x_day")
        .agg(F.count_distinct("user_id").alias("wau_exact"))
    )
    within = lambda est, exact: (  # noqa: E731
        F.abs(F.col(est) - F.col(exact)) <= 0.05 * F.col(exact)
    )
    return (
        per_day.withColumn("dau_approx", F.hll_sketch_estimate("sk"))
        .join(wau_est, per_day.day == wau_est.s_day)
        .join(wau_exact, per_day.day == F.col("x_day"))
        .select(
            "day",
            "dau_exact",
            "wau_exact",
            within("dau_approx", "dau_exact").alias("dau_within_5pct"),
            within("wau_approx", "wau_exact").alias("wau_within_5pct"),
        )
    )


@query(
    "q_event_paths",
    oracle="""
WITH seq AS (
  SELECT event_type AS step1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS step2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS step3
  FROM events
),
c AS (
  SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
  FROM seq WHERE step3 IS NOT NULL
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT step1, step2, step3, n_paths,
         ROUND(n_paths * 1.0 / SUM(n_paths) OVER (), 6) AS share,
         ROW_NUMBER() OVER (ORDER BY n_paths DESC, step1, step2, step3) AS rnk
  FROM c
)
SELECT step1, step2, step3, n_paths, share, rnk
FROM ranked WHERE rnk <= 10
""",
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most-travelled 3-step event paths (path / clickstream
    analysis): per-user ordered trigrams of event types, counted globally,
    with each path's share of all trigrams.

    Two `lead` taps ride ONE user_id window (same partitioning and order →
    one Exchange, one sort), then the stream collapses to at most
    |types|³ = 125 rows; the share window and top-10 rank run on that
    bounded table, not on events. Share is a ratio of exact BIGINTs
    rounded identically in both engines; rank tiebreaks on the full path
    so equal-count paths order deterministically.

    At 100 TB: the only event-scale work is the one windowed pass; longer
    paths (k-step) add lead taps to the SAME window, not new shuffles.
    Reference parity: would live in the declared-but-empty Glue ETL job
    (`/root/reference/Hoth/FHIR/glue/etl_script.py`, 0 bytes)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    )
    c = (
        seq.where(F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    share = F.round(
        F.col("n_paths") / F.sum("n_paths").over(Window.partitionBy()), 6
    ).alias("share")
    rnk = F.row_number().over(
        Window.orderBy(F.desc("n_paths"), "step1", "step2", "step3")
    )
    return (
        c.select("step1", "step2", "step3", "n_paths", share)
        .withColumn("rnk", rnk)
        .where(F.col("rnk") <= 10)
    )


@query(
    "q_rfm",
    oracle="""
WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
cust AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate), (SELECT ref_date FROM ref))
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, monetary,
         CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS INT) AS r_score,
         CAST(NTILE(5) OVER (ORDER BY frequency ASC,  o_custkey) AS INT) AS f_score,
         CAST(NTILE(5) OVER (ORDER BY monetary  ASC,  o_custkey) AS INT) AS m_score
  FROM cust
)
SELECT r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(monetary) AS DOUBLE), 2) AS total_monetary
FROM scored GROUP BY r_score, f_score, m_score
""",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the marketing-analytics staple: score
    every customer 1-5 on Recency / Frequency / Monetary quintiles and
    report the 125-cell grid with named segments (champions, loyal,
    at-risk, hibernating).

    The orders-scale work is one aggregation to customer grain; the three
    quintile NTILEs order by exact values (integer days, BIGINT count,
    DECIMAL revenue) with a custkey tiebreak, so both engines cut
    identical quintiles — ordering by anything float here would make cell
    membership flip on ulps. Output collapses to ≤125 cells.

    At 100 TB: customer-grain is already 'small' next to orders, but at
    extreme customer counts the three global NTILEs (single-partition
    windows) swap for approx_percentile quintile cut points + a map-side
    bucket compare — the q_ppl_buckets note, applied three times."""
    o = table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("ref_date", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = cust.select(
        "o_custkey",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency_days"), F.asc("o_custkey")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("frequency"), F.asc("o_custkey")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("monetary"), F.asc("o_custkey")))
        .alias("m_score"),
    )
    segment = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("f_score") >= 4, "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("monetary").cast("double"), 2).alias("total_monetary"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            segment.alias("segment"),
            "n_customers",
            "total_monetary",
        )
    )


def _rfm_cut_ctes(dim: str) -> str:
    """Per-dimension histogram→cumulative→quintile-cut CTE chain (DuckDB
    side of the shared construction — the Spark twin is _rfm_cuts)."""
    return f"""
{dim}_hist AS (SELECT {dim}_v AS v, COUNT(*) AS c FROM dims GROUP BY 1),
{dim}_cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v DESC) AS cum, SUM(c) OVER () AS n
  FROM {dim}_hist
),
{dim}_cuts AS (
  SELECT MAX(CASE WHEN cum >= (1*n + 4) // 5 THEN v END) AS {dim}_q1,
         MAX(CASE WHEN cum >= (2*n + 4) // 5 THEN v END) AS {dim}_q2,
         MAX(CASE WHEN cum >= (3*n + 4) // 5 THEN v END) AS {dim}_q3,
         MAX(CASE WHEN cum >= (4*n + 4) // 5 THEN v END) AS {dim}_q4
  FROM {dim}_cum
)"""


def _rfm_score_sql(dim: str) -> str:
    return f"""CAST(CASE WHEN {dim}_v > {dim}_q1 THEN 5
         WHEN {dim}_v > {dim}_q2 THEN 4
         WHEN {dim}_v > {dim}_q3 THEN 3
         WHEN {dim}_v > {dim}_q4 THEN 2
         ELSE 1 END AS INT) AS {dim}_score"""


@query(
    "q_rfm_approx",
    oracle=f"""
WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
cust AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate), (SELECT ref_date FROM ref))
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
dims AS (
  SELECT o_custkey, monetary,
         CAST(-recency_days AS BIGINT) AS r_v,
         CAST(frequency AS BIGINT)     AS f_v,
         CAST(monetary * 100 AS BIGINT) // 100000 AS m_v
  FROM cust
),
{_rfm_cut_ctes('r')},
{_rfm_cut_ctes('f')},
{_rfm_cut_ctes('m')},
scored AS (
  SELECT o_custkey, monetary,
         {_rfm_score_sql('r')},
         {_rfm_score_sql('f')},
         {_rfm_score_sql('m')}
  FROM dims, r_cuts, f_cuts, m_cuts
)
SELECT r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(monetary) AS DOUBLE), 2) AS total_monetary
FROM scored GROUP BY r_score, f_score, m_score
""",
)
def q_rfm_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_rfm's extreme-scale mode, executable — the last documented
    prose-only NTILE swap made runnable (the q_ppl_buckets_approx
    histogram-cut construction, applied three times). Each R/F/M quintile
    CUT POINT set comes from a bounded VALUE HISTOGRAM: recency is integer
    days, frequency a small integer count, and monetary is binned to
    $1000 integer-cent bins (CAST(monetary*100 AS BIGINT) DIV 100000 —
    pure integer arithmetic, so both engines bin identically; a fixed-
    width-histogram quantile, the HDR-histogram trick). The cumulative
    walk and the four k-th thresholds ((k*n+4) DIV 5 — integer ceil)
    touch histogram rows, never customers; scoring is then a map-side
    comparison against three broadcast 1-row cut tables. The three
    single-partition customer-grain NTILE sorts q_rfm runs are gone —
    what remains at 100 TB is the one customer-grain aggregate plus three
    bounded-histogram shuffles that map-side combine collapses.

    Cut semantics differ from NTILE by design (the q_ppl_buckets_approx
    contract): ties at a cut land together on one side, so a customer's
    score depends on their VALUE, not their sort position — deterministic
    in both engines and what a segmentation policy wants anyway. Recency
    is negated so 'higher value = better score' holds uniformly across
    the three dimensions (score 5 = most recent, matching q_rfm).
    Oracle replays the histogram walk exactly; segments and the ≤125-cell
    grid match q_rfm's output shape so the two modes are comparable."""
    o = table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("ref_date", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    dims = cust.select(
        "o_custkey",
        "monetary",
        (-F.col("recency_days")).cast("long").alias("r_v"),
        F.col("frequency").cast("long").alias("f_v"),
        F.expr("CAST(monetary * 100 AS BIGINT) DIV 100000").alias("m_v"),
    )

    def cuts_for(dim: str) -> DataFrame:
        hist = dims.groupBy(F.col(f"{dim}_v").alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        cum = hist.select(
            "v",
            F.sum("c").over(Window.orderBy(F.desc("v"))).alias("cum"),
            F.sum("c").over(Window.partitionBy()).alias("n"),
        )
        return cum.agg(
            *[
                F.max(
                    F.when(
                        F.col("cum") >= F.expr(f"({k}*n + 4) DIV 5"), F.col("v")
                    )
                ).alias(f"{dim}_q{k}")
                for k in (1, 2, 3, 4)
            ]
        )

    def score(dim: str):
        return (
            F.when(F.col(f"{dim}_v") > F.col(f"{dim}_q1"), 5)
            .when(F.col(f"{dim}_v") > F.col(f"{dim}_q2"), 4)
            .when(F.col(f"{dim}_v") > F.col(f"{dim}_q3"), 3)
            .when(F.col(f"{dim}_v") > F.col(f"{dim}_q4"), 2)
            .otherwise(1)
            .cast("int")
            .alias(f"{dim}_score")
        )

    scored = (
        dims.crossJoin(F.broadcast(cuts_for("r")))
        .crossJoin(F.broadcast(cuts_for("f")))
        .crossJoin(F.broadcast(cuts_for("m")))
        .select("o_custkey", "monetary", score("r"), score("f"), score("m"))
    )
    segment = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("f_score") >= 4, "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("monetary").cast("double"), 2).alias("total_monetary"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            segment.alias("segment"),
            "n_customers",
            "total_monetary",
        )
    )


@query(
    "q_cohort_ltv",
    oracle="""
WITH first_day AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
  FROM events GROUP BY user_id
),
cohort_size AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM first_day GROUP BY cohort_day
),
purchases AS (
  SELECT e.user_id, f.cohort_day,
         CAST(FLOOR(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) / 7)
              AS INT) AS offset_week,
         CAST(ROUND(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN first_day f USING (user_id)
  WHERE e.event_type = 'purchase'
),
wk AS (
  SELECT cohort_day, offset_week,
         CAST(SUM(cents) AS BIGINT) AS week_cents
  FROM purchases GROUP BY 1, 2
)
SELECT w.cohort_day, w.offset_week, s.n_users,
       ROUND(SUM(w.week_cents) OVER (PARTITION BY w.cohort_day
              ORDER BY w.offset_week
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / 100.0 / s.n_users, 4) AS cum_ltv_per_user
FROM wk w JOIN cohort_size s USING (cohort_day)
""",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: users cohorted by first-active day, purchase
    revenue accumulated per week-offset, reported as cumulative LTV per
    cohort user — the revenue sibling of q_retention's activity matrix
    (the curve a growth team reads payback periods off).

    Money converts to integer cents BEFORE any aggregation (the q_abtest
    rule), so week sums and the cumulative window are exact BIGINT math;
    the single float division per output row divides two exact integers.
    Event-scale work: one first-touch agg and one join-back + one
    (cohort, week) agg — the cumulative window runs on the bounded
    cohort×offset grid.

    At 100 TB: the join-back broadcasts the first-touch side when users
    fit, else hash-shuffles on user_id once; the grid stays |days|×|weeks|
    regardless of event volume."""
    e = table(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    cohort_size = first_day.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .join(first_day, "user_id")
        .select(
            "cohort_day",
            F.floor(
                F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day")) / 7
            )
            .cast("int")
            .alias("offset_week"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    wk = purchases.groupBy("cohort_day", "offset_week").agg(
        F.sum("cents").alias("week_cents")
    )
    cum = Window.partitionBy("cohort_day").orderBy("offset_week").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        wk.join(cohort_size, "cohort_day")
        .select(
            "cohort_day",
            "offset_week",
            "n_users",
            F.round(
                F.sum("week_cents").over(cum) / 100.0 / F.col("n_users"), 4
            ).alias("cum_ltv_per_user"),
        )
    )


_BASKET_LINE_CAP = 32


def capped_baskets(bought: DataFrame, cap: int = _BASKET_LINE_CAP) -> DataFrame:
    """Deterministic per-basket line cap for co-occurrence pair joins: keep
    the ``cap`` lowest part ids per order. Basket-keyed self-joins fan out
    as lines² per basket — fine at the TPC-H ~4-7 lines, quadratic death on
    one pathological million-line basket. The row_number window partitions
    on the same orderkey the pair join shuffles on, so the cap reuses that
    exchange rather than adding one. Capped pairs ⊆ uncapped pairs by
    construction (property-tested in tests/test_properties.py)."""
    w = Window.partitionBy("l_orderkey").orderBy("l_partkey")
    return (
        bought.withColumn("_ln", F.row_number().over(w))
        .where(F.col("_ln") <= cap)
        .drop("_ln")
    )


@query(
    "q_item_item_recs",
    oracle=f"""
WITH bought AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
part_n AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders FROM bought GROUP BY 1
),
capped AS (
  SELECT l_orderkey, l_partkey FROM bought
  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey)
          <= {_BASKET_LINE_CAP}
),
cooc AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_cooc
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
scored AS (
  SELECT c.part_a, c.part_b, c.n_cooc,
         ROUND(c.n_cooc / sqrt(na.n_orders * nb.n_orders), 6) AS cos_sim
  FROM cooc c
  JOIN part_n na ON c.part_a = na.l_partkey
  JOIN part_n nb ON c.part_b = nb.l_partkey
)
SELECT part_a, part_b, n_cooc, cos_sim, rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY part_a
                               ORDER BY cos_sim DESC, part_b) AS rnk
  FROM scored
) WHERE rnk <= 5
""",
)
def q_item_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering ('customers who bought X also
    bought Y'): co-purchase counts over orders, cosine-normalized by each
    part's order count, top-5 recommendations per part — the co-occurrence
    recommender that needs no model training and is the standard first
    recommender at any scale.

    The pair join is self-join on ORDER (the basket key): fan-out per
    order is lines² — bounded by basket size (~4-7 lines), NOT by catalog
    or order count, which is what makes basket-keyed co-occurrence linear
    in orders where a part-keyed join would be quadratic in popularity.
    Cosine divides exact integers inside sqrt — deterministic; ranking
    ties break on part id. Top-5 per part runs as WindowGroupLimit heaps.

    At 100 TB: one distinct pass, one basket self-join; giant baskets are
    line-capped BEFORE the pair join (see capped_baskets — same spirit as
    q_market_basket's session cap), so a single pathological basket cannot
    go quadratic, and the cap is also the join's skew bound (no basket key
    fans out past cap² pairs).

    Round-14 memory-bound restructure (guide §2.3/§3.3/§5, VERDICT r13
    order #1 — the sf10/16 g heap-margin watch item). Measured first: the
    r13 shape's sf10 plan re-joined the aggregated PAIR stream (~175 M
    rows at sf10) with the part-count table twice as SortMergeJoins —
    three exchanges + two sorts of the query's biggest relation (stage
    peaks 23-47 GB summed, 9-16 GB disk spill) — while the checkpointed
    distinct pinned ~15 GB of heap for the query's life (85 s of GC in
    that stage alone). Three structural changes, each oracle-verified
    row-identical:
    - n_orders rides the |lines|-sized relation INTO the pair join as a
      window count over the distinct basket set (na/nb are functions of
      the group key, so grouping by (part_a, part_b, na, nb) leaves
      groups and counts unchanged) — the pair stream is never re-joined,
      both SMJs and their sorts disappear (plans/r14 dumps);
    - the pair-join width is pinned from the lineitem FOOTER row count
      (partitions ≥ rows/250k, clamped [cores, 4096]) so no SHJ build
      side exceeds ~25 MB deserialized up to sf≈170 (4096 × 250k ≈ 1.02B
      lineitem rows); past that the clamp holds the width at 4096 and the
      builds grow with SF. Per-task state is bounded by arithmetic, not by
      AQE's byte-advisory coalescing (which chose 34×~500 MB builds at
      sf10, the 16 g GC cliff). The explicit width forfeits AQE
      skew-split on that exchange; the basket cap is the skew bound there
      (≤cap lines per order key).
    - no localCheckpoint: the distinct's exchange is identical across its
      consumers and ReuseExchange dedupes it (verified in the executed
      plan), so the checkpoint bought nothing but pinned blocks.
    Evidence: sf10 @16 g heap completes with a spill-free join stage
    (8.8 GB → 0 disk spill); back-to-back sf10 @24 g WP 204.8/163.4 s vs
    old shape 238.8 s; sf0.1 interleaved min-of-3 2.29 vs 2.43 s (flat)."""
    # part counts stay UNCAPPED (they are the cosine denominator and must
    # match the catalog-wide truth); only the quadratic pair fan-out is
    # capped. The oracle mirrors the cap in its `capped` CTE (identical
    # keep-lowest-partkey rule), so parity holds even on a future fixture
    # with a >_BASKET_LINE_CAP-line basket — not just TPC-H's ≤7.
    bought = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .withColumn(
            "n_orders", F.count(F.lit(1)).over(Window.partitionBy("l_partkey"))
        )
    )
    width = min(
        max(
            spark.sparkContext.defaultParallelism,
            table_rows(sf_dir, "lineitem") // 250_000,
        ),
        4096,
    )
    paired = capped_baskets(bought.repartition(width, "l_orderkey"))
    a = paired.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("part_a"),
        F.col("n_orders").alias("na"),
    )
    b = paired.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("part_b"),
        F.col("n_orders").alias("nb"),
    ).hint("shuffle_hash")  # round-13 guide §3: basket self-join builds a
    # per-partition hash map of capped basket lines instead of paying SMJ's
    # two sorts of the pair-join input (bounded build: <=cap lines/order,
    # and round-14's explicit width bounds the per-partition line count)
    cooc = (
        a.join(b, "ok")
        .where(F.col("part_a") != F.col("part_b"))
        .groupBy("part_a", "part_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
    )
    scored = cooc.select(
        "part_a",
        "part_b",
        "n_cooc",
        F.round(F.col("n_cooc") / F.sqrt(F.col("na") * F.col("nb")), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("part_a").orderBy(F.desc("cos_sim"), F.asc("part_b"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("part_a", "part_b", "n_cooc", "cos_sim", "rnk")
    )


@query(
    "q_survival_km",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
per AS (
  SELECT o_custkey,
         MIN(CASE WHEN rn = 1 THEN d END) AS first_d,
         MIN(CASE WHEN rn = 2 THEN d END) AS second_d
  FROM ranked GROUP BY o_custkey
),
g AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS gmax FROM orders),
obs AS (
  SELECT CASE WHEN second_d IS NOT NULL
              THEN date_diff('day', first_d, second_d)
              ELSE date_diff('day', first_d, gmax) END AS t,
         (second_d IS NOT NULL) AS is_event
  FROM per CROSS JOIN g
),
grain AS (
  SELECT CAST(t AS BIGINT) AS t,
         CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM obs GROUP BY t
),
cum AS (
  SELECT t, d,
         CAST(COALESCE(SUM(leaving) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS gone,
         CAST(SUM(leaving) OVER () AS BIGINT) AS total
  FROM grain
),
km AS (
  SELECT t, d, total - gone AS n_risk,
         CASE WHEN total - gone > d
              THEN LN((total - gone - d) * 1.0 / (total - gone))
              ELSE 0.0 END AS lnterm
  FROM cum WHERE d > 0
)
SELECT t AS t_days,
       n_risk AS n_at_risk,
       d AS n_events,
       CASE WHEN MIN(n_risk - d) OVER (ORDER BY t) <= 0 THEN 0.0
            ELSE ROUND(EXP(SUM(lnterm) OVER (ORDER BY t)), 6) END AS survival
FROM km
""",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-repeat-purchase: per
    customer, the event is the gap (days) between first and second order;
    single-order customers are right-censored at the end of the observed
    calendar — the textbook e-commerce survival analysis, with real
    censoring handled the way q_retention's naive cohort rates cannot
    (a censored customer leaves the risk set without counting as churn).

    Orders collapse to customer grain (one window + agg), then to
    event-time grain (bounded by distinct gap days — model state); the
    risk set n_t = total − everyone who left strictly before t comes from
    one cumulative window, and the KM product Π(1 − d_i/n_i) rides
    exp(Σ ln·) with an exact-integer zero guard (if any factor hits 0 the
    curve is exactly 0.0 from there on, no ln(0)). Censored ties stay at
    risk at their own t (deaths-first convention). All decisions are
    integer compares; ln/exp of identical doubles is the accepted
    cross-engine surface (the q_text_pmi rule)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    per = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("first_d"),
        F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("second_d"),
    )
    g = o.agg(F.max(F.to_date("o_orderdate")).alias("gmax"))
    obs = per.crossJoin(F.broadcast(g)).select(
        F.when(
            F.col("second_d").isNotNull(),
            F.datediff("second_d", "first_d"),
        )
        .otherwise(F.datediff("gmax", "first_d"))
        .cast("long")
        .alias("t"),
        F.col("second_d").isNotNull().alias("is_event"),
    )
    grain = obs.groupBy("t").agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    cum = grain.select(
        "t",
        "d",
        F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)).alias("gone"),
        F.sum("leaving").over(Window.partitionBy()).alias("total"),
    )
    km = cum.where(F.col("d") > 0).select(
        "t",
        "d",
        (F.col("total") - F.col("gone")).alias("n_risk"),
        F.when(
            F.col("total") - F.col("gone") > F.col("d"),
            F.log(
                (F.col("total") - F.col("gone") - F.col("d"))
                * 1.0
                / (F.col("total") - F.col("gone"))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lnterm"),
    )
    w_cum = Window.orderBy("t")
    return km.select(
        F.col("t").alias("t_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.when(
            F.min(F.col("n_risk") - F.col("d")).over(w_cum) <= 0, F.lit(0.0)
        )
        .otherwise(F.round(F.exp(F.sum("lnterm").over(w_cum)), 6))
        .alias("survival"),
    )
