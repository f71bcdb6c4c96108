"""Sort / limit / union / intersect / except (SURVEY §2.6).

Scale notes: global sort is a range-partitioned exchange (sampled split
points) — fine at any scale when the output is consumed distributed;
`orderBy().limit(k)` is planned as TakeOrderedAndProject (per-partition top-k
then a k-row merge at the driver), NOT a full sort. Set ops hash-partition
both sides on all columns — same cost class as a groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_aws_spark.registry import query
from data_pipeline_aws_spark.tables import read_parquet, table


@query(
    "q_sort",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice AS totalprice
FROM orders
WHERE o_orderstatus = 'F'
ORDER BY totalprice DESC, o_orderkey
""",
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total-order sort (range-partitioned exchange + per-partition
    sort). Tie-broken on the key so output is fully deterministic."""
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("totalprice"))
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
    )


@query(
    "q_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice AS totalprice
FROM orders
ORDER BY totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: planned as TakeOrderedAndProject — each task keeps a k-row
    heap, driver merges k×tasks rows; no global sort, no full shuffle.
    Deterministic via the orderkey tiebreak."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("totalprice"))
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q_union",
    oracle="""
SELECT 'big_spender' AS cohort, o_orderkey, o_custkey FROM orders WHERE o_totalprice > 280000
UNION ALL
SELECT 'urgent' AS cohort, o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two tagged slices (multi-batch/multi-env merge — the
    reference's per-env outputs concatenated). unionByName aligns columns by
    name, not position, so schema drift between branches fails loudly."""
    o = table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 280000).select(
        F.lit("big_spender").alias("cohort"), "o_orderkey", "o_custkey"
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("cohort"), "o_orderkey", "o_custkey"
    )
    return big.unionByName(urgent)


@query(
    "q_setops",
    oracle="""
SELECT o_custkey AS custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
""",
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT then EXCEPT (both distinct-set semantics): customers active
    in 1996 AND 1997, minus any customer with a pending order.

    Executed as ONE-PASS conditional aggregation rather than chained
    `.intersect()/.subtract()`: the literal set-op plan scans orders three
    times and shuffles three distinct key sets; folding the three membership
    predicates into per-custkey bool_or flags costs one scan and one
    shuffle — the only formulation that survives a fact table at 100 TB.
    Distinct-set semantics are preserved exactly (the groupBy key IS the
    distinct), which is what the INTERSECT/EXCEPT oracle checks."""
    o = table(spark, sf_dir, "orders")

    def in_year(year: int):
        return (
            F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp")
        ) & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))

    flags = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(in_year(1996)).alias("a96"),
            F.max(in_year(1997)).alias("a97"),
            F.max(F.col("o_orderstatus") == "P").alias("pending"),
        )
    )
    return flags.where(
        F.col("a96") & F.col("a97") & ~F.col("pending")
    ).select("custkey")


@query(
    "q_snapshot_diff",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 103 <> 0
),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0
              THEN ((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 110 + 50)
                    // 100) / 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 101 <> 0
)
SELECT
  CASE WHEN v1.o_orderkey IS NULL THEN 'added'
       WHEN v2.o_orderkey IS NULL THEN 'deleted'
       ELSE 'updated' END                         AS change_type,
  COALESCE(v1.o_orderkey, v2.o_orderkey)          AS o_orderkey,
  v1.o_totalprice                                 AS old_price,
  v2.o_totalprice                                 AS new_price
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
   OR v1.o_totalprice <> v2.o_totalprice
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data-feed derivation: given two versions of a
    table, emit (change_type, key, old, new) for every added, deleted, or
    updated row — the verb behind Delta/Iceberg CDF, audit tables, and
    downstream incremental refresh. Versions are derived deterministically
    from the fixture (v1 drops keys ≡0 mod 103 as 'arrived later'; v2 drops
    keys ≡0 mod 101 as 'deleted' and bumps prices on keys ≡0 mod 97).

    One full-outer hash join on the primary key, then a residual filter
    keeps only actual changes — unchanged rows (the overwhelming majority
    of any real snapshot pair) are discarded BEFORE any further processing,
    so the output scales with churn, not table size. Both version filters
    are pushable scan predicates on the same file relation; value equality
    compares the raw stored doubles for unchanged rows, and the update
    bump rides integer cents — (cents·110 + 50) div 100 — because a
    per-row ROUND(price·1.1, 2) double can tie-break differently across
    engines (seen at sf0.1)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = o.where(F.col("o_orderkey") % 103 != 0).alias("v1")
    bumped = (
        F.expr(
            "(cast(round(o_totalprice * 100) as bigint) * 110 + 50) div 100"
        )
        / 100.0
    )
    v2 = (
        o.where(F.col("o_orderkey") % 101 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 97 == 0, bumped)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .alias("v2")
    )
    joined = v1.join(v2, F.col("v1.o_orderkey") == F.col("v2.o_orderkey"), "full")
    return joined.where(
        F.col("v1.o_orderkey").isNull()
        | F.col("v2.o_orderkey").isNull()
        | (F.col("v1.o_totalprice") != F.col("v2.o_totalprice"))
    ).select(
        F.when(F.col("v1.o_orderkey").isNull(), "added")
        .when(F.col("v2.o_orderkey").isNull(), "deleted")
        .otherwise("updated")
        .alias("change_type"),
        F.coalesce(F.col("v1.o_orderkey"), F.col("v2.o_orderkey")).alias("o_orderkey"),
        F.col("v1.o_totalprice").alias("old_price"),
        F.col("v2.o_totalprice").alias("new_price"),
    )


@query(
    "q_union_evolution",
    oracle="""
WITH gen1 AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority,
         'gen1' AS generation
  FROM orders WHERE o_orderkey % 2 = 0
),
gen2 AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority, 'gen2' AS generation
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT generation,
       CAST(COUNT(*) AS BIGINT)                          AS n_rows,
       CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS n_priority_nulls,
       ROUND(SUM(o_totalprice), 2)                       AS revenue
FROM (SELECT * FROM gen1 UNION ALL SELECT * FROM gen2)
GROUP BY generation
""",
)
def q_union_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-level schema-drift union: an older extract generation lacks a
    column the newer one carries; `unionByName(allowMissingColumns=True)`
    aligns by NAME and null-fills the missing column — the in-plan
    counterpart to `q_schema_evolution`'s file-level mergeSchema read (one
    handles drift at scan time, this handles it when two already-loaded
    lineages must combine). Positional unionAll would silently mis-bind
    here; the accounting output (rows and null-fill count per generation)
    is what an ingest audit publishes.

    Scale: the union is a plan concatenation — zero shuffle of its own;
    both branch filters are pushable; the report aggregate is the only
    exchange."""
    o = table(spark, sf_dir, "orders")
    gen1 = (
        o.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .withColumn("generation", F.lit("gen1"))
    )
    gen2 = (
        o.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .withColumn("generation", F.lit("gen2"))
    )
    merged = gen1.unionByName(gen2, allowMissingColumns=True)
    return merged.groupBy("generation").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("n_priority_nulls"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "q_cdc_apply",
    oracle="""
WITH base AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
v1 AS (
  SELECT o_orderkey, cents FROM base WHERE o_orderkey % 103 <> 0
),
v2_expected AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0
              THEN (cents * 110 + 50) // 100 ELSE cents END AS cents
  FROM base WHERE o_orderkey % 101 <> 0
),
feed AS (
  SELECT
    CASE WHEN v1.o_orderkey IS NULL THEN 'added'
         WHEN v2.o_orderkey IS NULL THEN 'deleted'
         ELSE 'updated' END                AS change_type,
    COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
    v2.cents                               AS new_cents
  FROM v1 FULL OUTER JOIN v2_expected v2 ON v1.o_orderkey = v2.o_orderkey
  WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
     OR v1.cents <> v2.cents
),
reconstructed AS (
  SELECT o_orderkey,
         COALESCE(f.new_cents, b.cents) AS cents
  FROM v1 b
  LEFT JOIN feed f USING (o_orderkey)
  WHERE f.change_type IS NULL OR f.change_type = 'updated'
  UNION ALL
  SELECT o_orderkey, new_cents FROM feed WHERE change_type = 'added'
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  ROUND(SUM(cents) / 100.0, 2) AS total_price,
  CAST((SELECT COUNT(*) FROM v2_expected) AS BIGINT) AS expected_rows,
  (SELECT ROUND(SUM(cents) / 100.0, 2) FROM v2_expected) AS expected_total
FROM reconstructed
""",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — the consumer half of `q_snapshot_diff`: replay a change
    feed (added/deleted/updated rows) onto the old snapshot and prove the
    reconstruction equals the new snapshot. Together the two operators
    close the loop a warehouse runs daily: derive the feed from snapshots
    upstream, apply it to cheap incremental copies downstream.

    Apply is one left join of the base against the (churn-sized) feed:
    deleted keys drop, updated keys take the feed's value, unmatched keys
    pass through, and 'added' rows append via a zero-shuffle union. The
    feed side scales with churn, so at 100 TB it broadcasts (or
    shuffle-hash-joins) against a base that never re-sorts. The output
    row carries both the reconstruction's and the expected snapshot's
    count and total — equal columns are the proof, checked exactly by the
    oracle."""
    # All price arithmetic rides integer CENTS: at sf0.1 a per-row
    # ROUND(price*1.1, 2) double can tie-break differently across engines
    # and a 150k-row double SUM is summation-order-dependent; the
    # (cents*110 + 50) div 100 update rule and bigint sums are exact and
    # identical everywhere.
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v1 = o.where(F.col("o_orderkey") % 103 != 0)
    v2 = o.where(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.expr("(cents * 110 + 50) div 100"),
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    a, b = v1.alias("v1"), v2.alias("v2")
    feed = (
        a.join(b, F.col("v1.o_orderkey") == F.col("v2.o_orderkey"), "full")
        .where(
            F.col("v1.o_orderkey").isNull()
            | F.col("v2.o_orderkey").isNull()
            | (F.col("v1.cents") != F.col("v2.cents"))
        )
        .select(
            F.when(F.col("v1.o_orderkey").isNull(), "added")
            .when(F.col("v2.o_orderkey").isNull(), "deleted")
            .otherwise("updated")
            .alias("change_type"),
            F.coalesce(F.col("v1.o_orderkey"), F.col("v2.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.col("v2.cents").alias("new_cents"),
        )
    )
    surviv = (
        v1.join(feed, "o_orderkey", "left")
        .where(F.col("change_type").isNull() | (F.col("change_type") == "updated"))
        .select(
            "o_orderkey",
            F.coalesce("new_cents", "cents").alias("cents"),
        )
    )
    added = feed.where(F.col("change_type") == "added").select(
        "o_orderkey", F.col("new_cents").alias("cents")
    )
    recon = surviv.unionByName(added)
    total = F.round(F.sum("cents") / 100.0, 2)
    expected = v2.agg(
        F.count(F.lit(1)).alias("expected_rows"),
        total.alias("expected_total"),
    )
    return (
        recon.agg(
            F.count(F.lit(1)).alias("n_rows"),
            total.alias("total_price"),
        )
        .crossJoin(F.broadcast(expected))
    )


@query(
    "q_setops_all",
    oracle="""
WITH a AS (
  SELECT o_custkey, o_orderpriority FROM orders
  WHERE o_orderdate < TIMESTAMP '1998-01-01'
),
b AS (
  SELECT o_custkey, o_orderpriority FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
),
i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
x AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
SELECT 'both' AS tag, o_custkey, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n
FROM i GROUP BY o_custkey, o_orderpriority
UNION ALL
SELECT 'only_early', o_custkey, o_orderpriority, CAST(COUNT(*) AS BIGINT)
FROM x GROUP BY o_custkey, o_orderpriority
""",
)
def q_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations — `intersectAll` / `exceptAll` (SQL
    INTERSECT ALL / EXCEPT ALL): per (customer, priority) multiset of
    early-era vs late-era orders, intersection keeps min(multiplicity)
    copies and difference keeps the excess — the variants q_setops'
    distinct-set forms deliberately collapse (a customer with three
    early 1-URGENT orders and one late one contributes 1 to INTERSECT
    ALL×... and 2 to EXCEPT ALL; DISTINCT forms would say just
    'present').

    Spark plans both as aggregate-count + generate (replicate_rows) —
    one shuffle per operand pair on the full row key, no join explosion;
    the output re-aggregates multiplicities into counts so the result is
    key-grain bounded. The date split predicate pushes to both scans."""
    o = table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderdate") < "1998-01-01").select(
        "o_custkey", "o_orderpriority"
    )
    b = o.where(F.col("o_orderdate") >= "1998-01-01").select(
        "o_custkey", "o_orderpriority"
    )
    both = (
        a.intersectAll(b)
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("both").alias("tag"), "o_custkey", "o_orderpriority", "n")
    )
    only_early = (
        a.exceptAll(b)
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("only_early").alias("tag"), "o_custkey", "o_orderpriority", "n"
        )
    )
    return both.unionByName(only_early)


# --- MERGE with deletion vectors (merge-on-read) ---------------------------
MERGE_DV_FILES = 16  # base "files": o_orderkey % 16 buckets, row_number pos
MERGE_DV_INSERT_OFFSET = 10_000_000  # synthetic insert key = o_orderkey + OFFSET

# The ONE DuckDB replay of the MERGE fixture (base files / feed / DV /
# delta / merged read-path / expected copy-on-write rewrite) — shared by
# the batch MERGE oracle and the streaming MERGE oracle (streaming/jobs.py),
# since the streamed epochs must converge to exactly this state.
MERGE_DV_CTES = f"""base AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderkey % {MERGE_DV_FILES} AS INT) AS file_id,
         ROW_NUMBER() OVER (PARTITION BY o_orderkey % {MERGE_DV_FILES}
                            ORDER BY o_orderkey) AS pos
  FROM orders
),
feed AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'delete' ELSE 'update' END AS op,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              ELSE (cents * 105 + 50) // 100 END AS new_cents
  FROM base WHERE o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + {MERGE_DV_INSERT_OFFSET}, 'insert', cents + 1
  FROM base WHERE o_orderkey % 997 = 0
),
dv AS (
  SELECT b.file_id, b.pos
  FROM base b JOIN feed f ON b.o_orderkey = f.o_orderkey
  WHERE f.op IN ('delete', 'update')
),
delta AS (
  SELECT o_orderkey, new_cents AS cents FROM feed WHERE op IN ('update', 'insert')
),
live_base AS (
  SELECT b.o_orderkey, b.cents, b.file_id
  FROM base b LEFT JOIN dv ON b.file_id = dv.file_id AND b.pos = dv.pos
  WHERE dv.pos IS NULL
),
merged AS (
  SELECT o_orderkey, cents FROM live_base
  UNION ALL SELECT o_orderkey, cents FROM delta
),
expected AS (
  SELECT b.o_orderkey,
         CASE WHEN b.o_orderkey % 7 = 0 THEN (b.cents * 105 + 50) // 100
              ELSE b.cents END AS cents
  FROM base b WHERE b.o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + {MERGE_DV_INSERT_OFFSET}, cents + 1
  FROM base WHERE o_orderkey % 997 = 0
)"""

_MERGE_DV_ORACLE = f"""
WITH {MERGE_DV_CTES},
per_file AS (
  SELECT b.file_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN dv.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dv_marked
  FROM base b LEFT JOIN dv ON b.file_id = dv.file_id AND b.pos = dv.pos
  GROUP BY b.file_id
)
SELECT CAST(COUNT(*) AS BIGINT)                                   AS n_files,
       CAST(SUM(n_rows) AS BIGINT)                                AS n_base_rows,
       CAST(SUM(n_dv_marked) AS BIGINT)                           AS n_dv_marked,
       ROUND(SUM(n_dv_marked) * 1.0 / SUM(n_rows), 6)             AS dv_fraction,
       ROUND(MAX(n_dv_marked * 1.0 / n_rows), 6)                  AS max_file_dv_fraction,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM delta)               AS n_delta_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM merged)              AS n_live,
       (SELECT CAST(SUM(cents) AS BIGINT) FROM merged)            AS total_cents,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM expected)            AS expected_rows,
       (SELECT CAST(SUM(cents) AS BIGINT) FROM expected)          AS expected_cents
FROM per_file
"""


def merge_dv_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The immutable base-table fixture under q_merge_dv AND the streaming
    MERGE (q_stream_merge): orders keyed into MERGE_DV_FILES buckets with a
    deterministic (file_id, pos) row address and integer cents. Guards the
    insert-offset range (a real key at/above the offset would collide with
    a synthetic insert — fail loudly via a lazy per-row check)."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").where(
        F.when(F.col("o_orderkey") < MERGE_DV_INSERT_OFFSET, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("merge_dv: o_orderkey "),
                    F.col("o_orderkey").cast("string"),
                    F.lit(
                        f" >= insert offset {MERGE_DV_INSERT_OFFSET};"
                        " raise MERGE_DV_INSERT_OFFSET"
                    ),
                )
            )
        )
    )
    return (
        orders.select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            (F.col("o_orderkey") % MERGE_DV_FILES).cast("int").alias("file_id"),
        )
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("file_id").orderBy("o_orderkey")
            ),
        )
    )


def merge_dv_feed(base: DataFrame) -> DataFrame:
    """The MERGE feed (o_orderkey, op, new_cents) derived from the base
    fixture — deletes (%13), updates (%7, integer-cents 5% bump), inserts
    (%997, offset keys). ONE definition under the batch MERGE and the
    streaming MERGE so their copy-on-write equality proofs are comparable
    by construction."""
    return (
        base.where((F.col("o_orderkey") % 13 == 0) | (F.col("o_orderkey") % 7 == 0))
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 13 == 0, "delete")
            .otherwise("update")
            .alias("op"),
            F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("long"))
            .otherwise(F.expr("(cents * 105 + 50) div 100"))
            .alias("new_cents"),
        )
        .unionByName(
            base.where(F.col("o_orderkey") % 997 == 0).select(
                (F.col("o_orderkey") + MERGE_DV_INSERT_OFFSET).alias("o_orderkey"),
                F.lit("insert").alias("op"),
                (F.col("cents") + 1).alias("new_cents"),
            )
        )
    )


def merge_dv_marks(base: DataFrame, feed: DataFrame) -> DataFrame:
    """The deletion-vector relation (file_id, pos) for a base + feed pair —
    ONE definition under q_merge_dv, q_compaction_plan and the streaming
    MERGE's read path, so a change to which ops mark a row can never fork
    between the MERGE, the compaction policy and the stream."""
    return base.join(
        feed.where(F.col("op").isin("delete", "update")).select("o_orderkey"),
        "o_orderkey",
    ).select("file_id", "pos")


def merge_dv_expected(base: DataFrame) -> DataFrame:
    """The naive copy-on-write rewrite (o_orderkey, cents) the MERGE must
    equal — the equality-proof side of q_merge_dv AND q_stream_merge, kept
    as one definition so the churn rule (delete %13, update 5%% integer
    bump, insert %997 at offset keys) cannot drift between the two
    proofs."""
    return (
        base.where(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.expr("(cents * 105 + 50) div 100")
            )
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionByName(
            base.where(F.col("o_orderkey") % 997 == 0).select(
                (F.col("o_orderkey") + MERGE_DV_INSERT_OFFSET).alias("o_orderkey"),
                (F.col("cents") + 1).alias("cents"),
            )
        )
    )


@query("q_merge_dv", oracle=_MERGE_DV_ORACLE)
def q_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO with deletion vectors — the merge-on-read strategy of
    Delta Lake / Iceberg v2, built on the existing snapshot/CDC rails. The
    base table lives in immutable "files" (o_orderkey % 16 buckets, each
    row addressed by a deterministic (file_id, pos)); a MERGE feed of
    deletes / updates / inserts is applied WITHOUT rewriting base files:
    deleted and updated positions land in a deletion-vector sidecar, new
    and updated row VALUES append to a delta file, and the read path is
    base ANTI-JOIN dv UNION delta. One bounded report row: per-file DV
    stats (count / fraction / worst file) plus the copy-on-write proof —
    merged row count and exact cents total must equal the naive full
    rewrite (expected_* columns; the oracle checks equality by hash).

    Scale shape: the DV is (file_id, pos) — fixed-width currency however
    wide the rows, exactly why production formats use it; the anti-join
    touches only churn-sized state; unchanged base rows are NEVER
    rewritten or shuffled with the feed (the left-anti probes a broadcast
    churn-sized DV); the delta append is a zero-shuffle union. At 100 TB
    the win over copy-on-write MERGE (q_upsert / q_cdc_apply's shape) is
    precisely that write amplification stays O(churn), not O(table) —
    dv_fraction per file is the compaction trigger a table service reads.
    All money arithmetic rides integer cents (the q_cdc_apply rule)."""
    base = merge_dv_base(spark, sf_dir).localCheckpoint()
    # checkpointed once: feeds feed/dv/live_base/per_file/expected
    feed = merge_dv_feed(base)
    dv = merge_dv_marks(base, feed)
    delta = feed.where(F.col("op").isin("update", "insert")).select(
        "o_orderkey", F.col("new_cents").alias("cents")
    )
    live_base = base.join(F.broadcast(dv), ["file_id", "pos"], "left_anti")
    merged = live_base.select("o_orderkey", "cents").unionByName(delta)
    expected = merge_dv_expected(base)
    per_file = (
        base.join(F.broadcast(dv.withColumn("marked", F.lit(1))), ["file_id", "pos"], "left")
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce("marked", F.lit(0))).alias("n_dv_marked"),
        )
    )
    report = per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").alias("n_base_rows"),
        F.sum("n_dv_marked").alias("n_dv_marked"),
        F.round(F.sum("n_dv_marked") * 1.0 / F.sum("n_rows"), 6).alias("dv_fraction"),
        F.round(F.max(F.col("n_dv_marked") * 1.0 / F.col("n_rows")), 6).alias(
            "max_file_dv_fraction"
        ),
    )
    m_stats = merged.agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum("cents").alias("total_cents"),
    )
    e_stats = expected.agg(
        F.count(F.lit(1)).alias("expected_rows"),
        F.sum("cents").alias("expected_cents"),
    )
    d_stats = delta.agg(F.count(F.lit(1)).alias("n_delta_rows"))
    return (
        report.crossJoin(F.broadcast(d_stats))
        .crossJoin(F.broadcast(m_stats))
        .crossJoin(F.broadcast(e_stats))
        .select(
            "n_files",
            "n_base_rows",
            "n_dv_marked",
            "dv_fraction",
            "max_file_dv_fraction",
            "n_delta_rows",
            "n_live",
            "total_cents",
            "expected_rows",
            "expected_cents",
        )
    )


COMPACT_PLAN_TOP_K = 4  # files rewritten per maintenance cycle


@query(
    "q_compaction_plan",
    oracle=f"""
WITH {MERGE_DV_CTES},
per_file AS (
  SELECT b.file_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN dv.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dv_marked
  FROM base b LEFT JOIN dv ON b.file_id = dv.file_id AND b.pos = dv.pos
  GROUP BY b.file_id
)
SELECT file_id, n_rows, n_dv_marked,
       ROUND(n_dv_marked * 1.0 / n_rows, 6) AS dv_fraction,
       CAST(rk AS INT) AS compaction_rank,
       n_rows - n_dv_marked AS live_rows_after
FROM (
  SELECT *, ROW_NUMBER() OVER (
           ORDER BY ROUND(n_dv_marked * 1.0 / n_rows, 6) DESC, file_id) AS rk
  FROM per_file
) WHERE rk <= {COMPACT_PLAN_TOP_K}
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-service compaction planner — the decision loop q_merge_dv's
    per-file DV stats exist to feed: each maintenance cycle rewrites the
    K files with the highest deletion-vector fraction (rank on the
    ROUNDED fraction with a file_id tiebreak, so the plan is
    deterministic cross-engine), reclaiming their dead rows and resetting
    their DV. Emits the planned cycle: file, row/mark counts, fraction,
    rank, and the live rows the rewrite will carry.

    Scale shape: per-file stats are ONE broadcast-DV probe + file-grain
    aggregate (|files| rows — bounded metadata, exactly what a real table
    service reads from manifest/DV metadata without touching data); the
    top-K is a window over that bounded relation. The expensive part of
    compaction — the rewrite itself — is q_compact's verb; this key is
    the policy that schedules it."""
    base = merge_dv_base(spark, sf_dir).localCheckpoint()
    dv = merge_dv_marks(base, merge_dv_feed(base))
    per_file = (
        base.join(
            F.broadcast(dv.withColumn("marked", F.lit(1))), ["file_id", "pos"], "left"
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce("marked", F.lit(0))).alias("n_dv_marked"),
        )
    )
    from pyspark.sql import Window

    frac = F.round(F.col("n_dv_marked") * 1.0 / F.col("n_rows"), 6)
    w = Window.orderBy(F.desc("dv_fraction"), F.asc("file_id"))
    return (
        per_file.withColumn("dv_fraction", frac)
        .withColumn("compaction_rank", F.row_number().over(w))
        .where(F.col("compaction_rank") <= COMPACT_PLAN_TOP_K)
        .select(
            "file_id",
            "n_rows",
            "n_dv_marked",
            "dv_fraction",
            "compaction_rank",
            (F.col("n_rows") - F.col("n_dv_marked")).alias("live_rows_after"),
        )
    )


def _compaction_exec_cache_dir(sf_dir: str) -> str:
    from data_pipeline_aws_spark.caches import versioned_cache_dir

    return versioned_cache_dir("compactexec", sf_dir, __file__)


@query(
    "q_compaction_execute",
    oracle=f"""
WITH {MERGE_DV_CTES},
per_file AS (
  SELECT b.file_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN dv.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dv_marked
  FROM base b LEFT JOIN dv ON b.file_id = dv.file_id AND b.pos = dv.pos
  GROUP BY b.file_id
),
sel AS (
  SELECT file_id FROM (
    SELECT file_id, ROW_NUMBER() OVER (
             ORDER BY ROUND(n_dv_marked * 1.0 / n_rows, 6) DESC, file_id) AS rk
    FROM per_file
  ) WHERE rk <= {COMPACT_PLAN_TOP_K}
),
rewritten AS (
  SELECT b.o_orderkey, b.cents, b.file_id, b.pos
  FROM base b JOIN sel s ON b.file_id = s.file_id
  LEFT JOIN dv ON b.file_id = dv.file_id AND b.pos = dv.pos
  WHERE dv.pos IS NULL
),
untouched AS (
  SELECT b.o_orderkey, b.cents, b.file_id, b.pos
  FROM base b LEFT JOIN sel s ON b.file_id = s.file_id
  WHERE s.file_id IS NULL
),
dv_after AS (
  SELECT d.file_id, d.pos
  FROM dv d LEFT JOIN sel s ON d.file_id = s.file_id
  WHERE s.file_id IS NULL
),
after_base AS (
  SELECT * FROM untouched UNION ALL SELECT * FROM rewritten
),
after_live AS (
  SELECT a.o_orderkey, a.cents
  FROM after_base a LEFT JOIN dv_after d
    ON a.file_id = d.file_id AND a.pos = d.pos
  WHERE d.pos IS NULL
  UNION ALL SELECT o_orderkey, cents FROM delta
),
pf_after AS (
  SELECT a.file_id,
         COUNT(*) AS n_rows,
         SUM(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END) AS marked
  FROM after_base a LEFT JOIN dv_after d
    ON a.file_id = d.file_id AND a.pos = d.pos
  GROUP BY a.file_id
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM sel)          AS n_files_selected,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM rewritten)    AS rows_written,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM base)         AS n_base_rows,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM dv)           AS dv_before,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM dv_after)     AS dv_after,
  (SELECT CAST(COUNT(*) AS BIGINT)
   FROM dv_after d JOIN sel s ON d.file_id = s.file_id) AS dv_on_rewritten,
  (SELECT ROUND(MAX(marked * 1.0 / n_rows), 6) FROM pf_after)
                                                      AS max_file_dv_fraction_after,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM merged)       AS n_live_before,
  (SELECT CAST(SUM(cents) AS BIGINT) FROM merged)     AS cents_before,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM after_live)   AS n_live_after,
  (SELECT CAST(SUM(cents) AS BIGINT) FROM after_live) AS cents_after
""",
)
def q_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the compaction cycle q_compaction_plan schedules — closing
    the MERGE → DV stats → plan → EXECUTE loop a production lakehouse
    table service runs. The layout lands physically (versioned cache, the
    q_stream_merge rails): base as file_id-partitioned parquet, DV and
    delta sidecars; the executor then rewrites ONLY the planned top-K
    files — live rows (DV-applied) written to a `rewritten/` layout — and
    drops those files' DV entries. Untouched base files are NEVER
    re-written or re-opened for write (the post-compaction table is the
    original untouched dirs UNION the K rewritten dirs — write
    amplification is O(selected live rows), pinned by the rows_written
    column and the layout test). The report row carries the full proof:
    the post-compaction read path (after_base ANTI dv_after UNION delta)
    must equal the pre-compaction MERGE state in row count AND exact
    integer-cents total; dv_on_rewritten must be 0 (the rewrite reset
    them); max_file_dv_fraction_after shows the policy bite (the worst
    remaining file is the (K+1)-th ranked one). The oracle replays the
    entire chain — plan ranking, rewrite, DV reset, both read paths —
    as one CTE pipeline, so convergence is checked by value hash.

    Scale shape: planning reads bounded per-file metadata (|files| rows);
    the rewrite shuffles nothing — it is a partition-pruned scan of the K
    selected files anti-joined against a broadcast churn-sized DV, written
    back partition-parallel; the equality proof aggregates each read path
    to one row. At 100 TB the rewrite cost is proportional to the K files'
    live bytes, never the table, which is the entire point of DV-first
    MERGE + scheduled compaction. Money stays integer cents end to end."""
    import os

    from data_pipeline_aws_spark import caches

    def build(stage: str) -> None:
        base = merge_dv_base(spark, sf_dir)
        base.write.partitionBy("file_id").mode("overwrite").parquet(
            os.path.join(stage, "base")
        )
        base_b = read_parquet(spark, os.path.join(stage, "base"))
        feed = merge_dv_feed(base_b)
        merge_dv_marks(base_b, feed).write.mode("overwrite").parquet(
            os.path.join(stage, "dv")
        )
        feed.where(F.col("op").isin("update", "insert")).select(
            "o_orderkey", F.col("new_cents").alias("cents")
        ).write.mode("overwrite").parquet(os.path.join(stage, "delta"))
        dv_b = read_parquet(spark, os.path.join(stage, "dv"))
        per_file = (
            base_b.join(
                F.broadcast(dv_b.withColumn("marked", F.lit(1))),
                ["file_id", "pos"],
                "left",
            )
            .groupBy("file_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.coalesce("marked", F.lit(0))).alias("n_dv_marked"),
            )
        )
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("dv_fraction"), F.asc("file_id"))
        # the planned file set: K ints — bounded metadata, the one
        # driver-side decision a table service makes per cycle
        selected = [
            r.file_id
            for r in per_file.withColumn(
                "dv_fraction",
                F.round(F.col("n_dv_marked") * 1.0 / F.col("n_rows"), 6),
            )
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= COMPACT_PLAN_TOP_K)
            .select("file_id")
            .collect()
        ]
        spark.createDataFrame(
            [(int(f),) for f in selected], "file_id int"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(stage, "selected")
        )
        # THE rewrite: live rows of the K planned files only —
        # partition-pruned scan, broadcast DV anti-join, zero shuffle
        base_b.where(F.col("file_id").isin(selected)).join(
            F.broadcast(dv_b), ["file_id", "pos"], "left_anti"
        ).write.partitionBy("file_id").mode("overwrite").parquet(
            os.path.join(stage, "rewritten")
        )
        # DV reset for the rewritten files
        dv_b.where(~F.col("file_id").isin(selected)).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "dv_after"))

    out = caches.materialize(_compaction_exec_cache_dir(sf_dir), build)

    base = read_parquet(spark, os.path.join(out, "base"))
    dv = read_parquet(spark, os.path.join(out, "dv"))
    delta = read_parquet(spark, os.path.join(out, "delta"))
    sel = read_parquet(spark, os.path.join(out, "selected"))
    rewritten = read_parquet(spark, os.path.join(out, "rewritten"))
    dv_after = read_parquet(spark, os.path.join(out, "dv_after"))

    untouched = base.join(F.broadcast(sel), "file_id", "left_anti")
    after_base = untouched.select(
        "o_orderkey", "cents", "file_id", "pos"
    ).unionByName(rewritten.select("o_orderkey", "cents", "file_id", "pos"))
    before_live = base.join(
        F.broadcast(dv.select("file_id", "pos")), ["file_id", "pos"], "left_anti"
    ).select("o_orderkey", "cents").unionByName(delta.select("o_orderkey", "cents"))
    after_live = after_base.join(
        F.broadcast(dv_after.select("file_id", "pos")), ["file_id", "pos"], "left_anti"
    ).select("o_orderkey", "cents").unionByName(delta.select("o_orderkey", "cents"))
    pf_after = (
        after_base.join(
            F.broadcast(dv_after.withColumn("marked", F.lit(1))),
            ["file_id", "pos"],
            "left",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce("marked", F.lit(0))).alias("marked"),
        )
    )

    one = lambda df, *aggs: F.broadcast(df.agg(*aggs))  # noqa: E731
    return (
        one(sel, F.count(F.lit(1)).alias("n_files_selected"))
        .crossJoin(one(rewritten, F.count(F.lit(1)).alias("rows_written")))
        .crossJoin(one(base, F.count(F.lit(1)).alias("n_base_rows")))
        .crossJoin(one(dv, F.count(F.lit(1)).alias("dv_before")))
        .crossJoin(one(dv_after, F.count(F.lit(1)).alias("dv_after")))
        .crossJoin(
            one(
                dv_after.join(F.broadcast(sel), "file_id"),
                F.count(F.lit(1)).alias("dv_on_rewritten"),
            )
        )
        .crossJoin(
            one(
                pf_after,
                F.round(F.max(F.col("marked") * 1.0 / F.col("n_rows")), 6).alias(
                    "max_file_dv_fraction_after"
                ),
            )
        )
        .crossJoin(
            one(
                before_live,
                F.count(F.lit(1)).alias("n_live_before"),
                F.sum("cents").alias("cents_before"),
            )
        )
        .crossJoin(
            one(
                after_live,
                F.count(F.lit(1)).alias("n_live_after"),
                F.sum("cents").alias("cents_after"),
            )
        )
    )
