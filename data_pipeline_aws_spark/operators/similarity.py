"""Similarity search over the embedding column (north-star): exact cosine
top-k baseline + LSH-bucketed approximate variant (the scale path).

Embeddings are `array<float>` (dim 64); all arithmetic is JVM-side
higher-order functions (`zip_with`/`aggregate`) — vectors never leave
Tungsten rows, no Python, no UDF.

Scale design: brute-force top-k is O(|Q|·|C|) dot products — correct, and
fine when |Q| is a bounded query batch; the corpus side stays partitioned and
each task emits only its local top-k heap via the rank-window + WindowGroupLimit
plan. For corpus×corpus at 100 TB, q_sim_lsh buckets vectors by
random-hyperplane signature so only same-bucket pairs are scored (recall
tunable by signature width / multi-probe).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_aws_spark.registry import query
from data_pipeline_aws_spark.tables import read_parquet, table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query batch


def _dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    return e.select("vec_id", "label", emb_d.alias("e")).withColumn(
        "nrm", F.sqrt(_dot(F.col("e"), F.col("e")))
    )


@query(
    "q_sim_topk",
    oracle=f"""
WITH n AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos_sim
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, neighbor_label, cos_sim, rn AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
""",
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for a 10-vector query batch.

    Ranking uses the ROUNDED cosine plus a neighbor-id tiebreak so both
    engines rank identically even at float ulp boundaries.
    """
    n = _normed(spark, sf_dir)
    q = n.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cos_sim", "rank")
    )


@query(
    "q_sim_lsh",
    oracle="""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
planes AS (
  SELECT plane,
         list_transform(range(0, 64), d ->
           CASE WHEN CAST(concat('0x', substr(md5(concat(plane, ':', d)), 1, 4))
                     AS INTEGER) % 2 = 0
                THEN 1.0 ELSE -1.0 END)::DOUBLE[] AS pv
  FROM range(8) t(plane)
),
sigs AS (
  SELECT n.vec_id,
         CAST(SUM(CASE WHEN ROUND(list_dot_product(n.e, p.pv), 6) >= 0
                       THEN (1 << p.plane) ELSE 0 END) AS BIGINT) AS sig
  FROM n CROSS JOIN planes p GROUP BY n.vec_id
)
SELECT * FROM (
  SELECT a.vec_id AS v1, b.vec_id AS v2, a.sig AS bucket,
         ROUND(list_dot_product(na.e, nb.e) / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
) WHERE cos_sim >= 0.2
""",
)
def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate neighbor pairs — the corpus×corpus scale path.

    8 pseudo-random hyperplanes (sign pattern derived from the first 16
    bits of md5("plane:dim") — deterministic, no RNG state, and md5 is
    byte-identical in every engine, which is what lets the WHOLE operator
    carry a full hash oracle: DuckDB regrows the same planes, signatures,
    buckets, and rounded cosines) give each vector an 8-bit signature;
    only same-signature pairs are scored exactly. At 100 TB the bucket
    join replaces the quadratic cross product with sum-over-buckets of
    |bucket|², and multi-probe (flipping low-confidence bits) recovers
    recall. Upgraded from rows-only in round 5: formerly murmur3-derived
    planes (Spark-private hash) made the pair set SQL-unreplayable.
    """
    n = _normed(spark, sf_dir)
    n_planes = 8
    # plane p component for dim i: ±1 by md5("p:i") — regenerable on any
    # executor (and any engine), no broadcast state needed at any scale.
    sign_src = F.conv(
        F.substring(F.md5(F.encode(F.concat_ws(":", "plane", "dim"), "UTF-8")), 1, 4),
        16,
        10,
    ).cast("long")
    planes = (
        spark.range(n_planes)
        .withColumnRenamed("id", "plane")
        .join(spark.range(64).withColumnRenamed("id", "dim"))
        .select(
            "plane",
            "dim",
            F.when(sign_src % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("w"),
        )
        .groupBy("plane")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "w"))).alias("dw"))
        .select("plane", F.transform("dw", lambda s: s.getField("w")).alias("pv"))
    )
    sig_bits = (
        n.join(F.broadcast(planes))
        .select(
            "vec_id",
            "plane",
            # sign decided on the 6-dp ROUNDED dot (same guard as cos_sim):
            # an unrounded >= 0 would let engine summation-order ulps flip a
            # bit on a dot within an ulp of zero and change the bucket set
            F.when(
                F.round(_dot("e", "pv"), 6) >= 0,
                F.expr("shiftleft(1, CAST(plane AS INT))"),
            )
            .otherwise(0)
            .alias("bit"),
        )
        .groupBy("vec_id")
        .agg(F.sum("bit").alias("sig"))
    )
    tagged = n.join(sig_bits, "vec_id")
    a = tagged.alias("a")
    b = tagged.alias("b")
    cos = F.round(
        _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            F.col("a.sig").alias("bucket"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.2)
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the other classic scale path next to LSH.

    Coarse quantizer: K=16 centroid vectors (here: the first 16 corpus
    vectors, standing in for k-means-trained centroids — the plan is
    identical once training swaps in). Every corpus vector is assigned to
    its nearest centroid (one numpy argmax per Arrow batch against the
    broadcast 16×64 centroid matrix); a query then probes only its nprobe=2
    nearest inverted lists and scores exactly inside them. At 100 TB the
    corpus shuffles ONCE on list id; each query touches nprobe/K of the data
    — the cross product never happens.
    """
    import numpy as np
    import pandas as pd

    k_centroids, n_probe, top_k = 16, 2, 5
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Bounded model state: K×64 floats — the "trained model" an IVF index
    # ships to every executor (same role as a broadcast variable).
    cent_rows = (
        e.filter(F.col("vec_id") < k_centroids).orderBy("vec_id").collect()
    )
    cents = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in cent_rows])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    def assign(batches, n_lists):
        def gen(it):
            for pdf in it:
                m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
                sims = m_n @ cents.T
                order = np.argsort(-sims, axis=1)[:, :n_lists]
                out = pdf.loc[pdf.index.repeat(n_lists)].reset_index(drop=True)
                out["list_id"] = order.reshape(-1).astype("int32")
                yield out[["vec_id", "embedding", "list_id"]]

        return gen(batches)

    corpus = e.mapInPandas(
        lambda it: assign(it, 1),
        "vec_id long, embedding array<float>, list_id int",
    )
    queries = e.filter(F.col("vec_id") < N_QUERIES).mapInPandas(
        lambda it: assign(it, n_probe),
        "vec_id long, embedding array<float>, list_id int",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "list_id",
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty or right.empty:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"), "neighbor_id": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        qm = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        cm = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        sims = (qm / np.linalg.norm(qm, axis=1, keepdims=True)) @ (
            cm / np.linalg.norm(cm, axis=1, keepdims=True)
        ).T
        qid = left["vec_id"].to_numpy()
        nid = right["vec_id"].to_numpy()
        ia, ib = np.nonzero(qid[:, None] != nid[None, :])
        return pd.DataFrame(
            {"query_id": qid[ia], "neighbor_id": nid[ib], "cos_sim": np.round(sims[ia, ib], 6)}
        )

    q_side = queries.select(
        "list_id", F.lit(0).alias("side"), F.col("query_id").alias("vec_id"), F.col("q_emb").alias("embedding")
    )
    c_side = corpus.select("list_id", F.lit(1).alias("side"), "vec_id", "embedding")
    scored = (
        q_side.unionByName(c_side)
        .groupBy("list_id")
        .applyInPandas(score, "query_id long, neighbor_id long, cos_sim double")
        # a neighbor can appear via both probed lists — keep one copy
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


@query(
    "q_sim_ivf",
    oracle=f"""
SELECT vec_id               AS query_id,
       CAST(5 AS BIGINT)    AS n_results,
       TRUE                 AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN audit with a BOUND-ASSERTION oracle (the q_hll_merge
    playbook — the trained-model probe path has no SQL twin, but its
    contract does): one row per query emitting (a) n_results — each query
    must return a full top-5 (the oracle recomputes the query set and
    pins 5) — and (b) a recall verdict: the IVF top-5 must overlap the
    EXACT brute-force top-5 (computed in-engine by the q_sim_topk plan)
    in at least 2 of 5 neighbors. The whole pipeline is deterministic, so
    the verdict is a hard floor, not a flaky statistic — measured per-
    query overlap is 3-5 at every SF (mean recall@5 ≈ 0.92), and the
    recall property test keeps pinning the aggregate. The probe detail
    grain lives in ivf_topk."""
    ivf = ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = q_sim_topk(spark, sf_dir).select(
        F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
    )
    joined = ivf.join(
        exact,
        (F.col("query_id") == F.col("qid")) & (F.col("neighbor_id") == F.col("nid")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.count("nid") >= 2).alias("recall_ok"),
    )


IVF_TUNE_PROBES = (1, 2, 4, 8)
# Floors calibrated from the measured curve at sf0.001/0.01/0.1 (0.90-1.0)
# with deliberate slack — the audit's contract is "never ship an nprobe
# below this recall", not "reproduce today's corpus luck".
IVF_TUNE_FLOORS = {1: 0.80, 2: 0.85, 4: 0.85, 8: 0.90}


def ivf_tune_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nprobe, n_queries, mean_recall5) — recall@5 vs probe count, ALL
    rungs from ONE probe pass (the q_matryoshka_recall shape): queries are
    assigned their 8 nearest lists once with the probe RANK retained,
    pairs are scored once per (list, query) visit, and each nprobe rung is
    a probe_rank filter over the same scored relation — never a re-scan
    per rung. Exact truth = the q_sim_topk brute-force top-5 (the same
    ROUND(cos,6)+id tiebreak contract)."""
    import numpy as np
    import pandas as pd

    k_centroids, top_k = 16, 5
    max_probe = max(IVF_TUNE_PROBES)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = (
        e.filter(F.col("vec_id") < k_centroids).orderBy("vec_id").collect()
    )
    cents = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in cent_rows])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    def assign_corpus(it):
        for pdf in it:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
            pdf = pdf.copy()
            pdf["list_id"] = np.argmax(m_n @ cents.T, axis=1).astype("int32")
            yield pdf[["vec_id", "embedding", "list_id"]]

    def assign_queries(it):
        for pdf in it:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
            order = np.argsort(-(m_n @ cents.T), axis=1)[:, :max_probe]
            out = pdf.loc[pdf.index.repeat(max_probe)].reset_index(drop=True)
            out["list_id"] = order.reshape(-1).astype("int32")
            out["probe_rank"] = np.tile(
                np.arange(max_probe, dtype="int32"), len(pdf)
            )
            yield out[["vec_id", "embedding", "list_id", "probe_rank"]]

    corpus = e.mapInPandas(
        assign_corpus, "vec_id long, embedding array<float>, list_id int"
    )
    queries = e.filter(F.col("vec_id") < N_QUERIES).mapInPandas(
        assign_queries,
        "vec_id long, embedding array<float>, list_id int, probe_rank int",
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty or right.empty:
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                    "probe_rank": pd.Series(dtype="int32"),
                }
            )
        qm = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        cm = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        sims = (qm / np.linalg.norm(qm, axis=1, keepdims=True)) @ (
            cm / np.linalg.norm(cm, axis=1, keepdims=True)
        ).T
        qid = left["vec_id"].to_numpy()
        pr = left["probe_rank"].to_numpy()
        nid = right["vec_id"].to_numpy()
        ia, ib = np.nonzero(qid[:, None] != nid[None, :])
        return pd.DataFrame(
            {
                "query_id": qid[ia],
                "neighbor_id": nid[ib],
                "cos_sim": np.round(sims[ia, ib], 6),
                "probe_rank": pr[ia].astype("int32"),
            }
        )

    q_side = queries.select(
        "list_id",
        F.lit(0).alias("side"),
        F.col("vec_id"),
        "embedding",
        "probe_rank",
    )
    c_side = corpus.select(
        "list_id",
        F.lit(1).alias("side"),
        "vec_id",
        "embedding",
        F.lit(0).cast("int").alias("probe_rank"),
    )
    pairs = (
        q_side.unionByName(c_side)
        .groupBy("list_id")
        .applyInPandas(
            score,
            "query_id long, neighbor_id long, cos_sim double, probe_rank int",
        )
    )
    rungs = pairs.withColumn(
        "nprobe",
        F.explode(F.array(*[F.lit(x) for x in IVF_TUNE_PROBES])),
    ).where(F.col("probe_rank") < F.col("nprobe"))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    topk = (
        rungs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("nprobe", "query_id", "neighbor_id")
    )
    exact = q_sim_topk(spark, sf_dir).select(
        F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
    )
    hits = topk.join(
        exact,
        (F.col("query_id") == F.col("qid"))
        & (F.col("neighbor_id") == F.col("nid")),
        "left",
    )
    per_q = hits.groupBy("nprobe", "query_id").agg(
        (F.count("nid") / top_k).alias("recall5")
    )
    return per_q.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall5"), 6).alias("mean_recall5"),
    )


@query(
    "q_ivf_tune",
    oracle=f"""
SELECT CAST(nprobe AS INT) AS nprobe,
       CAST({N_QUERIES} AS BIGINT) AS n_queries,
       TRUE AS floor_ok,
       TRUE AS monotone_ok
FROM (VALUES (1), (2), (4), (8)) v(nprobe)
""",
)
def q_ivf_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-budget calibration — the ANN twin of q_lsh_tune's banding
    S-curve: measure recall@5 at every candidate nprobe rung in ONE probe
    pass, then emit the BOUND-ASSERTION verdict (the q_sim_ivf playbook —
    the trained-model curve has no SQL twin, but its contract does): every
    rung must clear its calibrated recall floor (0.80/0.85/0.85/0.90 for
    nprobe 1/2/4/8 — measured 0.90-1.0 across the committed SFs, floors
    set with slack) and the curve must be monotone non-decreasing in
    nprobe — probing more lists can only add candidates, so a decrease
    means the probe path is broken, not the corpus unlucky. The measured
    curve itself is pinned by the property suite via ivf_tune_curve.

    Scale shape: corpus assigned + shuffled ONCE on list id; the 8-probe
    query fan-out scores each (query, list) visit once; every nprobe rung
    is a probe_rank filter over that one scored relation (never a re-scan
    per rung — the matryoshka one-pass contract); recall joins the exact
    top-5 on a 40-row broadcast. At 100 TB the audit runs on the same
    fixed query budget the retrieval rails use."""
    curve = ivf_tune_curve(spark, sf_dir)
    floor = F.create_map(
        *[
            F.lit(v)
            for kv in IVF_TUNE_FLOORS.items()
            for v in (kv[0], float(kv[1]))
        ]
    )
    wprev = Window.orderBy("nprobe")
    prev = F.lag("mean_recall5").over(wprev)
    return (
        curve.withColumn("floor_ok", F.col("mean_recall5") >= floor[F.col("nprobe")])
        .withColumn(
            "monotone_ok",
            F.when(prev.isNull(), F.lit(True)).otherwise(
                F.col("mean_recall5") >= prev
            ),
        )
        .select("nprobe", "n_queries", "floor_ok", "monotone_ok")
    )


@query(
    "q_vec_centroid",
    oracle="""
WITH u AS (
  SELECT label,
         unnest(embedding)                 AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
)
SELECT label,
       dim - 1                  AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(AVG(x), 6)         AS centroid
FROM u
GROUP BY label, dim
""",
)
def q_vec_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (elementwise mean) — the k-means /
    IVF-training building block, emitted as (label, dim, centroid) scalars.

    posexplode → groupBy(label, dim) avg: map-side partial aggregation
    collapses each task's contribution to ≤ |labels|·|dims| rows before the
    shuffle, so wire volume is independent of corpus size — the reduction
    shape that makes centroid updates feasible per k-means round at 100 TB.
    The scalar (label, dim) layout also avoids array-equality hashing in the
    correctness gate."""
    e = table(spark, sf_dir, "embeddings")
    pos = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    return pos.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("x"), 6).alias("centroid"),
    )


@query(
    "q_embedding_drift",
    oracle="""
WITH u AS (
  SELECT vec_id % 2 AS ep,
         unnest(embedding::DOUBLE[])        AS x,
         generate_subscripts(embedding, 1)  AS dim
  FROM embeddings
),
per AS (
  SELECT dim - 1 AS dim,
         CAST(COUNT(CASE WHEN ep = 0 THEN 1 END) AS BIGINT) AS n_a,
         CAST(COUNT(CASE WHEN ep = 1 THEN 1 END) AS BIGINT) AS n_b,
         CAST(ROUND(AVG(CASE WHEN ep = 0 THEN x END) * 1000000) AS BIGINT)
           AS mean_a_micro,
         CAST(ROUND(AVG(CASE WHEN ep = 1 THEN x END) * 1000000) AS BIGINT)
           AS mean_b_micro
  FROM u GROUP BY dim
),
g AS (
  SELECT CAST(ROUND(
           SUM(mean_a_micro * mean_b_micro) /
           (SQRT(SUM(mean_a_micro * mean_a_micro)) *
            SQRT(SUM(mean_b_micro * mean_b_micro))) * 1000000)
         AS BIGINT) AS centroid_cos_micro
  FROM per
)
SELECT dim, n_a, n_b, mean_a_micro, mean_b_micro,
       mean_b_micro - mean_a_micro AS drift_micro,
       centroid_cos_micro
FROM per, g
""",
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution DRIFT monitor — the check an embedding
    pipeline runs when the encoder, preprocessing, or corpus mix changes
    between refresh epochs: per-dimension centroid of each epoch slice
    (vec_id parity stands in for the epoch boundary), the per-dim shift,
    and the cosine between the two centroid vectors (a silently retrained
    or re-normalized encoder shows up as centroid rotation long before
    retrieval metrics move — the reason FAISS/vector-DB deployments pin
    encoder versions per index, and the upstream gate for
    q_sim_ivfpq_incremental's frozen-model append: appending vectors from
    a DRIFTED encoder into frozen lists is exactly what this screen
    catches).

    Numeric contract (the q_mmr_diversify sf1.0 lesson applied at birth):
    per-dim means land as CAST(ROUND(mean*1e6) AS BIGINT) — scale-0
    rounding of the same double, on which Spark HALF_UP and DuckDB
    half-away agree everywhere — the drift column is an EXACT bigint
    difference, and the centroid cosine is computed FROM the integer
    means (exact bigint dot products, identical IEEE sqrt/divide on both
    engines) and emitted in scale-0-rounded micro units. No scale-6
    double ROUND anywhere.

    Scale shape: posexplode -> ONE conditional aggregation pass grouped
    by dim (map-side partials collapse each task to <= 2x64 cells — wire
    volume independent of corpus size); the cosine runs on the bounded
    64-row mean table broadcast back onto it. Zero data-scale joins."""
    e = table(spark, sf_dir, "embeddings")
    u = e.select(
        (F.col("vec_id") % 2).alias("ep"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    per = u.groupBy("dim").agg(
        F.count(F.when(F.col("ep") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("ep") == 1, 1)).alias("n_b"),
        F.round(F.avg(F.when(F.col("ep") == 0, F.col("x"))) * 1000000)
        .cast("long")
        .alias("mean_a_micro"),
        F.round(F.avg(F.when(F.col("ep") == 1, F.col("x"))) * 1000000)
        .cast("long")
        .alias("mean_b_micro"),
    )
    g = per.agg(
        F.round(
            F.sum(F.col("mean_a_micro") * F.col("mean_b_micro"))
            / (
                F.sqrt(F.sum(F.col("mean_a_micro") * F.col("mean_a_micro")))
                * F.sqrt(F.sum(F.col("mean_b_micro") * F.col("mean_b_micro")))
            )
            * 1000000
        )
        .cast("long")
        .alias("centroid_cos_micro")
    )
    return per.crossJoin(F.broadcast(g)).select(
        "dim",
        "n_a",
        "n_b",
        "mean_a_micro",
        "mean_b_micro",
        (F.col("mean_b_micro") - F.col("mean_a_micro")).alias("drift_micro"),
        "centroid_cos_micro",
    )


def kmeans_fit(spark: SparkSession, sf_dir: str):
    """Distributed Lloyd's k-means (K=8, 3 iterations) over the embedding
    corpus — the training loop q_sim_ivf's "trained model" comes from.

    Per iteration: (1) ASSIGN is map-only — the K×64 centroid matrix is
    closure-broadcast into a mapInPandas pass, one numpy distance matrix per
    Arrow batch, no shuffle; (2) the UPDATE partials are combined INSIDE the
    batch (per-cluster sum vector + count via np.add.at), so each batch
    emits at most K×D cells no matter how many vectors it holds — the
    Arrow transfer and shuffle carry O(K·D·batches), not O(N·D), which is
    the 64× difference between shipping the model and re-shipping the
    corpus every iteration. The bounded K×D model then returns to the
    driver (the legal bounded collect: model state, not data). That
    map-assign/combine-update split is exactly how k-means scales to
    100 TB; init is the first K vectors (deterministic). Each update batch
    also emits ONE marker cell carrying its assign-time inertia partial,
    so the per-iteration objective J(c_t) falls out of the same shuffle
    for free. Returns ``(final_cells, stats)`` where ``final_cells`` is
    the per-batch (cluster, n, sd2) partial table under the trained model
    and ``stats`` is [(inertia, n_assigned, n_nonempty)] per iteration.

    Deliberately NOT memoized even though both q_kmeans and
    kmeans_clusters call it (a suite run fits twice): a cross-call cache
    would let bench's min-of-2 second pass skip the training loop and
    record a number that isn't the operator's cost. Test-suite seconds
    are the cheaper currency."""
    import numpy as np

    k, iters, dim = 8, 3, 64
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    if len(cent_rows) < k:
        # Fail here with a clear message rather than deeper in the loop:
        # an empty/underseeded table would otherwise surface as np.stack's
        # "need at least one array" or an IndexError on the (-1,-1) marker
        # bookkeeping (every iteration's collect assumes >=1 mapInPandas
        # batch, which a seeded — hence non-empty — table guarantees).
        raise ValueError(
            f"kmeans_fit requires embeddings rows with vec_id 0..{k - 1} as "
            f"seeds (non-empty table); found {len(cent_rows)} seed rows"
        )
    cents = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in cent_rows])

    def _assign(c, pdf):
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        d2 = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return m, d2.argmin(axis=1), d2.min(axis=1)

    def make_update(c):
        def update(batches):
            import pandas as pd

            for pdf in batches:
                m, cl, best = _assign(c, pdf)
                sums = np.zeros((k, dim))
                cnts = np.zeros(k, dtype=np.int64)
                np.add.at(sums, cl, m)
                np.add.at(cnts, cl, 1)
                kk = np.nonzero(cnts > 0)[0]
                yield pd.DataFrame(
                    {
                        # marker cell (-1, -1): batch inertia partial + size
                        "cluster": np.concatenate(
                            [kk.astype("int32").repeat(dim), [-1]]
                        ).astype("int32"),
                        "dim": np.concatenate(
                            [np.tile(np.arange(dim, dtype="int32"), len(kk)), [-1]]
                        ).astype("int32"),
                        "s": np.concatenate([sums[kk].reshape(-1), [best.sum()]]),
                        "cnt": np.concatenate([cnts[kk].repeat(dim), [len(m)]]),
                    }
                )

        return update

    stats = []
    for _ in range(iters):
        cells = e.mapInPandas(make_update(cents.copy()), "cluster int, dim int, s double, cnt long")
        new = (
            cells.groupBy("cluster", "dim")
            .agg(F.sum("s").alias("ss"), F.sum("cnt").alias("cc"))
            .collect()
        )
        nxt = cents.copy()  # empty clusters keep their previous centroid
        nonempty = set()
        for r in new:
            if r.cluster == -1:
                stats.append((float(r.ss), int(r.cc)))
            else:
                nonempty.add(r.cluster)
                nxt[r.cluster, r.dim] = r.ss / r.cc
        stats[-1] = (*stats[-1], len(nonempty))
        cents = nxt

    def make_final(c):
        def fin(batches):
            import pandas as pd

            for pdf in batches:
                _, cl, best = _assign(c, pdf)
                cnts = np.bincount(cl, minlength=k)
                sd2 = np.bincount(cl, weights=best, minlength=k)
                kk = np.nonzero(cnts > 0)[0]
                yield pd.DataFrame(
                    {"cluster": kk.astype("int32"), "n": cnts[kk], "sd2": sd2[kk]}
                )

        return fin

    final = e.mapInPandas(make_final(cents.copy()), "cluster int, n long, sd2 double")
    return final, stats


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster (n_vecs, inertia) report under the trained k-means model
    — the detail grain tests/test_properties.py replays in pure numpy."""
    final, _ = kmeans_fit(spark, sf_dir)
    return final.groupBy("cluster").agg(
        F.sum("n").alias("n_vecs"),
        F.round(F.sum("sd2"), 4).alias("inertia"),
    )


@query(
    "q_kmeans",
    oracle="""
SELECT CAST(t.i AS INT)                                   AS iter,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)  AS n_assigned,
       TRUE                                               AS inertia_nonincreasing,
       TRUE                                               AS clusters_ok
FROM (VALUES (0), (1), (2), (3)) t(i)
""",
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means training audit with a BOUND-ASSERTION oracle (the
    q_hll_merge playbook — iterative float training has no SQL twin, but
    its invariants do): one row per Lloyd iteration (0-2 = assign-time
    objective under c_t; 3 = final model) emitting (a) n_assigned — every
    iteration must assign EXACTLY the corpus, the exact anchor the oracle
    recomputes as COUNT(*) — plus boolean verdicts that (b) the objective
    J(c_t) is monotone non-increasing (Lloyd's convergence guarantee;
    1e-9 relative slack for partial-sum float noise) and (c) 1-8 clusters
    stay nonempty. The per-cluster detail grain lives in kmeans_clusters,
    replayed exactly against numpy by tests/test_properties.py."""
    final, stats = kmeans_fit(spark, sf_dir)
    rows, prev = [], None
    for i, (ine, cnt, ne) in enumerate(stats):
        ok = prev is None or ine <= prev * (1 + 1e-9) + 1e-9
        rows.append((i, cnt, bool(ok), 1 <= ne <= 8))
        prev = ine
    head = spark.createDataFrame(
        rows,
        "iter int, n_assigned long, inertia_nonincreasing boolean, clusters_ok boolean",
    )
    tail = (
        final.agg(
            F.sum("n").alias("n_assigned"),
            F.sum("sd2").alias("ine"),
            F.countDistinct("cluster").alias("ne"),
        )
        .select(
            F.lit(3).cast("int").alias("iter"),
            "n_assigned",
            (F.col("ine") <= prev * (1 + 1e-9) + 1e-9).alias(
                "inertia_nonincreasing"
            ),
            F.col("ne").between(1, 8).alias("clusters_ok"),
        )
    )
    return head.unionByName(tail)


@query(
    "q_quantize",
    oracle="""
WITH d AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
),
st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY i),
q AS (
  SELECT vec_id, x, mn, mx,
         ROUND((x - mn) / (mx - mn) * 255) AS code
  FROM d JOIN st USING (i)
)
SELECT vec_id,
       CAST(SUM(code) AS BIGINT) AS code_sum,
       ROUND(AVG(ABS(x - (mn + code / 255 * (mx - mn)))), 6) AS recon_err
FROM q GROUP BY vec_id
""",
)
def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus (per-dimension
    min/max bounds, 256 levels) plus reconstruction-error audit — the
    4×-compression step an ANN index applies before storing vectors (FAISS
    SQ8 shape).

    The trained bounds are one 2×64-value stats pass — 128 parallel min/max
    agg columns over element_at, map-side mergeable partials, NO explode (the
    posexplode form shuffles corpus×dim rows; this shuffles O(partitions))
    — broadcast back as two 1-row arrays. Encode, decode, and the error fold
    are zip_with/aggregate chains: vectors never leave Tungsten rows and the
    quantization itself is map-only, which is the whole point — at 100 TB
    the codes are written where the vectors live, no shuffle anywhere.
    Output is an exact integer code checksum per vector (any wrong code
    fails the oracle hash) and the mean absolute reconstruction error."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    dim = 64
    stats = e.agg(
        F.array(*[F.min(F.element_at("emb", i + 1)) for i in range(dim)]).alias("mns"),
        F.array(*[F.max(F.element_at("emb", i + 1)) for i in range(dim)]).alias("mxs"),
    )
    with_stats = e.crossJoin(F.broadcast(stats))
    spans = F.zip_with("mxs", "mns", lambda hi, lo: hi - lo)
    codes = F.zip_with(
        F.zip_with("emb", "mns", lambda x, lo: x - lo),
        spans,
        lambda c, s: F.round(c / s * 255),
    )
    recon = F.zip_with(
        F.zip_with(codes, spans, lambda code, s: code / 255 * s),
        F.col("mns"),
        lambda r, lo: r + lo,
    )
    abs_err = F.zip_with("emb", recon, lambda x, r: F.abs(x - r))
    return with_stats.select(
        "vec_id",
        F.aggregate(codes, F.lit(0.0), lambda acc, c: acc + c)
        .cast("long")
        .alias("code_sum"),
        F.round(
            F.aggregate(abs_err, F.lit(0.0), lambda acc, v: acc + v) / dim, 6
        ).alias("recon_err"),
    )


def pca_eigs(spark: SparkSession, sf_dir: str):
    """Distributed PCA over the embedding corpus via sufficient statistics;
    returns ``(evals_desc, n_vecs, cov_trace)`` — the full eigenvalue
    spectrum (descending), the corpus size, and the covariance trace.

    The pattern is the linear-algebra twin of q_kmeans' model/data split:
    each Arrow batch combines its vectors into a local Gram matrix XᵀX,
    feature sum, and count with numpy (one matmul per batch), and emits at
    most D² + D + 1 cells — the shuffle carries O(D²·batches), never
    O(N·D). One groupBy folds the partials; the D×D covariance
    (Σxxᵀ − n·μμᵀ)/(n−1) then returns to the driver (bounded model state:
    64×64 doubles), where numpy's symmetric eigensolver finishes in
    microseconds. At 100 TB the corpus is touched exactly once, map-only;
    the eigensolve cost is independent of N — this is how PCA/whitening of
    embedding tables actually runs on a cluster (same shape: covariance →
    driver solve → broadcast the projection back for the transform step).
    tests/test_properties.py replays the whole computation in pure numpy
    and requires matching eigenvalues to float tolerance."""
    import numpy as np
    import pandas as pd

    dim = 64
    e = table(spark, sf_dir, "embeddings").select("embedding")

    def partials(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = m.T @ m
            s = m.sum(axis=0)
            i_idx, j_idx = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate([i_idx.reshape(-1), np.arange(dim), [-1]]).astype("int32"),
                    "j": np.concatenate([j_idx.reshape(-1), np.full(dim, -1), [-1]]).astype("int32"),
                    "v": np.concatenate([g.reshape(-1), s, [float(len(m))]]),
                }
            )

    cells = (
        e.mapInPandas(partials, "i int, j int, v double")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    gram = np.zeros((dim, dim))
    mean_sum = np.zeros(dim)
    n = 0.0
    for r in cells:
        if r.i == -1:
            n = r.v
        elif r.j == -1:
            mean_sum[r.i] = r.v
        else:
            gram[r.i, r.j] = r.v
    mu = mean_sum / n
    cov = (gram - n * np.outer(mu, mu)) / (n - 1.0)
    evals = np.linalg.eigvalsh(cov)[::-1]
    return evals, int(n), float(np.trace(cov))


def pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 principal components' eigenvalues and explained-variance
    ratios — the detail grain tests/test_properties.py replays against a
    pure-numpy covariance eigensolve."""
    evals, _, _ = pca_eigs(spark, sf_dir)
    trace = float(evals.sum())
    rows = [
        (int(c), float(round(float(evals[c]), 4)), float(round(float(evals[c]) / trace, 6)))
        for c in range(5)
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, explained_ratio double"
    )


@query(
    "q_pca_embed",
    oracle="""
SELECT CAST(t.c AS INT)                                   AS component,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)  AS n_vecs,
       TRUE                                               AS ratio_in_unit,
       TRUE                                               AS trace_ok
FROM (VALUES (0), (1), (2), (3), (4)) t(c)
""",
)
def q_pca_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA audit with a BOUND-ASSERTION oracle (the q_hll_merge playbook
    — a float eigensolve has no SQL twin, but its invariants do): one row
    per top-5 component emitting (a) n_vecs — the sufficient-statistics
    pass must have seen EXACTLY the corpus (the marker count cell), the
    exact anchor the oracle recomputes as COUNT(*) — plus boolean
    verdicts that (b) each explained-variance ratio lies in (0, 1] and
    (c) the eigenvalue sum reproduces the covariance trace to 1e-8
    relative — the linear-algebra identity Σλ = tr(Σ) that any broken
    partial-aggregation or eigensolve step would violate. The raw
    eigenvalue/ratio detail grain lives in pca_components, replayed
    against numpy by tests/test_properties.py."""
    evals, n, cov_trace = pca_eigs(spark, sf_dir)
    trace = float(evals.sum())
    trace_ok = abs(trace - cov_trace) <= 1e-8 * max(1.0, abs(cov_trace))
    rows = [
        (int(c), n, 0.0 < float(evals[c]) / trace <= 1.0, bool(trace_ok))
        for c in range(5)
    ]
    return spark.createDataFrame(
        rows, "component int, n_vecs long, ratio_in_unit boolean, trace_ok boolean"
    )


SEMDEDUP_K = 16
SEMDEDUP_THRESHOLD = 0.4


@query(
    "q_semdedup",
    oracle=f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n WHERE vec_id < {SEMDEDUP_K}),
scored AS (
  SELECT n.vec_id, c.cid,
         ROUND(list_dot_product(n.e, c.ce) / (n.nrm * c.cnrm), 6) AS cos
  FROM n CROSS JOIN c
),
assign AS (
  SELECT vec_id, cid AS cluster, cos AS cent_cos
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cid) AS rn
        FROM scored)
  WHERE rn = 1
),
beaten AS (
  SELECT DISTINCT b.vec_id
  FROM assign a
  JOIN assign b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE ROUND(list_dot_product(na.e, nb.e) / (na.nrm * nb.nrm), 6)
          >= {SEMDEDUP_THRESHOLD}
    AND (a.cent_cos > b.cent_cos
         OR (a.cent_cos = b.cent_cos AND a.vec_id < b.vec_id))
)
SELECT vec_id, cluster, cent_cos
FROM assign WHERE vec_id NOT IN (SELECT vec_id FROM beaten)
""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the embedding space, then within each cluster drop every vector
    that has a near-duplicate (cos >= 0.4) ranked stronger than it (closer
    to the centroid; ties to the lower vec_id) — keeping one representative
    per semantic neighborhood and returning the SURVIVING corpus, which is
    what a curation pipeline actually feeds downstream.

    Plan shape at scale: centroids are K x D bounded model state (the same
    first-K stand-in as q_sim_ivf — k-means training swaps in without plan
    changes); assignment is one map-only numpy argmax per Arrow batch
    (corpus never shuffles for it); the near-dup screen shuffles ONCE on
    cluster id and runs a per-cluster numpy matmul inside applyInPandas.
    Within-cluster pairwise is quadratic in cluster size — the documented
    SemDedup trade (clusters bound the candidate set; a production run
    sub-blocks giant clusters exactly like q_dedup_embed's B x B blocks).
    """
    import numpy as np
    import pandas as pd

    n = _normed(spark, sf_dir).select("vec_id", "e", "nrm")
    cent_rows = n.where(F.col("vec_id") < SEMDEDUP_K).orderBy("vec_id").collect()
    cents = np.stack([np.asarray(r.e, dtype=np.float64) for r in cent_rows])
    cnrm = np.array([r.nrm for r in cent_rows])

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            nrm = pdf["nrm"].to_numpy()
            cos = np.round((mat @ cents.T) / (nrm[:, None] * cnrm[None, :]), 6)
            best = cos.argmax(axis=1)  # first max -> lowest cid on ties
            out = pdf.copy()
            out["cluster"] = best.astype("int32")
            out["cent_cos"] = cos[np.arange(len(pdf)), best]
            yield out[["vec_id", "e", "nrm", "cluster", "cent_cos"]]

    assigned = n.mapInPandas(
        assign, "vec_id long, e array<double>, nrm double, cluster int, cent_cos double"
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) <= 1:
            return pdf[["vec_id", "cluster", "cent_cos"]]
        # strength order: centroid-closest first, ties to lower vec_id
        pdf = pdf.sort_values(
            ["cent_cos", "vec_id"], ascending=[False, True], ignore_index=True
        )
        mat = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        nrm = pdf["nrm"].to_numpy()
        cos = np.round((mat @ mat.T) / np.outer(nrm, nrm), 6)
        near = cos >= SEMDEDUP_THRESHOLD
        # dropped iff any STRICTLY stronger member is a near-dup
        beaten = np.array(
            [near[row, :row].any() for row in range(len(pdf))]
        )
        return pdf.loc[~beaten, ["vec_id", "cluster", "cent_cos"]]

    return assigned.groupBy("cluster").applyInPandas(
        prune, "vec_id long, cluster int, cent_cos double"
    )


KNN_K = 5
KNN_PROBES = 50  # vec_id < 50 are the labeled probe batch


@query(
    "q_knn_classify",
    oracle=f"""
WITH n AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label, c.label AS cand_label,
         ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos_sim,
         c.vec_id AS neighbor_id
  FROM n q JOIN n c ON q.vec_id < {KNN_PROBES} AND q.vec_id <> c.vec_id
),
topk AS (
  SELECT query_id, true_label, cand_label
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn <= {KNN_K}
),
votes AS (
  SELECT query_id, true_label, cand_label AS pred_label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY 1, 2, 3
)
SELECT query_id, true_label, pred_label, n_votes,
       (pred_label = true_label) AS correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY n_votes DESC, pred_label) AS vr
  FROM votes
) WHERE vr = 1
""",
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding space: each of 50 probe
    vectors is labeled by majority vote of its 5 cosine-nearest neighbors
    (leave-one-out) — the standard embedding-quality / label-propagation
    verb a curation pipeline runs to sanity-check an embedding model or
    to pseudo-label unlabeled data.

    Both the neighbor ranking (rounded cosine, neighbor_id tiebreak) and
    the vote (count desc, label tiebreak) are fully deterministic, so the
    driver hash matches the oracle exactly. The probe batch broadcasts;
    the corpus side streams through local top-k heaps (WindowGroupLimit)
    — the q_sim_topk plan — and everything after the top-k runs on
    50·k rows. At 100 TB the brute-force scoring swaps for the IVF probe
    path (q_sim_ivf) with the identical vote tail."""
    n = _normed(spark, sf_dir)
    q = n.where(F.col("vec_id") < KNN_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("cand_label"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "true_label",
            "cand_label",
            "neighbor_id",
            F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6).alias("cos_sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    topk = scored.withColumn("rn", F.row_number().over(wk)).where(F.col("rn") <= KNN_K)
    votes = topk.groupBy("query_id", "true_label", F.col("cand_label").alias("pred_label")).agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("pred_label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            "pred_label",
            "n_votes",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )


PQ_SUBSPACES = 8
PQ_SUBDIM = 8  # 64 dims / 8 subspaces
PQ_CODEBOOK = 16  # 4-bit codes per subspace


def pq_encode(spark: SparkSession, sf_dir: str, books=None, frame=None) -> DataFrame:
    """Product quantization (FAISS PQ8x4 shape): split each 64-d embedding
    into 8 subvectors of 8 dims, train a 16-centroid codebook per subspace
    (2 Lloyd iterations, deterministic init from the first 16 vectors), and
    encode every vector as 8 four-bit codes — 4 bytes per vector, 64×
    smaller than float32, the compression regime that makes 100 TB-scale
    ANN indexes fit in memory (vs q_quantize's 4× SQ8).

    Training reuses q_kmeans' model/data split with ALL 8 subspaces in one
    pass: each Arrow batch combines its vectors into per-(subspace,
    cluster) sum/count partials (≤ 8×16×8 cells per batch) — the shuffle
    carries O(model·batches), never O(N·D). Codebooks are rounded to 6 dp
    before encoding so Voronoi assignments don't flip on float
    summation-order ulps (re-runs and the numpy replay in
    tests/test_properties.py produce identical codes). Encoding is
    map-only with the closure-broadcast codebook; output is an exact
    integer code checksum per vector plus reconstruction error — the
    detail grain tests/test_properties.py pins code-for-code against a
    numpy replay. q_pq_quantize wraps this with a bound-assertion
    oracle; q_sim_pq_search scans the emitted codes with ADC (passing the
    codebooks it already trained for its lookup tables — within ONE
    operator call the model is reused, it is only cross-call caching
    that stays deliberately off)."""
    import numpy as np
    import pandas as pd

    m_sub, d_sub, k_cb = PQ_SUBSPACES, PQ_SUBDIM, PQ_CODEBOOK
    if books is None:
        books = pq_codebooks(spark, sf_dir)
    e = (
        frame
        if frame is not None
        else table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )

    def make_encode(bk):
        weights = np.power(16, np.arange(m_sub), dtype=np.int64)

        def enc(batches):
            for pdf in batches:
                if pdf.empty:  # filtered frames (incremental epochs) can
                    continue  # hand Arrow an empty partition batch
                m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                sub = m.reshape(len(m), m_sub, d_sub)
                codes = np.zeros((len(m), m_sub), dtype=np.int64)
                recon = np.zeros_like(sub)
                for s in range(m_sub):
                    d2 = ((sub[:, s, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
                    cl = d2.argmin(axis=1)
                    codes[:, s] = cl
                    recon[:, s, :] = bk[s][cl]
                err = np.abs(sub - recon).mean(axis=(1, 2))
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "code_key": (codes * weights).sum(axis=1),
                        "recon_err": np.round(err, 6),
                    }
                )

        return enc

    return e.mapInPandas(
        make_encode(books.copy()), "vec_id long, code_key long, recon_err double"
    )


def pq_codebooks(spark: SparkSession, sf_dir: str, frame=None):
    """Train the 8×16×8 PQ codebooks (2 Lloyd rounds per subspace,
    deterministic init, 6-dp-rounded Voronoi boundaries) and return them
    as a numpy array — the bounded model state shared by pq_encode and
    the ADC scorer. Deliberately NOT memoized (the kmeans_fit rationale:
    a cross-call cache would let bench's min-of-2 skip training).

    `frame` restricts training to a (vec_id, embedding) subset — the
    incremental index trains on the HISTORY epoch only, with init taken
    as the frame's first 16 rows by vec_id (the default corpus path keeps
    its original `vec_id < 16` init byte-for-byte)."""
    import numpy as np
    import pandas as pd

    m_sub, d_sub, k_cb = PQ_SUBSPACES, PQ_SUBDIM, PQ_CODEBOOK
    if frame is not None:
        e = frame
        init_rows = e.orderBy("vec_id").limit(k_cb).collect()
    else:
        e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        init_rows = e.filter(F.col("vec_id") < k_cb).orderBy("vec_id").collect()
    init = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in init_rows])
    # codebooks[s] : (k_cb, d_sub)
    books = np.stack(
        [init[:, s * d_sub : (s + 1) * d_sub].copy() for s in range(m_sub)]
    )

    def make_update(bk):
        def update(batches):
            for pdf in batches:
                if pdf.empty:  # filtered frames (incremental epochs) can
                    continue  # hand Arrow an empty partition batch
                m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                sub = m.reshape(len(m), m_sub, d_sub)
                out_s, out_c, out_d, out_v, out_n = [], [], [], [], []
                for s in range(m_sub):
                    d2 = ((sub[:, s, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
                    cl = d2.argmin(axis=1)
                    sums = np.zeros((k_cb, d_sub))
                    cnts = np.zeros(k_cb, dtype=np.int64)
                    np.add.at(sums, cl, sub[:, s, :])
                    np.add.at(cnts, cl, 1)
                    kk = np.nonzero(cnts > 0)[0]
                    out_s.append(np.full(len(kk) * d_sub, s, dtype="int32"))
                    out_c.append(kk.astype("int32").repeat(d_sub))
                    out_d.append(np.tile(np.arange(d_sub, dtype="int32"), len(kk)))
                    out_v.append(sums[kk].reshape(-1))
                    out_n.append(cnts[kk].repeat(d_sub))
                yield pd.DataFrame(
                    {
                        "sub": np.concatenate(out_s),
                        "cluster": np.concatenate(out_c),
                        "dim": np.concatenate(out_d),
                        "s": np.concatenate(out_v),
                        "cnt": np.concatenate(out_n),
                    }
                )

        return update

    for _ in range(2):
        cells = e.mapInPandas(
            make_update(books.copy()),
            "sub int, cluster int, dim int, s double, cnt long",
        )
        new = (
            cells.groupBy("sub", "cluster", "dim")
            .agg((F.sum("s") / F.sum("cnt")).alias("c"))
            .collect()
        )
        nxt = books.copy()  # empty clusters keep their previous centroid
        for r in new:
            nxt[r.sub, r.cluster, r.dim] = r.c
        books = nxt
    books = np.round(books, 6)  # ulp-stable Voronoi boundaries
    return books


@query(
    "q_pq_quantize",
    oracle="""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
       TRUE                                              AS code_range_ok,
       TRUE                                              AS beats_mean_baseline
""",
)
def q_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression audit with a BOUND-ASSERTION oracle (the
    q_hll_merge playbook — float codebook training has no SQL twin, but
    its invariants do): one summary row emitting (a) n_vecs — encode
    must cover EXACTLY the corpus, the exact anchor the oracle recomputes
    as COUNT(*) — plus boolean verdicts that (b) every packed code key
    lies in [0, 16^8) and (c) mean PQ reconstruction error BEATS the
    trivial mean-vector codec (4 bytes/vector must still carry signal —
    the quality bar the property test also pins). The mean-vector
    baseline is computed in-engine: one 64-column avg pass, broadcast
    back, per-vector |x − μ| folded JVM-side — same no-explode shape as
    q_quantize's stats pass. Per-vector codes live in pq_encode,
    replayed code-for-code against numpy by tests/test_properties.py."""
    enc = pq_encode(spark, sf_dir)
    dim = PQ_SUBSPACES * PQ_SUBDIM
    e = table(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    mus = e.agg(
        F.array(*[F.avg(F.element_at("emb", i + 1)) for i in range(dim)]).alias("mus")
    )
    base = (
        e.crossJoin(F.broadcast(mus))
        .select(
            F.aggregate(
                F.zip_with("emb", "mus", lambda x, mu: F.abs(x - mu)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dev")
        )
        .agg((F.sum("dev") / (F.count(F.lit(1)) * dim)).alias("base_err"))
    )
    summ = enc.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg("recon_err").alias("pq_err"),
        F.min("code_key").alias("mn"),
        F.max("code_key").alias("mx"),
    )
    return summ.crossJoin(F.broadcast(base)).select(
        "n_vecs",
        ((F.col("mn") >= 0) & (F.col("mx") < F.lit(16**8).cast("long"))).alias(
            "code_range_ok"
        ),
        (F.col("pq_err") < F.col("base_err")).alias("beats_mean_baseline"),
    )


def exact_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force squared-L2 top-5 for the standard 10-query batch —
    the metric-consistent recall reference for PQ ADC search (q_sim_topk
    ranks by cosine; ADC approximates L2, so recall must be measured
    against the L2 ground truth or it conflates metric mismatch with
    quantization loss). Same broadcast-queries shape as q_sim_topk; the
    distance fold is in-row JVM, rounded to 6 dp with a neighbor-id
    tiebreak so ranking is ulp-stable."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with("qe", "e", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("l2_sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2_sq"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "l2_sq", "rank")
    )


# ADC shortlist size handed to the exact re-rank stage. 50 held the 2-of-5
# recall floor through sf0.1 (50k vectors); the full-registry sf1.0 sweep
# caught it failing at 500k — 4-bit ADC noise grows the true neighbors'
# shortlist rank roughly with corpus size, so the shortlist must deepen as
# N grows (FAISS practice: rerank-depth scales with nlist occupancy). 200
# restores the floor at sf1.0 with margin while staying a vanishing
# fraction of the scanned codes; the re-rank gather stays bounded at
# N_QUERIES x PQ_RERANK rows.
PQ_RERANK = 200


def pq_adc_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1 of PQ search: ADC (asymmetric distance computation) top-50
    shortlist through the PQ index. Per query, a distance TABLE
    T[s][c] = ||q_s − book_s_c||² (10×8×16 floats, bounded model state
    built driver-side from the collected query batch, closure-broadcast)
    turns scoring a database vector into 8 table lookups on its unpacked
    4-bit codes — the float corpus is never touched at scan time: the
    scorer's input is the (vec_id, code_key) relation, 16 bytes/row vs
    512, which is exactly why a 100 TB corpus's PQ index fits in cluster
    memory. Each Arrow batch emits only its per-query top-50 partials
    (≤ queries×50 rows/batch) and a final window rank merges them —
    shuffle volume O(batches·Q·R), independent of corpus size. Distances
    are exact deterministic float sums (fixed subspace order over
    6-dp-rounded codebooks — bit-identical to the numpy replay), and both
    the partial and global top-R use the same (dist, neighbor_id) total
    order, so the shortlist is independent of batch boundaries even when
    identical codes tie exactly."""
    import numpy as np
    import pandas as pd

    m_sub = PQ_SUBSPACES
    d_sub = PQ_SUBDIM
    books = pq_codebooks(spark, sf_dir)
    q_rows = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    qm = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in q_rows])
    qsub = qm.reshape(len(qm), m_sub, d_sub)
    # T: (Q, m_sub, k_cb) — the per-query lookup tables
    tables = ((qsub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=3)

    def score(batches):
        shifts = 4 * np.arange(m_sub, dtype=np.int64)
        for pdf in batches:
            vid = pdf["vec_id"].to_numpy()
            keys = pdf["code_key"].to_numpy(dtype=np.int64)
            codes = (keys[:, None] >> shifts[None, :]) & 0xF  # (N, m_sub)
            # dist[q, n] = sum_s T[q, s, codes[n, s]] — fixed s order, so
            # the float sum is deterministic and replayable
            dist = np.zeros((len(qids), len(vid)))
            for s in range(m_sub):
                dist += tables[:, s, codes[:, s]]
            out_q, out_n, out_d = [], [], []
            for qi in range(len(qids)):
                # total order on (dist, vid): identical codes give exactly
                # equal ADC distances, so the partial top-R must use the
                # SAME tiebreak as the global window or the survivor set
                # would depend on batch boundaries
                order = np.lexsort((vid, dist[qi]))
                keep = order[vid[order] != qids[qi]][:PQ_RERANK]
                out_q.append(np.full(len(keep), qids[qi], dtype=np.int64))
                out_n.append(vid[keep])
                out_d.append(dist[qi][keep])  # unrounded: exact replayable sums
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    partials = pq_encode(spark, sf_dir, books=books).select(
        "vec_id", "code_key"
    ).mapInPandas(score, "query_id long, neighbor_id long, adc_dist double")
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        partials.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )


def pq_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search (the production IVF/PQ retrieval shape): ADC
    top-50 shortlist over the 4-byte code index, then EXACT re-rank of
    only the shortlisted vectors. Stage 2 gathers the shortlist's float
    embeddings with a broadcast semi-join — Q×50 rows however large the
    corpus — so full-precision math touches O(Q·R) vectors, never O(N):
    the compressed index does the winnowing, floats only confirm. A miss
    in the final top-5 therefore requires the true neighbor to be absent
    from a 50-deep ADC shortlist (10× slack over k), which is what makes
    the recall verdict a hard floor rather than a raw-4-byte-codes
    statistic (measured raw ADC@5 recall is only ~0.25 on this corpus;
    shortlist+rerank is the shape that repairs it, exactly as FAISS
    IVFADC+refine does). Ranking is (rounded l2, neighbor_id) — the same
    ulp-stable form as exact_l2_topk."""
    short = pq_adc_shortlist(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    gathered = (
        short.join(e, short.neighbor_id == e.vec_id)
        .join(F.broadcast(q), short.query_id == F.col("qid"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.aggregate(
                    F.zip_with("qe", "e", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("l2_sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2_sq"), F.asc("neighbor_id"))
    return (
        gathered.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "l2_sq", "rank")
    )


@query(
    "q_sim_pq_search",
    oracle=f"""
SELECT vec_id               AS query_id,
       CAST(5 AS BIGINT)    AS n_results,
       TRUE                 AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def q_sim_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC search audit with a BOUND-ASSERTION oracle (the q_sim_ivf
    playbook): one row per query emitting (a) n_results — each query must
    return a full top-5, the oracle recomputes the query set and pins 5 —
    and (b) a recall verdict: the ADC top-5 must overlap the EXACT
    brute-force L2 top-5 (computed in-engine by exact_l2_topk) in at
    least 2 of 5 neighbors. The pipeline is deterministic end to end
    (rounded codebooks, fixed summation order, id tiebreaks), so the
    verdict is a hard floor, not a flaky statistic — measured per-query
    overlap is 2-5 (mean recall@5 0.78/0.78/0.60 at sf0.001/0.01/0.1;
    raw 4-byte ADC without the re-rank measures only ~0.25, which is why
    the two-stage shape is the operator). The probe detail grain lives
    in pq_search_topk."""
    adc = pq_search_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = exact_l2_topk(spark, sf_dir).select(
        F.col("query_id").alias("qid"), F.col("neighbor_id").alias("nid")
    )
    joined = adc.join(
        exact,
        (F.col("query_id") == F.col("qid")) & (F.col("neighbor_id") == F.col("nid")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.count("nid") >= 2).alias("recall_ok"),
    )


IVFPQ_LISTS = 16  # coarse-quantizer cells (first-16-vector stand-in centroids)
IVFPQ_NPROBE = 4  # lists probed per query — 75% of the code index is skipped


def _ivfpq_cache_dir(sf_dir: str) -> str:
    from data_pipeline_aws_spark.caches import versioned_cache_dir

    return versioned_cache_dir("ivfpq_idx", sf_dir, __file__)


def ivfpq_index(spark: SparkSession, sf_dir: str):
    """The PERSISTED IVFADC index — the stored shape a real deployment
    lands once and serves queries from (the q_dedup_minhash_incremental
    versioned-cache pattern applied to ANN): the (vec_id, code_key,
    list_id) relation as parquet plus the trained codebooks and coarse
    centroids as bounded npy sidecars (8×16×8 + 16×64 floats — model
    state, not data). The build pays the embedding-table passes ONCE
    (codebook Lloyd rounds, coarse assignment, PQ encode); every warm
    call reads the landed index and NEVER rescans the embedding table —
    plan-pinned, and `bench.py --cold` clears the tag and bills the
    build under the established warm/cold accounting rule.

    Returns (index DataFrame, codebooks ndarray, centroids ndarray)."""
    import numpy as np
    import pandas as pd

    from data_pipeline_aws_spark import caches

    def build(stage: str) -> None:
        books = pq_codebooks(spark, sf_dir)
        e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        cent_rows = (
            e.filter(F.col("vec_id") < IVFPQ_LISTS).orderBy("vec_id").collect()
        )
        cents = np.stack(
            [np.asarray(r.embedding, dtype=np.float64) for r in cent_rows]
        )

        def assign(batches):
            for pdf in batches:
                m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                d2 = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "list_id": d2.argmin(axis=1).astype("int32"),
                    }
                )

        lists = e.mapInPandas(assign, "vec_id long, list_id int")
        (
            pq_encode(spark, sf_dir, books=books)
            .select("vec_id", "code_key")
            .join(lists, "vec_id")
        ).write.mode("overwrite").parquet(os.path.join(stage, "index"))
        np.save(os.path.join(stage, "books.npy"), books)
        np.save(os.path.join(stage, "cents.npy"), cents)

    out = caches.materialize(_ivfpq_cache_dir(sf_dir), build)
    books = np.load(os.path.join(out, "books.npy"))
    cents = np.load(os.path.join(out, "cents.npy"))
    return read_parquet(spark, os.path.join(out, "index")), books, cents


def ivfpq_topk(spark: SparkSession, sf_dir: str):
    """IVFADC (FAISS IVF+PQ) — the composition of the repo's two ANN
    halves into the production index shape: a coarse quantizer routes
    every DB vector to one of 16 inverted lists (L2 argmin against the
    bounded centroid matrix — metric-consistent with the ADC stage,
    unlike q_sim_ivf's cosine routing), the PERSISTED code index stores
    (list_id, vec_id, 4-byte code) — see ivfpq_index — and a query scans
    ONLY its nprobe=4 nearest lists' codes with ADC lookup tables before
    the exact re-rank confirms the top-50 shortlist in float. At 100 TB
    the scan input is nprobe/K of a 16-byte-per-row relation — the two
    pruning factors (IVF routing × PQ compression) multiply, which is
    why this exact shape is what FAISS/SCANN-class systems deploy. The
    warm query path touches the embedding table exactly twice, both
    bounded/pruned: the N_QUERIES query rows and the shortlist re-rank
    gather (plan-pinned).

    Determinism contract (the pq_adc_shortlist rules): stable argsort on
    (dist, neighbor_id) inside every batch partial AND the global window,
    6-dp-rounded codebooks, fixed subspace summation order — so the
    shortlist is independent of batch boundaries and replayable.

    Returns (final top-5 DataFrame, probed-lists DataFrame) — the second
    relation lets the caller assert the pruning contract in-engine."""
    index, books, cents = ivfpq_index(spark, sf_dir)
    return _ivfadc_search(spark, sf_dir, index, books, cents)


def _ivfadc_search(
    spark: SparkSession, sf_dir: str, index, books, cents, nprobe=IVFPQ_NPROBE
):
    """The ADC scan + exact re-rank core shared by the wholesale and the
    incremental IVFADC indexes: route queries to nprobe lists against the
    given centroids, ADC-score ONLY those lists' codes with the given
    codebooks' lookup tables, exact-L2 re-rank the PQ_RERANK-deep shortlist.
    Everything model-shaped rides the closure (bounded); the index
    relation is scanned once."""
    import numpy as np
    import pandas as pd

    m_sub, d_sub = PQ_SUBSPACES, PQ_SUBDIM
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    q_rows = (
        e.where(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    )
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    qm = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in q_rows])
    qd2 = ((qm[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probed = np.argsort(qd2, axis=1, kind="stable")[:, :nprobe]
    qsub = qm.reshape(len(qm), m_sub, d_sub)
    tables = ((qsub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=3)

    def score(batches):
        shifts = 4 * np.arange(m_sub, dtype=np.int64)
        for pdf in batches:
            vid = pdf["vec_id"].to_numpy()
            keys = pdf["code_key"].to_numpy(dtype=np.int64)
            lid = pdf["list_id"].to_numpy()
            codes = (keys[:, None] >> shifts[None, :]) & 0xF
            out_q, out_n, out_d = [], [], []
            for qi in range(len(qids)):
                sel = np.isin(lid, probed[qi]) & (vid != qids[qi])
                if not sel.any():
                    continue
                c, v = codes[sel], vid[sel]
                dist = np.zeros(len(v))
                for s in range(m_sub):
                    dist += tables[qi, s, c[:, s]]
                order = np.lexsort((v, dist))[:PQ_RERANK]
                out_q.append(np.full(len(order), qids[qi], dtype=np.int64))
                out_n.append(v[order])
                out_d.append(dist[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    partials = index.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    short = (
        partials.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    ed = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = ed.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    gathered = (
        short.join(ed, short.neighbor_id == ed.vec_id)
        .join(F.broadcast(q), short.query_id == F.col("qid"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.aggregate(
                    F.zip_with("qe", "e", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("l2_sq"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("l2_sq"), F.asc("neighbor_id"))
    top = (
        gathered.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "l2_sq", "rank")
    )
    probed_df = spark.createDataFrame(
        [
            (int(qids[qi]), int(probed[qi, j]))
            for qi in range(len(qids))
            for j in range(nprobe)
        ],
        "query_id long, list_id int",
    )
    return top, index.select("vec_id", "list_id"), probed_df


@query(
    "q_sim_ivfpq",
    oracle=f"""
SELECT vec_id               AS query_id,
       CAST(5 AS BIGINT)    AS n_results,
       TRUE                 AS recall_ok,
       TRUE                 AS pruning_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def q_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search audit with a BOUND-ASSERTION oracle (the q_sim_ivf /
    q_sim_pq_search playbook, applied to their composition): one row per
    query emitting (a) n_results — a full top-5 even though 75% of the
    code index was never scanned, (b) recall_ok — the IVFADC top-5 must
    overlap the EXACT brute-force L2 top-5 (exact_l2_topk, the
    metric-consistent reference) in at least 2 of 5 (measured per-query
    overlap is 3-5 at every SF, mean recall@5 ≈ 0.84 — routing + 50-deep
    shortlist + exact re-rank repairs most of the 4-bit loss), and (c)
    pruning_ok — every returned neighbor's list_id sits in the query's
    probed set, asserted in-engine by joining the result back to the
    stored list assignment against the bounded probed relation. The
    pipeline is deterministic end to end, so all three are hard
    contracts, not statistics.

    The index is PERSISTED (ivfpq_index: versioned-cache parquet + npy
    model sidecars) — warm calls serve queries from the landed relation
    without rescanning the embedding table (plan-pinned; the audit's
    exact-truth side scans by definition), and bench --cold bills the
    build."""
    top, lists, probed_df = ivfpq_topk(spark, sf_dir)
    return _ivfpq_verdict(spark, sf_dir, top, lists, probed_df)


def _ivfpq_verdict(
    spark: SparkSession, sf_dir: str, top, lists, probed_df
) -> DataFrame:
    """Per-query (n_results, recall_ok, pruning_ok) verdict shared by the
    wholesale and incremental IVFADC audits — recall vs the exact
    brute-force L2 top-5, pruning asserted by joining results back to the
    stored list assignment against the bounded probed relation."""
    exact = exact_l2_topk(spark, sf_dir).select(
        F.col("query_id").alias("eqid"), F.col("neighbor_id").alias("nid")
    )
    probed_r = probed_df.select(
        F.col("query_id").alias("pqid"), F.col("list_id").alias("plist")
    )
    # top's lineage already contains `lists` (via the index join), so the
    # verdict join must rename both columns or Spark sees a self-join
    lmap = lists.select(
        F.col("vec_id").alias("lvid"), F.col("list_id").alias("llist")
    )
    with_list = top.join(lmap, top.neighbor_id == F.col("lvid")).join(
        F.broadcast(probed_r),
        (top.query_id == F.col("pqid")) & (F.col("llist") == F.col("plist")),
        "left_semi",
    )
    pruned_counts = with_list.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_in_probed")
    )
    joined = top.join(
        exact,
        (top.query_id == F.col("eqid")) & (top.neighbor_id == F.col("nid")),
        "left",
    )
    per_q = joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.count("nid") >= 2).alias("recall_ok"),
    )
    return per_q.join(F.broadcast(pruned_counts), "query_id").select(
        "query_id",
        "n_results",
        "recall_ok",
        (F.col("n_in_probed") == F.col("n_results")).alias("pruning_ok"),
    )


_IVFPQ_INC_MOD = 3  # history = vec_id % 3 != 2; the arriving batch = vec_id % 3 == 2


def _ivfpq_inc_dir(sf_dir: str, tag: str) -> str:
    from data_pipeline_aws_spark.caches import versioned_cache_dir

    return versioned_cache_dir(f"ivfpq_inc_{tag}", sf_dir, __file__)


def _inc_encode_frame(spark: SparkSession, sf_dir: str, frame, books, cents):
    """(vec_id, code_key, list_id) for the given frame against a FROZEN
    model: coarse L2 routing to the given centroids + PQ codes from the
    given codebooks — no training, no other rows touched."""
    import numpy as np
    import pandas as pd

    def make_assign(ct):
        def assign(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                d2 = ((m[:, None, :] - ct[None, :, :]) ** 2).sum(axis=2)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "list_id": d2.argmin(axis=1).astype("int32"),
                    }
                )

        return assign

    lists = frame.mapInPandas(make_assign(cents.copy()), "vec_id long, list_id int")
    return (
        pq_encode(spark, sf_dir, books=books, frame=frame)
        .select("vec_id", "code_key")
        .join(lists, "vec_id")
    )


def ivfpq_inc_index(spark: SparkSession, sf_dir: str):
    """Incremental IVFADC maintenance — the batch-append path the
    persisted index needs so an arriving epoch never triggers a wholesale
    rebuild (the ANN twin of q_dedup_minhash_incremental's epoch
    refresh). v1 trains centroids + codebooks on the HISTORY slice only
    (vec_id % 3 != 2) and lands its codes; v2 FREEZES that model, encodes
    ONLY the arriving batch (vec_id % 3 == 2), and publishes the merged
    index as an epoch-partitioned layout in which the epoch=1 files are
    HARDLINKS of v1's parquet — history codes are never recomputed, never
    re-read, never even re-copied (byte-level appendix proof: same
    inodes; pinned by the property suite). Under
    DPAS_PUBLISH_MODE=objectstore the adoption is a byte copy-forward
    instead (object stores have no links) and the never-recomputed proof
    is content-manifest equality — same contract, store-appropriate
    witness (caches.link_or_copy). Real systems do exactly this
    (FAISS add_with_ids against a trained index; Milvus/Vespa segment
    appends) because codebook retraining at 100 TB is a corpus-scale
    pass while an append is O(batch).

    Returns (merged index DataFrame with its epoch column, books, cents)."""
    import numpy as np

    from data_pipeline_aws_spark import caches

    last = _IVFPQ_INC_MOD - 1
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build_v1(stage: str) -> None:
        hist = e.where(F.col("vec_id") % _IVFPQ_INC_MOD != last)
        books = pq_codebooks(spark, sf_dir, frame=hist)
        cent_rows = hist.orderBy("vec_id").limit(IVFPQ_LISTS).collect()
        cents = np.stack(
            [np.asarray(r.embedding, dtype=np.float64) for r in cent_rows]
        )
        _inc_encode_frame(spark, sf_dir, hist, books, cents).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "index"))
        np.save(os.path.join(stage, "books.npy"), books)
        np.save(os.path.join(stage, "cents.npy"), cents)

    v1 = caches.materialize(_ivfpq_inc_dir(sf_dir, "v1"), build_v1)

    def build_v2(stage: str) -> None:
        books = np.load(os.path.join(v1, "books.npy"))
        cents = np.load(os.path.join(v1, "cents.npy"))
        ep1 = os.path.join(stage, "index", "epoch=1")
        os.makedirs(ep1)
        for name in os.listdir(os.path.join(v1, "index")):
            # posix: hardlink (inode identity); objectstore: byte
            # copy-forward, identity pinned by content_manifest instead
            caches.link_or_copy(
                os.path.join(v1, "index", name), os.path.join(ep1, name)
            )
        batch = e.where(F.col("vec_id") % _IVFPQ_INC_MOD == last)
        _inc_encode_frame(spark, sf_dir, batch, books, cents).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "index", "epoch=2"))
        np.save(os.path.join(stage, "books.npy"), books)
        np.save(os.path.join(stage, "cents.npy"), cents)

    v2 = caches.materialize(_ivfpq_inc_dir(sf_dir, "v2"), build_v2)
    books = np.load(os.path.join(v2, "books.npy"))
    cents = np.load(os.path.join(v2, "cents.npy"))
    return read_parquet(spark, os.path.join(v2, "index")), books, cents


@query(
    "q_sim_ivfpq_incremental",
    oracle=f"""
SELECT vec_id               AS query_id,
       CAST(5 AS BIGINT)    AS n_results,
       TRUE                 AS pruning_ok,
       TRUE                 AS append_ok,
       TRUE                 AS rebuild_identical
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def q_sim_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained IVFADC audit (round-10 verdict order #6):
    search runs against the MERGED epoch-partitioned index — history
    codes landed by v1, the arriving batch appended by v2 under the
    FROZEN v1 codebooks/centroids (see ivfpq_inc_index) — through the
    same ADC + exact-re-rank core as q_sim_ivfpq. The contract is the
    DEFINITION of correct incremental maintenance, not a model-quality
    statistic (recall vs exact truth measures the codebooks, which
    q_sim_ivfpq/q_ivf_tune already grade): per query a full top-5 whose
    neighbors all sit in probed lists (pruning_ok), plus two index-level
    verdicts broadcast onto every row — append_ok (exactly two epochs
    whose row counts equal the corpus' history/batch slice counts — an
    append path that drops or duplicates a slice fails) and
    rebuild_identical (the merged relation is row-for-row IDENTICAL —
    vec_id, list_id, code_key, via full-outer mismatch count — to a
    wholesale re-encode of the whole corpus under the same frozen model:
    append-build ≡ batch-build, the audit's declared one-pass truth
    cost). The file-level half of that identity (epoch-1 parquet is the
    SAME inodes as v1's — history never recomputed, never even copied)
    is pinned by the property suite.

    Scale shape: the v2 refresh touches O(batch) embedding rows + O(1)
    model bytes; the warm query path scans the landed 16-byte-per-row
    code relation pruned to nprobe lists, then the bounded shortlist
    gather — identical plan family to q_sim_ivfpq."""
    index, books, cents = ivfpq_inc_index(spark, sf_dir)
    top, lists, probed = _ivfadc_search(
        spark, sf_dir, index.select("vec_id", "code_key", "list_id"), books, cents
    )
    probed_r = probed.select(
        F.col("query_id").alias("pqid"), F.col("list_id").alias("plist")
    )
    lmap = lists.select(
        F.col("vec_id").alias("lvid"), F.col("list_id").alias("llist")
    )
    in_probed = top.join(lmap, top.neighbor_id == F.col("lvid")).join(
        F.broadcast(probed_r),
        (top.query_id == F.col("pqid")) & (F.col("llist") == F.col("plist")),
        "left_semi",
    )
    pruned_counts = in_probed.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_in_probed")
    )
    verdict = (
        top.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_results"))
        .join(F.broadcast(pruned_counts), "query_id")
        .select(
            "query_id",
            "n_results",
            (F.col("n_in_probed") == F.col("n_results")).alias("pruning_ok"),
        )
    )
    rebuild = _inc_encode_frame(
        spark,
        sf_dir,
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        books,
        cents,
    ).select(
        F.col("vec_id").alias("rvid"),
        F.col("code_key").alias("rcode"),
        F.col("list_id").alias("rlist"),
    )
    mismatches = (
        index.select("vec_id", "code_key", "list_id")
        .join(rebuild, F.col("vec_id") == F.col("rvid"), "full")
        .where(
            F.col("vec_id").isNull()
            | F.col("rvid").isNull()
            | (F.col("code_key") != F.col("rcode"))
            | (F.col("list_id") != F.col("rlist"))
        )
        .agg(F.count(F.lit(1)).alias("n_bad"))
        .select((F.col("n_bad") == 0).alias("rebuild_identical"))
    )
    last = _IVFPQ_INC_MOD - 1
    slice_counts = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .agg(
            F.sum(
                F.when(F.col("vec_id") % _IVFPQ_INC_MOD == last, 1).otherwise(0)
            ).alias("n_batch_corpus"),
            F.count(F.lit(1)).alias("n_corpus"),
        )
    )
    idx_counts = index.agg(
        F.sum(F.when(F.col("epoch") == 2, 1).otherwise(0)).alias("n_batch_idx"),
        F.count(F.lit(1)).alias("n_idx"),
        F.count_distinct("epoch").alias("n_epochs"),
    )
    append_ok = slice_counts.crossJoin(idx_counts).select(
        (
            (F.col("n_batch_idx") == F.col("n_batch_corpus"))
            & (F.col("n_idx") == F.col("n_corpus"))
            & (F.col("n_epochs") == 2)
        ).alias("append_ok")
    )
    return verdict.crossJoin(F.broadcast(append_ok)).crossJoin(
        F.broadcast(mismatches)
    )


MMR_POOL = 20  # relevance candidates re-ranked per query
MMR_K = 5  # final diversified picks per query
# MMR trade-off: score = LAMBDA*relevance - (1-LAMBDA)*max-sim-to-selected.
# Both factors appear as the literals 0.7 / 0.3 in the Spark expression AND
# the generated oracle so the float arithmetic is the same on both engines.


def _mmr_oracle(k: int) -> str:
    """Unrolled greedy-MMR oracle in EXACT INTEGER micro-units: relevance
    and pairwise cosines are CAST(ROUND(cos*1e6) AS BIGINT) — both engines
    round the SAME double at scale 0, where their rules agree everywhere
    (HALF_UP and half-away coincide; the sf1.0 sweep caught ROUND(x, 6)
    itself diverging by one 6th-decimal ulp on a 0.7x-0.3y half-way
    value) — and each step's score is the EXACT integer 7*rel_u -
    3*max_sim_u (1e-7 units): no float ever enters an argmax or the
    output. Step t picks (mmr_u DESC, cid ASC) over the not-yet-selected
    pool; a loop has no SQL twin, but a FIXED k does — one CTE pair per
    step, each referencing the previous selected set."""
    steps = []
    for t in range(2, k + 1):
        prev = f"sel{t - 1}"
        steps.append(f"""
cand{t} AS (
  SELECT p.query_id, p.cid, p.rel_u,
         7 * p.rel_u - 3 * MAX(s.s_u) AS mmr_u
  FROM pool p
  LEFT JOIN {prev} x ON x.query_id = p.query_id AND x.cid = p.cid
  JOIN sim s ON s.query_id = p.query_id AND s.c1 = p.cid
  JOIN {prev} y ON y.query_id = s.query_id AND y.cid = s.c2
  WHERE x.cid IS NULL
  GROUP BY p.query_id, p.cid, p.rel_u
),
sel{t} AS (
  SELECT * FROM {prev}
  UNION ALL
  SELECT query_id, cid, rel_u, mmr_u, {t} AS rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY mmr_u DESC, cid) AS rn2
    FROM cand{t}
  ) WHERE rn2 = 1
)""")
    return f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
pool0 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cid,
         CAST(ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm) * 1000000)
              AS BIGINT) AS rel_u
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
pool AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel_u DESC, cid) AS rn
    FROM pool0
  ) WHERE rn <= {MMR_POOL}
),
sim AS (
  SELECT a.query_id, a.cid AS c1, b.cid AS c2,
         CAST(ROUND(list_dot_product(na.e, nb.e) / (na.nrm * nb.nrm) * 1000000)
              AS BIGINT) AS s_u
  FROM pool a
  JOIN pool b ON a.query_id = b.query_id AND a.cid <> b.cid
  JOIN n na ON na.vec_id = a.cid
  JOIN n nb ON nb.vec_id = b.cid
),
sel1 AS (
  SELECT query_id, cid, rel_u, 7 * rel_u AS mmr_u, 1 AS rank
  FROM pool WHERE rn = 1
),{",".join(steps)}
SELECT query_id, rank, cid AS neighbor_id,
       rel_u AS relevance_micro, mmr_u AS mmr_score_e7
FROM sel{k}
"""


@query("q_mmr_diversify", oracle=_mmr_oracle(MMR_K))
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank: for each query, greedily pick 5
    of its 20 most-relevant candidates, each step maximizing
    0.7*relevance - 0.3*(max cosine to the already-picked set) — the
    classic Carbonell-Goldstein diversifier every retrieval stack bolts
    onto ANN top-k so near-duplicate neighbors don't crowd out coverage
    (and, in a training-data pipeline, the batch-selection step that keeps
    a sampled batch from being 5 copies of the same document).

    The relevance pool and the pairwise-sim relation are computed JVM-side
    in EXACT INTEGER micro-units — CAST(ROUND(cos*1e6) AS BIGINT), the
    scale-0 rounding on which Spark's HALF_UP and DuckDB's half-away
    agree everywhere (the sf1.0 sweep caught scale-6 ROUND itself
    diverging by one last-digit ulp on a 0.7x-0.3y half-way double) —
    and the k=5 greedy runs as ONE cogrouped `applyInPandas` per query
    whose scores are the exact bigints 7*rel_u - 3*max_sim_u: no float
    enters any argmax or the output, so this stays a full hash-verified
    key with nothing left to replay.
    (Round 7 rewrite: the previous k-unrolled DataFrame loop was plan-
    correct but paid ~66 exchanges / 6 s at sf0.1 in round-trip latency;
    the cogroup does the same bounded work in one pass for ~3 exchanges.)

    Scale shape: candidate generation is the existing brute/ANN machinery
    (one broadcast of the query batch, corpus never shuffled); everything
    after is per-query BOUNDED — pool 20 rows, sim 20x19 rows — so a
    million-query batch distributes as a million independent 20-row
    pandas groups with no cross-query exchange: one shuffle builds the
    pool, one co-partitioned self-join builds sim, one cogroup exchange
    feeds the greedy. The pool is localCheckpoint'ed once so the
    broadcast-scan isn't recomputed for the sim side."""
    n = _normed(spark, sf_dir)
    q = n.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = n.select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cid"))
        .select(
            "query_id",
            "cid",
            "ce",
            "cn",
            F.round(
                _dot("qe", "ce") / (F.col("qn") * F.col("cn")) * 1000000
            ).cast("long").alias("rel_u"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel_u"), F.asc("cid"))
    pool = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MMR_POOL)
        .localCheckpoint(eager=False)
    )
    a, b = pool.alias("a"), pool.alias("b")
    sim = a.join(
        b,
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.cid") != F.col("b.cid")),
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.cid").alias("c1"),
        F.col("b.cid").alias("c2"),
        F.round(
            _dot(F.col("a.ce"), F.col("b.ce"))
            / (F.col("a.cn") * F.col("b.cn"))
            * 1000000
        ).cast("long").alias("s_u"),
    )

    k = MMR_K

    def greedy(pool_pdf: pd.DataFrame, sim_pdf: pd.DataFrame) -> pd.DataFrame:
        # Pure INTEGER arithmetic: scores are the exact bigints
        # 7*rel_u - 3*max_sim_u — no rounding happens in Python at all,
        # so there is nothing to replay and nothing to diverge.
        import pandas as pd

        if pool_pdf.empty:
            return pd.DataFrame(
                columns=[
                    "query_id",
                    "rank",
                    "neighbor_id",
                    "relevance_micro",
                    "mmr_score_e7",
                ]
            )
        qid = int(pool_pdf["query_id"].iloc[0])
        cand = pool_pdf.sort_values(["rel_u", "cid"], ascending=[False, True])
        cids = cand["cid"].to_numpy()
        rels = cand["rel_u"].to_numpy()
        # NULL cosines (zero-norm vectors) and absent sim rows must not
        # crash the executor: skip them, mirroring SQL MAX's null-ignoring
        # semantics; a candidate with NO usable sim row sorts last (the
        # NULLS-LAST order the pre-r7 DataFrame unroll gave it).
        s_of = {
            (int(r.c1), int(r.c2)): int(r.s_u)
            for r in sim_pdf.itertuples(index=False)
            if r.s_u is not None and not pd.isna(r.s_u)
        }
        picked = [(int(cids[0]), int(rels[0]), 7 * int(rels[0]), 1)]
        chosen = [int(cids[0])]
        for t in range(2, min(k, len(cids)) + 1):
            best = None
            for cid, rel in zip(cids, rels):
                cid = int(cid)
                if cid in chosen:
                    continue
                sims = [s for c in chosen if (s := s_of.get((cid, c))) is not None]
                if sims:
                    score = 7 * int(rel) - 3 * max(sims)
                    key = (0, -score, cid)
                else:
                    score = None
                    key = (1, 0, cid)
                if best is None or key < best[0]:
                    best = (key, cid, int(rel), score)
            picked.append((best[1], best[2], best[3], t))
            chosen.append(best[1])
        return pd.DataFrame(
            {
                "query_id": [qid] * len(picked),
                "rank": [p[3] for p in picked],
                "neighbor_id": [p[0] for p in picked],
                "relevance_micro": [p[1] for p in picked],
                "mmr_score_e7": [p[2] for p in picked],
            }
        )

    return (
        pool.select("query_id", "cid", "rel_u")
        .groupBy("query_id")
        .cogroup(sim.groupBy("query_id"))
        .applyInPandas(
            greedy,
            "query_id long, rank int, neighbor_id long, "
            "relevance_micro long, mmr_score_e7 long",
        )
    )


MRL_DIMS = (8, 16, 32, 64)  # matryoshka prefix lengths; 64 = full dim


@query(
    "q_matryoshka_recall",
    oracle=f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
dims AS (SELECT unnest([{", ".join(str(d) for d in MRL_DIMS)}]) AS dim),
scored AS (
  SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.e[1:d.dim], c.e[1:d.dim]) /
               (sqrt(list_dot_product(q.e[1:d.dim], q.e[1:d.dim])) *
                sqrt(list_dot_product(c.e[1:d.dim], c.e[1:d.dim]))), 6) AS cos_sim
  FROM n q, n c, dims d
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    AND list_dot_product(q.e[1:d.dim], q.e[1:d.dim]) > 0
    AND list_dot_product(c.e[1:d.dim], c.e[1:d.dim]) > 0
),
topk AS (
  SELECT dim, query_id, neighbor_id
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY dim, query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn <= {TOP_K}
),
full_dim AS (
  SELECT query_id, neighbor_id FROM topk WHERE dim = {MRL_DIMS[-1]}
)
SELECT CAST(t.dim AS INT)                        AS dim,
       t.query_id                                AS query_id,
       CAST(COUNT(f.neighbor_id) AS INT)         AS hits,
       ROUND(COUNT(f.neighbor_id) / {TOP_K}.0, 6) AS recall_at_k
FROM topk t
LEFT JOIN full_dim f
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY t.dim, t.query_id
""",
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-dimension) recall audit — the measurement behind
    MRL-style truncatable embeddings (Kusupati et al. 2022): score the
    query batch against the corpus using only the FIRST d components for
    d in (8, 16, 32, 64), take exact top-5 at each prefix, and report per
    (d, query) how many of the full-dimension top-5 the truncated metric
    retains (hits, recall@5). This is the audit a 100 TB pipeline runs
    before committing to shipping truncated vectors: it quantifies the
    recall cost of a 2-8x index-size cut BEFORE rebuilding the index.

    Scale shape: ONE corpus pass — every per-prefix norm is computed
    map-side per corpus row (4 extra columns, no extra scan), the 10-row
    query batch broadcasts, each pair emits its 4 rounded prefix cosines
    through one `stack` (pairs never materialize per-dim scans), and the
    per-(dim, query) top-5 rides the rank-window WindowGroupLimit heap, so
    executors emit only local top-k candidates. The recall join is a
    40-row broadcast self-join of the top-k relation — driver never sees
    the corpus. Ranking uses ROUND(cos, 6) + neighbor-id tiebreak (the
    q_sim_topk determinism contract), so both engines rank identically at
    float ulp boundaries; zero-norm prefixes are excluded on both sides
    before the division."""
    n = _normed(spark, sf_dir)
    full = MRL_DIMS[-1]

    def pref(col: str, d: int) -> Column:
        return F.slice(F.col(col), 1, d)

    # per-row prefix norms, map-side (one scan; d=full reuses the stored nrm)
    def with_pref_norms(df: DataFrame, vec: str, tag: str) -> DataFrame:
        for d in MRL_DIMS[:-1]:
            df = df.withColumn(
                f"{tag}n{d}", F.sqrt(_dot(pref(vec, d), pref(vec, d)))
            )
        return df.withColumn(f"{tag}n{full}", F.col("nrm"))

    q = with_pref_norms(
        n.where(F.col("vec_id") < N_QUERIES), "e", "q"
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        *[F.col(f"qn{d}") for d in MRL_DIMS],
    )
    c = with_pref_norms(n, "e", "c").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        *[F.col(f"cn{d}") for d in MRL_DIMS],
    )
    paired = F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
    for d in MRL_DIMS:
        paired = paired.withColumn(
            f"cos{d}",
            F.when(
                (F.col(f"qn{d}") > 0) & (F.col(f"cn{d}") > 0),
                F.round(
                    _dot(pref("qe", d), pref("ce", d))
                    / (F.col(f"qn{d}") * F.col(f"cn{d}")),
                    6,
                ),
            ),
        )
    stack = ", ".join(f"{d}, cos{d}" for d in MRL_DIMS)
    scored = paired.select(
        "query_id",
        "neighbor_id",
        F.expr(f"stack({len(MRL_DIMS)}, {stack}) AS (dim, cos_sim)"),
    ).where(F.col("cos_sim").isNotNull())
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    topk = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("dim", "query_id", "neighbor_id")
    )
    full_dim = topk.where(F.col("dim") == full).select(
        F.col("query_id").alias("fq"),
        F.col("neighbor_id").alias("full_neighbor"),
    )
    return (
        topk.join(
            F.broadcast(full_dim),
            (F.col("query_id") == F.col("fq"))
            & (F.col("neighbor_id") == F.col("full_neighbor")),
            "left",
        )
        .groupBy("dim", "query_id")
        .agg(
            F.count("full_neighbor").cast("int").alias("hits"),
            F.round(F.count("full_neighbor") / float(TOP_K), 6).alias(
                "recall_at_k"
            ),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "query_id",
            "hits",
            "recall_at_k",
        )
    )
