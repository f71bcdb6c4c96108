"""Table loader — path-parameterized, schema-stable parquet sources.

The reference's storage model is "S3 prefixes as tables" with env-parameterized
locations (``lambda-stack.yml:20-21`` passes ``--ENV`` into the Glue job);
here the same idea is ``load(spark, sf_dir)``: one base directory, bare table
names, parquet scans that Catalyst can push filters and projections into.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5, nation=25 rows at every SF). supplier/customer/part grow with SF,
# so they are NOT hard-coded broadcast — AQE decides from runtime stats.
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def _file_stamp(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(relative name, st_mtime_ns, st_size)`` of every file a parquet
    scan of ``path`` reads: the file itself, or a directory's visible files
    plus those under its ``k=v`` partition directories. A rewrite in place
    changes a name, an mtime or a size, so the stamp is the validity key of
    everything memoized from the files (schemas, footers). Empty when
    ``path`` is not a local file or directory — nothing is memoized then."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_mtime_ns, st.st_size),)
    except (OSError, ValueError):
        return ()
    out: list[tuple[str, int, int]] = []
    dirs = [("", path)]
    while dirs:
        rel, d = dirs.pop()
        try:
            with os.scandir(d) as it:
                for e in it:
                    # Spark's own listing filter: `.`/`_` names are not
                    # data (_SUCCESS, _commits), unless `_k=v` partitions
                    if e.name.startswith(".") or (
                        e.name.startswith("_") and "=" not in e.name
                    ):
                        continue
                    if e.is_dir():
                        if "=" in e.name:
                            dirs.append((rel + e.name + "/", e.path))
                    else:
                        st = e.stat()
                        out.append((rel + e.name, st.st_mtime_ns, st.st_size))
        except OSError:
            return ()
    return tuple(sorted(out))


@lru_cache(maxsize=1024)
def _footer_totals(path: str, stamp: tuple) -> tuple[int, int]:
    import pyarrow.parquet as pq

    metas = [
        pq.ParquetFile(os.path.join(path, rel) if rel else path).metadata
        for rel, _, _ in stamp
        if not rel or rel.endswith(".parquet")
    ]
    return (
        sum(m.num_row_groups for m in metas),
        sum(m.num_rows for m in metas),
    )


def _parquet_parts(path: str) -> tuple[int, int]:
    """``(row groups, rows)`` summed over the parquet footers of ``path``:
    a footer-only read, no Spark job. Memoized on :func:`_file_stamp`, so a
    table rewritten in place is read afresh, never served stale."""
    return _footer_totals(path, _file_stamp(path))


def _scan_width(path: str) -> int:
    """How many tasks a parquet scan of ``path`` can possibly get: row
    groups are Spark's split atoms (a file with one row group is one task
    no matter what maxPartitionBytes says)."""
    return _parquet_parts(path)[0]


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a table from its parquet footer(s) — free (no
    Spark job, metadata only). The scale-adaptive partition-width inputs
    (e.g. q_item_item_recs' pair-join width) derive from this so per-task
    state stays bounded at any SF instead of trusting AQE's byte-advisory
    coalescing to keep hash-build sides small (guide §5: more partitions =
    smaller per-task state)."""
    return _parquet_parts(f"{sf_dir}/{name}.parquet")[1]


# Per session: path -> (file stamp, inferred schema), oldest first. Keyed by
# the session because inference follows its conf (nanosAsLong, NTZ); capped
# because per-run temp paths would otherwise pile up in a long session.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = (
    weakref.WeakKeyDictionary()
)
_SCHEMAS_LOCK = threading.Lock()
_SCHEMAS_PER_SESSION = 512


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without re-inferring an unchanged
    schema. Inference reads footers in a Spark job of its own on every call
    (a one-task job per scan, most of a warm plan build); the first read of
    a stamp infers and memoizes ``df.schema``, later reads of the same
    stamp in the same session pass it via ``spark.read.schema``. The schema
    is the one inference returned, so both reads plan the same columns and
    types; a file rewritten in place changes the stamp and is inferred
    again."""
    stamp = _file_stamp(path)
    if not stamp:
        return spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        memo = _SCHEMAS.setdefault(spark, OrderedDict())
        hit = memo.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        memo[path] = (stamp, df.schema)
        memo.move_to_end(path)
        while len(memo) > _SCHEMAS_PER_SESSION:
            memo.popitem(last=False)
    return df


def spread(spark: SparkSession, df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Round-robin repartition to the session's core count IFF the source
    table's parquet layout cannot feed the cores itself.

    The optimization-guide §2.5 move for unsplittable inputs ("one huge
    unsplittable file ... repartition immediately after the read"): the
    bench fixtures are single-file single-row-group parquet, so every scan
    stage — and with it all map-side work (tokenize, shingle, hash,
    vectorized decode) — otherwise runs as ONE task on local[32] (measured:
    q_text_winnow spends 3.85 s of its 3.96 s stage-wall in one task). The
    gate is the actual input layout, not a local-mode constant: a
    production table with >= cores row groups (any realistic 100 TB layout)
    returns the scan untouched, so no extra exchange ever ships data that
    was already parallel. Catalyst pushes filters/projections below the
    repartition, so pushdown at the scan is unchanged."""
    if _scan_width(f"{sf_dir}/{name}.parquet") >= spark.sparkContext.defaultParallelism:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def table(
    spark: SparkSession, sf_dir: str, name: str, *, spread_scan: bool = False
) -> DataFrame:
    """Scan one table through :func:`read_parquet` — no data caching, no
    hints — so every downstream query plan starts from a pushdown-capable
    file scan; only the inferred schema is memoized.

    ``events.ts`` is parquet TIMESTAMP(NANOS); how it decodes depends on the
    Spark version: ≤4.0 with ``spark.sql.legacy.parquet.nanosAsLong=true``
    (pinned by ``session.get_spark``/``tune_session``) it arrives as
    epoch-nanos LongType; 4.1+ ignores that flag and reads it as a
    µs-truncated TIMESTAMP_NTZ. Both are normalized here to a µs
    TimestampType (session timezone is pinned UTC, so the NTZ cast is
    value-preserving) — the exact truncation DuckDB applies when it reads
    the same file into its µs-native TIMESTAMP, so oracle comparisons stay
    bit-identical across versions. A memoized schema carries the same
    decoded type, so the normalization is the same on a hit and a miss.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if spread_scan:
        df = spread(spark, df, sf_dir, name)
    return df


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables as a dict and register each as a temp view so both the
    DataFrame API and ``spark.sql`` address the same scans."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
