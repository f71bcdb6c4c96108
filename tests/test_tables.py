"""The per-session parquet schema memo behind ``tables.read_parquet``.

A scan without a schema makes Spark infer one from the footers, and that
inference is a Spark job of its own. The memo keeps the inferred schema per
session under a stamp of the files read (name, mtime, size), so a repeated
scan of an unchanged file launches no job, while a file rewritten in place
is inferred again. Jobs are counted through a job group and
``statusTracker().getJobIdsForGroup``."""

from __future__ import annotations

import itertools
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_pipeline_aws_spark import tables
from data_pipeline_aws_spark.occ import occ_init, occ_live, occ_merge
from data_pipeline_aws_spark.tables import read_parquet, table, table_rows

_GROUPS = itertools.count()


def _jobs_launched(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and how many
    Spark jobs it launched. The status store is fed by an asynchronous
    listener bus that delivers events in order, so a fence job run after
    ``fn`` and seen by the tracker means every job of ``fn`` is seen too."""
    sc = spark.sparkContext
    group = f"test_tables_{next(_GROUPS)}"
    fence = f"{group}_fence"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(fence, fence)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(fence):
        assert time.monotonic() < deadline, "fence job never reached the tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _copy_table(sf_dir, dst_dir, name):
    os.makedirs(dst_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/{name}.parquet", f"{dst_dir}/{name}.parquet")
    return str(dst_dir)


def test_second_table_scan_of_unchanged_file_launches_no_job(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path / "sf", "orders")
    _, miss_jobs = _jobs_launched(spark, lambda: table(spark, d, "orders"))
    assert miss_jobs >= 1  # schema inference: the job the memo removes
    df, hit_jobs = _jobs_launched(spark, lambda: table(spark, d, "orders"))
    assert hit_jobs == 0
    assert df.count() == table_rows(d, "orders")


def test_hit_and_miss_give_identical_dtypes(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path / "sf", "events")
    miss = table(spark, d, "events")
    hit, hit_jobs = _jobs_launched(spark, lambda: table(spark, d, "events"))
    assert hit_jobs == 0
    assert hit.dtypes == miss.dtypes
    assert dict(hit.dtypes)["ts"] == "timestamp"
    assert sorted(hit.collect()) == sorted(miss.collect())


def test_rewrite_in_place_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]  # served by the memo
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    back = read_parquet(spark, path)
    assert back.columns == ["b", "c"]
    assert [tuple(r) for r in back.collect()] == [("x", 1.5)]


def test_partitioned_directory_stamp_tracks_new_partitions(spark, tmp_path):
    path = str(tmp_path / "landed")
    spark.createDataFrame([(1, 0)], "v long, k int").write.partitionBy("k").parquet(path)
    assert read_parquet(spark, path).count() == 1
    before = tables._file_stamp(path)
    spark.createDataFrame([(2, 1)], "v long, k int").write.mode("append").partitionBy(
        "k"
    ).parquet(path)
    after = tables._file_stamp(path)
    # only part files count, found through the k=v directories; _SUCCESS
    # and the .crc side files are not data
    assert {name.split("/")[0] for name, _, _ in before} == {"k=0"}
    assert {name.split("/")[0] for name, _, _ in after} == {"k=0", "k=1"}
    assert all(name.endswith(".parquet") for name, _, _ in after)
    back = read_parquet(spark, path)
    assert back.dtypes == [("v", "bigint"), ("k", "int")]
    assert sorted(tuple(r) for r in back.collect()) == [(1, 0), (2, 1)]


def test_footer_row_count_follows_a_rewrite(tmp_path):
    d = str(tmp_path)
    path = f"{d}/orders.parquet"
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)
    assert table_rows(d, "orders") == 2
    assert tables._scan_width(path) == 1
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3, 4, 5]}), path, row_group_size=2)
    assert table_rows(d, "orders") == 5
    assert tables._scan_width(path) == 3


def test_occ_live_same_rows_on_hit_and_miss(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    base = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        )
    )
    occ_init(spark, path, base)
    updates = spark.createDataFrame(
        [(1, 100), (2, 100)], "o_orderkey long, add_cents long"
    )
    occ_merge(spark, path, updates)
    tables._SCHEMAS.pop(spark, None)  # cold memo: base and delta infer
    miss, miss_jobs = _jobs_launched(spark, lambda: occ_live(spark, path))
    assert miss_jobs >= 2
    hit, hit_jobs = _jobs_launched(spark, lambda: occ_live(spark, path))
    assert hit_jobs == 0
    assert sorted(hit.collect()) == sorted(miss.collect())
