"""Source/sink round-trips (SURVEY §2.1): CSV ingest and partitioned parquet
sink, including partition-pruning plan checks."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_aws_spark.sources.ingest import read_csv, write_partitioned
from data_pipeline_aws_spark.tables import table


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nat = table(spark, sf_dir, "nation")
    csv_dir = str(tmp_path / "nation_csv")
    nat.write.mode("overwrite").option("header", True).csv(csv_dir)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = read_csv(spark, csv_dir, schema)
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in nat.collect()
    )


def test_partitioned_parquet_sink_and_pruning(spark, sf_dir, tmp_path):
    o = table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_partitioned(o, out, "order_year")

    back = spark.read.parquet(out)
    assert back.count() == o.count()

    pruned = back.filter(F.col("order_year") == 1996)
    expected = o.filter(F.col("order_year") == 1996).count()
    assert pruned.count() == expected
    # partition pruning: the 1996 filter must reach the scan as a partition
    # filter, not a data filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "order_year" in plan.split("PartitionFilters")[1][:200]


def test_compaction_collapses_file_count(spark, sf_dir):
    import glob
    import os

    from data_pipeline_aws_spark import all_queries, caches
    from data_pipeline_aws_spark.sources import ingest

    all_queries()["q_compact"](spark, sf_dir).collect()
    frag_dir = caches.versioned_cache_dir("frag_events", sf_dir, ingest.__file__)
    comp_dir = caches.versioned_cache_dir("compacted_events", sf_dir, ingest.__file__)
    frag = glob.glob(os.path.join(frag_dir, "*.parquet"))
    comp = glob.glob(os.path.join(comp_dir, "*.parquet"))
    assert len(frag) == 200
    # tiny fixture → well under one 128 MB target file
    assert len(comp) == 1


def test_zorder_layout_tightens_per_file_bounding_boxes(spark, sf_dir):
    """Z-order clustering must give each output file a small bounding box
    over BOTH interleaved dimensions — that box is what parquet row-group
    min/max stats expose to scan pruning. Require the mean per-file box
    area under 15% of the full (partkey × suppkey) domain; an unclustered
    layout leaves every file at ~100%."""
    import glob
    import os

    from data_pipeline_aws_spark import all_queries, caches
    from data_pipeline_aws_spark.sources import ingest

    all_queries()["q_zorder"](spark, sf_dir).collect()
    out = caches.versioned_cache_dir("zorder_lineitem", sf_dir, ingest.__file__)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) > 4, files

    li = table(spark, sf_dir, "lineitem")
    dom = li.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("dp"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("ds"),
    ).first()
    domain_area = dom.dp * dom.ds

    areas = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(
                (F.max("l_partkey") - F.min("l_partkey")).alias("dp"),
                (F.max("l_suppkey") - F.min("l_suppkey")).alias("ds"),
            )
            .first()
        )
        areas.append(r.dp * r.ds)
    mean_frac = sum(areas) / len(areas) / domain_area
    assert mean_frac < 0.15, (mean_frac, sorted(areas))


def test_gdpr_delete_leaves_untouched_partitions_untouched(spark, sf_dir, tmp_path):
    """gdpr_delete_partitions must rewrite ONLY the partitions that contain
    tombstoned rows — one dynamic-overwrite job, untouched partition
    directories byte- and mtime-identical — and delete exactly the
    tombstoned rows."""
    import os

    from data_pipeline_aws_spark.sources.ingest import (
        gdpr_delete_partitions,
        write_partitioned,
    )

    src = (
        table(spark, sf_dir, "lineitem")
        .withColumn("ship_year", F.year("l_shipdate"))
        .select("l_orderkey", "l_extendedprice", "ship_year")
    )
    years = sorted(r.ship_year for r in src.select("ship_year").distinct().collect())
    assert len(years) >= 2
    target_year = years[0]
    out = str(tmp_path / "gdpr_tbl")
    write_partitioned(src, out, "ship_year")

    def part_files(y):
        d = os.path.join(out, f"ship_year={y}")
        return {
            f: (os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
        }

    before = {y: part_files(y) for y in years}
    # tombstones confined to one partition → exactly one partition rewritten
    tombstoned = (F.col("ship_year") == target_year) & (F.col("l_orderkey") % 7 == 0)
    gdpr_delete_partitions(src, out, tombstoned, "ship_year")

    for y in years:
        if y == target_year:
            continue
        assert part_files(y) == before[y], f"partition ship_year={y} was rewritten"

    back = spark.read.parquet(out)
    assert back.where(tombstoned).count() == 0
    expected = src.where(~tombstoned).count()
    assert back.count() == expected


def test_range_sort_sink_files_are_disjoint_and_internally_sorted(spark, sf_dir):
    """q_range_sort_sink must leave at most 8 parquet files (boundary
    sampling may leave a partition empty on skewed/tiny inputs — then no
    file is written) whose [min,max] price ranges are pairwise disjoint
    AND whose rows are internally sorted — checked at the filesystem
    level, file by file."""
    import glob

    import pandas as pd

    from data_pipeline_aws_spark import all_queries, caches
    from data_pipeline_aws_spark.sources import ingest

    row = all_queries()["q_range_sort_sink"](spark, sf_dir).collect()[0]
    assert row.n_files_ok and row.ranges_disjoint

    out = caches.versioned_cache_dir("range_sorted_orders", sf_dir, ingest.__file__)
    files = sorted(glob.glob(out + "/*.parquet"))
    assert 1 <= len(files) <= 8
    spans = []
    total = 0
    for f in files:
        s = pd.read_parquet(f)["o_totalprice"]
        assert s.is_monotonic_increasing, f"{f} not internally sorted"
        spans.append((float(s.min()), float(s.max())))
        total += len(s)
    spans.sort()
    for (_, amax), (bmin, _) in zip(spans, spans[1:]):
        assert amax < bmin
    assert total == row.n_rows


def test_gdpr_delete_drops_fully_tombstoned_partition(spark, sf_dir, tmp_path):
    """A partition whose rows are ALL tombstoned produces no survivors for
    dynamic overwrite to rewrite — the helper must drop its directory
    explicitly, not silently retain the data."""
    import os

    from data_pipeline_aws_spark.sources.ingest import (
        gdpr_delete_partitions,
        write_partitioned,
    )

    src = (
        table(spark, sf_dir, "lineitem")
        .withColumn("ship_year", F.year("l_shipdate"))
        .select("l_orderkey", "l_extendedprice", "ship_year")
    )
    years = sorted(r.ship_year for r in src.select("ship_year").distinct().collect())
    target_year = years[0]
    out = str(tmp_path / "gdpr_full")
    write_partitioned(src, out, "ship_year")
    assert os.path.isdir(os.path.join(out, f"ship_year={target_year}"))

    gdpr_delete_partitions(src, out, F.col("ship_year") == target_year, "ship_year")

    assert not os.path.exists(os.path.join(out, f"ship_year={target_year}"))
    back = spark.read.parquet(out)
    assert back.where(F.col("ship_year") == target_year).count() == 0
    assert back.count() == src.where(F.col("ship_year") != target_year).count()


def test_gzip_ingest_shards_are_real_gzip_members(spark, sf_dir):
    """The gzip fixture must be genuinely compressed shard files (magic
    bytes 1f 8b), several of them (the writer-controls-parallelism
    contract), and stdlib gzip must inflate each one standalone — the
    non-splittable-member property the docstring claims."""
    import glob
    import gzip
    import os

    from data_pipeline_aws_spark import all_queries, caches
    from data_pipeline_aws_spark.sources import ingest

    all_queries()["q_gzip_ingest"](spark, sf_dir).collect()
    out = caches.versioned_cache_dir("gz_documents", sf_dir, ingest.__file__)
    shards = glob.glob(os.path.join(out, "*.gz"))
    assert len(shards) > 1, "single monolithic .gz defeats read parallelism"
    with open(shards[0], "rb") as fh:
        assert fh.read(2) == b"\x1f\x8b"
    with gzip.open(shards[0], "rb") as fh:
        first = fh.readline()
    assert b"\t" in first  # doc_id \t lang \t text framing survived


def test_warc_parser_rejects_malformed_records():
    """The WARC grammar walk fails LOUDLY — bad version line, missing
    Content-Length, truncated payload, unparseable Target-URI each raise
    ValueError (never a silently short corpus). Pinned on the SAME
    module-level parser the registered query ships to mapInPandas."""
    import pandas as pd
    import pytest

    from data_pipeline_aws_spark.sources.ingest import warc_parse_batches

    good = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Record-ID: <urn:dpas:doc:7>\r\n"
        b"WARC-Target-URI: http://corpus.invalid/en/7\r\n"
        b"Content-Type: text/plain\r\n"
        b"Content-Length: 5\r\n\r\n"
        b"hello\r\n\r\n"
    )

    def run(buf: bytes):
        return list(warc_parse_batches(iter([pd.DataFrame({"content": [buf]})])))

    out = run(good)[0]
    assert out.iloc[0].to_dict() == {
        "doc_id": 7,
        "lang": "en",
        "payload_len": 5,
        "payload_md5": int(__import__("hashlib").md5(b"hello").hexdigest()[:8], 16),
    }

    with pytest.raises(ValueError, match="version line"):
        run(good.replace(b"WARC/1.0", b"WARC/9.9"))
    with pytest.raises(ValueError, match="Content-Length"):
        run(good.replace(b"Content-Length: 5\r\n", b""))
    with pytest.raises(ValueError, match="truncated"):
        run(good.replace(b"Content-Length: 5", b"Content-Length: 500"))
    with pytest.raises(ValueError, match="Target-URI"):
        run(good.replace(b"http://corpus.invalid/en/7", b"ftp://other/x"))


def test_warc_payload_framing_survives_embedded_crlf(spark, sf_dir):
    """Content-Length framing, not line structure, delimits payloads — a
    payload containing the record trailer bytes (CRLF CRLF) and even a fake
    WARC version line must round-trip intact."""
    import hashlib as _h

    import pandas as pd

    from data_pipeline_aws_spark.sources.ingest import warc_parse_batches

    evil = b"line1\r\n\r\nWARC/1.0\r\nnot-a-header\r\n\r\nrest"
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Target-URI: http://corpus.invalid/zh/42\r\n"
        b"Content-Length: " + str(len(evil)).encode() + b"\r\n\r\n" + evil + b"\r\n\r\n"
    )
    out = list(warc_parse_batches(iter([pd.DataFrame({"content": [rec * 3]})])))[0]
    assert len(out) == 3
    assert set(out["payload_md5"]) == {int(_h.md5(evil).hexdigest()[:8], 16)}


def test_warcgz_shards_are_per_record_gzip_members(spark, sf_dir):
    """The .warc.gz fixture must hold ONE gzip member PER RECORD (the
    CommonCrawl seekable form): several shard files (writer-sharded
    parallelism), each starting with gzip magic, member count per shard
    equal to its record count, and any single member must inflate
    standalone into exactly one complete WARC/1.0 record — the
    record-granular random-access property the operator claims."""
    import glob
    import os
    import zlib

    from data_pipeline_aws_spark import all_queries, caches
    from data_pipeline_aws_spark.sources import ingest

    n_rows = all_queries()["q_warcgz_ingest"](spark, sf_dir).count()
    shards = sorted(
        glob.glob(
            os.path.join(
                caches.versioned_cache_dir("warcgz_documents", sf_dir, ingest.__file__),
                "member-*.warc.gz",
            )
        )
    )
    assert len(shards) > 1, "single monolithic shard defeats read parallelism"
    total_members = 0
    for shard in shards:
        buf = open(shard, "rb").read()
        assert buf[:2] == b"\x1f\x8b"
        pos = 0
        first_member = None
        while pos < len(buf):
            d = zlib.decompressobj(wbits=31)
            rec = d.decompress(buf[pos:])
            assert d.eof, "member did not terminate inside the shard"
            if first_member is None:
                first_member = rec
            total_members += 1
            pos = len(buf) - len(d.unused_data)
        # one member == one complete record: version line up front, the
        # CRLF-CRLF trailer at the end, exactly one version line inside
        assert first_member.startswith(b"WARC/1.0\r\n")
        assert first_member.endswith(b"\r\n\r\n")
        assert first_member.count(b"WARC/1.0\r\n") == 1
    assert total_members == n_rows


def test_warcgz_parser_rejects_broken_member_framing(spark):
    """Framing violations fail LOUDLY: a truncated member raises, and a
    shard whose single gzip member holds TWO records (valid WARC, broken
    per-record contract) raises the member/record-count mismatch."""
    import gzip

    import pandas as pd
    import pytest

    from data_pipeline_aws_spark.sources.ingest import (
        _warcgz_record,
        warcgz_parse_batches,
    )

    one = gzip.compress(_warcgz_record(1, "en", "hello"))
    two_in_one = gzip.compress(
        _warcgz_record(2, "de", "aa") + _warcgz_record(3, "fr", "bb")
    )

    def run(payload):
        return list(
            warcgz_parse_batches(iter([pd.DataFrame({"content": [payload]})]))
        )

    out = run(one)[0]
    assert list(out["doc_id"]) == [1] and list(out["payload_len"]) == [5]
    with pytest.raises(ValueError, match="truncated gzip member"):
        run(one[:-4])
    with pytest.raises(ValueError, match="per-record framing violated"):
        run(two_in_one)
