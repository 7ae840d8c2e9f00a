"""JDBC splitter parity (pure-Python, no DB needed), partitioners,
bad-record skipping, and example pipelines."""

from __future__ import annotations

import datetime as dt
import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_prototype_spark.functions.udf_surface import skip_bad_records
from hadoop_prototype_spark.operators.partition import (
    binary_partition,
    hash_partition,
    range_partition,
    salt_keys,
)
from hadoop_prototype_spark.plans.examples import (
    compact,
    copy_dataset,
    logalyzer,
)
from hadoop_prototype_spark.sources.jdbc import (
    boolean_split_predicates,
    data_driven_predicates,
    date_split_points,
    integer_split_points,
    text_split_points,
)


# --- JDBC splitters (DataDrivenDBInputFormat parity) ----------------------


def test_integer_split_points_cover_range():
    pts = integer_split_points(0, 100, 4)
    assert pts[0] == 0 and pts[-1] == 101  # exclusive upper bound layout
    assert len(pts) == 5
    # widths differ by at most 1 (remainder spread, IntegerSplitter semantics)
    widths = [b - a for a, b in zip(pts, pts[1:])]
    assert max(widths) - min(widths) <= 1


def test_integer_split_points_more_splits_than_values():
    pts = integer_split_points(5, 7, 10)
    assert pts == [5, 6, 7, 8]  # collapses to one split per value


def test_text_split_points_ordered():
    pts = text_split_points("apple", "zebra", 4)
    assert pts[0] == "apple" and pts[-1] == "zebra"
    assert pts == sorted(pts)
    assert len(pts) >= 3  # interior points exist for a wide range


def test_date_split_predicates():
    lo = dt.datetime(2024, 1, 1)
    hi = dt.datetime(2024, 1, 31)
    pts = date_split_points(lo, hi, 3)
    preds = data_driven_predicates("ts", pts)
    assert len(preds) == 3
    assert preds[0].startswith("ts >= TIMESTAMP '2024-01-01")
    assert preds[-1].endswith("ts <= TIMESTAMP '2024-01-31 00:00:00'")
    # interior bounds use < (half-open), last is inclusive
    assert all(" < " in p for p in preds[:-1])


def test_boolean_split_predicates():
    assert boolean_split_predicates("flag") == [
        "flag = TRUE",
        "flag = FALSE",
        "flag IS NULL",
    ]


def test_predicates_quote_strings():
    preds = data_driven_predicates("name", ["a'b", "m", "z"])
    assert "a''b" in preds[0]


# --- partitioners ---------------------------------------------------------


def test_hash_and_range_partition(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 10).alias("k"))
    hp = hash_partition(df, 8, "k")
    assert hp.rdd.getNumPartitions() == 8
    rp = range_partition(df, 4, "id")
    assert rp.rdd.getNumPartitions() == 4
    # range partitions are order-disjoint on id
    parts = rp.select("id", F.spark_partition_id().alias("p")).groupBy("p").agg(
        F.min("id").alias("lo"), F.max("id").alias("hi")
    ).orderBy("lo").collect()
    for a, b in zip(parts, parts[1:]):
        assert a.hi < b.lo


def test_binary_partition_determinism(spark):
    df = spark.range(100).select(F.col("id").cast("string").alias("key"))
    bp = binary_partition(df, 4, "key", start=0, length=1)
    # same first byte → same partition
    rows = bp.select("key", F.spark_partition_id().alias("p")).collect()
    by_first = {}
    for r in rows:
        by_first.setdefault(r.key[0], set()).add(r.p)
    assert all(len(ps) == 1 for ps in by_first.values())


def test_salt_keys_spread(spark):
    df = spark.range(1000).select(F.lit("hot").alias("k"), F.col("id"))
    salted = salt_keys(df, "k", 8)
    n_buckets = salted.select("salted_key").distinct().count()
    assert 2 <= n_buckets <= 8


# --- bad-record skipping --------------------------------------------------


def test_skip_bad_records(spark):
    df = spark.createDataFrame([(1,), (2,), (0,), (4,)], ["v"])

    def inv(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["v"] == 0).any():
            raise ValueError("bad record")
        return pd.DataFrame({"v": pdf["v"], "inv": 1.0 / pdf["v"]})

    out = df.repartition(1).mapInPandas(skip_bad_records(inv), "v long, inv double")
    got = sorted(r.v for r in out.collect())
    assert got == [1, 2, 4]  # the crashing row is skipped, not the task


# --- example pipelines ----------------------------------------------------


def test_logalyzer_pipeline(spark):
    logs = spark.createDataFrame(
        [("error in sort",), ("warn in merge",), ("error in merge",)], ["line"]
    )
    out = logalyzer(logs, grep_pattern=r"error|warn|merge|sort", sort_spec="-k2,2n -k1,1")
    lines = [r.line for r in out.collect()]
    assert set(lines) == {"error\t2", "warn\t1", "merge\t2", "sort\t1"}


def test_compact_and_copy(spark, tmp_path):
    src = str(tmp_path / "many")
    spark.range(10000).repartition(40).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 40

    dst = str(tmp_path / "compacted")
    compact(spark, src, dst, target_file_mb=1024)
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 1
    assert spark.read.parquet(dst).count() == 10000

    cp = str(tmp_path / "copy")
    copy_dataset(spark, dst, cp)
    assert spark.read.parquet(cp).count() == 10000
