"""Sources/sinks integration tests with real files (MiniCluster-test style,
SURVEY.md §5.2) plus the total-order output contract check (§7 risk #4)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from hadoop_prototype_spark.operators.multiout import (
    NamedOutput,
    multiple_outputs,
    null_output,
    write_partitioned_by_key,
)
from hadoop_prototype_spark.plans.jobcontrol import ControlledJob, JobControl, State
from hadoop_prototype_spark.sources.filters import md5_filter, regex_filter
from hadoop_prototype_spark.sources.generators import random_text, record_checksum, teragen
from hadoop_prototype_spark.sources.readers import (
    _bare_parquet_row_count,
    multiple_inputs,
    parse_kv,
    read_fixed_length,
    read_kv_text,
    read_sequence_file,
    read_text,
    records_per_partition,
)


def test_kv_text_roundtrip(spark, tmp_path):
    p = str(tmp_path / "kv.txt")
    with open(p, "w") as f:
        f.write("k1\tv1\nk2\tv2a\tv2b\nnosep\n")
    rows = {r.key: r.value for r in read_kv_text(spark, p).collect()}
    # split on FIRST sep only; no sep → empty value (KeyValueLineRecordReader)
    assert rows == {"k1": "v1", "k2": "v2a\tv2b", "nosep": ""}


def test_fixed_length_records(spark, tmp_path):
    p = str(tmp_path / "fixed.dat")
    with open(p, "wb") as f:
        f.write(b"AAA01xBBB02yCCC03z")  # 3 records of 6 bytes
    df = read_fixed_length(spark, p, 6, fields=[("id", 0, 3), ("num", 3, 2), ("code", 5, 1)])
    rows = sorted((r.id, r.num, r.code) for r in df.collect())
    assert rows == [("AAA", "01", "x"), ("BBB", "02", "y"), ("CCC", "03", "z")]
    # field slicing must run JVM-side (substring/decode in codegen), never as
    # a per-row Python function — the row-at-a-time decode was a scale-killer
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_sequence_file_shim(spark, tmp_path):
    p = str(tmp_path / "seq")
    spark.sparkContext.parallelize([("a", 1), ("b", 2)], 1).saveAsSequenceFile(p)
    rows = sorted((r.key, r.value) for r in read_sequence_file(spark, p).collect())
    assert rows == [("a", 1), ("b", 2)]


def test_multiple_inputs_union(spark, tmp_path):
    p1, p2 = str(tmp_path / "a.txt"), str(tmp_path / "b.txt")
    open(p1, "w").write("x\ty1\n")
    open(p2, "w").write("x y2\n")
    df = multiple_inputs(
        spark,
        [
            (p1, read_text, lambda df: parse_kv(df, sep="\t")),
            (p2, read_text, lambda df: parse_kv(df, sep=" ")),
        ],
    )
    assert sorted((r.key, r.value) for r in df.collect()) == [("x", "y1"), ("x", "y2")]


def test_scan_filters(spark):
    df = spark.range(1000).select(F.col("id").cast("string").alias("key"))
    kept = md5_filter(df, "key", 10)
    n = kept.count()
    assert 50 < n < 200  # ~1/10 hash sample
    # deterministic: same rows at different parallelism
    n2 = md5_filter(df.repartition(7), "key", 10).count()
    assert n == n2
    assert regex_filter(df, "key", "^99[0-9]$").count() == 10


def test_multiple_outputs_and_partitioned_write(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], ["k", "v"])
    base = str(tmp_path / "out")
    multiple_outputs(
        df,
        {
            "evens": NamedOutput(lambda d: d.filter(F.col("v") % 2 == 0), f"{base}/evens"),
            "odds": NamedOutput(lambda d: d.filter(F.col("v") % 2 == 1), f"{base}/odds", format="csv"),
        },
    )
    assert spark.read.parquet(f"{base}/evens").count() == 1
    assert spark.read.csv(f"{base}/odds").count() == 2

    write_partitioned_by_key(df, f"{base}/byk", ["k"])
    dirs = {os.path.basename(p) for p in glob.glob(f"{base}/byk/k=*")}
    assert dirs == {"k=a", "k=b"}  # lazy: only non-empty key dirs exist

    null_output(df)  # smoke: plan executes, nothing written


def test_total_order_output_contract(spark, tmp_path):
    """TeraSort validation (EX/terasort/TeraValidate.java:53): concatenation
    of output part files in name order must be globally sorted, and the
    record checksum must be conserved."""
    data = teragen(spark, 5000, num_partitions=8)
    before = record_checksum(data, "key", "value")

    from hadoop_prototype_spark.operators.sort import total_order_sort_fixed

    out = str(tmp_path / "sorted")
    total_order_sort_fixed(data, 8, "key").write.parquet(out)

    after_df = spark.read.parquet(out)
    assert record_checksum(after_df, "key", "value") == before

    # per-file sortedness + cross-file boundary ordering (files in name order)
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) > 1, "need multiple part files to validate the contract"
    prev_max = None
    for f in files:
        pdf = spark.read.parquet(f).select("key").toPandas()
        keys = pdf["key"].tolist()
        assert keys == sorted(keys), f"file {f} not internally sorted"
        if keys:
            if prev_max is not None:
                assert prev_max <= keys[0], "part-file boundaries out of order"
            prev_max = keys[-1]


def test_random_text_deterministic(spark):
    a = random_text(spark, 100, num_partitions=4).collect()
    b = random_text(spark, 100, num_partitions=9).collect()
    assert sorted(r.line for r in a) == sorted(r.line for r in b)


def test_jobcontrol_dag(spark, tmp_path):
    ran = []

    def j1(s, deps):
        ran.append("j1")
        return s.range(3).toDF("n")

    def j2(s, deps):
        ran.append("j2")
        return deps["j1"].withColumn("n2", F.col("n") * 2)

    def j3(s, deps):
        raise RuntimeError("boom")

    def j4(s, deps):  # pragma: no cover - must not run
        ran.append("j4")

    jc = JobControl(
        [
            ControlledJob("j1", j1),
            ControlledJob("j2", j2, depends_on=["j1"]),
            ControlledJob("j3", j3, depends_on=["j1"]),
            ControlledJob("j4", j4, depends_on=["j3"]),
        ]
    )
    states = jc.run(spark)
    assert states["j1"] is State.SUCCESS and states["j2"] is State.SUCCESS
    assert states["j3"] is State.FAILED and states["j4"] is State.DEPENDENT_FAILED
    assert "j4" not in ran


def test_xml_records(spark, tmp_path):
    from hadoop_prototype_spark.sources.readers import read_xml_records

    xml = (
        "<root>\n<rec id='1'>\n<name>alpha</name>\n</rec>\n"
        "<other>skip</other>\n<rec id='2'><name>beta</name></rec>\n</root>"
    )
    p = tmp_path / "data.xml"
    p.write_text(xml)
    recs = sorted(r.record for r in read_xml_records(spark, str(p), "rec").collect())
    assert len(recs) == 2
    assert "alpha" in recs[0] and recs[0].startswith("<rec id='1'>")
    assert "beta" in recs[1]


def test_xml_records_multi_split(spark, tmp_path):
    """Splittable contract (StreamXmlRecordReader.java:46): tiny byte-range
    splits must yield every record exactly once, including records that
    straddle split boundaries and begin marks cut mid-marker; '<recX>' must
    not match tag 'rec'."""
    from hadoop_prototype_spark.sources.readers import read_xml_records

    n = 200
    parts = ["<root>"]
    for i in range(n):
        # variable-length bodies so boundaries land mid-record, mid-marker
        parts.append(f"<rec id='{i}'>\n  <name>{'x' * (i % 37)}</name>\n</rec>")
        parts.append(f"<recX>decoy {i}</recX>")
    parts.append("</root>")
    p = tmp_path / "big.xml"
    p.write_text("\n".join(parts))

    whole = read_xml_records(spark, str(p), "rec", split_size=1 << 30)
    for split_size in (64, 257, 1024):
        recs = [r.record for r in read_xml_records(spark, str(p), "rec",
                                                   split_size=split_size).collect()]
        assert len(recs) == n, f"split_size={split_size}"
        assert sorted(recs) == sorted(r.record for r in whole.collect())
    assert whole.count() == n
    # planned parallelism: a 64-byte split really does fan out
    nparts = read_xml_records(spark, str(p), "rec", split_size=64).rdd.getNumPartitions()
    assert nparts > 50


def test_sequence_file_write_roundtrip(spark, tmp_path):
    """write_sequence_file → read_sequence_file round trip
    (SequenceFileOutputFormat.java:43 ↔ SequenceFileInputFormat.java:41)."""
    from hadoop_prototype_spark.sources.readers import write_sequence_file

    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["key", "value"])
    p = str(tmp_path / "seqw")
    write_sequence_file(df, p)
    rows = sorted((r.key, r.value) for r in read_sequence_file(spark, p).collect())
    assert rows == [("a", 1), ("b", 2), ("c", 3)]


def test_array_file_roundtrip(spark, tmp_path):
    """write_array_file → read_array_file (IO/ArrayFile.java:33-39): dense
    0-based LongWritable index keys in a MapFile `data` layout; order of
    the values column is preserved as the array order."""
    from hadoop_prototype_spark.sources.readers import (
        read_array_file,
        write_array_file,
    )

    df = spark.createDataFrame([("v0",), ("v1",), ("v2",), ("v3",)], ["value"])
    p = str(tmp_path / "arrf")
    write_array_file(df, p)
    # r["index"], not r.index — Row.index is the namedtuple method
    rows = sorted((r["index"], r.value) for r in read_array_file(spark, p).collect())
    assert rows == [(0, "v0"), (1, "v1"), (2, "v2"), (3, "v3")]
    import os

    assert os.path.isdir(os.path.join(p, "data"))  # MapFile dir layout


def test_set_file_roundtrip(spark, tmp_path):
    """write_set_file → read_set_file (IO/SetFile.java:33): distinct keys,
    strictly ascending on disk, NullWritable values (key column only)."""
    from hadoop_prototype_spark.sources.readers import (
        read_set_file,
        write_set_file,
    )

    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], ["key"])
    p = str(tmp_path / "setf")
    write_set_file(df, p)
    out = read_set_file(spark, p)
    assert out.columns == ["key"]
    # ascending on disk (single data file, no re-sort on read)
    assert [r.key for r in out.collect()] == ["a", "b", "c"]


def test_tfile_roundtrip(spark, tmp_path):
    """write_tfile → read_tfile (IO/file/tfile/TFile.java): a REAL Hadoop
    TFile written through the JVM's own Writer — keys come back in memcmp
    order regardless of input order, values survive UTF-8 round-trip, and
    the gz codec path reads identically to 'none'."""
    from hadoop_prototype_spark.sources.readers import read_tfile, write_tfile

    df = spark.createDataFrame(
        [("kb", "v2"), ("ka", "v1"), ("kc", ""), ("kd", "héllo")], ["key", "value"]
    )
    for codec in ("none", "gz"):
        p = str(tmp_path / f"tf_{codec}")
        write_tfile(df, p, compression=codec)
        out = read_tfile(spark, p)
        assert out.columns == ["key", "value"]
        assert [(r.key, r.value) for r in out.collect()] == [
            ("ka", "v1"),
            ("kb", "v2"),
            ("kc", ""),
            ("kd", "héllo"),
        ], codec


def test_parse_size_bytes_suffixes():
    from hadoop_prototype_spark.session import parse_size_bytes

    assert parse_size_bytes("134217728") == 134217728
    assert parse_size_bytes("128m") == 128 * 1024 * 1024
    assert parse_size_bytes("128MB") == 128 * 1024 * 1024
    assert parse_size_bytes("64kb") == 64 * 1024
    assert parse_size_bytes("1g") == 1 << 30
    assert parse_size_bytes("2t") == 2 << 40
    assert parse_size_bytes("512b") == 512
    assert parse_size_bytes(4096) == 4096
    assert parse_size_bytes("", default=7) == 7
    assert parse_size_bytes("garbage", default=7) == 7


def test_xml_records_suffixed_conf_sane_split_count(spark, tmp_path):
    """maxPartitionBytes='128m' must plan ONE split for a tiny file, not one
    split per 128 bytes (the digit-stripping bug flooded the scheduler with
    ~10^6 splits per GB at scale)."""
    from hadoop_prototype_spark.sources.readers import read_xml_records

    p = tmp_path / "t.xml"
    p.write_text("<rec>a</rec>" * 100)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    try:
        df = read_xml_records(spark, str(p), "rec")
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 100
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# --- compression codecs (IO/compress/{Gzip,BZip2,Lz4,Snappy}Codec.java) ------


@pytest.mark.parametrize("codec,ext", [
    ("gzip", ".gz"), ("bzip2", ".bz2"), ("lz4", ".lz4"),
    ("snappy", ".snappy"), ("deflate", ".deflate"),
])
def test_text_codec_roundtrip(spark, tmp_path, codec, ext):
    """Compressed text write→read round trip for every reference codec:
    extension-dispatched decompression must recover exact lines."""
    df = spark.range(500).selectExpr("concat('line_', id) AS value")
    p = str(tmp_path / f"text_{codec}")
    df.coalesce(1).write.option("compression", codec).text(p)
    names = [f for f in os.listdir(p) if f.startswith("part")]
    assert names and all(n.endswith(ext) for n in names)
    got = sorted(r.line for r in read_text(spark, p).collect())
    assert got == sorted(f"line_{i}" for i in range(500))


def test_bzip2_multi_split_read(spark, tmp_path):
    """bzip2 is block-splittable (IO/compress/BZip2Codec.java): one big .bz2
    file must be planned into multiple input splits, and a parallel read must
    still produce every line exactly once."""
    n = 200_000
    df = spark.range(n).selectExpr(
        "concat('row_', lpad(cast(id AS string), 8, '0'), '_', repeat('x', 40)) AS value"
    )
    p = str(tmp_path / "big_bz2")
    df.coalesce(1).write.option("compression", "bzip2").text(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    try:
        read = read_text(spark, p)
        assert read.rdd.getNumPartitions() > 1, "bz2 file must split"
        assert read.count() == n
        agg = read.selectExpr(
            "sum(cast(substring(line, 5, 8) AS bigint)) AS s", "count(DISTINCT line) AS d"
        ).collect()[0]
        assert agg.s == n * (n - 1) // 2 and agg.d == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


@pytest.mark.parametrize("codec", ["snappy", "zstd", "gzip"])
def test_parquet_codec_roundtrip(spark, tmp_path, codec):
    df = spark.range(1000).selectExpr("id", "concat('v_', id) AS v")
    p = str(tmp_path / f"parq_{codec}")
    df.write.option("compression", codec).parquet(p)
    back = spark.read.parquet(p)
    assert back.count() == 1000
    assert back.selectExpr("sum(id) AS s").collect()[0].s == 999 * 1000 // 2


@pytest.mark.parametrize("codec,ctype", [
    ("gzip", "BLOCK"), ("bzip2", "RECORD"), ("lz4", "BLOCK"), ("snappy", "BLOCK"),
])
def test_sequence_file_compressed_roundtrip(spark, tmp_path, codec, ctype):
    """SequenceFile NONE/RECORD/BLOCK compression pass-through
    (IO/SequenceFile.java:222-228): compressed containers written by the shim
    must read back losslessly — BLOCK-compressed is what actual Hadoop
    datasets look like."""
    from hadoop_prototype_spark.sources.readers import (
        read_sequence_file,
        write_sequence_file,
    )

    df = spark.createDataFrame(
        [(f"k{i}", i * 10) for i in range(200)], "key string, value long"
    )
    p = str(tmp_path / f"seq_{codec}")
    write_sequence_file(df, p, compression=codec, compression_type=ctype)
    rows = sorted((r.key, r.value) for r in read_sequence_file(spark, p).collect())
    assert rows == sorted((f"k{i}", i * 10) for i in range(200))


def test_xml_records_uri_path(spark, tmp_path):
    """file:// URIs route through pyarrow.fs (same branch as hdfs://, s3://):
    listing, stat, and executor-side open must all work on URIs, and the
    result must equal the plain-path read — the reference reader works on
    any Hadoop FileSystem (StreamXmlRecordReader.java:46)."""
    from hadoop_prototype_spark.sources.readers import read_xml_records

    d = tmp_path / "xmls"
    d.mkdir()
    (d / "a.xml").write_text("<rec>one</rec><rec>two</rec>")
    (d / "b.xml").write_text("<rec>three</rec>")

    plain = sorted(r.record for r in read_xml_records(spark, str(d), "rec").collect())
    via_uri = sorted(
        r.record for r in read_xml_records(spark, f"file://{d}", "rec").collect()
    )
    assert plain == via_uri == ["<rec>one</rec>", "<rec>three</rec>", "<rec>two</rec>"]
    # single-file URI + tiny splits: executor-side pyarrow open with seek
    single = read_xml_records(spark, f"file://{d}/a.xml", "rec", split_size=7)
    assert sorted(r.record for r in single.collect()) == ["<rec>one</rec>", "<rec>two</rec>"]


def test_sequence_file_as_text(spark, tmp_path):
    """SequenceFileAsTextInputFormat: typed K/V stringified (the binary
    container → streaming-job bridge)."""
    from hadoop_prototype_spark.sources.readers import read_sequence_file_as_text

    p = str(tmp_path / "seq")
    spark.sparkContext.parallelize([("a", 1), ("b", 22)], 1).saveAsSequenceFile(p)
    rows = sorted((r.key, r.value) for r in read_sequence_file_as_text(spark, p).collect())
    assert rows == [("a", "1"), ("b", "22")]


def test_many_small_files_pack_into_few_splits(spark, tmp_path):
    """MultiFileWordCount / CombineFileInputFormat semantics: 100 tiny files
    must NOT become 100 scan tasks. Spark bin-packs to
    max(parallelism, totalBytes/maxPartitionBytes) — so at a million small
    objects the task count tracks cores and bytes, never file count (the
    scheduler-flood the reference built CombineFileInputFormat for)."""
    d = tmp_path / "many"
    d.mkdir()
    for i in range(100):
        (d / f"f{i:03}.txt").write_text(f"word{i} common\n")
    df = spark.read.text(str(d))
    nparts = df.rdd.getNumPartitions()
    # packed below file count, near the parallelism target (32 here)
    assert nparts < 50, f"100 tiny files became {nparts} scan partitions"
    counts = {
        r.word: r.cnt
        for r in df.selectExpr("explode(split(value, ' ')) AS word")
        .where("word <> ''")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert counts["common"] == 100 and counts["word42"] == 1


def test_provided_storage_mount(spark, tmp_path):
    """fs2img 'provided storage' parity (hadoop-fs2img: FileSystemImage.java,
    TreeWalk.java): mount an external partitioned tree as an EXTERNAL
    catalog table — queried in place, partition-pruned, and NEVER deleted
    by unmount (the read-only mount contract)."""
    import glob as _glob

    from hadoop_prototype_spark.sources.provided import (
        mount_provided,
        unmount_provided,
    )

    ext = str(tmp_path / "external_store")
    spark.range(100).selectExpr("id", "id % 4 AS part").write.partitionBy(
        "part"
    ).parquet(ext)
    n_files_before = len(_glob.glob(f"{ext}/**/*.parquet", recursive=True))

    df = mount_provided(spark, ext, "provided_t", replace=True)
    try:
        assert df.count() == 100
        assert spark.sql("SELECT sum(id) FROM provided_t").collect()[0][0] == 4950
        # partition pruning: a part=1 query must scan ONE partition dir
        q = spark.table("provided_t").filter("part = 1")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert q.count() == 25
        assert "part=1" in plan or "PartitionFilters: [isnotnull(part" in plan
        # external table: location is the original tree, not the warehouse
        loc = spark.sql("DESCRIBE TABLE EXTENDED provided_t").collect()
        loc_row = next(r for r in loc if r.col_name == "Location")
        assert ext in loc_row.data_type
    finally:
        unmount_provided(spark, "provided_t")
    # unmount must leave every file in place
    assert (
        len(_glob.glob(f"{ext}/**/*.parquet", recursive=True)) == n_files_before
    ), "unmount deleted mounted data"
    assert spark.read.parquet(ext).count() == 100


def test_zorder_optimize_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order layout (``optimize(zorder_by=...)``): file-level min/max
    envelopes must prune probes on the SECOND clustered column, which a
    linear sort cannot (every file spans the full secondary range)."""
    import math

    import pyarrow.parquet as pq

    from hadoop_prototype_spark.sources import snapshots as sn
    from hadoop_prototype_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    linear = li.repartitionByRange(16, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    )
    sn.create_table(linear, ldir, "l_orderkey")
    sn.create_table(linear, zdir, "l_orderkey")
    sn.optimize(
        spark, zdir, target_file_rows=math.ceil(li.count() / 16),
        zorder_by=["l_orderkey", "l_partkey"],
    )

    def matching_files(d, col, probes):
        # the live version's files only: the pre-optimize files stay on
        # disk (for time travel) until vacuum
        entry = sn._read_entry(d, sn.current_version(d))
        total = 0
        files = [os.path.join(d, fe["name"]) for fe in entry["files"]]
        assert len(files) >= 8, "need multiple files for a pruning comparison"
        for v in probes:
            for f in files:
                md = pq.ParquetFile(f).metadata
                hit = False
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    for ci in range(rgm.num_columns):
                        cc = rgm.column(ci)
                        if cc.path_in_schema == col and cc.statistics is not None:
                            if cc.statistics.min <= v <= cc.statistics.max:
                                hit = True
                if hit:
                    total += 1
        return total

    probes = [r.l_partkey for r in li.select("l_partkey").distinct().limit(8).collect()]
    z_hits = matching_files(zdir, "l_partkey", probes)
    l_hits = matching_files(ldir, "l_partkey", probes)
    # linear layout: essentially every file spans the secondary column
    assert z_hits < l_hits, (z_hits, l_hits)
    assert z_hits <= l_hits * 0.7, (z_hits, l_hits)


def test_merge_into_rewrites_only_affected_files(spark, sf_dir, tmp_path):
    """Copy-on-write MERGE: an update batch touching a narrow key band must
    rewrite only the files whose recorded key-range intersects it, and the
    merged table must equal apply-updates-then-insert semantics."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.sources import snapshots as sn
    from hadoop_prototype_spark.sources.tables import load_table

    target = str(tmp_path / "orders_cow")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    sn.create_table(
        orders.repartitionByRange(16, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        target,
        "o_orderkey",
    )
    n0 = orders.count()
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()

    band_hi = lo + (hi - lo) // 20  # ~5% of the key space
    updates = (
        orders.filter(F.col("o_orderkey") <= band_hi)
        .limit(20)
        .select("o_orderkey", "o_custkey", F.lit(-1.0).alias("o_totalprice"))
    )
    inserts = spark.createDataFrame(
        [(hi + 10_000 + i, 1, 42.0) for i in range(5)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    n_upd = updates.count()
    stats = sn.merge_into(spark, target, updates.union(inserts), "o_orderkey")

    assert stats["files_total"] == 16
    assert 1 <= stats["files_rewritten"] <= 4, stats  # narrow band → few files
    assert stats["rows_after"] == n0 + 5

    after = sn.read_table(spark, target)
    assert after.filter(F.col("o_totalprice") == -1.0).count() == n_upd
    assert after.filter(F.col("o_orderkey") > hi).count() == 5
    # untouched keys keep their original values
    untouched = after.join(
        updates.select("o_orderkey").union(inserts.select("o_orderkey")),
        "o_orderkey",
        "left_anti",
    )
    orig_untouched = orders.join(updates.select("o_orderkey"), "o_orderkey", "left_anti")
    assert (
        untouched.exceptAll(orig_untouched).count() == 0
        and orig_untouched.exceptAll(untouched).count() == 0
    )


def test_schema_evolution_merge_read(spark, tmp_path):
    """Appended batches with added/missing columns read back as one table
    under mergeSchema (schema-on-read, the reference's Writable-per-record
    flexibility mapped to parquet evolution)."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "evolving")
    spark.range(10).select("id", F.lit("a").alias("tag")).write.parquet(d + "/b0")
    spark.range(10, 20).select(
        "id", F.lit("b").alias("tag"), F.lit(1.5).alias("score")
    ).write.parquet(d + "/b1")
    merged = spark.read.option("mergeSchema", "true").parquet(d + "/b0", d + "/b1")
    assert set(merged.columns) == {"id", "tag", "score"}
    assert merged.count() == 20
    # old rows surface the new column as null; filters on it still prune
    assert merged.filter(F.col("score").isNull()).count() == 10
    assert merged.filter(F.col("score") > 1.0).count() == 10


def test_merge_into_insert_only_and_empty_batches(spark, tmp_path):
    """MERGE edge cases: an all-inserts batch rewrites zero files; an empty
    batch rewrites nothing and changes no row."""
    from hadoop_prototype_spark.sources import snapshots as sn

    target = str(tmp_path / "t")
    sn.create_table(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(
            4, "k"
        ).sortWithinPartitions("k"),
        target,
        "k",
    )

    inserts = spark.createDataFrame([(1000, 1), (1001, 2)], "k long, v long")
    stats = sn.merge_into(spark, target, inserts, "k")
    assert stats["files_rewritten"] == 0
    assert stats["rows_after"] == 102

    empty = spark.createDataFrame([], "k long, v long")
    stats = sn.merge_into(spark, target, empty, "k")
    assert stats["files_rewritten"] == 0
    assert stats["rows_after"] == 102
    assert sn.read_table(spark, target).count() == 102


# --- compaction (snapshot OPTIMIZE) ------------------------------------------


def test_compaction_packs_small_files_leaves_big_untouched(spark, tmp_path):
    """Many tiny files + one right-sized file: ``optimize`` must merge the
    tiny ones, preserve every row, carry the right-sized file forward
    unrewritten, and be idempotent on re-run."""
    from hadoop_prototype_spark.sources import snapshots as sn

    base = str(tmp_path / "tbl")
    sn.create_table(spark.range(1000, 3000).repartition(1), base, "id")
    big = sn._read_entry(base, 1)["files"][0]
    # 12 tiny files (ten rows each)
    for i in range(12):
        sn.append_table(spark, base, spark.range(i * 10, i * 10 + 10).coalesce(1), "id")
    n_before = len(sn._read_entry(base, sn.current_version(base))["files"])
    assert n_before == 13

    stats = sn.optimize(spark, base)
    assert stats["files_rewritten"] == 12
    after = sn._read_entry(base, stats["version"])["files"]
    assert len(after) < n_before
    assert big in after, "right-sized file must not be rewritten"
    got = sorted(r.id for r in sn.read_table(spark, base).collect())
    assert got == sorted(list(range(120)) + list(range(1000, 3000)))

    again = sn.optimize(spark, base)
    assert again["files_rewritten"] == 0 and again["version"] == stats["version"]


# --- format matrix (Spark-native formats a migrating user lands on) ----------


@pytest.mark.parametrize("fmt", ["orc", "json", "csv", "parquet"])
def test_format_matrix_roundtrip(spark, tmp_path, fmt):
    """ORC/JSON/CSV/parquet write→read round trips with typed columns —
    the storage formats a reference user migrates their SequenceFile data
    into. CSV/JSON lose types on read, so the read applies the schema
    explicitly (header/inferSchema are NOT the contract at scale: schema
    inference is an extra full scan)."""
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        "id",
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("score"),
        (F.col("id") % 2 == 0).alias("flag"),
    )
    p = str(tmp_path / f"fmt_{fmt}")
    w = df.write
    if fmt == "csv":
        w = w.option("header", "false")
    w.format(fmt).save(p)
    r = spark.read
    if fmt in ("csv", "json"):
        r = r.schema(df.schema)
    back = r.format(fmt).load(p)
    # nullability is not preserved by file formats; names+types are
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert back.count() == 200
    s = back.selectExpr(
        "sum(id) AS a", "sum(CAST(flag AS INT)) AS b", "sum(score) AS c"
    ).collect()[0]
    assert (s.a, s.b) == (199 * 200 // 2, 100)
    assert abs(s.c - 1.5 * 199 * 200 / 2) < 1e-6


def test_delete_from_rewrites_only_affected_files(spark, sf_dir, tmp_path):
    """Copy-on-write DELETE (GDPR erasure path): a delete batch in a
    narrow key band rewrites only intersecting files; deleted keys are
    gone, every other row survives byte-identical semantics."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.sources import snapshots as sn
    from hadoop_prototype_spark.sources.tables import load_table

    target = str(tmp_path / "orders_del")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    sn.create_table(
        orders.repartitionByRange(16, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        target,
        "o_orderkey",
    )
    n0 = orders.count()
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    band_hi = lo + (hi - lo) // 20
    doomed = orders.filter(F.col("o_orderkey") <= band_hi).limit(15).select("o_orderkey")
    n_doomed = doomed.count()

    stats = sn.delete_from(spark, target, doomed, "o_orderkey")
    assert stats["files_total"] == 16
    assert 1 <= stats["files_rewritten"] <= 4, stats
    assert stats["rows_deleted"] == n_doomed
    assert stats["rows_after"] == n0 - n_doomed

    after = sn.read_table(spark, target)
    assert after.join(doomed, "o_orderkey", "left_semi").count() == 0
    survivors = orders.join(doomed, "o_orderkey", "left_anti")
    assert (
        after.exceptAll(survivors).count() == 0
        and survivors.exceptAll(after).count() == 0
    )

    # a delete set hitting nothing rewrites nothing
    ghost = spark.createDataFrame([(hi + 999_999,)], "o_orderkey long")
    stats2 = sn.delete_from(spark, target, ghost, "o_orderkey")
    assert stats2["files_rewritten"] == 0 and stats2["rows_deleted"] == 0


def test_records_per_partition_uses_metadata_for_bare_scans(spark, tmp_path):
    target = str(tmp_path / "t")
    spark.range(1000).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(
        4, "k"
    ).write.parquet(target)
    scan = spark.read.parquet(target)
    assert _bare_parquet_row_count(scan) == 1000
    # a filter changes the count → must NOT use footer sums
    assert _bare_parquet_row_count(scan.filter(F.col("k") > 10)) is None

    out = records_per_partition(scan, 100)
    assert out.rdd.getNumPartitions() == 10
    # an explicit total wins without any IO
    out2 = records_per_partition(scan, 100, total=1000)
    assert out2.rdd.getNumPartitions() == 10


def test_incremental_file_ledger(spark, sf_dir, tmp_path):
    """Batch incremental ingestion: only files unseen by the ledger load;
    commit advances atomically and re-commit is idempotent; a crash
    before commit replays the batch (at-least-once)."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.sources.ledger import (
        commit_ledger,
        ingest_new_files,
        new_files,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    data = str(tmp_path / "drops")
    ledger = str(tmp_path / "ledger")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 100).coalesce(1).write.mode("overwrite").parquet(data)

    df1, files1 = ingest_new_files(spark, data, ledger)
    n1 = df1.count()
    assert n1 == docs.filter(F.col("doc_id") < 100).count() and files1

    # not committed yet → the same batch replays (crash semantics)
    df_replay, files_replay = ingest_new_files(spark, data, ledger)
    assert files_replay == files1

    commit_ledger(spark, ledger, files1)
    assert ingest_new_files(spark, data, ledger) == (None, [])

    # second drop: only the new file loads
    docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).coalesce(
        1
    ).write.mode("append").parquet(data)
    df2, files2 = ingest_new_files(spark, data, ledger)
    assert df2.count() == docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 150)
    ).count()
    assert not set(files2) & set(files1)

    # idempotent re-commit
    commit_ledger(spark, ledger, files2)
    commit_ledger(spark, ledger, files2)
    assert new_files(spark, data, ledger) == []


def test_ledger_sweep_spares_concurrent_staging(spark, tmp_path):
    """The orphan sweep only removes staging dirs older than the age
    threshold: a concurrent commit's seconds-old staging dir must survive
    another writer's commit (two pipelines sharing one ledger), while a
    crash leftover from a previous run is cleaned up."""
    import os
    import time

    from hadoop_prototype_spark.sources import ledger as L

    ledger = str(tmp_path / "ledger")
    os.makedirs(ledger)
    crashed = os.path.join(ledger, "_staging_deadbeef")
    live = os.path.join(ledger, "_staging_concurrent")
    os.makedirs(crashed)
    os.makedirs(live)
    old = time.time() - L.STAGING_SWEEP_AGE_SEC - 60
    os.utime(crashed, (old, old))

    L.commit_ledger(spark, ledger, ["a.parquet"])
    assert not os.path.exists(crashed), "crash leftover must be swept"
    assert os.path.exists(live), "a live concurrent staging dir must survive"
    assert L.processed_files(spark, ledger) == ["a.parquet"]


def test_read_with_schema_evolution(spark, tmp_path):
    """Two drops with evolved schemas: the merged read exposes the union
    schema with older rows null-filled; target-schema alignment adds
    missing columns as typed nulls and drops extras, in target order."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from hadoop_prototype_spark.sources.readers import read_with_schema_evolution

    base = str(tmp_path / "drops")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(base)
    spark.createDataFrame(
        [(2, "b", "en")], "id long, name string, lang string"
    ).write.mode("append").parquet(base)

    merged = read_with_schema_evolution(spark, base)
    rows = {r.id: r for r in merged.collect()}
    assert set(merged.columns) == {"id", "name", "lang"}
    assert rows[1].lang is None and rows[2].lang == "en"

    target = StructType(
        [
            StructField("id", LongType()),
            StructField("lang", StringType()),
            StructField("quality_tier", StringType()),  # not in any drop
        ]
    )
    aligned = read_with_schema_evolution(spark, base, target)
    assert aligned.columns == ["id", "lang", "quality_tier"]
    out = {r.id: r for r in aligned.collect()}
    assert out[1].quality_tier is None and out[2].lang == "en"
    assert not hasattr(out[1], "name")
