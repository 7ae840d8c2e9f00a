"""Input-format equivalents (SURVEY.md §2.1).

Reference → here:
- TextInputFormat (MR lib/input/TextInputFormat.java:42): read_text.
- KeyValueTextInputFormat (KeyValueTextInputFormat.java:47, reader
  KeyValueLineRecordReader.java:39): split each line on the FIRST separator;
  no separator → whole line is key, empty value.
- FixedLengthInputFormat (FixedLengthInputFormat.java:47): fixed-width
  records with no delimiters — sc.binaryRecords splits at recordLength
  boundaries exactly like the reference's reader.
- MultipleInputs + DelegatingMapper (MultipleInputs.java:40,
  DelegatingInputFormat.java:50): per-source read + transform, then
  unionByName.
- SequenceFileInputFormat (SequenceFileInputFormat.java:41): ingest shim via
  sc.sequenceFile for compatibility; Parquet is the native container.
- NLineInputFormat (NLineInputFormat.java:61): fan-out control →
  records_per_partition.
- CombineFileInputFormat (CombineFileInputFormat.java:84): built into
  Spark's file scan (maxPartitionBytes/openCostInBytes pack small files);
  nothing to implement — see session.py.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType, StringType


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Lines → df(line). The byte-offset key of TextInputFormat is dropped
    (it exists only to make keys unique; Spark rows don't need one)."""
    return spark.read.text(path).withColumnRenamed("value", "line")


def parse_kv(df: DataFrame, line_col: str = "line", sep: str = "\t") -> DataFrame:
    """KeyValueLineRecordReader: split on first separator occurrence."""
    esc = "".join(("\\" + c) if c in r"\.[]{}()*+?^$|" else c for c in sep)
    parts = F.split(F.col(line_col), esc, 2)
    return df.select(
        F.coalesce(F.try_element_at(parts, F.lit(1)), F.lit("")).alias("key"),
        F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit("")).alias("value"),
    )


def read_kv_text(spark: SparkSession, path: str, sep: str = "\t") -> DataFrame:
    return parse_kv(read_text(spark, path), sep=sep)


def read_fixed_length(
    spark: SparkSession,
    path: str,
    record_length: int,
    fields: list[tuple[str, int, int]] | None = None,
    encoding: str = "utf-8",
) -> DataFrame:
    """FixedLengthInputFormat: undelimited records of exactly record_length
    bytes. fields = [(name, start_offset, length)] slices each record; with
    no fields, one 'record' string column.

    Scale note: sc.binaryRecords computes byte-range splits at record
    boundaries (the reference's computeSplitSize contract), so this scans in
    parallel without reading whole files on one task. Field slicing runs
    JVM-side (substring/decode on the binary column, whole-stage codegen) —
    the Python layer only wraps each record once; per-field decode in a
    Python row function was the classic row-at-a-time scale-killer.
    """
    rdd = spark.sparkContext.binaryRecords(path, record_length)
    if fields is None:
        fields = [("record", 0, record_length)]
    raw = spark.createDataFrame(
        rdd.map(lambda rec: (rec,)),
        StructType([StructField("rec", BinaryType(), False)]),
    )
    # substring is 1-based; on BinaryType it slices bytes, so byte offsets
    # from the fixed-record layout apply directly and decode() converts once
    # per field inside codegen.
    cols = [
        F.decode(F.substring(F.col("rec"), s + 1, l), encoding).alias(n)
        for n, s, l in fields
    ]
    return raw.select(*cols)


def multiple_inputs(
    spark: SparkSession,
    sources: list[tuple[str, Callable[[SparkSession, str], DataFrame], Callable[[DataFrame], DataFrame] | None]],
) -> DataFrame:
    """MultipleInputs: (path, reader, per-source transform) triples unioned.

    The per-path mapper of DelegatingMapper is the transform; pass None for
    identity. Output schemas must align by name (unionByName).
    """
    dfs = []
    for path, reader, transform in sources:
        df = reader(spark, path)
        if transform is not None:
            df = transform(df)
        dfs.append(df)
    if not dfs:
        raise ValueError("no sources")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def read_sequence_file(spark: SparkSession, path: str) -> DataFrame:
    """SequenceFile ingest shim (K/V container → df(key, value)).

    Types come through the Writable→Python converters of sc.sequenceFile.
    New data should use Parquet; this exists so reference datasets can be
    migrated in place.
    """
    rdd = spark.sparkContext.sequenceFile(path)
    return rdd.toDF(["key", "value"])


# Reference codec classes (IO/compress/{Gzip,BZip2,Lz4,Snappy}Codec.java,
# DefaultCodec.java) — the short names users pass map to the same Hadoop
# codec classes the reference jobs configured.
CODEC_CLASSES = {
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
    "lz4": "org.apache.hadoop.io.compress.Lz4Codec",
    "snappy": "org.apache.hadoop.io.compress.SnappyCodec",
    "deflate": "org.apache.hadoop.io.compress.DefaultCodec",
}


def read_sequence_file_as_text(spark: SparkSession, path: str) -> DataFrame:
    """SequenceFileAsTextInputFormat (MR lib/input/
    SequenceFileAsTextInputFormat.java): every key/value stringified — the
    reference used it to feed streaming jobs from binary containers."""
    df = read_sequence_file(spark, path)
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def write_sequence_file(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    value_col: str = "value",
    compression: str | None = None,
    compression_type: str = "BLOCK",
) -> None:
    """SequenceFile write shim (SequenceFileOutputFormat.java:43): two
    columns → a Hadoop SequenceFile a reference job can read back.

    Types map through the Python→Writable converters of saveAsSequenceFile
    (str→Text, int→LongWritable, bytes→BytesWritable). One output file per
    partition, like one per reducer. Round-trips through
    read_sequence_file (pinned in tests). New data should use Parquet.

    compression: codec short name ('gzip'/'bzip2'/'lz4'/'snappy'/'deflate')
    or a fully-qualified codec class; compression_type is the reference's
    NONE/RECORD/BLOCK knob (IO/SequenceFile.java:222-228 — BLOCK is what
    real Hadoop datasets use)."""
    rdd = df.select(key_col, value_col).rdd.map(lambda r: (r[0], r[1]))
    if compression is None:
        rdd.saveAsSequenceFile(path)
        return
    codec = CODEC_CLASSES.get(compression.lower(), compression)
    hconf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
    key = "io.seqfile.compression.type"
    old = hconf.get(key)
    hconf.set(key, compression_type)
    try:
        rdd.saveAsSequenceFile(path, codec)
    finally:
        if old is None:
            hconf.unset(key)
        else:
            hconf.set(key, old)


def read_array_file(spark: SparkSession, path: str) -> DataFrame:
    """ArrayFile ingest shim (IO/ArrayFile.java:33-39: a MapFile whose keys
    are the LongWritable record index) → df(index, value).

    A MapFile is a directory holding a key-sorted `data` SequenceFile plus
    an `index` SequenceFile of every Nth key's byte offset; the index only
    accelerates point seeks, so a full scan reads `data` alone (and
    globbing the directory would wrongly ingest `index` rows too)."""
    rdd = spark.sparkContext.sequenceFile(f"{path.rstrip('/')}/data")
    return rdd.toDF(["index", "value"])


def write_array_file(df: DataFrame, path: str, value_col: str = "value") -> None:
    """ArrayFile write shim: values keyed by their dense 0-based position
    (ArrayFile.Writer.append assigns count++). Writes `{path}/data` as a
    single key-ascending SequenceFile; the seek-acceleration `index` file
    is omitted — our reader scans, and Hadoop's MapFile.fix() regenerates
    an index from data when one is required. Single file because the
    container is an ordered array, not a partitioned dataset (migration
    shim, not a hot path — new data should use Parquet)."""
    rdd = (
        df.select(value_col)
        .coalesce(1)
        .rdd.map(lambda r: r[0])
        .zipWithIndex()
        .map(lambda t: (t[1], t[0]))
    )
    rdd.saveAsSequenceFile(f"{path.rstrip('/')}/data")


def read_set_file(spark: SparkSession, path: str) -> DataFrame:
    """SetFile ingest shim (IO/SetFile.java:33: a MapFile with NullWritable
    values — a sorted on-disk set) → single-column df(key)."""
    rdd = spark.sparkContext.sequenceFile(f"{path.rstrip('/')}/data")
    return rdd.map(lambda t: (t[0],)).toDF(["key"])


def write_set_file(df: DataFrame, path: str, key_col: str = "key") -> None:
    """SetFile write shim: distinct keys in ascending order (SetFile.Writer
    .append requires strictly-increasing keys), NullWritable values.
    Same `data`-only MapFile layout rationale as write_array_file."""
    rdd = (
        df.select(key_col)
        .distinct()
        .orderBy(key_col)
        .coalesce(1)
        .rdd.map(lambda r: (r[0], None))
    )
    rdd.saveAsSequenceFile(f"{path.rstrip('/')}/data")


def write_tfile(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    value_col: str = "value",
    compression: str = "none",
    min_block_size: int = 1 << 20,
) -> None:
    """TFile write shim (IO/file/tfile/TFile.java:68-130: a block-compressed
    sorted key/value container — the reference's third container format
    beside SequenceFile and MapFile, used e.g. for aggregated logs).

    Drives Hadoop's own TFile.Writer through the JVM so the output is a
    REAL TFile any reference job can read. Keys are written in memcmp
    order (TFile.Writer requires non-decreasing keys for the comparator we
    declare), so the shim sorts by the UTF-8 key bytes first. Driver-side
    single-stream write like the other container shims — TFile is a
    migration format here, not a hot path; new data should use Parquet.

    compression: 'none' or 'gz' (TFile's own codec names,
    TFile.COMPRESSION_* in TFile.java:86-91)."""
    spark = df.sparkSession
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    rows = (
        df.select(
            F.col(key_col).cast("string").alias("k"),
            F.col(value_col).cast("string").alias("v"),
        )
        .collect()
    )
    # NULL key or value → empty bytes (a K/V container has no null slot)
    items = sorted(
        (((r["k"] or "").encode("utf-8"), (r["v"] or "").encode("utf-8")) for r in rows)
    )
    out = fs.create(jpath, True)
    try:
        writer = jvm.org.apache.hadoop.io.file.tfile.TFile.Writer(
            out, min_block_size, compression, "memcmp", hconf
        )
        try:
            for k, v in items:
                writer.append(k, v)
        finally:
            writer.close()
    finally:
        # outer guard: the stream must close even if the Writer ctor (bad
        # codec name) or writer.close() itself throws
        out.close()


def read_tfile(spark: SparkSession, path: str) -> DataFrame:
    """TFile ingest shim → df(key, value) strings, scanned in key order
    through Hadoop's TFile.Reader (so gz-compressed and multi-block files
    read identically to the reference's own scanner).

    Driver-side scan (same rationale as write_tfile): TFile has no
    InputFormat split support in the reference either without going
    through SequenceFile conversion — migrate once, then operate on
    Parquet."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    flen = fs.getFileStatus(jpath).getLen()
    fin = fs.open(jpath)
    reader = jvm.org.apache.hadoop.io.file.tfile.TFile.Reader(fin, flen, hconf)
    rows = []
    try:
        scanner = reader.createScanner()
        try:
            while not scanner.atEnd():
                # fresh writables per entry: TFile's Entry.get leaves a
                # reused value buffer stale for zero-length values
                kw = jvm.org.apache.hadoop.io.BytesWritable()
                vw = jvm.org.apache.hadoop.io.BytesWritable()
                scanner.entry().get(kw, vw)
                rows.append(
                    (
                        bytes(kw.copyBytes()).decode("utf-8"),
                        bytes(vw.copyBytes()).decode("utf-8"),
                    )
                )
                scanner.advance()
        finally:
            scanner.close()
    finally:
        reader.close()
        fin.close()
    return spark.createDataFrame(rows, "key string, value string")


def records_per_partition(df: DataFrame, n: int, total: int | None = None) -> DataFrame:
    """NLineInputFormat: bound records per task (fan-out control for
    expensive per-record work).

    The required total row count is resolved cheapest-first: an explicit
    ``total`` (e.g. a snapshot table's ``describe(path)["n_rows"]`` — zero
    IO), else — when the frame is a BARE parquet relation, no filters that
    could change the count — a metadata-only sum of footer num_rows (no
    data pages read), else a real count. Use only when the downstream cost per record
    dwarfs that."""
    if total is None:
        total = _bare_parquet_row_count(df)
    if total is None:
        total = df.count()
    return df.repartition(max(1, math.ceil(total / n)))


def _bare_parquet_row_count(df: DataFrame) -> int | None:
    """Footer num_rows sum for an UNFILTERED local parquet scan, else None.

    Guarded on the analyzed plan being a single Relation node: any filter/
    limit/join above the scan changes the count, so those fall through to
    a real count."""
    try:
        analyzed = df._jdf.queryExecution().analyzed().toString().strip()
    except Exception:
        return None
    if "\n" in analyzed or not analyzed.startswith("Relation"):
        return None
    files = df.inputFiles()
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        if f.startswith("file:"):
            f = f[len("file:") :]
            while f.startswith("//"):  # file:///p → /p
                f = f[1:]
        elif "://" in f:
            return None  # non-local fs: let the engine count
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        except OSError:
            return None  # unreadable/odd path encoding: fall back to count
    return total


def _xml_list_files(path: str) -> list[tuple[str, int]]:
    """Expand a path / directory / glob to concrete (file, size) pairs.

    URI paths (file://, hdfs://, s3://, abfs://, gs://…) resolve through
    pyarrow.fs — StreamXmlRecordReader.java:46 works on any Hadoop
    FileSystem, so this reader must too. Plain local paths (incl. globs)
    stay on the os/glob fast path."""
    import glob as _glob
    import os

    if "://" in path:
        from pyarrow import fs as pafs

        scheme = path.split("://", 1)[0]
        filesystem, p = pafs.FileSystem.from_uri(path)
        info = filesystem.get_file_info(p)
        if info.type == pafs.FileType.File:
            return [(path, info.size)]
        if info.type == pafs.FileType.Directory:
            sel = pafs.FileSelector(p, recursive=True)
            return sorted(
                (f"{scheme}://{f.path}", f.size)
                for f in filesystem.get_file_info(sel)
                if f.type == pafs.FileType.File
                and not os.path.basename(f.path).startswith((".", "_"))
            )
        raise FileNotFoundError(path)
    if os.path.isdir(path):
        out = []
        for root, _dirs, names in os.walk(path):
            out.extend(os.path.join(root, n) for n in names if not n.startswith((".", "_")))
        return [(f, os.path.getsize(f)) for f in sorted(out)]
    if any(ch in path for ch in "*?["):
        files = sorted(p for p in _glob.glob(path) if os.path.isfile(p))
        return [(f, os.path.getsize(f)) for f in files]
    return [(path, os.path.getsize(path))]


def _xml_open(fpath: str):
    """Seekable binary stream for a local path or any pyarrow.fs URI.
    pyarrow NativeFile has the same seek+read contract as a local file, so
    the split scanner is filesystem-agnostic; each task re-resolves the
    filesystem from the URI (cheap, and avoids shipping fs handles)."""
    if "://" in fpath:
        from pyarrow import fs as pafs

        filesystem, p = pafs.FileSystem.from_uri(fpath)
        return filesystem.open_input_file(p)
    return open(fpath, "rb")


def _xml_split_records(
    fpath: str, start: int, end: int, tag: bytes, read_block: int = 1 << 20
) -> list[bytes]:
    """Records whose begin mark STARTS in [start, end) — the
    StreamXmlRecordReader split contract (StreamXmlRecordReader.java:46:
    seek to the split offset, scan for the begin mark before the split end,
    then read PAST the end as far as needed to close the record; a record
    straddling the boundary belongs to the split its begin byte falls in).
    """
    prefix = b"<" + tag
    end_mark = b"</" + tag + b">"
    after_ok = b" \t\r\n>"  # '<tag' must be followed by whitespace or '>'
    out: list[bytes] = []
    with _xml_open(fpath) as f:
        f.seek(start)
        limit = end - start  # begin marks must start before this offset
        # lookahead past the range end so a begin/end mark straddling the
        # boundary still matches; extended on demand below
        buf = f.read(limit + read_block)

        def extend() -> bool:
            nonlocal buf
            more = f.read(read_block)
            if not more:
                return False
            buf += more
            return True

        pos = 0
        while True:
            p = buf.find(prefix, pos)
            while p >= 0 and p < limit and p + len(prefix) >= len(buf) and extend():
                pass  # make the byte after the prefix visible
            if p < 0 or p >= limit:
                break
            nxt = buf[p + len(prefix) : p + len(prefix) + 1]
            if nxt and nxt not in after_ok:
                pos = p + 1  # '<tagother...' — not our tag
                continue
            e = buf.find(end_mark, p + len(prefix))
            while e < 0 and extend():
                e = buf.find(end_mark, p + len(prefix))
            if e < 0:
                break  # unclosed record at EOF: dropped, like the reference
            rec_end = e + len(end_mark)
            out.append(buf[p:rec_end])
            pos = rec_end
    return out


def read_xml_records(
    spark: SparkSession,
    path: str,
    tag: str,
    split_size: int | None = None,
    encoding: str = "utf-8",
) -> DataFrame:
    """Splittable XML record scan (StreamXmlRecordReader, hadoop-tools/
    hadoop-streaming/.../StreamXmlRecordReader.java:46): records are the
    spans between <tag ...> and </tag>, one string column `record`.

    Splittable like the reference: files are planned into byte-range splits
    of split_size (default spark.sql.files.maxPartitionBytes) on the driver,
    and each task scans only its range — plus bounded read-ahead to close a
    boundary-straddling record — so a single huge XML file parallelizes
    across the cluster instead of landing on one task. Records are emitted
    exactly once: a record belongs to the split containing its first byte.

    Like the reference's literal begin/end marks: records must not nest and
    self-closing <tag/> elements are not records. Works on local paths and
    any pyarrow.fs URI (file://, hdfs://, s3://, …) — the reference reader
    runs on any Hadoop FileSystem (StreamXmlRecordReader.java:46).
    """
    if split_size is None:
        from ..session import parse_size_bytes

        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        split_size = parse_size_bytes(raw)

    splits: list[tuple[str, int, int]] = []
    for f, size in _xml_list_files(path):
        for off in range(0, max(size, 1), split_size):
            splits.append((f, off, min(off + split_size, size)))
    if not splits:
        raise FileNotFoundError(path)
    tag_b = tag.encode(encoding)

    def scan(s: tuple[str, int, int]) -> list[tuple[str]]:
        return [
            (rec.decode(encoding),)
            for rec in _xml_split_records(s[0], s[1], s[2], tag_b)
        ]

    rdd = spark.sparkContext.parallelize(splits, len(splits)).flatMap(scan)
    return spark.createDataFrame(rdd, StructType([StructField("record", StringType(), False)]))


def read_with_schema_evolution(
    spark: SparkSession, path: str, target_schema: StructType | None = None
) -> DataFrame:
    """Read a directory of parquet drops whose schemas EVOLVED over time
    (new columns appeared, old drops lack them): the union schema via
    parquet mergeSchema, with rows from older drops null-filled — the
    recurring-ingestion reality where tomorrow's crawler adds a field.

    With ``target_schema``, the result is aligned to exactly that shape:
    missing columns materialize as typed nulls, extra columns drop, and
    column order follows the target — so downstream code compiled against
    the contract schema never sees drift. Scale note: mergeSchema reads
    every footer once (metadata pass, same budget as any listing); data
    pages are untouched until the aligned scan."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if target_schema is None:
        return df
    cols = []
    have = {f.name: f for f in df.schema.fields}
    for f in target_schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
