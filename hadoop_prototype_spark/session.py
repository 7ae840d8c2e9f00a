"""SparkSession factory.

The reference's runtime knobs (MRJobConfig: io.sort.mb, shuffle parallel
copies, split sizes — SURVEY.md §4.2) collapse into a handful of Spark SQL
confs. We set the ones that matter for both the local[32] harness and a
real multi-executor cluster:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split,
  broadcast switch) — replaces the reference's manual sampling/salting.
- shuffle.partitions sized to the harness CPU count; on a 1000-executor
  cluster this is overridden by AQE's coalescing from an intentionally
  high initial number.
- maxPartitionBytes default 128m mirrors the reference's block-sized splits
  (FileInputFormat.computeSplitSize, MR lib/input/FileInputFormat.java:443).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


_SIZE_SUFFIXES = {
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def parse_size_bytes(raw: str | int, default: int = 128 * 1024 * 1024) -> int:
    """Spark byte-size conf string → bytes ('128m' → 134217728, '1g', '64kb',
    plain '134217728'). Digit-stripping is NOT equivalent: it turns '128m'
    into 128 *bytes*, which plans ~10^6× too many splits downstream."""
    if isinstance(raw, int):
        return raw
    s = str(raw).strip().lower()
    if not s:
        return default
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    digits, suffix = s[:i], s[i:].strip()
    if not digits or suffix not in _SIZE_SUFFIXES and suffix != "":
        return default
    return int(digits) * _SIZE_SUFFIXES.get(suffix, 1)


def get_spark(
    app_name: str = "hadoop_prototype_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    # Python workers must import this package regardless of the DRIVER's
    # launch directory: running from the repo root works by accident (cwd
    # lands on the workers' sys.path), anywhere else the Arrow-batched
    # kernels (mapInPandas/pipe) die with ModuleNotFoundError mid-stage.
    # Local mode: workers inherit the JVM's env, which inherits ours — so
    # prepend BEFORE the JVM starts. Cluster mode: executorEnv carries it.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + os.pathsep + os.environ["PYTHONPATH"]
            if os.environ.get("PYTHONPATH")
            else repo_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # guide §3.1/§9: let the planner choose shuffled-hash over
        # sort-merge when the per-partition build side fits — no sort on
        # either side. The AQE threshold additionally rewrites SMJ→SHJ at
        # runtime only when every post-shuffle partition is under the
        # bound, so the build side is guarded by MEASURED sizes, not
        # estimates (r15 opt: 5-20% on the join-heavy queries at sf0.1;
        # scale-safe because the bound is per-partition, not per-table —
        # raise partitions, not the bound, for bigger joins).
        # NOTE (r15 ADVICE): preferSortMergeJoin=false also lets the
        # STATIC planner pick SHJ from size ESTIMATES (canBuildLocalHashMap
        # against advisoryPartitionSizeInBytes), not just the AQE measured
        # path — an underestimated build side (post-filter stats) can OOM
        # at scale since SHJ builds don't spill. Escape hatch: set
        # SPARK_GRAFT_SHJ_LOCAL_MAP=0 and flip this to true via extra_conf
        # on clusters where estimate quality is poor.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP", "64m"),
        )
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in sources.tables (values are whole microseconds).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # guide §6: zstd beats snappy on BOTH axes here — measured on the
        # 25M-row dfsio frame: 483 MB vs 915 MB on disk, write 1.9 s vs
        # 2.2 s, scan-read 0.50 s vs 0.93 s (r15 opt). Every parquet
        # write (snapshot staging, DV sidecars, bench sinks) inherits it.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        # r16 opt (r15 verdict item 5 — the dfsio write lane paid 0.80x
        # for the codec switch): zstd level 1 instead of parquet's
        # default 3. Measured on the 25M-row dfsio frame, min-of-3:
        # write 1.90->1.52 s, read equal (0.49-0.65), bytes 487->465 MB
        # (hex payloads compress no better at 3) — vs snappy's 922 MB.
        .config(
            "parquet.compression.codec.zstd.level",
            os.environ.get("SPARK_GRAFT_ZSTD_LEVEL", "1"),
        )
        # write timestamps as TIMESTAMP_MICROS, not the legacy INT96:
        # INT96 columns carry NO parquet min/max statistics, which would
        # blind every footer-stats consumer (snapshot partition specs on
        # timestamp columns, snapshot-log pruning, zorder stats)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # bucketed tables (CompositeInputFormat-style co-located joins) need
        # a catalog warehouse; keep it off the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/hps-warehouse"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
