"""The two workloads and the checks of their outputs.

A workload is one client in a closed loop: ``run_pass`` runs its fixed
operation list once and returns one :class:`Sample` per operation. Only
the operation calls are timed; every check runs outside them.

- ``batch_jobs``: one pass runs two groups of registry queries back to
  back. ``MR_BATCH_QUERIES`` plus a TeraSort are bound by planning,
  scheduling and shuffle and start no Python worker; ``CORPUS_QUERIES``
  (the training-data path) spend their time in Python/Arrow workers and in
  the skewed within-block similarity self-joins. Each operation keeps its
  own latency metric, so a change to one group shows against the other.
- ``table_writes``: the snapshot-table write path with reads interleaved,
  a streaming ingest and four concurrent writers.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from layers import Tracer

MR_BATCH_QUERIES = [
    "q1_pricing_summary",
    "ex_wordcount",
    "secondary_sort",
    "z_tpch_q5",
]
CORPUS_QUERIES = [
    "multimodal_features",
    "embedding_near_dup",
    "z_dedup_semantic",
]
TERASORT = "terasort"
TABLE_VERBS = [
    "create",
    "merge",
    "delete",
    "append",
    "lookup",
    "optimize",
    "stream",
    "concurrent4",
    "time_travel",
    "vacuum",
]


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work: str
    seed: int
    sf: float
    cores: int
    tracer: Tracer


@dataclass
class Sample:
    op: str
    seconds: float
    output: object = None
    errors: list[str] = field(default_factory=list)
    frame: object = None  # the DataFrame whose plan produced the output
    span: object = None  # the op's span in a traced pass


def terasort_rows(sf: float) -> int:
    """TeraSort size: 2M rows at sf0.1, scaled with the tables."""
    return max(20_000, round(20_000_000 * sf))


def teragen_range(spark, lo: int, n: int, parts: int):
    """``generators.teragen``'s records for the ids ``[lo, lo + n)``.

    teragen always starts at id 0; the record of an id is a pure function
    of the id (the same two md5 projections), so a seeded id range gives
    other records of the same shape at the same cost.
    """
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.sources.generators import TERA_KEY_LEN, TERA_VALUE_LEN

    base = spark.range(lo, lo + n, 1, parts).select(
        "id",
        F.md5(F.col("id").cast("string")).alias("_kh"),
        F.md5(F.concat(F.col("id").cast("string"), F.lit("v"))).alias("_vh"),
    )
    return base.select(
        "id",
        F.substring("_kh", 1, TERA_KEY_LEN).alias("key"),
        F.substring(F.concat("_vh", "_vh", "_vh"), 1, TERA_VALUE_LEN).alias("value"),
    )


# -- registry workloads -------------------------------------------------------


class Oracle:
    """Expected rows of registry queries, from their DuckDB oracles, in the
    parity gate's typed normalization."""

    def __init__(self, sf_dir: str, names: list[str]):
        from hadoop_prototype_spark.plans.registry import REGISTRY
        from tests.parity import duckdb_connection

        con = duckdb_connection(sf_dir)
        self.expected = {}
        try:
            for name in names:
                tbl = con.execute(REGISTRY[name].oracle).arrow()
                self.expected[name] = normalized(tbl)
        finally:
            con.close()

    def compare(self, name: str, tbl: pa.Table) -> list[str]:
        exp_cols, exp_rows = self.expected[name]
        cols, rows = normalized(tbl)
        if cols != exp_cols:
            return [f"{name}: columns {cols} != oracle {exp_cols}"]
        if len(rows) != len(exp_rows):
            return [f"{name}: {len(rows)} rows != oracle {len(exp_rows)}"]
        bad = sum(a != b for a, b in zip(rows, exp_rows))
        return [f"{name}: {bad} of {len(rows)} rows differ from oracle"] if bad else []


def normalized(tbl: pa.Table) -> tuple[list[str], list[tuple]]:
    from tests.parity import _norm, _sort_key

    cols = sorted(tbl.column_names)
    rows = [tuple(_norm(r[c]) for c in cols) for r in tbl.to_pylist()]
    rows.sort(key=_sort_key)
    return cols, rows


class RegistryWorkload:
    """Registry queries, each built with ``Query.spark_fn`` and collected
    to Arrow: the timed span runs from the build call to the last row."""

    check_s = 0.0  # all checks run after the pass

    def __init__(self, name: str, queries: list[str], terasort: bool):
        self.name = name
        self.queries = queries
        self.terasort = terasort
        self.ops = queries + ([TERASORT] if terasort else [])

    def prepare(self, ctx: Ctx) -> None:
        from hadoop_prototype_spark.plans.registry import REGISTRY

        import hadoop_prototype_spark.plans  # noqa: F401  (registers queries)

        self.registry = REGISTRY
        if self.terasort:
            # the seed offsets TeraGen's id range
            offset = ctx.seed * 1_000_003 % 1_000_000_000
            self.tera_input = teragen_range(
                ctx.spark, offset, terasort_rows(ctx.sf), ctx.cores * 4
            )
            self.tera_out = os.path.join(ctx.work, "terasort_out")

    def expect(self, ctx: Ctx) -> None:
        """Expected results, computed once and outside every timing."""
        from hadoop_prototype_spark.sources.generators import record_checksum

        self.oracle = Oracle(ctx.sf_dir, self.queries)
        if self.terasort:
            self.tera_checksum = record_checksum(self.tera_input, "id", "key", "value")

    def run_pass(self, ctx: Ctx, pass_no: int) -> list[Sample]:
        tr = ctx.tracer
        samples = []
        for name in self.ops:
            frame = out = None
            errors = []
            with tr.span(f"query.{name}", "operators") as sp:
                t0 = time.perf_counter()
                try:
                    if name == TERASORT:
                        with tr.span("dataframe.write", "dataframe"):
                            frame = self.tera_input.orderBy("key")
                            frame.write.mode("overwrite").parquet(self.tera_out)
                    else:
                        with tr.span("plans.build", "plans"):
                            frame = self.registry[name].spark_fn(ctx.spark, ctx.sf_dir)
                        with tr.span("dataframe.toArrow", "dataframe"):
                            out = frame.toArrow()
                except Exception as e:  # a raising operation counts as failed
                    errors.append(f"{name}: raised {type(e).__name__}: {e}")
                    frame = None
                dt = time.perf_counter() - t0
            samples.append(Sample(name, dt, out, errors, frame=frame, span=sp))
        return samples

    def check(self, ctx: Ctx, samples: list[Sample]) -> None:
        for s in samples:
            if s.errors:
                continue
            try:
                if s.op == TERASORT:
                    s.errors = self._check_terasort(ctx)
                else:
                    s.errors = self.oracle.compare(s.op, s.output)
            except Exception as e:  # a check that cannot run is a failure
                s.errors = [f"{s.op}: check raised {type(e).__name__}: {e}"]
            s.output = None

    def _check_terasort(self, ctx: Ctx) -> list[str]:
        """Checksum conservation and global order of the written output."""
        from hadoop_prototype_spark.sources.generators import record_checksum

        out = ctx.spark.read.parquet(self.tera_out)
        errors = []
        got = record_checksum(out, "id", "key", "value")
        if got != self.tera_checksum:
            errors.append(f"terasort: checksum {got} != input {self.tera_checksum}")
        parts = sorted(
            f for f in os.listdir(self.tera_out) if f.endswith(".parquet")
        )
        keys = pa.concat_arrays(
            [
                pq.read_table(os.path.join(self.tera_out, f), columns=["key"])
                .column("key")
                .combine_chunks()
                for f in parts
            ]
        ).to_numpy(zero_copy_only=False)
        if len(keys) != terasort_rows(ctx.sf):
            errors.append(f"terasort: {len(keys)} rows != {terasort_rows(ctx.sf)}")
        if len(keys) > 1 and not bool(np.all(keys[:-1] <= keys[1:])):
            errors.append("terasort: output is not globally sorted")
        return errors


# -- table_writes -------------------------------------------------------------

ROUNDS = 1
CHURN = 0.01  # share of keys each merge/delete/append touches
STREAM_FILES = 2


class TableModel:
    """What the table should hold: key -> price in integer cents."""

    def __init__(self, keys: np.ndarray, cents: np.ndarray):
        self.rows = dict(zip(keys.tolist(), cents.tolist()))

    def total(self) -> tuple[int, Decimal]:
        return len(self.rows), Decimal(sum(self.rows.values())) / 100


def _frame(spark, keys, cents):
    tbl = pa.table(
        {
            "k": pa.array(np.asarray(keys, dtype=np.int64)),
            "price": pa.array(np.asarray(cents, dtype=np.int64) / 100.0),
        }
    )
    return spark.createDataFrame(tbl), tbl.nbytes


class TableWritesWorkload:
    name = "table_writes"
    ops = TABLE_VERBS

    def prepare(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from hadoop_prototype_spark.sources.tables import load_table

        orders = pq.read_table(
            os.path.join(ctx.sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_totalprice"],
        )
        self.base_keys = orders.column("o_orderkey").to_numpy()
        self.base_cents = np.round(orders.column("o_totalprice").to_numpy() * 100).astype(
            np.int64
        )
        self.base = load_table(ctx.spark, ctx.sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
        )
        self.base_bytes = len(self.base_keys) * 16
        self._prepare_stream(ctx)

    def _prepare_stream(self, ctx: Ctx) -> None:
        """Seeded event files, in time order."""
        events = pq.read_table(
            os.path.join(ctx.sf_dir, "events.parquet"),
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        ).sort_by("ts")
        events = events.set_column(
            1, "ts", events.column("ts").cast(pa.timestamp("us", tz="UTC"))
        )
        rng = np.random.default_rng(ctx.seed + 7)
        cuts = np.sort(rng.choice(np.arange(1, events.num_rows), STREAM_FILES - 1, replace=False))
        self.stream_src = os.path.join(ctx.work, "stream_src")
        shutil.rmtree(self.stream_src, ignore_errors=True)
        os.makedirs(self.stream_src)
        for i, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, events.num_rows])):
            pq.write_table(
                events.slice(lo, hi - lo),
                os.path.join(self.stream_src, f"part-{i:03d}.parquet"),
            )
        self.stream_schema = ctx.spark.read.parquet(self.stream_src).schema

    def expect(self, ctx: Ctx) -> None:
        """The window counts the stream must produce, from DuckDB."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            exp = con.execute(
                "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, "
                f"count(*) AS n_events FROM read_parquet('{self.stream_src}/*.parquet') "
                "GROUP BY ALL"
            ).fetchall()
        finally:
            con.close()
        self.stream_expected = sorted(
            (ws.replace(tzinfo=None).isoformat(), et, n) for ws, et, n in exp
        )

    # one pass ---------------------------------------------------------------

    def run_pass(self, ctx: Ctx, pass_no: int) -> list[Sample]:
        from hadoop_prototype_spark.sources import snapshots as sn

        tr = ctx.tracer
        spark = ctx.spark
        rng = np.random.default_rng([ctx.seed, pass_no + 100])  # warm-ups are < 0
        root = os.path.join(ctx.work, f"table_{pass_no}")
        shutil.rmtree(root, ignore_errors=True)
        path = os.path.join(root, "tbl")
        model = TableModel(self.base_keys, self.base_cents)
        self.samples: list[Sample] = []
        self.check_s = 0.0
        self.user_bytes = self.base_bytes
        self.seen: dict[str, int] = {}
        self.commits = 0
        n_churn = max(4, int(len(self.base_keys) * CHURN))
        next_key = int(self.base_keys.max()) + 1

        def timed(op: str, fn):
            out, errors = None, []
            with tr.span(f"step.{op}", "operators") as sp:
                t0 = time.perf_counter()
                try:
                    out = fn()
                except Exception as e:  # a raising step counts as failed
                    errors.append(f"{op}: raised {type(e).__name__}: {e}")
                dt = time.perf_counter() - t0
            self.samples.append(Sample(op, dt, errors=errors, span=sp))
            t0 = time.perf_counter()
            self._observe(path)
            self.check_s += time.perf_counter() - t0
            return out

        def check(fn) -> None:
            t0 = time.perf_counter()
            with tr.span("check", "check"):
                try:
                    errs = fn()
                except Exception as e:
                    errs = [f"check raised {type(e).__name__}: {e}"]
            self.samples[-1].errors.extend(errs)
            self.check_s += time.perf_counter() - t0

        timed("create", lambda: sn.create_table(self.base, path, "k"))
        self.commits += 1
        check(lambda: self._check_table(spark, path, model))
        for _ in range(ROUNDS):
            live = np.fromiter(model.rows, dtype=np.int64)
            keys = rng.choice(live, n_churn, replace=False)
            cents = rng.integers(100_000, 50_000_000, n_churn)
            upd, nbytes = _frame(spark, keys, cents)
            timed("merge", lambda: sn.merge_into(spark, path, upd, "k"))
            self._commit(model, keys, cents, nbytes)
            check(lambda: self._check_table(spark, path, model))

            live = np.fromiter(model.rows, dtype=np.int64)
            keys = rng.choice(live, n_churn, replace=False)
            dels = spark.createDataFrame(pa.table({"k": pa.array(keys, pa.int64())}))
            timed("delete", lambda: sn.delete_from(spark, path, dels, "k"))
            for k in keys.tolist():
                del model.rows[k]
            self.commits += 1
            self.user_bytes += len(keys) * 8
            check(lambda: self._check_table(spark, path, model))

            keys = np.arange(next_key, next_key + n_churn)
            next_key += n_churn
            cents = rng.integers(100_000, 50_000_000, n_churn)
            rows, nbytes = _frame(spark, keys, cents)
            timed("append", lambda: sn.append_table(spark, path, rows, "k"))
            self._commit(model, keys, cents, nbytes)
            check(lambda: self._check_table(spark, path, model))

            lo = int(rng.integers(0, next_key - 200))
            hi = lo + 199
            got = timed("lookup", lambda: sn.read_table_pruned(spark, path, lo, hi).toArrow())
            check(lambda: self._check_lookup(got, model, lo, hi))

        timed("optimize", lambda: sn.optimize(spark, path))
        self.commits += 1
        check(lambda: self._check_table(spark, path, model))

        timed("stream", lambda: self._stream(ctx, pass_no))
        check(lambda: self._check_stream(spark, pass_no))

        live = np.fromiter(model.rows, dtype=np.int64)
        keys = rng.choice(live, 4 * n_churn, replace=False)
        cents = rng.integers(100_000, 50_000_000, len(keys))
        clients = []
        for i in range(4):
            mine = keys % 4 == i
            frame, nbytes = _frame(spark, keys[mine], cents[mine])
            clients.append(frame)
            self.user_bytes += nbytes
        timed("concurrent4", lambda: self._concurrent(ctx, path, clients))
        for k, c in zip(keys.tolist(), cents.tolist()):
            model.rows[k] = c
        self.commits += 4
        check(lambda: self._check_table(spark, path, model))

        got = timed("time_travel", lambda: sn.read_table(spark, path, version=1).toArrow())
        base_model = TableModel(self.base_keys, self.base_cents)
        check(lambda: self._check_rows(got, base_model.rows, "time travel to v1"))

        timed("vacuum", lambda: sn.vacuum(path, keep_last=1, retention_seconds=0))
        check(lambda: self._check_final(spark, path, model))
        self.table_path = path
        return self.samples

    def check(self, ctx: Ctx, samples: list[Sample]) -> None:
        """Table checks already ran after each step, outside its timing."""

    # helpers ------------------------------------------------------------------

    def _commit(self, model: TableModel, keys, cents, nbytes: int) -> None:
        for k, c in zip(keys.tolist(), cents.tolist()):
            model.rows[k] = c
        self.commits += 1
        self.user_bytes += nbytes

    def _observe(self, path: str) -> None:
        """Record every file now under the table directory (files are never
        rewritten in place, so the distinct files seen are the bytes
        written)."""
        for dirpath, _, files in os.walk(path):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    size = os.path.getsize(p)
                except OSError:
                    continue
                self.seen[p] = max(size, self.seen.get(p, 0))

    def _check_table(self, spark, path, model: TableModel) -> list[str]:
        from pyspark.sql import functions as F

        from hadoop_prototype_spark.sources import snapshots as sn

        row = (
            sn.read_table(spark, path)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("price").cast("decimal(18,2)")).alias("s"),
            )
            .collect()[0]
        )
        n, s = model.total()
        errors = []
        if row.n != n:
            errors.append(f"table has {row.n} rows, model {n}")
        if row.s != s:
            errors.append(f"table sum(price) {row.s} != model {s}")
        return errors

    def _check_rows(self, tbl: pa.Table, expected: dict, what: str) -> list[str]:
        got = dict(
            zip(
                tbl.column("k").to_pylist(),
                np.round(tbl.column("price").to_numpy() * 100).astype(np.int64).tolist(),
            )
        )
        if tbl.num_rows != len(got):
            return [f"{what}: duplicate keys"]
        if got != expected:
            diff = len(set(got.items()) ^ set(expected.items()))
            return [f"{what}: {diff} rows differ from the model"]
        return []

    def _check_lookup(self, tbl, model: TableModel, lo: int, hi: int) -> list[str]:
        exp = {k: c for k, c in model.rows.items() if lo <= k <= hi}
        return self._check_rows(tbl, exp, f"lookup [{lo}, {hi}]")

    def _check_final(self, spark, path, model: TableModel) -> list[str]:
        from hadoop_prototype_spark.sources import snapshots as sn

        errors = self._check_table(spark, path, model)
        v = sn.current_version(path)
        if v != self.commits:
            errors.append(f"final version {v} != 1 + {self.commits - 1} commits")
        self.final_version = v
        return errors

    def _stream(self, ctx: Ctx, pass_no: int):
        from hadoop_prototype_spark.streaming.windows import (
            tumbling_window_agg,
            with_watermark,
        )

        spark = ctx.spark
        ckpt = os.path.join(ctx.work, f"stream_ckpt_{pass_no}")
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = (
            spark.readStream.schema(self.stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_src)
        )
        windowed = tumbling_window_agg(with_watermark(stream, "2 hours"), "1 hour")
        with ctx.tracer.span("streaming.query", "streaming"):
            q = (
                windowed.writeStream.format("memory")
                .queryName(f"perfbench_stream_{pass_no + 100}")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        self.stream_query = q
        return q

    def _check_stream(self, spark, pass_no: int) -> list[str]:
        q = self.stream_query
        if q.exception() is not None:
            return [f"stream failed: {q.exception()}"]
        tbl = spark.table(f"perfbench_stream_{pass_no + 100}").toArrow()
        got = sorted(
            (ws.replace(tzinfo=None).isoformat(), et, n)
            for ws, et, n in zip(
                tbl.column("window_start").to_pylist(),
                tbl.column("event_type").to_pylist(),
                tbl.column("n_events").to_pylist(),
            )
        )
        if got != self.stream_expected:
            return [f"stream: {len(got)} windows, expected {len(self.stream_expected)}"]
        return []

    def _concurrent(self, ctx: Ctx, path: str, clients: list) -> None:
        from hadoop_prototype_spark.sources import snapshots as sn

        tr = ctx.tracer
        parent = tr._stack()[-1] if tr.enabled else None

        def client(frame) -> None:
            tr.adopt(parent)
            with tr.span("snapshots.client", "snapshots"):
                sn.merge_into_retrying(ctx.spark, path, frame, "k", max_retries=20)

        with ThreadPoolExecutor(max_workers=4) as pool:
            for f in [pool.submit(client, c) for c in clients]:
                f.result()

    def table_stats(self) -> dict:
        """Sizes of the last pass's table, for write and space amplification."""
        from hadoop_prototype_spark.sources import snapshots as sn

        path = self.table_path
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path)
            for f in files
        )
        written = sum(self.seen.values())
        log = sum(v for p, v in self.seen.items() if os.sep + "_" in p[len(path):])
        desc = sn.describe(path)
        return {
            "snapshots.versions": float(self.final_version),
            "snapshots.bytes_written": float(written),
            "snapshots.log_bytes": float(log),
            "snapshots.files_live": float(desc["n_files"]),
            "snapshots.write_amp": written / self.user_bytes,
            "snapshots.space_amp": on_disk / max(desc["bytes_current"], 1),
        }


def make(name: str):
    if name == "batch_jobs":
        return RegistryWorkload(
            name, MR_BATCH_QUERIES + CORPUS_QUERIES, terasort=True
        )
    if name == "table_writes":
        return TableWritesWorkload()
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ["batch_jobs", "table_writes"]


def all_ops() -> dict[str, list[str]]:
    return {w: make(w).ops for w in WORKLOADS}

