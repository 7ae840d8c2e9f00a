"""Snapshot-log tables (sources/snapshots.py): time travel, snapshot
isolation under later writes, optimistic-concurrency commits, pruned
rewrites with zero steady-state footer reads, crash-orphan vacuum."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from hadoop_prototype_spark.sources import snapshots as sn


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def _table(spark, n=1000, parts=8):
    return spark.range(n).repartitionByRange(parts, "id").selectExpr(
        "id AS k", "CAST(id * 10 AS BIGINT) AS v"
    )


def test_time_travel_and_snapshot_isolation(spark, tmp_path):
    path = str(tmp_path / "t")
    assert sn.create_table(_table(spark), path, "k") == 1
    v1_rows = _rows(sn.read_table(spark, path))

    upd = spark.createDataFrame([(5, -1), (1000, -2)], "k bigint, v bigint")
    r2 = sn.merge_into(spark, path, upd, "k")
    assert r2["version"] == 2
    assert 0 < r2["files_rewritten"] < r2["files_total"]  # pruning worked
    assert r2["rows_after"] == 1001  # one update + one insert

    r3 = sn.delete_from(spark, path, spark.createDataFrame([(7,), (8,)], "k bigint"), "k")
    assert r3["version"] == 3 and r3["rows_deleted"] == 2

    # time travel: every version readable, each with its own contents
    assert _rows(sn.read_table(spark, path, version=1)) == v1_rows
    v2 = dict(_rows(sn.read_table(spark, path, version=2)))
    assert v2[5] == -1 and v2[1000] == -2 and len(v2) == 1001
    v3 = dict(_rows(sn.read_table(spark, path, version=3)))
    assert 7 not in v3 and 8 not in v3 and len(v3) == 999

    # snapshot isolation: a reader pinned to v1 BEFORE the writes above
    # still materializes v1 exactly (its files were never deleted)
    assert _rows(sn.read_table(spark, path, version=1)) == v1_rows
    assert [h["version"] for h in sn.history(path)] == [1, 2, 3]


def test_steady_state_merge_reads_footers_only_for_new_files(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    upd = spark.createDataFrame([(3, -3)], "k bigint, v bigint")
    before = sn.FOOTER_READS
    r = sn.merge_into(spark, path, upd, "k")
    new_files = len(sn._read_entry(path, r["version"])["files"]) - (
        r["files_total"] - r["files_rewritten"]
    )
    # pruning used the log's recorded stats: footer reads = new files only
    assert sn.FOOTER_READS - before == new_files


def test_steady_state_merge_does_zero_old_file_footer_reads(spark, tmp_path):
    """create_table pays the one footer pass (its stats go into the log);
    every later merge/delete prunes against the log and footer-reads ONLY
    its own newly written files."""
    path = str(tmp_path / "t")
    before = sn.FOOTER_READS
    sn.create_table(_table(spark, n=4000, parts=40), path, "k")
    n_files = len(sn._read_entry(path, 1)["files"])
    assert sn.FOOTER_READS - before >= n_files  # the one-time pass

    sn.merge_into(
        spark, path, spark.createDataFrame([(5, -1), (6, -1)], "k bigint, v bigint"), "k"
    )
    before = sn.FOOTER_READS
    stats = sn.merge_into(
        spark, path, spark.createDataFrame([(7, -2)], "k bigint, v bigint"), "k"
    )
    added = stats["files_rewritten"]  # each rewritten slice re-lands as new files
    steady_reads = sn.FOOTER_READS - before
    # only the freshly written files get footer-read; 40 old files: zero
    assert steady_reads <= max(1, added) + 2, (steady_reads, added)
    assert steady_reads < n_files / 2

    before = sn.FOOTER_READS
    sn.delete_from(spark, path, spark.createDataFrame([(8,)], "k bigint"), "k")
    assert sn.FOOTER_READS - before < n_files / 2


def test_steady_state_merge_at_1000_files(spark, tmp_path, parts=1000):
    """At the file count the claim is made for: a merge into a
    ``parts``-file table footer-reads ONLY its own newly written files —
    none of the old ones — and runs in seconds."""
    import time

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=200_000, parts=parts), path, "k")
    assert len(sn._read_entry(path, 1)["files"]) >= parts
    # one in-range update + one true insert (1M > every file's range)
    upd = spark.createDataFrame([(5, -1), (1_000_000, -2)], "k bigint, v bigint")
    t0 = time.perf_counter()
    before = sn.FOOTER_READS
    r = sn.merge_into(spark, path, upd, "k")
    wall = time.perf_counter() - t0
    new_files = len(sn._read_entry(path, r["version"])["files"]) - (
        r["files_total"] - r["files_rewritten"]
    )
    # pruning used the log's recorded stats: footer reads = new files only
    assert sn.FOOTER_READS - before == new_files
    assert r["files_rewritten"] <= 4  # pruning actually pruned
    assert r["rows_after"] == 200_001
    assert wall < 60, f"{parts}-file steady-state merge took {wall:.1f}s"


def test_commit_is_first_writer_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=10, parts=1), path, "k")
    entry = sn._read_entry(path, 1)
    e2 = dict(entry, version=2, op="a")
    sn._commit(path, 2, e2)
    with pytest.raises(sn.ConflictError):
        sn._commit(path, 2, dict(entry, version=2, op="b"))
    assert sn._read_entry(path, 2)["op"] == "a"  # winner untouched


def test_vacuum_reclaims_dropped_versions_and_orphans(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    sn.merge_into(
        spark, path, spark.createDataFrame([(5, -1)], "k bigint, v bigint"), "k"
    )
    # a crashed writer: data file moved in but never committed, plus a
    # staging dir abandoned before the move
    orphan = os.path.join(path, "v9-orphan.parquet")
    some = glob.glob(os.path.join(path, "*.parquet"))[0]
    import shutil

    shutil.copy(some, orphan)
    stale_staging = os.path.join(path, "_snap_staging-deadbeef")
    os.makedirs(stale_staging)
    shutil.copy(some, os.path.join(stale_staging, "part-0.parquet"))
    latest = _rows(sn.read_table(spark, path))

    # retention 0 = operator asserts no writer is live (the orphans here
    # are fresh, so the age gate would otherwise retain them)
    rep = sn.vacuum(path, keep_last=1, retention_seconds=0)
    assert rep["log_entries_removed"] == 1  # v1 dropped
    assert not os.path.exists(orphan)  # orphan swept
    assert not os.path.exists(stale_staging)  # abandoned staging swept
    assert _rows(sn.read_table(spark, path)) == latest  # current intact
    with pytest.raises(FileNotFoundError):
        sn.read_table(spark, path, version=1)  # beyond retention


def test_vacuum_spares_in_flight_writer_files(spark, tmp_path):
    """A concurrent writer moves files in BEFORE committing; a default
    (age-gated) vacuum in that window must not delete them, and the
    writer's subsequent commit must publish a fully readable snapshot."""
    import shutil

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=100, parts=2), path, "k")
    base = sn._read_entry(path, 1)

    # simulate the in-flight window: future-version data file + staging
    # dir present, snapshot v2 not yet committed
    some = os.path.join(path, base["files"][0]["name"])
    inflight = os.path.join(path, "v2-inflight.parquet")
    shutil.copy(some, inflight)
    live_staging = os.path.join(path, "_snap_staging-live")
    os.makedirs(live_staging)
    shutil.copy(some, os.path.join(live_staging, "part-0.parquet"))

    sn.vacuum(path, keep_last=1)  # default retention: must spare both
    assert os.path.exists(inflight)
    assert os.path.exists(live_staging)

    # the writer now commits v2 referencing the in-flight file: readable
    entry = dict(base, version=2, op="merge")
    entry["files"] = base["files"] + [
        dict(base["files"][0], name="v2-inflight.parquet")
    ]
    sn._commit(path, 2, entry)
    assert sn.read_table(spark, path, version=2).count() == 100 + base["files"][0]["num_rows"]

    # old-era debris (prefix < cutoff, unreferenced) still goes even with
    # the age gate: drop v1, its files are prefix-v1 and unreferenced by v2
    sn.delete_from(spark, path, spark.createDataFrame([(1,)], "k bigint"), "k")
    rep = sn.vacuum(path, keep_last=1)
    assert rep["log_entries_removed"] == 2
    assert rep["data_files_removed"] > 0  # v1/v2-era files reclaimed by prefix rule


def test_table_changes_classifies_insert_update_delete(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    upd = spark.createDataFrame(
        [(5, -1), (1000, -2)], "k bigint, v bigint"
    )  # 5 updates, 1000 inserts
    sn.merge_into(spark, path, upd, "k")
    sn.delete_from(spark, path, spark.createDataFrame([(7,)], "k bigint"), "k")

    c12 = {
        (r.k, r._change): r.v
        for r in sn.table_changes(spark, path, 1, 2).collect()
    }
    assert c12 == {
        (5, "update_preimage"): 50,
        (5, "update_postimage"): -1,
        (1000, "insert"): -2,
    }
    c23 = [(r.k, r._change) for r in sn.table_changes(spark, path, 2, 3).collect()]
    assert c23 == [(7, "delete")]
    # full span: 5 updated (pre+post), 1000 inserted, 7 deleted
    c13 = sorted(
        (r.k, r._change) for r in sn.table_changes(spark, path, 1, 3).collect()
    )
    assert c13 == [
        (5, "update_postimage"),
        (5, "update_preimage"),
        (7, "delete"),
        (1000, "insert"),
    ]
    # unchanged table → empty feed
    assert sn.table_changes(spark, path, 3, 3).count() == 0


def test_cdc_feed_maintains_a_materialized_rollup(spark, tmp_path):
    """Integration: snapshot CDC → incremental view refresh equals a full
    recompute at every version, without rescanning the table."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators import incremental as inc

    path = str(tmp_path / "t")
    base = spark.range(1000).selectExpr(
        "id AS k", "CAST(id % 7 AS BIGINT) AS grp", "CAST(id * 10 AS BIGINT) AS v"
    ).repartitionByRange(6, "k")
    sn.create_table(base, path, "k")
    spec = {"total_v": ("sum", "v"), "n": ("count", "v")}
    view = inc.summarize(sn.read_table(spark, path), ["grp"], spec)

    sn.merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(3, 3, -100), (2000, 0, 5)], "k bigint, grp bigint, v bigint"
        ),
        "k",
    )
    sn.delete_from(spark, path, spark.createDataFrame([(10,), (11,)], "k bigint"), "k")

    for v in (2, 3):
        view = inc.refresh_from_changes(
            view, sn.table_changes(spark, path, v - 1, v), ["grp"], spec
        )
        expected = inc.summarize(sn.read_table(spark, path, v), ["grp"], spec)
        got = sorted((r.grp, r.total_v, r.n) for r in view.filter("n > 0").collect())
        want = sorted((r.grp, r.total_v, r.n) for r in expected.collect())
        assert got == want, f"version {v}"


def test_matches_unversioned_merge_semantics(spark, tmp_path):
    """The versioned upsert equals a plain dict model of an upsert: the
    update's value wins per key, unmatched keys insert, every other key
    keeps its value — across consecutive merges."""
    snap = str(tmp_path / "snap")
    sn.create_table(_table(spark, n=500, parts=4), snap, "k")
    model = {k: k * 10 for k in range(500)}
    for batch in ([(10, -1), (499, -2), (700, -3)], [(700, -4), (0, -5), (800, -6)]):
        model.update(batch)
        sn.merge_into(
            spark, snap, spark.createDataFrame(batch, "k bigint, v bigint"), "k"
        )
        assert _rows(sn.read_table(spark, snap)) == sorted(model.items())


def test_concurrent_writers_all_land_with_retry(spark, tmp_path):
    """N threads upsert DISJOINT key sets concurrently through the
    optimistic-retry loop: every writer must eventually commit, versions
    advance by exactly N, and the final table holds every update — the
    multi-writer contract the commit protocol exists for."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=400, parts=4), path, "k")

    def write(i: int) -> dict:
        upd = spark.createDataFrame(
            [(i * 10 + j, -(i * 10 + j)) for j in range(3)], "k bigint, v bigint"
        )
        return sn.merge_into_retrying(spark, path, upd, "k", max_retries=20)

    n_writers = 4
    with ThreadPoolExecutor(max_workers=n_writers) as pool:
        results = list(pool.map(write, range(n_writers)))

    assert sn.current_version(path) == 1 + n_writers
    assert sorted(r["version"] for r in results) == list(range(2, 2 + n_writers))
    final = dict(_rows(sn.read_table(spark, path)))
    for i in range(n_writers):
        for j in range(3):
            k = i * 10 + j
            assert final[k] == -k, (i, j, final.get(k))
    assert len(final) == 400  # all keys existed; pure updates


def test_retry_gives_up_cleanly_after_budget(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=20, parts=1), path, "k")

    import hadoop_prototype_spark.sources.snapshots as snaps

    orig = snaps._commit

    def always_lose(p, v, e):
        raise snaps.ConflictError("forced loss")

    snaps._commit = always_lose
    try:
        with pytest.raises(sn.ConflictError, match="gave up after 2 retries"):
            sn.merge_into_retrying(
                spark,
                path,
                spark.createDataFrame([(1, -1)], "k bigint, v bigint"),
                "k",
                max_retries=2,
            )
    finally:
        snaps._commit = orig
    # the failed attempts left no referenced garbage: table still reads v1
    assert sn.current_version(path) == 1
    assert len(_rows(sn.read_table(spark, path))) == 20


def test_optimize_compacts_small_files_versioned(spark, tmp_path):
    """OPTIMIZE coalesces the small-file tail into a new version with
    identical rows; big files carry forward unread; old versions stay
    readable; pruning bounds stay tight (key-clustered output)."""
    path = str(tmp_path / "t")
    # 2 organic files + a tail of 8 tiny files from single-row merges
    sn.create_table(_table(spark, n=1000, parts=2), path, "k")
    for i in range(8):
        sn.merge_into(
            spark,
            path,
            spark.createDataFrame([(2000 + i, -i)], "k bigint, v bigint"),
            "k",
        )
    before_entry = sn._read_entry(path, sn.current_version(path))
    before_rows = _rows(sn.read_table(spark, path))
    n_before = len(before_entry["files"])

    rep = sn.optimize(spark, path)
    assert rep["files_rewritten"] >= 8
    entry = sn._read_entry(path, rep["version"])
    assert len(entry["files"]) < n_before
    assert _rows(sn.read_table(spark, path)) == before_rows  # identical rows
    assert rep["rows_after"] == len(before_rows)
    # the pre-optimize version still reads exactly (snapshot isolation)
    assert _rows(sn.read_table(spark, path, version=rep["version"] - 1)) == before_rows
    # idempotent-ish: a second optimize finds nothing worth compacting
    rep2 = sn.optimize(spark, path)
    assert rep2["files_rewritten"] == 0 and rep2["version"] == rep["version"]
    # and a merge after compaction still prunes (bounds stayed tight)
    stats = sn.merge_into(
        spark, path, spark.createDataFrame([(1, -1)], "k bigint, v bigint"), "k"
    )
    assert 0 < stats["files_rewritten"] < stats["files_total"]


def test_scd2_history_reproduces_every_version(spark, tmp_path):
    """The SCD2 invariant: filtering the history to intervals valid at v
    (valid_from <= v < coalesce(valid_to, inf)) reproduces read_table(v)
    EXACTLY, for every retained version — inserts, chained updates of the
    same key, and deletes all land in the right intervals."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=200, parts=2), path, "k")
    # v2: update k=5, insert k=1000; v3: update k=5 AGAIN (chained) +
    # update k=1000; v4: delete k=5 and k=7
    sn.merge_into(
        spark, path,
        spark.createDataFrame([(5, -1), (1000, -2)], "k bigint, v bigint"), "k",
    )
    sn.merge_into(
        spark, path,
        spark.createDataFrame([(5, -10), (1000, -20)], "k bigint, v bigint"), "k",
    )
    sn.delete_from(spark, path, spark.createDataFrame([(5,), (7,)], "k bigint"), "k")

    hist = sn.scd2_history(spark, path)
    rows = hist.collect()
    # no overlapping intervals per key
    by_key = {}
    for r in rows:
        by_key.setdefault(r.k, []).append((r.valid_from, r.valid_to))
    for k, ivs in by_key.items():
        ivs.sort()
        for (f1, t1), (f2, _t2) in zip(ivs, ivs[1:]):
            assert t1 is not None and t1 <= f2, (k, ivs)
    # k=5 chained: three intervals, closed at 2, 3, 4
    assert sorted(by_key[5]) == [(1, 2), (2, 3), (3, 4)]
    assert by_key[7] == [(1, 4)]
    assert sorted(by_key[1000]) == [(2, 3), (3, None)]
    # the master invariant
    for v in range(1, sn.current_version(path) + 1):
        at_v = hist.filter(
            (F.col("valid_from") <= v)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > v))
        ).select("k", "v")
        assert _rows(at_v) == _rows(sn.read_table(spark, path, version=v)), v


def _craft_version_chain(path, n_versions):
    """A long retained-version chain built directly (pyarrow files +
    _commit), bypassing Spark writers: the stress target is scd2_history's
    PLAN assembly over many transitions, not merge_into's write path.
    Every version replaces the single data file, bumping k=1's value —
    one update per transition, k=2/k=3 rows identical (they cancel)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)

    def write_file(v):
        name = f"v{v}-part.parquet"
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([1, 2, 3], pa.int64()),
                    "v": pa.array([v * 10, 20, 30], pa.int64()),
                }
            ),
            os.path.join(path, name),
        )
        return {"name": name, "num_rows": 3, "min": 1, "max": 3}

    sn._commit(
        path, 1,
        {"version": 1, "op": "create", "key_col": "k", "files": [write_file(1)]},
    )
    for v in range(2, n_versions + 1):
        sn._commit(
            path, v,
            {"version": v, "op": "merge", "key_col": "k", "files": [write_file(v)]},
        )


def test_scd2_cold_rebuild_bounded_at_100_versions(spark, tmp_path):
    """Round-9 verdict #2: the cold rebuild folds every K transitions
    through a lazy localCheckpoint, so assembling 100 retained versions
    stays bounded (no O(versions) giant-plan Catalyst analysis). Wall
    bound pins the fix; sampled invariants pin correctness."""
    import time

    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    n_versions = 100
    _craft_version_chain(path, n_versions)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        t0 = time.monotonic()
        hist = sn.scd2_history(spark, path)
        rows = hist.collect()
        wall = time.monotonic() - t0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # Host-weather-scaled bound (the bench calibration probe, round-13
    # lesson: the same tree measured 55-95 s across idle runs of this
    # host, a fixed 60 s bound flakes): 60 s is the budget at the probe's
    # 0.55 s reference reading (the round-13 recorded calibration); a
    # slower host gets proportionally more. The broken regime this pins
    # (round-9's O(versions) giant-plan analysis) measured 88 s at the
    # SAME reference speed, so the scaled bound keeps the separation.
    from bench import bench_calibration

    scale = max(1.0, bench_calibration(spark) / 0.55)
    assert wall < 60 * scale, (
        f"100-version cold rebuild took {wall:.1f}s "
        f"(bound {60 * scale:.0f}s at probe scale {scale:.2f})"
    )
    by_key = {}
    for r in rows:
        by_key.setdefault(r.k, []).append((r.valid_from, r.valid_to))
    # k=1 changed every version: a closed interval per transition
    assert sorted(by_key[1]) == [
        (v, v + 1 if v < n_versions else None) for v in range(1, n_versions + 1)
    ]
    assert by_key[2] == [(1, None)] and by_key[3] == [(1, None)]
    # the master invariant at sampled versions
    for v in (1, 2, 50, 99, 100):
        at_v = hist.filter(
            (F.col("valid_from") <= v)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > v))
        ).select("k", "v")
        assert _rows(at_v) == _rows(sn.read_table(spark, path, version=v)), v


def test_vacuum_reclaims_optimize_crash_debris_after_retention(spark, tmp_path):
    """Round-9 verdict #7: a writer crash between _move_staged_in and
    _commit leaves referenced-by-nobody v{N}- files. A pre-retention
    vacuum must SPARE them (they are indistinguishable from an in-flight
    writer's files); a post-retention vacuum must reclaim them."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=400, parts=8), path, "k")
    # an optimize-initiated writer that crashes right before _commit:
    # stage the compaction output and move it in, but never commit
    base = sn._read_entry(path, 1)
    victims = sorted(os.path.join(path, e["name"]) for e in base["files"])[:4]
    staging = os.path.join(path, "_snap_staging-crashed")
    spark.read.parquet(*victims).coalesce(1).write.mode("overwrite").parquet(staging)
    debris = sn._move_staged_in(path, staging, version=2)
    assert debris and all(os.path.exists(f) for f in debris)

    # pre-retention: the files are fresh — vacuum must treat them as a
    # possibly in-flight writer and spare every one
    rep = sn.vacuum(path, keep_last=1, retention_seconds=3600)
    assert rep["data_files_removed"] == 0
    assert all(os.path.exists(f) for f in debris)
    # the committed snapshot is intact either way
    assert sn.read_table(spark, path, version=1).count() == 400

    # post-retention (age the debris out): reclaimed, snapshot untouched
    old = 10_000
    for f in debris:
        os.utime(f, (os.path.getatime(f) - old, os.path.getmtime(f) - old))
    rep = sn.vacuum(path, keep_last=1, retention_seconds=3600)
    assert rep["data_files_removed"] == len(debris)
    assert not any(os.path.exists(f) for f in debris)
    assert sn.read_table(spark, path, version=1).count() == 400


def test_budget_rejects_negative(spark):
    import pytest as _pytest

    from hadoop_prototype_spark.operators import sampling

    df = spark.createDataFrame([(1, "x", "s")], "doc_id bigint, text string, source string")
    with _pytest.raises(ValueError, match="budgets must be >= 0"):
        sampling.budget_select(df, {"s": -1})


def test_scd2_extend_equals_full_rebuild(spark, tmp_path):
    """Incremental maintenance: extending a history built to version k
    with the remaining transitions equals the from-scratch build, for
    every split point — so a persisted dimension never needs v1 again."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=100, parts=2), path, "k")
    sn.merge_into(
        spark, path,
        spark.createDataFrame([(5, -1), (500, -2)], "k bigint, v bigint"), "k",
    )
    sn.merge_into(
        spark, path,
        spark.createDataFrame([(5, -10)], "k bigint, v bigint"), "k",
    )
    sn.delete_from(spark, path, spark.createDataFrame([(500,)], "k bigint"), "k")

    full = sorted(map(tuple, sn.scd2_history(spark, path).collect()))
    for k in range(1, sn.current_version(path) + 1):
        partial = sn.scd2_history(spark, path, to_version=k)
        extended = sn.scd2_extend(spark, partial, path, from_version=k)
        assert sorted(map(tuple, extended.collect())) == full, f"split at {k}"


def test_vacuum_mid_delta_chain_rewrites_cutoff_checkpoint(spark, tmp_path):
    """The round-10 regression, pinned: vacuum whose cutoff lands MID
    delta-chain (not on the _CHECKPOINT_EVERY cadence) must rewrite the
    cutoff entry as a full checkpoint before dropping older entries —
    otherwise every retained version's reconstruction walks back into a
    deleted base and read_table raises on the CURRENT version."""
    import json

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=60, parts=2), path, "k")
    recorded = {1: _rows(sn.read_table(spark, path))}
    # 6 one-row merges: versions 2..7, all deltas (cadence is 16)
    for i in range(6):
        v = sn.merge_into(
            spark, path,
            spark.createDataFrame([(2000 + i, -i)], "k bigint, v bigint"), "k",
        )["version"]
        recorded[v] = _rows(sn.read_table(spark, path))
    latest = sn.current_version(path)
    cutoff = latest - 3 + 1  # keep_last=3 → cutoff=5, a delta entry
    assert "files" not in sn._read_raw(path, cutoff)  # precondition

    rep = sn.vacuum(path, keep_last=3, retention_seconds=0)
    assert rep["log_entries_removed"] == cutoff - 1

    # the cutoff entry is now a full checkpoint on disk
    raw = sn._read_raw(path, cutoff)
    assert "files" in raw and raw["version"] == cutoff
    # current AND every retained version read back exactly
    for v in range(cutoff, latest + 1):
        assert _rows(sn.read_table(spark, path, version=v)) == recorded[v]
    assert _rows(sn.read_table(spark, path)) == recorded[latest]
    # history folds from the rewritten checkpoint, correct row counts
    hist = sn.history(path)
    assert [h["version"] for h in hist] == list(range(cutoff, latest + 1))
    assert [h["n_rows"] for h in hist] == [len(recorded[v]) for v in range(cutoff, latest + 1)]
    # table_changes across the retained window still classifies correctly
    ch = sn.table_changes(spark, path, cutoff, latest)
    inserts = sorted(r.k for r in ch.filter("_change = 'insert'").collect())
    assert inserts == [2000 + i for i in range(cutoff - 1, latest - 1)]


def test_history_raises_on_headless_delta_log(spark, tmp_path):
    """A log whose oldest retained entry is a delta (the pre-fix vacuum
    debris state) must fail loudly from history(), not silently report
    row counts folded onto an empty table."""
    import os as _os

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=20, parts=1), path, "k")
    sn.merge_into(
        spark, path, spark.createDataFrame([(999, -1)], "k bigint, v bigint"), "k"
    )
    _os.remove(sn._entry_path(path, 1))  # simulate the broken vacuum
    with pytest.raises(ValueError, match="no base checkpoint"):
        sn.history(path)


def test_occ_first_writer_wins_at_checkpoint_version(spark, tmp_path):
    """Two writers race for a version ON the checkpoint cadence: exactly
    one commit lands (os.link EEXIST), the winner's entry is the full
    checkpoint it wrote, and the loser's retry re-plans against it."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=10, parts=1), path, "k")
    entry = sn._read_entry(path, 1)
    # drive the log to version 15 with synthetic delta entries
    for v in range(2, 16):
        sn._commit(path, v, {"version": v, "op": "merge",
                             "key_col": "k", "added": [], "removed": []})
    win = dict(entry, version=16, op="winner")
    sn._commit(path, 16, win)  # v16 = checkpoint cadence
    with pytest.raises(sn.ConflictError):
        sn._commit(path, 16, dict(entry, version=16, op="loser"))
    assert sn._read_raw(path, 16)["op"] == "winner"
    assert "files" in sn._read_raw(path, 16)


def test_delta_log_commit_bytes_track_write_size_not_table(spark, tmp_path):
    """The delta-log cadence's claimed win, counter-pinned: a 1-row merge
    over a MANY-file table persists a changed-slice-sized delta entry —
    an order of magnitude smaller than the full checkpoint — and only
    every _CHECKPOINT_EVERY-th commit pays the O(table-files) entry."""
    import os as _os

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=2000, parts=32), path, "k")
    checkpoint_bytes = _os.path.getsize(sn._entry_path(path, 1))
    delta_sizes = []
    for i in range(3):
        r = sn.merge_into(
            spark, path,
            spark.createDataFrame([(5 + i, -i)], "k bigint, v bigint"), "k",
        )
        raw = sn._read_raw(path, r["version"])
        assert "files" not in raw  # delta persisted, not a full list
        assert len(raw["added"]) + len(raw["removed"]) <= 4  # changed slice
        delta_sizes.append(_os.path.getsize(sn._entry_path(path, r["version"])))
    # commit bytes track the write (1 row → ~1 file), never the 32 files
    assert max(delta_sizes) * 5 < checkpoint_bytes


def test_delta_log_adversarial_op_chain(spark, tmp_path):
    """Seeded random op chain over merge/delete/optimize/vacuum (vacuum at
    arbitrary points, keep_last varied): every retained version stays
    readable and equals its recorded rows, history() matches, and the
    final scd2-style invariant holds across checkpoint boundaries."""
    import random

    rng = random.Random(0xC15F)
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=40, parts=2), path, "k")
    recorded = {1: dict(_rows(sn.read_table(spark, path)))}

    def _df(pairs, schema="k bigint, v bigint"):
        return spark.createDataFrame(pairs, schema)

    for step in range(24):
        op = rng.choices(
            ["merge", "delete", "delete_mor", "optimize", "vacuum", "restore",
             "append"],
            weights=[5, 2, 3, 1, 2, 1, 2],
        )[0]
        if op == "merge":
            pairs = [(rng.randrange(0, 120), rng.randrange(-99, 0))
                     for _ in range(rng.randint(1, 3))]
            pairs = list({k: (k, v) for k, v in pairs}.values())  # key-unique
            r = sn.merge_into(spark, path, _df(pairs), "k")
            state = dict(recorded[max(recorded)])
            state.update(dict(pairs))
            recorded[r["version"]] = state
        elif op == "delete":
            keys = sorted({rng.randrange(0, 120) for _ in range(rng.randint(1, 3))})
            r = sn.delete_from(spark, path, _df([(k,) for k in keys], "k bigint"), "k")
            state = dict(recorded[max(recorded)])
            for k in keys:
                state.pop(k, None)
            recorded[r["version"]] = state  # no-op delete keeps same version
        elif op == "delete_mor":
            keys = sorted({rng.randrange(0, 120) for _ in range(rng.randint(1, 3))})
            r = sn.delete_from_mor(
                spark, path, _df([(k,) for k in keys], "k bigint"), "k"
            )
            state = dict(recorded[max(recorded)])
            for k in keys:
                state.pop(k, None)
            recorded[r["version"]] = state  # no-live-hit delete keeps version
        elif op == "optimize":
            r = sn.optimize(spark, path, purge_dv=rng.random() < 0.5)
            recorded[r["version"]] = dict(recorded[max(recorded)])
        elif op == "restore":
            target = rng.choice(sorted(recorded))
            r = sn.restore_table(path, target)
            recorded[r["version"]] = dict(recorded[target])
        elif op == "append":
            state = dict(recorded[max(recorded)])
            base_k = 1000 + step * 10  # keys never seen before (blind append)
            pairs = [(base_k + j, -step) for j in range(rng.randint(1, 2))]
            r = sn.append_table(
                spark, path, _df(pairs), "k",
                txn={"app": "chain", "batch": step},
            )
            state.update(dict(pairs))
            recorded[r["version"]] = state
        else:
            keep = rng.randint(1, 4)
            sn.vacuum(path, keep_last=keep, retention_seconds=0)
            cutoff = max(1, max(recorded) - keep + 1)
            recorded = {v: s for v, s in recorded.items() if v >= cutoff}
            # every retained version readable and exact, right after vacuum
            for v, s in recorded.items():
                assert dict(_rows(sn.read_table(spark, path, version=v))) == s, (
                    f"step {step}: retained v{v} wrong after vacuum"
                )
            hist = sn.history(path)
            assert [h["version"] for h in hist] == sorted(recorded)
            assert [h["n_rows"] for h in hist] == [
                len(recorded[v]) for v in sorted(recorded)
            ]
        latest = max(recorded)
        assert sn.current_version(path) == latest
        assert dict(_rows(sn.read_table(spark, path))) == recorded[latest], (
            f"step {step} ({op}): current version diverged"
        )

    # scd2 over the retained window: at-v slice reproduces read_table(v)
    oldest = min(recorded)
    hist_df = sn.scd2_extend(
        spark,
        sn.read_table(spark, path, oldest)
        .withColumn("valid_from", F.lit(oldest).cast("long"))
        .withColumn("valid_to", F.lit(None).cast("long")),
        path,
        from_version=oldest,
    )
    rows = hist_df.collect()
    for v in sorted(recorded):
        at_v = {r.k: r.v for r in rows
                if r.valid_from <= v and (r.valid_to is None or v < r.valid_to)}
        assert at_v == recorded[v], f"scd2 slice at v{v} diverged"

    # CDC stream over the same retained window (reader-direct, the exact
    # partitions()/read() calls a trigger makes): the streamed feed is
    # the batch table_changes classification version by version — on
    # whatever op mix the chain produced, including post-vacuum offsets
    import json as _json

    from hadoop_prototype_spark.sources import snapshot_stream as ss

    latest = max(recorded)
    full = (
        sn.read_table(spark, path)
        .schema.add("_change", "string")
        .add("_commit_version", "long")
    )
    reader = ss.SnapshotStreamReader(
        path, _json.dumps(full.jsonValue()), {"readchangefeed": "true"}
    )
    streamed = []
    for p in reader.partitions({"version": oldest}, {"version": latest}):
        for b in reader.read(p):
            streamed += [
                (r["k"], r["v"], r["_change"], r["_commit_version"])
                for r in b.to_pylist()
            ]
    expected = []
    for v in range(oldest + 1, latest + 1):
        expected += [
            (r["k"], r["v"], r["_change"], v)
            for r in sn.table_changes(spark, path, v - 1, v).collect()
        ]
    assert sorted(streamed) == sorted(expected), "CDC stream ≠ batch CDC"


def test_append_table_is_blind_and_versioned(spark, tmp_path):
    """append_table: new version carries every base file forward untouched
    (files_rewritten 0 — no existing data read), rows accumulate, op
    recorded, and the txn marker is findable and survives the vacuum
    cutoff-checkpoint rewrite."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=100, parts=2), path, "k")
    base_names = {e["name"] for e in sn._read_entry(path, 1)["files"]}
    rep = sn.append_table(
        spark, path,
        spark.createDataFrame([(1000, -1), (1001, -2)], "k bigint, v bigint"),
        "k", txn={"app": "t", "batch": 0},
    )
    assert rep["version"] == 2 and rep["files_rewritten"] == 0
    assert rep["rows_after"] == 102
    e2 = sn._read_entry(path, 2)
    assert base_names <= {e["name"] for e in e2["files"]}  # carried forward
    assert sn.history(path)[-1]["op"] == "append"
    assert sn.find_txn(path, "t", 0) == 2
    assert sn.find_txn(path, "t", 1) is None

    # a replayed append with the same txn SKIPS (no new version, same rows)
    rep2 = sn.append_table_retrying(
        spark, path,
        spark.createDataFrame([(1000, -1), (1001, -2)], "k bigint, v bigint"),
        "k", txn={"app": "t", "batch": 0},
    )
    assert rep2.get("skipped_as_duplicate_txn") and rep2["version"] == 2
    assert sn.current_version(path) == 2
    assert sn.read_table(spark, path).count() == 102

    # txn marker survives vacuum's checkpoint rewrite at the cutoff
    sn.append_table(spark, path, spark.createDataFrame([(1002, -3)], "k bigint, v bigint"),
                    "k", txn={"app": "t", "batch": 1})
    sn.vacuum(path, keep_last=2, retention_seconds=0)  # cutoff = v2 (a delta)
    assert "files" in sn._read_raw(path, 2)  # rewritten as checkpoint
    assert sn.find_txn(path, "t", 0) == 2  # marker preserved
    assert sn.find_txn(path, "t", 1) == 3


def test_restore_rolls_back_without_erasing_history(spark, tmp_path):
    """RESTORE: a new version re-referencing an old version's exact file
    list — zero data IO, intermediate versions untouched, CDC across the
    restore shows the rollback as deletes/preimages of the undone rows,
    and a vacuumed-away target fails loudly at restore time."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=100, parts=2), path, "k")
    v1_rows = _rows(sn.read_table(spark, path))
    sn.merge_into(
        spark, path,
        spark.createDataFrame([(5, -1), (500, -2)], "k bigint, v bigint"), "k",
    )
    sn.delete_from(spark, path, spark.createDataFrame([(7,)], "k bigint"), "k")

    rep = sn.restore_table(path, 1)
    assert rep["version"] == 4 and rep["restored_to"] == 1
    assert _rows(sn.read_table(spark, path)) == v1_rows  # rolled back
    # history intact: v2/v3 still readable (no data was touched)
    assert dict(_rows(sn.read_table(spark, path, version=2)))[500] == -2
    assert sn.history(path)[-1]["op"] == "restore"
    # CDC v3→v4: the upsert rows retract, the deleted row reappears
    ch = {(r.k, r._change) for r in sn.table_changes(spark, path, 3, 4).collect()}
    assert (500, "delete") in ch and (7, "insert") in ch
    assert (5, "update_postimage") in ch  # 5 back to its v1 value

    # restore still works after the files' era is behind the vacuum
    # cutoff, BECAUSE v4 re-references them (keep_files covers them)
    sn.vacuum(path, keep_last=1, retention_seconds=0)
    assert _rows(sn.read_table(spark, path)) == v1_rows

    # a vacuumed-away target raises at restore time, not at read time
    sn.merge_into(
        spark, path,
        spark.createDataFrame([(600, -3)], "k bigint, v bigint"), "k",
    )
    with pytest.raises(FileNotFoundError):
        sn.restore_table(path, 2)


def test_concurrent_appends_with_txn_twins_never_double_apply(spark, tmp_path):
    """The at-least-once multi-writer contract for append: 4 distinct
    batches, each raced by TWO twin threads carrying the same txn marker
    (the replayed-attempt shape). Exactly one twin per batch commits,
    versions advance by exactly 4, and every batch's rows land exactly
    once."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=100, parts=2), path, "k")

    def write(job: int) -> dict:
        batch = job // 2  # two twins per batch
        rows = spark.createDataFrame(
            [(10_000 + batch * 10 + j, batch) for j in range(3)],
            "k bigint, v bigint",
        )
        return sn.append_table_retrying(
            spark, path, rows, "k",
            txn={"app": "ing", "batch": batch}, max_retries=20,
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(write, range(8)))

    assert sn.current_version(path) == 1 + 4  # one commit per batch
    skipped = [r for r in results if r.get("skipped_as_duplicate_txn")]
    committed = [r for r in results if not r.get("skipped_as_duplicate_txn")]
    # NOTE: both twins can commit-race each other before either marker is
    # visible ONLY through the version lock — the loser re-reads, finds the
    # marker, and skips; so exactly 4 commits and >= 1 skip per batch pair
    assert len(committed) == 4 and len(skipped) == 4
    final = dict(_rows(sn.read_table(spark, path)))
    assert len(final) == 100 + 12  # 4 batches x 3 rows, each exactly once
    for b in range(4):
        assert sn.find_txn(path, "ing", b) is not None


def test_add_columns_schema_evolution(spark, tmp_path):
    """ADD COLUMNS as a log-only commit: the widened schema is pinned in
    the log (never inferred from whichever footer Spark samples), old
    files read NULL for new columns, time travel sees each version's own
    schema, rewrites/compaction mix eras cleanly, CDC aligns both sides
    under the wide schema, and restore rolls the schema back with the
    data."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=100, parts=2), path, "k")

    rep = sn.add_columns(spark, path, [("tag", "string"), ("w", "double")])
    assert rep["version"] == 2 and rep["columns_added"] == ["tag", "w"]
    df = sn.read_table(spark, path)
    assert df.columns == ["k", "v", "tag", "w"]
    assert df.count() == 100 and df.filter("tag IS NOT NULL").count() == 0
    # time travel: v1 still reads its own (narrow) schema
    assert sn.read_table(spark, path, version=1).columns == ["k", "v"]
    with pytest.raises(ValueError, match="already exists"):
        sn.add_columns(spark, path, [("tag", "int")])

    # a rewrite fills values for the touched slice; untouched old files
    # keep reading NULL under the pinned schema
    upd = spark.createDataFrame(
        [(5, -5, "x", 1.5), (7, -7, "y", 2.5)],
        "k bigint, v bigint, tag string, w double",
    )
    sn.merge_into(spark, path, upd, "k")
    cur = {r.k: (r.v, r.tag, r.w) for r in sn.read_table(spark, path).collect()}
    assert cur[5] == (-5, "x", 1.5) and cur[7] == (-7, "y", 2.5)
    assert cur[0] == (0, None, None)

    # CDC across the rewrite reads BOTH sides under the wide schema
    ch = {(r.k, r._change): r.tag
          for r in sn.table_changes(spark, path, 2, 3).collect()}
    assert ch[(5, "update_postimage")] == "x"
    assert ch[(5, "update_preimage")] is None

    # compaction mixes pre- and post-evolution files without drama
    rep = sn.optimize(spark, path, target_file_rows=10**6, small_file_rows=10**6)
    assert rep["files_rewritten"] >= 2
    assert {r.k: (r.v, r.tag, r.w) for r in sn.read_table(spark, path).collect()} == cur

    # scd2 under the final schema: at-v slices reproduce each version
    hist = sn.scd2_history(spark, path).collect()
    for v in (1, 3):
        at_v = {r.k: r.v for r in hist
                if r.valid_from <= v and (r.valid_to is None or v < r.valid_to)}
        assert at_v == {r.k: r.v for r in sn.read_table(spark, path, v).collect()}

    # vacuum's cutoff-checkpoint rewrite preserves the pinned schema
    sn.vacuum(path, keep_last=2, retention_seconds=0)
    assert sn.read_table(spark, path).columns == ["k", "v", "tag", "w"]

    # restore to the pre-evolution version rolls the schema back
    sn.restore_table(path, 3)  # (v3 is retained; restore keeps wide)
    assert sn.read_table(spark, path).columns == ["k", "v", "tag", "w"]


def test_restore_to_pre_evolution_version_rolls_back_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=20, parts=1), path, "k")
    sn.add_columns(spark, path, [("tag", "string")])
    assert sn.read_table(spark, path).columns == ["k", "v", "tag"]
    sn.restore_table(path, 1)
    assert sn.read_table(spark, path).columns == ["k", "v"]  # narrow again
    # a later re-evolution starts a fresh pinned schema
    sn.add_columns(spark, path, [("tag2", "int")])
    assert sn.read_table(spark, path).columns == ["k", "v", "tag2"]


def test_timestamp_time_travel(spark, tmp_path):
    """AS-OF-time reads: commit wall times ride in the log entries, a
    timestamp resolves to the newest version committed at or before it,
    pre-history timestamps raise, and vacuum's cutoff rewrite preserves
    the original commit time."""
    import time

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=30, parts=1), path, "k")
    t_after_v1 = time.time()
    time.sleep(0.05)
    sn.merge_into(
        spark, path, spark.createDataFrame([(500, -1)], "k bigint, v bigint"), "k"
    )
    time.sleep(0.05)
    sn.merge_into(
        spark, path, spark.createDataFrame([(501, -2)], "k bigint, v bigint"), "k"
    )

    assert sn.version_at_timestamp(path, t_after_v1) == 1
    assert sn.version_at_timestamp(path, time.time()) == 3
    assert sn.read_table(spark, path, timestamp=t_after_v1).count() == 30
    assert sn.read_table(spark, path, timestamp=time.time()).count() == 32
    with pytest.raises(ValueError, match="at or before"):
        sn.version_at_timestamp(path, t_after_v1 - 10_000)
    with pytest.raises(ValueError, match="not both"):
        sn.read_table(spark, path, version=1, timestamp=t_after_v1)

    # vacuum rewrites the cutoff as a checkpoint but keeps its commit ts:
    # the as-of resolution for a time inside the retained window is stable
    t_mid = time.time()
    time.sleep(0.05)
    sn.merge_into(
        spark, path, spark.createDataFrame([(502, -3)], "k bigint, v bigint"), "k"
    )
    sn.vacuum(path, keep_last=2, retention_seconds=0)  # cutoff = v3 (delta)
    assert sn.version_at_timestamp(path, t_mid) == 3


def test_read_table_pruned_skips_files_by_log_stats(spark, tmp_path):
    """Read-side log pruning: a selective key window must not even LIST
    non-overlapping files into the scan (checked via input_file_name),
    and the result equals the unpruned filter exactly."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=1000, parts=8), path, "k")
    pruned = sn.read_table_pruned(spark, path, 100, 140)
    got = _rows(pruned)
    want = _rows(sn.read_table(spark, path).filter("k BETWEEN 100 AND 140"))
    assert got == want and len(got) == 41
    touched = pruned.select(F.input_file_name()).distinct().count()
    assert touched < 8, touched  # only overlapping range files scanned
    # an empty window returns an empty frame with the table schema
    assert sn.read_table_pruned(spark, path, 10_000, 20_000).count() == 0


def test_delete_from_mor_writes_vectors_not_files(spark, tmp_path):
    """Merge-on-read DELETE: zero data files rewritten (every base file
    carried forward byte-identical), the vector sidecar is tiny, exact
    live-row accounting everywhere, time travel intact, and a re-delete
    of already-suppressed keys is a metadata no-op (no version bump)."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    data_before = {
        f: os.path.getmtime(f) for f in glob.glob(os.path.join(path, "*.parquet"))
    }
    keys = spark.createDataFrame([(5,), (250,), (999,)], "k bigint")
    r = sn.delete_from_mor(spark, path, keys, "k")
    assert r["version"] == 2 and r["files_rewritten"] == 0
    assert r["rows_deleted"] == 3 and r["rows_after"] == 997
    assert r["dv_files_added"] >= 1
    # the write-amplification pin: NOT ONE data file was added or touched
    data_after = {
        f: os.path.getmtime(f) for f in glob.glob(os.path.join(path, "*.parquet"))
    }
    assert data_after == data_before
    # vector is keys-sized: one row per suppressed (file, key) pair
    dv_files = glob.glob(os.path.join(path, "_dvs", "*.parquet"))
    assert spark.read.parquet(*dv_files).count() == 3
    # reads apply the vectors; time travel doesn't
    got = dict(_rows(sn.read_table(spark, path)))
    assert 5 not in got and 250 not in got and 999 not in got and len(got) == 997
    assert len(_rows(sn.read_table(spark, path, version=1))) == 1000
    # live rows in history and pruned reads
    assert [h["n_rows"] for h in sn.history(path)] == [1000, 997]
    pr = sorted(r.k for r in sn.read_table_pruned(spark, path, 240, 260).collect())
    assert 250 not in pr and 249 in pr and 251 in pr
    # re-delete: nothing live matches -> no commit, no new vector
    r2 = sn.delete_from_mor(spark, path, keys, "k")
    assert r2["version"] == 2 and r2["rows_deleted"] == 0
    assert glob.glob(os.path.join(path, "_dvs", "*.parquet")) == dv_files


def test_mor_delete_then_reinsert_and_materialize(spark, tmp_path):
    """A rewrite of a DV-carrying file MATERIALIZES its vectors: merging a
    previously-MoR-deleted key back re-inserts it (per-(file,key)
    suppression, not global key suppression), the rewritten entry carries
    no dv, and untouched files keep theirs."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    sn.delete_from_mor(
        spark, path, spark.createDataFrame([(5,), (900,)], "k bigint"), "k"
    )
    r = sn.merge_into(
        spark, path, spark.createDataFrame([(5, -5)], "k bigint, v bigint"), "k"
    )
    got = dict(_rows(sn.read_table(spark, path)))
    assert got[5] == -5 and 900 not in got and len(got) == 999
    entry = sn._read_entry(path, r["version"])
    rewritten = [fe for fe in entry["files"] if fe["name"].startswith("v3-")]
    assert rewritten and all(not fe.get("dv") for fe in rewritten)
    kept_dv = [fe for fe in entry["files"] if fe.get("dv")]
    assert kept_dv and all(fe["ndel"] == 1 for fe in kept_dv)  # the 900 file
    # CoW delete of the remaining suppressed file also materializes
    r2 = sn.delete_from(
        spark, path, spark.createDataFrame([(901,)], "k bigint"), "k"
    )
    entry2 = sn._read_entry(path, r2["version"])
    assert not any(fe.get("dv") for fe in entry2["files"])
    got2 = dict(_rows(sn.read_table(spark, path)))
    assert 900 not in got2 and 901 not in got2 and len(got2) == 998


def test_mor_cdc_scd2_and_optimize_purge(spark, tmp_path):
    """A DV-only transition surfaces in CDC as plain deletes (file
    identity diff), scd2's at-v slices stay exact through MoR commits,
    and optimize(purge_dv=True) rewrites every vector away."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    sn.delete_from_mor(
        spark, path, spark.createDataFrame([(7,), (400,)], "k bigint"), "k"
    )
    cdc = sorted((r.k, r._change) for r in sn.table_changes(spark, path, 1, 2).collect())
    assert cdc == [(7, "delete"), (400, "delete")]
    sn.merge_into(
        spark, path, spark.createDataFrame([(400, -4)], "k bigint, v bigint"), "k"
    )
    cdc2 = sorted((r.k, r._change) for r in sn.table_changes(spark, path, 2, 3).collect())
    assert cdc2 == [(400, "insert")]
    ro = sn.optimize(spark, path, purge_dv=True)
    entry = sn._read_entry(path, ro["version"])
    assert not any(fe.get("dv") for fe in entry["files"])
    assert sn._live_rows(entry["files"]) == 999
    hist = sn.scd2_history(spark, path).collect()
    for v in range(1, sn.current_version(path) + 1):
        at_v = sorted(
            (r.k, r.v)
            for r in hist
            if r.valid_from <= v and (r.valid_to is None or v < r.valid_to)
        )
        assert at_v == _rows(sn.read_table(spark, path, version=v)), f"v{v}"


def test_mor_vacuum_reference_counts_vectors(spark, tmp_path):
    """Vacuum keeps vector files referenced by ANY retained version and
    sweeps the rest; restore to a DV-carrying retained version works and
    a restore whose vector was vacuumed fails loudly."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    sn.delete_from_mor(spark, path, spark.createDataFrame([(3,)], "k bigint"), "k")
    dv_v2 = set(glob.glob(os.path.join(path, "_dvs", "*.parquet")))
    sn.delete_from_mor(spark, path, spark.createDataFrame([(4,)], "k bigint"), "k")
    # keep v2 and v3: both vectors still referenced
    sn.vacuum(path, keep_last=2, retention_seconds=0)
    assert dv_v2 <= set(glob.glob(os.path.join(path, "_dvs", "*.parquet")))
    # restore to the still-retained DV version re-references its vectors
    r = sn.restore_table(path, 2)
    got = dict(_rows(sn.read_table(spark, path)))
    assert 3 not in got and 4 in got and len(got) == 999
    # purge + vacuum to 1: every vector unreferenced -> swept
    sn.optimize(spark, path, purge_dv=True)
    sn.vacuum(path, keep_last=1, retention_seconds=0)
    assert glob.glob(os.path.join(path, "_dvs", "*.parquet")) == []
    with pytest.raises(FileNotFoundError):
        sn.restore_table(path, 2)


def test_mor_txn_marker_skips_replay(spark, tmp_path):
    """delete_from_mor_retrying with a txn marker: the replayed twin finds
    the marker and skips instead of double-recording vectors."""
    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    keys = spark.createDataFrame([(11,), (12,)], "k bigint")
    r1 = sn.delete_from_mor_retrying(
        spark, path, keys, "k", txn={"app": "gdpr", "batch": 7}
    )
    assert r1["rows_deleted"] == 2
    r2 = sn.delete_from_mor_retrying(
        spark, path, keys, "k", txn={"app": "gdpr", "batch": 7}
    )
    assert r2.get("skipped_as_duplicate_txn") and r2["version"] == r1["version"]
    assert len(_rows(sn.read_table(spark, path))) == 998


def test_optimize_zorder_records_stats_and_prunes_both_columns(spark, tmp_path):
    """optimize(zorder_by=[a, b]): the rewrite is committed as a version,
    every clustered column's [min, max] lands in the log, and
    read_table_pruned file-skips on EITHER column (the multi-dimension
    layout a single-key sort cannot give) while staying exact — including
    for files written by a LATER non-Z-order commit (no stats:
    conservatively kept)."""
    path = str(tmp_path / "t")
    n = 4096
    df = spark.range(n).selectExpr(
        "id AS k",
        # a and b scramble k so a plain k-sort leaves both unclustered
        f"CAST((id * 2654435761) % {n} AS BIGINT) AS a",
        f"CAST((id * 40503) % {n} AS BIGINT) AS b",
    ).repartitionByRange(8, "k")
    sn.create_table(df, path, "k")
    # a pending MoR delete: the full rewrite must materialize it
    sn.delete_from_mor(spark, path, spark.createDataFrame([(9,)], "k bigint"), "k")

    r = sn.optimize(spark, path, target_file_rows=n // 8, zorder_by=["a", "b"])
    assert r["files_rewritten"] == 8
    entry = sn._read_entry(path, r["version"])
    assert not any(fe.get("dv") for fe in entry["files"])
    assert all(set(fe["stats"]) == {"a", "b"} for fe in entry["files"])
    total = len(entry["files"])
    assert total >= 4

    for c in ("a", "b"):
        lo, hi = 100, 100 + n // 16
        pruned = sn.read_table_pruned(spark, path, lo, hi, col=c)
        got = sorted(r.k for r in pruned.collect())
        want = sorted(
            r.k
            for r in sn.read_table(spark, path)
            .filter(f"{c} BETWEEN {lo} AND {hi}")
            .collect()
        )
        assert got == want and len(got) > 0
        touched = pruned.select(F.input_file_name()).distinct().count()
        assert touched < total, f"no pruning on {c}: {touched}/{total}"

    # later non-Z-order commit: its new file has no a/b stats -> kept
    # conservatively, results stay exact
    sn.merge_into(
        spark, path,
        spark.createDataFrame([(9, 7, 7)], "k bigint, a bigint, b bigint"),
        "k",
    )
    got = sorted(
        r.k for r in sn.read_table_pruned(spark, path, 0, 10, col="a").collect()
    )
    want = sorted(
        r.k for r in sn.read_table(spark, path).filter("a BETWEEN 0 AND 10").collect()
    )
    assert got == want and 9 in got


def test_vacuum_dry_run_reports_without_touching(spark, tmp_path):
    """dry_run=True predicts the real vacuum's counts exactly while
    leaving the table byte-identical: every version stays readable, the
    log keeps its delta entries unrewritten, and the follow-up REAL
    vacuum removes exactly what the dry run reported."""
    import glob as _glob

    path = str(tmp_path / "t")
    sn.create_table(_table(spark, n=200, parts=4), path, "k")
    for i in range(5):
        sn.merge_into(
            spark, path,
            spark.createDataFrame([(i, -i)], "k bigint, v bigint"), "k",
        )
    files_before = sorted(_glob.glob(f"{path}/*.parquet"))
    log_before = {
        p: os.path.getsize(p)
        for p in _glob.glob(f"{path}/_snapshots/*.json")
    }

    dry = sn.vacuum(path, keep_last=2, retention_seconds=0.0, dry_run=True)
    assert dry["dry_run"] is True
    assert dry["data_files_removed"] > 0 and dry["log_entries_removed"] > 0
    assert dry["examples"]
    # nothing moved: files, log entry set AND sizes (no checkpoint rewrite)
    assert sorted(_glob.glob(f"{path}/*.parquet")) == files_before
    assert {
        p: os.path.getsize(p)
        for p in _glob.glob(f"{path}/_snapshots/*.json")
    } == log_before
    for v in range(1, 7):
        assert sn.read_table(spark, path, version=v).count() >= 199

    real = sn.vacuum(path, keep_last=2, retention_seconds=0.0)
    assert real["data_files_removed"] == dry["data_files_removed"]
    assert real["log_entries_removed"] == dry["log_entries_removed"]


def test_overwrite_table_is_versioned(spark, tmp_path):
    """INSERT OVERWRITE semantics (snapshots.overwrite_table): the commit
    references only the new files, old versions stay readable until
    vacuum, CDC classifies the swap, and nothing existing is read."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    base = spark.range(40).selectExpr("id AS k", "id * 2 AS v")
    sn.create_table(base, path, "k")
    rep = sn.overwrite_table(
        spark, path, spark.range(5).selectExpr("id AS k", "id + 100 AS v"), "k"
    )
    assert rep["version"] == 2 and rep["rows_after"] == 5
    assert rep["files_removed"] >= 1

    assert len(sn.read_table(spark, path).collect()) == 5
    assert len(sn.read_table(spark, path, version=1).collect()) == 40

    ch = sn.table_changes(spark, path, 1, 2)
    kinds = {r["_change"] for r in ch.collect()}
    # keys 0..4 survive with new values (updates), 5..39 disappear
    dels = ch.filter(F.col("_change") == "delete").count()
    assert dels == 35 and "update_postimage" in kinds

    # vacuum reclaims v1's files; current read intact
    sn.vacuum(path, keep_last=1, retention_seconds=0.0)
    assert len(sn.read_table(spark, path).collect()) == 5
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        sn.read_table(spark, path, version=1).collect()


def test_mor_vectors_are_per_file_with_exact_footer_counts(spark, tmp_path):
    """The single-pass DV commit (r15 opt): each affected data file's dv
    list references sidecar file(s) holding ONLY that file's pairs (the
    per-file Delta DV shape — reading one file never opens another
    file's vectors), and the committed ndel equals the sidecars' actual
    row counts (they are derived from the write's parquet footers, with
    no read-back aggregation job to disagree with)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    sn.create_table(_table(spark), path, "k")
    # keys spread across several range-partitioned files
    keys = spark.createDataFrame([(5,), (130,), (260,), (510,), (905,)], "k bigint")
    r = sn.delete_from_mor(spark, path, keys, "k")
    assert r["rows_deleted"] == 5 and r["files_rewritten"] == 0
    entry = sn._read_entry(path, r["version"])
    carrying = [fe for fe in entry["files"] if fe.get("dv")]
    assert len(carrying) >= 2  # the keys really did span multiple files
    seen_dv: set[str] = set()
    for fe in carrying:
        rows = 0
        for d in fe["dv"]:
            # per-file shape: no sidecar is shared between data files
            assert d not in seen_dv
            seen_dv.add(d)
            p = os.path.join(path, "_dvs", d)
            t = pq.read_table(p)
            rows += t.num_rows
            # every pair inside the sidecar belongs to THIS data file
            assert set(t.column("_dv_file").to_pylist()) == {fe["name"]}
        assert rows == fe["ndel"]
