"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The fast tests need no Spark session. The smoke tests run workloads at
sf0.001 (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_inputs_follow_the_seed(tmp_path):
    a = datagen.make_tables(5, 0.001)
    b = datagen.make_tables(5, 0.001)
    c = datagen.make_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].schema.equals(c["lineitem"].schema)
    sizes = datagen.write_tables(str(tmp_path), 5, 0.001)
    assert sorted(sizes) == sorted(datagen.table_rows(0.001))


def test_oracle_rejects_a_corrupted_result(tmp_path):
    import hadoop_prototype_spark.plans  # noqa: F401

    sf_dir = str(tmp_path)
    datagen.write_tables(sf_dir, 3, 0.001)
    oracle = workloads.Oracle(sf_dir, ["q1_pricing_summary"])
    cols, rows = oracle.expected["q1_pricing_summary"]
    good = pa.Table.from_pylist([dict(zip(cols, _plain(r))) for r in rows])
    assert oracle.compare("q1_pricing_summary", good) == []
    assert oracle.compare("q1_pricing_summary", good.slice(1))
    bad = good.set_column(
        cols.index("count_order"),
        "count_order",
        pa.compute.add(good.column("count_order"), 1),
    )
    assert oracle.compare("q1_pricing_summary", bad)


def _plain(row):
    """Undo the parity normalization's type tags."""
    return [v[1] if isinstance(v, tuple) and len(v) == 2 else v for v in row]


def test_every_metric_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in bench["workloads"]] == workloads.WORKLOADS


@pytest.fixture
def corrupted_wordcount():
    """ex_wordcount returning a wrong result: a seventh of its words dropped."""
    import hadoop_prototype_spark.plans  # noqa: F401
    from hadoop_prototype_spark.plans.registry import REGISTRY
    from pyspark.sql import functions as F

    q = REGISTRY["ex_wordcount"]
    orig = q.spark_fn

    def wrong(spark, sf_dir):
        df = orig(spark, sf_dir)
        return df.filter(F.crc32(F.col(df.columns[0]).cast("string")) % 7 != 0)

    q.spark_fn = wrong
    yield
    q.spark_fn = orig


def test_corrupted_result_raises_failed_share(corrupted_wordcount):
    rep = run.run_workload(
        "batch_jobs", 2, 0.0, True, run.SMOKE_SF, 1, 1, "test-corrupted"
    )
    assert rep["failed"] == 2  # the one corrupted query, in the timed and the traced pass
    share = rep["workload_metrics"]["failed_share"]["value"]
    assert share == pytest.approx(2 / rep["attempted"])
    assert all("ex_wordcount" in e for e in rep["errors"])
    assert rep["per_layer"]["failed_share"]["value"] > 0


def test_smoke_prints_every_metric():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    reports = [json.loads(ln)["report"] for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert [r["workload"] for r in reports] == workloads.WORKLOADS
    layer_units = run.per_layer_units()
    for r in reports:
        assert r["failed"] == 0, r["errors"]
        assert {k: v["unit"] for k, v in r["end_to_end"].items()} == run.END_TO_END
        assert {k: v["unit"] for k, v in r["per_layer"].items()} == layer_units
    tw = reports[-1]
    assert tw["per_layer"]["snapshots.versions"]["value"] > 1
    assert tw["workload_metrics"]["write_amp"]["value"] > 1
    assert tw["workload_metrics"]["space_amp"]["value"] >= 1
