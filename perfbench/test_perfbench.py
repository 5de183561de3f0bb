"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke test starts one local Spark and runs every workload at a tiny
size; it takes about two minutes.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest

from perfbench import layers, measure, run, streams, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_seed_gives_same_inputs():
    assert streams.local_hot_set(7) == streams.local_hot_set(7)
    a, b = streams.local_passes(7, 48), streams.local_passes(7, 48)
    assert [next(a) for _ in range(3)] == [next(b) for _ in range(3)]
    a, b = streams.write_batches(7, 300, 9), streams.write_batches(7, 300, 9)
    for x, y in zip(a, b):
        assert (x.kind, x.marker, x.expect_hits, x.live_delta) == (
            y.kind, y.marker, y.expect_hits, y.live_delta)
        pd.testing.assert_frame_equal(x.docs, y.docs)
    pd.testing.assert_frame_equal(streams.corpus(7, 50), streams.corpus(7, 50))
    # another seed gives other inputs
    assert streams.local_hot_set(8) != streams.local_hot_set(7)
    assert streams.corpus(8, 50)["path"].tolist() != streams.corpus(7, 50)["path"].tolist()


def test_streams_keep_their_mix():
    hot = streams.local_hot_set(3)
    assert len({t for _, t in hot}) == len(hot) == sum(c for _, c in streams.LOCAL_MIX)
    assert sorted(next(streams.local_passes(3, len(hot)))) == list(range(len(hot)))
    kinds = [b.kind for b in streams.write_batches(3, 300, 6)]
    assert kinds == list(streams.INGEST_PATTERN) * 2


def test_metric_names_and_contract():
    bench = _bench()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(measure.METRIC_NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["name"] for m in bench["per_layer"]] == [n for n, _ in layers.LAYER_METRICS]
    for m in bench["end_to_end"]:
        assert m["unit"] == run.E2E_UNITS[m["name"]]
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    for m in bench["per_layer"]:
        assert m["unit"] == dict(layers.LAYER_METRICS)[m["name"]]
    with pytest.raises(ValueError):
        measure.check_metric_names({"p50 ms": {}})


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 0.9) == 90  # 10 samples beyond
    with pytest.raises(ValueError):
        measure.percentile(xs, 0.95)  # only 5 beyond
    with pytest.raises(ValueError):
        measure.percentile(list(range(15)), 0.5)
    q, v = measure.tail(xs)
    assert (q, v) == (0.9, 90)
    assert measure.tail(list(range(12))) is None


@pytest.fixture(scope="module")
def spark_work():
    work = os.path.join(ROOT, ".perfbench_work", f"test-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = run.start_spark(work, measure.nproc(), traced=True)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, work
    run.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    assert measure.live_benchmark_jvms() == []  # the JVM has exited


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_smoke_run_has_no_errors(spark_work, name):
    spark, work = spark_work
    wdir = os.path.join(work, name)
    os.makedirs(wdir)
    r = run.run_workload(spark, name, seed=5, seconds=0, trace=True, work=wdir,
                         n_files=300, setup_reps=1, oracle_sample=2)
    assert r.failed == 0, r.problems
    assert r.attempted > 0
    line = run.result_line(r, trace=True)
    assert set(line["metrics"]) == {n for n, _ in layers.LAYER_METRICS}
    e2e = run.result_line(r, trace=False)["metrics"]
    assert all(m["value"] > 0 for m in e2e.values()), e2e
    if name == "query-local":
        assert r.layer["spark.jobs_per_op"] == 0
    else:
        assert r.layer["spark.jobs_per_op"] > 0
    assert {"search.searcher", "index.builder"} <= {s["name"] for s in r.tracer.spans}
