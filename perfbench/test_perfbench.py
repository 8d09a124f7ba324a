"""Tests of the benchmark's own machinery, at sf0.001 on generated tables.

    python -m pytest perfbench/ -q -p no:cacheprovider

Run from the repository root.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import probes  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory) -> str:
    return datagen.ensure(str(tmp_path_factory.mktemp("perfbench-data")), 0.001)


@pytest.fixture(scope="module")
def spark():
    from mapreducecf_spark import get_spark

    s = get_spark(app_name="perfbench-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def traced(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    """Per-layer numbers of one traced pass over ``names``."""
    from mapreducecf_spark import registry

    tracer = probes.Tracer()
    tracer.install(spark)
    try:
        reader = probes.StatusReader(spark)
        rows = worker.run_loop(spark, names, sf_dir, registry.QUERIES, tracer, reader)
    finally:
        probes.deactivate()
    assert all("error" not in r for r in rows), rows
    return probes.layer_metrics(tracer.spans, spark.sparkContext.defaultParallelism)


def test_parse_metric_reads_the_total():
    assert probes.parse_metric("9.8 s (2.4 s, 2.4 s, 2.5 s (stage 2.0: task 5))") == 9.8
    assert probes.parse_metric(
        "total (min, med, max (stageId: taskId))\n2 ms (0 ms, 1 ms, 1 ms (stage 7.0: task 11))"
    ) == pytest.approx(0.002)
    assert probes.parse_metric("3.5 KiB") == 3.5 * 1024
    assert probes.parse_metric("15,968") == 15968
    with pytest.raises(ValueError):
        probes.parse_metric("n/a")


def test_union_length_counts_overlaps_once():
    assert probes.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert probes.union_length(probes.clip([(0, 2), (1, 3), (5, 6)], 1.5, 5.5)) == 2


def test_seed_only_permutes_the_workload():
    for name, queries in workloads.WORKLOADS.items():
        assert workloads.order(name, 7) == workloads.order(name, 7)
        assert workloads.order(name, 7)[0] == queries[0]
        assert sorted(workloads.order(name, 7)) == sorted(queries)


def test_every_workload_query_has_an_oracle():
    from mapreducecf_spark import registry

    oracles = registry.oracles()
    for queries in workloads.WORKLOADS.values():
        assert queries
        assert all(q in registry.QUERIES and q in oracles for q in queries)


def test_tables_depend_only_on_scale():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000


def test_wordcount_records_a_shuffle(spark, sf_dir):
    layers = traced(spark, sf_dir, ["wordcount"])
    assert layers["spark.jobs"] >= 1
    assert layers["spark.shuffle_write_mb"] > 0
    assert layers["streaming.batches"] == 0
    assert layers["memo.calls"] == 0


def test_replay_records_its_stream_batches(spark, sf_dir):
    """Micro-batch jobs run on the stream execution thread, where no job
    group the loop sets reaches them; the time window still does."""
    layers = traced(spark, sf_dir, ["stream_attribution_join"])
    assert layers["streaming.batches"] >= 1
    assert layers["spark.jobs"] >= layers["streaming.batches"]
    assert layers["streaming.trigger_s"] > 0


def test_bpe_training_counts_its_checkpoints(spark, sf_dir):
    assert traced(spark, sf_dir, ["text_bpe_train"])["checkpoint.calls"] > 0


def test_similarity_rows_reach_the_memo_and_python_workers(spark, sf_dir):
    layers = traced(spark, sf_dir, ["sim_knn_graph", "sim_knn_vectorized"])
    assert layers["memo.calls"] >= 1
    assert layers["python.sent_mb"] > 0
    assert layers["streaming.batches"] == 0
