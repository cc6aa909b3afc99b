"""Tests for the benchmark's own code.  Run from the repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import types

import pytest

from perfbench import inputs
from perfbench.eventlog import peak_cached_bytes, read_groups
from perfbench.runner import Run, call_tail, tail_percentile
from perfbench.trace import Tracer, group_id, parse_group
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMALL = inputs.Sizes(events=300, symbols=3, docs=40, vecs=30, dup_share=0.2)


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 7, SMALL)
    b = inputs.generate(str(tmp_path / "b"), 7, SMALL)
    assert a == b
    assert _bytes(str(tmp_path / "a")) == _bytes(str(tmp_path / "b"))


def test_generator_seeds_differ(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 7, SMALL)
    b = inputs.generate(str(tmp_path / "b"), 8, SMALL)
    assert a["digest"] != b["digest"]
    assert a["rows"] == b["rows"] == {"events": 300, "documents": 40, "embeddings": 30}
    fa, fb = _bytes(str(tmp_path / "a")), _bytes(str(tmp_path / "b"))
    for table in ("events.parquet", "documents.parquet", "embeddings.parquet"):
        assert fa[table] != fb[table]


def test_generator_duplicate_share(tmp_path):
    import pyarrow.parquet as pq

    inputs.generate(str(tmp_path), 3, SMALL)
    texts = pq.read_table(str(tmp_path / "documents.parquet")).column("text").to_pylist()
    # 20% verbatim copies, plus the seed's near-duplicates
    assert len(texts) - len(set(texts)) >= round(0.2 * len(texts))


def test_tail_percentile():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(1000) == 99


def test_call_tail_falls_back_to_slowest_entry_median():
    assert call_tail({"a": [1.0, 2.0, 9.0], "b": [4.0, 5.0]}) == (4.5, None)
    many = {"a": [float(i) for i in range(1, 41)]}
    assert call_tail(many) == (pytest.approx(30.25), 75)


@pytest.fixture(scope="module")
def spark_with_log(tmp_path_factory):
    from rangebar_patterns_spark.session import get_spark

    log = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(
        "perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        },
    )
    yield spark, log
    spark.stop()


def test_eventlog_attributes_two_job_groups(spark_with_log):
    spark, log = spark_with_log
    tracer = Tracer(spark.sparkContext, "t")
    tracer.begin_pass(0)
    with tracer.span("layer.a"):
        spark.range(100, numPartitions=2).count()
    with tracer.span("layer.b"):
        spark.range(100, numPartitions=3).collect()
        # a nested span of the same layer keeps the group
        with tracer.span("layer.b"):
            spark.range(10, numPartitions=1).collect()
    tracer.end_pass()
    cached = spark.range(5000, numPartitions=2).persist()
    cached.count()  # outside any span
    cached.unpersist(blocking=True)
    spark.stop()
    (app,) = os.listdir(log)
    groups = read_groups(os.path.join(log, app))
    a, b = groups[group_id(0, "layer.a")], groups[group_id(0, "layer.b")]
    assert (a.jobs, b.jobs) == (2, 2)  # count() runs a partial and a final job
    assert a.tasks == 3  # 2 partial-count tasks + 1 final
    assert b.tasks == 4
    assert a.task_s >= 0 and b.task_s >= 0
    assert None in groups and parse_group(None) is None
    assert parse_group(group_id(3, "x.y")) == (3, "x.y")
    assert peak_cached_bytes(os.path.join(log, app)) > 0
    selfs = tracer.self_times()
    inner = [s for s in tracer.spans if s["parent"] is not None]
    assert len(inner) == 1
    total_b = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None and s["name"] == "layer.b")
    assert selfs[(0, "layer.b")] == pytest.approx(total_b)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_names_are_valid():
    bench = _benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def _fake_run(workload: str, tmp_path) -> Run:
    run = Run(types.SimpleNamespace(workload=workload, seed=1, trace=1), 0.0)
    run.work = str(tmp_path)
    run.detail = {}
    run.bench_info = {"rows": {"events": 10, "documents": 10, "embeddings": 10}}
    return run


def test_emitted_metric_names_match_benchmark(tmp_path):
    bench = _benchmark()
    passes = [
        {
            "wall": 2.0,
            "cpu": 3.0,
            "calls": {
                e: {"wall": 0.5, "digest": {"rows": 4, "hash": 1, "n_signals": 1, "n_candidates": 2}}
                for e in WORKLOADS[w].entries
            },
        }
        for w in WORKLOADS
    ]
    log = tmp_path / "eventlog"
    log.mkdir()
    (log / "app").write_text(
        json.dumps(
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
             "Properties": {"spark.jobGroup.id": group_id(0, "operators.sweep.funnel")}}
        )
        + "\n"
    )
    for w in WORKLOADS:
        run = _fake_run(w, tmp_path)
        e2e = run.end_to_end(passes[:1], 1.0, 2**20)
        assert sorted(e2e) == sorted(m["name"] for m in bench["end_to_end"])
        tracer = Tracer(None, "t")
        tracer.spans = [{"id": 1, "name": "operators.windows", "parent": None, "pass": 0, "start": 0.0, "end": 1.0}]
        per_layer = run.per_layer(tracer, str(log), passes[:1], passes[:1], {
            "operators.barriers.trades": (0.0, "count"),
            "operators.dedup.candidate_pairs": (0.0, "count"),
            "operators.dedup.pair_yield": (0.0, "ratio"),
        }, 1.0, 0.0)
        assert sorted(per_layer) == sorted(m["name"] for m in bench["per_layer"])
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        for name, (_, unit) in {**e2e, **per_layer}.items():
            assert NAME.fullmatch(name)
            assert units[name] == unit
