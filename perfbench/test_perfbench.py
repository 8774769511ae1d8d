"""Tests of the benchmark's own code: generators, checks, span math.

    python3 -m pytest perfbench -q

The ground-truth test parses a tiny generated hour with the engine
(skipped when pyspark is not importable); the rest is pure Python.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime

import pytest

import gen_corpus
import gen_logs
import layers
import run
import spans
import steal
import workloads

HOUR = datetime(2024, 1, 15, 7)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gen(tmp_path, seed, size=20_000, malformed=4, name="a"):
    path = tmp_path / name / gen_logs.hour_file_name(HOUR)
    path.parent.mkdir(exist_ok=True)
    truth = gen_logs.generate_hour(str(path), HOUR, size, seed=seed, malformed=malformed)
    return path, truth


def test_log_hour_is_deterministic_per_seed(tmp_path):
    a, ta = _gen(tmp_path, 7, name="a")
    b, tb = _gen(tmp_path, 7, name="b")
    c, _ = _gen(tmp_path, 8, name="c")
    assert a.read_bytes() == b.read_bytes() and ta == tb
    assert a.read_bytes() != c.read_bytes()


@pytest.mark.parametrize("size", [5_000, 20_000, 123_457, 300_000])
def test_log_hour_is_sized_to_the_byte(tmp_path, size):
    path, truth = _gen(tmp_path, 3, size=size, malformed=2)
    assert path.stat().st_size == size == truth["bytes"]


def test_log_hour_truth_matches_its_lines(tmp_path):
    """Recount the written file line by line, independently of the
    generator's bookkeeping."""
    path, truth = _gen(tmp_path, 11, malformed=5)
    lines = path.read_text().splitlines()
    bad = [x for x in lines if x.startswith("###")]
    heads = [x for x in lines if x[:4].isdigit()]
    conts = [x for x in lines if x.startswith("\t")]
    assert len(bad) == truth["malformed"] == 5
    assert len(heads) + len(bad) == truth["events"]
    assert len(heads) + len(bad) + len(conts) == len(lines) == truth["lines"]
    levels = {}
    for x in heads:
        lvl = x.split("]:", 1)[1].split(":", 1)[0]
        levels[lvl] = levels.get(lvl, 0) + 1
    assert {**levels, "MALFORMED": 5} == truth["levels"]
    # malformed lines never precede a continuation line nor each other
    for i, x in enumerate(lines[:-1]):
        if x.startswith("###"):
            assert lines[i + 1][:4].isdigit()
    assert sum(x.count(" connection authorized") for x in heads) == truth["connections"]


def test_merge_truths_sums_every_counter():
    t = gen_logs._empty_truth()
    t.update(events=3, bytes=10, levels={"LOG": 3})
    t["phases"]["parse"] = 2
    m = gen_logs.merge_truths([t, t])
    assert m["events"] == 6 and m["bytes"] == 20
    assert m["levels"] == {"LOG": 6} and m["phases"]["parse"] == 4


def test_corpus_is_deterministic_and_has_near_dup_families():
    a = gen_corpus.documents_table(5, 400)
    assert a.equals(gen_corpus.documents_table(5, 400))
    assert not a.equals(gen_corpus.documents_table(6, 400))
    e = gen_corpus.embeddings_table(5, 300)
    assert e.equals(gen_corpus.embeddings_table(5, 300))

    def shingles(t, k=16):
        t = t[:512]
        return {t[i:i + k] for i in range(max(len(t) - k + 1, 1))}

    sets = [shingles(t) for t in a.column("text").to_pylist()]
    near = sum(
        1
        for i in range(len(sets))
        for j in range(i + 1, len(sets))
        if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= 0.5
    )
    assert near >= 20


def test_cluster_oracle_is_min_label_closure():
    got = workloads.cluster_oracle([0, 1, 2, 3, 4, 5], [(3, 5), (1, 5), (2, 4)])
    assert [(r["doc_id"], r["component"], r["is_canonical"]) for r in got] == [
        (0, 0, 1), (1, 1, 1), (2, 2, 1), (3, 1, 0), (4, 2, 0), (5, 1, 0),
    ]


def test_same_rows_ignores_order_and_tolerates_float_noise():
    a = [{"x": 1, "y": 0.1 + 0.2}, {"x": 2, "y": 1.0}]
    b = [{"y": 1.0, "x": 2}, {"y": 0.3, "x": 1}]
    assert workloads.same_rows(a, b) is None
    assert workloads.same_rows(a, b[:1]) is not None
    assert workloads.same_rows(a, [{"x": 2, "y": 1.0}, {"x": 1, "y": 0.31}]) is not None


def test_self_times_add_up_to_the_root():
    s = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 5.0, "end": 9.0},
        {"id": 3, "name": "c", "parent": 2, "start": 6.0, "end": 7.0},
    ]
    st = spans.self_times(s)
    assert st == {0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0}
    assert sum(st.values()) == 10.0
    assert spans.descendants(s, 2) == {2, 3}


def test_attribute_charges_shared_stages_once():
    log = {
        "jobs": {
            0: {"group": "span-1", "sql": "0", "submit": 0, "end": 1000, "stages": [0, 1]},
            1: {"group": "span-2", "sql": "1", "submit": 2000, "end": 3000, "stages": [1, 2]},
        },
        "stages": {
            i: {**spans._zero_stage(), "completed": True, "tasks": 2, "run_ms": 100 * (i + 1)}
            for i in range(3)
        },
        "plans": {},
    }
    a = spans.attribute(log, {1})
    b = spans.attribute(log, {2})
    assert (a["jobs"], a["stages"], a["run_ms"]) == (1, 2, 300)
    assert (b["stages"], b["run_ms"], b["sql_executions"]) == (1, 300, [1])
    assert spans.job_gap_s(log, {1, 2}, 0.0, 4.0) == pytest.approx(2.0)


def test_count_scans_walks_the_plan_tree():
    leaf = {"nodeName": "Scan parquet ", "metadata": {"Location": "X[/o/events]"}, "children": []}
    other = {"nodeName": "Scan parquet ", "metadata": {"Location": "X[/o/report]"}, "children": []}
    plan = {"nodeName": "Union", "children": [leaf, {"nodeName": "Filter", "children": [leaf, other]}]}
    assert spans.count_scans(plan, "/o/events") == 2


def test_net_of_steal_scales_by_the_cpu_share_received():
    before, after = (1000, 50), (1090, 60)  # 90 busy ticks, 10 stolen
    assert steal.steal_share(before, after) == pytest.approx(0.1)
    assert steal.net_of_steal(10.0, before, after) == pytest.approx(9.0)
    assert steal.net_of_steal(10.0, before, (1090, 50)) == 10.0
    busy, stolen = steal.cpu_ticks()
    assert busy > 0 and stolen >= 0


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.LAYER_METRICS
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_engine_parse_matches_ground_truth(tmp_path):
    """The generator's truth is what the engine's parser produces."""
    pytest.importorskip("pyspark")
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.operators.logparse import parse_logs
    from rds_pgbadger_etl_spark.session import get_spark
    from rds_pgbadger_etl_spark.sinks.report_sink import write_events_partitioned

    path, truth = _gen(tmp_path, 21, size=30_000, malformed=6)
    spark = get_spark(app_name="perfbench-tests", cpus="2", driver_memory="1g")
    events = parse_logs(spark, [str(path)])
    counters = write_events_partitioned(events, str(tmp_path / "events"))
    assert counters == {"events": truth["events"], "malformed": 6, "null_ts": 6}
    stored = spark.read.parquet(str(tmp_path / "events"))
    levels = {r["level"]: r["n"] for r in stored.groupBy("level").agg(F.count("*").alias("n")).collect()}
    assert levels == truth["levels"]
    row = stored.agg(
        F.count("duration_ms").alias("n"), F.sum("duration_ms").alias("ms"),
        F.sum(F.col("message").contains("connection authorized").cast("int")).alias("conn"),
    ).first()
    assert row["n"] == truth["duration_events"]
    assert row["ms"] == pytest.approx(truth["duration_thousandths"] / 1000.0, rel=1e-9)
    assert row["conn"] == truth["connections"]
