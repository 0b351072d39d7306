"""Tests of the benchmark itself: generators, oracles, emitted names and
the event-log fold.  Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import analytics, kg, lubm, run, tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _table(path):
    import pyarrow.parquet as pq

    return pq.read_table(path)


def test_lubm_generator_is_deterministic_and_seeded():
    a, b, c = (lubm.generate(s, lubm.TINY_SHAPE) for s in (5, 5, 6))
    assert a.triples == b.triples and a.files == b.files
    assert a.triples != c.triples


def test_repo_window_is_seed_offset():
    g = lubm.generate(1, lubm.TINY_SHAPE)
    assert kg.source_rows(1, g, 20) == kg.source_rows(1, g, 20)
    assert kg.source_rows(1, g, 20)[len(g.files):] != kg.source_rows(2, g, 20)[len(g.files):]


def test_analytics_tables_are_deterministic_and_seeded(tmp_path):
    for seed, name in ((3, "a"), (3, "b"), (4, "c")):
        analytics.generate_tables(seed, str(tmp_path / name), analytics.TINY_SIZES)
    for t in ("documents", "embeddings", "customer", "supplier"):
        a, b, c = (_table(str(tmp_path / n / f"{t}.parquet")) for n in "abc")
        assert a.equals(b)
        assert not a.equals(c)


def test_dumps_parse_to_the_generated_graph():
    """The N-Triples and Turtle dumps carry exactly the oracle's triples
    (blank nodes compared by the structure they carry)."""
    from jena_spark.parsers.registry import parse_document

    g = lubm.generate(7, lubm.TINY_SHAPE)
    got = []
    for path, lang, content in g.files:
        quads, err = parse_document("r", path, "c", lang, content)
        assert err is None
        got += [(s, p, o) for _, s, p, o in quads]
    no_bnode = lambda ts: sorted(t for t in ts if not any(x.startswith("_:") for x in t))  # noqa: E731
    assert no_bnode(got) == no_bnode(g.triples)
    assert len(got) == len(g.triples)


def test_emitted_names_are_valid_and_match_benchmark_json():
    spec = run._per_layer_spec()
    e2e = [(n, u) for n, u in run.END_TO_END]
    names = [n for n, _, _ in spec] + [n for n, _ in e2e]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for _, u, _ in spec:
        assert UNIT.fullmatch(u), u
    assert len(spec) <= 128
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == spec
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == e2e
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for w in bench["workloads"]:
        assert NAME.fullmatch(w["name"])


def test_latency_summary_adds_a_percentile_only_with_ten_samples_beyond():
    from perfbench.harness import latency_summary

    assert set(latency_summary([1.0] * 50)) == {"median", "n"}
    assert "p90" in latency_summary([float(i) for i in range(100)])


def test_deferred_checks_run_on_settle():
    from perfbench.harness import Recorder

    rec = Recorder()
    seen = []
    good = rec.run("a", lambda: (lambda: seen.append("a")), defer=True)
    bad = rec.run("b", lambda: (lambda: "wrong answer: 0 rows"), defer=True)
    assert seen == [] and good.ok and bad.ok
    rec.settle()
    assert seen == ["a"] and good.ok and not good.wrong
    assert not bad.ok and bad.wrong and bad.error == "wrong answer: 0 rows"
    assert rec.pending == []


def test_fold_sums_task_metrics_per_group(tmp_path):
    tr = tracing.Tracer(enabled=True)
    tr.spans.append(tracing.Span("extract", "load", 1000, 2000, "extract.load.0"))
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "extract.load.0"}},
        # a job from a thread without the group, inside the span's interval
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Properties": {"spark.jobGroup.id": "extract.load.0"},
         "Stage Info": {"Stage ID": 0, "Submission Time": 1100,
                        "RDD Info": [{"Scope": '{"id":"3","name":"MapInPandas"}'}]}},
        {"Event": "SparkListenerStageSubmitted", "Properties": {},
         "Stage Info": {"Stage ID": 1, "Submission Time": 1500, "RDD Info": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 2e8,
                          "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 200,
                          "Shuffle Read Metrics": {"Local Bytes Read": 64}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    folded = tracing.fold_event_log(str(tmp_path), tr)
    tot = tracing.layer_totals(folded, tr)["extract"]
    assert tot["task_run_s"] == pytest.approx(0.5)
    assert tot["cpu_s"] == pytest.approx(0.2)
    assert tot["gc_s"] == pytest.approx(0.01)
    assert tot["shuffle_read_bytes"] == 64 and tot["shuffle_write_bytes"] == 64
    assert tot["jobs"] == 2 and tot["stages"] == 2
    assert tot["wall_s"] == pytest.approx(1.0)
    assert folded.python_stages == [1100]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


# ---------------------------------------------------------------------------
# the oracles agree with the product on a tiny seed (needs Spark)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from jena_spark.session import get_spark

    s = get_spark(app="perfbench_tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_kg_oracle_agrees_with_product(spark, tmp_path):
    from perfbench.harness import Recorder

    inputs = kg.Inputs(9, str(tmp_path), lubm.TINY_SHAPE, n_repo=30)
    inputs.generate()
    rec = Recorder()
    p = kg.Pass(spark, inputs, str(tmp_path), "t", tracing.Tracer(spark), rec)
    p.load()
    p.serve(0)
    assert {r.cls for r in rec.ops} == {"load", *kg.CLASSES}
    assert [(r.cls, r.error) for r in rec.ops if not r.ok] == []


def test_analytics_oracle_agrees_with_product(spark, tmp_path):
    from perfbench.harness import Recorder

    table_dir = str(tmp_path / "tables")
    analytics.generate_tables(9, table_dir, analytics.TINY_SIZES)
    a = analytics.Analytics(spark, table_dir)
    a.prepare_oracle()
    rec = Recorder()
    for cls in analytics.CLASSES:
        rec.run(cls, lambda: a.op(cls, tracing.Tracer(spark)))
    assert [(r.cls, r.error) for r in rec.ops if not r.ok] == []
