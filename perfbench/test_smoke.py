"""Smoke test of the benchmark at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload end to end (a few dozen conversations), a traced run,
a run whose document-count check is made to fail on purpose, and a run
from a directory without the engine. Also checks the query generator's
determinism and the trace helpers on synthetic input. Takes a few
minutes: each Spark run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from measure import tail  # noqa: E402
from querygen import ASSUMED_OOV, ASSUMED_TAIL, query_stream  # noqa: E402
from run import E2E  # noqa: E402
from spans import Span, Tracer, parse_event_log, self_seconds  # noqa: E402


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def run_bench(*args, cwd=ROOT):
    spec = bench_spec()
    cmd = [sys.executable] + spec["command"][1:] + list(args)
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# ------------------------------------------------------------- no Spark


TERMS = [f"term{i:03d}" for i in range(300)]
DFS = [1000 // (i + 1) + 1 for i in range(300)]
#: two head terms (df 1001 and 501) and one tail term; lengths 2 and 1
REFERENCE = ["term000 term001", "term299"]


def test_stream_same_seed_is_byte_identical():
    a = query_stream(TERMS, DFS, 500, seed=7, reference=REFERENCE, tokenize=str.split)
    # input order must not matter: the generator sorts the vocabulary
    b = query_stream(TERMS[::-1], DFS[::-1], 500, seed=7, reference=REFERENCE, tokenize=str.split)
    c = query_stream(TERMS, DFS, 500, seed=8, reference=REFERENCE, tokenize=str.split)
    assert a.digest() == b.digest()
    assert a.queries == b.queries and a.shares == b.shares
    assert a.digest() != c.digest()
    assert len(a.queries) == 502 and set(REFERENCE) <= set(a.queries)
    words = [w for q in a.queries for w in q.split()]
    assert any(w not in TERMS for w in words)
    assert abs(a.shares["hot_share"] + a.shares["tail_share"] + a.shares["oov_share"] - 1) < 1e-9


def test_stream_mix_is_the_reference_mix_plus_the_assumed_shares():
    s = query_stream(TERMS, DFS, 280, seed=1, reference=REFERENCE, tokenize=str.split).shares
    assert (s["reference_hot_share"], s["reference_tail_share"],
            s["reference_oov_share"]) == (2 / 3, 1 / 3, 0.0)
    # a block is the reference lengths (2 and 1 terms) 14 times: 28 queries
    assert s["mean_terms"] == s["reference_mean_terms"] == 1.5
    # and 42 terms: the mix to within a term of 42
    keep = 1 - ASSUMED_TAIL - ASSUMED_OOV
    assert abs(s["hot_share"] - keep * 2 / 3) <= 1 / 42
    assert abs(s["tail_share"] - (keep / 3 + ASSUMED_TAIL)) <= 1 / 42
    assert abs(s["oov_share"] - ASSUMED_OOV) <= 1 / 42
    assert s["head_terms"] < 30  # a Zipf head


def test_gated_metrics_are_reported_with_their_units():
    for m in bench_spec()["end_to_end"]:
        assert E2E[m["name"]][0] == m["unit"], m["name"]


def test_tail_leaves_ten_samples_above():
    xs = list(range(1, 1001))
    assert tail(xs) == (990.0, 0.99)
    v, pct = tail(list(range(1, 101)))
    assert v == 90.0 and pct == 0.9  # 10 samples above the 90th percentile


def test_self_time_and_event_log_attribution(tmp_path):
    spans = [Span(0, "bench.round", 1, None, 0.0, 10.0),
             Span(1, "streaming.incremental.append_batch", 1, 0, 1.0, 4.0),
             Span(2, "indexing.deletes.delete_docs", 1, 0, 5.0, 7.0)]
    assert self_seconds(spans) == {0: 5.0, 1: 3.0, 2: 2.0}
    spans[1].tag_s = 0.5  # a child's job tagging is nobody's self time
    assert self_seconds(spans) == {0: 4.5, 1: 3.0, 2: 2.0}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "perfbench-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "perfbench-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 120, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40},
            "Input Metrics": {"Records Read": 7}, "Output Metrics": {"Records Written": 2}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    work = parse_event_log(str(tmp_path))
    assert list(work) == [1]
    w = work[1]
    assert (w.jobs, w.tasks, w.executor_run_ms, w.shuffle_write_bytes,
            w.shuffle_read_bytes, w.spill_bytes, w.records_in, w.records_out) == (
        1, 1, 120, 300, 40, 6, 7, 2)


class SlowContext:
    """Stands in for a SparkContext whose job tagging takes time."""

    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, _desc):
        time.sleep(0.02)
        self.groups.append(group)

    def setJobDescription(self, _desc):
        pass

    def setLocalProperty(self, key, _value):
        if key == "spark.jobGroup.id":
            time.sleep(0.02)
            self.groups.append(None)


def test_span_clock_leaves_out_job_tagging():
    sc = SlowContext()
    tracer = Tracer(sc, enabled=True)
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.spans
    assert sc.groups == ["perfbench-0", "perfbench-1", "perfbench-0", None]
    assert inner.seconds < 0.01 and inner.tag_s >= 0.04
    assert self_seconds(tracer.spans)[outer.id] < 0.01


# ----------------------------------------------------------- Spark runs


@pytest.mark.parametrize("workload", [w["name"] for w in bench_spec()["workloads"]])
def test_workload_tiny(workload):
    res = result_of(run_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                              "--trace", "0", "--tiny"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    want = {m["name"]: m["unit"] for m in bench_spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_reports_every_layer():
    proc = run_bench("--workload", "ingest", "--seed", "4", "--seconds", "1",
                     "--trace", "1", "--tiny")
    res = result_of(proc)
    assert res["correct"], proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["query.serve.spark_jobs_per_query"] == 0  # preloaded searcher
    assert m["streaming.incremental.jobs_per_call"] > 0
    assert m["indexing.packed.shuffle_write_bytes"] > 0
    assert "self_s" in proc.stdout and "trace overhead" in proc.stdout
    spans = os.path.join(ROOT, ".perfbench_out", "traces", "ingest-seed4.spans.jsonl")
    with open(spans, encoding="utf-8") as fh:
        names = {json.loads(line)["name"] for line in fh}
    assert {"indexing.packed.build_packed_index", "streaming.incremental.append_batch",
            "indexing.deletes.delete_docs", "indexing.compact.compact_index"} <= names


def test_failed_check_is_counted():
    res = result_of(run_bench("--workload", "serve", "--seed", "5", "--seconds", "1",
                              "--trace", "0", "--tiny", "--fail-check"))
    assert not res["correct"]
    assert res["failed"] >= 1 and res["attempted"] > res["failed"]


def test_refuses_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench_out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench_spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("--workload", "serve", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
