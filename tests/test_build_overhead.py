"""Bulk build and searcher open submit only the jobs that move data.

- Job-count gate: under a job group, a fixture build submits at most 16
  Spark jobs and a preloaded ``LocalSearcher`` open at most 3, and no job
  escapes the group (the sidecar pool threads inherit it).
- Manifest equivalence: the totals observed on the sidecar writes equal the
  post-hoc aggregates over the sidecars that the build used to run (kept
  here as the oracle), for every payload.
- Legacy path: a manifest without ``docs_schema``/``postings_bytes`` still
  opens and serves identically.
- Resume: a stage is skipped only with both its marker and its recorded
  totals; either loss re-runs it and the resumed manifest is unchanged.
- ``postings_bytes`` stays exact after an append and a compaction.
- A failing sidecar raises before the manifest is written.

Self-contained tokenizer (no stop list), so the module runs without the
reference checkout.
"""

import datetime as dt
import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from searchengine_spark.fixtures.transcripts import TRANSCRIPTS_SCHEMA, transcripts_df
from searchengine_spark.indexing import fsio
from searchengine_spark.indexing import packed as packed_mod
from searchengine_spark.indexing.build import Bm25Params
from searchengine_spark.indexing.compact import compact_index
from searchengine_spark.indexing.deletes import delete_docs
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.query.serve import LocalSearcher, estimate_postings_bytes
from searchengine_spark.streaming.incremental import append_batch
from searchengine_spark.tokenizer import TokenizerConfig

PARAMS = Bm25Params(k=1.2, b=0.75)
CFG = TokenizerConfig(min_token_length=3)
QUERIES = ["greatest rock album", "jazz piano", "summer festival music"]
BUILD_JOBS_MAX = 16
OPEN_JOBS_MAX = 3
PAYLOADS = {
    "freq": {},
    "positional": {"positional": True},
    "boolean": {"payload": "boolean"},
    "tfidf": {"payload": "tfidf"},
    "tfidf_sidecar": {"tfidf_sidecar": True},
}


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """The fixture corpus as a parquet table, the form builds read in
    production (jobs/build_index.py, the benchmark). An in-memory pandas
    frame would add one job of its own to the docID pass."""
    path = str(tmp_path_factory.mktemp("corpus") / "transcripts")
    transcripts_df(spark, n_conv=30, n_partitions=4).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def builds(spark, corpus, tmp_path_factory):
    """payload name -> (path, manifest), built once per module."""
    root = tmp_path_factory.mktemp("overhead")
    out = {}
    for name, kw in PAYLOADS.items():
        path = str(root / name)
        out[name] = (path, build_packed_index(corpus, CFG, path, params=PARAMS,
                                              chunk_docs=128, **kw))
    return out


def _without_metrics(m: dict) -> dict:
    return {k: v for k, v in m.items() if k != "metrics"}


def _grouped(sc, group: str, fn):
    """Run ``fn`` under job group ``group``; returns (result, group's job
    count, ids of jobs that ran without any group meanwhile)."""
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ungrouped = set(tracker.getJobIdsForGroup(None)) - before
    return out, len(tracker.getJobIdsForGroup(group)), ungrouped


def test_build_and_open_job_counts(spark, corpus, tmp_path):
    sc = spark.sparkContext
    path = str(tmp_path / "idx")
    _, build_jobs, stray_build = _grouped(
        sc, "overhead-build",
        lambda: build_packed_index(corpus, CFG, path, params=PARAMS, chunk_docs=128),
    )
    searcher, open_jobs, stray_open = _grouped(
        sc, "overhead-open",
        lambda: LocalSearcher(load_packed_index(spark, path), cfg=CFG),
    )
    assert searcher._preloaded
    assert 0 < build_jobs <= BUILD_JOBS_MAX, build_jobs
    assert 0 < open_jobs <= OPEN_JOBS_MAX, open_jobs
    # every sidecar job ran in the caller's group: the pool threads inherit it
    assert not stray_build and not stray_open, (stray_build, stray_open)


@pytest.mark.parametrize("name", sorted(PAYLOADS))
def test_observed_totals_match_sidecar_aggregates(spark, builds, name):
    path, m = builds[name]
    # the aggregates the build ran before the totals were observed
    li = spark.read.parquet(os.path.join(path, "lineage_index")).agg(
        F.sum("n_chunks"), F.sum("n_postings"), F.sum("postings_bytes")
    ).collect()[0]
    n_terms = spark.read.parquet(os.path.join(path, "term_stats")).count()
    dl = spark.read.parquet(os.path.join(path, "lineage")).agg(
        F.min(F.round(F.col("min_dl") / F.lit(m["avgdl"]), 3)),
        F.max(F.round(F.col("max_dl") / F.lit(m["avgdl"]), 3)),
    ).collect()[0]
    assert m["n_chunks"] == int(li[0])
    assert m["n_postings"] == int(li[1])
    assert m["postings_bytes"] == int(li[2])
    assert m["n_terms"] == n_terms
    assert m["dl_norm_min"] == float(dl[0])
    assert m["dl_norm_max"] == float(dl[1])
    pidx = load_packed_index(spark, path)
    true_bytes = pidx.index.agg(F.sum(F.length("postings"))).collect()[0][0]
    assert m["postings_bytes"] == true_bytes == estimate_postings_bytes(pidx)
    # the pinned reads see what inference sees
    inferred = spark.read.parquet(os.path.join(path, "docs"))
    assert pidx.docs_stage().dtypes == inferred.dtypes
    assert pidx.index.dtypes == spark.read.parquet(os.path.join(path, "index")).dtypes
    assert pidx.term_stats.dtypes == spark.read.parquet(
        os.path.join(path, "term_stats")).dtypes


def test_legacy_manifest_opens_and_serves_identically(spark, builds, tmp_path):
    path, m = builds["positional"]
    legacy = str(tmp_path / "legacy")
    shutil.copytree(path, legacy)
    old = {k: v for k, v in m.items() if k not in ("docs_schema", "postings_bytes")}
    # through the Hadoop FS, which keeps the file's checksum in step
    fsio.write_text(spark, os.path.join(legacy, "manifest.json"), json.dumps(old))
    new_idx, old_idx = load_packed_index(spark, path), load_packed_index(spark, legacy)
    assert "docs_schema" not in old_idx.manifest
    assert old_idx.docs_stage().dtypes == new_idx.docs_stage().dtypes
    assert sorted(old_idx.docmap.collect()) == sorted(new_idx.docmap.collect())
    # the preload budget falls back to the base build's lineage_index
    assert estimate_postings_bytes(old_idx) == m["postings_bytes"]
    a = LocalSearcher(new_idx, cfg=CFG)
    b = LocalSearcher(old_idx, cfg=CFG)
    assert a._preloaded and b._preloaded
    for q in QUERIES:
        for ranker in ("bm25", "bm25_optimized"):
            assert a.search(q, k=10, ranker=ranker) == b.search(q, k=10, ranker=ranker)


def _success_mtime(path: str, stage: str) -> float:
    return os.path.getmtime(os.path.join(path, stage, "_SUCCESS"))


def test_resume_reruns_stage_missing_marker_or_totals(spark, corpus, tmp_path):
    path = str(tmp_path / "idx")
    m1 = build_packed_index(corpus, CFG, path, params=PARAMS, chunk_docs=128)
    stamps = {s: _success_mtime(path, s)
              for s in ("docs", "index", "lineage", "lineage_index", "term_stats")}
    time.sleep(0.05)  # mtime resolution: a re-run stage must stamp later

    # a crash after the index stage: term_stats and the manifest are lost
    os.remove(os.path.join(path, "manifest.json"))
    shutil.rmtree(os.path.join(path, "term_stats"))
    m2 = build_packed_index(corpus, CFG, path, params=PARAMS, chunk_docs=128,
                            resume=True)
    assert _without_metrics(m2) == _without_metrics(m1)
    for s in ("docs", "index", "lineage", "lineage_index"):
        assert _success_mtime(path, s) == stamps[s], s
    time.sleep(0.05)

    # a stage with its marker but without its recorded totals re-runs
    state_path = os.path.join(path, "build_state.json")
    state = json.load(open(state_path))
    del state["lineage_index"]
    fsio.write_text(spark, state_path, json.dumps(state))
    os.remove(os.path.join(path, "manifest.json"))
    m3 = build_packed_index(corpus, CFG, path, params=PARAMS, chunk_docs=128,
                            resume=True)
    assert _without_metrics(m3) == _without_metrics(m1)
    assert _success_mtime(path, "lineage_index") > stamps["lineage_index"]
    for s in ("docs", "index", "lineage"):
        assert _success_mtime(path, s) == stamps[s], s
    assert json.load(open(state_path))["lineage_index"]["postings_bytes"] == (
        m1["postings_bytes"])


def test_postings_bytes_exact_after_append_and_compaction(spark, corpus, tmp_path):
    path = str(tmp_path / "idx")
    build_packed_index(corpus, CFG, path, params=PARAMS, chunk_docs=128)
    rows = [
        ("zconv", i, "user", f"greatest rock album appended words {i}", None,
         dt.datetime(2026, 3, 1, 0, 0, i))
        for i in range(6)
    ]
    append_batch(spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA), path, CFG,
                 batch_id=0)
    delete_docs(spark, path, where="doc_id % 7 = 3")

    def true_bytes(pidx):
        return pidx.index.agg(F.sum(F.length("postings"))).collect()[0][0]

    appended = load_packed_index(spark, path)
    assert appended.manifest["appends"]
    assert estimate_postings_bytes(appended) == true_bytes(appended)
    compact_index(spark, path)
    compacted = load_packed_index(spark, path)
    assert compacted.manifest["compaction"] == 1
    assert estimate_postings_bytes(compacted) == true_bytes(compacted)
    assert compacted.manifest["postings_bytes"] < appended.manifest["postings_bytes"]


def test_build_seconds_is_wall_time(spark, corpus, tmp_path):
    t0 = time.perf_counter()
    m = build_packed_index(corpus, CFG, str(tmp_path / "idx"), params=PARAMS,
                           chunk_docs=128)
    wall = time.perf_counter() - t0
    met = m["metrics"]
    assert set(met["stage_seconds"]) == {
        "docs", "lineage", "index", "lineage_index", "term_stats"}
    assert max(met["stage_seconds"].values()) <= met["build_seconds"] <= wall + 1e-3
    assert met["docs_per_sec"] == pytest.approx(
        m["n_docs"] / met["build_seconds"], rel=1e-2)
    assert met["postings_per_sec"] == pytest.approx(
        m["n_postings"] / met["build_seconds"], rel=1e-2)


def test_failing_sidecar_raises_before_manifest(spark, corpus, tmp_path, monkeypatch):
    path = str(tmp_path / "idx")
    blocker = tmp_path / "blocker"
    blocker.write_text("a file, so no directory can be created under it")
    real = packed_mod._stage_dirs

    def broken(p):
        dirs = real(p)
        dirs["lineage_index"] = str(blocker / "lineage_index")
        return dirs

    monkeypatch.setattr(packed_mod, "_stage_dirs", broken)
    with pytest.raises(Exception):
        build_packed_index(corpus, CFG, path, params=PARAMS, chunk_docs=128)
    assert not os.path.exists(os.path.join(path, "manifest.json"))
    # the stages that did finish committed their totals for a resume
    state = json.load(open(os.path.join(path, "build_state.json")))
    assert "lineage" in state and "lineage_index" not in state
