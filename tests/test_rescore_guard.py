"""jobs/search.py --rescore refuses every flag it cannot honour: the
rescore path returns before pinning, constant scoring, random scoring and
collapse inner hits, so those flags must stop the request loudly instead
of being dropped — over --index and over --shards."""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F
import pytest

from searchengine_spark.fixtures import transcripts_df
from searchengine_spark.indexing.packed import build_packed_index
from searchengine_spark.tokenizer import TokenizerConfig

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CFG = TokenizerConfig(min_token_length=3)
FLAGS = {
    "--pin": ["--pin", "conv0000|1"],
    "--constant-score": ["--constant-score", "2.0"],
    "--random-score": ["--random-score", "7"],
    "--inner-hits": ["--collapse", "conv_id", "--collapse-inner-hits", "2"],
}


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("rescore_guard")
    corpus = transcripts_df(spark, n_conv=4)
    out = {"index": str(root / "idx"), "a": str(root / "a"),
           "b": str(root / "b")}
    build_packed_index(corpus, CFG, out["index"], chunk_docs=32)
    build_packed_index(corpus.filter(F.col("turn_idx") % 2 == 0), CFG,
                       out["a"], chunk_docs=32)
    build_packed_index(corpus.filter(F.col("turn_idx") % 2 == 1), CFG,
                       out["b"], chunk_docs=32)
    return out


def _refusal(monkeypatch, argv) -> str:
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        import search
    finally:
        sys.path.pop(0)
    monkeypatch.setattr(sys, "argv", ["search.py", *argv])
    with pytest.raises(SystemExit) as e:
        search.main()
    assert isinstance(e.value.code, str), e.value.code  # a refusal, not exit 0
    return e.value.code


@pytest.mark.parametrize("flag", sorted(FLAGS))
def test_rescore_refuses_flag_on_index(spark, paths, monkeypatch, flag):
    msg = _refusal(monkeypatch, [
        "--index", paths["index"], "--query", "rock album",
        "--rescore", "guitar", *FLAGS[flag]])
    assert "--rescore" in msg or flag.split("-")[-1] in msg, msg


@pytest.mark.parametrize("flag", sorted(FLAGS))
def test_rescore_refuses_flag_on_shards(spark, paths, monkeypatch, flag):
    msg = _refusal(monkeypatch, [
        "--shards", f"{paths['a']},{paths['b']}", "--query", "rock album",
        "--rescore", "guitar", *FLAGS[flag]])
    assert "--rescore" in msg or flag.split("-")[-1] in msg, msg


def test_topk_frame_guard_names_rescore(spark, paths):
    """The library-level guard itself (what the REPL and batch share)
    refuses each flag, not only the CLI's earlier checks."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        import search
    finally:
        sys.path.pop(0)
    from searchengine_spark.indexing.packed import load_packed_index

    pidx = load_packed_index(spark, paths["index"])
    spec = (["guitar"], 50, 1.0, 1.0, "total")
    for extra in ({"pins": ["conv0000|1"]}, {"constant_score": 2.0},
                  {"random_seed": "7"}, {"inner_hits": 2}):
        with pytest.raises(SystemExit, match="--rescore combines only"):
            search._topk_frame(spark, pidx, CFG, ["rock album"], "bm25", 5,
                               False, rescore_spec=spec, **extra)
