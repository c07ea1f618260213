"""Bit-identity gate for the WAND top-k scorer.

``tests/golden/wand_top10.json`` holds the top-10 ``(doc_id,
float.hex(score), rank)`` of a seeded 300-query stream over the fixture
index, for plain and conjunctive BM25, every option the scorer carries,
the tombstone-masked decode after ``delete_docs``, a 2-shard
:class:`FederatedLocalSearcher`, and (rounded to 6 dp, because a Spark
shuffle does not fix the order of a doc's summed contributions) the
distributed batch paths. The file was recorded from the pandas-frame
scorer that the array kernel (``query/wand.py:wand_topk``) replaced; any
change to a score bit, a tie order or a rank fails here.

Re-record only when a scoring change is intended::

    PYTHONPATH=. python tests/test_wand_golden.py --record
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyspark.sql.functions as F
import pytest

from searchengine_spark.fixtures import transcripts_df
from searchengine_spark.indexing.deletes import delete_docs
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.query.serve import FederatedLocalSearcher, LocalSearcher
from searchengine_spark.tokenizer import TokenizerConfig, tokenize_text

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden",
                      "wand_top10.json")
N_CONV = 60
CHUNK_DOCS = 256
K = 10
N_QUERIES = 300
SEED = 20261017
CFG = TokenizerConfig(min_token_length=3)


def _hits(rows) -> list:
    return [[int(r["doc_id"]), float(r["score"]).hex(), int(r["rank"])]
            for r in rows]


def _spark_hits(df, n: int) -> list:
    by_q: dict = {}
    for r in df.collect():
        by_q.setdefault(int(r["query_id"]), []).append(r)
    return [_hits(sorted(by_q.get(q, []), key=lambda r: r["rank"]))
            for q in range(n)]


def query_stream(pidx) -> tuple:
    """-> (queries, hot terms): a seeded stream over the index's own
    vocabulary — 1-4 words, 45 % from the 100 highest-df terms (``hot``,
    df desc), 50 % uniform over the vocabulary, 5 % OOV."""
    ts = pidx.term_stats.select("term", "df").toPandas().sort_values("term")
    vocab = ts["term"].to_numpy()
    hot = vocab[np.argsort(-ts["df"].to_numpy(), kind="stable")[:100]]
    rng = np.random.default_rng(SEED)
    out = []
    for _ in range(N_QUERIES):
        words = []
        for _ in range(int(rng.integers(1, 5))):
            u = rng.random()
            if u < 0.45:
                words.append(str(hot[rng.integers(len(hot))]))
            elif u < 0.95:
                words.append(str(vocab[rng.integers(len(vocab))]))
            else:
                words.append(f"zzq{int(rng.integers(1000))}")
        out.append(" ".join(words))
    return out, [str(t) for t in hot]


def build_indexes(spark, root: str) -> dict:
    corpus = transcripts_df(spark, n_conv=N_CONV)
    paths = {name: os.path.join(root, name)
             for name in ("main", "deleted", "shard_a", "shard_b")}
    build_packed_index(corpus, CFG, paths["main"], chunk_docs=CHUNK_DOCS)
    shutil.copytree(paths["main"], paths["deleted"])
    delete_docs(spark, paths["deleted"], where="doc_id % 4 = 1")
    build_packed_index(corpus.filter(F.col("turn_idx") % 2 == 0), CFG,
                       paths["shard_a"], chunk_docs=CHUNK_DOCS)
    build_packed_index(corpus.filter(F.col("turn_idx") % 2 == 1), CFG,
                       paths["shard_b"], chunk_docs=CHUNK_DOCS)
    return {name: load_packed_index(spark, p) for name, p in paths.items()}


def local_options(n_docs: int, hot: list) -> dict:
    """config name -> per-query LocalSearcher.search kwargs."""
    allowed = np.arange(n_docs, dtype=np.int64)
    allowed = allowed[allowed % 3 != 0]
    boosts = {d: 1.0 + (d % 7) * 0.25 for d in range(0, n_docs, 5)}
    return {
        "bm25": lambda i, q: {},
        "bm25_and": lambda i, q: {"ranker": "bm25_and"},
        "filter_docs": lambda i, q: {"filter_docs": allowed},
        "filter_docs_and": lambda i, q: {"ranker": "bm25_and",
                                         "filter_docs": allowed},
        "boost_docs": lambda i, q: {"boost_docs": boosts},
        "exclude": lambda i, q: {"exclude": [hot[i % 5]]},
        "exclude_own_term": lambda i, q: {"exclude": q.split()[-1:]},
        "demote": lambda i, q: {"demote": [hot[(i + 2) % 5]],
                                "negative_boost": 0.3},
        "demote_own_term": lambda i, q: {"ranker": "bm25_and",
                                         "demote": q.split()[:1]},
        "offset": lambda i, q: {"offset": 10},
        "min_should_match": lambda i, q: {"min_should_match": 2},
        "round_dp": lambda i, q: {"round_dp": 6},
        "round_dp_boost": lambda i, q: {"round_dp": 6, "boost_docs": boosts},
    }


def compute(spark, root: str) -> dict:
    """config name -> one top-10 list per stream query."""
    from searchengine_spark.query.federated import bm25_topk_federated
    from searchengine_spark.query.wand import bm25_topk_packed_batch

    idx = build_indexes(spark, root)
    pidx = idx["main"]
    queries, hot = query_stream(pidx)
    n_docs = int(pidx.manifest["n_docs"])
    ls = LocalSearcher(pidx, preload=True, cfg=CFG)
    got: dict = {}
    for name, opts in local_options(n_docs, hot).items():
        got[name] = [_hits(ls.search(q, k=K, resolve=False, **opts(i, q)))
                     for i, q in enumerate(queries)]
    after = []
    for q, page in zip(queries, got["bm25"]):
        if len(page) < K:
            after.append([])
            continue
        doc, score, _ = page[-1]
        cursor = (float.fromhex(score), doc)
        after.append(_hits(ls.search(q, k=K, resolve=False,
                                     search_after=cursor)))
    got["search_after"] = after
    got["more_like"] = [_hits(ls.more_like(d, k=K, resolve=False))
                        for d in range(0, n_docs, max(1, n_docs // 20))]

    deleted = LocalSearcher(idx["deleted"], preload=True, cfg=CFG)
    got["deleted"] = [_hits(deleted.search(q, k=K, resolve=False))
                      for q in queries]
    shards = [idx["shard_a"], idx["shard_b"]]
    fed = FederatedLocalSearcher(shards, preload=True, cfg=CFG)
    got["federated"] = [_hits(fed.search(q, k=K, resolve=False))
                        for q in queries]
    got["federated_round_dp"] = [
        _hits(fed.search(q, k=K, resolve=False, round_dp=6)) for q in queries
    ]

    n = len(queries)
    got["spark_bm25"] = _spark_hits(
        bm25_topk_packed_batch(pidx, queries, CFG, k=K, round_dp=6), n)
    got["spark_bm25_and"] = _spark_hits(
        bm25_topk_packed_batch(pidx, queries, CFG, k=K, round_dp=6,
                               conjunctive=True), n)
    weights = {i: {t: 1.5 for t in tokenize_text(q, CFG)[:1]}
               for i, q in enumerate(queries)}
    got["spark_weights_exclude"] = _spark_hits(
        bm25_topk_packed_batch(
            pidx, queries, CFG, k=K, round_dp=6, term_weights=weights,
            exclude_terms={i: [hot[i % 5]] for i in range(n)}), n)
    ids = spark.range(n_docs)
    got["spark_filter_boost"] = _spark_hits(
        bm25_topk_packed_batch(
            pidx, queries, CFG, k=K, round_dp=6,
            doc_filter=ids.filter("id % 3 != 0").withColumnRenamed("id",
                                                                   "doc_id"),
            doc_boost=ids.filter("id % 5 = 0").select(
                F.col("id").alias("doc_id"),
                (F.lit(1.0) + (F.col("id") % 7) * 0.25).alias("boost"))), n)
    got["spark_federated"] = _spark_hits(
        bm25_topk_federated(shards, queries, CFG, k=K, round_dp=6,
                            demote_terms={i: [hot[(i + 2) % 5]]
                                          for i in range(n)},
                            negative_boost=0.3), n)
    return got


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def recomputed(spark, tmp_path_factory):
    return compute(spark, str(tmp_path_factory.mktemp("wand_golden")))


def test_golden_covers_every_config(golden, recomputed):
    assert sorted(golden) == sorted(recomputed)


@pytest.mark.parametrize("config", [
    "bm25", "bm25_and", "filter_docs", "filter_docs_and", "boost_docs",
    "exclude", "exclude_own_term", "demote", "demote_own_term", "offset",
    "min_should_match", "round_dp", "round_dp_boost", "search_after",
    "more_like", "deleted", "federated", "federated_round_dp", "spark_bm25",
    "spark_bm25_and", "spark_weights_exclude", "spark_filter_boost",
    "spark_federated",
])
def test_top10_bit_identical(golden, recomputed, config):
    want, got = golden[config], recomputed[config]
    assert len(got) == len(want)
    bad = [i for i, (w, g) in enumerate(zip(want, got)) if w != g]
    assert not bad, (config, len(bad), bad[0], want[bad[0]], got[bad[0]])
    assert sum(map(len, want)) > 0  # the config is not vacuous


def test_preloaded_bm25_builds_no_pandas_object(spark, tmp_path_factory,
                                               monkeypatch):
    """The preloaded bm25/bm25_and hot path is array-native end to end:
    no DataFrame and no concat anywhere in the call."""
    import pandas as pd

    path = str(tmp_path_factory.mktemp("wand_nopandas") / "idx")
    build_packed_index(transcripts_df(spark, n_conv=8), CFG, path,
                       chunk_docs=32)
    ls = LocalSearcher(load_packed_index(spark, path), preload=True, cfg=CFG)
    want = ls.search("music album guitar", k=5)

    def boom(*a, **kw):
        raise AssertionError("pandas object built on the bm25 hot path")

    monkeypatch.setattr(pd, "DataFrame", boom)
    monkeypatch.setattr(pd, "concat", boom)
    got = ls.search("music album guitar", k=5)
    assert got == want and got
    for opts in ({"ranker": "bm25_and"}, {"offset": 2}, {"round_dp": 6},
                 {"exclude": ["album"]}, {"demote": ["music"]},
                 {"filter_docs": [1, 2, 3, 5, 8]}, {"boost_docs": {3: 2.0}},
                 {"min_should_match": 2}):
        ls.search("music album guitar rock", k=5, **opts)


if __name__ == "__main__" and sys.argv[1:] == ["--record"]:
    import tempfile

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as root:
        out = compute(spark, root)
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as fh:
        fh.write("{\n" + ",\n".join(
            f"{json.dumps(name)}: [\n" + ",\n".join(
                json.dumps(hits, separators=(",", ":")) for hits in per_q)
            + "\n]" for name, per_q in sorted(out.items())) + "\n}\n")
    print({name: sum(map(len, v)) for name, v in sorted(out.items())})
