"""The benchmark's workloads, their set-up and their answer checks.

Both workloads share one set-up pass, run ``Scale.setup_passes`` times:
generate the seeded corpus with ``transcripts_distributed``, bulk-build
the base index with ``build_packed_index``, open a ``LocalSearcher`` on
it, answer a first query, and derive the seeded query stream from the
index's ``term_stats``. The first pass is cold and is the warmup: its
build is neither a ``build_turns_per_s`` sample nor in the per-layer
build figures. The last pass's index is the one the window uses.

- ``serve`` (read path): sessions until the window closes. A session
  opens a fresh searcher and runs the next slice of the query stream on
  it; every other session also sends one Spark-tier batch through
  ``bm25_topk_packed_batch`` and checks that batch against the exhaustive
  Spark path and the searcher.
- ``ingest`` (writes beside reads): rounds until the window closes. A
  round deletes one base conversation with ``delete_docs``, reopens the
  searcher and answers a slice of the stream, appends the next
  conversations with ``append_batch``, reopens and answers again, and
  sends one Spark-tier batch. Then
  ``compact_index`` folds every epoch, and the check queries must return
  what they returned before compaction.

All timings are taken here, around calls into the engine's public
functions; the engine only ever sees the generated inputs.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass
from typing import Dict, List, Optional

import numpy as np
from pyspark.sql import functions as F

from searchengine_spark.fixtures.transcripts import REFERENCE_QUERIES, transcripts_distributed
from searchengine_spark.indexing.codec import decode_postings, encode_posting_groups
from searchengine_spark.indexing.compact import compact_index
from searchengine_spark.indexing.deletes import delete_docs
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.indexing.snapshots import referenced_dirs
from searchengine_spark.query.cost import estimate_query_cost
from searchengine_spark.query.serve import LocalSearcher
from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs
from searchengine_spark.streaming.incremental import append_batch
from searchengine_spark.tokenizer import TokenizerConfig, tokenize_text

from measure import dir_bytes
from querygen import query_stream
from spans import Tracer

K = 10
#: 1024-doc postings chunks: hot terms span many chunks, so block-max
#: pruning has blocks to skip at this corpus size
CHUNK_DOCS = 1024
#: no stop list: the engine's default list lives outside the repository
CFG = TokenizerConfig(min_token_length=3)


@dataclass(frozen=True)
class Scale:
    conversations: int      # generated; the base is a prefix, appends follow
    base_turns: int         # the base is the shortest prefix with this many turns
    append_turns: int       # each append takes conversations up to this many turns
    setup_passes: int
    min_sessions: int       # serve sessions, at least
    min_rounds: int         # ingest rounds, at least
    session_queries: int    # stream queries per serve session
    round_queries: int      # stream queries per ingest round
    batch_queries: int      # queries per Spark-tier batch
    stream_len: int
    tokenize_sample: int


# Turn targets rather than conversation counts: conversation lengths are
# heavy-tailed, so a fixed count would change the corpus size from seed
# to seed and with it every timing.
FULL = Scale(conversations=300, base_turns=3000, append_turns=40, setup_passes=2,
             min_sessions=4, min_rounds=1, session_queries=500, round_queries=1000,
             batch_queries=16,
             stream_len=4000, tokenize_sample=2000)
TINY = Scale(conversations=60, base_turns=700, append_turns=10, setup_passes=2,
             min_sessions=2, min_rounds=2, session_queries=20, round_queries=20,
             batch_queries=4,
             stream_len=200, tokenize_sample=100)
#: ordinary fixture conversations have at most this many turns; longer
#: ones are the fixture's skew outliers, kept out of appends and deletes
#: so that every round does a like amount of work
MAX_ROUND_TURNS = 64


def conv_key(i: int) -> str:
    """conv_id of conversation ``i`` in ``transcripts_distributed``."""
    return f"conv{i:09d}"


class Run:
    """State of one benchmark run: samples, counters, spans."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float,
                 scale: Scale, tracer: Tracer, fail_check: bool = False):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.tracer = tracer
        self.fail_check = fail_check
        self.cores = spark.sparkContext.defaultParallelism
        self.samples: Dict[str, List[float]] = defaultdict(list)
        self.info: Dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.manifests: List[dict] = []  # of the warm set-up passes

    # ------------------------------------------------------------ plumbing

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return ok

    def attempt(self, name: str, fn):
        """Run one engine operation; a raise counts as a failed operation.
        Returns (ok, value)."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # the run goes on and reports the failure
            self.failed += 1
            print(f"OPERATION FAILED {name}:", file=sys.stderr)
            traceback.print_exc()
            return False, None

    def open(self, path: str, sample: Optional[str] = "open_s") -> LocalSearcher:
        t0 = time.perf_counter()
        with self.tracer.span("query.serve.LocalSearcher"):
            s = LocalSearcher(load_packed_index(self.spark, path), cfg=CFG)
        if sample:
            self.samples[sample].append(time.perf_counter() - t0)
        return s

    def search(self, searcher: LocalSearcher, q: str, sample: bool = True):
        t0 = time.perf_counter()
        with self.tracer.span("query.serve.LocalSearcher.search"):
            ok, res = self.attempt("search", lambda: searcher.search(q, k=K))
        if ok and sample:
            self.samples["query_ms"].append((time.perf_counter() - t0) * 1e3)
        return res

    def spark_batch(self, path: str, queries: List[str]):
        """One Spark-tier batch, resolved to external ids."""
        pidx = load_packed_index(self.spark, path)
        t0 = time.perf_counter()
        with self.tracer.span("query.wand.bm25_topk_packed_batch", n=len(queries)):
            ok, rows = self.attempt("spark batch", lambda: resolve_docs(
                pidx, bm25_topk_packed_batch(pidx, queries, CFG, k=K)).collect())
        if ok:
            self.samples["spark_batch_qps"].append(len(queries) / (time.perf_counter() - t0))
        return rows

    # -------------------------------------------------------------- set-up

    def setup(self) -> dict:
        """All set-up passes; returns the last pass's state."""
        state = {}
        for i in range(self.scale.setup_passes):
            t0 = time.perf_counter()
            with self.tracer.span("bench.setup_pass", index=i):
                state = self._setup_pass(i)
            self.samples["setup_s"].append(time.perf_counter() - t0)
        return state

    def _setup_pass(self, i: int) -> dict:
        sc = self.scale
        corpus_dir = os.path.join(self.dir, f"corpus{i}")
        with self.tracer.span("fixtures.transcripts.transcripts_distributed"):
            transcripts_distributed(
                self.spark, sc.conversations, seed=self.seed, n_partitions=self.cores,
            ).write.mode("overwrite").parquet(corpus_dir)
        corpus = self.spark.read.parquet(corpus_dir)
        with self.tracer.span("bench.count"):
            stats = (corpus.groupBy("conv_id")
                     .agg(F.count(F.lit(1)).alias("turns"),
                          F.sum(F.octet_length("text")).alias("bytes"))
                     .orderBy("conv_id").toPandas())
        turns = stats["turns"].to_numpy(np.int64)
        conv_bytes = stats["bytes"].to_numpy(np.int64)
        base_conv = min(int(np.searchsorted(np.cumsum(turns), sc.base_turns)) + 1, len(turns))
        n_rows = int(turns[:base_conv].sum())
        base = corpus.filter(F.col("conv_id") < conv_key(base_conv))
        path = os.path.join(self.dir, f"index{i}")
        t0 = time.perf_counter()
        with self.tracer.span("indexing.packed.build_packed_index", index=i):
            manifest = build_packed_index(base, CFG, path, chunk_docs=CHUNK_DOCS,
                                          n_partitions=self.cores)
        build_s = time.perf_counter() - t0
        searcher = self.open(path, sample=None)
        first = self.search(searcher, REFERENCE_QUERIES[0], sample=False)
        fresh_s = time.perf_counter() - t0
        if i > 0:  # the first pass is the warmup
            self.samples["build_turns_per_s"].append(n_rows / build_s)
            self.samples["bulk_freshness_s"].append(fresh_s)
            self.manifests.append(manifest)
        expect = n_rows + (1 if self.fail_check else 0)
        self.check("build n_docs", manifest["n_docs"] == expect,
                   f"manifest n_docs {manifest['n_docs']} != corpus rows {expect}")
        self.check("first answer", bool(first), "no hits for a reference query")
        ts = searcher.pidx.term_stats.select("term", "df").toPandas()
        stream = query_stream(ts["term"].tolist(), ts["df"].tolist(), sc.stream_len,
                              self.seed, REFERENCE_QUERIES, lambda q: tokenize_text(q, CFG))
        return {"corpus": corpus, "path": path, "searcher": searcher,
                "stream": stream, "turns": turns, "conv_bytes": conv_bytes,
                "base_conv": base_conv, "text_bytes": int(conv_bytes[:base_conv].sum())}

    # ------------------------------------------------------------- helpers

    def index_bytes(self, path: str) -> int:
        manifest = load_packed_index(self.spark, path).manifest
        files = [os.path.join(path, "manifest.json")]
        return dir_bytes(referenced_dirs(path, manifest) + files)

    def topk(self, searcher: LocalSearcher, queries: List[str]) -> List[list]:
        """Unresolved top-k (doc_id, score) per query, scores to 9 places."""
        out = []
        for q in queries:
            res = searcher.search(q, k=K, resolve=False)
            out.append([(r["doc_id"], round(r["score"], 9)) for r in res])
        return out

    def window_open(self, started: float, steps: int, min_steps: int,
                    seconds: Optional[float] = None) -> bool:
        """At least ``min_steps`` steps, then until ``seconds`` (by
        default the run's window) have passed."""
        seconds = self.seconds if seconds is None else seconds
        return steps < min_steps or time.perf_counter() - started < seconds


class Cursor:
    """Cycles through the query stream."""

    def __init__(self, queries: List[str], start: int = 0):
        self.queries = queries
        self.pos = start % len(queries)

    def take(self, n: int) -> List[str]:
        out = []
        for _ in range(n):
            out.append(self.queries[self.pos])
            self.pos = (self.pos + 1) % len(self.queries)
        return out


def _by_query(rows, n: int) -> List[list]:
    got = [dict() for _ in range(n)]
    for r in rows:
        got[r["query_id"]][r["rank"]] = (r["doc_id"], round(r["score"], 9))
    return [[d[k] for k in sorted(d)] for d in got]


# ------------------------------------------------------------------ serve


def serve_window(run: Run, state: dict, started_cursor: int = 0,
                 sessions: Optional[int] = None) -> None:
    """Serve sessions until the window closes, or exactly ``sessions``."""
    sc = run.scale
    path = state["path"]
    queries = Cursor(state["stream"].queries, started_cursor)
    batches = Cursor(state["stream"].queries, started_cursor + len(state["stream"].queries) // 2)
    fixed = sessions is not None
    started, done = time.perf_counter(), 0
    while run.window_open(started, done, sessions if fixed else sc.min_sessions,
                          0.0 if fixed else None):
        with run.tracer.span("bench.session"):
            searcher = run.open(path)
            for q in queries.take(sc.session_queries):
                run.search(searcher, q)
            # a Spark-tier batch, also the checked sample, in every other
            # session: that fits more query blocks in the window, and the
            # more of the window they span, the steadier the latency figure
            if done % 2 == 0:
                batch = batches.take(sc.batch_queries)
                rows = run.spark_batch(path, batch)
                with run.tracer.span("bench.check"):
                    _check_serve(run, searcher, batch, rows)
        done += 1
    run.info["sessions"] = run.info.get("sessions", 0) + done


def _check_serve(run: Run, searcher, batch: List[str], rows) -> None:
    pidx = searcher.pidx
    with run.tracer.span("query.wand.bm25_topk_packed_batch[exhaustive]"):
        ok, exact = run.attempt("exhaustive batch", lambda: bm25_topk_packed_batch(
            pidx, batch, CFG, k=K, exhaustive=True).collect())
    if not ok:
        return
    want = _by_query(exact, len(batch))
    local = run.topk(searcher, batch)
    for q, w, got in zip(batch, want, local):
        run.check("serve local == exhaustive", got == w, f"query {q!r}")
    if rows is not None:
        for q, w, got in zip(batch, want, _by_query(rows, len(batch))):
            run.check("serve batch == exhaustive", got == w, f"query {q!r}")


# ----------------------------------------------------------------- ingest


def ingest_window(run: Run, state: dict) -> None:
    """Rounds until the window closes. ``state`` carries the next
    conversation to append and the conversations deleted so far."""
    sc = run.scale
    path = state["path"]
    turns = state["turns"]
    state.setdefault("next_conv", state["base_conv"])
    state.setdefault("appended", [])
    state.setdefault("deleted", [])
    queries = Cursor(state["stream"].queries, state["next_conv"] * 7919)
    rng = np.random.default_rng([run.seed, state["next_conv"]])
    started, rounds = time.perf_counter(), 0
    while run.window_open(started, rounds, sc.min_rounds):
        convs = []
        c = state["next_conv"]
        while c < len(turns) and turns[convs].sum() < sc.append_turns:
            if turns[c] <= MAX_ROUND_TURNS:
                convs.append(c)
            c += 1
        victims = [v for v in range(state["base_conv"])
                   if turns[v] <= MAX_ROUND_TURNS and v not in state["deleted"]]
        if not convs or not victims:
            break
        state["next_conv"] = c
        with run.tracer.span("bench.round"):
            victim = int(rng.choice(victims))
            t0 = time.perf_counter()
            with run.tracer.span("indexing.deletes.delete_docs"):
                ok, _ = run.attempt("delete", lambda: delete_docs(
                    run.spark, path, where=f"conv_id = '{conv_key(victim)}'"))
            if ok:
                run.samples["delete_s"].append(time.perf_counter() - t0)
                state["deleted"].append(victim)
            deleted = {conv_key(v) for v in state["deleted"]}
            # a query block after each write: more blocks, spread over the
            # round, steady the latency figure
            _query_and_check_deleted(run, run.open(path), queries, sc.round_queries // 2,
                                     deleted)

            batch = state["corpus"].filter(F.col("conv_id").isin([conv_key(i) for i in convs]))
            before = load_packed_index(run.spark, path).manifest["n_docs"]
            t0 = time.perf_counter()
            with run.tracer.span("streaming.incremental.append_batch"):
                ok, manifest = run.attempt("append", lambda: append_batch(
                    batch, path, CFG, batch_id=convs[0]))
            if ok:
                run.samples["append_s"].append(time.perf_counter() - t0)
                state["appended"].extend(convs)
            searcher = run.open(path)
            first = run.search(searcher, queries.take(1)[0])
            if ok:
                run.samples["freshness_s"].append(time.perf_counter() - t0)
                n_new = int(turns[convs].sum())
                run.check("append n_docs", manifest["n_docs"] == before + n_new,
                          f"{manifest['n_docs']} != {before} + {n_new}")
            state["searcher"] = searcher
            _query_and_check_deleted(run, searcher, queries, sc.round_queries // 2, deleted,
                                     first)
            rows = run.spark_batch(path, queries.take(sc.batch_queries))
            with run.tracer.span("bench.check"):
                for r in rows or ():
                    run.check("batch hides deleted", r["conv_id"] not in deleted,
                              f"deleted {r['conv_id']} answered")
        rounds += 1
    run.info["rounds"] = run.info.get("rounds", 0) + rounds


def _query_and_check_deleted(run: Run, searcher, queries: Cursor, n: int, deleted: set,
                             first=None) -> None:
    results = [first] if first is not None else []
    for q in queries.take(n):
        results.append(run.search(searcher, q))
    with run.tracer.span("bench.check"):
        for res in results:
            hit = [r["conv_id"] for r in res or () if r["conv_id"] in deleted]
            run.check("search hides deleted", not hit, f"deleted {hit} answered")


def ingest_compact(run: Run, state: dict) -> None:
    """Compaction, the before/after identity check and the final size."""
    path = state["path"]
    probe = state["stream"].queries[:run.scale.batch_queries]
    before = run.topk(state["searcher"], probe)
    run.info["epochs"] = _epochs(load_packed_index(run.spark, path).manifest)
    t0 = time.perf_counter()
    with run.tracer.span("indexing.compact.compact_index"):
        ok, _ = run.attempt("compact", lambda: compact_index(run.spark, path))
    if ok:
        run.samples["compact_s"].append(time.perf_counter() - t0)
    searcher = run.open(path)
    with run.tracer.span("bench.check"):
        after = run.topk(searcher, probe)
        for q, b, a in zip(probe, before, after):
            run.check("compaction keeps answers", a == b, f"query {q!r}")
    deleted = {conv_key(v) for v in state["deleted"]}
    _query_and_check_deleted(run, searcher, Cursor(state["stream"].queries, 1),
                             run.scale.round_queries // 2, deleted)
    state["searcher"] = searcher
    cb = state["conv_bytes"]
    state["text_bytes"] = int(cb[:state["base_conv"]].sum() + cb[state["appended"]].sum()
                              - cb[state["deleted"]].sum())


def _epochs(manifest: dict) -> int:
    return len(manifest.get("appends", [])) + len(manifest.get("deletes", []))


# ------------------------------------------------------------ layer probes


def layer_probes(run: Run, state: dict) -> Dict[str, float]:
    """Traced-run probes of single layers over this run's own data:
    tokenizer and codec throughput, the cost estimate of the stream."""
    out: Dict[str, float] = {}
    sample = (state["corpus"].select("conv_id", "turn_idx", "text")
              .orderBy("conv_id", "turn_idx").limit(run.scale.tokenize_sample)
              .toPandas()["text"].tolist())
    t0 = time.perf_counter()
    with run.tracer.span("tokenizer.tokenize_text", n=len(sample)):
        for text in sample:
            tokenize_text(text, CFG)
    out["tokenizer.tokenize_text_us_per_turn"] = (time.perf_counter() - t0) / len(sample) * 1e6

    pidx = load_packed_index(run.spark, state["path"])
    bufs = [bytes(b) for b in pidx.index.select("postings").toPandas()["postings"]]
    t0 = time.perf_counter()
    with run.tracer.span("indexing.codec.decode_postings", n=len(bufs)):
        decoded = [decode_postings(b) for b in bufs]
    dec_s = time.perf_counter() - t0
    docs = np.concatenate([d[0] for d in decoded])
    tfs = np.concatenate([d[1] for d in decoded])
    dlqs = np.round(np.concatenate([d[2] for d in decoded]) * 1000.0).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum([len(d[0]) for d in decoded])[:-1]))
    t0 = time.perf_counter()
    with run.tracer.span("indexing.codec.encode_posting_groups", n=len(bufs)):
        encoded = encode_posting_groups(starts, docs, tfs, dlqs)[0]
    enc_s = time.perf_counter() - t0
    run.check("codec round trip", encoded == bufs, "re-encoded buffers differ")
    out["indexing.codec.decode_mpostings_per_s"] = len(docs) / dec_s / 1e6
    out["indexing.codec.encode_mpostings_per_s"] = len(docs) / enc_s / 1e6

    queries = state["stream"].queries
    with run.tracer.span("query.cost.estimate_query_cost", n=len(queries)):
        est = estimate_query_cost(pidx, queries, CFG)
    out["query.cost.sum_df_per_query"] = sum(e["cost"] for e in est) / len(est)
    return out
