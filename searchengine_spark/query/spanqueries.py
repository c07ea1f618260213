"""ES span queries: ``span_first`` and ``span_not`` over the positional
index.

The reference engine has no span queries; these are the task-spec
extension axis (SURVEY.md §2.5) completing the positional family next to
phrase (span_near in_order), minspan (unordered cover) and slop:

- **span_first(term, end)** (ES/Lucene SpanFirstQuery): a doc matches
  when ``term`` occurs at an analyzed position ``< end``. Positions are
  filtered-token sequence indices — the same payload the ``_analyze``
  contract exposes, which is exactly what Lucene's ``end`` counts
  (analyzer-chain positions, not raw character offsets).
- **span_not(include, exclude, pre, post)** (ES/Lucene SpanNotQuery):
  an occurrence of ``include`` survives unless some occurrence of
  ``exclude`` lies within ``[pos - pre, pos + post]``; a doc matches when
  at least one occurrence survives. ``pre = post = 0`` is the classic
  "not at the same position" degenerate (never triggered by single-term
  spans at distinct positions, but kept for the ES parameter surface).

Deterministic integer ranking (the boolean/minspan family policy — no
float score, so the driver oracle hash-gates with no rounding protocol):

- span_first: ``(first_pos ASC, doc_id ASC)`` — earliest mention first —
  emitting ``n_within`` (occurrences before ``end``) and ``first_pos``.
- span_not: ``(n_clear DESC, doc_id ASC)`` — most surviving occurrences
  first — emitting ``n_clear`` and ``first_clear``.

Execution shape: the exact path is ALL-NATIVE Catalyst — a broadcast
query join plus higher-order ``filter``/``exists`` lambdas over the
stored positions arrays (zero Python in the hot path; the per-doc work
is O(|inc| · |exc|) inside codegen). The packed path reuses the pruned
chunk scan -> per-(query, chunk) Arrow kernel shape of minspan
(spans.py): chunk boundaries are doc-range cuts shared by every term, so
include and exclude postings for a doc co-reside in one group and the
per-doc decision is exact there; each group emits at most k rows and a
global window re-ranks. LocalSearcher serving runs the same kernel
in-process (gated identical).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..indexing.build import IndexTables
from ..tokenizer import TokenizerConfig, tokenize_text

_FIRST_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_within", T.LongType(), False),
        T.StructField("first_pos", T.LongType(), False),
        T.StructField("rank", T.LongType(), False),
    ]
)

_NOT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_clear", T.LongType(), False),
        T.StructField("first_clear", T.LongType(), False),
        T.StructField("rank", T.LongType(), False),
    ]
)

# span keys pack (doc_id, position) into one int64 for searchsorted window
# probes — same stride discipline as spans._min_spans_vectorized
_STRIDE = np.int64(1) << np.int64(32)


def _one_term(text: str, cfg: TokenizerConfig, what: str) -> str:
    """Span clauses take exactly one term THROUGH the query tokenize
    chain (a multi-token input is a span_near, not a span_term)."""
    terms = list(dict.fromkeys(tokenize_text(text, cfg)))
    if len(terms) != 1:
        raise ValueError(
            f"{what} must tokenize to exactly one term, got {terms!r} "
            f"from {text!r}"
        )
    return terms[0]


# ------------------------------------------------------------ span_first


def span_first_topk_batch(
    it: IndexTables,
    queries: Sequence[Tuple[str, int]],
    cfg: TokenizerConfig,
    k: int | None = 10,
) -> DataFrame:
    """Exact-path span_first over a positional ``build_index`` ->
    (query_id, doc_id, n_within, first_pos, rank). ``queries`` is a list
    of (term_text, end) pairs; rank by (first_pos ASC, doc_id ASC)."""
    if "positions" not in it.index.columns:
        raise ValueError("span_first needs a positional index")
    spark = it.index.sparkSession
    rows = []
    for qid, (qs, end) in enumerate(queries):
        if end <= 0:
            raise ValueError(f"span_first end must be positive, got {end}")
        rows.append((qid, _one_term(qs, cfg, "span_first term"), int(end)))
    if not rows:
        return spark.createDataFrame([], _FIRST_SCHEMA)
    qdf = spark.createDataFrame(rows, "query_id int, term string, end_pos long")
    m = it.index.join(F.broadcast(qdf), "term")
    # bind the filtered array once (its own select) before deriving from it
    w = m.select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.filter(
            F.col("positions").cast("array<long>"),
            lambda p: p < F.col("end_pos"),
        ).alias("w"),
    )
    hits = w.select(
        "query_id",
        "doc_id",
        F.size("w").cast("long").alias("n_within"),
        F.array_min("w").cast("long").alias("first_pos"),
    ).filter(F.col("n_within") > 0)
    win = Window.partitionBy("query_id").orderBy(
        F.asc("first_pos"), F.asc("doc_id")
    )
    ranked = hits.withColumn("rank", F.row_number().over(win).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("query_id", "doc_id", "n_within", "first_pos", "rank")


def _span_first_kernel(docs: np.ndarray, pos: np.ndarray, end: int):
    """(occurrence doc, pos) arrays -> per-doc (doc, n_within, first_pos)
    for docs with >= 1 position < end. Vectorized; O(N log N)."""
    mask = pos < end
    if not mask.any():
        e = np.empty(0, np.int64)
        return e, e, e
    d, p = docs[mask], pos[mask]
    order = np.lexsort((p, d))
    d, p = d[order], p[order]
    first = np.concatenate(([True], d[1:] != d[:-1]))
    starts = np.flatnonzero(first)
    counts = np.diff(np.concatenate((starts, [len(d)])))
    return d[first], counts.astype(np.int64), p[first]


def _span_not_kernel(
    inc_docs: np.ndarray,
    inc_pos: np.ndarray,
    exc_docs: np.ndarray,
    exc_pos: np.ndarray,
    pre: int,
    post: int,
):
    """Include/exclude occurrence arrays -> per-doc (doc, n_clear,
    first_clear) for docs with >= 1 include occurrence no exclude
    occurrence shadows. searchsorted window probes over packed
    (doc, pos) int64 keys; O((N+M) log M)."""
    # positions live below 2^32, so wider windows are saturating
    pre = min(int(pre), (1 << 32) - 1)
    post = min(int(post), (1 << 32) - 1)
    for arr, bound, name in (
        (inc_docs, 1 << 31, "doc_id"),
        (exc_docs, 1 << 31, "doc_id"),
        (inc_pos, 1 << 31, "position"),
        (exc_pos, 1 << 32, "position"),
    ):
        if arr.size and int(arr.max()) >= bound:
            raise ValueError(f"{name} exceeds the span key stride")
    if not inc_docs.size:
        e = np.empty(0, np.int64)
        return e, e, e
    if exc_docs.size:
        keys = np.sort(exc_docs * _STRIDE + exc_pos)
        lo = inc_docs * _STRIDE + np.maximum(inc_pos - np.int64(pre), 0)
        # clamp the window end inside this doc's key range (positions are
        # < 2^32, so the clamp never drops a real exclude occurrence)
        hi = inc_docs * _STRIDE + np.minimum(
            inc_pos + np.int64(post), _STRIDE - 1
        )
        survive = np.searchsorted(keys, lo, "left") == np.searchsorted(
            keys, hi, "right"
        )
    else:
        survive = np.ones(len(inc_docs), dtype=bool)
    if not survive.any():
        e = np.empty(0, np.int64)
        return e, e, e
    d, p = inc_docs[survive], inc_pos[survive]
    order = np.lexsort((p, d))
    d, p = d[order], p[order]
    first = np.concatenate(([True], d[1:] != d[:-1]))
    starts = np.flatnonzero(first)
    counts = np.diff(np.concatenate((starts, [len(d)])))
    return d[first], counts.astype(np.int64), p[first]


def span_not_topk_batch(
    it: IndexTables,
    queries: Sequence[Tuple[str, str]],
    cfg: TokenizerConfig,
    pre: int = 0,
    post: int = 0,
    k: int | None = 10,
) -> DataFrame:
    """Exact-path span_not -> (query_id, doc_id, n_clear, first_clear,
    rank). ``queries`` is a list of (include_text, exclude_text) pairs;
    rank by (n_clear DESC, doc_id ASC). All-native: broadcast query
    joins + a higher-order exists() probe per include occurrence."""
    if "positions" not in it.index.columns:
        raise ValueError("span_not needs a positional index")
    if pre < 0 or post < 0:
        raise ValueError("pre/post must be >= 0")
    spark = it.index.sparkSession
    inc_rows, exc_rows = [], []
    for qid, (inc_q, exc_q) in enumerate(queries):
        inc_t = _one_term(inc_q, cfg, "span_not include")
        exc_t = _one_term(exc_q, cfg, "span_not exclude")
        if inc_t == exc_t:
            raise ValueError(
                f"span_not include and exclude are the same term {inc_t!r}"
            )
        inc_rows.append((qid, inc_t))
        exc_rows.append((qid, exc_t))
    if not inc_rows:
        return spark.createDataFrame([], _NOT_SCHEMA)
    qinc = spark.createDataFrame(inc_rows, "query_id int, term string")
    qexc = spark.createDataFrame(exc_rows, "query_id int, term string")
    # rename-join: both sides derive from it.index (shared cached parent),
    # so the exclude side gets fully distinct column names before the join
    inc_m = it.index.join(F.broadcast(qinc), "term").select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("positions").cast("array<long>").alias("inc_pos"),
    )
    exc_m = it.index.join(F.broadcast(qexc), "term").select(
        F.col("query_id").alias("_eq"),
        F.col("doc_id").cast("long").alias("_ed"),
        F.col("positions").cast("array<long>").alias("exc_pos"),
    )
    joined = inc_m.join(
        exc_m,
        (F.col("query_id") == F.col("_eq")) & (F.col("doc_id") == F.col("_ed")),
        "left",
    )
    cleared = joined.select(
        "query_id",
        "doc_id",
        F.when(F.col("exc_pos").isNull(), F.col("inc_pos"))
        .otherwise(
            F.filter(
                F.col("inc_pos"),
                lambda p: ~F.exists(
                    F.col("exc_pos"),
                    lambda e: (e >= p - F.lit(int(pre)))
                    & (e <= p + F.lit(int(post))),
                ),
            )
        )
        .alias("clear"),
    )
    hits = cleared.select(
        "query_id",
        "doc_id",
        F.size("clear").cast("long").alias("n_clear"),
        F.array_min("clear").cast("long").alias("first_clear"),
    ).filter(F.col("n_clear") > 0)
    win = Window.partitionBy("query_id").orderBy(
        F.desc("n_clear"), F.asc("doc_id")
    )
    ranked = hits.withColumn("rank", F.row_number().over(win).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(
        "query_id", "doc_id", "n_clear", "first_clear", "rank"
    )


# ------------------------------------------------------- packed serving


def _decode_occurrences(rows, dec, dec_pos):
    """Packed (postings, positions) rows -> flat (doc, pos) occurrence
    arrays (delete-mask-aware via the wrapped decoders)."""
    docs_l, pos_l = [], []
    for row in rows:
        doc_ids, tfs, _ = dec(row.postings)
        if not len(doc_ids):
            continue
        flat, _occ = dec_pos(row.positions, tfs)
        docs_l.append(np.repeat(doc_ids.astype(np.int64), tfs))
        pos_l.append(flat.astype(np.int64))
    if not docs_l:
        e = np.empty(0, np.int64)
        return e, e
    return np.concatenate(docs_l), np.concatenate(pos_l)


def _packed_span_scorer(kind: str, spec: Dict[int, tuple], k_top, dec, dec_pos):
    """Per-(query, chunk) Arrow kernel for both span queries. ``spec``:
    qid -> (term, end) for span_first, (inc_term, exc_term, pre, post)
    for span_not."""

    cols = {
        "first": ("n_within", "first_pos"),
        "not": ("n_clear", "first_clear"),
        "within": ("n_within", "first_within"),
        "containing": ("n_containing", "first_pos"),
    }[kind]

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..indexing.codec import decode_positions, decode_postings

        d = dec or (lambda buf: decode_postings(bytes(buf)))
        dp = dec_pos or (lambda buf, tfs: decode_positions(bytes(buf), tfs))
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int32"),
                "doc_id": pd.Series([], dtype="int64"),
                cols[0]: pd.Series([], dtype="int64"),
                cols[1]: pd.Series([], dtype="int64"),
                "rank": pd.Series([], dtype="int64"),
            }
        )
        if not len(pdf):
            return empty
        qid = int(pdf["query_id"].iloc[0])
        if kind == "first":
            term, end = spec[qid]
            rows = [r for r in pdf.itertuples(index=False) if r.term == term]
            docs, pos = _decode_occurrences(rows, d, dp)
            out_d, out_n, out_f = _span_first_kernel(docs, pos, end)
            order = np.lexsort((out_d, out_f))
        elif kind in ("within", "containing"):
            ta, tb, tc, width = spec[qid]
            occ = {}
            for t in (ta, tb, tc):
                rows = [r for r in pdf.itertuples(index=False) if r.term == t]
                occ[t] = _decode_occurrences(rows, d, dp)
            kern = (_span_within_kernel if kind == "within"
                    else _span_containing_kernel)
            out_d, out_n, out_f = kern(
                occ[ta][0], occ[ta][1], occ[tb][0], occ[tb][1],
                occ[tc][0], occ[tc][1], width)
            order = np.lexsort((out_d, -out_n))
        else:
            inc_t, exc_t, pre, post = spec[qid]
            inc_rows = [r for r in pdf.itertuples(index=False) if r.term == inc_t]
            exc_rows = [r for r in pdf.itertuples(index=False) if r.term == exc_t]
            i_docs, i_pos = _decode_occurrences(inc_rows, d, dp)
            e_docs, e_pos = _decode_occurrences(exc_rows, d, dp)
            out_d, out_n, out_f = _span_not_kernel(
                i_docs, i_pos, e_docs, e_pos, pre, post
            )
            order = np.lexsort((out_d, -out_n))
        if not len(out_d):
            return empty
        if k_top is not None:
            order = order[:k_top]
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": out_d[order],
                cols[0]: out_n[order],
                cols[1]: out_f[order],
                "rank": np.arange(1, len(order) + 1),
            }
        )

    return score_group


def _packed_span_batch(pidx, spec: Dict[int, tuple], kind: str, k):
    """Shared packed plan: pruned chunk scan for every query's terms ->
    per-(query, chunk) kernel (at most k rows each) -> global re-rank."""
    if not pidx.manifest.get("positional"):
        raise ValueError("packed index was not built with positional=True")
    spark = pidx.spark
    schema = {
        "first": _FIRST_SCHEMA,
        "not": _NOT_SCHEMA,
        "within": _WITHIN_SCHEMA,
        "containing": _CONTAINING_SCHEMA,
    }[kind]
    n_terms = {"first": 1, "not": 2, "within": 3, "containing": 3}[kind]
    rows = []
    for qid, tup in spec.items():
        rows.extend((qid, t) for t in tup[:n_terms])
    if not rows:
        return spark.createDataFrame([], schema)
    all_terms = sorted({t for _, t in rows})
    pruned = pidx.index.filter(F.col("term").isin(all_terms))
    qids_by_term: Dict[str, List[int]] = {}
    for qid, t in rows:
        qids_by_term.setdefault(t, []).append(qid)
    map_entries = [
        x
        for t, qs in qids_by_term.items()
        for x in (F.lit(t), F.array(*[F.lit(q) for q in qs]))
    ]
    matched = pruned.withColumn(
        "query_id", F.explode(F.create_map(*map_entries)[F.col("term")])
    ).select("query_id", "chunk", "term", "postings", "positions")
    mask = pidx.delete_mask()
    dec, dec_pos = mask.wrap_decoders() if mask is not None else (None, None)
    scorer = _packed_span_scorer(kind, spec, k, dec, dec_pos)
    part = matched.groupBy("query_id", "chunk").applyInPandas(
        scorer, schema=schema
    )
    metric, first_col = {
        "first": ("n_within", "first_pos"),
        "not": ("n_clear", "first_clear"),
        "within": ("n_within", "first_within"),
        "containing": ("n_containing", "first_pos"),
    }[kind]
    order = (
        [F.asc(first_col), F.asc("doc_id")]
        if kind == "first"
        else [F.desc(metric), F.asc("doc_id")]
    )
    win = Window.partitionBy("query_id").orderBy(*order)
    ranked = part.withColumn("rank", F.row_number().over(win).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("query_id", "doc_id", metric, first_col, "rank")


def span_first_topk_packed_batch(
    pidx,
    queries: Sequence[Tuple[str, int]],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Packed-path twin of :func:`span_first_topk_batch` (gated ==)."""
    cfg = cfg or TokenizerConfig.from_manifest(pidx.manifest.get("tokenizer", {}))
    spec = {}
    for qid, (qs, end) in enumerate(queries):
        if end <= 0:
            raise ValueError(f"span_first end must be positive, got {end}")
        spec[qid] = (_one_term(qs, cfg, "span_first term"), int(end))
    return _packed_span_batch(pidx, spec, "first", k)


def span_not_topk_packed_batch(
    pidx,
    queries: Sequence[Tuple[str, str]],
    cfg: TokenizerConfig | None = None,
    pre: int = 0,
    post: int = 0,
    k: int | None = 10,
) -> DataFrame:
    """Packed-path twin of :func:`span_not_topk_batch` (gated ==)."""
    if pre < 0 or post < 0:
        raise ValueError("pre/post must be >= 0")
    cfg = cfg or TokenizerConfig.from_manifest(pidx.manifest.get("tokenizer", {}))
    spec = {}
    for qid, (inc_q, exc_q) in enumerate(queries):
        inc_t = _one_term(inc_q, cfg, "span_not include")
        exc_t = _one_term(exc_q, cfg, "span_not exclude")
        if inc_t == exc_t:
            raise ValueError(
                f"span_not include and exclude are the same term {inc_t!r}"
            )
        spec[qid] = (inc_t, exc_t, int(pre), int(post))
    return _packed_span_batch(pidx, spec, "not", k)


def _abc_spec(queries, cfg, what):
    spec = {}
    for qid, (big_a, big_b, little, width) in enumerate(queries):
        if width < 1:
            raise ValueError(f"{what} width must be >= 1, got {width}")
        a = _one_term(big_a, cfg, f"{what} big_a")
        b = _one_term(big_b, cfg, f"{what} big_b")
        c = _one_term(little, cfg, f"{what} little")
        if len({a, b, c}) != 3:
            raise ValueError(
                f"{what} terms must be three distinct analyzed terms, "
                f"got {a!r}/{b!r}/{c!r}")
        spec[qid] = (a, b, c, int(width))
    return spec


def span_within_topk_packed_batch(
    pidx,
    queries: Sequence[Tuple[str, str, str, int]],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Packed-path twin of :func:`span_within_topk_batch` (gated ==).
    Chunk boundaries are doc-range cuts shared by every term, so all
    three terms' occurrences for a doc co-reside in one group; the
    per-chunk k-cut is loss-free under the (count desc, doc asc) order
    (a global top-k doc is top-k within its own chunk)."""
    cfg = cfg or TokenizerConfig.from_manifest(pidx.manifest.get("tokenizer", {}))
    return _packed_span_batch(
        pidx, _abc_spec(queries, cfg, "span_within"), "within", k)


def span_containing_topk_packed_batch(
    pidx,
    queries: Sequence[Tuple[str, str, str, int]],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Packed-path twin of :func:`span_containing_topk_batch` (gated
    ==)."""
    cfg = cfg or TokenizerConfig.from_manifest(pidx.manifest.get("tokenizer", {}))
    return _packed_span_batch(
        pidx, _abc_spec(queries, cfg, "span_containing"), "containing", k)


# -------------------------------------------------------- local serving


def _local_span(searcher, spec: tuple, kind: str, k: int | None):
    n_terms = {"first": 1, "not": 2, "within": 3, "containing": 3}[kind]
    terms = list(spec[:n_terms])
    pdf = searcher._matched(terms)
    present = set(pdf["term"]) if pdf is not None else set()
    if terms[0] not in present:
        return []  # no include/big occurrences at all
    if kind in ("within", "containing") and any(t not in present
                                                for t in terms):
        return []  # inner semantics: all three terms must occur
    scorer = _packed_span_scorer(
        kind, {0: spec}, k, searcher._dec, searcher._dec_pos
    )
    return scorer(pdf)


def local_span_first(searcher, term_text: str, end: int, k: int | None = 10,
                     resolve: bool = True) -> List[dict]:
    """In-process span_first off a LocalSearcher (same kernel as the
    distributed packed path, gated identical)."""
    if not searcher._positional:
        raise ValueError("packed index was not built with positional=True")
    if end <= 0:
        raise ValueError(f"span_first end must be positive, got {end}")
    spec = (_one_term(term_text, searcher.cfg, "span_first term"), int(end))
    out = _local_span(searcher, spec, "first", k)
    return _resolve_span_rows(searcher, out, ("n_within", "first_pos"), resolve)


def local_span_not(searcher, include: str, exclude: str, pre: int = 0,
                   post: int = 0, k: int | None = 10,
                   resolve: bool = True) -> List[dict]:
    """In-process span_not off a LocalSearcher (same kernel as the
    distributed packed path, gated identical)."""
    if not searcher._positional:
        raise ValueError("packed index was not built with positional=True")
    if pre < 0 or post < 0:
        raise ValueError("pre/post must be >= 0")
    inc_t = _one_term(include, searcher.cfg, "span_not include")
    exc_t = _one_term(exclude, searcher.cfg, "span_not exclude")
    if inc_t == exc_t:
        raise ValueError(
            f"span_not include and exclude are the same term {inc_t!r}"
        )
    out = _local_span(searcher, (inc_t, exc_t, int(pre), int(post)), "not", k)
    return _resolve_span_rows(searcher, out, ("n_clear", "first_clear"), resolve)


def local_span_within(searcher, big_a: str, big_b: str, little: str,
                      width: int = 8, k: int | None = 10,
                      resolve: bool = True) -> List[dict]:
    """In-process span_within off a LocalSearcher (same kernel as the
    distributed packed path, gated identical)."""
    if not searcher._positional:
        raise ValueError("packed index was not built with positional=True")
    spec = _abc_spec([(big_a, big_b, little, width)], searcher.cfg,
                     "span_within")[0]
    out = _local_span(searcher, spec, "within", k)
    return _resolve_span_rows(
        searcher, out, ("n_within", "first_within"), resolve)


def local_span_containing(searcher, big_a: str, big_b: str, little: str,
                          width: int = 8, k: int | None = 10,
                          resolve: bool = True) -> List[dict]:
    """In-process span_containing off a LocalSearcher (same kernel as
    the distributed packed path, gated identical)."""
    if not searcher._positional:
        raise ValueError("packed index was not built with positional=True")
    spec = _abc_spec([(big_a, big_b, little, width)], searcher.cfg,
                     "span_containing")[0]
    out = _local_span(searcher, spec, "containing", k)
    return _resolve_span_rows(
        searcher, out, ("n_containing", "first_pos"), resolve)


def _resolve_span_rows(searcher, out, cols, resolve):
    if isinstance(out, list) or not len(out):
        return []
    extras = {
        int(d): (int(a), int(b))
        for d, a, b in zip(out["doc_id"], out[cols[0]], out[cols[1]])
    }
    rows = searcher._resolve(
        out.assign(score=0.0)[["query_id", "doc_id", "score", "rank"]], resolve
    )
    for r in rows:
        r[cols[0]], r[cols[1]] = extras[r["doc_id"]]
        r.pop("score", None)
    return rows


# ---------------------------------------------- span_within / containing


def _perdoc_sorted(docs: np.ndarray, pos: np.ndarray) -> dict:
    """Flat (doc, pos) occurrence arrays -> {doc: sorted positions}."""
    if not len(docs):
        return {}
    order = np.lexsort((pos, docs))
    d, p = docs[order], pos[order]
    uniq, starts = np.unique(d, return_index=True)
    return dict(zip(uniq.tolist(), np.split(p, starts[1:])))


def _span_within_kernel(ad, ap, bd, bp, cd, cp, width):
    """(doc, n_within, first_within) per doc: little (c) occurrences
    covered by the union of [a, bm(a)] intervals, where bm(a) = the
    LARGEST b in (a, a+width] (covering with the widest window per a is
    equivalent to checking every window). Vectorized per doc:
    searchsorted + running-max interval cover, O((|a|+|c|) log)."""
    A, B, C = (_perdoc_sorted(ad, ap), _perdoc_sorted(bd, bp),
               _perdoc_sorted(cd, cp))
    out_d, out_n, out_f = [], [], []
    for doc in sorted(set(A) & set(B) & set(C)):
        a, b, c = A[doc], B[doc], C[doc]
        idx = np.searchsorted(b, a + width, side="right") - 1
        valid = (idx >= 0) & (b[np.maximum(idx, 0)] > a)
        if not valid.any():
            continue
        starts, ends = a[valid], b[idx[valid]]
        run_end = np.maximum.accumulate(ends)
        ci = np.searchsorted(starts, c, side="right") - 1
        ok = (ci >= 0) & (run_end[np.maximum(ci, 0)] >= c)
        if ok.any():
            hits = c[ok]
            out_d.append(doc)
            out_n.append(len(hits))
            out_f.append(int(hits.min()))
    return (np.asarray(out_d, np.int64), np.asarray(out_n, np.int64),
            np.asarray(out_f, np.int64))


def _span_containing_kernel(ad, ap, bd, bp, cd, cp, width):
    """(doc, n_containing, first_pos) per doc: for each a, windows
    (a, b <= a+width] containing a c reduce to counting b in
    [max(a+1, c_lo(a)), a+width] with c_lo(a) = first c >= a — a window
    [a, b] contains a c iff the smallest c >= a is <= b. Vectorized."""
    A, B, C = (_perdoc_sorted(ad, ap), _perdoc_sorted(bd, bp),
               _perdoc_sorted(cd, cp))
    out_d, out_n, out_f = [], [], []
    for doc in sorted(set(A) & set(B) & set(C)):
        a, b, c = A[doc], B[doc], C[doc]
        cli = np.searchsorted(c, a)
        has_c = cli < len(c)
        c_lo = c[np.minimum(cli, len(c) - 1)]
        lo = np.maximum(a + 1, c_lo)
        cnt = (np.searchsorted(b, a + width, side="right")
               - np.searchsorted(b, lo))
        cnt = np.where(has_c, np.maximum(cnt, 0), 0)
        total = int(cnt.sum())
        if total > 0:
            out_d.append(doc)
            out_n.append(total)
            out_f.append(int(a[cnt > 0].min()))
    return (np.asarray(out_d, np.int64), np.asarray(out_n, np.int64),
            np.asarray(out_f, np.int64))

_WITHIN_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_within", T.LongType(), False),
        T.StructField("first_within", T.LongType(), False),
        T.StructField("rank", T.LongType(), False),
    ]
)

_CONTAINING_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_containing", T.LongType(), False),
        T.StructField("first_pos", T.LongType(), False),
        T.StructField("rank", T.LongType(), False),
    ]
)


def _abc_positions(it: IndexTables, rows, extra_cols: str) -> DataFrame:
    """Shared little/big position assembly: broadcast the (query, role,
    term) map against the positional index, pivot the three roles' doc-
    local position arrays onto one row per (query, doc). Inner
    semantics: the doc must contain all three terms."""
    spark = it.index.sparkSession
    qdf = spark.createDataFrame(
        rows, f"query_id int, term string, role string{extra_cols}")
    m = it.index.join(F.broadcast(qdf), "term")
    pos = F.col("positions").cast("array<long>")
    piv = (
        m.select("query_id", F.col("doc_id").cast("long").alias("doc_id"),
                 "role", pos.alias("p"),
                 *[c.strip().split()[0] for c in extra_cols.split(",") if c.strip()])
        .groupBy("query_id", "doc_id")
        .agg(
            F.first(F.when(F.col("role") == "a", F.col("p")),
                    ignorenulls=True).alias("pa"),
            F.first(F.when(F.col("role") == "b", F.col("p")),
                    ignorenulls=True).alias("pb"),
            F.first(F.when(F.col("role") == "c", F.col("p")),
                    ignorenulls=True).alias("pc"),
            *[F.first(c.strip().split()[0]).alias(c.strip().split()[0])
              for c in extra_cols.split(",") if c.strip()],
        )
        .filter(F.col("pa").isNotNull() & F.col("pb").isNotNull()
                & F.col("pc").isNotNull())
    )
    return piv


def _abc_rows(queries, cfg, what):
    """(qid, term, role, width) rows — same validation as the packed
    path's spec (ONE validator, see _abc_spec)."""
    rows = []
    for qid, (a, b, c, width) in _abc_spec(queries, cfg, what).items():
        rows.extend([(qid, a, "a", width), (qid, b, "b", width),
                     (qid, c, "c", width)])
    return rows


def span_within_topk_batch(
    it: IndexTables,
    queries: Sequence[Tuple[str, str, str, int]],
    cfg: TokenizerConfig,
    k: int | None = 10,
) -> DataFrame:
    """ES/Lucene ``span_within`` -> (query_id, doc_id, n_within,
    first_within, rank): occurrences of ``little`` that lie inside some
    BIG span, where the big clause is the ordered pair (big_a, big_b) —
    every window [pa, pb] with an occurrence of big_a at pa, of big_b at
    pb, pa < pb <= pa + width (analyzed positions; the deterministic
    enumerable-window contract, so the oracle replays it as EXISTS
    bounds). ``queries`` is a list of (big_a, big_b, little, width).
    Docs rank (n_within DESC, doc_id ASC) — the span-family integer
    ranking, no float protocol. All-native HOF plan: broadcast term map,
    one pivot groupBy, filter/exists lambdas in codegen."""
    if "positions" not in it.index.columns:
        raise ValueError("span_within needs a positional index")
    spark = it.index.sparkSession
    rows = _abc_rows(queries, cfg, "span_within")
    if not rows:
        return spark.createDataFrame([], _WITHIN_SCHEMA)
    piv = _abc_positions(it, rows, ", width long")
    # bind the qualifying-little array ONCE (HOF rebind rule), then
    # size/min derive from the bound column
    within = F.filter(
        F.col("pc"),
        lambda pc: F.exists(
            F.col("pa"),
            lambda pa: (pa <= pc) & F.exists(
                F.col("pb"),
                lambda pb: (pb >= pc) & (pb > pa)
                & (pb <= pa + F.col("width")),
            ),
        ),
    )
    bound = piv.select("query_id", "doc_id", within.alias("_w"))
    hits = bound.select(
        "query_id", "doc_id",
        F.size("_w").cast("long").alias("n_within"),
        F.array_min("_w").cast("long").alias("first_within"),
    ).filter(F.col("n_within") > 0)
    win = Window.partitionBy("query_id").orderBy(
        F.desc("n_within"), F.asc("doc_id"))
    ranked = hits.withColumn("rank", F.row_number().over(win).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(
        "query_id", "doc_id", "n_within", "first_within", "rank")


def span_containing_topk_batch(
    it: IndexTables,
    queries: Sequence[Tuple[str, str, str, int]],
    cfg: TokenizerConfig,
    k: int | None = 10,
) -> DataFrame:
    """ES/Lucene ``span_containing`` -> (query_id, doc_id,
    n_containing, rank): BIG spans (the same enumerable (pa, pb < pa +
    width] window contract as :func:`span_within_topk_batch`) that
    contain at least one occurrence of ``little``; ``n_containing``
    counts the qualifying (pa, pb) windows, ``first_pos`` is the
    earliest qualifying window start. Ranking (n_containing DESC,
    doc_id ASC)."""
    if "positions" not in it.index.columns:
        raise ValueError("span_containing needs a positional index")
    spark = it.index.sparkSession
    rows = _abc_rows(queries, cfg, "span_containing")
    if not rows:
        return spark.createDataFrame([], _CONTAINING_SCHEMA)
    piv = _abc_positions(it, rows, ", width long")
    n_cont = F.aggregate(
        F.col("pa"),
        F.lit(0).cast("long"),
        lambda acc, pa: acc + F.size(F.filter(
            F.col("pb"),
            lambda pb: (pb > pa) & (pb <= pa + F.col("width"))
            & F.exists(F.col("pc"),
                       lambda pc: (pc >= pa) & (pc <= pb)),
        )).cast("long"),
    )
    first_pos = F.array_min(F.filter(
        F.col("pa"),
        lambda pa: F.exists(
            F.col("pb"),
            lambda pb: (pb > pa) & (pb <= pa + F.col("width"))
            & F.exists(F.col("pc"),
                       lambda pc: (pc >= pa) & (pc <= pb)),
        ),
    ))
    bound = piv.select(
        "query_id", "doc_id",
        n_cont.alias("n_containing"), first_pos.alias("_fp"))
    hits = bound.filter(F.col("n_containing") > 0).select(
        "query_id", "doc_id", "n_containing",
        F.col("_fp").cast("long").alias("first_pos"))
    win = Window.partitionBy("query_id").orderBy(
        F.desc("n_containing"), F.asc("doc_id"))
    ranked = hits.withColumn("rank", F.row_number().over(win).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(
        "query_id", "doc_id", "n_containing", "first_pos", "rank")
