"""ES ``intervals`` query — minimal-interval matching over the
positional index (Lucene's minimal-interval semantics: Vigna et al.,
"Efficient optimally lazy algorithms for minimal-interval semantics",
the machinery behind ES intervals / Lucene's IntervalQuery).

A *minimal interval* for terms t1..tk in a doc is a position window
[lo, hi] containing one occurrence of every term (in order for the
``ordered`` rule, any order for ``unordered``) that does not contain a
smaller such window. The ``max_gaps`` filter keeps intervals with
``hi - lo + 1 - k <= max_gaps`` (ES's gap count). Integer ranking
contract (the span-query family's policy — no float scoring):
``n_intervals`` = how many minimal intervals pass the filter, rank by
n_intervals DESC then doc_id ASC, docs with none drop out.

Deviations from ES, documented: query terms are deduplicated (the
engine-wide unique-terms quirk — ES's ordered rule can require repeated
occurrences of a repeated word); scoring is the interval COUNT, not
Lucene's similarity-weighted interval frequency (the deterministic
integer analog, same spirit as span_not's surviving-occurrence count).

Enumeration, vectorized (no per-position Python in the packed path):

- unordered: for every occurrence position ``hi`` (doc-offset key
  stream), the tightest window ending there starts at
  ``L(hi) = min over terms of the term's latest position <= hi`` — a
  per-term prefix max (the _min_spans_vectorized trick, spans.py);
  ``L`` is monotone in ``hi``, so keeping the MIN hi per (doc, L)
  leaves exactly the antichain of minimal intervals.
- ordered: chain ends are the LAST term's occurrences; walking
  backwards, each step takes the previous term's latest occurrence
  strictly before the current link (sorted-array searchsorted per
  step). For a fixed end that start is maximal, and start is monotone
  in end — the same min-hi-per-(doc, lo) dedup yields the antichain.

Both kernels have pure-Python twins (``unordered_intervals`` /
``ordered_intervals``) gated identical against a brute containment
check in tests/test_intervals.py.
"""

from __future__ import annotations

from bisect import bisect_left
from typing import Dict, List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..indexing.build import IndexTables
from ..tokenizer import TokenizerConfig, tokenize_text

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_intervals", T.LongType(), False),
        T.StructField("rank", T.LongType(), False),
    ]
)

_STRIDE = np.int64(1) << np.int64(32)


# ---------------------------------------------------------- pure kernels

def unordered_intervals(pos_lists: List[List[int]]) -> List[tuple]:
    """All minimal any-order covering windows [(lo, hi), ...], lo asc.
    Empty when any list is empty."""
    k = len(pos_lists)
    if k == 0 or any(not p for p in pos_lists):
        return []
    if k == 1:
        return [(p, p) for p in sorted(pos_lists[0])]
    events = sorted(
        (p, i) for i, ps in enumerate(pos_lists) for p in ps)
    last = [None] * k
    seen = 0
    out: List[tuple] = []
    for p, i in events:
        if last[i] is None:
            seen += 1
        last[i] = p
        if seen == k:
            lo = min(last)  # type: ignore[type-var]
            if not out or out[-1][0] != lo:
                out.append((lo, p))
    return out


def ordered_intervals(pos_lists: List[List[int]]) -> List[tuple]:
    """All minimal in-order chains [(lo, hi), ...], lo asc."""
    k = len(pos_lists)
    if k == 0 or any(not p for p in pos_lists):
        return []
    sorted_lists = [sorted(ps) for ps in pos_lists]
    if k == 1:
        return [(p, p) for p in sorted_lists[0]]
    best: Dict[int, int] = {}  # lo -> min hi
    for end in sorted_lists[-1]:
        cur = end
        ok = True
        for j in range(k - 2, -1, -1):
            idx = bisect_left(sorted_lists[j], cur) - 1
            if idx < 0:
                ok = False
                break
            cur = sorted_lists[j][idx]
        if ok and (cur not in best or end < best[cur]):
            best[cur] = end
    return sorted(best.items())


def _filter_count(windows: List[tuple], k: int, max_gaps: int) -> int:
    return sum(1 for lo, hi in windows if hi - lo + 1 - k <= max_gaps)


# ---------------------------------------------------- vectorized kernels

def _keyed(docs: np.ndarray, pos: np.ndarray) -> np.ndarray:
    if pos.size and int(pos.max()) >= (1 << 32):
        raise ValueError("position exceeds the interval key stride")
    if docs.size and int(docs.max()) >= (1 << 31):
        raise ValueError("doc_id exceeds the interval key stride")
    return docs * _STRIDE + pos


def _dedupe_min_hi(doc: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """Keep the smallest hi per (doc, lo) — the antichain cut."""
    key = doc * _STRIDE + lo
    order = np.lexsort((hi, key))
    key_o = key[order]
    first = np.concatenate(([True], key_o[1:] != key_o[:-1]))
    sel = order[first]
    return doc[sel], lo[sel], hi[sel]


def _unordered_vec(docs, pos, tid, k):
    """-> (doc, lo, hi) arrays of minimal unordered windows."""
    g = _keyed(docs, pos)
    order = np.argsort(g, kind="stable")
    g, tid_o, docs_o, pos_o = g[order], tid[order], docs[order], pos[order]
    prev_min = np.full(len(g), np.iinfo(np.int64).max, dtype=np.int64)
    valid = np.ones(len(g), dtype=bool)
    for t in range(k):
        x = np.where(tid_o == t, g, np.int64(-1))
        acc = np.maximum.accumulate(x)
        valid &= acc // _STRIDE == docs_o
        prev_min = np.minimum(prev_min, acc)
    if not valid.any():
        return (np.empty(0, np.int64),) * 3
    vdoc = docs_o[valid]
    vlo = prev_min[valid] % _STRIDE
    vhi = pos_o[valid]
    return _dedupe_min_hi(vdoc, vlo, vhi)


def _ordered_vec(docs, pos, tid, k):
    """-> (doc, lo, hi) arrays of minimal ordered chains."""
    keys_by_t = [np.sort(_keyed(docs[tid == t], pos[tid == t]))
                 for t in range(k)]
    if any(a.size == 0 for a in keys_by_t):
        return (np.empty(0, np.int64),) * 3
    ends = keys_by_t[k - 1]
    cur = ends.copy()
    ok = np.ones(len(ends), dtype=bool)
    for j in range(k - 2, -1, -1):
        idx = np.searchsorted(keys_by_t[j], cur, side="left") - 1
        ok &= idx >= 0
        prev = keys_by_t[j][np.clip(idx, 0, None)]
        ok &= prev // _STRIDE == ends // _STRIDE
        cur = np.where(ok, prev, cur)
    if not ok.any():
        return (np.empty(0, np.int64),) * 3
    doc = ends[ok] // _STRIDE
    lo = cur[ok] % _STRIDE
    hi = ends[ok] % _STRIDE
    return _dedupe_min_hi(doc, lo.astype(np.int64), hi.astype(np.int64))


def _count_per_doc(doc, lo, hi, k, max_gaps):
    """-> (docs, counts) after the max_gaps filter."""
    keep = (hi - lo + 1 - k) <= max_gaps
    doc = doc[keep]
    if not len(doc):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    uniq, counts = np.unique(doc, return_counts=True)
    return uniq, counts.astype(np.int64)


# ------------------------------------------------------------- serving

def _intervals_scorer(query_terms: Dict[int, List[str]], ordered: bool,
                      max_gaps: int, k_top: "int | None",
                      decode=None, decode_pos=None):
    """Packed rows (query_id, term, postings, positions) -> per-doc
    interval counts; same gather pattern as spans._span_scorer."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..indexing.codec import decode_positions, decode_postings

        dec = decode or (lambda buf: decode_postings(bytes(buf)))
        dec_pos = decode_pos or (lambda buf, tfs: decode_positions(bytes(buf), tfs))
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int32"),
                "doc_id": pd.Series([], dtype="int64"),
                "n_intervals": pd.Series([], dtype="int64"),
                "rank": pd.Series([], dtype="int64"),
            }
        )
        if not len(pdf):
            return empty
        qid = int(pdf["query_id"].iloc[0])
        terms = query_terms[qid]
        per_term: Dict[str, list] = {t: [] for t in terms}
        for row in pdf.itertuples(index=False):
            if row.term in per_term:
                per_term[row.term].append(row)
        if any(not rows for rows in per_term.values()):
            return empty  # AND: a query term matched no chunk
        docs_l, pos_l, tid_l = [], [], []
        for ti, t in enumerate(terms):
            for row in per_term[t]:
                doc_ids, tfs, _ = dec(row.postings)
                flat, _occ = dec_pos(row.positions, tfs)
                docs_l.append(np.repeat(doc_ids.astype(np.int64), tfs))
                pos_l.append(flat.astype(np.int64))
                tid_l.append(np.full(len(flat), ti, dtype=np.int64))
        docs = np.concatenate(docs_l)
        pos = np.concatenate(pos_l)
        tid = np.concatenate(tid_l)
        kernel = _ordered_vec if ordered else _unordered_vec
        d, lo, hi = kernel(docs, pos, tid, len(terms))
        uniq, counts = _count_per_doc(d, lo, hi, len(terms), max_gaps)
        if not len(uniq):
            return empty
        order = np.lexsort((uniq, -counts))
        if k_top is not None:
            order = order[:k_top]
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": uniq[order],
                "n_intervals": counts[order],
                "rank": np.arange(1, len(order) + 1),
            }
        )

    return score_group


def intervals_topk_packed_batch(
    pidx,
    queries: Sequence[str],
    cfg: TokenizerConfig | None = None,
    ordered: bool = False,
    max_gaps: int = 0,
    k: "int | None" = 10,
) -> DataFrame:
    """Packed-path intervals retrieval -> (query_id, doc_id,
    n_intervals, rank). Same chunk-group execution contract as
    minspan_topk_packed_batch: all of a doc's postings for the query's
    terms co-reside in its chunk, so per-doc counts are exact within
    the group and the per-group k-cut is safe."""
    if not pidx.manifest.get("positional"):
        raise ValueError("packed index was not built with positional=True")
    if max_gaps < 0:
        raise ValueError(f"max_gaps must be >= 0, got {max_gaps}")
    spark = pidx.spark
    cfg = cfg or TokenizerConfig.from_manifest(pidx.manifest.get("tokenizer", {}))
    query_terms = {
        qid: list(dict.fromkeys(tokenize_text(q, cfg)))
        for qid, q in enumerate(queries)
    }
    rows = [(qid, t) for qid, ts in query_terms.items() for t in ts]
    if not rows:
        return spark.createDataFrame([], _OUT_SCHEMA)
    all_terms = sorted({t for _, t in rows})
    pruned = pidx.index.filter(F.col("term").isin(all_terms))
    qids_by_term: Dict[str, List[int]] = {}
    for qid, t in rows:
        qids_by_term.setdefault(t, []).append(qid)
    map_entries = [
        x for t, qs in qids_by_term.items()
        for x in (F.lit(t), F.array(*[F.lit(q) for q in qs]))
    ]
    matched = pruned.withColumn(
        "query_id", F.explode(F.create_map(*map_entries)[F.col("term")])
    ).select("query_id", "chunk", "term", "postings", "positions")
    mask = pidx.delete_mask()
    dec, dec_pos = mask.wrap_decoders() if mask is not None else (None, None)
    scorer = _intervals_scorer(query_terms, ordered, max_gaps, k,
                               decode=dec, decode_pos=dec_pos)
    part = matched.groupBy("query_id", "chunk").applyInPandas(
        scorer, schema=_OUT_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_intervals"), F.asc("doc_id"))
    ranked = part.withColumn("rank", F.row_number().over(w).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("query_id", "doc_id", "n_intervals", "rank")


def intervals_topk_batch(
    it: IndexTables,
    queries: Sequence[str],
    cfg: TokenizerConfig,
    ordered: bool = False,
    max_gaps: int = 0,
    k: "int | None" = 10,
) -> DataFrame:
    """Exact-path twin over a positional ``build_index(...,
    positional=True)`` — pure-kernel scoring per (query, doc), checked
    identical to the packed path in tests."""
    if "positions" not in it.index.columns:
        raise ValueError("intervals retrieval needs a positional index")
    if max_gaps < 0:
        raise ValueError(f"max_gaps must be >= 0, got {max_gaps}")
    spark = it.index.sparkSession
    query_terms = {
        qid: list(dict.fromkeys(tokenize_text(q, cfg)))
        for qid, q in enumerate(queries)
    }
    rows = [(qid, t) for qid, ts in query_terms.items() for t in ts]
    if not rows:
        return spark.createDataFrame([], _OUT_SCHEMA)
    qdf = spark.createDataFrame(rows, "query_id int, term string")
    matched = it.index.join(F.broadcast(qdf), "term").select(
        "query_id", "term",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("positions").cast("array<long>").alias("positions"),
    )

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int32"),
                "doc_id": pd.Series([], dtype="int64"),
                "n_intervals": pd.Series([], dtype="int64"),
                "rank": pd.Series([], dtype="int64"),
            }
        )
        if not len(pdf):
            return empty
        qid = int(pdf["query_id"].iloc[0])
        terms = query_terms[qid]
        pos_map: Dict[int, Dict[str, List[int]]] = {}
        seen = set()
        for row in pdf.itertuples(index=False):
            pos_map.setdefault(int(row.doc_id), {}).setdefault(
                row.term, []).extend(int(p) for p in row.positions)
            seen.add(row.term)
        if set(terms) - seen:
            return empty
        kernel = ordered_intervals if ordered else unordered_intervals
        recs = []
        for d, by_term in pos_map.items():
            if len(by_term) < len(terms):
                continue
            wins = kernel([by_term[t] for t in terms])
            n = _filter_count(wins, len(terms), max_gaps)
            if n:
                recs.append((d, n))
        recs.sort(key=lambda r: (-r[1], r[0]))
        if k is not None:
            recs = recs[:k]
        if not recs:
            return empty
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": [r[0] for r in recs],
                "n_intervals": [r[1] for r in recs],
                "rank": range(1, len(recs) + 1),
            }
        )

    return matched.groupBy("query_id").applyInPandas(
        score_group, schema=_OUT_SCHEMA)


def local_intervals(searcher, query: str, ordered: bool = False,
                    max_gaps: int = 0, k: "int | None" = 10,
                    resolve: bool = True) -> list:
    """In-process intervals query off a LocalSearcher — the same scorer
    as the distributed packed path (gated identical in
    tests/test_intervals.py), zero Spark jobs warm."""
    if not searcher._positional:
        raise ValueError("packed index was not built with positional=True")
    if max_gaps < 0:
        raise ValueError(f"max_gaps must be >= 0, got {max_gaps}")
    terms = list(dict.fromkeys(tokenize_text(query, searcher.cfg)))
    if not terms:
        return []
    pdf = searcher._matched(terms)
    if pdf is None or pdf["term"].nunique() < len(terms):
        return []  # AND semantics
    scorer = _intervals_scorer(
        {0: terms}, ordered, max_gaps, k,
        decode=searcher._dec, decode_pos=searcher._dec_pos,
    )
    out = scorer(pdf)
    counts = {int(d): int(n)
              for d, n in zip(out["doc_id"], out["n_intervals"])}
    out = out.assign(score=0.0)
    rows = searcher._resolve(
        out[["query_id", "doc_id", "score", "rank"]], resolve)
    for r in rows:
        r["n_intervals"] = counts[r["doc_id"]]
        r.pop("score", None)
    return rows
