"""Minimal-window span retrieval over the positional index.

Classic proximity operator (MRS Ch. 2.4.2 positional intersection; the
standard "minimal cover" merge): a doc matches when it contains EVERY
unique query term (AND semantics), and is ranked by the length of the
tightest window of filtered-token positions covering one occurrence of
each term — tighter span = better rank (doc_id tie-break). This is also
the snippet-selection primitive: (lo, hi) is the best text window to
display for the hit.

Output per (query, doc): ``span_len`` = hi - lo + 1, ``lo``/``hi`` = the
FIRST (lowest-lo) optimal window — deterministic, integer-only, so the
driver oracle hash-gates it with no float policy.

Execution shape mirrors the proximity rankers: pruned chunk scan for the
query terms -> per-query applyInPandas scorer (pandas-in/pandas-out, so
the distributed path and LocalSearcher run identical code). The scorer
intersects doc sets vectorized (AND bounds the candidate set the way a
WAND conjunction would), then runs the O(P log k) sliding-window merge
only over the intersection's positions.
"""

from __future__ import annotations

import heapq
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
        T.StructField("span_len", T.LongType(), False),
        T.StructField("lo", T.LongType(), False),
        T.StructField("hi", T.LongType(), False),
        T.StructField("rank", T.LongType(), False),
    ]
)


def min_span(pos_lists: List[List[int]]) -> tuple[int, int] | None:
    """Smallest window [lo, hi] covering >= one position from every list;
    among equal-length windows the one with the smallest lo (the k-way
    sliding-window merge — first strict improvement wins, and the merge
    scans lo ascending). None when any list is empty."""
    k = len(pos_lists)
    if k == 0 or any(not p for p in pos_lists):
        return None
    if k == 1:
        p = min(pos_lists[0])
        return (p, p)
    # merged ascending (pos, list_id) stream
    merged = heapq.merge(*[[(p, i) for p in sorted(ps)] for i, ps in enumerate(pos_lists)])
    need = k
    count = [0] * k
    best: tuple[int, int] | None = None
    window: List[tuple[int, int]] = []
    head = 0
    for pos, lid in merged:
        window.append((pos, lid))
        if count[lid] == 0:
            need -= 1
        count[lid] += 1
        if need:
            continue
        # shrink from the left while still covering
        while True:
            hpos, hlid = window[head]
            if count[hlid] > 1:
                count[hlid] -= 1
                head += 1
            else:
                break
        lo, hi = window[head][0], pos
        if best is None or hi - lo < best[1] - best[0]:
            best = (lo, hi)
        # drop the head occurrence to look for the next window
        count[window[head][1]] -= 1
        head += 1
        need = 1
    return best


def _min_spans_vectorized(docs, pos, tid, k):
    """All-docs-at-once minimal cover (numpy twin of :func:`min_span`,
    property-gated identical in tests): for every occurrence i in the
    (doc, pos)-sorted stream, the tightest window ENDING at i starts at
    min over terms of that term's latest position at-or-before i — a
    per-term prefix max over the stream. Per-doc resets fall out of a
    doc-offset key (earlier-doc leakage is detected by key // STRIDE).
    The per-doc answer is the (span, lo)-lexicographic minimum — the same
    smallest-lo-among-minimal-windows rule the merge scan yields.

    -> (doc, span_len, lo, hi) arrays for docs covering all k terms.
    O(N·k) vectorized; N = candidate occurrences, k = query terms."""
    import numpy as np

    stride = np.int64(1) << np.int64(32)
    if pos.size and int(pos.max()) >= (1 << 32):
        raise ValueError("position exceeds the span key stride")
    if docs.size and int(docs.max()) >= (1 << 31):
        # docs*stride+pos must fit a signed int64; numpy wraps silently
        raise ValueError("doc_id exceeds the span key stride")
    g = docs * stride + pos
    order = np.argsort(g, kind="stable")  # (doc, pos) ascending; keys unique
    g = g[order]
    tid_o = tid[order]
    docs_o = docs[order]
    pos_o = pos[order]
    prev_min = np.full(len(g), np.iinfo(np.int64).max, dtype=np.int64)
    valid = np.ones(len(g), dtype=bool)
    for t in range(k):
        x = np.where(tid_o == t, g, np.int64(-1))
        acc = np.maximum.accumulate(x)
        # a prefix max inherited from an earlier doc (or -1) means term t
        # has not occurred in THIS doc yet -> no window ends here
        valid &= acc // stride == docs_o
        prev_min = np.minimum(prev_min, acc)
    if not valid.any():
        return (np.empty(0, np.int64),) * 4
    vdoc = docs_o[valid]
    vlo = prev_min[valid] % stride
    vhi = pos_o[valid]
    vspan = vhi - vlo + 1
    o2 = np.lexsort((vlo, vspan, vdoc))
    vdoc, vspan, vlo, vhi = vdoc[o2], vspan[o2], vlo[o2], vhi[o2]
    first = np.concatenate(([True], vdoc[1:] != vdoc[:-1]))
    return vdoc[first], vspan[first], vlo[first], vhi[first]


def _span_scorer(
    query_terms: Dict[int, List[str]],
    k_top: int | None,
    decode=None,
    decode_pos=None,
):
    """Packed rows (query_id, term, postings, positions) -> per-doc minimal
    spans for docs containing ALL the query's present terms. A query term
    absent from the whole index empties the result (AND), enforced by the
    caller via ``query_terms`` (only queries whose every term matched are
    fed through)."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..indexing.codec import decode_positions, decode_postings

        dec = decode or (lambda buf: decode_postings(bytes(buf)))
        dec_pos = decode_pos or (lambda buf, tfs: decode_positions(bytes(buf), tfs))
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int32"),
                "doc_id": pd.Series([], dtype="int64"),
                "span_len": pd.Series([], dtype="int64"),
                "lo": pd.Series([], dtype="int64"),
                "hi": pd.Series([], dtype="int64"),
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
            return empty  # a term matched no chunk -> empty AND
        # vectorized doc-set intersection across terms
        docs_by_term: Dict[str, np.ndarray] = {}
        decoded: Dict[str, list] = {}
        for t, rows in per_term.items():
            arrs = []
            for row in rows:
                doc_ids, tfs, _ = dec(row.postings)
                arrs.append(doc_ids.astype(np.int64))
                decoded.setdefault(t, []).append((doc_ids, tfs, row.positions))
            docs_by_term[t] = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
        cand = docs_by_term[terms[0]]
        for t in terms[1:]:
            cand = np.intersect1d(cand, docs_by_term[t], assume_unique=False)
        if not len(cand):
            return empty
        cand_sorted = np.sort(cand)
        # gather (doc, pos, term_id) occurrence arrays for candidate docs
        docs_l, pos_l, tid_l = [], [], []
        for ti, t in enumerate(terms):
            for doc_ids, tfs, posbuf in decoded[t]:
                doc_rep = np.repeat(doc_ids.astype(np.int64), tfs)
                idx = np.searchsorted(cand_sorted, doc_rep)
                idx[idx == len(cand_sorted)] = 0
                mask = cand_sorted[idx] == doc_rep
                if not mask.any():
                    continue
                flat, _occ = dec_pos(posbuf, tfs)
                docs_l.append(doc_rep[mask])
                pos_l.append(flat.astype(np.int64)[mask])
                tid_l.append(np.full(int(mask.sum()), ti, dtype=np.int64))
        if not docs_l:
            return empty
        d_doc, d_span, d_lo, d_hi = _min_spans_vectorized(
            np.concatenate(docs_l),
            np.concatenate(pos_l),
            np.concatenate(tid_l),
            len(terms),
        )
        if not len(d_doc):
            return empty
        order = np.lexsort((d_doc, d_span))
        if k_top is not None:
            order = order[:k_top]
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": d_doc[order],
                "span_len": d_span[order],
                "lo": d_lo[order],
                "hi": d_hi[order],
                "rank": np.arange(1, len(order) + 1),
            }
        )

    return score_group


def minspan_topk_packed_batch(
    pidx,
    queries: Sequence[str],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Packed-path minimal-span retrieval -> (query_id, doc_id, span_len,
    lo, hi, rank), rank by span_len asc (doc_id tie-break).

    Scoring runs per (query_id, chunk) group: chunk boundaries are
    doc-range cuts shared by every term, so a doc's postings for all the
    query's terms co-reside in one group and the per-doc span is exact
    there; a chunk missing one of the query's terms correctly contributes
    nothing (its docs cannot satisfy the AND). The shuffle moves chunk
    rows only, each group emits at most k docs (safe cut — per-doc
    results are complete within the group), and a global window re-ranks."""
    if not pidx.manifest.get("positional"):
        raise ValueError("packed index was not built with positional=True")
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
    scorer = _span_scorer(query_terms, k, decode=dec, decode_pos=dec_pos)
    part = matched.groupBy("query_id", "chunk").applyInPandas(
        scorer, schema=_OUT_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("span_len"), F.asc("doc_id"))
    ranked = part.withColumn("rank", F.row_number().over(w).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(
        "query_id", "doc_id", "span_len", "lo", "hi", "rank"
    )


def minspan_topk_batch(
    it: IndexTables,
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int | None = 10,
) -> DataFrame:
    """Exact-path twin over a positional ``build_index(...,
    positional=True)`` — all-native hit explode + the same aggregation
    semantics, checked identical to the packed path in tests."""
    if "positions" not in it.index.columns:
        raise ValueError("minimal-span retrieval needs a positional index")
    spark = it.index.sparkSession
    query_terms = {
        qid: list(dict.fromkeys(tokenize_text(q, cfg)))
        for qid, q in enumerate(queries)
    }
    rows = [(qid, t) for qid, ts in query_terms.items() for t in ts]
    if not rows:
        return spark.createDataFrame([], _OUT_SCHEMA)
    qdf = spark.createDataFrame(rows, "query_id int, term string")
    matched = it.index.join(F.broadcast(qdf), "term")
    # exact path: positions already decoded; reuse min_span per (q, doc)
    adapted = matched.select(
        "query_id",
        "term",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("positions").cast("array<long>").alias("positions"),
    )

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int32"),
                "doc_id": pd.Series([], dtype="int64"),
                "span_len": pd.Series([], dtype="int64"),
                "lo": pd.Series([], dtype="int64"),
                "hi": pd.Series([], dtype="int64"),
                "rank": pd.Series([], dtype="int64"),
            }
        )
        if not len(pdf):
            return empty
        qid = int(pdf["query_id"].iloc[0])
        terms = query_terms[qid]
        pos_map: Dict[int, Dict[str, List[int]]] = {}
        seen_terms = set()
        for row in pdf.itertuples(index=False):
            pos_map.setdefault(int(row.doc_id), {}).setdefault(
                row.term, []
            ).extend(int(p) for p in row.positions)
            seen_terms.add(row.term)
        if set(terms) - seen_terms:
            return empty  # AND: a query term matched nothing
        recs = []
        for d, by_term in pos_map.items():
            if len(by_term) < len(terms):
                continue
            span = min_span([by_term[t] for t in terms])
            if span is not None:
                lo, hi = span
                recs.append((d, hi - lo + 1, lo, hi))
        recs.sort(key=lambda r: (r[1], r[0]))
        if k is not None:
            recs = recs[:k]
        if not recs:
            return empty
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": [r[0] for r in recs],
                "span_len": [r[1] for r in recs],
                "lo": [r[2] for r in recs],
                "hi": [r[3] for r in recs],
                "rank": range(1, len(recs) + 1),
            }
        )

    return adapted.groupBy("query_id").applyInPandas(score_group, schema=_OUT_SCHEMA)


def local_minspan(searcher, query: str, k: int | None = 10,
                  resolve: bool = True) -> List[dict]:
    """In-process minimal-span query off a LocalSearcher — same scorer as
    the distributed packed path (gated identical)."""
    if not searcher._positional:
        raise ValueError("packed index was not built with positional=True")
    terms = list(dict.fromkeys(tokenize_text(query, searcher.cfg)))
    if not terms:
        return []
    pdf = searcher._matched(terms)
    if pdf is None or pdf["term"].nunique() < len(terms):
        return []  # AND semantics
    scorer = _span_scorer(
        {0: terms}, k,
        decode=searcher._dec,
        decode_pos=searcher._dec_pos,
    )
    out = scorer(pdf)
    # route through the searcher's shared resolve (one copy of the
    # doc-metadata join), then restore the span columns it doesn't know
    spans = {
        int(d): (int(s), int(lo), int(hi))
        for d, s, lo, hi in zip(
            out["doc_id"], out["span_len"], out["lo"], out["hi"]
        )
    }
    out = out.assign(score=0.0)
    rows = searcher._resolve(
        out[["query_id", "doc_id", "score", "rank"]], resolve
    )
    for r in rows:
        r["span_len"], r["lo"], r["hi"] = spans[r["doc_id"]]
        r.pop("score", None)
    return rows
