"""Exact-phrase retrieval over the positional index.

The reference stores token positions (PositionalPostingList,
src/models/posting_lists/positional_posting_list.py:50-51) but only uses
them for the proximity-boost rankers — it never exposes phrase queries.
This module adds the classic capability those positions enable (MRS
Ch. 2.4 positional postings): a document matches the phrase t0 t1 ... tn-1
iff some start position p has t_i at position p+i for every slot i.

Positions are indexes into the FILTERED token stream (stop words removed,
stemming applied — build.py stores `posexplode(tokens)` of the tokenizer
output), so "adjacent" means adjacent after tokenization; the query phrase
goes through the same tokenizer, which keeps the two sides consistent.

Execution shape (scale-first, all-native aggregation):

    slots (query_id, slot, term)  [broadcast — a phrase is tiny]
      join index on term          [pushed In(term,...) scan pruning]
      -> (query_id, doc_id, start = pos - slot, slot)
      groupBy(query_id, doc_id, start): countDistinct(slot) == n_slots
      groupBy(query_id, doc_id): n_occurrences, first_pos
      per-query rank window (k rows per query)

Two shuffles, both keyed on (query_id, doc_id[, start]) — partial
aggregation is map-side combinable and the explode is bounded by the
postings of the phrase terms only.

The PACKED path is cheaper still: chunk boundaries are doc-range cuts
shared by every term, so each (query_id, chunk) group holds every posting
of its docs for every phrase slot — the whole match runs inside the group
as a numpy key intersection (:func:`_phrase_group`, the same core the
LocalSearcher tier runs) and the shuffle moves chunk rows, never
per-posting hits (measured 10x+ on common-term phrases at sf0.1). Every
output column is an integer -> cross-engine hash-stable with no rounding
policy needed.
"""

from __future__ import annotations

from typing import Dict, List, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..indexing.build import IndexTables
from ..tokenizer import TokenizerConfig, tokenize_text

_OUT_COLS = ("query_id", "doc_id", "n_occurrences", "first_pos", "rank")


def phrase_slots(
    phrases: Sequence[str], cfg: TokenizerConfig
) -> Dict[int, List[str]]:
    """query_id -> ordered slot terms (duplicates kept — each slot must
    match at its own offset)."""
    return {qid: tokenize_text(p, cfg) for qid, p in enumerate(phrases)}


def _as_multi(slots: Dict[int, List]) -> Dict[int, List[List[str]]]:
    """Normalize {qid: [term, ...]} to the multi-term-slot form
    {qid: [[terms...], ...]} (a slot matches if ANY of its terms sits at
    the slot's offset — single-term slots for plain phrases, an expanded
    term SET for the prefix slot of match_phrase_prefix). Slot terms are
    deduped; a slot with NO terms poisons its query (it can never match,
    so the query emits no rows)."""
    out: Dict[int, List[List[str]]] = {}
    for qid, toks in slots.items():
        multi = [list(dict.fromkeys(t if isinstance(t, (list, tuple)) else [t]))
                 for t in toks]
        out[qid] = [] if any(not m for m in multi) else multi
    return out


def _slot_df(spark, slots: Dict[int, List]):
    multi = _as_multi(slots)
    rows = [
        (qid, i, t)
        for qid, slotlists in multi.items()
        for i, terms in enumerate(slotlists)
        for t in terms
    ]
    sdf = spark.createDataFrame(
        rows or [(0, 0, "")], "query_id int, slot int, term string"
    )
    return (sdf if rows else sdf.limit(0)), rows


def _rank_occurrences(hits: DataFrame, slots: Dict[int, List[str]], k: int | None):
    """(query_id, slot, doc_id, start) hit rows -> ranked per-doc phrase
    occurrences. Shared tail of the exact and packed paths."""
    n_map = F.create_map(
        *[
            x
            for qid, toks in slots.items()
            for x in (F.lit(qid), F.lit(len(toks)))
        ]
    )
    # hit rows are UNIQUE per (query_id, doc_id, start, slot): a slot is one
    # term, and a term's positions are unique within a doc — so a plain
    # count equals countDistinct(slot) here and saves the distinct's extra
    # exchange (plan-gated at 3 shuffles in test_plan_shapes.py)
    starts = hits.groupBy("query_id", "doc_id", "start").agg(
        F.count(F.lit(1)).alias("ns")
    )
    occ = starts.filter(F.col("ns") == n_map[F.col("query_id")])
    per_doc = occ.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_occurrences"),
        F.min("start").alias("first_pos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    ranked = per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(*_OUT_COLS)


def phrase_topk_batch(
    it: IndexTables,
    phrases: Sequence[str],
    cfg: TokenizerConfig,
    k: int | None = 10,
    slop: int = 0,
) -> DataFrame:
    """Exact-path phrase retrieval over a positional ``build_index(...,
    positional=True)`` -> (query_id, doc_id, n_occurrences, first_pos,
    rank), top-k per query by occurrence count (doc_id tie-break).
    ``k=None`` returns every matching doc. Sloppy matching (slop > 0)
    serves from the packed tier only — the exact path's start-offset
    trick is adjacency-specific, and re-deriving the greedy span chase
    here would duplicate the gated packed core."""
    if "positions" not in it.index.columns:
        raise ValueError("phrase retrieval needs a positional index")
    if slop:
        raise NotImplementedError(
            "slop > 0 serves from the packed tier "
            "(phrase_topk_packed_batch / LocalSearcher.phrase)"
        )
    spark = it.index.sparkSession
    slots = _as_multi(phrase_slots(phrases, cfg))
    sdf, rows = _slot_df(spark, slots)
    if not rows:  # all phrases tokenize empty: create_map() can't type-check
        return spark.createDataFrame([], _rank_schema())
    matched = it.index.join(F.broadcast(sdf), "term")
    hits = matched.select(
        "query_id", "slot", "doc_id", F.explode("positions").alias("pos")
    ).select(
        "query_id",
        "slot",
        "doc_id",
        (F.col("pos").cast("long") - F.col("slot")).alias("start"),
    )
    return _rank_occurrences(hits, slots, k)


def _slot_key_arrays(toks, rows_by_slot, decode, decode_pos):
    """Per slot, the SORTED int64 key array doc_id * 2^32 + pos over every
    packed row of the slot's term(s) — the shared decode step of the exact
    and sloppy group cores. None when some slot has no occurrences."""
    import numpy as np

    stride = np.int64(1) << np.int64(32)
    out = []
    for slot in range(len(toks)):
        rows = rows_by_slot.get(slot)
        if not rows:
            return None, stride
        ks = []
        for row in rows:
            doc_ids, tfs, _ = decode(row.postings)
            flat, _occ = decode_pos(row.positions, tfs)
            if flat.size and int(flat.max()) >= (1 << 32):
                raise ValueError("position exceeds the phrase key stride")
            if doc_ids.size and int(doc_ids.max()) >= (1 << 31):
                raise ValueError("doc_id exceeds the phrase key stride")
            ks.append(
                np.repeat(doc_ids.astype(np.int64), tfs) * stride
                + flat.astype(np.int64)
            )
        merged = np.concatenate(ks) if ks else np.empty(0, np.int64)
        if not len(merged):
            return None, stride
        out.append(np.sort(merged))
    return out, stride


def _sloppy_group(toks, rows_by_slot, decode, decode_pos, slop):
    """Ordered sloppy match (Lucene span_near in_order=true — the
    match_phrase slop this engine serves): a doc matches from start p0
    iff strictly-increasing positions p0 < p1 < ... < p_{n-1} exist with
    slot i's term at p_i and span p_{n-1} - p0 - (n-1) <= slop. The
    GREEDY assignment (each slot takes the smallest position after the
    previous slot's) provably minimizes the span for a fixed p0, so one
    vectorized searchsorted pass per slot decides every start exactly.
    slop=0 degenerates to the exact phrase (gated in tests/test_phrase.py).

    -> (uniq_docs, counts, first_starts) like :func:`_phrase_group`;
    counts = matching starts, first_starts = each doc's smallest."""
    import numpy as np

    slot_keys, stride = _slot_key_arrays(toks, rows_by_slot, decode, decode_pos)
    if slot_keys is None:
        return None
    cur = slot_keys[0]
    docs0 = cur // stride
    p0 = cur % stride
    alive = np.ones(len(cur), bool)
    for i in range(1, len(toks)):
        nxt = slot_keys[i]
        # smallest key strictly greater than cur, same doc (stride keeps
        # doc-locality: crossing into the next doc fails the doc check)
        idx = np.searchsorted(nxt, cur, side="right")
        ok = idx < len(nxt)
        cand = nxt[np.clip(idx, 0, len(nxt) - 1)]
        ok &= (cand // stride) == docs0
        alive &= ok
        cur = np.where(ok, cand, cur)
    match = alive & ((cur % stride) - p0 - (len(toks) - 1) <= slop)
    if not match.any():
        return None
    mdocs, mp0 = docs0[match], p0[match]
    # slot-0 keys were sorted -> within a doc, p0 ascends: unique's first
    # index IS the smallest matching start
    uniq, first_idx, counts = np.unique(
        mdocs, return_index=True, return_counts=True)
    return uniq, counts, mp0[first_idx]


def _phrase_group(toks, rows_by_slot, decode, decode_pos, slop=0):
    """Core numpy key-intersection over one self-contained group of packed
    rows: key = doc_id * 2^32 + start, one sorted intersect per slot.
    Self-contained = every posting of each contained doc for each slot term
    is in the group (true for the whole index, and true PER CHUNK because
    chunk boundaries are doc-range cuts shared by all terms).
    ``slop > 0`` dispatches to the ordered sloppy core
    (:func:`_sloppy_group`) over the same decoded rows.

    -> (uniq_docs, counts, first_starts) numpy arrays, or None when some
    slot has no rows / the intersection empties. The int64 key is safe:
    positions are bounded by the longest doc (checked)."""
    import numpy as np

    if slop:
        return _sloppy_group(toks, rows_by_slot, decode, decode_pos, slop)
    stride = np.int64(1) << np.int64(32)
    keys = None
    for slot in range(len(toks)):
        rows = rows_by_slot.get(slot)
        if not rows:
            return None
        slot_keys = []
        for row in rows:
            doc_ids, tfs, _ = decode(row.postings)
            flat, _occ = decode_pos(row.positions, tfs)
            start = flat.astype(np.int64) - slot
            ok = start >= 0
            if start.size and int(flat.max()) >= (1 << 32):
                raise ValueError("position exceeds the phrase key stride")
            if doc_ids.size and int(doc_ids.max()) >= (1 << 31):
                # doc*stride+start must fit a signed int64 (numpy wraps)
                raise ValueError("doc_id exceeds the phrase key stride")
            slot_keys.append(
                np.repeat(doc_ids.astype(np.int64), tfs)[ok] * stride + start[ok]
            )
        merged = np.concatenate(slot_keys) if slot_keys else np.empty(0, np.int64)
        keys = (
            np.sort(merged)
            if keys is None
            else np.intersect1d(keys, merged, assume_unique=True)
        )
        if not len(keys):
            return None
    docs = keys // stride
    starts = keys % stride
    uniq, first_idx, counts = np.unique(docs, return_index=True, return_counts=True)
    return uniq, counts, starts[first_idx]


_PART_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_occurrences", T.LongType(), False),
        T.StructField("first_pos", T.LongType(), False),
    ]
)

_EMPTY_PART = pd.DataFrame(
    {
        "query_id": pd.Series([], dtype="int32"),
        "doc_id": pd.Series([], dtype="int64"),
        "n_occurrences": pd.Series([], dtype="int64"),
        "first_pos": pd.Series([], dtype="int64"),
    }
)


def phrase_topk_packed_batch(
    pidx,
    phrases: Sequence[str],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
    slop: int = 0,
) -> DataFrame:
    """Packed-path phrase retrieval. The whole match runs INSIDE each
    (query_id, chunk) group: chunk boundaries are doc-range cuts shared by
    every term, so a doc's postings for all phrase slots co-reside in one
    chunk (streaming appends add same-chunk rows, also grouped here) and
    the numpy key intersection is exact per group. The shuffle moves only
    chunk rows — never per-posting hits — and each group emits at most k
    docs (safe cut: per-doc results are complete within the group).
    Gated identical to the exact path in tests/test_phrase.py.

    ``slop``: ordered position slack (ES match_phrase slop restricted to
    in-order matches — Lucene span_near in_order=true): a doc matches
    when its minimal ordered span stretches at most ``slop`` positions
    beyond the phrase length; 0 is the exact phrase. Chunk-locality is
    unchanged (a doc's whole occurrence set lives in one chunk), so the
    per-group cut stays safe at any slop."""
    cfg = cfg or TokenizerConfig.from_manifest(pidx.manifest.get("tokenizer", {}))
    slots = phrase_slots(phrases, cfg)
    return _packed_slots_topk(pidx, slots, k, slop=slop)


def _packed_slots_topk(pidx, slots: Dict[int, List], k: int | None,
                       slop: int = 0) -> DataFrame:
    """Shared packed tail over (possibly multi-term) slots — the engine
    behind plain phrases AND match_phrase_prefix."""
    if not pidx.manifest.get("positional"):
        raise ValueError("packed index was not built with positional=True")
    if int(slop) < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    slop = int(slop)
    spark = pidx.spark
    slots = _as_multi(slots)
    sdf, rows = _slot_df(spark, slots)
    all_terms = sorted({t for _, _, t in rows})
    if not all_terms:
        return spark.createDataFrame([], _rank_schema())
    pruned = pidx.index.filter(F.col("term").isin(all_terms))
    matched = pruned.join(F.broadcast(sdf), "term").select(
        "query_id", "chunk", "slot", "postings", "positions"
    )
    mask = pidx.delete_mask()

    def chunk_scorer(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from ..indexing.codec import decode_positions, decode_postings

        if not len(pdf):
            return _EMPTY_PART
        dec = lambda buf: decode_postings(bytes(buf))  # noqa: E731
        dec_pos = lambda buf, tfs: decode_positions(bytes(buf), tfs)  # noqa: E731
        if mask is not None:
            dec, dec_pos = mask.wrap_decoders(dec, dec_pos)
        qid = int(pdf["query_id"].iloc[0])
        toks = slots[qid]
        rows_by_slot: Dict[int, list] = {}
        for row in pdf.itertuples(index=False):
            rows_by_slot.setdefault(int(row.slot), []).append(row)
        got = _phrase_group(toks, rows_by_slot, dec, dec_pos, slop=slop)
        if got is None:
            return _EMPTY_PART
        uniq, counts, firsts = got
        if k is not None and len(uniq) > k:
            order = np.lexsort((uniq, -counts))[:k]
            uniq, counts, firsts = uniq[order], counts[order], firsts[order]
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": uniq,
                "n_occurrences": counts,
                "first_pos": firsts,
            }
        )

    part = matched.groupBy("query_id", "chunk").applyInPandas(
        chunk_scorer, schema=_PART_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    ranked = part.withColumn("rank", F.row_number().over(w).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(*_OUT_COLS)


def _rank_schema():
    return T.StructType(
        list(_PART_SCHEMA.fields) + [T.StructField("rank", T.LongType(), False)]
    )


def local_phrase(searcher, phrase: str, k: int | None = 10,
                 resolve: bool = True, slop: int = 0) -> List[dict]:
    """In-process phrase query off a :class:`~.serve.LocalSearcher` —
    zero Spark jobs when the term slices are cached. Runs the SAME
    :func:`_phrase_group` core as the distributed chunk scorer (gated
    identical), over all cached rows at once, through the searcher's
    decoded-postings LRU. ``slop`` as in
    :func:`phrase_topk_packed_batch`."""
    import numpy as np

    if not searcher._positional:
        raise ValueError("packed index was not built with positional=True")
    if int(slop) < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    toks = tokenize_text(phrase, searcher.cfg)
    if not toks:
        return []
    searcher._ensure_terms(list(dict.fromkeys(toks)))
    rows_by_slot: Dict[int, list] = {}
    for slot, term in enumerate(toks):
        sl = searcher._matched([term])
        if sl is None:
            return []
        rows_by_slot[slot] = list(sl.itertuples(index=False))
    got = _phrase_group(
        toks, rows_by_slot, searcher._dec, searcher._dec_pos, slop=int(slop)
    )
    if got is None:
        return []
    uniq, counts, firsts = got
    order = np.lexsort((uniq, -counts))
    if k is not None:
        order = order[:k]
    out = pd.DataFrame(
        {
            "query_id": 0,
            "doc_id": uniq[order],
            "score": counts[order].astype(float),
            "rank": np.arange(1, len(order) + 1),
        }
    )
    rows = searcher._resolve(out, resolve)
    for r, oi in zip(rows, order):
        r["n_occurrences"] = int(counts[oi])
        r["first_pos"] = int(firsts[oi])
        r.pop("score", None)
    return rows


# ---------------------------------------------------------- phrase prefix

def phrase_prefix_slots(
    phrases: Sequence[str],
    cfg: TokenizerConfig,
    expansions: Dict[str, List[str]],
) -> Dict[int, List]:
    """Multi-term slots for match_phrase_prefix: the raw phrase's LAST
    whitespace word is a dictionary PREFIX (lowercased, never analyzed —
    the wildcard-family contract; stemming a partial word would corrupt
    it), the leading words tokenize through the normal chain, and the
    prefix slot carries its expansion set. ``expansions`` maps
    ``prefix*`` patterns (query/wildcard.py form) to term lists. A
    prefix expanding to nothing poisons its query (matches nothing — the
    ES contract)."""
    slots: Dict[int, List] = {}
    for qid, raw in enumerate(phrases):
        words = raw.split()
        if not words:
            slots[qid] = []
            continue
        lead, prefix = " ".join(words[:-1]), words[-1].lower()
        toks: List = list(tokenize_text(lead, cfg))
        toks.append(list(expansions.get(prefix + "*", [])))
        slots[qid] = toks
    return slots


def _prefix_patterns(phrases: Sequence[str]) -> List[str]:
    pats = []
    for raw in phrases:
        words = raw.split()
        if words:
            pats.append(words[-1].lower() + "*")
    return list(dict.fromkeys(pats))


def phrase_prefix_topk_packed_batch(
    pidx,
    phrases: Sequence[str],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
    max_expansions: int = 50,
    slop: int = 0,
) -> DataFrame:
    """ES ``match_phrase_prefix`` (search-as-you-type): exact phrase on
    the leading tokens with the last word as a dictionary prefix — the
    prefix slot matches ANY of its df-top ``max_expansions`` expansion
    terms at the final offset. Runs on the plain-phrase packed engine
    (multi-term slots ride the same pruned scan + per-chunk numpy
    intersection; expansion is one bounded term_stats job —
    query/wildcard.py). Selection note: ES expands the FIRST
    max_expansions terms in dictionary order; we rank by live df like
    the rest of the wildcard family (the more useful cap), documented
    deviation."""
    from .wildcard import expand_patterns

    cfg = cfg or TokenizerConfig.from_manifest(pidx.manifest.get("tokenizer", {}))
    exp = expand_patterns(
        pidx.term_stats, _prefix_patterns(phrases), max_expansions=max_expansions
    )
    return _packed_slots_topk(pidx, phrase_prefix_slots(phrases, cfg, exp), k,
                              slop=slop)


def local_phrase_prefix(
    searcher,
    phrase: str,
    k: int | None = 10,
    max_expansions: int = 50,
    resolve: bool = True,
    expansions: Dict[str, List[str]] | None = None,
    slop: int = 0,
) -> List[dict]:
    """In-process match_phrase_prefix off a LocalSearcher — expansion
    from the in-memory dictionary (zero Spark jobs in preload mode),
    then the SAME _phrase_group core (gated identical to the packed
    path). ``expansions``: precomputed pattern map (the federation seam
    — every shard must match the federation-global selection)."""
    import numpy as np

    if not searcher._positional:
        raise ValueError("packed index was not built with positional=True")
    pats = _prefix_patterns([phrase])
    if expansions is not None:
        exp = expansions
    else:
        exp = searcher.expand_wildcards(pats, max_expansions=max_expansions) \
            if pats else {}
    slots = _as_multi(phrase_prefix_slots([phrase], searcher.cfg, exp))[0]
    if not slots:
        return []
    flat = sorted({t for terms in slots for t in terms})
    searcher._ensure_terms(flat)
    rows_by_slot: Dict[int, list] = {}
    for slot, terms in enumerate(slots):
        sl = searcher._matched(list(terms))
        if sl is None:
            return []
        rows_by_slot[slot] = list(sl.itertuples(index=False))
    got = _phrase_group(slots, rows_by_slot, searcher._dec,
                        searcher._dec_pos, slop=int(slop))
    if got is None:
        return []
    uniq, counts, firsts = got
    order = np.lexsort((uniq, -counts))
    if k is not None:
        order = order[:k]
    out = pd.DataFrame(
        {
            "query_id": 0,
            "doc_id": uniq[order],
            "score": counts[order].astype(float),
            "rank": np.arange(1, len(order) + 1),
        }
    )
    rows = searcher._resolve(out, resolve)
    for r, oi in zip(rows, order):
        r["n_occurrences"] = int(counts[oi])
        r["first_pos"] = int(firsts[oi])
        r.pop("score", None)
    return rows


def phrase_prefix_topk_batch(
    it: IndexTables,
    phrases: Sequence[str],
    cfg: TokenizerConfig,
    k: int | None = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """Exact-path match_phrase_prefix (the packed path's correctness
    twin, same multi-term-slot semantics)."""
    from .wildcard import expand_patterns

    if "positions" not in it.index.columns:
        raise ValueError("phrase retrieval needs a positional index")
    spark = it.index.sparkSession
    exp = expand_patterns(
        it.term_stats, _prefix_patterns(phrases), max_expansions=max_expansions
    )
    slots = _as_multi(phrase_prefix_slots(phrases, cfg, exp))
    sdf, rows = _slot_df(spark, slots)
    if not rows:
        return spark.createDataFrame([], _rank_schema())
    matched = it.index.join(F.broadcast(sdf), "term")
    hits = matched.select(
        "query_id", "slot", "doc_id", F.explode("positions").alias("pos")
    ).select(
        "query_id", "slot", "doc_id",
        (F.col("pos").cast("long") - F.col("slot")).alias("start"),
    )
    return _rank_occurrences(hits, slots, k)
