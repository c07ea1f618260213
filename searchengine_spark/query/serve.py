"""In-process single-query serving: :class:`LocalSearcher`.

The reference's interactive searcher (src/searcher.py:73-84) is an
in-process loop over a locally loaded index — ~446 ms/query single-node
(reference README.md:279). Paying a distributed Spark job per interactive
query is the wrong execution tier: job scheduling + task launch dominate
(p50 ~0.5-1.3 s regardless of data size). LocalSearcher serves the hot
path with ZERO Spark jobs: each term's packed rows live in process memory
as flat arrays (chunk, max_tfsat, the stored postings/positions buffers),
and BM25 queries hand them straight to the array kernel the distributed
batch paths also run (``wand.wand_topk``; no pandas object on that path).
The frame-shaped rankers (tfidf, proximity, boolean, explain, the
positional helpers) get a frame built from the same arrays and run the
distributed paths' scorers (``packed_prox_scorer``, ``_scorer``) —
results are gated identical in tests/test_serve.py and bit for bit
against the golden file in tests/test_wand_golden.py.

Two modes:

- ``preload=True``: snapshot the whole index + sidecars + docmap at open
  (one Spark job each). Right for indexes that fit driver memory — the
  interactive/edge serving replica. ``preload="auto"`` preloads when the
  index's stored postings stay under ``AUTO_PRELOAD_BYTES`` — a BYTE
  budget (exact from the manifest's ``postings_bytes``, observed on the
  index writes), so a wide positional payload can't sneak past a
  postings-count gate. A preloaded open of a plain index runs three
  Spark jobs, the index, term_stats and docmap snapshots: every read
  pins its schema and the budget needs no job.
- ``preload=False`` (lazy): nothing is snapshotted; a query's UNSEEN terms
  cost one pruned-scan collect (pushed ``In(term, …)`` row-group pruning,
  same as the distributed path), then stay cached — cold ~a Spark job,
  hot terms are milliseconds at ANY index size. Resolve/doc-norm rows are
  fetched and cached the same way.

Batch analytics (many queries, full-corpus rerank) stays on the
distributed ``*_batch`` paths — this class is the serving tier, not a
replacement for them.
"""

from __future__ import annotations

from collections import OrderedDict
from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal
from typing import Dict, List, NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..indexing.build import Bm25Params
from ..indexing.codec import decode_docs, decode_positions, decode_postings
from ..indexing.packed import PackedIndex
from ..tokenizer import TokenizerConfig, tokenize_text
from .proximity import _query_ltc, _scorer, packed_prox_scorer, validate_schema
from .wand import _member_mask, wand_topk

#: preload="auto" budget in ENCODED bytes (the preload snapshots raw
#: varbyte buffers; decode stays lazy/LRU). 1 GiB ≈ the old 200M-posting
#: freq-payload heuristic, but honest on wide payloads: a positional
#: index's stored positions count against it instead of hiding behind a
#: postings COUNT that undercounts bytes 3-5x.
AUTO_PRELOAD_BYTES = 1 << 30
DECODED_CACHE_POSTINGS = 100_000_000  # decoded-postings LRU cap (~2.4 GB)


def estimate_postings_bytes(pidx: PackedIndex) -> int:
    """Stored postings bytes for the preload budget: EXACT from the
    manifest's ``postings_bytes``, which the build, every append and every
    compaction observe on their own index writes (no Spark job at open).
    Manifests that predate the key fall back to the base build's
    lineage_index sidecar (Σ postings_bytes), and layouts predating that
    sidecar to a manifest-width heuristic."""
    if "postings_bytes" in pidx.manifest:
        return int(pidx.manifest["postings_bytes"])
    from ..indexing import fsio

    p = fsio.join(pidx.path, "lineage_index")
    if fsio.exists(pidx.spark, p):
        got = (
            pidx.spark.read.parquet(p)
            .agg(F.sum("postings_bytes")).collect()[0][0]
        )
        if got is not None:
            return int(got)
    width = {"boolean": 2, "freq": 5, "tfidf": 6}.get(
        pidx.manifest.get("payload", "freq"), 5)
    if pidx.manifest.get("positional"):
        width *= 3
    return int(pidx.manifest.get("n_postings", 0)) * width

RANKERS = (
    "bm25", "bm25_and", "bm25_optimized", "tfidf", "tfidf_optimized",
    "boolean_and", "boolean_or",
)


class _Slice(NamedTuple):
    """One term's packed rows, in stored order. ``postings``/``positions``
    are object arrays holding the stored buffers themselves: the decoded
    LRU is keyed by ``id(buf)``, so these objects must stay referenced."""

    chunk: np.ndarray  # int64
    max_tfsat: np.ndarray  # float64
    postings: np.ndarray  # object
    positions: np.ndarray | None  # object; positional indexes only


def _slices_of(pdf: pd.DataFrame, positional: bool) -> Dict[str, _Slice]:
    """Split a (term, chunk, max_tfsat, postings[, positions]) frame into
    per-term array slices — views of one stably term-sorted copy, so each
    term keeps its rows in stored order."""
    codes, names = pd.factorize(pdf["term"])
    order = np.argsort(codes, kind="stable")
    cuts = np.searchsorted(codes[order], np.arange(len(names) + 1))
    chunk = pdf["chunk"].to_numpy(np.int64)[order]
    mt = pdf["max_tfsat"].to_numpy(np.float64)[order]
    post = pdf["postings"].to_numpy()[order]
    pos = pdf["positions"].to_numpy()[order] if positional else None
    return {
        t: _Slice(chunk[a:b], mt[a:b], post[a:b],
                  pos[a:b] if pos is not None else None)
        for t, a, b in zip(names, cuts[:-1].tolist(), cuts[1:].tolist())
    }


def _round3(x: float) -> float:
    """Python twin of Spark's F.bround(double, 3): BigDecimal.valueOf(x)
    (shortest decimal repr — == Python repr) rounded HALF_EVEN — which is
    what the reference's Python round(w, 3) does on the exact-binary-tie
    doubles (0.0625-class) that bnc/nnc weights can produce. Needed for
    bit-identical stored-weight parity with the distributed TF-IDF path."""
    return float(Decimal(repr(x)).quantize(Decimal("0.001"), rounding=ROUND_HALF_EVEN))


class LocalSearcher:
    """Driver-side serving handle over a :class:`PackedIndex`."""

    def __init__(
        self,
        pidx: PackedIndex,
        preload: bool | str = "auto",
        cfg: TokenizerConfig | None = None,
        decoded_cache_postings: int = DECODED_CACHE_POSTINGS,
    ):
        self.pidx = pidx
        self.manifest = pidx.manifest
        self.params: Bm25Params = pidx.params
        self.cfg = cfg or TokenizerConfig.from_manifest(
            self.manifest.get("tokenizer", {})
        )
        self._positional = bool(self.manifest.get("positional"))
        self._payload = self.manifest.get("payload", "freq")
        self._sidecar = bool(self.manifest.get("tfidf_sidecar"))
        self._ext_cols = [c for c in self.manifest["order_cols"] if c != "doc_id"]
        self._index_cols = ["term", "chunk", "max_tfsat", "postings"] + (
            ["positions"] if self._positional else []
        )
        # caches (term -> array slice; scalars by id; norms per sidecar
        # column — one cosine denominator per doc-side tf letter)
        self._slices: Dict[str, _Slice] = {}
        self._idf: Dict[str, float] = {}
        self._df: Dict[str, int] = {}
        self._variants: Dict[str, list] | None = None  # fuzzy, lazy-built
        self._fuzzy_corr: Dict[str, str] = {}  # OOV term -> correction
        self._doc_tokens_cache: Dict[int, list] = {}  # more_like sources
        self._docmap: Dict[int, tuple] = {}
        self._norms: Dict[str, Dict[int, float]] = {}
        self._all_terms_cached = False
        self._all_docs_cached = False
        # decoded-postings LRU: varbyte decode dominates big-index queries
        # (~80% measured at 252M postings) — repeat terms skip it entirely.
        # Keyed by id(buf); the buffer is kept in the value so the id can't
        # be recycled while the entry lives. Capped by Σ decoded postings.
        self.decoded_cache_postings = decoded_cache_postings
        self._decoded: OrderedDict = OrderedDict()
        self._dec_postings = 0
        # tombstones: wrap the LRU hooks in the live-doc mask ONCE (the LRU
        # keeps the unmasked decode; masking is a cheap sorted-membership
        # pass per hit) — every local ranker path then serves deletes
        self._mask = pidx.delete_mask()
        if self._mask is not None:
            self._dec, self._dec_pos = self._mask.wrap_decoders(
                self._decode_cached, self._decode_pos_cached
            )
        else:
            self._dec, self._dec_pos = self._decode_cached, self._decode_pos_cached

        if preload == "auto":
            preload = estimate_postings_bytes(pidx) <= AUTO_PRELOAD_BYTES
        self._preloaded = bool(preload)
        if preload:
            self._preload()

    # ------------------------------------------------------------- loading

    def _preload(self) -> None:
        pdf = self.pidx.index.select(*self._index_cols).toPandas()
        self._slices = _slices_of(pdf, self._positional)
        del pdf
        for r in self.pidx.term_stats.select("term", "df", "idf").collect():
            self._idf[r["term"]] = float(r["idf"])
            self._df[r["term"]] = int(r["df"])
        dm = self.pidx.docmap.toPandas()
        # .item() numpy scalars so resolved rows JSON-serialize identically
        # to the distributed tier's Row.collect() (int, not np.int64->str)
        self._docmap = {
            int(r[0]): tuple(
                v.item() if isinstance(v, np.generic) else v for v in r[1:]
            )
            for r in dm.itertuples(index=False)
        }
        if self._sidecar and self.pidx.doc_norms is not None:
            nz = self.pidx.doc_norms.toPandas()
            for col in nz.columns:
                if col != "doc_id":
                    self._norms[col] = dict(
                        zip(nz["doc_id"].astype(int), nz[col].astype(float))
                    )
        self._all_terms_cached = True
        self._all_docs_cached = True

    def _ensure_terms(self, terms: Sequence[str]) -> None:
        if self._all_terms_cached:
            return
        missing = sorted(t for t in terms if t not in self._slices)
        if not missing:
            return
        pdf = (
            self.pidx.index.filter(F.col("term").isin(missing))
            .select(*self._index_cols)
            .toPandas()
        )
        grouped = _slices_of(pdf, self._positional)
        nothing = np.empty(0, dtype=object)
        empty = _Slice(np.empty(0, dtype=np.int64), np.empty(0), nothing,
                       nothing if self._positional else None)
        for t in missing:
            self._slices[t] = grouped.get(t, empty)  # negative-cache misses
        for r in (
            self.pidx.term_stats.select("term", "df", "idf")
            .filter(F.col("term").isin(missing))
            .collect()
        ):
            self._idf[r["term"]] = float(r["idf"])
            self._df[r["term"]] = int(r["df"])

    # ------------------------------------------------------------- fuzzy

    def _fuzzy_rewrite(self, toks: List[str]) -> List[str]:
        """Rewrite OOV tokens to their best Levenshtein<=1 dictionary
        neighbor (query/fuzzy.py contract: exact first, df desc, term
        asc). Preload mode corrects in-process against a lazily built
        symmetric-delete variant index (O(vocab · avg_len) dict entries,
        built once on the first fuzzy query — the preload tier already
        holds the whole index in memory); lazy mode delegates to the
        bounded correct_terms Spark job, which lazy-mode term fetches
        already pay per miss anyway."""
        from .fuzzy import correct_terms, del1, levenshtein

        self._ensure_terms(sorted(dict.fromkeys(toks)))
        # corrections are cached like term slices (an uncorrectable term
        # caches as itself): a repeated typo'd query never re-runs the
        # lazy-mode dictionary job — this handle serves one index
        # SNAPSHOT, so the dictionary cannot grow under it
        oov = sorted(
            {t for t in toks if t not in self._idf and t not in self._fuzzy_corr}
        )
        if not oov:
            return [self._fuzzy_corr.get(t, t) for t in toks]
        if not self._all_terms_cached:
            corr = correct_terms(self.pidx.term_stats, oov)
        else:
            if self._variants is None:
                self._variants = {}
                for t in self._idf:
                    for v in {t} | del1(t):
                        self._variants.setdefault(v, []).append(t)
            corr = {}
            for q in oov:
                cands = {
                    c
                    for v in ({q} | del1(q))
                    for c in self._variants.get(v, ())
                    if levenshtein(q, c) <= 1
                }
                if cands:
                    corr[q] = min(cands, key=lambda c: (-self._df[c], c))
        for q in oov:
            self._fuzzy_corr[q] = corr.get(q, q)
        return [self._fuzzy_corr.get(t, t) for t in toks]

    def _ensure_docs(self, doc_ids: Sequence[int]) -> None:
        if self._all_docs_cached:
            return
        missing = sorted(d for d in doc_ids if d not in self._docmap)
        if not missing:
            return
        for r in self.pidx.docmap.filter(F.col("doc_id").isin(missing)).collect():
            self._docmap[int(r["doc_id"])] = tuple(r[c] for c in self._ext_cols)

    def _ensure_norms(self, doc_ids: Sequence[int], col: str) -> None:
        if self._all_docs_cached or self.pidx.doc_norms is None:
            return
        cache = self._norms.setdefault(col, {})
        missing = sorted(d for d in doc_ids if d not in cache)
        if not missing:
            return
        for r in (
            self.pidx.doc_norms.select("doc_id", col)
            .filter(F.col("doc_id").isin(missing))
            .collect()
        ):
            cache[int(r["doc_id"])] = float(r[col])

    def _decode_cached(self, buf, fn=decode_postings):
        """Memoized ``fn(bytes(buf))`` — see the LRU comment in __init__.
        Keyed by the buffer object alone: one index serves one payload
        type, and the positions twin passes a DISTINCT buffer object, so
        the key never maps to two different fn outputs."""
        key = id(buf)
        hit = self._decoded.get(key)
        if hit is not None:
            self._decoded.move_to_end(key)
            return hit[1]
        arrs = fn(bytes(buf))
        first = arrs[0] if isinstance(arrs, tuple) else arrs
        self._decoded[key] = (buf, arrs)
        self._dec_postings += len(first)
        while (
            self._dec_postings > self.decoded_cache_postings
            and len(self._decoded) > 1
        ):
            _, (_obuf, oarrs) = self._decoded.popitem(last=False)
            ofirst = oarrs[0] if isinstance(oarrs, tuple) else oarrs
            self._dec_postings -= len(ofirst)
        return arrs

    def _decode_pos_cached(self, buf, tfs):
        """Positions twin of :meth:`_decode_cached` (delegates — one LRU
        insert/evict implementation). Sound to key by the buffer alone
        because ``tfs`` is a pure function of the sibling postings buffer
        of the same row, and the positions buffer is a DISTINCT object
        from the postings buffer, so the shared id-keyed dict never
        collides across the two decode kinds."""
        return self._decode_cached(buf, fn=lambda b: decode_positions(b, tfs))

    # ------------------------------------------------------------- serving

    def _gather(self, terms: List[str]) -> tuple | None:
        """-> (names, term codes, chunk, max_tfsat, postings, positions):
        the matched rows of ``terms`` (those with any) as flat arrays, term
        by term in the given order — the kernel's input. None if no term
        matches anything."""
        self._ensure_terms(terms)
        names, parts = [], []
        for t in terms:
            sl = self._slices.get(t)
            if sl is not None and len(sl.chunk):
                names.append(t)
                parts.append(sl)
        if not parts:
            return None
        codes = np.repeat(np.arange(len(parts)),
                          [len(p.chunk) for p in parts])
        cols = [np.concatenate([p[i] for p in parts]) for i in range(3)]
        pos = (np.concatenate([p.positions for p in parts])
               if self._positional else None)
        return (names, codes, *cols, pos)

    def _matched(self, terms: List[str]) -> pd.DataFrame | None:
        """The matched rows as the frame the frame-shaped scorers take
        (term, chunk, max_tfsat, postings[, positions], query_id=0)."""
        g = self._gather(terms)
        if g is None:
            return None
        names, codes, chunk, mt, post, pos = g
        cols = {"term": np.asarray(names, dtype=object)[codes],
                "chunk": chunk, "max_tfsat": mt, "postings": post}
        if pos is not None:
            cols["positions"] = pos
        cols["query_id"] = 0
        return pd.DataFrame(cols)

    def search(
        self,
        query: str,
        k: int = 10,
        ranker: str = "bm25",
        schema: str = "lnc.ltc",
        round_dp: int | None = None,
        rerank_n: int | None = None,
        resolve: bool = True,
        fuzzy: bool = False,
        filter_docs=None,
        boost_docs=None,
        idf_override: Dict[str, float] | None = None,
        dl_bounds: tuple | None = None,
        query_tokens: List[str] | None = None,
        exclude: Sequence[str] | None = None,
        offset: int = 0,
        search_after: tuple | None = None,
        min_should_match: int | None = None,
        demote: Sequence[str] | None = None,
        negative_boost: float = 0.5,
        wildcard: bool = False,
        max_expansions: int = 50,
        allow_leading_wildcard: bool = False,
        regexp: bool = False,
    ) -> List[dict]:
        """One interactive query -> rank-ordered result dicts
        (doc_id, *order_cols, score, rank). No Spark jobs when the needed
        term/doc slices are cached (always, in preload mode).

        ``fuzzy=True`` rewrites OOV tokens to their best Levenshtein<=1
        dictionary neighbor before ranking (any ranker — the rewrite is
        token-level, multiplicity preserved for the tfidf/proximity
        paths); zero Spark jobs in preload mode.

        ``filter_docs``: optional doc_id iterable/array — attribute-
        filtered retrieval (the in-process twin of the distributed
        ``doc_filter``): the top-k/result set is computed over only those
        docs, applied before the heap (bm25) / on the decoded sets
        (boolean). In-process the set rides the scorer closure directly —
        fine for the serving tier, whose inputs are driver-resident by
        construction; batch-scale filters belong on the distributed path.
        tfidf/proximity rankers refuse (use the distributed batch APIs).

        ``boost_docs``: optional {doc_id: non-negative multiplier} — the
        soft twin (doc boosting): final scores multiply by the doc's
        boost before rounding, pruning bound scaled by the max boost
        (the distributed doc_boost's closure form; bm25/bm25_and).

        ``idf_override`` / ``dl_bounds`` / ``query_tokens``: the
        federation seams (:class:`FederatedLocalSearcher`) — pin the
        query-side idf map and the proximity boost's (dl_min, dl_max) to
        federation-global values, and bypass tokenization with an
        already-tokenized (and possibly fuzzy-corrected) token list so
        every shard scores the identical query.

        ``exclude``: raw negated words (the ``-term`` parts of the query,
        query/negation.py) — docs containing any of them are dropped
        before the heap (bm25/bm25_and) / after the set combine
        (boolean_*). Words normalize through the same tokenize chain as
        the query; tfidf/proximity rankers refuse (use the distributed
        batch paths).

        ``offset``: result paging (ES from/size; bm25/bm25_and): page
        [offset, offset+k) with ABSOLUTE ranks — heap sized k+offset.

        ``search_after``: (score, doc_id) cursor — ES ``search_after``
        deep pagination (bm25/bm25_and): the next k hits STRICTLY AFTER
        the cursor in (score desc, doc_id asc) order, heap sized k at any
        depth (the scale-correct alternative to offset). Pass the
        previous page's last (score, doc_id) — the rounded score when
        round_dp is set. Ranks come back PAGE-RELATIVE 1..k. Mutually
        exclusive with offset.

        ``wildcard=True``: ``te*t`` / ``te?t`` query words expand against
        the dictionary (query/wildcard.py — df-ranked, ``max_expansions``
        cap, leading wildcards refused unless ``allow_leading_wildcard``)
        and the expansions score ordinary BM25 OR / join the boolean OR
        set; zero Spark jobs in preload mode. bm25/boolean_or only (a
        conjunctive/tfidf/proximity query with a pattern has no single
        obvious contract — refused loudly).

        ``regexp=True``: ``/pat/`` query words expand against the
        dictionary (query/regexp.py — anchored whole-term match, same
        df-ranked cap; patterns with no literal prefix refused unless
        ``allow_leading_wildcard``) and join the query exactly like
        wildcards. Same ranker gating; combines with wildcard=True
        (each syntax parses its own words)."""
        if ranker not in RANKERS:
            raise ValueError(f"ranker must be one of {RANKERS}, got {ranker!r}")
        if wildcard or regexp:
            if ranker not in ("bm25", "boolean_or"):
                raise NotImplementedError(
                    f"wildcard/regexp expansion is not wired into the "
                    f"{ranker!r} local scorer (bm25 / boolean_or only)"
                )
            if query_tokens is not None:
                raise ValueError(
                    "wildcard/regexp=True parses the raw query — expansion "
                    "and query_tokens are mutually exclusive (federations "
                    "expand against the federation dictionary, then pass "
                    "tokens)"
                )
            from .wildcard import wildcard_query_terms

            rx_pats: List[str] = []
            if regexp:
                from .regexp import split_regexps

                query, rx_pats = split_regexps(query)
            pats: List[str] = []
            if wildcard:
                from .wildcard import split_wildcards

                query, pats = split_wildcards(query)
            exp = self.expand_wildcards(
                pats, max_expansions=max_expansions,
                allow_leading_wildcard=allow_leading_wildcard,
            ) if pats else {}
            if rx_pats:
                rx_exp = self.expand_regexps(
                    rx_pats, max_expansions=max_expansions,
                    allow_leading_wildcard=allow_leading_wildcard,
                )
                clash = set(exp) & set(rx_exp)
                if clash:
                    raise ValueError(
                        f"pattern text {sorted(clash)} appears as BOTH a "
                        "wildcard and a regexp — the two syntaxes expand "
                        "differently; drop one")
                exp = exp | rx_exp
            query_tokens = wildcard_query_terms(
                [query], self.cfg, exp, [pats + rx_pats])[0]
        if offset:
            if offset < 0:
                raise ValueError(f"offset must be >= 0, got {offset}")
            if ranker not in ("bm25", "bm25_and"):
                raise NotImplementedError(
                    f"offset paging is not wired into the {ranker!r} local "
                    "scorer (boolean returns the full set; page client-side)"
                )
        if search_after is not None:
            if offset:
                raise ValueError(
                    "offset and search_after are mutually exclusive (the "
                    "cursor IS the page position)"
                )
            if ranker not in ("bm25", "bm25_and"):
                raise NotImplementedError(
                    f"search_after is not wired into the {ranker!r} local "
                    "scorer (bm25/bm25_and only)"
                )
        if min_should_match is not None:
            if ranker != "bm25":
                raise NotImplementedError(
                    "min_should_match is wired to the bm25 local scorer "
                    "(bm25_and IS min_should_match = the term count)"
                )
            if int(min_should_match) < 1:
                raise ValueError(
                    f"min_should_match must be >= 1, got {min_should_match}"
                )
        dem_terms: List[str] = []
        if demote:
            if ranker not in ("bm25", "bm25_and"):
                raise NotImplementedError(
                    f"demote is not wired into the {ranker!r} local scorer"
                )
            if not 0.0 <= float(negative_boost) < 1.0:
                raise ValueError(
                    f"negative_boost must be in [0, 1), got {negative_boost}"
                )
            from .negation import negated_terms

            dem_terms = negated_terms(demote, self.cfg)
        ex_terms: List[str] = []
        if exclude:
            if ranker not in ("bm25", "bm25_and", "boolean_and", "boolean_or"):
                raise NotImplementedError(
                    f"exclude is not wired into the {ranker!r} local scorer "
                    "— use the distributed batch path's exclude_terms"
                )
            from .negation import negated_terms

            ex_terms = negated_terms(exclude, self.cfg)
        allowed = None
        if filter_docs is not None:
            allowed = np.unique(np.asarray(list(filter_docs)
                                           if not isinstance(filter_docs, np.ndarray)
                                           else filter_docs, dtype=np.int64))
            if ranker in ("tfidf", "tfidf_optimized", "bm25_optimized"):
                raise NotImplementedError(
                    f"filter_docs is not wired into the {ranker!r} local "
                    "scorer — use the distributed batch path's doc_filter"
                )
        boosts = None
        if boost_docs is not None:
            if ranker not in ("bm25", "bm25_and"):
                raise NotImplementedError(
                    f"boost_docs is not wired into the {ranker!r} local "
                    "scorer — use the distributed batch path's doc_boost"
                )
            b_ids = np.asarray(sorted(boost_docs), dtype=np.int64)
            b_vals = np.asarray([float(boost_docs[int(d)]) for d in b_ids])
            boosts = (b_ids, b_vals)
        toks = (list(query_tokens) if query_tokens is not None
                else tokenize_text(query, self.cfg))
        if fuzzy and toks:
            toks = self._fuzzy_rewrite(toks)
        terms = list(dict.fromkeys(toks))
        if not terms:
            return []  # pure-negation queries included: never a corpus scan
        fetch = terms + [t for t in ex_terms if t not in terms]
        idf = idf_override if idf_override is not None else self._idf
        if ranker in ("bm25", "bm25_and"):
            # the term slices' arrays go straight to the WAND kernel and
            # its arrays straight to the result dicts: no pandas object
            g = self._gather(fetch)
            if g is None:
                return []
            if self._payload != "freq":
                raise ValueError("BM25 needs a payload='freq' build")
            require_all = None
            if ranker == "bm25_and":
                # conjunctive contract: any OOV term -> empty AND set
                # (_gather already ensured the term slices/idf are loaded)
                if any(t not in self._idf for t in terms):
                    return []
                require_all = len(terms)
            sa = None
            if search_after is not None:
                sa = (float(search_after[0]), int(search_after[1]))
            dem = keep = None
            if dem_terms:
                if set(dem_terms) & set(ex_terms):
                    raise ValueError(
                        "terms both demoted and excluded — pick one "
                        "(exclusion removes, demotion sinks)"
                    )
                # demote slices must be loaded like scoring slices
                self._ensure_terms([t for t in dem_terms if t not in self._idf])
                dem = set(t for t in dem_terms if t in self._idf)
                keep = dem & set(terms)
                extra = [t for t in sorted(dem) if t not in fetch]
                if extra:
                    g = self._gather(fetch + extra) or g
            names, codes, chunk, mt, post, _ = g
            docs, scores = wand_topk(
                k + offset, self.params, names, codes, chunk, mt, post, idf,
                round_dp=round_dp, decode=self._dec, allowed=allowed,
                require_all=require_all, boosts=boosts,
                min_match=(int(min_should_match)
                           if min_should_match is not None else None),
                exclude=set(ex_terms) or None, search_after=sa,
                demote=dem, demote_keep=keep,
                demote_factor=float(negative_boost),
            )
            ranks = np.arange(1, len(docs) + 1)
            # offset paging: page [offset, offset+k) keeps ABSOLUTE ranks
            return self._rows(docs[offset:], scores[offset:], ranks[offset:],
                              resolve)
        pdf = self._matched(fetch)
        if pdf is None:
            return []

        if ranker.startswith("boolean_"):
            return self._boolean(pdf, len(terms), ranker == "boolean_and",
                                 resolve, allowed=allowed,
                                 exclude=set(ex_terms) or None)
        if ranker == "bm25_optimized":
            if not self._positional:
                raise ValueError("packed index was not built with positional=True")
            dmin, dmax = dl_bounds if dl_bounds is not None else (
                float(self.manifest["dl_norm_min"]),
                float(self.manifest["dl_norm_max"]),
            )
            scorer = packed_prox_scorer(
                {0: toks}, idf, self.params,
                float(dmin), float(dmax),
                k, round_dp, rerank_n,
                decode=self._dec,
                decode_pos=self._dec_pos,
            )
            out = scorer(pdf)
        else:  # tfidf / tfidf_optimized
            if ranker == "tfidf_optimized" and not self._positional:
                # same refusal as the distributed twin
                # (proximity_topk_packed_batch): without stored positions
                # the boost would silently be 0 for every doc — plain
                # tfidf ranking mislabeled as tfidf_optimized.
                raise ValueError("packed index was not built with positional=True")
            out = self._tfidf(pdf, toks, k, ranker == "tfidf_optimized",
                              schema, round_dp, rerank_n, idf_map=idf)
        return self._resolve(out, resolve)

    def explain(
        self,
        query: str,
        k: int = 10,
        round_dp: int | None = None,
        fuzzy: bool = False,
        resolve: bool = True,
        idf_override: Dict[str, float] | None = None,
        query_tokens: List[str] | None = None,
    ) -> List[dict]:
        """Lucene/ES ``explain`` analog: the BM25 top-k result dicts, each
        carrying a ``breakdown`` list — per matched query term
        ``{term, tf, idf, dl_norm, contribution}`` (term-asc) with
        ``contribution = idf · tf(k+1)/(tf + k(1−b+b·dl_norm))`` summing
        to the doc's score. Decodes ONLY the chunks holding top-k docs
        (memoized), so the cost after :meth:`search` is O(k · |terms|).
        OOV terms never appear in a breakdown. Plain bm25 only — the
        breakdown explains the base formula, not boosts/filters.

        ``idf_override``/``query_tokens`` are the federation seams: pin
        the idf map and bypass tokenization so every shard explains the
        identical query with the federation's own arithmetic."""
        if self._payload != "freq":
            raise ValueError("explain needs a payload='freq' build (BM25)")
        res = self.search(query, k=k, ranker="bm25", round_dp=round_dp,
                          fuzzy=fuzzy, resolve=resolve,
                          idf_override=idf_override,
                          query_tokens=query_tokens)
        if not res:
            return []
        toks = (list(query_tokens) if query_tokens is not None
                else tokenize_text(query, self.cfg))
        if fuzzy and toks:
            toks = self._fuzzy_rewrite(toks)
        terms = list(dict.fromkeys(toks))
        idf = idf_override if idf_override is not None else self._idf
        targets = np.asarray(sorted({int(r["doc_id"]) for r in res}),
                             dtype=np.int64)
        chunk_docs = int(self.manifest["chunk_docs"])
        tchunks = set((targets // chunk_docs).tolist())
        pdf = self._matched(terms)
        kk, bb = float(self.params.k), float(self.params.b)
        per_doc: Dict[int, list] = {int(d): [] for d in targets}
        for row in pdf.itertuples(index=False):
            if int(row.chunk) not in tchunks or row.term not in idf:
                continue
            doc_ids, tfs, dln = self._dec(row.postings)
            pos = np.searchsorted(targets, doc_ids)
            pos[pos == targets.size] = 0
            hit = (targets[pos] == doc_ids).nonzero()[0]
            w = float(idf[row.term])
            for j in hit:
                tf = float(tfs[j])
                d = float(dln[j])
                per_doc[int(doc_ids[j])].append({
                    "term": row.term,
                    "tf": int(tf),
                    "idf": w,
                    "dl_norm": d,
                    "contribution": w * (tf * (kk + 1.0))
                    / (tf + kk * (1.0 - bb + bb * d)),
                })
        for r in res:
            r["breakdown"] = sorted(
                per_doc.get(int(r["doc_id"]), []),
                key=lambda b: b["term"],
            )
        return res

    def suggest(self, prefix: str, k: int = 10) -> List[dict]:
        """Dictionary auto-complete: terms with ``prefix`` ranked by live
        df (desc, term-asc ties). The preload tier answers from the
        in-memory dictionary (zero Spark jobs — the suggest-as-you-type
        path); the lazy tier delegates to the pruned term_stats scan."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        if self._preloaded:
            hits = sorted(
                ((t, d) for t, d in self._df.items()
                 if d > 0 and t.startswith(prefix)),
                key=lambda td: (-td[1], td[0]),
            )[:k]
            return [{"term": t, "df": d} for t, d in hits]
        from .wand import suggest_terms

        return [
            {"term": r["term"], "df": int(r["df"])}
            for r in suggest_terms(self.pidx, prefix, k).collect()
        ]

    def expand_wildcards(
        self,
        patterns: Sequence[str],
        max_expansions: int = 50,
        allow_leading_wildcard: bool = False,
    ) -> Dict[str, List[str]]:
        """{pattern: matching dictionary terms} (query/wildcard.py
        selection: live df desc, term asc, ``max_expansions`` cap).
        Preload tier matches the in-memory dictionary (zero Spark jobs);
        lazy tier pays one bounded pushed-prefix term_stats scan."""
        from .wildcard import expand_patterns, expand_patterns_local

        if self._preloaded:
            return expand_patterns_local(
                self._df, patterns, max_expansions=max_expansions,
                allow_leading_wildcard=allow_leading_wildcard,
            )
        return expand_patterns(
            self.pidx.term_stats, patterns, max_expansions=max_expansions,
            allow_leading_wildcard=allow_leading_wildcard,
        )

    def expand_regexps(
        self,
        patterns: Sequence[str],
        max_expansions: int = 50,
        allow_leading_wildcard: bool = False,
    ) -> Dict[str, List[str]]:
        """{regexp pattern: matching dictionary terms} (query/regexp.py
        selection — same df-desc/term-asc cap as wildcards; patterns
        with no literal prefix refused unless opted in). Preload tier:
        in-memory fullmatch, zero Spark jobs."""
        from .regexp import expand_regexps, expand_regexps_local

        if self._preloaded:
            return expand_regexps_local(
                self._df, patterns, max_expansions=max_expansions,
                allow_leading_wildcard=allow_leading_wildcard,
            )
        return expand_regexps(
            self.pidx.term_stats, patterns, max_expansions=max_expansions,
            allow_leading_wildcard=allow_leading_wildcard,
        )

    def more_like(
        self,
        doc_id: int,
        k: int = 10,
        m: int = 10,
        round_dp: int | None = None,
        resolve: bool = True,
    ) -> List[dict]:
        """Interactive more-like-this (the local twin of
        query/feedback.more_like_this_packed, same selection contract):
        the source doc's top-``m`` terms by (1+ln tf)·idf — rounded 6dp,
        term-asc ties — become an unweighted BM25 query; the source is
        excluded and ranks renumbered. Costs ONE bounded Spark job for
        the source doc's stored tokens (cached per doc afterwards) plus,
        in lazy mode, the usual unseen-term slice fetch."""
        did = int(doc_id)
        toks = self._doc_tokens_cache.get(did)
        if toks is None:
            rows = (
                self.pidx.doc_tokens()
                .filter(F.col("doc_id") == did)
                .collect()
            )
            if not rows:
                raise KeyError(f"doc_id {did} not in the docs stage")
            toks = list(rows[0]["tokens"])
            self._doc_tokens_cache[did] = toks
        import math
        from collections import Counter

        tf = Counter(toks)  # one O(n) pass, not O(n·uniq) list.count calls
        uniq = sorted(tf)
        self._ensure_terms(uniq)
        w = {
            t: round((1.0 + math.log(tf[t])) * self._idf[t], 6)
            for t in uniq if t in self._idf
        }
        top = [t for t, _ in sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:m]]
        if not top:
            return []
        g = self._gather(top)
        if g is None:
            return []
        if self._payload != "freq":
            raise ValueError("more_like needs a payload='freq' build")
        names, codes, chunk, mt, post, _ = g
        docs, scores = wand_topk(k + 1, self.params, names, codes, chunk, mt,
                                 post, self._idf, round_dp=round_dp,
                                 decode=self._dec)
        keep = docs != did
        docs, scores = docs[keep][:k], scores[keep][:k]
        return self._rows(docs, scores, np.arange(1, len(docs) + 1), resolve)

    def _tfidf(self, pdf, toks, k, boost, schema, round_dp, rerank_n,
               idf_map: Dict[str, float] | None = None):
        """Local twin of proximity._tfidf_packed: decode -> stored-3dp
        weights under any SMART doc-side schema (embedded, sidecar-derived
        cosine, or norm-free — all with Spark-identical HALF_UP rounding)
        -> _scorer."""
        validate_schema(schema)
        if self._payload == "boolean":
            # doc-gaps-only postings carry no tf: decode_postings would
            # parse the gap stream as (gap, tf, dlq) triples — garbage.
            # Same refusal the bm25/more_like paths give.
            raise ValueError("TF-IDF needs a payload='freq' or 'tfidf' build")
        embedded_w = self._payload == "tfidf"
        nrm_col = None
        if embedded_w:
            baked = self.manifest.get("tfidf_doc_schema", "lnc")
            if schema[:3] != baked:
                raise ValueError(
                    f"this tfidf-payload index baked doc-side schema "
                    f"{baked!r} into the postings; schema {schema[:3]!r} "
                    "needs a freq+sidecar build or the exact-path API"
                )
            if boost:
                raise ValueError(
                    "tfidf payload stores no positions — TF_IDF_OPTIMIZED "
                    "needs a positional=True, tfidf_sidecar=True build"
                )
        elif schema[2] == "c":
            if not self._sidecar:
                raise ValueError("index was not built with tfidf_sidecar=True")
            nrm_col = {"l": "nrm", "b": "nrm_b", "n": "nrm_n"}[schema[0]]
            if (
                self.pidx.doc_norms is not None
                and nrm_col not in self.pidx.doc_norms.columns
            ):
                raise ValueError(
                    f"doc_norms sidecar predates multi-letter norms; "
                    f"doc-side schema {schema[:3]!r} needs a rebuilt sidecar"
                )
        recs: list = []
        all_docs: list = []
        for row in pdf.itertuples(index=False):
            doc_ids, tfs, third = self._dec(row.postings)
            all_docs.append((row.term, doc_ids, tfs, third, getattr(row, "positions", None)))
        if nrm_col is not None:
            self._ensure_norms(
                [int(d) for _, doc_ids, _, _, _ in all_docs for d in doc_ids],
                nrm_col,
            )
        norms = self._norms.get(nrm_col, {}) if nrm_col is not None else None
        from .tfidf import _uniform_tf_py

        import numpy as np

        for term, doc_ids, tfs, third, posbuf in all_docs:
            if posbuf is not None:
                flat, occ_starts = self._dec_pos(posbuf, tfs)
                ends = np.append(occ_starts[1:], len(flat))
                poss = [flat[s:e].tolist() for s, e in zip(occ_starts, ends)]
            else:
                poss = [[] for _ in range(len(doc_ids))]
            for j, d in enumerate(doc_ids):
                d = int(d)
                if embedded_w:
                    w = float(third[j])
                elif nrm_col is not None:  # cosine norm from the sidecar
                    w = _round3(
                        _uniform_tf_py(int(tfs[j]), schema[0]) / norms[d]
                    )
                elif schema[2] == "n":  # uniform_weight 'n': all weights 1
                    w = 1.0
                else:  # 'b' norm: identity over the tf weight
                    w = _round3(_uniform_tf_py(int(tfs[j]), schema[0]))
                recs.append((0, term, d, int(tfs[j]), w, poss[j], 0.0))
        joined = pd.DataFrame(
            recs,
            columns=["query_id", "term", "doc_id", "tf", "w", "positions", "dl_norm"],
        )
        joined["idf"] = 0.0  # _scorer reads idf only in bm25 mode
        qltc = _query_ltc(
            {0: toks}, idf_map if idf_map is not None else self._idf, schema
        )
        scorer = _scorer(
            {0: toks}, "tfidf" if boost else "tfidf_plain", self.params,
            0.0, 1.0, qltc, k, round_dp, rerank_n,
        )
        return scorer(joined)

    def _boolean(self, pdf, n_terms, is_and, resolve, allowed=None,
                 exclude=None):
        sets: Dict[str, set] = {}
        banned: set = set()
        for row in pdf.itertuples(index=False):
            docs = (
                self._decode_cached(row.postings, decode_docs)
                if self._payload == "boolean"
                else self._dec(row.postings)[0]
            )
            if self._payload == "boolean" and self._mask is not None:
                docs = self._mask.mask_docs(docs)
            if exclude and row.term in exclude:
                # the negation wins over a same-term positive (negation.py)
                banned.update(int(d) for d in docs)
                continue
            if allowed is not None:
                docs = np.asarray(docs, dtype=np.int64)
                docs = docs[_member_mask(docs, allowed)]
            sets.setdefault(row.term, set()).update(int(d) for d in docs)
        if not sets:
            return []
        if is_and:
            if len(sets) < n_terms:
                return []  # a query term matched nothing -> empty AND
            hit = sorted(set.intersection(*sets.values()) - banned)
            counts = {d: n_terms for d in hit}
        else:
            counts: Dict[int, int] = {}
            for s in sets.values():
                for d in s:
                    counts[d] = counts.get(d, 0) + 1
            hit = sorted(set(counts) - banned)
        out = pd.DataFrame(
            {
                "query_id": 0,
                "doc_id": hit,
                "score": [float(counts[d]) for d in hit],
                "rank": [0] * len(hit),
            }
        )
        return self._resolve(out, resolve)

    def _rows(self, doc_ids, scores, ranks, resolve: bool) -> List[dict]:
        """Result dicts (doc_id, score, rank, *ext cols) straight from the
        arrays, as native Python scalars (json-identical to the
        distributed tier's Row.collect())."""
        rows = [
            {"doc_id": d, "score": s, "rank": r}
            for d, s, r in zip(np.asarray(doc_ids).tolist(),
                               np.asarray(scores).tolist(),
                               np.asarray(ranks).tolist())
        ]
        if resolve and self._ext_cols:
            self._ensure_docs([r["doc_id"] for r in rows])
            for r in rows:
                ext = self._docmap.get(r["doc_id"])
                if ext is not None:
                    r.update(zip(self._ext_cols, ext))
        return rows

    def _resolve(self, out: pd.DataFrame, resolve: bool) -> List[dict]:
        """:meth:`_rows` over a frame-shaped scorer's output."""
        return self._rows(out["doc_id"].to_numpy(), out["score"].to_numpy(),
                          out["rank"].to_numpy(), resolve)


def _round3_up(x: float) -> float:
    """Python twin of Spark's F.round(double, 3): BigDecimal.valueOf(x)
    (shortest decimal repr — == Python repr) rounded HALF_UP. This is the
    rounding idf/dl_norm use everywhere (CLAUDE.md float policy; _round3
    above is the HALF_EVEN twin for stored doc weights)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.001"), rounding=ROUND_HALF_UP))


class FederatedLocalSearcher:
    """In-process federated serving over N shard indexes — the interactive
    tier of query/federated.py, ZERO Spark jobs per query once warm
    (preload mode; lazy mode pays the same bounded per-miss fetches
    LocalSearcher does, per shard).

    Composition: one :class:`LocalSearcher` per shard runs the identical
    scorer code on its own slices/caches/tombstone masks, pinned to
    federation-global statistics through the ``idf_override`` /
    ``dl_bounds`` / ``query_tokens`` seams; shard-local results shift by
    the chunk-aligned base offsets into the federation docID namespace and
    merge driver-side under the scorers' own tie order (score desc, global
    doc_id asc) — exact because every doc's whole score lives inside one
    shard (the two-phase gather argument, query/federated.py). Gated
    bit-identical to the distributed federated paths in
    tests/test_federated_local.py.

    Statistics twins (all computed in-process):

    - global idf = HALF_UP round(ln(N_live/df_global), 3) with df summed
      over shards — ``_round3_up`` is the exact Python twin of the Spark
      expression ``_global_idf`` collects;
    - TF-IDF query ltc pins the same global idf (doc weights need nothing);
    - BM25_OPTIMIZED boost bounds = the federation envelope of the shards'
      stored (dl_norm_min, dl_norm_max);
    - suggest / fuzzy ride the merged live dictionary (df sums).

    ``filter_docs`` / ``boost_docs`` take FEDERATION-GLOBAL doc ids (the
    namespace this class answers in) and are translated per shard by the
    base-offset ranges."""

    def __init__(
        self,
        shards,
        preload: bool | str = "auto",
        cfg: TokenizerConfig | None = None,
    ):
        from .federated import _BOOL_COMPAT_KEYS, _check_compat, _doc_bases

        _check_compat(shards, keys=_BOOL_COMPAT_KEYS, payload_freq=False)
        self.shards = list(shards)
        self.searchers = [LocalSearcher(p, preload=preload, cfg=cfg) for p in shards]
        self.cfg = self.searchers[0].cfg
        self.bases = _doc_bases(shards)
        chunk_docs = int(shards[0].manifest["chunk_docs"])
        last = self.shards[-1].manifest["n_docs"]
        self._ends = self.bases[1:] + [
            self.bases[-1]
            + ((int(last) + chunk_docs - 1) // chunk_docs) * chunk_docs
        ]
        self.n_live = sum(
            int(s.manifest.get("n_docs_live", s.manifest["n_docs"]))
            for s in shards
        )
        self._ext_cols = self.searchers[0]._ext_cols
        self._fuzzy_corr: Dict[str, str] = {}
        self._gvariants: Dict[str, list] | None = None

    # ----------------------------------------------------- global statistics

    def _idf_global(self, terms: Sequence[str]) -> Dict[str, float]:
        import math

        for s in self.searchers:
            s._ensure_terms(terms)
        out = {}
        for t in terms:
            df = sum(s._df.get(t, 0) for s in self.searchers)
            if df > 0:
                out[t] = _round3_up(math.log(float(max(self.n_live, 1)) / df))
        return out

    def _gdf(self, term: str) -> int:
        return sum(s._df.get(term, 0) for s in self.searchers)

    # ------------------------------------------------------------- serving

    def search(
        self,
        query: str,
        k: int = 10,
        ranker: str = "bm25",
        schema: str = "lnc.ltc",
        round_dp: int | None = None,
        rerank_n: int | None = None,
        resolve: bool = True,
        fuzzy: bool = False,
        filter_docs=None,
        boost_docs=None,
        exclude: Sequence[str] | None = None,
        offset: int = 0,
        search_after: tuple | None = None,
        min_should_match: int | None = None,
        demote: Sequence[str] | None = None,
        negative_boost: float = 0.5,
        wildcard: bool = False,
        max_expansions: int = 50,
        allow_leading_wildcard: bool = False,
        regexp: bool = False,
    ) -> List[dict]:
        """One interactive query across ALL shards -> rank-ordered result
        dicts with doc_id in the federation-global namespace.

        ``wildcard=True``: patterns expand ONCE against the
        federation-global dictionary (df summed over the disjoint shard
        corpora — the merged index's selection exactly), then every shard
        scores the identical expanded token list; bm25/boolean_or only.
        ``regexp=True``: ``/pat/`` words, same federation-global
        expansion and gating (query/regexp.py).

        ``exclude``: raw negated words (``-term``, query/negation.py) —
        exclusion is per-doc and a doc lives in exactly one shard, so
        passing it through to every shard's LocalSearcher is exact.

        ``offset``: result paging (bm25/bm25_and): every shard serves its
        local top-(k+offset) and the page is cut after the global merge
        — exact for the same reason the two-phase gather is.

        ``search_after``: (score, doc_id) cursor in the FEDERATION
        namespace (bm25/bm25_and) — ES search_after across shards: the
        cursor translates per shard (score unchanged — idf is federation-
        global so scores are comparable; doc_id shifts by the shard base,
        clamped to the shard's range so out-of-range shards see
        everything / nothing on ties), every shard serves k post-cursor
        hits from a size-k heap, and the merge cuts the global page.
        Exact because the federated tie order IS the global docID order
        the cursor speaks. Ranks come back PAGE-RELATIVE 1..k."""
        from .federated import _COMPAT_KEYS, _TFIDF_COMPAT_KEYS, _check_compat

        if ranker not in RANKERS:
            raise ValueError(f"ranker must be one of {RANKERS}, got {ranker!r}")
        if offset:
            if offset < 0:
                raise ValueError(f"offset must be >= 0, got {offset}")
            if ranker not in ("bm25", "bm25_and"):
                raise NotImplementedError(
                    f"offset paging is not wired into the {ranker!r} "
                    "federated local scorer"
                )
        if search_after is not None:
            if offset:
                raise ValueError(
                    "offset and search_after are mutually exclusive (the "
                    "cursor IS the page position)"
                )
            if ranker not in ("bm25", "bm25_and"):
                raise NotImplementedError(
                    f"search_after is not wired into the {ranker!r} "
                    "federated local scorer (bm25/bm25_and only)"
                )
        if min_should_match is not None and ranker != "bm25":
            raise NotImplementedError(
                "min_should_match is wired to the bm25 federated local "
                "scorer (bm25_and IS min_should_match = the term count)"
            )
        if demote and ranker not in ("bm25", "bm25_and"):
            raise NotImplementedError(
                f"demote is not wired into the {ranker!r} federated "
                "local scorer"
            )
        if ranker.startswith("bm25"):
            _check_compat(self.shards)
        elif ranker.startswith("tfidf"):
            _check_compat(self.shards, keys=_TFIDF_COMPAT_KEYS, payload_freq=False)
        pats: List[str] = []
        rx_pats: List[str] = []
        if wildcard or regexp:
            if ranker not in ("bm25", "boolean_or"):
                raise NotImplementedError(
                    f"wildcard/regexp expansion is not wired into the "
                    f"{ranker!r} federated scorer (bm25 / boolean_or only)"
                )
            if regexp:
                from .regexp import split_regexps

                query, rx_pats = split_regexps(query)
            if wildcard:
                from .wildcard import split_wildcards

                query, pats = split_wildcards(query)
        toks = tokenize_text(query, self.cfg)
        if fuzzy and toks:
            toks = self._fuzzy_rewrite(toks)
        if pats or rx_pats:
            exp = self.expand_wildcards(
                pats, max_expansions=max_expansions,
                allow_leading_wildcard=allow_leading_wildcard,
            ) if pats else {}
            if rx_pats:
                rx_exp = self.expand_regexps(
                    rx_pats, max_expansions=max_expansions,
                    allow_leading_wildcard=allow_leading_wildcard,
                )
                clash = set(exp) & set(rx_exp)
                if clash:
                    raise ValueError(
                        f"pattern text {sorted(clash)} appears as BOTH a "
                        "wildcard and a regexp — the two syntaxes expand "
                        "differently; drop one")
                exp = exp | rx_exp
            seen = set(toks)
            for p in pats + rx_pats:
                for t in exp[p]:
                    if t not in seen:
                        toks.append(t)
                        seen.add(t)
        terms = list(dict.fromkeys(toks))
        if not terms:
            return []
        idf_g = self._idf_global(terms)
        if not idf_g:
            return []
        if ranker == "bm25_and" and any(t not in idf_g for t in terms):
            return []  # conjunctive contract: OOV anywhere -> empty AND
        dl_bounds = None
        if ranker == "bm25_optimized":
            dl_bounds = (
                min(float(s.manifest["dl_norm_min"]) for s in self.shards),
                max(float(s.manifest["dl_norm_max"]) for s in self.shards),
            )

        fset = None
        if filter_docs is not None:
            fset = np.unique(np.asarray(list(filter_docs), dtype=np.int64))
        cands: List[dict] = []
        for i, (s, base, end) in enumerate(
            zip(self.searchers, self.bases, self._ends)
        ):
            fd = bd = None
            if fset is not None:
                fd = (fset[(fset >= base) & (fset < end)] - base)
            if boost_docs is not None:
                bd = {
                    int(d) - base: v
                    for d, v in boost_docs.items()
                    if base <= int(d) < end
                }
                bd = bd or None
            sa = None
            if search_after is not None:
                cs, cd = float(search_after[0]), int(search_after[1])
                # clamp the global cursor doc into this shard's local range:
                # cd < base -> every tie here is after the cursor (-1);
                # cd >= end -> no tie here qualifies (end - base caps ids)
                sa = (cs, min(max(cd - base, -1), end - base))
            rows = s.search(
                query, k=k + offset, ranker=ranker, schema=schema,
                round_dp=round_dp,
                rerank_n=rerank_n, resolve=False, filter_docs=fd,
                boost_docs=bd, idf_override=idf_g, dl_bounds=dl_bounds,
                query_tokens=toks, exclude=exclude, search_after=sa,
                min_should_match=min_should_match,
                demote=demote, negative_boost=negative_boost,
            )
            for r in rows:
                r["doc_id"] = int(r["doc_id"]) + base
                r["_shard"] = i
            cands.extend(rows)

        if ranker.startswith("boolean_"):
            # set retrieval: the per-shard union IS the result (disjoint
            # corpora); keep the single-index contract (doc_id asc, rank 0)
            cands.sort(key=lambda r: r["doc_id"])
        else:
            cands.sort(key=lambda r: (-r["score"], r["doc_id"]))
            cands = cands[offset:offset + k]
            for rk, r in enumerate(cands, start=offset + 1):
                r["rank"] = rk
        return self._resolve(cands, resolve)

    def _resolve(self, rows: List[dict], resolve: bool) -> List[dict]:
        if resolve and self._ext_cols:
            by_shard: Dict[int, list] = {}
            for r in rows:
                by_shard.setdefault(r["_shard"], []).append(r)
            for i, shard_rows in by_shard.items():
                s, base = self.searchers[i], self.bases[i]
                local = [r["doc_id"] - base for r in shard_rows]
                s._ensure_docs(local)
                for r, d in zip(shard_rows, local):
                    ext = s._docmap.get(int(d))
                    if ext is not None:
                        r.update(dict(zip(self._ext_cols, ext)))
        for r in rows:
            r.pop("_shard", None)
        return rows

    def explain(
        self,
        query: str,
        k: int = 10,
        round_dp: int | None = None,
        fuzzy: bool = False,
        resolve: bool = True,
    ) -> List[dict]:
        """Federated explain: every shard runs :meth:`LocalSearcher.explain`
        pinned to the federation-global idf (so each breakdown row shows
        the federation's own scoring arithmetic — shard-local dl_norm,
        global idf), shard candidates shift into the global namespace and
        merge under the federation tie order. Sum of contributions still
        equals each doc's federated score: the whole breakdown lives in
        the doc's own shard."""
        from .federated import _check_compat

        _check_compat(self.shards)
        toks = tokenize_text(query, self.cfg)
        if fuzzy and toks:
            toks = self._fuzzy_rewrite(toks)
        terms = list(dict.fromkeys(toks))
        if not terms:
            return []
        idf_g = self._idf_global(terms)
        if not idf_g:
            return []
        cands: List[dict] = []
        for i, (s, base) in enumerate(zip(self.searchers, self.bases)):
            rows = s.explain(query, k=k, round_dp=round_dp, resolve=False,
                             idf_override=idf_g, query_tokens=toks)
            for r in rows:
                r["doc_id"] = int(r["doc_id"]) + base
                r["_shard"] = i
            cands.extend(rows)
        cands.sort(key=lambda r: (-r["score"], r["doc_id"]))
        cands = cands[:k]
        for rk, r in enumerate(cands, start=1):
            r["rank"] = rk
        return self._resolve(cands, resolve)

    # ------------------------------------------------- dictionary surfaces

    def suggest(self, prefix: str, k: int = 10) -> List[dict]:
        """Federated auto-complete: prefix terms ranked by federation-wide
        live df (desc, term-asc ties) — the in-process twin of
        suggest_terms_federated. Preload tier: zero Spark jobs (merged
        in-memory dictionaries); lazy tier: one bounded federated scan."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        if all(s._preloaded for s in self.searchers):
            counts: Dict[str, int] = {}
            for s in self.searchers:
                for t, d in s._df.items():
                    if d > 0 and t.startswith(prefix):
                        counts[t] = counts.get(t, 0) + d
            hits = sorted(counts.items(), key=lambda td: (-td[1], td[0]))[:k]
            return [{"term": t, "df": d} for t, d in hits]
        from .federated import suggest_terms_federated

        return [
            {"term": r["term"], "df": int(r["df"])}
            for r in suggest_terms_federated(self.shards, prefix, k).collect()
        ]

    def expand_wildcards(
        self,
        patterns: Sequence[str],
        max_expansions: int = 50,
        allow_leading_wildcard: bool = False,
    ) -> Dict[str, List[str]]:
        """Federation-global wildcard expansion: df sums over the
        disjoint shard corpora, so the selection (df desc, term asc,
        cap) is EXACTLY the merged index's — every shard then scores
        the identical expanded query. Preload tier: zero Spark jobs."""
        from .wildcard import expand_patterns, expand_patterns_local

        if all(s._preloaded for s in self.searchers):
            gdf: Dict[str, int] = {}
            for s in self.searchers:
                for t, d in s._df.items():
                    if d > 0:
                        gdf[t] = gdf.get(t, 0) + d
            return expand_patterns_local(
                gdf, patterns, max_expansions=max_expansions,
                allow_leading_wildcard=allow_leading_wildcard,
            )
        from .federated import _global_dictionary

        return expand_patterns(
            _global_dictionary(self.shards), patterns,
            max_expansions=max_expansions,
            allow_leading_wildcard=allow_leading_wildcard,
        )

    def expand_regexps(
        self,
        patterns: Sequence[str],
        max_expansions: int = 50,
        allow_leading_wildcard: bool = False,
    ) -> Dict[str, List[str]]:
        """Federation-global regexp expansion (query/regexp.py) — the
        same summed-df dictionary and selection as expand_wildcards, so
        every shard scores the identical expanded query."""
        from .regexp import expand_regexps, expand_regexps_local

        if all(s._preloaded for s in self.searchers):
            gdf: Dict[str, int] = {}
            for s in self.searchers:
                for t, d in s._df.items():
                    if d > 0:
                        gdf[t] = gdf.get(t, 0) + d
            return expand_regexps_local(
                gdf, patterns, max_expansions=max_expansions,
                allow_leading_wildcard=allow_leading_wildcard,
            )
        from .federated import _global_dictionary

        return expand_regexps(
            _global_dictionary(self.shards), patterns,
            max_expansions=max_expansions,
            allow_leading_wildcard=allow_leading_wildcard,
        )

    def _fuzzy_rewrite(self, toks: List[str]) -> List[str]:
        """OOV rewrite against the FEDERATION dictionary (global df ranks
        the candidates — a shard-local rewrite could pick a locally-common
        but federation-rare term). Preload tier corrects in-process over a
        lazily built merged variant index; lazy tier pays one bounded
        correct_terms job over the federation dictionary."""
        from .fuzzy import correct_terms, del1, levenshtein

        uniq = sorted(dict.fromkeys(toks))
        for s in self.searchers:
            s._ensure_terms(uniq)
        oov = sorted(
            {t for t in toks if self._gdf(t) == 0 and t not in self._fuzzy_corr}
        )
        if not oov:
            return [self._fuzzy_corr.get(t, t) for t in toks]
        if all(s._preloaded for s in self.searchers):
            if self._gvariants is None:
                gdf: Dict[str, int] = {}
                for s in self.searchers:
                    for t, d in s._df.items():
                        if d > 0:
                            gdf[t] = gdf.get(t, 0) + d
                self._gdf_all = gdf
                self._gvariants = {}
                for t in gdf:
                    for v in {t} | del1(t):
                        self._gvariants.setdefault(v, []).append(t)
            corr = {}
            for q in oov:
                cands = {
                    c
                    for v in ({q} | del1(q))
                    for c in self._gvariants.get(v, ())
                    if levenshtein(q, c) <= 1
                }
                if cands:
                    corr[q] = min(cands, key=lambda c: (-self._gdf_all[c], c))
        else:
            from .federated import _global_dictionary

            corr = correct_terms(_global_dictionary(self.shards), oov)
        for q in oov:
            self._fuzzy_corr[q] = corr.get(q, q)
        return [self._fuzzy_corr.get(t, t) for t in toks]

    # ---------------------------------------------- positional query modes

    def phrase(self, phrase: str, k: int | None = 10,
               resolve: bool = True, slop: int = 0) -> List[dict]:
        """Federated in-process exact-phrase query: doc-local integer
        semantics, so per-shard local_phrase results (shifted to the
        global namespace) merge exactly under (n_occurrences desc,
        doc_id asc) — the in-process twin of phrase_topk_federated."""
        from .phrase import local_phrase

        cands: List[dict] = []
        for i, (s, base) in enumerate(zip(self.searchers, self.bases)):
            rows = local_phrase(s, phrase, k=k, resolve=False, slop=slop)
            for r in rows:
                r["doc_id"] = int(r["doc_id"]) + base
                r["_shard"] = i
            cands.extend(rows)
        cands.sort(key=lambda r: (-r["n_occurrences"], r["doc_id"]))
        if k is not None:
            cands = cands[:k]
        for rk, r in enumerate(cands, start=1):
            r["rank"] = rk
        return self._resolve(cands, resolve)

    def phrase_prefix(self, phrase: str, k: int | None = 10,
                      max_expansions: int = 50,
                      resolve: bool = True, slop: int = 0) -> List[dict]:
        """Federated in-process match_phrase_prefix: the prefix expands
        ONCE against the federation-global dictionary, then every shard
        matches the identical expansion set (the in-process twin of
        phrase_prefix_topk_federated)."""
        from .phrase import _prefix_patterns, local_phrase_prefix

        pats = _prefix_patterns([phrase])
        exp = self.expand_wildcards(pats, max_expansions=max_expansions) \
            if pats else {}
        cands: List[dict] = []
        for i, (s, base) in enumerate(zip(self.searchers, self.bases)):
            rows = local_phrase_prefix(s, phrase, k=k, resolve=False,
                                       expansions=exp, slop=slop)
            for r in rows:
                r["doc_id"] = int(r["doc_id"]) + base
                r["_shard"] = i
            cands.extend(rows)
        cands.sort(key=lambda r: (-r["n_occurrences"], r["doc_id"]))
        if k is not None:
            cands = cands[:k]
        for rk, r in enumerate(cands, start=1):
            r["rank"] = rk
        return self._resolve(cands, resolve)

    def minspan(self, query: str, k: int | None = 10,
                resolve: bool = True) -> List[dict]:
        """Federated in-process minimal-span query — the in-process twin
        of minspan_topk_federated (span_len asc, doc_id asc)."""
        from .spans import local_minspan

        cands: List[dict] = []
        for i, (s, base) in enumerate(zip(self.searchers, self.bases)):
            rows = local_minspan(s, query, k=k, resolve=False)
            for r in rows:
                r["doc_id"] = int(r["doc_id"]) + base
                r["_shard"] = i
            cands.extend(rows)
        cands.sort(key=lambda r: (r["span_len"], r["doc_id"]))
        if k is not None:
            cands = cands[:k]
        for rk, r in enumerate(cands, start=1):
            r["rank"] = rk
        return self._resolve(cands, resolve)
