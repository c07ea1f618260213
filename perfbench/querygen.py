"""Seeded query stream for the benchmark's serving load.

The vocabulary is split by document frequency: the **head** is the
smallest set of highest-df terms that holds half of all postings, the
**tail** is every other term. Each generated term is one of:

- ``hot``: a head term, drawn weighted by df (long posting lists, decode
  heavy, and repeated often enough that caches keyed by term get reuse);
- ``tail``: a tail term, drawn uniformly (short posting lists);
- ``oov``: a made-up word that is not in the vocabulary (the engine must
  answer it from the term dictionary alone).

Basis of the mix. The repository holds no query log, so the measured part
of the mix comes from the fixture's reference queries, tokenized with the
benchmark's tokenizer and classified against the index's own
``term_stats``:

- query lengths: every block of generated queries has exactly the
  reference queries' lengths, repeated until the block holds
  ``MIN_BLOCK_TERMS`` terms, in seeded order;
- term kinds: the reference terms' hot/tail/oov shares (:func:`reference_mix`).

The reference queries are planted head-term queries, so they measure as
all hot, with no tail or out-of-vocabulary term. The stream must also run
the short-posting and dictionary-miss paths, so ``ASSUMED_TAIL`` and
``ASSUMED_OOV`` of the terms are tail and oov terms. These two shares are
assumptions, not measurements; the measured shares fill the rest.
Within every block the term kinds come in these fixed proportions, in
seeded order, so any slice of the stream a run consumes has the same mix.

The reference queries themselves are spliced in at evenly spaced slots.
The stream is a pure function of (vocabulary, document frequencies,
reference queries, n, seed): the vocabulary is sorted before sampling, so
the same inputs give a byte-identical stream whatever order they arrive in.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Callable, Dict, List, Sequence

import numpy as np

#: assumed term shares (not measured; see the module docstring)
ASSUMED_TAIL = 0.25
ASSUMED_OOV = 0.05
KINDS = ("hot", "tail", "oov")
#: a block repeats the reference lengths until it holds this many terms,
#: enough for every share to get whole terms
MIN_BLOCK_TERMS = 40
#: letters the synthetic vocabulary never combines this way, so a draw is
#: almost always out of vocabulary (checked against the vocabulary anyway)
_OOV_LETTERS = np.array(list("jqxwy"))


@dataclass(frozen=True)
class QueryStream:
    queries: List[str]
    shares: Dict[str, float]

    def digest(self) -> str:
        """sha256 of the newline-joined stream (determinism checks)."""
        return hashlib.sha256("\n".join(self.queries).encode("utf-8")).hexdigest()


def head_terms(vocab: np.ndarray, df: np.ndarray) -> np.ndarray:
    """Boolean mask over ``vocab``: the fewest highest-df terms (ties by
    term) that hold at least half of all postings."""
    order = np.lexsort((vocab.astype(str), -df))
    held = np.cumsum(df[order])
    n_head = int(np.searchsorted(held, held[-1] / 2.0)) + 1
    mask = np.zeros(len(vocab), dtype=bool)
    mask[order[:n_head]] = True
    return mask


def reference_mix(reference_terms: Sequence[Sequence[str]], vocab: np.ndarray,
                  head: np.ndarray) -> np.ndarray:
    """Shares of (hot, tail, oov) among the reference queries' terms."""
    kind_of = {t: (0 if h else 1) for t, h in zip(vocab.tolist(), head.tolist())}
    kinds = [kind_of.get(t, 2) for terms in reference_terms for t in terms]
    return np.bincount(kinds, minlength=3) / max(1, len(kinds))


def query_stream(
    terms: Sequence[str],
    dfs: Sequence[int],
    n: int,
    seed: int,
    reference: Sequence[str],
    tokenize: Callable[[str], List[str]],
) -> QueryStream:
    """``n`` generated queries plus ``reference`` spliced in; ``tokenize``
    splits a reference query into index terms. The shares describe the
    generated part (term-kind shares and mean terms/query) and the
    reference queries' measured mix."""
    ref_terms = [tokenize(q) for q in reference]
    lengths = np.asarray([len(t) for t in ref_terms if t], dtype=np.int64)
    if n < 1 or not len(terms) or not len(lengths):
        raise ValueError("need n >= 1, a non-empty vocabulary and a reference query with terms")
    order = np.argsort(np.asarray(terms, dtype=object).astype(str), kind="stable")
    vocab = np.asarray(terms, dtype=object)[order]
    df = np.asarray(dfs, dtype=np.float64)[order]
    head = head_terms(vocab, df)
    measured = reference_mix(ref_terms, vocab, head)
    mix = (1.0 - ASSUMED_TAIL - ASSUMED_OOV) * measured + np.array([0.0, ASSUMED_TAIL,
                                                                     ASSUMED_OOV])
    known = set(vocab.tolist())
    rng = np.random.default_rng([int(seed), 0x51EAB])

    # every block holds the reference lengths and the term kinds in fixed
    # proportions (seeded order inside the block); whole terms per kind by
    # largest remainder
    lengths = np.tile(lengths, -(-MIN_BLOCK_TERMS // int(lengths.sum())))
    block_terms = int(lengths.sum())
    exact = mix * block_terms
    counts = np.floor(exact).astype(np.int64)
    counts[np.argsort(counts - exact)[:block_terms - counts.sum()]] += 1
    block_kinds = np.repeat(np.arange(3), counts)
    n_blocks = -(-n // len(lengths))
    n_terms = np.concatenate([rng.permutation(lengths) for _ in range(n_blocks)])[:n]
    kinds = np.concatenate([rng.permutation(block_kinds) for _ in range(n_blocks)])
    kinds = kinds[:int(n_terms.sum())]
    hot_ids, tail_ids = np.flatnonzero(head), np.flatnonzero(~head)
    if not len(tail_ids):  # a vocabulary of one term is all head
        tail_ids = hot_ids
    hot = rng.choice(hot_ids, size=len(kinds), p=df[hot_ids] / df[hot_ids].sum())
    tail = rng.choice(tail_ids, size=len(kinds))
    words = []
    for i, kind in enumerate(kinds):
        if kind == 0:
            words.append(vocab[hot[i]])
        elif kind == 1:
            words.append(vocab[tail[i]])
        else:
            while True:
                w = "".join(rng.choice(_OOV_LETTERS, size=int(rng.integers(4, 8))))
                if w not in known:
                    break
            words.append(w)
    offsets = np.concatenate(([0], np.cumsum(n_terms)))
    queries = [" ".join(words[offsets[i]:offsets[i + 1]]) for i in range(n)]

    step = max(1, (n + len(reference)) // len(reference))
    for j, q in enumerate(reference):
        queries.insert(min(j * step, len(queries)), q)

    got = np.bincount(kinds, minlength=3) / max(1, len(kinds))
    shares = {f"{k}_share": float(got[i]) for i, k in enumerate(KINDS)}
    shares["mean_terms"] = float(n_terms.mean())
    shares.update({f"reference_{k}_share": float(measured[i]) for i, k in enumerate(KINDS)})
    shares["reference_mean_terms"] = float(lengths.mean())
    shares["head_terms"] = int(head.sum())
    shares["n_generated"] = n
    shares["n_reference"] = len(reference)
    return QueryStream(queries, shares)
