"""Vectorized numpy BM25 oracle for the benchmark's output check.

Scores straight from the generator's token arrays, never from the engine's
tables, with the engine's documented semantics:

* weight = float32(tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))), the build-time
  fold the ``bm25`` index stores (``weight_dtype="float"``);
* idf = ln(1 + (N − df + 0.5)/(df + 0.5)) with N and df over every document
  indexed so far;
* score = Σ qtf·idf·weight; top-k by (round(score, 6) desc, doc_id asc).

Appends follow ``streaming/incremental.append_documents``: a delta's stored
weights use the avgdl of the index it was appended to, and existing weights
are never re-centred, while N and df always come from the merged corpus.  The
merged index's recorded avgdl, which the next append uses, is the
doc-weighted mean of the two sides.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from gen import QSTRING_SHAPES, VOCAB, Segment

K1, B = 1.2, 0.75
RANK_ROUND = 6


@dataclass
class _Postings:
    """One segment's postings in CSR form, keyed on identifier rank."""

    ptr: np.ndarray      # VOCAB + 1 offsets into doc/weight
    doc: np.ndarray      # doc ids, ascending within a term
    weight: np.ndarray   # float32-rounded stored weights, as float64
    tokens: Segment


def _postings(seg: Segment, avgdl: float) -> _Postings:
    doc_of = np.repeat(np.arange(seg.n_docs), np.diff(
        np.append(seg.starts, len(seg.idents))))
    pair, tf = np.unique(seg.idents.astype(np.int64) * seg.n_docs + doc_of,
                         return_counts=True)
    term, local = np.divmod(pair, seg.n_docs)
    dl = seg.doc_len[local].astype(np.float64)
    tf = tf.astype(np.float64)
    w = (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + (B * dl) / avgdl))
    ptr = np.searchsorted(term, np.arange(VOCAB + 1))
    return _Postings(ptr, seg.doc_ids[local],
                     w.astype(np.float32).astype(np.float64), seg)


def _round_half_up(x: np.ndarray, ndigits: int) -> np.ndarray:
    s = 10.0 ** ndigits
    return np.floor(x * s + 0.5) / s


class BM25Oracle:
    """Brute-force BM25 over the segments appended so far."""

    def __init__(self, base: Segment):
        self.avgdl = float(base.doc_len.sum()) / base.n_docs
        self.n_docs = base.n_docs
        self.segments = [_postings(base, self.avgdl)]

    def append(self, seg: Segment) -> None:
        self.segments.append(_postings(seg, self.avgdl))
        delta_avgdl = float(seg.doc_len.sum()) / seg.n_docs
        n = self.n_docs + seg.n_docs
        self.avgdl = (self.avgdl * self.n_docs + delta_avgdl * seg.n_docs) / n
        self.n_docs = n

    def df(self, term: int) -> int:
        return sum(int(p.ptr[term + 1] - p.ptr[term]) for p in self.segments)

    def _list(self, term: int) -> tuple[np.ndarray, np.ndarray]:
        docs, ws = [], []
        for p in self.segments:
            lo, hi = p.ptr[term], p.ptr[term + 1]
            docs.append(p.doc[lo:hi])
            ws.append(p.weight[lo:hi])
        return np.concatenate(docs), np.concatenate(ws)

    def base_df_range(self, lo: int, hi: int) -> list[int]:
        """[min, max] document frequency of ranks ``lo..hi-1`` in the base
        corpus."""
        df = np.diff(self.segments[0].ptr)[lo:hi]
        return [int(df.min()), int(df.max())]

    def containing(self, term: int) -> np.ndarray:
        return self._list(term)[0]

    def scores(self, terms) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, scores) of every doc matching at least one of ``terms``
        (repeats count as qtf)."""
        uniq, qtf = np.unique(np.asarray(terms, dtype=np.int64),
                              return_counts=True)
        docs, contrib = [], []
        for t, c in zip(uniq, qtf):
            d, w = self._list(int(t))
            if not len(d):
                continue
            df = self.df(int(t))
            idf = np.log(1.0 + ((self.n_docs - df) + 0.5) / (df + 0.5))
            docs.append(d)
            contrib.append(float(c) * idf * w)
        if not docs:
            return np.empty(0, np.int64), np.empty(0)
        d = np.concatenate(docs)
        u, inv = np.unique(d, return_inverse=True)
        return u, np.bincount(inv, weights=np.concatenate(contrib))

    def topk(self, docs: np.ndarray, scores: np.ndarray, k: int):
        key = _round_half_up(scores, RANK_ROUND)
        order = np.lexsort((docs, -key))[:k]
        return docs[order], scores[order]

    def bm25_topk(self, terms, k: int):
        return self.topk(*self.scores(terms), k)

    def phrase_docs(self, a: int, b: int) -> np.ndarray:
        """Docs where identifier ``b`` directly follows ``a`` as tokens."""
        hits = []
        for p in self.segments:
            s = p.tokens
            i = np.flatnonzero((s.idents[:-1] == a) & (s.idents[1:] == b)
                               & (s.seps[:-1] == 0))
            doc = np.searchsorted(s.starts, i, side="right") - 1
            hits.append(s.doc_ids[doc])
        return np.unique(np.concatenate(hits))

    def qstring_topk(self, shape: int, a: int, b: int, c: int, k: int):
        """Top-k of one generated query string, by ``QSTRING_SHAPES`` index:
        must terms gate, ``-b`` excludes, a phrase gates on adjacency and
        its words score like bare terms."""
        form = QSTRING_SHAPES[shape]
        if form == "+{a} {b}":
            scoring, must, must_not, phrase = (a, b), (a,), (), None
        elif form == "{a} -{b} {c}":
            scoring, must, must_not, phrase = (a, c), (), (b,), None
        elif form == '"{a} {b}" {c}':
            scoring, must, must_not, phrase = (c, a, b), (), (), (a, b)
        else:
            scoring, must, must_not, phrase = (a, b, c), (a, b), (), None
        docs, scores = self.scores(scoring)
        keep = np.ones(len(docs), bool)
        for t in must:
            keep &= np.isin(docs, self.containing(t))
        for t in must_not:
            keep &= ~np.isin(docs, self.containing(t))
        if phrase is not None:
            keep &= np.isin(docs, self.phrase_docs(*phrase))
        return self.topk(docs[keep], scores[keep], k)


def same_ranking(got_docs, got_scores, want_docs, want_scores,
                 tol: float = 1e-5) -> bool:
    """Rank-identical: the same doc at every rank and scores within
    ``tol``."""
    return (len(got_docs) == len(want_docs)
            and np.array_equal(np.asarray(got_docs), np.asarray(want_docs))
            and np.allclose(got_scores, want_scores, rtol=0, atol=tol))
