"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine comes from here, derived from one
integer seed: a source-code corpus with the north-rule schema
``(doc_id, repo, path, commit, lang, content)``, appended deltas with
disjoint doc ids, plain query batches and query-string batches.  The engine's
own synthetic sources are deliberately not used, so an engine change cannot
change the workload.

Content is Zipf-distributed identifiers over a fixed-size vocabulary,
separated by spaces or by one punctuation token (``(``, ``)``, ``.``, ``=``,
``,``, ``;``), which the engine's ``code`` tokenizer turns into tokens of
their own.  The generator keeps the identifier and separator arrays next to
the text, so the numpy oracle never has to re-tokenize.

Every random stream is keyed on ``(seed, purpose, index)``, so batch ``j``
or delta ``i`` is the same whatever ran before it.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

VOCAB = 5000
ZIPF_S = 1.3
DOC_TOKENS = (200, 400)  # identifiers per document, uniform
HOT_RANKS = (0, 50)      # ranks whose df is 0.4N-N
RARE_RANKS = (500, VOCAB)
TERMS_PER_QUERY = 4

# separator kinds: 0 = one space (no token); 1.. = one punctuation token
SEPARATORS = (" ", "(", ")", ".", " = ", ", ", ";\n")
SEP_PROBS = (0.7, 0.06, 0.06, 0.06, 0.04, 0.05, 0.03)
_SEP_ARR = np.array(SEPARATORS, dtype=object)

_STEMS = ("read", "write", "get", "set", "buf", "node", "idx", "parse", "load",
          "emit", "scan", "sort", "hash", "list", "map", "key", "val", "tree",
          "file", "path", "conf", "log", "err", "ctx", "req", "resp", "user",
          "item", "cache", "lock", "queue", "task", "pool", "iter", "span",
          "page", "row", "col", "term", "doc")
_LANGS = ("python", "go", "rust", "java", "c")

SCHEMA = ("doc_id long, repo string, path string, commit string, "
          "lang string, content string")

_STREAMS = {"vocab": 1, "corpus": 2, "delta": 3, "hot": 4, "rare": 5,
            "qstring": 6}


def rng_for(seed: int, purpose: str, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[purpose], index])


def vocabulary(seed: int) -> np.ndarray:
    """``VOCAB`` distinct lowercase identifiers; position = Zipf rank."""
    names = [
        f"{_STEMS[i % 40]}_{_STEMS[(i // 40) % 40]}{i // 1600 or ''}"
        for i in range(VOCAB)
    ]
    return np.array(names, dtype=object)[rng_for(seed, "vocab").permutation(VOCAB)]


def _zipf_probs() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return p / p.sum()


@dataclass
class Segment:
    """A batch of generated documents: the rows for Spark plus the token
    arrays the oracle scores from.

    ``idents`` holds every document's identifier ranks back to back;
    ``seps[i]`` is the separator kind after identifier ``i`` (-1 after a
    document's last identifier) and ``starts`` the offset of each
    document's first identifier.
    """

    doc_ids: np.ndarray
    idents: np.ndarray
    seps: np.ndarray
    starts: np.ndarray
    rows: dict

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)

    @property
    def doc_len(self) -> np.ndarray:
        """Tokens per document as the ``code`` tokenizer counts them:
        identifiers plus punctuation separators."""
        n_ident = np.diff(np.append(self.starts, len(self.idents)))
        punct = np.add.reduceat((self.seps > 0).astype(np.int64), self.starts)
        return n_ident + punct

    @property
    def content_bytes(self) -> int:
        return sum(len(c) for c in self.rows["content"])  # ASCII only

    def sha256(self) -> str:
        h = hashlib.sha256()
        for c in self.rows["content"]:
            h.update(c.encode())
            h.update(b"\0")
        return h.hexdigest()


def documents(seed: int, names: np.ndarray, n_docs: int, first_id: int,
              purpose: str = "corpus", index: int = 0) -> Segment:
    """``n_docs`` documents with ids ``first_id ..``."""
    rng = rng_for(seed, purpose, index)
    lens = rng.integers(*DOC_TOKENS, size=n_docs)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    total = int(lens.sum())
    idents = rng.choice(VOCAB, size=total, p=_zipf_probs())
    seps = rng.choice(len(SEPARATORS), size=total, p=SEP_PROBS)
    seps[starts[1:] - 1] = -1
    seps[-1] = -1
    words = names[idents]
    sep_text = _SEP_ARR[np.maximum(seps, 0)]
    sep_text[seps < 0] = ""
    pieces = np.empty(2 * total, dtype=object)
    pieces[0::2] = words
    pieces[1::2] = sep_text
    bounds = np.append(2 * starts, 2 * total)
    content = ["".join(pieces[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    doc_ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    repo = rng.integers(0, max(n_docs // 50, 1), size=n_docs)
    rows = {
        "doc_id": doc_ids,
        "repo": [f"org{r % 97}/project{r}" for r in repo],
        "path": [f"src/{_STEMS[r % 40]}/{_STEMS[(r * 7 + i) % 40]}_{i}.src"
                 for i, r in enumerate(repo)],
        "commit": [rng.bytes(20).hex() for _ in range(n_docs)],
        "lang": [_LANGS[r % len(_LANGS)] for r in repo],
        "content": content,
    }
    return Segment(doc_ids, idents, seps, starts, rows)


def corpus(seed: int, names: np.ndarray, n_docs: int) -> Segment:
    return documents(seed, names, n_docs, 0)


def delta(seed: int, names: np.ndarray, i: int, base_docs: int,
          delta_docs: int) -> Segment:
    """Delta ``i`` (0-based): doc ids disjoint from the base and from every
    other delta."""
    return documents(seed, names, delta_docs, base_docs + i * delta_docs,
                     "delta", i)


def _query_ranks(rng: np.random.Generator, kind: str) -> np.ndarray:
    """Distinct ranks for one query: ``hot`` = half from the hottest ranks,
    half from the rest; ``rare`` = all from the rare band."""
    if kind == "hot":
        half = TERMS_PER_QUERY // 2
        hot = rng.choice(np.arange(*HOT_RANKS), half, replace=False)
        rest = rng.choice(np.arange(HOT_RANKS[1], VOCAB),
                          TERMS_PER_QUERY - half, replace=False)
        return np.concatenate((hot, rest))
    return rng.choice(np.arange(*RARE_RANKS), TERMS_PER_QUERY, replace=False)


def query_batch(seed: int, names: np.ndarray, kind: str, j: int,
                n_queries: int) -> list[tuple[int, str, np.ndarray]]:
    """Batch ``j`` of plain BM25 queries: ``(query_id, text, ranks)``."""
    rng = rng_for(seed, kind, j)
    out = []
    for q in range(n_queries):
        ranks = _query_ranks(rng, kind)
        out.append((q, " ".join(names[ranks]), ranks))
    return out


# the four query-string shapes, cycled through a batch
QSTRING_SHAPES = ("+{a} {b}", "{a} -{b} {c}", '"{a} {b}" {c}', "+{a} +{b} {c}")


def _bigram(rng: np.random.Generator, seg: Segment, rank_ok) -> tuple[int, int]:
    """A real corpus bigram (two identifiers separated by one space, so
    they are adjacent tokens) whose ranks satisfy ``rank_ok``."""
    adjacent = np.flatnonzero(seg.seps == 0)
    for _ in range(10_000):
        i = adjacent[rng.integers(len(adjacent))]
        a, b = int(seg.idents[i]), int(seg.idents[i + 1])
        if a != b and rank_ok(a, b):
            return a, b
    raise RuntimeError("no corpus bigram satisfies the rank constraint")


def qstring_batch(seed: int, names: np.ndarray, kind: str, j: int,
                  n_queries: int, seg: Segment
                  ) -> list[tuple[int, str, int, tuple[int, int, int]]]:
    """Batch ``j`` of query strings in the shapes ``+a b``, ``a -b c``,
    ``"a b" c`` and ``+a +b c``: ``(query_id, text, shape, (a, b, c))``
    with ``shape`` an index into ``QSTRING_SHAPES`` and ``a, b, c`` ranks.
    ``hot`` phrases contain a hot term; ``rare`` phrases only rare-band
    terms."""
    rng = rng_for(seed, "qstring", j)
    if kind == "hot":
        def ok(a, b):
            return min(a, b) < HOT_RANKS[1]
    else:
        def ok(a, b):
            return min(a, b) >= RARE_RANKS[0]
    out = []
    for q in range(n_queries):
        shape = q % len(QSTRING_SHAPES)
        a, b, c = (int(r) for r in _query_ranks(rng, kind)[:3])
        if QSTRING_SHAPES[shape].startswith('"'):
            a, b = _bigram(rng, seg, ok)
            c = next(int(r) for r in _query_ranks(rng, kind) if r not in (a, b))
        text = QSTRING_SHAPES[shape].format(a=names[a], b=names[b], c=names[c])
        out.append((q, text, shape, (a, b, c)))
    return out
