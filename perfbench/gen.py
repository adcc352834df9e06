"""Seeded benchmark inputs: corpus slices and query streams.

Documents come from the engine's own deterministic corpus generator
(`lucene_spark.corpus`): row i is a pure function of (seed, i), so a
bulk corpus, a streaming micro-batch and the oracle's copy of the same
rows always agree. Queries are drawn here, from the seed, in the classic
syntax the searcher parses; the engine only ever sees the strings.

Query shapes follow a fixed rotation, so every seed runs the same shape
mix and only the terms change; about 10% of the slots are multi-term
shapes (prefix, wildcard, fuzzy, range). Terms are drawn from three
pools: the corpus's Zipf vocabulary (`zw<rank>`, same exponent as the
generator), hot header/keyword/identifier terms, and `uid<i>sing`
singletons (df = 1).
"""

from __future__ import annotations

import numpy as np

from lucene_spark.corpus import _IDENT_STEMS, _KEYWORDS, _LICENSE

HOT_TERMS = sorted({w.lower() for w in _LICENSE.split() if w.isalpha()}
                   | set(_KEYWORDS) | set(_IDENT_STEMS))
ZIPF_SIZE = 2000
_ZIPF_P = 1.0 / np.arange(1, ZIPF_SIZE + 1) ** 1.1
_ZIPF_P /= _ZIPF_P.sum()

SHAPES = ("term", "and", "or", "or_in_and", "not", "plus_minus", "boost",
          "and", "term", "or", "and3", "minus", "or", "multi", "and",
          "term", "or_in_and", "boost", "and", "multi")
MULTI = ("prefix", "wildcard", "fuzzy", "range")


class QueryGen:
    """Seeded stream of distinct query strings over a corpus of
    `n_docs` documents (singletons are drawn from ids below n_docs)."""

    def __init__(self, seed: int, n_docs: int, stream: int = 0):
        self.rng = np.random.default_rng([seed, stream, 7919])
        self.n_docs = n_docs
        self.seen: set[str] = set()
        self.slot = 0
        self.multi = 0

    def zipf_term(self) -> str:
        return f"zw{int(self.rng.choice(ZIPF_SIZE, p=_ZIPF_P))}"

    def term(self) -> str:
        u = self.rng.random()
        if u < 0.6:
            return self.zipf_term()
        if u < 0.85:
            return HOT_TERMS[int(self.rng.integers(len(HOT_TERMS)))]
        return f"uid{int(self.rng.integers(self.n_docs))}sing"

    def _multi(self) -> str:
        kind = MULTI[self.multi % len(MULTI)]
        self.multi += 1
        rank = int(self.rng.integers(10, 200))
        if kind == "prefix":
            return f"zw{rank}*"
        if kind == "wildcard":
            s = str(rank)
            return f"zw{s[:-1]}?{s[-1]}" if len(s) > 1 else f"zw?{s}"
        if kind == "fuzzy":
            return f"{HOT_TERMS[int(self.rng.integers(len(HOT_TERMS)))]}~1"
        return f"[zw{rank} TO zw{rank + int(self.rng.integers(1, 6))}]"

    def shape(self, shape: str) -> str:
        t = self.term
        if shape == "term":
            return t()
        if shape == "and":
            return f"{t()} AND {t()}"
        if shape == "and3":
            return f"{t()} AND {t()} AND {t()}"
        if shape == "or":
            return f"{t()} OR {t()}"
        if shape == "or_in_and":
            return f"({t()} OR {t()}) AND {t()}"
        if shape == "not":
            return f"{t()} AND NOT {t()}"
        if shape == "plus_minus":
            return f"+{t()} +{t()} -{t()}"
        if shape == "minus":
            return f"{t()} -{t()}"
        if shape == "boost":
            return f"{t()}^{int(self.rng.integers(2, 5))} OR {t()}"
        return self._multi()

    def next(self) -> str:
        """The next query string of the rotation, never repeated."""
        shape = SHAPES[self.slot % len(SHAPES)]
        self.slot += 1
        while True:
            q = self.shape(shape)
            if q not in self.seen:
                self.seen.add(q)
                return q


def zipf_batch(rng: np.random.Generator, pool: list[str], size: int) -> list[str]:
    """`size` query instances drawn from `pool` with Zipf-skewed repeats
    (pool position r is drawn with weight 1/(r+1)) — the repeated hot
    queries a production batch carries."""
    w = 1.0 / np.arange(1, len(pool) + 1)
    idx = rng.choice(len(pool), size=size, p=w / w.sum())
    return [pool[i] for i in idx]
