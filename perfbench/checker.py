"""Correctness checker: engine results against `lucene_spark.oracle`.

The oracle indexes the same seeded documents under the engine's doc_ids
and scores in float32 exactly as the reference does. Multi-term query
nodes (prefix, wildcard, fuzzy, range) are expanded here, over the
oracle's own term dictionary, with the engine's documented limits
(1024 terms; fuzzy keeps the 50 highest-df terms within the edit
distance, transpositions counting as one edit). Only the parser's node
tree is shared with the engine.

A result matches when it has the same doc_ids in the same order and
the same float32 scores.
"""

from __future__ import annotations

import re
from dataclasses import replace

import numpy as np

from lucene_spark.oracle import OracleIndex
from lucene_spark.search import plan as P

MAX_CLAUSES = 1024
FUZZY_MAX_TERMS = 50


def damerau(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner)."""
    inf = len(a) + len(b)
    last: dict[str, int] = {}
    d = [[inf] * (len(b) + 2) for _ in range(len(a) + 2)]
    for i in range(len(a) + 1):
        d[i + 1][0] = inf
        d[i + 1][1] = i
    for j in range(len(b) + 1):
        d[0][j + 1] = inf
        d[1][j + 1] = j
    for i in range(1, len(a) + 1):
        db = 0
        for j in range(1, len(b) + 1):
            i1 = last.get(b[j - 1], 0)
            j1 = db
            cost = 1
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            d[i + 1][j + 1] = min(d[i][j] + cost, d[i + 1][j] + 1,
                                  d[i][j + 1] + 1,
                                  d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1))
        last[a[i - 1]] = i
    return d[len(a) + 1][len(b) + 1]


class Oracle:
    """OracleIndex plus query planning over its own dictionary."""

    def __init__(self, field: str):
        self.field = field
        self.index = OracleIndex("code")
        self._vocab: list[str] | None = None

    def add(self, pairs) -> None:
        """pairs: iterable of (engine doc_id, content)."""
        for doc_id, content in pairs:
            self.index.add(int(doc_id), content)
        self._vocab = None

    @property
    def vocab(self) -> list[str]:
        if self._vocab is None:
            self._vocab = sorted(t for t, p in self.index.postings.items() if p)
        return self._vocab

    def _expand_terms(self, node: P.Node) -> list[str] | None:
        v = self.vocab
        if isinstance(node, P.PrefixNode):
            return [t for t in v if t.startswith(node.prefix)][:MAX_CLAUSES]
        if isinstance(node, P.RegexpNode):
            rx = re.compile(f"(?:{node.pattern})", re.ASCII)
            return [t for t in v if rx.fullmatch(t)][:MAX_CLAUSES]
        if isinstance(node, P.FuzzyNode):
            hits = [(-self.index.df(t), t) for t in v
                    if abs(len(t) - len(node.term)) <= node.max_edits
                    and damerau(t, node.term) <= node.max_edits]
            return [t for _, t in sorted(hits)[:FUZZY_MAX_TERMS]]
        if isinstance(node, P.TermRangeNode):
            def ok(t: str) -> bool:
                lo, hi = node.lower, node.upper
                if lo is not None and (t < lo or (t == lo and not node.include_lower)):
                    return False
                if hi is not None and (t > hi or (t == hi and not node.include_upper)):
                    return False
                return True
            return [t for t in v if ok(t)][:MAX_CLAUSES]
        return None

    def _expand(self, node: P.Node) -> P.Node:
        terms = self._expand_terms(node)
        if terms is not None:
            return (P.TermInSetNode(terms=tuple(terms), boost=node.boost,
                                    field=node.field)
                    if terms else P.MatchNoneNode())
        if isinstance(node, P.BooleanNode):
            return replace(node, clauses=tuple(
                P.Clause(c.occur, self._expand(c.node)) for c in node.clauses))
        if isinstance(node, P.DisjunctionMaxNode):
            return replace(node, children=tuple(
                self._expand(c) for c in node.children))
        if isinstance(node, P.ConstantScoreNode) and node.child is not None:
            return replace(node, child=self._expand(node.child))
        return node

    def plan(self, parsed: P.Node) -> P.Node:
        node = P.apply_field(parsed, self.field, only_default=True)
        return P.rewrite(self._expand(P.rewrite(node)))

    def terms(self, node: P.Node, out: set[str] | None = None) -> set[str]:
        out = set() if out is None else out
        if isinstance(node, P.TermNode):
            out.add(node.term)
        elif isinstance(node, (P.TermInSetNode, P.SynonymNode, P.PhraseNode)):
            out.update(node.terms)
        elif isinstance(node, P.BooleanNode):
            for c in node.clauses:
                self.terms(c.node, out)
        elif isinstance(node, P.DisjunctionMaxNode):
            for c in node.children:
                self.terms(c, out)
        elif isinstance(node, P.ConstantScoreNode) and node.child is not None:
            self.terms(node.child, out)
        return out

    def topk(self, node: P.Node, k: int) -> list[tuple[int, float]]:
        if isinstance(node, P.MatchNoneNode):
            return []
        return self.index.search(node, k=k)


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]]) -> bool:
    """Rank identity and float32 score identity."""
    if len(got) != len(want):
        return False
    for (d1, s1), (d2, s2) in zip(got, want):
        if int(d1) != int(d2) or np.float32(s1) != np.float32(s2):
            return False
    return True


def rows_of_search(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def rows_of_batch(rows) -> dict[str, list[tuple[int, float]]]:
    """search_many rows -> {query_id: [(doc_id, score)] in rank order}."""
    by: dict[str, list[tuple[int, int, float]]] = {}
    for r in rows:
        by.setdefault(r["query_id"], []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in by.items()}


class Checker:
    """Collects (engine result, expected result) comparisons."""

    def __init__(self, oracle: Oracle, parse):
        self.oracle = oracle
        self.parse = parse
        self.checked = 0
        self.mismatches: list[dict] = []

    def expect(self, query: str, k: int) -> list[tuple[int, float]]:
        return self.oracle.topk(self.oracle.plan(self.parse(query)), k)

    def compare(self, what: str, query: str, got, want) -> bool:
        self.checked += 1
        ok = same_ranking(got, want)
        if not ok:
            self.mismatches.append({"what": what, "query": query,
                                    "got": got[:12], "want": want[:12]})
        return ok

    def check(self, what: str, query: str, got, k: int) -> bool:
        return self.compare(what, query, got, self.expect(query, k))
