"""Vectorized per-partition query evaluation kernel (numpy).

This runs inside `applyInPandas` grouped by partition — the analogue of
Lucene's per-LeafReaderContext scorer tree execution
(search/IndexSearcher.java:310-356). Everything here is numpy array math
over decoded posting lists; no per-row Python.

Implemented scorer semantics:
- conjunction: cost-ordered leapfrog — legs intersected smallest-df first
  (search/ConjunctionDISI.java:225-229) via np.intersect1d on sorted ids
- disjunction: union with per-doc float score sums accumulated in double
  and cast to float32 (search/DisjunctionSumScorer.java)
- MUST_NOT: sorted-set difference (ReqExclScorer)
- FILTER: intersection without score contribution (BooleanClause.FILTER)
- DisjunctionMax: max + tie·Σ(rest) (search/DisjunctionMaxQuery.java)
- constant-score: fixed boost (search/ConstantScoreQuery.java)
- synonym: postings of the set merged per doc with tf summed, scored as a
  single pseudo-term (search/SynonymQuery.java:52)
- block-max pruning for single-term top-k: blocks whose upper-bound score
  is strictly below the current kth-best are skipped — admissible, hence
  result-identical to exhaustive scoring (contract of index/Impacts.java:43-45);
  ties are NOT pruned (strict <) so the (score desc, doc_id asc) tie-break
  of TopScoreDocCollector.java:90-93 is preserved exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from lucene_spark.search import plan as P
from lucene_spark.search.similarity import (BM25Similarity,
                                            IndriDirichletSimilarity)


@dataclass
class TermPostings:
    docs: np.ndarray      # int64 sorted
    tfs: np.ndarray       # int64
    dls: np.ndarray       # int64 exact doclens
    block_last: np.ndarray
    block_max_tf: np.ndarray
    block_min_dl: np.ndarray
    pos: np.ndarray | None = None   # flat positions; posting i owns
                                    # pos[tf_off[i]:tf_off[i+1]]
    # start index of each metadata block in the posting arrays (len nb+1,
    # last entry = n). Blocks are NOT uniform: every encoded slice ends
    # with a short tail block, and a partition may concatenate several
    # slices — pruning must use these exact boundaries, not n/nb math.
    block_off: np.ndarray | None = None
    pay: np.ndarray | None = None   # float32 payloads aligned with pos
                                    # (the .pay channel,
                                    # Lucene84PostingsFormat.java:241-330);
                                    # NaN = position carries no payload
    _tf_off: np.ndarray | None = None

    @property
    def tf_off(self) -> np.ndarray:
        if self._tf_off is None:
            self._tf_off = np.append(np.int64(0), np.cumsum(self.tfs))
        return self._tf_off

    def block_offsets(self, block_size: int) -> np.ndarray:
        """Explicit offsets if provided; otherwise the single-slice layout
        (full `block_size` blocks + short tail)."""
        if self.block_off is not None:
            return self.block_off
        nb = self.block_last.size
        off = np.minimum(np.arange(nb + 1, dtype=np.int64) * block_size,
                         self.docs.size)
        return off


@dataclass
class EvalContext:
    # all keys are (field, term) pairs — Lucene's Term identity
    # (index/Term.java); avgdl is per field (BM25Similarity.java:114-117
    # computes it from the FIELD's CollectionStatistics)
    postings: dict[tuple[str, str], TermPostings]   # terms in this partition
    weights: dict[tuple[tuple[str, str], float], np.float32]
    syn_weights: dict[tuple[tuple[str, tuple[str, ...]], float], np.float32]
    avgdl: dict[str, np.float32]
    sim: BM25Similarity
    k: int = 10
    phrase_weights: dict[tuple[tuple[str, tuple[str, ...]], float], np.float32] | None = None
    # per-field similarity overrides — the PerFieldSimilarityWrapper role
    # (search/similarities/PerFieldSimilarityWrapper.java); a field absent
    # here scores with the default `sim`
    field_sims: dict[str, BM25Similarity] | None = None
    block_size: int = 128     # codec block size (fallback for postings
                              # built without explicit block_off)
    # per-task full-scoring memo: (field, term, boost) → (docs, scores).
    # The TermStates/LRUQueryCache serving role within one batch: a hot
    # term shared by dozens of batch queries is scored over its postings
    # ONCE per task, not once per query. Entries are FULL exhaustive
    # scorings only (block-max partial scorings are never stored) and the
    # cached arrays are never mutated by consumers (every combiner copies
    # via astype/fancy-indexing before arithmetic). None disables.
    score_memo: dict | None = None
    # lazy dense-domain map for disjunctions: (parts, span, keys_memo) —
    # see _dense_dom
    dense_dom: list | None = None
    # BlendedTermQuery leg weights: node → ((field, term, weight), ...)
    # computed driver-side from the blended (max-df, Σ-ttf) stats
    blend_weights: dict | None = None


def _sim_of(ctx: "EvalContext", field: str):
    fs = ctx.field_sims
    return fs[field] if fs and field in fs else ctx.sim


_EMPTY_I = np.empty(0, dtype=np.int64)
_EMPTY_F = np.empty(0, dtype=np.float32)


def _empty() -> tuple[np.ndarray, np.ndarray]:
    return _EMPTY_I, _EMPTY_F


def eval_node(node: P.Node, ctx: EvalContext, need_scores: bool = True) -> tuple[np.ndarray, np.ndarray]:
    """Return (sorted doc_ids, float32 scores). Scores are zeros when
    need_scores=False (filter context)."""
    if isinstance(node, P.TermNode):
        return _eval_term(node, ctx, need_scores)
    if isinstance(node, P.SynonymNode):
        return _eval_synonym(node, ctx, need_scores)
    if isinstance(node, P.TermInSetNode):
        docs = _union_docs([ctx.postings[(node.field, t)].docs for t in node.terms
                            if (node.field, t) in ctx.postings])
        return docs, np.full(docs.size, np.float32(node.boost), dtype=np.float32)
    if isinstance(node, P.ConstantScoreNode):
        docs, _ = eval_node(node.child, ctx, need_scores=False)
        return docs, np.full(docs.size, np.float32(node.boost), dtype=np.float32)
    if isinstance(node, P.MatchNoneNode):
        return _empty()
    if isinstance(node, P.BooleanNode):
        return _eval_boolean(node, ctx, need_scores)
    if isinstance(node, P.DisjunctionMaxNode):
        return _eval_dismax(node, ctx, need_scores)
    if isinstance(node, P.PhraseNode):
        return _eval_phrase(node, ctx, need_scores)
    if isinstance(node, P.IntervalNode):
        return _eval_interval(node, ctx)
    if isinstance(node, P.IntervalSlotsNode):
        return _eval_interval_slots(node, ctx)
    if isinstance(node, P.SpanNotNode):
        return _eval_span_not(node, ctx)
    if isinstance(node, (P.IntervalFilterNode, P.IntervalOrNode,
                         P.IntervalExtendNode, P.IntervalMaxWidthNode,
                         P.IntervalAtLeastNode, P.IntervalSeqNode)):
        return _eval_interval_tree(node, ctx)
    if isinstance(node, P.PayloadScoreNode):
        return _eval_payload_score(node, ctx)
    if isinstance(node, P.SpanPayloadCheckNode):
        return _eval_span_payload_check(node, ctx, need_scores)
    if isinstance(node, P.MultiPhraseNode):
        return _eval_multiphrase(node, ctx, need_scores)
    if isinstance(node, P.BlendedTermNode):
        return _eval_blended(node, ctx, need_scores)
    if isinstance(node, P.TermAutomatonNode):
        return _eval_term_automaton(node, ctx, need_scores)
    if isinstance(node, P.IndriAndNode):
        return _eval_indri_and(node, ctx, need_scores)
    raise TypeError(f"unexecutable node (should have been planned away): {node!r}")


def _eval_indri_and(node: P.IndriAndNode, ctx: EvalContext,
                    need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    """IndriAndQuery (search/IndriAndScorer.java:35-61): disjunction
    iteration; score = Σ boost·s_t / Σ boost with s_t the Indri
    Dirichlet log-prob — the term's score when it occurs in the doc,
    its freq-0 smoothing score otherwise. Leg (term, boost, p=collection
    probability) triples come driver-side via ctx.blend_weights."""
    legs = (ctx.blend_weights or {}).get(node, ())
    present = []
    for t, b, p in legs:
        tp = ctx.postings.get((node.field, t))
        if tp is not None:
            present.append((tp, b, p))
    if not present:
        return _empty()
    cat_docs = np.concatenate([tp.docs for tp, _, _ in present])
    cat_dls = np.concatenate([tp.dls for tp, _, _ in present])
    uniq, first = np.unique(cat_docs, return_index=True)
    if not need_scores:
        return uniq, np.zeros(uniq.size, dtype=np.float32)
    dls = cat_dls[first]
    sim = IndriDirichletSimilarity(node.mu)
    acc = np.zeros(uniq.size, dtype=np.float64)
    bsum = 0.0
    one = np.float32(1.0)
    for tp, b, p in present:
        pos = np.searchsorted(tp.docs, uniq)
        posc = np.minimum(pos, tp.docs.size - 1)
        hit = tp.docs[posc] == uniq
        tfs = np.zeros(uniq.size, dtype=np.float64)
        tfs[hit] = tp.tfs[posc[hit]]
        acc += b * sim.score(tfs, dls, (one, np.float64(p))).astype(np.float64)
        bsum += b
    scores = (acc / bsum * np.float64(node.boost)).astype(np.float32)
    return uniq, scores


def term_automaton_dfa(node: P.TermAutomatonNode):
    """Subset-construction determinization of the node's NFA — the
    Operations.determinize step of TermAutomatonQuery.finish():206. ANY
    arcs expand to every query-term symbol plus a GAP symbol
    (finish():150-199 rewrites ANY to the full term range; the scorer
    additionally steps GAP across positions holding no query term,
    TermAutomatonScorer:277-303). Returns (term→symbol, step table,
    accepting DFA states, has_any, GAP symbol). DFA state 0 is initial."""
    terms = sorted({t for _, _, t in node.transitions if t is not None})
    tid = {t: i for i, t in enumerate(terms)}
    has_any = any(t is None for _, _, t in node.transitions)
    gap = len(terms)
    n_syms = len(terms) + (1 if has_any else 0)
    nfa: dict[tuple[int, int], set[int]] = {}
    for src, dst, t in node.transitions:
        syms = range(n_syms) if t is None else (tid[t],)
        for s in syms:
            nfa.setdefault((src, s), set()).add(dst)
    acc_nfa = set(node.accepts)
    start = frozenset({0})
    ids: dict[frozenset, int] = {start: 0}
    step: dict[tuple[int, int], int] = {}
    accept: set[int] = set()
    stack = [start]
    while stack:
        cur = stack.pop()
        ci = ids[cur]
        if cur & acc_nfa:
            accept.add(ci)
        for sym in range(n_syms):
            dst = frozenset().union(*(nfa.get((s, sym), ()) for s in cur))
            if not dst:
                continue
            di = ids.get(dst)
            if di is None:
                if len(ids) >= node.max_determinized_states:
                    raise ValueError(
                        "too many determinized states "
                        f"(> {node.max_determinized_states})")
                di = ids[dst] = len(ids)
                stack.append(dst)
            step[(ci, sym)] = di
    return tid, step, accept, has_any, gap


def term_automaton_freq(tokens: list, step: dict, accept: set,
                        has_any: bool, gap: int) -> int:
    """One doc's automaton match count over its sorted (pos, symbol)
    query-term tokens — TermAutomatonScorer.countMatches:231-345. A new
    thread starts at every token (step from DFA state 0); live threads
    consume one token per position, ANY gaps advance threads across
    positions with no query term, and freq counts every thread landing
    in an accept state (multiset: converged threads each count)."""
    freq = 0
    cur: dict[int, int] = {}   # DFA state -> thread count at cur_pos
    cur_pos = -1
    i, n = 0, len(tokens)
    while i < n:
        pos = tokens[i][0]
        j = i
        while j < n and tokens[j][0] == pos:
            j += 1
        if cur and pos > cur_pos:
            if has_any:
                for _ in range(pos - cur_pos):
                    nxt: dict[int, int] = {}
                    for s, c in cur.items():
                        d = step.get((s, gap))
                        if d is not None:
                            nxt[d] = nxt.get(d, 0) + c
                    cur = nxt
                    if not cur:
                        break
            else:
                cur = {}
        nxt = {}
        for _, sym in tokens[i:j]:
            for s, c in cur.items():
                d = step.get((s, sym))
                if d is not None:
                    nxt[d] = nxt.get(d, 0) + c
                    if d in accept:
                        freq += c
            d = step.get((0, sym))
            if d is not None:
                nxt[d] = nxt.get(d, 0) + 1
                if d in accept:
                    freq += 1
        cur = nxt
        cur_pos = pos + 1
        i = j
    return freq


def _eval_term_automaton(node: P.TermAutomatonNode, ctx: EvalContext,
                         need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    """Disjunction-shaped candidate walk (the reference scorer 'acts like
    a disjunction, not a conjunction' — TermAutomatonQuery.java:69-72):
    every doc holding ANY query term is a candidate; the per-doc
    position merge + DFA run decides freq."""
    tid, step, accept, has_any, gap = term_automaton_dfa(node)
    present = []
    for t, sym in tid.items():
        tp = ctx.postings.get((node.field, t))
        if tp is not None and tp.pos is not None:
            present.append((sym, tp))
    if not present:
        return _empty()
    cat_docs = np.concatenate([tp.docs for _, tp in present])
    cat_dls = np.concatenate([tp.dls for _, tp in present])
    base, first = np.unique(cat_docs, return_index=True)
    dls = cat_dls[first]
    idx = [np.searchsorted(tp.docs, base) for _, tp in present]
    freqs = np.zeros(base.size, dtype=np.float64)
    for ci in range(base.size):
        toks: list[tuple[int, int]] = []
        for li, (sym, tp) in enumerate(present):
            pi = idx[li][ci]
            if pi < tp.docs.size and tp.docs[pi] == base[ci]:
                for p in tp.pos[tp.tf_off[pi]:tp.tf_off[pi + 1]]:
                    toks.append((int(p), sym))
        toks.sort()
        freqs[ci] = term_automaton_freq(toks, step, accept, has_any, gap)
    hit = freqs > 0
    docs = base[hit]
    if not need_scores:
        return docs, np.zeros(docs.size, dtype=np.float32)
    key = ((node.field, ("\0termauto",) + tuple(sorted(tid))), node.boost)
    w = (ctx.phrase_weights or {})[key]
    sim = _sim_of(ctx, node.field)
    scores = sim.score(freqs[hit], dls[hit], w, ctx.avgdl[node.field])
    return docs, scores.astype(np.float32)


def _eval_blended(node: P.BlendedTermNode, ctx: EvalContext,
                  need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    """BlendedTermQuery (search/BlendedTermQuery.java:270-300): each leg
    scores its own postings with the BLENDED weight (df = max, ttf = Σ,
    baked into ctx.blend_weights driver-side), combined like
    DisjunctionMaxQuery with node.tie_breaker (node.boost is pre-folded
    into every leg weight — max/sum scale linearly, so folding before
    the combine is equivalent to scaling after)."""
    legs = (ctx.blend_weights or {}).get(node, ())
    evaled: list[tuple[np.ndarray, np.ndarray]] = []
    for f, t, w in legs:
        tp = ctx.postings.get((f, t))
        if tp is None:
            continue
        if need_scores:
            sc = _sim_of(ctx, f).score(tp.tfs, tp.dls, w, ctx.avgdl[f])
        else:
            sc = np.zeros(tp.docs.size, dtype=np.float32)
        evaled.append((tp.docs, sc))
    if not evaled:
        return _empty()
    cat = np.concatenate([d for d, _ in evaled])
    uniq, inv = np.unique(cat, return_inverse=True)
    if not need_scores:
        return uniq, np.zeros(uniq.size, dtype=np.float32)
    mx = np.full(uniq.size, -np.inf)
    sm = np.zeros(uniq.size, dtype=np.float64)
    off = 0
    for d, s in evaled:
        k_ = inv[off:off + d.size]
        off += d.size
        sf = s.astype(np.float64)
        mx[k_] = np.maximum(mx[k_], sf)  # docs unique within a leg
        sm[k_] += sf
    total = mx + np.float64(node.tie_breaker) * (sm - mx)
    return uniq, total.astype(np.float32)


def _eval_multiphrase(node: P.MultiPhraseNode, ctx: EvalContext, need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    """MultiPhraseQuery matcher (search/MultiPhraseQuery.java:53): slot j
    matches at position p when ANY of its alternative terms occurs at p —
    slot position lists are unions of the alternatives' lists; the
    exact/sloppy phrase machinery then applies unchanged. Scored as a
    pseudo-term with the blended idf-sum weight over all alternatives."""
    slots: list[list[TermPostings]] = []
    for alts in node.positions:
        tps = [ctx.postings.get((node.field, t)) for t in alts]
        tps = [tp for tp in tps if tp is not None and tp.pos is not None]
        if not tps:
            return _empty()
        slots.append(tps)

    slot_docs = [_union_docs([tp.docs for tp in tps]) for tps in slots]
    order = np.argsort([d.size for d in slot_docs], kind="stable")
    base = slot_docs[order[0]]
    for oi in order[1:]:
        base = np.intersect1d(base, slot_docs[oi], assume_unique=True)
        if base.size == 0:
            return _empty()

    k = len(slots)
    freqs = np.zeros(base.size, dtype=np.float64)
    dls = np.zeros(base.size, dtype=np.int64)
    offsets = list(range(k))
    for ci in range(base.size):
        doc = base[ci]
        adj = []
        ok = True
        for j, tps in enumerate(slots):
            ps = []
            for tp in tps:
                i = int(np.searchsorted(tp.docs, doc))
                if i < tp.docs.size and tp.docs[i] == doc:
                    ps.append(tp.pos[tp.tf_off[i]:tp.tf_off[i + 1]])
                    dls[ci] = tp.dls[i]
            if not ps:
                ok = False
                break
            adj.append(np.unique(np.concatenate(ps)) - j)
        if not ok:
            continue
        if node.slop > 0:
            freqs[ci] = sloppy_phrase_freq(adj, node.slop, offsets=offsets)
        else:
            cur = adj[0]
            for a in adj[1:]:
                cur = np.intersect1d(cur, a, assume_unique=True)
                if cur.size == 0:
                    break
            else:
                freqs[ci] = cur.size

    hit = freqs > 0
    docs = base[hit]
    if not need_scores:
        return docs, np.zeros(docs.size, dtype=np.float32)
    w = (ctx.phrase_weights or {})[((node.field, node.positions), node.boost)]
    return docs, _sim_of(ctx, node.field).score(freqs[hit], dls[hit], w, ctx.avgdl[node.field])


def interval_match(pos_lists: list[np.ndarray], max_gaps: int, ordered: bool) -> bool:
    """Does any interval over one position per term satisfy
    gaps = (max − min + 1) − k ≤ max_gaps?  (IntervalQuery.java:59;
    Intervals.maxgaps semantics.)

    ordered: for every start position of term 0, greedily take the
    EARLIEST strictly-later position of each next term — that yields the
    minimal-width ordered interval anchored at that start (the
    OrderedIntervalsSource minimization), so checking each anchor is
    exhaustive. unordered: smallest-range sweep — repeatedly test the
    current window [min, max] over one pointer per list and advance the
    minimum pointer; this enumerates all minimal unordered windows
    (UnorderedIntervalsSource; overlapping positions permitted)."""
    k = len(pos_lists)
    if ordered:
        for p0 in pos_lists[0]:
            p = int(p0)
            ok = True
            for j in range(1, k):
                nxt = pos_lists[j]
                i = int(np.searchsorted(nxt, p, side="right"))
                if i == nxt.size:
                    ok = False
                    break
                p = int(nxt[i])
            if ok and (p - int(p0) + 1) - k <= max_gaps:
                return True
        return False
    import heapq

    ptrs = [0] * k
    heap = [(int(pos_lists[i][0]), i) for i in range(k)]
    heapq.heapify(heap)
    cur_max = max(v for v, _ in heap)
    while True:
        mn, i = heap[0]
        if (cur_max - mn + 1) - k <= max_gaps:
            return True
        ptrs[i] += 1
        if ptrs[i] >= pos_lists[i].size:
            return False
        v = int(pos_lists[i][ptrs[i]])
        heapq.heapreplace(heap, (v, i))
        if v > cur_max:
            cur_max = v


def _eval_interval(node: P.IntervalNode, ctx: EvalContext) -> tuple[np.ndarray, np.ndarray]:
    """Interval query eval — the single-term-per-slot special case of
    _eval_interval_slots (one shared candidate-intersection + position
    matcher; constant score = boost)."""
    slots = P.IntervalSlotsNode(
        slots=tuple(P.TermNode(term=t, field=node.field) for t in node.terms),
        max_gaps=node.max_gaps, ordered=node.ordered,
        field=node.field, boost=node.boost)
    return _eval_interval_slots(slots, ctx)


def slot_terms(slot: P.Node) -> tuple[str, ...]:
    """Concrete terms of one IntervalSlotsNode slot (post-expansion the
    slots are TermNode or TermInSetNode; anything else means the planner
    was bypassed)."""
    if isinstance(slot, P.TermNode):
        return (slot.term,)
    if isinstance(slot, P.TermInSetNode):
        return slot.terms
    raise TypeError(
        f"unexpanded interval slot (run the searcher's planner first): {slot!r}")


def _gather_slot_parts(node: P.IntervalSlotsNode, ctx: EvalContext) -> list[list[TermPostings]] | None:
    """Postings for every slot's alternatives, or None if any slot has
    no indexed terms / no positions (⇒ the interval matches nothing)."""
    slot_parts: list[list[TermPostings]] = []
    for slot in node.slots:
        parts = [ctx.postings[(node.field, t)] for t in slot_terms(slot)
                 if (node.field, t) in ctx.postings]
        if not parts or any(p.pos is None for p in parts):
            return None
        slot_parts.append(parts)
    return slot_parts


def _slot_candidates(slot_parts: list[list[TermPostings]]) -> np.ndarray:
    """Docs containing at least one alternative of EVERY slot."""
    slot_docs = [_union_docs([p.docs for p in parts]) for parts in slot_parts]
    order = np.argsort([d.size for d in slot_docs], kind="stable")
    base = slot_docs[order[0]]
    for oi in order[1:]:
        base = np.intersect1d(base, slot_docs[oi], assume_unique=True)
        if base.size == 0:
            break
    return base


def _doc_slot_pls(slot_parts: list[list[TermPostings]], doc: int,
                  node: P.IntervalSlotsNode) -> list[np.ndarray] | None:
    """Per-slot merged position lists for one doc, clamped to the node's
    [min_start, max_end) window; None if any slot is absent/empty there.
    Clamping is exact for the SpanFirst/SpanPositionRange role since a
    span's start/end are its min/max positions (plan docs)."""
    pls: list[np.ndarray] = []
    for parts in slot_parts:
        arrs = []
        for p in parts:
            j = int(np.searchsorted(p.docs, doc))
            if j < p.docs.size and p.docs[j] == doc:
                arrs.append(p.pos[p.tf_off[j]:p.tf_off[j + 1]])
        if not arrs:
            return None
        pls.append(arrs[0] if len(arrs) == 1 else np.sort(np.concatenate(arrs)))
    if node.min_start > 0 or node.max_end is not None:
        hi = node.max_end if node.max_end is not None else np.iinfo(np.int64).max
        pls = [pl[(pl >= node.min_start) & (pl < hi)] for pl in pls]
        if any(pl.size == 0 for pl in pls):
            return None
    return pls


def _eval_interval_slots(node: P.IntervalSlotsNode, ctx: EvalContext) -> tuple[np.ndarray, np.ndarray]:
    """Interval eval with per-slot alternative terms (the surround
    parser's DistanceQuery-over-SpanOr shape): slot position lists are
    the UNION of the slot's alternatives' lists — match-equivalent to
    the cross product of single-term intervals, since a matching
    interval picks exactly one position (hence one alternative) per
    slot. Constant score = boost, like IntervalNode."""
    slot_parts = _gather_slot_parts(node, ctx)
    if slot_parts is None:
        return _empty()
    base = _slot_candidates(slot_parts)
    if base.size == 0:
        return _empty()
    hit = np.zeros(base.size, dtype=bool)
    for ci in range(base.size):
        pls = _doc_slot_pls(slot_parts, int(base[ci]), node)
        if pls is None:
            continue
        hit[ci] = interval_match(pls, node.max_gaps, node.ordered)
    docs = base[hit]
    return docs, np.full(docs.size, np.float32(node.boost), dtype=np.float32)


def minimal_spans(spans: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Reduce a span list to its containment antichain — keep only spans
    that contain no other span (Lucene's interval iterators emit ONLY
    minimal intervals; IntervalIterator.java class doc). Sort by start
    asc, then sweep from the right keeping the running min end: a span
    is dominated iff some span with start ≥ its start ends ≤ its end."""
    if len(spans) <= 1:
        return spans
    # (start asc, end DESC) so the reverse sweep sees, among equal
    # starts, the tighter span first — it must dominate its wider twins
    uniq = sorted(set(spans), key=lambda x: (x[0], -x[1]))
    out: list[tuple[int, int]] = []
    min_end = None
    for s, e in reversed(uniq):
        if min_end is None or e < min_end:
            out.append((s, e))
            min_end = e
    out.reverse()
    return out


def interval_spans(pos_lists: list[np.ndarray], max_gaps: int,
                   ordered: bool) -> list[tuple[int, int]]:
    """All MINIMAL match intervals (start, end) — the span-stream
    analogue of interval_match (which is `bool(interval_spans(...))`).
    ordered: greedy chain per anchor of list 0; unordered: every window
    the smallest-range sweep visits that satisfies the gaps constraint.
    BOTH enumerations can emit dominated windows (anchor 0 of
    'table big table hash' yields (0,3) ⊇ (2,3)), so the result is
    reduced to its containment antichain before returning — Lucene's
    iterators only ever surface minimal intervals, and the containment
    algebra (IntervalFilterNode) is semantics-changing on non-minimal
    streams. Sound and complete for overlap/containment questions."""
    k = len(pos_lists)
    spans: list[tuple[int, int]] = []
    if ordered:
        for p0 in pos_lists[0]:
            p = int(p0)
            ok = True
            for j in range(1, k):
                nxt = pos_lists[j]
                i = int(np.searchsorted(nxt, p, side="right"))
                if i == nxt.size:
                    ok = False
                    break
                p = int(nxt[i])
            if ok and (p - int(p0) + 1) - k <= max_gaps:
                spans.append((int(p0), p))
        return minimal_spans(spans)
    import heapq

    ptrs = [0] * k
    heap = [(int(pos_lists[i][0]), i) for i in range(k)]
    heapq.heapify(heap)
    cur_max = max(v for v, _ in heap)
    while True:
        mn, i = heap[0]
        if (cur_max - mn + 1) - k <= max_gaps:
            spans.append((mn, cur_max))
        ptrs[i] += 1
        if ptrs[i] >= pos_lists[i].size:
            return minimal_spans(spans)
        v = int(pos_lists[i][ptrs[i]])
        heapq.heapreplace(heap, (v, i))
        if v > cur_max:
            cur_max = v


def _eval_span_not(node: P.SpanNotNode, ctx: EvalContext) -> tuple[np.ndarray, np.ndarray]:
    """SpanNotQuery eval: a doc matches when some include span has no
    exclude span within [start - pre, end + post] (SpanNotQuery.java:64-66).
    Constant score = boost."""
    inc, exc = node.include, node.exclude
    if not isinstance(inc, P.IntervalSlotsNode):   # e.g. MatchNone post-expand
        return _empty()
    inc_parts = _gather_slot_parts(inc, ctx)
    if inc_parts is None:
        return _empty()
    base = _slot_candidates(inc_parts)
    if base.size == 0:
        return _empty()
    # exclude that expanded to nothing (MatchNone) or has no postings ⇒
    # exclude never matches ⇒ plain include semantics
    exc_parts = (_gather_slot_parts(exc, ctx)
                 if isinstance(exc, P.IntervalSlotsNode) else None)
    hit = np.zeros(base.size, dtype=bool)
    for ci in range(base.size):
        doc = int(base[ci])
        ipls = _doc_slot_pls(inc_parts, doc, inc)
        if ipls is None:
            continue
        inc_spans = interval_spans(ipls, inc.max_gaps, inc.ordered)
        if not inc_spans:
            continue
        exc_spans: list[tuple[int, int]] = []
        if exc_parts is not None:
            epls = _doc_slot_pls(exc_parts, doc, exc)
            if epls is not None:
                exc_spans = interval_spans(epls, exc.max_gaps, exc.ordered)
        hit[ci] = any(
            all(not (xs <= e + node.post and xe >= s - node.pre)
                for xs, xe in exc_spans)
            for s, e in inc_spans
        )
    docs = base[hit]
    return docs, np.full(docs.size, np.float32(node.boost), dtype=np.float32)


def filter_spans(src: list[tuple[int, int]], ref: list[tuple[int, int]],
                 op: str, ref_extend: int = 0) -> list[tuple[int, int]]:
    """Filter one minimal-span list by another — the interval algebra of
    queries/intervals/Intervals.java:300-404 over fully enumerated span
    streams. ref_extend widens every reference span to
    [max(0, s−N), e+N] first (ExtendedIntervalIterator.java:53-78)."""
    if ref_extend:
        ref = [(max(0, s - ref_extend), e + ref_extend) for s, e in ref]

    def contains(outer, inner):   # outer ⊇ inner
        return outer[0] <= inner[0] and inner[1] <= outer[1]

    def overlaps(a, b):
        return a[0] <= b[1] and b[0] <= a[1]

    if op == "containing":
        return [s for s in src if any(contains(s, r) for r in ref)]
    if op == "not_containing":
        return [s for s in src if not any(contains(s, r) for r in ref)]
    if op == "contained_by":
        return [s for s in src if any(contains(r, s) for r in ref)]
    if op == "not_contained_by":
        return [s for s in src if not any(contains(r, s) for r in ref)]
    if op == "overlapping":
        return [s for s in src if any(overlaps(s, r) for r in ref)]
    if op == "non_overlapping":
        return [s for s in src if not any(overlaps(s, r) for r in ref)]
    if op == "before":
        # Intervals.before (Intervals.java:421-424) = containedBy(src,
        # extend(offset(ref, before=true), MAX, 0)) — the offset point is
        # max(0, r.start − 1) (OffsetIntervalsSource.java:55-64, clamped
        # at 0), so src must end at or before it
        return [s for s in src if any(s[1] <= max(0, r[0] - 1) for r in ref)]
    if op == "after":
        # Intervals.after (Intervals.java:427-430): src starts at or
        # after some reference span's end + 1
        return [s for s in src if any(s[0] >= r[1] + 1 for r in ref)]
    raise ValueError(f"unknown interval filter op: {op}")


def _filter_negative(op: str) -> bool:
    """Negative filter ops keep source spans when the reference is
    ABSENT; positive ops require both sides present (the positive
    filter sources advance both sub-iterators conjunctively)."""
    return op.startswith("not_") or op == "non_overlapping"


def _interval_candidates(node: P.Node, ctx: EvalContext) -> np.ndarray:
    """Candidate docs whose interval stream COULD be non-empty — a
    superset computed from postings doc lists alone, refined per-doc by
    _doc_interval_spans. Positive filters intersect both sides; negative
    filters need only the source; atLeast counts membership across the
    sub-sources' candidate sets (min_match-of-n pruning)."""
    if isinstance(node, P.IntervalSlotsNode):
        parts = _gather_slot_parts(node, ctx)
        return (np.empty(0, dtype=np.int64) if parts is None
                else _slot_candidates(parts))
    if isinstance(node, P.IntervalFilterNode):
        src = _interval_candidates(node.source, ctx)
        if _filter_negative(node.op) or src.size == 0:
            return src
        if node.reference is None:     # positive filter, no reference ⇒ none
            return np.empty(0, dtype=np.int64)
        ref = _interval_candidates(node.reference, ctx)
        return np.intersect1d(src, ref, assume_unique=True)
    if isinstance(node, P.IntervalOrNode):
        return _union_docs([_interval_candidates(s, ctx) for s in node.sources])
    if isinstance(node, P.IntervalSeqNode):
        cands = [_interval_candidates(s, ctx) for s in node.sources]
        if not cands:
            return np.empty(0, dtype=np.int64)
        base = cands[0]
        for c in cands[1:]:
            if base.size == 0:
                break
            base = np.intersect1d(base, c, assume_unique=True)
        return base
    if isinstance(node, (P.IntervalExtendNode, P.IntervalMaxWidthNode)):
        return _interval_candidates(node.source, ctx)
    if isinstance(node, P.IntervalAtLeastNode):
        cands = [_interval_candidates(s, ctx) for s in node.sources]
        allc = np.concatenate(cands) if cands else np.empty(0, dtype=np.int64)
        if allc.size == 0:
            return allc
        u, c = np.unique(allc, return_counts=True)
        return u[c >= node.min_match]
    if isinstance(node, P.MatchNoneNode):
        return np.empty(0, dtype=np.int64)
    raise TypeError(f"not an interval source: {node!r}")


def _doc_interval_spans(node: P.Node, doc: int, ctx: EvalContext,
                        memo: dict) -> list[tuple[int, int]]:
    """One doc's interval stream for any interval-algebra subtree —
    minimal spans except under extend (whose widened bounds are
    semantics-bearing downstream, see plan.IntervalExtendNode). `memo`
    caches _gather_slot_parts per node across the docs of one eval."""
    if isinstance(node, P.MatchNoneNode):
        return []
    if isinstance(node, P.IntervalSlotsNode):
        if node not in memo:
            memo[node] = _gather_slot_parts(node, ctx)
        parts = memo[node]
        if parts is None:
            return []
        pls = _doc_slot_pls(parts, doc, node)
        if pls is None:
            return []
        return interval_spans(pls, node.max_gaps, node.ordered)
    if isinstance(node, P.IntervalFilterNode):
        src = _doc_interval_spans(node.source, doc, ctx, memo)
        if not src:
            return []
        ref = (_doc_interval_spans(node.reference, doc, ctx, memo)
               if node.reference is not None else [])
        if not ref:
            return src if _filter_negative(node.op) else []
        return filter_spans(src, ref, node.op, node.ref_extend)
    if isinstance(node, P.IntervalOrNode):
        spans: list[tuple[int, int]] = []
        for s in node.sources:
            spans.extend(_doc_interval_spans(s, doc, ctx, memo))
        return minimal_spans(spans)
    if isinstance(node, P.IntervalSeqNode):
        return _seq_spans(
            [_doc_interval_spans(s, doc, ctx, memo) for s in node.sources],
            node.max_gaps, node.ordered)
    if isinstance(node, P.IntervalExtendNode):
        child = _doc_interval_spans(node.source, doc, ctx, memo)
        return sorted({(max(0, s - node.before), e + node.after)
                       for s, e in child})
    if isinstance(node, P.IntervalMaxWidthNode):
        return [(s, e) for s, e in
                _doc_interval_spans(node.source, doc, ctx, memo)
                if e - s + 1 <= node.width]
    if isinstance(node, P.IntervalAtLeastNode):
        return _at_least_spans(
            [_doc_interval_spans(s, doc, ctx, memo) for s in node.sources],
            node.min_match)
    raise TypeError(f"not an interval source: {node!r}")


def _seq_spans(per_child: list[list[tuple[int, int]]], max_gaps: int,
               ordered: bool) -> list[tuple[int, int]]:
    """Ordered/unordered sequence over arbitrary child span streams
    (plan.IntervalSeqNode). Children are minimal-span antichains, so
    within each list starts and ends are co-sorted; ordered chaining
    takes the earliest span starting strictly after the previous end
    (OrderedIntervalsSource.java:152), unordered takes the minimal
    covering windows (atLeast with m = n). gaps = window width − Σ
    child-span widths, filtered against max_gaps."""
    if any(not sp for sp in per_child):
        return []
    if len(per_child) == 1:
        return per_child[0]     # OrderedIntervalsSource.build single-source arm
    if ordered:
        out: list[tuple[int, int]] = []
        starts = [np.asarray([cs for cs, _ in ch], dtype=np.int64)
                  for ch in per_child]
        for s0, e0 in per_child[0]:
            e = e0
            widths = e0 - s0 + 1
            ok = True
            for ch, chs in zip(per_child[1:], starts[1:]):
                i = int(np.searchsorted(chs, e, side="right"))
                if i == len(ch):
                    ok = False
                    break
                cs, ce = ch[i]
                widths += ce - cs + 1
                e = ce
            if ok and (e - s0 + 1) - widths <= max_gaps:
                out.append((s0, e))
        return minimal_spans(out)
    wins = _at_least_spans(per_child, len(per_child))
    if max_gaps >= 2 ** 31 - 1:
        return wins
    out = []
    for S, E in wins:
        tot = sum(max(ce - cs + 1 for cs, ce in ch if cs >= S and ce <= E)
                  for ch in per_child)
        if (E - S + 1) - tot <= max_gaps:
            out.append((S, E))
    return out


def _at_least_spans(per_source: list[list[tuple[int, int]]],
                    m: int) -> list[tuple[int, int]]:
    """Minimal intervals covering ≥1 span from each of ≥m distinct
    sources (MinimumShouldMatchIntervalsSource.java role). End-ordered
    sweep: at each candidate right edge E (some span's end), the
    tightest left edge is the m-th largest of the per-source best (max)
    starts among spans with end ≤ E — any minimal covering [S*, E*] has
    E* at a span end and S* equal to exactly that statistic, so emitting
    one window per edge and reducing to the antichain is complete."""
    present = [sp for sp in per_source if sp]
    if m <= 0 or len(present) < m:
        return []
    events = sorted((e, s, si) for si, sp in enumerate(present)
                    for (s, e) in sp)
    best_start: dict[int, int] = {}
    out: list[tuple[int, int]] = []
    for e, s, si in events:
        if s > best_start.get(si, -1):
            best_start[si] = s
        if len(best_start) >= m:
            lefts = sorted(best_start.values(), reverse=True)
            out.append((lefts[m - 1], e))
    return minimal_spans(out)


def _eval_interval_tree(node: P.Node, ctx: EvalContext) -> tuple[np.ndarray, np.ndarray]:
    """Matching eval for the composable interval algebra (filter / or /
    extend / maxwidth / atLeast over slot sources): a doc matches when
    its stream is non-empty. Match-only: constant score = boost."""
    base = _interval_candidates(node, ctx)
    if base.size == 0:
        return _empty()
    memo: dict = {}
    hit = np.fromiter(
        (bool(_doc_interval_spans(node, int(d), ctx, memo)) for d in base),
        dtype=bool, count=base.size)
    docs = base[hit]
    return docs, np.full(docs.size, np.float32(node.boost), dtype=np.float32)


def _eval_payload_score(node: P.PayloadScoreNode,
                        ctx: EvalContext) -> tuple[np.ndarray, np.ndarray]:
    """PayloadScoreQuery eval (payloads/PayloadScoreQuery.java,
    includeSpanScore=false): per matching doc, aggregate the term's
    payloads with the PayloadFunction; positions without payloads are
    skipped (PayloadSpanCollector skips null payloads) and a doc with
    zero payloads seen scores 1 (MaxPayloadFunction.java:*docScore).
    Fully vectorized: one reduceat per aggregate over the tf runs."""
    tp = ctx.postings.get((node.field, node.term))
    if tp is None or tp.docs.size == 0:
        return _empty()
    if tp.pay is None:
        raise ValueError(
            f"PayloadScoreQuery on field {node.field!r} requires an index "
            "built with a payload_delimiter analyzer (payloads ride the "
            "positions channel)")
    off = tp.tf_off[:-1]
    pay = tp.pay.astype(np.float64)
    valid = ~np.isnan(pay)
    counts = np.add.reduceat(valid.astype(np.int64), off)
    f = node.func
    if f == "sum":
        agg = np.add.reduceat(np.where(valid, pay, 0.0), off)
    elif f == "avg":
        agg = np.add.reduceat(np.where(valid, pay, 0.0), off) \
            / np.maximum(counts, 1)
    elif f == "max":
        agg = np.maximum.reduceat(np.where(valid, pay, -np.inf), off)
    elif f == "min":
        agg = np.minimum.reduceat(np.where(valid, pay, np.inf), off)
    else:
        raise ValueError(f"unknown payload function: {node.func}")
    scores = np.where(counts > 0, agg, 1.0) * np.float64(node.boost)
    return tp.docs, scores.astype(np.float32)


def _eval_span_payload_check(node: P.SpanPayloadCheckNode, ctx: EvalContext,
                             need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    """SpanPayloadCheckQuery eval (payloads/SpanPayloadCheckQuery.java:
    155-191): enumerate the wrapped exact-adjacent span's occurrences
    (terms at positions p, p+1, …), and keep an occurrence iff the
    payload at each matched position equals the expected sequence —
    None expects a payload-less position (PayloadChecker: a null
    payloadToMatch entry matches payload == null), a float expects
    bytesEquals, here float32 equality after the FloatEncoder round
    trip. freq = surviving occurrences; scored with the phrase
    pseudo-term blended weight (the SpanWeight similarity role)."""
    if len(node.payloads) != len(node.terms):
        raise ValueError("payloads must supply one entry per span position")
    parts = []
    for t in node.terms:
        tp = ctx.postings.get((node.field, t))
        if tp is None or tp.pos is None:
            return _empty()
        if tp.pay is None:
            raise ValueError(
                f"SpanPayloadCheckQuery on field {node.field!r} requires an "
                "index built with a payload_delimiter analyzer")
        parts.append(tp)
    base = parts[0].docs
    for p in parts[1:]:
        base = np.intersect1d(base, p.docs, assume_unique=True)
        if base.size == 0:
            return _empty()
    idx = [np.searchsorted(p.docs, base) for p in parts]
    expected = [None if v is None else np.float32(v) for v in node.payloads]
    freqs = np.zeros(base.size, dtype=np.float64)
    for ci in range(base.size):
        # per-leg (positions, payloads) slices for this doc
        pls, pays = [], []
        for j, pj in enumerate(parts):
            lo, hi = pj.tf_off[idx[j][ci]], pj.tf_off[idx[j][ci] + 1]
            pls.append(pj.pos[lo:hi])
            pays.append(pj.pay[lo:hi])
        starts = pls[0]
        for j in range(1, len(parts)):
            starts = np.intersect1d(starts, pls[j] - j, assume_unique=True)
            if starts.size == 0:
                break
        n_ok = 0
        for s in starts:
            ok = True
            for j in range(len(parts)):
                pv = pays[j][int(np.searchsorted(pls[j], s + j))]
                if expected[j] is None:
                    ok = bool(np.isnan(pv))
                else:
                    ok = (not np.isnan(pv)) and np.float32(pv) == expected[j]
                if not ok:
                    break
            n_ok += ok
        freqs[ci] = n_ok
    hit = freqs > 0
    docs = base[hit]
    if not need_scores:
        return docs, np.zeros(docs.size, dtype=np.float32)
    dls = parts[0].dls[idx[0][hit]]
    w = (ctx.phrase_weights or {})[((node.field, node.terms), node.boost)]
    return docs, _sim_of(ctx, node.field).score(freqs[hit], dls, w, ctx.avgdl[node.field])


def sloppy_phrase_freq(adj_lists: list[np.ndarray], slop: int,
                       offsets: list[int] | None = None) -> float:
    """Sloppy phrase frequency over one doc's ADJUSTED position lists
    (list j holds p - j for each position p of term_j, sorted).

    Semantics (documented; the SloppyPhraseMatcher analogue,
    search/SloppyPhraseMatcher.java): a match is a choice of one adjusted
    position per term with span = max - min ≤ slop; matches are
    enumerated greedily left-to-right by a smallest-range sweep (advance
    the minimum pointer each step) and counted only when non-overlapping
    with the previously counted match (no term occurrence reused —
    Lucene's matches also never share positions). Each counted match
    contributes sloppyFreq = 1/(1 + span) (PhraseScorer sloppyFreq).
    slop=0 degenerates to the exact matcher: every exact occurrence is a
    zero-span window contributing 1.

    offsets: the query position j of each list — supplied for phrases with
    REPEATED terms (SloppyPhraseMatcher's hasRepeats handling, the bulk of
    its 681 LoC): a window only counts if the RAW positions (adj + offset)
    are pairwise distinct, so one token occurrence can never satisfy two
    query slots of the same term within a match (documented deviation:
    across separate counted matches, cross-list reuse of a raw position is
    not tracked — within-list reuse is prevented by the pointer advance)."""
    import heapq

    k = len(adj_lists)
    ptrs = [0] * k
    heap = [(int(adj_lists[i][0]), i) for i in range(k)]
    heapq.heapify(heap)
    cur_max = max(h[0] for h in heap)
    last_counted = [-1] * k
    freq = 0.0
    while True:
        mn, i = heap[0]
        width = cur_max - mn
        if width <= slop and all(ptrs[j] > last_counted[j] for j in range(k)):
            distinct = True
            if offsets is not None:
                raws = {int(adj_lists[j][ptrs[j]]) + offsets[j] for j in range(k)}
                distinct = len(raws) == k
            if distinct:
                freq += 1.0 / (1.0 + width)
                for j in range(k):
                    last_counted[j] = ptrs[j]
        heapq.heappop(heap)
        ptrs[i] += 1
        if ptrs[i] >= adj_lists[i].size:
            return freq
        v = int(adj_lists[i][ptrs[i]])
        heapq.heappush(heap, (v, i))
        if v > cur_max:
            cur_max = v


def _eval_phrase(node: P.PhraseNode, ctx: EvalContext, need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    """Phrase matcher. slop=0: exact (search/ExactPhraseMatcher.java) —
    docs where all terms occur and ∃ position p with term_j at p+j for
    all j; freq = number of such p. slop>0: sloppy window matching (see
    sloppy_phrase_freq; phrases with REPEATED terms pass per-slot offsets
    so one token occurrence never fills two query slots — the
    SloppyPhraseMatcher hasRepeats handling).
    Scored like a pseudo-term with the blended multi-term weight.
    Candidate intersection is vectorized; the position verify loops only
    over the (few) candidate docs."""
    parts = []
    for t in node.terms:
        tp = ctx.postings.get((node.field, t))
        if tp is None or tp.pos is None:
            return _empty()
        parts.append(tp)
    if not parts:
        return _empty()

    # leapfrog: intersect candidate docs cost-ordered (rarest first),
    # tracking each leg's posting index for position lookup
    order = np.argsort([p.docs.size for p in parts], kind="stable")
    base = parts[order[0]].docs
    for oi in order[1:]:
        base = np.intersect1d(base, parts[oi].docs, assume_unique=True)
        if base.size == 0:
            return _empty()

    idx = [np.searchsorted(p.docs, base) for p in parts]
    sloppy = node.slop > 0
    repeats = len(set(node.terms)) != len(node.terms)
    # explicit query positions (PhraseQuery.Builder add(term, position) —
    # gapped phrases from the NGramPhraseQuery rewrite); default 0..n-1
    qpos = list(node.positions) if getattr(node, "positions", ()) \
        else list(range(len(parts)))
    offsets = qpos if repeats else None
    freqs = np.zeros(base.size, dtype=np.float64)
    for ci in range(base.size):
        if sloppy:
            adj = [
                parts[j].pos[parts[j].tf_off[idx[j][ci]]:parts[j].tf_off[idx[j][ci] + 1]] - qpos[j]
                for j in range(len(parts))
            ]
            freqs[ci] = sloppy_phrase_freq(adj, node.slop, offsets=offsets)
        else:
            cur = parts[0].pos[parts[0].tf_off[idx[0][ci]]:parts[0].tf_off[idx[0][ci] + 1]] - qpos[0]
            for j in range(1, len(parts)):
                pj = parts[j]
                pos_j = pj.pos[pj.tf_off[idx[j][ci]]:pj.tf_off[idx[j][ci] + 1]]
                cur = np.intersect1d(cur, pos_j - qpos[j], assume_unique=True)
                if cur.size == 0:
                    break
            freqs[ci] = cur.size

    hit = freqs > 0
    docs = base[hit]
    if not need_scores:
        return docs, np.zeros(docs.size, dtype=np.float32)
    dls = parts[0].dls[idx[0][hit]]
    w = (ctx.phrase_weights or {})[((node.field, node.terms), node.boost)]
    return docs, _sim_of(ctx, node.field).score(freqs[hit], dls, w, ctx.avgdl[node.field])


def _eval_term(node: P.TermNode, ctx: EvalContext, need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    tp = ctx.postings.get((node.field, node.term))
    if tp is None:
        return _empty()
    if not need_scores:
        return tp.docs, np.zeros(tp.docs.size, dtype=np.float32)
    memo = ctx.score_memo
    key = (node.field, node.term, node.boost)
    if memo is not None:
        hit = memo.get(key)
        if hit is not None:
            return hit
    w = ctx.weights[((node.field, node.term), node.boost)]
    scores = _sim_of(ctx, node.field).score(tp.tfs, tp.dls, w, ctx.avgdl[node.field])
    if memo is not None:
        memo[key] = (tp.docs, scores)
    return tp.docs, scores


def score_term_topk_blockmax(
    node: P.TermNode, ctx: EvalContext,
) -> tuple[np.ndarray, np.ndarray]:
    """Single-term top-k with block-max skipping (ImpactsDISI analogue,
    search/ImpactsDISI.java:99-131). Two-phase:
      1. score the highest-upper-bound blocks covering ≥k postings →
         partition-local floor = kth best actual score
         (the minCompetitiveScore of TopScoreDocCollector.java:84-98)
      2. additionally score every other block whose upper bound is NOT
         strictly below the floor
    Result-identical to exhaustive scoring (strict < keeps ties alive)."""
    tp = ctx.postings.get((node.field, node.term))
    if tp is None:
        return _empty()
    if ctx.score_memo is not None:
        # a FULL scoring of this term already exists in this task (some
        # earlier batch query scored it exhaustively) — reuse it; the
        # caller's top-k over the full set is identical to top-k over the
        # block-max-surviving superset
        hit = ctx.score_memo.get((node.field, node.term, node.boost))
        if hit is not None:
            return hit
    k = ctx.k
    n = tp.docs.size
    if n <= max(4 * k, 512) or tp.block_last.size <= 4:
        return _eval_term(node, ctx, True)
    w = ctx.weights[((node.field, node.term), node.boost)]
    avgdl = ctx.avgdl[node.field]
    sim = _sim_of(ctx, node.field)
    bmax = sim.max_score(tp.block_max_tf, tp.block_min_dl, w, avgdl)
    nb = bmax.size
    # EXACT block boundaries: blocks are block_size-full except each
    # slice's tail, so boundaries come from metadata offsets — a uniform
    # n/nb approximation would misalign the mask against the bounds and
    # could prune competitive docs
    off = tp.block_offsets(ctx.block_size)
    sizes = np.diff(off)
    order = np.argsort(-bmax, kind="stable")
    # phase 1: highest-bound blocks until ≥k postings are covered
    csum = np.cumsum(sizes[order])
    take = int(np.searchsorted(csum, k) + 1)
    take = min(nb, max(1, take))
    phase1 = order[:take]
    sel = _block_mask(phase1, off, n)
    s1 = sim.score(tp.tfs[sel], tp.dls[sel], w, avgdl)
    if s1.size >= k:
        floor = np.partition(s1, s1.size - k)[s1.size - k]
    else:
        floor = -np.inf
    rest = order[take:]
    rest = rest[bmax[rest] >= floor]  # strict-< pruning: keep ties
    if rest.size:
        sel2 = _block_mask(rest, off, n)
        docs = np.concatenate([tp.docs[sel], tp.docs[sel2]])
        scores = np.concatenate([s1, sim.score(tp.tfs[sel2], tp.dls[sel2], w, avgdl)])
        o = np.argsort(docs, kind="stable")
        return docs[o], scores[o]
    return tp.docs[sel], s1


def _block_mask(blocks: np.ndarray, off: np.ndarray, n: int) -> np.ndarray:
    sel = np.zeros(n, dtype=bool)
    for b in blocks:  # few blocks; ranges are vectorized writes
        sel[off[b]:off[b + 1]] = True
    return sel


def _eval_synonym(node: P.SynonymNode, ctx: EvalContext, need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    parts = [ctx.postings[(node.field, t)] for t in node.terms
             if (node.field, t) in ctx.postings]
    if not parts:
        return _empty()
    docs = np.concatenate([p.docs for p in parts])
    tfs = np.concatenate([p.tfs for p in parts])
    dls = np.concatenate([p.dls for p in parts])
    uniq, inv = np.unique(docs, return_inverse=True)
    tf_sum = np.zeros(uniq.size, dtype=np.int64)
    np.add.at(tf_sum, inv, tfs)
    dl_u = np.zeros(uniq.size, dtype=np.int64)
    dl_u[inv] = dls  # same doc ⇒ same doclen
    if not need_scores:
        return uniq, np.zeros(uniq.size, dtype=np.float32)
    w = ctx.syn_weights[((node.field, node.terms), node.boost)]
    return uniq, _sim_of(ctx, node.field).score(tf_sum, dl_u, w, ctx.avgdl[node.field])


# doc-id layout: doc_id = part_id << PART_ID_SHIFT | local_id — must match
# index.builder.PART_ID_SHIFT (tests/test_kernel_property.py asserts the
# equality so the two can never drift apart)
_PART_SHIFT = np.int64(40)
_LOCAL_MASK = np.int64((1 << 40) - 1)


_DENSE_CAP = 1 << 22


def _dense_dom(ctx: EvalContext) -> tuple | None:
    """Per-task dense doc-id domain, built lazily ONCE from the assembled
    postings: (parts, span, keys_memo). Doc ids are range-clustered per
    part (part_id << 40 | local, locals contiguous from 0 within a part),
    so doc → part_rank·span + local is a COMPACT index into dense
    accumulators of width parts·span ≈ the task's doc count. Returns None
    (and remembers it) when the domain would exceed _DENSE_CAP — callers
    fall back to sorted-set paths."""
    dd = ctx.dense_dom
    if dd is not None:
        return dd[0]
    parts_list: list[np.ndarray] = []
    span = 1
    for tp in ctx.postings.values():
        d = tp.docs
        if not d.size:
            continue
        p = d >> _PART_SHIFT
        b = np.flatnonzero(p[1:] != p[:-1])
        heads = p[np.append(np.int64(0), b + 1)]
        parts_list.append(heads)
        if heads.size == 1:
            span = max(span, int(d[-1] & _LOCAL_MASK) + 1)
        else:
            span = max(span, int((d & _LOCAL_MASK).max()) + 1)
    if not parts_list:
        ctx.dense_dom = [None]
        return None
    parts = np.unique(np.concatenate(parts_list))  # tiny: parts per task
    if parts.size * span > _DENSE_CAP:
        ctx.dense_dom = [None]
        return None
    dom = (parts, np.int64(span), {})
    ctx.dense_dom = [dom]
    return dom


def _leg_keys(ctx: EvalContext, node: P.Node | None, docs: np.ndarray,
              dom: tuple) -> np.ndarray:
    """Dense keys for one disjunction leg; memoized per (field, term) for
    plain term legs, whose docs arrays are the task-lifetime postings
    arrays — a hot term's keys are computed once per task, then every
    disjunction using it is a pure indexed add."""
    parts, span, memo = dom
    mk = (node.field, node.term) if isinstance(node, P.TermNode) else None
    if mk is not None:
        k_ = memo.get(mk)
        if k_ is not None:
            return k_
    l = docs & _LOCAL_MASK
    if parts.size == 1:
        keys = l
    else:
        keys = np.searchsorted(parts, docs >> _PART_SHIFT) * span + l
    if mk is not None:
        memo[mk] = keys
    return keys


def _dense_union(evaled: list[tuple[np.ndarray, np.ndarray]],
                 nodes: list[P.Node | None], ctx: EvalContext,
                 min_count: int, need_scores: bool,
                 ) -> tuple[np.ndarray, np.ndarray] | None:
    """Dense-domain disjunction: O(n) indexed adds over the task-wide
    dense domain replace the sort-based np.unique union — no concat, no
    O(n log n) sort. Returns None when the task has no dense domain
    (hand-built ids with huge locals) — caller falls back to sorted union.

    Exactness: leg docs are unique within a leg so fancy-index += is
    exact, and per-doc float64 adds happen in the same leg order as the
    sorted path's np.add.at did (bit-identical sums). Keys are monotone
    in doc order (sorted docs ⇒ sorted (part, local) ⇒ sorted rank·span +
    local), so flatnonzero returns docs in ascending doc_id order."""
    dom = _dense_dom(ctx)
    if dom is None:
        return None
    parts, span, _ = dom
    width = int(parts.size * span)
    # density gate: the dense pass costs O(width) (zero-fill + scan)
    # regardless of leg sizes — for rare-term disjunctions inside a
    # wide-domain task the sorted union's O(n log n) is cheaper. 8x is
    # the measured crossover region; exactness is unaffected (both paths
    # are bit-identical, property-tested).
    total = sum(d.size for d, _ in evaled)
    if width > max(4096, 8 * total):
        return None
    keys = [_leg_keys(ctx, n, d, dom) if d.size else None
            for (d, _), n in zip(evaled, nodes)]
    cnt = np.zeros(width, dtype=np.int32)
    for k_ in keys:
        if k_ is not None:
            cnt[k_] += 1
    if need_scores:
        acc_d = np.zeros(width, dtype=np.float64)
        for k_, (_, s) in zip(keys, evaled):
            if k_ is not None:
                acc_d[k_] += s.astype(np.float64)
    idx = np.flatnonzero(cnt >= min_count)
    base = (parts[idx // span] << _PART_SHIFT) | (idx % span)
    acc = acc_d[idx] if need_scores else np.zeros(base.size)
    return base, acc


def _union_docs(doc_lists: list[np.ndarray]) -> np.ndarray:
    if not doc_lists:
        return _EMPTY_I
    if len(doc_lists) == 1:
        return doc_lists[0]
    return np.unique(np.concatenate(doc_lists))


def _eval_boolean(node: P.BooleanNode, ctx: EvalContext, need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    musts = [c.node for c in node.clauses if c.occur is P.Occur.MUST]
    shoulds = [c.node for c in node.clauses if c.occur is P.Occur.SHOULD]
    filters = [c.node for c in node.clauses if c.occur is P.Occur.FILTER]
    must_nots = [c.node for c in node.clauses if c.occur is P.Occur.MUST_NOT]
    msm = node.minimum_should_match
    if msm > len(shoulds):
        # Lucene rewrites minShouldMatch > optional-clause count to
        # MatchNoDocsQuery (BooleanQuery.rewrite)
        return _empty()

    base: np.ndarray | None = None
    acc: np.ndarray | None = None  # float64 accumulator aligned with base

    # conjunction, cost-ordered: cheapest (fewest docs) leg first. The
    # smallest leg is the probe side; every other leg is PROBED via
    # binary search (searchsorted) instead of np.intersect1d — the
    # leapfrog asymmetry of ConjunctionDISI (advance the cheap iterator,
    # seek the expensive ones): O(m·log n) instead of intersect1d's
    # O((m+n)·log(m+n)) concat-and-sort, which matters exactly for the
    # skewed rare-AND-hot shape
    if musts or filters:
        legs = [(m, True) for m in musts] + [(f, False) for f in filters]
        evaled = [(eval_node(n, ctx, need_scores and scored), scored) for n, scored in legs]
        evaled.sort(key=lambda e: e[0][0].size)
        (docs0, sc0), scored0 = evaled[0]
        base = docs0
        acc = sc0.astype(np.float64) if (need_scores and scored0) else np.zeros(docs0.size)
        for (docs_i, sc_i), scored_i in evaled[1:]:
            if base.size == 0 or docs_i.size == 0:
                return _empty()
            pos = np.searchsorted(docs_i, base)
            pos_c = np.minimum(pos, docs_i.size - 1)
            hit = docs_i[pos_c] == base
            base = base[hit]
            acc = acc[hit]
            if need_scores and scored_i:
                acc = acc + sc_i[pos_c[hit]].astype(np.float64)
            if base.size == 0:
                return _empty()

    if base is None:
        # pure disjunction: union + score sum + msm count
        if not shoulds:
            return _empty()
        evaled = [eval_node(s, ctx, need_scores) for s in shoulds]
        all_docs = [d for d, _ in evaled]
        if not any(d.size for d in all_docs):
            return _empty()
        dense = _dense_union(evaled, shoulds, ctx, max(msm, 1), need_scores)
        if dense is not None:
            base, acc = dense
        else:
            # sparse fallback (ids far apart — e.g. hand-built postings)
            cat = np.concatenate(all_docs)
            uniq, inv = np.unique(cat, return_inverse=True)
            acc_u = np.zeros(uniq.size, dtype=np.float64)
            cnt = np.zeros(uniq.size, dtype=np.int64)
            np.add.at(cnt, inv, 1)
            if need_scores:
                cat_s = np.concatenate([s for _, s in evaled]).astype(np.float64)
                np.add.at(acc_u, inv, cat_s)
            base, acc = uniq, acc_u
            if msm > 1:
                keep = cnt >= msm
                base, acc = base[keep], acc[keep]
    elif shoulds:
        # optional scoring clauses over the conjunction (+ msm if set)
        cnt = np.zeros(base.size, dtype=np.int64)
        for s in shoulds:
            docs_s, sc_s = eval_node(s, ctx, need_scores)
            pos = np.searchsorted(docs_s, base)
            pos_c = np.clip(pos, 0, max(docs_s.size - 1, 0))
            hit = (pos < docs_s.size) & (docs_s.size > 0)
            if docs_s.size:
                hit &= docs_s[pos_c] == base
            cnt += hit.astype(np.int64)
            if need_scores and docs_s.size:
                acc = acc + np.where(hit, sc_s[pos_c].astype(np.float64), 0.0)
        if msm > 0:
            keep = cnt >= msm
            base, acc = base[keep], acc[keep]

    # exclusions; a query with only MUST_NOT clauses matches nothing
    # (Lucene requires a positive clause — normally rewritten away by
    # plan.rewrite, but the kernel is a public surface: guard it)
    if base is None:
        return _empty()
    for mn in must_nots:
        docs_n, _ = eval_node(mn, ctx, need_scores=False)
        if docs_n.size and base.size:
            pos = np.searchsorted(docs_n, base)
            pos_c = np.clip(pos, 0, docs_n.size - 1)
            excl = (pos < docs_n.size) & (docs_n[pos_c] == base)
            base, acc = base[~excl], acc[~excl]

    scores = (acc * np.float64(node.boost)).astype(np.float32) if need_scores else np.zeros(base.size, dtype=np.float32)
    return base, scores


def _eval_dismax(node: P.DisjunctionMaxNode, ctx: EvalContext, need_scores: bool) -> tuple[np.ndarray, np.ndarray]:
    evaled = [eval_node(c, ctx, need_scores) for c in node.children]
    docs_all = [d for d, _ in evaled if d.size]
    if not docs_all:
        return _empty()
    dom = _dense_dom(ctx)
    if dom is not None and int(dom[0].size * dom[1]) > max(
            4096, 8 * sum(d.size for d, _ in evaled)):
        dom = None   # same density gate as _dense_union
    if dom is not None:
        # dense max+sum — same domain trick as _dense_union; max is
        # order-free and the sum adds per-doc in the same leg order as
        # the sorted path's np.add.at, so scores are bit-identical
        parts, span, _ = dom
        width = int(parts.size * span)
        keys = [_leg_keys(ctx, c, d, dom) if d.size else None
                for (d, _), c in zip(evaled, node.children)]
        cnt = np.zeros(width, dtype=np.int32)
        for k_ in keys:
            if k_ is not None:
                cnt[k_] += 1
        idx = np.flatnonzero(cnt > 0)
        uniq = (parts[idx // span] << _PART_SHIFT) | (idx % span)
        if not need_scores:
            return uniq, np.zeros(uniq.size, dtype=np.float32)
        mx = np.full(width, -np.inf)
        sm = np.zeros(width, dtype=np.float64)
        for k_, (_, s) in zip(keys, evaled):
            if k_ is None:
                continue
            sf = s.astype(np.float64)
            mx[k_] = np.maximum(mx[k_], sf)  # keys unique within a leg
            sm[k_] += sf
        tie = np.float64(node.tie_breaker)
        total = mx[idx] + tie * (sm[idx] - mx[idx])
        return uniq, (total * np.float64(node.boost)).astype(np.float32)
    cat = np.concatenate(docs_all)
    uniq, inv_full = np.unique(cat, return_inverse=True)
    if not need_scores:
        return uniq, np.zeros(uniq.size, dtype=np.float32)
    mx = np.full(uniq.size, -np.inf)
    sm = np.zeros(uniq.size, dtype=np.float64)
    off = 0
    for d, s in evaled:
        if not d.size:
            continue
        idx = inv_full[off : off + d.size]
        off += d.size
        sf = s.astype(np.float64)
        np.maximum.at(mx, idx, sf)
        np.add.at(sm, idx, sf)
    tie = np.float64(node.tie_breaker)
    total = mx + tie * (sm - mx)
    return uniq, (total * np.float64(node.boost)).astype(np.float32)


def topk_local(docs: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Partition-local top-k with the exact Lucene tie-break
    (score desc, doc_id asc — TopScoreDocCollector.java:90-93)."""
    n = docs.size
    if n == 0:
        return docs, scores
    if n > k:
        # kth-best score via argpartition, keep everything >= it so ties
        # survive into the exact lexsort below
        cut = scores[np.argpartition(-scores, k - 1)[k - 1]]
        keep = np.flatnonzero(scores >= cut)
        docs, scores = docs[keep], scores[keep]
    order = np.lexsort((docs, -scores.astype(np.float64)))
    order = order[:k]
    return docs[order], scores[order]
