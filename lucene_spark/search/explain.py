"""Score explanation — Lucene's Explanation tree restated.

Role analogue: search/Explanation.java + Weight.explain; the test anchor
is CheckHits.checkExplanations (test-framework/.../CheckHits.java:278-303):
the explanation tree must re-derive the EXACT hit score.

Implementation: driver-side recursive walk of the plan tree; per-term
(tf, doclen) for the target doc are decoded from the bucket-pruned
postings rows of the doc's own partition (a few rows read on the driver
— the doc_id's high bits name the partition, so the read is partition-
and bucket-pruned). All arithmetic reuses the exact float32 kernels in
search/similarity.py, so `explanation["value"] == hit.score` bit-for-bit.
"""

from __future__ import annotations

import numpy as np

from lucene_spark.codec.vbyte import delta_decode, vbyte_decode
from lucene_spark.search import plan as P


def _doc_postings(searcher, terms: list[tuple[str, str]], doc_id: int) -> dict[tuple[str, str], tuple[int, int, np.ndarray | None]]:
    """(field, term) -> (tf, doclen, positions|None) for one doc, from the
    pruned driver-side read of the doc's own partition (no Spark job)."""
    rows = searcher.reader.postings_frame(terms, part_id=doc_id >> 40)
    out: dict[tuple[str, str], tuple[int, int, np.ndarray | None]] = {}
    by_term: dict[tuple[str, str], list] = {}
    for r in rows.to_dict("records"):
        by_term.setdefault((r["field"], r["term"]), []).append(r)
    for term, rs in by_term.items():
        rs.sort(key=lambda r: r["slice"])
        docs = np.concatenate([delta_decode(vbyte_decode(r["doc_blob"])) for r in rs])
        tfs = np.concatenate([vbyte_decode(r["tf_blob"]) for r in rs])
        dls = np.concatenate([vbyte_decode(r["dl_blob"]) for r in rs])
        i = np.searchsorted(docs, doc_id)
        if i < docs.size and docs[i] == doc_id:
            pos = None
            if rs[0]["pos_blob"] is not None:
                pos_delta = np.concatenate([vbyte_decode(r["pos_blob"]) for r in rs])
                starts = np.cumsum(tfs) - tfs
                cs = np.cumsum(pos_delta)
                base = cs[starts] - pos_delta[starts]
                flat = cs - np.repeat(base, tfs)
                off = int(starts[i])
                pos = flat[off:off + int(tfs[i])]
            out[term] = (int(tfs[i]), int(dls[i]), pos)
    return out


def _iv_doc_spans(n: P.Node, doc: dict) -> list[tuple[int, int]]:
    """One doc's interval stream for any interval-algebra subtree, over
    the explain doc model ((field, term) → (tf, dl, positions)) — must
    re-derive exactly what kernel._doc_interval_spans computed."""
    from lucene_spark.search.kernel import (_at_least_spans, _filter_negative,
                                            filter_spans, interval_spans,
                                            minimal_spans, slot_terms)

    if isinstance(n, P.IntervalSlotsNode):
        pls = []
        for s in n.slots:
            arrs = [doc[(n.field, t)][2] for t in slot_terms(s)
                    if (n.field, t) in doc and doc[(n.field, t)][2] is not None]
            if not arrs:
                return []
            pl = np.sort(np.concatenate(arrs))
            # same [min_start, max_end) clamp as _doc_slot_pls
            if n.min_start > 0 or n.max_end is not None:
                hi = (n.max_end if n.max_end is not None
                      else np.iinfo(np.int64).max)
                pl = pl[(pl >= n.min_start) & (pl < hi)]
                if pl.size == 0:
                    return []
            pls.append(pl)
        return interval_spans(pls, n.max_gaps, n.ordered)
    if isinstance(n, P.IntervalFilterNode):
        src = _iv_doc_spans(n.source, doc)
        if not src:
            return []
        ref = _iv_doc_spans(n.reference, doc) if n.reference is not None else []
        if not ref:
            return src if _filter_negative(n.op) else []
        return filter_spans(src, ref, n.op, n.ref_extend)
    if isinstance(n, P.IntervalOrNode):
        spans: list[tuple[int, int]] = []
        for s in n.sources:
            spans.extend(_iv_doc_spans(s, doc))
        return minimal_spans(spans)
    if isinstance(n, P.IntervalExtendNode):
        return sorted({(max(0, s - n.before), e + n.after)
                       for s, e in _iv_doc_spans(n.source, doc)})
    if isinstance(n, P.IntervalMaxWidthNode):
        return [(s, e) for s, e in _iv_doc_spans(n.source, doc)
                if e - s + 1 <= n.width]
    if isinstance(n, P.IntervalAtLeastNode):
        return _at_least_spans([_iv_doc_spans(s, doc) for s in n.sources],
                               n.min_match)
    if isinstance(n, P.IntervalSeqNode):
        from lucene_spark.search.kernel import _seq_spans
        return _seq_spans([_iv_doc_spans(s, doc) for s in n.sources],
                          n.max_gaps, n.ordered)
    return []


def explain(searcher, query, doc_id: int) -> dict:
    """Explanation tree {value, description, details[]} for one doc.
    value == the score search() assigns this doc (float32-exact), or a
    non-match node with value 0."""
    node = searcher._plan(query) if isinstance(query, str) else searcher._plan(query)
    terms: set[tuple[str, str]] = set()
    searcher._collect_terms(node, terms)
    stats = searcher.reader.term_stats(sorted(terms))
    weights, syn_w, phrase_w, blend_w = searcher._weights(node, stats)
    avgdl_map = searcher._avgdl_map({f for f, _ in terms})
    doc = _doc_postings(searcher, [t for t in terms if t in stats], doc_id)
    sim_for = searcher._sim_for

    def leaf_term(n: P.TermNode) -> dict:
        if (n.field, n.term) not in doc:
            return {"value": 0.0, "match": False,
                    "description": f"no occurrence of term '{n.term}' in doc {doc_id}"}
        tf, dl, _ = doc[(n.field, n.term)]
        w = weights[((n.field, n.term), n.boost)]
        avgdl = avgdl_map[n.field]
        sim = sim_for(n.field)
        score = float(sim.score(np.array([tf]), np.array([dl]), w, avgdl)[0])
        df, cf = stats[(n.field, n.term)]
        details = [
            {"value": tf, "description": "tf, term frequency in doc"},
            {"value": dl, "description": "dl, exact doc length (lossy-norm-free)"},
            {"value": float(avgdl), "description": "avgdl = sumTotalTermFreq/docCount (per field)"},
            {"value": df, "description": "df, docs containing the term"},
            {"value": searcher._field_N(n.field)[0], "description": "N, per-field docCount"},
            {"value": float(np.asarray(w).ravel()[0]) if not isinstance(w, tuple) else float(w[0]),
             "description": "weight (boost x idf for BM25)"},
        ]
        # similarity-specific sub-explanations (the BasicModel/AfterEffect/
        # Normalization/Distribution breakdown DFRSimilarity.explain and
        # IBSimilarity.explain assemble) — any registered similarity can
        # expose explain_components(tf, dl, weight, avgdl)
        comp = getattr(sim, "explain_components", None)
        if comp is not None:
            details.extend(comp(tf, dl, w, avgdl))
        return {
            "value": score, "match": True,
            "description": f"score(term='{n.term}'), {type(sim).__name__}",
            "details": details,
        }

    def walk(n: P.Node) -> dict:
        if isinstance(n, P.TermNode):
            return leaf_term(n)
        if isinstance(n, P.MatchNoneNode):
            return {"value": 0.0, "match": False, "description": "MatchNoDocs"}
        if isinstance(n, P.MatchAllNode):
            return {"value": float(n.boost), "match": True, "description": "MatchAllDocs"}
        if isinstance(n, (P.TermInSetNode,)):
            hit = any((n.field, t) in doc for t in n.terms)
            return {"value": float(n.boost) if hit else 0.0, "match": hit,
                    "description": f"TermInSet({len(n.terms)} terms), constant score"}
        if isinstance(n, P.ConstantScoreNode):
            child = walk(n.child)
            return {"value": float(n.boost) if child["match"] else 0.0,
                    "match": child["match"],
                    "description": "ConstantScore", "details": [child]}
        if isinstance(n, P.SynonymNode):
            tf_sum = sum(doc[(n.field, t)][0] for t in n.terms if (n.field, t) in doc)
            if tf_sum == 0:
                return {"value": 0.0, "match": False, "description": "Synonym: no term present"}
            dl = next(doc[(n.field, t)][1] for t in n.terms if (n.field, t) in doc)
            w = syn_w[((n.field, n.terms), n.boost)]
            score = float(sim_for(n.field).score(
                np.array([tf_sum]), np.array([dl]), w, avgdl_map[n.field])[0])
            return {"value": score, "match": True,
                    "description": f"Synonym({','.join(n.terms)}): tf summed, df=max",
                    "details": [{"value": tf_sum, "description": "summed tf"}]}
        if isinstance(n, P.PhraseNode):
            if not all((n.field, t) in doc and doc[(n.field, t)][2] is not None
                       for t in n.terms):
                return {"value": 0.0, "match": False, "description": "Phrase: term missing"}
            qpos = list(n.positions) if n.positions else list(range(len(n.terms)))
            if n.slop > 0:
                from lucene_spark.search.kernel import sloppy_phrase_freq

                repeats = len(set(n.terms)) != len(n.terms)
                offsets = qpos if repeats else None
                adj = [np.sort(doc[(n.field, t)][2] - qpos[j])
                       for j, t in enumerate(n.terms)]
                freq = sloppy_phrase_freq(adj, n.slop, offsets=offsets)
            else:
                cur = {p - qpos[0] for p in doc[(n.field, n.terms[0])][2].tolist()}
                for j, t in enumerate(n.terms[1:], start=1):
                    cur &= {p - qpos[j] for p in doc[(n.field, t)][2].tolist()}
                freq = float(len(cur))
            if freq == 0:
                return {"value": 0.0, "match": False, "description": "Phrase: no aligned positions"}
            dl = doc[(n.field, n.terms[0])][1]
            w = phrase_w[((n.field, n.terms), n.boost)]
            score = float(sim_for(n.field).score(
                np.array([freq]), np.array([dl]), w, avgdl_map[n.field])[0])
            return {"value": score, "match": True,
                    "description": f"Phrase(\"{' '.join(n.terms)}\"~{n.slop}): freq={freq:g}, blended idf-sum weight"}
        if isinstance(n, P.IntervalNode):
            if not all((n.field, t) in doc and doc[(n.field, t)][2] is not None
                       for t in n.terms):
                return {"value": 0.0, "match": False, "description": "Interval: term missing"}
            from lucene_spark.search.kernel import interval_match

            pls = [np.sort(doc[(n.field, t)][2]) for t in n.terms]
            hit = interval_match(pls, n.max_gaps, n.ordered)
            kind = "ordered" if n.ordered else "unordered"
            return {"value": float(n.boost) if hit else 0.0, "match": hit,
                    "description": f"Interval({kind}, maxgaps={n.max_gaps}), constant score"}
        if isinstance(n, P.IntervalSlotsNode):
            hit = bool(_iv_doc_spans(n, doc))
            kind = "ordered" if n.ordered else "unordered"
            return {"value": float(n.boost) if hit else 0.0, "match": hit,
                    "description": f"IntervalSlots({kind}, maxgaps={n.max_gaps}), constant score"}
        if isinstance(n, P.SpanNotNode):
            inc_spans = _iv_doc_spans(n.include, doc)
            exc_spans = _iv_doc_spans(n.exclude, doc)
            hit = any(all(not (xs <= e + n.post and xe >= s - n.pre)
                          for xs, xe in exc_spans) for s, e in inc_spans)
            return {"value": float(n.boost) if hit else 0.0, "match": hit,
                    "description": f"SpanNot(pre={n.pre}, post={n.post}), constant score"}
        if isinstance(n, P.IntervalFilterNode):
            hit = bool(_iv_doc_spans(n, doc))
            return {"value": float(n.boost) if hit else 0.0, "match": hit,
                    "description": (f"IntervalFilter({n.op}"
                                    + (f", ref_extend={n.ref_extend}" if n.ref_extend else "")
                                    + "), constant score")}
        if isinstance(n, (P.IntervalOrNode, P.IntervalExtendNode,
                          P.IntervalMaxWidthNode, P.IntervalAtLeastNode,
                          P.IntervalSeqNode)):
            hit = bool(_iv_doc_spans(n, doc))
            kind = ({P.IntervalOrNode: "or", P.IntervalExtendNode: "extend",
                     P.IntervalMaxWidthNode: "maxwidth",
                     P.IntervalAtLeastNode: "atLeast"}.get(
                        type(n))
                    or ("ordered" if n.ordered else "unordered"))
            return {"value": float(n.boost) if hit else 0.0, "match": hit,
                    "description": f"Intervals.{kind}, constant score"}
        if isinstance(n, P.MultiPhraseNode):
            ok = all(any((n.field, t) in doc and doc[(n.field, t)][2] is not None
                         for t in alts) for alts in n.positions)
            if not ok:
                return {"value": 0.0, "match": False,
                        "description": "MultiPhrase: slot unmatched"}
            adj = []
            for j, alts in enumerate(n.positions):
                ps = np.concatenate([doc[(n.field, t)][2] for t in alts
                                     if (n.field, t) in doc and doc[(n.field, t)][2] is not None])
                adj.append(np.unique(ps) - j)
            if n.slop > 0:
                from lucene_spark.search.kernel import sloppy_phrase_freq

                freq = sloppy_phrase_freq(adj, n.slop, offsets=list(range(len(adj))))
            else:
                cur = adj[0]
                for a in adj[1:]:
                    cur = np.intersect1d(cur, a, assume_unique=True)
                freq = float(cur.size)
            if freq == 0:
                return {"value": 0.0, "match": False,
                        "description": "MultiPhrase: no aligned positions"}
            first = next(t for t in n.positions[0] if (n.field, t) in doc)
            dl = doc[(n.field, first)][1]
            w = phrase_w[((n.field, n.positions), n.boost)]
            score = float(sim_for(n.field).score(np.array([freq]), np.array([dl]), w,
                                                 avgdl_map[n.field])[0])
            return {"value": score, "match": True,
                    "description": f"MultiPhrase(~{n.slop}): freq={freq:g}, blended idf-sum weight"}
        if isinstance(n, P.BlendedTermNode):
            legs = blend_w.get(n, ())
            kids = []
            for f, t, w in legs:
                if (f, t) not in doc:
                    continue
                tf, dl, _ = doc[(f, t)]
                sc = float(sim_for(f).score(
                    np.array([tf]), np.array([dl]), w, avgdl_map[f])[0])
                kids.append({"value": sc, "match": True,
                             "description":
                             f"blended term '{t}' (df=max, ttf=Σ)"})
            if not kids:
                return {"value": 0.0, "match": False,
                        "description": "BlendedTerm: no term present"}
            mx = max(k["value"] for k in kids)
            total = mx + n.tie_breaker * (sum(k["value"] for k in kids) - mx)
            return {"value": float(np.float32(total)), "match": True,
                    "description": f"BlendedTerm(tie={n.tie_breaker})",
                    "details": kids}
        if isinstance(n, P.TermAutomatonNode):
            from lucene_spark.search.kernel import (term_automaton_dfa,
                                                    term_automaton_freq)
            tid, step, accept, has_any, gap = term_automaton_dfa(n)
            toks = []
            dl = None
            for t, sym in tid.items():
                ent = doc.get((n.field, t))
                if ent is not None and ent[2] is not None:
                    dl = ent[1]
                    toks.extend((int(p), sym) for p in ent[2])
            toks.sort()
            freq = term_automaton_freq(toks, step, accept, has_any, gap) \
                if toks else 0
            if not freq:
                return {"value": 0.0, "match": False,
                        "description": "TermAutomaton: no accepting path"}
            key = ((n.field, ("\0termauto",) + tuple(sorted(tid))), n.boost)
            w = phrase_w[key]
            score = float(sim_for(n.field).score(
                np.array([float(freq)]), np.array([dl]), w,
                avgdl_map[n.field])[0])
            return {"value": score, "match": True,
                    "description": f"TermAutomaton: freq={freq}, blended idf",
                    "details": [{"value": freq,
                                 "description": "accepting-path count"}]}
        if isinstance(n, P.DisjunctionMaxNode):
            kids = [walk(c) for c in n.children]
            hits = [k for k in kids if k["match"]]
            if not hits:
                return {"value": 0.0, "match": False, "description": "DisMax: no clause", "details": kids}
            mx = max(k["value"] for k in hits)
            total = (mx + n.tie_breaker * (sum(k["value"] for k in hits) - mx)) * n.boost
            return {"value": float(np.float32(total)), "match": True,
                    "description": f"DisMax(tie={n.tie_breaker})", "details": kids}
        if isinstance(n, P.BooleanNode):
            musts = [(c, walk(c.node)) for c in n.clauses if c.occur is P.Occur.MUST]
            shoulds = [(c, walk(c.node)) for c in n.clauses if c.occur is P.Occur.SHOULD]
            filters = [(c, walk(c.node)) for c in n.clauses if c.occur is P.Occur.FILTER]
            nots = [(c, walk(c.node)) for c in n.clauses if c.occur is P.Occur.MUST_NOT]
            kids = [e for _, e in musts + shoulds + filters + nots]
            if n.minimum_should_match > len(shoulds):
                return {"value": 0.0, "match": False,
                        "description": "Boolean: minShouldMatch exceeds optional clauses (MatchNoDocs)",
                        "details": kids}
            if any(not e["match"] for _, e in musts + filters):
                return {"value": 0.0, "match": False,
                        "description": "Boolean: required clause missing", "details": kids}
            if any(e["match"] for _, e in nots):
                return {"value": 0.0, "match": False,
                        "description": "Boolean: prohibited clause matched", "details": kids}
            n_should = sum(1 for _, e in shoulds if e["match"])
            need = n.minimum_should_match or (1 if not musts and not filters else 0)
            if shoulds and n_should < need:
                return {"value": 0.0, "match": False,
                        "description": "Boolean: minimumShouldMatch unmet", "details": kids}
            acc = sum(e["value"] for _, e in musts) + \
                sum(e["value"] for _, e in shoulds if e["match"])
            val = float(np.float32(np.float64(acc) * np.float64(n.boost)))
            return {"value": val, "match": True,
                    "description": "Boolean: sum of matching scoring clauses",
                    "details": kids}
        raise TypeError(n)

    return walk(node)
