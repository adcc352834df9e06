"""Physical-plan audit: capture .explain('formatted') for the headline
plans and assert the properties that matter at 100 TB:

- postings scan: partition pruning on `bucket` + PushedFilters on `term`
- corpus scan: column pruning (ReadSchema ⊂ full schema)
- small-dim joins: BroadcastHashJoin, not SortMergeJoin
- aggregations: partial_ before final (map-side combine)
- relational plans: WholeStageCodegen spans

Writes docs/PLANS.md with the captured plans + a PASS/FAIL property table.
Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def stable(plan: str) -> str:
    """`plan` with the per-session ids Spark prints (expression ids such
    as #215 and #215L, exchange plan_id=N, RDD[N]) normalised, so a rerun
    over unchanged plans writes an unchanged report."""
    for pat, rep in ((r"#\d+", "#N"), (r"plan_id=\d+", "plan_id=N"),
                     (r"RDD\[\d+\]", "RDD[N]")):
        plan = re.sub(pat, rep, plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as gate
    from lucene_spark.session import get_spark

    spark = get_spark("explain_audit")
    reader = gate._reader(spark, sf_dir)
    searcher = gate._searcher(spark, sf_dir)

    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []

    # 1. bucket-pruned postings scan
    post = reader.postings_for_terms(["merge", "scan"])
    p = plan_of(post)
    sections.append((
        "postings scan (2 query terms)", p,
        [
            ("partition pruning on bucket (PartitionFilters non-empty)",
             "bucket" in p and ("PartitionFilters: [" in p and "bucket" in p.split("PartitionFilters:")[1][:200]),
            ),
            ("term filter pushed to parquet (PushedFilters In(term, ...))",
             "PushedFilters:" in p and "term" in p.split("PushedFilters:")[1][:200]),
        ],
    ))

    # 2. search plan: per-partition kernel + tiny global top-k.
    # The default searcher serves selective queries DRIVER-SIDE (cost-based
    # local execution, IndexOrDocValuesQuery analogue) — that plan is a
    # LocalTableScan by design. Audit BOTH: the cost-based choice fires for
    # a selective query, and the distributed plan (local path disabled) has
    # the pruned-scan shape that must hold for hot terms at 100 TB.
    top_default = searcher.search("merge OR scan", k=10)
    p_local = plan_of(top_default)
    dist = type(searcher)(reader)
    dist.local_topk_max_postings = 0
    top = dist.search("merge OR scan", k=10)
    p = plan_of(top)
    sections.append((
        "BM25 top-k (engine)", p,
        [
            ("cost-based local execution fires for selective query",
             "LocalTableScan" in p_local or "ResultQueryStage" not in p_local
             and "Scan parquet" not in p_local),
            ("global reduce is TakeOrderedAndProject (no full sort)",
             "TakeOrderedAndProject" in p),
            ("postings scan pruned (PushedFilters present)",
             "PushedFilters:" in p and any(
                 tok in p.split("PushedFilters:", 1)[1][:300]
                 for tok in ("In(term", "EqualTo(term"))),
        ],
    ))

    # 2b. hydrate: the ≤k-row top-k side must be the broadcast build side —
    # broadcasting the per-document docstats sidecar would OOM at scale
    p = plan_of(searcher.hydrate(top_default))
    sections.append((
        "hydrate (stored-fields join)", p,
        [
            ("BroadcastHashJoin with the top-k side as build side (BuildRight)",
             "BroadcastHashJoin" in p and "BuildRight" in p),
            ("docstats sidecar NOT broadcast (no parquet scan under the exchange)",
             "BroadcastExchange" in p.split("\n\n", 1)[0] and "parquet" not in
             p.split("\n\n", 1)[0].split("BroadcastExchange", 1)[1]),
        ],
    ))

    # 3. declarative BM25 (sqlbm25): broadcasts + partial aggs
    from lucene_spark.search.sqlbm25 import bm25_topk_sql

    docs = gate._t(spark, sf_dir, "documents")
    p = plan_of(bm25_topk_sql(docs, "doc_id", "text", ["scan", "fast"], k=10))
    sections.append((
        "declarative BM25 (Catalyst plan)", p,
        [
            ("query-term df + collection stats broadcast (BroadcastHashJoin)",
             "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p),
            ("map-side partial aggregation (partial_count/partial_sum)",
             "partial_" in p),
            ("column pruning: scan reads only doc_id,text",
             "ReadSchema: struct<doc_id:bigint,text:string>" in p),
        ],
    ))

    # 4. relational join: broadcast of small dims
    o = gate._t(spark, sf_dir, "orders")
    c = gate._t(spark, sf_dir, "customer")
    n = gate._t(spark, sf_dir, "nation")
    j = (o.join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .groupBy("n_name").agg(F.sum("o_totalprice").alias("rev")))
    j.collect()      # run so AQE finalizes and codegen markers appear
    p = plan_of(j)
    sections.append((
        "3-way join + agg", p,
        [
            ("nation broadcast (BroadcastHashJoin)", "BroadcastHashJoin" in p),
            ("partial aggregation before shuffle", "partial_sum" in p),
            # formatted explain marks codegen'd operators with a '* ' prefix
            ("whole-stage codegen spans", "WholeStageCodegen" in p or "\n* " in p or "+- * " in p),
            ("orders scan prunes columns",
             "ReadSchema: struct<o_custkey:bigint,o_totalprice:double>" in p),
        ],
    ))

    # 5. filter pushdown on corpus scan
    li = gate._t(spark, sf_dir, "lineitem")
    p = plan_of(li.filter(F.col("l_shipdate") > "1995-01-01").select("l_orderkey", "l_quantity"))
    sections.append((
        "filtered lineitem scan", p,
        [
            ("predicate pushed (PushedFilters IsNotNull/GreaterThan)",
             "PushedFilters:" in p and "GreaterThan(l_shipdate" in p),
            ("column pruning to 3 cols", "ReadSchema: struct<l_orderkey" in p),
        ],
    ))

    # 6. multi-field postings scan: field AND term both pushed
    mf = gate._reader_mf(spark, sf_dir)
    p = plan_of(mf.postings_for_terms([("text", "table"), ("lang", "en")]))
    pushed = p.split("PushedFilters:", 1)[1][:400] if "PushedFilters:" in p else ""
    sections.append((
        "multi-field postings scan", p,
        [
            ("bucket partition pruning", "PartitionFilters:" in p and "bucket" in p),
            ("term filter pushed", "term" in pushed),
            ("field filter pushed", "field" in pushed),
        ],
    ))

    # 7. percolator: ONE broadcast join + aggregation per batch
    from lucene_spark.streaming.monitor import percolate

    docs = gate._t(spark, sf_dir, "documents")
    p = plan_of(percolate(spark, [("q1", "table AND hash"), ("q2", "scan")],
                          docs, "doc_id", "text"))
    sections.append((
        "percolator match plan", p,
        [
            ("query-term table broadcast (BroadcastHashJoin)", "BroadcastHashJoin" in p),
            ("partial aggregation of clause counts", "partial_" in p),
        ],
    ))

    # 8. naive-bayes classifier: model tables broadcast, partial aggs
    from lucene_spark.pipeline.classify import predict_naive_bayes, train_naive_bayes

    model = train_naive_bayes(docs, "text", "lang", "doc_id")
    p = plan_of(predict_naive_bayes(model, docs, "text", "doc_id"))
    sections.append((
        "naive-bayes predict plan", p,
        [
            ("cond/model tables broadcast", "BroadcastHashJoin" in p
             or "BroadcastNestedLoopJoin" in p),
            ("partial aggregation of log-liks", "partial_sum" in p),
        ],
    ))

    # 9. query-time join: from-side agg broadcast onto the to side
    from lucene_spark.search.joins import join_query

    p = plan_of(join_query(searcher, "merge", "source", "source",
                           score_mode="max"))
    sections.append((
        "query-time join (JoinUtil role)", p,
        [
            ("join-value aggregate broadcast (BroadcastHashJoin)",
             "BroadcastHashJoin" in p),
            ("map-side partial max of from-side scores", "partial_max" in p),
        ],
    ))

    # 10. LTR rerank: features broadcast; window confined to the
    # reRankDocs slice (one tiny single-partition sort, not a corpus sort)
    from lucene_spark.search.ltr import LinearModel, rerank

    feats = gate._t(spark, sf_dir, "documents").select(
        "doc_id", F.log(F.lit(1.0) + F.col("n_chars")).alias("logchars"))
    hits = searcher.matches("scan")
    p = plan_of(rerank(hits, feats, LinearModel({"score": 1.0, "logchars": 0.5}),
                       k=10, rerank_docs=50))
    sections.append((
        "LTR rerank window", p,
        [
            ("feature table broadcast", "BroadcastHashJoin" in p),
            ("model is a codegen'd expression (no python UDF)",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
        ],
    ))

    # 11. doc-values overlay: update stack broadcast over the base
    from lucene_spark.index.docvalues import update_doc_values

    import shutil as _sh
    _sh.rmtree(os.path.join(reader.index_dir, "dv_updates", "field=__audit"),
               ignore_errors=True)
    update_doc_values(spark, reader.index_dir, "__audit",
                      reader.docstats().select("doc_id").limit(5)
                      .withColumn("value", F.lit(1.0)))
    p = plan_of(reader.doc_values("__audit",
                                  base=reader.docstats().select(
                                      "doc_id", F.col("n_chars").cast("double")
                                      .alias("__audit"))))
    sections.append((
        "doc-values update overlay", p,
        [
            ("update stack broadcast (BroadcastHashJoin)",
             "BroadcastHashJoin" in p),
            ("newest-gen-wins agg partial (partial_max_by)",
             "partial_max_by" in p or "max_by" in p),
        ],
    ))

    # PointRangeQuery FILTER (DocValuesRangeNode lowering): the numeric
    # range must reach the docstats parquet scan as a pushed filter —
    # row-group min/max skipping is the BKD-tree role.
    from lucene_spark.search import plan as P

    dv_node = P.BooleanNode(clauses=(
        P.Clause(P.Occur.MUST, P.TermNode(term="scan", field="text")),
        P.Clause(P.Occur.FILTER,
                 P.DocValuesRangeNode(column="n_chars", lower=200, upper=600)),
    ))
    p = plan_of(searcher.matches(dv_node, with_scores=False))
    sections.append((
        "point-range FILTER (doc-values lowering)", p,
        [
            ("range predicate pushed to docstats scan",
             ("PushedFilters" in p and "n_chars" in p
              and ("GreaterThanOrEqual(n_chars,200" in p.replace(" ", "")
                   or "n_chars" in p.split("PushedFilters", 1)[1][:400]))),
            ("semi-join, not inner materialization", "LeftSemi" in p),
        ],
    ))

    # Graph BFS hop (gatherNodes/shortestPath): the per-hop edges⋈frontier
    # join and the visited anti-join are the whole traversal cost — they
    # must be hash joins with map-side partial aggregation on the distinct,
    # and the tiny frontier side must NOT force a sort-merge join.
    edges = gate._t(spark, sf_dir, "orders").select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("dst"))
    roots = gate._t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") == 3).select(
        F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("node"))
    from lucene_spark.relational.graph import Traversal

    t = Traversal(roots).gather(edges, "src", "dst")
    p = plan_of(t._levels[-1])
    t.close()
    sections.append((
        "graph BFS hop (gatherNodes/shortestPath frontier join)", p,
        [
            ("hop join + visited anti-join are hash joins (no cartesian)",
             "Cartesian" not in p and ("HashJoin" in p or "hash" in p)),
            ("anti-join on visited present", "LeftAnti" in p),
            ("distinct has map-side partial (HashAggregate before exchange)",
             "HashAggregate" in p),
        ],
    ))

    # Domain mixing: the per-domain plan table (targets ⋈ counts) must be
    # broadcast to the corpus side, never the reverse; the epoch explode
    # must be a narrow Generate, not a shuffle.
    from lucene_spark.pipeline.mixing import mix_domains

    docs = gate._t(spark, sf_dir, "documents")
    p = plan_of(mix_domains(
        docs, "source", {"src1": 0.5, "src2": 0.3, "src3": 0.2}, total=100))
    sections.append((
        "domain mixing (training-mix rebalance)", p,
        [
            ("plan table broadcast (BroadcastHashJoin)",
             "BroadcastHashJoin" in p),
            ("epoch explode is a narrow Generate", "Generate" in p),
            ("exactly one wide stage: the domain-keyed window",
             "Window" in p),
        ],
    ))

    # URL canonicalization: pure expression chain — the canonical key must
    # be computed inside the scan's project (whole-stage codegen), with no
    # python UDF and no shuffle before the per-key window.
    from lucene_spark.pipeline.urlnorm import canonical_url

    docs_url = docs.withColumn(
        "url", F.concat(F.lit("http://h.io/p/"),
                        (F.col("doc_id") % 7).cast("string")))
    p = plan_of(docs_url.select(canonical_url(F.col("url")).alias("c")))
    sections.append((
        "URL canonicalization (expression chain)", p,
        [
            ("no python UDF (stays JVM-side)",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
            # the lambda-bearing final Project is interpreted (Spark never
            # codegens lambdafunctions) — scan+derivation still codegen,
            # and the whole chain is one narrow stage
            ("narrow single stage, codegen through the scan (no exchange)",
             "Exchange" not in p and "codegen id" in p),
        ],
    ))

    # Sequence packing: the prefix sum must be DISTRIBUTED — every Window
    # in the plan partitions by the id-quantile bucket (a global
    # Window.orderBy with an empty partition spec would single-thread the
    # whole corpus); the bucket-base join must broadcast the tiny side;
    # block spans are a narrow Generate.
    from lucene_spark.pipeline.pack import pack_sequences

    p = plan_of(pack_sequences(docs, "text", "doc_id", block_size=32,
                               buckets=8))
    # first windowspecdefinition arg = first partition column (with no
    # partitionBy the order column appears there instead)
    win_specs = re.findall(
        r"windowspecdefinition\(([A-Za-z_][A-Za-z0-9_]*)#", p)
    sections.append((
        "sequence packing (distributed prefix sum)", p,
        [
            ("every window partitions by the bucket (no global "
             "single-partition window)",
             len(win_specs) > 0 and all(s == "__bk" for s in win_specs)),
            ("bucket bases broadcast (BroadcastHashJoin)",
             "BroadcastHashJoin" in p),
            ("block spans are a narrow Generate (explode after the join)",
             "Generate" in p),
            ("no python UDF (stays JVM-side)",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
        ],
    ))

    # DSIR importance weights: the model fit is two map-side-combined
    # groupBys + one outer join; scoring is an explode + key join + one
    # re-aggregation — no Python anywhere, partial aggs before finals.
    from lucene_spark.pipeline.dsir import (
        fit_importance_model, importance_weights)

    target = docs.limit(50).select("text")
    lr, unseen = fit_importance_model(target, docs, "text", ns=(1, 2))
    p = plan_of(importance_weights(docs, "text", "doc_id", lr, unseen))
    # The scale claim is "a web-scale vocab is never FORCED to broadcast":
    # at sf0.01 AQE rightly broadcasts the tiny feature table, so the
    # falsifiable evidence is the plan under autoBroadcastJoinThreshold=-1
    # — an explicit F.broadcast() hint would override the threshold and
    # still show BroadcastHashJoin; hint-free code degrades to a shuffle
    # join, which is what a 100 TB vocab requires.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p_nobc = plan_of(importance_weights(docs, "text", "doc_id", lr, unseen))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    sections.append((
        "DSIR importance weights", p,
        [
            ("no python UDF (stays JVM-side)",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
            ("map-side combine before the final agg (partial_)",
             "partial_" in p),
            ("feature join not hint-forced to broadcast (with auto-"
             "broadcast disabled the plan is a shuffle join, so a "
             "web-scale vocab table degrades gracefully)",
             ("SortMergeJoin" in p_nobc or "ShuffledHashJoin" in p_nobc)
             and "BroadcastHashJoin" not in p_nobc),
        ],
    ))

    # BPE pair counting: one iteration's pair-count aggregation runs over
    # the word-frequency table (NOT the corpus — exactly one scan of the
    # docs feeds the word table) with map-side partial aggregation.
    from lucene_spark.pipeline.bpe import _words

    words = _words(docs, "text")
    syms = words.withColumn(
        "syms", F.concat(F.split("word", ""), F.array(F.lit("</w>"))))
    pairs = (
        syms.withColumn("a", F.expr("slice(syms, 1, size(syms)-1)"))
        .withColumn("b", F.expr("slice(syms, 2, size(syms)-1)"))
        .select("cnt", F.explode(F.arrays_zip("a", "b")).alias("p"))
        .select("cnt", F.col("p.a").alias("l"), F.col("p.b").alias("r"))
        .groupBy("l", "r").agg(F.sum("cnt").alias("c"))
    )
    p = plan_of(pairs)
    sections.append((
        "BPE pair counting (tokenizer training iteration)", p,
        [
            ("no python UDF in the counting plan",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
            ("map-side combine on both aggs (partial_)", "partial_" in p),
            ("corpus scanned once (a single parquet scan node feeds the "
             "word table)",
             sum(1 for ln in p.splitlines()
                 if ln.strip().startswith("(") and "Scan parquet" in ln) == 1),
        ],
    ))

    # PQ encode: generated argmin expressions are a NARROW projection —
    # no shuffle, no Python; the quantized scan carries only codes.
    from lucene_spark.pipeline.similarity import pq_encode

    emb = gate._t(spark, sf_dir, "embeddings")
    books = [[[0.0] * 16 for _ in range(4)] for _ in range(4)]
    p = plan_of(pq_encode(emb, "embedding", books))
    sections.append((
        "PQ encode (codegen argmin projection)", p,
        [
            ("no python UDF (stays JVM-side)",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
            ("narrow (no Exchange): encoding never shuffles",
             "Exchange" not in p),
        ],
    ))

    # Interval facets: EVERY interval is a conditional sum inside ONE
    # aggregate — one scan, map-side combined, no per-interval jobs.
    from lucene_spark.relational.facets import interval_facets

    docs = gate._t(spark, sf_dir, "documents")
    p = plan_of(interval_facets(
        docs, "n_chars", ["[0,500)", "[500,1500]", "(1500,*]"]))
    sections.append((
        "Interval facets (single-pass conditional sums)", p,
        [
            ("no python UDF",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
            # the formatted plan prints each node in the tree AND in the
            # detail list — count the tree section only
            ("one aggregation pass (<=2 HashAggregate: partial+final)",
             p.split("\n\n", 1)[0].count("HashAggregate") <= 2),
            ("column pruned to the faceted field",
             "ReadSchema" in p and "n_chars" in p and "text" not in
             p.split("ReadSchema", 1)[1].split("\n", 1)[0]),
        ],
    ))

    # SemDeDup: cluster assignment is a NARROW JVM expression (no UDF,
    # no shuffle before the per-cluster grouping); the only Exchange is
    # the groupBy(cluster) that feeds the per-cluster GEMM.
    from lucene_spark.pipeline.semdedup import semdedup

    emb = gate._t(spark, sf_dir, "embeddings")
    cents = [[0.0] * 64, [1.0] * 64]
    p = plan_of(semdedup(emb, "embedding", "vec_id", centroids=cents))
    sections.append((
        "SemDeDup (narrow assignment, one cluster shuffle)", p,
        [
            ("assignment stays JVM-side (python only in the per-cluster "
             "GEMM stage)",
             "BatchEvalPython" not in p),
            ("exactly one Exchange (the groupBy(cluster))",
             p.split("\n\n", 1)[0].count("Exchange") == 1),
        ],
    ))

    # CCNet curation: langid + LM scoring stay JVM-side; the tiny
    # per-language tercile table is BROADCAST back (never a shuffle of
    # the scored rows against an aggregate).
    from lucene_spark.pipeline.ccnet import ccnet_curate

    docs = gate._t(spark, sf_dir, "documents")
    p = plan_of(ccnet_curate(docs, "text", "doc_id"))
    sections.append((
        "CCNet curation (JVM stages, broadcast terciles)", p,
        [
            ("no python UDF anywhere in the composition",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
            ("tercile thresholds broadcast (BroadcastHashJoin present)",
             "BroadcastHashJoin" in p),
        ],
    ))

    # Date-gap range facets: every calendar bucket + other=all counts in
    # ONE map-side-combinable aggregate over a column-pruned scan (the
    # IntervalFacets conditional-count shape, applied to dates).
    from lucene_spark.relational.facets import date_range_facets

    ev = gate._t(spark, sf_dir, "events")
    p = plan_of(date_range_facets(ev, "ts", start="2024-01-03T00:00:00Z",
                                  end="2024-01-27T00:00:00Z", gap="+5DAYS",
                                  other=True))
    sections.append((
        "date range facets (one conditional-count aggregate)", p,
        [
            ("single partial+final aggregate pass",
             p.split("\n\n", 1)[0].count("HashAggregate") <= 2),
            ("scan pruned to the ts column",
             "ReadSchema" in p and "ts" in p and "props" not in
             p.split("ReadSchema", 1)[1].split("\n", 1)[0]),
        ],
    ))

    # ord()/rord(): the window runs over the DISTINCT value list only
    # (the top-level ordinal map), and the dictionary joins back via
    # broadcast for small cardinalities (AQE picks it at runtime).
    from lucene_spark.relational.functions import with_ord

    docs_src = gate._t(spark, sf_dir, "documents").select("doc_id", "source")
    p = plan_of(with_ord(docs_src, "source", rord_out="rord"))
    sections.append((
        "ord()/rord() (distinct-dictionary window, no global window on rows)", p,
        [
            ("window input is the aggregated DISTINCT list "
             "(HashAggregate feeds Window)",
             "Window" in p and "HashAggregate" in p),
            ("exactly ONE Window node — over the dictionary, never a "
             "per-row global Window",
             p.split("\n\n", 1)[0].count("Window (") == 1),
        ],
    ))

    # term-stat function values: ONE bucket-pruned postings scan, decode
    # in mapInPandas, a single join against docstats; constants ride as
    # literals (no extra jobs).
    from lucene_spark.search.functionvalues import term_function_values

    p = plan_of(term_function_values(reader, "merge"))
    sections.append((
        "term-stat function values (pruned scan + one join)", p,
        [
            ("postings term filter pushed to parquet",
             "PushedFilters:" in p and "term" in
             p.split("PushedFilters:")[1][:200]),
            ("exactly one join (docstats left join)",
             p.split("\n\n", 1)[0].count("Join") == 1),
        ],
    ))

    # completion suggester: predicate + literal boost table + ordered
    # limit — Spark plans the top-n as TakeOrderedAndProject (no global
    # sort materialization), and no python appears anywhere.
    from lucene_spark.search.completion import complete

    sugg = docs.groupBy(
        F.concat_ws("_", "source", "lang").alias("suggestion"),
        F.col("lang")).agg(F.sum("n_chars").alias("weight")).select(
        "suggestion", "weight", F.array("lang").alias("contexts"))
    p = plan_of(complete(sugg, "src1", contexts={"en": 2.0, "zh": 1.5}))
    sections.append((
        "completion suggester (JVM boost table, top-n without global sort)", p,
        [
            ("no python UDF (transform/array_max stay JVM-side)",
             "BatchEvalPython" not in p and "ArrowEvalPython" not in p),
            ("top-n is TakeOrderedAndProject",
             "TakeOrderedAndProject" in p),
        ],
    ))

    # TPC-H Q5 star join: all three dimension sides broadcast; the only
    # shuffle join is lineitem ⋈ orders (fact-fact).
    p = plan_of(gate.rel_q5_local(spark, sf_dir))
    sections.append((
        "TPC-H Q5 star join (dims broadcast, one shuffle join)", p,
        [
            ("three BroadcastHashJoins (customer/supplier/nation)",
             p.split("\n\n", 1)[0].count("BroadcastHashJoin") >= 3),
            ("at most one SortMergeJoin/ShuffledHashJoin (the fact-fact "
             "lineitem-orders join)",
             (p.split("\n\n", 1)[0].count("SortMergeJoin")
              + p.split("\n\n", 1)[0].count("ShuffledHashJoin")) <= 1),
        ],
    ))

    # TPC-H Q3: selective filters pushed into every parquet scan
    p = plan_of(gate.rel_q3_shipping(spark, sf_dir))
    sections.append((
        "TPC-H Q3 (filters pushed to every side's scan)", p,
        [
            ("mktsegment equality pushed to the customer scan "
             "(inside a PushedFilters bracket)",
             any("c_mktsegment" in seg.split("]", 1)[0]
                 for seg in p.split("PushedFilters: [")[1:])),
            ("date filters pushed (shipdate and orderdate appear inside "
             "PushedFilters brackets)",
             any("l_shipdate" in seg.split("]", 1)[0]
                 for seg in p.split("PushedFilters: [")[1:])
             and any("o_orderdate" in seg.split("]", 1)[0]
                     for seg in p.split("PushedFilters: [")[1:])),
        ],
    ))

    # N. round-4: vector field KNN LAZY fallback — the corpus is never
    # shuffled (one mapInPandas over the vector sidecar, shard top-k,
    # tiny global reduce), and the scan prunes to (doc_id, vector).
    # Since r5 the gate index carries a graph sidecar, so the lazy path
    # is forced here with non-sidecar graph params (m_neighbors=9);
    # the stored-graph serving plan has its own section below.
    vr, vs = gate._vec_searcher(spark, sf_dir)
    qv = list(gate._t(spark, sf_dir, "embeddings")
              .filter(F.col("vec_id") == 0).select("embedding").head()[0])
    from lucene_spark.search.knnfield import knn_field_topk, knn_rescore

    kdf = knn_field_topk(vs, "embedding", qv, k=10, m_neighbors=9)
    p = plan_of(kdf)
    sections.append((
        "vector-field KNN (lazy per-partition NSW fallback)", p,
        [
            ("no shuffle before the shard search (single Exchange only "
             "for the global top-k reduce)",
             p.count("Exchange") <= 1),
            ("global reduce is TakeOrderedAndProject (k rows, no full sort)",
             "TakeOrderedAndProject" in p),
            ("sidecar scan prunes to doc_id + vector column (ReadSchema)",
             "ReadSchema" in p and "embedding" in p
             and "text" not in p.split("ReadSchema")[1][:400]),
        ],
    ))

    # N+1. hybrid rescore: the k-row candidate side must be the broadcast
    # build side (the hydrate() direction), never the vector sidecar
    rdf = knn_rescore(vs, "merge", "embedding", qv, k=5, n_candidates=20)
    p = plan_of(rdf)
    sections.append((
        "hybrid BM25+vector rescore", p,
        [
            ("candidates broadcast as the build side "
             "(BroadcastHashJoin BuildRight, no SortMergeJoin)",
             "BroadcastHashJoin" in p and "BuildRight" in p
             and "SortMergeJoin" not in p),
        ],
    ))

    # N+2. tagger: ONE narrow pass — no Exchange, no join; corpus scan
    # prunes to (doc_id, text)
    from lucene_spark.search.tagger import tag_documents

    tdf = tag_documents(gate._t(spark, sf_dir, "documents"), "text",
                        "doc_id", [("e", "table hash"), ("m", "merge")])
    p = plan_of(tdf)
    sections.append((
        "dictionary tagger (one mapInPandas pass)", p,
        [
            ("no shuffle and no join (zero Exchange/Join nodes)",
             "Exchange" not in p and "Join" not in p),
            ("corpus scan prunes to doc_id + text (ReadSchema)",
             "ReadSchema" in p and "lang" not in p.split("ReadSchema")[1][:400]),
        ],
    ))

    # N+3. indexed shapes: the containment join must be a grid-cell
    # equi-join — never a cartesian/broadcast-nested-loop over
    # points × triangles
    from lucene_spark.relational.shapes import point_in_shapes, shape_triangles

    shp = spark.createDataFrame(
        [(1, [[0.0, 0.0], [45.0, 10.0], [15.0, 20.0], [45.0, 40.0],
              [0.0, 30.0]])],
        "sid long, ring array<array<double>>")
    tri = shape_triangles(shp, "sid", "ring")
    pts = gate._geo_points(spark, sf_dir)
    sdf = point_in_shapes(pts, "lat", "lon", "c_custkey", tri)
    p = plan_of(sdf)
    sections.append((
        "indexed shapes containment (grid-cell equi-join)", p,
        [
            ("no cartesian / nested-loop join (grid-cell keys make it a "
             "hash-joinable equi-join)",
             "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
            ("customer scan prunes to the point columns (ReadSchema has "
             "no name/address cols)",
             "ReadSchema" in p
             and "c_name" not in p.split("ReadSchema")[1][:500]),
        ],
    ))

    # ---- round 5: shape-vs-shape relate (broadcast query, no corpus
    # shuffle beyond the per-shape bool aggregation) ----
    from lucene_spark.relational.shapes import (relate_polygon,
                                                shape_triangles)

    sq = gate._t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("sid"),
        F.array(F.array(F.lit(0.0), F.lit(0.0)),
                F.array(F.lit(0.0), F.lit(1.0)),
                F.array(F.lit(1.0), F.lit(1.0)),
                F.array(F.lit(1.0), F.lit(0.0))).alias("ring"))
    tris = shape_triangles(sq, "sid", "ring")
    rel = relate_polygon(tris, gate._RELATE_QUERY, "within")
    p = plan_of(rel)
    sections.append((
        "shape-vs-shape relate (broadcast query + triangle kernel)", p,
        [
            ("no join at all: the query rides the task closure "
             "(broadcast), the only shuffle is the per-shape bool "
             "aggregate",
             "Join" not in p and "CartesianProduct" not in p),
            ("per-shape aggregation is partial (map-side combine "
             "before the exchange)",
             "partial_min" in p or "partial_max" in p),
            ("relate kernel is Arrow-vectorized (no row-at-a-time "
             "python)", "BatchEvalPython" not in p),
        ],
    ))

    # ---- round 5: KNN field serving from the persisted graph sidecar ----
    p = plan_of(knn_field_topk(vs, "embedding", qv, k=10,
                               strict_sidecar=True))
    sections.append((
        "KNN field top-k (stored-graph sidecar serving)", p,
        [
            ("global reduce is TakeOrderedAndProject over shard "
             "candidates (no full sort, no corpus scan in the plan — "
             "tasks do targeted per-file pyarrow reads)",
             "TakeOrderedAndProject" in p and "docstats" not in p),
            ("no join / corpus shuffle on the query path",
             "Join" not in p and "CartesianProduct" not in p),
        ],
    ))

    # ---- round 5: collation keys are one vectorized kernel per batch ----
    from lucene_spark.analysis.collation import collation_key_udf

    dw = gate._t(spark, sf_dir, "documents").select(
        F.col("lang").alias("w")).distinct()
    p = plan_of(dw.select("w", collation_key_udf("da")("w").alias("k")))
    sections.append((
        "collation key projection (numpy-LUT batch kernel)", p,
        [
            ("Arrow-vectorized UDF (ArrowEvalPython, not row-at-a-time "
             "BatchEvalPython)",
             "ArrowEvalPython" in p and "BatchEvalPython" not in p),
            ("scan prunes to the keyed column only",
             "ReadSchema" in p and "text" not in
             p.split("ReadSchema")[1][:300]),
        ],
    ))

    # ---- report ----
    lines = ["# Physical plan audit", "",
             f"Generated by `scripts/explain_audit.py` at `{sf_dir}`.",
             "Properties checked are the ones that decide 100 TB viability:",
             "partition pruning, predicate/column pushdown, broadcast joins,",
             "map-side partial aggregation, whole-stage codegen.", ""]
    ok_all = True
    lines.append("| plan | property | result |")
    lines.append("|---|---|---|")
    for name, _, props in sections:
        for prop, ok in props:
            ok_all &= ok
            lines.append(f"| {name} | {prop} | {'PASS' if ok else 'FAIL'} |")
    lines.append("")
    for name, p, _ in sections:
        lines.append(f"## {name}\n\n```\n{stable(p.strip())}\n```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as fh:
        fh.write("\n".join(lines))
    print("\n".join(l for l in lines if l.startswith("|")))
    print("ALL PASS" if ok_all else "SOME FAIL — see docs/PLANS.md")


if __name__ == "__main__":
    main()
