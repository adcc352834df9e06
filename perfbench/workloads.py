"""The workloads and the per-layer probes.

Every workload drives the engine through its public API only and
reports the same five end-to-end metrics, each read against the
workload's own operations (see OPS):

  setup_s          median of the workload's repeated set-up unit
  op_p50_ms        median latency of the foreground operation
  aux_p50_ms       median latency of the secondary operation
  throughput_per_s work units completed per second of operation wall
  index_size_ratio on-disk index bytes / input content bytes

The workload-specific figures (build scaling, p90s, cold/warm qps)
are printed by name and kept in the run record.

Per-layer metrics come from the traced run. Where the workload itself
exercises a layer, the number is read from its own traced operations;
otherwise a probe runs the layer's public calls against the workload's
index after the measured window, so every workload reports every layer.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

from perfbench.checker import Checker, Oracle, rows_of_batch, rows_of_search
from perfbench.gen import QueryGen, zipf_batch
from perfbench.harness import (MASTER_CORES, cpu_ticks, dir_bytes,
                               engine_settings, median, percentile,
                               start_spark, stop_spark, Tracer)

K = 10
SETUP_REPS = 3
N_SERVE = 3000          # serving corpus
N_BUILD = 2000          # bulk-build corpus
BATCH_SIZES = (4000, 8000, 12000, 6000)   # batch-phase instances per round
BATCH_POOL = 400        # distinct strings drawn per batch round
WARM_DOCS = 300         # untimed warm mini-build
WARM_QUERY = "index OR writer"   # first query of a freshly opened searcher
CORPUS_PARTS = 4
ORACLE_SAMPLE = 16      # results per phase scored by the oracle
FRESH_SHARE = 0.6       # share of the serve window given to the fresh phase

OPS = {
    "build": ("bulk IndexBuilder.build at local[4]",
              "bulk IndexBuilder.build at local[1]",
              "docs indexed per second at local[4]"),
    "serve": ("fresh phase: search(q, k=10).collect()",
              "fresh phase: search_many(1-8 queries).collect()",
              "batch phase: query instances per second over cold and warm passes"),
}


def index_config():
    from lucene_spark.index import IndexConfig

    return IndexConfig(partitions=4, num_buckets=8, termdict_partitions=2,
                       analyzer="code")


class Run:
    """State of one benchmark invocation (or of one build level)."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, scale: float = 1.0):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.scale = scale
        self.spark = None
        self.tracer = Tracer(None, False)
        self.details: dict[str, tuple[float, str]] = {}
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.record: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": trace,
                             "nproc": os.cpu_count(), "master": None,
                             "env_s": {}}
        self._ticks = cpu_ticks()

    def n(self, base: int) -> int:
        return max(40, int(base * self.scale))

    def start(self, cores: int = MASTER_CORES) -> None:
        t0 = time.perf_counter()
        self.spark = start_spark(f"perfbench-{self.workload}", cores, self.work)
        self.tracer = Tracer(self.spark, self.trace)
        self.record["master"] = f"local[{cores}]"
        self.record["env_s"]["spark_start"] = time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        t, s = cpu_ticks()
        self.record["steal_frac"] = (s - self._ticks[1]) / max(1, t - self._ticks[0])

    def op(self, fn):
        """Run one foreground operation; returns (result, wall seconds)
        or (None, None) when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # counted, reported, the run goes on
            self.failed += 1
            self.checks.append({"name": "op", "ok": False, "info": repr(e)[:300]})
            return None, None
        return out, time.perf_counter() - t0

    def check(self, name: str, ok: bool, info=None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks.append({"name": name, "ok": bool(ok), "info": info})

    def checked_results(self, checker: Checker) -> None:
        """Fold the oracle comparisons into attempted/failed."""
        self.attempted += checker.checked
        self.failed += len(checker.mismatches)
        self.checks.append({"name": "oracle", "ok": not checker.mismatches,
                            "info": {"checked": checker.checked,
                                     "mismatches": checker.mismatches[:5]}})

    def detail(self, name: str, value: float, unit: str) -> None:
        self.details[name] = (float(value), unit)

    def set_layer(self, name: str, value, unit: str) -> None:
        if value is not None and name not in self.layer:
            self.layer[name] = (float(value), unit)

    def missing(self, names) -> bool:
        return any(n not in self.layer for n in names)


# --------------------------------------------------------------- helpers
def write_corpus(run: Run, n: int):
    """The seeded corpus as parquet (a file-backed source, as a bulk
    build reads it)."""
    from lucene_spark.corpus import corpus_df

    t0 = time.perf_counter()
    path = os.path.join(run.work, f"corpus-{n}")
    corpus_df(run.spark, n, run.seed, CORPUS_PARTS).write.mode(
        "overwrite").parquet(path)
    run.record["env_s"]["corpus_write"] = time.perf_counter() - t0
    return run.spark.read.parquet(path)


def corpus_rows(seed: int, ids):
    from lucene_spark.corpus import make_corpus_rows

    return make_corpus_rows(list(ids), seed)


def content_bytes(pdf) -> int:
    return int(sum(len(c.encode()) for c in pdf["content"]))


class OracleBuilder(threading.Thread):
    """Generates the corpus rows and indexes them into the oracle by row
    number while the JVM starts; `result` moves them onto the engine's
    doc_ids. Positions are dropped: the generated queries have no
    phrases."""

    def __init__(self, seed: int, n: int, field: str):
        super().__init__(daemon=True)
        self.seed = seed
        self.n = n
        self.pdf = None
        self.rows_ready = threading.Event()
        self.oracle = Oracle(field)
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            self.pdf = corpus_rows(self.seed, range(self.n))
            self.rows_ready.set()
            self.oracle.add(enumerate(self.pdf["content"]))
        except Exception as e:  # surfaced by result()
            self.error = e
        finally:
            self.rows_ready.set()

    def result(self, path_to_doc: dict[str, int]) -> Oracle:
        self.join()
        if self.error is not None:
            raise self.error
        by_row = {i: path_to_doc[p] for i, p in enumerate(self.pdf["path"])}
        idx = self.oracle.index
        idx.postings = type(idx.postings)(dict, {
            t: {by_row[d]: tf for d, tf in p.items()}
            for t, p in idx.postings.items()})
        idx.doclen = {by_row[d]: n for d, n in idx.doclen.items()}
        idx.positions.clear()
        return self.oracle


def doc_ids(reader) -> dict[str, int]:
    pdf = reader.docstats().select("path", "doc_id").toPandas()
    return dict(zip(pdf["path"], pdf["doc_id"].astype(np.int64)))


def derived_dir(index_dir: str, name: str) -> str:
    """Current directory of a derived artifact (postings, termdict, ...)."""
    from lucene_spark.index.layout import derived_path

    with open(os.path.join(index_dir, "manifest.json")) as fh:
        return derived_path(index_dir, json.load(fh), name)


def index_bytes(index_dir: str) -> dict[str, int]:
    out = {n: dir_bytes(derived_dir(index_dir, n))
           for n in ("postings", "termdict", "docstats")}
    out["total"] = dir_bytes(index_dir)
    return out


def bucket_skew(index_dir: str) -> float:
    post = derived_dir(index_dir, "postings")
    sizes = [dir_bytes(os.path.join(post, d)) for d in os.listdir(post)
             if d.startswith("bucket=")]
    return max(sizes) / max(1.0, median(sizes)) if sizes else 1.0


def written_since(path: str, t_wall: float) -> int:
    """Bytes of files under `path` created or rewritten after t_wall."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            if st.st_mtime >= t_wall:
                total += st.st_size
    return total


def raw_groups(index_dir: str) -> int:
    raw = os.path.join(index_dir, "raw")
    return sum(d.startswith("group=") for d in os.listdir(raw))


def build_layers(run: Run, spans: list[dict]) -> None:
    """build.* per-layer metrics from traced build spans."""
    if not spans:
        return
    ph = [s["attrs"]["phases"] for s in spans]
    run.set_layer("build.segments_s", median(p["segments"] for p in ph), "s")
    run.set_layer("build.merge_s", median(p["merge"] for p in ph), "s")
    run.set_layer("build.stats_s", median(p["stats"] for p in ph), "s")
    run.set_layer("build.publish_s", median(
        (s["end"] - s["start"]) - sum(s["attrs"]["phases"].values())
        for s in spans), "s")
    run.set_layer("build.spark_jobs", median(s["attrs"]["spark_jobs"] for s in spans), "count")
    run.set_layer("build.spark_tasks", median(s["attrs"]["spark_tasks"] for s in spans), "count")


def timed_build(run: Run, src, index_dir: str, name: str = "build"):
    """One IndexBuilder.build (overwrite); returns (manifest, wall)."""
    from lucene_spark.index import IndexBuilder

    with run.tracer.span(name, "index.builder", run.tracer.new_request(),
                         count_jobs=True) as sp:
        m, wall = run.op(lambda: IndexBuilder(run.spark, index_config()).build(
            src, index_dir, overwrite=True))
        if m is not None and run.tracer.enabled:
            sp["attrs"]["phases"] = dict(m["phases"])
    return m, wall


def setup_serving_index(run: Run, src, index_dir: str):
    """Build the index once (recorded with the environment), then the
    set-up unit of the read workloads, repeated SETUP_REPS times: open a
    reader and a searcher and answer a first query. Returns (reader,
    searcher, list of set-up walls)."""
    from lucene_spark.index import IndexReader
    from lucene_spark.search import IndexSearcher

    m, wall = timed_build(run, src, index_dir, name="setup.build")
    if m is None:
        raise RuntimeError("index build failed")
    run.record["env_s"]["index_build"] = wall
    build_layers(run, run.tracer.find("setup.build"))
    walls = []
    reader = searcher = None
    for _ in range(SETUP_REPS):
        with run.tracer.span("setup.open", "index.reader", run.tracer.new_request()):
            t0 = time.perf_counter()
            reader = IndexReader(run.spark, index_dir)
            searcher = IndexSearcher(reader)
            searcher.search(WARM_QUERY, k=K).collect()
            walls.append(time.perf_counter() - t0)
    return reader, searcher, walls


def engine_terms(reader, node) -> tuple[list[str], float | None]:
    """The term set a plan touches, with dictionary expansion done by
    `reader` (returns the expansion wall, None when nothing expands)."""
    from lucene_spark.search import plan as P

    terms: list[str] = []
    expand = 0.0
    saw = False

    def walk(n):
        nonlocal expand, saw
        t0 = time.perf_counter()
        if isinstance(n, P.PrefixNode):
            terms.extend(reader.expand_prefix(n.prefix, P.MAX_CLAUSE_COUNT))
        elif isinstance(n, P.RegexpNode):
            terms.extend(reader.expand_regexp(n.pattern, P.MAX_CLAUSE_COUNT))
        elif isinstance(n, P.FuzzyNode):
            terms.extend(reader.expand_fuzzy(n.term, n.max_edits))
        elif isinstance(n, P.TermRangeNode):
            terms.extend(reader.expand_range(n.lower, n.upper, n.include_lower,
                                             n.include_upper, P.MAX_CLAUSE_COUNT))
        elif isinstance(n, P.TermNode):
            terms.append(n.term)
            return
        elif isinstance(n, (P.TermInSetNode, P.SynonymNode, P.PhraseNode)):
            terms.extend(n.terms)
            return
        elif isinstance(n, P.BooleanNode):
            for c in n.clauses:
                walk(c.node)
            return
        else:
            return
        saw = True
        expand += time.perf_counter() - t0

    walk(node)
    return sorted(set(terms)), (expand if saw else None)


def probe_query(run: Run, reader2, searcher, query: str, rid: int,
                wall: float, hits: int, ops: list[dict]) -> None:
    """Layer probes for one traced search: parse, expansion, term stats
    and the postings read, on a second reader so the searcher's caches
    stay as the search left them."""
    from lucene_spark.search import plan as P

    tr = run.tracer
    rec = {"query": query, "wall": wall, "hits": hits}
    with tr.span("probe.query", "probe", rid):
        with tr.span("search.parse", "search", rid):
            t0 = time.perf_counter()
            node = searcher.parse(query)
            rec["parse"] = time.perf_counter() - t0
        node = P.rewrite(P.apply_field(node, reader2.default_field,
                                       only_default=True))
        with tr.span("reader.expand", "index.reader", rid):
            terms, rec["expand"] = engine_terms(reader2, node)
        with tr.span("reader.term_stats", "index.reader", rid):
            t0 = time.perf_counter()
            stats = reader2.term_stats(terms)
            rec["term_stats"] = time.perf_counter() - t0
        live = [t for _, t in stats]
        with tr.span("reader.postings_read", "index.reader", rid, count_jobs=True):
            t0 = time.perf_counter()
            rows = len(reader2.postings_for_terms(live).toPandas()) if live else 0
            rec["postings_read"] = time.perf_counter() - t0
        rec["rows_read"] = rows
    ops.append(rec)


def search_layers(run: Run, probes: list[dict], search_spans: list[dict],
                  batch_spans: list[dict]) -> None:
    if probes:
        run.set_layer("search.parse_ms", 1e3 * median(p["parse"] for p in probes), "ms")
        run.set_layer("reader.term_stats_ms", 1e3 * median(p["term_stats"] for p in probes), "ms")
        ex = [p["expand"] for p in probes if p["expand"] is not None]
        if ex:
            run.set_layer("reader.expand_ms", 1e3 * median(ex), "ms")
        run.set_layer("reader.postings_read_ms", 1e3 * median(p["postings_read"] for p in probes), "ms")
        per_hit = [p["rows_read"] / p["hits"] for p in probes if p["hits"]]
        if per_hit:
            run.set_layer("reader.rows_read_per_hit", median(per_hit), "count")
        run.set_layer("search.residual_ms", 1e3 * median(
            p["wall"] - p["parse"] - (p["expand"] or 0.0) - p["term_stats"]
            - p["postings_read"] for p in probes), "ms")
    if search_spans:
        run.set_layer("search.spark_jobs_per_query", median(
            s["attrs"]["spark_jobs"] for s in search_spans), "count")
    if batch_spans:
        run.set_layer("search_many.spark_jobs_per_small_batch", median(
            s["attrs"]["spark_jobs"] for s in batch_spans), "count")


def sink(df):
    """Distributed count/checksum aggregate over a result frame."""
    from pyspark.sql import functions as F

    r = df.agg(F.count("*").alias("n"),
               F.sum(F.col("doc_id") % 1000003).alias("ck"),
               F.sum("score").alias("cks")).collect()[0]
    return int(r["n"]), int(r["ck"] or 0), float(r["cks"] or 0.0)


# ---------------------------------------------------------------- probes
def probe_common(run: Run, index_dir: str) -> None:
    """Layers every traced run reports: analysis, codec, index bytes,
    bucket skew, the Spark job floor and reader open."""
    from lucene_spark.analysis import get_analyzer
    from lucene_spark.codec.vbyte import (vbyte_decode, vbyte_decode_many,
                                          vbyte_encode)
    from lucene_spark.index import IndexReader

    tr = run.tracer
    with tr.span("probe.common", "probe", tr.new_request()):
        sample = corpus_rows(run.seed, range(200))["content"]
        an = get_analyzer("code")
        walls, ntok = [], 0
        with tr.span("analysis.tokenize_series", "analysis"):
            for _ in range(3):
                t0 = time.perf_counter()
                toks = an.tokenize_series(sample)
                walls.append(time.perf_counter() - t0)
                ntok = int(toks.map(len).sum())
        run.set_layer("analysis.code.tokens_per_s", ntok / median(walls), "1/s")

        reader = IndexReader(run.spark, index_dir)
        pdf = reader.postings().select("local_df", "doc_blob", "tf_blob",
                                       "dl_blob").toPandas()
        blobs = [bytes(b) for col in ("doc_blob", "tf_blob", "dl_blob")
                 for b in pdf[col]]
        nbytes = sum(len(b) for b in blobs)
        run.set_layer("codec.bytes_per_posting",
                      nbytes / max(1, int(pdf["local_df"].sum())), "B")
        # encode re-packs the decoded value lists blob by blob, as the
        # builder packs one posting list at a time
        some = blobs[:: max(1, len(blobs) // 4000)]
        arrays = [vbyte_decode(b) for b in some]
        some_bytes = sum(len(b) for b in some)
        with tr.span("codec.vbyte", "codec"):
            dec, enc = [], []
            for _ in range(3):
                t0 = time.perf_counter()
                vbyte_decode_many(blobs)
                dec.append(time.perf_counter() - t0)
            for _ in range(3):
                t0 = time.perf_counter()
                for a in arrays:
                    vbyte_encode(a)
                enc.append(time.perf_counter() - t0)
        run.set_layer("codec.vbyte_decode_mb_s", nbytes / 1e6 / median(dec), "MB/s")
        run.set_layer("codec.vbyte_encode_mb_s", some_bytes / 1e6 / median(enc), "MB/s")

        b = index_bytes(index_dir)
        for n in ("postings", "termdict", "docstats"):
            run.set_layer(f"index.bytes.{n}", b[n], "B")
        run.set_layer("build.bucket_bytes_skew", bucket_skew(index_dir), "ratio")

        with tr.span("spark.job_floor", "spark"):
            run.set_layer("spark.job_floor_ms", job_floor(run), "ms")

        if run.missing(["reader.open_ms"]):
            opens = []
            for _ in range(3):
                with tr.span("reader.open", "index.reader"):
                    t0 = time.perf_counter()
                    IndexReader(run.spark, index_dir)
                    opens.append(time.perf_counter() - t0)
            run.set_layer("reader.open_ms", 1e3 * median(opens), "ms")


SEARCH_LAYERS = ("search.parse_ms", "reader.term_stats_ms", "reader.expand_ms",
                 "reader.postings_read_ms", "reader.rows_read_per_hit",
                 "search.residual_ms", "search.spark_jobs_per_query",
                 "search_many.spark_jobs_per_small_batch")
BATCH_LAYERS = ("batch.plan_ms", "batch.term_stats_ms",
                "batch.spark_tasks_per_pass", "batch.sum_df")
INGEST_LAYERS = ("ingest.groups_at_query", "stream.spark_jobs_per_batch",
                 "stream.bytes_written_per_doc", "compact.groups_merged",
                 "compact.bytes_rewritten", "ingest.write_amp")


def probe_search(run: Run, index_dir: str, n_docs: int) -> None:
    """Traced searches and small batches on a fresh searcher."""
    from lucene_spark.index import IndexReader
    from lucene_spark.search import IndexSearcher

    if not run.missing(SEARCH_LAYERS):
        return
    tr = run.tracer
    searcher = IndexSearcher(IndexReader(run.spark, index_dir))
    reader2 = IndexReader(run.spark, index_dir)
    qg = QueryGen(run.seed, n_docs, stream=9)
    probes, s_spans, b_spans = [], [], []
    for i in range(8):
        q = qg.next()
        if i == 3:
            q = qg.shape("multi")
        rid = tr.new_request()
        with tr.span("probe.search", "search", rid, count_jobs=True) as sp:
            t0 = time.perf_counter()
            rows = searcher.search(q, k=K).collect()
            wall = time.perf_counter() - t0
        s_spans.append(sp)
        probe_query(run, reader2, searcher, q, rid, wall, len(rows), probes)
    for size in (2, 5):
        qs = {f"p{j}": qg.next() for j in range(size)}
        with tr.span("probe.search_many", "search", tr.new_request(),
                     count_jobs=True) as sp:
            searcher.search_many(qs, k=K).collect()
        b_spans.append(sp)
    search_layers(run, probes, s_spans, b_spans)


def batch_probe_round(run: Run, searcher, reader2, batch: dict[str, str],
                      rid: int) -> dict:
    """Planning and term-statistics probes for one batch (second reader)."""
    from lucene_spark.search import plan as P

    tr = run.tracer
    distinct = sorted(set(batch.values()))
    with tr.span("probe.batch", "probe", rid):
        with tr.span("batch.plan", "search", rid):
            t0 = time.perf_counter()
            nodes = [P.rewrite(P.apply_field(searcher.parse(q), reader2.default_field,
                                             only_default=True)) for q in distinct]
            plan = time.perf_counter() - t0
        terms: set[str] = set()
        for n in nodes:
            terms.update(engine_terms(reader2, n)[0])
        with tr.span("batch.term_stats", "index.reader", rid):
            t0 = time.perf_counter()
            stats = reader2.term_stats(sorted(terms))
            ts = time.perf_counter() - t0
    return {"plan": plan, "term_stats": ts,
            "sum_df": sum(df for df, _ in stats.values())}


def batch_layers(run: Run, probes: list[dict], cold_spans: list[dict]) -> None:
    if probes:
        run.set_layer("batch.plan_ms", 1e3 * median(p["plan"] for p in probes), "ms")
        run.set_layer("batch.term_stats_ms", 1e3 * median(p["term_stats"] for p in probes), "ms")
        run.set_layer("batch.sum_df", median(p["sum_df"] for p in probes), "count")
    if cold_spans:
        run.set_layer("batch.spark_tasks_per_pass", median(
            s["attrs"]["spark_tasks"] for s in cold_spans), "count")


def probe_batch(run: Run, index_dir: str, n_docs: int) -> None:
    """One search_many pass of 1000 Zipf-repeated instances."""
    from lucene_spark.index import IndexReader
    from lucene_spark.search import IndexSearcher

    if not run.missing(BATCH_LAYERS):
        return
    searcher = IndexSearcher(IndexReader(run.spark, index_dir))
    reader2 = IndexReader(run.spark, index_dir)
    qg = QueryGen(run.seed, n_docs, stream=10)
    rng = np.random.default_rng([run.seed, 10])
    pool = [qg.next() for _ in range(100)]
    batch = {f"p{i}": q for i, q in enumerate(zipf_batch(rng, pool, 1000))}
    rid = run.tracer.new_request()
    with run.tracer.span("probe.batch_pass", "search", rid, count_jobs=True) as sp:
        sink(searcher.search_many(batch, k=K))
    batch_layers(run, [batch_probe_round(run, searcher, reader2, batch, rid)], [sp])


def probe_ingest(run: Run, index_dir: str, first_id: int) -> None:
    """Two appended micro-batches, each followed by a reader reopen and
    a search for one of its singleton terms, then a merging compaction;
    checks the singletons, doc_count and check_index afterwards."""
    from lucene_spark.index import IndexReader, check_index

    if not run.missing(INGEST_LAYERS):
        return
    st = IngestState(run, index_dir, first_id, 100)
    for _ in range(2):
        st.commit()
        st.reopen_and_search()
    st.compact()
    st.layers()
    reader = IndexReader(run.spark, index_dir)
    want = first_id + st.batch_docs * len(st.batches)
    run.check("doc_count_after_compact", reader.doc_count == want,
              {"doc_count": reader.doc_count, "want": want})
    try:
        check_index(reader)
        run.check("check_index_after_compact", True)
    except Exception as e:
        run.check("check_index_after_compact", False, repr(e)[:300])


class IngestState:
    """Micro-batch appends, reader reopen and compaction on one index."""

    def __init__(self, run: Run, index_dir: str, next_id: int, batch_docs: int):
        from lucene_spark.streaming.index_stream import StreamingIndexer

        self.run = run
        self.index_dir = index_dir
        self.next_id = next_id
        self.batch_docs = batch_docs
        self.stream = StreamingIndexer(run.spark, index_dir, index_config())
        self.batch_id = 0
        self.batches: list[dict] = []      # per commit
        self.groups: list[int] = []        # raw groups seen by each search
        self.compactions: list[dict] = []  # per compact() call that merged
        self.commit_spans: list[dict] = []

    def commit(self) -> None:
        run = self.run
        ids = range(self.next_id, self.next_id + self.batch_docs)
        pdf = corpus_rows(run.seed, ids)
        df = run.spark.createDataFrame(pdf)
        t_wall = time.time()
        with run.tracer.span("stream.process_batch", "streaming",
                             run.tracer.new_request(), count_jobs=True) as sp:
            _, wall = run.op(lambda: self.stream.process_batch(df, self.batch_id))
        self.commit_spans.append(sp)
        if wall is not None:
            self.batches.append({"ids": (ids.start, ids.stop),
                                 "content_bytes": content_bytes(pdf),
                                 "bytes_written": written_since(self.index_dir, t_wall)})
        self.batch_id += 1
        self.next_id += self.batch_docs

    def reopen_and_search(self) -> None:
        """Reopen, then search a singleton term of the last batch: it
        must find exactly that batch's document."""
        from lucene_spark.index import IndexReader
        from lucene_spark.search import IndexSearcher

        run = self.run
        tr = run.tracer
        if not self.batches:            # no commit succeeded (counted failed)
            return
        with tr.span("reader.open", "index.reader", tr.new_request()):
            reader = IndexReader(run.spark, self.index_dir)
            searcher = IndexSearcher(reader)
        lo, hi = self.batches[-1]["ids"]
        single = int(np.random.default_rng([run.seed, 12, lo]).integers(lo, hi))
        self.groups.append(raw_groups(self.index_dir))
        q = f"uid{single}sing"
        with tr.span("search", "search", tr.new_request(), count_jobs=True):
            rows, _ = run.op(lambda: searcher.search(q, k=K).collect())
        if rows is not None:
            want = doc_ids(reader).get(f"src/main/File{single}.java")
            got = [d for d, _ in rows_of_search(rows)]
            run.check("singleton_found", got == [want], {"query": q, "got": got[:3],
                                                         "want": want})

    def compact(self) -> None:
        from lucene_spark.index import compact

        run = self.run
        t_wall = time.time()
        with run.tracer.span("compact", "index.compaction", run.tracer.new_request(),
                             count_jobs=True):
            res, _ = run.op(lambda: compact(
                run.spark, self.index_dir, floor_bytes=1 << 40, segs_per_tier=1,
                gc_min_age_seconds=3600.0))
        run.check("compaction_merged", bool(res and res.get("merged")),
                  {"result": None if res is None else str(res)[:300]})
        if res and res.get("merged"):
            self.compactions.append({"merged": len(res["merged"]),
                                     "bytes_rewritten": written_since(self.index_dir, t_wall)})

    def layers(self) -> None:
        run = self.run
        if self.groups:
            run.set_layer("ingest.groups_at_query", median(self.groups), "count")
        if self.commit_spans:
            run.set_layer("stream.spark_jobs_per_batch", median(
                s["attrs"]["spark_jobs"] for s in self.commit_spans), "count")
        if self.batches:
            run.set_layer("stream.bytes_written_per_doc", median(
                b["bytes_written"] / self.batch_docs for b in self.batches), "B")
        if self.compactions:
            run.set_layer("compact.groups_merged", median(
                c["merged"] for c in self.compactions), "count")
            run.set_layer("compact.bytes_rewritten", median(
                c["bytes_rewritten"] for c in self.compactions), "B")
            written = (sum(b["bytes_written"] for b in self.batches)
                       + sum(c["bytes_rewritten"] for c in self.compactions))
            run.set_layer("ingest.write_amp", written / max(
                1, sum(b["content_bytes"] for b in self.batches)), "ratio")


def probe_rest(run: Run, index_dir: str, n_docs: int, first_free_id: int) -> None:
    """Fill every per-layer metric the workload did not produce itself.
    Runs after the correctness checks: the ingest probe appends to the
    index."""
    probe_common(run, index_dir)
    probe_search(run, index_dir, n_docs)
    probe_batch(run, index_dir, n_docs)
    probe_ingest(run, index_dir, first_free_id)


def job_floor(run: Run, n: int = 7) -> float:
    """Median wall of spark.range(1).count(), in ms: the environment's
    per-job floor, kept in every run record as a reference."""
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        run.spark.range(1).count()
        walls.append(time.perf_counter() - t0)
    return 1e3 * median(walls)


def finish_e2e(run: Run, setup_walls, op_walls, aux_walls, work_units: float,
               work_wall: float, size_ratio: float) -> None:
    run.e2e = {
        "setup_s": (median(setup_walls), "s"),
        "op_p50_ms": (1e3 * median(op_walls), "ms"),
        "aux_p50_ms": (1e3 * median(aux_walls), "ms"),
        "throughput_per_s": (work_units / work_wall, "1/s"),
        "index_size_ratio": (size_ratio, "ratio"),
    }
    run.record["setup_walls_s"] = list(setup_walls)
    run.record["op_walls_s"] = list(op_walls)
    run.record["aux_walls_s"] = list(aux_walls)
    run.record["ops"] = OPS[run.workload]


def trace_summary(run: Run, since: float, until: float, ops: int) -> None:
    tr = run.tracer
    if not tr.enabled:
        return
    run.set_layer("trace.span_coverage", tr.coverage(since, until), "ratio")
    run.set_layer("trace.bookkeeping_ms_per_op", 1e3 * tr.bookkeeping_s / max(1, ops), "ms")


# ------------------------------------------------------------------ serve
def fresh_phase(run: Run, searcher, reader2, n: int, seconds: float) -> dict:
    """One client alternating search(q) with 1-8 query search_many
    batches; no query string repeats."""
    tr = run.tracer
    warm = QueryGen(run.seed, n, stream=21)
    t0 = time.perf_counter()
    with tr.span("warmup.fresh", "search", tr.new_request()):
        for size in (0, 3, 0, 6):    # untimed: compile the search paths
            if size:
                searcher.search_many({f"w{j}": warm.next() for j in range(size)}, k=K).collect()
            else:
                searcher.search(warm.next(), k=K).collect()
    run.record["env_s"]["fresh_warmup"] = time.perf_counter() - t0
    qg = QueryGen(run.seed, n, stream=1)
    rng = np.random.default_rng([run.seed, 2])
    ph = {"searches": [], "batches": [], "probes": [], "s_spans": [], "b_spans": []}
    w0 = time.perf_counter()
    i = 0
    while time.perf_counter() - w0 < seconds or not ph["batches"]:
        rid = tr.new_request()
        if i % 2 == 0:
            q = qg.next()
            with tr.span("search", "search", rid, count_jobs=True) as sp:
                rows, wall = run.op(lambda: searcher.search(q, k=K).collect())
            if rows is not None:
                ph["searches"].append({"query": q, "wall": wall,
                                       "rows": rows_of_search(rows)})
                if tr.enabled:
                    ph["s_spans"].append(sp)
                    probe_query(run, reader2, searcher, q, rid, wall, len(rows),
                                ph["probes"])
        else:
            qs = {f"b{i}_{j}": qg.next() for j in range(int(rng.integers(1, 9)))}
            with tr.span("search_many", "search", rid, count_jobs=True) as sp:
                rows, wall = run.op(lambda: searcher.search_many(qs, k=K).collect())
            if rows is not None:
                ph["batches"].append({"queries": qs, "wall": wall,
                                      "rows": rows_of_batch(rows)})
                if tr.enabled:
                    ph["b_spans"].append(sp)
        i += 1
    ph["window_s"] = time.perf_counter() - w0
    return ph


def check_fresh(run: Run, ph: dict, searcher, checker: Checker) -> dict:
    """Oracle sample, search_many == search() for the same strings, and
    the path the requests took (Σdf against the searcher's budgets)."""
    oracle = checker.oracle
    todo = [("search", s["query"], s["rows"]) for s in ph["searches"]] + [
        ("search_many", q, b["rows"].get(qid, []))
        for b in ph["batches"] for qid, q in b["queries"].items()]
    sample = set(np.random.default_rng([run.seed, 6]).permutation(len(todo))[:ORACLE_SAMPLE])
    for i, (what, q, got) in enumerate(todo):
        if i in sample:
            checker.check(what, q, got, K)
    again = ph["searches"][:: max(1, len(ph["searches"]) // 8)][:8]
    same = {f"s{j}": s["query"] for j, s in enumerate(again)}
    rows, _ = run.op(lambda: searcher.search_many(same, k=K).collect())
    if rows is not None:
        got = rows_of_batch(rows)
        for j, s in enumerate(again):
            checker.compare("search_many==search", s["query"], got.get(f"s{j}", []), s["rows"])
    return {"search": path_evidence([total_postings(oracle)], [0],
                                    searcher.local_topk_max_postings,
                                    len(ph["searches"])),
            "small_batch": path_evidence([total_postings(oracle)], [0],
                                         searcher.local_batch_max_postings,
                                         len(ph["batches"]))}


def total_postings(oracle: Oracle) -> int:
    """Σdf of the whole index: an upper bound on any request's Σdf."""
    return sum(oracle.index.df(t) for t in oracle.vocab)


def path_evidence(upper: list[int], lower: list[int], budget: int,
                  requests: int) -> dict:
    """The serving path the engine's own Σdf gate chose, from bounds on
    the requests' Σdf: local when every upper bound fits the budget,
    distributed when every lower bound exceeds it."""
    path = ("local" if max(upper) <= budget else
            "distributed" if min(lower) > budget else "undetermined")
    return {"sum_df_upper": upper, "sum_df_lower": lower, "budget": budget,
            "requests": requests, "path": path}


def batch_phase(run: Run, searcher, reader2, n: int, seconds: float) -> dict:
    """Rounds of a new batch with Zipf-repeated strings, run cold and
    then replayed warm, each pass sunk into an aggregate. The rounds go
    through BATCH_SIZES in whole cycles until the window has passed, so
    every run has the same mix of batch sizes (qps grows with size)."""
    tr = run.tracer
    rng = np.random.default_rng([run.seed, 4])
    warm = QueryGen(run.seed, n, stream=23)
    wbatch = {f"w{i}": q for i, q in enumerate(zipf_batch(
        rng, [warm.next() for _ in range(60)], max(20, int(400 * run.scale))))}
    # untimed: compiles the batch path; its rows are checked later
    t0 = time.perf_counter()
    with tr.span("warmup.batch", "search", tr.new_request()):
        wrows, _ = run.op(lambda: searcher.search_many(wbatch, k=K).toPandas())
        wsink, _ = run.op(lambda: sink(searcher.search_many(wbatch, k=K)))
    run.record["env_s"]["batch_warmup"] = time.perf_counter() - t0
    qg = QueryGen(run.seed, n, stream=3)
    ph = {"rounds": [], "probes": [], "cold_spans": [],
          "warmup": {"batch": wbatch, "rows": wrows, "sink": wsink}}
    w0 = time.perf_counter()
    r = 0
    while time.perf_counter() - w0 < seconds or r % len(BATCH_SIZES):
        size = max(50, int(BATCH_SIZES[r % len(BATCH_SIZES)] * run.scale))
        pool = [qg.next() for _ in range(max(10, int(BATCH_POOL * min(1.0, run.scale * 4))))]
        batch = {f"r{r}_{i}": q for i, q in enumerate(zipf_batch(rng, pool, size))}
        rid = tr.new_request()
        with tr.span("search_many.cold", "search", rid, count_jobs=True) as sp:
            cold, cw = run.op(lambda: sink(searcher.search_many(batch, k=K)))
        if tr.enabled:
            ph["cold_spans"].append(sp)
        with tr.span("search_many.warm", "search", rid, count_jobs=True):
            warm, ww = run.op(lambda: sink(searcher.search_many(batch, k=K)))
        ph["rounds"].append({"size": size, "distinct": len(set(batch.values())),
                             "cold": cold, "warm": warm, "cold_s": cw, "warm_s": ww,
                             "batch": batch})
        if tr.enabled:
            ph["probes"].append(batch_probe_round(run, searcher, reader2, batch, rid))
        r += 1
    ph["window_s"] = time.perf_counter() - w0
    return ph


def check_batch(run: Run, ph: dict, searcher, checker: Checker) -> dict:
    """Cold and warm aggregates of every round agree. The untimed warm-up
    batch, run once with rows collected and once sunk, must give the
    same aggregate, and a seeded sample of its strings (half the fresh
    phase's sample: hot batch strings are slow to score in the oracle)
    must match the oracle. Returns the path evidence."""
    oracle = checker.oracle
    close = lambda a, b: a[:2] == b[:2] and abs(a[2] - b[2]) <= 1e-6 * max(1.0, abs(b[2]))
    for rd in ph["rounds"]:
        c, w = rd["cold"], rd["warm"]
        run.check("cold==warm", c is not None and w is not None and close(c, w),
                  {"cold": c, "warm": w})
    w = ph["warmup"]
    if w["rows"] is not None:
        pdf = w["rows"]
        agg = (len(pdf), int((pdf["doc_id"] % 1000003).sum()),
               float(pdf["score"].astype(np.float64).sum()))
        run.check("rows==sink", w["sink"] is not None and close(agg, w["sink"]),
                  {"rows": agg, "sink": w["sink"]})
        got = rows_of_batch(pdf.to_dict("records"))
        first: dict[str, str] = {}
        for qid, q in w["batch"].items():
            first.setdefault(q, qid)
        pick = sorted(first.items())
        for i in np.random.default_rng([run.seed, 5]).permutation(len(pick))[:ORACLE_SAMPLE // 2]:
            q, qid = pick[i]
            checker.check("search_many(batch)", q, got.get(qid, []), K)
    # path evidence: the Σdf of a batch's plain terms (multi-term nodes
    # left unexpanded) bounds its Σdf from below, the index's from above
    from lucene_spark.search import plan as P

    lower = []
    for rd in ph["rounds"]:
        terms: set[str] = set()
        for q in set(rd["batch"].values()):
            oracle.terms(P.rewrite(searcher.parse(q)), terms)
        lower.append(sum(oracle.index.df(t) for t in terms))
    return path_evidence([total_postings(oracle)] * len(lower), lower,
                         searcher.local_batch_max_postings, len(lower))


def serve(run: Run) -> None:
    """The fresh phase, then the batch phase, over one serving index."""
    from lucene_spark.index import IndexReader
    from lucene_spark.search import IndexSearcher

    n = run.n(N_SERVE)
    ob = OracleBuilder(run.seed, n, "content")
    ob.start()
    run.start()
    # the serving index is built from the same generated rows the oracle
    # holds (the generator behind corpus_df, run on the driver): no
    # parquet round trip before set-up
    ob.rows_ready.wait()
    src = run.spark.createDataFrame(ob.pdf)
    idx = os.path.join(run.work, "index")
    reader, searcher, setup_walls = setup_serving_index(run, src, idx)
    t0 = time.perf_counter()
    oracle = ob.result(doc_ids(reader))
    run.record["env_s"]["oracle_ready"] = time.perf_counter() - t0
    # the batch phase gets a searcher of its own, so its cold passes do
    # not find the fresh phase's cache entries; both keep the engine's
    # default settings, so the engine picks each request's path
    bsearcher = IndexSearcher(IndexReader(run.spark, idx))
    run.record["engine_settings"] = {"fresh": engine_settings(searcher),
                                     "batch": engine_settings(bsearcher)}
    run.record["corpus"] = {"docs": n, "content_bytes": content_bytes(ob.pdf)}
    reader2 = IndexReader(run.spark, idx) if run.trace else None

    run.record["job_floor_ms"] = job_floor(run)
    tr = run.tracer
    t_since = tr.now()
    fresh = fresh_phase(run, searcher, reader2, n, FRESH_SHARE * run.seconds)
    batch = batch_phase(run, bsearcher, reader2, n, (1 - FRESH_SHARE) * run.seconds)
    t_until = tr.now()

    t0 = time.perf_counter()
    checker = Checker(oracle, searcher.parse)
    paths = check_fresh(run, fresh, searcher, checker)
    paths["batch"] = check_batch(run, batch, bsearcher, checker)
    run.record["paths"] = paths
    run.check("doc_count", reader.doc_count == n, {"doc_count": reader.doc_count, "want": n})
    run.checked_results(checker)
    run.record["env_s"]["checks"] = time.perf_counter() - t0

    sw = [s["wall"] for s in fresh["searches"]]
    bw = [b["wall"] for b in fresh["batches"]]
    ok = [rd for rd in batch["rounds"] if rd["cold_s"] is not None and rd["warm_s"] is not None]
    cw = [rd["cold_s"] for rd in ok]
    ww = [rd["warm_s"] for rd in ok]
    inst = sum(rd["size"] for rd in ok)
    finish_e2e(run, setup_walls, sw, bw, 2 * inst, sum(cw) + sum(ww),
               index_bytes(idx)["total"] / run.record["corpus"]["content_bytes"])
    run.detail("search_p50_ms", 1e3 * median(sw), "ms")
    run.detail("search_p90_ms", 1e3 * percentile(sw, 90), "ms")
    run.detail("small_batch_p50_ms", 1e3 * median(bw), "ms")
    run.detail("small_batch_p90_ms", 1e3 * percentile(bw, 90), "ms")
    run.detail("batch_cold_qps", inst / sum(cw), "1/s")
    run.detail("batch_warm_qps", inst / sum(ww), "1/s")
    run.detail("batch_cold_pass_ms", 1e3 * median(cw), "ms")
    run.detail("batch_warm_pass_ms", 1e3 * median(ww), "ms")
    run.record["window_s"] = {"fresh": fresh["window_s"], "batch": batch["window_s"]}
    run.record["rounds"] = [{k: v for k, v in rd.items() if k != "batch"}
                            for rd in batch["rounds"]]
    if tr.enabled:
        search_layers(run, fresh["probes"], fresh["s_spans"], fresh["b_spans"])
        batch_layers(run, batch["probes"], batch["cold_spans"])
        trace_summary(run, t_since, t_until,
                      len(sw) + len(bw) + 2 * len(batch["rounds"]))
        probe_rest(run, idx, n, n)


# ------------------------------------------------------------------ build
def build_level(run: Run, cores: int, commands, reply) -> None:
    """One parallelism level of the build workload, in its own JVM.
    Starts Spark and writes the corpus, replies, then serves the
    parent's commands (setup / prepare / measure / check / probe /
    stop)."""
    from pyspark.sql import functions as F

    n = run.n(N_BUILD)
    run.start(cores)
    src = write_corpus(run, n)
    cbytes = int(src.agg(F.sum(F.length("content"))).collect()[0][0])
    warm = src.limit(max(20, int(WARM_DOCS * run.scale)))
    idx = os.path.join(run.work, "index")
    reply({"started": True, "content_bytes": cbytes})
    for cmd in commands:
        if cmd["cmd"] == "setup":       # the timed set-up units
            walls = [timed_build(run, warm, os.path.join(run.work, "warm"),
                                 name="setup.build")[1] for _ in range(SETUP_REPS)]
            reply({"setup_walls": walls})
        elif cmd["cmd"] == "prepare":   # untimed warm-up before measuring
            t0 = time.perf_counter()
            if cores == MASTER_CORES:   # the index `check` and `probe` read
                timed_build(run, src, idx, name="prepare.build")
            else:
                timed_build(run, warm, os.path.join(run.work, "warm"),
                            name="prepare.build")
            run.record["env_s"]["prepare"] = time.perf_counter() - t0
            reply({"env_s": run.record["env_s"]})
        elif cmd["cmd"] == "measure":   # one timed build
            m, wall = timed_build(run, src, idx)
            reply({"build": {"wall": wall, "docs": m["doc_count"] if m else None,
                             "phases": m["phases"] if m else None},
                   "attempted": run.attempted, "failed": run.failed})
        elif cmd["cmd"] == "check":
            from lucene_spark.index import IndexReader, check_index

            reader = IndexReader(run.spark, idx)
            run.check("doc_count", reader.doc_count == n,
                      {"doc_count": reader.doc_count, "want": n})
            try:
                check_index(reader, source=src)
                run.check("check_index", True)
            except Exception as e:
                run.check("check_index", False, repr(e)[:300])
            b = index_bytes(idx)
            reply({"attempted": run.attempted, "failed": run.failed,
                   "checks": run.checks, "index_bytes": b})
        elif cmd["cmd"] == "probe":
            build_layers(run, run.tracer.find("build"))
            run.set_layer("trace.bookkeeping_ms_per_op", 1e3 * run.tracer.bookkeeping_s
                          / max(1, len(run.tracer.find("build"))), "ms")
            probe_rest(run, idx, n, n)
            reply({"layer": run.layer, "attempted": run.attempted,
                   "failed": run.failed, "checks": run.checks})
        elif cmd["cmd"] == "stop":
            run.stop()
            # span times are relative to the tracer's perf_counter origin;
            # perf_counter is the system-wide monotonic clock, so the
            # origin puts them on the parent's clock
            reply({"stopped": True, "steal_frac": run.record["steal_frac"],
                   "spans": run.tracer.spans, "t0": run.tracer.t0})
            return


def build(run: Run, spawn) -> None:
    """Parent of the two build levels: local[4] and local[1], each in its
    own JVM. Both start and write their corpus side by side; the local[4]
    set-up units are timed after that, while the local[1] level idles;
    then both are warmed up and measured in alternation, one build at a
    time, so each level's builds span the whole window (host speed
    drifts over seconds)."""
    env = run.record["env_s"]
    t0 = time.perf_counter()
    hi, lo = spawn(MASTER_CORES), spawn(1)
    try:
        started = {c: p.recv() for c, p in ((MASTER_CORES, hi), (1, lo))}
        env["levels_started"] = time.perf_counter() - t0
        setup = hi.ask({"cmd": "setup"})
        for p in (hi, lo):
            p.send({"cmd": "prepare"})
        prepared = {c: p.recv() for c, p in ((MASTER_CORES, hi), (1, lo))}
        t_since = time.perf_counter()
        env["levels_ready"] = t_since - t0
        res = {MASTER_CORES: {"builds": []}, 1: {"builds": []}}
        while time.perf_counter() - t_since < run.seconds or not res[1]["builds"]:
            for c, p in ((MASTER_CORES, hi), (1, lo)):
                r = p.ask({"cmd": "measure"})
                res[c] = dict(r, builds=res[c]["builds"] + [r["build"]])
        res_hi, res_lo = res[MASTER_CORES], res[1]
        t_until = time.perf_counter()
        chk = hi.ask({"cmd": "check"})
        env["checks"] = time.perf_counter() - t_until
        probe = hi.ask({"cmd": "probe"}) if run.trace else None
        t1 = time.perf_counter()
        stops = [hi.ask({"cmd": "stop"}), lo.ask({"cmd": "stop"})]
        env["levels_stop"] = time.perf_counter() - t1
    finally:
        hi.close()
        lo.close()
    n = run.n(N_BUILD)
    # the local[4] level's counters after `check` (or `probe`) include
    # its builds
    last = probe if probe is not None else chk
    run.attempted = last["attempted"] + res_lo["attempted"]
    run.failed = last["failed"] + res_lo["failed"]
    run.checks = last["checks"]
    hw = [b["wall"] for b in res_hi["builds"] if b["wall"] is not None]
    lw = [b["wall"] for b in res_lo["builds"] if b["wall"] is not None]
    for b in res_hi["builds"] + res_lo["builds"]:
        if b["docs"] is not None:
            run.check("build_doc_count", b["docs"] == n, {"docs": b["docs"], "want": n})
    cbytes = started[MASTER_CORES]["content_bytes"]
    finish_e2e(run, setup["setup_walls"], hw, lw, n * len(hw), sum(hw),
               chk["index_bytes"]["total"] / cbytes)
    run.detail("build_docs_per_s", n * len(hw) / sum(hw), "1/s")
    run.detail("build_scaling_eff", (median(lw) / median(hw)) / MASTER_CORES, "ratio")
    run.detail("index_size_ratio", run.e2e["index_size_ratio"][0], "ratio")
    run.record["corpus"] = {"docs": n, "content_bytes": cbytes}
    run.record["levels"] = {f"local[{c}]": {"builds": r["builds"], "env_s": prepared[c]["env_s"],
                                            "steal_frac": s["steal_frac"]}
                            for c, r, s in ((MASTER_CORES, res_hi, stops[0]), (1, res_lo, stops[1]))}
    run.record["window_s"] = t_until - t_since
    run.record["engine_settings"] = engine_settings()
    if probe is not None:
        run.layer = {k: tuple(v) for k, v in probe["layer"].items()}
        # both levels' spans on the parent's clock (a span's parent index
        # stays one into its own level's spans); coverage of the parent's
        # measured window, which holds both levels' measure commands
        spans = [dict(s, start=s["start"] + st["t0"], end=s["end"] + st["t0"], level=c)
                 for c, st in ((MASTER_CORES, stops[0]), (1, stops[1]))
                 for s in st["spans"] if "end" in s]
        run.tracer.spans = spans
        run.set_layer("trace.span_coverage", run.tracer.coverage(t_since, t_until), "ratio")


WORKLOADS = {"build": build, "serve": serve}
