"""Distributed index build — the write path.

Role analogue (SURVEY.md §2.3 / §3.1):
- DocumentsWriterPerThread (index/DocumentsWriterPerThread.java:46): each
  Spark input partition independently inverts its documents into a private
  "segment" — per-partition posting lists — with NO shuffle of token data.
  This is Lucene's DWPT design point restated for Spark: ingest is
  embarrassingly parallel; only small per-term stats are shuffled later.
- flush/sort (index/FreqProxTermsWriter.java:96-101): within a partition,
  postings are sorted by (term, doc) and encoded term-at-a-time.
- postings format (codecs/lucene84/Lucene84PostingsFormat.java:184-208):
  docIDs as VByte(delta), tfs as VByte, plus per-128-doc block-max
  metadata (skip + impacts — Lucene84SkipWriter.java:219-236).
- segment merge (index/SegmentMerger.java:103-147, MultiTermsEnum): the
  global term dictionary is a `groupBy(term)` over tiny per-(term,part)
  stat rows — Spark's sort/hash shuffle IS the k-way merge; posting arrays
  themselves are NEVER concatenated across partitions (doc_id embeds
  part_id in its high bits, so per-partition lists are already globally
  ordered fragments).
- commit (index/IndexWriter.java:167-175 two-phase commit / segments_N):
  per-group lineage manifests + a final index manifest; a rerun skips
  groups whose manifest matches the source fingerprint (resumable build).

Skew handling (north rule "salted repartition of hot terms"): a hot term's
postings never converge on one reducer — they stay as per-(term, partition)
rows, and rows longer than `max_postings_per_slice` are split into ordered
slices. The only term-keyed shuffle (stats aggregation) is a sum with
map-side partial aggregation, which Spark handles skew-free.

Scale notes (100 TB design point):
- partition size is the RAM budget analogue of Lucene's 16 MB DWPT buffer
  (IndexWriterConfig.java:82): choose `partitions` so one partition's
  postings fit an executor (e.g. 256 MB of content per partition).
- `num_groups` bounds the blast radius of a failed/resumed run — each
  group is an independent job + manifest (Lucene: independent flushes).
- postings are written partitioned by a term hash bucket → query-time scans
  prune to the buckets of the queried terms (partition pruning), and
  Parquet term-filter pushdown prunes row groups within a bucket.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from lucene_spark.analysis import get_analyzer
from lucene_spark.analysis.analyzers import analyzer_fingerprint
from lucene_spark.index.layout import DERIVED_NAMES, gc_derived
from lucene_spark.codec.blocks import BLOCK_SIZE, build_block_meta
from lucene_spark.codec.vbyte import vbyte_encode, delta_encode

PART_ID_SHIFT = 40  # doc_id = part_id << 40 | local_id  (SURVEY.md §1.4)


@dataclass(frozen=True)
class FieldSpec:
    """Per-field indexing instructions — the FieldType/IndexableField role
    (document/FieldType.java, index/IndexableField.java): which source
    column feeds the field, which analyzer chain runs
    (PerFieldAnalyzerWrapper role), and the IndexOptions depth
    (index/IndexOptions.java:29-50 — positions only when needed).
    Unset values inherit the IndexConfig defaults."""
    name: str
    source_col: str | None = None      # defaults to name
    analyzer: str | None = None        # defaults to cfg.analyzer
    index_positions: bool | None = None  # defaults to cfg.index_positions


@dataclass(frozen=True)
class IndexConfig:
    key_cols: tuple[str, ...] = ("repo", "path", "commit")
    content_col: str = "content"
    analyzer: str = "code"
    partitions: int = 8               # per group; the DWPT-count analogue
    num_groups: int = 1               # independent resumable build units
    num_buckets: int = 16             # postings term-hash partition count
    block_size: int = BLOCK_SIZE
    max_postings_per_slice: int = 1 << 20   # hot-term slice cap (postings/row)
    termdict_partitions: int = 4      # sorted term-dictionary output files
    carry_cols: tuple[str, ...] = ()  # extra source cols copied into docstats
    index_positions: bool = False     # DOCS_AND_FREQS vs ..._AND_POSITIONS
                                      # (index/IndexOptions.java:29-50); BM25
                                      # needs freqs only, phrases need positions
    fields: tuple[FieldSpec, ...] = ()  # multi-field schema; () = single
                                        # field named content_col (v1 layout)
    sort_by: tuple[str, ...] = ()     # index-time sort (index/IndexSorter.java
                                      # / IndexWriterConfig.setIndexSort):
                                      # local doc_ids follow these columns
                                      # within every partition, so the
                                      # docstats sidecar is written sorted →
                                      # Parquet row-group min/max pruning on
                                      # the sort column is the
                                      # sorted-segment early-termination
                                      # analogue (TopFieldCollector
                                      # early-exit). Columns must be key or
                                      # carry columns.
    vector_graph_fields: tuple[str, ...] = ()
                                      # carry_cols holding float vectors to
                                      # build INDEX-TIME graph sidecars for
                                      # (index/vecgraph.py — the
                                      # Lucene90VectorWriter .vec role):
                                      # search never builds graphs lazily

    def field_specs(self) -> tuple[FieldSpec, ...]:
        """Resolved per-field specs; the FIRST field is the default search
        field (classic QP default-field role). Empty `fields` collapses to
        one field named after content_col — the single-field fast path."""
        specs = self.fields or (FieldSpec(name=self.content_col,
                                          source_col=self.content_col),)
        return tuple(
            FieldSpec(
                name=f.name,
                source_col=f.source_col or f.name,
                analyzer=f.analyzer or self.analyzer,
                index_positions=self.index_positions if f.index_positions is None
                else f.index_positions,
            )
            for f in specs
        )

    @property
    def default_field(self) -> str:
        return self.field_specs()[0].name


def _raw_schema(src_schema: T.StructType, cfg: IndexConfig) -> T.StructType:
    key_fields = [T.StructField(f.name, f.dataType, True) for f in src_schema.fields
                  if f.name in cfg.key_cols + cfg.carry_cols]
    arr = T.ArrayType(T.LongType())
    return T.StructType(
        [T.StructField("kind", T.StringType(), False)]
        + key_fields
        + [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("doclen", T.LongType(), True),
            # per-field doc lengths in cfg.fields order (the per-field
            # norms channel, codecs/lucene80/Lucene80NormsFormat.java:37-68
            # — exact int64 instead of the lossy byte4); only written for
            # multi-field configs (single field: doclen IS the field len)
            T.StructField("field_lens", arr, True),
            T.StructField("sha256", T.StringType(), True),
            T.StructField("field", T.StringType(), True),
            T.StructField("term", T.StringType(), True),
            T.StructField("part_id", T.IntegerType(), True),
            T.StructField("slice", T.IntegerType(), True),
            T.StructField("local_df", T.LongType(), True),
            T.StructField("local_cf", T.LongType(), True),
            T.StructField("doc_blob", T.BinaryType(), True),
            T.StructField("tf_blob", T.BinaryType(), True),
            T.StructField("dl_blob", T.BinaryType(), True),
            T.StructField("pos_blob", T.BinaryType(), True),
            T.StructField("pay_blob", T.BinaryType(), True),
            T.StructField("block_last", arr, True),
            T.StructField("block_max_tf", arr, True),
            T.StructField("block_min_dl", arr, True),
        ]
    )


def _flush_field(
    term_chunks: list[np.ndarray],
    doc_chunks: list[np.ndarray],
    pos_chunks: list[np.ndarray],
    dl_chunks: list[np.ndarray],
    part_id: int,
    cfg: IndexConfig,
    with_pos: bool,
    pay_chunks: list[np.ndarray] | None = None,
) -> pd.DataFrame:
    """Flush one field's accumulated token stream into encoded posting
    records: factorize terms → sort (term, doc, pos) triples → run-length
    tf + per-term encode (FreqProxTermsWriter.sortTerms analogue,
    index/FreqProxTermsWriter.java:96-101) — all vectorized numpy.
    pay_chunks: optional per-occurrence float32 payloads aligned with
    pos_chunks (the .pay channel of Lucene84PostingsFormat.java:241-330);
    stored as raw float32 bytes parallel to the positions stream."""
    terms_flat = np.concatenate(term_chunks)
    docs_flat = np.concatenate(doc_chunks)
    pos_flat = np.concatenate(pos_chunks) if with_pos else None
    pay_flat = (np.concatenate(pay_chunks).astype(np.float32)
                if pay_chunks is not None else None)
    doclen_by_id = np.concatenate(dl_chunks)

    codes, uniq = pd.factorize(terms_flat, sort=False)
    term_order = np.argsort(uniq)                 # lexicographic term rank
    rank_of_code = np.empty(uniq.size, dtype=np.int64)
    rank_of_code[term_order] = np.arange(uniq.size)
    skey = rank_of_code[codes]
    uniq_sorted = uniq[term_order]

    if with_pos:
        order = np.lexsort((pos_flat, docs_flat, skey))
        pos_flat = pos_flat[order]
        if pay_flat is not None:
            pay_flat = pay_flat[order]
    else:
        order = np.lexsort((docs_flat, skey))
    skey = skey[order]
    docs_flat = docs_flat[order]

    # run boundaries = (term, doc) groups; run length = tf
    nflat = skey.size
    newrun = np.empty(nflat, dtype=bool)
    newrun[0] = True
    np.logical_or(skey[1:] != skey[:-1], docs_flat[1:] != docs_flat[:-1],
                  out=newrun[1:])
    run_starts = np.flatnonzero(newrun)
    run_ends = np.append(run_starts[1:], nflat)
    tfs = run_ends - run_starts
    run_term = skey[run_starts]
    run_doc_local = docs_flat[run_starts]
    dls = doclen_by_id[run_doc_local]
    docs = (np.int64(part_id) << PART_ID_SHIFT) | run_doc_local

    if with_pos:
        # per-run delta encoding with absolute first position; decode
        # splits by tf (Lucene .pos file: pos deltas per (term,doc),
        # codecs/lucene84/Lucene84PostingsFormat.java:241-330)
        pos_delta = np.diff(pos_flat, prepend=np.int64(0))
        pos_delta[run_starts] = pos_flat[run_starts]

    # per-term boundaries over runs
    nruns = run_term.size
    newterm = np.empty(nruns, dtype=bool)
    newterm[0] = True
    newterm[1:] = run_term[1:] != run_term[:-1]
    t_starts = np.flatnonzero(newterm)
    t_bounds = np.append(t_starts, nruns)
    tf_cum = np.append(np.int64(0), np.cumsum(tfs))  # run -> flat offset

    cap = cfg.max_postings_per_slice
    recs: dict[str, list] = {k: [] for k in (
        "term", "slice", "local_df", "local_cf", "doc_blob", "tf_blob",
        "dl_blob", "pos_blob", "pay_blob", "block_last", "block_max_tf",
        "block_min_dl")}
    for i in range(t_starts.size):
        lo, hi = int(t_bounds[i]), int(t_bounds[i + 1])
        term_str = uniq_sorted[run_term[lo]]
        s = 0
        for off in range(lo, hi, cap):
            end = min(off + cap, hi)
            d, t, l = docs[off:end], tfs[off:end], dls[off:end]
            bl, bmt, bmd = build_block_meta(d, t, l, cfg.block_size)
            recs["term"].append(term_str)
            recs["slice"].append(s)
            recs["local_df"].append(end - off)
            recs["local_cf"].append(int(t.sum()))
            recs["doc_blob"].append(vbyte_encode(delta_encode(d)))
            recs["tf_blob"].append(vbyte_encode(t))
            recs["dl_blob"].append(vbyte_encode(l))
            recs["pos_blob"].append(
                vbyte_encode(pos_delta[tf_cum[off]:tf_cum[end]]) if with_pos else None
            )
            recs["pay_blob"].append(
                pay_flat[tf_cum[off]:tf_cum[end]].tobytes()
                if pay_flat is not None else None
            )
            recs["block_last"].append(bl.tolist())
            recs["block_max_tf"].append(bmt.tolist())
            recs["block_min_dl"].append(bmd.tolist())
            s += 1
    return pd.DataFrame(recs)


def _invert_partition(
    batches: Iterator[pd.DataFrame],
    cfg: IndexConfig,
    group_id: int,
    partitions_per_group: int,
    key_and_carry: list[str],
) -> Iterator[pd.DataFrame]:
    """Per-partition segment build (DWPT + flush analogue). Runs once per
    Spark partition inside mapInPandas; all math is vectorized
    pandas/numpy — no per-row Python in the hot path. Each configured
    field is inverted independently with its own analyzer/IndexOptions
    (IndexingChain.processField per-field loop, index/IndexingChain.java)."""
    from pyspark import TaskContext

    specs = cfg.field_specs()
    analyzers = {f.name: get_analyzer(f.analyzer) for f in specs}
    tc = TaskContext.get()
    local_pid = tc.partitionId() if tc is not None else 0
    part_id = group_id * partitions_per_group + local_pid

    local_id = 0
    acc: dict[str, dict[str, list]] = {
        f.name: {"terms": [], "docs": [], "pos": [], "pays": [], "dls": []}
        for f in specs
    }
    doc_rows: list[pd.DataFrame] = []

    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids = np.arange(local_id, local_id + n, dtype=np.int64)
        doclen_total = np.zeros(n, dtype=np.int64)
        batch_field_lens: list[np.ndarray] = []
        for spec in specs:
            analyzer = analyzers[spec.name]
            with_pay = analyzer.payload_delimiter is not None
            with_pos = spec.index_positions or with_pay   # payloads ride .pos
            pays = None
            if with_pay:
                toks, poss, pays = analyzer.tokenize_with_positions_payloads(
                    pdf[spec.source_col])
            elif with_pos:
                toks, poss = analyzer.tokenize_with_positions(pdf[spec.source_col])
            else:
                toks = analyzer.tokenize_series(pdf[spec.source_col])
                poss = None
            counts = toks.map(len).to_numpy(dtype=np.int64)
            doclen_total += counts
            batch_field_lens.append(counts)
            a = acc[spec.name]
            a["dls"].append(counts)
            if counts.sum():
                import itertools

                flat_terms = np.array(
                    list(itertools.chain.from_iterable(toks.tolist())), dtype=object
                )
                a["terms"].append(flat_terms)
                a["docs"].append(np.repeat(ids, counts))
                if with_pos:
                    a["pos"].append(np.fromiter(
                        itertools.chain.from_iterable(poss.tolist()),
                        dtype=np.int64, count=int(counts.sum())))
                if pays is not None:
                    a["pays"].append(np.fromiter(
                        itertools.chain.from_iterable(pays.tolist()),
                        dtype=np.float32, count=int(counts.sum())))

        # docstats rows for this batch; doclen = total indexed tokens
        # across fields (per-field lengths live in the posting dl blobs)
        drow = pdf[key_and_carry].copy()
        drow["doc_id"] = (np.int64(part_id) << PART_ID_SHIFT) | ids
        drow["doclen"] = doclen_total
        if len(specs) > 1:
            # per-field norms sidecar (CombinedFieldQuery needs dl_f for
            # every query field per doc); single-field skips it — doclen
            # IS the field length, and the hot build path stays list-free
            drow["field_lens"] = np.stack(batch_field_lens, axis=1).tolist()
        drow["sha256"] = pdf["__sha256"].to_numpy()
        doc_rows.append(drow)
        local_id += n

    out_frames: list[pd.DataFrame] = []
    fstat_rows: list[tuple[str, int, int]] = []   # (field, docs_with_field, sum_tf)
    for spec in specs:
        a = acc[spec.name]
        if a["dls"]:
            field_dls = np.concatenate(a["dls"])
            # per-field collection stats: docCount = docs with ≥1 term for
            # the field (Terms.getDocCount), sumTotalTermFreq = Σ tf —
            # search/CollectionStatistics.java:51-55
            fstat_rows.append((spec.name,
                               int(np.count_nonzero(field_dls)),
                               int(field_dls.sum())))
        if a["terms"]:
            an = analyzers[spec.name]
            pf = _flush_field(a["terms"], a["docs"], a["pos"], a["dls"],
                              part_id, cfg,
                              spec.index_positions
                              or an.payload_delimiter is not None,
                              pay_chunks=a["pays"] if a["pays"] else None)
            pf["kind"] = "posting"
            pf["field"] = spec.name
            pf["part_id"] = np.int32(part_id)
            out_frames.append(pf)

    if fstat_rows:
        fs = pd.DataFrame(fstat_rows, columns=["field", "local_df", "local_cf"])
        fs["kind"] = "fieldstat"
        fs["part_id"] = np.int32(part_id)
        out_frames.append(fs)
    if doc_rows:
        df_doc = pd.concat(doc_rows, ignore_index=True)
        df_doc["kind"] = "docstat"
        out_frames.append(df_doc)

    all_cols = ["kind"] + key_and_carry + [
        "doc_id", "doclen", "field_lens", "sha256", "field", "term", "part_id", "slice",
        "local_df", "local_cf", "doc_blob", "tf_blob", "dl_blob", "pos_blob",
        "pay_blob", "block_last", "block_max_tf", "block_min_dl"]
    for f in out_frames:
        for c in all_cols:
            if c not in f.columns:
                f[c] = None
        yield f[all_cols]


class IndexBuilder:
    def __init__(self, spark: SparkSession, cfg: IndexConfig | None = None):
        self.spark = spark
        self.cfg = cfg or IndexConfig()

    # -- lineage helpers ---------------------------------------------------
    def _manifest_path(self, index_dir: str, group: int) -> str:
        return os.path.join(index_dir, "parts", f"group-{group:05d}.json")

    def _source_fingerprint(self, source: DataFrame) -> str:
        """Cheap deterministic fingerprint of the source snapshot: schema +
        input file listing (an Iceberg snapshot id would be used when
        available). File-backed sources need no Spark job; in-memory
        sources fall back to a count."""
        try:
            files = sorted(source.inputFiles())
        except Exception:
            files = []
        tag = "|".join(files) if files else f"count={source.count()}"
        return hashlib.sha256(f"{source.schema.json()}|{tag}".encode()).hexdigest()[:16]

    # -- build -------------------------------------------------------------
    def build(self, source: DataFrame, index_dir: str, overwrite: bool = False) -> dict:
        """Build (or resume) the full index under `index_dir`.

        Layout:
          raw/group=G/            per-group segment output (postings+docstats union)
          postings/bucket=B/      query-facing postings, term-hash partitioned
          termdict/               sorted global term dictionary
          docstats/               per-doc sidecar (doclen, sha256, keys)
          fieldstats/             single-row collection stats
          parts/group-*.json      per-group lineage manifests (resume)
          manifest.json           final commit (the segments_N analogue)
        """
        cfg = self.cfg
        # a bad config fails before anything is written: vector graphs
        # are built from docstats carry columns only after the publish
        for vf in cfg.vector_graph_fields:
            if vf not in cfg.carry_cols:
                raise ValueError(
                    f"vector_graph_fields entry {vf!r} must be a "
                    "carry column")
        t0 = time.time()
        phases: dict[str, float] = {}

        def mark(name: str, since: float) -> float:
            now = time.time()
            phases[name] = round(now - since, 3)
            return now

        if overwrite and os.path.isdir(index_dir):
            import shutil

            shutil.rmtree(index_dir)
        os.makedirs(os.path.join(index_dir, "parts"), exist_ok=True)
        fp = self._source_fingerprint(source)
        t = mark("fingerprint", t0)

        key_and_carry = [c for c in source.columns if c in cfg.key_cols + cfg.carry_cols]
        field_srcs = [s.source_col for s in cfg.field_specs()]
        cols = list(dict.fromkeys(key_and_carry + field_srcs))  # each col once
        src = source.select(
            *cols,
            F.sha2(F.col(cfg.content_col), 256).alias("__sha256"),  # JVM-side invariant hash
        )
        schema = _raw_schema(src.schema, cfg)

        built_groups = []
        for g in range(cfg.num_groups):
            mpath = self._manifest_path(index_dir, g)
            if os.path.exists(mpath):
                with open(mpath) as fh:
                    m = json.load(fh)
                if m.get("source_fingerprint") == fp and m.get("status") == "done":
                    built_groups.append(m)
                    continue  # resume: group already built for this snapshot
            m = self._build_group(src, index_dir, g, fp, schema, key_and_carry)
            built_groups.append(m)
        t = mark("segments", t)

        # ---- merge stage: the SegmentMerger analogue ----
        # One postings shuffle redistributes per-partition segment rows into
        # term-hash buckets (sorted by term within each bucket) — this is
        # the merge that Lucene also pays (SegmentMerger/TieredMergePolicy
        # rewrite segments repeatedly; we pay exactly one pass). Bucketed +
        # term-sorted layout gives query-time partition pruning on the
        # bucket dir plus Parquet row-group pruning on term. We deliberately
        # do NOT write one file per (task, bucket) from the segment stage:
        # dynamic-partition writes explode into tasks×buckets small files,
        # which murders both the filesystem and every downstream listing.
        raw = self.spark.read.parquet(os.path.join(index_dir, "raw"))

        # The four merge outputs (bucketed postings, term dictionary,
        # docstats sidecar, lineage/collection stats) are INDEPENDENT reads
        # of raw/ — submitted concurrently from threads so the scheduler
        # interleaves them (on a cluster these small jobs would otherwise
        # serialize driver round-trips; the ConcurrentMergeScheduler role,
        # index/ConcurrentMergeScheduler.java).
        def job_postings():
            postings = (
                raw.filter(F.col("kind") == "posting")
                .select("field", "term", "part_id", "slice", "local_df", "local_cf",
                        "doc_blob", "tf_blob", "dl_blob", "pos_blob", "pay_blob",
                        "block_last", "block_max_tf", "block_min_dl")
                .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(cfg.num_buckets)).cast("int"))
            )
            (
                postings.repartition(cfg.num_buckets, "bucket")
                .sortWithinPartitions("term", "field", "part_id", "slice")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(index_dir, "postings.g0"))
            )

        def job_termdict():
            # global term dictionary: the MultiTermsEnum merge collapses to
            # a tiny stats aggregation (map-side combined; skew-immune);
            # terms are (field, term) pairs — index/Term.java
            termdict = (
                raw.filter(F.col("kind") == "posting")
                .groupBy("field", "term")
                .agg(F.sum("local_df").alias("df"), F.sum("local_cf").alias("cf"))
                .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(cfg.num_buckets)).cast("int"))
            )
            (
                termdict.repartitionByRange(cfg.termdict_partitions, "field", "term")
                .sortWithinPartitions("field", "term")
                .write.mode("overwrite")
                .parquet(os.path.join(index_dir, "termdict.g0"))
            )

        def job_docstats():
            docstats = raw.filter(F.col("kind") == "docstat").select(
                *key_and_carry, "doc_id", "doclen", "field_lens", "sha256"
            )
            docstats.write.mode("overwrite").parquet(os.path.join(index_dir, "docstats.g0"))

        def job_stats():
            # one agg job → per-group lineage metrics + per-field collection
            # stats (fieldstat rows aggregate by field; other kinds by kind)
            return (
                raw.groupBy("group", "kind", "field")
                .agg(
                    F.count("*").alias("rows"),
                    F.sum("local_df").alias("sum_local_df"),
                    F.sum("local_cf").alias("postings"),
                    F.sum("doclen").alias("tokens"),
                    F.max("local_df").alias("max_local_df"),
                    F.max("doc_id").alias("max_doc_id"),
                )
                .collect()
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as ex:
            f_post = ex.submit(job_postings)
            f_dict = ex.submit(job_termdict)
            f_doc = ex.submit(job_docstats)
            f_stat = ex.submit(job_stats)
            f_post.result()
            f_dict.result()
            f_doc.result()
            stat_rows = f_stat.result()
        t = mark("merge", t)
        by_group: dict[int, dict[str, dict]] = {}
        field_stats: dict[str, dict[str, int]] = {}
        for r in stat_rows:
            kind = r["kind"]
            if kind == "fieldstat":
                # per-field CollectionStatistics: docCount / sumTotalTermFreq
                # (search/CollectionStatistics.java:51-55), summed over
                # partitions (docs never span partitions)
                fsd = field_stats.setdefault(r["field"], {"doc_count": 0, "sum_ttf": 0})
                fsd["doc_count"] += int(r["sum_local_df"] or 0)
                fsd["sum_ttf"] += int(r["postings"] or 0)
                continue
            d = by_group.setdefault(int(r["group"]), {}).setdefault(
                kind, {"rows": 0, "postings": 0, "tokens": 0,
                       "max_local_df": 0, "max_doc_id": 0})
            d["rows"] += int(r["rows"] or 0)
            d["postings"] += int(r["postings"] or 0)
            d["tokens"] += int(r["tokens"] or 0)
            d["max_local_df"] = max(d["max_local_df"], int(r["max_local_df"] or 0))
            d["max_doc_id"] = max(d["max_doc_id"], int(r["max_doc_id"] or 0))
        fs = {
            "doc_count": sum(g.get("docstat", {}).get("rows") or 0 for g in by_group.values()),
            "sum_doclen": sum(g.get("docstat", {}).get("tokens") or 0 for g in by_group.values()),
            "max_doc_id": max((g.get("docstat", {}).get("max_doc_id") or 0) for g in by_group.values()),
        }
        self.spark.createDataFrame(
            [(f, v["doc_count"], v["sum_ttf"]) for f, v in sorted(field_stats.items())]
            or [(cfg.default_field, 0, 0)],
            "field string, doc_count long, sum_ttf long",
        ).write.mode("overwrite").parquet(os.path.join(index_dir, "fieldstats.g0"))
        t = mark("stats", t)

        # merge metrics into the per-group lineage manifests
        for m in built_groups:
            g = by_group.get(int(m["group"]), {})
            m.update(
                docs=int(g.get("docstat", {}).get("rows") or 0),
                terms_rows=int(g.get("posting", {}).get("rows") or 0),
                postings=int(g.get("posting", {}).get("postings") or 0),
                tokens=int(g.get("docstat", {}).get("tokens") or 0),
                max_local_df=int(g.get("posting", {}).get("max_local_df") or 0),
            )
            mpath = self._manifest_path(index_dir, int(m["group"]))
            tmp = mpath + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(m, fh, indent=2)
            os.replace(tmp, mpath)
        manifest = {
            "version": 3,
            "layout": 1,   # postings/ bucketed+term-sorted, docstats/ sidecar
            # versioned derived dirs (segments_N analogue): rebuilds write
            # a NEW generation and swap this map atomically with the
            # manifest, so pinned readers keep scanning the old gen
            "derived": {n: f"{n}.g0" for n in DERIVED_NAMES},
            "source_fingerprint": fp,
            # behavior fingerprints of every chain used: readers verify
            # the registry still resolves these names to the SAME chain
            # (a default-stemmer swap otherwise silently breaks
            # index/query term symmetry)
            "analyzer_chains": {
                name: analyzer_fingerprint(name)
                for name in sorted({f.analyzer or cfg.analyzer
                                    for f in cfg.field_specs()}
                                   | {cfg.analyzer})
            },
            "config": {
                "analyzer": cfg.analyzer,
                "key_cols": list(cfg.key_cols),
                "content_col": cfg.content_col,
                "num_buckets": cfg.num_buckets,
                "block_size": cfg.block_size,
                "partitions": cfg.partitions,
                "num_groups": cfg.num_groups,
                "carry_cols": list(cfg.carry_cols),
                "index_positions": cfg.index_positions,
                "fields": [
                    # record the EFFECTIVE positions flag: a payload
                    # analyzer forces the positions channel onto disk
                    # (payloads ride .pos), so the reader must report it
                    {"name": s.name, "source_col": s.source_col,
                     "analyzer": s.analyzer,
                     "index_positions": bool(
                         s.index_positions
                         or get_analyzer(s.analyzer).payload_delimiter
                         is not None)}
                    for s in cfg.field_specs()
                ],
                "default_field": cfg.default_field,
                "sort_by": list(cfg.sort_by),
            },
            "doc_count": fs.get("doc_count"),
            "sum_doclen": fs.get("sum_doclen"),
            "field_stats": field_stats,
            "groups": built_groups,
            "phases": phases,
            "build_seconds": round(time.time() - t0, 3),
            "status": "done",
        }
        # two-phase publish: write tmp then atomic rename (commit() analogue,
        # index/IndexWriter.java:3341-3355 / SegmentInfos.finishCommit)
        tmp = os.path.join(index_dir, "manifest.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(tmp, os.path.join(index_dir, "manifest.json"))
        # a re-build over a previously compacted index resets the map to
        # g0 — retire any higher-numbered generations, but with the age
        # grace: the highest of them was the PREVIOUS manifest's current
        # generation, and a pinned reader may still be scanning it
        gc_derived(index_dir, manifest)
        # vector fields get their graph sidecar at INDEX time (the flush
        # that writes .vec in Lucene90VectorWriter) — the query path then
        # only ever decodes stored graphs
        if cfg.vector_graph_fields:
            from lucene_spark.index.reader import IndexReader
            from lucene_spark.index.vecgraph import build_vector_graphs

            r = IndexReader(self.spark, index_dir)
            for vf in cfg.vector_graph_fields:
                build_vector_graphs(r, vf)
        return manifest

    def _build_group(
        self,
        src: DataFrame,
        index_dir: str,
        group: int,
        fp: str,
        schema: T.StructType,
        key_and_carry: list[str],
    ) -> dict:
        cfg = self.cfg
        t0 = time.time()
        part = src
        if cfg.num_groups > 1:
            gcol = F.pmod(F.xxhash64(*[F.col(c) for c in cfg.key_cols]), F.lit(cfg.num_groups))
            part = src.filter(gcol == group)
        # deterministic placement: hash-repartition on keys, then fix the
        # row order inside every partition (doc_id reproducibility —
        # SURVEY.md §7.3 item 3). With an index-time sort
        # (IndexWriterConfig.setIndexSort role) the sort columns lead and
        # the keys remain as the unique tie-break, so doc_id order within
        # a partition follows the sort field and the docstats parquet
        # carries correlated row-group min/max on it.
        if cfg.sort_by:
            missing = [c for c in cfg.sort_by
                       if c not in cfg.key_cols + cfg.carry_cols]
            if missing:
                raise ValueError(
                    f"sort_by columns must be key or carry columns: {missing}")
        part = part.repartition(cfg.partitions, *[F.col(c) for c in cfg.key_cols]) \
                   .sortWithinPartitions(*cfg.sort_by, *cfg.key_cols)

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            return _invert_partition(batches, cfg, group, cfg.partitions, key_and_carry)

        raw = part.mapInPandas(fn, schema=schema)
        out = os.path.join(index_dir, "raw", f"group={group}")
        raw.write.mode("overwrite").parquet(out)

        # lineage record; detailed metrics are filled by the single global
        # stats pass in build() (one job for all groups instead of one per
        # group)
        m = {
            "group": group,
            "source_fingerprint": fp,
            "status": "done",
            "seconds": round(time.time() - t0, 3),
        }
        mpath = self._manifest_path(index_dir, group)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh, indent=2)
        os.replace(tmp, mpath)
        return m
