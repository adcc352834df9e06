"""Point-in-time index view — the IndexReader analogue.

Role analogue: index/DirectoryReader.java + search/IndexSearcher.java's
leafContexts: a composite, immutable view over the committed index
(manifest.json = segments_N). Stats lookups (CollectionStatistics /
TermStatistics — search/CollectionStatistics.java:51-55,
TermStatistics.java:54-56) are answered on the driver from the sorted
term dictionary, read with pyarrow: no Spark job. The postings scan is
always bucket-pruned (partition pruning on the term-hash bucket) plus
Parquet row-group pruning on the sorted `term` column — as a Spark
DataFrame (postings_for_terms) or, for the searcher's local path, as a
driver-side pyarrow read that starts no Spark job (postings_frame).
"""

from __future__ import annotations

import bisect
import json
import os
import threading

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from lucene_spark.index.layout import derived_path as _derived_path
from pyspark.sql import DataFrame, SparkSession, functions as F


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        cfg = self.manifest["config"]
        self.analyzer_name: str = cfg["analyzer"]
        # analyzer-chain drift guard (manifests that predate the field
        # skip the check): the same NAME must still mean the same chain
        for name, fp in (self.manifest.get("analyzer_chains") or {}).items():
            from lucene_spark.analysis.analyzers import analyzer_fingerprint
            try:
                cur = analyzer_fingerprint(name)
            except KeyError:
                cur = "<unregistered>"
            if cur != fp:
                import warnings
                warnings.warn(
                    f"index {index_dir!r} was built with analyzer "
                    f"{name!r} whose chain has since changed "
                    f"({fp} -> {cur}); queries may not match indexed "
                    "terms — rebuild the index or restore the original "
                    "chain", stacklevel=2)
        self.key_cols: list[str] = cfg["key_cols"]
        self.carry_cols: list[str] = cfg.get("carry_cols", [])
        self.num_buckets: int = cfg["num_buckets"]
        self.doc_count: int = int(self.manifest["doc_count"])
        self.sum_doclen: int = int(self.manifest["sum_doclen"])
        # ---- per-field schema (manifest v3); v2 manifests synthesize a
        # single field named after content_col ----
        self.fields: list[dict] = cfg.get("fields") or [{
            "name": cfg["content_col"], "source_col": cfg["content_col"],
            "analyzer": cfg["analyzer"],
            "index_positions": bool(cfg.get("index_positions", False)),
        }]
        self.default_field: str = cfg.get("default_field", self.fields[0]["name"])
        self.field_by_name: dict[str, dict] = {f["name"]: f for f in self.fields}
        # per-field CollectionStatistics (docCount, sumTotalTermFreq) —
        # search/CollectionStatistics.java:51-55; falls back to the global
        # maxDoc/sum_doclen pair for v2 manifests
        self.field_stats: dict[str, dict] = self.manifest.get("field_stats") or {
            self.default_field: {"doc_count": self.doc_count,
                                 "sum_ttf": self.sum_doclen}}
        self._hot_postings: DataFrame | None = None
        self._hot_postings_parts: int | None = None
        self._dict_arrays_cache: dict[str, tuple | None] = {}
        self._dict_lock = threading.Lock()

    def cache_postings(self, num_partitions: int = 32) -> DataFrame:
        """Pin the postings frame in executor memory, pre-partitioned by
        part_id — the serving steady state. Lucene leans on the OS page
        cache for exactly this (NRT searchers keep segment files hot;
        store/MMapDirectory.java is the default for that reason); the
        Spark-native equivalent is an explicit persist. Two per-batch
        costs disappear: the parquet scan (term filters now run over
        in-memory columnar batches) and the per-query part_id shuffle
        (filters preserve the cached partitioning, so the scoring kernel
        consumes it directly). MEMORY_AND_DISK: under memory pressure
        blocks spill to local disk rather than recompute from source —
        at the 100 TB design point this is per-executor hot-shard
        residency, with the cold tail served from the parquet path."""
        from pyspark import StorageLevel

        if self._hot_postings is None:
            self._hot_postings = (
                self.postings()
                .repartition(num_partitions, "part_id")
                .persist(StorageLevel.MEMORY_AND_DISK))
            self._hot_postings.count()
            self._hot_postings_parts = num_partitions
        return self._hot_postings

    @property
    def postings_partitions(self) -> int | None:
        """Partition count of the pinned postings frame (None when not
        cached) — part of the worker decoded-cache key: the same rows
        under a different partitioning land in different partitionIds."""
        return self._hot_postings_parts if self._hot_postings is not None else None

    def uncache_postings(self) -> None:
        if self._hot_postings is not None:
            self._hot_postings.unpersist()
            self._hot_postings = None
            self._hot_postings_parts = None

    @property
    def postings_cached(self) -> bool:
        return self._hot_postings is not None

    def field_positions(self, field: str) -> bool:
        f = self.field_by_name.get(field)
        return bool(f and f.get("index_positions"))

    def field_analyzer_name(self, field: str) -> str:
        f = self.field_by_name.get(field)
        return f["analyzer"] if f else self.analyzer_name

    @property
    def has_positions(self) -> bool:
        return self.field_positions(self.default_field)

    @property
    def index_sort(self) -> tuple[str, ...]:
        """Index-time sort columns (IndexWriterConfig.setIndexSort role;
        empty = unsorted). When set, docstats row order within each
        partition follows these columns, so range/sort queries on them
        get Parquet row-group min/max pruning — the sorted-segment
        early-termination analogue."""
        return tuple(self.manifest["config"].get("sort_by", ()))

    # ---- DataFrames ------------------------------------------------------
    def postings(self) -> DataFrame:
        return self._with_field(
            self.spark.read.parquet(_derived_path(self.index_dir,
                                                  self.manifest, "postings")))

    def _with_field(self, df: DataFrame) -> DataFrame:
        """v2-manifest compatibility: indexes written before the
        multi-field layout have no `field` column — inject the synthesized
        default so every (field, term)-keyed read path works unchanged."""
        if "field" not in df.columns:
            df = df.withColumn("field", F.lit(self.default_field))
        return df

    def termdict(self) -> DataFrame:
        return self._with_field(
            self.spark.read.parquet(_derived_path(self.index_dir,
                                                  self.manifest, "termdict")))

    def docstats(self) -> DataFrame:
        return self.spark.read.parquet(
            _derived_path(self.index_dir, self.manifest, "docstats"))

    def fieldstats(self) -> DataFrame:
        return self.spark.read.parquet(
            _derived_path(self.index_dir, self.manifest, "fieldstats"))

    def doc_values(self, field: str, base: DataFrame | None = None) -> DataFrame:
        """Numeric doc values for `field` with any committed updates
        overlaid newest-gen-wins (IndexWriter.updateNumericDocValue /
        per-segment dv update gens — see index/docvalues.py)."""
        from lucene_spark.index.docvalues import doc_values

        return doc_values(self, field, base=base)

    # ---- stats lookups (driver-side, small) ------------------------------
    def _field_dict(self, field: str | None) -> DataFrame:
        td = self.termdict()
        return td.filter(F.col("field") == (field or self.default_field))

    def _norm_terms(self, terms) -> list[tuple[str, str]]:
        """Accept bare term strings (→ default field) or (field, term)
        pairs — the library-facing convenience; internals use pairs."""
        return [(self.default_field, t) if isinstance(t, str) else tuple(t)
                for t in terms]

    # ---- driver-resident term dictionary (terms-index-in-RAM role) ------
    # Lucene keeps the term index memory-resident per segment
    # (codecs/blocktree/BlockTreeTermsReader.java FST index;
    # FieldReader holds it for the reader's lifetime). Same here, cost-
    # gated: a field whose term count fits the cap is read ONCE, with
    # pyarrow and no Spark job, into sorted driver arrays; after that
    # every dictionary expansion (prefix/wildcard/regexp/range/fuzzy)
    # and term-stats lookup is a driver-side searchsorted/regex/DP.
    # Over the cap (a 100 TB corpus vocabulary is 10⁸+ terms) term_stats
    # probes the termdict files with row-group pruning and the
    # expansions fall back to the distributed scans below.
    dict_cache_max_terms: int = 1_000_000

    def _dict_arrays(self, field: str | None):
        """(terms sorted asc, term char lengths, df, cf) numpy arrays for
        `field`, or None when the field's dictionary exceeds the cap.
        count_rows takes row-group metadata where `field` min == max, else
        the `field` column; Arrow's binary sort is Spark's code-point
        order. Once per field per reader, under a lock planning threads
        share (the snapshot is immutable)."""
        f = field or self.default_field
        with self._dict_lock:
            cache = self._dict_arrays_cache
            if f in cache:
                return cache[f]
            dset = ds.dataset(_derived_path(self.index_dir, self.manifest,
                                            "termdict"), format="parquet")
            # a field-less termdict holds the default field only (_with_field)
            cond = (ds.field("field") == f if "field" in dset.schema.names
                    else ds.scalar(f == self.default_field))
            if dset.count_rows(filter=cond) > self.dict_cache_max_terms:
                cache[f] = None
                return None
            pdf = (dset.to_table(columns=["term", "df", "cf"], filter=cond)
                   .sort_by("term").to_pandas())
            terms = pdf["term"].to_numpy(dtype=object)
            lens = np.fromiter((len(t) for t in terms), dtype=np.int64,
                               count=terms.size)
            cache[f] = (terms, lens,
                        pdf["df"].to_numpy(np.int64), pdf["cf"].to_numpy(np.int64))
            return cache[f]

    @staticmethod
    def _prefix_slice(terms: np.ndarray, prefix: str) -> slice:
        """Index range of `terms` (sorted asc) starting with `prefix` —
        the FST common-prefix seek. Upper bound = the prefix's string
        SUCCESSOR (last char incremented, U+10FFFF overflow carried), so
        terms containing U+10FFFF right after the prefix are included."""
        lo = int(np.searchsorted(terms, prefix))
        succ = prefix
        while succ and succ[-1] == "\U0010ffff":
            succ = succ[:-1]
        if not succ:
            return slice(lo, terms.size)
        succ = succ[:-1] + chr(ord(succ[-1]) + 1)
        hi = int(np.searchsorted(terms, succ))
        return slice(lo, hi)

    def use_term_bloom(self) -> bool:
        """Opt into the bloom term-existence sidecar
        (index/bloom.py, BloomFilteringPostingsFormat role): term_stats
        then answers definitely-absent terms driver-side with ZERO
        Spark jobs (no false negatives — maybe-present terms fall
        through to the normal probe). Returns False when the sidecar
        was never built."""
        from lucene_spark.index.bloom import load_term_bloom

        self._term_bloom = load_term_bloom(self)
        return self._term_bloom is not None

    def term_stats(self, terms) -> dict[tuple[str, str], tuple[int, int]]:
        """(field, term) -> (df, cf); missing terms are absent from the
        result; bare strings target the default field. Results are
        memoized for the reader's lifetime (the index snapshot is
        immutable — Lucene TermStates caching per reader), so repeated
        queries over hot terms cost zero driver round-trips."""
        terms = self._norm_terms(terms)
        if not terms:
            return {}
        if not hasattr(self, "_stats_cache"):
            self._stats_cache: dict[tuple[str, str], tuple[int, int] | None] = {}
        bloom = getattr(self, "_term_bloom", None)
        if bloom is not None:
            # fast-fail for definitely-absent terms: cache the miss so
            # no Spark job ever runs for them (no false negatives, so
            # this can never hide a real term)
            for t in terms:
                if t not in self._stats_cache and \
                        not bloom.might_contain(t[0], t[1]):
                    self._stats_cache[t] = None
        todo = sorted({t for t in terms if t not in self._stats_cache})
        if todo:
            # resident-dictionary fast path: fields whose sorted term
            # arrays are in driver RAM answer by searchsorted, no job
            remain = []
            for f, t in todo:
                arr = self._dict_arrays(f)
                if arr is None:
                    remain.append((f, t))
                    continue
                tms, _, dfs, cfs = arr
                i = int(np.searchsorted(tms, t))
                self._stats_cache[(f, t)] = (
                    (int(dfs[i]), int(cfs[i]))
                    if i < tms.size and tms[i] == t else None)
            todo = remain
        if todo:
            # over-cap fields: probe the termdict files on the driver
            # (written (field, term)-sorted, so term row groups prune)
            pdf = self._pair_rows("termdict", todo)
            found = {(f, t): (int(d), int(c)) for f, t, d, c in
                     zip(pdf["field"], pdf["term"], pdf["df"], pdf["cf"])}
            for t in todo:
                self._stats_cache[t] = found.get(t)
        return {t: self._stats_cache[t] for t in terms
                if self._stats_cache.get(t) is not None}

    def _expand_memo(self, key: tuple, compute) -> list[str]:
        """Dictionary expansions are memoized for the reader's lifetime —
        the index snapshot is immutable, so a repeated prefix/fuzzy/range
        over the same dict is Lucene's cached-TermStates situation: pay
        the scan once, serve repeats driver-side. Batched serving
        (search_many) with recurring query shapes depends on this."""
        if not hasattr(self, "_expand_cache"):
            self._expand_cache: dict[tuple, list[str]] = {}
        if key not in self._expand_cache:
            self._expand_cache[key] = compute()
        return self._expand_cache[key]

    def expand_prefix(self, prefix: str, max_terms: int = 1024,
                      field: str | None = None) -> list[str]:
        """Sorted-dict prefix scan (the FST prefix→block role —
        BlockTreeTermsWriter.java:204-210); Parquet min/max row-group stats
        prune the scan because termdict is written (field, term)-sorted."""
        def compute():
            arr = self._dict_arrays(field)
            if arr is not None:
                tms = arr[0]
                return list(tms[self._prefix_slice(tms, prefix)][:max_terms])
            rows = (
                self._field_dict(field)
                .filter(F.col("term").startswith(prefix))
                .select("term").orderBy("term").limit(max_terms).collect()
            )
            return [r["term"] for r in rows]
        return self._expand_memo(("prefix", prefix, max_terms, field), compute)

    def expand_regexp(self, pattern: str, max_terms: int = 1024,
                      field: str | None = None) -> list[str]:
        def compute():
            arr = self._dict_arrays(field)
            if arr is not None:
                import re as _re

                tms = arr[0]
                # literal leading run of the pattern narrows the scan to
                # a sorted slice first (the automaton common-prefix seek,
                # CompiledAutomaton#commonSuffixRef spirit); Java-regex
                # syntax used by rlike and python re agree on the subset
                # plan.wildcard_regexp emits (literals, ., .*, escapes)
                lit = []
                i = 0
                while i < len(pattern):
                    c = pattern[i]
                    if c in r"\^$.|?*+()[]{":
                        break
                    lit.append(c)
                    i += 1
                # the char BEFORE a quantifier is not literal either
                if i < len(pattern) and pattern[i] in "?*+{" and lit:
                    lit.pop()
                # a TOP-LEVEL alternation makes any leading literal
                # unsound ('foo|bar' must also match 'bar...'): if an
                # unescaped '|' exists anywhere, scan the whole dict
                esc = False
                for c in pattern:
                    if esc:
                        esc = False
                    elif c == "\\":
                        esc = True
                    elif c == "|":
                        lit = []
                        break
                try:
                    # re.ASCII: Java's \d/\w/\s/\b are ASCII by default
                    # (java.util.regex without UNICODE_CHARACTER_CLASS);
                    # Python's are Unicode — compile ASCII so the resident
                    # fast path matches rlike's expansions exactly
                    rx = _re.compile(f"^(?:{pattern})$", _re.ASCII)
                except _re.error:
                    rx = None    # exotic Java-only syntax → distributed
                if rx is not None:
                    cand = (tms[self._prefix_slice(tms, "".join(lit))]
                            if lit else tms)
                    out = []
                    for t in cand:
                        if rx.match(t):
                            out.append(t)
                            if len(out) >= max_terms:
                                break
                    return out
            rows = (
                self._field_dict(field)
                .filter(F.col("term").rlike(f"^(?:{pattern})$"))
                .select("term").orderBy("term").limit(max_terms).collect()
            )
            return [r["term"] for r in rows]
        return self._expand_memo(("regexp", pattern, max_terms, field), compute)

    def expand_fuzzy(self, term: str, max_edits: int = 2, max_terms: int = 50,
                     field: str | None = None,
                     transpositions: bool = True) -> list[str]:
        """FuzzyQuery expansion: edit distance ≤ max_edits over the
        dictionary (search/FuzzyQuery.java). Default transpositions=True
        matches the reference default (FuzzyQuery.java:77): a swap of
        adjacent characters counts as ONE edit. The exact measure is the
        UNRESTRICTED Damerau-Levenshtein (stringdist.damerau_distance) —
        a transposition-primitive automaton accepts edits inside a
        transposed pair, unlike the OSA recurrence. Top terms by df,
        TopTermsRewrite.

        Plan shape either way: length band + JVM thresholded levenshtein
        prefilter prune the dictionary scan; the transposition-aware
        exact distance runs Arrow-batched over the surviving sliver only
        (every OSA-match has plain distance ≤ 2·max_edits, since one
        transposition costs at most two plain edits)."""
        def compute():
            tlen = len(term)
            arr = self._dict_arrays(field)
            if arr is not None:
                tms, lens, dfs, _ = arr
                band = np.flatnonzero(
                    (lens >= tlen - max_edits) & (lens <= tlen + max_edits))
                if band.size > 50_000:
                    # pure-Python DP over a huge band would be slower
                    # than the JVM thresholded-levenshtein prefilter —
                    # fall through to the distributed path
                    arr = None
            if arr is not None:
                # resident path: the length band over a capped dictionary
                # is small; exact (transposition-aware) DP runs driver-
                # side with the same measure as the distributed path
                from lucene_spark.search.stringdist import damerau_distance

                def _plain(a: str, b: str) -> int:
                    p = list(range(len(a) + 1))
                    for j, cb in enumerate(b, 1):
                        d = [j] + [0] * len(a)
                        for i, ca in enumerate(a, 1):
                            d[i] = min(d[i - 1] + 1, p[i] + 1,
                                       p[i - 1] + (ca != cb))
                        p = d
                    return p[len(a)]

                dist = damerau_distance if transpositions else _plain
                hits = [(int(dfs[i]), tms[i]) for i in band
                        if dist(tms[i], term) <= max_edits]
                hits.sort(key=lambda x: (-x[0], x[1]))
                return [t for _, t in hits[:max_terms]]
            # threshold form early-exits each comparison once the running
            # distance exceeds the bound (returns -1) — the banded-DP
            # trick a Levenshtein automaton exploits, in one JVM expression
            plain_bound = 2 * max_edits if transpositions else max_edits
            cand = (
                self._field_dict(field)
                .filter(F.length("term").between(tlen - max_edits, tlen + max_edits))
                .withColumn("ed", F.levenshtein(F.col("term"), F.lit(term),
                                                int(plain_bound)))
                .filter((F.col("ed") >= 0) & (F.col("ed") <= plain_bound))
            )
            if transpositions:
                from lucene_spark.search.stringdist import damerau_distance

                @F.pandas_udf("int")
                def _dam(terms: pd.Series) -> pd.Series:
                    return terms.map(lambda t: damerau_distance(t, term))

                cand = (cand.withColumn("ed", _dam(F.col("term")))
                        .filter(F.col("ed") <= max_edits))
            rows = (cand.orderBy(F.col("df").desc(), "term")
                    .limit(max_terms).collect())
            return [r["term"] for r in rows]
        return self._expand_memo(("fuzzy", term, max_edits, max_terms, field,
                                  transpositions), compute)

    def expand_range(
        self, lower: str | None, upper: str | None,
        include_lower: bool = True, include_upper: bool = True,
        max_terms: int = 1024, field: str | None = None,
    ) -> list[str]:
        def compute():
            arr = self._dict_arrays(field)
            if arr is not None:
                tms = arr[0]
                lo = 0 if lower is None else int(np.searchsorted(
                    tms, lower, side="left" if include_lower else "right"))
                hi = tms.size if upper is None else int(np.searchsorted(
                    tms, upper, side="right" if include_upper else "left"))
                return list(tms[lo:hi][:max_terms])
            td = self._field_dict(field)
            c = F.col("term")
            if lower is not None:
                td = td.filter(c >= lower if include_lower else c > lower)
            if upper is not None:
                td = td.filter(c <= upper if include_upper else c < upper)
            return [r["term"] for r in
                    td.select("term").orderBy("term").limit(max_terms).collect()]
        return self._expand_memo(
            ("range", lower, upper, include_lower, include_upper,
             max_terms, field), compute)

    def postings_for_terms(self, terms) -> DataFrame:
        """Bucket-pruned postings scan for a query's (field, term) set;
        bare strings target the default field."""
        from pyspark.sql.functions import col

        terms = self._norm_terms(terms)
        if not terms:
            return self.postings().limit(0)
        pairs = sorted(set(terms))
        names = sorted({t for _, t in pairs})
        if self._hot_postings is not None:
            # cached branch: term filter over in-memory columnar batches;
            # bucket pruning is meaningless here (no files to skip) and
            # the part_id partitioning is preserved for the kernel
            post = self._hot_postings.filter(col("term").isin(names))
        else:
            buckets = sorted(set(self.buckets_of(names).values()))
            post = (
                self.postings()
                .filter(col("bucket").isin(buckets))   # partition pruning
                .filter(col("term").isin(names))       # row-group pruning + filter
            )
        by_field: dict[str, list[str]] = {}
        for f, t in pairs:
            by_field.setdefault(f, []).append(t)
        if len(by_field) == 1:
            fld, _ = next(iter(by_field.items()))
            return post.filter(col("field") == fld)
        cond = None
        for fld, ts in sorted(by_field.items()):
            c = (col("field") == fld) & col("term").isin(sorted(ts))
            cond = c if cond is None else (cond | c)
        return post.filter(cond)

    def postings_frame(self, terms, part_id: int | None = None) -> pd.DataFrame:
        """The rows of postings_for_terms(terms).toPandas() (optionally
        only partition `part_id`'s), read on the driver with pyarrow — no
        Spark job; the same bucket-pruned scan (see _pair_rows)."""
        return self._pair_rows("postings", terms, part_id)

    def _pair_rows(self, name: str, terms,
                   part_id: int | None = None) -> pd.DataFrame:
        """Rows of the `name` artifact (postings or termdict) holding the
        (field, term) pairs `terms`, read with pyarrow on the driver:
        postings pruned to the terms' hive bucket=B, row groups pruned on
        the sorted `term` column, `_`/`.`-prefixed entries skipped, every
        file read (stream appends leave several). A file set without a
        `field` column holds the default field only."""
        dset = ds.dataset(_derived_path(self.index_dir, self.manifest, name),
                          format="parquet", partitioning="hive")
        has_field = "field" in dset.schema.names
        by_field: dict[str, list[str]] = {}
        for f, t in sorted(set(self._norm_terms(terms))):
            if has_field or f == self.default_field:
                by_field.setdefault(f, []).append(t)
        if not by_field:
            table = dset.schema.empty_table()
        else:
            names = sorted({t for ts in by_field.values() for t in ts})
            buckets = (ds.field("bucket").isin(
                sorted(set(self.buckets_of(names).values())))
                if name == "postings" else None)
            frags = [self._term_row_groups(f, names)
                     for f in dset.get_fragments(buckets)]
            cond = None
            for fld, ts in by_field.items():
                c = ds.field("term").isin(ts)
                if has_field:
                    c = c & (ds.field("field") == fld)
                cond = c if cond is None else (cond | c)
            if part_id is not None:
                cond = cond & (ds.field("part_id") == part_id)
            table = ds.FileSystemDataset(
                frags, dset.schema, dset.format, dset.filesystem,
            ).to_table(filter=cond)
        pdf = table.to_pandas()
        if not has_field:
            pdf["field"] = self.default_field
        return pdf

    @staticmethod
    def _term_row_groups(frag, names: list[str]):
        """`frag` narrowed to the row groups whose term [min, max] holds
        one of `names` (sorted): the row-group pruning the term-sorted
        bucket files afford. pyarrow's own statistics pruning skips isin
        filters; row groups without term statistics are kept."""
        keep = []
        for rg in frag.row_groups:
            st = rg.statistics.get("term")
            i = bisect.bisect_left(names, st["min"]) if st else 0
            if not st or (i < len(names) and names[i] <= st["max"]):
                keep.append(rg.id)
        return frag.subset(row_group_ids=keep)

    def buckets_of(self, terms: list[str]) -> dict[str, int]:
        """term -> bucket, matching F.pmod(F.xxhash64(term), num_buckets)
        used at build time. Computed driver-side with a bit-exact
        pure-Python XXH64 (codec/xxhash.py) — zero Spark jobs; JVM parity
        is asserted in tests over the whole dictionary."""
        from lucene_spark.codec.xxhash import bucket_of

        return {t: bucket_of(t, self.num_buckets) for t in terms}
