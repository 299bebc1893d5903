"""Index build pipeline — the Spark re-expression of oscar-create.

Reference pipeline being re-expressed (not ported):
`OsmKeyValueObjectStore::populate` → score-sort docID assignment
(reference/oscar-create/OsmKeyValueObjectStore.cpp:1190-1214,1339-1399)
→ CellTextCompleter 5-pass in-memory / OOM external-sort index build
(reference/oscar-create/CellTextCompleter.h:774-1113,
reference/oscar-create/readwritefuncs.cpp:340-394).

Spark plan (one declarative DAG; Catalyst handles what oscar hand-built):

    pages ──mapInPandas (tokenize+tf, map-side combine)──▶ tokens parquet
      │        (checkpointed ONCE; both stages below re-read it)
      └─▶ doc_stats: range-partitioned quality sort → doc_id
                                     ◀── broadcast join(url) while small
                                                            │
    repartition(term, range_id) + sortWithinPartitions ──▶ encode
        range_id = doc_id // RANGE_SIZE  ◀── the salt: EVERY encode
        group is bounded by RANGE_SIZE docs, so head terms (df ≈ N) are
        split into N/RANGE_SIZE bounded groups instead of one giant
        reducer — the mandated two-phase skew strategy.  Phase 2 (merge
        partial runs into globally-numbered blocks + df + block-max) is
        one small repartition(bucket) over the ~rows/BLOCK_SIZE blocks
        stream, in the same job.
                                                            │
    write doc_stats / terms / postings (+ lineage, manifest commits)

Scale notes (100 TB / 10^12 docs):
- The only global ordering is docID assignment: per-partition contiguous
  ranges over pinned repartitionByRange partitions with base offsets
  from a collected partition manifest (docids.assign_doc_ids_ranged) —
  no single-partition stage at any scale.  There is no global term
  dictionary: terms shuffle as their (short) strings and are
  factorized to local codes inside the encoder, so nothing about the
  vocabulary size ever concentrates on one partition or the driver.
- tf aggregation happens INSIDE the tokenize UDF (pandas value_counts per
  doc), so the big shuffle moves (term, doc, tf) rows, not raw tokens —
  the map-side-combine analog of oscar's per-thread MatchDesc hash
  (reference/oscar-create/CellTextCompleter.h:167-199).
- encode groups are (term, range_id): bounded memory regardless of term
  skew; blocks within a group are ≤ BLOCK_SIZE docs.
- All UDFs are Arrow-vectorized (mapInPandas/mapInArrow); the BM25
  expression and every join/agg stay JVM-side.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oscar_spark.build.docids import assign_doc_ids_ranged
from oscar_spark.config import (BLOCK_SIZE, BROADCAST_DOCID_MAX,
                                NUM_TERM_BUCKETS, RANGE_SIZE)
from oscar_spark.functions.bm25 import bm25_sql
from oscar_spark.functions.codec import PAYLOAD_FORMAT, encode_runs
from oscar_spark.functions.extract import extract_series
from oscar_spark.sources.tables import IndexStore
from oscar_spark.timing import StageClock

TOKENS_SCHEMA = "url string, term string, tf int, dl int"
# positional build: per-(doc, term) occurrence positions in the
# FILTERED token stream (short tokens dropped before numbering — the
# same rule tokens_pos/the oracle use, so adjacency agrees everywhere)
TOKENS_POS_SCHEMA = TOKENS_SCHEMA + ", pos array<int>"
# the big shuffle carries the term STRING, not a dictionary id: web
# vocabulary terms are short (≈7 bytes, about an int64), so a global
# term→tid dictionary would trade a SECOND full scan of the token table
# (distinct), a global id-assignment pass, and two joins for ~zero
# shuffle-byte savings — and its id assignment was the build's one
# single-partition stage.  The heavy string (url, ~55 bytes) IS still
# dropped pre-shuffle via the doc_id join.  Inside the encoder the
# strings are factorized to local int codes per partition (a C hash
# pass), so group-boundary detection stays int64.
BLOCKS_SCHEMA = (
    "term string, range_id long, first_doc long, last_doc long, "
    "doc_count int, max_tf int, min_dl int, payload binary"
)
BLOCKS_POS_SCHEMA = BLOCKS_SCHEMA + ", pos_payload binary"


def _tokenize_batches(batches: Iterator[pd.DataFrame],
                      with_positions: bool = False,
                      field_cols: tuple[str, ...] = ()) -> Iterator[pd.DataFrame]:
    """(url, text[, fields…]) batches → (url, term, tf, dl[, pos]) with
    per-doc tf combine; with_positions adds each (doc, term)'s
    occurrence-position list (int32, strictly increasing); field_cols
    additionally emits one composite `key:value` token per doc per
    field (tf=1, position FIELD_POS_BASE+j) — the @key:value fielded
    terms of reference/oscar-create/TextSearchTraits.h:108, yielded as
    a separate small batch so the main path keeps its Arrow dictionary
    encoding.

    Arrow-native end to end: tokenize_flat keeps every token occurrence
    in Arrow C++ memory (dictionary codes), the per-(doc, term) tf
    groupby is a stable sort on a fused int64 key, and both output
    string columns leave as pandas Categoricals — Arrow serializes
    those as dictionary arrays, so at no point do the ~200 tokens/doc
    exist as Python objects.  (The previous shape flattened to a Python
    list + object-dtype factorize; it made tokenize the build's most
    allocation/bandwidth-hungry stage and capped its N→4N scaling.)
    """
    from oscar_spark.functions.tokenize import tokenize_flat
    for pdf in batches:
        codes, uniq, doc_idx, counts = tokenize_flat(pdf["text"])
        n_uniq = max(len(uniq), 1)
        key = doc_idx * n_uniq + codes
        order = np.argsort(key, kind="stable")
        sk = key[order]
        starts = np.flatnonzero(
            np.concatenate(([True], sk[1:] != sk[:-1]))) \
            if len(sk) else np.empty(0, dtype=np.int64)
        tf_cnt = np.diff(np.append(starts, len(sk))).astype("int32")
        gi = sk[starts] // n_uniq
        gc = sk[starts] % n_uniq
        # r06: ONE NULL-term marker row (categorical code -1, tf=0) per
        # doc — not just per EMPTY doc as before — carrying the doc's
        # dl.  doc_stats then derives per-doc lengths with a cheap
        # `term IS NULL` filter over these ~1% extra rows instead of a
        # full re-aggregation pass over the whole token table (guide
        # §2.3/§2.4 — the groupBy(url) and its exchange are deleted).
        # Empty docs stay visible exactly as before: their marker is
        # their only row, so N/avgdl still count them.
        all_idx = np.arange(len(counts), dtype=np.int64)
        if len(all_idx):
            gi = np.concatenate([gi, all_idx])
            gc = np.concatenate([gc, np.full(len(all_idx), -1,
                                             dtype=gc.dtype)])
            tf_cnt = np.concatenate([tf_cnt, np.zeros(len(all_idx),
                                                      dtype="int32")])
        # factorize urls first: from_codes requires UNIQUE categories,
        # and one batch may legitimately carry the same url twice (e.g.
        # re-crawled rows — downstream groupBy("url")/left_anti treat
        # duplicates as expected input)
        ucodes, ucats = pd.factorize(pdf["url"])
        out = {
            "url": pd.Categorical.from_codes(ucodes[gi], categories=ucats),
            "term": pd.Categorical.from_codes(gc, categories=uniq),
            "tf": tf_cnt,
            "dl": counts[gi].astype("int32"),
        }
        if with_positions:
            # token position within its doc's filtered stream: tokens
            # arrive doc-grouped in order, so pos = global index − the
            # doc's start offset.  The stable sort above keeps each
            # (doc, term) group's occurrences in increasing-pos order,
            # so per-group lists are np.split at the group starts.
            dstarts = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=dstarts[1:])
            tok_pos = np.arange(len(doc_idx), dtype=np.int64) \
                - dstarts[doc_idx]
            pos_sorted = tok_pos[order]
            plists = [a.astype("int32") for a in
                      np.split(pos_sorted, starts[1:])] if len(sk) else []
            if len(all_idx):  # marker rows carry an empty position list
                plists += [np.empty(0, dtype="int32")] * len(all_idx)
            out["pos"] = plists
        yield pd.DataFrame(out)
        if field_cols and len(pdf):
            from oscar_spark.config import FIELD_POS_BASE
            from oscar_spark.functions.tokenize import (
                normalize_field_series, normalize_field_value)
            for j, fc in enumerate(field_cols):
                # the KEY goes through the same pinned normalization as
                # the parser and oracle apply (a raw column name with
                # '_' or uppercase could otherwise never be queried)
                kn = normalize_field_value(fc)
                if not kn:
                    continue
                vals = normalize_field_series(pdf[fc].astype("string"))
                keep = vals.fillna("").str.len() > 0  # null/empty: no token
                km = keep.to_numpy()
                frow = {
                    "url": pd.Categorical.from_codes(ucodes[km],
                                                     categories=ucats),
                    "term": (kn + ":" + vals[keep]).to_numpy(dtype=object),
                    "tf": np.ones(int(km.sum()), dtype="int32"),
                    "dl": counts[km].astype("int32"),
                }
                if with_positions:
                    fpos = np.array([FIELD_POS_BASE + j], dtype="int32")
                    frow["pos"] = [fpos] * int(km.sum())
                yield pd.DataFrame(frow)


def _encode_partition_arrow(batches, codec: str = "varint"):
    """Partition encoder (mapInArrow) with cross-batch carry-over.

    Input partitions are hash-partitioned on (term, range_id) and sorted
    by (term, range_id, doc_id) — the Spark shuffle IS the external sort
    (the OOMGEOCELL mapping, SURVEY §2.5 O5).  Arrow batching may split a
    group across batches, so the trailing (possibly incomplete) group of
    each unit is held back and prepended to the next; a group is at most
    RANGE_SIZE postings, so the carry buffer is bounded.

    The whole unit — group detection, delta reset, varint bytes, per-block
    (max_tf, min_dl) metadata — is one vectorized codec.encode_runs pass;
    per-block Python work is one bytes slice.  The 10^7 shuffled term
    strings NEVER materialize as Python objects: the string column is
    dictionary-encoded in C++ (one hash pass), group detection runs on
    the int codes, and the output term column is a C++ dictionary gather
    (guide §4.2: hand whole batches to native code).  A positional
    build's `pos` list column rides the same carry-over slices; its
    flattened values (list offsets are native to Arrow) feed the
    position side stream.

    Mirrors the per-cell sort + strict-monotone invariant of
    reference/oscar-create/CellTextCompleter.cpp:139-155 (makeConsistent);
    emits (max_tf, min_dl); max_score = bm25(max_tf, min_dl, df) is
    derived later on the tiny blocks table — a valid block-max upper
    bound (BM25 ↑ in tf, ↓ in dl) that keeps the per-posting pipeline
    free of any df join or score column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from oscar_spark.functions.tokenize import _pin_arrow_threads
    _pin_arrow_threads()

    def _encode(tbl: pa.Table) -> pa.RecordBatch:
        term_dict = tbl.column("term").combine_chunks().dictionary_encode()
        ids = tbl.column("doc_id").to_numpy().astype(np.int64)
        positions = (pc.list_flatten(tbl.column("pos")).to_numpy()
                     if "pos" in tbl.column_names else None)
        res = encode_runs(term_dict.indices.to_numpy().astype(np.int64),
                          ids // RANGE_SIZE, ids,
                          tbl.column("tf").to_numpy().astype(np.int64),
                          tbl.column("dl").to_numpy().astype(np.int64),
                          BLOCK_SIZE, RANGE_SIZE, codec=codec,
                          positions=positions)
        cols = {"term": term_dict.dictionary.take(pa.array(
            np.asarray(res["term"], np.int64).astype(np.int32)))}
        for c in ("range_id", "first_doc", "last_doc"):
            cols[c] = pa.array(np.asarray(res[c], np.int64))
        for c in ("doc_count", "max_tf", "min_dl"):
            cols[c] = pa.array(np.asarray(res[c], np.int64).astype(np.int32))
        for c in ("payload", "pos_payload"):
            if c in res:
                cols[c] = pa.array(list(res[c]), pa.binary())
        return pa.record_batch(cols)

    pending: list[pa.Table] = []
    buf: list[pa.RecordBatch] = []
    buf_rows = 0
    for batch in batches:
        # accumulate Arrow batches (default ~10k rows) into ~256k-row
        # units: encode_runs is one vectorized pass whose fixed cost
        # amortizes over the unit size, while the buffer stays far below
        # executor memory
        buf.append(batch)
        buf_rows += batch.num_rows
        if buf_rows < 262144:
            continue
        tbl = pa.concat_tables(
            pending + [pa.Table.from_batches(buf)]).combine_chunks()
        buf, buf_rows = [], 0
        rngs = tbl.column("doc_id").to_numpy() // RANGE_SIZE
        codes = tbl.column("term").combine_chunks().dictionary_encode() \
            .indices.to_numpy()
        last_group = (codes == codes[-1]) & (rngs == rngs[-1])
        # sorted input ⇒ the trailing group is a suffix
        cut = tbl.num_rows - int(last_group[::-1].cumprod().sum())
        pending = [tbl.slice(cut)]
        if cut:
            yield _encode(tbl.slice(0, cut))
    tails = pending + ([pa.Table.from_batches(buf)] if buf else [])
    if tails:
        tail = pa.concat_tables(tails).combine_chunks()
        if tail.num_rows:
            yield _encode(tail)


_FINAL_COLS = ["bucket", "term", "block_id", "range_id", "first_doc",
               "last_doc", "doc_count", "max_tf", "min_dl", "max_score",
               "payload"]


def _final_blocks(spark: SparkSession, tokens: DataFrame,
                  doc_stats: DataFrame, n_ids: int, n_corpus: int,
                  avgdl: float, codec: str,
                  positions: bool = False,
                  urls_closed: bool = False) -> DataFrame:
    """tokens + doc ids → finalized posting-block DataFrame.

    Shared by the full build (n_ids == n_corpus) and the incremental
    append, which runs it over the NEW segment's tokens/doc ids only
    (n_ids = new docs, sizing the join; n_corpus/avgdl = whole corpus,
    feeding the stored max_score diagnostic).

    urls_closed: the caller guarantees every token url appears in
    doc_stats (true for the full build, whose doc_stats derives from
    the same token table; FALSE for the append path, which relies on
    the inner join dropping re-crawled urls' orphan tokens).  Only a
    closed caller may take the hashed-probe join below.
    """
    doc_ids = doc_stats.select("url", "doc_id")
    hash_probe = False
    if n_ids <= BROADCAST_DOCID_MAX:
        # url→doc_id fits comfortably in a broadcast: the big token
        # table then shuffles ONCE (by term,range) instead of twice.
        # r06 session 3 (guide §2.3 "narrower types" applied to the
        # join key): probing a LONG-keyed map beats hashing + equality
        # on ~55-byte url strings per posting row (A/B at 100k pages:
        # join phase 0.83s → 0.24s wall).  EXACT under two conditions,
        # both enforced: (1) the doc-side xxhash64(url) values are
        # distinct — checked below with one column-pruned aggregate
        # over the slim doc_stats table (collision ⇒ fall back to the
        # string join, so correctness never rests on probability);
        # (2) token urls ⊆ doc urls (urls_closed) — otherwise an
        # orphan token url could hash-collide into a WRONG doc_id
        # instead of being dropped, so open callers (append) keep the
        # string join.
        if urls_closed:
            r = doc_stats.select(
                F.countDistinct(F.xxhash64("url")).alias("h"),
                F.count("*").alias("n")).collect()[0]
            hash_probe = int(r["h"]) == int(r["n"])
        doc_ids = F.broadcast(
            doc_stats.select(F.xxhash64("url").alias("_uh"), "doc_id")
            if hash_probe else doc_ids)
    # else: plain shuffle join; at 10^12 docs the doc_id map is
    # itself big, and AQE picks the join strategy
    cols = ["term", "doc_id", "tf", "dl"] + \
        (["pos"] if positions else [])
    # url is join-only: drop it BEFORE the big shuffle (its ~55
    # string bytes per posting row would be over half the
    # shuffle/Arrow traffic).  The short term string stays — see
    # the BLOCKS_SCHEMA note for why no term dictionary.  A
    # positional build additionally carries each posting's position
    # list (~Σtf int32s — the inherent cost of a positional index).
    # r06: range_id is NOT carried as a shuffle column — it is
    # doc_id // RANGE_SIZE, so the partitioner hashes the derived
    # EXPRESSION (identical partition assignment) and the encoder
    # recomputes it per unit with one numpy divide; 8 bytes/row less
    # through the shuffle AND the Arrow boundary (guide §2.3
    # "shuffle fewer bytes").
    nn = tokens.filter(F.col("term").isNotNull())
    if hash_probe:
        postings_raw = (nn.withColumn("_uh", F.xxhash64("url"))
                        .join(doc_ids, "_uh").select(*cols))
    else:
        postings_raw = nn.join(doc_ids, "url").select(*cols)
    range_expr = (F.col("doc_id") / F.lit(RANGE_SIZE)).cast("long")
    # the one big shuffle: hash-partition by (term, range_id), sort
    # within partitions — Spark's shuffle-with-spill is the external
    # sort (O5) — then encode whole partitions with a carry-over
    # mapInArrow (per-group applyInPandas overhead dominated this
    # stage: ~115-row groups x ~ms of pandas each)
    # 4 encode tasks per core: the (term, range_id) hash is mildly
    # skewed, and coarse tasks leave cores idle behind stragglers
    n_enc = max(spark.sparkContext.defaultParallelism * 4,
                int(spark.conf.get("spark.sql.shuffle.partitions")))
    # sorting by (term, doc_id) ≡ (term, range_id, doc_id): range_id is
    # monotone in doc_id within a term
    shuffled = (postings_raw
                .repartition(n_enc, F.col("term"), range_expr)
                .sortWithinPartitions("term", "doc_id"))
    # Arrow-native encode: term strings stay in C++ buffers end to end
    # (see _encode_partition_arrow)
    blocks = shuffled.mapInArrow(
        lambda it, _c=codec: _encode_partition_arrow(it, _c),
        BLOCKS_POS_SCHEMA if positions else BLOCKS_SCHEMA)
    # phase 2 (the explicit two-phase merge) runs on the TINY blocks
    # stream (~rows/BLOCK_SIZE): per-term df, the block-max upper
    # bound, and global block numbering.  A term's blocks live wholly
    # inside its bucket, so hashpartitioning(bucket) SATISFIES the
    # (bucket, term) clustered distribution the windows below require —
    # Catalyst inserts NO further exchange, and the whole phase is pure
    # JVM: Tungsten-sorted windows + a codegen'd bm25 expression.
    # (An earlier shape ran this as a sorted-partition mapInPandas:
    # correct, but it dragged every payload byte through an Arrow
    # round-trip into Python just to annotate three metadata columns —
    # measured as the flat ~5s tail of the postings stage.)  blocks is
    # consumed exactly once, so the whole stage is ONE job with two
    # exchanges; shuffle retry covers executor loss.
    from pyspark.sql import Window
    wt = Window.partitionBy("bucket", "term")
    fcols = _FINAL_COLS + (["pos_payload"] if positions else [])
    return (
        blocks
        .withColumn("bucket", F.pmod(F.hash("term"),
                                     F.lit(NUM_TERM_BUCKETS)))
        .repartition(NUM_TERM_BUCKETS, "bucket")
        .withColumn("block_id",
                    (F.row_number().over(wt.orderBy("first_doc")) - 1)
                    .cast("int"))
        .withColumn("_df", F.sum("doc_count").over(wt))
        .withColumn("max_score", F.expr(bm25_sql(
            "max_tf", "min_dl", "_df",
            repr(float(n_corpus)), repr(float(avgdl)))))
        .select(*fcols)
    )


def _put(store: IndexStore, df: DataFrame, table: str, seg: str | None,
         partition_by: list[str] | None = None) -> None:
    """Write df as the table's base (seg None: a full rewrite) or as one
    new, not yet committed segment."""
    if seg is None:
        store.write(df, table, partition_by)
    else:
        store.write_segment(df, table, seg, partition_by)


def _stage_fingerprints(fp: str, codec: str, positions: bool,
                        fields: tuple[str, ...]) -> dict[str, str]:
    """Manifest fingerprint of each build stage over input fingerprint
    fp, in commit order.  A resume skips a stage only when its recorded
    fingerprint matches, so each one carries exactly the modes its
    output depends on:
    - tokens: positions + fields, and `|m2` = tokens-table format 2
      (per-doc NULL-term marker rows) — a store whose tokens were
      committed WITHOUT markers must re-tokenize on resume, or the
      marker-filter doc lengths would see only empty docs;
    - postings: the codec too — resume over an index committed with a
      DIFFERENT codec must rebuild, not silently keep the old payloads
      under the new codec label;
    - terms: fields only — df depends on the fielded-token set, not on
      codec/positions; without the flag a fields-flip rebuild would
      skip the terms stage and leave a stale dictionary disagreeing
      with the postings."""
    f = ",".join(fields)
    return {"tokens": f"{fp}|pos={int(positions)}|f={f}|m2",
            "doc_stats": fp,
            "postings": f"{fp}|codec={codec}|pos={int(positions)}|f={f}",
            "terms": f"{fp}|f={f}"}


def _write_tokens(store: IndexStore, pages: DataFrame, positions: bool,
                  fields: tuple[str, ...], seg: str | None = None) -> None:
    """Tokenize (url, text[, fields…]) pages into the tokens table."""
    _put(store, pages.select("url", "text", *fields).mapInPandas(
        lambda it, _p=positions, _f=fields: _tokenize_batches(it, _p, _f),
        TOKENS_POS_SCHEMA if positions else TOKENS_SCHEMA), "tokens", seg)


def _doc_lens(tokens: DataFrame,
              indexed: DataFrame | None = None) -> DataFrame:
    """(url, doc_len, quality) per doc from the tokenizer's NULL-term
    marker rows (exactly one per doc, tf=0, dl attached) — a column-
    pruned filter scan instead of a full groupBy(url) pass + exchange
    over the whole token table (r06, guide §2.3/§2.4).  quality :=
    doc_len (pinned static score for the fixture corpus).

    indexed: committed doc_stats.  url is the document key, so a
    re-crawled url that is ALREADY indexed is dropped (left_anti — a
    column-pruned scan of the committed urls), matching the full
    build's one-doc-per-url semantics; its orphaned token rows never
    meet a doc_id and fall out of the postings join."""
    lens = (tokens.filter(F.col("term").isNull())
            .select("url", F.col("dl").alias("doc_len")))
    if indexed is not None:
        lens = lens.join(indexed.select("url"), "url", "left_anti")
    return lens.withColumn("quality", F.col("doc_len").cast("double"))


def _persist(df: DataFrame, eager: bool = False) \
        -> tuple[DataFrame, Callable[[], None]]:
    """(df over its rows persisted MEMORY_AND_DISK, release).

    The build's stand-in for localCheckpoint, which cuts the lineage: a
    checkpoint block lost with its executor fails the build, while a
    persisted block is recomputed from its lineage.  Every caller's
    input is a deterministic aggregate of committed parquet, so the
    recomputed block holds the same rows.  The persist sits on the rows'
    RDD, as inside Dataset.localCheckpoint, not on the DataFrame: under
    AQE a DataFrame cache is filled by a Spark job of its own before its
    first reader, one more job per stage.  Lazy, the first job that
    reads the rows persists them; eager fills them now in one job."""
    spark = df.sparkSession
    rdd = df._jdf.rdd().persist(
        spark._jvm.org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK())
    if eager:
        rdd.count()
    out = DataFrame(spark._jsparkSession.createDataFrame(
        rdd, df._jdf.schema()), spark)
    return out, lambda: rdd.unpersist(False)


def _write_doc_stats(store: IndexStore, doc_lens: DataFrame,
                     seg: str | None = None,
                     first_id: int | None = None) -> dict:
    """Assign doc ids (rank by static quality; analog of applySort score
    ordering, OsmKeyValueObjectStore.cpp:1339-1399) to the materialized
    doc_lens and write doc_stats → {"n", "sum"} of doc_len.  The corpus
    stats ride along on the docID manifest collect — no separate
    aggregation job.  first_id offsets the ids past a committed id
    space (an appended segment)."""
    spark = doc_lens.sparkSession
    doc_stats, stats = assign_doc_ids_ranged(
        doc_lens,
        num_partitions=max(spark.sparkContext.defaultParallelism, 8),
        stats_col="doc_len")
    if first_id is not None:
        doc_stats = doc_stats.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(first_id)).cast("long"))
    _put(store, doc_stats.select("doc_id", "url", "doc_len", "quality"),
         "doc_stats", seg)
    return stats


def _write_postings(spark: SparkSession, store: IndexStore,
                    blocks: DataFrame, dedup: bool,
                    seg: str | None = None) -> dict | None:
    """Write finalized posting blocks as `postings`.

    dedup — A7: store-wide posting-payload dedup (ItemIndexFactory,
    reference/oscar-create/oscarcreate.cpp:74,100-115 — one ItemIndex
    stored per distinct item set).  Identical payloads are endemic in
    the Zipf tail: every hapax term of one doc encodes the same (delta,
    tf=1, dl) bytes.  Payloads are stored ONCE per (bucket, md5) in
    `payloads`; postings keep the 32-char ref.  Opt-in: serve's payload
    fetch gains a per-bucket hash join, which a latency-critical index
    may not want.  JVM-side F.md5 — no Python in the path.  An appended
    segment (A7 × S6) keeps only the payloads absent from the committed
    payloads table (anti-join on (bucket, md5) — the re-dedup-on-
    reimport analog of oscarcreate.cpp:100-115).

    → the base build's dedup counts (None for a segment or no dedup)."""
    if not dedup:
        _put(store, blocks, "postings", seg, ["bucket"])
        return None
    import shutil
    # materialize once: payloads + postings below would each re-run the
    # whole encode otherwise
    store.write_segment(blocks.withColumn("payload_hash", F.md5("payload")),
                        "_postings_staged", seg or "base")
    staged = store.read_segment(spark, "_postings_staged", seg or "base")
    payloads = (staged.select("bucket", "payload_hash", "payload")
                .dropDuplicates(["bucket", "payload_hash"]))
    if seg is not None:
        payloads = payloads.join(
            store.read(spark, "payloads").select("bucket", "payload_hash"),
            ["bucket", "payload_hash"], "left_anti")
    _put(store, payloads, "payloads", seg, ["bucket"])
    _put(store, staged.drop("payload"), "postings", seg, ["bucket"])
    counts = None if seg is not None else {
        "blocks": int(staged.count()),
        "unique_payloads": int(store.read(spark, "payloads").count())}
    shutil.rmtree(store.path("_postings_staged"), ignore_errors=True)
    return counts


def _terms_of(postings: DataFrame) -> DataFrame:
    """(bucket, term, df, n_blocks) from posting blocks: df recomputed
    from postings so the stored df provably equals the posting contents
    (FIXTURES.md invariant 2)."""
    return (postings.groupBy("bucket", "term")
            .agg(F.sum("doc_count").cast("long").alias("df"),
                 F.count("*").cast("long").alias("n_blocks")))


def _write_terms(store: IndexStore, terms: DataFrame,
                 seg: str | None = None) -> None:
    """The term dictionary, term-sorted within each bucket so parquet
    row-group min/max prunes dictionary range scans."""
    _put(store, terms.repartition("bucket")
         .sortWithinPartitions("bucket", "term"),
         "terms", seg, ["bucket"])


def _write_terms_segment(spark: SparkSession, store: IndexStore,
                         terms: DataFrame, seg: str) -> None:
    """terms as segment seg, then its wildcard mirrors from that
    written segment."""
    _write_terms(store, terms, seg)
    _write_terms_rev(store, store.read_segment(spark, "terms", seg), seg)


# the tables an append adds one segment to (plus payloads in a dedup
# store) and compaction merges; the term tables are replaced whole
_SEGMENTED = ["tokens", "doc_stats", "postings"]
_TERM_TABLES = ["terms", "terms_rev", "terms_ngram"]


def _write_terms_rev(store: IndexStore, terms: DataFrame,
                     seg: str | None = None) -> None:
    """Wildcard mirrors of the term dictionary.

    terms_rev: (rev=reverse(term), term, df), range-partitioned and
    sorted by rev — a suffix wildcard `*tok` becomes a PREFIX scan on
    rev with parquet row-group pruning, the build-time analog of
    oscar's optional suffix enumeration (reference/oscar-create/
    CellTextCompleter.h:602-637) at O(n_terms) extra storage instead
    of O(total suffix count).

    terms_ngram: one row per (gram of term, term) for grams of length 3
    AND length 2 — `*tok*` becomes intersect-the-gram-lists +
    contains-verify over candidates instead of a full dictionary scan
    (3-gram intersection for stems ≥ 3 chars; the single 2-gram list
    for 2-char stems, which previously fell through to a linear scan of
    the whole dictionary).  O(Σ len(term)) rows per gram length (~2×
    the 3-gram-only mirror), range-partitioned by gram so the per-query
    read touches only matching row groups; 2- and 3-char grams are
    disjoint string sets so one column serves both."""
    par = max(terms.sparkSession.sparkContext.defaultParallelism, 8)
    rev = (terms.select(F.reverse("term").alias("rev"), "term", "df")
           .repartitionByRange(par, "rev")
           .sortWithinPartitions("rev"))
    # sequence(1, length-g+1) must not count DOWN (junk rows), hence the
    # per-length filters; MIN_TOKEN_LEN=2 means every term has a 2-gram
    g3 = (terms.select("term")
          .filter(F.length("term") >= 3)
          .withColumn("gram", F.explode(F.array_distinct(F.expr(
              "transform(sequence(1, length(term) - 2),"
              " i -> substring(term, i, 3))")))))
    g2 = (terms.select("term")
          .filter(F.length("term") >= 2)
          .withColumn("gram", F.explode(F.array_distinct(F.expr(
              "transform(sequence(1, length(term) - 1),"
              " i -> substring(term, i, 2))")))))
    grams = (g3.unionByName(g2)
             .select("gram", "term")
             .repartitionByRange(par, "gram")
             .sortWithinPartitions("gram", "term"))
    # both mirrors derive from the already-committed terms parquet and
    # are independent: submit their write jobs CONCURRENTLY (Spark
    # schedules parallel jobs fine) — sequentially they cost two full
    # job latencies on a stage that is otherwise seconds
    import threading
    errs: list[BaseException] = []

    def _w(df: DataFrame, name: str) -> None:
        try:
            _put(store, df, name, seg)
        except BaseException as e:  # surfaced after join
            errs.append(e)

    ts = [threading.Thread(target=_w, args=(rev, "terms_rev")),
          threading.Thread(target=_w, args=(grams, "terms_ngram"))]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errs:
        raise errs[0]


def _collect_bucket_stats(terms: DataFrame) -> list:
    """Per-bucket stats from the TINY terms table (not a postings
    rescan): they double as lineage rows AND global counts."""
    return terms.groupBy("bucket").agg(
        F.sum("df").alias("rows_in"),
        F.count("*").alias("terms_out"),
        F.sum("n_blocks").alias("blocks_out")).collect()


def _write_lineage(store: IndexStore, bucket_stats, fp: str,
                   dps: float) -> None:
    """Per-bucket lineage rows (BASELINE.json per-partition lineage).
    bucket_stats is already collected (≤ NUM_TERM_BUCKETS rows), so the
    table is written driver-side with pyarrow — launching a Spark job to
    write 64 rows cost ~1-2s of pure scheduling per build."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    sid = store.snapshot_id("postings") or 0
    now_us = int(time.time() * 1_000_000)
    ldir = store.path("lineage")
    shutil.rmtree(ldir, ignore_errors=True)
    os.makedirs(ldir, exist_ok=True)
    srt = sorted(bucket_stats, key=lambda r: r["bucket"])
    pq.write_table(pa.table({
        "partition_id": pa.array([int(r["bucket"]) for r in srt], pa.int32()),
        "input_fingerprint": pa.array([fp] * len(srt), pa.string()),
        "rows_in": pa.array([int(r["rows_in"]) for r in srt], pa.int64()),
        "terms_out": pa.array([int(r["terms_out"]) for r in srt], pa.int64()),
        "docs_per_sec": pa.array([float(dps)] * len(srt), pa.float64()),
        "snapshot_id": pa.array([int(sid)] * len(srt), pa.int64()),
        "ts": pa.array([now_us] * len(srt), pa.timestamp("us", tz="UTC")),
    }), os.path.join(ldir, "part-00000.parquet"))


@dataclass
class BuildResult:
    n_docs: int
    avgdl: float
    n_terms: int
    n_blocks: int
    docs_per_sec: float
    elapsed_sec: float
    resumed_stages: list[str]
    stage_secs: dict | None = None


def _finish(store: IndexStore, clock: StageClock, bucket_stats: list,
            fp: str, n_rate: int, n_docs: int, avgdl: float,
            resumed: list[str],
            pages: DataFrame | None = None) -> BuildResult:
    """Lineage rows, counts and the BuildResult of a build call.
    docs_per_sec rates n_rate docs (an append: the new ones) over the
    call's elapsed time.  pages: the full build's input, whose per-file
    manifest becomes the append-detection baseline for the next build
    over a grown input."""
    elapsed = time.time() - clock.t0
    dps = n_rate / elapsed if elapsed > 0 else 0.0
    _write_lineage(store, bucket_stats, fp, dps)
    sigs = input_files_sig(pages) if pages is not None else None
    if sigs:
        store.set_meta("input_files", sigs)
    clock("lineage_and_counts")
    return BuildResult(
        n_docs=n_docs, avgdl=avgdl,
        n_terms=sum(r["terms_out"] for r in bucket_stats),
        n_blocks=int(sum(r["blocks_out"] for r in bucket_stats)),
        docs_per_sec=dps, elapsed_sec=elapsed, resumed_stages=resumed,
        stage_secs={k: round(v, 2) for k, v in clock.secs.items()})


def _tune_scan_partitions(spark: SparkSession,
                          sigs: dict[str, str] | None) -> str | None:
    """Size spark.sql.files.maxPartitionBytes so the input scan yields
    ~4 tasks per core (returns the previous setting, None if untouched).

    Rationale: the default 128 MB packing gave a 480k-page bench input
    NINE scan partitions — at 8 cores that is two task waves with the
    second wave 1/8 occupied, ~40% idle time on the tokenize stage's
    critical path, and the idle fraction GROWS with core count (a
    direct N→4N efficiency tax).  At real scale (input bytes ≫ cores ×
    512 MB) the computed target exceeds the 128 MB default and the cap
    keeps Spark's normal behavior."""
    if not sigs:
        return None
    total = sum(max(int(s.split("|")[0]), 0) for s in sigs.values())
    par = spark.sparkContext.defaultParallelism * 4
    tgt = min(max(total // max(par, 1), 4 << 20), 128 << 20)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(tgt))
    return old


def prewarm_workers(spark: SparkSession) -> None:
    """Pay each Python UDF worker's one-time interpreter spawn +
    pandas/numpy/pyarrow/oscar_spark import (~1.5s) OUTSIDE any timed
    or latency-sensitive region — the warm task performs the REAL
    imports the build kernels use.  A standing cluster's executors keep
    warm workers; a fresh local JVM does not."""
    cores = spark.sparkContext.defaultParallelism

    def _warm(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.compute  # noqa: F401
        from oscar_spark.build import indexer  # noqa: F401
        from oscar_spark.functions.tokenize import _pin_arrow_threads
        _pin_arrow_threads()
        # also pre-import and first-run the fixture generator: its module
        # import + vocabulary/zipf setup is a per-worker first-task cost
        # that otherwise lands inside the first timed pages_gen job
        from oscar_spark.fixtures.pages import generate_pages
        generate_pages(2)
        yield from it

    (spark.range(cores * 4, numPartitions=cores * 4)
     .mapInPandas(_warm, "id long").count())


def extract_pages(pages: DataFrame) -> DataFrame:
    """html → text via the pinned extractor (vectorized); byte-identity
    with an existing `text` column is a test invariant, not assumed."""
    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["url", "warc_ts", "html", "lang"]].copy()
            out["text"] = extract_series(pdf["html"])
            yield out
    return pages.mapInPandas(
        _extract, "url string, warc_ts timestamp, html binary, lang string, text string")


def input_files_sig(pages: DataFrame) -> dict[str, str] | None:
    """File-backed input → {file URI: "size|mtime"} (driver-side listing,
    no data scan); None for in-memory input."""
    from urllib.parse import unquote, urlparse
    files = sorted(pages.inputFiles())
    if not files:
        return None
    out = {}
    for f in files:
        # urlparse handles every file:-URI form (file:///p, file:/p);
        # a fixed 7-char slice mangled file:/p paths so size stat
        # always failed and the fingerprint degraded to names-only
        p = unquote(urlparse(f).path) if "://" in f or \
            f.startswith("file:") else f
        try:
            st = os.stat(p)
            size, mtime = st.st_size, int(st.st_mtime_ns)
        except OSError:
            size, mtime = -1, -1
        out[f] = f"{size}|{mtime}"
    return out


def input_fingerprint(pages: DataFrame) -> str:
    """Cheap deterministic fingerprint of the input table (resume gate).

    File-backed input: hash of the sorted (path, size, mtime) manifest —
    a driver-side listing, no data scan (the Iceberg-snapshot-id analog;
    at 10^12 docs a content scan just to decide "did the input change"
    is not acceptable).  In-memory input (tests): content-based scan.
    """
    import zlib
    sigs = input_files_sig(pages)
    if sigs is not None:
        h = 0
        for f, s in sorted(sigs.items()):
            size, mtime = s.split("|")
            h = zlib.crc32(f"{f}|{size}|{mtime};".encode(), h)
        return f"m{len(sigs)}-{h:08x}"
    row = pages.select(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.col("url"))).alias("u"),
        F.sum(F.length(F.col("text"))).alias("t"),
    ).collect()[0]
    return f"n{row['n']}-u{row['u']}-t{row['t']}"


def build_index(spark: SparkSession, pages: DataFrame, index_dir: str,
                resume: bool = False,
                codec: str | None = None,
                dedup_payloads: bool | None = None,
                positions: bool | None = None,
                fields: tuple[str, ...] | None = None) -> BuildResult:
    """Build the full index — see _build_index_impl for the pipeline.
    This wrapper owns the session-conf scan tuning so the restore runs
    on EVERY exit (including exceptions mid-build: a leaked 4 MB
    maxPartitionBytes would explode task counts for every later scan
    in the session)."""
    old_mpb = _tune_scan_partitions(spark, input_files_sig(pages))
    try:
        return _build_index_impl(spark, pages, index_dir, resume, codec,
                                 dedup_payloads, positions, fields)
    finally:
        if old_mpb is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)


def _build_index_impl(spark: SparkSession, pages: DataFrame,
                      index_dir: str, resume: bool = False,
                      codec: str | None = None,
                      dedup_payloads: bool | None = None,
                      positions: bool | None = None,
                      fields: tuple[str, ...] | None = None) -> BuildResult:
    """Build the full index (doc_stats, terms, postings, lineage).

    Input contract: url is the document key — ONE page row per url.
    Duplicate urls within one build fail fast in the posting encoder
    (clear error); re-crawled urls arriving in LATER drops are handled
    by the append path's committed-url anti-join.

    codec: posting payload codec ("varint" | "pfor" | "ef" | "wah");
    defaults to config.POSTINGS_CODEC.  Recorded in the store manifest;
    serve dispatches on it.  (The reference's 4-codec matrix analog,
    reference/data/configs/oscar-create/index_*.json; comparison table
    in BENCH/CODECS.md.)
    dedup_payloads: store each distinct posting payload once (A7,
    ItemIndexFactory analog) at the cost of a payload-fetch join in
    serve; recorded in the manifest, serve adapts automatically.
    positions: store per-posting occurrence positions in a pos_payload
    side column (QT_EXACT support: quoted queries become TRUE phrase
    queries in serve instead of AND-of-tokens).  Costs ~Σtf extra
    varints through the shuffle and on disk — the inherent positional-
    index tax; recorded in the manifest, appends inherit it.
    fields: page columns to index as `key:value` composite tokens
    (tf=1 per doc; the @key:value fielded terms of
    reference/oscar-create/TextSearchTraits.h:108) — `lang:en` then
    works as a query leaf; recorded in the manifest, appends inherit.

    All four mode knobs default to None = "unspecified": a resume over
    an existing store INHERITS its recorded modes, so `cli.py build
    --resume` (which passes no mode flags) appends to a positional/
    fielded/dedup/ef store instead of silently rebuilding it as a plain
    varint store.  Passing an explicit value still overrides — a real
    mode FLIP rebuilds, as the append gate requires."""
    from oscar_spark.config import POSTINGS_CODEC
    store = IndexStore(index_dir)
    if resume:
        codec = codec or store.get_meta("codec", None) or POSTINGS_CODEC
        if dedup_payloads is None:
            dedup_payloads = bool(store.get_meta("payload_dedup", False))
        if positions is None:
            positions = bool(store.get_meta("positions", False))
        if fields is None:
            fields = tuple(store.get_meta("fields", []) or [])
    codec = codec or POSTINGS_CODEC
    dedup_payloads = bool(dedup_payloads)
    positions = bool(positions)
    fields = tuple(fields or ())
    if fields:
        # fail fast with a field-specific message: two columns whose
        # names normalize to the same key (e.g. 'Lang' and 'lang') would
        # emit duplicate (url, term) postings and crash the block
        # encoder later with a misleading duplicate-url error
        from oscar_spark.functions.tokenize import normalize_field_value
        kns = [normalize_field_value(f) for f in fields]
        empty_keys = [f for f, kn in zip(fields, kns) if not kn]
        if empty_keys:
            raise ValueError(
                f"field column(s) {empty_keys} normalize to an empty "
                "key — rename them to contain at least one alphanumeric")
        dupes = sorted({kn for kn in kns if kns.count(kn) > 1})
        if dupes:
            coll = {kn: [f for f, k in zip(fields, kns) if k == kn]
                    for kn in dupes}
            raise ValueError(
                f"field columns collide after key normalization: {coll}"
                " — the composite key:value tokens would be ambiguous")
    clock = StageClock()
    # input_hint shape is (url, warc_ts, html, text, lang); a table
    # carrying only the raw html gets the pinned extractor applied
    # (byte-identity with pre-extracted text is a test invariant).
    # raw_pages is kept for the append path: its per-file filter uses
    # input_file_name(), which does not survive a mapInPandas — the
    # extractor is applied AFTER file filtering there.
    raw_pages = pages
    if "text" not in pages.columns:
        pages = extract_pages(pages)

    fp = input_fingerprint(pages)
    fps = _stage_fingerprints(fp, codec, positions, fields)
    clock("fingerprint")
    resumed: list[str] = []

    # ---- incremental append (store→store re-import analog,
    # reference/oscar-create/oscarcreate.cpp:86-116): if the input grew
    # by whole files while every previously-ingested file is unchanged,
    # tokenize ONLY the new files and merge their postings into the
    # committed index as a new segment — a daily crawl drop costs
    # O(new data), not a rebuild ----
    if resume:
        recorded = store.get_meta("input_files")
        cur = input_files_sig(raw_pages)
        if (recorded and cur and len(cur) > len(recorded)
                and not store.committed("postings", fps["postings"])
                and store.get_meta("codec", codec) == codec
                # a positional/fielded flag flip means a rebuild
                and store.get_meta("positions", False) == positions
                and store.get_meta("fields", []) == list(fields)
                # payload-dedup stores append fine (the new segment's
                # payloads anti-join the committed payloads table, A7×S6,
                # re-dedup-on-reimport analog of reference/oscar-create/
                # oscarcreate.cpp:100-115) — only a MODE FLIP rebuilds
                and store.get_meta("payload_dedup", False) == dedup_payloads
                and set(recorded).issubset(cur)
                and all(cur[f] == recorded[f] for f in recorded)):
            return _append_index(
                spark, raw_pages, store, codec, fp, cur,
                sorted(set(cur) - set(recorded)))

    # ---- stage 0: tokens checkpoint ----
    # Tokenize EXACTLY once and checkpoint to parquet.  Two downstream
    # stages (doc_stats, postings) re-read it as cheap columnar scans.
    # Previously this was .cache(): at corpus sizes where the cached
    # token table exceeded storage memory, partitions were evicted and
    # SILENTLY RE-TOKENIZED during the postings shuffle — more often at
    # higher core counts (more concurrent execution memory), which
    # inverted N→4N scaling.  A parquet checkpoint makes the cost flat,
    # disk-backed, fully parallel, and doubles as a resume snapshot
    # (store→store re-import, reference/oscar-create/oscarcreate.cpp:86-116).
    if resume and store.committed("tokens", fps["tokens"]):
        resumed.append("tokens")
    else:
        _write_tokens(store, pages, positions, fields)
        store.commit("tokens", fps["tokens"])
    clock("tokens")
    tokens = store.read(spark, "tokens")

    # ---- stage 1: doc_stats (docID = rank by static quality) ----
    if resume and store.committed("doc_stats", fps["doc_stats"]):
        resumed.append("doc_stats")
    else:
        # materialize the per-doc table ONCE: repartitionByRange's
        # boundary-sample job and the partition-pinning checkpoint inside
        # assign_doc_ids_ranged would otherwise EACH re-execute the full
        # tokens scan + groupBy lineage (two extra corpus scans measured
        # as most of this stage's wall time).  LAZY: the boundary-sample
        # job inside assign_doc_ids_ranged is the first consumer and
        # doubles as the materializing action — an eager count paid one
        # extra job launch.  ~one short row per doc.
        doc_lens, release = _persist(_doc_lens(tokens))
        # corpus stats (n_docs, Σdl) persist in the manifest so later
        # stages, resumes, and serve startup never pay a job for them
        stats = _write_doc_stats(store, doc_lens)
        store.set_meta("n_docs", int(stats["n"]))
        store.set_meta("avgdl",
                       stats["sum"] / stats["n"] if stats["n"] else 0.0)
        release()
        store.commit("doc_stats", fps["doc_stats"])
    clock("doc_stats")
    doc_stats = store.read(spark, "doc_stats")
    n_docs, avgdl = store.get_meta("n_docs"), store.get_meta("avgdl")
    if n_docs is None:  # store committed by an older build: derive once
        n_docs, avgdl = doc_stats.select(
            F.count("*"), F.avg("doc_len")).collect()[0]
    n_docs, avgdl = int(n_docs), float(avgdl)

    # ---- stage 2: postings ----
    if resume and store.committed("postings", fps["postings"]):
        resumed.append("postings")
    else:
        final_blocks = _final_blocks(spark, tokens, doc_stats, n_docs,
                                     n_docs, avgdl, codec, positions,
                                     urls_closed=True)
        dedup_counts = _write_postings(spark, store, final_blocks,
                                       dedup_payloads)
        store.set_meta("payload_dedup", dedup_payloads)
        if dedup_counts:
            store.set_meta("payload_dedup_stats", dedup_counts)
        store.set_meta("codec", codec)
        store.set_meta("payload_format", PAYLOAD_FORMAT)
        store.set_meta("positions", positions)
        store.set_meta("fields", list(fields))
        store.commit("postings", fps["postings"])
    clock("postings")
    postings = store.read(spark, "postings")

    # ---- stage 3: terms (df recomputed from committed postings) ----
    if resume and store.committed("terms", fps["terms"]):
        resumed.append("terms")
        bucket_stats = _collect_bucket_stats(store.read(spark, "terms"))
    else:
        # r06: all FOUR jobs of this stage — the terms write, both
        # wildcard-mirror writes, and the bucket-stats collect — derive
        # from the same deterministic aggregation over the COMMITTED
        # postings parquet (terms_src), so they are independent and run
        # CONCURRENTLY (guide §2.6).  The mirrors/stats previously
        # waited for the committed terms parquet, serializing the stage
        # behind two extra job-latency barriers.  Contents are
        # unchanged: the mirrors project only (term, df) and the agg is
        # deterministic on committed input, so "df provably equals the
        # posting contents" (FIXTURES.md inv 2) still holds for
        # everything written here.
        # r06 session 3: terms_src is materialized ONCE (eager persist
        # — one 16-task agg job) instead of re-running the
        # postings-parquet agg lineage inside every one of the 5+
        # concurrent jobs (terms write, 2 mirror range-samples, 2
        # mirror writes, stats collect); the dictionary is O(vocab)
        # slim rows, and it is released before the stage commits.
        import threading
        terms_src, release = _persist(_terms_of(postings), eager=True)
        _stats: dict = {}
        _terr: list[BaseException] = []

        def _terms_job() -> None:
            try:
                _write_terms(store, terms_src)
            except BaseException as e:
                _terr.append(e)

        def _stats_job() -> None:
            try:
                _stats["rows"] = _collect_bucket_stats(terms_src)
            except BaseException as e:
                _stats["err"] = e

        tt = threading.Thread(target=_terms_job)
        st = threading.Thread(target=_stats_job)
        tt.start()
        st.start()
        try:
            _write_terms_rev(store, terms_src)
            # the ngram mirror carries 2-grams (short-stem substring
            # path); serve only takes the 2-char pruned path when this
            # flag says the mirror has them (older stores fall back to
            # the scan)
            store.set_meta("ngram2", True)
        finally:
            # join even when the mirror writes raise: otherwise the
            # terms write / stats collect keep running concurrently
            # with error teardown (round-5 ADVICE)
            tt.join()
            st.join()
            release()
        if _terr:
            raise _terr[0]
        if "err" in _stats:
            raise _stats["err"]
        bucket_stats = _stats["rows"]
        store.commit("terms", fps["terms"])
    clock("terms")
    return _finish(store, clock, bucket_stats, fp, n_docs, n_docs, avgdl,
                   resumed, pages)


def ingest_segment(spark: SparkSession, new_pages: DataFrame,
                   store: IndexStore, seg: str, codec: str, fp: str,
                   extra_meta: dict | None = None,
                   mark=lambda name: None) -> dict:
    """Core incremental ingest: merge new page rows into a committed
    index as one segment.

    Every heavy step touches only the new data; the single committed-
    data rewrite is the (tiny, block-level) terms table merge.  All
    manifest changes land in ONE atomic commit_append, so a crash at
    any point leaves either the old snapshot or the new one.

    New docs take doc_ids after the committed id space (quality-ranked
    among themselves).  BM25 scores stay exact because serve derives
    them at query time from tf/dl payloads + the merged df / n_docs /
    avgdl — nothing score-bearing is baked into committed payloads.

    Shared by the file-growth append path (_append_index) and the
    Structured Streaming foreachBatch ingest (streaming/jobs.py).
    """
    if seg in store.segments("postings"):
        # a committed segment must never be overwritten: re-running the
        # ingest over an already-indexed drop would left_anti every url
        # away and replace the segment's data with EMPTY files while
        # n_docs/df still count it (the at-least-once replay hazard —
        # callers skip committed epochs, this guard makes the contract
        # explicit)
        raise ValueError(
            f"segment {seg!r} is already committed in this store; "
            "replay/skip it instead of re-ingesting")
    # a store built before the flag-byte payload (format 1) must not
    # gain a format-2 segment: commit_append stamps payload_format
    # store-wide, which would flip the decoder under the OLD blocks and
    # silently mis-decode any v1 payload starting 0x00/0x01
    store_fmt = store.get_meta("payload_format")
    if store_fmt is None:
        store_fmt = 2 if store.get_meta("codec") is not None else 1
    if int(store_fmt) != PAYLOAD_FORMAT:
        raise ValueError(
            f"store payload format {store_fmt} != current "
            f"{PAYLOAD_FORMAT}; rebuild instead of appending")
    n_old = int(store.get_meta("n_docs"))
    avgdl_old = float(store.get_meta("avgdl"))
    positions = bool(store.get_meta("positions", False))
    fields = tuple(store.get_meta("fields", ()) or ())

    # ---- tokenize only the new pages (positional/fielded stores stay
    # that way: the flags are inherited from the manifest) ----
    _write_tokens(store, new_pages, positions, fields, seg)
    mark("tokens_append")
    tokens_new = store.read_segment(spark, "tokens", seg)

    # ---- doc ids for the new docs, offset past the committed space;
    # already-indexed (re-crawled) urls are dropped (see _doc_lens) ----
    doc_lens, release = _persist(
        _doc_lens(tokens_new, store.read(spark, "doc_stats")))
    stats = _write_doc_stats(store, doc_lens, seg, first_id=n_old)
    n_new, dl_sum_new = int(stats["n"]), int(stats["sum"])
    n_total = n_old + n_new
    avgdl_total = ((avgdl_old * n_old + dl_sum_new) / n_total
                   if n_total else 0.0)
    release()
    mark("doc_stats_append")

    # ---- postings for the new docs (same pipeline, new data only) ----
    final_new = _final_blocks(
        spark, tokens_new, store.read_segment(spark, "doc_stats", seg),
        n_new, n_total, avgdl_total, codec, positions)
    # continue each term's block numbering after its committed blocks
    terms_old = store.read(spark, "terms")
    final_new = (
        final_new
        .join(terms_old.select("term", F.col("n_blocks").alias("_ob")),
              "term", "left")
        .withColumn("block_id", (F.col("block_id") +
                                 F.coalesce(F.col("_ob"), F.lit(0)))
                    .cast("int"))
        .select(*final_new.columns))
    # a dedup store's segment keeps the base build's dedup form
    dedup = bool(store.get_meta("payload_dedup", False))
    _write_postings(spark, store, final_new, dedup, seg)
    mark("postings_append")

    # ---- merged terms: old + new df/n_blocks, written as a NEW segment
    # that atomically REPLACES the old one at commit (no self-overwrite,
    # no window where df disagrees with the visible postings) ----
    merged = (terms_old
              .unionByName(_terms_of(store.read_segment(spark, "postings",
                                                        seg)))
              .groupBy("bucket", "term")
              .agg(F.sum("df").cast("long").alias("df"),
                   F.sum("n_blocks").cast("long").alias("n_blocks")))
    _write_terms_segment(spark, store, merged, seg)
    mark("terms_append")

    # ---- ONE atomic snapshot commit (same stage fingerprints as
    # build_index, incl. the positional/fielded flags) ----
    store.commit_append(
        add={t: [seg] for t in
             _SEGMENTED + (["payloads"] if dedup else [])},
        replace={t: [seg] for t in _TERM_TABLES},
        meta={"n_docs": n_total, "avgdl": avgdl_total, "codec": codec,
              "payload_format": PAYLOAD_FORMAT, "ngram2": True,
              **(extra_meta or {})},
        stage_fingerprints=_stage_fingerprints(fp, codec, positions,
                                               fields),
    )
    return {"n_new": n_new, "n_total": n_total, "avgdl": avgdl_total}


def _uri_variants(f: str) -> set[str]:
    """Every plausible rendering of one file URI/path: raw, plain path,
    percent-encoded and not, file: with 1/2/3 slashes, with and without
    the authority.  Used to match DataFrame.inputFiles() entries against
    input_file_name() values without transforming either side."""
    from urllib.parse import quote, unquote, urlparse
    out = {f}
    if "://" in f or f.startswith("file:"):
        u = urlparse(f)
        paths = {unquote(u.path)}
        paths.add(quote(unquote(u.path)))
        netloc = u.netloc
        scheme = u.scheme
    else:
        paths = {f, quote(f)}
        netloc, scheme = "", "file"
    for p in paths:
        out.add(p)
        out.add(f"{scheme}:{p}")
        out.add(f"{scheme}://{netloc}{p}")
        if not netloc:
            out.add(f"{scheme}://{p}")
    return out


def _append_index(spark: SparkSession, pages: DataFrame, store: IndexStore,
                  codec: str, fp: str, cur_sigs: dict[str, str],
                  new_files: list[str]) -> BuildResult:
    """File-growth append: filter the input to its NEW files and run the
    segment ingest over just those rows."""
    import zlib
    clock = StageClock()
    seg = "a%08x" % zlib.crc32(";".join(new_files).encode())

    # input_file_name() and DataFrame.inputFiles() render file URIs
    # differently across sources (file:/p vs file:///p, percent-encoded
    # or not, with or without an authority) — and a TRANSFORMED compare
    # (strip scheme on one side, unquote on the other) silently matches
    # nothing for encoded paths or object-store URIs, committing an
    # EMPTY segment while recording the files as ingested.  So: no
    # transformation of the scan side; instead every new file expands
    # to all of its plausible URI renderings and the raw
    # input_file_name() is matched against that closed set.  A zero-row
    # match is a hard error below, never a silent empty append.
    targets = sorted(set().union(*(_uri_variants(f) for f in new_files)))
    new_pages = pages.filter(F.input_file_name().isin(targets))
    # EVERY new file must match (a partial match would silently drop
    # the unmatched files' docs while recording them as ingested —
    # distinct scan-side names are each one real file, so a count
    # comparison detects any miss)
    matched = {r["f"] for r in new_pages
               .select(F.input_file_name().alias("f")).distinct().collect()}
    if len(matched) < len(new_files):
        # a legitimately EMPTY parquet drop (0 rows) has no rows whose
        # input_file_name() could match — indistinguishable from a URI
        # rendering mismatch by row counts alone.  Read just the
        # unmatched files directly: genuinely empty ones are fine to
        # record as ingested; only non-empty unmatched files mean a
        # rendering mismatch that would silently drop docs.
        unmatched = [f for f in new_files
                     if not (_uri_variants(f) & matched)]
        dropped = [f for f in unmatched
                   if spark.read.parquet(f).limit(1).count() > 0]
        if dropped:
            raise RuntimeError(
                f"append: {len(dropped)} non-empty new input file(s) "
                "matched zero rows (URI rendering mismatch between "
                "inputFiles() and input_file_name()); refusing to "
                "commit a partial segment. First affected: "
                f"{dropped[0]!r}")
    # html-only input: extract AFTER the per-file filter (the filter's
    # input_file_name() is only defined directly over the file scan)
    if "text" not in new_pages.columns:
        new_pages = extract_pages(new_pages)
    stats = ingest_segment(spark, new_pages, store, seg, codec, fp,
                           extra_meta={"input_files": cur_sigs},
                           mark=clock)
    return _finish(store, clock,
                   _collect_bucket_stats(store.read(spark, "terms")), fp,
                   stats["n_new"], stats["n_total"], stats["avgdl"],
                   [f"append:{seg}"])


def maybe_compact(spark: SparkSession, index_dir: str,
                  max_segments: int) -> dict:
    """Compaction POLICY for append pipelines: merge only once the
    committed postings segment count exceeds max_segments, so a daily
    drop pays O(new data) most days and the full-merge cost is
    amortized over max_segments appends (the same amortization rule as
    LSM/Iceberg maintenance; the reference's periodic store→store
    re-import, reference/oscar-create/oscarcreate.cpp:86-116).
    Callers wire it after build_index(resume=True) — e.g.
    `cli.py build --compact-after N`."""
    store = IndexStore(index_dir)
    n = len(store.segments("postings"))
    if n <= max_segments:
        return {"compacted": False, "segments_before": n}
    return compact_index(spark, index_dir)


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Merge every committed segment back into ONE fresh segment — the
    store→store re-import analog (reference/oscar-create/
    oscarcreate.cpp:86-116).  Without it a daily-append store's
    per-query segment/file count grows without bound (terms is
    swap-replaced on append, but postings/tokens/doc_stats segments
    accumulate).

    Search results are invariant: doc ids, payload bytes, df and
    n_docs/avgdl are all preserved.  Only block_id is renumbered per
    (bucket, term) — ordering by first_doc is globally consistent
    because appended docs always take ids past the committed space, so
    the per-term strictly-increasing block invariant holds in the
    compacted store.  Payload-dedup stores re-dedup payloads across
    segments (a no-op by construction — append anti-joins committed
    hashes — kept as cheap paranoia on a maintenance path).

    Scale shape: ONE shuffle of the postings table (the renumbering
    window on (bucket, term)), linear unions for the rest.  One atomic
    manifest swap at the end (commit_append replace=…): a crash
    mid-compaction leaves the old snapshot fully intact; superseded
    segment directories are removed best-effort AFTER the commit.
    """
    import shutil
    import zlib

    from pyspark.sql import Window

    store = IndexStore(index_dir)
    dedup = bool(store.get_meta("payload_dedup", False))
    tables = _SEGMENTED + (["payloads"] if dedup else [])
    pre = {t: store.segments(t) for t in tables + _TERM_TABLES}
    if all(len(pre[t]) <= 1 for t in tables):
        return {"compacted": False,
                "segments_before": max(len(v) for v in pre.values())}
    t0 = time.time()
    seg = "c%08x" % zlib.crc32(
        ";".join(sorted({s for v in pre.values() for s in v})).encode())

    posting_cols = store.read(spark, "postings").columns
    w = Window.partitionBy("bucket", "term").orderBy("first_doc")
    p2 = (store.read(spark, "postings")
          .withColumn("block_id",
                      (F.row_number().over(w) - 1).cast("int"))
          .select(*posting_cols))
    store.write_segment(p2, "postings", seg, partition_by=["bucket"])

    if dedup:
        store.write_segment(
            store.read(spark, "payloads")
            .dropDuplicates(["bucket", "payload_hash"]),
            "payloads", seg, partition_by=["bucket"])

    # terms re-derived from the compacted postings
    _write_terms_segment(
        spark, store, _terms_of(store.read_segment(spark, "postings", seg)),
        seg)

    # resume snapshots collapse to one segment unchanged
    store.write_segment(store.read(spark, "tokens"), "tokens", seg)
    store.write_segment(store.read(spark, "doc_stats"), "doc_stats", seg)

    every = tables + _TERM_TABLES
    store.commit_append(replace={t: [seg] for t in every})
    for t in every:
        for s in set(pre.get(t, [])):
            if s != seg:
                shutil.rmtree(os.path.join(store.path(t), f"seg={s}"),
                              ignore_errors=True)
    return {"compacted": True, "segment": seg,
            "segments_before": max(len(v) for v in pre.values()),
            "elapsed_sec": round(time.time() - t0, 2)}
