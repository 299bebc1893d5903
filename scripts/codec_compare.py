"""Posting-codec comparison: varint vs pfor vs ef vs wah on the bench
fixture.

The analog of the reference's index-variant config matrix
(reference/data/configs/oscar-create/index_rlede.json / index_wah.json /
...): same corpus, one build per codec, reporting payload bytes (the
column the codec actually owns), on-disk postings size, encode wall
(the build's postings stage) and decode wall (warm full-decode serve
queries, mode=local: the local path decodes every block of every query
term, and the warm-up pass fills the engine's block cache, so the timed
pass runs decode + BM25 + top-k in the driver without a Spark job).

Writes BENCH/CODECS.md and prints one JSON line.

Usage: python scripts/codec_compare.py [--pages 60000] [--cores 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CODECS = ["varint", "pfor", "ef", "wah"]
DECODE_QUERIES = ["the", "of + and + to", "war history world", "wd0042"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int,
                    default=int(os.environ.get("BENCH_PAGES", "60000")))
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from oscar_spark.build.indexer import build_index, prewarm_workers
    from oscar_spark.fixtures.pages import pages_spark_df_dist
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.session import get_spark
    from oscar_spark.sources.tables import IndexStore

    spark = get_spark(app="codec-compare", cores=args.cores,
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    tmp_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    rows = []
    with tempfile.TemporaryDirectory(dir=tmp_base) as tmp:
        pages_path = os.path.join(tmp, "pages")
        pages_spark_df_dist(spark, args.pages,
                            chunk=max(1000, args.pages // 64)) \
            .write.mode("overwrite").parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        pages.count()
        prewarm_workers(spark)

        for codec in CODECS:
            d = os.path.join(tmp, f"idx_{codec}")
            # two builds; the warm second one is the steady-state encode
            # number (first pays JIT/codegen, like the scaling bench)
            build_index(spark, pages, os.path.join(tmp, f"warm_{codec}"),
                        codec=codec)
            res = build_index(spark, pages, d, codec=codec)
            store = IndexStore(d)
            stat = store.read(spark, "postings").agg(
                F.sum(F.length("payload")).alias("b"),
                F.sum("doc_count").alias("p")).collect()[0]
            pay, n_post = stat["b"], stat["p"]
            disk = dir_bytes(store.path("postings"))
            eng = SearchEngine(spark, d)
            for q in DECODE_QUERIES:  # warm the path
                eng.search(q, k=10, mode="local")
            t0 = time.time()
            for q in DECODE_QUERIES:
                eng.search(q, k=10, mode="local")
            decode_s = time.time() - t0
            rows.append({
                "codec": codec,
                "payload_bytes": int(pay),
                "bytes_per_posting": round(pay / max(int(n_post), 1), 2),
                "postings_disk_bytes": disk,
                "encode_stage_sec": res.stage_secs.get("postings"),
                "decode_4q_warm_sec": round(decode_s, 3),
                "n_blocks": res.n_blocks,
            })
            print(f"# {codec}: {rows[-1]}", file=sys.stderr)

    base = rows[0]["payload_bytes"]
    md = [
        "# Posting-codec comparison (varint / pfor / ef / wah)",
        "",
        f"Corpus: {args.pages} fixture pages at local[{args.cores}]; "
        "encode = build postings-stage wall (warm, 2nd build); decode = "
        "warm wall of 4 local-mode serve queries from the block cache "
        "(every block of every query term decoded, no Spark job).  The "
        "analog of the reference's index-variant matrix "
        "(reference/data/configs/oscar-create/index_*.json).",
        "",
        "| codec | payload bytes | vs varint | disk (postings/) | "
        "encode s | decode s (4q) |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['codec']} | {r['payload_bytes']:,} | "
            f"{r['payload_bytes'] / base:.3f}x | "
            f"{r['postings_disk_bytes']:,} | {r['encode_stage_sec']} | "
            f"{r['decode_4q_warm_sec']} |")
    md += [
        "",
        "Notes: payload bytes is the column the codec owns (parquet "
        "then compresses it on disk); ef (Elias-Fano) wins on dense "
        "doc-id runs, pfor on clustered tf/dl words, varint is the "
        "baseline.  All three share the block layout and are chosen "
        "per-store via config.POSTINGS_CODEC / build_index(codec=...); "
        "serve dispatches on the manifest.",
        "",
    ]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/CODECS.md", "w") as f:
        f.write("\n".join(md))
    print(json.dumps({"pages": args.pages, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
