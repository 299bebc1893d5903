"""What only the traced run (`--trace 1`) does: wrap the serve layers'
module attributes in spans, turn spans, job groups and the event log
into per-layer metrics, and time the layer kernels single-threaded."""

from __future__ import annotations

import time

import numpy as np

from perfbench import harness

BUILD_STAGES = ("tokens", "doc_stats", "postings", "terms")
APPEND_STAGES = ("tokens_append", "doc_stats_append", "postings_append",
                 "terms_append")
SERVE_CLASSES = ("single_head", "single_mid", "single_rare", "and", "or",
                 "prefix", "fielded", "not", "xor", "phrase")


def patch_serve(tracer: harness.Tracer, spark) -> None:
    """Span the serve layers at the attributes the engine calls through.
    Must run before a SearchEngine opens: the engine binds its block
    decoder at construction."""
    from oscar_spark.serve import executor, parser
    from oscar_spark.serve.executor import SearchEngine

    def count_decode(t, args, out):
        t.add("decode_blocks", 1)
        t.add("decode_postings", args[1])

    def count_expand(t, args, out):
        t.add("expand_terms", len(out))

    orig = executor.block_decoder

    def block_decoder(*args, **kwargs):
        return tracer.traced(orig(*args, **kwargs), "decode", count_decode)

    executor.block_decoder = block_decoder
    tracer._patched.append((executor, "block_decoder", orig))
    tracer.patch(executor, "bm25_np", "score")
    tracer.patch(parser, "parse", "parse")
    tracer.patch(SearchEngine, "search", "search", method=True)
    tracer.patch(SearchEngine, "search_many", "search_many", method=True)
    tracer.patch(SearchEngine, "term_stats", "term_lookup", method=True)
    for name in ("expand_prefix", "expand_wild"):
        tracer.patch(SearchEngine, name, "expand", count_expand,
                     method=True)
    tracer.patch(type(spark.range(0)), "collect", "collect", method=True)


def _med(values) -> float:
    return harness.median(values) if len(values) else 0.0


def serve_layers(tracer: harness.Tracer, rids: set, pass_rids: set,
                 open_s: list, n_terms: int, lat: dict, jobs: dict,
                 local: tuple) -> dict:
    """Serve per-layer metrics.  Times are medians over the requests in
    `rids`; decode and expansion counts are totals over `pass_rids`, one
    pass over the workload's distinct queries, so they repeat exactly."""
    from oscar_spark.serve.executor import SearchEngine
    d = tracer.durations({"parse", "expand", "term_lookup", "decode",
                          "score", "collect"}, rids)
    counts = {k: sum(tracer.counts[r].get(k, 0.0) for r in pass_rids)
              for k in ("decode_blocks", "decode_postings", "expand_terms")}
    local_jobs = [j for c in local for j in jobs.get(c, [])]
    out = {
        "serve.open_ms": _med(open_s) * 1e3,
        "serve.preload_terms": (n_terms if n_terms <=
                                SearchEngine.TERMS_PRELOAD_MAX else 0),
        "serve.search_self_ms": _med(tracer.self_times("search", rids))
        * 1e3,
        "serve.jobs_per_query": (float(np.mean(local_jobs))
                                 if local_jobs else 0.0),
        "serve.zero_job_share": (float(np.mean(np.asarray(local_jobs) == 0))
                                 if local_jobs else 0.0),
    }
    for k in ("parse", "expand", "term_lookup", "decode", "score",
              "collect"):
        out[f"serve.{k}_ms"] = _med(d[k]) * 1e3
    for k, v in counts.items():
        out[f"serve.{k}"] = v
    for c in SERVE_CLASSES:
        out[f"serve.class.{c}.p50_ms"] = _med(lat.get(c, [])) * 1e3
        out[f"serve.class.{c}.jobs"] = _med(jobs.get(c, []))
    return out


def build_layers(jobs: list, call: tuple, prefix: str,
                 stages: tuple, fields=("wall_s", "jobs", "task_cpu_s",
                                        "shuffle_write_bytes")) -> dict:
    """Per-stage metrics of one build call (t_start, t_end, stage_secs):
    wall time from BuildResult, the rest from event-log jobs whose
    submission falls inside the stage."""
    t0, t1, secs = call
    att = harness.attribute_jobs(jobs, harness.stage_intervals(t0, t1, secs))
    out = {}
    for st in stages:
        a = att.get(st, {})
        for f in fields:
            out[f"{prefix}.{st}.{f}"] = (secs.get(st, 0.0) if f == "wall_s"
                                         else a.get(f, 0))
    return out


def full_build_layers(jobs: list, call: tuple) -> dict:
    out = build_layers(jobs, call, "build", BUILD_STAGES)
    att = harness.attribute_jobs(
        jobs, harness.stage_intervals(*call))
    out["build.postings.spill_bytes"] = att.get("postings", {}).get(
        "spill_bytes", 0)
    for st in ("fingerprint", "lineage_and_counts"):
        out[f"build.{st}.wall_s"] = call[2].get(st, 0.0)
    return out


def no_append_layers() -> dict:
    out = {f"append.{st}.{f}": 0.0 for st in APPEND_STAGES
           for f in ("wall_s", "jobs")}
    out.update({"append.lineage_and_counts.wall_s": 0.0,
                "append.docs_per_s": 0.0, "append.count": 0,
                "compact.wall_s": 0.0, "compact.jobs": 0,
                "compact.shuffle_write_bytes": 0})
    out.update({f"build.c1.{st}.{f}": 0.0 for st in BUILD_STAGES
                for f in ("wall_s", "task_cpu_s")})
    return out


KERNEL_PAGES = 2000     # pages in the kernels' batch
KERNEL_MIN_S = 0.3      # least time spent timing one kernel


def _rate(fn, units: float) -> float:
    """units per second: median over repeats of fn, for at least
    KERNEL_MIN_S and three repeats."""
    times = []
    t_end = time.perf_counter() + KERNEL_MIN_S
    while time.perf_counter() < t_end or len(times) < 3:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return units / harness.median(times)


def kernel_rates(seed: int, n_pages: int) -> dict:
    """The layer kernels, single-threaded in the driver, over the first
    KERNEL_PAGES of the workload's own `generate_pages(n_pages, seed)`
    pages; encode and decode use the default codec."""
    from oscar_spark.config import BLOCK_SIZE, RANGE_SIZE
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.functions import codec as codec_mod
    from oscar_spark.functions.bm25 import bm25_np
    from oscar_spark.functions.extract import extract_series
    from oscar_spark.functions.tokenize import tokenize_flat

    from oscar_spark.config import POSTINGS_CODEC as codec
    n = KERNEL_PAGES
    pdf = generate_pages(n_pages, seed=seed, row_range=(0, n))
    html_mb = sum(len(h) for h in pdf["html"]) / 1e6
    codes, _, doc_idx, dls = tokenize_flat(pdf["text"])
    # postings (term, doc) → tf, sorted by (term, range, doc)
    key, tf = np.unique(codes * n + doc_idx, return_counts=True)
    terms, ids = key // n, key % n
    rngs = ids // RANGE_SIZE
    enc = codec_mod.encode_runs(terms, rngs, ids, tf, dls[ids],
                                BLOCK_SIZE, RANGE_SIZE, codec)
    decode = codec_mod.block_decoder(codec)
    blocks = list(zip(enc["payload"], enc["doc_count"], enc["range_id"]))

    def decode_all():
        return [decode(bytes(p), int(c), int(r) * RANGE_SIZE)
                for p, c, r in blocks]

    dec = decode_all()
    tfs = np.concatenate([t for _, t, _ in dec]).astype(np.float64)
    dlv = np.concatenate([d for _, _, d in dec]).astype(np.float64)
    avgdl = float(dls.mean())
    return {
        "kernel.extract.mb_per_s": _rate(
            lambda: extract_series(pdf["html"]), html_mb),
        "kernel.tokenize.tokens_per_s": _rate(
            lambda: tokenize_flat(pdf["text"]), len(codes)),
        "kernel.encode.postings_per_s": _rate(
            lambda: codec_mod.encode_runs(terms, rngs, ids, tf, dls[ids],
                                          BLOCK_SIZE, RANGE_SIZE, codec),
            len(ids)),
        "kernel.decode.postings_per_s": _rate(decode_all, len(ids)),
        "kernel.bm25.postings_per_s": _rate(
            lambda: bm25_np(tfs, dlv, 100.0, float(n), avgdl), len(tfs)),
    }
