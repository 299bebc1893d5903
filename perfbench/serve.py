"""`serve` workload: one client in a closed loop against a warm
`SearchEngine`, over an index whose posting payloads fit in the engine's
block cache.

Set-up generates the pages from the seed (the fixture's chunked
protocol, chunk 0 = `generate_pages(seed=seed)`), builds a positional
index with the `lang` field (so phrase and
fielded leaves exist), opens the engine three times, and runs one
untimed pass over the query pool.  The timed phase then runs, one call
at a time:

1. a Zipf-skewed stream of single, AND, OR, prefix and fielded queries
   through `search(k=10)`; they take the driver-local path and, with the
   cache warm, start no Spark job;
2. the same stream in batches of 10 through `search_many`;
3. in the traced run only: a uniform stream of NOT, XOR and
   quoted-phrase queries, which take the brute and phrase paths and run
   Spark jobs (they are warmed by one query each in that run's set-up).

Every answer is recorded and checked after timing against the
pure-Python `OracleIndex` (rank identity: doc ids and rounded scores).
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np

from perfbench import harness, traced

N_PAGES = 3_000
INPUT_FILES = 8
FIELDS = ("lang",)
K = 10
LOCAL_CLASSES = ("single_head", "single_mid", "single_rare", "and", "or",
                 "prefix", "fielded")
SPARK_CLASSES = ("not", "xor", "phrase")
PER_CLASS = 8
# share of --seconds given to each timed phase; the Spark-path phase
# runs in the traced run only, after the others
PHASES = {"local": 0.7, "batch": 0.3, "spark": 0.5}
BATCH = 10
OPENS = 3
WARM_QUERIES = 20


def query_pool(rng: np.random.RandomState, pairs: list) -> dict:
    """{class: [query]} over the fixture's Zipf vocabulary: ranks < 30
    are head terms (df near N), 100-999 mid-df, 2000-4999 rare.  Every
    local class holds PER_CLASS distinct queries."""
    from oscar_spark.fixtures.pages import vocabulary
    vocab = vocabulary()
    head, mid, rare = vocab[:30], vocab[100:1000], vocab[2000:5000]
    n = PER_CLASS

    def pick(words, k=n):
        return [str(w) for w in rng.choice(words, k, replace=False)]

    mids = pick(mid, 2 * n)
    pool = {
        "single_head": pick(head),
        "single_mid": pick(mid),
        "single_rare": pick(rare),
        "and": [f"{h} {m}" for h, m in zip(pick(head), pick(mid))],
        "or": [f"{h} + {a} + {b}"
               for h, a, b in zip(pick(head), mids[:n], mids[n:])],
        "prefix": [f"wd0{d}*" for d in
                   rng.choice(np.arange(10, 100), n, replace=False)],
        "fielded": [f"lang:{lg} {h}" for lg, h in
                    zip(rng.choice(["de", "fr"], n), pick(head))],
        "not": [f"{h} - {m}" for h, m in zip(pick(head, 3), pick(mid, 3))],
        "xor": [f"{a} ^ {b}" for a, b in zip(pick(mid, 3), pick(mid, 3))],
        "phrase": list(dict.fromkeys(
            '"{} {}"'.format(*pairs[i])
            for i in rng.choice(len(pairs), 3, replace=False))),
    }
    return pool


def phrase_pairs(texts: list[str], rng: np.random.RandomState) -> list:
    """Adjacent token pairs taken from the corpus, so phrases match."""
    from oscar_spark.functions.tokenize import tokenize
    out = []
    for i in rng.choice(len(texts), 50, replace=False):
        toks = tokenize(texts[i])
        j = rng.randint(0, len(toks) - 1)
        out.append((toks[j], toks[j + 1]))
    return out


def zipf_stream(rng, pool: dict, n: int) -> list[str]:
    """n draws, Zipf-skewed over popularity ranks.  Rank r is query
    r // 7 of local class r % 7, so every seed puts the same classes at
    the same popularity and only the terms change."""
    ranked = [pool[c][i] for i in range(PER_CLASS) for c in LOCAL_CLASSES]
    w = 1.0 / (np.arange(len(ranked)) + 1.0)
    return [ranked[i] for i in rng.choice(len(ranked), n, p=w / w.sum())]


def run(r: harness.Run) -> None:
    # no separate worker pre-warm: the set-up build spawns the workers
    spark, spark_s = harness.start_spark(os.cpu_count(), prewarm=False)
    try:
        call = _run(r, spark, spark_s)
    finally:
        if r.tracer:
            r.tracer.restore()
        app_id = spark.sparkContext.applicationId
        harness.shutdown_spark(spark)
    if r.trace:
        jobs = harness.event_log_jobs(os.path.join(r.work, "events"),
                                      app_id)
        r.layer.update(traced.full_build_layers(jobs, call))
        r.layer.update(traced.no_append_layers())
        r.layer.update(traced.kernel_rates(r.seed, N_PAGES))


def _run(r: harness.Run, spark, spark_s: float) -> tuple:
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.serve.executor import SearchEngine, clear_preload_cache

    rng = np.random.RandomState(r.seed)
    tracer = r.tracer
    counter = harness.JobCounter(spark) if r.trace else None
    in_dir = os.path.join(r.work, "pages")
    idx = os.path.join(r.work, "index")

    t0 = time.perf_counter()
    pages = generate_pages(N_PAGES, seed=r.seed)
    harness.write_pages(pages, in_dir, INPUT_FILES)
    pages_gen_s = time.perf_counter() - t0

    t_build = time.time()
    cpu0 = harness.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    res = build_index(spark, spark.read.parquet(in_dir), idx,
                      positions=True, fields=FIELDS)
    build_s = time.perf_counter() - t0
    build_cpu_s = harness.tree_cpu_s(os.getpid()) - cpu0
    build_call = (t_build, time.time(), res.stage_secs)
    r.mark("build")

    # ---- the benchmark's own work, outside set-up and timing ----
    text_bytes = sum(len(t.encode()) for t in pages["text"])
    pool = query_pool(rng, phrase_pairs(list(pages["text"]), rng))
    local_pool = [q for c in LOCAL_CLASSES for q in pool[c]]
    cls_of = {q: c for c, qs in pool.items() for q in qs}
    stream = zipf_stream(rng, pool, 20_000)
    spark_stream = [pool[c][rng.randint(len(pool[c]))]  # classes in turn
                    for _ in range(300) for c in SPARK_CLASSES]
    store = harness.store_stats(idx)
    payload = harness.payload_bytes(spark, idx)
    if tracer:
        traced.patch_serve(tracer, spark)

    # ---- set-up continued: open the engine, warm it ----
    open_s, first_s = [], []
    for _ in range(OPENS):
        clear_preload_cache()  # each open pays the term preload
        t0 = time.perf_counter()
        eng = SearchEngine(spark, idx)
        t1 = time.perf_counter()
        eng.search(local_pool[0], k=K)
        open_s.append(t1 - t0)
        first_s.append(time.perf_counter() - t1)
    reopen_s = harness.median([a + b for a, b in zip(open_s, first_s)])
    # one shared fetch job fills the block cache for the whole local
    # pool; the head of the stream then runs the search() path until the
    # JVM has compiled it; one query per Spark-path class compiles its
    # plans
    if tracer:
        tracer.rid = "pass"
    t0 = time.perf_counter()
    eng.search_many(local_pool, k=K)
    if tracer:
        tracer.rid = "warmup"
    for q in stream[:WARM_QUERIES]:
        eng.search(q, k=K)
    if r.trace:
        for c in ("not", "phrase"):  # xor shares the brute path with not
            eng.search(pool[c][0], k=K)
    warmup_s = time.perf_counter() - t0
    r.mark("open_warmup")

    # ---- timed: three closed-loop phases, one client ----
    answers: dict[str, list] = {}
    lat: dict[str, list] = {}
    qjobs: dict[str, list] = {}
    local_lat: list[float] = []

    def one(q: str, rid) -> float | None:
        r.attempted += 1
        if tracer:
            tracer.rid = rid
        cnt: list = []
        t0 = time.perf_counter()
        try:
            if counter:
                with counter.count(cnt):
                    ans = eng.search(q, k=K)
            else:
                ans = eng.search(q, k=K)
        except Exception:
            r.fail(1, f"search({q!r}) raised")
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t0
        answers.setdefault(q, []).append(ans)
        lat.setdefault(cls_of[q], []).append(dt)
        qjobs.setdefault(cls_of[q], []).extend(cnt)
        return dt

    i = 0
    t_start = time.perf_counter()
    t_stop = t_start + PHASES["local"] * r.seconds
    while time.perf_counter() < t_stop and i < len(stream):
        dt = one(stream[i], i)
        if dt is not None:
            local_lat.append(dt)
        i += 1
    local_wall = time.perf_counter() - t_start
    local_rids = set(range(i))

    batch_jobs: list = []
    nb = 0
    t_start = time.perf_counter()
    t_stop = t_start + PHASES["batch"] * r.seconds
    while time.perf_counter() < t_stop:
        qs = stream[nb * BATCH:(nb + 1) * BATCH]
        r.attempted += len(qs)
        if tracer:
            tracer.rid = ("batch", nb)
        try:
            if counter:
                with counter.count(batch_jobs):
                    outs = eng.search_many(qs, k=K)
            else:
                outs = eng.search_many(qs, k=K)
        except Exception:
            r.fail(len(qs), f"search_many(batch {nb}) raised")
            traceback.print_exc()
            outs = []
        for q, ans in zip(qs, outs):
            answers.setdefault(q, []).append(ans)
        nb += 1
    batch_wall = time.perf_counter() - t_start

    j = 0
    t_stop = time.perf_counter() + PHASES["spark"] * r.seconds
    while r.trace and (time.perf_counter() < t_stop or j < 3):
        one(spark_stream[j], ("spark", j))
        j += 1
    if tracer:
        tracer.rid = None
        tracer.restore()

    r.metrics.update({
        "setup_s": spark_s + pages_gen_s + build_s + reopen_s + warmup_s,
        "index_docs_per_cpu_s": N_PAGES / build_cpu_s,
        "index_bytes_per_text_byte": store["index_bytes"] / text_bytes,
    })
    r.metrics["driver_peak_rss_mb"] = harness.peak_rss_mb(os.getpid())
    r.layer["mem.jvm_peak_rss_mb"] = harness.peak_rss_mb(
        harness.jvm_process(spark).pid)
    r.samples.update({"serve.query_p50_ms": len(local_lat),
                      "serve.query_p90_ms": len(local_lat),
                      "serve.reopen_s": OPENS,
                      "spark_path_queries": j, "batches": nb})
    r.sizes.update({
        "pages": N_PAGES, "text_bytes": text_bytes,
        "payload_bytes": payload,
        "block_cache_max_bytes": SearchEngine.BLOCK_CACHE_MAX_BYTES,
        "prune_min_postings": SearchEngine.PRUNE_MIN_POSTINGS,
        "distinct_queries": {c: len(pool[c]) for c in pool}})
    r.layer.update({
        "serve.reopen_s": reopen_s,
        "serve.query_p50_ms": harness.percentile(local_lat, 50) * 1e3,
        "serve.query_p90_ms": harness.percentile(local_lat, 90) * 1e3,
        "serve.queries_per_s": len(local_lat) / local_wall,
        "serve.batch_queries_per_s": nb * BATCH / batch_wall,
        "index.docs_per_s": N_PAGES / build_s,
        "setup.spark_s": spark_s, "setup.pages_gen_s": pages_gen_s,
        "setup.index_build_s": build_s, "setup.warmup_s": warmup_s})
    if tracer:
        r.layer.update({
            "serve.batch.jobs_per_batch": float(np.mean(batch_jobs)),
            "serve.cache_bytes": eng._block_cache_bytes,
            "serve.cache_terms": len(eng._block_cache),
            "store.payload_bytes": payload,
            **{k: v for k, v in store.items() if k.startswith("store.")}})
        r.layer.update(traced.serve_layers(
            tracer, local_rids, {"pass"}, open_s, res.n_terms, lat, qjobs,
            LOCAL_CLASSES))

    r.mark("timed")
    # ---- after timing: every answer against the oracle ----
    oracle = harness.oracle_for(pages, harness.doc_ids(spark, idx), FIELDS)
    for q, got in answers.items():
        exp = oracle.search(q, k=K)
        bad = sum(not harness.same_answer(a, exp) for a in got)
        if bad:
            r.fail(bad, f"{q!r}: {bad}/{len(got)} answers differ from the "
                   f"oracle, e.g. {got[0][:3]} vs {exp[:3]}")
    r.mark("oracle")
    return build_call
