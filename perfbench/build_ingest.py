"""`build_ingest` workload: a full build, then appends of new crawl
drops, each followed by a reopen of the engine on the new snapshot.

Set-up generates the base corpus from the seed (the fixture's chunked
protocol, chunk 0 = `generate_pages(seed=seed)`) as parquet files of
one input directory, and stages each drop, a tenth of the base with
urls no other page uses, as one parquet file.  The timed calls, in
order:

1. `build_index` over the input directory;
2. per drop: move its file into the input directory and run
   `build_index(resume=True)`, which must take the append path (a
   silent full rebuild counts as a failed operation); then a fresh
   `SearchEngine` opens on the new snapshot with its first answer; the
   probe set is answered once to fill the block cache and then once
   more: one client, closed loop.  The traced run opens the engine
   twice and answers the probe set three times more.

Indexing throughput is counted in pages per CPU second of the driver,
its JVM and the JVM's Python workers, over the build and the append.

After timing every answer is compared with the pure-Python
`OracleIndex` of its snapshot.  The traced run then also runs
`check_index` on the store, which holds every segment the build and the
appends wrote, times `compact_index` and checks its store the same way,
and repeats the base build on a `local[1]` session.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from perfbench import harness, traced

N_BASE = 4_000
N_DROPS = 1
N_DROP = N_BASE // 10
INPUT_FILES = 8
K = 10
REOPENS = 2
PROBE_PASSES = 3
PROBES = {"the": "single_head", "wd0042": "single_mid",
          "city state": "and", "house music": "and",
          "war + history + world": "or", "county + river": "or",
          "wd0123 + wd0456": "or", "wd012*": "prefix"}


def run(r: harness.Run) -> None:
    spark, spark_s = harness.start_spark(os.cpu_count())
    holder = {"spark": spark}
    try:
        calls = _run(r, holder, spark_s)
    finally:
        if r.tracer:
            r.tracer.restore()
        harness.shutdown_spark(holder["spark"])
    if r.trace:
        _event_log_layers(r, calls)
        r.layer.update(traced.kernel_rates(r.seed, N_BASE))


def _event_log_layers(r: harness.Run, calls: dict) -> None:
    ev = os.path.join(r.work, "events")
    jobs = harness.event_log_jobs(ev, calls["app"])
    r.layer.update(traced.full_build_layers(jobs, calls["build"]))
    per = [traced.build_layers(jobs, c, "append", traced.APPEND_STAGES,
                               ("wall_s", "jobs"))
           for c in calls["appends"]]
    for k in per[0]:
        r.layer[k] = harness.median([p[k] for p in per])
    r.layer["append.lineage_and_counts.wall_s"] = harness.median(
        [c[2].get("lineage_and_counts", 0.0) for c in calls["appends"]])
    t0, t1 = calls["compact"]
    att = harness.attribute_jobs(jobs, {"compact": (t0, t1)})["compact"]
    r.layer.update({"compact.wall_s": t1 - t0, "compact.jobs": att["jobs"],
                    "compact.shuffle_write_bytes":
                        att["shuffle_write_bytes"]})
    r.layer.update(traced.build_layers(
        harness.event_log_jobs(ev, calls["c1_app"]), calls["c1"],
        "build.c1", traced.BUILD_STAGES, ("wall_s", "task_cpu_s")))


def _one_core_build(holder: dict, input_dir: str, work: str):
    """The base build again on a `local[1]` session in the same JVM, for
    the per-stage comparison with the `local[nproc]` build.  The new
    session replaces the one in `holder`.
    → ((t_start, t_end, stage_secs), application id)."""
    from oscar_spark.build.indexer import build_index
    holder["spark"].stop()
    spark, _ = harness.start_spark(1)
    holder["spark"] = spark
    t0 = time.time()
    res = build_index(spark, spark.read.parquet(input_dir),
                      os.path.join(work, "index_c1"))
    return (t0, time.time(), res.stage_secs), \
        spark.sparkContext.applicationId


def _run(r: harness.Run, holder: dict, spark_s: float) -> dict:
    from oscar_spark.build.check import check_index
    from oscar_spark.build.indexer import build_index, compact_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.serve.executor import SearchEngine, clear_preload_cache

    spark = holder["spark"]
    tracer = r.tracer
    counter = harness.JobCounter(spark) if r.trace else None
    in_dir = os.path.join(r.work, "input")
    base_dir = os.path.join(r.work, "base")
    idx = os.path.join(r.work, "index")
    if tracer:
        traced.patch_serve(tracer, spark)

    # ---- set-up: the base input and the staged drops ----
    t0 = time.perf_counter()
    base = generate_pages(N_BASE, seed=r.seed)
    harness.write_pages(base, in_dir, INPUT_FILES)
    drops = [generate_pages(N_DROP, seed=r.seed + 1000 + i,
                            start_index=N_BASE + i * N_DROP)
             for i in range(N_DROPS)]
    staged = [harness.write_pages(d, os.path.join(r.work, f"stage{i}"),
                                  name=f"drop{i}")[0]
              for i, d in enumerate(drops)]
    pages_gen_s = time.perf_counter() - t0
    r.mark("setup")
    if r.trace:
        shutil.copytree(in_dir, base_dir)
    corpus = [base] + drops

    answers: list = []      # (snapshot, query, answer)
    snapshots: list = []    # (corpus parts held, url → doc id)
    reopen: list[float] = []
    probe_lat: list[float] = []
    probe_wall = 0.0
    lat: dict[str, list] = {}
    qjobs: dict[str, list] = {}
    engines: list = []
    open_s: list[float] = []

    def ask(s: int, rid, q: str, cnt: list):
        """One probe on the newest engine; → latency, or None if it raised."""
        r.attempted += 1
        if tracer:
            tracer.rid = rid
        t1 = time.perf_counter()
        try:
            if counter:
                with counter.count(cnt):
                    ans = engines[-1].search(q, k=K)
            else:
                ans = engines[-1].search(q, k=K)
        except Exception:
            r.fail(1, f"snapshot {s}: search({q!r}) raised")
            traceback.print_exc()
            return None
        answers.append((s, q, ans))
        return time.perf_counter() - t1

    def snapshot(n_parts: int) -> None:
        """Open a fresh engine on the current snapshot (REOPENS times in
        the traced run), each time with its first answer; answer the
        probe set once to fill the block cache, then once more timed
        (PROBE_PASSES times in the traced run).  Finally note
        the snapshot's doc ids for the answer check."""
        nonlocal probe_wall
        s = len(snapshots)
        first = next(iter(PROBES))
        for o in range(REOPENS if r.trace else 1):
            clear_preload_cache()  # each open pays the term preload
            t0 = time.perf_counter()
            engines.append(SearchEngine(spark, idx))
            open_s.append(time.perf_counter() - t0)
            dt = ask(s, (s, "open", o), first, [])
            if dt is not None:
                reopen.append(open_s[-1] + dt)
        for qi, q in enumerate(PROBES):
            ask(s, (s, "warm", qi), q, [])
        t0 = time.perf_counter()
        for rep in range(PROBE_PASSES if r.trace else 1):
            for qi, q in enumerate(PROBES):
                cnt: list = []
                dt = ask(s, (s, rep, qi), q, cnt)
                if dt is not None:
                    probe_lat.append(dt)
                    lat.setdefault(PROBES[q], []).append(dt)
                    qjobs.setdefault(PROBES[q], []).extend(cnt)
        probe_wall += time.perf_counter() - t0
        snapshots.append((n_parts, harness.doc_ids(spark, idx)))

    # ---- timed: the build, then each append and its reopen ----
    r.attempted += 1
    t_build = time.time()
    cpu0 = harness.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    res = build_index(spark, spark.read.parquet(in_dir), idx)
    build_s = time.perf_counter() - t0
    index_cpu_s = harness.tree_cpu_s(os.getpid()) - cpu0
    calls = {"build": (t_build, time.time(), res.stage_secs),
             "appends": [], "app": spark.sparkContext.applicationId}
    r.mark("build")

    append_s = []
    for i, f in enumerate(staged):
        os.rename(f, os.path.join(in_dir, os.path.basename(f)))
        r.attempted += 1
        t_a = time.time()
        cpu0 = harness.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        res_a = build_index(spark, spark.read.parquet(in_dir), idx,
                            resume=True)
        append_s.append(time.perf_counter() - t0)
        index_cpu_s += harness.tree_cpu_s(os.getpid()) - cpu0
        calls["appends"].append((t_a, time.time(), res_a.stage_secs))
        if not any(s.startswith("append:") for s in res_a.resumed_stages):
            r.fail(1, f"drop {i} did not take the append path: "
                   f"{res_a.resumed_stages}")
        r.mark("append")
        snapshot(i + 2)
        r.mark("snapshot")

    if tracer:
        tracer.rid = None

    store = harness.store_stats(idx)
    text_bytes = sum(len(t.encode()) for c in corpus for t in c["text"])
    indexed = N_BASE + N_DROP * len(append_s)
    r.metrics.update({
        "setup_s": spark_s + pages_gen_s,
        "index_docs_per_cpu_s": indexed / index_cpu_s,
        "index_bytes_per_text_byte": store["index_bytes"] / text_bytes,
    })
    r.metrics["driver_peak_rss_mb"] = harness.peak_rss_mb(os.getpid())
    r.layer["mem.jvm_peak_rss_mb"] = harness.peak_rss_mb(
        harness.jvm_process(spark).pid)
    r.layer.update({"serve.reopen_s": harness.median(reopen),
                    "serve.query_p50_ms":
                    harness.percentile(probe_lat, 50) * 1e3,
                    "serve.query_p90_ms":
                    harness.percentile(probe_lat, 90) * 1e3,
                    "serve.queries_per_s": len(probe_lat) / probe_wall,
                    "index.docs_per_s": indexed / (build_s + sum(append_s)),
                    "setup.spark_s": spark_s,
                    "setup.pages_gen_s": pages_gen_s,
                    "setup.index_build_s": 0.0, "setup.warmup_s": 0.0})
    r.samples.update({"serve.query_p50_ms": len(probe_lat),
                      "serve.query_p90_ms": len(probe_lat),
                      "serve.reopen_s": len(reopen),
                      "appends": len(append_s)})
    payload = harness.payload_bytes(spark, idx)
    r.sizes.update({
        "base_pages": N_BASE, "drop_pages": [N_DROP] * N_DROPS,
        "text_bytes": text_bytes, "payload_bytes": payload,
        "block_cache_max_bytes": SearchEngine.BLOCK_CACHE_MAX_BYTES})
    if tracer:
        tracer.restore()
        last = len(snapshots) - 1
        rids = {(s, rep, qi) for s in range(len(snapshots))
                for rep in range(PROBE_PASSES) for qi in range(len(PROBES))}
        r.layer.update({
            "append.docs_per_s": N_DROP / harness.median(append_s),
            "append.count": len(append_s),
            "serve.batch_queries_per_s": 0.0,
            "serve.batch.jobs_per_batch": 0.0,
            "serve.cache_bytes": engines[-1]._block_cache_bytes,
            "serve.cache_terms": len(engines[-1]._block_cache),
            "store.payload_bytes": payload,
            **{k: v for k, v in store.items() if k.startswith("store.")}})
        r.layer.update(traced.serve_layers(
            tracer, rids, {(last, "warm", qi) for qi in range(len(PROBES))},
            open_s, res.n_terms, lat, qjobs, tuple(set(PROBES.values()))))

    # ---- after timing: every answer ----
    oracles: dict = {}
    expected: dict = {}
    for s, q, got in answers:
        if (s, q) not in expected:
            n_parts, ids = snapshots[s]
            key = (n_parts, tuple(sorted(ids.items())))
            if key not in oracles:
                parts = corpus[:n_parts]
                oracles[key] = harness.oracle_for(
                    {c: [v for p in parts for v in p[c]]
                     for c in ("url", "text")}, ids)
            expected[s, q] = oracles[key].search(q, k=K)
        if not harness.same_answer(got, expected[s, q]):
            r.fail(1, f"snapshot {s} {q!r}: {got[:3]} vs oracle "
                   f"{expected[s, q][:3]}")
    r.mark("oracle")
    if r.trace:
        if not check_index(spark, idx)["ok"]:
            r.fail(1, "check_index after the last append")
        r.attempted += 1
        t_c = time.time()
        info = compact_index(spark, idx)
        calls["compact"] = (t_c, time.time())
        if not info.get("compacted"):
            r.fail(1, f"compaction merged nothing: {info}")
        if not check_index(spark, idx)["ok"]:
            r.fail(1, "check_index after compaction")
        calls["c1"], calls["c1_app"] = _one_core_build(holder, base_dir,
                                                       r.work)
    return calls
