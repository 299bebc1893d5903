"""Machinery shared by the workloads: process environment, the Spark
session's lifetime, Spark job counting, spans, the local event log,
on-disk store sizes and answer checks.

Everything here observes the engine from outside: it calls public
functions and wraps module attributes, and never edits `oscar_spark/`.
"""

from __future__ import annotations

import json
import operator
import os
import shlex
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".bench_out")


class Run:
    """One benchmark process: its arguments, the operations it attempted
    and failed, and what it measured."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.tracer = Tracer() if trace else None
        self.metrics: dict = {}   # end-to-end
        self.layer: dict = {}     # per-layer (traced run only)
        self.samples: dict = {}   # sample count behind each percentile
        self.sizes: dict = {}     # input sizes measured in set-up
        self.attempted = 0
        self.failed = 0
        self.timeline: list = []  # (phase, s since the run began)
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        self.timeline.append((phase, time.perf_counter() - self._t0))

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        print(f"FAIL {what}", file=sys.stderr)


def configure_env(work: str, trace: bool) -> None:
    """Keep every scratch write of Spark, its JVM and its Python workers
    inside `work`.  Must run before pyspark launches the JVM."""
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # the session's background pre-warm writes a scratch table under
    # /dev/shm; the benchmark pre-warms the same workers in the
    # foreground instead (inside setup_s)
    os.environ["OSCAR_ASYNC_PREWARM"] = "0"
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.dir=file://"
                 + os.path.join(work, "events")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])


def start_spark(cores: int, prewarm: bool = True):
    """A `local[cores]` session → (spark, seconds).  prewarm: spawn the
    Python UDF workers now, so that the first timed job does not."""
    t0 = time.perf_counter()
    from oscar_spark.build.indexer import prewarm_workers
    from oscar_spark.session import get_spark
    spark = get_spark(app="oscar-perfbench", cores=cores,
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    if prewarm:
        prewarm_workers(spark)
    return spark, time.perf_counter() - t0


def jvm_process(spark):
    return spark.sparkContext._gateway.proc


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited
    (its Python workers are its children and go with it)."""
    from pyspark import SparkContext
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for process {pid}")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) spent so far by a process and every
    descendant, alive or reaped: the driver, its JVM and the JVM's
    Python workers.  Time the host steals from this machine is not in
    it."""
    kids: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        stats[int(name)] = fields
        kids[int(fields[1])].append(int(name))
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        if p in stats:
            # utime, stime, cutime, cstime: fields 14-17 of stat
            ticks += sum(int(v) for v in stats[p][11:15])
        todo.extend(kids.get(p, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def host_context() -> dict:
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg())}


def percentile(values, q: float) -> float:
    import numpy as np
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return percentile(values, 50)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under path, ignoring checksum side files."""
    n = files = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            n += os.path.getsize(os.path.join(d, name))
            files += 1
    return n, files


STORE_TABLES = ("postings", "terms", "doc_stats", "tokens", "terms_rev",
                "terms_ngram")


def store_stats(index_dir: str) -> dict:
    """On-disk size of each index table plus the store's segment count."""
    from oscar_spark.sources.tables import IndexStore
    store = IndexStore(index_dir)
    out = {}
    for t in STORE_TABLES:
        out[f"store.{t}.bytes"], files = dir_bytes(store.path(t))
        if t == "postings":
            out["store.postings.files"] = files
    out["store.segments"] = len(store.segments("postings"))
    out["index_bytes"] = dir_bytes(index_dir)[0]
    return out


def write_pages(pdf, out_dir: str, n_files: int = 1,
                name: str = "part") -> list[str]:
    """Pages as parquet files in out_dir, split into n_files: UTC
    microsecond timestamps, the layout Spark itself writes and reads
    back as the fixture's schema.  → the file paths."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    cuts = np.linspace(0, len(pdf), n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"{name}-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf.iloc[cuts[i]:cuts[i + 1]],
                                            preserve_index=False),
                       path, coerce_timestamps="us")
        paths.append(path)
    return paths


def payload_bytes(spark, index_dir: str) -> int:
    """Σ posting payload bytes: what the serve block cache would hold."""
    from pyspark.sql import functions as F

    from oscar_spark.sources.tables import IndexStore
    df = IndexStore(index_dir).read(spark, "postings")
    return int(df.agg(F.sum(F.length("payload"))).collect()[0][0] or 0)


def doc_ids(spark, index_dir: str) -> dict[str, int]:
    from oscar_spark.sources.tables import IndexStore
    rows = IndexStore(index_dir).read(spark, "doc_stats") \
        .select("url", "doc_id").collect()
    return {r["url"]: int(r["doc_id"]) for r in rows}


def oracle_for(pages, ids: dict[str, int], fields: tuple[str, ...] = ()):
    """The pure-Python reference engine over the pages a snapshot holds,
    keyed by the doc ids the index assigned."""
    from oscar_spark.oracle.engine import OracleIndex
    docs = [(ids[u], t) for u, t in zip(pages["url"], pages["text"])]
    fv = None
    if fields:
        fv = {ids[u]: {f: row[i] for i, f in enumerate(fields)}
              for u, *row in zip(pages["url"],
                                 *(pages[f] for f in fields))}
    return OracleIndex(docs, fields=fv)


def same_answer(got, expected) -> bool:
    """Rank identity: the same doc ids in order, scores equal at the
    engine's pinned rounding."""
    from oscar_spark.config import SCORE_ROUND
    return ([d for d, _ in got] == [d for d, _ in expected] and
            all(round(a, SCORE_ROUND) == round(b, SCORE_ROUND)
                for (_, a), (_, b) in zip(got, expected)))


class JobCounter:
    """Spark jobs per call, through a job group set on the calling
    thread (jobs the engine starts from its own threads carry no group;
    the event log attributes those by time instead)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def count(self, into: list):
        gid = f"perfbench-{self.n}"
        self.n += 1
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            into.append(len(self.sc.statusTracker()
                            .getJobIdsForGroup(gid)))


class _ShippedAsIs:
    """A traced callable that Spark may pickle into a Python worker: it
    travels as the bare function, so spans are recorded on the driver
    only and a worker never sees the tracer."""

    def __init__(self, fn, call):
        self.fn = fn
        self._call = call

    def __call__(self, *args, **kwargs):
        return self._call(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.fn,),)


class Tracer:
    """In-memory spans (name, start, end, parent, request id) recorded
    at the module attributes the benchmark wraps, plus named counters
    per request."""

    def __init__(self):
        self.spans: list[list] = []
        self.counts: dict = defaultdict(lambda: defaultdict(float))
        self.rid = None
        self._tls = threading.local()
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        rec = [name, time.perf_counter(), None,
               stack[-1] if stack else None, self.rid]
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            stack.pop()

    def add(self, name: str, value: float) -> None:
        self.counts[self.rid][name] += value

    def traced(self, fn, name: str, count=None):
        """fn wrapped in a span; count(args, result) adds counters."""
        def call(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if count is not None:
                count(self, args, out)
            return out
        return _ShippedAsIs(fn, call)

    def patch(self, owner, attr: str, name: str, count=None,
              method: bool = False) -> None:
        orig = getattr(owner, attr)
        wrapped = self.traced(orig, name, count)
        if method:  # keep the descriptor protocol for class attributes
            def bound(*args, **kwargs):
                return wrapped(*args, **kwargs)
            bound.__name__ = attr
            setattr(owner, attr, bound)
        else:
            setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def durations(self, names: set[str], rids: set) -> dict:
        """{name: [total duration per request]} over the given requests."""
        per: dict = defaultdict(lambda: defaultdict(float))
        for name, s, e, _, rid in self.spans:
            if name in names and rid in rids and e is not None:
                per[name][rid] += e - s
        return {n: [per[n].get(r, 0.0) for r in sorted(rids)]
                for n in names}

    def self_times(self, name: str, rids: set) -> list[float]:
        """Per request: Σ over spans called `name` of their duration
        minus the part of it their child spans cover."""
        kids: dict = defaultdict(list)
        for i, (_, s, e, parent, _) in enumerate(self.spans):
            if parent is not None and e is not None:
                kids[parent].append((s, e))
        per: dict = defaultdict(float)
        for i, (n, s, e, _, rid) in enumerate(self.spans):
            if n != name or rid not in rids or e is None:
                continue
            covered, last = 0.0, s
            for cs, ce in sorted(kids[i]):
                cs, ce = max(cs, last), min(ce, e)
                if ce > cs:
                    covered += ce - cs
                    last = ce
            per[rid] += (e - s) - covered
        return [per.get(r, 0.0) for r in sorted(rids)]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def event_log_jobs(events_dir: str, app_id: str) -> list[dict]:
    """Jobs of one application from Spark's local event log: submission
    time (epoch s), description, and the Σ of its tasks' metrics."""
    path = os.path.join(events_dir, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"t": ev["Submission Time"] / 1000.0,
                             "desc": props.get("spark.job.description"),
                             "cpu_s": 0.0, "run_s": 0.0,
                             "shuffle_write_bytes": 0, "spill_bytes": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    return list(jobs.values())


def stage_intervals(t_start: float, t_end: float,
                    stage_secs: dict) -> dict[str, tuple[float, float]]:
    """Wall-clock interval of each stage of a build call, laid out from
    the call's end backwards: `stage_secs` (BuildResult) covers the
    stages in order; whatever precedes them is the call's own set-up."""
    out = {}
    t = t_end - sum(stage_secs.values())
    for name, secs in stage_secs.items():
        out[name] = (t, t + secs)
        t += secs
    if out:
        first = next(iter(out))
        out[first] = (min(t_start, out[first][0]), out[first][1])
    return out


def attribute_jobs(jobs: list[dict], intervals: dict) -> dict:
    """{interval name: {jobs, task_cpu_s, task_run_s,
    shuffle_write_bytes, spill_bytes}} by job submission time."""
    out = {n: {"jobs": 0, "task_cpu_s": 0.0, "task_run_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
           for n in intervals}
    for job in jobs:
        for n, (a, b) in intervals.items():
            if a <= job["t"] < b:
                o = out[n]
                o["jobs"] += 1
                o["task_cpu_s"] += job["cpu_s"]
                o["task_run_s"] += job["run_s"]
                o["shuffle_write_bytes"] += job["shuffle_write_bytes"]
                o["spill_bytes"] += job["spill_bytes"]
                break
    return out
