"""Traced runs: timing proxies around the package's public entry points,
wall-clock self-time attribution, and Spark event-log metrics.

The package is not edited.  ``install`` swaps module attributes for timing
wrappers (``functools.wraps`` keeps their module/qualname, so a wrapper that
a Spark closure references still pickles by reference and the Python
workers run the original) and returns a function that restores them.
Spans are kept in memory and turned into metrics once, at the end.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

#: span-name prefix → layer (the package module that does the work)
LAYERS = {"build": "build", "tokenizer": "build", "codec": "build",
          "serve": "serve", "spark": "spark", "lifecycle": "lifecycle",
          "bench": "bench"}

#: serving-tier API calls (their self time is the merge phase)
SERVE_CALLS = ("serve.search", "serve.search_batch", "serve.search_prefix",
               "serve.search_fuzzy")


def layer_of(name: str) -> str:
    return LAYERS[name.split(".", 1)[0]]


class Tracer:
    """In-memory spans ``(name, t0, t1, depth)`` plus named counters."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []
        self.counts: Counter = Counter()
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self.local = threading.local()       # per-thread flags of proxies
        self.wall0 = time.time()
        self.perf0 = time.perf_counter()

    def _stack(self) -> list[int]:
        tid = threading.get_ident()
        st = self._stacks.get(tid)
        if st is None:
            with self._lock:
                st = self._stacks[tid] = []
        return st

    def depth(self) -> int:
        """Depth of the innermost open span on this thread, or of the span
        its task was carried from (-1: none)."""
        st = self._stack()
        if st:
            return st[-1]
        base = getattr(self.local, "base", None)
        return -1 if base is None else base

    @contextmanager
    def span(self, name: str):
        """Time a block.  A thread with no open span of its own nests the
        span under the depth its task was submitted from (``carry``), or
        else (a Structured Streaming ``foreachBatch`` callback) under the
        deepest span open on any thread."""
        st = self._stack()
        if st:
            d = st[-1] + 1
        elif getattr(self.local, "base", None) is not None:
            d = self.local.base + 1
        else:
            with self._lock:
                tops = [s[-1] for s in self._stacks.values() if s]
            d = 1 + max(tops, default=-1)
        st.append(d)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans.append((name, t0, t1, d))

    def carry(self, fn):
        """``fn`` wrapped to run, on whatever thread, as if nested in the
        span open here now (a pool task under the call that submitted
        it)."""
        base = self.depth()

        def task(*a, **kw):
            outer = getattr(self.local, "base", None)
            self.local.base = base
            try:
                return fn(*a, **kw)
            finally:
                self.local.base = outer
        return task

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] += value

    def to_perf(self, epoch_ms: float) -> float:
        return epoch_ms / 1000.0 - self.wall0 + self.perf0


def self_times(spans) -> dict[str, float]:
    """Wall-clock self time per span name: every instant covered by some
    span goes to the deepest span open at that instant (the latest-started
    one among equals), so the values sum to the union of all spans and a
    span's self time is its duration minus what its children cover."""
    events = []
    for i, (_, t0, t1, _) in enumerate(spans):
        events.append((t0, 1, i))
        events.append((t1, 0, i))
    events.sort(key=lambda e: (e[0], e[1]))
    out: dict[str, float] = defaultdict(float)
    active: set[int] = set()
    prev = None
    for t, is_start, i in events:
        if active and t > prev:
            owner = max(active, key=lambda j: (spans[j][3], spans[j][1]))
            out[spans[owner][0]] += t - prev
        prev = t
        if is_start:
            active.add(i)
        else:
            active.discard(i)
    return dict(out)


# -- proxies -------------------------------------------------------------

def _timed(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    return wrapper


def _serve_call(tracer: Tracer, name: str, fn):
    """A serving-tier API call; only the outermost call on a thread counts
    queries and results (search_prefix calls search)."""
    @functools.wraps(fn)
    def wrapper(self, *a, **kw):
        outer = getattr(tracer.local, "serving", False)
        tracer.local.serving = True
        try:
            with tracer.span(name):
                out = fn(self, *a, **kw)
        finally:
            tracer.local.serving = outer
        if not outer:
            if isinstance(out, dict):       # search_batch
                tracer.add("serve.queries", len(a[0]))
                tracer.add("serve.results", sum(map(len, out.values())))
            else:
                tracer.add("serve.queries", 1)
                tracer.add("serve.results", len(out))
        return out
    return wrapper


class _TableProxy:
    """A postings table whose row materialization is timed."""

    def __init__(self, tbl, tracer: Tracer):
        self._tbl, self._tracer = tbl, tracer

    def to_pylist(self):
        with self._tracer.span("serve.unpack"):
            return self._tbl.to_pylist()

    def __getattr__(self, k):
        return getattr(self._tbl, k)


class _PoolProxy:
    """A searcher's thread pool whose tasks nest under the submitting
    span, so scoring on the pool threads is not taken for merge time."""

    def __init__(self, pool, tracer: Tracer):
        self._pool, self._tracer = pool, tracer

    def map(self, fn, *iterables, **kw):
        return self._pool.map(self._tracer.carry(fn), *iterables, **kw)

    def __getattr__(self, k):
        return getattr(self._pool, k)


class _DatasetProxy:
    """A generation dataset whose reads are timed and counted."""

    def __init__(self, dataset, tracer: Tracer, span: str):
        self._ds, self._tracer, self._span = dataset, tracer, span

    def to_table(self, *a, **kw):
        with self._tracer.span(self._span):
            tbl = self._ds.to_table(*a, **kw)
        if self._span == "serve.read":         # postings rows and bytes
            self._tracer.add("serve.rows_read", tbl.num_rows)
            self._tracer.add("serve.read_kib", tbl.nbytes / 1024)
            return _TableProxy(tbl, self._tracer)
        if kw.get("columns") == ["term"] and "filter" not in kw:
            self._tracer.add("serve.vocab_scanned", tbl.num_rows)
            self._tracer.add("serve.expansions", 1)
        return tbl

    def __getattr__(self, k):
        return getattr(self._ds, k)


def install(tracer: Tracer):
    """Wrap the package's entry points; returns the undo function."""
    from elastic_indexer4s_spark import serving as SV
    from elastic_indexer4s_spark.operators import build as B
    from elastic_indexer4s_spark.operators import query as Q
    from elastic_indexer4s_spark.plans import catalog as CAT
    from elastic_indexer4s_spark.plans import pipeline as PL
    from elastic_indexer4s_spark.streaming import incremental as INC

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def timed(owner, attr, name):
        patch(owner, attr, _timed(tracer, name, getattr(owner, attr)))

    # build: the whole call, and each railway stage
    timed(B, "build_index", "build.index")
    patch(INC, "build_index", B.build_index)
    orig_run_stages = B.run_stages

    @functools.wraps(orig_run_stages)
    def run_stages(stages):
        return orig_run_stages(
            [(n, _timed(tracer, f"build.stage.{n}", f)) for n, f in stages])
    patch(B, "run_stages", run_stages)

    # serving tier
    for meth in ("search", "search_batch", "search_prefix", "search_fuzzy"):
        patch(SV.LocalSearcher, meth, _serve_call(
            tracer, f"serve.{meth}", getattr(SV.LocalSearcher, meth)))
    timed(SV.LocalSearcher, "expand_terms", "serve.expand")
    orig_init = SV.LocalSearcher.__init__

    @functools.wraps(orig_init)
    def init(self, *a, **kw):
        orig_init(self, *a, **kw)
        self.postings = _DatasetProxy(self.postings, tracer, "serve.read")
        if self._pool is not None:
            self._pool = _PoolProxy(self._pool, tracer)
        if self.dictionary is not None:
            self.dictionary = _DatasetProxy(self.dictionary, tracer,
                                            "serve.dict")
    patch(SV.LocalSearcher, "__init__", init)
    timed(SV, "analyze_query", "serve.analyze")
    timed(SV, "row_to_enc", "serve.unpack")
    orig_choose = SV.choose_scorer

    @functools.wraps(orig_choose)
    def choose_scorer(*a, **kw):
        return _timed(tracer, "serve.score", orig_choose(*a, **kw))
    patch(SV, "choose_scorer", choose_scorer)
    for fn in ("decode_postings", "decode_block"):
        orig = getattr(Q, fn)

        def decode(*a, _orig=orig, **kw):
            with tracer.span("serve.decode"):
                out = _orig(*a, **kw)
            tracer.add("serve.postings_decoded", len(out[0]))
            return out
        patch(Q, fn, functools.wraps(orig)(decode))

    # Spark path: building the DataFrame (plan) vs the whole query
    timed(Q, "topk", "spark.plan")
    timed(Q, "topk_batch", "spark.plan")
    timed(Q, "serve_topk", "spark.query")
    patch(INC, "topk", Q.topk)

    # lifecycle: catalog, pipeline, streaming drain and compaction
    for meth in ("register", "add_alias", "set_alias", "remove_alias",
                 "all_indices_with_info", "indices_by_age_for", "size_for",
                 "latest_index_with_alias_size", "delete_index"):
        timed(CAT.GenerationCatalog, meth, "lifecycle.catalog")
    timed(PL.IndexPipeline, "run", "lifecycle.pipeline")
    timed(INC, "incremental_index", "lifecycle.drain")
    timed(INC, "compact_segments", "lifecycle.compact")

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return undo


# -- Spark event log -----------------------------------------------------

def _event_lines(evdir: Path):
    """Lines of the (rolling or single-file) event log; markers skipped."""
    for path in sorted(evdir.rglob("*")):
        if path.is_file() and path.name.startswith(("events_", "local-")) \
                and not path.name.endswith(".crc"):
            with open(path) as f:
                yield from (line for line in f if line.strip())


def read_event_log(evdir: Path) -> tuple[dict, dict]:
    """→ (jobs, stage_skew).  ``jobs[id]`` holds the submission time (epoch
    ms) and task metrics summed over the job's stages; ``stage_skew[id]``
    is (job id, max task run / median task run)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_runs: dict[int, list[int]] = defaultdict(list)
    cached: dict[str, int] = {}
    last_job = None
    for line in _event_lines(evdir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"submit_ms": ev["Submission Time"], "tasks": 0,
                         "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
                         "sched_ms": 0, "input_b": 0, "shw_b": 0,
                         "shr_b": 0, "out_b": 0, "spill_b": 0,
                         "py_sent_b": 0, "cache_b": 0}
            for sid in ev["Stage IDs"]:
                stage_job[sid] = jid
            last_job = jid
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            bid, disk = info["Block ID"], info.get("Disk Size", 0)
            if bid.startswith("rdd_") and disk and bid not in cached \
                    and last_job is not None:
                cached[bid] = disk
                jobs[last_job]["cache_b"] += disk
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            if jid is None or not m:
                continue
            j = jobs[jid]
            info = ev["Task Info"]
            run = m.get("Executor Run Time", 0)
            j["tasks"] += 1
            j["run_ms"] += run
            j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            j["gc_ms"] += m.get("JVM GC Time", 0)
            j["sched_ms"] += max(0, (info["Finish Time"] - info["Launch Time"])
                                 - run - m.get("Executor Deserialize Time", 0)
                                 - m.get("Result Serialization Time", 0))
            j["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j["out_b"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            j["shw_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j["shr_b"] += (sr.get("Local Bytes Read", 0)
                           + sr.get("Remote Bytes Read", 0))
            j["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") == "data sent to Python workers":
                    j["py_sent_b"] += int(acc.get("Update", 0) or 0)
            stage_runs[ev["Stage ID"]].append(run)
    skew = {sid: (stage_job[sid], max(r) / max(1.0, statistics.median(r)))
            for sid, r in stage_runs.items() if len(r) >= 2}
    return jobs, skew


def attribute_jobs(tracer: Tracer, jobs: dict) -> dict[int, str]:
    """Job id → name of the deepest span (build stage, Spark query, ...)
    open when the job was submitted; jobs outside every span are left
    out."""
    cands = [s for s in tracer.spans
             if not s[0].startswith(("serve.", "bench."))]
    out = {}
    for jid, j in jobs.items():
        t = tracer.to_perf(j["submit_ms"])
        best = None
        for s in cands:
            if s[1] <= t <= s[2] and (best is None or (s[3], s[1]) >
                                      (best[3], best[1])):
                best = s
        if best is not None:
            out[jid] = best[0]
    return out


BUILD_CLASS = {"build.stage.tokenize": "scan_tokenize",
               "build.stage.doclen": "encode_write",
               "build.stage.postings": "encode_write"}


def _sum(jobs, ids, key):
    return sum(jobs[i][key] for i in ids)


def layer_report(tracer: Tracer, evdir: Path | None, facts: dict) -> tuple[
        dict, dict]:
    """→ (per_layer metrics, extra report lines).  ``facts`` carries the
    workload's own counts (generation sizes, traced op latencies)."""
    spans = tracer.spans
    selfs = self_times(spans)
    wall = sum(selfs.values())
    by_name: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for name, t0, t1, _ in spans:
        by_name[name].append((t0, t1))

    def n_of(name):
        return len(by_name.get(name, ()))

    def busy(name):
        return sum(t1 - t0 for t0, t1 in by_name.get(name, ()))

    per_layer: dict[str, float] = {}
    layer_self: dict[str, float] = defaultdict(float)
    for name, s in selfs.items():
        layer_self[layer_of(name)] += s
    for layer in ("build", "serve", "spark", "lifecycle", "bench"):
        per_layer[f"layer.{layer}_pct"] = 100.0 * layer_self[layer] / wall
    per_layer["trace.wall_s"] = wall
    per_layer["trace.span_count"] = len(spans)
    per_layer["trace.span_cost_pct"] = 100.0 * span_cost_s() * len(spans) / wall

    # build: railway stage walls per build
    builds = max(1, n_of("build.index"))
    for st in ("tokenize", "doclen", "postings", "dictionary", "lineage",
               "stats"):
        per_layer[f"build.stage.{st}_s"] = busy(f"build.stage.{st}") / builds

    # serving: self time per phase and counts, per query served
    calls = max(1, tracer.counts["serve.queries"])
    phases = {"analyze": ["serve.analyze"], "read": ["serve.read"],
              "dict": ["serve.dict"], "unpack": ["serve.unpack"],
              "decode": ["serve.decode"], "score": ["serve.score"],
              "expand": ["serve.expand"], "merge": list(SERVE_CALLS)}
    for ph, names in phases.items():
        per_layer[f"serve.{ph}_ms"] = 1e3 * sum(
            selfs.get(n, 0.0) for n in names) / calls
    per_layer["serve.score_busy_ms"] = 1e3 * busy("serve.score") / calls
    c = tracer.counts
    for key in ("rows_read", "read_kib", "postings_decoded"):
        per_layer[f"serve.{key}"] = c[f"serve.{key}"] / calls
    per_layer["serve.useful_ratio"] = (
        c["serve.results"] / c["serve.postings_decoded"]
        if c["serve.postings_decoded"] else 0.0)
    per_layer["serve.vocab_scanned"] = (
        c["serve.vocab_scanned"] / max(1, c["serve.expansions"]))

    # Spark path: plan vs exec per query
    queries = max(1, n_of("spark.query"))
    per_layer["spark.plan_ms"] = 1e3 * selfs.get("spark.plan", 0.0) / queries
    per_layer["spark.exec_ms"] = 1e3 * selfs.get("spark.query", 0.0) / queries

    # lifecycle: catalog calls
    cat_n = max(1, n_of("lifecycle.catalog"))
    per_layer["lifecycle.catalog_ms"] = 1e3 * busy("lifecycle.catalog") / cat_n
    per_layer["lifecycle.catalog_calls"] = n_of("lifecycle.catalog")

    # the bases the per-build / per-query values divide by
    extra: dict[str, float] = {
        "base.builds": n_of("build.index"),
        "base.serve_queries": c["serve.queries"],
        "base.serve_results": c["serve.results"],
        "base.postings_decoded": c["serve.postings_decoded"],
        "base.expansions": c["serve.expansions"],
        "base.spark_queries": n_of("spark.query"),
    }
    if evdir is not None:
        jobs, skew = read_event_log(evdir)
        owner = attribute_jobs(tracer, jobs)
        cls: dict[str, list[int]] = defaultdict(list)
        for jid, name in owner.items():
            if name.startswith("build."):
                cls["build"].append(jid)
                cls[BUILD_CLASS.get(name, "metadata")].append(jid)
            elif name.startswith("spark."):
                cls["spark"].append(jid)
        st = cls["scan_tokenize"]
        per_layer["build.scan_tokenize.run_s"] = _sum(jobs, st, "run_ms") / 1e3 / builds
        per_layer["build.scan_tokenize.cpu_s"] = _sum(jobs, st, "cpu_ms") / 1e3 / builds
        st_set = set(st)
        sk = [v for j, v in skew.values() if j in st_set]
        per_layer["build.scan_tokenize.skew"] = (
            statistics.mean(sk) if sk else 1.0)
        extra["build.scan_tokenize.gc_s"] = _sum(jobs, st, "gc_ms") / 1e3 / builds
        b = cls["build"]
        mib = float(1 << 20)
        per_layer["build.exchange.shuffle_write_mib"] = _sum(jobs, b, "shw_b") / mib / builds
        per_layer["build.exchange.shuffle_read_mib"] = _sum(jobs, b, "shr_b") / mib / builds
        ew = cls["encode_write"]
        per_layer["build.encode_write.run_s"] = _sum(jobs, ew, "run_ms") / 1e3 / builds
        per_layer["build.encode_write.output_mib"] = _sum(jobs, ew, "out_b") / mib / builds
        per_layer["build.cache_disk_mib"] = _sum(jobs, b, "cache_b") / mib / builds
        extra["build.spill_mib"] = _sum(jobs, b, "spill_b") / mib / builds
        extra["build.metadata.run_s"] = _sum(jobs, cls["metadata"], "run_ms") / 1e3 / builds
        sp = cls["spark"]
        per_layer["spark.jobs"] = len(sp) / queries
        for key, name, scale in (("tasks", "spark.tasks", 1),
                                 ("run_ms", "spark.run_ms", 1),
                                 ("cpu_ms", "spark.cpu_ms", 1),
                                 ("sched_ms", "spark.scheduler_delay_ms", 1),
                                 ("input_b", "spark.input_kib", 1024),
                                 ("shr_b", "spark.shuffle_read_kib", 1024),
                                 ("py_sent_b", "spark.py_sent_kib", 1024)):
            per_layer[name] = _sum(jobs, sp, key) / scale / queries
        extra["spark.gc_ms"] = _sum(jobs, sp, "gc_ms") / queries
    per_layer.update({k: v for k, v in facts.items() if k in PER_LAYER_FACTS})
    extra.update(refresh_report(spans, selfs))
    extra.update({f"self.{k}_ms": 1e3 * v for k, v in sorted(selfs.items())})
    return per_layer, extra


#: per-layer metrics the workload itself supplies (isolated build-layer
#: timings, counts of the generation it built, its traced op latency)
PER_LAYER_FACTS = ("tokenizer.analyze_s", "codec.encode_s",
                   "build.postings_rows", "build.terms", "build.index_mib",
                   "trace.op_p50_ms")


def refresh_report(spans, selfs) -> dict:
    """Live-refresh split: builds inside a drain are segment builds, builds
    inside a compaction are the compaction build."""
    def within(name):
        return [(t0, t1) for n, t0, t1, _ in spans if n == name]

    drains, compacts = within("lifecycle.drain"), within("lifecycle.compact")
    if not drains:
        return {}
    builds = within("build.index")

    def inside(iv, outer):
        return any(o0 <= iv[0] and iv[1] <= o1 for o0, o1 in outer)

    seg = [b for b in builds if inside(b, drains)]
    comp = [b for b in builds if inside(b, compacts)]
    cat = within("lifecycle.catalog")
    n_pub = len(drains)
    return {
        "refresh.drain_s": sum(t1 - t0 for t0, t1 in drains) / n_pub,
        "refresh.drain_self_s": selfs.get("lifecycle.drain", 0.0) / n_pub,
        "refresh.segment_build_s": sum(t1 - t0 for t0, t1 in seg) / max(1, len(seg)),
        "refresh.catalog_ms": 1e3 * sum(t1 - t0 for t0, t1 in cat
                                        if inside((t0, t1), drains)) / n_pub,
        "refresh.compact_build_s": sum(t1 - t0 for t0, t1 in comp) / max(1, len(comp)),
        "refresh.compact_swap_ms": 1e3 * sum(
            t1 - t0 for t0, t1 in cat if inside((t0, t1), compacts)) / max(1, len(compacts)),
    }


def span_cost_s(n: int = 20000) -> float:
    """Seconds one span costs on this host (calibrated on a throwaway
    tracer)."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("bench.calibrate"):
            pass
    return (time.perf_counter() - t0) / n
