"""The benchmark's workloads, each a closed loop with one client.

Every operation's output is checked; a failed check or an error counts
against ``failed``.  Timings exclude the checks.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.dataset as pads

from elastic_indexer4s_spark import serving as SV
from elastic_indexer4s_spark.config import IndexConfig, TokenizerConfig
from elastic_indexer4s_spark.operators import build as B
from elastic_indexer4s_spark.operators import query as Q
from elastic_indexer4s_spark.plans import pipeline as PL
from elastic_indexer4s_spark.plans.catalog import GenerationCatalog
from elastic_indexer4s_spark.reference_bm25 import bm25_topk, build_py_index
from elastic_indexer4s_spark.results import RunResult
from elastic_indexer4s_spark.streaming import incremental as INC

from . import inputs as IN
from .harness import PING_REF_S, PROBE_REF_S, Clock, ping_probe, speed_probe

K = IN.TOP_K
SCORE_TOL = 1e-6
ALIAS = "live"


@dataclass(frozen=True)
class Sizes:
    serve_docs: int = 4000        # serve_mix base generation
    shards: int = 4
    serve_queries: int = 200      # distinct queries in the serving mix
    batch_every: int = 10         # a search_batch after every N singles
    batch_size: int = 20
    live_batches: int = 3         # micro-batches (segments) before compaction
    live_batch_docs: int = 1000
    live_shards: int = 2
    live_queries: int = 20        # distinct topk_multi queries in the live mix
    live_warmup: int = 5          # untimed topk_multi queries before them


#: for the smoke tests: every workload end to end in a few seconds of work
TINY = Sizes(serve_docs=300, serve_queries=14, batch_every=5, batch_size=5,
             live_batches=2, live_batch_docs=150, live_queries=4,
             live_warmup=1)


class Run:
    """One workload run: the session, the clock, latencies and checks."""

    def __init__(self, spark, work: Path, seed: int, seconds: float,
                 sizes: Sizes, tracer, cores: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.sizes, self.tracer = seconds, sizes, tracer
        self.cores = cores
        self.lat: dict[str, list[float]] = defaultdict(list)
        # per timed op: reference speed / this host's speed around the op
        self.scale: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failures: list[str] = []
        self.inputs_s = 0.0
        self.report: dict[str, tuple[float, str, int]] = {}
        self.facts: dict[str, float] = {}
        self.info: dict = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def op(self, kind: str, fn, check=None, *, spark_path: bool = False):
        """Run and time one operation, then check its output (untimed).
        ``check`` returns None when the output is right, else a reason.
        Untimed probes of the host's speed run just before and just after
        the op (``spark_path``: a py4j ping probe too)."""
        self.attempted += 1
        before = self._probe(spark_path)
        t0 = time.perf_counter()
        try:
            with self.span(f"bench.op.{kind}"):
                out = fn()
        except Exception as e:  # noqa: BLE001 — an error is a failed op
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return None
        self.lat[kind].append(time.perf_counter() - t0)
        self.scale[kind].append(self._scale(before, self._probe(spark_path)))
        if check is not None:
            with self.span("bench.check"):
                problem = check(out)
            if problem:
                self.fail(f"{kind}: {problem}")
        return out

    def _probe(self, ping: bool) -> tuple[float, float | None]:
        return speed_probe(), ping_probe(self.spark) if ping else None

    @staticmethod
    def _scale(before, after) -> float:
        """Reference speed / this host's speed around one op: the speed
        probe's factor, or for a Spark-path op the geometric mean of it and
        the ping probe's (such an op is part CPU work, part hand-offs)."""
        cpu = 2 * PROBE_REF_S / (before[0] + after[0])
        if before[1] is None:
            return cpu
        return math.sqrt(cpu * 2 * PING_REF_S / (before[1] + after[1]))

    def ref(self, kind: str) -> list[float]:
        """The ``kind`` ops' latencies scaled to the reference speed."""
        return [t * f for t, f in zip(self.lat[kind], self.scale[kind])]

    def put(self, name: str, value: float, unit: str, n: int) -> None:
        self.report[name] = (value, unit, n)


# -- shared helpers ------------------------------------------------------

def _dataset(path: Path, **kw):
    return pads.dataset(str(path), format="parquet", **kw)


def gen_facts(gen: Path) -> dict:
    """Counts read straight off a generation's artifacts."""
    post = _dataset(gen / "postings", partitioning="hive").to_table(
        columns=["df"])
    dic = _dataset(gen / "dictionary").to_table(columns=["df"])
    lin = _dataset(gen / "lineage").to_table(columns=["doc_count"])
    nbytes = sum(p.stat().st_size for p in gen.rglob("*") if p.is_file())
    return {"postings_rows": post.num_rows,
            "postings_df_sum": int(pc.sum(post["df"]).as_py() or 0),
            "terms": dic.num_rows,
            "dict_df_sum": int(pc.sum(dic["df"]).as_py() or 0),
            "lineage_docs": int(pc.sum(lin["doc_count"]).as_py() or 0),
            "num_docs": Q.load_stats(str(gen))["num_docs"],
            "bytes": nbytes}


def record_gen_facts(run: Run, gen: Path) -> dict:
    f = gen_facts(gen)
    run.facts.update({"build.postings_rows": f["postings_rows"],
                      "build.terms": f["terms"],
                      "build.index_mib": f["bytes"] / (1 << 20)})
    return f


def check_generation(gen: Path, n_docs: int) -> str | None:
    f = gen_facts(gen)
    if f["num_docs"] != n_docs:
        return f"stats.num_docs {f['num_docs']} != {n_docs}"
    if f["lineage_docs"] != n_docs:
        return f"lineage doc_count sum {f['lineage_docs']} != {n_docs}"
    if f["dict_df_sum"] != f["postings_df_sum"]:
        return (f"dictionary df sum {f['dict_df_sum']} != postings df sum "
                f"{f['postings_df_sum']}")
    return None


def doc_ids(gen: Path, docs) -> list[int]:
    """Engine doc id of each corpus document.  The doc key (repo, path,
    commit) can repeat in a generated corpus, so the content hash breaks
    ties; identical rows are interchangeable."""
    cols = ["repo", "path", "commit", "sha256", "doc_id"]
    t = _dataset(gen / "doclen", partitioning="hive").to_table(columns=cols)
    by_key: dict[tuple, list[int]] = defaultdict(list)
    for row in zip(*(t[c].to_pylist() for c in cols)):
        by_key[row[:4]].append(row[4])
    return [by_key[(d.repo, d.path, d.commit, hashlib.sha256(
        d.content.encode("utf-8")).hexdigest())].pop() for d in docs]


def same_topk(got, want) -> str | None:
    """Rank-identical ids and scores within SCORE_TOL."""
    g = [d for d, _ in got]
    w = [d for d, _ in want]
    if g != w:
        return f"ranks differ: {g} != {w}"
    for (_, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return f"score drift {gs} vs {ws}"
    return None


def within_one_edit(a: str, b: str) -> bool:
    """Levenshtein(a, b) <= 1 (the mix's fuzzy queries use max_edit=1)."""
    if len(a) > len(b):
        a, b = b, a
    if len(b) - len(a) > 1:
        return False
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    if len(a) == len(b):
        return a[i + 1:] == b[i + 1:]
    return a[i:] == b[i + 1:]


class Oracle:
    """Pure-Python BM25 over the corpus, keyed by the engine's doc ids."""

    def __init__(self, docs, ids: list[int], tok: TokenizerConfig):
        self.tok = tok
        self.idx = build_py_index(
            {i: d.content for i, d in zip(ids, docs)}, tok)
        self.vocab = sorted(self.idx.postings)
        self._memo: dict = {}

    def expand(self, q: IN.Query) -> list[str]:
        pat = q.terms[0]
        if q.qclass == "prefix":
            hits = [t for t in self.vocab if t.startswith(pat)]
        else:
            hits = [t for t in self.vocab if within_one_edit(t, pat)]
        return hits[:50]

    def topk(self, q: IN.Query) -> list[tuple[int, float]]:
        if q not in self._memo:
            terms = (self.expand(q) if q.qclass in ("prefix", "fuzzy")
                     else list(q.terms))
            terms = Q.analyze_query(terms, self.tok)
            self._memo[q] = bm25_topk(self.idx, terms, K, mode=q.mode)
        return self._memo[q]


def serve_query(ls, q: IN.Query, k: int = K):
    if q.qclass == "prefix":
        return ls.search_prefix(q.terms[0], k)
    if q.qclass == "fuzzy":
        return ls.search_fuzzy(q.terms[0], k, max_edit=1)
    return ls.search(list(q.terms), k, mode=q.mode)


def marker_queries(docs) -> list[tuple[IN.Query, set[int]]]:
    """Marker lookups with exactly known answers (as corpus indexes): one
    term, the ``zqmarker`` prefix (every marker doc) and a one-edit fuzzy
    spelling of a marker."""
    known = IN.marker_docs(docs)
    m = sorted(known)[1]
    every = set().union(*known.values())
    return [(IN.Query("rare", (m,)), known[m]),
            (IN.Query("prefix", ("zqmarker",)), every),
            (IN.Query("fuzzy", (m[:6] + "x" + m[7:],)), known[m])]


def check_markers(run: Run, gen: Path, docs) -> None:
    """Serving-tier marker lookups on a fresh searcher over ``gen``."""
    ids = doc_ids(gen, docs)
    ls = SV.LocalSearcher(str(gen), n_threads=run.cores)
    for q, want in marker_queries(docs):
        k = max(K, len(want))
        want_ids = {ids[i] for i in want}
        got = run.op("marker", lambda: serve_query(ls, q, k))
        if got is not None and {d for d, _ in got} != want_ids:
            run.fail(f"marker {q.terms}: {sorted(d for d, _ in got)} != "
                     f"{sorted(want_ids)}")


def spark_parity(run: Run, gen: Path, queries: list[IN.Query]) -> None:
    """The Spark path (one ``topk_batch`` action over ``queries``) against
    the serving tier on the same generation."""
    ls = SV.LocalSearcher(str(gen), n_threads=run.cores)
    batch = {i: list(q.terms) for i, q in enumerate(queries)}

    def run_batch():
        with run.span("spark.query"):
            rows = Q.topk_batch(run.spark, str(gen), batch, K).collect()
        out: dict[int, list] = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((r["doc_id"], r["score"]))
        return out

    def check_batch(out):
        for i, terms in batch.items():
            problem = same_topk(out.get(i, []), ls.search(terms, K))
            if problem:
                return f"query {i}: {problem}"
        return None
    run.op("spark_gate", run_batch, check_batch)


def dictionary_rows(gen: Path) -> list[tuple[str, int]]:
    t = _dataset(gen / "dictionary").to_table(columns=["term", "df"])
    return list(zip(t["term"].to_pylist(), t["df"].to_pylist()))


def read_source(run: Run, path: Path):
    return run.spark.read.schema(IN.CORPUS_DDL).parquet(str(path))


#: input materializations per run; setup_s takes their median (the session
#: start, the other part of set-up, can happen only once per process)
SETUP_REPEATS = 3


def materialize(run: Run, make):
    """Run the seeded input generator ``make`` SETUP_REPEATS times (same
    files each time) → its result; the median time goes to setup."""
    with run.span("bench.setup.inputs"):
        for _ in range(SETUP_REPEATS):
            out = run.op("inputs", make)
    run.inputs_s = statistics.median(run.lat["inputs"])
    return out


def _noop_write(df) -> float:
    """Seconds to run ``df`` to the end with nothing written anywhere."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def isolated_build_layers(run: Run, src, cfg: IndexConfig) -> None:
    """Traced runs only: the analyzer pass alone, then the postings encode
    alone on the analyzer's output cached beforehand, each as a no-op
    write (nothing reaches disk)."""
    if run.tracer is None:
        return
    docs_tf = B.tokenized_docs_tf(src, cfg)
    with run.span("tokenizer.analyze"):
        run.facts["tokenizer.analyze_s"] = _noop_write(docs_tf)
    with run.span("bench.setup.cache"):
        docs_tf = docs_tf.persist()
        docs_tf.count()
    try:
        with run.span("codec.encode"):
            run.facts["codec.encode_s"] = _noop_write(
                B.build_postings_arrow_tf(docs_tf, cfg))
    finally:
        docs_tf.unpersist(blocking=True)


def pipeline_build(run: Run, src, cfg: IndexConfig, root: Path) -> Path:
    """A production-shaped build: new generation, threshold-gated alias
    switch, retention."""
    res = (PL.IndexPipeline(run.spark, src, cfg, str(root), run_ts="g0")
           .switch_alias_from(ALIAS).delete_old_indices(keep=1).run())
    if not isinstance(res, RunResult):
        raise RuntimeError(str(res))
    return root / cfg.generation_name("g0")


# -- serve_mix -----------------------------------------------------------

#: shard-scoring threads of the timed searcher.  One: on a shared 4-vCPU
#: host the searcher's 4-thread pool made the same pass over the mix about
#: 1.2x slower, and the p50 of four passes ranged about 4x wider (GIL
#: hand-offs between threads wait on other tenants' load).  The marker and
#: Spark parity checks still run the pooled path.
SERVE_THREADS = 1


def serve_mix(run: Run) -> None:
    """Serving-tier queries over a generation built during set-up; no Spark
    job runs while the loop is timed."""
    sz = run.sizes
    n = sz.serve_docs
    path = run.work / "corpus.parquet"
    docs = materialize(
        run, lambda: IN.materialize_corpus(n, run.seed, path))
    cfg = IndexConfig(index_prefix="serve", num_shards=sz.shards)
    root = run.work / "indices"
    src = read_source(run, path)
    gen = run.op("build_cold", lambda: pipeline_build(run, src, cfg, root),
                 lambda g: check_generation(g, n))
    if gen is None:
        return
    with run.span("bench.setup.oracle"):
        mix = IN.query_mix(dictionary_rows(gen), n, run.seed,
                           sz.serve_queries)
        oracle = Oracle(docs, doc_ids(gen, docs), cfg.tokenizer)
        ls = SV.LocalSearcher(PL.resolve_alias(str(root), ALIAS),
                              n_threads=SERVE_THREADS)
    run.info["mix"] = IN.mix_description(n)
    run.info["queries"] = IN.digest(mix)
    batchable = [q for q in mix if q.qclass in IN.LIVE_CLASSES]

    def one_pass(timed: bool, limit: int | None = None) -> None:
        """The first ``limit`` queries of the mix (all by default), with a
        ``search_batch`` after each ``batch_every`` singles."""
        query, batch = ("query", "batch") if timed else ("warm.query",
                                                        "warm.batch")
        for i, q in enumerate(mix[:limit], 1):
            done = len(run.lat[query])
            run.op(query, lambda: serve_query(ls, q),
                   lambda got: same_topk(got, oracle.topk(q)))
            if timed:
                run.lat[f"class.{q.qclass}"].extend(run.lat[query][done:])
            if i % sz.batch_every:
                continue
            b = (i // sz.batch_every - 1) * sz.batch_size
            qs = {j: batchable[(b + j) % len(batchable)]
                  for j in range(sz.batch_size)}

            def check(out, qs=qs):
                for j, bq in qs.items():
                    problem = same_topk(out.get(j, []), oracle.topk(bq))
                    if problem:
                        return f"batch query {bq.terms}: {problem}"
                return None
            run.op(batch, lambda: ls.search_batch(
                {j: list(bq.terms) for j, bq in qs.items()}, K), check)

    # untimed warm-up: the first single queries and the first batch
    with run.span("bench.warmup"):
        one_pass(timed=False, limit=sz.batch_every)
    # then whole passes only, so every run times the same queries and
    # batches, whatever its speed
    clock, passes = Clock(), 0
    while passes == 0 or clock.elapsed() < run.seconds:
        passes += 1
        one_pass(timed=True)
    run.info["pass_s"] = clock.elapsed() / passes
    run.info["passes"] = passes
    with run.span("bench.check"):
        check_markers(run, gen, docs)
        spark_parity(run, gen, [q for q in mix
                                if q.qclass in IN.LIVE_CLASSES][:4])
    isolated_build_layers(run, src, cfg)
    f = record_gen_facts(run, gen)
    content = IN.content_bytes(docs)
    run.info["corpus"] = {"docs": n, "content_bytes": content}
    singles, batches = run.lat["query"], run.lat["batch"]
    batched = sz.batch_size * len(batches)
    run.put("build_cold_s", run.lat["build_cold"][0], "s", 1)
    warm = run.lat["warm.query"]
    run.put("serve_warmup_p50_ms", 1e3 * statistics.median(warm), "ms",
            len(warm))
    run.put("index_bytes_ratio", f["bytes"] / content, "ratio", 1)
    run.put("serve_batch_qps", batched / sum(batches), "queries/s", batched)
    run.put("serve_qps", (len(singles) + batched) /
            (sum(singles) + sum(batches)), "queries/s",
            len(singles) + batched)
    run.info["main_op"] = "query"
    run.info["throughput"] = (len(singles) + batched) / (
        sum(run.ref("query")) + sum(run.ref("batch")))


# -- live_refresh --------------------------------------------------------

def live_refresh(run: Run) -> None:
    """Micro-batches land as parquet files; each is drained into a new
    segment under the alias, then Spark-path queries fan out over every
    live segment; the cycle ends with a compaction."""
    sz = run.sizes
    m, nb = sz.live_batch_docs, sz.live_batches
    staging, landing = run.work / "staging", run.work / "landing"
    for d in (staging, landing):
        d.mkdir(parents=True)

    def make_batches():
        docs = IN.make_corpus(m * nb, run.seed)
        for b in range(nb):
            IN.write_table(IN.corpus_table(docs[b * m:(b + 1) * m]),
                           staging / f"batch{b:03d}.parquet")
        return docs
    docs = materialize(run, make_batches)
    cfg = IndexConfig(index_prefix="live", num_shards=sz.live_shards)
    root, ckpt = run.work / "indices", run.work / "checkpoint"
    cat = GenerationCatalog(str(root))
    stream = run.spark.readStream.schema(IN.CORPUS_DDL).parquet(str(landing))
    searchers: dict[str, SV.LocalSearcher] = {}

    def searcher(name: str) -> SV.LocalSearcher:
        if name not in searchers:
            searchers[name] = SV.LocalSearcher(cat.path(name),
                                               n_threads=run.cores)
        return searchers[name]

    def publish(b: int):
        name = f"batch{b:03d}.parquet"
        os.replace(staging / name, landing / name)       # the batch lands
        return INC.incremental_index(run.spark, stream, str(root), cfg,
                                     str(ckpt), alias=INC.SEGMENT_ALIAS)

    def check_publish(built, before: list[str]) -> str | None:
        if len(built) != 1:
            return f"drain built {built}, expected one segment"
        members = cat.indices_by_age_for(INC.SEGMENT_ALIAS)
        if members != before + built:
            return f"alias holds {members}, expected {before + built}"
        return check_generation(Path(cat.path(built[0])), m)

    def live_query(q: IN.Query):
        with run.span("spark.query"):
            rows = INC.topk_multi(run.spark, str(root), list(q.terms),
                                  K).collect()
        return [(r["segment"], r["doc_id"], r["score"]) for r in rows]

    def check_live(got, q: IN.Query, members: list[str]) -> str | None:
        want = sorted(((s, seg, d) for seg in members
                       for d, s in searcher(seg).search(list(q.terms), K)),
                      key=lambda x: (-x[0], x[1], x[2]))[:K]
        if [(seg, d) for seg, d, _ in got] != [(seg, d) for _, seg, d in want]:
            return f"{q.terms}: live ranks differ from the serving tier"
        if any(abs(a[2] - w[0]) > SCORE_TOL for a, w in zip(got, want)):
            return f"{q.terms}: live scores drift"
        return None

    mix: list[IN.Query] = []
    members: list[str] = []
    for b in range(nb):
        kind = "publish_cold" if b == 0 else "publish"
        before = list(members)
        run.op(kind, lambda: publish(b),
               lambda out: check_publish(out, before))
        members = cat.indices_by_age_for(INC.SEGMENT_ALIAS)
        if not members:
            return
        if not mix:
            mix = IN.query_mix(dictionary_rows(Path(cat.path(members[0]))),
                               m, run.seed, sz.live_queries,
                               IN.LIVE_CLASSES)
            run.info["mix"] = IN.mix_description(m, IN.LIVE_CLASSES)
            run.info["queries"] = IN.digest(mix)
            # the first segment is searchable: one checked, untimed query
            # that also starts the JVM's Python scorer workers.  The later
            # segments are checked by every timed query, which fans out
            # over all of them.
            q = mix[0]
            run.op("live_check", lambda: live_query(q),
                   lambda got: check_live(got, q, members))
    # untimed warm-up over all the live segments: the first queries in a
    # fresh JVM take up to twice as long as the later ones
    with run.span("bench.warmup"):
        for q in mix[:sz.live_warmup]:
            run.op("warm.live_query", lambda: live_query(q),
                   lambda got: check_live(got, q, members), spark_path=True)
    # timed: whole passes over the mix (so the class composition of the
    # timed queries is the same for every seed and speed), every query
    # fanning out over all live segments
    clock, passes = Clock(), 0
    while passes == 0 or clock.elapsed() < run.seconds:
        passes += 1
        for q in mix:
            run.op("live_query", lambda: live_query(q),
                   lambda got: check_live(got, q, members), spark_path=True)
    run.info["pass_s"] = clock.elapsed() / passes
    run.info["passes"] = passes
    run.facts["refresh.fanout_segments"] = len(members)

    def compact():
        return INC.compact_segments(run.spark, str(root),
                                    read_source(run, landing), cfg)

    old = list(members)
    run.facts["refresh.gc_deleted"] = len(old)

    def check_compact(name: str) -> str | None:
        now = cat.indices_by_age_for(INC.SEGMENT_ALIAS)
        if now != [name]:
            return f"alias holds {now} after compaction"
        left = [s for s in old if Path(cat.path(s)).exists()]
        if left:
            return f"compaction left old segments {left}"
        return check_generation(Path(cat.path(name)), m * nb)

    name = run.op("compact", compact, check_compact)
    if name is None:
        return
    with run.span("bench.check"):
        gen = Path(cat.path(name))
        oracle = Oracle(docs, doc_ids(gen, docs), cfg.tokenizer)
        ls = SV.LocalSearcher(str(gen), n_threads=run.cores)
        for q in mix[:6]:
            run.op("post_compact", lambda: ls.search(list(q.terms), K),
                   lambda got: same_topk(got, oracle.topk(q)))
        check_markers(run, gen, docs)
    isolated_build_layers(run, read_source(run, landing), cfg)
    record_gen_facts(run, gen)
    pubs = run.lat["publish"]
    run.put("build_cold_s", run.lat["publish_cold"][0], "s", 1)
    run.put("publish_p50_s", statistics.median(pubs), "s", len(pubs))
    run.put("compact_s", run.lat["compact"][0], "s", 1)
    run.info["main_op"] = "live_query"
    # every warm build of the cycle: the publishes after the first, and
    # the compaction, which indexes all the batches again
    # the whole cycle's indexing: every publish, the first (cold) one
    # included, and the compaction, which indexes all the batches again
    builds = run.lat["publish_cold"] + pubs + run.lat["compact"]
    run.info["throughput"] = 2 * m * nb / sum(builds)


WORKLOADS = {"serve_mix": serve_mix, "live_refresh": live_refresh}

#: unit of each workload's throughput_per_s
THROUGHPUT_UNIT = {"serve_mix": "queries/s (singles and search_batch)",
                   "live_refresh": "docs/s (every publish, the cold one "
                                   "included, and the compaction)"}

#: the operation each workload's op_p50_ms times
MAIN_OP = {"serve_mix": "one serving-tier query from the mix",
           "live_refresh": "one topk_multi query over all live segments"}

