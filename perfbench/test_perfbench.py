"""Tests of the benchmark itself:  python3 -m pytest perfbench -q

The smoke tests start a Spark session per workload (about half a minute
each); the rest run in milliseconds."""

from __future__ import annotations

import json
import random
import shutil
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import inputs as IN  # noqa: E402
from perfbench.harness import (percentile, samples_beyond,  # noqa: E402
                               tail_percentile)
from perfbench.trace import Tracer, _PoolProxy, self_times  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_percentile_nearest_rank():
    vals = list(range(100, 0, -1))          # order must not matter
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(vals, 99) == 99
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, tail", [(1000, 99), (999, 90), (100, 90),
                                     (99, 50), (20, 50), (19, None),
                                     (3, None)])
def test_tail_percentile_leaves_ten_samples(n, tail):
    assert tail_percentile(n) == tail


def test_samples_beyond():
    assert samples_beyond(20, 50) == 10
    assert samples_beyond(20, 90) == 2
    assert samples_beyond(1, 90) == 0


def test_self_time_nested():
    spans = [("a", 0.0, 10.0, 0), ("b", 2.0, 5.0, 1), ("c", 3.0, 4.0, 2)]
    got = self_times(spans)
    assert got == pytest.approx({"a": 7.0, "b": 2.0, "c": 1.0})


def test_self_time_parallel_children_sum_to_wall():
    # c and d run on two pool threads under a; e is a later sibling
    spans = [("a", 0.0, 10.0, 0), ("c", 1.0, 4.0, 1), ("d", 2.0, 6.0, 1),
             ("e", 7.0, 8.0, 1)]
    got = self_times(spans)
    assert sum(got.values()) == pytest.approx(10.0)
    # a's self time is its duration minus the union of its children
    assert got["a"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["c"] + got["d"] == pytest.approx(5.0)


def test_self_time_disjoint_roots():
    spans = [("x", 0.0, 1.0, 0), ("y", 2.0, 5.0, 0)]
    assert self_times(spans) == pytest.approx({"x": 1.0, "y": 3.0})


def test_self_time_of_scoring_on_pool_threads():
    # search_batch picks and runs its scorer inside the pool's tasks: the
    # scorer spans must nest under the batch call, not sit above it
    tracer = Tracer()

    def score_shard(_):
        with tracer.span("serve.score"):
            time.sleep(0.05)

    with ThreadPoolExecutor(2) as pool:
        proxy = _PoolProxy(pool, tracer)
        with tracer.span("bench.op.batch"):
            with tracer.span("serve.search_batch"):
                list(proxy.map(score_shard, [0, 1]))
    depth = {name: d for name, _, _, d in tracer.spans}
    assert depth["serve.score"] == depth["serve.search_batch"] + 1
    got = self_times(tracer.spans)
    assert got["serve.score"] >= 0.045
    assert got["serve.search_batch"] < 0.5 * got["serve.score"]


def test_pool_task_nests_under_its_submitter_not_another_thread():
    # a deeper span open on another thread must not capture the task
    tracer = Tracer()
    opened, release = threading.Event(), threading.Event()

    def other_client():
        with tracer.span("bench.a"), tracer.span("bench.b"), \
                tracer.span("bench.c"):
            opened.set()
            release.wait(5)

    def task(_):
        with tracer.span("serve.score"):
            pass

    t = threading.Thread(target=other_client)
    try:
        with ThreadPoolExecutor(1) as pool:
            with tracer.span("serve.search_batch"):
                t.start()
                opened.wait(5)
                list(_PoolProxy(pool, tracer).map(task, [0]))
    finally:
        release.set()
        t.join()
    depth = {name: d for name, _, _, d in tracer.spans}
    assert depth["serve.search_batch"] == 0
    assert depth["serve.score"] == 1


def test_corpus_parquet_is_byte_identical_per_seed(tmp_path):
    paths = [tmp_path / f"{i}.parquet" for i in range(3)]
    IN.materialize_corpus(60, 7, paths[0])
    IN.materialize_corpus(60, 7, paths[1])
    IN.materialize_corpus(60, 8, paths[2])
    assert paths[0].read_bytes() == paths[1].read_bytes()
    assert paths[0].read_bytes() != paths[2].read_bytes()


def _dictionary(seed: int, n_docs: int = 1000) -> list[tuple[str, int]]:
    rng = random.Random(seed)
    words = sorted({"".join(rng.choice("abcdefgh") for _ in range(6))
                    for _ in range(400)})
    return [(w, rng.choice([1, 3, 40, 90, 300, 700, 990])) for w in words]


def test_query_mix_deterministic_and_seeded():
    d = _dictionary(1)
    a = IN.query_mix(d, 1000, 5, 40)
    assert a == IN.query_mix(d, 1000, 5, 40)
    assert a != IN.query_mix(d, 1000, 6, 40)


def test_query_mix_follows_weights_and_bands():
    d = _dictionary(2)
    df = dict(d)
    qs = IN.query_mix(d, 1000, 3, 100)
    counts = {c: sum(q.qclass == c for q in qs) for c in IN.CLASS_WEIGHTS}
    assert counts == {c: round(100 * w) for c, w in IN.CLASS_WEIGHTS.items()}
    for q in qs:
        if q.qclass == "mid":
            assert all(1 < df[t] <= 100 for t in q.terms)
        if q.qclass == "and3":
            assert q.mode == "and" and all(df[t] > 100 for t in q.terms)
        if q.qclass == "hot":
            assert df[q.terms[0]] >= 500
        if q.qclass == "rare" and q.terms[0] in df:
            assert df[q.terms[0]] <= 1
    live = IN.query_mix(d, 1000, 3, 20, IN.LIVE_CLASSES)
    assert {q.qclass for q in live} <= set(IN.LIVE_CLASSES)


def test_ref_scales_each_op_by_the_probes_around_it(monkeypatch):
    from perfbench import workloads as WL
    from perfbench.harness import PROBE_REF_S

    # two 10 ms ops: the first with the probe taking twice its reference
    # time on both sides (host at half speed), the second at full speed
    probes = iter([2 * PROBE_REF_S, 2 * PROBE_REF_S, PROBE_REF_S,
                   PROBE_REF_S])
    clock = iter([0.0, 0.010, 1.0, 1.010])
    monkeypatch.setattr(WL, "speed_probe", lambda: next(probes))
    monkeypatch.setattr(WL.time, "perf_counter", lambda: next(clock))
    run = WL.Run(None, ROOT, 1, 1.0, WL.TINY, None, 1)
    run.op("q", lambda: None)
    run.op("q", lambda: None)
    assert run.lat["q"] == pytest.approx([0.010, 0.010])
    assert run.ref("q") == pytest.approx([0.005, 0.010])


def test_ref_of_a_spark_path_op_takes_both_probes(monkeypatch):
    from perfbench import workloads as WL
    from perfbench.harness import PING_REF_S, PROBE_REF_S

    # the CPU probe says half speed, the ping probe twice the speed: the
    # geometric mean of the two factors is 1
    monkeypatch.setattr(WL, "speed_probe", lambda: 2 * PROBE_REF_S)
    monkeypatch.setattr(WL, "ping_probe", lambda spark: PING_REF_S / 2)
    clock = iter([0.0, 0.010])
    monkeypatch.setattr(WL.time, "perf_counter", lambda: next(clock))
    run = WL.Run(None, ROOT, 1, 1.0, WL.TINY, None, 1)
    run.op("q", lambda: None, spark_path=True)
    assert run.ref("q") == pytest.approx([0.010])


def test_benchmark_json_matches_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    assert "setup_s" in e2e
    assert all(m["bound"] <= 0.25 for m in BENCH["end_to_end"])


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload",
                         [w["name"] for w in BENCH["workloads"]])
def test_smoke_each_workload(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    units = {m["name"]: m["unit"] for m in want}
    for name, m in out["metrics"].items():
        assert m["unit"] == units[name]
        assert isinstance(m["value"], (int, float))


def test_fails_without_the_engine(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(BENCH))
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "serve_mix", "--seed", "1", "--seconds", "1"],
             cwd=tmp_path, timeout=180)
    assert p.returncode != 0
    assert not p.stdout.strip()
