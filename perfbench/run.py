"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

Prints a report (every metric by name, unit and sample count, plus the
host, the query-mix thresholds and any failed check) and, as the last line
of stdout, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones.  Exits 1 when an output check failed and 2 when the
run could not start.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

WORK = ROOT / ".perfbench_work"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["serve_mix", "live_refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test sizes (not comparable to real runs)")
    return p.parse_args(argv)


def end_to_end(run, session_s: float, peak_mib: float) -> dict:
    """The end-to-end metrics.  ``op_p50_ms`` (and serve_mix's
    ``throughput_per_s``) come from query times scaled to the reference
    speed (``Run.ref``); their wall-clock twins are in the report."""
    from perfbench.harness import percentile

    lat = run.ref(run.info["main_op"])
    return {
        "setup_s": (session_s + run.inputs_s, "s"),
        "cold_build_s": (run.report["build_cold_s"][0], "s"),
        "op_p50_ms": (1e3 * percentile(lat, 50), "ms"),
        "throughput_per_s": (run.info["throughput"], "1/s"),
        "peak_rss_mib": (peak_mib, "MiB"),
    }


def report_lines(args, host: dict, run, e2e: dict,
                 session_s: float) -> list[str]:
    from perfbench.harness import (percentile, samples_beyond,
                                   tail_percentile)
    from perfbench.workloads import MAIN_OP, THROUGHPUT_UNIT

    lines = [f"# workload={args.workload} seed={args.seed} "
             f"seconds={args.seconds:g} trace={args.trace}",
             f"# host {json.dumps(host, sort_keys=True)}"]
    if "mix" in run.info:
        lines.append(f"# query mix {json.dumps(run.info['mix'])}")
    if "queries" in run.info:
        lines.append(f"# queries {run.info['queries']}")
    if "corpus" in run.info:
        lines.append(f"# corpus {json.dumps(run.info['corpus'])}")
    lines.append(f"# op = {MAIN_OP[args.workload]}; throughput = "
                 f"{THROUGHPUT_UNIT[args.workload]}; timed passes over the "
                 f"mix = {run.info['passes']} "
                 f"({run.info['pass_s']:.2f} s each)")
    main = run.lat[run.info["main_op"]]
    lines.append(f"# op samples beyond p50: {samples_beyond(len(main), 50)}"
                 f", beyond p90: {samples_beyond(len(main), 90)}")
    rows = [(k, v, u, len(main) if k.startswith("op_") else 1)
            for k, (v, u) in e2e.items()]
    rows.append(("session_start_s", session_s, "s", 1))
    rows.append(("inputs_s", run.inputs_s, "s", 1))
    scale = run.scale[run.info["main_op"]]
    rows.append(("host_speed_ratio", statistics.median(scale), "ratio",
                 len(scale)))
    for name, (v, u, n) in sorted(run.report.items()):
        rows.append((name, v, u, n))
    prefix = {"serve_mix": "serve", "live_refresh": "live_query"}[
        args.workload]
    tail = tail_percentile(len(main))
    rows.append((f"{prefix}_p50_ms", 1e3 * percentile(main, 50), "ms",
                 len(main)))
    if tail and tail != 50:
        rows.append((f"{prefix}_p{tail}_ms", 1e3 * percentile(main, tail),
                     "ms", len(main)))
    for key in sorted(run.lat):
        if key.startswith("class."):
            rows.append((f"serve.{key}.p50_ms",
                         1e3 * statistics.median(run.lat[key]), "ms",
                         len(run.lat[key])))
    rows.append(("fail_frac", len(run.failures) / max(1, run.attempted),
                 "ratio", run.attempted))
    for name, v, u, n in rows:
        lines.append(f"{name:36s} {v:14.4f} {u:10s} n={n}")
    for f in run.failures[:20]:
        lines.append(f"FAILED {f}")
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        from perfbench import harness, trace, workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    host = harness.host_fit()
    sizes = workloads.TINY if args.tiny else workloads.Sizes()
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tracer = trace.Tracer() if args.trace else None
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
    undo = trace.install(tracer) if tracer else (lambda: None)
    evdir = work / "events" if tracer else None
    spark = None
    try:
        with harness.RssSampler() as rss:
            with span("bench.run"):
                t0 = time.perf_counter()
                with span("bench.setup.session"):
                    spark = harness.start_session(host, work, event_log=evdir)
                session_s = time.perf_counter() - t0
                host.update(java=spark.sparkContext._jvm.System.getProperty(
                    "java.version"), pyspark=spark.version)
                run = workloads.Run(spark, work, args.seed, args.seconds,
                                    sizes, tracer, host["cores"])
                try:
                    workloads.WORKLOADS[args.workload](run)
                except Exception as e:  # noqa: BLE001 — report, then fail
                    run.fail(f"workload aborted: {type(e).__name__}: {e}")
            harness.stop_session(spark)
            spark = None
        peak = rss.peak_mib
        correct = not run.failures and "throughput" in run.info
        if not correct:
            for f in run.failures[:20]:
                print(f"FAILED {f}", file=sys.stderr)
            print(json.dumps({"correct": False, "attempted":
                              max(1, run.attempted),
                              "failed": max(1, len(run.failures)),
                              "metrics": {}}))
            return 1
        e2e = end_to_end(run, session_s, peak)
        for line in report_lines(args, host, run, e2e, session_s):
            print(line)
        print("# peak rss by process (count, MiB): " + json.dumps(
            {k: [n, round(b / (1 << 20))]
             for k, (n, b) in sorted(rss.peak_parts.items())}))
        if tracer:
            metrics = traced_metrics(tracer, evdir, run, work)
            units = {}
        else:
            metrics = {k: v for k, (v, _) in e2e.items()}
            units = {k: u for k, (_, u) in e2e.items()}
        out = {"correct": True, "attempted": run.attempted, "failed": 0,
               "metrics": {k: {"value": v, "unit": units.get(k) or
                               trace_unit(k)} for k, v in metrics.items()}}
        print(json.dumps(out))
        return 0
    finally:
        if spark is not None:
            harness.stop_session(spark)
        undo()
        shutil.rmtree(work, ignore_errors=True)


def trace_unit(name: str) -> str:
    for suffix, unit in (("_pct", "%"), ("_ms", "ms"), ("_s", "s"),
                         ("_mib", "MiB"), ("_kib", "KiB"),
                         ("_ratio", "ratio"), (".skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def traced_metrics(tracer, evdir: Path, run, work: Path) -> dict:
    """Per-layer metrics; the report lines for the layer split and the
    spans themselves (written once, beside the other traces)."""
    from perfbench import trace
    from perfbench.harness import percentile

    lat = run.lat[run.info["main_op"]]
    run.facts["trace.op_p50_ms"] = 1e3 * percentile(lat, 50)
    per_layer, extra = trace.layer_report(tracer, evdir, run.facts)
    extra.update({k: v for k, v in run.facts.items()
                  if k not in per_layer})
    for name in sorted(per_layer):
        print(f"{name:36s} {per_layer[name]:14.4f} {trace_unit(name)}")
    for name in sorted(extra):
        print(f"  {name:34s} {extra[name]:14.4f} {trace_unit(name)}")
    out = WORK / "traces"
    out.mkdir(parents=True, exist_ok=True)
    with open(out / f"{work.name}.json", "w") as f:
        json.dump({"spans": tracer.spans, "counts": dict(tracer.counts),
                   "per_layer": per_layer, "extra": extra}, f)
    return per_layer


if __name__ == "__main__":
    sys.exit(main())
