"""frizbee-spark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 5 --trace 0

Run from the repository root; ``BENCHMARK.json`` lists the workloads and
metrics. With ``--trace 0`` it prints the end-to-end metrics. With
``--trace 1`` the untraced pass is followed, in a new JVM, by a traced
pass that labels every layer call and writes the Spark event log; it
prints the per-layer metrics. The tracing overhead is the traced median
latency minus the untraced one; a traced batch_dedup run times one
operation per pass, so there it is a single-sample difference between two
JVMs, within the latency noise and sometimes negative. A report with each figure's unit
and sample count goes first; the last line of standard output is the
JSON result. Work files live in ``.bench_work/`` and are removed on exit,
except the span dump of traced runs. Exit code 0 means a result was
printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, stats  # noqa: E402

SPARK_LAYERS = ("pipeline", "dedup", "components", "incremental", "fuzzy")
SPARK_FIELDS = {
    "executor_run_s": "s", "tasks": "count", "slot_utilization": "ratio",
    "task_skew": "ratio", "shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
    "spill_bytes": "B", "gc_s": "s",
}
# task run time of the jobs with one description: pipeline stages are
# per timed operation, replayed calls are one call each
DESCRIPTION_BUSY = {
    "dedup.compute_signatures.busy_s": "frizbee:signatures",
    "dedup.winnow_span_pairs.busy_s": "frizbee:span_pairs",
    "dedup.span_extents.busy_s": "frizbee:span_report",
    "components.assign_clusters.busy_s": "frizbee:clusters",
    "dedup.unified_candidate_pairs.busy_s": "perfbench:replay.dedup.unified_candidate_pairs",
    "dedup.verify_pairs.busy_s": "perfbench:replay.dedup.verify_pairs",
    "incremental.incremental_dedup_batch.busy_s":
        "perfbench:replay.incremental.incremental_dedup_batch",
    "incremental.verify_increment.busy_s": "perfbench:replay.incremental.verify_increment",
}
PER_LAYER = {
    "session.jvm_start_s": "s",
    "session.warmup_s": "s",
    # resident memory of the driver JVM and its Python workers: not an
    # end-to-end metric, because the worker pool now and then grows by
    # several workers (~1.5 GB) for reasons of timing alone
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    **{f"pipeline.{st}.wall_s": "s" for st in (
        "documents", "signatures", "span_pairs", "span_report", "verified",
        "clusters", "canonical")},
    "dedup.compute_signatures.busy_s": "s",
    "dedup.compute_signatures.docs": "count",
    "hashing.compute_signature_arrays.bytes": "B",
    "hashing.compute_signature_arrays.busy_s": "s",
    "hashing.compute_signature_arrays.bytes_per_s": "B/s",
    "dedup.unified_candidate_pairs.busy_s": "s",
    "dedup.unified_candidate_pairs.pairs": "count",
    "dedup.verify_pairs.busy_s": "s",
    "dedup.verify_pairs.pairs_in": "count",
    "dedup.verify_pairs.exact_gate": "count",
    "dedup.verify_pairs.hamming_reject": "count",
    "dedup.verify_pairs.sw_pairs": "count",
    "dedup.verify_pairs.accept_ratio": "ratio",
    "wavefront.sw_score_banded.cells": "count",
    "wavefront.sw_score_banded.busy_s": "s",
    "wavefront.sw_score_banded.cells_per_s": "1/s",
    "dedup.winnow_span_pairs.busy_s": "s",
    "dedup.span_extents.busy_s": "s",
    "dedup.span_extents.pairs": "count",
    "components.assign_clusters.busy_s": "s",
    "components.assign_clusters.edges": "count",
    "components.assign_clusters.jobs": "count",
    "components.assign_clusters.driver_route": "count",
    "incremental.make_batch_processor.wall_s": "s",
    "incremental.incremental_dedup_batch.busy_s": "s",
    "incremental.incremental_dedup_batch.candidates": "count",
    "incremental.verify_increment.busy_s": "s",
    "incremental.state_write_s": "s",
    "incremental.pair_recall": "ratio",
    "incremental.state_docs": "count",
    "incremental.state_bytes": "B",
    "fuzzy.match_list_arrays.busy_s": "s",
    "fuzzy.prefilter_keep_ratio": "ratio",
    "fuzzy.dp_rows": "count",
    "fuzzy.greedy_rows": "count",
    "fuzzy.match_ratio": "ratio",
    "wavefront.sw_batch.cells": "count",
    "wavefront.sw_batch.busy_s": "s",
    "wavefront.sw_batch.cells_per_s": "1/s",
    **{f"spark.{layer}.{f}": u for layer in SPARK_LAYERS for f, u in SPARK_FIELDS.items()},
}
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "correct_ratio": "ratio",
}
# the names each workload's report prints for the shared metrics
NAMES = {
    "batch_dedup": {"latency": "dedup_wall", "throughput": ("dedup_docs_per_s", "docs/s"),
                    "correct": "dup_pair_recall"},
    "fuzzy_lookup": {"latency": "lookup_latency",
                     "throughput": ("lookup_pairs_per_s", "pairs/s"),
                     "correct": "lookup_oracle_agreement"},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(NAMES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_layers(events_dir: str, out, cores: int) -> dict:
    from perfbench import eventlog

    jobs, tasks = eventlog.read(eventlog.files(events_dir))
    timed = {j: v for j, v in jobs.items() if v["start"] >= out.loop_start_ms}
    n_ops = max(len(out.latencies), 1)
    m = {}
    layers = eventlog.aggregate(timed, tasks, eventlog.layer_of, cores)
    for layer in SPARK_LAYERS:
        a = layers.get(layer, {})
        for f in SPARK_FIELDS:
            # additive figures per timed operation; the incremental layer
            # runs once, after the timed loop
            per_op = f not in ("slot_utilization", "task_skew") and layer != "incremental"
            m[f"spark.{layer}.{f}"] = a.get(f, 0.0) / (n_ops if per_op else 1)
    by_desc = eventlog.aggregate(timed, tasks, lambda d: d, cores)
    for name, desc in DESCRIPTION_BUSY.items():
        div = n_ops if desc.startswith("frizbee:") else 1
        m[name] = by_desc.get(desc, {}).get("executor_run_s", 0.0) / div
    m["components.assign_clusters.jobs"] = \
        by_desc.get("frizbee:clusters", {}).get("jobs", 0) / n_ops
    return m


def report(workload: str, rows: list[tuple[str, float, str, int]]) -> None:
    print(f"perfbench {workload}")
    for name, value, unit, n in rows:
        print(f"  {name:<34} {value:>14.6g} {unit:<8} n={n}")


def run(args) -> dict:
    try:
        import frizbee_spark.session  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: frizbee_spark is not importable from {ROOT}: {e}")
    from perfbench import workloads
    from perfbench.trace import PeakRss, Tracer

    workload = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark, jvm = None, None
    try:
        knobs = host.configure(ROOT, work)
        print("perfbench: session " + " ".join(
            f"{k}={v}" for k, v in knobs.items() if k != "PYTHONPATH"))
        host.check_memory()
        # set-up is sampled on untraced runs only, which report it
        spark, jvm_s, samples = host.sample_setups(1 if args.trace else host.SETUP_SAMPLES)
        jvm = spark.sparkContext._gateway.proc
        ctx = workloads.Ctx(spark, Tracer(spark, False), os.path.join(work, "untraced"),
                            args.seed, args.seconds, host.cpus())
        with PeakRss(jvm.pid) as rss:
            out = workload(ctx)
        spark.stop()
        spark = None

        names = NAMES[args.workload]
        tail_pct, tail_v = stats.tail(out.latencies)
        n = len(out.latencies)
        tput_name, tput_unit = names["throughput"]
        e2e = {
            "setup_s": stats.median(samples),
            "latency_p50_s": stats.median(out.latencies),
            "throughput_per_s": out.items / out.busy_s,
            "correct_ratio": out.good / out.checked if out.checked else 1.0,
        }
        peak_rss_mb = rss.peak / 2**20
        rows = [
            ("setup_s", e2e["setup_s"], "s", len(samples)),
            (f"{names['latency']}_p50_s", e2e["latency_p50_s"], "s", n),
            (f"{names['latency']}_tail_s (p{tail_pct:.0f})", tail_v, "s", n),
            (tput_name, e2e["throughput_per_s"], tput_unit, n),
            (names["correct"], e2e["correct_ratio"], "ratio", out.checked),
            ("peak_rss_mb", peak_rss_mb, "MB", 1),
            ("failed_ops_ratio", out.failed / out.attempted, "ratio", out.attempted),
        ] + [(k, v, u, c) for k, (v, u, c) in out.notes.items()]
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        attempted, failed = out.attempted, out.failed

        if args.trace:
            # second pass: a new JVM, so both passes start equally cold,
            # with the event log on and every layer call labelled
            host.stop_jvm(jvm)
            jvm = None
            events = host.enable_event_log(work)
            spark, _, _ = host.start_session()
            jvm = spark.sparkContext._gateway.proc
            ctx = workloads.Ctx(spark, Tracer(spark, True), os.path.join(work, "traced"),
                                args.seed, args.seconds, host.cpus())
            traced = workload(ctx)
            spark.stop()
            spark = None
            layer = {k: 0.0 for k in PER_LAYER}
            layer.update(traced.layers)
            layer.update(spark_layers(events, traced, ctx.cores))
            layer["session.jvm_start_s"] = jvm_s
            layer["session.peak_rss_mb"] = peak_rss_mb
            layer["session.warmup_s"] = traced.notes["warmup_s"][0]
            layer["trace.overhead_s"] = (
                stats.median(traced.latencies) - e2e["latency_p50_s"])
            layer["trace.spans"] = len(ctx.tracer.spans)
            spans = os.path.join(ROOT, ".bench_work",
                                 f"spans-{args.workload}-seed{args.seed}.json")
            ctx.tracer.write(spans)
            rows += [(k, layer[k], PER_LAYER[k], 1) for k in PER_LAYER
                     if k != "trace.overhead_s"]
            rows.append(("trace.overhead_s (traced - untraced p50)", layer["trace.overhead_s"],
                         "s", min(n, len(traced.latencies))))
            print(f"perfbench: spans written to {os.path.relpath(spans, ROOT)}")
            metrics = {k: {"value": layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
            attempted, failed = attempted + traced.attempted, failed + traced.failed
        report(args.workload, rows)
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            spark.stop()
        if jvm is not None:
            host.stop_jvm(jvm)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    result = run(args)
    print(f"perfbench: run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
