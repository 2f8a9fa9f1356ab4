"""prosearch_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload serve|build|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run starts one Spark driver on
local[nproc], sets the workload up, measures it for ``--seconds``
seconds in a closed loop, checks every answer against an oracle, and
prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` (the event log
and span recording on) the per-layer ones. The line before it is a
report naming every metric by its workload-specific name, with the
run context; spans and the report are also written under
``perfbench/_results/``. All scratch data lives under
``perfbench/_work/`` and is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from pbench import context, workloads  # noqa: E402
from pbench.spans import Tracer  # noqa: E402
from pbench.sparkobs import (SparkOps, event_log_conf,  # noqa: E402
                             read_event_log)
from pbench.stats import busy_frac, median  # noqa: E402

OP_TIMEOUT_S = 90.0

# every per-layer metric the traced run reports, on every workload: a
# layer the workload never enters reads 0 (no work done there)
LAYER_METRICS = (
    "analyzer.parse_query_ms",
    "query.serve.route_ms",
    "query.serve.fresh_route_ms",
    "query.serve.msearch_ms",
    "query.serve.api_self_ms",
    "index.artifact.fetch_docs_ms",
    "query.snippet.with_snippet_ms",
    "query.block_engine.blocks_decoded_frac",
    "query.block_engine.short_circuit_frac",
    "index.lineage.run_s",
    "index.lineage.split_p50_s",
    "index.lineage.split_max_s",
    "index.lineage.finalize_s",
    "index.lineage.verify_s",
    "index.build.term_frequencies_s",
    "index.blocks.encode_blocks_s",
    "index.blocks.bytes_per_posting",
    "index.build.n_postings",
    "index.build.n_terms",
    "index.blocks.n_blocks",
    "streaming.ingest.process_batch_ms",
    "index.segments.merge_once_ms",
    "index.segments.merges",
    "index.segments.write_amp",
    "index.segments.as_artifact_ms",
    "index.segments.n_segments_mean",
    "spark.jobs_per_search",
    "spark.stages_per_search",
    "spark.tasks_per_search",
    "spark.jobs_per_msearch",
    "spark.tasks_per_msearch",
    "spark.jobs_per_build",
    "spark.jobs_per_wave",
    "spark.jobs_per_fresh_search",
    "spark.executor_busy_frac.search",
    "spark.executor_busy_frac.msearch",
    "spark.executor_busy_frac.build",
    "spark.executor_busy_frac.wave",
    "spark.executor_busy_frac.fresh_search",
    "spark.shuffle_write_bytes_per_input_byte",
    "spark.spill_bytes",
    "spark.gc_frac",
    "perfbench.tracing_overhead_frac",
)

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

# op kinds whose task time makes each busy fraction
BUSY_KINDS = {"search": "api", "msearch": "msearch", "build": "build",
              "wave": "wave", "fresh_search": "fresh"}


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "_frac" in name or name.endswith(("_amp", "_per_input_byte")):
        return "ratio"
    if name.endswith(("_bytes", "_per_posting")):
        return "B"
    return "count"


def _env(work: str, trace: bool, cores: int) -> str | None:
    """Launch configuration: keep every file the run writes inside the
    checkout, make the program importable by Python workers, and (traced
    run) enable the Spark event log."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM (the spark-submit launcher and the driver): temp files in
    # the checkout, no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += event_log_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        proc.wait(timeout=60)


def _tracing_overhead(results: str, workload: str, traced_ms: float) -> float:
    """Traced op latency over the median of the untraced runs of the same
    workload recorded in this checkout, minus one (0 when none ran)."""
    base = []
    for name in os.listdir(results):
        if name.startswith(f"{workload}-") and "-t0-" in name \
                and name.endswith(".report.json"):
            with open(os.path.join(results, name)) as f:
                e2e = json.load(f).get("e2e")
            if e2e:
                base.append(e2e["op_p50_ms"])
    return traced_ms / median(base) - 1.0 if base else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve", "build"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "prosearch_spark")):
        print(f"prosearch_spark not found under {ROOT}", file=sys.stderr)
        return 2

    cores = context.nproc()
    master = f"local[{cores}]"
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    results = os.path.join(HERE, "_results")
    os.makedirs(results, exist_ok=True)
    try:
        return _run(args, cores, master, run_id, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cores: int, master: str, run_id: str, work: str,
         results: str) -> int:
    load_before = context.loadavg()
    spin_before = context.spin_seconds()
    t_start = time.perf_counter()
    log_dir = _env(work, bool(args.trace), cores)
    from prosearch_spark.session import get_spark

    spark = None
    try:
        with context.RssSampler(os.getpid()) as rss:
            spark = get_spark("perfbench", master=master)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t_start
            tracer = Tracer(bool(args.trace))
            ctx = workloads.Ctx(spark, work, args.seed, args.seconds, cores,
                                tracer, SparkOps(spark, OP_TIMEOUT_S))
            res = workloads.WORKLOADS[args.workload](ctx)
        peak_rss = rss.peak_mb
        run_ctx = context.record(ROOT, cores, master)
    finally:
        if spark is not None:
            _stop(spark)
    load_after = context.loadavg()
    spin_after = context.spin_seconds()

    records = ctx.ops.records
    attempted = len(records)
    failed = len(ctx.failed_ops)
    setup_s = session_s + res.setup_s
    e2e = {"setup_s": setup_s, **res.e2e, "peak_rss_mb": peak_rss}

    layers = dict.fromkeys(LAYER_METRICS, 0.0)
    layers.update(res.layers)
    if args.trace:
        totals = read_event_log(log_dir, records)
        for name, kind in BUSY_KINDS.items():
            recs = [r for r in records if r.kind == kind and r.ok]
            if recs:
                layers[f"spark.executor_busy_frac.{name}"] = busy_frac(
                    sum(totals[r.op_id].run_ms for r in recs),
                    sum(r.wall_s for r in recs) * 1000, cores)
        run_ms = sum(t.run_ms for t in totals.values())
        layers["spark.gc_frac"] = (sum(t.gc_ms for t in totals.values())
                                   / run_ms if run_ms else 0.0)
        layers["spark.spill_bytes"] = float(sum(
            t.spill_bytes for t in totals.values()))
        builds = [r for r in records if r.kind == "build" and r.ok]
        if builds:
            layers["spark.shuffle_write_bytes_per_input_byte"] = sum(
                totals[r.op_id].shuffle_write_bytes for r in builds) / (
                res.info["content_bytes"] * len(builds))
        layers["perfbench.tracing_overhead_frac"] = _tracing_overhead(
            results, args.workload, res.e2e["op_p50_ms"])
        tracer.dump(os.path.join(results, f"{run_id}.spans.jsonl"))

    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "input_digest": res.digest,
        "e2e": e2e,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res.named.items()},
        "setup_s": {"value": setup_s, "unit": "s",
                    "session_s": session_s, "workload_setup_s": res.setup_s},
        "failed_ops_frac": {"value": failed / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        "failures": ctx.failures[:20],
        "answers_checked": ctx.checks,
        "op_walls_s": {k: [r.wall_s for r in records if r.kind == k]
                       for k in sorted({r.kind for r in records})},
        "info": res.info,
        "context": {**run_ctx, "loadavg_before": load_before,
                    "loadavg_after": load_after,
                    "spin_s_before": spin_before,
                    "spin_s_after": spin_after},
    }
    if args.trace:
        report["layers"] = layers
    with open(os.path.join(results, f"{run_id}.report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"report": report}))

    if args.trace:
        metrics = {k: {"value": float(layers[k]), "unit": _layer_unit(k)}
                   for k in LAYER_METRICS}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": not ctx.failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
