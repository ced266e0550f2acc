"""Benchmark of the rollup engine: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the run writes
its spans to ``.perfbench_out/``.  The lines before it are a readable
report: every named metric of the workload with its unit, sample
count, median and tail, and the output-check results.

``--workload all`` runs each workload in a fresh process of its own
(engine calls such as ``fanout.tune_shuffle_for_input`` change
session-global settings, which must not leak from one workload into
the next) and prints every report.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("continuous", "query_suite")
END_TO_END = {"setup_s": "s", "op_s_p50": "s"}
STANDARD_UNITS = {
    "s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "sort_fallback_tasks": "count",
}
GROUPS = (
    "hist_rollup.minute",
    "hist_rollup.cascade",
    "checkpoint.append",
    "incremental.refresh",
    "serve.scrape",
    "streaming.pass",
)
STREAM_LEVELS = ("state_rows", "state_mem_bytes")
FALLBACK_QUERIES = ("rollup_minute", "rollup_hour", "rollup_hour_cascade", "dedup_minhash_lsh")


def headline_queries() -> list[str]:
    sys.path.insert(0, ROOT)
    from bench import HEADLINE

    return list(HEADLINE)


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {"session.start_s": "s", "generate.s": "s"}
    for g in GROUPS:
        out.update({f"{g}.{k}": u for k, u in STANDARD_UNITS.items()})
    out.update(
        {
            "hist_rollup.minute.build_s": "s",
            "deltas.exchange_bytes": "bytes",
            "deltas.sort_ms": "ms",
            "hist_rollup.cascade.build_s": "s",
            "checkpoint.append_bytes": "bytes",
            "incremental.bytes_written": "bytes",
            "incremental.write_amp": "ratio",
            "incremental.buckets_total": "count",
            "incremental.touched_buckets": "count",
            "streaming.batches": "count",
            "streaming.input_rows": "rows",
            "streaming.add_batch_ms": "ms",
            "streaming.query_planning_ms": "ms",
            "streaming.wal_commit_ms": "ms",
            "streaming.state_rows": "rows",
            "streaming.state_mem_bytes": "bytes",
            "streaming.state_commit_ms": "ms",
            "streaming.rows_dropped_by_watermark": "rows",
        }
    )
    for q in headline_queries():
        out[f"queries.{q}.build_s"] = "s"
        out[f"queries.{q}.exec_s"] = "s"
    out.update(
        {
            "queries.build_jobs": "count",
            "queries.shuffle_write_bytes": "bytes",
            "queries.spill_bytes": "bytes",
            "queries.sort_fallback_tasks": "count",
        }
    )
    for q in FALLBACK_QUERIES:
        out[f"queries.{q}.sort_fallback_tasks"] = "count"
    out["fanout.conf_changes"] = "count"
    out["jvm.peak_rss_mb"] = "MB"
    out["trace.overhead_s"] = "s"
    return out


# ------------------------------------------------------------- reporting


def tail(samples: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    for p in (99.9, 99, 90, 75):
        if n * (1 - p / 100) >= 10:
            cut = statistics.quantiles(samples, n=1000, method="inclusive")
            return f"p{p:g}={cut[int(p * 10) - 1]:.4g}"
    return "no tail (fewer than 10 samples beyond p75)"


def report_named(named: dict) -> list[str]:
    lines = []
    for name, (unit, v) in named.items():
        if isinstance(v, list):
            med = statistics.median(v) if v else float("nan")
            lines.append(f"  {name} = {med:.6g} {unit}  (n={len(v)}, {tail(v)})")
        else:
            lines.append(f"  {name} = {v:.6g} {unit}")
    return lines


def layer_values(col, streams, passes: float) -> dict[str, float]:
    """Per-call means of each call group's counters, plus the extras,
    keyed as in ``per_layer_metrics``."""
    names = per_layer_metrics()
    vals = dict.fromkeys(names, 0.0)
    calls = {g: t["calls"] for g, t in col.totals.items()}
    for g, t in col.totals.items():
        for k in STANDARD_UNITS:
            key = f"{g}.{k}"
            if key in vals:
                vals[key] = t[k] / t["calls"]
    vals["generate.s"] = col.totals.get("generate", {}).get("s", 0.0)
    per = {
        "hist_rollup.minute.build_s": "hist_rollup.minute",
        "deltas.exchange_bytes": "hist_rollup.minute",
        "deltas.sort_ms": "hist_rollup.minute",
        "hist_rollup.cascade.build_s": "hist_rollup.cascade",
        "checkpoint.append_bytes": "checkpoint.append",
        "incremental.bytes_written": "incremental.refresh",
        "incremental.touched_buckets": "incremental.refresh",
    }
    for key, group in per.items():
        if calls.get(group):
            vals[key] = col.extra.get(key, 0.0) / calls[group]
    vals["incremental.buckets_total"] = col.extra.get("incremental.buckets_total", 0.0)
    if col.extra.get("checkpoint.append_bytes"):
        vals["incremental.write_amp"] = (
            col.extra.get("incremental.bytes_written", 0.0)
            / col.extra["checkpoint.append_bytes"]
        )
    stream_passes = calls.get("streaming.pass", 0)
    if streams is not None and stream_passes:
        for f, v in streams.totals.items():
            vals[f"streaming.{f}"] = v if f in STREAM_LEVELS else v / stream_passes
    if passes:
        for q in headline_queries():
            b = col.totals.get(f"queries.{q}.build")
            e = col.totals.get(f"queries.{q}.exec")
            if not (b and e):
                continue
            vals[f"queries.{q}.build_s"] = b["s"] / b["calls"]
            vals[f"queries.{q}.exec_s"] = e["s"] / e["calls"]
            vals["queries.build_jobs"] += b["jobs"] / b["calls"]
            for k in ("shuffle_write_bytes", "spill_bytes", "sort_fallback_tasks"):
                per_call = b[k] / b["calls"] + e[k] / e["calls"]
                vals[f"queries.{k}"] += per_call
                if k == "sort_fallback_tasks" and q in FALLBACK_QUERIES:
                    vals[f"queries.{q}.sort_fallback_tasks"] = per_call
        vals["fanout.conf_changes"] = col.extra.get("fanout.conf_changes", 0.0) / passes
    vals["trace.overhead_s"] = col.overhead_s
    return vals


# ------------------------------------------------------------------ run


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def start_spark(work: str):
    """A session at local[<usable cores>], with every scratch path
    inside ``work``."""
    from rollup_engine.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    # Python workers import rollup_engine (applyInPandasWithState);
    # they inherit this through the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = work
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": work,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the collector reads finished jobs and executions back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work)
        session_s = time.perf_counter() - T_START
        col = streams = None
        if args.trace:
            from perfbench.collector import Collector, StreamCounts

            col = Collector(spark)
            streams = StreamCounts()
            spark.streams.addListener(streams.listener())
        ctx = workloads.Ctx(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            size=workloads.SIZES[args.size][args.workload],
            work=work,
            col=col,
        )
        setup = {}

        def mark_setup_done():
            setup["s"] = time.perf_counter() - T_START
            if col is not None:
                col.timed = True
            if streams is not None:
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                streams.totals = dict.fromkeys(streams.FIELDS, 0.0)

        res = workloads.WORKLOADS[args.workload](ctx, mark_setup_done)
        rss = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    op = res.headline if res.headline is not None else statistics.median(res.op_s)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    phases = ", ".join(f"{n} {v:.3g}" for n, v in [("session start", session_s), *ctx.phases])
    print(f"  setup_s = {setup['s']:.6g} s  ({phases})")
    print(f"  op_s_p50 = {op:.6g} s  (n={len(res.op_s)}, {tail(res.op_s)})")
    print("  op samples: " + " ".join(f"{v:.3f}" for v in res.op_s))
    print(f"  jvm_peak_rss_mb = {rss:.6g} MB")
    for line in report_named(res.named):
        print(line)
    frac = res.failed / max(1, res.attempted)
    print(f"  failed_ops_frac = {frac:.6g} ratio  ({res.failed}/{res.attempted} operations)")
    print("  checks: " + ("all outputs correct" if not res.failed else "; ".join(res.problems[:5])))
    if col is not None:
        metrics = {
            name: {"value": float(v), "unit": unit}
            for (name, unit), v in zip(
                per_layer_metrics().items(),
                layer_values(col, streams, res.named.get("passes", ("", 0))[1]).values(),
            )
        }
        metrics["session.start_s"]["value"] = session_s
        metrics["jvm.peak_rss_mb"]["value"] = rss
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        col.write_spans(span_path)
        print(f"  spans: {span_path} ({len(col.spans)} spans)")
        print(f"  tracing overhead: {col.overhead_s:.4g} s of collector work in the run")
    else:
        metrics = {
            "setup_s": {"value": setup["s"], "unit": "s"},
            "op_s_p50": {"value": op, "unit": "s"},
        }
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Each workload in a fresh process; reports relayed, then a summary
    of untraced-versus-traced headline latency (the tracing overhead)."""
    summary = []
    for w in WORKLOADS:
        row = [w]
        for trace in (0, 1):
            cmd = [
                sys.executable,
                os.path.abspath(__file__),
                "--workload", w,
                "--seed", str(args.seed),
                "--seconds", str(args.seconds),
                "--trace", str(trace),
                "--size", args.size,
            ]
            p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=900)
            lines = p.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if p.returncode != 0 or not lines:
                print(p.stderr[-2000:], file=sys.stderr)
                return p.returncode or 1
            op = next(line for line in lines if "op_s_p50 =" in line)
            row.append(float(op.split("=")[1].split()[0]))
        summary.append(row)
    print("# headline op_s_p50 untraced / traced (tracing overhead)")
    for w, plain, traced in summary:
        print(f"  {w}: {plain:.4g} s / {traced:.4g} s ({(traced - plain) / plain:+.1%})")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rollup_engine", "__init__.py")):
        print(f"rollup_engine not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
