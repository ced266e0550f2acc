"""The benchmark's own tests, at the "tiny" input size.

    python3 -m pytest perfbench/test_perfbench.py -q

- every workload, traced and untraced, prints every metric of
  BENCHMARK.json with its unit, from a process of its own;
- a planted wrong result raises failed_ops_frac, so the checks fire;
- the collector counts only the Spark work started inside a call;
- the known streaming defect with damaged rows is still there (strict
  xfail: it turns into a failure once the engine is fixed, and then the
  stream can be fed the deliveries whole again);
- BENCHMARK.json names the metrics run.py reports.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_run():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_metrics()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_every_metric_name_and_unit(workload, trace):
    p = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", "7",
            "--seconds", "1",
            "--trace", str(trace),
            "--size", "tiny",
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = _result(p.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def _run_in_process(capsys, workload: str) -> dict:
    args = run.argparse.Namespace(
        workload=workload, seed=7, seconds=1, trace=0, size="tiny"
    )
    assert run.run_one(args) == 0
    return _result(capsys.readouterr().out)


def test_planted_wrong_results_raise_failed_ops(capsys, monkeypatch):
    base = {w: _run_in_process(capsys, w) for w in run.WORKLOADS}

    from pyspark.sql import functions as F

    from rollup_engine import incremental, job, queries

    # continuous: scrapes report one turn too many, and the refresh's
    # touched-bucket merge adds a turn to every merged minute bucket
    scraper = job.make_tier_scraper
    monkeypatch.setattr(
        job,
        "make_tier_scraper",
        lambda *a: (
            lambda f: lambda: dataclasses.replace(f(), count=f().count + 1)
        )(scraper(*a)),
    )
    cascade = incremental.hist_cascade
    monkeypatch.setattr(
        incremental,
        "hist_cascade",
        lambda df, tier: cascade(df, tier).withColumn(
            "turn_count", F.col("turn_count") + (1 if tier == "minute" else 0)
        ),
    )
    # query_suite: one query loses a row
    topk = queries.QUERIES["topk_convs"]
    monkeypatch.setitem(queries.QUERIES, "topk_convs", lambda s, d: topk(s, d).limit(9))

    for w in run.WORKLOADS:
        planted = _run_in_process(capsys, w)
        frac = planted["failed"] / planted["attempted"]
        assert frac > base[w]["failed"] / base[w]["attempted"], (w, planted, base[w])
        assert not planted["correct"]


def test_collector_counts_only_work_inside_the_call(tmp_path):
    from perfbench.collector import Collector

    spark = run.start_spark(str(tmp_path))
    try:
        col = Collector(spark)
        col.timed = True
        with col.call("a"):
            spark.range(100).selectExpr("sum(id)").collect()
        # Spark work between two calls belongs to neither
        for _ in range(3):
            spark.range(50).repartition(4).count()
        with col.call("b"):
            spark.range(100).selectExpr("sum(id)").collect()
    finally:
        run.stop_spark(spark)
    a, b = col.totals["a"], col.totals["b"]
    assert a["jobs"] >= 1
    keys = ("jobs", "tasks", "shuffle_write_bytes")
    assert [b[k] for k in keys] == [a[k] for k in keys]


@pytest.mark.xfail(
    strict=True,
    reason="streaming._delta_state_fn keeps null-ts turns, which transcripts.clean drops",
)
def test_stream_with_damaged_rows_matches_batch_tier(tmp_path):
    import pyarrow.dataset as pds

    from perfbench import checks
    from rollup_engine.schema import TRANSCRIPT_SCHEMA
    from rollup_engine.streaming import run_stream_once

    t0 = dt.datetime(2024, 1, 1)
    # turn 2 is damaged; the "wm" turns an hour later close minute 0
    rows = [
        ("a", i, "user", "x", "", None if i == 2 else t0 + dt.timedelta(seconds=3 * i))
        for i in range(5)
    ] + [("wm", i, "user", "x", "", t0 + dt.timedelta(hours=1, seconds=i)) for i in range(2)]
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark = run.start_spark(str(tmp_path))
    try:
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(inp)
        run_stream_once(spark, inp, str(tmp_path / "ckpt"), out)
    finally:
        run.stop_spark(spark)
    got = pds.dataset(out, format="parquet").to_table().to_pandas()
    want = checks.tier_oracle(glob.glob(os.path.join(inp, "*.parquet")))["minute"]
    assert len(got) and checks.check_stream(got, want) == []
