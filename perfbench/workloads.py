"""The workloads.  Each is one closed-loop caller: the next operation
starts when the previous one has returned.

A workload function gets a ``Ctx`` and returns a ``Result``.  Everything
before the first timed operation is set-up; the timed loop runs whole
operations until ``ctx.seconds`` have passed.  ``ctx.call(group)`` is a
no-op unless the run is traced, so the traced and untraced runs make
the same calls into the engine.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pds
import pyarrow.parquet as pq

from . import checks, inputs

DELIVERY = dt.timedelta(minutes=inputs.DELIVERY_MINUTES)
BASE = dt.datetime(2024, 1, 1)
SCRAPE_WINDOW_MIN = 60
PARTITIONS = "spark.sql.shuffle.partitions"

# Input sizes.  "full" is what the benchmark measures; "tiny" only
# proves the plumbing (smoke test).
SIZES = {
    "full": {
        # 20 h of history, then deliveries of about 2k turns, more of
        # them than a run can reach
        "continuous": {
            "convs_per_minute": 10,
            "turns_per_conv": 40,
            "history_deliveries": 240,
            "max_cycles": 8,
        },
        "query_suite": {"events": 10_000, "users": 150, "documents": 500, "embeddings": 200},
    },
    "tiny": {
        "continuous": {
            "convs_per_minute": 1,
            "turns_per_conv": 10,
            "history_deliveries": 2,
            "max_cycles": 4,
        },
        "query_suite": {"events": 500, "users": 50, "documents": 50, "embeddings": 50},
    },
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    size: dict
    work: str
    col: object = None  # Collector when traced
    # (name, seconds) of each set-up phase, for the report
    phases: list = field(default_factory=list)
    _t: float = field(default_factory=time.perf_counter)

    def call(self, group: str):
        return self.col.call(group) if self.col else nullcontext()

    def add(self, name: str, value: float) -> None:
        if self.col:
            self.col.add(name, value)

    def phase(self, name: str) -> None:
        """Close the set-up phase running since the last call."""
        now = time.perf_counter()
        self.phases.append((name, now - self._t))
        self._t = now

    def cycle(self, n: int) -> None:
        """Tag the spans that follow with cycle id ``n``."""
        if self.col:
            self.col.cycle = n

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    op_s: list[float] = field(default_factory=list)  # headline op latencies
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # named diagnostics: name -> (unit, samples or value)
    named: dict = field(default_factory=dict)
    headline: float | None = None  # set when not the median of op_s
    extra_ops: int = 0  # checked operations that are not headline ops

    @property
    def attempted(self) -> int:
        return len(self.op_s) + self.extra_ops

    def fail(self, problems: list[str]) -> bool:
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
        return bool(problems)


def _deadline(ctx: Ctx) -> float:
    return time.perf_counter() + ctx.seconds


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ----------------------------------------------------------- continuous


def _scrape(url: str) -> str:
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.read().decode()


def _window_count(tier_path: str, now: dt.datetime) -> int:
    t = pds.dataset(tier_path, format="parquet").to_table(
        columns=["bucket_start", "turn_count"]
    ).to_pandas()
    b = t["bucket_start"].dt.tz_localize(None) if t["bucket_start"].dt.tz else t["bucket_start"]
    lo = (now - dt.timedelta(minutes=SCRAPE_WINDOW_MIN)).replace(second=0, microsecond=0)
    return int(t["turn_count"][(b >= lo) & (b <= now)].sum())


def continuous(ctx: Ctx, mark_setup_done) -> Result:
    """One delivery feed, three consumers per 5-minute delivery:
    SnapshotStore.append + IncrementalRollup.refresh (the headline:
    freshness), scrapes of the tier-backed Prometheus endpoint, and a
    streaming.run_stream_once pass over the same delivery landed as a
    file."""
    from rollup_engine.checkpoint import SnapshotStore
    from rollup_engine.incremental import IncrementalRollup, rollup_diff
    from rollup_engine.job import make_tier_scraper
    from rollup_engine.serve import serve_prometheus
    from rollup_engine.streaming import run_stream_once

    spark, res, size = ctx.spark, Result(), ctx.size
    hist = size["history_deliveries"]
    partitions = spark.conf.get(PARTITIONS)
    stage = ctx.path("stage")
    with ctx.call("generate"):
        inputs.stage_deliveries(spark, stage, ctx.seed, size)
    ctx.phase("generate")
    store = SnapshotStore(ctx.path("store"))
    job = IncrementalRollup(store, ctx.path("tiers"))
    in_dir, ckpt, sink = ctx.path("stream_in"), ctx.path("stream_ckpt"), ctx.path("sink")
    os.makedirs(in_dir)
    clock = {"now": BASE}
    scraper = {"fn": None}
    server = serve_prometheus(lambda: scraper["fn"](), address="127.0.0.1", port=0)
    url = f"http://127.0.0.1:{server.server_address[1]}/metrics"
    fresh_s, scrape_ms, lag_s = res.op_s, [], []
    emitted: list[set[str]] = []  # sink files each timed pass added

    def land(k: int) -> None:
        for i, f in enumerate(inputs.delivery_files(stage, k)):
            # write aside, then rename: the file appears whole, at once.
            # The stream gets the delivery without its damaged (null-ts)
            # rows: streaming._delta_state_fn does not drop them, as
            # transcripts.clean does (see README, "Known engine defect")
            tmp = os.path.join(ctx.work, f".landing-{k}-{i}.parquet")
            t = pq.read_table(f)
            t = t.filter(pc.is_valid(t["ts"]))
            # an instant (UTC-adjusted), which Spark reads back as timestamp
            i = t.schema.get_field_index("ts")
            t = t.set_column(i, "ts", t["ts"].cast(pa.timestamp("us", "UTC")))
            pq.write_table(t, tmp)
            os.rename(tmp, os.path.join(in_dir, f"d{k:05d}-{i}.parquet"))

    def sink_files() -> set[str]:
        if not os.path.isdir(sink):
            return set()
        return {f for f in os.listdir(sink) if f.endswith(".parquet")}

    def refresh(files: list[str], timed: bool) -> None:
        old_tier = None
        if ctx.col and timed:
            old_tier = pds.dataset(
                job.rollup_path(job.checkpoint()["version"]), format="parquet"
            ).to_table(columns=["bucket_start", "turn_count"]).to_pandas()
        t0 = time.perf_counter()
        with ctx.call("checkpoint.append"):
            sid = store.append(spark.read.parquet(*files))
        with ctx.call("incremental.refresh"):
            ck = job.refresh(spark)
        if timed:
            fresh_s.append(time.perf_counter() - t0)
        if not (ctx.col and timed):
            return
        v = ck["version"]
        written = [job.rollup_path(v), job.state_path(v)]
        written += [job.rollup_path(v, t) for t in job.cascade_tiers]
        ctx.add("checkpoint.append_bytes", _dir_bytes(f"{store.root}/data/s{sid:08d}"))
        ctx.add("incremental.bytes_written", sum(_dir_bytes(p) for p in written))
        ctx.col.extra["incremental.buckets_total"] = ck["metrics"]["buckets_total"]
        old = spark.createDataFrame(old_tier)
        ctx.add("incremental.touched_buckets", rollup_diff(old, job.read_rollup(spark)).count())

    def scrape(k: int) -> None:
        # a new simulated minute per scrape, so every scrape computes
        clock["now"] = BASE + (k + 1) * DELIVERY
        t0 = time.perf_counter()
        try:
            with ctx.call("serve.scrape"):
                body = _scrape(url)
            ms = (time.perf_counter() - t0) * 1000
            tier = job.rollup_path(job.checkpoint()["version"])
            problems = checks.check_scrape(body, _window_count(tier, clock["now"]))
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            ms, problems = (time.perf_counter() - t0) * 1000, [f"scrape raised {e!r}"]
        scrape_ms.append(ms)
        res.fail(problems)

    def stream_pass(k: int, timed: bool) -> None:
        land(k)
        before = sink_files()
        t0 = time.perf_counter()
        try:
            with ctx.call("streaming.pass"):
                run_stream_once(spark, in_dir, ckpt, sink)
        except Exception as e:  # noqa: BLE001
            if not timed:
                raise
            res.fail([f"stream pass raised {e!r}"[:300]])
        finally:
            # run_stream_once resizes the session-global shuffle
            # partitions; give the refresh back the session's own value,
            # as if each consumer ran in a process of its own
            spark.conf.set(PARTITIONS, partitions)
        if timed:
            lag_s.append(time.perf_counter() - t0)
            emitted.append(sink_files() - before)

    try:
        # the history: one snapshot and refresh, and meanwhile one stream
        # pass (set-up only: the timed consumers never overlap)
        with ThreadPoolExecutor(1) as pool:
            stream_done = pool.submit(stream_pass, inputs.HISTORY, False)
            refresh(inputs.files_before(stage, size, hist), False)
            stream_done.result()
        ctx.phase("history")
        mark_setup_done()
        end, k = _deadline(ctx), hist
        while k < hist + size["max_cycles"]:
            ctx.cycle(k)
            refresh(inputs.delivery_files(stage, k), True)
            scraper["fn"] = make_tier_scraper(
                job.read_rollup(spark), SCRAPE_WINDOW_MIN, lambda: clock["now"]
            )
            scrape(k)
            stream_pass(k, True)
            k += 1
            if time.perf_counter() >= end:
                break
    finally:
        server.shutdown()
        server.server_close()

    # The tiers must equal the oracle over every distinct delivered
    # turn; a mismatch fails every refresh.  Every bucket a timed stream
    # pass emitted must equal the oracle's minute bucket.
    files = inputs.files_before(stage, size, k)
    want = checks.tier_oracle(files)
    version = job.checkpoint()["version"]
    problems = []
    for tier in ("minute", "hour", "day"):
        problems += checks.check_tier(tier, job.rollup_path(version, tier), want[tier])
    if problems:
        res.failed += len(fresh_s)
        res.problems += problems
    for new in emitted:
        if new:
            got = pds.dataset(
                [os.path.join(sink, f) for f in sorted(new)], format="parquet"
            ).to_table().to_pandas()
            res.fail(checks.check_stream(got, want["minute"]))
    res.extra_ops = len(scrape_ms) + len(lag_s)
    res.named["freshness_s_p50"] = ("s", list(fresh_s))
    res.named["scrape_ms_p50"] = ("ms", scrape_ms)
    res.named["stream_lag_s_p50"] = ("s", lag_s)
    res.named["delivery_turns"] = (
        "turns",
        statistics.median(inputs.delivery_rows(stage, d) for d in range(hist, k)),
    )
    if ctx.col:
        # traced runs also time the one-shot batch tier build (the
        # job.run_engine --out path) over the same turns, for the
        # hist_rollup layer metrics; it is checked like the tiers
        t0 = time.perf_counter()
        batch = _batch_tiers(ctx, files, ctx.path("batch"))
        turns = int(want["minute"]["turn_count"].sum())
        res.named["tier_build_turns_per_s"] = ("turns/s", turns / (time.perf_counter() - t0))
        res.extra_ops += 1
        res.fail(
            [p for t in ("minute", "hour", "day") for p in checks.check_tier(t, f"{batch}/{t}", want[t])]
        )
    return res


def _batch_tiers(ctx: Ctx, files: list[str], out: str) -> str:
    """job.run_engine's --out path: raw -> minute -> hour -> day, each
    tier written as parquet under ``out``."""
    from rollup_engine.deltas import with_deltas
    from rollup_engine.hist_rollup import hist_cascade, hist_rollup, narrow_for_rollup
    from rollup_engine.transcripts import clean

    with ctx.call("hist_rollup.minute"):
        t0 = time.perf_counter()
        raw = ctx.spark.read.parquet(*files)
        minute = hist_rollup(with_deltas(clean(narrow_for_rollup(raw))), "minute")
        minute.persist()
        ctx.add("hist_rollup.minute.build_s", time.perf_counter() - t0)
        minute.write.mode("overwrite").parquet(f"{out}/minute")
    if ctx.col:
        execs = ctx.col.last_execs
        ctx.add(
            "deltas.exchange_bytes",
            ctx.col.sql_metric_total(
                execs, "data size", node="Exchange", desc=["hashpartitioning(conv_id"]
            ),
        )
        ctx.add(
            "deltas.sort_ms",
            ctx.col.sql_metric_total(execs, "sort time", node="Sort", desc=["conv_id", "turn_idx"]),
        )
    with ctx.call("hist_rollup.cascade"):
        t0 = time.perf_counter()
        hour = hist_cascade(minute, "hour").persist()
        day = hist_cascade(hour, "day")
        ctx.add("hist_rollup.cascade.build_s", time.perf_counter() - t0)
        hour.write.mode("overwrite").parquet(f"{out}/hour")
        day.write.mode("overwrite").parquet(f"{out}/day")
    hour.unpersist()
    minute.unpersist()
    return out


# ---------------------------------------------------------------- queries


QUERY_TABLES = ("events", "documents", "embeddings")


def query_suite(ctx: Ctx, mark_setup_done) -> Result:
    """The 14 headline queries, each built then executed into a noop
    sink, in a seed-permuted order per round."""
    from bench import HEADLINE
    from rollup_engine.queries import ORACLES, QUERIES
    from tests.oracle_harness import compare

    spark, res = ctx.spark, Result()
    partitions = spark.conf.get(PARTITIONS)
    data = ctx.path("tables")
    with ctx.call("generate"):
        inputs.write_query_tables(data, ctx.seed, ctx.size)
    ctx.phase("generate")
    # The warm-up pass doubles as the output check: a query whose output
    # differs from its oracle fails every timed run of it.  It runs one
    # thread per core, so the cold first runs overlap their compilation;
    # the timed loop runs one query at a time.
    def check(name: str):
        want = checks.run_query_oracle(ORACLES[name], data, QUERY_TABLES)
        return want, [f"{name}: {p}"[:300] for p in compare(QUERIES[name](spark, data), want)]

    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        checked = dict(zip(HEADLINE, pool.map(check, HEADLINE)))
    want = {n: c[0] for n, c in checked.items()}
    wrong = {n: c[1] for n, c in checked.items() if c[1]}
    spark.conf.set(PARTITIONS, partitions)
    ctx.phase("check and warm-up pass")
    mark_setup_done()
    rng = np.random.default_rng(ctx.seed)
    per_query: dict[str, list[float]] = {n: [] for n in HEADLINE}
    end, rounds = _deadline(ctx), 0
    while time.perf_counter() < end or rounds == 0:
        rounds += 1
        ctx.cycle(rounds)
        for name in rng.permutation(HEADLINE):
            name = str(name)
            if rounds > 1 and time.perf_counter() >= end:
                break
            t0 = time.perf_counter()
            try:
                before = spark.conf.get(PARTITIONS)
                with ctx.call(f"queries.{name}.build"):
                    df = QUERIES[name](spark, data)
                if spark.conf.get(PARTITIONS) != before:
                    ctx.add("fanout.conf_changes", 1)
                with ctx.call(f"queries.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t1 = time.perf_counter()
                problems = wrong.get(name, [])
                if ctx.col and rounds == 1 and not problems:
                    # traced runs also check the first timed run of each
                    # query, untimed, right after it and under the same
                    # session settings (the timed path runs sequentially
                    # and keeps the shuffle partitions a build leaves)
                    problems = [f"{name}: {p}"[:300] for p in compare(df, want[name])]
                    wrong[name] = problems
                    end += time.perf_counter() - t1
            except Exception as e:  # noqa: BLE001
                t1 = time.perf_counter()
                problems = [f"{name} raised {e!r}"[:300]]
            per_query[name].append(t1 - t0)
            res.op_s.append(per_query[name][-1])
            res.fail(problems)
    res.headline = sum(statistics.median(v) for v in per_query.values())
    res.named["suite_s"] = ("s", res.headline)
    res.named["passes"] = ("passes", len(res.op_s) / len(HEADLINE))
    for name, v in per_query.items():
        res.named[f"query.{name}_s_p50"] = ("s", statistics.median(v))
    return res


WORKLOADS = {"continuous": continuous, "query_suite": query_suite}
