"""Seeded benchmark inputs.  The same seed gives the same files.

Transcripts come from the engine's own generator
(``generate.synthetic_transcripts``), cut into 5-minute deliveries by
event time, with two kinds of disorder the continuous paths must
absorb:

- late conversations: every turn of a chosen conversation arrives one
  delivery late, so per-conversation turn order is kept but the refresh
  or stream touches buckets that earlier deliveries already closed;
- re-delivery: a share of turns arrives again in the next delivery.

The history is thinned: conversations that start more than
``THIN_MARGIN_MIN`` before the history ends are kept at a share of
``HISTORY_KEEP``.  So a long history stays cheap to stage, refresh and
stream, and the tier and conversation state still span all of it, while
the deliveries around the timed ones carry the full rate.

The query-suite tables have the shape of the repository's test tables
(``events``, ``documents``, ``embeddings``) and are drawn with NumPy.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DELIVERY_MINUTES = 5
DAMAGED_RATE = 0.001  # generate.synthetic_transcripts' default
MAX_DELTA_MS = 20_000
LATE_CONV_FRAC = 0.1
REDELIVER_FRAC = 0.02


HISTORY = -1  # the delivery key of the whole history
HISTORY_KEEP = 0.1
THIN_MARGIN_MIN = 30  # longer than any conversation lasts (60 turns x 20 s)
HOT_CONVS = 3
HOT_FACTOR = 100


def stage_deliveries(spark, path: str, seed: int, size: dict) -> None:
    """Write ``<path>/delivery=<k>/`` (one parquet file each) for
    k = history_deliveries .. history_deliveries + max_cycles - 1.  The
    history deliveries are only ever read together, so they are staged
    as one, under k = ``HISTORY``."""
    from pyspark.sql import functions as F

    from rollup_engine.generate import BASE_TS, synthetic_transcripts

    n = size["history_deliveries"] + size["max_cycles"]
    hist = size["history_deliveries"]
    span = n * DELIVERY_MINUTES
    df = synthetic_transcripts(
        spark,
        n_convs=size["convs_per_minute"] * span,
        turns_per_conv=size["turns_per_conv"],
        hot_convs=HOT_CONVS,
        hot_factor=HOT_FACTOR,
        seed=seed,
        max_delta_ms=MAX_DELTA_MS,
        spread_minutes=span,
        damaged_rate=0.0,
    )

    def frac(*cols):
        """A seeded uniform [0, 1) draw per row, keyed by ``cols``."""
        return F.pmod(F.xxhash64(*cols, F.lit(seed + 17)), F.lit(10_000)) / F.lit(10_000.0)

    # the generator starts conversation n at minute n mod span; the hot
    # ones (n < HOT_CONVS) are kept whole
    conv_no = F.regexp_extract(F.col("conv_id"), r"(\d+)$", 1).cast("long")
    thin_before = hist * DELIVERY_MINUTES - THIN_MARGIN_MIN
    df = df.where(
        (F.pmod(conv_no, F.lit(span)) >= F.lit(thin_before))
        | (conv_no < F.lit(HOT_CONVS))
        | (frac(F.col("conv_id"), F.lit(5)) < F.lit(HISTORY_KEEP))
    )
    late = (frac(F.col("conv_id")) < F.lit(LATE_CONV_FRAC)).cast("int")
    on_time = F.floor(
        (F.unix_seconds(F.col("ts")) - F.unix_seconds(F.to_timestamp(F.lit(BASE_TS))))
        / F.lit(DELIVERY_MINUTES * 60)
    ).cast("int")
    d = on_time + late
    again = frac(F.col("conv_id"), F.col("turn_idx")) < F.lit(REDELIVER_FRAC)
    deliveries = F.when(again, F.array(d, d + 1)).otherwise(F.array(d))
    # damaged rows (the generator's null-ts rows, at its default rate)
    # are damaged after the delivery is chosen, so they arrive in their
    # conversation's order like any other turn
    damaged = frac(F.col("conv_id"), F.col("turn_idx"), F.lit(3)) < F.lit(DAMAGED_RATE)
    staged = (
        df.withColumn("delivery", F.explode(deliveries))
        .withColumn("ts", F.when(damaged, F.lit(None)).otherwise(F.col("ts")))
        .where(F.col("delivery") < F.lit(n))
        .withColumn(
            "delivery",
            F.when(F.col("delivery") < F.lit(hist), F.lit(HISTORY)).otherwise(F.col("delivery")),
        )
        .repartition("delivery")
    )
    staged.write.mode("overwrite").partitionBy("delivery").parquet(path)


def delivery_files(stage: str, k: int) -> list[str]:
    return sorted(glob.glob(os.path.join(stage, f"delivery={k}", "*.parquet")))


def files_before(stage: str, size: dict, k: int) -> list[str]:
    """Every staged file of deliveries 0 .. k - 1 (k past the history)."""
    return delivery_files(stage, HISTORY) + [
        f for d in range(size["history_deliveries"], k) for f in delivery_files(stage, d)
    ]


def delivery_rows(stage: str, k: int) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in delivery_files(stage, k))


# ----------------------------------------------------------- query tables

_VOCAB = (
    "a batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window agg index shard tier bucket sketch lag lead rank "
    "delta spill skew"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def write_query_tables(out_dir: str, seed: int, size: dict) -> None:
    """``events``, ``documents`` and ``embeddings`` parquet files in the
    layout the headline queries read (``<dir>/<table>.parquet``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = size["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(start + rng.integers(0, span_us, n).astype("timedelta64[us]"))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, size["users"], n, dtype=np.int64)),
            "event_type": pa.array(
                np.array(_EVENT_TYPES)[rng.integers(0, len(_EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    n_docs = size["documents"]
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(15, 90))])
        for _ in range(n_docs)
    ]
    # planted duplicates: exact copies for dedup_exact and one-word
    # extensions (word 5-gram Jaccard >= 0.9) for the MinHash LSH pairs
    for i in rng.choice(n_docs, size=n_docs // 40, replace=False):
        j = int(rng.integers(0, n_docs))
        if i == j:
            continue
        texts[i] = texts[j] if rng.random() < 0.3 else texts[j] + " " + str(
            vocab[rng.integers(0, len(vocab))]
        )
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    n_emb = size["embeddings"]
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))
