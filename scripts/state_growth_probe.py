"""Streaming PEAK STATE growth law: state must not grow with stream length.

    python scripts/state_growth_probe.py join [spans...]   (default 1 10)
    python scripts/state_growth_probe.py tws [spans...]

The claims under test:

- ``join``: the watermarked interval join
  (``streaming.joins.purchases_after_signup``) keeps state bounded by the
  WATERMARK HORIZON (watermark + join interval) x event rate;
- ``tws``: the transformWithState session operator
  (``streaming.stateful.per_type_session_totals_tws``, MapState of
  per-type counters + session ValueState + one timer per key, 1-day TTL)
  keeps state bounded by the keys active within the TTL horizon.

tests/test_stream_join.py and tests/test_stateful_streaming.py pin
eviction *correctness*; this probe MEASURES peak
``stateOperators.numRowsTotal`` while the stream gets LONGER at a fixed
rate — the axis on which unevicted state would actually show.

Construction: span-replicas of the events table — block k shifts every
timestamp by k x 31 days and remaps event ids, so a 10x replica has 10x
the rows, 10x the event-time span, the SAME user population and the same
rows/hour. Each block is staged as one file with a strictly increasing
mtime: the file source consumes oldest-mtime first, and two small files
copied within one filesystem tick would tie and could be consumed out of
event-time order. ``maxFilesPerTrigger=1`` then advances the watermark
block by block, so state from past blocks is evicted long before the
stream ends. PASS = peak state roughly FLAT while total rows grow 10x.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from udacity_data_engineering_spark.session import DEFAULT_SF_DIR, build_session, table

TTL_SECONDS = 86_400
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def stage_span_replica(spark, root: str, n_blocks: int) -> str:
    ev = (
        table(spark, DEFAULT_SF_DIR, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    flat = os.path.join(root, "feed")
    os.makedirs(flat, exist_ok=True)
    for k in range(n_blocks):
        block = ev.select(
            (F.col("event_id") + F.lit(k * 100_000_000)).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {k * 31} DAYS")).alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        blk_dir = os.path.join(root, f"block_{k:04d}")
        block.coalesce(1).write.mode("overwrite").parquet(blk_dir)
        src = glob.glob(os.path.join(blk_dir, "part-*.parquet"))
        assert len(src) == 1
        dst = os.path.join(flat, f"block_{k:04d}.parquet")
        shutil.copy(src[0], dst)
        os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
        shutil.rmtree(blk_dir)
    return flat


def join_query(spark, stream):
    from udacity_data_engineering_spark.streaming.joins import purchases_after_signup

    return purchases_after_signup(stream, within="48 hours", watermark="96 hours"), "append"


def tws_query(spark, stream):
    from udacity_data_engineering_spark.streaming.stateful import (
        ensure_tws_runtime,
        per_type_session_totals_tws,
    )

    assert ensure_tws_runtime(spark)
    return per_type_session_totals_tws(stream.withWatermark("ts", "0 seconds"), TTL_SECONDS), "update"


QUERIES = {"join": join_query, "tws": tws_query}


def probe(spark, kind: str, feed_dir: str, ckpt: str) -> dict:
    from udacity_data_engineering_spark.streaming.stateful import ROCKSDB_PROVIDER

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(feed_dir)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    if kind == "tws":
        spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        query, mode = QUERIES[kind](spark, stream)
        t0 = time.perf_counter()
        q = (
            query.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progs = q.recentProgress
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    state = [op["numRowsTotal"] for p in progs for op in p.get("stateOperators") or []]
    return {
        "rows": sum(p["numInputRows"] for p in progs),
        "batches": sum(1 for p in progs if p["numInputRows"] > 0),
        "sec": round(wall, 2),
        "peak_state_rows": max(state) if state else 0,
        "final_state_rows": state[-1] if state else 0,
    }


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in QUERIES:
        sys.exit(__doc__.split("\n\n")[1])
    kind = sys.argv[1]
    spans = [int(x) for x in (sys.argv[2:] or ["1", "10"])]
    spark = build_session(app_name=f"{kind}-state-growth-probe")
    out = {}
    for n in spans:
        with tempfile.TemporaryDirectory(prefix=f"{kind}_span_{n}x_") as root:
            feed = stage_span_replica(spark, root, n)
            out[f"{n}x_span"] = probe(spark, kind, feed, os.path.join(root, "ckpt"))
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
