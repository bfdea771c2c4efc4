"""Structured Streaming queries run to convergence (SURVEY §2.3, §2.11,
M3) — each is a REAL readStream→writeStream pipeline executed with
Trigger.AvailableNow inside the builder, returning the converged memory
-sink contents as a batch DataFrame. The oracles are the batch twins'
SQL: converged streaming state must equal the batch answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocess_spark.plans import analytic_windows as AW
from streamprocess_spark.plans.registry import QUERIES, register
from streamprocess_spark.plans.util import dsum
from streamprocess_spark.streaming.core import events_stream, run_to_completion


@register(
    "stream_tumbling_window",
    oracle=QUERIES["q20_tumbling_window"].oracle,
    covers=("T2", "S7", "§2.11-tumbling"),
    doc="Tumbling 5-min event-time window over a file-replayed events "
        "stream (readStream→window→memory sink, AvailableNow). "
        "Converged state hash-matches the batch oracle.",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    with events_stream(spark, sf_dir) as stream:
        agg = (
            stream.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value")
        )
        return run_to_completion(agg, "complete")


@register(
    "stream_sliding_window",
    oracle=QUERIES["q21_sliding_window"].oracle,
    covers=("T3", "§2.11-sliding"),
    doc="Sliding 10/5-min window on the replayed stream (overlap-carry "
        "analog, config.py:121-122).",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    with events_stream(spark, sf_dir) as stream:
        agg = (
            stream.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
            .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        )
        return run_to_completion(agg, "complete")


@register(
    "stream_session_window",
    oracle=QUERIES["q22_session_window"].oracle,
    covers=("T5", "T10", "§2.11-session", "§2.11-watermark"),
    doc="Watermarked session_window (gap analog of the 300 ms VAD "
        "endpoint) in APPEND mode: a far-future sentinel flushes the "
        "watermark so converged append output equals the batch result — "
        "the is_final flush semantics (stt_worker.py:396-417).",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    with events_stream(spark, sf_dir, with_sentinel=True) as stream:
        agg = (
            stream.withWatermark("ts", "1 minute")
            .groupBy(F.session_window("ts", AW.SESSION_GAP).alias("w"), "user_id")
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", "session_value"),
            )
            .select("user_id", "session_start", "session_end", "n_events",
                    "session_value")
            # sentinel exclusion must key off an AGGREGATED column: a plain
            # user_id filter would be predicate-pushed below the
            # EventTimeWatermark node and the sentinel would never advance
            # the watermark (its own far-future session is withheld anyway)
            .filter(F.col("session_start") < F.lit("2099-01-01").cast("timestamp"))
        )
        return run_to_completion(agg, "append")


@register(
    "stream_priority_routing",
    oracle=QUERIES["q11_priority_routing"].oracle,
    covers=("R1", "R2", "S6", "S7"),
    doc="Stateless routing on the stream (priority assignment per "
        "record) + converged per-priority depth counts; the streaming "
        "form of the XADD fan-out (redis_queue.py:117-130).",
)
def stream_priority_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.plans.dataflow import priority_col

    with events_stream(spark, sf_dir) as stream:
        agg = (
            stream.withColumn("priority", priority_col(F.col("event_type")))
            .groupBy("priority")
            .agg(F.count(F.lit(1)).alias("n_jobs"), dsum("value", "total_value"))
        )
        return run_to_completion(agg, "complete")


@register(
    "stream_dedup_ids",
    oracle="""
    SELECT user_id, count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
    covers=("T8-shape", "§2.11-state", "S12"),
    doc="Streaming dropDuplicates (exactly-once per (user, type) — the "
        "idempotent result-store write, redis_queue.py:305-314) then "
        "converged per-user distinct-type counts.",
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    with events_stream(spark, sf_dir) as stream:
        agg = (
            stream.select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_types"))
        )
        return run_to_completion(agg, "complete")


@register(
    "stream_request_result_join",
    oracle="""
    SELECT r.event_id AS req_id, s.event_id AS res_id,
           r.user_id AS user_id
    FROM events r JOIN events s
      ON r.user_id = s.user_id
     AND s.ts >= r.ts AND s.ts <= r.ts + INTERVAL 10 MINUTE
    WHERE r.event_type IN ('view', 'click') AND s.event_type = 'purchase'
    """,
    covers=("J1", "T11", "§2.11-stream-join"),
    doc="Stream-stream inner join with watermarks + event-time range "
        "(request↔result correlation, wait_for_result redis_queue.py:"
        "329-344): requests (view/click) matched to results (purchase) "
        "for the same user within 10 minutes. Both sides watermarked so "
        "join state is bounded — the streaming form of the result-store "
        "TTL (S9, 3600 s SETEX). Inner matches emit eagerly, so the "
        "converged output equals the batch join without a sentinel.",
)
def stream_request_result_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with events_stream(spark, sf_dir) as req_stream, \
            events_stream(spark, sf_dir) as res_stream:
        req = (
            req_stream.filter(F.col("event_type").isin("view", "click"))
            .select(
                F.col("event_id").alias("req_id"),
                F.col("user_id").alias("r_user"),
                F.col("ts").alias("req_ts"),
            )
            .withWatermark("req_ts", "20 minutes")
        )
        res = (
            res_stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("res_id"),
                F.col("user_id").alias("s_user"),
                F.col("ts").alias("res_ts"),
            )
            .withWatermark("res_ts", "20 minutes")
        )
        joined = req.join(
            res,
            (F.col("r_user") == F.col("s_user"))
            & (F.col("res_ts") >= F.col("req_ts"))
            & (F.col("res_ts") <= F.col("req_ts") + F.expr("INTERVAL 10 MINUTES")),
        ).select("req_id", "res_id", F.col("r_user").alias("user_id"))
        return run_to_completion(joined, "append")



@register(
    "stream_topk_users",
    oracle="""
    SELECT user_id, n_events, total_value FROM (
        SELECT user_id, count(*)::BIGINT AS n_events,
               cast(cast(sum(cast(floor(value * 1000000.0) AS BIGINT))
                         AS BIGINT) AS double) / 1000000.0 AS total_value
        FROM events GROUP BY user_id
    ) ORDER BY total_value DESC, user_id LIMIT 10
    """,
    covers=("W3", "A5", "§2.11-update-mode"),
    doc="Streaming top-k leaderboard, BOUNDED form: update-mode "
        "aggregation + foreachBatch keyed upsert with periodic "
        "compaction (streaming/upsert.py). Each micro-batch emits only "
        "the users whose aggregate changed (update mode), appended "
        "batch-stamped to a parquet store — per-trigger work is "
        "O(changed keys), never a global re-sort of all users — and "
        "every N batches the store is rewritten latest-per-key, so on "
        "a long-running stream both the store and the read-side scan "
        "stay O(distinct keys), not O(triggers) (bounded-store test: "
        "tests/test_update_mode.py). The leaderboard is cut read-side: "
        "latest record per user, then orderBy+limit, which Catalyst "
        "plans as TakeOrderedAndProject (top-10 per partition, merge "
        "on driver). Deterministic: exact fixed-point totals, user_id "
        "tie-break. Queue-depth leaderboard analog, "
        "redis_queue.py:346-362.",
)
def stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from streamprocess_spark.streaming.upsert import (
        compacting_upsert_writer,
        read_latest,
    )

    # the staged source, the checkpoint and the store all go once the
    # top 10 are read: the returned DataFrame holds those rows itself
    with events_stream(spark, sf_dir) as stream, \
            tempfile.TemporaryDirectory(prefix="spckpt_") as ckpt, \
            tempfile.TemporaryDirectory(prefix="sptopk_") as store:
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
        )
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(compacting_upsert_writer(store, ["user_id"]))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # snapshot-isolated read through the commit log: a compaction
        # landing mid-read can never surface an empty/partial store
        latest = read_latest(spark, store, ["user_id"]).drop("batch_id")
        top = latest.orderBy(F.desc("total_value"), F.asc("user_id")).limit(10)
        return spark.createDataFrame(top.collect(), top.schema)
