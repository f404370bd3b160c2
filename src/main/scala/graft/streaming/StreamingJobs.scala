package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured-Streaming restatements of the reference's streaming jobs
  * (SURVEY.md §2.9, §3.1). The reference's DStream pipelines become:
  * readStream → declarative transform → writeStream/foreachBatch, with
  * engine-managed checkpoints replacing manual ZK/cursor offset commits
  * (K8) and watermarks replacing ad-hoc time scoping.
  *
  * All transforms below take a streaming DataFrame with the `events`
  * schema (event_id, ts_us long, user_id, event_type, value, props) so
  * tests can drive them with MemoryStream and production can bind any
  * micro-batch source (e.g. graft.sources.LedgerSource).
  */
object StreamingJobs {

  /** Event-time tumbling-window aggregation with watermark (replaces the
    * reference's re-scan-the-last-day batch loops, §2.9 Windows row).
    */
  def windowedTypeCounts(events: DataFrame, window_ : String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** S9 socket text stream (reference socketTextStream ingestion,
    * SURVEY §2.1): Spark's built-in socket source → line parse → running
    * word counts. Debug-grade by design (no offsets, not fault-tolerant),
    * exactly like the reference's use of it.
    */
  def socketWordCounts(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port.toString)
      .load()
      .select(explode(split(col("value"), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))

  /** A4 streaming latest-event dedup: keep the first arrival per
    * (user_id, event_type, event_id) inside the watermark — the streaming
    * form of the reference's reduceByKey argmax (EventService.scala:48-56).
    */
  def dedupedEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", watermark)
      .dropDuplicates("user_id", "event_type", "event_id")

  /** A13/A14 sessionization via session_window: per-user activity
    * sessions that close after `gap` of event-time silence — the built-in
    * restatement of the reference's hand-rolled consecutive-delivery
    * session logic (GoodData.filterBad) and time-gap DBSCAN start/stop
    * rule. State is engine-managed and watermark-bounded, so it scales to
    * arbitrary key counts without the reference's in-memory group caps.
    */
  def sessionizedActivity(events: DataFrame, gap: String = "30 minutes",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", watermark)
      .groupBy(session_window(col("event_ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("session_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks in the preceding `lookback` of EVENT time — the streaming form
    * of the delivery↔pings range join (q41 / SURVEY §2.4 note). Both
    * sides carry watermarks so the engine can bound join state: clicks
    * older than purchase-watermark − lookback are evicted, purchases
    * older than click-watermark are emitted-and-dropped. State is
    * O(keys × events-per-lookback) regardless of stream length — the
    * property that makes this runnable forever at 100 TB/day.
    */
  def purchaseClickJoin(events: DataFrame, lookback: String = "30 minutes",
                        watermark: String = "1 hour"): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .withColumn("p_ts", timestamp_micros(col("ts_us")))
      .withWatermark("p_ts", watermark)
      .select(col("user_id"), col("event_id").as("p_id"), col("p_ts"),
        col("value").as("p_value"))
    val clicks = events
      .filter(col("event_type") === "click")
      .withColumn("c_ts", timestamp_micros(col("ts_us")))
      .withWatermark("c_ts", watermark)
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("c_ts"))
    purchases.join(clicks,
      purchases("user_id") === clicks("c_user") &&
        clicks("c_ts") >= purchases("p_ts") - expr(s"INTERVAL $lookback") &&
        clicks("c_ts") <= purchases("p_ts"))
      .select(col("user_id"), col("p_id"), col("p_ts"), col("c_id"),
        col("c_ts"))
  }

  /** P8 lateness audit (FuturePastEvents as a stream): counts per
    * micro-batch of future/past/ok receipt skew.
    */
  def latenessAudit(events: DataFrame): DataFrame =
    events
      .withColumn("skew_ms", col("value") * 1000 - 100000.0)
      .withColumn("clazz",
        when(col("skew_ms") > 0, "future")
          .when(col("skew_ms") < -50000.0, "past")
          .otherwise("ok"))
      .groupBy(col("clazz"))
      .agg(count(lit(1)).as("n"))

  /** §3.1 flagship as a streaming pipeline: per micro-batch, upsert each
    * user's recent points into a hash-bucketed parquet "lookup table"
    * keyed by user_id — the foreachBatch idempotent-upsert that replaces
    * the reference's saveToCassandra + manual offset commit ordering.
    * Only bucket directories holding the batch's keys are read and
    * rewritten (BucketedUpsert): epoch cost O(batch + touched buckets),
    * not O(table); a warehouse deployment would be MERGE INTO on a
    * transactional format with identical batch-side logic.
    */
  def bestLocationUpsert(events: DataFrame, tablePath: String,
                         checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("10 seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pts = batch
          .withColumn("lat", (col("user_id") % 120) - 60 + col("value") / 1000.0)
          .withColumn("lng", (col("event_id") % 340) - 170 + col("value") / 1000.0)
          .withColumn("acc", col("value") % 120.0)
          .withColumn("ts_ms", expr("ts_us div 1000"))
          .select("user_id", "lat", "lng", "acc", "ts_ms")
        BucketedUpsert.upsert(pts, tablePath, "user_id") { input =>
          // bounded per-key history: newest 100 rows per user (reference
          // cap-100 semantics) keeps the table O(keys), not O(stream).
          // dropDuplicates makes an at-least-once RETRY of this batch a
          // no-op — the re-delivered rows are exact duplicates of what the
          // first attempt already merged (the reference dedups the same
          // way via its (lat,lng,acc) triple dedup). Both key on `bucket`
          // too, so they reuse the upsert's bucket partitioning.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("bucket", "user_id").orderBy(col("ts_ms").desc)
          input
            .dropDuplicates("bucket", "user_id", "ts_ms", "lat", "lng", "acc")
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 100).drop("rn")
        }
        ()
      }
  }
}
