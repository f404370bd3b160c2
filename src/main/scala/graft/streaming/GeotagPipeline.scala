package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.Elections
import graft.operators.Elections.Pt

/** The reference's flagship pipeline (SURVEY.md §3.1, StreamingAppV3)
  * end-to-end on engine components: ledger source with in-source JSON
  * decode (format=json) → validity filters → per-key grouped history merge
  * with dedup+cap → best-location election → idempotent upsert.
  *
  * Reference chain it restates (all Spark-first, no driver collects):
  * ViestiPipeline → Jackson deserialize (P1: source-side decode) → DEL/PC + nonzero
  * filter (P2) → accuracy band (P3) → combineByKey per addr_hash (A1:
  * collect_list) → stored-history merge (J4: union + re-aggregate) →
  * dedup + cap-100 (A2/A3) → election (A10/A11) → saveToCassandra (K1:
  * foreachBatch parquet upsert).
  */
object GeotagPipeline {

  /** Payload schema, decoded IN the source (format=json): the typed
    * columns arrive alongside the ledger metadata columns, the reference's
    * Schema[T]-per-message shape — no hand-rolled from_json downstream.
    */
  val PayloadDdl: String =
    "addr_hash STRING, type STRING, lat DOUBLE, lng DOUBLE, accuracy DOUBLE, ts_ms BIGINT"

  /** Validity filters over the already-typed source columns (P2/P3).
    * Malformed payloads surface as null addr_hash (the source's PERMISSIVE
    * decode) and drop here. So do coordinates outside [-90, 90] ×
    * [-180, 180]: the decoder reads `1e400` as Infinity, and one non-finite
    * point would make its key's election throw and wedge the stream on
    * replay (NaN and ±Infinity all fail these range tests).
    */
  def validate(typed: DataFrame): DataFrame =
    typed
      .select("addr_hash", "type", "lat", "lng", "accuracy", "ts_ms")
      .filter(col("addr_hash").isNotNull &&
        col("type").isin("DEL", "PC") &&
        col("lat") =!= 0.0 && col("lng") =!= 0.0 &&
        col("lat").between(-90.0, 90.0) && col("lng").between(-180.0, 180.0) &&
        col("accuracy") > 0 && col("accuracy") < 200)

  /** Merge a batch of points into the stored per-key history and re-elect.
    * The table is hash-bucketed (BucketedUpsert): only the bucket
    * directories holding this batch's keys are read and rewritten, so each
    * epoch's work is O(batch + touched-buckets × cap) — keys in untouched
    * buckets are never scanned or rewritten (round 1 rewrote the whole
    * table per epoch). The merge receives stored and fresh points already
    * unioned and partitioned on `bucket`, and groups by (`bucket`,
    * `addr_hash`) so the plan keeps that one shuffle: up to
    * min(touched buckets, cores) tasks merge, elect and write in parallel,
    * each bucket inside one of them. Grouping by `addr_hash` alone would add
    * a second shuffle that adaptive execution coalesces into one task.
    */
  def electAndUpsert(batch: DataFrame, tablePath: String,
                     numBuckets: Int = 64): Unit = {
    val fresh = validate(batch)
      .select(col("addr_hash"), col("ts_ms"), col("lat"), col("lng"),
        col("accuracy").as("acc"))
    BucketedUpsert.upsert(fresh, tablePath, "addr_hash", numBuckets) {
      input =>
        val merged = input
          .groupBy(col("bucket"), col("addr_hash"))
          .agg(sort_array(collect_list(struct(
            col("ts_ms"), col("lat"), col("lng"), col("acc")))).as("pts"))
        val elect = udf { (pts: Seq[Row]) =>
          val points = pts.map(r => Pt(r.getDouble(1), r.getDouble(2),
            r.getDouble(3), r.getLong(0)))
          val deduped = Elections.dedupAndCap(points)
          val ((blat, blng), (_, _, conf)) = Elections.electBoth(deduped)
          (deduped.map(p => (p.ts, p.lat, p.lng, p.acc)), blat, blng, conf)
        }
        val result = merged
          .withColumn("r", elect(col("pts")))
          .select(col("addr_hash"),
            col("r._2").as("best_lat"), col("r._3").as("best_lng"),
            col("r._4").as("confidence"),
            transform(col("r._1"), p => struct(
              p.getField("_1").as("ts_ms"), p.getField("_2").as("lat"),
              p.getField("_3").as("lng"), p.getField("_4").as("acc"))).as("history"))
        // history stored back flattened so the next epoch re-reads bounded state
        result.select(col("addr_hash"), col("best_lat"),
            col("best_lng"), col("confidence"), explode(col("history")).as("h"))
          .select(col("addr_hash"), col("best_lat"), col("best_lng"),
            col("confidence"), col("h.ts_ms"), col("h.lat"), col("h.lng"),
            col("h.acc"))
    }
  }

  /** Wire the pipeline to a ledger topic directory. */
  def stream(spark: SparkSession, topicPath: String, tablePath: String,
             checkpoint: String,
             maxRatePerPartition: Int = 1000): DataStreamWriter[Row] = {
    spark.readStream.format("graft-ledger")
      .option("path", topicPath)
      .option("maxRatePerPartition", maxRatePerPartition.toString)
      .option("format", "json")
      .option("jsonSchema", PayloadDdl)
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        electAndUpsert(batch, tablePath)
      }
  }
}
