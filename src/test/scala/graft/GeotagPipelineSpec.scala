package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.GeotagPipeline
import graft.operators.Elections
import graft.operators.Elections.Pt

/** End-to-end §3.1 flagship: ledger topic → JSON parse → filter →
  * grouped history merge → election → upsert, across TWO source epochs
  * (proves the stored-history merge path, not just a single batch).
  */
class GeotagPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def payload(hash: String, typ: String, lat: Double, lng: Double,
                      acc: Double, ts: Long): String =
    s"""k,{"addr_hash":"$hash","type":"$typ","lat":$lat,"lng":$lng,"accuracy":$acc,"ts_ms":$ts}"""

  test("flagship pipeline: two epochs merge history and elect best location") {
    val topic = Files.createTempDirectory("geotag_topic")
    val p0 = topic.resolve("partition-0"); Files.createDirectories(p0)
    val table = Files.createTempDirectory("geotag_table").toString + "/lookup"
    val ckpt = Files.createTempDirectory("geotag_ckpt").toString

    // epoch 1: 4 clustered DEL points + 1 invalid (type), 1 invalid (zero lat)
    val l1 = Seq(
      payload("h1", "DEL", 12.9716, 77.5946, 10, 1000),
      payload("h1", "DEL", 12.9717, 77.5947, 12, 2000),
      payload("h1", "DEL", 12.9718, 77.5945, 15, 3000),
      payload("h1", "DEL", 12.9715, 77.5948, 20, 4000),
      payload("h1", "XXX", 12.9, 77.5, 10, 5000),
      payload("h1", "DEL", 0.0, 77.5, 10, 6000))
    Files.write(p0.resolve("ledger-1.log"),
      l1.mkString("\n").getBytes(StandardCharsets.UTF_8))

    def run(): Unit = {
      // AvailableNow ends at drain; awaitTermination() rethrows a failed batch
      GeotagPipeline.stream(spark, topic.toString, table, ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    run()

    val after1 = spark.read.parquet(table)
    assert(after1.select("addr_hash").distinct().count() == 1)
    assert(after1.count() == 4) // history rows, invalids dropped

    // epoch 2: an outlier + one more cluster point for h1, plus new key h2
    val l2 = Seq(
      payload("h1", "DEL", 13.2000, 77.9000, 30, 7000),
      payload("h1", "DEL", 12.9716, 77.5947, 11, 8000),
      payload("h2", "PC", 10.0, 70.0, 50, 9000))
    Files.write(p0.resolve("ledger-2.log"),
      l2.mkString("\n").getBytes(StandardCharsets.UTF_8))
    run()

    val after2 = spark.read.parquet(table)
    assert(after2.select("addr_hash").distinct().count() == 2)
    val h1 = after2.filter(after2("addr_hash") === "h1")
    assert(h1.count() == 6)
    // election result matches the pure algorithm over the merged history
    val expectedPts = Seq(
      Pt(12.9716, 77.5946, 10, 1000), Pt(12.9717, 77.5947, 12, 2000),
      Pt(12.9718, 77.5945, 15, 3000), Pt(12.9715, 77.5948, 20, 4000),
      Pt(13.2000, 77.9000, 30, 7000), Pt(12.9716, 77.5947, 11, 8000))
    val (elat, elng) = Elections.bestLatLng(Elections.dedupAndCap(expectedPts))
    val got = h1.select("best_lat", "best_lng").distinct().collect().head
    assert(got.getDouble(0) == elat && got.getDouble(1) == elng)
    // h2 has 1 point → election returns it (n<4 → last point)
    val h2 = after2.filter(after2("addr_hash") === "h2")
      .select("best_lat", "best_lng").distinct().collect().head
    assert(h2.getDouble(0) == 10.0 && h2.getDouble(1) == 70.0)
  }

  test("a ping with a non-finite or out-of-range coordinate is dropped, not a wedge") {
    val topic = Files.createTempDirectory("geotag_poison_topic")
    val p0 = topic.resolve("partition-0"); Files.createDirectories(p0)
    val table = Files.createTempDirectory("geotag_poison_table").toString + "/lookup"
    val ckpt = Files.createTempDirectory("geotag_poison_ckpt").toString
    // `1e400` decodes to Infinity: a non-finite point that reached the
    // election would fail the batch, and every replay of it
    val lines = Seq(
      payload("h1", "DEL", 12.9716, 77.5946, 10, 1000),
      payload("h1", "DEL", 12.9717, 77.5947, 12, 2000),
      payload("h1", "DEL", 12.9718, 77.5945, 15, 3000),
      """k,{"addr_hash":"h1","type":"DEL","lat":1e400,"lng":77.5,"accuracy":10,"ts_ms":4000}""",
      payload("h2", "PC", 10.0, 70.0, 50, 5000),
      payload("h2", "PC", 10.0, 270.0, 50, 6000))
    Files.write(p0.resolve("ledger-1.log"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val q = GeotagPipeline.stream(spark, topic.toString, table, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty &&
      q.recentProgress.map(_.numInputRows).sum == lines.length)
    val rows = spark.read.parquet(table)
    assert(rows.filter(rows("ts_ms").isin(4000L, 6000L)).count() == 0)
    val best = rows.select("addr_hash", "best_lat", "best_lng").distinct().collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val h1 = Seq(Pt(12.9716, 77.5946, 10, 1000), Pt(12.9717, 77.5947, 12, 2000),
      Pt(12.9718, 77.5945, 15, 3000))
    assert(best == Map("h1" -> Elections.bestLatLng(h1), "h2" -> ((10.0, 70.0))))
  }
}
