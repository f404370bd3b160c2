package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Publishes numbered rows as ledger segments, one segment per partition
  * per call. */
final class Publisher(topic: Path, partitions: Int,
    line: (Long, Long) => String, partitionOf: Long => Int) {
  private val nextLedger = Array.fill(partitions)(0L)
  private var published = 0L

  /** Rows published so far; ids 0 until this. */
  def rows: Long = synchronized(published)

  /** Publish ids [rows, rows + n), each stamped `createdUs`. */
  def publish(n: Long, createdUs: Long): Unit = synchronized {
    (published until published + n).groupBy(partitionOf).toSeq.sortBy(_._1)
      .foreach { case (p, ids) =>
        StreamGen.publish(topic, p, nextLedger(p), ids.map(line(_, createdUs)))
        nextLedger(p) += 1
      }
    published += n
  }
}

/** The phases every stream workload shares, over one ledger topic:
  *
  *  - phase A drains a fixed backlog at a fixed batch shape and yields the
  *    drain rate;
  *  - phase B is open loop: a generator thread publishes one segment per
  *    partition every `tickMs`, on a fixed schedule that does not slow
  *    when the stream does. Each row's payload carries its due time,
  *    microseconds after the phase began, as `created_us`.
  *
  * Rows are numbered from 0 in publish order (see [[Publisher]]).
  */
final class StreamDriver(spark: SparkSession, val pub: Publisher) {
  def rows: Long = pub.rows

  /** Progress reports of every batch that read rows, in batch order. */
  val progress = new java.util.concurrent.CopyOnWriteArrayList[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress)
  }
  spark.streams.addListener(listener)

  /** Rows the progress reports account for, from batch report `first` on
    * (see [[countFrom]]). */
  def rowsCommitted: Long = progress.asScala.drop(first).map(_.numInputRows).sum
  @volatile private var first = 0
  /** Count committed rows from the `i`-th progress report on: the reports
    * of one query over the topic, when earlier queries read it too. */
  def countFrom(i: Int): Unit = first = i

  /** Block until the stream has committed every published row and its
    * progress reports have arrived. */
  def awaitCommitted(q: StreamingQuery, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (rowsCommitted < rows && q.exception.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(5)
    q.exception.foreach(e => throw e)
    require(rowsCommitted >= rows,
      s"stream committed $rowsCommitted of $rows rows in $timeoutS s")
  }

  /** Phase B: publish `perTick` rows every `tickMs` for `seconds`, from a
    * thread of its own, while the stream runs. Returns the phase's start
    * (epoch ms) and each tick's lateness in ms. */
  def openLoop(q: StreamingQuery, seconds: Double, tickMs: Long, perTick: Long)
      : (Long, Seq[Double]) = {
    val ticks = math.max(1L, (seconds * 1000 / tickMs).toLong)
    val late = mutable.ArrayBuffer[Double]()
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val gen = new Thread(() => {
      var i = 0L
      while (i < ticks && q.isActive) {
        val dueNs = start + i * tickMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        late += (System.nanoTime() - dueNs) / 1e6
        pub.publish(perTick, i * tickMs * 1000L)
        i += 1
      }
    }, "perfbench-generator")
    gen.start(); gen.join()
    (startMs, late.toSeq)
  }

  /** One record per batch: "<queryId>:<batchId>", end of the batch (epoch ms), rows,
    * end offsets, source metrics and the engine's per-step durations. */
  def batches: Seq[Map[String, Any]] = progress.asScala.toSeq.map { p =>
    val src = p.sources.head
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    Map("batch" -> s"${p.id}:${p.batchId}",
      "end_ms" -> (startMs + p.durationMs.getOrDefault("triggerExecution", 0L)),
      "start_ms" -> startMs,
      "rows" -> p.numInputRows,
      "end_offset" -> src.endOffset,
      "metrics" -> src.metrics.asScala.toMap,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def close(): Unit = spark.streams.removeListener(listener)
}

object StreamDriver {
  /** Bytes and data files under a directory tree. */
  def footprint(root: Path): (Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L)
    val walk = Files.walk(root)
    try {
      val files = walk.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")).toSeq
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
    } finally walk.close()
  }
}
