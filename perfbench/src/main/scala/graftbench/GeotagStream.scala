package graftbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.GeotagPipeline

/** geotag-stream: the flagship GeotagPipeline (ledger source with
  * in-source JSON decode, per-key history merge with dedup and the cap of
  * 100, best-location election, bucketed upsert) over a seeded topic of
  * geo pings.
  */
object GeotagStream {
  val Partitions = 4
  /** One key in each of the 64 upsert buckets, so that every batch reads
    * and rewrites all of them, as in the soak of SCALING.md §3b. The soak's
    * 400 keys cost about 5 s a 1,000-row batch on local[4] (the per-key
    * election over 100 points dominates), too long for a run. */
  val Keys = 64
  val Cap = 100
  /** Points per key preloaded before timing: with one in ten dropped
    * (StreamGen.GeoStream.kind), at least 108 valid points a key, so the
    * history is at its capped steady state when phase A starts. */
  val PreloadPerKey = 120
  /** The preload's batch shape: all 7,680 rows in one batch. */
  val PreloadRatePerPartition = 1920
  /** Phase A: this many rows of backlog, read at the soak's batch shape
    * (250 a partition, 1,000 a batch). */
  val BacklogRows = 4000L
  val PhaseARatePerPartition = 250
  /** Phase B: rows per tick and tick length. */
  val TickMs = 250L
  val RowsPerTick = 50L

  def generator(seed: Long): StreamGen.GeoStream = StreamGen.GeoStream(seed, Keys, Partitions)

  def publisher(g: StreamGen.GeoStream, dir: String): Publisher =
    new Publisher(java.nio.file.Paths.get(dir), Partitions, (id, c) => g.line(id, c),
      id => g.partition((id % Keys).toInt))

  /** The topic a run with `ticks` phase-B ticks publishes, without Spark:
    * preload, phase-A backlog, then the ticks. */
  def publishTopic(seed: Long, dir: String, ticks: Int): Unit = {
    val pub = publisher(generator(seed), dir)
    pub.publish(Keys.toLong * PreloadPerKey, -1)
    pub.publish(BacklogRows, -1)
    (0 until ticks).foreach(i => pub.publish(RowsPerTick, i * TickMs * 1000L))
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def run(ctx: Ctx): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = Main.session(ctx.work)
    val sessionS = Main.secondsSince(t0)
    val trace = new Trace(spark, ctx.trace)
    val checks = new Checks
    val gen = generator(ctx.seed)
    var topic, table, ckpt = ""
    def start(trigger: Trigger, rate: Int) =
      GeotagPipeline.stream(spark, topic, table, ckpt, rate).trigger(trigger).start()
    // compile pass, untimed: the pipeline over one point a key on a topic
    // of its own, which plans and compiles it, so that set-ups and phases
    // run on a warmed JIT
    topic = ctx.dir("compile-topic")
    table = ctx.work.resolve("compile-table").toString
    ckpt = ctx.dir("compile-ckpt")
    publisher(gen, topic).publish(Keys.toLong, -1)
    start(Trigger.AvailableNow(), PreloadRatePerPartition).awaitTermination()
    org.apache.spark.BenchBus.drain(spark.sparkContext) // its progress reports, before counting

    // set-up, three times: the pipeline over the preload topic into a
    // fresh table and checkpoint, which builds every key's history past
    // the cap; phase A continues from the last one
    topic = ctx.dir("topic")
    val pub = publisher(gen, topic)
    pub.publish(Keys.toLong * PreloadPerKey, -1)
    val driver = new StreamDriver(spark, pub)
    val setups = (1 to 3).map { i =>
      table = ctx.work.resolve(s"table$i").toString
      ckpt = ctx.dir(s"ckpt$i")
      val before = driver.progress.size
      driver.countFrom(before)
      val t = System.nanoTime()
      trace.span("streaming", "preload") {
        val q = start(Trigger.AvailableNow(), PreloadRatePerPartition)
        q.awaitTermination()
        driver.awaitCommitted(q, 60)
      }
      val s = Main.secondsSince(t)
      (s, driver.batches.drop(before).map(_("duration_ms").asInstanceOf[Map[String, Long]]
        .getOrElse("triggerExecution", 0L)).sum / 1e3)
    }

    // phase A: drain a fixed backlog at a fixed batch shape
    pub.publish(BacklogRows, -1)
    val untimed = driver.progress.size
    val q = start(Trigger.ProcessingTime(0L), PhaseARatePerPartition)
    driver.awaitCommitted(q, 150)
    val phaseA = driver.batches.drop(untimed)

    // phase B: open loop below phase A's capacity
    val (phaseBStart, lateMs) = driver.openLoop(q, ctx.seconds, TickMs, RowsPerTick)
    driver.awaitCommitted(q, 60)
    q.stop()
    val all = driver.batches
    val phaseB = all.drop(untimed + phaseA.size)

    // sink accounting, closed form: row id = k + Keys * j is point j of key
    // k with ts_ms = id, so iterated merge, validity filter, dedup and cap
    // keep exactly the last Cap valid points of every key
    val n = pub.rows
    checks.check("every published row committed once")(driver.rowsCommitted == n)
    val sink = spark.read.parquet(table)
    val j = expr(s"ts_ms div $Keys")
    val perKey = sink.groupBy("addr_hash").agg(count(lit(1)), min(j), max(j), sum(j),
      min(expr(s"ts_ms % $Keys")))
      .collect().map(r => r.getLong(5).toInt -> Seq(r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    checks.check("one history per key")(perKey.size == Keys)
    val wrong = (0 until Keys).count { k =>
      val kept = gen.validPoints(k, n / Keys + (if (k < n % Keys) 1 else 0)).takeRight(Cap)
      !perKey.get(k).contains(Seq(kept.size.toLong, kept.head, kept.last, kept.sum))
    }
    checks.check(s"every key keeps its last $Cap valid points ($wrong do not)")(wrong == 0)
    checks.check("no rows beyond the kept points")(sink.count() == perKey.values.map(_.head).sum)

    trace.drain()
    val (tableBytes, tableFiles) = StreamDriver.footprint(java.nio.file.Paths.get(table))
    val layers: Map[String, Any] = if (!ctx.trace) Map.empty else Map(
      "streaming.upsert_table_mb" -> tableBytes / 1048576.0,
      "streaming.upsert_files" -> tableFiles.toDouble)
    driver.close()
    Map(
      "session_s" -> sessionS,
      "setup_s" -> setups.map(_._1),
      "build_s" -> median(setups.map(_._2)),
      "attempted" -> (all.size + checks.attempted),
      "failed" -> checks.failures.size,
      "failures" -> checks.failures.toSeq,
      "topic" -> topic,
      "phase_a" -> phaseA,
      "phase_b" -> phaseB,
      "phase_b_start_ms" -> phaseBStart,
      "phase_b_rate" -> RowsPerTick * 1000.0 / TickMs,
      "phase_b_seconds" -> ctx.seconds,
      "generator_late_ms" -> lateMs,
      "batch_jobs" -> trace.batchTallies.map { case (b, t) => b -> t.jobs },
      "batch_spark" -> trace.batchTallies.map { case (b, t) => b -> Trace.sparkFigures(t, 0.0) },
      "layers" -> layers,
      "self_s" -> (if (ctx.trace) trace.selfSeconds else Map.empty),
      "spans" -> (if (ctx.trace) trace.spanRows else Nil))
  }
}
