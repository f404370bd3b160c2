package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What Spark did on behalf of one span: job, stage and task counts,
  * the first job's start and the last job's end (epoch ms), executor
  * time, shuffle and spill, and the task intervals whose union is the
  * time at least one executor core was busy. */
final class Tally {
  var jobs = 0; var stages = 0; var tasks = 0
  var firstJobMs = Long.MaxValue; var lastJobMs = Long.MinValue
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var maxTaskMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  val intervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: Tally): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    firstJobMs = math.min(firstJobMs, o.firstJobMs); lastJobMs = math.max(lastJobMs, o.lastJobMs)
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    intervals ++= o.intervals
  }

  /** Milliseconds from the first job's start to the last job's end. */
  def jobSpanMs: Long = if (jobs == 0) 0L else lastJobMs - firstJobMs

  /** Milliseconds during which at least one task ran. */
  def busyMs: Long = {
    var total = 0L; var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}

/** Spans recorded around each call into a layer, kept in memory, and a
  * SparkListener that charges every job, stage and task to the span (or
  * streaming batch) that started it. With tracing off, `span` only runs
  * its body and nothing is attached to the session.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  final case class Span(id: Int, layer: String, name: String, parent: Int,
      start: Long, var end: Long = 0L)

  private val SpanKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private val tallies = mutable.Map[String, Tally]()
  private val stageKey = mutable.Map[Int, String]()
  private val jobKey = mutable.Map[Int, String]()

  private def keyOf(props: java.util.Properties): String =
    if (props == null) "none"
    else Option(props.getProperty(SpanKey))
      .orElse(Option(props.getProperty("streaming.sql.batchId")).map(b =>
        s"batch:${props.getProperty("sql.streaming.queryId")}:$b"))
      .getOrElse("none")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val k = keyOf(e.properties)
      val t = tallies.getOrElseUpdate(k, new Tally)
      t.jobs += 1
      t.firstJobMs = math.min(t.firstJobMs, e.time)
      jobKey(e.jobId) = k
      e.stageIds.foreach(stageKey(_) = k)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      val t = tallies.getOrElseUpdate(jobKey.getOrElse(e.jobId, "none"), new Tally)
      t.lastJobMs = math.max(t.lastJobMs, e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val k = stageKey.getOrElse(e.stageInfo.stageId, "none")
        tallies.getOrElseUpdate(k, new Tally).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val t = tallies.getOrElseUpdate(stageKey.getOrElse(e.stageId, "none"), new Tally)
      t.tasks += 1
      val info = e.taskInfo
      t.intervals += ((info.launchTime, info.finishTime))
      t.maxTaskMs = math.max(t.maxTaskMs, info.finishTime - info.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        t.spill += m.diskBytesSpilled
      }
    }
  }
  if (on) spark.sparkContext.addSparkListener(listener)

  // the latest finished action: its name, whether it wrote to the noop
  // sink, and its analysis + optimization + planning time
  @volatile private var lastAction = ("", false, 0.0)
  private val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        ns: Long): Unit = {
      val ph = qe.tracker.phases
      val noop = qe.logical.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand => w.table.name
      }.contains("noop-table")
      lastAction = (f, noop, Seq("analysis", "optimization", "planning").flatMap(ph.get)
        .map(_.durationMs.toDouble).sum)
    }
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        e: Exception): Unit = lastAction = (f, false, 0.0)
  }
  if (on) spark.listenerManager.register(planListener)

  /** Planning time (ms) of the latest finished action, after [[drain]];
    * fails unless that action was a write to the noop sink. */
  def lastNoopPlanMs: Double = {
    val (f, noop, ms) = lastAction
    require(noop, s"the latest action ($f) is not the noop write")
    ms
  }

  /** Id of the innermost open span on this thread, -1 when none. */
  def openId: Int = synchronized(stack.headOption.getOrElse(-1))

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    val s = synchronized {
      val s = Span(spans.size, layer, name, stack.headOption.getOrElse(-1), System.nanoTime())
      spans += s; stack.push(s.id); s
    }
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body finally {
      s.end = System.nanoTime()
      synchronized(stack.pop())
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.BenchBus.drain(spark.sparkContext)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Spark's work under a span and all its descendants. */
  def tally(id: Int): Tally = synchronized {
    val t = new Tally
    def walk(i: Int): Unit = {
      tallies.get(i.toString).foreach(t.add)
      children(i).foreach(c => walk(c.id))
    }
    walk(id)
    t
  }

  /** Spark's work charged to streaming batches, keyed "<queryId>:<batchId>". */
  def batchTallies: Map[String, Tally] = synchronized {
    tallies.collect { case (k, t) if k.startsWith("batch:") => k.stripPrefix("batch:") -> t }
      .toMap
  }

  def lastSpanId: Int = synchronized(spans.size - 1)
  def spanSeconds(id: Int): Double = synchronized {
    val s = spans(id); (s.end - s.start) / 1e9
  }

  /** Per layer, the time its spans ran minus the time their child spans
    * covered, seconds. */
  def selfSeconds: Map[String, Double] = synchronized {
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children(s.id).map(c => c.end - c.start).sum
        (s.end - s.start - kids) / 1e9
      }.sum
    }.toMap
  }

  /** Every span as [id, layer, name, parent, startMs, durationMs]. */
  def spanRows: Seq[Seq[Any]] = synchronized {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.map(s => Seq(s.id, s.layer, s.name, s.parent,
      (s.start - t0) / 1e6, (s.end - s.start) / 1e6)).toSeq
  }
}

object Trace {
  /** Flat per-layer `spark.*` figures for a tally over `wallS` seconds. */
  def sparkFigures(t: Tally, wallS: Double): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.tasks_per_stage" -> (if (t.stages == 0) 0.0 else t.tasks.toDouble / t.stages),
      "spark.executor_run_s" -> t.runMs / 1e3,
      "spark.executor_cpu_s" -> t.cpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.max_task_s" -> t.maxTaskMs / 1e3,
      "spark.shuffle_write_mb" -> t.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> t.shuffleRead / mb,
      "spark.spill_mb" -> t.spill / mb,
      "spark.busy_s" -> t.busyMs / 1e3,
      "spark.driver_share" ->
        (if (wallS <= 0) 0.0 else math.max(0.0, 1.0 - t.busyMs / 1e3 / wallS)))
  }
}
