package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Artifacts, SparkEntry}

/** snapshot-sf0.1: a cold build of every artifact family into a fresh
  * store, then warm, closed-loop, single-client passes over a query mix
  * in seed-shuffled order, each query written to the noop sink with the
  * cache cleared between queries.
  */
object Snapshot {

  /** The query mix: relational (q05), geo (q21), row-local text (q25),
    * and readers of the dedup, lex, bpe, spans, ivf and srp artifact
    * families. Every family's build (the BPE merge loop that q74 reruns
    * among them) is timed in the cold build. The five quarantined exact
    * baselines of graft.Bench are not in it. */
  val Mix: Seq[String] = Seq(
    "q05_big_spender_semi", "q21_haversine_stats", "q25_quality",
    "q37_ann_srp_multiprobe", "q52_dedup_components", "q75_bpe_encode",
    "q94_bm25_search", "q117_dup_spans", "q119_semdedup", "q124_simhash_keep")

  /** Whole timed passes: at least three, so that the mix yields 30
    * samples, and one more for every further 7 s of `--seconds`. */
  def passes(seconds: Double): Int = math.max(3, math.ceil(seconds / 7.0).toInt)

  def run(ctx: Ctx): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = Main.session(ctx.work)
    val sessionS = Main.secondsSince(t0)
    val trace = new Trace(spark, ctx.trace)
    val dir = ctx.dataDir
    val store = ctx.work.resolve("store").toString
    val rng = new scala.util.Random(ctx.seed)

    // writes: every family built cold into the fresh store; the traced
    // run also reads each family's bytes off graft_artifacts_status
    def storeBytes(): Long = spark.sql(
      s"SELECT coalesce(sum(bytes), 0) FROM graft_artifacts_status('$store')").head.getLong(0)
    var stored = if (ctx.trace) storeBytes() else 0L
    val builds = Artifacts.families(spark, dir).map { case (fam, build) =>
      val t = System.nanoTime()
      trace.span("artifacts", s"build:$fam")(build())
      val secs = Main.secondsSince(t)
      val added = if (ctx.trace) { val now = storeBytes(); val d = now - stored; stored = now; d }
        else 0L
      (fam, secs, added)
    }
    trace.drain()
    val buildJobs = (0 to trace.lastSpanId).map(i => trace.tally(i).jobs).sum

    // set-up, three times: drop the in-JVM artifact caches, warm the
    // shuffle/codegen machinery, and re-open every family from the store
    val setups = Seq.fill(3) {
      val t = System.nanoTime()
      Artifacts.dropSessionCaches()
      warmUp(spark)
      Artifacts.families(spark, dir).foreach { case (fam, open) =>
        trace.span("artifacts", s"read:$fam")(open()) }
      Main.secondsSince(t)
    }

    // compile pass: the first visit of each query, which also checks its
    // output (row count and order-insensitive content hash)
    val outputs = rng.shuffle(Mix).map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val (rows, hash) = contentHash(df)
      spark.catalog.clearCache()
      Seq(q, rows, hash)
    }

    // reads: timed passes; a thrown query is a failed operation
    val latencies = scala.collection.mutable.ArrayBuffer[Double]()
    val perQuery = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var failed = 0
    val timed0 = System.nanoTime()
    (1 to passes(ctx.seconds)).foreach { pass =>
      rng.shuffle(Mix).foreach { q =>
        val t = System.nanoTime()
        val ok = try {
          val qid = trace.span("client", q) {
            val df = trace.span("operators", "build")(SparkEntry.queries(q)(spark, dir))
            trace.span("spark", "execute")(df.write.format("noop").mode("overwrite").save())
            trace.openId
          }
          if (ctx.trace) perQuery += queryFigures(trace, qid, q, pass)
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}"); false }
        spark.catalog.clearCache()
        if (ok) latencies += Main.secondsSince(t) else failed += 1
      }
    }
    val timedS = Main.secondsSince(timed0)

    trace.drain()
    val layers: Map[String, Any] = if (!ctx.trace) Map.empty else {
      builds.flatMap { case (fam, secs, bytes) =>
        Seq(s"artifacts.$fam.build_s" -> secs, s"artifacts.$fam.mb" -> bytes / 1048576.0)
      }.toMap + ("artifacts.jobs" -> buildJobs.toDouble)
    }
    Map(
      "session_s" -> sessionS,
      "setup_s" -> setups,
      "build_s" -> builds.map(_._2).sum,
      "latencies_s" -> latencies.toSeq,
      "timed_s" -> timedS,
      "attempted" -> (latencies.size + failed),
      "failed" -> failed,
      "outputs" -> outputs,
      "layers" -> layers,
      "per_query" -> perQuery.toSeq,
      "self_s" -> (if (ctx.trace) trace.selfSeconds else Map.empty),
      "spans" -> (if (ctx.trace) trace.spanRows else Nil))
  }

  /** Per-query figures of the traced run: build (DataFrame construction,
    * eager jobs included), planning of the final write, execution (its
    * first job's start to its last job's end), the part of the wall time
    * none of the three covers, and what Spark ran for each. */
  private def queryFigures(trace: Trace, qid: Int, q: String, pass: Int): Map[String, Any] = {
    trace.drain()
    val Seq(build, exec) = trace.children(qid).map(_.id)
    val wallMs = trace.spanSeconds(qid) * 1e3
    val buildMs = trace.spanSeconds(build) * 1e3
    val planMs = trace.lastNoopPlanMs
    val execMs = trace.tally(exec).jobSpanMs.toDouble
    Map("query" -> q, "pass" -> pass, "wall_ms" -> wallMs,
      "build_ms" -> buildMs,
      "eager_jobs" -> trace.tally(build).jobs,
      "plan_ms" -> planMs,
      "exec_ms" -> execMs,
      "unaccounted_ms" -> (wallMs - buildMs - planMs - execMs),
      "spark" -> Trace.sparkFigures(trace.tally(qid), wallMs / 1e3))
  }

  /** The Bench warm-up: the first shuffle, window, broadcast and codegen
    * of a session, exercised once on tiny data. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    val t = spark.range(100000).selectExpr("id", "id % 97 as g",
      "cast(id as decimal(38,4)) as d", "array(id, id + 1) as arr")
    val dim = spark.range(97).selectExpr("id as g", "id * 2 as v")
    t.withColumn("x", explode(col("arr"))).join(broadcast(dim), "g")
      .groupBy("g").agg(sum("d").as("sd"), count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("g") % 7).orderBy(col("sd"))))
      .orderBy(col("sd").desc).limit(5)
      .write.format("noop").mode("overwrite").save()
  }

  /** Row count and an order-insensitive hash of a result: the sum of a
    * per-row xxhash64 over the columns in name order, with floating
    * values rounded to 6 decimals so that summation order cannot flip
    * the hash. */
  def contentHash(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case StructType(fs) => struct(fs.map(f => norm(c.getField(f.name), f.dataType)
        .as(f.name)).toSeq: _*)
      case MapType(_, _, _) => to_json(c)
      case _ => c
    }
    val fields = df.schema.fields.sortBy(_.name)
    val cols = fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")).cast(StringType)).head()
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }
}
