package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark driver. Runs one workload in this JVM against graft's public
  * entry points and writes the raw measurements (samples, counts, output
  * checks) as one JSON object; run.py turns them into the metric line.
  *
  *   graftbench.Main gen <dataDir> <workDir>
  *   graftbench.Main topic <seed> <dir> <ticks>   (geotag topic, no Spark)
  *   graftbench.Main run <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <out.json>
  */
object Main {
  val Workloads: Seq[String] = Seq("snapshot-sf0.1", "geotag-stream")

  /** Generator seed of the snapshot tables. The run seed orders the
    * queries; the tables stay fixed so that every query's expected output
    * can be pinned (expected.tsv). */
  val SnapshotSeed = 42L

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dataDir :: workDir :: Nil =>
      val spark = session(Paths.get(workDir))
      Gen.snapshot(spark, dataDir, SnapshotSeed)
      spark.stop()
    case "topic" :: seed :: dir :: ticks :: Nil =>
      GeotagStream.publishTopic(seed.toLong, dir, ticks.toInt)
    case "run" :: workload :: seed :: seconds :: trace :: dataDir :: workDir :: out :: Nil =>
      require(Workloads.contains(workload), s"unknown workload $workload")
      val work = Paths.get(workDir)
      val ctx = Ctx(seed.toLong, seconds.toDouble, trace == "1", dataDir, work)
      val result = workload match {
        case "snapshot-sf0.1" => Snapshot.run(ctx)
        case "geotag-stream" => GeotagStream.run(ctx)
      }
      Files.write(Paths.get(out), Json.render(result).getBytes(StandardCharsets.UTF_8))
      SparkSession.getActiveSession.foreach(_.stop())
    case _ =>
      System.err.println("usage: Main gen <dataDir> <workDir> | Main run <workload> <seed> " +
        "<seconds> <trace> <dataDir> <workDir> <out.json>")
      sys.exit(2)
  }

  /** One local session on every core, the engine's extensions on, and
    * every file Spark writes kept under `work`. */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.graft.artifacts.path", work.resolve("store").toString)
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

final case class Ctx(seed: Long, seconds: Double, trace: Boolean,
    dataDir: String, work: Path) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Failed output checks, counted against the number made. */
final class Checks {
  private var made = 0
  val failures = scala.collection.mutable.ArrayBuffer[String]()
  def attempted: Int = made
  def check(what: String)(ok: => Boolean): Unit = {
    made += 1
    val passed = try ok catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; return }
    if (!passed) failures += what
  }
}

/** Minimal JSON rendering for the result object. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case p: Product => render(p.productIterator.toSeq)
    case o => quote(o.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
