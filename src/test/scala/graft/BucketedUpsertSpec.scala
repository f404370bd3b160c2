package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{BucketedUpsert, NioRawLocalFileSystem}

/** The point of the bucketed upsert: an epoch must not scan or rewrite
  * buckets its keys don't touch.
  */
class BucketedUpsertSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def latestWins(input: org.apache.spark.sql.DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket", "k").orderBy(col("ts").desc)
    input
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  private def bucketFiles(table: String): Map[String, Set[(String, Long)]] = {
    val root = Paths.get(table)
    if (!Files.isDirectory(root)) return Map.empty
    val s = Files.list(root)
    try {
      val it = s.iterator()
      val out = scala.collection.mutable.Map[String, Set[(String, Long)]]()
      while (it.hasNext) {
        val dir = it.next()
        val name = dir.getFileName.toString
        if (name.startsWith("bucket=")) {
          val fs = Files.list(dir)
          try {
            val fit = fs.iterator()
            val files = scala.collection.mutable.Set[(String, Long)]()
            while (fit.hasNext) {
              val f = fit.next()
              files += ((f.toString, Files.getLastModifiedTime(f).toMillis))
            }
            out(name) = files.toSet
          } finally fs.close()
        }
      }
      out.toMap
    } finally s.close()
  }

  test("epochs rewrite only touched buckets; untouched files stay byte-identical") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_bupsert").toString + "/lookup"
    // find two keys landing in different crc32 buckets (driver-side, tiny)
    val probe = (1 to 50).map(i => s"key$i").toDF("k")
      .withColumn("b", pmod(crc32(col("k")), lit(64)).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val (kA, bA) = probe.head
    val (kB, bB) = probe.find(_._2 != bA).get
    // epoch 1: both keys
    BucketedUpsert.upsert(
      Seq((kA, 1L, "a1"), (kB, 1L, "b1")).toDF("k", "ts", "v"),
      table, "k")(latestWins)
    val after1 = bucketFiles(table)
    assert(after1.contains(s"bucket=$bA") && after1.contains(s"bucket=$bB"))
    Thread.sleep(1100) // mtime granularity
    // epoch 2: only kB — kA's bucket directory must remain untouched
    BucketedUpsert.upsert(
      Seq((kB, 2L, "b2")).toDF("k", "ts", "v"), table, "k")(latestWins)
    val after2 = bucketFiles(table)
    assert(after2(s"bucket=$bA") == after1(s"bucket=$bA"),
      "untouched bucket was rewritten")
    assert(after2(s"bucket=$bB") != after1(s"bucket=$bB"),
      "touched bucket was not rewritten")
    // content: latest-wins merge applied, untouched key intact
    val rows = spark.read.parquet(table)
      .select("k", "ts", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((kA, 1L, "a1"), (kB, 2L, "b2")), rows.toString)
  }

  test("an existing but empty table root reads as zero rows, not a wedge") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_bupsert_empty").toString + "/lookup"
    // simulate the crash window: root created, no bucket directory ever
    // renamed in — the next epoch must behave like a missing table
    Files.createDirectories(Paths.get(table))
    BucketedUpsert.upsert(
      Seq(("k1", 1L, "v1")).toDF("k", "ts", "v"), table, "k")(latestWins)
    val rows = spark.read.parquet(table)
      .select("k", "ts", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set(("k1", 1L, "v1")), rows.toString)
  }

  test("the merge runs min(touched, defaultParallelism) tasks, one file per bucket") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_bupsert_par").toString + "/lookup"
    // three keys in each of 6 buckets: more touched buckets than cores
    val keys = (1 to 400).map(i => s"key$i").toDF("k")
      .withColumn("b", pmod(crc32(col("k")), lit(64)).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
      .groupBy(_._2).filter(_._2.length >= 3).toSeq.sortBy(_._1).take(6)
      .flatMap(_._2.take(3).map(_._1))
    assert(keys.length == 18)
    def epoch(ts: Long): Unit =
      BucketedUpsert.upsert(keys.map(k => (k, ts, s"$k@$ts")).toDF("k", "ts", "v"),
        table, "k")(latestWins)
    epoch(1L)
    // the second epoch merges stored rows with fresh ones; its write stage
    // is the only stage that writes output. Listener events arrive in
    // order, so once a marker job's end is seen, every stage of the epoch
    // has been seen too.
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.outputMetrics.recordsWritten > 0)
          written.add(e.stageInfo.numTasks)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("bupsert.marker") != null)
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      epoch(2L)
      spark.sparkContext.setLocalProperty("bupsert.marker", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("bupsert.marker", null)
      assert(drained.await(5, java.util.concurrent.TimeUnit.MINUTES))
    } finally spark.sparkContext.removeSparkListener(listener)
    val expected = math.min(6, spark.sparkContext.defaultParallelism)
    assert(expected > 1) // one task is the coalesced shape this replaces
    assert(written.toArray.toSeq == Seq(expected), written.toString)
    val files = bucketFiles(table)
    assert(files.size == 6, files.keys.toString)
    files.foreach { case (b, fs) =>
      assert(fs.count(_._1.endsWith(".parquet")) == 1, s"$b: $fs")
    }
    val rows = spark.read.parquet(table).select("k", "ts", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == keys.map(k => (k, 2L, s"$k@2")).toSet)
  }

  test("the upsert's nio file system sets the permissions the stock one does") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import org.apache.hadoop.fs.permission.FsPermission
    import java.nio.file.attribute.PosixFilePermissions.{toString => modeOf}
    val dir = Files.createTempDirectory("graft_bupsert_perm")
    val conf = spark.sparkContext.hadoopConfiguration
    val nio = new NioRawLocalFileSystem
    nio.initialize(java.net.URI.create("file:///"), conf)
    val f = Files.createFile(dir.resolve("f"))
    nio.setPermission(new HPath(f.toUri), new FsPermission("640"))
    assert(modeOf(Files.getPosixFilePermissions(f)) == "rw-r-----")
    nio.mkdirs(new HPath(dir.resolve("d").toUri), new FsPermission("750"))
    assert(modeOf(Files.getPosixFilePermissions(dir.resolve("d"))) == "rwxr-x---")
    // a bucket file carries the mode the stock local file system gives
    val table = dir.resolve("lookup").toString
    import spark.implicits._
    BucketedUpsert.upsert(Seq(("k1", 1L, "v1")).toDF("k", "ts", "v"), table, "k")(latestWins)
    val stock = dir.resolve("stock")
    FileSystem.getLocal(conf).create(new HPath(stock.toUri)).close()
    val written = bucketFiles(table).values.flatten.map(_._1)
      .filter(_.endsWith(".parquet")).toSeq
    assert(written.length == 1)
    assert(modeOf(Files.getPosixFilePermissions(Paths.get(written.head))) ==
      modeOf(Files.getPosixFilePermissions(stock)))
  }
}
