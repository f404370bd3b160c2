package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Hash-bucketed parquet point upsert. The lookup table lives as
  * `bucket=N` partition directories keyed by `crc32(key) % numBuckets`;
  * an epoch reads ONLY the buckets its fresh keys touch (partition-pruned
  * scan), runs the caller's merge over that slice, and atomically swaps
  * ONLY those directories. Epoch cost is O(batch + touched-bucket rows),
  * not O(table) — the parquet-fixture restatement of the reference's
  * per-key Cassandra point writes (K1/K3), replacing round 1's
  * whole-table rewrite. A real deployment would use MERGE INTO on a
  * transactional format; the bucketing, pruning and swap mechanics are
  * the same story.
  */
object BucketedUpsert {

  private def bucketOf(keyCol: String, numBuckets: Int) =
    // null keys → bucket -1, caught with a named error at the touched-
    // bucket check (crc32(null) would otherwise surface as an opaque
    // driver-side NPE)
    coalesce(pmod(crc32(col(keyCol).cast("string")), lit(numBuckets)).cast("int"),
      lit(-1))

  /** @param fresh  this epoch's rows (schema = the table's data columns,
    *               or a subset that `merge` completes)
    * @param merge  merged rows for the touched keys, from ONE frame: the
    *               existing rows of the touched buckets (projected to
    *               fresh's columns) already unioned with the fresh rows,
    *               both carrying `bucket`, and hash-partitioned on
    *               `bucket` into min(touched, defaultParallelism)
    *               partitions. Group or window by (`bucket`, key) so the
    *               planner reuses that partitioning: each bucket then
    *               stays inside one task (one file per bucket) and up to
    *               that many tasks merge and write in parallel. Grouping
    *               by the key alone brings back a second shuffle, which
    *               adaptive execution coalesces into one serial task. A
    *               `bucket` column in the result is recomputed from the
    *               key.
    */
  def upsert(fresh: DataFrame, tablePath: String, keyCol: String,
             numBuckets: Int = 64)(
             merge: DataFrame => DataFrame): Unit = {
    // checkpoint: the batch feeds the touched-bucket listing AND the merge;
    // in foreachBatch the source batch must not re-execute anyway
    val freshB = fresh.withColumn("bucket", bucketOf(keyCol, numBuckets))
      .localCheckpoint()
    try upsertChecked(freshB, tablePath, keyCol, numBuckets)(merge)
    finally {
      // release THIS batch's checkpoint blocks eagerly: a long-lived stream
      // otherwise accumulates one block set per epoch until the context
      // cleaner's next GC-driven sweep — bounded state must not depend on
      // GC timing (the 208-batch soak's per-batch latency crept up with
      // exactly this pressure)
      freshB.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.foreach(_.unpersist(blocking = false))
    }
  }

  private def upsertChecked(freshB: DataFrame, tablePath: String,
             keyCol: String, numBuckets: Int)(
             merge: DataFrame => DataFrame): Unit = {
    val s = freshB.sparkSession
    // bounded driver-side metadata: at most numBuckets ints, never data
    val touched = freshB.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.contains(-1))
      throw new IllegalArgumentException(
        s"bucketed upsert: null values in key column '$keyCol' — filter or fix upstream")
    if (touched.isEmpty) return
    val cols = (freshB.columns.toSeq.filterNot(_ == "bucket") :+ "bucket").map(col)
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(tablePath)
    // only a genuinely-missing table means "empty": any other read failure
    // (corrupt file, IO error) must abort the epoch — swallowing it would
    // merge against nothing and overwrite touched buckets' history
    // explicit schema (data columns + the bucket partition column): schema
    // inference over a root that exists but holds no bucket directories —
    // the crash window after mkdirs but before the first rename, or a merge
    // that legitimately emptied every bucket — throws "unable to infer
    // schema" and wedges the pipeline; with the schema given, an empty root
    // simply reads as zero rows
    val storedSchema = org.apache.spark.sql.types.StructType(
      freshB.schema.fields.filterNot(_.name == "bucket") :+
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType))
    val existingTouched =
      if (!fs.exists(root))
        s.createDataFrame(s.sparkContext.emptyRDD[Row], storedSchema)
      else s.read.schema(storedSchema).parquet(tablePath)
        .filter(col("bucket").isin(touched.map(Int.box): _*))
    // an explicit partition count: adaptive execution never coalesces it,
    // so up to n tasks merge, elect and write side by side
    val n = math.min(touched.length, s.sparkContext.defaultParallelism)
    val input = existingTouched.select(cols: _*)
      .unionByName(freshB.select(cols: _*))
      .repartition(n, col("bucket"))
    val result = merge(input).withColumn("bucket", bucketOf(keyCol, numBuckets))
    val tmp = tablePath + "_epoch_tmp"
    // local bucket files go through NioLocalFileSystem: no `chmod`
    // process per file and directory. Uncached, because the cached `file`
    // instance would ignore the impl; inert for any other scheme.
    result.write.mode("overwrite")
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .partitionBy("bucket").parquet(tmp)
    if (!fs.exists(root)) fs.mkdirs(root)
    touched.foreach { b =>
      val dst = new org.apache.hadoop.fs.Path(tablePath, s"bucket=$b")
      val src = new org.apache.hadoop.fs.Path(tmp, s"bucket=$b")
      fs.delete(dst, true)
      // Hadoop rename reports many failures as `false`, not an exception —
      // after the delete above, an unchecked false would silently drop the
      // bucket's entire history
      if (fs.exists(src) && !fs.rename(src, dst))
        throw new java.io.IOException(
          s"bucketed upsert: rename $src -> $dst failed; bucket $b left empty")
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}

/** Hadoop's local file system with `setPermission` done through java.nio.
  * Without Hadoop's native library, RawLocalFileSystem sets the mode of
  * every file and directory it creates by spawning a `chmod` process: a
  * parquet file costs two (data and .crc) and each directory one, so an
  * epoch rewriting 64 buckets spawned about 200 processes. That is
  * off-CPU time inside the writing tasks, and it stretches with the
  * host's load. The permissions set are the same.
  */
final class NioLocalFileSystem
  extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem)

final class NioRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: org.apache.hadoop.fs.Path,
                             permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
    // the sticky bit, which nio cannot set, takes the old path
    if (permission.getStickyBit) super.setPermission(p, permission)
    else java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
      java.nio.file.attribute.PosixFilePermissions.fromString(permission.toString))
  }
}
