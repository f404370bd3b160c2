package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** Seeded ledger-stream generators: every row is a pure function of the
  * seed and its id, so the same seed gives byte-identical segments. */
object StreamGen {
  /** splitmix64: a stateless, seedable mixer — row i of a stream is
    * `mix(seed, i)`-derived, so any row can be regenerated on its own. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x632BE59BD9B4E5L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** GeotagPipeline's upsert bucket count and bucket function
    * (crc32 of the key's UTF-8 bytes, mod the bucket count). */
  val UpsertBuckets = 64
  def bucketOf(key: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(key.getBytes(StandardCharsets.UTF_8))
    c.getValue % UpsertBuckets
  }

  private def unit(seed: Long, i: Long, tag: Int): Double =
    ((mix(seed + tag, i) >>> 11).toDouble) / (1L << 53).toDouble

  /** Geo pings for the geotag stream, shaped after the 208-batch soak of
    * SCALING.md §3b: keys in every upsert bucket, so that a batch of about
    * 1,000 rows touches all of them. Row `id` is point `j = id / keys` of key
    * `k = id % keys`, with `ts_ms = id`, so each key's timestamps rise.
    * Unlike the soak's all-valid traffic, one point in every `Period` of
    * a key is invalid and one resends the point before it, so the
    * validity filter and the dedup drop rows every batch; which points
    * those are is closed-form (see [[kind]]). `created_us` is the creation
    * stamp the latency metric reads.
    */
  final case class GeoStream(seed: Long, keys: Int, partitions: Int) {
    /** Key names are seeded, but key k lands in upsert bucket k % 64, so
      * every bucket holds keys and the sink layout (and the buckets a
      * batch rewrites) is the same for every seed. */
    private val names: Array[String] = Array.tabulate(keys) { k =>
      Iterator.from(0).map(n => f"${mix(seed, k * 100000L + n) & 0xffffffffffffL}%012x-$k")
        .find(bucketOf(_) == k % UpsertBuckets).get
    }
    def key(k: Int): String = names(k)
    /** Keys spread evenly over the partitions, whatever the seed. */
    def partition(k: Int): Int = k % partitions
    /** Each key's seeded place in the Period-point pattern. */
    private def phase(k: Int): Long = (mix(seed, -1L - k) & 0xffffL) % Period

    /** Valid, Invalid (dropped by the validity filter) or Dup (the same
      * position and accuracy as point j - 1, which is always valid: dedup
      * keeps the earlier one). */
    def kind(k: Int, j: Long): Int = (j + phase(k)) % Period match {
      case 0 => Invalid
      case 2 if j > 0 => Dup
      case _ => Valid
    }
    /** The points of key k, among its first `points`, that reach the
      * history: the valid ones, in order. */
    def validPoints(k: Int, points: Long): Seq[Long] =
      (0L until points).filter(kind(k, _) == Valid)

    def line(id: Long, createdUs: Long): String = {
      val k = (id % keys).toInt
      val j = id / keys
      val d = kind(k, j)
      val at = if (d == Dup) j - 1 else j
      val lat = 12.0 + (k % 97) * 0.01 + at * 0.00001 + unit(seed, k, 1) * 0.001
      val lng = 77.0 + (k % 89) * 0.01 + at * 0.00001 + unit(seed, k, 2) * 0.001
      val acc = 5 + ((at + (mix(seed, k) & 0xff)) % 150)
      val tpe = if (unit(seed, id, 3) < 0.5) "DEL" else "PC"
      // the invalid points rotate over four faults: a zero latitude, an
      // accuracy out of band, an unknown type, and a latitude that does
      // not decode as a number (a decode failure of the source)
      val (latS, accS, tpeS) = if (d != Invalid) (lat.toString, acc.toString, tpe)
        else (j / Period) % 4 match {
          case 0 => ("0.0", acc.toString, tpe)
          case 1 => (lat.toString, "250", tpe)
          case 2 => (lat.toString, acc.toString, "XX")
          case _ => ("\"n/a\"", acc.toString, tpe)
        }
      s"""${key(k)},{"addr_hash":"${key(k)}","type":"$tpeS","lat":$latS,""" +
        s""""lng":$lng,"accuracy":$accS,"ts_ms":$id,"created_us":$createdUs}"""
    }
  }
  val Period = 20
  val Valid = 0; val Invalid = 1; val Dup = 2

  /** Publish one segment: write the lines to a hidden temp file, then
    * rename it into place, so the source never lists a half-written
    * segment (the source lists only `ledger-<id>.log`). */
  def publish(topic: Path, partition: Int, ledgerId: Long, lines: Seq[String]): Long = {
    val dir = topic.resolve(s"partition-$partition")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-ledger-$ledgerId")
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(s"ledger-$ledgerId.log"), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}
