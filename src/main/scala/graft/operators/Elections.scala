package graft.operators

import scala.collection.mutable
import graft.functions.GeoFunctions.vincentyM

/** Location-election algorithms (SURVEY.md §2.5 A10–A13), re-implemented
  * from the reference's observable semantics as pure functions over bounded
  * point arrays:
  *
  *  - A10 best-location (mode-by-radius):
  *      spark-jobs .../utils/BestLatLngCalculator.scala:33-58
  *  - A11 cluster-score election: BestLatLngCalculator.scala:65-121,123-163
  *  - A12 centroid with iterative outlier trim: BestLatLngCalculator.scala:165-198
  *  - A13 sequential time-sorted DBSCAN variant + best-cluster select:
  *      .../service/DeliveryLocationRefinementService.scala:133-204
  *
  * Deliberate deviations (documented):
  *  - Tie-breaks that in the reference depend on `mutable.HashMap` iteration
  *    order are made deterministic here (insertion order = input order wins).
  *  - A12's reference can return a null centroid for clusters that never had
  *    >3 qualifying points; we return the plain centroid of qualifying points
  *    (or of all points if none qualify) instead of null.
  *  - The vincenty kernel canonicalizes endpoint order (GeoFunctions
  *    .vincentyM) so d(a,b) == d(b,a) bit-for-bit: A11 scores the two
  *    last-indexed locations of every group against each other from both
  *    directions, and without canonical order that mathematical tie lands
  *    on a per-libm ulp coin flip — the reference's election is
  *    nondeterministic across numeric environments at exactly those
  *    points; ours ties exactly and resolves by deviation #1.
  *
  * All functions operate on arrays bounded by upstream caps (≤100 history
  * rows per key after dedup, election skipped for >500 points), so per-group
  * cost is O(n²) with small n — the distributed heavy lifting (grouping,
  * shuffling) stays in Catalyst-planned aggregation.
  */
object Elections {

  /** A point with event-time (epoch ms) and accuracy in meters. */
  case class Pt(lat: Double, lng: Double, acc: Double, ts: Long)

  /** A3/A2 (GeoTagOptimizedService.deduplicateList:224-250): keep first
    * occurrence of each (lat,lng,acc) triple, then keep the LAST 100 of the
    * deduped list (input must already be time-sorted ascending).
    */
  def dedupAndCap(points: Seq[Pt], cap: Int = 100): Seq[Pt] = {
    val seen = mutable.HashSet[(Double, Double, Double)]()
    val out = mutable.ArrayBuffer[Pt]()
    points.foreach { p =>
      val k = (p.lat, p.lng, p.acc)
      if (!seen.contains(k)) { seen += k; out += p }
    }
    if (out.length > cap) out.takeRight(cap).toSeq else out.toSeq
  }

  /** A10: point with the most neighbors within `radiusM` (vincenty).
    * Groups with <4 or >500 points return the last point. First max wins;
    * a later point must have strictly more neighbors to take over.
    */
  def bestLatLng(points: Seq[Pt], radiusM: Double = 300.0): (Double, Double) = {
    val n = points.length
    if (n == 0) return (0.0, 0.0)
    if (n < 4 || n > 500) return (points(n - 1).lat, points(n - 1).lng)
    a10Core(points, (i, j) =>
      vincentyM(points(i).lat, points(i).lng, points(j).lat, points(j).lng), radiusM)
  }

  /** A10 election body over a distance lookup — the single copy shared by
    * bestLatLng (direct vincenty) and electBoth (precomputed matrix).
    */
  private def a10Core(points: Seq[Pt], dist: (Int, Int) => Double,
                      radiusM: Double): (Double, Double) = {
    val n = points.length
    val counts = new Array[Int](n)
    var maxIdx = 0
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        if (dist(i, j) < radiusM) counts(i) += 1
        j += 1
      }
      if (counts(maxIdx) < counts(i)) maxIdx = i
      i += 1
    }
    (points(maxIdx).lat, points(maxIdx).lng)
  }

  /** A11: election with confidence. Score of a distinct location = 1/(1+d)
    * for d = distance to the last non-identical point (reference semantics:
    * the score map is overwritten per neighbor, so the final value reflects
    * the last pairing). Winner = max score; high-confidence (1.0) iff some
    * max-score location has ≥ ceil(n/2) neighbors within `thresholdM`,
    * tie-broken by most neighbors. <3 points → last point, confidence 0.
    */
  def clusterScore(points: Seq[Pt], thresholdM: Double = 200.0): (Double, Double, Double) = {
    val n = points.length
    if (n == 0) return (0.0, 0.0, 0.0)
    if (n < 3) return (points(n - 1).lat, points(n - 1).lng, 0.0)
    a11Core(points, (i, j) =>
      vincentyM(points(i).lat, points(i).lng, points(j).lat, points(j).lng), thresholdM)
  }

  /** A11 election body over a distance lookup — the single copy shared by
    * clusterScore (direct vincenty) and electBoth (precomputed matrix).
    * Each distinct (lat, lng) is interned once, in first-insertion order,
    * so scores and neighbor counts live in flat arrays indexed by location
    * id and the n² loop compares ids; id order is the insertion order that
    * makes the tie-breaks deterministic. Coordinates must be finite (a NaN
    * never equals itself, so it has no stable location).
    */
  private def a11Core(points: Seq[Pt], dist: (Int, Int) => Double,
                      thresholdM: Double): (Double, Double, Double) = {
    val n = points.length
    val idOf = mutable.HashMap[(Double, Double), Int]()
    val firstPt = mutable.ArrayBuffer[Int]() // location id -> first point index
    val loc = new Array[Int](n)
    var i = 0
    points.foreach { p =>
      loc(i) = idOf.getOrElseUpdate((p.lat, p.lng), { firstPt += i; firstPt.length - 1 })
      i += 1
    }
    val m = firstPt.length
    val score = new Array[Double](m)
    val neighbors = new Array[Int](m)
    i = 0
    while (i < n) {
      val li = loc(i)
      // the score is overwritten per pairing: the last pairing of the last
      // point at this location is the one that stands
      var last = Double.NaN
      var paired = false
      var nb = 0
      var j = 0
      while (j < n) {
        if (loc(j) != li) {
          val d = dist(i, j)
          last = d; paired = true
          if (d <= thresholdM) nb += 1
        }
        j += 1
      }
      if (paired) score(li) = 1.0 / (1.0 + last)
      neighbors(li) += nb
      i += 1
    }
    var maxScore = score(0)
    var k = 1
    while (k < m) { if (score(k) > maxScore) maxScore = score(k); k += 1 }
    // the first max-score location in id order, unless a max-score
    // location reaches the majority (integer n / 2): then the one with the
    // most neighbors, first in id order on a tie, at confidence 1
    var best = -1
    var maxNbrs = 0
    var high = false
    k = 0
    while (k < m) {
      if (score(k) == maxScore) {
        if (best < 0) best = k
        val nb = neighbors(k)
        if (nb >= n / 2 && nb > maxNbrs) { maxNbrs = nb; best = k; high = true }
      }
      k += 1
    }
    val p = points(firstPt(best))
    (p.lat, p.lng, if (high) 1.0 else 0.0)
  }

  /** A10 + A11 in one pass over a shared pairwise-distance matrix. The two
    * elections otherwise each compute the full ordered vincenty matrix —
    * the q40/flagship hot path pays ~2n² iterative vincenty evaluations per
    * group where n² suffice. The matrix stores d(i)(j) exactly as each
    * election would compute it (ordered call; with the kernel itself
    * endpoint-canonicalized — deviation #3 — the ordered call is also
    * symmetric), so results are identical to bestLatLng + clusterScore —
    * pinned by a parity spec.
    */
  def electBoth(points: Seq[Pt], radiusM: Double = 300.0,
                thresholdM: Double = 200.0): ((Double, Double), (Double, Double, Double)) =
    electBothWith(points,
      (a, b) => vincentyM(a.lat, a.lng, b.lat, b.lng), radiusM, thresholdM)

  /** A10 + A11 over an arbitrary distance kernel (meters), with the same
    * guards and machinery as the vincenty elections. Lets a closed-form
    * kernel (haversine) stand in for vincenty so DuckDB can oracle-check
    * the neighbor-count/argmax/first-max-wins/tie-break machinery
    * end-to-end (q77); electBoth is the vincenty instantiation.
    */
  def electBothWith(points: Seq[Pt], dist: (Pt, Pt) => Double,
                    radiusM: Double = 300.0, thresholdM: Double = 200.0)
      : ((Double, Double), (Double, Double, Double)) = {
    // indexed: callers pass the List that dedupAndCap returns, and the
    // matrix fill below indexes it n² times
    val pts = points.toIndexedSeq
    val n = pts.length
    // guards identical to bestLatLng / clusterScore
    val a10Guard: Option[(Double, Double)] =
      if (n == 0) Some((0.0, 0.0))
      else if (n < 4 || n > 500) Some((pts(n - 1).lat, pts(n - 1).lng))
      else None
    val a11Guard: Option[(Double, Double, Double)] =
      if (n == 0) Some((0.0, 0.0, 0.0))
      else if (n < 3) Some((pts(n - 1).lat, pts(n - 1).lng, 0.0))
      else None
    if (a10Guard.isDefined && a11Guard.isDefined)
      return (a10Guard.get, a11Guard.get)
    // one shared distance matrix, filled from the upper triangle only:
    // both engine kernels are bitwise-symmetric (vincenty is endpoint-
    // canonicalized — object doc deviation #3 — and haversine's mirrored
    // expression negates exactly through odd sin), so d(j)(i) = d(i)(j)
    // is the value the ordered call would produce anyway and results stay
    // identical to the per-election scalar paths — pinned by a parity
    // spec over 100 random point sets. Halves the flagship's ~n²
    // iterative vincenty cost per group.
    val d = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = i
      while (j < n) {
        val dij = dist(pts(i), pts(j))
        d(i)(j) = dij
        d(j)(i) = dij
        j += 1
      }
      i += 1
    }
    val lookup = (a: Int, b: Int) => d(a)(b)
    (a10Guard.getOrElse(a10Core(pts, lookup, radiusM)),
      a11Guard.getOrElse(a11Core(pts, lookup, thresholdM)))
  }

  /** A11 cluster variant (get_cluster_best_lat_lng_with_score): winner is the
    * location with most neighbors within threshold (first-inserted wins
    * ties); confidence 1.0 iff n ≥ minPoints and winner's neighbor count
    * ≥ ceil(majority% × n).
    */
  def clusterBest(points: Seq[Pt], thresholdM: Double = 200.0,
                  minPoints: Int = 3, majorityPct: Double = 50.0): (Double, Double, Double) =
    clusterBestWith(points, (a, b) => vincentyM(a.lat, a.lng, b.lat, b.lng),
      thresholdM, minPoints, majorityPct)

  /** clusterBest over an arbitrary distance kernel (meters) — the same
    * kernel-swap that lets q79 oracle-check this election's
    * most-neighbors/first-inserted-tie/majority machinery under haversine;
    * clusterBest is the vincenty instantiation used by A13 refinement.
    */
  def clusterBestWith(points: Seq[Pt], dist: (Pt, Pt) => Double,
                      thresholdM: Double = 200.0,
                      minPoints: Int = 3, majorityPct: Double = 50.0): (Double, Double, Double) = {
    val n = points.length
    if (n == 0) return (0.0, 0.0, 0.0)
    val neighbors = mutable.LinkedHashMap[(Double, Double), Int]()
    points.foreach { p => neighbors((p.lat, p.lng)) = 0 }
    points.foreach { pi =>
      val ki = (pi.lat, pi.lng)
      points.foreach { pj =>
        if (ki != (pj.lat, pj.lng)) {
          val d = dist(pi, pj)
          if (d <= thresholdM) neighbors(ki) = neighbors(ki) + 1
        }
      }
    }
    var best = neighbors.head
    neighbors.foreach { kv => if (kv._2 > best._2) best = kv }
    val majority = math.ceil(majorityPct / 100.0 * n).toInt
    val conf = if (n >= minPoints && best._2 >= majority) 1.0 else 0.0
    (best._1._1, best._1._2, conf)
  }

  /** A12: centroid with iterative 10%-outlier trim. For each threshold in
    * {100,75,50,25}: start from points with acc ≤ 100; while >3 remain,
    * compute centroid and mean vincenty distance; if mean > threshold drop
    * the max(10%, 1) farthest points and repeat, else stop. Result = the
    * centroid computed at the tightest threshold (deviation: falls back to
    * the plain mean of qualifying points when iteration never ran).
    */
  def trimmedCentroid(points: Seq[Pt],
                      thresholds: Seq[Int] = Seq(100, 75, 50, 25)): (Double, Double) =
    trimmedCentroidWith(points, vincentyM, thresholds)

  /** A12 over an arbitrary distance kernel (centroidLat, centroidLng,
    * pointLat, pointLng) → meters. A haversine kernel makes the iterative
    * trim loop DuckDB-expressible (q78's recursive-CTE oracle);
    * trimmedCentroid is the vincenty instantiation used by q41/A13.
    */
  def trimmedCentroidWith(points: Seq[Pt],
                          dist: (Double, Double, Double, Double) => Double,
                          thresholds: Seq[Int] = Seq(100, 75, 50, 25)): (Double, Double) = {
    def centroidAt(threshold: Int): Option[(Double, Double)] = {
      var filtered = points.filter(_.acc <= 100)
      var centroid: Option[(Double, Double)] = None
      var done = false
      while (!done && filtered.size > 3) {
        val cLat = filtered.map(_.lat).sum / filtered.size
        val cLng = filtered.map(_.lng).sum / filtered.size
        centroid = Some((cLat, cLng))
        val byDist = filtered.map(p => (p, dist(cLat, cLng, p.lat, p.lng))).sortBy(_._2)
        val avg = byDist.map(_._2).sum / byDist.size
        if (avg > threshold) {
          val outliers = math.max(filtered.size * 0.1, 1).toInt
          filtered = byDist.slice(0, filtered.size - outliers).map(_._1)
        } else done = true
      }
      centroid
    }
    val results = thresholds.flatMap(centroidAt)
    results.lastOption.getOrElse {
      val base = { val q = points.filter(_.acc <= 100); if (q.nonEmpty) q else points }
      (base.map(_.lat).sum / base.size, base.map(_.lng).sum / base.size)
    }
  }

  /** A13 cluster: (points, centroidLat, centroidLng, avgTs). */
  case class Cluster(points: List[Pt], lat: Double, lng: Double, avgTs: Long)

  /** A13: sequential time-sorted clustering. Walk pings in time order; a
    * ping joins the current cluster if within `epsM` of the cluster's most
    * recently added point; if instead it is > epsM from the cluster's FIRST
    * point a new cluster starts (clusters below `minCount` are discarded);
    * otherwise the ping is dropped (reference's silent middle case).
    */
  def dbscanClusters(pings: Seq[Pt], epsM: Int, minCount: Int): List[Cluster] =
    dbscanClustersWith(pings, vincentyM, epsM, minCount)

  /** The sequential walk over an arbitrary distance kernel
    * (aLat, aLng, bLat, bLng) → meters — the same kernel-swap that lets
    * q81 oracle-check the walk's join/drop/new-cluster/discard machinery
    * end-to-end under haversine; dbscanClusters is the vincenty
    * instantiation used by q41/A13.
    */
  def dbscanClustersWith(pings: Seq[Pt],
                         dist: (Double, Double, Double, Double) => Double,
                         epsM: Int, minCount: Int): List[Cluster] = {
    if (pings.isEmpty) return Nil
    val sorted = pings.sortBy(_.ts)
    val clusters = mutable.ListBuffer[Cluster]()
    var current = List.empty[Pt] // head = most recently added
    var sumLat = 0.0; var sumLng = 0.0; var sumTs = 0L
    def close(): Unit =
      if (current.size >= minCount)
        clusters += Cluster(current, sumLat / current.size, sumLng / current.size,
          sumTs / current.size)
    sorted.foreach { p =>
      if (current.isEmpty ||
          dist(p.lat, p.lng, current.head.lat, current.head.lng) <= epsM) {
        current = p :: current
        sumLat += p.lat; sumLng += p.lng; sumTs += p.ts
      } else if (dist(p.lat, p.lng, current.last.lat, current.last.lng) > epsM) {
        close()
        current = List(p)
        sumLat = p.lat; sumLng = p.lng; sumTs = p.ts
      } // else: dropped (matches reference)
    }
    close()
    clusters.toList
  }

  /** A13 best-cluster select: if the delivered fix is accurate
    * (acc ≤ accThreshold) pick the cluster whose centroid is nearest the
    * delivered location (must be ≤ distThreshold); otherwise pick the
    * cluster whose average timestamp is closest to delivery time.
    */
  def bestCluster(delLat: Double, delLng: Double, delTs: Long, delAcc: Double,
                  clusters: List[Cluster],
                  accThreshold: Int = 100, distThreshold: Int = 100): List[Pt] =
    bestClusterWith(delLat, delLng, delTs, delAcc, clusters, vincentyM,
      accThreshold, distThreshold)

  /** bestCluster over an arbitrary distance kernel — ties (d <= minDist /
    * dt <= minTimeDiff, both non-strict) keep the LAST cluster in closing
    * order, exactly like the vincenty original.
    */
  def bestClusterWith(delLat: Double, delLng: Double, delTs: Long, delAcc: Double,
                      clusters: List[Cluster],
                      dist: (Double, Double, Double, Double) => Double,
                      accThreshold: Int = 100, distThreshold: Int = 100): List[Pt] = {
    var minDist = Double.MaxValue
    var minTimeDiff = Long.MaxValue
    var best: List[Pt] = Nil
    clusters.foreach { c =>
      if (delAcc <= accThreshold) {
        val d = dist(c.lat, c.lng, delLat, delLng)
        if (d <= minDist && d <= distThreshold) { minDist = d; best = c.points }
      } else {
        val dt = math.abs(c.avgTs - delTs)
        if (dt <= minTimeDiff) { minTimeDiff = dt; best = c.points }
      }
    }
    best
  }

  /** End-to-end A13 refinement: cluster the pings, choose the best cluster
    * for the delivery, elect a location (cluster-score, falling back to
    * trimmed centroid when confidence is low). Returns (lat, lng, refined).
    */
  def refineDeliveryLocation(delLat: Double, delLng: Double, delTs: Long, delAcc: Double,
                             pings: Seq[Pt], epsM: Int = 150,
                             minCount: Int = 3): (Double, Double, Boolean) = {
    val r = refineDeliveryLocationWith(delLat, delLng, delTs, delAcc, pings,
      vincentyM, epsM, minCount)
    (r._1, r._2, r._3)
  }

  /** End-to-end A13 over an arbitrary kernel, additionally exposing the
    * kept-cluster count and which branch produced the location
    * (viaElection = clusterBest confidence hit 1.0; false = trimmed
    * centroid fallback or unrefined) — observability q81's oracle uses to
    * pin every branch of the walk+select+elect composition.
    * refineDeliveryLocation is the vincenty instantiation.
    */
  def refineDeliveryLocationWith(delLat: Double, delLng: Double, delTs: Long,
                                 delAcc: Double, pings: Seq[Pt],
                                 dist: (Double, Double, Double, Double) => Double,
                                 epsM: Int = 150, minCount: Int = 3)
      : (Double, Double, Boolean, Int, Boolean) = {
    val clusters = dbscanClustersWith(pings, dist, epsM, minCount)
    val chosen = bestClusterWith(delLat, delLng, delTs, delAcc, clusters, dist)
    if (chosen.isEmpty) (delLat, delLng, false, clusters.length, false)
    else {
      val (lat, lng, conf) =
        clusterBestWith(chosen, (a, b) => dist(a.lat, a.lng, b.lat, b.lng))
      if (conf == 1.0) (lat, lng, true, clusters.length, true)
      else {
        val (cl, cg) = trimmedCentroidWith(chosen, dist)
        (cl, cg, true, clusters.length, false)
      }
    }
  }
}
