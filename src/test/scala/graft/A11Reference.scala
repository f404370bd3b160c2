package graft

import scala.collection.mutable
import graft.functions.GeoFunctions.vincentyM
import graft.operators.Elections.Pt

/** The A11 cluster-score election in its original tuple-map form: every
  * point pair builds a `(lat, lng)` tuple per side and updates two
  * insertion-ordered maps. `Elections` runs an interned-id kernel instead;
  * this body is kept only as the reference its property spec compares
  * against.
  */
object A11Reference {

  /** clusterScore with the same guards as `Elections.clusterScore`. */
  def clusterScore(points: Seq[Pt], thresholdM: Double = 200.0,
                   dist: (Pt, Pt) => Double = vinc): (Double, Double, Double) = {
    val n = points.length
    if (n == 0) return (0.0, 0.0, 0.0)
    if (n < 3) return (points(n - 1).lat, points(n - 1).lng, 0.0)
    elect(points, scores(points, dist, thresholdM))
  }

  /** Per-location (score, neighbors) maps, in first-insertion order. */
  def scores(points: Seq[Pt], dist: (Pt, Pt) => Double, thresholdM: Double)
      : (mutable.LinkedHashMap[(Double, Double), Double],
         mutable.LinkedHashMap[(Double, Double), Int]) = {
    val n = points.length
    val score = mutable.LinkedHashMap[(Double, Double), Double]()
    val neighbors = mutable.LinkedHashMap[(Double, Double), Int]()
    points.foreach { p => score((p.lat, p.lng)) = 0.0; neighbors((p.lat, p.lng)) = 0 }
    var i = 0
    while (i < n) {
      val ki = (points(i).lat, points(i).lng)
      var j = 0
      while (j < n) {
        val kj = (points(j).lat, points(j).lng)
        if (ki != kj) {
          val d = dist(points(i), points(j))
          score(ki) = 1.0 / (1.0 + d)
          if (d <= thresholdM) neighbors(ki) = neighbors(ki) + 1
        }
        j += 1
      }
      i += 1
    }
    (score, neighbors)
  }

  private def elect(points: Seq[Pt],
                    maps: (mutable.LinkedHashMap[(Double, Double), Double],
                           mutable.LinkedHashMap[(Double, Double), Int]))
      : (Double, Double, Double) = {
    val (score, neighbors) = maps
    val n = points.length
    val maxScore = score.values.max
    val maxLocs = score.iterator.filter(_._2 == maxScore).map(_._1).toSeq
    var best = maxLocs.head
    var maxNbrs = 0
    var high = false
    maxLocs.foreach { loc =>
      val nb = neighbors(loc)
      if (nb >= math.ceil(n / 2).toInt && nb > maxNbrs) {
        maxNbrs = nb; best = loc; high = true
      }
    }
    (best._1, best._2, if (high) 1.0 else 0.0)
  }

  val vinc: (Pt, Pt) => Double = (a, b) => vincentyM(a.lat, a.lng, b.lat, b.lng)
}
