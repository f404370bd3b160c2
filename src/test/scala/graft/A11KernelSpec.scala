package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GeoFunctions.haversineMScala
import graft.operators.Elections
import graft.operators.Elections.Pt

/** The interned-id A11 kernel against its tuple-map reference
  * (A11Reference), bit for bit, over generated point sets. Points sit on a
  * coarse grid so that repeated locations, exact duplicate points and tied
  * max scores all occur; the spec counts them, so a generator that stopped
  * producing them would fail here rather than pass vacuously.
  */
class A11KernelSpec extends AnyFunSuite {

  private def bits(t: (Double, Double, Double)) =
    (java.lang.Double.doubleToLongBits(t._1),
      java.lang.Double.doubleToLongBits(t._2),
      java.lang.Double.doubleToLongBits(t._3))

  private def bits2(t: (Double, Double)) =
    (java.lang.Double.doubleToLongBits(t._1), java.lang.Double.doubleToLongBits(t._2))

  // grid steps of ~55 m, ~220 m and ~1.1 km: straddles the 200 m A11
  // threshold and the 300 m A10 radius
  private val pointSets: Gen[Seq[Pt]] = for {
    step <- Gen.oneOf(0.0005, 0.002, 0.01)
    side <- Gen.choose(1, 6)
    n <- Gen.choose(0, 120)
    pts <- Gen.listOfN(n, for {
      a <- Gen.choose(0, side - 1)
      b <- Gen.choose(0, side - 1)
      acc <- Gen.choose(1, 2)
    } yield Pt(12.97 + a * step, 77.59 + b * step, acc.toDouble, 0L))
  } yield pts.zipWithIndex.map { case (p, i) => p.copy(ts = i.toLong) }

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(400)
    .withInitialSeed(Seed(20261017L))

  private def check(prop: Prop): Unit = {
    val r = Test.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("clusterScore and electBoth equal the tuple-map reference bit for bit") {
    var repeated = 0; var duplicates = 0; var tiedMax = 0
    check(Prop.forAll(pointSets) { pts =>
      if (pts.length >= 3) {
        val (score, _) = A11Reference.scores(pts, A11Reference.vinc, 200.0)
        if (score.size < pts.length) repeated += 1
        if (pts.map(p => (p.lat, p.lng, p.acc)).distinct.length < pts.length)
          duplicates += 1
        if (score.values.count(_ == score.values.max) > 1) tiedMax += 1
      }
      val ref = A11Reference.clusterScore(pts)
      val (a10, a11) = Elections.electBoth(pts)
      bits(Elections.clusterScore(pts)) == bits(ref) && bits(a11) == bits(ref) &&
        bits2(a10) == bits2(Elections.bestLatLng(pts))
    })
    assert(repeated > 0 && duplicates > 0 && tiedMax > 0,
      s"generator coverage: repeated=$repeated duplicates=$duplicates tiedMax=$tiedMax")
  }

  test("electBothWith(haversine), q77's kernel, equals the reference") {
    val hav: (Pt, Pt) => Double = (a, b) => haversineMScala(a.lat, a.lng, b.lat, b.lng)
    check(Prop.forAll(pointSets) { pts =>
      val (_, a11) = Elections.electBothWith(pts, hav)
      bits(a11) == bits(A11Reference.clusterScore(pts, dist = hav))
    })
  }
}
