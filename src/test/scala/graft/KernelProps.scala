package graft

import graft.analytics.{Dtw, Patterns}
import graft.dedup.Dedup
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the pure Scala kernels (no SparkSession —
  * these run the X1/X4/SimHash math directly). */
object KernelProps extends Properties("kernels") {

  private val series = Gen.nonEmptyListOf(Gen.chooseNum(-100.0, 100.0))

  property("dtw identity is zero") = Prop.forAll(series) { a =>
    Dtw.distance(a.toArray, a.toArray) == 0.0
  }

  property("dtw is symmetric and non-negative") =
    Prop.forAll(series, series) { (a, b) =>
      val ab = Dtw.distance(a.toArray, b.toArray)
      val ba = Dtw.distance(b.toArray, a.toArray)
      ab >= 0.0 && math.abs(ab - ba) <= 1e-9 * math.max(1.0, ab)
    }

  property("dtw unbanded <= banded (band only restricts)") =
    Prop.forAll(series, series) { (a, b) =>
      Dtw.distance(a.toArray, b.toArray, Some(0)) <=
        Dtw.distance(a.toArray, b.toArray) + 1e-9
    }

  private val bits = Gen.listOf(Gen.oneOf(0, 1))

  property("run lengths partition the ones exactly") = Prop.forAll(bits) { ups =>
    val runs = Patterns.runLengths(ups)
    runs.sum == ups.count(_ == 1) && runs.forall(_ > 0)
  }

  property("run count equals 0->1 transitions") = Prop.forAll(bits) { ups =>
    val transitions = (0 +: ups).sliding(2)
      .count(s => s.length == 2 && s(0) == 0 && s(1) == 1)
    Patterns.runLengths(ups).length == transitions
  }

  // The cross-engine display quantization (operators/MarketQueries
  // numeric policy): floor(x·1e6 + 0.5)/1e6 — pure IEEE arithmetic.
  private def grid6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private val displayVals = Gen.chooseNum(-1e6, 1e6)

  property("grid rounding stays within half a grid step and is idempotent") =
    Prop.forAll(displayVals) { x =>
      val g = grid6(x)
      math.abs(g - x) <= 5.000001e-7 * math.max(1.0, math.abs(x) / 1e5) &&
        grid6(g) == g
    }

  private val words = Gen.listOf(Gen.alphaLowerStr.suchThat(_.nonEmpty))

  property("simhash is deterministic and order-insensitive for multisets") =
    Prop.forAll(words) { ws =>
      Dedup.simhash64Md5(ws) == Dedup.simhash64Md5(ws) &&
        Dedup.simhash64Md5(ws) == Dedup.simhash64Md5(scala.util.Random.javaRandomToRandom(
          new java.util.Random(1)).shuffle(ws))
    }
}
