package graft

import graft.vector.VectorOps
import org.apache.spark.sql.functions._

/** Density-adaptive banded LSH (VectorOps.lshNearDupAdaptive), the
  * near-dup path of d5a and d7. Verifies the policy formulas, the seeded
  * plane determinism, the packed sign-bit expression against its
  * literal-plane equivalent, and end-to-end recall/precision against
  * the exact all-pairs sweep on a seeded corpus large enough for the
  * banding to actually prune. */
class AdaptiveLshSpec extends SparkSpec {
  import spark.implicits._

  test("gaussianPlanes is deterministic, seed-sensitive, and ~unit-normal") {
    val a = VectorOps.gaussianPlanes(7L, 50, 16)
    val b = VectorOps.gaussianPlanes(7L, 50, 16)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    val c = VectorOps.gaussianPlanes(8L, 50, 16)
    assert(!a.zip(c).forall { case (x, y) => x.sameElements(y) })
    val flat = a.flatten
    val mean = flat.sum / flat.length
    val sd = math.sqrt(flat.map(v => (v - mean) * (v - mean)).sum / flat.length)
    assert(math.abs(mean) < 0.1, s"mean $mean")
    assert(math.abs(sd - 1.0) < 0.1, s"sd $sd")
  }

  test("adaptiveBanding: occupancy-derived bits, recall-floor-derived bands") {
    // n = 20000, occupancy 64 -> bits = ceil(log2(312.5)) = 9
    val (bands, bits) = VectorOps.adaptiveBanding(20000, 0.4)
    assert(bits == 9, s"bits=$bits")
    // bands must push the banding curve at the threshold past the floor
    assert(VectorOps.bandingRecall(0.4, bands, bits) >= 0.95)
    // and be minimal: one band fewer would miss the floor
    assert(VectorOps.bandingRecall(0.4, bands - 1, bits) < 0.95)
    // bits grow with n (occupancy held constant; budget lifted so the
    // back-off doesn't mask the formula)...
    val (_, bits2) = VectorOps.adaptiveBanding(20000L * 64, 0.4, maxPlanes = 1 << 20)
    assert(bits2 == 15, s"bits2=$bits2")
    // ...and under the default budget the back-off holds the floor
    val (bands3, bits3) = VectorOps.adaptiveBanding(20000L * 64, 0.4)
    assert(bands3.toLong * bits3 <= 16384 &&
      VectorOps.bandingRecall(0.4, bands3, bits3) >= 0.95)
    // ...and the plane budget backs bits off rather than dropping recall
    val (bandsB, bitsB) = VectorOps.adaptiveBanding(20000, 0.4, maxPlanes = 200)
    assert(bandsB * bitsB <= 200 && VectorOps.bandingRecall(0.4, bandsB, bitsB) >= 0.95)
  }

  test("sign_bits_packed matches the literal-plane sign bits, null vec -> null") {
    val dim = 8
    val planes = VectorOps.gaussianPlanes(3L, 12, dim)
    val groups = Array(4, 4, 4)
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => ((i * 31 + j * 17) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"),
      graft.functions.VectorExpressions
        .sign_bits_packed(col("embedding"), planes, groups).as("sb"))
      .as[(Long, Seq[Long])].collect().toMap
    // literal-plane reference: when(dot(v, plane) > 0, 1L << b)
    val ref = vecs.select(col("vec_id"),
      (0 until 3).map { g =>
        (0 until 4).map { b =>
          val pl = array(planes(g * 4 + b).map(v => lit(v)): _*)
          when(VectorOps.dot(col("embedding"), pl) > 0, 1L << b).otherwise(0L)
        }.reduce(_ + _)
      }.toArray match { case cols => array(cols.toIndexedSeq: _*).as("sb") })
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == ref)
    val nullRow = Seq((0L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
      .select(graft.functions.VectorExpressions
        .sign_bits_packed(col("embedding"), planes, groups))
      .collect().head
    assert(nullRow.isNullAt(0))
  }

  test("hamming_native: bitCount of xor, null on length mismatch") {
    val df = Seq(
      (Seq(0L, 0L), Seq(-1L, 0L), Some(64L)),
      (Seq(5L), Seq(3L), Some(2L)),          // 101 ^ 011 = 110
      (Seq(1L, 2L), Seq(1L, 2L), Some(0L))
    ).toDF("a", "b", "exp")
    val got = df.select(graft.functions.VectorExpressions
      .hamming_native(col("a"), col("b"))).as[Long].collect().toSeq
    assert(got == Seq(64L, 2L, 0L))
    val mismatch = Seq((Seq(1L), Seq(1L, 2L))).toDF("a", "b")
      .select(graft.functions.VectorExpressions.hamming_native(col("a"), col("b")))
      .collect().head
    assert(mismatch.isNullAt(0))
  }

  /** Seeded corpus: 600 base vectors (dim 16) + 150 planted near-dups
    * (tiny perturbations of every 4th base) + 50 exact dups. */
  private def corpus = {
    val dim = 16
    val rnd = new scala.util.Random(99)
    val bases = (0 until 600).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val near = bases.filter(_._1 % 4 == 0).take(150).map { case (id, v) =>
      (id + 10000L, v.updated(0, v.head + 0.01f))
    }
    val exact = bases.take(50).map { case (id, v) => (id + 20000L, v) }
    (bases ++ near ++ exact).toDF("vec_id", "embedding")
  }

  test("adaptive pipeline: precision 1.0, recall above floor, candidates pruned") {
    val truth = VectorOps.allPairsCosine(corpus, 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val run = VectorOps.lshNearDupAdaptive(corpus, 0.4,
      targetOccupancy = 16, recallFloor = 0.95)
    val got = run.pairs.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // exact rerank => every emitted pair is a true pair
    assert((got -- truth).isEmpty, s"${(got -- truth).size} false positives")
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.95, s"recall $recall < floor (truth=${truth.size}, got=${got.size})")
    // the banding must actually prune: candidates well under all-pairs
    val nPairs = 800L * 799 / 2
    val cand = run.candidates.count()
    assert(cand < nPairs / 2, s"candidates $cand vs all-pairs $nPairs")
    // the signature prefilter only ever drops candidates
    assert(run.prefiltered.count() <= cand)
    // value-identical dups (cos = 1) always survive to the output
    val exactPairs = (0 until 50).map(i => (i.toLong, i + 20000L)).toSet
    assert(exactPairs.subsetOf(got), "exact-dup pairs missing")
  }

  test("adaptive pipeline is deterministic across runs (same seed)") {
    val a = VectorOps.lshNearDupAdaptive(corpus, 0.4, targetOccupancy = 16)
      .pairs.select("vec_a", "vec_b", "cos").as[(Long, Long, Double)].collect().toSet
    val b = VectorOps.lshNearDupAdaptive(corpus, 0.4, targetOccupancy = 16)
      .pairs.select("vec_a", "vec_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("adaptive pipeline at default occupancy: no false positives, recall >= 0.95") {
    val got = VectorOps.lshNearDupAdaptive(corpus, 0.4).pairs
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val truth = VectorOps.allPairsCosine(corpus, 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert((got -- truth).isEmpty && got.size >= (truth.size * 0.95).toInt)
  }
}
