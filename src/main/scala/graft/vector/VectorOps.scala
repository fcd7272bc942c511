package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity-search operators over an `Array[Float]` embedding
  * column (driver north-star): brute-force cosine top-k as the exact
  * baseline, random-hyperplane LSH bucketing and IVF coarse assignment as
  * the scale paths.
  *
  * All math is pure Column expressions (zip_with + aggregate folds in
  * double precision) — codegen-friendly, no UDFs.
  *
  * Scale: brute-force is O(n·q) pair evaluations — right for reranking
  * and small q; the LSH/IVF variants cut candidates by bucketing first
  * (broadcast the tiny plane/centroid set, one narrow map per vector,
  * then a bucket-keyed shuffle instead of a cross join).
  */
object VectorOps {

  private def d(x: Column): Column = x.cast("double")

  /** Σ aᵢ·bᵢ in double precision — native codegen'd Expression (a tight
    * fused loop inside whole-stage codegen; the HOF zip_with/aggregate
    * formulation evaluates its lambda interpreted per element and is
    * ~100× slower — see functions.VectorExpressions). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_native(a, b)

  /** HOF reference implementation, kept for cross-checking the native
    * expression in tests. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => d(x) * d(y)), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 on zero norm (mirrors the similarity module's
    * edge rule). Native codegen'd Expression. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine_native(a, b)

  def cosineHof(a: Column, b: Column): Column = {
    val na = sqrt(dotHof(a, a))
    val nb = sqrt(dotHof(b, b))
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dotHof(a, b) / (na * nb))
  }

  /** Brute-force exact top-k neighbors for each query vector. Ranking is
    * on the 6-dp-rounded score with id tiebreak, so results are
    * deterministic and engine-independent. */
  def knnBrute(vectors: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val v = vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("nv")), 6))
    scored.withColumn("rank", row_number().over(
      Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** IVF coarse quantization: assign each vector to its nearest centroid
    * by cosine (argmax on rounded score, centroid-id tiebreak). */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = broadcast(centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("cv")))
    vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(c)
      .withColumn("cos", round(cosine(col("v"), col("cv")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("cos").desc, col("centroid_id"))))
      .filter(col("rk") === 1)
      .select(col("id").as(idCol), col("centroid_id"), col("cos"))
  }

  /** IVF search end-to-end: restrict each query to its `nprobe` nearest
    * centroids' buckets, then exact-rerank within the candidates. The
    * scale path for ANN: the brute-force sweep drops from O(n·q) to
    * O(n·q·nprobe/k_centroids) expected, at a recall cost bounded by the
    * quantizer (IvfSearchSpec measures recall against knnBrute). */
  def ivfSearch(vectors: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val index = ivfAssign(vectors, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
      .join(vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")),
        "neighbor_id")
    val c = broadcast(centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("cv")))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(c)
      .withColumn("ccos", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("crk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("ccos").desc, col("centroid_id"))))
      .filter(col("crk") <= nprobe)
      .select("query_id", "qv", "centroid_id")
    probes.join(index, "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("nv")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** All-pairs cosine near-dup pairs (a < b, rounded cos ≥ threshold).
    *
    * The exact O(n²) sweep: the ground truth the banded paths
    * ([[lshNearDupPairs]], [[lshNearDupAdaptive]]) are measured against
    * in the tests and in LshEval. No catalog query runs it.
    *
    * Implementation note: Catalyst higher-order functions (zip_with +
    * aggregate) are interpreted per element, which makes an O(n²·d)
    * pair sweep ~100× slower than a JIT'd loop. The vector set is
    * broadcast (ids + double vectors + precomputed norms) and each
    * partition runs a tight dot-product loop against it — the classic
    * broadcast-small-side pattern. Works while the vector set fits in
    * executor memory (64-dim floats: ~3 GB per 10M vectors); beyond
    * that it is off the table, which is why it is not the default.
    *
    * Numerics match the expression form exactly: left-to-right double
    * folds, cos = dot/(‖a‖·‖b‖), HALF_UP rounding to 6 dp; pairs with
    * mismatched lengths are skipped (the expression form yields null
    * there, which can never pass the threshold). */
  def allPairsCosine(vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val ds = vectors
      .select(col(idCol).cast("long").as("_1"), col(vecCol).as("_2"))
      .as[(Long, Seq[Float])]
    val local = ds.collect().sortBy(_._1).map { case (id, v) =>
      val d = new Array[Double](v.length)
      var i = 0
      var n2 = 0.0
      while (i < v.length) { d(i) = v(i).toDouble; n2 += d(i) * d(i); i += 1 }
      (id, d, math.sqrt(n2))
    }
    val bc = spark.sparkContext.broadcast(local)
    val round6 = (x: Double) =>
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    ds.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (ia, va) =>
        val a = new Array[Double](va.length)
        var i = 0
        var na2 = 0.0
        while (i < va.length) { a(i) = va(i).toDouble; na2 += a(i) * a(i); i += 1 }
        val na = math.sqrt(na2)
        all.iterator
          .filter(p => p._1 > ia && p._2.length == a.length)
          .flatMap { case (ib, b, nb) =>
            var s = 0.0
            var j = 0
            while (j < a.length) { s += a(j) * b(j); j += 1 }
            val cos = if (na == 0.0 || nb == 0.0) 0.0 else round6(s / (na * nb))
            if (cos >= threshold) Some((ia, ib, cos)) else None
          }
      }
    }.toDF("vec_a", "vec_b", "cos")
  }

  /** Random-hyperplane LSH: bucket id from the sign bits of dot products
    * against `planes` (any fixed small vector set). */
  def lshBucket(vectors: DataFrame, planes: Seq[(Long, Seq[Float])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bits = planes.sortBy(_._1).zipWithIndex.map { case ((_, plane), i) =>
      val planeCol = array(plane.map(v => lit(v)): _*)
      when(dot(col(vecCol), planeCol) > 0, 1L << i).otherwise(0L)
    }
    vectors.select(col(idCol), bits.reduce(_ + _).as("bucket"))
  }

  /** Banded-LSH near-dup pairs with fixed parameters (a < b, rounded
    * cos ≥ threshold): d5's 16 bands × 4 bits, which its oracle replays.
    *
    * Plan shape (never O(n²) over the corpus):
    *  1. one narrow map per vector computes `bands` bucket keys, each the
    *     sign-bit code of `rowsPerBand` hyperplane dot products (planes
    *     broadcast as literals — `bands·rowsPerBand` dots/vector total);
    *  2. a (band, bucket)-keyed self-join materializes candidate pairs
    *     only WITHIN buckets;
    *  3. exact cosine rerank over the candidates, threshold filter.
    *
    * Recall follows the classic banding curve 1 − (1 − p^r)^b with
    * p = 1 − θ/π: for true near-dups (cos ≥ 0.9, r=4, b=16) it is
    * ≈ 0.9999; it degrades gracefully toward weaker thresholds
    * (VectorSpec measures it against [[allPairsCosine]] on planted
    * near-dups). Fully deterministic given the plane set, so a SQL
    * oracle replays it exactly. */
  def lshNearDupPairs(vectors: DataFrame, planes: Seq[(Long, Seq[Float])],
      bands: Int, rowsPerBand: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes.size >= bands * rowsPerBand,
      s"need ${bands * rowsPerBand} planes, got ${planes.size}")
    val sorted = planes.sortBy(_._1).take(bands * rowsPerBand)
    // Exact-dup collapse (graft.dedup.ExactCollapse): bucket codes and
    // the rerank cosine are functions of the embedding VALUE only, so
    // value-identical vectors collapse to one representative before the
    // bucket join — without this, a class of n identical vectors
    // collides in every band and alone makes the join O(n²).
    val base = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
    val tagged = graft.dedup.ExactCollapse.tag(base, "id", Seq(col("__v")))
    val reps = graft.dedup.ExactCollapse.reps(tagged, "id")
    val mem = graft.dedup.ExactCollapse.members(tagged, "id")
    // all band keys in ONE pass over the rep vectors (an array of bucket
    // codes, unpivoted), not one scan per band
    val bucketCols = (0 until bands).map { b =>
      (0 until rowsPerBand).map { r =>
        val planeCol = array(sorted(b * rowsPerBand + r)._2.map(v => lit(v)): _*)
        when(dot(col("__v"), planeCol) > 0, 1L << r).otherwise(0L)
      }.reduce(_ + _)
    }
    // materialized once: the (id, band, bucket) frame feeds BOTH sides of
    // the candidate self-join — without this the scan + bands·rowsPerBand
    // dot products run twice
    val banded = graft.Graft.materialize(
      reps.select(col("id"),
        posexplode(array(bucketCols: _*)).as(Seq("band", "bucket"))))
    val cand = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("vec_a"), col("y.id").as("vec_b"))
      .distinct()
      // in-group duplicate pairs surface via rep self-pairs, not buckets;
      // the rerank below scores them with the same cosine expression (and
      // drops e.g. identical zero vectors exactly as the bucket path would)
      .unionByName(graft.dedup.ExactCollapse.dupSelfPairs(mem, "vec_a", "vec_b"))
    val va = reps.select(col("id").as("vec_a"), col("__v").as("__va"))
    val vb = reps.select(col("id").as("vec_b"), col("__v").as("__vb"))
    val scored = cand.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
    graft.dedup.ExactCollapse.expand(scored, mem, "vec_a", "vec_b")
  }

  // ---------------------------------------------------------------------
  // Density-adaptive banding: [[lshNearDupAdaptive]], which d5a, d7 and
  // LshEval run.
  //
  // The fixed 16-band × 4-bit parameterization above is kept for the
  // frozen d5 catalog entry (the oracle replays that exact banding), but
  // it is measured to degrade toward quadratic rerank on corpora where
  // candidate density is high: a 4-bit band has 16 buckets, so a pair at
  // cosine 0 still collides per band with probability 0.5⁴ = 1/16 and
  // the 16-band OR admits ~64 % of ALL pairs (SCALE_r07.md §5: 127.9 M
  // reranks for a 177 k-pair answer at sf1-jitter). The cure is to make
  // the code space track the corpus: bits ≈ log₂(n / target-occupancy)
  // keeps expected bucket occupancy constant as n grows, and the band
  // count is then derived from the banding curve so recall at the
  // caller's threshold never drops below a floor — the recall/cost trade
  // is taken by FORMULA, not silently.
  // ---------------------------------------------------------------------

  /** P[one random-hyperplane sign bit agrees] for a pair at cosine c:
    * 1 − θ/π (Goemans–Williamson). */
  def signAgreeProb(cos: Double): Double =
    1.0 - StrictMath.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi

  /** Banding-curve recall 1 − (1 − p^bits)^bands at cosine c. */
  def bandingRecall(cos: Double, bands: Int, bitsPerBand: Int): Double =
    1.0 - StrictMath.pow(1.0 - StrictMath.pow(signAgreeProb(cos), bitsPerBand), bands)

  /** Density-adaptive banding policy: (bands, bitsPerBand) for a corpus
    * of `n` vectors.
    *
    *  - bitsPerBand = ⌈log₂(n / targetOccupancy)⌉ keeps expected bucket
    *    occupancy ≈ targetOccupancy, so the per-band self-join stays
    *    Θ(n · occupancy) instead of Θ(n²/2^bits) with fixed bits;
    *  - bands = ⌈ln(1 − recallFloor) / ln(1 − p^bits)⌉ with
    *    p = signAgreeProb(threshold) holds recall at the threshold ≥
    *    recallFloor whatever bits the density forced;
    *  - if bands·bits exceeds `maxPlanes` (the per-vector dot budget),
    *    bits backs off one at a time — recall is NEVER traded below the
    *    floor; the join pays instead, and loudly (occupancy doubles per
    *    step down).
    *
    * The bits derivation is INTEGER-EXACT (⌈log₂⌉ via leading-zero
    * count on ⌈n/occupancy⌉, mathematically equal to the real-valued
    * formula for every n) so an independent replay — e.g. the d5a
    * DuckDB oracle deriving bits from COUNT(*) in SQL — can never
    * diverge on a floating-point log at an exact power-of-two boundary.
    * The bands formula stays floating-point but StrictMath-only
    * (JVM-deterministic); oracle replays consume it as a precomputed
    * bits→bands lookup (see [[bandsByBits]]), never by re-evaluating
    * logs in another engine's libm. */
  def adaptiveBanding(n: Long, threshold: Double, targetOccupancy: Long = 64,
      recallFloor: Double = 0.95, maxPlanes: Int = 16384): (Int, Int) = {
    require(n > 0 && threshold > -1.0 && threshold < 1.0 &&
      recallFloor > 0.0 && recallFloor < 1.0, "domain")
    def bandsFor(bits: Int): Int = bandsForBits(threshold, recallFloor, bits)
    // ⌈log₂(max(2, n/occ))⌉ in pure integer math: for real x ≥ 1,
    // ⌈log₂ x⌉ = ⌈log₂ ⌈x⌉⌉ (both land in the same (2^k, 2^(k+1)]
    // interval), so ceil-divide first, then a bit-length ceil-log2.
    val m = (n + targetOccupancy - 1) / targetOccupancy
    val ceilLog2 = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    var bits = ceilLog2.max(2).min(24)
    while (bits > 2 && bandsFor(bits).toLong * bits > maxPlanes) bits -= 1
    (bandsFor(bits), bits)
  }

  /** Bands needed to hold banding-curve recall ≥ `recallFloor` at
    * `threshold` with `bits`-bit band codes — the inner formula of
    * [[adaptiveBanding]], exposed so oracle replays can precompute the
    * full bits→bands table in ONE engine (this JVM) and ship it as data
    * instead of re-deriving logs cross-engine. */
  def bandsForBits(threshold: Double, recallFloor: Double, bits: Int): Int = {
    val pr = StrictMath.pow(signAgreeProb(threshold), bits)
    if (pr >= 1.0) 1
    else math.ceil(StrictMath.log(1.0 - recallFloor) / StrictMath.log(1.0 - pr))
      .toInt.max(1)
  }

  /** (bits → bands) lookup over the full adaptive range [2, 24] for a
    * fixed (threshold, recallFloor) — the table a SQL oracle embeds as
    * VALUES so its parameter choice is bit-identical to the engine's. */
  def bandsByBits(threshold: Double, recallFloor: Double): Seq[(Int, Int)] =
    (2 to 24).map(b => b -> bandsForBits(threshold, recallFloor, b))

  /** splitmix64 — the counter-based PRNG behind [[gaussianPlanes]]. */
  private def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic unit-Gaussian hyperplanes: entry (i, j) is Box–Muller
    * over two splitmix64 draws keyed by (seed, i, j) — counter-based, so
    * the full matrix is reproducible from the seed alone on any JVM
    * (StrictMath throughout), with no sequential RNG state to thread
    * through a cluster. Gaussian (not uniform) entries make the planes
    * spherically symmetric, so the sign-agreement probability is exactly
    * 1 − θ/π at every dimension. */
  def gaussianPlanes(seed: Long, count: Int, dim: Int): Array[Array[Double]] = {
    Array.tabulate(count) { i =>
      Array.tabulate(dim) { j =>
        val k = seed * 0x632BE59BD9B4E019L + i.toLong * 0x9E3779B97F4A7C15L + j
        val u1 = ((splitmix64(k) >>> 11) + 1).toDouble / (1L << 53).toDouble
        val u2 = (splitmix64(k + 0x5851F42D4C957F2DL) >>> 11).toDouble / (1L << 53).toDouble
        StrictMath.sqrt(-2.0 * StrictMath.log(u1)) *
          StrictMath.cos(2.0 * math.Pi * u2)
      }
    }
  }

  /** One adaptive near-dup run with its intermediate frames exposed, so
    * eval harnesses can price each stage (candidate volume, prefilter
    * survivors, final pairs) without re-instrumenting the pipeline. */
  final case class AdaptiveNearDup(
      n: Long, bands: Int, bitsPerBand: Int, sigBits: Int, maxHamming: Long,
      predictedRecall: Double,
      candidates: DataFrame, prefiltered: DataFrame, pairs: DataFrame)

  /** Density-adaptive banded-LSH near-dup pairs (a < b, rounded
    * cos ≥ threshold), the path whose parameters follow the corpus
    * size. Differences from the fixed-parameter
    * [[lshNearDupPairs]], each attacking one measured cost center of the
    * sf1-jitter cliff (SCALE_r07.md §5):
    *
    *  1. **Adaptive banding** ([[adaptiveBanding]]): bits per band track
    *     corpus density, bands track the recall floor — the bucket join
    *     stays Θ(n · occupancy) at every n.
    *  2. **Seeded Gaussian planes** ([[gaussianPlanes]]): the adaptive
    *     plane count (bands·bits + sigBits) can't come from a fixed
    *     corpus slice; a counter-based deterministic matrix keeps the
    *     whole run replayable from (seed, n, threshold).
    *  3. **Band-code collapse**: vectors with IDENTICAL full code
    *     vectors have identical candidate sets by construction, so only
    *     one representative per code class enters the bucket self-join
    *     (the output is provably identical — classes expand back before
    *     scoring). On near-dup-dense corpora this rediscovers the
    *     cluster structure: sf1-jitter's 20 k vectors collapse to ~6 k
    *     code classes, cutting the join ~10×.
    *  4. **Hamming-signature prefilter**: each vector also carries
    *     `sigBits` extra sign bits (packed longs, SAME fused pass as the
    *     band codes, planes independent of the banding planes so the
    *     estimate is unbiased given a collision). A candidate pair's
    *     bit-agreement estimates its cosine; pairs whose estimate sits
    *     more than `sigMarginSigmas` binomial sigmas below the threshold
    *     are dropped before the exact rerank. At the defaults (1024
    *     bits, 4σ) a true threshold pair survives with p = Φ(4) ≈
    *     0.99997, while cos≈0 bulk — the dominant admitted mass of a
    *     coarse banding — is rejected at ≥ 99.9 % for 20× less work per
    *     pair than the exact cosine (16 xor+popcounts vs a 64-dim dot).
    *
    * All math is exact where it must be: the prefilter only ever DROPS
    * pairs (quantified recall cost); every emitted pair is scored by the
    * same rounded exact cosine as the fixed path, so precision is 1.0
    * by construction. Set sigBits = 0 to disable the prefilter. */
  def lshNearDupAdaptive(vectors: DataFrame, threshold: Double,
      seed: Long = 42L, targetOccupancy: Long = 64, recallFloor: Double = 0.95,
      maxPlanes: Int = 16384, sigBits: Int = 1024, sigMarginSigmas: Double = 4.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): AdaptiveNearDup = {
    import graft.dedup.ExactCollapse
    val base = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
    // Value-level collapse first (identical vectors ⇒ cosine 1 ⇒ score
    // once, expand after thresholding — same as the fixed path).
    val tagged = ExactCollapse.tag(base, "id", Seq(col("__v")))
    val reps = ExactCollapse.reps(tagged, "id")
    val mem = ExactCollapse.members(tagged, "id")
    // One aggregate yields n AND validates the vector column up front: a
    // null embedding would NPE deep in the kernel, and any vector whose
    // length differs from the sampled dim would get all-zero band codes
    // (SignBitsPacked's plane-length guard), silently flooding bucket 0
    // and degrading the join toward quadratic — fail loudly instead.
    val st = reps.agg(count(lit(1)).as("n"),
      sum(when(col("__v").isNull, 1L).otherwise(0L)).as("nulls"),
      min(size(col("__v"))).as("dmin"), max(size(col("__v"))).as("dmax")).head()
    val n = st.getLong(0)
    require(n > 0, "lshNearDupAdaptive: empty vector set")
    require(st.getLong(1) == 0L,
      s"lshNearDupAdaptive: ${st.getLong(1)} null $vecCol vectors — filter or impute them first")
    val dim = st.getInt(2)
    require(dim > 0 && st.getInt(3) == dim,
      s"lshNearDupAdaptive: non-uniform $vecCol dimension (min $dim, max ${st.getInt(3)}) — " +
        "mixed-dimension corpora must be partitioned by dim first")
    val (bands, bits) = adaptiveBanding(n, threshold, targetOccupancy, recallFloor, maxPlanes)
    val sigWords = (sigBits + 63) / 64
    val planes = gaussianPlanes(seed, bands * bits + sigWords * 64, dim)
    val groups = Array.fill(bands)(bits) ++ Array.fill(sigWords)(64)
    // Band codes + signature in ONE fused pass over each rep vector.
    val packed = graft.Graft.materialize(reps.select(col("id"), col("__v"),
      graft.functions.VectorExpressions.sign_bits_packed(col("__v"), planes, groups)
        .as("__sb"))
      .select(col("id"), col("__v"),
        slice(col("__sb"), 1, bands).as("__codes"),
        slice(col("__sb"), bands + 1, sigWords.max(1)).as("__sig")))
    // Code-level collapse: identical code vectors ⇒ identical candidate
    // sets; only code-class reps join buckets, classes expand below.
    val ccTagged = ExactCollapse.tag(packed.select(col("id"), col("__codes")),
      "id", Seq(col("__codes")))
    val ccReps = ExactCollapse.reps(ccTagged, "id")
    val ccMem = ExactCollapse.members(ccTagged, "id")
    val banded = graft.Graft.materialize(
      ccReps.select(col("id"), posexplode(col("__codes")).as(Seq("band", "bucket"))))
    val candCC = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("vec_a"), col("y.id").as("vec_b"))
      .distinct()
      .unionByName(ExactCollapse.dupSelfPairs(ccMem, "vec_a", "vec_b"))
    // Expand code classes BEFORE scoring: code-identical reps are not
    // value-identical, so every member pair needs its own rerank. The
    // VALUE-level classes need their self-pairs injected here too (their
    // in-group pairs surface via rep self-pairs at final expansion, like
    // the fixed path) — hamming(sig, sig) = 0, so they pass the
    // prefilter, and cos(v, v) scores them exactly (1, or 0 for the
    // zero vector).
    val cand = ExactCollapse.expand(candCC, ccMem, "vec_a", "vec_b")
      .unionByName(ExactCollapse.dupSelfPairs(mem, "vec_a", "vec_b"))
    // Hamming prefilter: drop pairs whose signature-estimated agreement
    // sits sigMarginSigmas below the threshold's expected agreement.
    val maxHam = if (sigBits <= 0) Long.MaxValue
      else sigMaxHamming(threshold, sigWords * 64, sigMarginSigmas)
    val sa = packed.select(col("id").as("vec_a"), col("__sig").as("__sa"))
    val sb = packed.select(col("id").as("vec_b"), col("__sig").as("__sb2"))
    val pre = if (sigBits <= 0) cand else
      cand.join(sa, "vec_a").join(sb, "vec_b")
        .filter(graft.functions.VectorExpressions
          .hamming_native(col("__sa"), col("__sb2")) <= maxHam)
        .select("vec_a", "vec_b")
    // Exact rerank — identical scoring expression to the fixed path.
    val va = packed.select(col("id").as("vec_a"), col("__v").as("__va"))
    val vb = packed.select(col("id").as("vec_b"), col("__v").as("__vb"))
    val scored = pre.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
    val pairs = ExactCollapse.expand(scored, mem, "vec_a", "vec_b")
    val predicted = bandingRecall(threshold, bands, bits) *
      (if (sigBits <= 0) 1.0 else normalCdf(sigMarginSigmas))
    AdaptiveNearDup(n, bands, bits, sigWords * 64, maxHam, predicted,
      cand, pre, pairs)
  }

  /** Max Hamming distance a candidate pair may show over `sigBits`
    * signature bits before the prefilter drops it: the binomial
    * `sigMarginSigmas`-sigma lower bound on bit agreement at `threshold`.
    * Exposed (and used by [[lshNearDupAdaptive]]) so oracle replays embed
    * the engine's own integer cut instead of re-deriving it in another
    * engine's floating point. `sigBits` must be the PADDED width
    * (sigWords·64) the engine actually compares. */
  def sigMaxHamming(threshold: Double, sigBits: Int, sigMarginSigmas: Double): Long = {
    val p = signAgreeProb(threshold)
    val nb = sigBits.toDouble
    val cut = p - sigMarginSigmas * StrictMath.sqrt(p * (1.0 - p) / nb)
    math.floor(nb * (1.0 - cut)).toLong
  }

  /** Φ(x) via erf — for the predicted-recall report only. */
  private def normalCdf(x: Double): Double = {
    // Abramowitz–Stegun 7.1.26 erf approximation (4.5e-4 abs error).
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(x) / StrictMath.sqrt(2.0))
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t *
      StrictMath.exp(-x * x / 2.0)
    if (x >= 0) 0.5 * (1.0 + y) else 0.5 * (1.0 - y)
  }
}
