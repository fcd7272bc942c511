package graft.dedup

import graft.text.{QualitySignals, TextOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (driver
  * north-star): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every variant is shuffle-bounded by its key —
  *  - exact: one groupBy on the fingerprint hash (128-bit md5 keys
  *    distribute uniformly; no skew);
  *  - MinHash LSH: docs → b band keys each (b small constant), one
  *    groupBy per banded key; candidate pairs only ever materialize
  *    within a bucket (never the n² cross join);
  *  - SimHash: 64-bit signature → 4×16-bit band keys, same bucketing;
  *  - n-gram Jaccard: shingle-level join with distinct-shingle
  *    pre-aggregation; hot shingles (stopword trigrams) are the skew
  *    risk — the `maxDf` document-frequency cap drops degenerate
  *    shingles before the pair join (see [[ngramJaccard]]), itself
  *    applied as a SALTED anti-join so the cap never creates the
  *    hot-key exchange it exists to prevent, with AQE skew-join as
  *    the residual backstop.
  *
  * Each signature has one hash family, derived from md5 so that any
  * SQL engine with md5 reproduces it: [[minhashMd5]] and
  * [[simhash64Md5]]/[[simhashMd5]]. Text normalization is
  * `QualitySignals.words`/`TextOps.fingerprint`.
  *
  * Pairs become clusters through one of two connected-components
  * kernels with the same contract: [[connectedComponents]] (min-label
  * propagation; d6, d11) and [[connectedComponentsStars]]
  * (large-star/small-star; d7, LshEval). Both stay, each faster on its
  * graph shape; [[connectedComponentsStars]] gives the measurements.
  */
object Dedup {

  /** Salt fan-out for the maxDf cap's anti-join (see
    * [[ngramJaccardCollapsedW]]): each over-cap shingle key is spread
    * across this many reducers. 64 turns the probe-measured 5.4×
    * hot-key straggler into a ≤1.1× residual while replicating only
    * the (small) over-cap set, not the keep set. */
  private val capSaltBuckets = 64

  /** Exact dedup: group by normalized-text fingerprint, keep the lowest
    * id, report group size. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** Word k-shingles, distinct per doc, lowercased. */
  def shingles(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // Materialize the split as a real column FIRST: an expression
    // referenced inside a higher-order-function lambda is re-evaluated
    // per element, so an inline `words` would re-run the regex+split
    // once per shingle index (~50× per doc — measured 10-50s vs ~2s at
    // sf0.1).
    val withWords = docs.withColumn("__words", QualitySignals.words(col(textCol)))
    val words = col("__words")
    // sequence(1, 0) would DESCEND ([1,0]) — guard docs shorter than k.
    val idxs = when(size(words) >= k, sequence(lit(1), size(words) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    withWords.select(col(idCol),
      explode(transform(idxs,
        i => concat_ws(" ", slice(words, i, lit(k))))).as("shingle"))
      .filter(length(col("shingle")) > 0)
      .distinct()
  }

  /** MinHash signatures from an engine-neutral md5-derived 2-universal
    * family: one md5 per shingle split into h1 (60-bit) and h2 (56-bit),
    * hash_i = h1 + i·h2. Bounded: h1 + i·h2 ≤ 2^60 + (numHashes−1)·2^56,
    * which stays below 2^63−1 only for numHashes ≤ 112 — enforced, so
    * Spark's silent wraparound can never diverge from an engine where
    * BIGINT overflow errors. Any SQL engine with md5 reproduces the
    * signatures. h1/h2 land in real columns before the aggregation so
    * the md5 runs once per shingle, not once per hash. */
  def minhashMd5(sh: DataFrame, numHashes: Int, idCol: String = "doc_id"): DataFrame = {
    require(numHashes <= 112,
      s"numHashes=$numHashes would overflow h1 + i*h2 past Long.MaxValue (max 112)")
    val based = sh.withColumn("__md5", md5(col("shingle")))
      .withColumn("__h1", conv(substring(col("__md5"), 1, 15), 16, 10).cast("long"))
      .withColumn("__h2", conv(substring(col("__md5"), 17, 14), 16, 10).cast("long"))
    val hashes = (0 until numHashes).map(i =>
      min(col("__h1") + lit(i.toLong) * col("__h2")).as(s"h$i"))
    based.groupBy(col(idCol)).agg(hashes.head, hashes.tail: _*)
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numHashes), bucket-join per band, emit distinct (a < b) pairs. */
  def minhashCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      idCol: String = "doc_id"): DataFrame = {
    val banded = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      sigs.select(col(idCol).as("id"),
        lit(b).as("band"), xxhash64(cols: _*).as("bucket"))
    }.reduce(_ unionByName _)
    banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .distinct()
  }

  /** Estimated Jaccard from signatures: fraction of agreeing hashes. */
  def minhashJaccard(sigs: DataFrame, pairs: DataFrame, numHashes: Int,
      idCol: String = "doc_id"): DataFrame = {
    val a = sigs.select(col(idCol).as("doc_a") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = sigs.select(col(idCol).as("doc_b") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"b$i")): _*)
    val agree = (0 until numHashes).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numHashes
    pairs.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"), agree.as("jaccard_est"))
  }

  /** SimHash 64-bit signature of a document's word multiset, from
    * md5-derived word hashes (first 16 hex chars of md5(word), read as
    * an unsigned 64-bit value): bit i of the signature is set iff more
    * words have bit i set than clear. Any engine with md5 reproduces it. */
  def simhash64Md5(words: Seq[String]): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](64)
    words.foreach { w =>
      digest.reset()
      val bytes = digest.digest(w.getBytes("UTF-8"))
      // first 16 hex chars = first 8 bytes, big-endian
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (bytes(k).toLong & 0xffL); k += 1 }
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  private val simhashMd5Udf = udf((text: String) =>
    Option(text).map(t =>
      simhash64Md5(t.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty))))

  def simhashMd5(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), simhashMd5Udf(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    * keys (any pair within hamming ≤ 3 of a band collides in ≥1 band for
    * uniformly spread differences), then exact hamming filter.
    *
    * Equal-SIGNATURE classes collapse to a min-id representative before
    * the band join (hamming is a function of the signatures alone, so
    * every member pair inherits its rep pair's hamming; in-class pairs
    * are hamming 0 by definition and come from rep self-pairs). This is
    * the d2/d4/d10 rule applied to the one kernel that had skipped it:
    * a corpus that is mostly exact duplicates makes the un-collapsed
    * banded self-join quadratic in clone-class size ×4 bands — measured
    * 232 s at the 100× replica vs linear-in-unique + output after. */
  def simhashPairs(sigs0: DataFrame, maxHamming: Int, idCol: String = "doc_id"): DataFrame = {
    // null signatures (null text) never banded-match today; keep them out
    // of the collapse so they don't self-pair at hamming 0
    val tagged = ExactCollapse.tag(
      sigs0.filter(col("simhash").isNotNull), idCol, Seq(col("simhash")))
    val mem = ExactCollapse.members(tagged, idCol)
    // 4 bands × 2 join sides read the rep signatures — materialize once
    // so the per-word hash UDF doesn't run 8× (see Graft.materialize for
    // the localCheckpoint-vs-cache trade).
    val sigs = graft.Graft.materialize(ExactCollapse.reps(tagged, idCol))
    val banded = (0 until 4).map { b =>
      sigs.select(col(idCol).as("id"), col("simhash").as("sig"),
        lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("bucket"))
    }.reduce(_ unionByName _)
    val repPairs = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .unionByName(ExactCollapse.dupSelfPairs(mem, "doc_a", "doc_b")
        .withColumn("hamming", lit(0)))
    ExactCollapse.expand(repPairs, mem, "doc_a", "doc_b")
  }

  /** Connected components over an undirected pair list — turns near-dup
    * PAIRS into duplicate CLUSTERS (the step between candidate
    * generation and keeper selection). Iterative min-label propagation:
    * each round every node adopts the smallest label among itself and
    * its neighbors; converges in O(component diameter) rounds. Each
    * round is one keyed shuffle, and the label frame is re-materialized
    * per round (Graft.materialize) so lineage doesn't stack across
    * iterations — the canonical iterative-Spark shape at any scale.
    *
    * Round-count note (measured): the embedding near-dup graph (d7)
    * takes 17 rounds — its components are chain-shaped. A pointer-
    * jumping variant (each node also adopting label(label(v))) was
    * measured here and REJECTED: it cut rounds only 17→13 (random id
    * placement already gives plain propagation most of the log-style
    * speedup on real graphs) while adding a second keyed self-join per
    * round — net ~2× slower wall-clock. If a future corpus produces
    * id-sorted chains (the true adversarial case), the alternating
    * large-star/small-star scheme (Kiveris et al. 2014) is the right
    * upgrade, not single-hop jumping. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    // materialize the directed edge list FIRST, then symmetrize from the
    // checkpoint: a union of `pairs` with its own swap would execute the
    // pair-generation pipeline upstream (LSH banding, a shingle
    // self-join…) once per union branch — measured 2× the dominant cost
    // of d6/d7 — and every iteration joins against the result, so it
    // must not re-run per round either.
    val half = graft.Graft.materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val sym = graft.Graft.materialize(
      half.unionByName(half.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    // Convergence test: per-node min-labels are monotonically
    // non-increasing, so Σlabel strictly decreases iff any node changed —
    // one decimal aggregate per round instead of a join-with-previous +
    // count (decimal so the test cannot overflow at any id scale).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    // Sentinel start: round 1 is always treated as changed, so the
    // initial label sum never needs its own action.
    var prevSum: java.math.BigDecimal = null
    var done = false
    while (!done) {
      val prop = labels.join(sym, col("node") === col("src"))
        .select(col("dst").as("node"), col("label"))
      val next = graft.Graft.materialize(
        labels.unionByName(prop)
          .groupBy("node").agg(min(col("label")).as("label")))
      val s = labelSum(next)
      done = (s == null && prevSum == null) ||
        (s != null && prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      labels = next
    }
    labels
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — O(log²) rounds regardless of component DIAMETER,
    * where [[connectedComponents]]'s min-label propagation needs
    * O(diameter) rounds. Same contract: (node, label) for every node of
    * `pairs`, self-pairs included, label = smallest transitively
    * reachable id; TextDedupSpec checks both against union-find. Use this
    * one when components can be chain-shaped (measured: the d7 embedding
    * near-dup graph takes 17 propagation rounds but 4 star
    * alternations); min-label stays the kernel for shallow clique-like
    * dup clusters, where its 2-shuffle rounds are cheaper than the
    * stars' 6 (d6's rep graph at sf0.1, 4 cpus, warm, 5 alternating
    * reps: min-label 1.36–1.90 s and 22 jobs, stars 2.10–3.37 s and 30
    * jobs).
    *
    * One alternation: large-star links every strictly-larger neighbor
    * of each center u to m = min(N(u) ∪ {u}); small-star orients edges
    * hi→lo and links each center's smaller neighbors (and itself) to
    * their min. Star forests centered at component minima are the
    * unique fixed point, detected exactly: canonical distinct edge sets
    * of equal size are equal iff `next \ edges` is empty. */
  def connectedComponentsStars(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    import graft.Graft.materialize
    // Nodes come from the pairs before the self-pair filter: a node whose
    // only pair is (r, r) is its own component. One materialized frame
    // feeds both, so the input pipeline runs once.
    val canon = materialize(pairs.select(
      least(col(aCol), col(bCol)).as("lo"),
      greatest(col(aCol), col(bCol)).as("hi")).distinct())
    val nodes = canon.select(col("lo").as("node"))
      .unionByName(canon.select(col("hi").as("node"))).distinct()
    var edges = canon.filter(col("lo") =!= col("hi"))
    // Cheap per-round fingerprint: (count, wrapping sum of per-edge
    // xxhash64). One agg job; equality is necessary for set equality,
    // so the EXACT exceptAll confirmation below only ever runs when the
    // fingerprint already matches (≈ once, at the true fixed point) —
    // not on every round where the count alone happens to tie (star
    // alternations often preserve edge COUNT long before they
    // converge; the count-only check paid an exceptAll job per round).
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(col("lo"), col("hi"))), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    var (prevCount, prevChk) = fingerprint(edges)
    var done = prevCount == 0L
    while (!done) {
      // large-star over the symmetric neighborhood view
      val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(edges.select(col("hi").as("u"), col("lo").as("v")))
      val m1 = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = sym.join(m1, "u").filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
      // small-star over the hi→lo orientation (lo < hi throughout, so
      // min(Γ⁻(u) ∪ {u}) is just min(lo))
      val m2 = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val next = materialize(
        large.join(m2, "hi").select(col("m"), col("lo").as("x"))
          .unionByName(m2.select(col("m"), col("hi").as("x")))
          .filter(col("m") =!= col("x"))
          .select(col("m").as("lo"), col("x").as("hi")).distinct())
      val (c, chk) = fingerprint(next)
      done = c == prevCount && chk == prevChk && next.exceptAll(edges).isEmpty
      prevCount = c
      prevChk = chk
      edges = next
    }
    // at the fixed point every non-center appears as hi exactly once,
    // pointing at its component min; centers and isolated nodes label
    // themselves
    edges.select(col("hi").as("node"), col("lo").as("label"))
      .unionByName(
        nodes.join(edges.select(col("hi").as("node")), Seq("node"), "left_anti")
          .select(col("node"), col("node").as("label")))
  }

  /** Triangle count over an oriented edge list (aCol < bCol): the basic
    * graph-cohesion statistic over a similarity graph. Two self-joins on
    * edge endpoints — each a keyed shuffle of the (small relative to the
    * corpus) edge list, never touching the underlying documents; the
    * a<b orientation means each triangle is counted exactly once. */
  def triangleCount(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val e = graft.Graft.materialize(
      pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }

  /** Exact n-gram Jaccard similarity for pairs above a threshold:
    * distinct-shingle join → per-pair intersection counts → |A∩B| /
    * (|A|+|B|−|A∩B|).
    *
    * `maxDf` is the hot-shingle skew guard: shingles appearing in more
    * than `maxDf` documents (stopword runs like "the end of") are
    * dropped from the shingle universe BEFORE the pair self-join — on a
    * skewed corpus the hottest shingle's bucket otherwise dominates the
    * join (its pair count grows as df², and a df-10⁶ shingle alone
    * yields ~5·10¹¹ candidate pairs). Sizes and intersections are both
    * computed over the capped universe, so the Jaccard stays a
    * consistent set similarity; a df-capped shingle carries ~zero
    * near-dup signal by definition (it fails the inverse-document-
    * frequency test). Default Int.MaxValue = uncapped. */
  def ngramJaccard(docs: DataFrame, k: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      maxDf: Int = Int.MaxValue): DataFrame = {
    val (reps, mem) = textCollapse(docs, idCol, textCol)
    val (repPairs, memFull) = ngramJaccardCollapsedW(
      shingles(reps, k, idCol, textCol), mem, threshold, idCol, maxDf)
    ExactCollapse.expand(repPairs, memFull, "doc_a", "doc_b")
  }

  /** [[ngramJaccard]] from a prebuilt (id, shingle) frame over the FULL
    * corpus — no pre-shingle text collapse (the identity membership),
    * so every doc pays its own shingle hashing. Prefer
    * [[textCollapse]] + [[ngramJaccardCollapsedW]] when the corpus may
    * contain exact duplicates. */
  def ngramJaccardFromShingles(shingleDf: DataFrame, threshold: Double,
      idCol: String = "doc_id", maxDf: Int = Int.MaxValue): DataFrame = {
    val ids = shingleDf.select(col(idCol)).distinct()
    val identityMem = ids.select(col(idCol).as("__rep"), col(idCol).as("__member"))
    val (repPairs, mem) =
      ngramJaccardCollapsedW(shingleDf, identityMem, threshold, idCol, maxDf)
    ExactCollapse.expand(repPairs, mem, "doc_a", "doc_b")
  }

  /** Collapse value-identical documents (on the normalized-text md5
    * fingerprint — the identity [[exact]] uses) to their min-id rep
    * BEFORE any shingling or signature work: (rep docs, (__rep,
    * __member) membership). Every per-shingle cost downstream
    * (explode, 64-bit hashing, 16 minhash lanes, collect_list set
    * keys) then scales with UNIQUE text instead of the corpus — on a
    * web-crawl-shaped corpus that is the dominant constant. One md5
    * per doc + one hash-partitioned window; no global sort. */
  def textCollapse(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val tagged = ExactCollapse.tag(
      docs.withColumn("__fp", TextOps.fingerprint(col(textCol))),
      idCol, Seq(col("__fp")))
    (ExactCollapse.reps(tagged, idCol).drop("__fp"),
      ExactCollapse.members(tagged, idCol))
  }

  /** Collapsed n-gram-Jaccard kernel over an already text-collapsed
    * corpus: `repSh` is the (id, shingle) frame of the REP docs from
    * [[textCollapse]] and `textMem` its membership. Returns (rep-level
    * pairs incl. (r, r) in-class rows, membership composed down to
    * original doc ids). The document-frequency cap counts DOCUMENTS of
    * the full corpus, so each rep shingle weighs its clone-class size —
    * exactly the full-corpus df, at unique-content cost. The second
    * collapse key is the post-cap shingle-hash multiset (two reps with
    * different text can still tie there when the cap eats the
    * difference); final classes = multiset classes composed with text
    * classes. Counting consumers ([[evalCollapsedPairs]]) stay at rep
    * level; pair-list consumers expand. */
  def ngramJaccardCollapsedW(repSh: DataFrame, textMem: DataFrame,
      threshold: Double, idCol: String = "doc_id",
      maxDf: Int = Int.MaxValue): (DataFrame, DataFrame) = {
    // join on the 64-bit shingle hash, not the string: same counts
    // (collisions at ~1e-10 for realistic shingle cardinalities) with a
    // far smaller shuffle payload.
    val shAll = graft.Graft.materialize(repSh
      .select(col(idCol), xxhash64(col("shingle")).as("sh"))) // feeds 2 join sides + sizes
    val sh = if (maxDf == Int.MaxValue) shAll else {
      // full-corpus df = Σ clone-class sizes over rep docs containing
      // the shingle; one aggregation on the shingle key (partial-agg
      // bounded: a hot shingle contributes ≤ one partial row per map
      // partition to the exchange, so Zipf mass never lands on one
      // reducer here)
      val weights = textMem.groupBy(col("__rep"))
        .agg(count(lit(1)).as("__w"))
        .select(col("__rep").as(idCol), col("__w"))
      val overCap = shAll.join(weights, idCol)
        .groupBy("sh").agg(sum(col("__w")).as("__df"))
        .filter(col("__df") > maxDf).select("sh")
      // Apply the cap as a SALTED anti-join against the over-cap set,
      // not a semi-join against the keep set: a plain sh-keyed exchange
      // of shAll puts every row of the hottest shingle (df ~ corpus
      // size on a Zipf head) in ONE partition — measured at probe
      // F=1000 as a 5.4× straggler with 7.3 GB of spill even though
      // the join OUTPUT for that key is empty (it fails the cap). The
      // doc-id-derived salt spreads each hot key across `capSaltBuckets`
      // reducers while the over-cap set — small by construction, at
      // most Σdf/maxDf distinct shingles and in practice the Zipf
      // head — is replicated once per bucket (and is broadcast-sized
      // whenever the corpus lets Catalyst prove it, which removes the
      // shAll exchange entirely). Same rows out: anti(df>cap) ≡
      // semi(df≤cap) because every shAll shingle has a df row.
      val dropSalted = overCap.select(col("sh"),
        explode(sequence(lit(0L), lit((capSaltBuckets - 1).toLong))).as("__salt"))
      graft.Graft.materialize(
        shAll.withColumn("__salt", pmod(xxhash64(col(idCol)), lit(capSaltBuckets.toLong)))
          .join(dropSalted, Seq("sh", "__salt"), "left_anti")
          .drop("__salt"))
    }

    // Exact-dup collapse (ExactCollapse): sizes, intersections — hence
    // every jaccard — are functions of the doc's capped shingle-hash
    // MULTISET, so reps identical on it collapse once more before the
    // shared-shingle self-join (under maxDf the multiset is the
    // post-cap one, so the collapse key sees exactly what the join
    // sees). Rep shingle rows come back from exploding the key — no
    // second scan of `sh`.
    val setKey = sh.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("sh"))).as("__set"))
    val tagged = ExactCollapse.tag(setKey, idCol, Seq(col("__set")))
    // compose multiset classes (over reps) with text classes (over all
    // docs): a member's final rep is its text-rep's multiset-rep
    val mem = ExactCollapse.members(tagged, idCol)
      .select(col("__rep"), col("__member").as("__mid"))
      .join(textMem.select(col("__rep").as("__mid"), col("__member")), "__mid")
      .select(col("__rep"), col("__member"))
    val shReps = ExactCollapse.reps(tagged, idCol)
      .select(col(idCol), explode(col("__set")).as("sh"))
    val sizes = shReps.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = shReps.select(col(idCol).as("doc_a"), col("sh"))
      .join(shReps.select(col(idCol).as("doc_b"), col("sh")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val repPairs = inter
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      // in-group pairs: |A∩B|/|A∪B| with A = B is sz/(2sz−sz) — exactly
      // 1.0 in IEEE, no computation needed; still subject to the filter
      .unionByName(ExactCollapse.dupSelfPairs(mem, "doc_a", "doc_b")
        .withColumn("jaccard", lit(1.0)))
      .filter(col("jaccard") >= threshold)
    (repPairs, mem)
  }

  /** Count |expand(truthRp)|, |expand(candRp)| and the size of their
    * member-pair intersection WITHOUT expanding either side — class
    * arithmetic on the collapsed forms of two pair generators over the
    * same corpus. A cross rep pair (a, b) expands to nₐ·n_b member
    * pairs, an in-class row (r, r) to n·(n−1)/2. The two generators
    * collapse on DIFFERENT keys, so the hit count runs through their
    * common refinement: joint classes (rep_t, rep_c) built by joining
    * the memberships on the member id; a member pair is in the
    * intersection iff its truth rep pair is in `truthRp` AND its cand
    * rep pair is in `candRp`. Requires memT's universe ⊆ memC's (every
    * truth-side member also has a cand-side rep). Returns one row
    * (n_truth, n_cand, n_hit) — the shape that stays linear in unique
    * content when the corpus is 99 % clones and the expanded pair sets
    * are quadratic. */
  def evalCollapsedPairs(truthRp: DataFrame, memT: DataFrame,
      candRp: DataFrame, memC: DataFrame): DataFrame = {
    def expandedCount(rp: DataFrame, mem: DataFrame, out: String): DataFrame = {
      val sz = mem.groupBy(col("__rep")).agg(count(lit(1)).as("n"))
      rp.join(sz.select(col("__rep").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sz.select(col("__rep").as("doc_b"), col("n").as("nb")), "doc_b")
        .agg(coalesce(sum(when(col("doc_a") === col("doc_b"),
          expr("na * (na - 1) div 2")).otherwise(col("na") * col("nb"))),
          lit(0L)).as(out))
    }
    val jc = graft.Graft.materialize(
      memT.select(col("__rep").as("rt"), col("__member").as("m"))
        .join(memC.select(col("__rep").as("rc"), col("__member").as("m")), "m")
        .groupBy("rt", "rc").agg(count(lit(1)).as("nj")))
    val tj = truthRp.select("doc_a", "doc_b")
      .join(jc.select(col("rt").as("doc_a"), col("rc").as("ca"), col("nj").as("nja")), "doc_a")
      .join(jc.select(col("rt").as("doc_b"), col("rc").as("cb"), col("nj").as("njb")), "doc_b")
      // within an in-class truth row the joint-class pair is unordered:
      // keep each (ca, cb) combination once
      .filter(col("doc_a") =!= col("doc_b") || col("ca") <= col("cb"))
    val hit = tj.join(
        candRp.select(col("doc_a").as("x"), col("doc_b").as("y")),
        least(col("ca"), col("cb")) === col("x") &&
          greatest(col("ca"), col("cb")) === col("y"))
      .agg(coalesce(sum(when(col("ca") === col("cb") && col("doc_a") === col("doc_b"),
        expr("nja * (nja - 1) div 2")).otherwise(col("nja") * col("njb"))),
        lit(0L)).as("n_hit"))
    expandedCount(truthRp, memT, "n_truth")
      .crossJoin(expandedCount(candRp, memC, "n_cand"))
      .crossJoin(hit)
  }

  /** Word-level edit-distance ≤ 1 near-dup pairs via deletion-
    * neighborhood signatures (the FastSS / SymSpell scheme): every doc
    * emits md5 of its normalized text plus md5 of each single-word
    * deletion; two docs are within one word edit (insert / delete /
    * substitute) IFF they share a signature — equal docs share the full
    * hash, an insert/delete pair shares (full hash of the shorter =
    * deletion hash of the longer), a substitution pair shares the
    * deletion at the substituted position. Candidates come from one
    * keyed equi-join carrying only (id, hash) — never an n² sweep.
    *
    * A signature is a PAIR of polynomial hashes over per-word integer
    * hashes (md5-derived, engine-neutral), bases 31 and 131 mod 1e9+7
    * (two independent hashes because one 1e9-sized space would
    * birthday-collide across millions of signatures; the pair's
    * collision odds are ~1e-18 per candidate). The build is O(len) per
    * doc — NOT O(len²): with position weights W_j = w_j·B^(n-j), the
    * deletion-at-i hash is
    *   D_i = B⁻¹·Σ_{j<i} W_j  +  (F − Σ_{j<i} W_j − W_i)   (mod p)
    * where F = Σ W_j is the full-text hash (≡ the left fold
    * acc·B + w_j) and B⁻¹ is the modular inverse — so ONE windowed
    * prefix sum over the posexploded words yields every deletion
    * signature in constant work per word. Powers B^k come from a
    * precomputed literal table (docs capped at [[MaxDelWords]] words;
    * longer docs are dropped from this operator — chunk first). One
    * shuffle on the doc id computes both window frames; the candidate
    * join carries only (id, s1, s2). Collapse exact-dup classes FIRST
    * (d1): a class of n identical docs is the only input that makes
    * the signature join quadratic. */
  val MaxDelWords = 4096

  def deletionNeighborPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (repPairs, mem) = deletionNeighborPairsCollapsed(docs, idCol, textCol)
    ExactCollapse.expand(repPairs, mem, "doc_a", "doc_b")
  }

  /** Collapsed form of [[deletionNeighborPairs]]: (rep-level pairs,
    * (__rep, __member) membership). Lets a consumer attach per-pair
    * functions OF THE TEXTS (e.g. d10's character Levenshtein) at rep
    * level — once per distinct text pair instead of once per member
    * pair — before expanding. */
  def deletionNeighborPairsCollapsed(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val P = 1000000007L
    val Inv = Map(31 -> 129032259L, 131 -> 190839696L) // base⁻¹ mod p
    def powTable(base: Long): Seq[Long] =
      Iterator.iterate(1L)(_ * base % P).take(MaxDelWords + 1).toSeq
    // Exact-dup collapse (the "collapse exact-dup classes FIRST" rule
    // above, now enforced here rather than left to the caller): all
    // signatures are functions of the text value, so text-identical
    // docs run the signature machinery once; in-group pairs (edit
    // distance 0) come from rep self-pairs gated on the same
    // MaxDelWords eligibility the bucket path applies.
    val tagged = ExactCollapse.tag(
      docs.select(col(idCol), col(textCol)), idCol, Seq(col(textCol)))
    val repDocs = ExactCollapse.reps(tagged, idCol)
    val mem = ExactCollapse.members(tagged, idCol)
    val eligible = repDocs
      .withColumn("__ws", QualitySignals.words(col(textCol)))
      .filter(size(col("__ws")) <= MaxDelWords)
    val rows = eligible
      .withColumn("__n", size(col("__ws")))
      .select(col(idCol), col("__n"),
        posexplode(col("__ws")).as(Seq("__j0", "__w")))
      .withColumn("__j", col("__j0") + 1)
      .withColumn("__wh", conv(substring(md5(col("__w")), 1, 15), 16, 10)
        .cast("long") % P)
    def weighted(base: Int) = // W_j = w_j · B^(n-j) mod p, table is 1-indexed
      col("__wh") * element_at(typedLit(powTable(base)), col("__n") - col("__j") + 1) % P
    val w = Window.partitionBy(idCol).orderBy("__j")
    val pre = w.rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy(idCol)
    def sigCols(base: Int, tag: String): Seq[Column] = {
      val W = weighted(base)
      val preS = coalesce(sum(W).over(pre), lit(0L)) // ≤ MaxDelWords·p, fits long
      val totS = sum(W).over(all)
      Seq((((preS % P) * Inv(base)) % P +
        (((totS - preS - W) % P) + P) % P).%(P).as(s"d$tag"),
        (totS % P).as(s"f$tag"))
    }
    // Materialized: this frame feeds FOUR consumers (two union branches ×
    // two sides of the candidate self-join below), and without the
    // checkpoint the whole posexplode → two-window prefix-sum chain
    // executes once per consumer (measured with RepProbe at sf0.1/32cpu:
    // two identical 64-task window stages were d10's top cost, ~8 of ~12
    // task-run seconds per rep — the same recompute-per-join-branch trap
    // lshPairsCollapsed already plugs for its signature frame).
    val withSigs = graft.Graft.materialize(rows.select(
      (col(idCol) +: col("__j") +: (sigCols(31, "1") ++ sigCols(131, "2"))): _*))
    // deletion signatures: one per word; full-text signature: once per doc
    val sigs = withSigs
      .select(col(idCol), col("d1").as("s1"), col("d2").as("s2"))
      .unionByName(withSigs.filter(col("__j") === 1)
        .select(col(idCol), col("f1").as("s1"), col("f2").as("s2")))
    val repPairs = sigs.select(col(idCol).as("doc_a"), col("s1"), col("s2"))
      .join(sigs.select(col(idCol).as("doc_b"), col("s1"), col("s2")),
        Seq("s1", "s2"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .unionByName(ExactCollapse.dupSelfPairs(mem, "doc_a", "doc_b")
        .join(eligible.select(col(idCol).as("doc_a")), Seq("doc_a"), "left_semi"))
    (repPairs, mem)
  }

  /** Non-overlapping word segments of `segLen` words (the CCNet-style
    * unit for bulk boilerplate removal — vs `shingles`' overlapping
    * windows for pairwise similarity). The tail segment may be shorter.
    * Keeps WITHIN-doc duplicates (a doc repeating its own segment counts
    * toward duplication), one output row per segment occurrence. */
  def segments(docs: DataFrame, segLen: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val withWords = docs.withColumn("__words", QualitySignals.words(col(textCol)))
    val words = col("__words")
    val n = when(length(trim(col(textCol))) === 0, 0).otherwise(size(words))
    val idxs = when(n > 0, sequence(lit(0), floor((n - 1) / segLen).cast("int")))
      .otherwise(array().cast("array<int>"))
    withWords.select(withWords.columns.filter(_ != "__words").map(col) :+
      explode(transform(idxs,
        i => concat_ws(" ", slice(words, i * segLen + 1, lit(segLen))))).as("seg"): _*)
  }
}
