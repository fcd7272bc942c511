package graft

import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("token count: whitespace runs, blank -> 0") {
    val df = Seq("one two  three", "", "   ", "solo").toDF("text")
      .select(TextOps.tokenCount(col("text")).as("n"))
    assert(df.as[Int].collect().toSeq == Seq(3, 0, 0, 1))
  }

  test("language-ID picks the right stopword language + CJK override") {
    val df = Seq(
      ("the cat and the dog is here", "en"),
      ("el gato y la casa de que", "es"),
      ("le chat et les maisons dans", "fr"),
      ("der hund und die katze ist", "de"),
      ("这是一个中文文本", "zh"),
      ("xyzzy qwerty", "und"))
      .toDF("text", "expected")
    val got = TextOps.withLangId(df, "text", "got").select("got", "expected")
      .as[(String, String)].collect()
    got.foreach { case (g, e) => assert(g == e, s"expected $e got $g") }
  }

  test("bpeish count approximates subword pieces deterministically") {
    val df = Seq("hello world", "a,b.c", "", "x123y").toDF("text")
      .select(TextOps.bpeishCount(col("text")).as("n"))
    val got = df.as[Int].collect().toSeq
    assert(got(0) == 2)       // two letter-runs
    assert(got(1) == 5)       // a , b . c
    assert(got(3) == 3)       // x 123 y
  }

  test("fingerprint ignores case and whitespace runs") {
    val df = Seq("Hello  World", "hello world", "hello  world  ").toDF("text")
      .select(TextOps.fingerprint(col("text")).as("fp"))
    assert(df.distinct().count() == 1)
  }

  test("exact dedup groups normalized copies under the lowest keeper") {
    val docs = Seq((1L, "A b c"), (2L, "a  b C"), (3L, "different")).toDF("doc_id", "text")
    val got = Dedup.exact(docs).orderBy("keeper")
      .select("keeper", "n_dups").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("shingles: distinct word 3-grams, short docs yield none") {
    val docs = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, 3).as[(Long, String)].collect().toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d")))
  }

  test("minhash LSH finds near-duplicates and estimates jaccard high") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),               // near-dup of 1
      (3L, "completely unrelated content about database engines and query planners today"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, 3)
    val sigs = Dedup.minhashMd5(sh, 16)
    val cands = Dedup.minhashCandidates(sigs, 4, 4)
    val scored = Dedup.minhashJaccard(sigs, cands, 16)
      .as[(Long, Long, Double)].collect()
    val pair12 = scored.find(r => r._1 == 1L && r._2 == 2L)
    assert(pair12.isDefined, "near-dup pair (1,2) not found by LSH")
    assert(pair12.get._3 > 0.5)
    assert(!scored.exists(r => r._2 == 3L && r._3 > 0.5))
  }

  test("simhash: identical docs same signature; near-dups low hamming") {
    val a = Dedup.simhash64Md5("the quick brown fox jumps over the lazy dog".split(" ").toSeq)
    val b = Dedup.simhash64Md5("the quick brown fox jumps over the lazy dog".split(" ").toSeq)
    assert(a == b)
    val c = Dedup.simhash64Md5("the quick brown fox jumps over the lazy cat".split(" ").toSeq)
    assert(java.lang.Long.bitCount(a ^ c) <= 16)
    val docs = Seq((1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(Dedup.simhashMd5(docs), 8)
      .as[(Long, Long, Int)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("simhash UDFs are null-safe; minhashMd5 rejects overflow-prone sizes") {
    val docs = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashMd5(docs).orderBy("doc_id")
      .as[(Long, Option[Long])].collect().toSeq
    assert(sigs.head._2.isDefined && sigs(1)._2.isEmpty)
    val sh = Dedup.shingles(Seq((1L, "a b c d")).toDF("doc_id", "text"), 2)
    intercept[IllegalArgumentException] { Dedup.minhashMd5(sh, 113) }
    assert(Dedup.minhashMd5(sh, 112).columns.length == 113) // doc_id + 112 hashes
  }

  test("connected components: chains collapse to the smallest label") {
    // 1-2, 2-3, 3-4 chain plus isolated pair 10-11
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("deletion-neighborhood pairs drop docs over the word cap (documented bound)") {
    val long = ("w " * (Dedup.MaxDelWords + 1)).trim + " unique"
    val docs = Seq((1L, "alpha beta"), (2L, "alpha beta gamma"), (3L, long))
      .toDF("doc_id", "text")
    val got = Dedup.deletionNeighborPairs(docs).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"over-cap doc must be excluded, got $got")
  }

  test("deletion-neighborhood pairs: exactly the word-edit<=1 pairs, none further") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // base
      (2L, "alpha beta THETA delta"),   // substitution at pos 3 -> pair with 1
      (3L, "alpha beta delta"),         // deletion of pos 3 -> pair with 1 AND 2
      (4L, "alpha THETA gamma iota"),   // 2 edits from every doc above
      (5L, "alpha  beta gamma  delta")  // whitespace-only variant: edit 0 of 1
    ).toDF("doc_id", "text")
    val got = Dedup.deletionNeighborPairs(docs)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 5L), (2L, 5L), (3L, 5L)),
      s"got $got")
  }

  test("large-star/small-star components equal min-label propagation and union-find") {
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
      // labels must be the component MIN, which union-by-min guarantees
      parent.keys.map(k => k -> find(k)).toMap
    }
    val rng = new scala.util.Random(42)
    val graphs: Seq[Seq[(Long, Long)]] = Seq(
      // the adversarial case for propagation: one long id-sorted chain
      (0L until 40L).map(i => (i, i + 1)),
      // chain with ids reversed (max-rooted)
      (0L until 40L).map(i => (40L - i, 39L - i)),
      // random sparse graph: several components, dup edges, both orders
      Seq.fill(60)((rng.nextInt(50).toLong, rng.nextInt(50).toLong))
        .filter { case (a, b) => a != b },
      // two cliques bridged by one edge
      (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)) ++
        (for (a <- 11L to 15L; b <- a + 1 to 15L) yield (b, a)) :+ (5L, 11L),
      // self-pairs, as a collapsed rep graph carries them: 7 and 9 have
      // no other pair and are components of their own
      Seq((7L, 7L), (1L, 2L), (2L, 2L), (9L, 9L), (2L, 3L)))
    graphs.zipWithIndex.foreach { case (g, i) =>
      val df = g.toDF("doc_a", "doc_b")
      val want = unionFind(g)
      val prop = Dedup.connectedComponents(df).as[(Long, Long)].collect().toMap
      val stars = Dedup.connectedComponentsStars(df).as[(Long, Long)].collect().toMap
      assert(prop == want, s"graph $i: propagation vs union-find")
      assert(stars == want, s"graph $i: stars vs union-find")
    }
  }

  test("ngram jaccard: exact for hand-computed pair") {
    // shingles(1) = {a b c, b c d, c d e}; shingles(2) = {a b c, b c d, c d x}
    // inter = 2, union = 4 -> jaccard 0.5
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(docs, 3, 0.4).as[(Long, Long, Double)].collect()
    assert(got.length == 1)
    assert(approx(got.head._3, 0.5))
  }

  test("ngram jaccard maxDf cap drops hot shingles from the pair join") {
    // every doc shares the stopword shingle "the end of" (df = 12 > cap);
    // only docs 1/2 share real content beyond it
    val hot = "the end of"
    val docs = (Seq(
      (1L, s"alpha beta gamma delta $hot"),
      (2L, s"alpha beta gamma delta epsilon $hot")) ++
      (3L to 12L).map(i => (i, s"unique$i words$i here$i $hot"))).toDF("doc_id", "text")
    // uncapped: the shared hot shingle alone links every doc pair at a
    // small-but-nonzero jaccard; capped at df<=10 those pairs vanish and
    // only the true near-dup pair (1,2) survives the threshold
    val uncapped = Dedup.ngramJaccard(docs, 3, 0.01)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccard(docs, 3, 0.01, maxDf = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 66, s"hot shingle should link all 12C2 pairs, got ${uncapped.size}")
    assert(capped == Set((1L, 2L)), s"capped pairs: $capped")
    // the surviving pair's jaccard is computed over the CAPPED universe:
    // doc1 has 6 shingles, 3 hot-adjacent... verify against by-hand sets
    // doc1 shingles (capped): {alpha beta gamma, beta gamma delta, gamma delta the, delta the end} minus df>10 = all df-1 except "the end of"
    // doc2 adds epsilon: {alpha beta gamma, beta gamma delta, gamma delta epsilon, delta epsilon the, epsilon the end}
    // inter = 2, union = 7 -> 2/7
    val j = Dedup.ngramJaccard(docs, 3, 0.01, maxDf = 10)
      .select("jaccard").as[Double].head()
    assert(approx(j, 2.0 / 7.0), s"jaccard over capped universe: $j")
  }

  test("evalCollapsedPairs equals the expanded pipelines on a clone-heavy corpus") {
    import graft.dedup.ExactCollapse
    // Clone-heavy corpus with every collapse topology the counting must
    // survive: text-identical clone classes (collapse in BOTH
    // generators), a pair that is one truth class but TWO cand classes
    // (same post-cap shingle multiset, different raw shingles — the
    // differing shingles are made hot so the df cap removes them), and
    // a seeded-random block for the combinations not constructed by
    // hand.
    val hotA = "h1 h2 h3"
    val hotB = "h1 h2 h4"
    val det = Seq(
      (1L, s"j k l $hotA"), // same post-cap multiset as 2 (hot tails
      (2L, s"j k l $hotB"), // capped away), different signatures
      (3L, "j k l s t u"),  // shares one capped shingle with 1/2
      (10L, "m n o p q r s"), (11L, "m n o p q r s"), // clone class
      (12L, "m n o p q r s"), (13L, "m n o p q r s z")) ++ // + near-dup
      // hot-makers: push df("h1 h2 h3") and df("h1 h2 h4") over the cap
      (20L to 23L).map(i => (i, s"f$i $hotA g$i")) ++
      (30L to 33L).map(i => (i, s"f$i $hotB g$i"))
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val fuzz = (0 until 12).flatMap { b =>
      val t = (0 until (4 + rnd.nextInt(3)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (0 until (1 + rnd.nextInt(4))).map(c => (100L + b * 10 + c, t))
    }
    val docs = (det ++ fuzz).toDF("doc_id", "text")
    val thr = 0.4; val cap = 4
    // independent ground truth: the NAIVE uncollapsed pipelines — no
    // ExactCollapse/textCollapse machinery anywhere on this side
    val shFull = Dedup.shingles(docs, 3)
    val shH = shFull.select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val keep = shH.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("h")
    val capped = shH.join(keep, "h")
    val szN = capped.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val truthExp = capped.select(col("doc_id").as("doc_a"), col("h"))
      .join(capped.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      .join(szN.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(szN.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .filter(col("i").cast("double") / (col("sa") + col("sb") - col("i")) >= thr)
      .select("doc_a", "doc_b")
    val sigsFull = Dedup.minhashMd5(shFull, 16)
    val candExp = Dedup.minhashJaccard(sigsFull,
        Dedup.minhashCandidates(sigsFull, 4, 4), 16)
      .filter(col("jaccard_est") >= 0.5).select("doc_a", "doc_b")
    // the collapsed side: text collapse first, then both kernels
    val (reps, textMem) = Dedup.textCollapse(docs)
    val repSh = Dedup.shingles(reps, 3)
    val (truthRp, memT) = Dedup.ngramJaccardCollapsedW(repSh, textMem, thr, maxDf = cap)
    val sigsAll = Dedup.minhashMd5(repSh, 16)
    val tagged = ExactCollapse.tag(sigsAll, "doc_id", (0 until 16).map(i => col(s"h$i")))
    val sigs = ExactCollapse.reps(tagged, "doc_id")
    val memC = ExactCollapse.members(tagged, "doc_id")
      .select(col("__rep"), col("__member").as("__mid"))
      .join(textMem.select(col("__rep").as("__mid"), col("__member")), "__mid")
      .select(col("__rep"), col("__member"))
    val candRp = Dedup.minhashJaccard(sigs,
        Dedup.minhashCandidates(sigs, 4, 4)
          .unionByName(ExactCollapse.dupSelfPairs(memC, "doc_a", "doc_b")), 16)
      .filter(col("jaccard_est") >= 0.5).select("doc_a", "doc_b")
    // the hand-built topology must actually be present, or the test
    // stops guarding anything: a clone class and a split truth class
    assert(textMem.groupBy("__rep").count().filter(col("count") >= 3).count() >= 1)
    assert(memC.filter(col("__member").isin(1L, 2L))
      .select("__rep").distinct().count() == 2,
      "docs 1/2 must stay separate cand classes")
    assert(memT.filter(col("__member").isin(1L, 2L))
      .select("__rep").distinct().count() == 1,
      "docs 1/2 must share a truth class via the df cap")
    // expanded pair SETS match the naive pipelines exactly
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    assert(pairs(ExactCollapse.expand(truthRp.select("doc_a", "doc_b"),
      memT, "doc_a", "doc_b")) == pairs(truthExp), "truth pair set")
    assert(pairs(ExactCollapse.expand(candRp, memC, "doc_a", "doc_b")) ==
      pairs(candExp), "cand pair set")
    // and the collapsed counting reproduces the naive counts
    val row = Dedup.evalCollapsedPairs(
      truthRp.select("doc_a", "doc_b"), memT, candRp, memC).head()
    assert(row.getLong(0) == truthExp.count(), "n_truth")
    assert(row.getLong(1) == candExp.count(), "n_cand")
    assert(row.getLong(2) ==
      truthExp.join(candExp, Seq("doc_a", "doc_b")).count(), "n_hit")
  }

  test("segments: non-overlapping, short tail kept, blank doc yields none") {
    val docs = Seq(
      (1L, "a b c d e f g"),   // 7 words -> "a b c", "d e f", "g"
      (2L, "one two three"),    // exactly one segment
      (3L, "  "),               // blank -> no segments
      (4L, "x y z x y z")       // repeats its own segment
    ).toDF("doc_id", "text")
    val got = Dedup.segments(docs, 3).select("doc_id", "seg")
      .as[(Long, String)].collect().toSeq
    assert(got.filter(_._1 == 1L).map(_._2) == Seq("a b c", "d e f", "g"))
    assert(got.filter(_._1 == 2L).map(_._2) == Seq("one two three"))
    assert(!got.exists(_._1 == 3L), "blank doc must produce no segments")
    // within-doc duplicates are preserved (they count toward duplication)
    assert(got.filter(_._1 == 4L).map(_._2) == Seq("x y z", "x y z"))
  }
}
