package graft.scale

import graft.Graft
import graft.dedup.{Dedup, ExactCollapse}
import graft.vector.VectorOps
import graft.io.ApiJson.jstr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall/cost eval of embedding near-dup candidate generation at
  * replica scale, at the pair stage and through the dedup-cluster
  * pipeline. Three pair sets, each computed and materialized once:
  *
  *  - truth: the exact all-pairs cosine sweep;
  *  - frozen: the catalog's d5/d7 banding (16 bands × 4 bits, corpus
  *    planes vec_id 8–71, the oracle-replayable parameterization);
  *  - adaptive: the density-adaptive banding
  *    ([[VectorOps.lshNearDupAdaptive]], library defaults), the pair
  *    set d5a and d7 run.
  *
  * Each set feeds the cluster stage (large-star/small-star connected
  * components, min-id keeper per cluster — embeddings carry no quality
  * score). Two JSON lines:
  *
  *  - `lsh_adaptive_eval`: per variant, found pairs, recall vs truth,
  *    exact-cosine rerank volume and wall;
  *  - `lsh_cluster_eval`: per variant, pair/cluster/keeper counts,
  *    node-level recall of the truth clustering, and wall per stage.
  *
  * Usage: runMain graft.scale.LshEval <sfDir> [threshold=0.4]
  */
object LshEval {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A materialized (vec_a, vec_b) pair set, its size and its wall. */
  private final case class Pairs(df: DataFrame, n: Long, wall: Double)

  /** A pair set's clustering: labels, clustered nodes, clusters, keepers. */
  private final case class Clusters(df: DataFrame, nodes: Long, clusters: Long,
      keepers: Long, wall: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.4
    val spark = Graft.envSession()
    import spark.implicits._

    val emb = Graft.table(spark, sfDir, "embeddings")
    val n = emb.count()

    def pairStage(mk: => DataFrame): Pairs = {
      val ((df, count), wall) = timed {
        val p = Graft.materialize(mk.select("vec_a", "vec_b"))
        (p, p.count())
      }
      Pairs(df, count, wall)
    }

    def clusterStage(pairs: Pairs): Clusters = {
      val (cl, wall) = timed {
        val c = Graft.materialize(
          Dedup.connectedComponentsStars(pairs.df, "vec_a", "vec_b"))
        c.count()
        c
      }
      val nodes = cl.count() // every node that belongs to some cluster
      val clusters = cl.select("label").distinct().count()
      // min id per cluster survives, unclustered vectors keep themselves
      Clusters(cl, nodes, clusters, n - (nodes - clusters), wall)
    }

    // --- Truth: exact all-pairs sweep.
    val truth = pairStage(VectorOps.allPairsCosine(emb, threshold))
    System.err.println(s"[lsh-eval] truth: ${truth.n} pairs in ${f"${truth.wall}%.1f"}s")
    def recallOf(p: Pairs): Double =
      if (truth.n == 0) 1.0
      else p.df.join(truth.df, Seq("vec_a", "vec_b"), "left_semi").count().toDouble / truth.n

    // --- Frozen parameterization. Rerank volume = the rep-level
    // candidate set lshNearDupPairs scores, rebuilt from the same public
    // pieces.
    val planes = emb.filter(col("vec_id") >= 8 && col("vec_id") < 72)
      .select(col("vec_id") - 8, col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val (frozenCand, frozenCandWall) = timed {
      val base = emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").as("__v"))
      val tagged = ExactCollapse.tag(base, "id", Seq(col("__v")))
      val reps = ExactCollapse.reps(tagged, "id")
      val mem = ExactCollapse.members(tagged, "id")
      val sorted = planes.sortBy(_._1).take(64)
      val bucketCols = (0 until 16).map { b =>
        (0 until 4).map { r =>
          val planeCol = array(sorted(b * 4 + r)._2.map(v => lit(v)): _*)
          when(VectorOps.dot(col("__v"), planeCol) > 0, 1L << r).otherwise(0L)
        }.reduce(_ + _)
      }
      val banded = Graft.materialize(reps.select(col("id"),
        posexplode(array(bucketCols: _*)).as(Seq("band", "bucket"))))
      banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
        .filter(col("x.id") < col("y.id"))
        .select(col("x.id").as("vec_a"), col("y.id").as("vec_b"))
        .distinct()
        .unionByName(ExactCollapse.dupSelfPairs(mem, "vec_a", "vec_b"))
        .count()
    }
    val frozen = pairStage(VectorOps.lshNearDupPairs(
      emb, planes, bands = 16, rowsPerBand = 4, threshold = threshold))
    val frozenRecall = recallOf(frozen)
    System.err.println(s"[lsh-eval] frozen: ${frozen.n} pairs, " +
      s"recall ${f"$frozenRecall%.4f"}, rerank $frozenCand, ${f"${frozen.wall}%.1f"}s")

    // --- Adaptive banding. Lazy, so the banding choice (its own jobs)
    // lands in the pair stage's wall.
    lazy val run = VectorOps.lshNearDupAdaptive(emb, threshold)
    val adaptive = pairStage(run.pairs)
    val adaptiveRecall = recallOf(adaptive)
    val candCount = run.candidates.count()
    val rerankCount = run.prefiltered.count()
    System.err.println(s"[lsh-eval] adaptive: ${adaptive.n} pairs, " +
      s"recall ${f"$adaptiveRecall%.4f"}, cand $candCount, rerank $rerankCount, " +
      s"${f"${adaptive.wall}%.1f"}s")

    println(s"""{"metric":"lsh_adaptive_eval","sf_dir":${jstr(sfDir)},""" +
      s""""threshold":$threshold,"n_vectors":$n,""" +
      s""""truth":{"pairs":${truth.n},"wall_s":${f"${truth.wall}%.2f"}},""" +
      s""""frozen":{"bands":16,"bits_per_band":4,"rerank_pairs":$frozenCand,""" +
      s""""cand_wall_s":${f"$frozenCandWall%.2f"},"found":${frozen.n},""" +
      s""""recall":${f"$frozenRecall%.5f"},"wall_s":${f"${frozen.wall}%.2f"}},""" +
      s""""adaptive":{"bands":${run.bands},"bits_per_band":${run.bitsPerBand},""" +
      s""""sig_bits":${run.sigBits},"max_hamming":${run.maxHamming},""" +
      s""""cand_pairs":$candCount,"rerank_pairs":$rerankCount,""" +
      s""""found":${adaptive.n},"recall":${f"$adaptiveRecall%.5f"},""" +
      s""""predicted_recall":${f"${run.predictedRecall}%.5f"},""" +
      s""""wall_s":${f"${adaptive.wall}%.2f"}}}""")

    // --- Cluster stage over the same three pair sets.
    val truthCl = clusterStage(truth)
    def clusterJson(name: String, p: Pairs, c: Clusters, recall: Option[Double]): String = {
      System.err.println(f"[lsh-eval] $name clusters: ${c.clusters} / ${c.nodes} nodes " +
        f"(${c.wall}%.1fs), ${c.keepers} keepers" +
        recall.fold("")(r => f", node recall $r%.4f"))
      s""""$name":{"pairs":${p.n},"pair_wall_s":${f"${p.wall}%.2f"},""" +
        s""""clusters":${c.clusters},"clustered_nodes":${c.nodes},""" +
        s""""keepers":${c.keepers},"cluster_wall_s":${f"${c.wall}%.2f"}""" +
        recall.fold("")(r => s""","node_recall":${f"$r%.5f"}""") + "}"
    }
    def variantJson(name: String, p: Pairs): String = {
      val c = clusterStage(p)
      val recall =
        if (truthCl.nodes == 0) 1.0
        else c.df.select("node").join(truthCl.df.select("node"), Seq("node"), "left_semi")
          .count().toDouble / truthCl.nodes
      clusterJson(name, p, c, Some(recall))
    }
    println(s"""{"metric":"lsh_cluster_eval","sf_dir":${jstr(sfDir)},""" +
      s""""threshold":$threshold,"n_vectors":$n,""" +
      clusterJson("truth", truth, truthCl, None) + "," +
      variantJson("frozen", frozen) + "," + variantJson("adaptive", adaptive) + "}")
    spark.stop()
  }
}
