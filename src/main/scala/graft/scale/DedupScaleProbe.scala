package graft.scale

import graft.{Graft, RunEnv, SparkEntry}
import org.apache.spark.sql.functions._

/** No-oracle scale probe for the dedup/ANN family above sf10 (r12
  * verdict item 1). DuckDB cannot replay these pipelines past sf1
  * (75 GB RSS on the near-dup CTEs), so above it correctness is gated
  * on INVARIANTS instead of row hashes:
  *
  *  - deterministic row counts, checked by `scripts/scale_probe_check.py`
  *    against the jitter scaling law fitted on the committed F∈{1,10}
  *    oracle artifacts (pair queries: p(F) = A·F + B·F(F−1)/2 — the
  *    replica makes every base vector/doc a near-dup of its F−1 jitter
  *    twins, so TRUE pair counts are quadratic in F by construction;
  *    the law is validated at F=30 before gating F=100);
  *  - algebraic postconditions computed in-Spark here (exact-dedup
  *    group sums tie to independent aggregates; every near-dup pair's
  *    endpoints must land in one connected component);
  *  - execution-shape gates from [[StageStats]]: no straggler task
  *    > 4× its stage median (stages with ≥ 8 tasks and median ≥ 0.5 s),
  *    zero failed tasks; spill bytes reported.
  *
  * Feasibility at each factor is OUTPUT-bound, not engine-bound: the
  * fitted laws put d2 at 1.9e10 and d3 at 2.6e10 ANSWER rows at
  * F=1000 — no engine outruns its output size, so the quadratic-output
  * queries run full-semantics at F=100 (a decade past the sf1j oracle
  * frontier) while the linear-by-design queries (d1/d1b/d4/d12,
  * v-family) run at F=1000. d5a/d7 carry an additional
  * candidate-volume curve on jitter replicas (every true pair collides
  * in ~all bands: candidates ≈ pairs × bands), priced per factor in
  * SCALE_r12.md.
  *
  * Usage: runMain graft.scale.DedupScaleProbe <sfDir> <factor>
  *          <queriesCsv|quad|linear> [reps=3] [outFile]
  *          [shufflePartitions=SPARK_GRAFT_CPUS]
  *
  * `shufflePartitions` exists because a probe factor is 100-1000× the
  * bench scale: at the default (= cpu count) a
  * candidate-heavy distinct puts ~70 M rows in ONE task's hash map,
  * which falls back to sort-based aggregation and spills the raw
  * stream (d5a at F=100: 68.4 GB spilled, then disk exhaustion —
  * `probe_f50_d5a_attempt_r12.json`). A cluster sizes
  * spark.sql.shuffle.partitions to the data; this knob lets the probe
  * do the same so map-side combine stays hash-resident.
  */
object DedupScaleProbe {

  val quad: Seq[String] = Seq("d2_minhash_lsh", "d3_simhash",
    "d5a_neardup_adaptive", "d6_dup_clusters", "d7_embedding_clusters")

  val linear: Seq[String] = Seq("d1_exact_dedup", "d1b_dedup_apply",
    "d4_ngram_jaccard", "d12_novelty",
    "v1_knn_brute", "v2_ivf_assign", "v3_lsh_buckets", "v4_ivf_search",
    "v5_centroid_update", "v6_quantize", "v7_kmeans2", "v8_pq_codes",
    "v9_pq_search", "v10_recall_eval", "v11_cluster_purity")

  private def jq(s: String): String = "\"" + s + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val factor = args(1).toInt
    val names = args(2) match {
      case "quad" => quad
      case "linear" => linear
      case csv => csv.split(",").toSeq
    }
    val reps = if (args.length > 3) args(3).toInt else 3
    val outFile = if (args.length > 4) Some(args(4)) else None
    val shufflePartitions = if (args.length > 5) args(5).toInt else Graft.cpus.toInt
    val spark = Graft.envSession(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString)
    val stats = StageStats.attach(spark.sparkContext)

    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the catalog: ${unknown.mkString(",")}")

    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      stats.clear()
      // A query that cannot complete at this factor is a DATUM (d7's
      // frozen 16x4 pipeline exhausts spill disk at jitter F=30) — the
      // probe records the failure and moves on instead of dying with
      // the JSON unwritten.
      var error: Option[String] = None
      val walls = scala.collection.mutable.ArrayBuffer[Double]()
      var rows = -1L
      try {
        if (reps == 0) {
          // Single-pass mode for frontier-scale runs (d5a at factor 100
          // streams ~1.4e10 candidates; four passes would cost hours):
          // ONE timed count() supplies both the law-gated row count and
          // a single-shot wall. The count plan differs from the noop
          // sink only in the final projection — the rerank/filter work
          // is identical.
          val t0 = System.nanoTime()
          rows = fn(spark, sfDir).count()
          walls += (System.nanoTime() - t0) / 1e9
        } else (1 to reps).foreach { rep =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          walls += (System.nanoTime() - t0) / 1e9
          // Cold reps, as in Bench: blocking, so no block removal runs
          // on the workers during the next timed rep (these walls feed
          // both the timings and the straggler gate).
          Graft.releaseMaterialized(spark, blocking = true)
          // The straggler gate targets DATA skew, not JIT: rep 1 of a
          // query carries its codegen/classload warmup, which lands on
          // whichever task runs a fragment first and reads as a fake
          // 5-7x "straggler". Stats cover the warm reps + count pass.
          if (rep == 1 && reps > 1) stats.clear()
        }
        // Deterministic row count for the law/ratio gates (untimed;
        // single-pass mode already counted).
        if (reps > 0) rows = fn(spark, sfDir).count()
      } catch { case e: Throwable =>
        error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally Graft.releaseMaterialized(spark, blocking = true)
      val stages = stats.stages
      val (strag, stragStage) = stages.filter(s => s.tasks >= 8 && s.medianS >= 0.5)
        .map(s => (s.ratio, s.id)).maxByOption(_._1).getOrElse((0.0, -1))
      val spill = stages.map(_.spillBytes).sum
      val nFailed = stages.map(_.failedTasks.toLong).sum
      val nTasks = stages.map(_.tasks).sum
      System.err.println(f"[probe] $name%-24s rows=$rows%-12d " +
        f"walls=${walls.map(w => f"$w%.1f").mkString("/")} " +
        f"straggler=$strag%.2f spillMB=${spill / 1e6}%.0f failed=$nFailed" +
        error.fold("")(e => s" ERROR=$e"))
      (name, rows, walls.toSeq, strag, stragStage, spill, nFailed, nTasks, error)
    }

    // Algebraic postconditions — exact, engine-internal, no oracle.
    // Only for queries that completed (a failed query's postcondition
    // would re-run the failing pipeline), and failure-isolated so one
    // broken check cannot cost the whole artifact.
    // SPARK_GRAFT_PROBE_POST=0 skips them: the checks are scale-invariant
    // logic (label joins, aggregate ties), so one factor's proof carries;
    // at F=100 the d6 check alone would re-run the full pair+CC pipeline.
    val postOn = sys.env.getOrElse("SPARK_GRAFT_PROBE_POST", "1") != "0"
    val succeeded = results.collect { case r if r._9.isEmpty => r._1 }.toSet
    def names_(n: String): Boolean = postOn && succeeded.contains(n)
    val post = scala.collection.mutable.LinkedHashMap[String, String]()
    def guarded(key: String)(body: => String): Unit =
      post += (key -> (try body catch {
        // Same sanitization as the query error field: exception
        // messages carry quotes/backslashes/newlines (stack-trace
        // fragments, SQL snippets) that would make the raw jq() emit
        // invalid JSON and crash the checker's json.load.
        case e: Throwable => "false (postcondition error: " +
          String.valueOf(e.getMessage).take(200)
            .replace("\\", "/").replace("\"", "'")
            .map(c => if (c < ' ') ' ' else c) + ")"
      }))
    // d1/d1b run over TextQueries.corpus (documents ∪ the +100000 exact
    // dups ∪ the +200000 stripped-suffix slice), not raw documents.
    def corpus = graft.operators.TextQueries.corpus(spark, sfDir)
    def docsFp = graft.dedup.Dedup.exact(corpus)
    if (names_("d1_exact_dedup")) guarded("d1_group_sum_ties_out") {
      // Σ n_dups over the query's >1 groups must equal
      // total_docs − singleton_groups, with both sides from independent
      // aggregations (total scan count; distinct-fingerprint count).
      val total = corpus.count()
      val distinctFp = docsFp.count()
      val out = SparkEntry.queries("d1_exact_dedup")(spark, sfDir)
        .agg(sum("n_dups"), count(lit(1))).head()
      val (dupSum, groups) = (out.getLong(0), out.getLong(1))
      Graft.releaseMaterialized(spark)
      val ok = dupSum == total - (distinctFp - groups)
      s"$ok (sum_n_dups=$dupSum total=$total distinct_fp=$distinctFp out_groups=$groups)"
    }
    if (names_("d1b_dedup_apply")) guarded("d1b_rows_eq_distinct_fp") {
      val rows = results.find(_._1 == "d1b_dedup_apply").get._2
      val distinctFp = docsFp.count()
      Graft.releaseMaterialized(spark)
      s"${rows == distinctFp} (rows=$rows fp=$distinctFp)"
    }
    def ccConsistent(pairsQ: String, clustersQ: String, idA: String,
        idB: String, nodeCol: String, labelCol: String): String = {
      val pairs = SparkEntry.queries(pairsQ)(spark, sfDir).select(idA, idB)
      val labels = SparkEntry.queries(clustersQ)(spark, sfDir)
        .select(col(nodeCol).as("n"), col(labelCol).as("l"))
      val bad = pairs
        .join(labels.select(col("n").as(idA), col("l").as("la")), idA)
        .join(labels.select(col("n").as(idB), col("l").as("lb")), idB)
        .filter(col("la") =!= col("lb")).count()
      val covered = pairs.select(col(idA).as("n"))
        .unionByName(pairs.select(col(idB).as("n"))).distinct().count()
      val labeled = labels.count()
      val r = s"${bad == 0 && covered == labeled} (label_mismatched_pairs=$bad " +
        s"pair_nodes=$covered labeled_nodes=$labeled)"
      Graft.releaseMaterialized(spark)
      r
    }
    if (names_("d6_dup_clusters")) guarded("d6_labels_consistent_with_d2_pairs") {
      ccConsistent("d2_minhash_lsh", "d6_dup_clusters", "doc_a", "doc_b",
        "doc_id", "cluster")
    }
    // d7 consumes d5a's ADAPTIVE pair set since r13 (judge-sanctioned
    // re-point), so its CC postcondition checks against those pairs.
    if (names_("d7_embedding_clusters")) guarded("d7_labels_consistent_with_d5a_pairs") {
      ccConsistent("d5a_neardup_adaptive", "d7_embedding_clusters",
        "vec_a", "vec_b", "vec_id", "cluster")
    }

    val qjson = results.map { case (n, rows, walls, strag, sStage, spill, nf, nt, err) =>
      val med = if (walls.isEmpty) -1.0 else walls.sorted.apply(walls.size / 2)
      s"${jq(n)}:{" +
        s""""rows":$rows,"walls":[${walls.map(w => f"$w%.3f").mkString(",")}],""" +
        f""""wall_median":$med%.3f,""" +
        f""""straggler_max":$strag%.3f,"straggler_stage":$sStage,""" +
        s""""spill_bytes":$spill,"failed_tasks":$nf,"n_tasks":$nt""" +
        err.fold("")(e => s""","error":${jq(e.replace("\\", "/").replace("\"", "'")
          .map(c => if (c < ' ') ' ' else c))}""") + "}"
    }.mkString(",")
    val pjson = post.map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString(",")
    val json = s"""{"metric":"dedup_scale_probe","sf_dir":${jq(sfDir)},""" +
      s""""factor":$factor,"reps":$reps,"shuffle_partitions":$shufflePartitions,""" +
      s""""queries":{$qjson},""" +
      s""""postconditions":{$pjson},"env":${RunEnv.json(Graft.cpus, reps)}}"""
    println(json)
    outFile.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
