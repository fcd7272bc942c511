package graft

/** Building a catalog query's frame launches no Spark job: schema
  * inference runs once per table and session (`Graft.table`'s registry,
  * warmed here first), and `GlobalRank`'s prefix pass is a plan node.
  * The only exceptions are the queries named in `exempt`: the iterative
  * and near-dup pipelines, whose rounds, candidate frames or size probes
  * run while their frames are built, and the queries that plan one
  * `Graft.materialize` at build. A change may shrink the list, never
  * grow it. */
class ConstructionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val exempt = Set(
    // iterative graph and clustering pipelines: each round is materialized
    // while the frame is built
    "g1_triangle_count", "g2_pagerank", "g3_kcore", "g4_label_prop", "g5_bfs_hops",
    "g6_sssp", "g7_closeness", "d6_dup_clusters", "d7_embedding_clusters",
    "d9_lsh_eval", "d10_edit_neighbors", "d11_keeper_apply", "t40_snm_eval",
    // near-dup pipelines: materialized candidate frames, id guards, size probes
    "d2_minhash_lsh", "d3_simhash", "d4_ngram_jaccard",
    "d5_embedding_neardup", "d5a_neardup_adaptive", "m3_media_neardup", "v3_lsh_buckets",
    // one multi-consumer frame through Graft.materialize: planning its lazy
    // checkpoint runs the frame's shuffle stages under adaptive execution
    "a10_heatmap", "a11_cov_matrix", "a22_underwater", "e4_bloom_prune",
    "f18_assoc_rules", "f19_kaplan_meier", "j6_gap_islands", "t21_cms_heavy_hitters",
    "t33_kmv_setops", "t35_jsd_drift", "x6_crosscorr")

  test("building a catalog query launches no job, except the queries named exempt") {
    new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted
      .foreach(f => Graft.table(spark, sf, f.stripSuffix(".parquet")))
    // Each query is built once first, so the guards a session runs once
    // (`Graft.assertDisjointIds`) are done whichever suites ran before.
    val launching = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val n = try {
        q(spark, sf)
        Graft.releaseMaterialized(spark)
        jobs(q(spark, sf))._2
      } finally Graft.releaseMaterialized(spark)
      if (n > 0) Some(name -> n) else None
    }
    info(launching.map { case (n, j) => s"$n=$j" }.mkString(" "))
    val names = launching.map(_._1).toSet
    assert(names == exempt, s"launch a job at build but are not exempt: " +
      s"${(names -- exempt).toSeq.sorted.mkString(", ")}; exempt but launch none: " +
      s"${(exempt -- names).toSeq.sorted.mkString(", ")}")
  }
}
