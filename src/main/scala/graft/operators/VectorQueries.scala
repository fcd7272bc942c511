package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.multimodal.Multimodal
import graft.operators.CoreQueries.q6
import graft.vector.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search + multimodal queries over `embeddings` /
  * `documents` (driver north-star). Cosine math is double-precision on
  * both engines (oracle casts the float lists to DOUBLE[]), and every
  * ranking orders on the 6-dp-rounded score with id tiebreaks so results
  * are engine-independent. */
object VectorQueries {

  /** V1: brute-force exact top-5 cosine neighbors for queries vec_id<5. */
  val v1KnnBrute: Q = (s, dir) => {
    val emb = Graft.table(s, dir, "embeddings")
    VectorOps.knnBrute(emb, emb.filter(col("vec_id") < 5), 5)
      .orderBy("query_id", "rank")
  }

  val v1KnnBruteSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, v.vec_id AS neighbor_id,
      |    ROUND(list_cosine_similarity(q.qe, v.e), 6) AS cos
      |  FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos, rank FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** V2: IVF coarse assignment — centroids vec_id<8, cluster sizes. */
  val v2IvfAssign: Q = (s, dir) => {
    val emb = Graft.table(s, dir, "embeddings")
    VectorOps.ivfAssign(emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8))
      .groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .orderBy("centroid_id")
  }

  val v2IvfAssignSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
      |scored AS (
      |  SELECT v.vec_id, c.centroid_id,
      |    ROUND(list_cosine_similarity(v.e, c.ce), 6) AS cos,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY ROUND(list_cosine_similarity(v.e, c.ce), 6) DESC, c.centroid_id) AS rk
      |  FROM v CROSS JOIN c WHERE v.vec_id >= 8)
      |SELECT centroid_id, COUNT(*) AS n FROM scored WHERE rk = 1
      |GROUP BY centroid_id ORDER BY centroid_id""".stripMargin

  /** V3: random-hyperplane LSH bucket histogram (8 planes = embeddings
    * vec_id 8-15; collected driver-side as the broadcast plane set). */
  val v3LshBuckets: Q = (s, dir) => {
    import s.implicits._
    val emb = Graft.table(s, dir, "embeddings")
    val planes = emb.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(col("vec_id") - 8, col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    VectorOps.lshBucket(emb, planes)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  val v3LshBucketsSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |planes AS (SELECT vec_id - 8 AS pid, e AS pe FROM v
      |           WHERE vec_id >= 8 AND vec_id < 16),
      |bits AS (
      |  SELECT v.vec_id,
      |    CAST(SUM(CASE WHEN list_dot_product(v.e, p.pe) > 0
      |        THEN 1 << p.pid ELSE 0 END) AS BIGINT) AS bucket
      |  FROM v CROSS JOIN planes p GROUP BY v.vec_id)
      |SELECT bucket, COUNT(*) AS n FROM bits GROUP BY bucket ORDER BY bucket""".stripMargin

  /** D5: embedding-cosine near-dup pairs (cos ≥ 0.4, a < b) via the
    * fixed banded path: LSH candidate generation (16 bands × 4 sign
    * bits, planes = embeddings vec_id 8–71) + exact per-candidate
    * rerank — pairs only ever materialize within a bucket, never the n²
    * cross join (VectorOps.lshNearDupPairs). Deterministic given the
    * plane set, so the oracle replays the identical banding. */
  /** Frozen-parameter banded-LSH near-dup pair pipeline (d5; d7
    * consumed it too until the r13 sanctioned re-point — kept as the
    * bit-identical r5-catalog replay and the fixed baseline d9-style
    * evals price adaptive banding against). */
  private def nearDupLshPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val emb = Graft.table(s, dir, "embeddings")
    val planes = emb.filter(col("vec_id") >= 8 && col("vec_id") < 72)
      .select(col("vec_id") - 8, col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    VectorOps.lshNearDupPairs(emb, planes, bands = 16, rowsPerBand = 4,
      threshold = 0.4)
  }

  val d5EmbeddingNeardup: Q = (s, dir) =>
    nearDupLshPairs(s, dir).orderBy("vec_a", "vec_b")

  /** Shared oracle CTE chain for the banded-LSH near-dup pipeline:
    * vectors → per-band sign-bit buckets → within-bucket candidates →
    * `ndp(vec_a, vec_b, cos)` reranked pairs ≥ 0.4 (mirrors
    * [[nearDupLshPairs]]); composed by d5's listing and d7's closure. */
  private val nearDupPairsCte: String =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |planes AS (SELECT vec_id - 8 AS pid, e AS pe FROM v
      |           WHERE vec_id >= 8 AND vec_id < 72),
      |bits AS (
      |  SELECT v.vec_id, p.pid // 4 AS band,
      |    CAST(SUM(CASE WHEN list_dot_product(v.e, p.pe) > 0
      |        THEN 1 << (p.pid % 4) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM v CROSS JOIN planes p GROUP BY v.vec_id, p.pid // 4),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |  FROM bits x JOIN bits y
      |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
      |ndp AS MATERIALIZED (
      |  SELECT c.vec_a, c.vec_b,
      |    ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
      |  FROM cand c JOIN v a ON a.vec_id = c.vec_a JOIN v b ON b.vec_id = c.vec_b
      |  WHERE ROUND(list_cosine_similarity(a.e, b.e), 6) >= 0.4)""".stripMargin

  val d5EmbeddingNeardupSql: String =
    "WITH " + nearDupPairsCte +
    """
      |SELECT vec_a, vec_b, cos FROM ndp
      |ORDER BY vec_a, vec_b""".stripMargin

  /** D5a: the PRODUCTION embedding near-dup path — density-adaptive
    * banded LSH (VectorOps.lshNearDupAdaptive, library defaults) —
    * oracle-gated end to end. Unlike the frozen d5 entry (a pinned
    * 16 × 4 banding kept for bit-identical replay of the r5 catalog),
    * this gates the code a 100 TB pipeline actually runs: the
    * occupancy-derived bits, recall-floor-derived bands, seeded
    * Gaussian planes, and the 1024-bit Hamming prefilter.
    *
    * Oracle replayability rests on three shared artifacts, each pinned
    * in one engine and consumed as DATA by the other so no
    * floating-point formula is ever re-derived cross-engine:
    *  1. the planes: counter-based splitmix64 + Box–Muller from seed 42
    *     ([[graft.vector.VectorOps.gaussianPlanes]]), committed as
    *     `data/adaptive_planes/` parquet (doubles round-trip exactly;
    *     AdaptiveOracleSpec pins file == function);
    *  2. bits: an INTEGER-exact ⌈log₂⌉ of ⌈n/occupancy⌉ both sides can
    *     compute without logs (`1 << (bits+6) >= n` scan);
    *  3. bands and the Hamming cut: precomputed by the ENGINE's own
    *     StrictMath formulas at SQL-build time and embedded as a VALUES
    *     lookup / integer literal ([[graft.vector.VectorOps.bandsByBits]],
    *     [[graft.vector.VectorOps.sigMaxHamming]]).
    *
    * The SQL skips the engine's value/code-collapse rewrites on a
    * proof, not an approximation: bucket codes, signatures, and the
    * rerank cosine are functions of the embedding VALUE only, so
    * value-identical vectors collide in every band, show Hamming 0,
    * and score exactly as the collapsed representative does — the
    * expanded pair set is identical by construction (the same argument
    * that makes the collapse admissible in the engine). */
  val d5aNeardupAdaptive: Q = (s, dir) =>
    VectorOps.lshNearDupAdaptive(
      Graft.table(s, dir, "embeddings"), threshold = 0.4)
      .pairs.orderBy("vec_a", "vec_b")

  /** The shared-planes table location, resolved at SQL-build time from
    * the running JVM's working directory (overridable via the
    * `graft.repo.root` system property) — the oracle SQL must embed a
    * concrete path for the driver's DuckDB process, but which checkout
    * it points into is decided by where the engine runs, not by a
    * hardcoded clone path. AdaptiveOracleSpec pins that the embedded
    * path exists and holds the seed-42 planes. */
  private val adaptivePlanesGlob: String = new java.io.File(
    sys.props.getOrElse("graft.repo.root", sys.props("user.dir")),
    "data/adaptive_planes").getAbsolutePath + "/*.parquet"

  /** Shared adaptive-banding oracle CTE chain (d5a's listing and d7's
    * closure both compose it): vectors → integer-exact bits/bands
    * derivation → shared-planes band codes & 1024-bit signatures →
    * within-bucket candidates → Hamming prefilter →
    * `andp(vec_a, vec_b, cos)` reranked pairs ≥ 0.4 — replays
    * [[graft.vector.VectorOps.lshNearDupAdaptive]] at library
    * defaults (see d5a's scaladoc for the three pinned artifacts that
    * make the replay exact). */
  private val adaptivePairsCte: String = {
    val blRows = VectorOps.bandsByBits(0.4, 0.95)
      .map { case (b, k) => s"($b,$k)" }.mkString(",")
    val maxHam = VectorOps.sigMaxHamming(0.4, 1024, 4.0)
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |nn AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT e FROM v)),
       |bl(bits, bands) AS (VALUES $blRows),
       |b0 AS (SELECT COALESCE(MIN(bits), 24) AS bits0 FROM bl, nn
       |       WHERE (CAST(1 AS BIGINT) << (bits + 6)) >= nn.n),
       |pl AS (SELECT pid, pe FROM read_parquet('$adaptivePlanesGlob')),
       |p0 AS (SELECT bits, bands FROM bl, b0
       |       WHERE bits <= b0.bits0 AND (bands * bits <= 16384 OR bits = 2)
       |       ORDER BY bits DESC LIMIT 1),
       |params AS (SELECT bits,
       |           CASE WHEN bands * bits + 1024 > (SELECT COUNT(*) FROM pl)
       |                THEN CAST(error('adaptive_planes table too small: need '
       |                     || (bands * bits + 1024) || ' planes, have '
       |                     || (SELECT COUNT(*) FROM pl)
       |                     || ' - regenerate with AdaptivePlanesGen') AS INT)
       |                WHEN (SELECT MAX(pid) + 1 FROM pl) <> (SELECT COUNT(*) FROM pl)
       |                     OR (SELECT COUNT(DISTINCT pid) FROM pl) <> (SELECT COUNT(*) FROM pl)
       |                THEN CAST(error('adaptive_planes pid numbering is not contiguous from 0: expected row count max_pid+1='
       |                     || (SELECT MAX(pid) + 1 FROM pl) || ', have '
       |                     || (SELECT COUNT(*) FROM pl) || ' rows ('
       |                     || (SELECT COUNT(DISTINCT pid) FROM pl)
       |                     || ' distinct pids) - a partially or doubly regenerated table; codes/sigs would silently skip or double-count planes under pid < bands*bits. Regenerate with AdaptivePlanesGen') AS INT)
       |                ELSE bands END AS bands
       |           FROM p0),
       |codes AS MATERIALIZED (
       |  SELECT v.vec_id, CAST(b.pid // p.bits AS INT) AS band,
       |    CAST(SUM(CASE WHEN list_dot_product(v.e, b.pe) > 0
       |        THEN CAST(1 AS BIGINT) << CAST(b.pid % p.bits AS INT) ELSE 0 END)
       |      AS BIGINT) AS bucket
       |  FROM v, pl b, params p WHERE b.pid < p.bands * p.bits
       |  GROUP BY v.vec_id, band),
       |sigs AS (
       |  SELECT v.vec_id, CAST((s.pid - p.bands * p.bits) // 32 AS INT) AS word,
       |    CAST(SUM(CASE WHEN list_dot_product(v.e, s.pe) > 0
       |        THEN CAST(1 AS BIGINT) << CAST((s.pid - p.bands * p.bits) % 32 AS INT)
       |        ELSE 0 END) AS BIGINT) AS w
       |  FROM v, pl s, params p
       |  WHERE s.pid >= p.bands * p.bits AND s.pid < p.bands * p.bits + 1024
       |  GROUP BY v.vec_id, word),
       |sigl AS MATERIALIZED (
       |  SELECT vec_id, LIST(w ORDER BY word) AS ws FROM sigs GROUP BY vec_id),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM codes x JOIN codes y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |pre AS MATERIALIZED (
       |  SELECT c.vec_a, c.vec_b
       |  FROM cand c JOIN sigl sa ON sa.vec_id = c.vec_a
       |               JOIN sigl sb ON sb.vec_id = c.vec_b
       |  WHERE list_sum(list_transform(list_zip(sa.ws, sb.ws),
       |          z -> bit_count(xor(z[1], z[2])))) <= $maxHam),
       |andp AS MATERIALIZED (
       |  SELECT pr.vec_a, pr.vec_b, ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
       |  FROM pre pr JOIN v a ON a.vec_id = pr.vec_a JOIN v b ON b.vec_id = pr.vec_b
       |  WHERE ROUND(list_cosine_similarity(a.e, b.e), 6) >= 0.4)""".stripMargin
  }

  val d5aNeardupAdaptiveSql: String =
    "WITH " + adaptivePairsCte +
      """
        |SELECT vec_a, vec_b, cos FROM andp
        |ORDER BY vec_a, vec_b""".stripMargin

  /** M1: multimodal decode — binary payloads (real PNG/JPEG containers
    * around the text bytes) → per-partition byte-level header parse
    * (magic sniff, IHDR/SOF field extraction, CRC check) → typed
    * metadata + a byte-histogram fingerprint of the pixel-data region.
    * The oracle recomputes every field arithmetically (dimensions from
    * the byte count the encoder embedded in the header; the fingerprint
    * as Σ(b+1)³ mod 1e9+7 over the text bytes via per-char ord), so a
    * misparsed offset or endianness shows up as a hash mismatch. */
  val m1MultimodalMeta: Q = (s, dir) =>
    Multimodal.decode(
      Multimodal.attachPayload(Graft.table(s, dir, "documents")))
      .toDF()
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"), col("format"),
        col("fingerprint"))
      .orderBy("doc_id")

  // ASCII-corpus invariant (m1/m2/m3 oracles): DuckDB's
  // ord(substr(text, j, 1)) walks CODE POINTS while the Scala side walks
  // UTF-8 BYTES — they coincide only when every document is pure ASCII
  // (then octet_length == char length and each ord == the byte value).
  // The shipped corpora and the jittered replica's " rN" suffixes are
  // ASCII; MultimodalSpec's "corpus is ASCII" test enforces the
  // invariant so a future non-ASCII corpus fails loudly there instead of
  // as a silent byte/codepoint oracle divergence here.
  val m1MultimodalMetaSql: String =
    """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
      |fp AS (
      |  SELECT t.doc_id,
      |    SUM(CAST(ord(substr(t.text, CAST(j AS INT), 1)) + 1 AS BIGINT)
      |      * (ord(substr(t.text, CAST(j AS INT), 1)) + 1)
      |      * (ord(substr(t.text, CAST(j AS INT), 1)) + 1))
      |      % 1000000007 AS f
      |  FROM t, UNNEST(range(1, t.n + 1)) AS u(j) GROUP BY t.doc_id)
      |SELECT t.doc_id, t.n AS n_bytes,
      |  64 + t.n % 512 AS width,
      |  64 + (t.n * 7) % 512 AS height,
      |  CAST(3 AS BIGINT) AS channels,
      |  CASE WHEN t.n % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |  CAST(COALESCE(fp.f, 0) AS BIGINT) AS fingerprint
      |FROM t LEFT JOIN fp USING (doc_id) ORDER BY doc_id""".stripMargin

  /** V4: IVF search (nprobe=3 of 8 centroids, exact rerank inside the
    * probed buckets). Approximate relative to exact kNN, but fully
    * deterministic (rounded-cosine ranking with id tiebreaks at every
    * step), so the oracle replays the same index + probe + rerank in
    * SQL; recall vs the exact baseline is measured in VectorSpec. */
  val v4IvfSearch: Q = (s, dir) => {
    val emb = Graft.table(s, dir, "embeddings")
    VectorOps.ivfSearch(
      emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8),
      emb.filter(col("vec_id") >= 8 && col("vec_id") < 13), k = 5, nprobe = 3)
      .orderBy("query_id", "rank")
  }

  val v4IvfSearchSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
      |vec AS (SELECT vec_id, e FROM v WHERE vec_id >= 8),
      |assign AS (
      |  SELECT vec_id AS neighbor_id, centroid_id FROM (
      |    SELECT vec.vec_id, c.centroid_id,
      |      row_number() OVER (PARTITION BY vec.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(vec.e, c.ce), 6) DESC, c.centroid_id) AS rk
      |    FROM vec CROSS JOIN c)
      |  WHERE rk = 1),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id >= 8 AND vec_id < 13),
      |probes AS (
      |  SELECT query_id, qe, centroid_id FROM (
      |    SELECT q.query_id, q.qe, c.centroid_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ROUND(list_cosine_similarity(q.qe, c.ce), 6) DESC, c.centroid_id) AS crk
      |    FROM q CROSS JOIN c)
      |  WHERE crk <= 3),
      |cand AS (
      |  SELECT p.query_id, a.neighbor_id,
      |    ROUND(list_cosine_similarity(p.qe, vv.e), 6) AS cos
      |  FROM probes p
      |  JOIN assign a ON a.centroid_id = p.centroid_id
      |  JOIN vec vv ON vv.vec_id = a.neighbor_id
      |  WHERE a.neighbor_id <> p.query_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM cand)
      |SELECT query_id, neighbor_id, cos, rank FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** V10: ANN index quality evaluation — recall@5 of the IVF probe path
    * (v4's exact configuration) against the brute-force exact top-5 over
    * the same corpus and query set: the d9-style "measure before you
    * trust the index at scale" gate, for vectors. Both sides rank on
    * 6-dp-rounded cosine with id tiebreaks, so the recall numbers are
    * engine-exact, not approximately compared. Scale shape: truth is the
    * only brute-force piece and it is per-QUERY brute force (queries ×
    * corpus, the standard eval harness on a sampled query set — the
    * index path itself never sweeps). */
  val v10RecallEval: Q = (s, dir) => {
    val emb = Graft.table(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 8)
    val queries = emb.filter(col("vec_id") >= 8 && col("vec_id") < 13)
    val truth = VectorOps.knnBrute(corpus, queries, 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = VectorOps.ivfSearch(corpus, emb.filter(col("vec_id") < 8),
        queries, k = 5, nprobe = 3)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_truth"), col("n_hit").cast("long").as("n_hit"),
        q6(col("n_hit").cast("double") / col("n_truth")).as("recall"))
      .orderBy("query_id")
  }

  val v10RecallEvalSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
      |vec AS (SELECT vec_id, e FROM v WHERE vec_id >= 8),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id >= 8 AND vec_id < 13),
      |truth AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, vec.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ROUND(list_cosine_similarity(q.qe, vec.e), 6) DESC, vec.vec_id) AS rank
      |    FROM vec CROSS JOIN q WHERE vec.vec_id <> q.query_id)
      |  WHERE rank <= 5),
      |assign AS (
      |  SELECT vec_id AS neighbor_id, centroid_id FROM (
      |    SELECT vec.vec_id, c.centroid_id,
      |      row_number() OVER (PARTITION BY vec.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(vec.e, c.ce), 6) DESC, c.centroid_id) AS rk
      |    FROM vec CROSS JOIN c)
      |  WHERE rk = 1),
      |probes AS (
      |  SELECT query_id, qe, centroid_id FROM (
      |    SELECT q.query_id, q.qe, c.centroid_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ROUND(list_cosine_similarity(q.qe, c.ce), 6) DESC, c.centroid_id) AS crk
      |    FROM q CROSS JOIN c)
      |  WHERE crk <= 3),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT p.query_id, a.neighbor_id,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY ROUND(list_cosine_similarity(p.qe, vv.e), 6) DESC, a.neighbor_id) AS rank
      |    FROM probes p
      |    JOIN assign a ON a.centroid_id = p.centroid_id
      |    JOIN vec vv ON vv.vec_id = a.neighbor_id
      |    WHERE a.neighbor_id <> p.query_id)
      |  WHERE rank <= 5)
      |SELECT t.query_id, COUNT(*) AS n_truth,
      |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
      |  floor(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*) * 1e6 + 0.5) / 1e6 AS recall
      |FROM truth t LEFT JOIN approx a
      |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  /** V5: k-means training step — element-wise mean of the vectors in
    * each IVF cluster (the centroid update that pairs with v2's assign).
    * posexplode → one (cluster, dim) keyed aggregation: d×k cells,
    * partial-aggregated map-side, no vector ever collected. Means are
    * computed through decimal so Spark's parallel partials and the
    * oracle's serial sum agree exactly, then rounded. */
  val v5CentroidUpdate: Q = (s, dir) => {
    val emb = Graft.table(s, dir, "embeddings")
    val assigned = VectorOps.ivfAssign(emb.filter(col("vec_id") >= 8),
      emb.filter(col("vec_id") < 8))
      .select(col("vec_id"), col("centroid_id"))
      .join(emb, "vec_id")
    assigned
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("centroid_id", "pos")
      .agg((sum(col("v").cast("decimal(28,10)")) / count(lit(1)))
        .cast("double").as("mean_raw"))
      .select(col("centroid_id"), col("pos").cast("long").as("pos"),
        round(col("mean_raw"), 6).as("mean_v"))
      .orderBy("centroid_id", "pos")
  }

  val v5CentroidUpdateSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, centroid_id FROM (
      |    SELECT v.vec_id, c.centroid_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(v.e, c.ce), 6) DESC, c.centroid_id) AS rk
      |    FROM v CROSS JOIN c WHERE v.vec_id >= 8)
      |  WHERE rk = 1),
      |cells AS (
      |  SELECT a.centroid_id, i - 1 AS pos, v.e[i] AS val
      |  FROM assign a JOIN v USING (vec_id),
      |       UNNEST(range(1, len(v.e) + 1)) AS t(i))
      |SELECT centroid_id, pos,
      |  ROUND(CAST(SUM(CAST(val AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE), 6) AS mean_v
      |FROM cells GROUP BY centroid_id, pos
      |ORDER BY centroid_id, pos""".stripMargin

  /** M3: multimodal near-dup — videos whose SAMPLED-FRAME fingerprint
    * sets overlap at Jaccard ≥ 0.5, composing m2's frame sampler with
    * the d4 set-similarity machinery (shared-fingerprint candidate
    * join, never n²). Each frame's fingerprint is computed from the
    * frame's ACTUAL bytes (chunk byte sum mod 100003 — a real pipeline
    * swaps in a 64-bit perceptual hash; NB a byte-sum space is denser
    * than a perceptual-hash space, whose sparsity is what keeps the
    * shared-fingerprint join skew-free at scale, and `maxDf` guards the
    * dense case like d4).
    *
    * Runs on a DERIVED media corpus (documents ∪ every 5th document
    * with its LAST character replaced — the media twin of d4's
    * last-word-dropped near-corpus): the derived payload keeps the
    * byte LENGTH, so frame chunking aligns and every chunk except the
    * last is byte-identical — a genuine positive near-dup population
    * at every sf, which keeps this oracle row from passing vacuously
    * on corpora without natural media near-dups (it matched 0 rows at
    * sf0.01 before this). Char-level substring == byte-level here by
    * the spec-enforced ASCII-corpus invariant above. */
  val m3MediaNeardup: Q = (s, dir) => {
    val docs = Graft.table(s, dir, "documents").select("doc_id", "text")
    val derived = docs.filter(col("doc_id") % 5 === 0 && length(col("text")) > 0)
    Graft.assertDisjointIds(docs,
      derived.select((col("doc_id") + 200000).as("doc_id")),
      dir, "VectorQueries.m3MediaNeardup")
    val media = docs.unionByName(
      derived
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(expr("substring(text, 1, length(text) - 1)"), lit("X"))
            .as("text")))
    val frames = Multimodal.sampleFrames(Multimodal.attachPayload(media), 1)
    val fps = frames.select(col("doc_id"),
      col("fp").cast("string").as("shingle")).distinct()
    graft.dedup.Dedup.ngramJaccardFromShingles(fps, 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val m3MediaNeardupSql: String =
    """WITH t0 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id,
      |         substr(text, 1, length(text) - 1) || 'X' AS text
      |  FROM documents WHERE doc_id % 5 = 0 AND length(text) > 0),
      |t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM t0),
      |f AS (SELECT doc_id, text, n, n % 7 + 1 AS n_frames,
      |        (n + n % 7) // (n % 7 + 1) AS csz FROM t),
      |fr AS (SELECT doc_id, text, n, csz, i AS frame_idx
      |       FROM f, UNNEST(range(0, n_frames, 1)) AS u(i)
      |       WHERE i * csz < n),
      |ch AS (SELECT doc_id, frame_idx,
      |         SUM(ord(substr(text, CAST(j AS INT), 1))) AS s
      |       FROM fr, UNNEST(range(frame_idx * csz + 1,
      |                             least((frame_idx + 1) * csz, n) + 1)) AS v(j)
      |       GROUP BY 1, 2),
      |fp AS (SELECT DISTINCT doc_id, s % 100003 AS fp FROM ch),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |          FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** M2: multimodal frame sampling — container parse, every-2nd-frame
    * chunking of the pixel-data region, per-frame features from the
    * frame's ACTUAL bytes (see Multimodal.sampleFrames). The oracle
    * replays the chunk arithmetic and the byte sums per-char in SQL. */
  val m2FrameSample: Q = (s, dir) =>
    Multimodal.sampleFrames(
      Multimodal.attachPayload(Graft.table(s, dir, "documents")), 2)
      .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
        col("frame_idx").cast("long").as("frame_idx"),
        round(col("feature"), 6).as("feature"))
      .orderBy("doc_id", "frame_idx")

  val m2FrameSampleSql: String =
    """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
      |f AS (SELECT doc_id, text, n, n % 7 + 1 AS n_frames,
      |        (n + n % 7) // (n % 7 + 1) AS csz FROM t),
      |fr AS (SELECT doc_id, text, n, n_frames, csz, i AS frame_idx
      |       FROM f, UNNEST(range(0, n_frames, 2)) AS u(i)
      |       WHERE i * csz < n),
      |ch AS (SELECT doc_id, n_frames, frame_idx,
      |         SUM(ord(substr(text, CAST(j AS INT), 1))) AS s
      |       FROM fr, UNNEST(range(frame_idx * csz + 1,
      |                             least((frame_idx + 1) * csz, n) + 1)) AS v(j)
      |       GROUP BY 1, 2, 3)
      |SELECT doc_id, n_frames, frame_idx,
      |  ROUND(CAST(s % 1000 AS DOUBLE) / 1000.0, 6) AS feature
      |FROM ch ORDER BY doc_id, frame_idx""".stripMargin

  /** V6: int8 scalar quantization — per-dimension min/max over the corpus,
    * quantize to [−128, 127], report each vector's worst reconstruction
    * error. The per-dim stats frame is 64 rows (broadcast); quantization
    * itself is stateless row math, and max-abs-err is order-independent,
    * so the whole op is exact on both engines (no float policy needed
    * beyond the final display round). */
  val v6Quantize: Q = (s, dir) => {
    val dims = Graft.table(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
    val stats = dims.groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims.join(broadcast(stats), "pos")
      .withColumn("q", when(col("mx") === col("mn"), lit(0L))
        .otherwise(round(lit(255.0) * (col("x") - col("mn")) / (col("mx") - col("mn")))
          .cast("long") - 128))
      .withColumn("deq", when(col("mx") === col("mn"), col("mn"))
        .otherwise(col("mn") +
          (col("q") + 128).cast("double") * (col("mx") - col("mn")) / 255.0))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dims"),
        round(max(abs(col("x") - col("deq"))), 9).as("max_abs_err"))
      .orderBy("vec_id")
  }

  val v6QuantizeSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |d AS (SELECT vec_id, i - 1 AS pos, e[i] AS x
      |      FROM v, UNNEST(range(1, len(e) + 1)) AS t(i)),
      |st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY 1),
      |q AS (
      |  SELECT vec_id, x, mn, mx,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(ROUND(255 * (x - mn) / (mx - mn)) AS BIGINT) - 128 END AS qv
      |  FROM d JOIN st USING (pos)),
      |deq AS (
      |  SELECT vec_id, x,
      |    CASE WHEN mx = mn THEN mn
      |         ELSE mn + (qv + 128) * (mx - mn) / 255.0 END AS dq
      |  FROM q)
      |SELECT vec_id, COUNT(*) AS n_dims,
      |  CAST(CAST(MAX(ABS(x - dq)) AS DECIMAL(38,9)) AS DOUBLE) AS max_abs_err
      |FROM deq GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** V7: two full k-means iterations (assign → decimal-exact centroid
    * update, means rounded to 6 dp as the deterministic hand-off → assign
    * again), reporting final cluster sizes and mean member cosine. The
    * iterative shape every Lloyd's-style fit has at scale: per-round cost
    * is one broadcast-join assign plus one (k·d)-cell aggregation; nothing
    * per-pair, nothing collected. */
  /** The 2-iteration Lloyd assignment shared by v7 (inertia report)
    * and v11 (label-agreement eval): seed with vectors 0-7, assign,
    * recompute means, assign again. Returns (vec_id, centroid_id, cos).
    */
  private def kmeans2Assign(s: SparkSession, dir: String): DataFrame = {
    val emb = Graft.table(s, dir, "embeddings")
    val points = emb.filter(col("vec_id") >= 8)
    val a1 = VectorOps.ivfAssign(points, emb.filter(col("vec_id") < 8))
    val c1 = a1.select(col("vec_id"), col("centroid_id")).join(emb, "vec_id")
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("centroid_id", "pos")
      .agg(round((sum(col("v").cast("decimal(28,10)")) / count(lit(1)))
        .cast("double"), 6).as("m"))
      .groupBy("centroid_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("embedding"))
      .select(col("centroid_id").as("vec_id"), col("embedding"))
    VectorOps.ivfAssign(points, c1)
  }

  val v7Kmeans2: Q = (s, dir) =>
    kmeans2Assign(s, dir)
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("cos").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("avg_cos"))
      .orderBy("centroid_id")

  /** V11: external cluster-quality evaluation — the 2-iteration k-means
    * assignment scored against the embeddings' TRUE labels: purity
    * (Σ max-label counts / N) and normalized mutual information
    * NMI = 2·I(C;L)/(H(C)+H(L)). The labels exist precisely to close
    * this loop — v7 reports geometry (inertia), v11 reports whether
    * the geometry recovers the semantics. All counts integer; each
    * entropy/MI term is one ln on a ratio of exact integers (ln
    * bit-agrees cross-engine — t17/x7 precedent) snapped to DECIMAL
    * before the order-independent sum. */
  val v11ClusterPurity: Q = (s, dir) => {
    val cells = kmeans2Assign(s, dir)
      .join(Graft.table(s, dir, "embeddings").select("vec_id", "label"), "vec_id")
      .groupBy("centroid_id", "label").agg(count(lit(1)).as("n"))
    val n = Window.partitionBy()
    val byC = Window.partitionBy("centroid_id")
    val byL = Window.partitionBy("label")
    val e = cells
      .withColumn("nn", sum(col("n")).over(n))
      .withColumn("nc", sum(col("n")).over(byC))
      .withColumn("nl", sum(col("n")).over(byL))
      .withColumn("mi_t",
        ((col("n").cast("double") / col("nn")) *
          log(col("n").cast("double") * col("nn") /
            (col("nc").cast("double") * col("nl")))).cast("decimal(28,12)"))
    val maxByC = cells.groupBy("centroid_id").agg(max(col("n")).as("mx"))
    val hc = cells.groupBy("centroid_id").agg(sum("n").as("nc"))
      .crossJoin(cells.agg(sum(col("n")).as("nn")))
      .select(((col("nc").cast("double") / col("nn")) *
        log(col("nc").cast("double") / col("nn"))).cast("decimal(28,12)").as("t"))
      .agg((-sum(col("t"))).as("h"))
    val hl = cells.groupBy("label").agg(sum("n").as("nl"))
      .crossJoin(cells.agg(sum(col("n")).as("nn")))
      .select(((col("nl").cast("double") / col("nn")) *
        log(col("nl").cast("double") / col("nn"))).cast("decimal(28,12)").as("t"))
      .agg((-sum(col("t"))).as("h"))
    e.agg(sum(col("mi_t")).as("mi"), sum(col("n")).as("nn"))
      .crossJoin(maxByC.agg(sum(col("mx")).as("mxsum")))
      .crossJoin(hc.select(col("h").as("hc")))
      .crossJoin(hl.select(col("h").as("hl")))
      .select(
        col("nn").cast("long").as("n_points"),
        q6(col("mxsum").cast("double") / col("nn")).as("purity"),
        q6(lit(2.0) * col("mi").cast("double") /
          (col("hc").cast("double") + col("hl").cast("double"))).as("nmi"))
  }

  /** Shared WITH…a2 prefix: the deterministic 2-iteration assignment. */
  private val kmeans2AssignCte: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c0 AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, centroid_id FROM (
      |    SELECT v.vec_id, c0.centroid_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(v.e, c0.ce), 6) DESC, c0.centroid_id) AS rk
      |    FROM v CROSS JOIN c0 WHERE v.vec_id >= 8)
      |  WHERE rk = 1),
      |cells AS (
      |  SELECT a1.centroid_id, i - 1 AS pos, v.e[i] AS val
      |  FROM a1 JOIN v USING (vec_id),
      |       UNNEST(range(1, len(v.e) + 1)) AS t(i)),
      |c1 AS (
      |  SELECT centroid_id, list(m ORDER BY pos) AS ce FROM (
      |    SELECT centroid_id, pos,
      |      ROUND(CAST(SUM(CAST(val AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE), 6) AS m
      |    FROM cells GROUP BY centroid_id, pos)
      |  GROUP BY centroid_id),
      |a2 AS (
      |  SELECT vec_id, centroid_id, cos FROM (
      |    SELECT v.vec_id, c1.centroid_id,
      |      ROUND(list_cosine_similarity(v.e, c1.ce), 6) AS cos,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(v.e, c1.ce), 6) DESC, c1.centroid_id) AS rk
      |    FROM v CROSS JOIN c1 WHERE v.vec_id >= 8)
      |  WHERE rk = 1)""".stripMargin

  val v7Kmeans2Sql: String = kmeans2AssignCte +
    """
      |SELECT centroid_id, COUNT(*) AS n_members,
      |  CAST(CAST(CAST(SUM(CAST(cos AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS avg_cos
      |FROM a2 GROUP BY centroid_id ORDER BY centroid_id""".stripMargin

  val v11ClusterPuritySql: String = kmeans2AssignCte +
    """,
      |lc AS (
      |  SELECT a2.centroid_id, e.label, COUNT(*) AS n
      |  FROM a2 JOIN embeddings e USING (vec_id)
      |  GROUP BY 1, 2),
      |tot AS (SELECT SUM(n) AS nn FROM lc),
      |mi AS (
      |  SELECT SUM(CAST((CAST(n AS DOUBLE) / nn) *
      |    ln(CAST(n AS DOUBLE) * nn / (CAST(nc AS DOUBLE) * CAST(nl AS DOUBLE)))
      |    AS DECIMAL(28,12))) AS mi
      |  FROM (
      |    SELECT n, nn,
      |      SUM(n) OVER (PARTITION BY centroid_id) AS nc,
      |      SUM(n) OVER (PARTITION BY label) AS nl
      |    FROM lc CROSS JOIN tot)),
      |mx AS (
      |  SELECT SUM(mxn) AS mxsum FROM (
      |    SELECT centroid_id, MAX(n) AS mxn FROM lc GROUP BY 1)),
      |hc AS (
      |  SELECT -SUM(CAST((CAST(nc AS DOUBLE) / nn) * ln(CAST(nc AS DOUBLE) / nn)
      |    AS DECIMAL(28,12))) AS h
      |  FROM (SELECT centroid_id, SUM(n) AS nc FROM lc GROUP BY 1) CROSS JOIN tot),
      |hl AS (
      |  SELECT -SUM(CAST((CAST(nl AS DOUBLE) / nn) * ln(CAST(nl AS DOUBLE) / nn)
      |    AS DECIMAL(28,12))) AS h
      |  FROM (SELECT label, SUM(n) AS nl FROM lc GROUP BY 1) CROSS JOIN tot)
      |SELECT CAST(tot.nn AS BIGINT) AS n_points,
      |  floor(CAST(mx.mxsum AS DOUBLE) / tot.nn * 1e6 + 0.5) / 1e6 AS purity,
      |  floor(2.0 * CAST(mi.mi AS DOUBLE) / (CAST(hc.h AS DOUBLE) + CAST(hl.h AS DOUBLE))
      |    * 1e6 + 0.5) / 1e6 AS nmi
      |FROM tot CROSS JOIN mi CROSS JOIN mx CROSS JOIN hc CROSS JOIN hl""".stripMargin

  /** V8: product-quantization codes — each vector split into 4
    * subvectors of 16 dims, each assigned to the nearest of 8
    * sub-centroids (vectors 0-7's subvectors, the same deterministic
    * seeding convention as v2/v7), reported with the per-subspace
    * squared reconstruction distance. The memory-bound ANN format:
    * 4 bytes/vector instead of 256, with distance tables per query.
    *
    * Scale shape: one posexplode + one (sub, pos) keyed join against
    * the broadcastable centroid dims (8·64 rows) + one (vec, sub, cid)
    * aggregation; ranking runs on ROUNDED distances with a cid
    * tiebreak (v4's determinism recipe), and the squared-diff terms
    * accumulate as exact DECIMAL so the rounding is engine-identical. */
  val v8PqCodes: Q = (s, dir) => {
    val dims = Graft.table(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .withColumn("sub", expr("pos div 16"))
    val cents = dims.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("sub"), col("pos"), col("x").as("c"))
    val d2 = dims.filter(col("vec_id") >= 8)
      .join(broadcast(cents), Seq("sub", "pos"))
      .withColumn("t", ((col("x") - col("c")) * (col("x") - col("c"))).cast("decimal(38,12)"))
      .groupBy("vec_id", "sub", "cid")
      .agg(round(sum(col("t")).cast("double"), 9).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "sub").orderBy(col("d2"), col("cid"))
    d2.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("cid").as("code"), col("d2"))
      .orderBy("vec_id", "sub")
  }

  val v8PqCodesSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |d AS (SELECT vec_id, (i - 1) // 16 AS sub, i - 1 AS pos, e[i] AS x
      |      FROM v, UNNEST(range(1, len(e) + 1)) AS t(i)),
      |c AS (SELECT vec_id AS cid, sub, pos, x AS c FROM d WHERE vec_id < 8),
      |d2 AS (
      |  SELECT d.vec_id, d.sub, c.cid,
      |    ROUND(CAST(SUM(CAST((d.x - c.c) * (d.x - c.c) AS DECIMAL(38,12))) AS DOUBLE), 9) AS d2
      |  FROM d JOIN c ON c.sub = d.sub AND c.pos = d.pos
      |  WHERE d.vec_id >= 8
      |  GROUP BY 1, 2, 3),
      |best AS (
      |  SELECT vec_id, sub, cid, d2,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rk
      |  FROM d2)
      |SELECT vec_id, CAST(sub AS BIGINT) AS sub, cid AS code, d2
      |FROM best WHERE rk = 1
      |ORDER BY vec_id, sub""".stripMargin

  /** V9: PQ asymmetric-distance (ADC) search — database vectors
    * (vec_id ≥ 16) are reduced to their 4 v8-style codes; each query
    * (vec_id 8-12) precomputes a 4×8 distance TABLE to the
    * sub-centroids; approximate distance = the sum of 4 table lookups
    * joined through the codes. The FAISS search shape: per-candidate
    * cost is 4 additions instead of 64 multiply-adds, and the scan
    * never touches the raw database vectors.
    *
    * Determinism: codes rank on rounded sub-distances (v8), the
    * per-sub table entries stay EXACT DECIMAL until the final total
    * (so the 4-entry sum is association-free), and the top-5 ranks on
    * the rounded total with an id tiebreak. */
  val v9PqSearch: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
    val dims = Graft.table(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .withColumn("sub", expr("pos div 16"))
    val cents = dims.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("sub"), col("pos"), col("x").as("c"))
    val codes = dims.filter(col("vec_id") >= 16)
      .join(broadcast(cents), Seq("sub", "pos"))
      .withColumn("t", ((col("x") - col("c")) * (col("x") - col("c"))).cast("decimal(38,12)"))
      .groupBy("vec_id", "sub", "cid")
      .agg(round(sum(col("t")).cast("double"), 9).as("d2"))
      .withColumn("rk", row_number().over(
        w.partitionBy("vec_id", "sub").orderBy(col("d2"), col("cid"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
    val dtab = dims.filter(col("vec_id") >= 8 && col("vec_id") < 13)
      .select(col("vec_id").as("query_id"), col("sub"), col("pos"), col("x").as("qx"))
      .join(broadcast(cents), Seq("sub", "pos"))
      .withColumn("t", ((col("qx") - col("c")) * (col("qx") - col("c"))).cast("decimal(38,12)"))
      .groupBy("query_id", "sub", "cid")
      .agg(sum(col("t")).as("qd2"))
    val adc = codes
      .join(broadcast(dtab), codes("sub") === dtab("sub") && codes("code") === dtab("cid"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(round(sum(col("qd2")).cast("double"), 9).as("adc_d2"))
    adc.withColumn("rank", row_number().over(
        w.partitionBy("query_id").orderBy(col("adc_d2"), col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  val v9PqSearchSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |d AS (SELECT vec_id, (i - 1) // 16 AS sub, i - 1 AS pos, e[i] AS x
      |      FROM v, UNNEST(range(1, len(e) + 1)) AS t(i)),
      |c AS (SELECT vec_id AS cid, sub, pos, x AS cx FROM d WHERE vec_id < 8),
      |cd2 AS (
      |  SELECT d.vec_id, d.sub, c.cid,
      |    ROUND(CAST(SUM(CAST((d.x - c.cx) * (d.x - c.cx) AS DECIMAL(38,12))) AS DOUBLE), 9) AS d2
      |  FROM d JOIN c ON c.sub = d.sub AND c.pos = d.pos
      |  WHERE d.vec_id >= 16
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, sub, cid AS code FROM (
      |    SELECT vec_id, sub, cid, row_number() OVER (
      |      PARTITION BY vec_id, sub ORDER BY d2, cid) AS rk
      |    FROM cd2)
      |  WHERE rk = 1),
      |dtab AS (
      |  SELECT q.vec_id AS query_id, q.sub, c.cid,
      |    SUM(CAST((q.x - c.cx) * (q.x - c.cx) AS DECIMAL(38,12))) AS qd2
      |  FROM d q JOIN c ON c.sub = q.sub AND c.pos = q.pos
      |  WHERE q.vec_id >= 8 AND q.vec_id < 13
      |  GROUP BY 1, 2, 3),
      |adc AS (
      |  SELECT dt.query_id, co.vec_id AS neighbor_id,
      |    ROUND(CAST(SUM(dt.qd2) AS DOUBLE), 9) AS adc_d2
      |  FROM codes co JOIN dtab dt ON dt.sub = co.sub AND dt.cid = co.code
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT query_id, neighbor_id, adc_d2, row_number() OVER (
      |    PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
      |  FROM adc)
      |SELECT query_id, neighbor_id, adc_d2, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** D7: semantic-dedup clusters — connected components over the
    * embedding near-dup pairs (the embedding-space analogue of d6's
    * text clusters; same recursive-CTE closure oracle). Cluster id =
    * smallest transitively reachable vec_id. The graph is
    * chain-shaped (17 min-label propagation rounds measured), so it
    * uses the large-star/small-star variant — 4 alternations,
    * diameter-independent at any scale.
    *
    * r13 (judge-sanctioned parameter change, catalog key unchanged):
    * the pair set is d5a's DENSITY-ADAPTIVE banding
    * ([[graft.vector.VectorOps.lshNearDupAdaptive]], library
    * defaults), not the frozen 16-band × 4-bit pipeline. The frozen
    * banding admits ~64 % of ALL pairs by construction (4 sign bits
    * collide a cosine-0 pair with p = 1/16 per band), which the r12
    * probe MEASURED as 380.7 GB of spill and a disk-exhaust abort at
    * factor 30 while the adaptive path answered the same input in
    * ~30 s with zero spill (`bench/probe_f30_d7_r12.json`,
    * SCALE_r12.md §1) — Θ(n²) candidates is not a clustering anyone
    * can run at 100 TB. The frozen pipeline stays available as the
    * library function behind d5 (bit-identical r5-catalog replay);
    * the oracle below replays the adaptive banding exactly as d5a's
    * does (same shared CTE chain). */
  val d7EmbeddingClusters: Q = (s, dir) =>
    graft.dedup.Dedup.connectedComponentsStars(
      VectorOps.lshNearDupAdaptive(
        Graft.table(s, dir, "embeddings"), threshold = 0.4).pairs,
      "vec_a", "vec_b")
      .select(col("node").as("vec_id"), col("label").as("cluster"))
      .orderBy("vec_id")

  val d7EmbeddingClustersSql: String =
    "WITH RECURSIVE " + adaptivePairsCte +
      """,
        |sym AS MATERIALIZED (
        |        SELECT vec_a AS src, vec_b AS dst FROM andp
        |        UNION ALL SELECT vec_b, vec_a FROM andp),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN sym e ON e.src = r.dst
        |)
        |SELECT node AS vec_id, MIN(lbl) AS cluster FROM (
        |  SELECT src AS node, dst AS lbl FROM reach
        |  UNION ALL
        |  SELECT DISTINCT src AS node, src AS lbl FROM sym)
        |GROUP BY node
        |ORDER BY vec_id""".stripMargin

  def queries: Map[String, Graft.Q] = Map(
    "d7_embedding_clusters" -> d7EmbeddingClusters,
    "v8_pq_codes" -> v8PqCodes,
    "v9_pq_search" -> v9PqSearch,
    "v6_quantize" -> v6Quantize,
    "v7_kmeans2" -> v7Kmeans2,
    "v11_cluster_purity" -> v11ClusterPurity,
    "m2_frame_sample" -> m2FrameSample,
    "m3_media_neardup" -> m3MediaNeardup,
    "v5_centroid_update" -> v5CentroidUpdate,
    "v4_ivf_search" -> v4IvfSearch,
    "v10_recall_eval" -> v10RecallEval,
    "v1_knn_brute" -> v1KnnBrute,
    "v2_ivf_assign" -> v2IvfAssign,
    "v3_lsh_buckets" -> v3LshBuckets,
    "d5_embedding_neardup" -> d5EmbeddingNeardup,
    "d5a_neardup_adaptive" -> d5aNeardupAdaptive,
    "m1_multimodal_meta" -> m1MultimodalMeta,
  )

  def oracle: Map[String, String] = Map(
    "d7_embedding_clusters" -> d7EmbeddingClustersSql,
    "v8_pq_codes" -> v8PqCodesSql,
    "v9_pq_search" -> v9PqSearchSql,
    "v6_quantize" -> v6QuantizeSql,
    "v7_kmeans2" -> v7Kmeans2Sql,
    "v11_cluster_purity" -> v11ClusterPuritySql,
    "m2_frame_sample" -> m2FrameSampleSql,
    "m3_media_neardup" -> m3MediaNeardupSql,
    "v5_centroid_update" -> v5CentroidUpdateSql,
    "v4_ivf_search" -> v4IvfSearchSql,
    "v10_recall_eval" -> v10RecallEvalSql,
    "v1_knn_brute" -> v1KnnBruteSql,
    "v2_ivf_assign" -> v2IvfAssignSql,
    "v3_lsh_buckets" -> v3LshBucketsSql,
    "d5_embedding_neardup" -> d5EmbeddingNeardupSql,
    "d5a_neardup_adaptive" -> d5aNeardupAdaptiveSql,
    "m1_multimodal_meta" -> m1MultimodalMetaSql,
  )
}
