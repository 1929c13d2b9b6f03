package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.DotProductLong.dot_long
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (64-dim float vectors).
  *
  * Cross-engine determinism: floats are quantized to integer
  * micro-units (round(x·1e6)) before any arithmetic, so dot products
  * are exact integer math — identical bits in Spark (long fold) and
  * DuckDB (list_dot_product; values < 2^53 so the double result is
  * exact). Cosine then divides identical doubles by identical
  * correctly-rounded sqrts.
  *
  * Scale design: brute-force is the verifiable baseline (O(q·n), query
  * side broadcast); the IVF variant restricts the search to the
  * query's coarse cell (`label` = precomputed coarse-quantizer
  * assignment), the standard inverted-file ANN layout — at 100 TB the
  * cell id is the shuffle/partition key and each cell's postings list
  * is scanned locally.
  *
  * Plan shape (the expensive parts, deliberately):
  *   - the quantized signature table is computed ONCE and cached
  *     (`signatures`) — locally a Spark cache, at 100 TB a write-once
  *     parquet table; every query (both join sides included) reuses it
  *     instead of re-scanning + re-quantizing the embeddings;
  *   - pair scoring uses a native codegen'd integer dot product
  *     ([[graft.functions.DotProductLong]]) instead of interpreted
  *     `aggregate(zip_with(...))` higher-order functions — the per-pair
  *     inner loop is the whole cost of within-cell pair generation;
  *   - within-cell pair generation is bounded: cells larger than
  *     [[maxCellSize]] are truncated (deterministically, by vec_id) so
  *     one hot cell cannot go O(cell²) — same contract as an LSH
  *     band-bucket cap. The default never triggers at test scale.
  */
object SimilarityOps {

  /** Rank-ordered block width for the triangle block decomposition of
    * within-cell pair generation: one hot cell's C(n,2) pairs split
    * into independent (block-i, block-j) tasks of at most
    * PairBlockSize² pairs each — completeness preserved at any cell
    * size (no truncation). Test-scale cells fit one block, so the plan
    * degenerates to the plain self-join.
    */
  val PairBlockSize = 10000

  /** Cells probed per query in the multi-probe IVF search (nprobe). */
  val Probes = 2

  /** Multi-table LSH geometry: [[LshTables]] independent tables of
    * [[LshPlanes]] hyperplanes each (2^5 = 32 buckets per table). One
    * fine-grained table has near-zero recall@5 — a true neighbor must
    * agree on EVERY bit of one sketch; with L independent coarser
    * tables a neighbor is found if it collides in ANY of them
    * (1 − (1 − p^P)^L), the standard LSH recall lever. Measured by the
    * sim_lsh_recall gate: the 8-plane single-table predecessor scored
    * recall 0.0 at sf0.01; 4×6 lifted it to 0.2, this 4×5 geometry to
    * 0.3 (parity with the IVF probe search) while scanning ~1/8 of
    * the corpus per query.
    */
  val LshPlanes = 5

  /** Independent LSH hash tables (union of candidates). */
  val LshTables = 4

  /** Reciprocal-rank-fusion smoothing constant (the k=60 of Cormack
    * et al. 2009): rank 1 in one family scores 1/(60+1) — close
    * enough to rank 5's 1/(60+5) that two mid-rank agreements beat
    * one first-place. */
  val RrfK = 60

  /** Integer scale for RRF terms: floor(RrfScale/(RrfK+rank)) keeps
    * the fused score exact long arithmetic (distinct at every rank
    * for RrfScale = 1e6), so it hash-compares across engines. */
  val RrfScale = 1000000

  /** Candidates each modality contributes to the hybrid
    * lexical+vector fusion. */
  val HybridCand = 20

  // Same quantization, one spelling per engine: Spark higher-order
  // `transform`, DuckDB `list_transform`.
  private val quantizeSpark =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
  private val quantizeDuck =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  /** vec_id, label, quantized vector, squared norm (exact integer).
    * Cached: Spark's CacheManager keys on the analyzed plan, so every
    * caller — including both sides of a self-join — shares one
    * materialization per (dir). Deliberately window-free: the build is
    * a pure per-row map, so one hot cell cannot serialize signature
    * materialization through a single sort task (block membership for
    * pair generation is hash-assigned in [[graft.functions.Pairs]],
    * no rank needed).
    */
  private[graft] def signatures(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), expr(quantizeSpark).as("qv"))
      .withColumn("norm2", dot_long(col("qv"), col("qv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** All unordered same-cell pairs (a_id < b_id) of a signature table
    * (columns label, vec_id, qv, norm2) via the triangle block
    * decomposition: block membership is HASH-assigned per id (no
    * per-cell rank or sort), the join key is (label, block-i,
    * block-j) with i ≤ j, and the a_id < b_id filter keeps each
    * unordered pair exactly once. Complete at any cell size; worst
    * task = blockSize² pairs.
    */
  def cellPairs(sig: DataFrame, blockSize: Int): DataFrame =
    graft.functions.Pairs.blockedSelfPairs(sig,
        keyCols = Seq("label"), idCol = "vec_id",
        payload = Seq("qv", "norm2"), blockSize = blockSize)
      .select(col("label"), col("a_vec_id").as("a_id"), col("a_qv").as("qa"),
        col("a_norm2"), col("b_vec_id").as("b_id"), col("b_qv").as("qb"),
        col("b_norm2"))

  private[operators] val quantizedSql =
    s"""SELECT vec_id, label, $quantizeDuck AS qv,
       |  list_dot_product($quantizeDuck, $quantizeDuck) AS norm2
       |FROM embeddings""".stripMargin

  /** Per-query top-k via the custom [[TopKPerKey]] physical operator —
    * NOT `row_number().over(partitionBy(qid))`: the window spelling
    * shuffles and sorts every scored candidate per query; the custom
    * plan heap-reduces map-side to ≤k rows per query per partition
    * first, so the shuffle moves k·partitions rows per query
    * regardless of corpus size. Its final pass emits the rank (no
    * WindowExec anywhere). Rows come back UNSORTED: most lists feed a
    * join or an aggregate, where a global sort is a wasted range
    * exchange, so only the gate that presents a list sorts it by
    * (qid, rnk).
    */
  private[operators] def rankTop5(scored: DataFrame): DataFrame =
    TopKPerKey.topKRanked(
      scored.select(col("qid"), col("vid"), col("cos")),
      Seq("qid"), Seq("cos" -> true, "vid" -> false), 5, "rnk")

  private[operators] def topk(s: SparkSession, dir: String, sameCell: Boolean): DataFrame = {
    val base = signatures(s, dir)
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("qv").as("qa"), col("norm2").as("q_norm2"))
    val cand = base.select(col("vec_id").as("vid"), col("label").as("c_label"),
      col("qv").as("qb"), col("norm2").as("c_norm2"))
    val joinCond =
      if (sameCell) col("q_label") === col("c_label") && col("qid") =!= col("vid")
      else col("qid") =!= col("vid")
    rankTop5(broadcast(q).join(cand, joinCond)
      .withColumn("dot", dot_long(col("qa"), col("qb")))
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(c_norm2 AS DOUBLE)))")))
  }

  /** Micro-quantized DCG gain term `rel / log2(pos + 1)` — ONE shared
    * expression string compiled by both engines (the feat_mutual_info
    * ln discipline) so the classically-float discounted gain is summed
    * as identical BIGINT micro-units everywhere.
    */
  private def gainMicroSql(rel: String, pos: String): String =
    s"CAST(CAST((CAST($rel AS DOUBLE)" +
      s" / (ln(CAST($pos + 1 AS DOUBLE)) / ln(2.0)))" +
      " AS DECIMAL(18,6)) * 1000000 AS BIGINT)"

  private[operators] def topkSql(cellFilter: String): String =
    s"""SELECT qid, vid, cos, rnk FROM (
       |  SELECT qid, vid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rnk
       |  FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS vid,
       |      list_dot_product(a.qv, b.qv)
       |        / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
       |        AS cos
       |    FROM ($quantizedSql) a JOIN ($quantizedSql) b
       |      ON a.vec_id < 10 AND b.vec_id <> a.vec_id $cellFilter))
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  /** Shared probe-cell selection CTE chain (expects a bound `sig`):
    * ends in `probes` = (qid, label), the [[Probes]] best cells per
    * query by centroid cosine. Reused by the IVF probe search and the
    * IVF-PQ composition in [[PqOps]].
    */
  private[operators] val probeCteChain: String =
    s"""dims AS (
       |  SELECT label, pos, CAST(SUM(qv[pos]) AS BIGINT) AS sv,
       |    COUNT(*) AS n
       |  FROM sig, UNNEST(generate_series(1, len(qv))) AS t(pos)
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT label,
       |    list(CAST(FLOOR(sv / n) AS BIGINT) ORDER BY pos) AS cvec
       |  FROM dims GROUP BY 1),
       |cent2 AS (
       |  SELECT label, cvec, list_dot_product(cvec, cvec) AS cnorm2
       |  FROM cent),
       |qprobe AS (
       |  SELECT vec_id AS qid, qv AS qa, norm2 AS qn
       |  FROM sig WHERE vec_id < 10),
       |rankedcells AS (
       |  SELECT qid, label,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
       |      list_dot_product(qa, cvec)
       |        / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE)))
       |      DESC, label) AS cell_rank
       |  FROM qprobe CROSS JOIN cent2),
       |probes AS (
       |  SELECT qid, label FROM rankedcells WHERE cell_rank <= $Probes)""".stripMargin

  /** The full multi-probe IVF search SQL (shared by the sim_ivf_probe
    * gate and the recall gate, which embeds it as a derived table).
    */
  private val probeSql =
    s"""WITH sig AS ($quantizedSql),
       |$probeCteChain,
       |cand AS (
       |  SELECT q.qid, s.vec_id AS vid,
       |    list_dot_product(q.qa, s.qv)
       |      / (sqrt(CAST(q.qn AS DOUBLE)) * sqrt(CAST(s.norm2 AS DOUBLE)))
       |      AS cos
       |  FROM qprobe q
       |  JOIN probes p ON p.qid = q.qid
       |  JOIN sig s ON s.label = p.label AND s.vec_id <> q.qid)
       |SELECT qid, vid, cos, rnk FROM (
       |  SELECT qid, vid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rnk
       |  FROM cand)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  /** The full multi-table LSH top-k SQL (shared by the sim_lsh_topk
    * gate and the LSH recall gate, which embeds it as a CTE body).
    */
  private val lshSql: String = {
    val dims = 64
    val planes = LshPlanes
    val tables = LshTables
    s"""WITH sig AS ($quantizedSql),
       |planes AS (
       |  SELECT t, p, d,
       |    CASE WHEN (strpos('0123456789abcdef',
       |        substr(md5(t || ':' || p || ':' || d), 1, 1)) - 1) % 2 = 0
       |      THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(range(0, $tables)) AS t) tt,
       |    (SELECT unnest(range(0, $planes)) AS p) pp,
       |    (SELECT unnest(range(0, $dims)) AS d) dd),
       |proj AS (
       |  SELECT v.vec_id, pl.t, pl.p, SUM(pl.s * v.qv[pl.d + 1]) AS dot
       |  FROM sig v JOIN planes pl ON TRUE
       |  GROUP BY 1, 2, 3),
       |buckets AS (
       |  SELECT vec_id, t,
       |    CAST(COALESCE(SUM(CASE WHEN dot > 0
       |      THEN CAST(POW(2, p) AS BIGINT) END), 0) AS BIGINT) AS bkt
       |  FROM proj GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT ba.vec_id AS qid, bb.vec_id AS vid
       |  FROM buckets ba
       |  JOIN buckets bb ON bb.t = ba.t AND bb.bkt = ba.bkt
       |    AND bb.vec_id <> ba.vec_id
       |  WHERE ba.vec_id < 10)
       |SELECT qid, vid, cos, rnk FROM (
       |  SELECT qid, vid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vid) AS rnk
       |  FROM (
       |    SELECT c.qid, c.vid,
       |      list_dot_product(a.qv, b.qv)
       |        / (sqrt(CAST(a.norm2 AS DOUBLE))
       |          * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos
       |    FROM cand c
       |    JOIN sig a ON a.vec_id = c.qid
       |    JOIN sig b ON b.vec_id = c.vid) t0) t1
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** The [[Probes]] best cells per query by centroid cosine —
    * (qid, label). The "train" half is one integer centroid per cell
    * (64 tiny rows per cell after the posexplode aggregate); the
    * "search" half ranks cells per query through the custom top-k
    * operator (over #cells ≈ √n rows at scale) — no window. Shared by
    * the IVF probe search and the IVF-PQ composition in [[PqOps]].
    */
  /** Shared top-PC state for emb_top_pc and emb_pc_variance_ratio:
    * ONE distributed pass folds the exact integer scatter statistics;
    * the power iteration then runs on the driver over the 4096-entry
    * C in exact BigInt arithmetic (the MLlib-RowMatrix discipline —
    * Gram matrix to the driver, local eigensolve; same bounded
    * round-trip budget as k-center/BPE argmax). sign·(|u|·1e6/m) on
    * nonnegative operands makes BigInt truncation ≡ HUGEINT floor, so
    * the driver math mirrors the oracle bit-for-bit. Returns (dims,
    * converged integer-micro vector, centered covariance ×n²).
    */
  private def topPcState(s: SparkSession, dir: String)
      : (Seq[Long], Map[Long, BigInt], Map[(Long, Long), BigInt]) = {
    val xr = signatures(s, dir).select(col("qv"))
      .select(posexplode(col("qv")).as(Seq("p", "xi")), col("qv"))
      .select((col("p") + 1).cast("long").as("i"), col("xi"), col("qv"))
    val sxxMap = xr
      .select(col("i"), col("xi"), posexplode(col("qv")).as(Seq("q", "xj")))
      .groupBy(col("i"), (col("q") + 1).cast("long").as("j"))
      .agg(sum(col("xi") * col("xj")).cast("long").as("sxx"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    val sxRows = xr.groupBy(col("i"))
      .agg(sum(col("xi")).cast("long").as("sx"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dims = sxRows.map(_._1).sorted.toSeq
    val sxMap = sxRows.map(r => r._1 -> r._2).toMap
    val nRows = BigInt(sxRows.head._3)
    val c: Map[(Long, Long), BigInt] = sxxMap.map { case ((i, j), sxx) =>
      (i, j) -> (nRows * BigInt(sxx) - BigInt(sxMap(i)) * BigInt(sxMap(j)))
    }
    val scale = BigInt(1000000)
    var v: Map[Long, BigInt] = dims.map(_ -> scale).toMap
    for (_ <- 1 to PcRounds) {
      val u = dims.map(i =>
        i -> dims.map(j => c((i, j)) * v(j)).sum).toMap
      val m = u.values.map(_.abs).max
      v = u.map { case (i, ui) =>
        i -> (if (m == 0) BigInt(0)
              else if (ui < 0) -((-ui * scale) / m)
              else (ui * scale) / m)
      }
    }
    (dims, v, c)
  }

  /** Per-query cells ranked by centroid cosine: (qid, label,
    * cell_rank ≤ k) — the probe-order table [[cellProbes]] truncates
    * to [[Probes]] and sim_probe_sweep reads at every depth.
    */
  private def rankedCells(s: SparkSession, dir: String, k: Int)
      : DataFrame = {
      val base = signatures(s, dir)
      val dims = base
        .select(col("label"), posexplode(col("qv")).as(Seq("pos0", "v")))
        .groupBy(col("label"), (col("pos0") + 1).as("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      val cent = dims
        .withColumn("c", floor(col("sv") / col("n")).cast("long"))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("cvec"))
        .withColumn("cnorm2", dot_long(col("cvec"), col("cvec")))
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"),
          col("norm2").as("qn"))
      TopKPerKey.topKRanked(
          q.crossJoin(broadcast(cent))
            .withColumn("cell_cos",
              dot_long(col("qa"), col("cvec")).cast("double") /
                (sqrt(col("qn").cast("double")) * sqrt(col("cnorm2").cast("double"))))
            .select(col("qid"), col("label"), col("cell_cos")),
          Seq("qid"), Seq("cell_cos" -> true, "label" -> false), k,
          "cell_rank")
  }

  private[graft] def cellProbes(s: SparkSession, dir: String): DataFrame =
    rankedCells(s, dir, Probes).select(col("qid"), col("label"))

  /** IVF multi-probe search plan (see the sim_ivf_probe spec). */
  private def probeTopk(s: SparkSession, dir: String): DataFrame = {
      val base = signatures(s, dir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"),
          col("norm2").as("qn"))
      val cand = base.select(col("vec_id").as("vid"), col("label"),
        col("qv").as("qb"), col("norm2").as("c_norm2"))
      rankTop5(broadcast(q).join(broadcast(cellProbes(s, dir)), Seq("qid"))
        .join(cand, Seq("label"))
        .filter(col("qid") =!= col("vid"))
        .withColumn("cos",
          dot_long(col("qa"), col("qb")).cast("double") /
            (sqrt(col("qn").cast("double")) * sqrt(col("c_norm2").cast("double")))))
  }

  /** Directed k-NN edge list (vec_id, nbr_id, cos, rnk ≤ k): every
    * vector's top-k same-cell neighbors by cosine — the graph that
    * graph-based curation (clustering, centrality, diversity
    * sampling) consumes. Shared by the sim_knn_graph gate and
    * [[ClusterOps]] (PageRank). Pair generation reuses the
    * triangle-blocked same-cell pairs (each unordered pair scored
    * ONCE, then symmetrized by a column-swap union — half the dot
    * products of a naive directed self-join); per-vector ranking goes
    * through the custom [[TopKPerKey]] plan (map-side heap reduce,
    * k·partitions shuffle cap per vector, no WindowExec).
    *
    * Cached (same CacheManager plan-equality sharing as
    * [[signatures]]): the edge list is consumed by three gates
    * (sim_knn_graph, graph_pagerank, graph_triangles) — at warehouse
    * scale it is the materialized `knn_edges` table all graph
    * analytics read.
    */
  private[graft] def knnEdges(s: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val pairs = cellPairs(signatures(s, dir), PairBlockSize)
      .withColumn("dot", dot_long(col("qa"), col("qb")))
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(a_norm2 AS DOUBLE)) * sqrt(CAST(b_norm2 AS DOUBLE)))"))
      .select(col("a_id"), col("b_id"), col("cos"))
    val sym = pairs
      .select(col("a_id").as("vec_id"), col("b_id").as("nbr_id"), col("cos"))
      .unionByName(pairs
        .select(col("b_id").as("vec_id"), col("a_id").as("nbr_id"), col("cos")))
    TopKPerKey.topKRanked(sym, Seq("vec_id"),
        Seq("cos" -> true, "nbr_id" -> false), k, "rnk")
      .select(col("vec_id"), col("nbr_id"), col("cos"), col("rnk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** DuckDB derived-table SQL equivalent of [[knnEdges]]; expects a
    * `sig` CTE bound to [[quantizedSql]]. */
  private[operators] def knnEdgesSql(k: Int = 3): String =
    s"""SELECT vec_id, nbr_id, cos, rnk FROM (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
       |    list_dot_product(a.qv, b.qv)
       |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
       |      AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY list_dot_product(a.qv, b.qv)
       |        / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) DESC,
       |      b.vec_id) AS rnk
       |  FROM sig a JOIN sig b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id) t
       |WHERE rnk <= $k""".stripMargin

  /** ±1 plane component from md5 parity — the exact rule the oracle
    * SQL spells out (the first hex digit of md5(`tag`) is even ⇒ +1),
    * replayed in the JVM so both engines hold the identical plane
    * matrices with no RNG state. That digit is the high nibble of the
    * digest's first byte.
    */
  private def md5Sign(tag: String): Long = {
    val b = java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8"))(0)
    if (((b >> 4) & 1) == 0) 1L else -1L
  }

  /** The [[LshTables]] × [[LshPlanes]] hyperplanes over 64 dims, one
    * literal column per plane (md5(t:p:d) parity), built once per JVM.
    */
  private lazy val lshPlanes: Seq[Seq[Column]] =
    Seq.tabulate(LshTables, LshPlanes) { (t, p) =>
      typedLit(Seq.tabulate(64)(d => md5Sign(s"$t:$p:$d")))
    }

  /** (vec_id, t, bkt): one signed-projection bucket id per vector per
    * hash table (bit p = sign of the integer dot with plane p of
    * table t). The L sketches are computed in ONE pass over the cached
    * signatures (array of structs, exploded) — no per-table rescan.
    * Cached (plan-equality sharing, like [[signatures]]): this IS the
    * LSH index table — the search gate and the RRF fusion both read
    * it, and at warehouse scale it is the write-once bucket artifact.
    */
  private def lshBuckets(sig: DataFrame): DataFrame = {
    val tables = (0 until LshTables).map { t =>
      val bkt = lshPlanes(t).zipWithIndex.map { case (pl, p) =>
        when(dot_long(col("qv"), pl) > 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("t"), bkt.as("bkt"))
    }
    sig.select(col("vec_id"), explode(array(tables: _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def lshTopk(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val b = lshBuckets(sig)
    // candidates = same (table, bucket) in ANY table, deduplicated —
    // a pair colliding in several tables is scored once
    val q = b.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("t"), col("bkt"))
    val c = b.select(col("vec_id").as("vid"), col("t"), col("bkt"))
    val cand = broadcast(q).join(c, Seq("t", "bkt"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"))
      .distinct()
    rankTop5(cand
      .join(sig.select(col("vec_id").as("qid"), col("qv").as("qa"),
        col("norm2").as("q_norm2")), Seq("qid"))
      .join(sig.select(col("vec_id").as("vid"), col("qv").as("qb"),
        col("norm2").as("c_norm2")), Seq("vid"))
      .withColumn("dot", dot_long(col("qa"), col("qb")))
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(c_norm2 AS DOUBLE)))")))
  }

  /** Output dimensionality of the JL random projection (64 → 16). */
  val RpDims = 16

  /** Unrolled power-iteration rounds for [[emb_top_pc]] — enough for
    * the ∞-normalized estimate to stabilize on this spectrum while
    * keeping the oracle's CTE chain cheap. */
  val PcRounds = 3

  /** Coarse candidates kept per query by the projected scan. */
  val RpCand = 40

  /** ±1 JL-projection plane per output dim from md5("rp:k:d") parity —
    * the same hash derivation as [[lshPlanes]] (no RNG state), so both
    * engines hold the identical dense projection matrix. Achlioptas-
    * style ±1 entries: the JL distance-preservation bound holds for
    * sign matrices, and the projection stays exact integer arithmetic.
    * One literal column per output dim, built once per JVM.
    */
  private lazy val rpPlanes: Seq[Column] =
    Seq.tabulate(RpDims)(k =>
      typedLit(Seq.tabulate(64)(d => md5Sign(s"rp:$k:$d"))))

  /** (vec_id, rv: array<long>, rnorm2): the RpDims-dim projection of
    * each quantized vector plus its exact squared norm — a pure
    * per-row map over the cached signatures (RpDims integer dots per
    * vector, no shuffle). Component magnitudes stay ≤ 64·10^6, so
    * every projected dot (≤ RpDims·(64·10^6)² < 2^63) is exact in
    * long arithmetic in both engines. Cached like [[lshBuckets]]: the
    * projected store is read by the RP search gates and the RRF
    * fusion — the write-once reduced-dimension artifact at scale.
    */
  private def rpVectors(sig: DataFrame): DataFrame = {
    val comps = rpPlanes.map(pl => dot_long(col("qv"), pl))
    sig.select(col("vec_id"), array(comps: _*).as("rv"))
      .withColumn("rnorm2", dot_long(col("rv"), col("rv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** DuckDB CTE fragments for the JL projection: `rp` = (vec_id, k,
    * pv) long-format projected components, exact integers. Expects a
    * `sig` CTE bound to [[quantizedSql]].
    */
  private val rpSqlCtes: String =
    s"""rpplanes AS (
       |  SELECT k, d,
       |    CASE WHEN (strpos('0123456789abcdef',
       |        substr(md5('rp:' || k || ':' || d), 1, 1)) - 1) % 2 = 0
       |      THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(range(0, $RpDims)) AS k) kk,
       |    (SELECT unnest(range(0, 64)) AS d) dd),
       |rp AS (
       |  SELECT sg.vec_id, pl.k,
       |    CAST(SUM(pl.s * sg.qv[pl.d + 1]) AS BIGINT) AS pv
       |  FROM sig sg JOIN rpplanes pl ON TRUE
       |  GROUP BY 1, 2)""".stripMargin

  /** Full retrieve→rerank SQL over the projected store (see the
    * sim_rp_rerank spec). The coarse dot is summed from the
    * long-format `rp` table — exact BIGINT in both engines (DuckDB's
    * `list_dot_product` computes in doubles, which could round
    * differently from Spark's long dot above 2^53).
    */
  private def rpRerankSql: String =
    s"""WITH sig AS ($quantizedSql),
       |$rpSqlCtes,
       |rnorm AS (
       |  SELECT vec_id, CAST(SUM(pv * pv) AS BIGINT) AS rnorm2
       |  FROM rp GROUP BY 1),
       |cdot AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS vid,
       |    CAST(SUM(a.pv * b.pv) AS BIGINT) AS rdot
       |  FROM rp a JOIN rp b ON a.k = b.k
       |    AND a.vec_id < 10 AND b.vec_id <> a.vec_id
       |  GROUP BY 1, 2),
       |coarse AS (
       |  SELECT qid, vid FROM (
       |    SELECT d.qid, d.vid,
       |      ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
       |        CASE WHEN n.rnorm2 = 0 THEN CAST(0 AS DOUBLE)
       |          ELSE CAST(d.rdot AS DOUBLE) / sqrt(CAST(n.rnorm2 AS DOUBLE))
       |        END DESC, d.vid) AS rnkc
       |    FROM cdot d JOIN rnorm n ON n.vec_id = d.vid) t
       |  WHERE rnkc <= $RpCand)
       |SELECT qid, vid, cos, rnk FROM (
       |  SELECT c.qid, c.vid,
       |    list_dot_product(sa.qv, sb.qv)
       |      / (sqrt(CAST(sa.norm2 AS DOUBLE))
       |        * sqrt(CAST(sb.norm2 AS DOUBLE))) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
       |      list_dot_product(sa.qv, sb.qv)
       |        / (sqrt(CAST(sa.norm2 AS DOUBLE))
       |          * sqrt(CAST(sb.norm2 AS DOUBLE))) DESC, c.vid) AS rnk
       |  FROM coarse c
       |  JOIN sig sa ON sa.vec_id = c.qid
       |  JOIN sig sb ON sb.vec_id = c.vid) r
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  /** Retrieve→rerank over the JL projection: coarse scan on the
    * 16-dim integer projections (4× less dot-product work and memory
    * traffic than the 64-dim scan), top [[RpCand]] per query via the
    * custom top-k operator, exact full-precision rerank of only those.
    */
  private def rpRerank(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val rp = rpVectors(sig)
    val q = rp.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("rv").as("qrv"))
    val cand = rp.select(col("vec_id").as("vid"), col("rv").as("crv"),
      col("rnorm2").as("c_rn"))
    // query-side norm is constant per qid, so candidate-norm division
    // alone preserves the per-query ranking; zero-norm projections
    // score 0 (ANSI guard, both engines)
    val coarse = TopKPerKey.topK(
        broadcast(q).join(cand, col("qid") =!= col("vid"))
          .withColumn("rdot", dot_long(col("qrv"), col("crv")))
          .withColumn("score",
            when(col("c_rn") === 0, lit(0.0))
              .otherwise(col("rdot").cast("double") /
                sqrt(col("c_rn").cast("double"))))
          .select(col("qid"), col("vid"), col("score")),
        Seq("qid"), Seq("score" -> true, "vid" -> false), RpCand)
      .select(col("qid"), col("vid"))
    rankTop5(coarse
      .join(sig.select(col("vec_id").as("qid"), col("qv").as("qa"),
        col("norm2").as("q_norm2")), Seq("qid"))
      .join(sig.select(col("vec_id").as("vid"), col("qv").as("qb"),
        col("norm2").as("c_norm2")), Seq("vid"))
      .withColumn("dot", dot_long(col("qa"), col("qb")))
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(c_norm2 AS DOUBLE)))")))
  }

  /** Unpersist this object's plan-keyed caches for (s, dir). Last
    * consumers are PqOps (signatures) and ClusterOps (knnEdges) —
    * callers must not release before those sections have run.
    */
  /** Corpus (doc, token) term frequencies for the hybrid-search
    * lexical leg — plan-keyed cache (the df table, the query-token
    * page, and the probe all derive from it; one tokenize pass per
    * (session, dir) instead of four). At warehouse scale this is the
    * materialized term index the retrieval stack reads. */
  private[operators] def corpusTf(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private[graft] def releaseCaches(s: SparkSession, dir: String): Unit = {
    val sig = signatures(s, dir)
    lshBuckets(sig).unpersist(blocking = true)
    rpVectors(sig).unpersist(blocking = true)
    knnEdges(s, dir).unpersist(blocking = true)
    corpusTf(s, dir).unpersist(blocking = true)
    sig.unpersist(blocking = true)
  }

  def specs: Seq[QuerySpec] = Seq(
    // Brute-force exact top-k cosine — the ANN correctness baseline.
    QuerySpec.sql("sim_brute_topk", topkSql("")) { (s, dir) =>
      topk(s, dir, sameCell = false)
        .orderBy(col("qid"), col("rnk"))
    },

    // IVF-style ANN: search only the query's coarse cell (label).
    QuerySpec.sql("sim_ivf_topk", topkSql("AND a.label = b.label")) { (s, dir) =>
      topk(s, dir, sameCell = true)
        .orderBy(col("qid"), col("rnk"))
    },

    // Random-hyperplane MULTI-TABLE LSH ANN (the third index family
    // beside IVF and brute force): LshTables independent sketches of
    // LshPlanes signed-projection bits each — bit p of table t is the
    // sign of ⟨qv, h_tp⟩ for a ±1 hyperplane derived from md5(t:p:d)
    // parity, so both engines build the IDENTICAL plane matrices from
    // the hash alone (no RNG state to ship). Candidates = same bucket
    // in ANY table, deduplicated, then exact top-k — the standard
    // recall lever (1 − (1 − p^P)^L; one fine table scored recall 0).
    // At scale (t, bkt) is the shuffle key — same layout as IVF with
    // the coarse quantizer replaced by data-independent projections.
    QuerySpec.sql("sim_lsh_topk", lshSql) { (s, dir) =>
      lshTopk(s, dir)
        .orderBy(col("qid"), col("rnk"))
    },

    // Embedding storage quantization: per-vector absmax int8 — the
    // 4-8× footprint cut every vector store ships (scale = amax/127
    // kept alongside the int8 payload). Deterministic: one division
    // and one round per component on identical doubles; the digest
    // proves the full quantized payload byte-for-byte, the checksum
    // and amax make failures localizable. Zero vectors quantize to
    // zeros (guarded — ANSI would overflow on round(inf)).
    QuerySpec.sql(
      "emb_quantize_int8",
      """SELECT vec_id, amax,
        |  md5(array_to_string(q, ',')) AS q_digest,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum
        |FROM (
        |  SELECT vec_id, amax,
        |    CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0)
        |      ELSE list_transform(embedding,
        |        x -> CAST(round(127 * CAST(x AS DOUBLE) / amax) AS BIGINT))
        |      END AS q
        |  FROM (
        |    SELECT vec_id,
        |      list_max(list_transform(embedding,
        |        x -> abs(CAST(x AS DOUBLE)))) AS amax
        |    FROM embeddings) a
        |  JOIN embeddings USING (vec_id))
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "embeddings")
        .withColumn("amax",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("q", expr(
          """CASE WHEN amax = 0D
            |  THEN transform(embedding, x -> 0L)
            |  ELSE transform(embedding,
            |    x -> CAST(round(127 * CAST(x AS DOUBLE) / amax) AS BIGINT))
            |  END""".stripMargin))
        .select(col("vec_id"), col("amax"),
          md5(expr("array_join(transform(q, v -> CAST(v AS STRING)), ',')"))
            .as("q_digest"),
          expr("aggregate(q, 0L, (a, v) -> a + v)").as("q_sum"))
        .orderBy(col("vec_id"))
    },

    // RANGE (radius) search — the other vector-query type beside
    // top-k: everything with cosine ≥ 0.3 of each query. The
    // threshold decision is EXACT integer arithmetic (dot > 0 ∧
    // 100·dot² ≥ 9·‖a‖²·‖b‖² in DECIMAL — the semantic-dedup
    // pattern), so membership is bit-deterministic; the result set is
    // reported as count + id bounds + id checksum (the set itself,
    // order-free). Queries broadcast against the cached signature
    // scan; zero-match queries survive via the left join.
    QuerySpec.sql(
      "sim_range_search",
      s"""WITH sig AS ($quantizedSql)
         |SELECT a.vec_id AS qid,
         |  CAST(COUNT(b.vec_id) AS BIGINT) AS n_in_range,
         |  CAST(MIN(b.vec_id) AS BIGINT) AS min_vid,
         |  CAST(MAX(b.vec_id) AS BIGINT) AS max_vid,
         |  CAST(COALESCE(SUM(b.vec_id), 0) AS BIGINT) AS vid_checksum
         |FROM sig a LEFT JOIN sig b
         |  ON b.vec_id <> a.vec_id
         |  AND CAST(list_dot_product(a.qv, b.qv) AS BIGINT) > 0
         |  AND CAST(100 AS DECIMAL(19,0))
         |      * CAST(list_dot_product(a.qv, b.qv) AS DECIMAL(19,0))
         |      * CAST(list_dot_product(a.qv, b.qv) AS DECIMAL(19,0))
         |    >= CAST(9 AS DECIMAL(19,0)) * CAST(a.norm2 AS DECIMAL(19,0))
         |      * CAST(b.norm2 AS DECIMAL(19,0))
         |WHERE a.vec_id < 10
         |GROUP BY 1
         |ORDER BY 1""".stripMargin) { (s, dir) =>
      val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val sig = signatures(s, dir)
      val q = sig.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qqv"),
          col("norm2").as("qn"))
      val m = broadcast(q).join(sig,
          col("vec_id") =!= col("qid"))
        .withColumn("dot", dot_long(col("qqv"), col("qv")))
        .filter(col("dot") > 0 &&
          lit(100).cast(d19) * col("dot").cast(d19) * col("dot").cast(d19) >=
            lit(9).cast(d19) * col("qn").cast(d19) *
              col("norm2").cast(d19))
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("cnt"), min(col("vec_id")).as("min_vid"),
          max(col("vec_id")).as("max_vid"),
          sum(col("vec_id")).as("cks"))
      q.select(col("qid")).join(m, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("cnt"), lit(0L)).as("n_in_range"),
          col("min_vid"), col("max_vid"),
          coalesce(col("cks"), lit(0L)).as("vid_checksum"))
        .orderBy(col("qid"))
    },

    // Embedding-distribution drift monitor — did the encoder (or the
    // corpus) move? Split the store into "yesterday" / "today" halves
    // (vec_id parity), fold each half's EXACT per-dimension component
    // sums (one 2×64-row aggregate — the centroid never materializes
    // as floats), then compare the mean vectors: cosine of the means
    // and the L2 shift in original units. The cross terms are the
    // only wide math: products held in DECIMAL, the mean-difference
    // term folded through an exact BIGINT (s1·n2 − s2·n1 fits a long
    // by construction) so nothing rounds before the one shared-text
    // float finish. At 100 TB this is two shuffles of 64 rows each —
    // the cheapest possible alarm on a re-embedding run.
    QuerySpec.sql(
      "emb_centroid_drift", {
        val cos =
          "CASE WHEN CAST(q1 AS DOUBLE) > 0 AND CAST(q2 AS DOUBLE) > 0" +
            " THEN CAST(dot12 AS DOUBLE)" +
            " / (sqrt(CAST(q1 AS DOUBLE)) * sqrt(CAST(q2 AS DOUBLE)))" +
            " END"
        val l2 =
          "CASE WHEN n1 > 0 AND n2 > 0 THEN" +
            " sqrt(CAST(shiftnum AS DOUBLE))" +
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)" +
            " * CAST(1000000 AS DOUBLE)) END"
        s"""WITH sig AS ($quantizedSql),
           |parts AS (
           |  SELECT vec_id % 2 AS half, i AS pos, qv[i] AS x
           |  FROM sig,
           |    LATERAL (SELECT unnest(generate_series(1, len(qv))) AS i) g),
           |ps AS (SELECT half, pos, CAST(SUM(x) AS BIGINT) AS s
           |  FROM parts GROUP BY 1, 2),
           |ns AS (SELECT
           |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n1,
           |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n2
           |  FROM sig),
           |j AS (SELECT a.pos, a.s AS s1, b.s AS s2
           |  FROM ps a JOIN ps b ON b.pos = a.pos
           |  WHERE a.half = 0 AND b.half = 1),
           |agg AS (SELECT
           |    SUM(CAST(s1 AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)))
           |      AS dot12,
           |    SUM(CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)))
           |      AS q1,
           |    SUM(CAST(s2 AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)))
           |      AS q2,
           |    SUM(CAST(s1 * n2 - s2 * n1 AS DECIMAL(19,0))
           |      * CAST(s1 * n2 - s2 * n1 AS DECIMAL(19,0))) AS shiftnum
           |  FROM j, ns)
           |SELECT n1, n2,
           |  CAST(CAST($cos AS DECIMAL(18,6)) AS DOUBLE) AS cos_means,
           |  CAST(CAST($l2 AS DECIMAL(18,6)) AS DOUBLE) AS l2_shift
           |FROM agg, ns""".stripMargin
      }) { (s, dir) =>
      val cos =
        "CASE WHEN CAST(q1 AS DOUBLE) > 0 AND CAST(q2 AS DOUBLE) > 0" +
          " THEN CAST(dot12 AS DOUBLE)" +
          " / (sqrt(CAST(q1 AS DOUBLE)) * sqrt(CAST(q2 AS DOUBLE)))" +
          " END"
      val l2 =
        "CASE WHEN n1 > 0 AND n2 > 0 THEN" +
          " sqrt(CAST(shiftnum AS DOUBLE))" +
          " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)" +
          " * CAST(1000000 AS DOUBLE)) END"
      val sig = signatures(s, dir)
      val ps = sig
        .select(pmod(col("vec_id"), lit(2L)).as("half"),
          posexplode(col("qv")).as(Seq("pos0", "x")))
        .groupBy(col("half"), col("pos0"))
        .agg(sum(col("x")).as("s"))
      val ns = sig.agg(
        sum(when(pmod(col("vec_id"), lit(2L)) === 0, 1L).otherwise(0L))
          .as("n1"),
        sum(when(pmod(col("vec_id"), lit(2L)) === 1, 1L).otherwise(0L))
          .as("n2"))
      val j = ps.filter(col("half") === 0)
        .select(col("pos0"), col("s").as("s1"))
        .join(ps.filter(col("half") === 1)
          .select(col("pos0"), col("s").as("s2")), Seq("pos0"))
        .crossJoin(broadcast(ns))
      j.agg(
          sum(col("s1").cast("decimal(19,0)") *
            col("s2").cast("decimal(19,0)")).as("dot12"),
          sum(col("s1").cast("decimal(19,0)") *
            col("s1").cast("decimal(19,0)")).as("q1"),
          sum(col("s2").cast("decimal(19,0)") *
            col("s2").cast("decimal(19,0)")).as("q2"),
          sum((col("s1") * col("n2") - col("s2") * col("n1"))
            .cast("decimal(19,0)") *
            (col("s1") * col("n2") - col("s2") * col("n1"))
              .cast("decimal(19,0)")).as("shiftnum"))
        .crossJoin(broadcast(ns))
        .select(col("n1"), col("n2"),
          expr(cos).cast("decimal(18,6)").cast("double").as("cos_means"),
          expr(l2).cast("decimal(18,6)").cast("double").as("l2_shift"))
    },

    // Two-stage retrieval over the quantized store: a cheap int8
    // coarse scan (exact integer dot of the absmax-quantized vectors,
    // rescaled by the per-vector amax — the memory-bandwidth-bound
    // pass a vector store runs over the compressed payload) keeps 20
    // candidates per query; only those are re-ranked by the
    // full-precision cosine. The production retrieve→rerank stack,
    // end-to-end deterministic.
    QuerySpec.sql(
      "sim_int8_rerank",
      s"""WITH sig AS ($quantizedSql),
         |q8 AS (
         |  SELECT vec_id, amax,
         |    CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0)
         |      ELSE list_transform(embedding,
         |        x -> CAST(round(127 * CAST(x AS DOUBLE) / amax) AS BIGINT))
         |      END AS v8
         |  FROM (
         |    SELECT vec_id,
         |      list_max(list_transform(embedding,
         |        x -> abs(CAST(x AS DOUBLE)))) AS amax
         |    FROM embeddings) a
         |  JOIN embeddings USING (vec_id)),
         |coarse AS (
         |  SELECT qid, vid, rnk8 FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS vid,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(list_dot_product(a.v8, b.v8) AS DOUBLE)
         |          * a.amax * b.amax DESC, b.vec_id) AS rnk8
         |    FROM q8 a JOIN q8 b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) t
         |  WHERE rnk8 <= 20)
         |SELECT qid, vid, cos, rnk FROM (
         |  SELECT c.qid, c.vid,
         |    list_dot_product(sa.qv, sb.qv)
         |      / (sqrt(CAST(sa.norm2 AS DOUBLE))
         |        * sqrt(CAST(sb.norm2 AS DOUBLE))) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
         |      list_dot_product(sa.qv, sb.qv)
         |        / (sqrt(CAST(sa.norm2 AS DOUBLE))
         |          * sqrt(CAST(sb.norm2 AS DOUBLE))) DESC, c.vid) AS rnk
         |  FROM coarse c
         |  JOIN sig sa ON sa.vec_id = c.qid
         |  JOIN sig sb ON sb.vec_id = c.vid) r
         |WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
        .withColumn("amax",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("v8", expr(
          """CASE WHEN amax = 0D
            |  THEN transform(embedding, x -> 0L)
            |  ELSE transform(embedding,
            |    x -> CAST(round(127 * CAST(x AS DOUBLE) / amax) AS BIGINT))
            |  END""".stripMargin))
        .select(col("vec_id"), col("amax"), col("v8"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("amax").as("qa_max"),
          col("v8").as("qa8"))
      // coarse pass keeps 20 candidates/query via the custom top-k
      // operator — the int8 scan is the memory-bandwidth-bound pass
      // over the WHOLE corpus, exactly where a full per-query
      // shuffle-and-sort would hurt most; plain topK (not topKRanked)
      // because only the surviving (qid, vid) set feeds the rerank
      val coarse = TopKPerKey.topK(
          broadcast(q)
            .join(emb.select(col("vec_id").as("vid"), col("amax").as("ca_max"),
              col("v8").as("cb8")), col("qid") =!= col("vid"))
            .withColumn("score8",
              dot_long(col("qa8"), col("cb8")).cast("double") *
                col("qa_max") * col("ca_max"))
            .select(col("qid"), col("vid"), col("score8")),
          Seq("qid"), Seq("score8" -> true, "vid" -> false), 20)
        .select(col("qid"), col("vid"))
      val sig = signatures(s, dir)
      rankTop5(coarse
        .join(sig.select(col("vec_id").as("qid"), col("qv").as("qa"),
          col("norm2").as("q_norm2")), Seq("qid"))
        .join(sig.select(col("vec_id").as("vid"), col("qv").as("qb"),
          col("norm2").as("c_norm2")), Seq("vid"))
        .withColumn("dot", dot_long(col("qa"), col("qb")))
        .withColumn("cos", expr(
          "CAST(dot AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(c_norm2 AS DOUBLE)))")))
        .orderBy(col("qid"), col("rnk"))
    },

    // IVF index-health profile — the cell-balance report an ANN
    // service reads before trusting its latency SLO: cell count,
    // min/max cell size, the hot cell's share vs fair (skew_ppm, the
    // dq_key_skew number for the coarse quantizer), and imbalance_ppm
    // = Σsz²·cells/N² — the expected per-probe candidate blowup vs a
    // perfectly uniform index (1e6 = uniform; 2e6 = probes scan 2× the
    // fair surface). One keyed count over the cell id, then arithmetic
    // on the cells-sized table; wide products ride HUGEINT/DECIMAL(38).
    QuerySpec.sql(
      "sim_ivf_balance",
      """WITH c AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM embeddings GROUP BY 1)
        |SELECT CAST(SUM(sz) AS BIGINT) AS n_vecs,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(MIN(sz) AS BIGINT) AS min_cell,
        |  CAST(MAX(sz) AS BIGINT) AS max_cell,
        |  CAST(CAST(MAX(sz) AS HUGEINT) * COUNT(*) * 1000000
        |    // SUM(sz) AS BIGINT) AS skew_ppm,
        |  CAST(CAST(SUM(sz * sz) AS HUGEINT) * COUNT(*) * 1000000
        |    // (CAST(SUM(sz) AS HUGEINT) * SUM(sz)) AS BIGINT)
        |    AS imbalance_ppm
        |FROM c""".stripMargin) { (s, dir) =>
      Tables(s, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("sz"))
        .agg(sum(col("sz")).cast("long").as("n_vecs"),
          count(lit(1)).as("n_cells"),
          min(col("sz")).as("min_cell"),
          max(col("sz")).as("max_cell"),
          sum(col("sz") * col("sz")).cast("long").as("ssq"))
        .select(col("n_vecs"), col("n_cells"), col("min_cell"),
          col("max_cell"),
          expr("CAST(CAST(max_cell AS DECIMAL(38,0)) * n_cells" +
            " * 1000000 div n_vecs AS BIGINT)").as("skew_ppm"),
          expr("CAST(CAST(ssq AS DECIMAL(38,0)) * n_cells * 1000000" +
            " div (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs) AS BIGINT)")
            .as("imbalance_ppm"))
    },

    // IVF multi-probe: rank cells by query↔centroid cosine, probe the
    // top `Probes` cells, exact top-k within them — the full inverted-
    // file search (train: centroid per cell; search: nprobe cells).
    // Centroids are floor-averaged INTEGER vectors: cosine is scale-
    // invariant, so the floor-avg direction is exact integer math in
    // both engines (sums stay < 2^53 — no float divergence anywhere).
    QuerySpec.sql("sim_ivf_probe", probeSql) { (s, dir) =>
      probeTopk(s, dir)
        .orderBy(col("qid"), col("rnk"))
    },

    // Self-measuring ANN quality: recall@5 of the multi-probe IVF
    // search against the exact brute-force baseline, per query id, in
    // ONE plan — the quality knob (Probes) is itself oracle-checked.
    // Both sides reuse the cached signature table; the join is on
    // (qid, vid) over two k-row-per-query sets, so the recall overlay
    // costs one broadcast-sized join beyond the searches themselves.
    QuerySpec.sql(
      "sim_ivf_recall",
      s"""WITH brute AS (${topkSql("")}),
         |probe AS ($probeSql)
         |SELECT b.qid,
         |  CAST(SUM(CASE WHEN p.vid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall
         |FROM brute b
         |LEFT JOIN probe p ON b.qid = p.qid AND b.vid = p.vid
         |GROUP BY b.qid
         |ORDER BY b.qid""".stripMargin) { (s, dir) =>
      val brute = topk(s, dir, sameCell = false).select(col("qid"), col("vid"))
      val ivf = probeTopk(s, dir)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      brute.join(ivf, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(5.0))
          .as("recall"))
        .orderBy(col("qid"))
    },

    // Self-measuring ANN quality for the SECOND index family: recall@5
    // of the LSH-bucketed search against the exact brute-force
    // baseline, per query, in one plan — the plane-count knob
    // (LshPlanes) is itself oracle-checked, the same discipline as
    // sim_ivf_recall. Both sides reuse the cached signature table; the
    // overlay join is on two k-row-per-query sets.
    QuerySpec.sql(
      "sim_lsh_recall",
      s"""WITH brute AS (${topkSql("")}),
         |lsh AS ($lshSql)
         |SELECT b.qid,
         |  CAST(SUM(CASE WHEN p.vid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall
         |FROM brute b
         |LEFT JOIN lsh p ON b.qid = p.qid AND b.vid = p.vid
         |GROUP BY b.qid
         |ORDER BY b.qid""".stripMargin) { (s, dir) =>
      val brute = topk(s, dir, sameCell = false).select(col("qid"), col("vid"))
      val lsh = lshTopk(s, dir)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      brute.join(lsh, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(5.0))
          .as("recall"))
        .orderBy(col("qid"))
    },

    // Filtered vector search — ANN under a metadata predicate, the
    // production shape every vector store struggles with. Strategy
    // measured: OVER-FETCH-THEN-FILTER (top-20 unfiltered, keep
    // predicate survivors, re-rank to top-5) against the true top-5
    // over the pre-filtered candidate set. The recall number IS the
    // capacity answer for the 4× over-fetch factor at this predicate
    // selectivity (labels {1,3,5} ≈ 30%) — the same measured-tradeoff
    // discipline as the per-family recall gates. Both sides reuse the
    // cached signatures; ranking runs the TopKPerKey heap plan.
    QuerySpec.sql(
      "sim_filtered_recall",
      s"""WITH sig AS ($quantizedSql),
         |scored AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vid, b.label,
         |    list_dot_product(a.qv, b.qv)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
         |      AS cos
         |  FROM sig a JOIN sig b
         |    ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |truth AS (SELECT qid, vid FROM (
         |    SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vid) AS rnk
         |    FROM scored WHERE label IN (1, 3, 5)) t
         |  WHERE rnk <= 5),
         |over20 AS (SELECT qid, vid, label, cos FROM (
         |    SELECT qid, vid, label, cos, ROW_NUMBER() OVER (
         |      PARTITION BY qid ORDER BY cos DESC, vid) AS rnk
         |    FROM scored) o
         |  WHERE rnk <= 20),
         |surv AS (SELECT qid, vid FROM (
         |    SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vid) AS rn
         |    FROM over20 WHERE label IN (1, 3, 5)) v
         |  WHERE rn <= 5)
         |SELECT t.qid,
         |  CAST(SUM(CASE WHEN s.vid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall
         |FROM truth t
         |LEFT JOIN surv s ON s.qid = t.qid AND s.vid = t.vid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin) { (s, dir) =>
      val base = signatures(s, dir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"),
          col("norm2").as("q_norm2"))
      val cand = base.select(col("vec_id").as("vid"),
        col("label").as("c_label"), col("qv").as("qb"),
        col("norm2").as("c_norm2"))
      val scored = broadcast(q).join(cand, col("qid") =!= col("vid"))
        .withColumn("dot", dot_long(col("qa"), col("qb")))
        .withColumn("cos", expr("CAST(dot AS DOUBLE) / " +
          "(sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(c_norm2 AS DOUBLE)))"))
        .select(col("qid"), col("vid"), col("c_label"), col("cos"))
      val truth = TopKPerKey.topKRanked(
          scored.filter(col("c_label").isin(1, 3, 5))
            .select(col("qid"), col("vid"), col("cos")),
          Seq("qid"), Seq("cos" -> true, "vid" -> false), 5, "rnk")
        .select(col("qid"), col("vid"))
      val over20 = TopKPerKey.topKRanked(scored,
          Seq("qid"), Seq("cos" -> true, "vid" -> false), 20, "rnk")
      val surv = TopKPerKey.topKRanked(
          over20.filter(col("c_label").isin(1, 3, 5))
            .select(col("qid"), col("vid"), col("cos")),
          Seq("qid"), Seq("cos" -> true, "vid" -> false), 5, "rn")
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      truth.join(surv, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(5.0))
          .as("recall"))
        .orderBy(col("qid"))
    },

    // Ranking-quality eval beyond set recall: nDCG@5 and MRR of the
    // multi-probe IVF search against the exact brute-force ranking —
    // the metrics an embedding-retrieval offline eval reports (recall
    // treats all 5 truth neighbors alike; nDCG grades WHERE in the
    // approximate list they land, MRR grades the first hit). Graded
    // relevance is 6−true_rank (5..1); each hit's gain
    // rel/log2(pos+1) is micro-quantized through one shared
    // expression string (the feat_mutual_info ln discipline) so both
    // engines sum identical integers; nDCG is an exact ppm ratio of
    // the micro sums. The overlay join is two 5-rows-per-query sets —
    // broadcast-sized at any corpus scale.
    QuerySpec.sql(
      "sim_eval_ndcg",
      s"""WITH brute AS (${topkSql("")}),
         |probe AS ($probeSql),
         |hits AS (
         |  SELECT p.qid, p.rnk, b.rnk AS trnk
         |  FROM probe p
         |  LEFT JOIN brute b ON b.qid = p.qid AND b.vid = p.vid),
         |dcg AS (
         |  SELECT qid,
         |    CAST(COALESCE(SUM(CASE WHEN trnk IS NOT NULL THEN
         |      ${gainMicroSql("6 - trnk", "rnk")} END), 0) AS BIGINT)
         |      AS dcg_micro,
         |    MIN(CASE WHEN trnk IS NOT NULL THEN rnk END) AS minr
         |  FROM hits GROUP BY qid),
         |idcg AS (
         |  SELECT qid,
         |    CAST(SUM(${gainMicroSql("6 - rnk", "rnk")}) AS BIGINT)
         |      AS idcg_micro
         |  FROM brute GROUP BY qid)
         |SELECT d.qid, d.dcg_micro, i.idcg_micro,
         |  d.dcg_micro * 1000000 // i.idcg_micro AS ndcg_ppm,
         |  CAST(COALESCE(1000000 // d.minr, 0) AS BIGINT) AS rr_ppm
         |FROM dcg d JOIN idcg i ON i.qid = d.qid
         |ORDER BY d.qid""".stripMargin) { (s, dir) =>
      val brute = topk(s, dir, sameCell = false)
        .select(col("qid"), col("vid"), col("rnk").as("trnk"))
      val approx = probeTopk(s, dir)
        .select(col("qid"), col("vid"), col("rnk"))
      val dcg = approx.join(brute, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg(coalesce(sum(when(col("trnk").isNotNull,
            expr(gainMicroSql("6 - trnk", "rnk")))), lit(0L))
            .cast("long").as("dcg_micro"),
          min(when(col("trnk").isNotNull, col("rnk"))).as("minr"))
      val idcg = brute
        .groupBy(col("qid"))
        .agg(sum(expr(gainMicroSql("6 - trnk", "trnk"))).cast("long")
          .as("idcg_micro"))
      dcg.join(idcg, Seq("qid"))
        .select(col("qid"), col("dcg_micro"), col("idcg_micro"),
          expr("dcg_micro * 1000000 div idcg_micro").as("ndcg_ppm"),
          expr("CAST(COALESCE(1000000 div minr, 0) AS BIGINT)")
            .as("rr_ppm"))
        .orderBy(col("qid"))
    },

    // Probe-count SWEEP — the INDEX-side tuning curve beside
    // sim_recall_curve's retrieval-side one: recall@5 as a function
    // of how many cells the IVF search probes (the knob that trades
    // scan cost for recall — the number an index operator reads
    // before setting nprobe). Candidates materialize ONCE at the
    // deepest probe depth carrying their cell_rank; each shallower
    // depth is a filter + per-(depth, query) heap top-5 (the custom
    // TopKPerKey plan keyed by (p, qid) — no re-search, no window),
    // and macro recall is the exact integer ppm.
    QuerySpec.sql(
      "sim_probe_sweep",
      s"""WITH sig AS ($quantizedSql),
         |$probeCteChain,
         |cand AS (
         |  SELECT q.qid, r.cell_rank, s.vec_id AS vid,
         |    list_dot_product(q.qa, s.qv)
         |      / (sqrt(CAST(q.qn AS DOUBLE)) * sqrt(CAST(s.norm2 AS DOUBLE)))
         |      AS cos
         |  FROM qprobe q
         |  JOIN rankedcells r ON r.qid = q.qid AND r.cell_rank <= 3
         |  JOIN sig s ON s.label = r.label AND s.vec_id <> q.qid),
         |ps AS (SELECT UNNEST([1, 2, 3]) AS p),
         |sel AS (
         |  SELECT p, qid, vid FROM (
         |    SELECT ps.p, c.qid, c.vid,
         |      ROW_NUMBER() OVER (PARTITION BY ps.p, c.qid
         |        ORDER BY c.cos DESC, c.vid) AS rnk
         |    FROM cand c JOIN ps ON c.cell_rank <= ps.p) z
         |  WHERE rnk <= 5),
         |brute AS (${topkSql("")}),
         |nq AS (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n
         |  FROM brute)
         |SELECT p AS probes, n AS n_queries,
         |  CAST(COALESCE(SUM(CASE WHEN b.vid IS NOT NULL THEN 1 END),
         |    0) AS BIGINT) AS hits,
         |  CAST(COALESCE(SUM(CASE WHEN b.vid IS NOT NULL THEN 1 END),
         |    0) * 1000000 // (5 * n) AS BIGINT) AS recall_ppm
         |FROM sel
         |LEFT JOIN brute b ON b.qid = sel.qid AND b.vid = sel.vid
         |CROSS JOIN nq
         |GROUP BY p, n ORDER BY p""".stripMargin) { (s, dir) =>
      import s.implicits._
      val base = signatures(s, dir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"),
          col("norm2").as("qn"))
      val cand = broadcast(q)
        .join(broadcast(rankedCells(s, dir, 3)), Seq("qid"))
        .join(base.select(col("vec_id").as("vid"), col("label"),
          col("qv").as("qb"), col("norm2").as("c_norm2")), Seq("label"))
        .filter(col("qid") =!= col("vid"))
        .withColumn("cos",
          dot_long(col("qa"), col("qb")).cast("double") /
            (sqrt(col("qn").cast("double")) *
              sqrt(col("c_norm2").cast("double"))))
        .select(col("qid"), col("cell_rank"), col("vid"), col("cos"))
      val sel = TopKPerKey.topK(
        cand.join(broadcast(Seq(1, 2, 3).toDF("p")),
          col("cell_rank") <= col("p"))
          .select(col("p"), col("qid"), col("vid"), col("cos")),
        Seq("p", "qid"), Seq("cos" -> true, "vid" -> false), 5)
      val brute = topk(s, dir, sameCell = false)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      val nq = topk(s, dir, sameCell = false)
        .agg(countDistinct(col("qid")).as("n"))
      sel.join(brute, Seq("qid", "vid"), "left")
        .crossJoin(broadcast(nq))
        .groupBy(col("p").as("probes"), col("n"))
        .agg(coalesce(sum(col("hit")), lit(0L)).cast("long").as("hits"))
        .select(col("probes"), col("n").as("n_queries"), col("hits"),
          expr("CAST(hits * 1000000 div (5 * n) AS BIGINT)")
            .as("recall_ppm"))
        .orderBy(col("probes"))
    },

    // Recall@k CURVE of the multi-probe IVF search — recall at a
    // single k (sim_ivf_recall's 5) hides how fast quality decays as
    // the retrieval budget shrinks; the offline eval reports the
    // curve. Both rank lists already carry positions, so every
    // k ≤ 5 point falls out of the SAME two 5-row-per-query sets
    // (one overlay join total, then a 4-row k grid): a hit at k is a
    // truth pair ranked ≤ k on BOTH sides. Macro recall is the exact
    // integer ratio hits·10⁶ div (k·|queries|) — no floats anywhere.
    QuerySpec.sql(
      "sim_recall_curve",
      s"""WITH brute AS (${topkSql("")}),
         |probe AS ($probeSql),
         |jj AS (
         |  SELECT b.qid, b.rnk AS brnk, p.rnk AS prnk
         |  FROM brute b
         |  LEFT JOIN probe p ON p.qid = b.qid AND p.vid = b.vid),
         |ks AS (SELECT UNNEST([1, 2, 3, 5]) AS k),
         |nq AS (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n
         |  FROM brute)
         |SELECT k, n AS n_queries,
         |  CAST(COALESCE(SUM(CASE WHEN brnk <= k AND prnk <= k
         |    THEN 1 END), 0) AS BIGINT) AS hits,
         |  CAST(COALESCE(SUM(CASE WHEN brnk <= k AND prnk <= k
         |    THEN 1 END), 0) * 1000000 // (k * n) AS BIGINT)
         |    AS recall_ppm
         |FROM ks CROSS JOIN jj CROSS JOIN nq
         |GROUP BY k, n ORDER BY k""".stripMargin) { (s, dir) =>
      import s.implicits._
      val jj = topk(s, dir, sameCell = false)
        .select(col("qid"), col("vid"), col("rnk").as("brnk"))
        .join(probeTopk(s, dir)
          .select(col("qid"), col("vid"), col("rnk").as("prnk")),
          Seq("qid", "vid"), "left")
      val nq = topk(s, dir, sameCell = false)
        .agg(countDistinct(col("qid")).as("n"))
      jj.crossJoin(broadcast(Seq(1, 2, 3, 5).toDF("k")))
        .crossJoin(broadcast(nq))
        .groupBy(col("k"), col("n"))
        .agg(coalesce(sum(when(
            col("brnk") <= col("k") && col("prnk") <= col("k"), 1)),
          lit(0L)).cast("long").as("hits"))
        .select(col("k"), col("n").as("n_queries"), col("hits"),
          expr("CAST(hits * 1000000 div (k * n) AS BIGINT)")
            .as("recall_ppm"))
        .orderBy(col("k"))
    },

    // Nearest-centroid classification — the class-separability eval
    // (Rocchio classifier accuracy) beside cluster_silhouette and
    // cluster_purity_nmi: every vector is assigned to its nearest
    // LABEL centroid and per-class accuracy is read off. Everything
    // stays exact-integer: centroids are kept as (component sums S,
    // count n) — never divided — and the per-(vector, label) score is
    // the n-scaled distance ( −2·⟨v,S⟩·n + |S|² ) div n², so the
    // classically-float nearest-centroid argmin is decided on
    // identical integers in both engines (score ties break to the
    // smaller label). Plan: one posexplode centroid build to
    // |labels|·64 keys, the 10-row centroid table broadcasts back,
    // per-row 64-dim HOF folds (map-side, no shuffle), one min_by
    // argmin fold, one accuracy aggregate.
    QuerySpec.sql(
      "emb_nearest_centroid",
      s"""WITH sig AS ($quantizedSql),
         |dims AS (SELECT unnest(range(0, 64)) AS d),
         |cent AS (SELECT label AS l, d, CAST(SUM(qv[d + 1]) AS BIGINT) AS s
         |  FROM sig, dims GROUP BY 1, 2),
         |cn AS (SELECT label AS l, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM sig GROUP BY 1),
         |cnorm AS (SELECT l, CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT)
         |    AS s2 FROM cent GROUP BY 1),
         |dots AS (SELECT v.vec_id, c.l,
         |    CAST(SUM(CAST(v.qv[c.d + 1] AS HUGEINT) * c.s) AS HUGEINT)
         |      AS dot
         |  FROM sig v JOIN cent c ON TRUE GROUP BY 1, 2),
         |scores AS (SELECT d.vec_id, d.l,
         |    CAST((-2 * d.dot * cn.n + cnorm.s2) // (cn.n * cn.n)
         |      AS BIGINT) AS score
         |  FROM dots d JOIN cn ON cn.l = d.l JOIN cnorm ON cnorm.l = d.l),
         |pick AS (SELECT vec_id, l AS predicted FROM (
         |  SELECT vec_id, l, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY score, l) AS rn FROM scores) WHERE rn = 1)
         |SELECT s.label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |  CAST(SUM(CASE WHEN p.predicted = s.label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST(CAST(SUM(CASE WHEN p.predicted = s.label THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
         |FROM sig s JOIN pick p ON p.vec_id = s.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val sig = signatures(s, dir)
      val cent = sig
        .select(col("label").as("l"), posexplode(col("qv")).as(Seq("d", "x")))
        .groupBy(col("l"), col("d")).agg(sum(col("x")).as("s"))
        .groupBy(col("l"))
        .agg(
          expr("transform(array_sort(collect_list(struct(d, s))), p -> p.s)")
            .as("sarr"),
          sum(col("s").cast("decimal(38,0)") * col("s")).as("s2"))
        .join(sig.groupBy(col("label").as("l"))
          .agg(count(lit(1)).as("n")), Seq("l"))
      val scored = sig.select(col("vec_id"), col("label"), col("qv"))
        .crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("l"),
          expr("aggregate(zip_with(qv, sarr, (x, y) -> x * y), 0L, (a, b) -> a + b)")
            .as("dot"), col("s2"), col("n"))
        .select(col("vec_id"), col("label"), col("l"),
          expr("""CAST((CAST(dot AS DECIMAL(38,0)) * n * -2 + s2)
                 |  div (n * n) AS BIGINT)""".stripMargin).as("score"))
      scored.groupBy(col("vec_id"), col("label"))
        .agg(min_by(col("l"), struct(col("score"), col("l")))
          .as("predicted"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("predicted") === col("label"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("label"), col("n_vectors"), col("n_correct"),
          expr("CAST(n_correct * 1000000 div n_vectors AS BIGINT)")
            .as("acc_ppm"))
        .orderBy(col("label"))
    },

    // Hard-negative mining — the contrastive-training data op built
    // on the same two searches: per query, the highest-cosine LSH
    // candidates that are NOT in the exact top-5 (high-scoring
    // non-relevant = the negatives a retrieval trainer wants), top-3
    // per query. One left-anti join between two k-row-per-query sets
    // + the custom TopKPerKey rank — marginal cost beyond the
    // searches is broadcast-sized at any corpus scale.
    QuerySpec.sql(
      "sim_hard_negatives",
      s"""WITH brute AS (${topkSql("")}),
         |lsh AS ($lshSql)
         |SELECT qid, vid, cos, rnk FROM (
         |  SELECT l.qid, l.vid, l.cos,
         |    ROW_NUMBER() OVER (PARTITION BY l.qid
         |      ORDER BY l.cos DESC, l.vid) AS rnk
         |  FROM lsh l
         |  WHERE NOT EXISTS (SELECT 1 FROM brute b
         |    WHERE b.qid = l.qid AND b.vid = l.vid))
         |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val brute = topk(s, dir, sameCell = false).select(col("qid"), col("vid"))
      val negs = lshTopk(s, dir).select(col("qid"), col("vid"), col("cos"))
        .join(brute, Seq("qid", "vid"), "left_anti")
      TopKPerKey.topKRanked(negs,
          Seq("qid"), Seq("cos" -> true, "vid" -> false), 3, "rnk")
        .select(col("qid"), col("vid"), col("cos"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    },

    // k-NN graph construction — see [[knnEdges]] for the plan
    // shape (triangle-blocked pairs scored once, symmetrized by
    // column swap, per-vector top-k window).
    QuerySpec.sql(
      "sim_knn_graph",
      s"""WITH sig AS ($quantizedSql)
         |SELECT vec_id, nbr_id, cos, rnk FROM (${knnEdgesSql(3)}) e
         |ORDER BY vec_id, rnk""".stripMargin) { (s, dir) =>
      knnEdges(s, dir, 3)
        .select(col("vec_id"), col("nbr_id"), col("cos"), col("rnk"))
        .orderBy(col("vec_id"), col("rnk"))
    },

    // Embedding-space outlier detection off the SAME cached k-NN edge
    // table: a vector whose 3rd-nearest neighbor is far away sits in
    // no dense region — the kNN-distance outlier rule every embedding
    // curation pass runs to drop mislabeled/garbage vectors before
    // they poison clustering. Zero new shuffles: the edge table is
    // already materialized for the graph family; this is a rank
    // filter + global bottom-20 heap over vectors-with-3-neighbors.
    QuerySpec.sql(
      "emb_knn_outliers",
      s"""WITH sig AS ($quantizedSql)
         |SELECT vec_id, cos AS knn3_cos
         |FROM (${knnEdgesSql(3)}) e
         |WHERE rnk = 3
         |ORDER BY knn3_cos, vec_id LIMIT 20""".stripMargin) { (s, dir) =>
      knnEdges(s, dir, 3)
        .filter(col("rnk") === 3)
        .select(col("vec_id"), col("cos").as("knn3_cos"))
        .orderBy(col("knn3_cos"), col("vec_id"))
        .limit(20)
    },

    // Embedding near-dup candidates: same-cell pairs above a cosine
    // threshold (the embedding-cosine dedup path).
    //
    // Pair generation uses the TRIANGLE BLOCK decomposition: each
    // cell's vectors are split into rank-ordered blocks of
    // [[PairBlockSize]]; the join key is the (cell, block-i, block-j)
    // triple with i ≤ j, so every pair is produced exactly once (ids in
    // block i are all smaller than ids in block j for i < j) and the
    // work for one huge cell spreads across C(nblocks+1, 2) independent
    // tasks instead of one O(cell²) task — completeness preserved, no
    // truncation cap. At test scale every cell is a single block and
    // the plan degenerates to the plain self-join the oracle expresses.
    QuerySpec.sql(
      "dedup_embedding_cosine",
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  list_dot_product(a.qv, b.qv)
         |    / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
         |    AS cos
         |FROM ($quantizedSql) a JOIN ($quantizedSql) b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.qv, b.qv)
         |    / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
         |    >= 0.3
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      cellPairs(signatures(s, dir), PairBlockSize)
        .withColumn("dot", dot_long(col("qa"), col("qb")))
        .withColumn("cos", expr(
          "CAST(dot AS DOUBLE) / (sqrt(CAST(a_norm2 AS DOUBLE)) * sqrt(CAST(b_norm2 AS DOUBLE)))"))
        .filter(col("cos") >= 0.3)
        .select(col("a_id"), col("b_id"), col("cos"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Near-dup threshold sweep: candidate-pair volume at each cosine
    // cutoff — the tuning curve a dedup rollout reads before fixing τ
    // (too low floods the verifier; too high misses dupes). ONE pass
    // over the same-cell pair set computes every cutoff's count as a
    // conditional sum (no per-threshold rescan); the oracle spells it
    // as a thresholds×pairs grid. Counts are monotone non-increasing
    // in the cutoff by construction.
    QuerySpec.sql(
      "dedup_threshold_sweep",
      s"""WITH pairs AS (
         |  SELECT list_dot_product(a.qv, b.qv)
         |    / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
         |    AS cos
         |  FROM ($quantizedSql) a JOIN ($quantizedSql) b
         |    ON a.label = b.label AND a.vec_id < b.vec_id),
         |th AS (SELECT CAST(t.threshold AS DOUBLE) AS threshold
         |  FROM (VALUES (0.2), (0.3), (0.4), (0.5), (0.6))
         |  AS t(threshold))
         |SELECT threshold,
         |  CAST(SUM(CASE WHEN cos >= threshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_pairs
         |FROM th CROSS JOIN pairs
         |GROUP BY threshold
         |ORDER BY threshold""".stripMargin) { (s, dir) =>
      val cuts = Seq(0.2, 0.3, 0.4, 0.5, 0.6)
      cellPairs(signatures(s, dir), PairBlockSize)
        .withColumn("dot", dot_long(col("qa"), col("qb")))
        .withColumn("cos", expr(
          "CAST(dot AS DOUBLE) / (sqrt(CAST(a_norm2 AS DOUBLE)) * sqrt(CAST(b_norm2 AS DOUBLE)))"))
        .agg(
          sum(when(col("cos") >= lit(cuts.head), 1L).otherwise(0L))
            .as(s"c${(cuts.head * 10).toInt}"),
          cuts.tail.map { c =>
            sum(when(col("cos") >= lit(c), 1L).otherwise(0L)).as(s"c${(c * 10).toInt}")
          }: _*)
        .select(explode(array(cuts.map { c =>
          struct(lit(c).as("threshold"), col(s"c${(c * 10).toInt}").as("n_pairs"))
        }: _*)).as("r"))
        .select(col("r.*"))
        .orderBy(col("threshold"))
    },

    // Johnson–Lindenstrauss random projection: 64-dim quantized
    // embeddings → 16-dim integer sketches via a hash-derived ±1 sign
    // matrix (md5("rp:k:d") parity — both engines hold the identical
    // matrix, no RNG state). The dimensionality-reduction primitive
    // for cheaper coarse scans and storage; a pure per-row map (no
    // shuffle), emitted long-format (vec_id, k, pv) so the whole
    // payload is exact integers.
    QuerySpec.sql(
      "emb_rand_proj",
      s"""WITH sig AS ($quantizedSql),
         |$rpSqlCtes
         |SELECT vec_id, k, pv FROM rp
         |ORDER BY vec_id, k""".stripMargin) { (s, dir) =>
      val comps = rpPlanes.zipWithIndex.map { case (pl, k) =>
        struct(lit(k).cast("long").as("k"), dot_long(col("qv"), pl).as("pv"))
      }
      signatures(s, dir)
        .select(col("vec_id"), explode(array(comps: _*)).as("c"))
        .select(col("vec_id"), col("c.k").as("k"), col("c.pv").as("pv"))
        .orderBy(col("vec_id"), col("k"))
    },

    // Distributed PCA, top principal component by power iteration —
    // the linear-algebra member of the embedding-index family. The
    // scale pattern is the textbook one: ONE O(n·d²) pass folds the
    // exact integer scatter statistics (Σxᵢxⱼ, Σxᵢ, n — all
    // map-side-combinable sums to a d² = 4096-key aggregate), the
    // centered covariance ×n² forms as C = n·Sxx − Sx·Sxᵀ in exact
    // DECIMAL(19,0)/HUGEINT products (never a float mean), and the
    // iteration runs over that BOUNDED 4096-entry table — the corpus
    // is touched exactly once. Each of the 3 unrolled rounds is
    // u = C·v (exact decimal sums) followed by ∞-norm renormalization
    // to integer micros, spelled sign·(|u|·1e6 div m) so Spark's
    // truncating `div` and DuckDB's flooring `//` agree on every
    // signed entry. Even the eigenvector estimate hash-compares.
    QuerySpec.sql(
      "emb_top_pc",
      s"""WITH sig AS ($quantizedSql),
         |x AS (SELECT vec_id, i, qv[i] AS xi
         |  FROM sig, UNNEST(generate_series(1, len(qv))) u(i)),
         |sxx AS (SELECT a.i AS i, b.i AS j,
         |    CAST(SUM(a.xi * b.xi) AS BIGINT) AS sxx
         |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
         |sx AS (SELECT i, CAST(SUM(xi) AS BIGINT) AS sx FROM x GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sig),
         |cm AS (SELECT s.i, s.j,
         |    CAST(n AS HUGEINT) * s.sxx - CAST(xa.sx AS HUGEINT) * xb.sx
         |      AS c
         |  FROM sxx s JOIN sx xa ON xa.i = s.i JOIN sx xb ON xb.i = s.j
         |  CROSS JOIN nn),
         |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM sx),
         |${(1 to PcRounds).map { r =>
            s"""u$r AS (SELECT cm.i, SUM(cm.c * w.v) AS u
               |  FROM cm JOIN v${r - 1} w ON w.i = cm.j GROUP BY 1),
               |m$r AS (SELECT MAX(ABS(u)) AS m FROM u$r),
               |v$r AS (SELECT i,
               |    CASE WHEN m = 0 THEN CAST(0 AS HUGEINT)
               |      WHEN u < 0 THEN -((-u * 1000000) // m)
               |      ELSE (u * 1000000) // m END AS v
               |  FROM u$r CROSS JOIN m$r)""".stripMargin
          }.mkString(",\n")}
         |SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_micros
         |FROM v$PcRounds ORDER BY dim""".stripMargin) { (s, dir) =>
      val (dims, v, _) = topPcState(s, dir)
      import s.implicits._
      dims.map(i => (i, v(i).toLong)).toSeq
        .toDF("dim", "v_micros")
        .orderBy(col("dim"))
    },

    // Explained-variance share of that top component — the number
    // that says whether ONE direction captures the embedding cloud
    // (anisotropy: a known pathology of LM embeddings) or the
    // variance is spread: Rayleigh quotient over trace,
    // (vᵀCv / vᵀv) / tr(C), computed entirely in exact BigInt/HUGEINT
    // over the SAME scatter matrix and converged integer-micro vector
    // as emb_top_pc (shared one-pass fold; no new corpus scan), one
    // integral ppm division at the end.
    QuerySpec.sql(
      "emb_pc_variance_ratio",
      s"""WITH sig AS ($quantizedSql),
         |x AS (SELECT vec_id, i, qv[i] AS xi
         |  FROM sig, UNNEST(generate_series(1, len(qv))) u(i)),
         |sxx AS (SELECT a.i AS i, b.i AS j,
         |    CAST(SUM(a.xi * b.xi) AS BIGINT) AS sxx
         |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
         |sx AS (SELECT i, CAST(SUM(xi) AS BIGINT) AS sx FROM x GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sig),
         |cm AS (SELECT s.i, s.j,
         |    CAST(n AS HUGEINT) * s.sxx - CAST(xa.sx AS HUGEINT) * xb.sx
         |      AS c
         |  FROM sxx s JOIN sx xa ON xa.i = s.i JOIN sx xb ON xb.i = s.j
         |  CROSS JOIN nn),
         |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM sx),
         |${(1 to PcRounds).map { r =>
            s"""u$r AS (SELECT cm.i, SUM(cm.c * w.v) AS u
               |  FROM cm JOIN v${r - 1} w ON w.i = cm.j GROUP BY 1),
               |m$r AS (SELECT MAX(ABS(u)) AS m FROM u$r),
               |v$r AS (SELECT i,
               |    CASE WHEN m = 0 THEN CAST(0 AS HUGEINT)
               |      WHEN u < 0 THEN -((-u * 1000000) // m)
               |      ELSE (u * 1000000) // m END AS v
               |  FROM u$r CROSS JOIN m$r)""".stripMargin
          }.mkString(",\n")},
         |rq AS (SELECT SUM(cm.c * va.v * vb.v) AS rq
         |  FROM cm JOIN v$PcRounds va ON va.i = cm.i
         |  JOIN v$PcRounds vb ON vb.i = cm.j),
         |vv AS (SELECT SUM(v * v) AS vv FROM v$PcRounds),
         |tr AS (SELECT SUM(c) AS tr FROM cm WHERE i = j)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sx) AS n_dims,
         |  CAST(CASE WHEN vv > 0 AND tr > 0 THEN
         |    rq * 1000000 // (vv * tr) END AS BIGINT) AS explained_ppm
         |FROM rq, vv, tr""".stripMargin) { (s, dir) =>
      val (dims, v, c) = topPcState(s, dir)
      val rq = (for (i <- dims; j <- dims) yield c((i, j)) * v(i) * v(j))
        .sum
      val vv = dims.map(i => v(i) * v(i)).sum
      val tr = dims.map(i => c((i, i))).sum
      val explained =
        if (vv > 0 && tr > 0)
          Some((rq * BigInt(1000000) / (vv * tr)).toLong)
        else Option.empty[Long]
      import s.implicits._
      Seq((dims.length.toLong, explained))
        .toDF("n_dims", "explained_ppm")
    },

    // Retrieve→rerank over the JL projection (the FOURTH index family
    // beside brute force, IVF, and LSH): the coarse pass scans 16-dim
    // integer projections — 4× less dot-product work and memory
    // traffic than the full 64-dim scan — keeps RpCand candidates per
    // query through the custom top-k operator, and only those are
    // re-ranked by exact full-precision cosine. All-integer coarse
    // scores; candidate-norm-only division preserves per-query order.
    QuerySpec.sql("sim_rp_rerank", rpRerankSql) { (s, dir) =>
      rpRerank(s, dir)
        .orderBy(col("qid"), col("rnk"))
    },

    // Self-measuring ANN quality for the projection family: recall@5
    // of the JL retrieve→rerank against the exact brute-force
    // baseline, per query, in one plan — the dimension/candidate knobs
    // (RpDims, RpCand) are themselves oracle-checked, same discipline
    // as sim_ivf_recall and sim_lsh_recall.
    QuerySpec.sql(
      "sim_rp_recall",
      s"""WITH brute AS (${topkSql("")}),
         |rpq AS ($rpRerankSql)
         |SELECT b.qid,
         |  CAST(SUM(CASE WHEN p.vid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall
         |FROM brute b
         |LEFT JOIN rpq p ON b.qid = p.qid AND b.vid = p.vid
         |GROUP BY b.qid
         |ORDER BY b.qid""".stripMargin) { (s, dir) =>
      val brute = topk(s, dir, sameCell = false).select(col("qid"), col("vid"))
      val rpq = rpRerank(s, dir)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      brute.join(rpq, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(5.0))
          .as("recall"))
        .orderBy(col("qid"))
    },

    // Hybrid retrieval: reciprocal-rank fusion (Cormack, Clarke &
    // Buettcher 2009) of the three approximate families' ranked lists
    // (IVF multi-probe, multi-table LSH, JL retrieve→rerank). Each
    // family contributes floor(RrfScale / (RrfK + rank)) for a
    // candidate it ranked — exact integer terms (16393, 16129, 15873,
    // 15625, 15384 for ranks 1-5), so the fused score hash-compares.
    // The production shape: index families with UNCORRELATED failure
    // modes (cell boundaries vs hyperplane buckets vs projection
    // distortion) vote by rank; a candidate surfaced by several
    // families outranks any single family's near-miss. Pure
    // composition over the three already-bounded searches: three
    // 5-row-per-query lists union → one hash aggregate → the custom
    // top-k plan, which ranks in its final pass. The three lists come
    // unsorted (Spark's EliminateSorts does not look through the
    // union, so a sorted input would cost a range exchange each); the
    // fused list is the only one sorted. No new scan of the corpus at
    // any scale.
    QuerySpec.sql(
      "sim_rrf_fusion",
      s"""WITH ivf AS ($probeSql),
         |lsh AS ($lshSql),
         |rpq AS ($rpRerankSql),
         |u AS (
         |  SELECT qid, vid, $RrfScale // ($RrfK + rnk) AS term FROM ivf
         |  UNION ALL
         |  SELECT qid, vid, $RrfScale // ($RrfK + rnk) AS term FROM lsh
         |  UNION ALL
         |  SELECT qid, vid, $RrfScale // ($RrfK + rnk) AS term FROM rpq),
         |sc AS (
         |  SELECT qid, vid, CAST(SUM(term) AS BIGINT) AS rrf
         |  FROM u GROUP BY 1, 2)
         |SELECT qid, vid, rrf, rnk FROM (
         |  SELECT qid, vid, rrf,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, vid) AS rnk
         |  FROM sc) t
         |WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val fams = Seq(probeTopk(s, dir), lshTopk(s, dir), rpRerank(s, dir))
      val terms = fams.map(_.select(col("qid"), col("vid"),
          expr(s"$RrfScale div ($RrfK + rnk)").as("term")))
        .reduce(_ unionByName _)
      val scored = terms.groupBy(col("qid"), col("vid"))
        .agg(sum(col("term")).cast("long").as("rrf"))
      TopKPerKey.topKRanked(scored, Seq("qid"),
          Seq("rrf" -> true, "vid" -> false), 5, "rnk")
        .select(col("qid"), col("vid"), col("rrf"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    },

    // Hybrid lexical + vector retrieval — the RAG search stack: a
    // query retrieves by BOTH its text (tf/df lexical overlap, the
    // text_tfidf_topk scoring family) and its embedding (exact
    // cosine), and the two ranked lists fuse by reciprocal rank. The
    // fixture aligns doc_id and vec_id domains, so query i pairs its
    // document text with its embedding. Lexical terms are
    // micros6(tf/df) — exact ints, order-independent sums; fusion
    // terms are the integer RRF family — the whole hybrid score
    // hash-compares.
    //
    // Scale shape: the query-token table (q·|query tokens| rows) and
    // the query-relevant df table BROADCAST against the corpus tf
    // table — no zipfian token shuffle (the corpus side is probed,
    // never re-keyed); both per-query rankings run the custom top-k
    // plan; fusion touches 2·[[HybridCand]] rows per query.
    QuerySpec.sql(
      "sim_hybrid_search",
      s"""WITH sig AS ($quantizedSql),
         |vecranked AS (
         |  SELECT qid, vid, rnk FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS vid,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_dot_product(a.qv, b.qv)
         |          / (sqrt(CAST(a.norm2 AS DOUBLE))
         |            * sqrt(CAST(b.norm2 AS DOUBLE))) DESC, b.vec_id) AS rnk
         |    FROM sig a JOIN sig b
         |      ON a.vec_id < 10 AND b.vec_id <> a.vec_id) t
         |  WHERE rnk <= $HybridCand),
         |tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents) t0
         |  GROUP BY 1, 2),
         |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |qtok AS (SELECT doc_id AS qid, tok FROM tf WHERE doc_id < 10),
         |lexscore AS (
         |  SELECT q.qid, c.doc_id AS vid,
         |    CAST(SUM(CAST(CAST(CAST(c.tf AS DOUBLE) / d.df
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS score
         |  FROM qtok q
         |  JOIN tf c ON c.tok = q.tok AND c.doc_id <> q.qid
         |  JOIN df d ON d.tok = q.tok
         |  GROUP BY 1, 2),
         |lexranked AS (
         |  SELECT qid, vid, rnk FROM (
         |    SELECT qid, vid,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY score DESC, vid) AS rnk
         |    FROM lexscore) t
         |  WHERE rnk <= $HybridCand),
         |u AS (
         |  SELECT qid, vid, $RrfScale // ($RrfK + rnk) AS term FROM vecranked
         |  UNION ALL
         |  SELECT qid, vid, $RrfScale // ($RrfK + rnk) AS term FROM lexranked),
         |sc AS (
         |  SELECT qid, vid, CAST(SUM(term) AS BIGINT) AS rrf
         |  FROM u GROUP BY 1, 2)
         |SELECT qid, vid, rrf, rnk FROM (
         |  SELECT qid, vid, rrf,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, vid) AS rnk
         |  FROM sc) t
         |WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val base = signatures(s, dir)
      // vector side: exact cosine, top HybridCand per query
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"),
          col("norm2").as("q_norm2"))
      val cand = base.select(col("vec_id").as("vid"), col("qv").as("qb"),
        col("norm2").as("c_norm2"))
      val vecranked = TopKPerKey.topKRanked(
          broadcast(q).join(cand, col("qid") =!= col("vid"))
            .withColumn("cos",
              dot_long(col("qa"), col("qb")).cast("double") /
                (sqrt(col("q_norm2").cast("double")) *
                  sqrt(col("c_norm2").cast("double"))))
            .select(col("qid"), col("vid"), col("cos")),
          Seq("qid"), Seq("cos" -> true, "vid" -> false), HybridCand, "rnk")
        .select(col("qid"), col("vid"), col("rnk"))
      // lexical side: query tokens + their df broadcast, corpus probed
      // (term table cached — see corpusTf)
      val tf = corpusTf(s, dir)
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val qtok = tf.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("tok"))
      val qdf = dfreq.join(qtok.select(col("tok")).distinct(), Seq("tok"))
      val lexranked = TopKPerKey.topKRanked(
          tf.select(col("doc_id").as("vid"), col("tok"), col("tf"))
            .join(broadcast(qtok), Seq("tok"))
            .filter(col("vid") =!= col("qid"))
            .join(broadcast(qdf), Seq("tok"))
            .groupBy(col("qid"), col("vid"))
            .agg(sum(graft.functions.Cols.micros6(
              col("tf").cast("double") / col("df").cast("double")))
              .cast("long").as("score"))
            .select(col("qid"), col("vid"), col("score")),
          Seq("qid"), Seq("score" -> true, "vid" -> false), HybridCand, "rnk")
        .select(col("qid"), col("vid"), col("rnk"))
      val terms = Seq(vecranked, lexranked)
        .map(_.select(col("qid"), col("vid"),
          expr(s"$RrfScale div ($RrfK + rnk)").as("term")))
        .reduce(_ unionByName _)
      TopKPerKey.topKRanked(
          terms.groupBy(col("qid"), col("vid"))
            .agg(sum(col("term")).cast("long").as("rrf")),
          Seq("qid"), Seq("rrf" -> true, "vid" -> false), 10, "rnk")
        .select(col("qid"), col("vid"), col("rrf"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    },

    // Rank-biased overlap (RBO, Webber 2010) between the two hybrid
    // retrieval rankings — HOW MUCH do the lexical and vector top-10
    // lists agree, weighted toward the top (the diagnostic that says
    // whether hybrid fusion is even buying diversity)? Truncated
    // RBO@10 with p = 0.9: Σ_d w_d·|A_:d ∩ B_:d|/d over a FIXED
    // 10-entry weight literal (w_d = (1−p)p^(d−1) in ppm — the
    // ndcg-discount discipline), each term one exact floor division,
    // so the classically-float overlap measure hash-compares. An item
    // enters the intersection at depth max(rank_A, rank_B); per query
    // the joined frame is ≤ 10 rows × a 10-row broadcast depth grid.
    QuerySpec.sql(
      "sim_rank_overlap",
      s"""WITH sig AS ($quantizedSql),
         |vec AS (
         |  SELECT qid, vid, rnk FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS vid,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_dot_product(a.qv, b.qv)
         |          / (sqrt(CAST(a.norm2 AS DOUBLE))
         |            * sqrt(CAST(b.norm2 AS DOUBLE))) DESC, b.vec_id) AS rnk
         |    FROM sig a JOIN sig b
         |      ON a.vec_id < 10 AND b.vec_id <> a.vec_id) t
         |  WHERE rnk <= 10),
         |tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents) t0
         |  GROUP BY 1, 2),
         |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |qtok AS (SELECT doc_id AS qid, tok FROM tf WHERE doc_id < 10),
         |lexscore AS (
         |  SELECT q.qid, c.doc_id AS vid,
         |    CAST(SUM(CAST(CAST(CAST(c.tf AS DOUBLE) / d.df
         |      AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS score
         |  FROM qtok q
         |  JOIN tf c ON c.tok = q.tok AND c.doc_id <> q.qid
         |  JOIN df d ON d.tok = q.tok
         |  GROUP BY 1, 2),
         |lex AS (
         |  SELECT qid, vid, rnk FROM (
         |    SELECT qid, vid,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY score DESC, vid) AS rnk
         |    FROM lexscore) t
         |  WHERE rnk <= 10),
         |j AS (SELECT v.qid AS qid, GREATEST(v.rnk, l.rnk) AS dmin
         |  FROM vec v JOIN lex l ON l.qid = v.qid AND l.vid = v.vid),
         |w AS (SELECT * FROM (VALUES $rboWeightsSql) t(d, wt)),
         |x AS (SELECT q.qid, w.d, w.wt,
         |    CAST(COALESCE(SUM(CASE WHEN j.dmin <= w.d THEN 1 END), 0)
         |      AS BIGINT) AS xd
         |  FROM (SELECT DISTINCT qid FROM vec) q
         |  CROSS JOIN w
         |  LEFT JOIN j ON j.qid = q.qid
         |  GROUP BY 1, 2, 3)
         |SELECT qid,
         |  CAST(SUM(xd * wt // d) AS BIGINT) AS rbo_ppm,
         |  CAST(MAX(CASE WHEN d = 10 THEN xd END) AS BIGINT)
         |    AS overlap10
         |FROM x GROUP BY 1
         |ORDER BY qid""".stripMargin) { (s, dir) =>
      import s.implicits._
      val base = signatures(s, dir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"),
          col("norm2").as("q_norm2"))
      val cand = base.select(col("vec_id").as("vid"), col("qv").as("qb"),
        col("norm2").as("c_norm2"))
      val vec = TopKPerKey.topKRanked(
          broadcast(q).join(cand, col("qid") =!= col("vid"))
            .withColumn("cos",
              dot_long(col("qa"), col("qb")).cast("double") /
                (sqrt(col("q_norm2").cast("double")) *
                  sqrt(col("c_norm2").cast("double"))))
            .select(col("qid"), col("vid"), col("cos")),
          Seq("qid"), Seq("cos" -> true, "vid" -> false), 10, "rnk")
        .select(col("qid"), col("vid"), col("rnk"))
      val tf = corpusTf(s, dir)
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val qtok = tf.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("tok"))
      val qdf = dfreq.join(qtok.select(col("tok")).distinct(), Seq("tok"))
      val lex = TopKPerKey.topKRanked(
          tf.select(col("doc_id").as("vid"), col("tok"), col("tf"))
            .join(broadcast(qtok), Seq("tok"))
            .filter(col("vid") =!= col("qid"))
            .join(broadcast(qdf), Seq("tok"))
            .groupBy(col("qid"), col("vid"))
            .agg(sum(graft.functions.Cols.micros6(
              col("tf").cast("double") / col("df").cast("double")))
              .cast("long").as("score"))
            .select(col("qid"), col("vid"), col("score")),
          Seq("qid"), Seq("score" -> true, "vid" -> false), 10, "rnk")
        .select(col("qid"), col("vid"), col("rnk"))
      val j = vec.withColumnRenamed("rnk", "rv")
        .join(lex.withColumnRenamed("rnk", "rl"), Seq("qid", "vid"))
        .select(col("qid"), greatest(col("rv"), col("rl")).as("dmin"))
      val w = rboWeights.toDF("d", "wt")
      vec.select(col("qid")).distinct()
        .crossJoin(broadcast(w))
        .join(j, Seq("qid"), "left")
        .groupBy(col("qid"), col("d"), col("wt"))
        .agg(coalesce(sum(when(col("dmin") <= col("d"), 1L)), lit(0L))
          .cast("long").as("xd"))
        .groupBy(col("qid"))
        .agg(sum(expr("xd * wt div d")).cast("long").as("rbo_ppm"),
          max(when(col("d") === 10, col("xd"))).cast("long")
            .as("overlap10"))
        .orderBy(col("qid"))
    },

    // MMR diversified re-ranking (Carbonell & Goldstein 1998): retrieve
    // a top-[[MmrPool]] relevance pool per query, then greedily pick
    // [[MmrK]] results maximizing λ·relevance − μ·max-sim-to-selected —
    // the standard redundancy-removal pass over retrieval output (and
    // over training-batch selection). The selection loop is the custom
    // [[graft.functions.MmrSelect]] Catalyst expression: one eval per
    // QUERY over its bounded pool, so the operator stays a per-row map
    // after the pool build (the oracle unrolls the same greedy into
    // k − 1 join+window rounds — exactly the plan shape the expression
    // avoids). Pool build reuses the native top-k heap plan; scores
    // are deterministic IEEE chains over exact integer dots, like
    // every cosine in this file.
    QuerySpec.sql("sim_mmr_rerank", mmrOracle) { (s, dir) =>
      val base = signatures(s, dir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"),
          col("norm2").as("q_norm2"))
      val cand = base.select(col("vec_id").as("vid"), col("qv"),
        col("norm2"))
      val scored = broadcast(q).join(cand, col("qid") =!= col("vid"))
        .withColumn("dot", dot_long(col("qa"), col("qv")))
        .withColumn("rel",
          col("dot").cast("double") /
            (sqrt(col("q_norm2").cast("double")) *
              sqrt(col("norm2").cast("double"))))
        .select(col("qid"), col("vid"), col("rel"), col("qv"), col("norm2"))
      TopKPerKey.topK(scored, Seq("qid"),
          Seq("rel" -> true, "vid" -> false), MmrPool)
        .groupBy(col("qid"))
        .agg(expr("collect_list(struct(vid, rel, qv, norm2))").as("cands"))
        .select(col("qid"),
          explode(graft.functions.MmrSelect.mmr_select(
            col("cands"), MmrK, MmrLam, MmrMu)).as("m"))
        .select(col("qid"), col("m.mmr_rank").as("mmr_rank"),
          col("m.vid").as("vid"), col("m.score").as("score"))
        .orderBy(col("qid"), col("mmr_rank"))
    },

    // Dimension-truncation recall (the Matryoshka discipline): score
    // on only the leading TruncDims of every embedding — a 2x scan-
    // bandwidth/storage cut with NO index structure at all — and
    // measure recall@5 against the full-dimension exact search. The
    // truncated store is a pure per-row slice of the cached
    // signatures; the comparison completes the bandwidth-vs-recall
    // menu: truncation (this), projection (JL), quantization
    // (int8/PQ), bucketing (IVF/LSH), graph (expansion). Measured:
    // 0.30 at 32 of 64 dims on the synthetic embeddings (and 0.08 at
    // 16) — these embeddings are NOT Matryoshka-trained, so leading
    // dims carry no privileged mass; the gate pins exactly the check
    // a pipeline must run before assuming the truncation shortcut.
    QuerySpec.sql(
      "sim_trunc_recall",
      s"""WITH brute AS (${topkSql("")}),
         |trunc AS ($truncSql)
         |SELECT b.qid,
         |  CAST(SUM(CASE WHEN p.vid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall
         |FROM brute b
         |LEFT JOIN trunc p ON b.qid = p.qid AND b.vid = p.vid
         |GROUP BY b.qid
         |ORDER BY b.qid""".stripMargin) { (s, dir) =>
      val brute = topk(s, dir, sameCell = false).select(col("qid"), col("vid"))
      val tr = truncTopk(s, dir)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      brute.join(tr, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(5.0))
          .as("recall"))
        .orderBy(col("qid"))
    },

    // Graph-expansion ANN — the FOURTH index family (graph-based, the
    // DiskANN/HNSW discipline in its non-iterative form): LSH top-5
    // seeds per query, expanded ONE hop over the cached k-NN edge
    // table, then exact rerank of the widened candidate set. The
    // expansion is a join of a bounded per-query seed set against the
    // partitioned edge table keyed by source vector — never a graph
    // traversal loop, so it shuffles O(queries · seeds · k) rows at
    // any corpus size. Entry points + neighborhood expansion is
    // exactly how graph indexes recover recall that hash buckets
    // lose: a true neighbor missing from every LSH bucket is still
    // reached if any of its graph neighbors seeds.
    QuerySpec.sql("sim_graph_expand", graphExpandSql) { (s, dir) =>
      graphExpandTopk(s, dir)
        .orderBy(col("qid"), col("rnk"))
    },

    // Recall@5 of the graph-expanded search vs exact brute force —
    // same self-measuring discipline as the other four families. The
    // measured value dominates plain LSH recall (the one-hop closure
    // strictly widens the LSH candidate set).
    QuerySpec.sql(
      "sim_graph_recall",
      s"""WITH brute AS (${topkSql("")}),
         |graphx AS ($graphExpandSql)
         |SELECT b.qid,
         |  CAST(SUM(CASE WHEN p.vid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall
         |FROM brute b
         |LEFT JOIN graphx p ON b.qid = p.qid AND b.vid = p.vid
         |GROUP BY b.qid
         |ORDER BY b.qid""".stripMargin) { (s, dir) =>
      val brute = topk(s, dir, sameCell = false).select(col("qid"), col("vid"))
      val g = graphExpandTopk(s, dir)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      brute.join(g, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(5.0))
          .as("recall"))
        .orderBy(col("qid"))
    })

  /** Leading dimensions kept by the truncated-embedding search. */
  val TruncDims = 32

  /** Top-5 per query scored on only the first [[TruncDims]] embedding
    * dimensions — the Matryoshka-style storage/bandwidth cut (keep the
    * leading quarter of every vector; score candidates on it).
    */
  private def truncTopk(s: SparkSession, dir: String): DataFrame = {
    val base = signatures(s, dir)
      .select(col("vec_id"), expr(s"slice(qv, 1, $TruncDims)").as("tv"))
      .withColumn("tnorm2", dot_long(col("tv"), col("tv")))
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("tv").as("qa"),
        col("tnorm2").as("q_norm2"))
    val cand = base.select(col("vec_id").as("vid"), col("tv").as("qb"),
      col("tnorm2").as("c_norm2"))
    rankTop5(broadcast(q).join(cand, col("qid") =!= col("vid"))
      .withColumn("dot", dot_long(col("qa"), col("qb")))
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(c_norm2 AS DOUBLE)))")))
  }

  private def truncSql: String =
    s"""WITH sig AS ($quantizedSql),
       |tsig AS (
       |  SELECT vec_id, qv[1:$TruncDims] AS tv,
       |    list_dot_product(qv[1:$TruncDims], qv[1:$TruncDims]) AS tnorm2
       |  FROM sig)
       |SELECT qid, vid, cos, rnk FROM (
       |  SELECT qid, vid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vid) AS rnk
       |  FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS vid,
       |      list_dot_product(a.tv, b.tv)
       |        / (sqrt(CAST(a.tnorm2 AS DOUBLE)) * sqrt(CAST(b.tnorm2 AS DOUBLE)))
       |        AS cos
       |    FROM tsig a JOIN tsig b
       |      ON a.vec_id < 10 AND b.vec_id <> a.vec_id))
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  /** Graph-expanded top-5 per query (see the sim_graph_expand spec):
    * union of the LSH seed hits and their one-hop k-NN neighbors,
    * deduplicated, exact-reranked through the custom top-k plan.
    */
  private def graphExpandTopk(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val seeds = lshTopk(s, dir).select(col("qid"), col("vid"))
    val hop = seeds
      .join(knnEdges(s, dir), seeds("vid") === col("vec_id"))
      .filter(col("nbr_id") =!= col("qid"))
      .select(col("qid"), col("nbr_id").as("vid"))
    val cand = seeds.unionByName(hop).distinct()
    rankTop5(cand
      .join(sig.select(col("vec_id").as("qid"), col("qv").as("qa"),
        col("norm2").as("q_norm2")), Seq("qid"))
      .join(sig.select(col("vec_id").as("vid"), col("qv").as("qb"),
        col("norm2").as("c_norm2")), Seq("vid"))
      .withColumn("dot", dot_long(col("qa"), col("qb")))
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(c_norm2 AS DOUBLE)))")))
  }

  /** DuckDB mirror of [[graphExpandTopk]] — the embedded LSH search
    * and k-NN edge derivations are the SAME SQL fragments the
    * sim_lsh_topk / sim_knn_graph oracles run, so the three gates pin
    * one shared definition of each artifact.
    */
  private def graphExpandSql: String =
    s"""WITH seeds AS ($lshSql),
       |sig AS ($quantizedSql),
       |edges AS (${knnEdgesSql()}),
       |cand AS (
       |  SELECT qid, vid FROM seeds
       |  UNION
       |  SELECT s.qid, e.nbr_id AS vid
       |  FROM seeds s JOIN edges e ON e.vec_id = s.vid
       |  WHERE e.nbr_id <> s.qid),
       |scored AS (
       |  SELECT c.qid, c.vid,
       |    list_dot_product(a.qv, b.qv)
       |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
       |      AS cos
       |  FROM cand c
       |  JOIN sig a ON a.vec_id = c.qid
       |  JOIN sig b ON b.vec_id = c.vid)
       |SELECT qid, vid, cos, rnk FROM (
       |  SELECT qid, vid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vid) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  /** MMR candidate-pool size (top-N by relevance feeding the greedy). */
  val MmrPool = 10

  /** MMR picks per query. */
  val MmrK = 5

  /** Relevance weight λ and redundancy weight μ. Passed as SEPARATE
    * literals — deriving μ as 1 − λ would produce a double one ulp off
    * the 0.3 the oracle SQL spells.
    */
  val MmrLam = 0.7
  val MmrMu = 0.3

  /** Unrolled greedy-MMR oracle: pool CTE, then [[MmrK]] − 1 rounds of
    * (score remaining vs selected) → (argmax) → (union into selected).
    */
  private def mmrOracle: String = {
    def cos(a: String, b: String) =
      s"list_dot_product($a.qv, $b.qv) / (sqrt(CAST($a.norm2 AS DOUBLE))" +
        s" * sqrt(CAST($b.norm2 AS DOUBLE)))"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"sig AS ($quantizedSql)",
      s"""cand0 AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vid, ${cos("a", "b")} AS rel,
         |    b.qv AS qv, b.norm2 AS norm2
         |  FROM sig a JOIN sig b
         |    ON a.vec_id < 10 AND b.vec_id <> a.vec_id)""".stripMargin,
      s"""cand AS (
         |  SELECT qid, vid, rel, qv, norm2 FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, vid) AS rnk
         |    FROM cand0) t
         |  WHERE rnk <= $MmrPool)""".stripMargin,
      s"""sel1 AS (
         |  SELECT qid, vid, qv, norm2, 1 AS mmr_rank,
         |    CAST($MmrLam AS DOUBLE) * rel AS score
         |  FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, vid) AS rn
         |    FROM cand) t
         |  WHERE rn = 1)""".stripMargin)
    for (i <- 2 to MmrK) {
      ctes += s"""sc$i AS (
         |  SELECT c.qid, c.vid,
         |    CAST($MmrLam AS DOUBLE) * c.rel
         |      - CAST($MmrMu AS DOUBLE) * MAX(${cos("c", "s")}) AS score
         |  FROM cand c JOIN sel${i - 1} s ON s.qid = c.qid
         |  WHERE c.vid NOT IN
         |    (SELECT x.vid FROM sel${i - 1} x WHERE x.qid = c.qid)
         |  GROUP BY c.qid, c.vid, c.rel)""".stripMargin
      ctes += s"""p$i AS (
         |  SELECT qid, vid, score FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, vid) AS rn
         |    FROM sc$i) t
         |  WHERE rn = 1)""".stripMargin
      ctes += s"""sel$i AS (
         |  SELECT * FROM sel${i - 1}
         |  UNION ALL
         |  SELECT c.qid, c.vid, c.qv, c.norm2, $i AS mmr_rank, p.score
         |  FROM cand c JOIN p$i p ON p.qid = c.qid AND p.vid = c.vid)"""
        .stripMargin
    }
    ctes.mkString("WITH ", ",\n", "") +
      s"""
         |SELECT qid, mmr_rank, vid, score FROM sel$MmrK
         |ORDER BY qid, mmr_rank""".stripMargin
  }

  /** RBO truncated weights, depth 1-10: round((1-p)·p^(d-1)·10⁶) at
    * p = 0.9 — fixed literals shared verbatim with the oracle so the
    * overlap sum is float-free in both engines.
    */
  private val rboWeights: Seq[(Long, Long)] = Seq(
    (1L, 100000L), (2L, 90000L), (3L, 81000L), (4L, 72900L),
    (5L, 65610L), (6L, 59049L), (7L, 53144L), (8L, 47830L),
    (9L, 43047L), (10L, 38742L))

  private val rboWeightsSql: String =
    rboWeights.map { case (d, w) => s"($d, $w)" }.mkString(", ")
}
