package graft.operators

import graft.QuerySpec
import graft.functions.DotProductLong.dot_long
import graft.functions.Materialize
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

import graft.plans.TopKPerKey

/** Product quantization (Jégou, Douze, Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search") — the fifth index
  * family of the similarity stack (after the brute-force baseline,
  * IVF coarse cells, multi-table LSH, and the JL random projection): each 64-dim vector is split
  * into [[PqM]] = 8 subspaces of [[PqSubDim]] = 8 dims; a per-subspace
  * codebook of [[PqK]] = 16 centroids (trained by the same fixed-round
  * deterministic Lloyd machinery as [[ClusterOps]], but per subspace)
  * encodes every vector as 8 four-bit codes — a 32-bit word replacing
  * the 64-float payload, an 8× compression even over int8.
  *
  * Search is the standard asymmetric distance computation (ADC): the
  * query stays full-precision; per query a lookup table of
  * query-subvector · centroid dots (PqM·PqK = 128 exact longs) is
  * built once, and a candidate's approximate dot is the sum of 8 table
  * lookups selected by its codes — no per-candidate dot product at
  * all. The ADC scan keeps [[PqCand]] candidates per query; an exact
  * full-precision cosine pass re-ranks only those (the same
  * retrieve→rerank discipline as the int8 and JL families). Measured
  * by the sim_pq_recall gate: recall@5 = 0.6 at test scale — above
  * the IVF-probe (0.3), LSH (0.3), and JL (0.44) families at a
  * fraction of their scan bandwidth.
  *
  * Cross-engine determinism: sub-vectors are slices of the micro-
  * quantized integer signatures, so every distance, centroid
  * (floor-mean), LUT entry, and ADC sum is exact long arithmetic;
  * ranking doubles are exact-int divisions by correctly-rounded
  * sqrts — identical bits in Spark and DuckDB. Codebook init is the
  * [[PqK]] smallest vec_ids' sub-vectors (no RNG state), mirroring
  * [[ClusterOps]]' init.
  *
  * Scale shape (100 TB):
  *   - training touches the corpus in [[PqIters]] fixed rounds of
  *     broadcast-join (128-row codebook) + map-side-combinable hash
  *     aggregate — the corpus never shuffles;
  *   - the encoded table ([[pqCodes]]) is the write-once artifact all
  *     search traffic reads — 4 bytes/vector instead of 256;
  *   - the ADC scan is a broadcast join of the 128·q-row LUT against
  *     the codes table + one hash aggregate: pure map-side work over
  *     the compressed store, shuffling only (qid, vid) partial sums;
  *   - per-query top-k goes through the custom [[TopKPerKey]] plan
  *     (map-side heap reduce), not a window sort.
  */
object PqOps {

  /** Subspaces (codes per vector). */
  val PqM = 8

  /** Dimensions per subspace (PqM · PqSubDim = 64). */
  val PqSubDim = 8

  /** Codes per subspace codebook (4 bits). */
  val PqK = 16

  /** Fixed Lloyd rounds per subspace codebook (init counts as round
    * one), so training is expressible as a finite SQL plan on both
    * engines — the [[ClusterOps.KmeansIters]] discipline. */
  val PqIters = 2

  /** Candidates kept per query by the ADC scan before exact rerank. */
  val PqCand = 20

  /** Long-format sub-vector table (vec_id, m, sv: array[PqSubDim] of
    * long, sn2): a pure per-row flatMap over the cached signatures —
    * PqM rows per vector, no shuffle.
    */
  private def subVectors(sig: DataFrame): DataFrame =
    sig.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> slice(qv, m * $PqSubDim + 1, $PqSubDim))"))
      .as(Seq("m", "sv")))
      .withColumn("sn2", dot_long(col("sv"), col("sv")))

  /** Assignment step: nearest codebook centroid per (vector,
    * subspace) by squared L2, ties to the smallest code. Broadcast
    * join (≤ PqM·PqK = 128 rows) + map-side-combinable hash
    * aggregate — the corpus side never shuffles.
    */
  private def assignStep(sub: DataFrame, cent: DataFrame): DataFrame =
    sub.join(broadcast(cent), Seq("m"))
      .withColumn("dist2",
        col("sn2") - lit(2L) * dot_long(col("sv"), col("cv")) + col("cn2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist2"), col("code"))).as("mc"))
      .select(col("vec_id"), col("m"), col("mc.code").as("code"))

  /** Codebook update: per-dimension floor-mean of the assigned
    * sub-vectors — posexplode → hash aggregate on (m, code, pos)
    * (≤ PqM·PqK·PqSubDim = 1024 groups, map-side combinable) → one
    * small re-assembly.
    */
  private def updateStep(sub: DataFrame, assigned: DataFrame): DataFrame =
    assigned.join(
        sub.select(col("vec_id"), col("m"),
          posexplode(col("sv")).as(Seq("pos0", "x"))),
        Seq("vec_id", "m"))
      .groupBy(col("m"), col("code"), col("pos0"))
      .agg(floor(sum(col("x")) / count(lit(1))).cast("long").as("v"))
      .groupBy(col("m"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(pos0, v))), p -> p.v)")
        .as("cv"))
      .withColumn("cn2", dot_long(col("cv"), col("cv")))

  /** Deterministic init: the PqK smallest vec_ids' sub-vectors, code =
    * rank among them, per subspace. The rank is assigned on the DRIVER
    * over PqK collected rows (a constant — the same bounded driver
    * step as [[ClusterOps]]' init), not via a global window.
    */
  private def initCodebook(sig: DataFrame): DataFrame = {
    val s = sig.sparkSession
    val rows = sig.orderBy(col("vec_id")).limit(PqK)
      .select(col("vec_id"), col("qv"))
      .collect()
    val data = rows.sortBy(_.getLong(0)).zipWithIndex.flatMap { case (r, i) =>
      val qv = r.getSeq[Long](1)
      (0 until PqM).map { m =>
        val cv = qv.slice(m * PqSubDim, (m + 1) * PqSubDim)
        Row(m, i.toLong, cv, cv.map(x => x * x).sum)
      }
    }.toSeq
    val schema = StructType(Seq(
      StructField("m", IntegerType),
      StructField("code", LongType),
      StructField("cv", ArrayType(LongType)),
      StructField("cn2", LongType)))
    s.createDataFrame(s.sparkContext.parallelize(data, 1), schema)
  }

  /** Converged per-subspace codebooks, memoized per (session, dir)
    * like [[ClusterOps]]' centroids: the Lloyd rounds' materialized
    * fixpoints defeat plan-equality caching, and all five PQ gates
    * consume the same model — at warehouse scale this is the
    * write-once codebook artifact every encoder and searcher loads.
    */
  private val cbMemo = new graft.functions.DataFrameMemo

  /** The encoded corpus (vec_id, m, code), memoized + cached: the
    * compressed store the ADC scan reads (4 bits per code; the
    * full-precision vectors are touched only by the final rerank).
    */
  private val codesMemo = new graft.functions.DataFrameMemo

  /** Release memoized codebooks and code tables — all entries of
    * `session`, or every entry when called with None (the
    * [[DedupOps.clearClusterLabels]] lifecycle contract). Cached
    * blocks are unpersisted; checkpoint files follow the
    * [[graft.functions.Materialize]] retention contract.
    */
  def clearPqModel(session: Option[SparkSession] = None): Unit = {
    codesMemo.clear(session)
    cbMemo.clear(session)
  }

  /** Train the codebook over an arbitrary signature frame (vec_id,
    * qv) — [[PqIters]] Lloyd rounds from the deterministic seed set.
    * Takes however many seeds exist when the corpus is smaller than
    * [[PqK]] (codes stay a prefix of [0, n)). Exposed at sig level so
    * tests can drive tiny/degenerate corpora.
    */
  private[graft] def buildCodebook(sig: DataFrame): DataFrame = {
    val sub = subVectors(sig)
    var c = Materialize.stable(initCodebook(sig))
    for (_ <- 1 until PqIters) {
      val a = assignStep(sub, c)
      c = Materialize.stable(updateStep(sub, a))
    }
    c
  }

  /** Encode an arbitrary signature frame against a codebook —
    * (vec_id, m, code). */
  private[graft] def encode(sig: DataFrame, cb: DataFrame): DataFrame =
    assignStep(subVectors(sig), cb)

  private[operators] def codebook(s: SparkSession, dir: String): DataFrame =
    cbMemo.getOrBuild(s, dir) {
      buildCodebook(SimilarityOps.signatures(s, dir))
    }

  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame =
    codesMemo.getOrBuild(s, dir) {
      encode(SimilarityOps.signatures(s, dir), codebook(s, dir)).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** ADC scan: (qid, vid, score). The per-query LUT (q-subvector ·
    * centroid, exact longs) broadcasts against the codes table; a
    * candidate's approximate dot is one hash aggregate over its PqM
    * looked-up entries. Score divides by the candidate's EXACT stored
    * norm (the IVFADC-with-stored-norms variant): the query-side norm
    * is constant per qid, so candidate-norm division alone preserves
    * each query's ranking; zero-norm candidates score 0 (ANSI guard,
    * both engines).
    */
  private def adcScored(s: SparkSession, dir: String,
      restrict: Option[DataFrame] = None): DataFrame = {
    val sig = SimilarityOps.signatures(s, dir)
    val lut = subVectors(sig).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("sv"))
      .join(broadcast(codebook(s, dir)), Seq("m"))
      .select(col("qid"), col("m"), col("code"),
        dot_long(col("sv"), col("cv")).as("d"))
    val looked = restrict match {
      // full scan: every (candidate, query) pair goes through the LUT
      case None => pqCodes(s, dir).join(broadcast(lut), Seq("m", "code"))
      // inverted-list scan: only (qid, vec_id) pairs the coarse index
      // admits are looked up — the IVFADC shape
      case Some(cand) => cand.join(pqCodes(s, dir), Seq("vec_id"))
        .join(broadcast(lut), Seq("qid", "m", "code"))
    }
    looked
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d")).as("adot"))
      .join(sig.select(col("vec_id"), col("norm2")), Seq("vec_id"))
      .withColumn("score",
        when(col("norm2") === 0, lit(0.0))
          .otherwise(col("adot").cast("double") /
            sqrt(col("norm2").cast("double"))))
      .select(col("qid"), col("vec_id").as("vid"), col("score"))
  }

  /** ADC coarse top-[[PqCand]] per query (custom top-k plan, no
    * window), exact full-precision cosine rerank over only those.
    * Rows unsorted, like [[SimilarityOps.rankTop5]]'s.
    */
  private def rerankExact(s: SparkSession, dir: String,
      scored: DataFrame): DataFrame = {
    val sig = SimilarityOps.signatures(s, dir)
    val coarse = TopKPerKey.topK(scored,
        Seq("qid"), Seq("score" -> true, "vid" -> false), PqCand)
      .select(col("qid"), col("vid"))
    SimilarityOps.rankTop5(coarse
      .join(sig.select(col("vec_id").as("qid"), col("qv").as("qa"),
        col("norm2").as("q_norm2")), Seq("qid"))
      .join(sig.select(col("vec_id").as("vid"), col("qv").as("qb"),
        col("norm2").as("c_norm2")), Seq("vid"))
      .withColumn("dot", dot_long(col("qa"), col("qb")))
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(c_norm2 AS DOUBLE)))")))
  }

  private def pqRerank(s: SparkSession, dir: String): DataFrame =
    rerankExact(s, dir, adcScored(s, dir))

  /** IVF-PQ (the IVFADC of Jégou et al. 2011): the coarse cell index
    * picks the probed cells per query ([[SimilarityOps.cellProbes]] —
    * the same probe selection the sim_ivf_probe gate runs), and only
    * vectors in those cells are ADC-scored from their codes. The
    * production composition: at 100 TB the cell id is the partition
    * key, a query touches nprobe partitions, and each partition scan
    * reads 4-byte codes instead of vectors.
    */
  private def ivfpqRerank(s: SparkSession, dir: String): DataFrame = {
    val sig = SimilarityOps.signatures(s, dir)
    val cand = SimilarityOps.cellProbes(s, dir)
      .join(sig.select(col("vec_id"), col("label")), Seq("label"))
      .select(col("qid"), col("vec_id"))
    rerankExact(s, dir, adcScored(s, dir, Some(cand)))
  }

  // ---- oracle SQL (generated to mirror the fixed round count) ----

  /** CTE chain ending in `a$PqIters` = (vec_id, m, code) — the
    * encoded corpus — plus `c$PqIters-1` = the final codebook. Expects
    * nothing; binds its own `sig`.
    */
  private def pqCtes: String = {
    def assign(c: String) =
      s"""SELECT vec_id, m, code FROM (
         |  SELECT s.vec_id, s.m, c.code,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |      ORDER BY s.sn2 - 2 * CAST(list_dot_product(s.sv, c.cv) AS BIGINT)
         |        + c.cn2, c.code) AS rnk
         |  FROM sub2 s JOIN $c c ON c.m = s.m) t
         |WHERE rnk = 1""".stripMargin
    def update(a: String) =
      s"""SELECT m, code, list(v ORDER BY pos) AS cv,
         |  CAST(list_dot_product(list(v ORDER BY pos), list(v ORDER BY pos))
         |    AS BIGINT) AS cn2
         |FROM (
         |  SELECT a.m, a.code, u.pos,
         |    CAST(FLOOR(SUM(s.sv[u.pos]) / COUNT(*)) AS BIGINT) AS v
         |  FROM $a a
         |  JOIN sub2 s ON s.vec_id = a.vec_id AND s.m = a.m,
         |    UNNEST(generate_series(1, $PqSubDim)) AS u(pos)
         |  GROUP BY a.m, a.code, u.pos) d
         |GROUP BY m, code""".stripMargin
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"sig AS (${SimilarityOps.quantizedSql})",
      s"""sub2 AS (
         |  SELECT vec_id, m, sv,
         |    CAST(list_dot_product(sv, sv) AS BIGINT) AS sn2
         |  FROM (
         |    SELECT s.vec_id, u.m,
         |      list_slice(s.qv, u.m * $PqSubDim + 1, u.m * $PqSubDim + $PqSubDim) AS sv
         |    FROM sig s, UNNEST(generate_series(0, ${PqM - 1})) AS u(m)) t)""".stripMargin,
      s"""c0 AS (
         |  SELECT m, ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
         |    sv AS cv, sn2 AS cn2
         |  FROM sub2
         |  WHERE vec_id IN (SELECT vec_id FROM sig ORDER BY vec_id LIMIT $PqK))""".stripMargin)
    for (i <- 1 to PqIters) {
      ctes += s"a$i AS (${assign(s"c${i - 1}")})"
      if (i < PqIters) ctes += s"c$i AS (${update(s"a$i")})"
    }
    ctes.mkString(",\n")
  }

  private def encodeSql: String =
    s"""WITH $pqCtes
       |SELECT vec_id,
       |  CAST(SUM(code * (CAST(1 AS BIGINT) << (4 * m))) AS BIGINT) AS code_word
       |FROM a$PqIters GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Full ADC retrieve→rerank SQL (standalone WITH): `extraCtes`
    * (each trailing-comma'd) and the `adot` body vary between the
    * full-scan and the IVF-restricted searches; shared by the search
    * gates and the recall gates, which nest the whole statement. */
  private def searchSql(extraCtes: String, adotCte: String): String =
    s"""WITH $pqCtes,
       |${extraCtes}lut AS (
       |  SELECT s.vec_id AS qid, s.m, c.code,
       |    CAST(list_dot_product(s.sv, c.cv) AS BIGINT) AS d
       |  FROM sub2 s JOIN c${PqIters - 1} c ON c.m = s.m
       |  WHERE s.vec_id < 10),
       |adot AS ($adotCte),
       |coarse AS (
       |  SELECT qid, vid FROM (
       |    SELECT d.qid, d.vid,
       |      ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
       |        CASE WHEN n.norm2 = 0 THEN CAST(0 AS DOUBLE)
       |          ELSE CAST(d.adot AS DOUBLE) / sqrt(CAST(n.norm2 AS DOUBLE)) END DESC,
       |        d.vid) AS rnkc
       |    FROM adot d JOIN sig n ON n.vec_id = d.vid) t
       |  WHERE rnkc <= $PqCand)
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

  /** The full-scan ADC search (sim_pq_rerank). */
  private def rerankSql: String = searchSql("",
    s"""
       |  SELECT l.qid, a.vec_id AS vid, CAST(SUM(l.d) AS BIGINT) AS adot
       |  FROM a$PqIters a
       |  JOIN lut l ON l.m = a.m AND l.code = a.code AND l.qid <> a.vec_id
       |  GROUP BY 1, 2""".stripMargin)

  /** The IVF-restricted ADC search (sim_ivfpq_rerank): the probe-cell
    * CTE chain from [[SimilarityOps]] gates which (query, candidate)
    * pairs reach the LUT. */
  private def ivfpqRerankSql: String = searchSql(
    SimilarityOps.probeCteChain + ",\n",
    s"""
       |  SELECT l.qid, a.vec_id AS vid, CAST(SUM(l.d) AS BIGINT) AS adot
       |  FROM a$PqIters a
       |  JOIN sig sv ON sv.vec_id = a.vec_id
       |  JOIN probes p ON p.label = sv.label
       |  JOIN lut l ON l.qid = p.qid AND l.m = a.m AND l.code = a.code
       |    AND l.qid <> a.vec_id
       |  GROUP BY 1, 2""".stripMargin)

  def specs: Seq[QuerySpec] = Seq(
    // The encoded corpus as one packed 32-bit word per vector (code m
    // in bits [4m, 4m+4)) — proves the whole training + encode
    // pipeline bit-for-bit, the emb_quantize_int8 digest discipline.
    QuerySpec.sql("emb_pq_encode", encodeSql) { (s, dir) =>
      pqCodes(s, dir)
        .groupBy(col("vec_id"))
        .agg(sum(col("code") *
            expr("shiftleft(CAST(1 AS BIGINT), CAST(m * 4 AS INT))"))
          .cast("long").as("code_word"))
        .orderBy(col("vec_id"))
    },

    // Quantization DISTORTION — the other axis of the ANN quality
    // plane beside recall: per subspace, the exact-integer squared
    // reconstruction error of the trained codebook over the whole
    // corpus (err² = ‖sv‖² − 2⟨sv, cv⟩ + ‖cv‖², all longs). A capacity
    // plan reads recall (sim_pq_recall) against THIS number to decide
    // PqK/PqM; a training regression that collapsed a codebook would
    // flip the sse here before it shows up as recall noise. One
    // broadcast join (128 codebook rows) + one map-side-combinable
    // aggregate per subspace.
    QuerySpec.sql(
      "emb_pq_distortion",
      s"""WITH $pqCtes
         |SELECT a.m, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(s.sn2
         |      - 2 * CAST(list_dot_product(s.sv, c.cv) AS BIGINT)
         |      + c.cn2) AS BIGINT) AS sse,
         |  CAST(SUM(s.sn2
         |      - 2 * CAST(list_dot_product(s.sv, c.cv) AS BIGINT)
         |      + c.cn2) // COUNT(*) AS BIGINT) AS mse_floor
         |FROM a$PqIters a
         |JOIN sub2 s ON s.vec_id = a.vec_id AND s.m = a.m
         |JOIN c${PqIters - 1} c ON c.m = a.m AND c.code = a.code
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val sub = subVectors(SimilarityOps.signatures(s, dir))
      val cb = codebook(s, dir)
        .select(col("m"), col("code"), col("cv"), col("cn2"))
      pqCodes(s, dir)
        .join(sub, Seq("vec_id", "m"))
        .join(broadcast(cb), Seq("m", "code"))
        .withColumn("err2", col("sn2") -
          lit(2L) * dot_long(col("sv"), col("cv")) + col("cn2"))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("err2")).cast("long").as("sse"),
          expr("CAST(SUM(err2) div COUNT(*) AS BIGINT)").as("mse_floor"))
        .orderBy(col("m"))
    },

    // ADC retrieve→rerank: table-lookup scan over the 32-bit codes,
    // exact cosine over the surviving PqCand only.
    QuerySpec.sql("sim_pq_rerank", rerankSql) { (s, dir) =>
      pqRerank(s, dir)
        .orderBy(col("qid"), col("rnk"))
    },

    // Recall@5 of the PQ search vs brute force, self-measured in-plan
    // — the sim_ivf_recall / sim_lsh_recall / sim_rp_recall
    // discipline applied to the fourth index family.
    QuerySpec.sql(
      "sim_pq_recall",
      s"""WITH brute AS (${SimilarityOps.topkSql("")}),
         |pq AS ($rerankSql)
         |SELECT b.qid,
         |  CAST(SUM(CASE WHEN p.vid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall
         |FROM brute b
         |LEFT JOIN pq p ON b.qid = p.qid AND b.vid = p.vid
         |GROUP BY b.qid
         |ORDER BY b.qid""".stripMargin) { (s, dir) =>
      val brute = SimilarityOps.topk(s, dir, sameCell = false)
        .select(col("qid"), col("vid"))
      val pq = pqRerank(s, dir)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      brute.join(pq, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(5.0))
          .as("recall"))
        .orderBy(col("qid"))
    },

    // IVF-PQ: the full IVFADC composition — coarse cells bound WHERE
    // the search looks, PQ codes bound WHAT each look costs. At scale
    // a query reads nprobe partitions of 4-byte codes; here both
    // halves are the already-gated operators composed in one plan.
    QuerySpec.sql("sim_ivfpq_rerank", ivfpqRerankSql) { (s, dir) =>
      ivfpqRerank(s, dir)
        .orderBy(col("qid"), col("rnk"))
    },

    // Recall@5 of the composed index vs brute force: measures the
    // PRODUCT of the cell-selection miss rate (sim_ivf_recall) and
    // the code-approximation miss rate (sim_pq_recall) — the number a
    // capacity plan for the composed index actually needs.
    QuerySpec.sql(
      "sim_ivfpq_recall",
      s"""WITH brute AS (${SimilarityOps.topkSql("")}),
         |ivfpq AS ($ivfpqRerankSql)
         |SELECT b.qid,
         |  CAST(SUM(CASE WHEN p.vid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall
         |FROM brute b
         |LEFT JOIN ivfpq p ON b.qid = p.qid AND b.vid = p.vid
         |GROUP BY b.qid
         |ORDER BY b.qid""".stripMargin) { (s, dir) =>
      val brute = SimilarityOps.topk(s, dir, sameCell = false)
        .select(col("qid"), col("vid"))
      val ivfpq = ivfpqRerank(s, dir)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      brute.join(ivfpq, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(5.0))
          .as("recall"))
        .orderBy(col("qid"))
    })
}
