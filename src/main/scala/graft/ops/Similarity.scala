package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Q
import graft.functions.GraftFunctions
import graft.model.Tables

/** Approximate-nearest-neighbour search over the `embeddings` table
  * (north-star requirement; ref: absent).
  *
  *  - `s01` brute-force top-k: the exact baseline. Query side is tiny and
  *    broadcast; the corpus streams through the codegen'd
  *    [[graft.functions.CosineSimilarity]] expression; ranking is
  *    TakeOrdered-per-query via a window. Cost O(|Q|·|corpus|·dims) —
  *    correct at any scale if |Q| is small, and embarrassingly parallel.
  *  - `s02` random-hyperplane LSH: the scale path. Each vector maps to a
  *    sign-bit bucket of `P` fixed hyperplanes (one map pass), candidate
  *    generation is an equi-join on bucket — linear shuffle instead of a
  *    cross join. Hyperplanes are literal constants generated from a
  *    fixed LCG so the DuckDB oracle evaluates the identical planes.
  */
object Similarity {

  /** P deterministic pseudo-random hyperplanes over 64 dims, components
    * in [-1, 1), from a fixed 48-bit LCG (java.util.Random constants).
    * Literal doubles round-trip exactly through decimal strings in both
    * engines, so the bucket computation is bit-identical. */
  val P = 6
  val Dims = 64
  val planes: Seq[Seq[Double]] = {
    var s = 42L
    def next(): Double = {
      s = (s * 0x5deece66dL + 0xbL) & ((1L << 48) - 1)
      (s.toDouble / (1L << 48).toDouble) * 2.0 - 1.0
    }
    Seq.fill(P)(Seq.fill(Dims)(next()))
  }

  private def planeSqlArray(p: Int): String =
    "[" + planes(p).map(_.toString).mkString(", ") + "]"

  /** dot(plane_p, embedding) in strictly ascending index order — Spark. */
  private def planeDotSpark(p: Int): String = {
    val arr = "array(" + planes(p).map(v => s"${v}D").mkString(", ") + ")"
    s"aggregate(zip_with($arr, embedding, (p, q) -> p * CAST(q AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
  }

  /** Same dot in DuckDB. */
  private def planeDotSql(p: Int): String =
    s"list_sum(list_transform(generate_series(1, $Dims), k -> (${planeSqlArray(p)})[k] * CAST(embedding[k] AS DOUBLE)))"

  private def bucketSpark: String =
    (0 until P).map(p => s"CASE WHEN ${planeDotSpark(p)} > 0 THEN ${1 << p} ELSE 0 END")
      .mkString(" + ")
  private def bucketSql: String =
    (0 until P).map(p => s"CASE WHEN ${planeDotSql(p)} > 0 THEN ${1 << p} ELSE 0 END")
      .mkString(" + ")

  /** Cosine in DuckDB matching [[graft.functions.CosineSimilarity]]'s
    * accumulation order (ascending index, double precision). */
  private[ops] def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, $Dims), k -> CAST($x.embedding[k] AS DOUBLE) * CAST($y.embedding[k] AS DOUBLE)))"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  // ---------------------------------------------------------------- s01
  /** Exact top-5 neighbours for 10 query vectors, brute force. */
  val s01 = Q("s01_topk_cosine",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id, embedding FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         ${cosSql("q", "e")} AS cos
       |  FROM q JOIN e ON e.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    // O(Q·n) brute-force validation twin of s02/s03 — bounded at bench
    // time by the same deterministic cap as Dedup's quadratic twins.
    val e = Dedup.validationCap(s, Tables.embeddings(s, d), "vec_id",
      "spark.graft.validation.cap.vecs").select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("embedding", "q_embedding")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s02
  /** LSH-bucketed top-3 within-bucket neighbours for every vector: the
    * linear-cost approximate variant. One projection pass computes the
    * sign-bit bucket; candidates come from an equi-join on bucket. */
  val s02 = Q("s02_lsh_topk",
    s"""WITH b AS (
       |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |pairs AS (
       |  SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id,
       |         ${cosSql("x", "y")} AS cos
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val b = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), expr(bucketSpark).as("bucket"))
    val x = b.as("x")
    val y = b.as("y")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    x.join(y, col("x.bucket") === col("y.bucket") &&
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("query_id"), col("y.vec_id").as("neighbor_id"),
        expr("cosine_sim(x.embedding, y.embedding)").as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** The first-C-vectors centroid table shared by s03/s05 (what a
    * k-means|| init samples; Lloyd iterations — s05 — replace only its
    * CONTENTS, never this dataflow). */
  private def centroidTable(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("c_embedding"))

  /** Nearest-centroid assignment (broadcast pass + 16-row-per-key
    * argmax), shared by s03's probe path and s05's Lloyd step. */
  private def assignToCentroids(e: DataFrame, c: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("cid"))
    e.join(broadcast(c))
      .select(col("vec_id"), col("cid"),
        expr("cosine_sim(embedding, c_embedding)").as("cos"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select("vec_id", "cid")
  }

  // ---------------------------------------------------------------- s03
  /** IVF-style ANN — the coarse-quantiser upgrade SCALE.md names for
    * s02: vectors are assigned to their nearest of C=16 centroid lists
    * (one broadcast pass + a 16-row-per-key argmax), queries probe their
    * P=4 nearest lists, candidates come from an equi-join on list id,
    * and the exact codegen'd cosine re-ranks only candidates.
    *
    * Centroids here are the first C corpus vectors (deterministic — what
    * a k-means|| init samples; production would run Lloyd iterations,
    * changing only the centroid table's contents, not this dataflow).
    * Candidate cost ≈ P·n/C per query — C grows with the corpus
    * (C ≈ √n) so probing stays sublinear; the assignment pass is one
    * broadcast join. Every arithmetic step is the bit-identical cosine
    * the other s-queries use → fully oracled, including the probe and
    * re-rank rankings. */
  val s03 = Q("s03_ivf_topk",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |    FROM e, c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 10),
       |probed AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${cosSql("q", "c")} DESC, c.cid) AS prn
       |    FROM q, c)
       |  WHERE prn <= 4),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, ${cosSql("q", "e")} AS cos
       |  FROM probed p
       |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN e ON e.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val c = centroidTable(e)
    val assign = assignToCentroids(e, c)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cid"))
    val probed = q.join(broadcast(c))
      .select(col("query_id"), col("q_embedding"), col("cid"),
        expr("cosine_sim(q_embedding, c_embedding)").as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 4)
      .select("query_id", "q_embedding", "cid")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(e, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s04
  /** Squared-L2 between the m-th 8-dim subvectors of `$a` and `$b`
    * (Spark SQL form): ascending-index zip_with fold in double — the
    * bit-identical accumulation the DuckDB oracle recomputes. The
    * (CAST−CAST)·(CAST−CAST) shape deliberately does NOT match
    * [[graft.plans.RewriteDotProducts]]'s dot-product pattern. */
  private def subD2Spark(a: String, b: String): String =
    s"""aggregate(zip_with(slice($a, m*8+1, 8), slice($b, m*8+1, 8),
       |  (p, q) -> (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))
       |          * (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))),
       |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin

  /** Same value in DuckDB (1-based indices, list_sum ascending). */
  private def subD2Sql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, 8),
       |  k -> (CAST($a.embedding[m*8+k] AS DOUBLE) - CAST($b.embedding[m*8+k] AS DOUBLE))
       |     * (CAST($a.embedding[m*8+k] AS DOUBLE) - CAST($b.embedding[m*8+k] AS DOUBLE))))""".stripMargin

  /** Product-quantisation ANN — the memory-compression tier a 100 TB
    * vector corpus runs (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): each 64-dim vector is encoded as M=8
    * one-byte codes (argmin sub-centroid per 8-dim subspace, K=16
    * codebook entries from the first-16 vectors' slices — the same
    * deterministic data-derived codebook scheme as s03's centroids), so
    * the resident index is 8 bytes/vector instead of 256. Queries score
    * by asymmetric distance (ADC): per-subspace squared-L2 from the
    * query to each codebook entry (a 128-row broadcast lookup), summed
    * over the M codes; the PQ shortlist (top-50 by ADC) is then
    * re-ranked by the exact codegen'd cosine — the shortlist+rerank
    * split production PQ uses.
    *
    * Scale shape: encoding is one map pass over a broadcast codebook
    * (128 rows); ADC is an equi-join of the 8-rows-per-vector code
    * table against a 1280-row broadcast query-distance table, one
    * map-side-combinable sum — never a vector×vector join. Subspace
    * distances are bit-identical doubles in both engines (ascending
    * fold) and are summed as DECIMAL(24,12) so the 8-way ADC sum is
    * exact and associative — the groupBy order can't wobble a rank. */
  val s04 = Q("s04_pq_topk",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding FROM e WHERE vec_id < 16),
       |ms AS (SELECT unnest(range(8)) AS m),
       |codes AS (
       |  SELECT vec_id, m, cid AS code FROM (
       |    SELECT e.vec_id, ms.m, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id, ms.m
       |                              ORDER BY ${subD2Sql("e", "c")} ASC, c.cid) AS rn
       |    FROM e CROSS JOIN ms CROSS JOIN c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 10),
       |qd AS (
       |  SELECT q.query_id, ms.m, c.cid,
       |         CAST(${subD2Sql("q", "c")} AS DECIMAL(24,12)) AS d2
       |  FROM q CROSS JOIN ms CROSS JOIN c),
       |adc AS (
       |  SELECT qd.query_id, codes.vec_id, sum(qd.d2) AS dist
       |  FROM codes JOIN qd ON qd.m = codes.m AND qd.cid = codes.code
       |  WHERE codes.vec_id <> qd.query_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY dist ASC, vec_id) AS srn
       |    FROM adc)
       |  WHERE srn <= 50),
       |scored AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id, ${cosSql("q", "e")} AS cos
       |  FROM short s
       |  JOIN q ON q.query_id = s.query_id
       |  JOIN e ON e.vec_id = s.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    // №27: the ×8 subvector explode and 128 subD2 evals per vector ride
    // the single embeddings split — spread to session width first.
    val e = graft.ops.Width.spread(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    val c = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("c_embedding"))
    val withM = e.select(col("vec_id"), col("embedding"),
      explode(sequence(lit(0), lit(7))).as("m"))
    val wCode = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2").asc, col("cid"))
    val codes = withM.join(broadcast(c))
      .select(col("vec_id"), col("m"), col("cid"),
        expr(subD2Spark("embedding", "c_embedding")).as("d2"))
      .withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid").as("code"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val qd = q.select(col("query_id"), col("q_embedding"),
        explode(sequence(lit(0), lit(7))).as("m"))
      .join(broadcast(c))
      .select(col("query_id"), col("m"), col("cid"),
        expr(subD2Spark("q_embedding", "c_embedding"))
          .cast("decimal(24,12)").as("d2"))
    val adc = codes.join(broadcast(qd),
        qd("m") === codes("m") && qd("cid") === codes("code") &&
          qd("query_id") =!= codes("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2")).as("dist"))
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("vec_id"))
    val short = adc.withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= 50)
      .select("query_id", "vec_id")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    short.join(q, "query_id")
      .join(e, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s05
  /** One Lloyd iteration of k-means over the embedding corpus — the
    * centroid-refinement step s03's docstring promises ("production IVF
    * would Lloyd-iterate the centroid table"), implemented and oracled:
    * assign every vector to its nearest centroid (the SAME broadcast
    * argmax s03 uses), then recompute each centroid as the element-wise
    * mean of its members. Emitted in long form (cid, pos, c_mean) —
    * 16 × 64 rows — the shape the next iteration's centroid table
    * pivots from.
    *
    * Exactness: elements are quantised to a 1e-7 grid as BIGINT
    * (round(v·1e7)) before summing — integer sums are exact and
    * order-free at any parallelism, which is the property a Lloyd step
    * on 10⁹-member clusters needs (an ordered-fold double sum would
    * need a per-cluster collect). Decimal casts were tried and FAIL
    * cross-engine: DuckDB converts FLOAT/DOUBLE→DECIMAL from the
    * value's shortest decimal string while Spark rounds via
    * BigDecimal.valueOf — ≈1e-9 divergences the gate caught. The
    * round() itself is safe: both engines round half away from zero,
    * and a product can only land exactly on .5 when both see the same
    * representable double; the final two divisions are performed in
    * the same order on the same operands. Scale
    * shape: one broadcast assignment pass + one shuffle on (cid, pos) —
    * Lloyd at 100 TB is exactly this plan per iteration. */
  val s05 = Q("s05_kmeans_step",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |    FROM e, c)
       |  WHERE rn = 1)
       |SELECT a.cid, CAST(k - 1 AS BIGINT) AS pos,
       |  CAST(sum(CAST(round(CAST(e.embedding[k] AS DOUBLE) * 10000000) AS BIGINT)) AS DOUBLE)
       |    / 10000000.0 / count(*) AS c_mean
       |FROM assign a
       |JOIN e ON e.vec_id = a.vec_id
       |CROSS JOIN (SELECT unnest(range(1, 65)) AS k)
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val assign = assignToCentroids(e, centroidTable(e))
    e.join(assign, "vec_id")
      .select(col("cid"), posexplode(col("embedding")))
      .toDF("cid", "pos", "v")
      .groupBy("cid", "pos")
      .agg((sum(round(col("v").cast("double") * 10000000).cast("long"))
        .cast("double") / lit(10000000.0) / count(lit(1))).as("c_mean"))
      .select(col("cid"), col("pos").cast("long").as("pos"), col("c_mean"))
      .orderBy("cid", "pos")
  }

  // ---------------------------------------------------------------- s06
  /** Corpus in double precision: float→double widening is exact in both
    * engines, so every later product/sum matches the oracle bit-for-bit
    * (a double→float narrowing would NOT be — see s05's decimal note). */
  private[graft] def doubleVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))

  /** Nearest-centroid assignment over double vectors — the
    * [[assignToCentroids]] dataflow with the double-element codegen
    * expression; also emits the winning cosine (the spherical-k-means
    * objective the convergence spec tracks). */
  private[graft] def assignD(e: DataFrame, c: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
    e.join(broadcast(c))
      .select(col("vec_id"), col("cid"),
        expr("cosine_sim_d(embedding, c_embedding)").as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "cid", "cos")
  }

  /** s05's exact quantised-mean step in long form (cid, pos, c_mean):
    * integer sums on the 1e-7 grid — order-free at any parallelism. */
  private[graft] def lloydMeansLong(e: DataFrame, assign: DataFrame): DataFrame =
    e.join(assign.select("vec_id", "cid"), "vec_id")
      .select(col("cid"), posexplode(col("embedding")))
      .toDF("cid", "pos", "v")
      .groupBy("cid", "pos")
      .agg((sum(round(col("v") * 10000000).cast("long"))
        .cast("double") / lit(10000000.0) / count(lit(1))).as("c_mean"))

  /** Long-form means → centroid table for the next round (deterministic
    * pivot: struct sort on the unique pos key). */
  private[graft] def pivotCentroids(meansLong: DataFrame): DataFrame =
    meansLong.groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("c_mean")))).as("ps"))
      .select(col("cid"), expr("transform(ps, x -> x.c_mean)").as("c_embedding"))

  /** Iterated Lloyd k-means — the multi-round driver s05's docstring
    * promises, with a d08-style loud fixpoint: per round, one broadcast
    * assignment pass + one (cid, pos) shuffle for the means; convergence
    * is detected by an order-free assignment checksum
    * (count + bit_xor(xxhash64)) — if no vector changed cluster, the
    * means are definitionally unchanged, so the loop stops WITHOUT
    * recomputing them. Returns (final-round means in long form, rounds
    * executed, converged-before-budget). Clusters that lose every member
    * drop out (standard Lloyd; k can only shrink). `localCheckpoint`
    * truncates the per-round lineage exactly as d08/d10 do — at cluster
    * scale this is persist-per-round, same dataflow. */
  def kmeansLloyd(e0: DataFrame, maxIters: Int, k: Int = 16)
      : (DataFrame, Int, Boolean) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    GraftFunctions.register(e0.sparkSession)
    val e = doubleVecs(e0).localCheckpoint()
    var c = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("c_embedding"))
    var means: DataFrame = null
    var prevSig: Option[(Long, Long)] = None
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val assign = assignD(e, c).localCheckpoint()
      val chk = assign.agg(count(lit(1)).cast("long"),
        coalesce(expr("bit_xor(xxhash64(vec_id, cid))"), lit(0L))).head()
      val sig = (chk.getLong(0), chk.getLong(1))
      if (prevSig.contains(sig)) converged = true
      else {
        prevSig = Some(sig)
        means = lloydMeansLong(e, assign).localCheckpoint()
        c = pivotCentroids(means)
        it += 1
      }
    }
    (means, it, converged)
  }

  /** s06's two-round assign→mean→assign→mean CTE chain ending at `m2`
    * (round-2 means in long form) — shared with [[s07]]'s retrained-IVF
    * oracle so the iteration definition cannot drift. */
  private[ops] val lloyd2Ctes: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, embedding FROM e WHERE vec_id < 16),
       |a1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |    FROM e, c0 c)
       |  WHERE rn = 1),
       |m1 AS (
       |  SELECT a.cid, k - 1 AS pos,
       |    CAST(sum(CAST(round(CAST(e.embedding[k] AS DOUBLE) * 10000000) AS BIGINT)) AS DOUBLE)
       |      / 10000000.0 / count(*) AS c_mean
       |  FROM a1 a JOIN e ON e.vec_id = a.vec_id
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS k)
       |  GROUP BY 1, 2),
       |c1 AS (
       |  SELECT cid, list(c_mean ORDER BY pos) AS embedding
       |  FROM m1 GROUP BY cid),
       |a2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |    FROM e, c1 c)
       |  WHERE rn = 1),
       |m2 AS (
       |  SELECT a.cid, k - 1 AS pos,
       |    CAST(sum(CAST(round(CAST(e.embedding[k] AS DOUBLE) * 10000000) AS BIGINT)) AS DOUBLE)
       |      / 10000000.0 / count(*) AS c_mean
       |  FROM a2 a JOIN e ON e.vec_id = a.vec_id
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS k)
       |  GROUP BY 1, 2)""".stripMargin

  /** Two full Lloyd rounds over the embedding corpus, fully oracled the
    * way d08 oracles the whole closure: DuckDB chains assign→mean→
    * assign→mean CTEs — the round-2 assignment runs against the
    * round-1 DOUBLE means (bit-identical in both engines via the
    * quantised-integer mean), so the ITERATION, not just one step, is
    * cross-engine checked. */
  val s06 = Q("s06_kmeans_lloyd",
    s"""WITH $lloyd2Ctes
       |SELECT cid, CAST(pos AS BIGINT) AS pos, c_mean
       |FROM m2 ORDER BY cid, pos""".stripMargin) { (s, d) =>
    val (means, _, _) = kmeansLloyd(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      maxIters = 2)
    means.select(col("cid"), col("pos").cast("long").as("pos"), col("c_mean"))
      .orderBy("cid", "pos")
  }

  /** Trained-centroid table (`c2`) + final assignment (`assign2`) over
    * [[lloyd2Ctes]]'s round-2 means — shared by [[s07]] (IVF retrieval)
    * and [[Dedup.d13]] (SemDeDup within-cluster pruning) so the
    * trained-assignment definition cannot drift between them. */
  private[ops] val retrainedAssignCtes: String =
    s"""c2 AS (
       |  SELECT cid, list(c_mean ORDER BY pos) AS embedding
       |  FROM m2 GROUP BY cid),
       |assign2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |    FROM e, c2 c)
       |  WHERE rn = 1)""".stripMargin

  // ---------------------------------------------------------------- s07
  /** IVF retrieval over RETRAINED centroids — the capstone s03's
    * docstring promises ("production would run Lloyd iterations,
    * changing only the centroid table's contents, not this dataflow"):
    * [[kmeansLloyd]] trains the centroid table for two rounds, then the
    * SAME IVF probe shape as s03 runs against it — assignment, P=4
    * probe, exact re-rank, all in the double-precision cosine so the
    * trained DOUBLE centroids stay bit-identical cross-engine. The
    * oracle chains s06's shared two-round CTEs into s03's probe CTEs:
    * training AND retrieval are one cross-engine-checked statement. */
  val s07 = Q("s07_ivf_retrained",
    s"""WITH $lloyd2Ctes,
       |$retrainedAssignCtes,
       |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 10),
       |probed AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${cosSql("q", "c")} DESC, c.cid) AS prn
       |    FROM q, c2 c)
       |  WHERE prn <= 4),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, ${cosSql("q", "e")} AS cos
       |  FROM probed p
       |  JOIN assign2 a ON a.cid = p.cid AND a.vec_id <> p.query_id
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN e ON e.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (means, _, _) = kmeansLloyd(e0, maxIters = 2)
    val c = pivotCentroids(means).localCheckpoint()
    val e = doubleVecs(e0).localCheckpoint()
    val assign = assignD(e, c).select("vec_id", "cid")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cid"))
    val probed = q.join(broadcast(c))
      .select(col("query_id"), col("q_embedding"), col("cid"),
        expr("cosine_sim_d(q_embedding, c_embedding)").as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 4)
      .select("query_id", "q_embedding", "cid")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(e, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim_d(q_embedding, embedding)").as("cos"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s08
  /** kNN-GRAPH join — every vector's top-3 neighbours, not a query
    * set's (s01/s03 answer "top-k for these queries"; SemDeDup-style
    * clustering, graph-based ANN indexes, and label-propagation over
    * embeddings all start from the all-vectors kNN graph instead). The
    * all-pairs formulation is O(n²) at any scale, so the graph runs
    * s03's probe contract with EVERY vector as a query: one broadcast
    * assignment pass hard-assigns the corpus (s03's shared machinery),
    * every vector probes its P=4 closest cells, and candidates are the
    * hard members of probed cells — per-vector cost P·n/C, total
    * P·n²/C, sub-quadratic with the C ≈ √n centroid rule. Each (x, y)
    * pair arises at most once (y's hard cell is unique), so no dedup
    * stage. The per-vector top-k window keys on vec_id. Neighbours
    * outside the probed cells are missed by design — `SimilaritySpec`
    * quantifies recall vs the true all-pairs graph (s03's trade-off
    * made explicit for the graph case). Fully oracled: the DuckDB
    * oracle replays assignment, probing, and ranking with the
    * bit-identical cosine. */
  /** s08's full kNN-graph CTE chain ending in `ranked(vec_id,
    * neighbor_id, rank)` — shared with [[s17]]'s traversal so the
    * searched graph can never drift from the s08 artifact (the p18/p19
    * zero-drift splicing rule). The two n×C / probe CTEs carry DuckDB
    * `MATERIALIZED` hints: s17 references the chain from every hop,
    * and un-materialized CTE inlining re-evaluates the heavy cosine
    * pass once per reference. */
  private def knnGraphCtesSql: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding FROM e WHERE vec_id < 16),
       |cellrank AS MATERIALIZED (
       |  SELECT e.vec_id, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |  FROM e, c),
       |assign AS (SELECT vec_id, cid FROM cellrank WHERE rn = 1),
       |probes AS (SELECT vec_id, cid FROM cellrank WHERE rn <= 4),
       |pairs AS MATERIALIZED (
       |  SELECT p.vec_id, a.vec_id AS neighbor_id, ${cosSql("x", "y")} AS cos
       |  FROM probes p
       |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id
       |  JOIN e x ON x.vec_id = p.vec_id
       |  JOIN e y ON y.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT vec_id, neighbor_id,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs)""".stripMargin

  val s08 = Q("s08_knn_graph",
    s"""WITH $knnGraphCtesSql
       |SELECT vec_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    knnGraphEdges(s, e).orderBy("vec_id", "rank")
  }

  /** s08's dataflow, unsorted — (vec_id, neighbor_id, rank ≤ 3);
    * shared by [[s08]] and [[s17]].
    *
    * The probe INPUT is explicitly repartitioned before the candidate
    * join (the №20 v2 rule, caught for this op by round 14's first
    * complete full-catalog 16× pass): the candidate join broadcasts
    * the assignment, so its output stage — probes·n/C ≈ 2.6×10⁸
    * cosine evaluations PLUS the rank sort — inherits the probe side's
    * split count, and the embeddings-derived probe list is one compact
    * split at 16× (measured: 266 s wall, 254 s of CPU on ONE task
    * while 31 cores idled). Widening the INPUT costs one shuffle of
    * 4·n skinny probe rows; the join, both embedding lookups, the
    * cosine and the rank window (whose vec_id clustering the
    * exchange's hashpartitioning already satisfies) then all fuse into
    * one full-width stage — a v1 of this fix exchanged the join OUTPUT
    * instead and merely moved the serialisation to the single-task
    * shuffle write of the 2.6×10⁸ candidate rows. */
  private[graft] def knnGraphEdges(s: SparkSession,
      e: DataFrame): DataFrame = {
    val c = centroidTable(e)
    val np = s.conf.get("spark.sql.shuffle.partitions").toInt
    // ONE broadcast cosine pass + ranking window serves both roles:
    // assign = rn 1, probes = rn <= 4 (review finding: the earlier form
    // ran the n×C pass twice via assignToCentroids + a probe rebuild)
    val wProbe = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("cid"))
    // №25: the checkpoint is forced to np partitions BEFORE it
    // materialises. The cellrank job's own window exchange is
    // ENSURE_REQUIREMENTS, so AQE coalesces the ~20 MB of skinny rows
    // to ONE partition — and a 1-partition checkpoint RDD poisons
    // every DOWNSTREAM width: when AQE runtime-converts the candidate
    // SMJ to a broadcast join (the member side is small), it swaps the
    // probe-side shuffle READ for a LOCAL reader whose width is the
    // MAP side of the exchange = the checkpoint's 1 partition — the
    // №22 cid exchange is silently bypassed and the 2.3·10⁷-cosine
    // comparator + partial-rank sort serialise onto one spilling task
    // (caught live by jstack in round 16: one RUNNABLE task in
    // UnsafeExternalSorter.spill under bhj_doConsume). A non-coalescible
    // REPARTITION_BY_NUM before the checkpoint costs one extra shuffle
    // of cellrank-sized rows and makes the local-reader width np in
    // BOTH regimes. The require pins the premise at any scale.
    val cellrank = e.join(broadcast(c))
      .select(col("vec_id"), col("cid"),
        expr("cosine_sim(embedding, c_embedding)").as("cos"))
      .withColumn("rn", row_number().over(wProbe))
      .select("vec_id", "cid", "rn")
      .repartition(np, col("vec_id"))
      .localCheckpoint() // reused by assign AND probes
    require(cellrank.rdd.getNumPartitions == np,
      s"cellrank checkpoint must be $np-wide (got " +
        s"${cellrank.rdd.getNumPartitions}) — the №25 local-reader " +
        "width premise")
    val assign = cellrank.filter(col("rn") === 1).select("vec_id", "cid")
    // №22: widen the probe input ON THE JOIN KEY (cid), not on vec_id.
    // The localCheckpoint above erases size statistics, so the planner
    // cannot prove assign is broadcastable and plans the cid join as an
    // SMJ — a vec_id exchange is then dead weight (the join inserts its
    // own cid exchanges) and AQE coalesces those small-byte
    // ENSURE_REQUIREMENTS shuffles to ONE partition under the CPU-dense
    // comparator (measured at 16×: 766 s wall, 756 cpu-s on 1 task).
    // A REPARTITION_BY_NUM exchange on cid is the width the join itself
    // needs: the SMJ reuses it (non-coalescible, so the assign side is
    // forced to match), and a broadcast regime streams it unchanged.
    // №23 (r15 advice): cid alone has only C=16 distinct values —
    // hashing 16 keys into np=32 partitions caps the comparator at ≤16
    // non-empty tasks (fewer under collisions), half the machine. So
    // the join key is widened to (cid, salt): probes carry a
    // deterministic salt = hash(vec_id) mod S and the (skinny,
    // corpus-sized) member side is exploded ×S so every (cid, salt)
    // cell holds the FULL membership of cid — each (probe, member)
    // pair still arises exactly once (at the probe's own salt), so the
    // answer is unchanged and the oracle needs no edit. C·S keys
    // (S = ⌈2np/C⌉, 64 keys at np=32) occupy every partition, within-
    // cell balance is hash-uniform, and BOTH regimes keep the width:
    // the SMJ clusters on (cid, salt) and reuses the probe exchange;
    // a broadcast join streams it unchanged. Cost: the member side
    // shuffles/broadcasts S·n skinny rows instead of n.
    // The final per-vec_id rank never needed the vec_id clustering —
    // its exchange carries only the partial-rank-capped rows.
    // `ParallelismAuditSpec` pins this shape (probe-side width-setter =
    // user REPARTITION_BY_NUM on cid+salt) so a refactor back to a
    // vec_id or unsalted exchange goes red, not silent.
    val cellsC = 16 // centroidTable's C
    val saltS = math.max(1, (2 * np + cellsC - 1) / cellsC)
    // №25 part 2: BOTH join inputs carry the non-coalescible exchange,
    // because AQE's runtime broadcast conversion STREAMS whichever side
    // it did not build — and the streamed side's width is the stage's
    // width. The salt made members (S·n) heavier than probes (4n), so
    // AQE flipped to building the PROBES side; the members side then
    // streamed through its ENSURE_REQUIREMENTS exchange, which the
    // coalescer shrank to ONE partition under the comparator (caught
    // in the round-16 final-plan dump: BuildLeft over the probe
    // exchange, AQEShuffleRead(coalesced) on members). Pinning both
    // sides costs nothing in the SMJ regime (the join needs both
    // distributions anyway) and makes EITHER broadcast orientation
    // full-width.
    val probes = cellrank.filter(col("rn") <= 4).select("vec_id", "cid")
      .withColumn("salt", pmod(hash(col("vec_id")), lit(saltS)))
      .repartition(np, col("cid"), col("salt"))
    val members = assign
      .select(col("cid"), col("vec_id").as("neighbor_id"))
      .withColumn("salt", explode(lit((0 until saltS).toArray)))
      .repartition(np, col("cid"), col("salt"))
    val wRank = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes
      // no broadcast hint: members is corpus-sized (×S), so the planner
      // must stay free to pick a shuffled join at estate scale (both
      // inputs are then exchange-width anyway); at bench scales it
      // broadcasts the smaller member side and inherits the widened,
      // salted probes
      .join(members, Seq("cid", "salt"))
      .drop("salt")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .join(e.select(col("vec_id"), col("embedding").as("a_emb")), "vec_id")
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("b_emb")), "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        expr("cosine_sim(a_emb, b_emb)").as("cos"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 3)
      .select("vec_id", "neighbor_id", "rank")
  }

  // ---------------------------------------------------------------- s09
  /** Scalar-quantised (SQ8) top-k — the memory-reduction ANN tier that
    * sits between brute-force float (s01) and product quantisation
    * (s04): every vector is L2-normalised and quantised to an int8-range
    * code `round(127·x_k/‖x‖)`, and ranking runs on the pure INTEGER
    * dot product of code vectors — at serving scale that's a 4×-smaller
    * corpus (byte codes vs float32) and a SIMD-friendly integer kernel.
    * Because the score is an exact BIGINT sum of products, the ranking
    * AND the score column are bit-identical cross-engine by arithmetic
    * (no float-tie anxiety — the one float step, the norm, only feeds a
    * round()). Composes with the same bucket/IVF partitioning as
    * s02/s03; this demo ranks the capped corpus directly, the s01
    * convention. `SimilaritySpec` pins recall@5 against exact s01. */
  /** The SQ8 code vector in DuckDB: `round(127·x_k/‖x‖)` per component —
    * shared by s09 and s10 so quantisation cannot drift. */
  private def sq8CodeSql(t: String): String =
    s"""list_transform(generate_series(1, $Dims), k ->
       |  CAST(round(127.0 * CAST($t.embedding[k] AS DOUBLE) /
       |    sqrt(list_sum(list_transform(generate_series(1, $Dims), j ->
       |      CAST($t.embedding[j] AS DOUBLE) * CAST($t.embedding[j] AS DOUBLE))))
       |  ) AS BIGINT))""".stripMargin.replaceAll("\n\\s*", " ")

  /** The same SQ8 coding in Spark: (vec_id, code) over a (vec_id,
    * embedding) frame. */
  private def sq8Coded(e0: DataFrame): DataFrame = {
    val norm = sqrt(aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    e0.withColumn("norm", norm)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(lit(127.0) * x.cast("double") / col("norm")).cast("long"))
          .as("code"))
  }

  val s09 = Q("s09_sq8_topk", {
    def qn(t: String) = sq8CodeSql(t)
    s"""WITH e AS (SELECT vec_id, ${qn("embeddings")} AS code
       |           FROM embeddings),
       |q AS (SELECT vec_id, code FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(generate_series(1, $Dims),
       |      k -> q.code[k] * e.code[k])) AS dot_q
       |  FROM q JOIN e ON e.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, CAST(dot_q AS BIGINT) AS dot_q,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY dot_q DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dot_q
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }) { (s, d) =>
    // №27: SQ8 coding + the broadcast shortlist dot products ride the
    // single embeddings split — spread to session width first.
    val e0 = graft.ops.Width.spread(
      Dedup.validationCap(s, Tables.embeddings(s, d), "vec_id",
        "spark.graft.validation.cap.vecs")
        .select(col("vec_id"), col("embedding")))
    val coded = sq8Coded(e0)
    val q = coded.filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("code", "q_code")
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("q_code"), col("code"), _ * _),
          lit(0L), _ + _).as("dot_q"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank", "dot_q")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s10
  /** Shortlist size of the first (integer) stage. */
  val RerankShortlist = 20

  /** Two-stage retrieval — the production ANN serving shape: stage 1
    * ranks the corpus by the cheap SQ8 INTEGER dot ([[s09]]'s kernel,
    * 4×-smaller codes, exact BIGINT scores → bit-identical shortlists
    * in both engines) and keeps a $RerankShortlist-deep shortlist per
    * query; stage 2 re-ranks ONLY the shortlist with the exact float
    * cosine ([[s01]]'s kernel) and emits the final top-5. At 100 TB the
    * corpus-scale pass touches byte codes only (and composes with the
    * s02/s03 bucket/IVF partitioning); full-precision vectors are read
    * for |Q|·shortlist rows — the quantise-then-refine pattern every
    * large vector-serving system runs. `SimilaritySpec` pins recall@5
    * ≥ the unrefined s09 tier against exact s01. */
  val s10 = Q("s10_two_stage_topk",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id, ${sq8CodeSql("embeddings")} AS code
       |      FROM embeddings),
       |q AS (SELECT vec_id, code FROM c WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(generate_series(1, $Dims),
       |      k -> q.code[k] * c.code[k])) AS dot_q
       |  FROM q JOIN c ON c.vec_id <> q.vec_id),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY dot_q DESC, neighbor_id) AS srank
       |    FROM scored)
       |  WHERE srank <= $RerankShortlist),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id, ${cosSql("qe", "ne")} AS cos
       |  FROM short s
       |  JOIN e qe ON qe.vec_id = s.query_id
       |  JOIN e ne ON ne.vec_id = s.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM rer)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    // №27: SQ8 coding + the broadcast shortlist dot products ride the
    // single embeddings split — spread to session width first.
    val e0 = graft.ops.Width.spread(
      Dedup.validationCap(s, Tables.embeddings(s, d), "vec_id",
        "spark.graft.validation.cap.vecs")
        .select(col("vec_id"), col("embedding")))
    val coded = sq8Coded(e0)
    val q = coded.filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("code", "q_code")
    val wI = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    val shortlist = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("q_code"), col("code"), _ * _),
          lit(0L), _ + _).as("dot_q"))
      .withColumn("srank", row_number().over(wI))
      .filter(col("srank") <= RerankShortlist)
      .select("query_id", "neighbor_id")
    val qe = e0.filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("embedding", "q_embedding")
    val wC = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(e0.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("embedding", "n_embedding"), Seq("neighbor_id"))
      .join(broadcast(qe), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("cosine_sim(q_embedding, n_embedding)").as("cos"))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s11
  /** Maximum-inner-product search via the norm-augmentation reduction
    * (Bachrach et al. 2014) over the IVF index (s03's machinery) — the
    * retrieval mode recommender/retrieval models actually need: rank by
    * RAW inner product, where cosine ANN (s01-s10) is wrong whenever
    * norms carry information. The live embeddings are L2-normalised, so
    * the norm signal is supplied explicitly: each ITEM vector is scaled
    * by a per-item popularity weight `w = 1 + label mod 4` (the
    * engagement/CTR prior every recommender multiplies in - an integer-
    * derived double, bit-replayable), making the item vector `w*x` and
    * the objective `argmax_e w_e*<q, x_e>` - genuinely different from
    * cosine order (the spec proves the divergence and measures recall
    * against the exact MIPS ranking). MIPS admits no direct metric
    * index, but the classic reduction restores one: items augment to
    * `x^ = [w*x/M ; sqrt(1 - w^2|x|^2/M^2)]` (M = max weighted norm, so
    * |x^| = 1), queries to `q^ = [q/|q| ; 0]`, and `cos(q^, x^)` is
    * monotone in `w*<q, x>` - inner-product order becomes cosine order
    * one dimension up, so the IVF dataflow applies VERBATIM: items
    * assign to their nearest of C=16 augmented centroid lists, queries
    * probe their P=4 nearest lists, and the exact weighted dot re-ranks
    * candidates only. The augmented dots never materialise 65-vectors -
    * they decompose into the raw dot plus scalar terms
    * (`(w_a*w_c/M^2)*<x_a,x_c> + aug_a*aug_c`), so every arithmetic
    * step is the same fixed-shape ascending-order double expression in
    * both engines (the s01 convention), fully oracled.
    *
    * Scale shape: s03's exactly - one map pass for weights/norms (fuses
    * into the scan), a scalar broadcast for M, a broadcast centroid
    * argmax assignment, candidates from an equi-join on list id
    * (P*n/C per query), a query-keyed window over candidates. Nothing
    * all-pairs; the reduction adds derived columns, not a pass. */
  val s11 = Q("s11_mips_topk", {
    val dotSelf =
      s"list_sum(list_transform(generate_series(1, $Dims), k -> CAST(embedding[k] AS DOUBLE) * CAST(embedding[k] AS DOUBLE)))"
    def dotQ(a: String, ae: String, b: String, be: String) =
      s"list_sum(list_transform(generate_series(1, $Dims), k -> CAST($a.$ae[k] AS DOUBLE) * CAST($b.$be[k] AS DOUBLE)))"
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    CAST(1 + label % 4 AS DOUBLE) AS w,
       |    $dotSelf AS n2
       |  FROM embeddings),
       |m AS (SELECT sqrt(max(w * w * n2)) AS bigm FROM b),
       |ba AS (
       |  SELECT b.*, m.bigm,
       |    sqrt(greatest(CAST(0 AS DOUBLE),
       |      CAST(1 AS DOUBLE) - (b.w * b.w * b.n2) / (m.bigm * m.bigm)))
       |      AS aug
       |  FROM b CROSS JOIN m),
       |c AS (
       |  SELECT vec_id AS cid, embedding AS cemb, w AS cw, aug AS caug
       |  FROM ba WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        (e.w * c.cw / (e.bigm * e.bigm)) * (${dotQ("e", "embedding", "c", "cemb")})
       |          + e.aug * c.caug DESC, c.cid) AS rn
       |    FROM ba e, c)
       |  WHERE rn = 1),
       |q AS (
       |  SELECT vec_id AS query_id, embedding, n2, bigm
       |  FROM ba WHERE vec_id < 10),
       |probed AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        (c.cw / (q.bigm * sqrt(q.n2))) * (${dotQ("q", "embedding", "c", "cemb")})
       |        DESC, c.cid) AS prn
       |    FROM q, c)
       |  WHERE prn <= 4),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    e.w * (${dotQ("q", "embedding", "e", "embedding")}) AS dot
       |  FROM probed p
       |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN ba e ON e.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY dot DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }) { (s, d) =>
    val b = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr("CAST(1 + label % 4 AS DOUBLE)").as("w"),
        expr("dot_product(embedding, embedding)").as("n2"))
    val m = b.agg(expr("sqrt(max(w * w * n2))").as("bigm"))
    val ba = b.crossJoin(broadcast(m))
      .withColumn("aug", expr(
        "sqrt(greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - (w * w * n2) / (bigm * bigm)))"))
      .localCheckpoint() // feeds centroids, assignment, queries, items
    val c = ba.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("w").as("cw"), col("aug").as("caug"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("adot").desc, col("cid"))
    val assign = ba.join(broadcast(c))
      .select(col("vec_id"), col("cid"),
        expr("(w * cw / (bigm * bigm)) * dot_product(embedding, cemb)" +
          " + aug * caug").as("adot"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select("vec_id", "cid")
    val q = ba.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("n2").as("qn2"),
        col("bigm"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("qdot").desc, col("cid"))
    val probed = q.join(broadcast(c))
      .select(col("query_id"), col("q_embedding"), col("cid"),
        expr("(cw / (bigm * sqrt(qn2))) * dot_product(q_embedding, cemb)")
          .as("qdot"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 4)
      .select("query_id", "q_embedding", "cid")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("neighbor_id"))
    probed.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(ba.select(col("vec_id"), col("embedding"), col("w")), "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("w") * expr("dot_product(q_embedding, embedding)")).as("dot"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s12
  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    * DIVERSIFIED retrieval tier: plain top-k returns five copies of the
    * same neighbourhood; training-data curation and RAG shortlists need
    * relevance MINUS redundancy. Greedy MMR picks, per step, the
    * candidate maximising `λ·cos(q,c) − (1−λ)·max_{s∈sel} cos(c,s)`
    * (λ = 0.7), seeded with the top-cosine hit — the canonical
    * submodular-ish subset selection that no per-row operator expresses.
    *
    * Five greedy steps are unrolled (the s06 Lloyd discipline) so the
    * DuckDB twin is five argmax CTEs over the same shortlist; every
    * score is the one fixed double expression over bit-identical
    * cosines, ties break on (score DESC, cid) in both engines, so the
    * SELECTED SET — not just its quality — hash-matches.
    *
    * Scale: the candidate shortlist (top-12 by cosine, any ANN tier
    * supplies it at 100 TB — s03/s10) bounds everything: the pairwise
    * sim table is shortlist² per query (144 rows), each greedy step is
    * one join + one max-agg + one query-keyed argmax window over
    * shortlist-sized frames. The corpus is touched once, by the
    * shortlist pass. */
  /** s12's shortlist stage (top-12 by cosine per query), exposed
    * un-checkpointed so `PlanAuditSpec` can audit the live plan — the
    * g01 `pageRankRound` convention. */
  private[graft] def mmrShortlist(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wRel = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("cid"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cid"),
        expr("cosine_sim(qe, embedding)").as("rel"))
      .withColumn("rk", row_number().over(wRel)).filter(col("rk") <= 12)
      .select("query_id", "cid", "rel")
  }

  val s12 = Q("s12_mmr_topk", {
    def step(k: Int): String =
      s"""st$k AS (
         |  SELECT query_id, cid FROM (
         |    SELECT m.query_id, m.cid,
         |      row_number() OVER (PARTITION BY m.query_id
         |        ORDER BY 0.7 * m.rel - 0.3 * m.ms DESC, m.cid) AS rk
         |    FROM (
         |      SELECT c.query_id, c.cid, c.rel, max(p.sim) AS ms
         |      FROM cand c
         |      JOIN pair p ON p.query_id = c.query_id AND p.c1 = c.cid
         |      JOIN sel${k - 1} s ON s.query_id = p.query_id
         |                        AND s.cid = p.c2
         |      WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s2
         |        WHERE s2.query_id = c.query_id AND s2.cid = c.cid)
         |      GROUP BY c.query_id, c.cid, c.rel) m) r
         |  WHERE rk = 1),
         |sel$k AS (SELECT * FROM sel${k - 1}
         |          UNION ALL SELECT query_id, cid, $k FROM st$k)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id, embedding FROM e WHERE vec_id < 4),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS cid,
       |         ${cosSql("q", "e")} AS rel
       |  FROM q JOIN e ON e.vec_id <> q.vec_id),
       |cand AS (
       |  SELECT query_id, cid, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cid) AS rk FROM scored) r
       |  WHERE rk <= 12),
       |pair AS (
       |  SELECT a.query_id, a.cid AS c1, b.cid AS c2,
       |         ${cosSql("ea", "eb")} AS sim
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id
       |                         AND a.cid <> b.cid
       |  JOIN e ea ON ea.vec_id = a.cid
       |  JOIN e eb ON eb.vec_id = b.cid),
       |sel1 AS (
       |  SELECT query_id, cid, 1 AS rank FROM (
       |    SELECT query_id, cid, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cid) AS rk FROM cand) r
       |  WHERE rk = 1),
       |${step(2)},
       |${step(3)},
       |${step(4)},
       |${step(5)}
       |SELECT query_id, cid AS neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM sel5 ORDER BY query_id, rank""".stripMargin
  }) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val wRel = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("cid"))
    val cand = mmrShortlist(s, d)
      .localCheckpoint() // consumed by the pair build + every greedy step
    val ce = cand.join(e, col("cid") === col("vec_id"))
      .select(col("query_id"), col("cid"), col("embedding"))
    val pair = ce.as("a")
      .join(ce.as("b"), col("a.query_id") === col("b.query_id") &&
        col("a.cid") =!= col("b.cid"))
      .select(col("a.query_id").as("query_id"), col("a.cid").as("c1"),
        col("b.cid").as("c2"),
        expr("cosine_sim(a.embedding, b.embedding)").as("sim"))
      .localCheckpoint() // shortlist²-sized; reused per step
    var sel = cand.withColumn("rk", row_number().over(wRel))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("cid"), lit(1L).as("rank"))
    for (k <- 2 to 5) {
      val remaining = cand.join(sel.select("query_id", "cid"),
        Seq("query_id", "cid"), "left_anti")
      val ms = remaining.as("c")
        .join(pair.as("p"), col("c.query_id") === col("p.query_id") &&
          col("c.cid") === col("p.c1"))
        .join(sel.as("s"), col("p.query_id") === col("s.query_id") &&
          col("p.c2") === col("s.cid"))
        .groupBy(col("c.query_id").as("query_id"), col("c.cid").as("cid"),
          col("c.rel").as("rel"))
        .agg(max(col("p.sim")).as("ms"))
      val wk = Window.partitionBy("query_id")
        .orderBy((lit(0.7) * col("rel") - lit(0.3) * col("ms")).desc,
          col("cid"))
      val pick = ms.withColumn("rk", row_number().over(wk))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("cid"), lit(k.toLong).as("rank"))
      sel = sel.union(pick).localCheckpoint()
    }
    sel.select(col("query_id"), col("cid").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s13
  /** IVF probe-sweep tuning table — d20's role played for the ANN tier:
    * the table that DECIDES s03's `nprobe` before a 100 TB index
    * deploys. For every probe depth P ∈ {1, 2, 4, 8, 16} over the SAME
    * C=16 coarse quantiser: the candidates examined (the per-query
    * scan cost P·n/C that nprobe trades), and MEASURED recall@5
    * against the exact brute-force ranking — the quantity the probe
    * budget buys. Candidate sets NEST by construction (probe rank ≤ P
    * filters one shared scored table), so candidates and recall are
    * monotone in P and P=C is exhaustive (recall ≡ 1 by construction —
    * the sweep's built-in sanity row, spec-pinned).
    *
    * One assignment pass + ONE scored table with the probe rank
    * attached serve every row; per P the evaluation is a query-keyed
    * window over the filtered candidates, truth is a queries×corpus
    * scan (sample-sized at scale: |Q| queries, not the corpus). All
    * cosines are the bit-identical ascending-fold doubles of the other
    * s-queries; recall is exact integer ppm. */
  val s13 = Q("s13_ivf_tuning", {
    val probes = Seq(1, 2, 4, 8, 16)
    val rowsSql = probes.map { p =>
      s"""  SELECT $p AS nprobe,
         |    (SELECT count(*) FROM scored WHERE prn <= $p) AS n_candidates,
         |    (SELECT count(*) FROM truth t JOIN (
         |       SELECT query_id, neighbor_id FROM (
         |         SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, neighbor_id) AS rk
         |         FROM scored WHERE prn <= $p) x WHERE rk <= 5) c
         |       ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id)
         |     * 1000000 // (SELECT count(*) FROM truth) AS recall_ppm"""
        .stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |    FROM e, c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 10),
       |probes AS (
       |  SELECT q.query_id, c.cid,
       |         row_number() OVER (PARTITION BY q.query_id
       |                            ORDER BY ${cosSql("q", "c")} DESC, c.cid) AS prn
       |  FROM q, c),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, p.prn,
       |         ${cosSql("q", "e")} AS cos
       |  FROM probes p
       |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN e ON e.vec_id = a.vec_id),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, e.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${cosSql("q", "e")} DESC, e.vec_id) AS rk
       |    FROM q, e WHERE e.vec_id <> q.query_id) x WHERE rk <= 5)
       |SELECT CAST(nprobe AS BIGINT) AS nprobe,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  CAST(recall_ppm AS BIGINT) AS recall_ppm
       |FROM (
       |$rowsSql)
       |ORDER BY nprobe""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val c = centroidTable(e)
    val assign = assignToCentroids(e, c)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cid"))
    val probes = q.join(broadcast(c))
      .select(col("query_id"), col("q_embedding"), col("cid"),
        expr("cosine_sim(q_embedding, c_embedding)").as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .select("query_id", "q_embedding", "cid", "prn")
    val scored = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(e, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("prn"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .localCheckpoint()
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val truth = q.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= 5)
      .select("query_id", "neighbor_id")
      .localCheckpoint()
    val nTruth = truth.count()
    import s.implicits._
    Seq(1, 2, 4, 8, 16).map { p =>
      val cand = scored.filter(col("prn") <= p)
      val nCand = cand.count()
      val top = cand.withColumn("rk", row_number().over(wRank))
        .filter(col("rk") <= 5)
        .select("query_id", "neighbor_id")
      val caught = top.join(truth, Seq("query_id", "neighbor_id")).count()
      (p.toLong, nCand, caught * 1000000L / nTruth)
    }.toDF("nprobe", "n_candidates", "recall_ppm")
      .orderBy("nprobe")
  }

  // ---------------------------------------------------------------- s14
  /** FILTERED vector search — the attribute-constrained ANN problem
    * (vector search with a WHERE clause) that every curation query
    * actually poses: "nearest neighbours of q AMONG vectors with q's
    * label" (within-class near-dup hunting, same-source retrieval,
    * same-language matching). The design decision the filtered-ANN
    * literature centres on is WHERE the predicate applies, and this op
    * takes the production answer — PRE-FILTER AT THE POSTING LIST: the
    * IVF assignment carries the label, and the candidate join requires
    * `a.label = q.label` alongside the list match, so filtered-out
    * vectors never reach the exact re-rank (post-filtering instead
    * would rank the full candidate set and then discard — same answer
    * only if k is inflated by 1/selectivity, and wasted cosine work
    * always). Candidate cost drops from P·n/C to P·n_label/C — the
    * selectivity shows up as compute saved, not recall lost
    * (`SimilaritySpec` pins the candidate-count ratio AND a recall
    * floor vs the exact filtered brute force).
    *
    * Same deterministic centroid/probe/cosine arithmetic as s03 —
    * fully oracled, filter included. */
  /** s14's contract, shared VERBATIM with its bucketed physical variant
    * [[s19]] (the s17/s18 precedent: one oracle, two layouts). */
  private lazy val filteredAnnSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, label, cid FROM (
       |    SELECT e.vec_id, e.label, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |    FROM e, c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding, label FROM e
       |      WHERE vec_id < 10),
       |probed AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${cosSql("q", "c")} DESC, c.cid) AS prn
       |    FROM q, c)
       |  WHERE prn <= 4),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, ${cosSql("q", "e")} AS cos
       |  FROM probed p
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
       |                AND a.label = q.label
       |  JOIN e ON e.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  val s14 = Q("s14_filtered_topk", filteredAnnSql) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val c = centroidTable(e)
    val assign = assignToCentroids(e, c)
      .join(e.select(col("vec_id"), col("label")), "vec_id")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("label").as("q_label"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cid"))
    val probed = q.join(broadcast(c))
      .select(col("query_id"), col("q_embedding"), col("q_label"), col("cid"),
        expr("cosine_sim(q_embedding, c_embedding)").as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 4)
      .select("query_id", "q_embedding", "q_label", "cid")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val postings = assign.select(col("vec_id").as("a_vec"),
      col("label").as("a_label"), col("cid"))
    probed.join(postings,
        Seq("cid"))
      .filter(col("a_vec") =!= col("query_id") &&
        col("a_label") === col("q_label"))
      .join(e.select(col("vec_id").as("a_vec"), col("embedding")), Seq("a_vec"))
      .select(col("query_id"), col("a_vec").as("neighbor_id"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Candidate count of [[s14]]'s filtered posting-list join —
    * exposed for `SimilaritySpec`'s selectivity measurement. */
  private[graft] def s14CandidateCount(s: SparkSession, d: String,
      filtered: Boolean): Long = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val c = centroidTable(e)
    val assign = assignToCentroids(e, c)
      .join(e.select(col("vec_id"), col("label")), "vec_id")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("label").as("q_label"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cid"))
    val probed = q.join(broadcast(c))
      .select(col("query_id"), col("q_embedding"), col("q_label"), col("cid"),
        expr("cosine_sim(q_embedding, c_embedding)").as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 4)
      .select("query_id", "q_label", "cid")
    val postings = assign.select(col("vec_id").as("a_vec"),
      col("label").as("a_label"), col("cid"))
    probed.join(postings, Seq("cid"))
      .filter(col("a_vec") =!= col("query_id") &&
        (if (filtered) col("a_label") === col("q_label") else lit(true)))
      .count()
  }

  // ---------------------------------------------------------------- s15
  /** Sign-bit binary codes + Hamming shortlist + exact rerank — the
    * most aggressive point on the s09/s04 compression curve, in its
    * honest production role: 64 float dims → 64 BITS (8 bytes/vector,
    * 32× smaller than raw floats, 8× smaller than SQ8), stage-1
    * distance = XOR + popcount — the kernel that makes billion-vector
    * SHORTLISTING memory-resident and SIMD-cheap — then s10's float
    * rerank over the [[RerankShortlist]]-deep shortlist only. Measured
    * honestly on this isotropic corpus: raw Hamming top-5 recall is
    * 0.16 (barely above the 0.10 chance floor — 1 bit/dim cannot
    * discriminate near-orthogonal random vectors, which is WHY the
    * production shape is shortlist-then-rerank, never rank-by-Hamming);
    * the reranked recall is what `SimilaritySpec` floors. Codes pack
    * into TWO 32-bit words (one 64-bit word would put bit 63 into the
    * Long sign — engine shift/overflow behavior at bit 63 is exactly
    * the cross-engine hazard the split avoids); Hamming and ranks are
    * exact integers, ties by neighbor_id, bit-identical in both
    * engines. Corpus-scale cost: one map pass to code, 8-byte rows
    * through the shortlist stage, full floats touched only for
    * |Q|·shortlist rows; composes with s02's bucketing. */
  val s15 = Q("s15_hamming_topk", {
    def codeSql(lo: Boolean) = {
      val (from, shiftBase) = if (lo) (1, 1) else (33, 33)
      s"""list_sum(list_transform(generate_series($from, ${from + 31},
         | 1), k -> CASE WHEN embedding[k] > 0
         | THEN (CAST(1 AS BIGINT) << (k - $shiftBase)) ELSE 0 END))"""
        .stripMargin.replace("\n", " ")
    }
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (
       |  SELECT vec_id, ${codeSql(lo = true)} AS lo,
       |         ${codeSql(lo = false)} AS hi
       |  FROM embeddings),
       |q AS (SELECT vec_id, lo, hi FROM c WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
       |      AS hamming
       |  FROM q JOIN c ON c.vec_id <> q.vec_id),
       |short AS (
       |  SELECT query_id, neighbor_id, hamming FROM (
       |    SELECT query_id, neighbor_id, hamming,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY hamming, neighbor_id) AS srank
       |    FROM scored)
       |  WHERE srank <= $RerankShortlist),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id, s.hamming,
       |         ${cosSql("qe", "ne")} AS cos
       |  FROM short s
       |  JOIN e qe ON qe.vec_id = s.query_id
       |  JOIN e ne ON ne.vec_id = s.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, hamming,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM rer)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  CAST(hamming AS BIGINT) AS hamming
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }) { (s, d) =>
    def word(base: Int): String = {
      val weights = (0 until 32).map(i => s"${1L << i}L").mkString(", ")
      s"""aggregate(zip_with(slice(embedding, ${base + 1}, 32),
         | array($weights),
         | (v, w) -> CASE WHEN v > 0 THEN w ELSE 0L END),
         | 0L, (acc, v) -> acc + v)""".stripMargin.replace("\n", " ")
    }
    val e0 = Tables.embeddings(s, d).select("vec_id", "embedding")
    val c = e0
      .selectExpr("vec_id", s"${word(0)} AS lo", s"${word(32)} AS hi")
      .localCheckpoint() // corpus codes: read by query AND corpus side
    val q = c.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS query_id", "lo AS q_lo", "hi AS q_hi")
    val wH = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("neighbor_id"))
    val shortlist = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("bit_count(q_lo ^ lo) + bit_count(q_hi ^ hi)")
          .cast("long").as("hamming"))
      .withColumn("srank", row_number().over(wH))
      .filter(col("srank") <= RerankShortlist)
      .select("query_id", "neighbor_id", "hamming")
    val qe = e0.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS query_id", "embedding AS q_embedding")
    val wC = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(e0.selectExpr("vec_id AS neighbor_id",
        "embedding AS n_embedding"), Seq("neighbor_id"))
      .join(broadcast(qe), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        expr("cosine_sim(q_embedding, n_embedding)").as("cos"))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank", "hamming")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s16
  /** Coreset size for [[s16]]. */
  private val KCenters = 8

  /** Full-vector squared L2, ascending-index double fold — the s04
    * subspace distance extended to all [[Dims]] dims; bit-identical in
    * both engines. */
  private def d2FullSpark(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b,
       |  (p, q) -> (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))
       |          * (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))),
       |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
  private def d2FullSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, $Dims),
       |  k -> (CAST($a.embedding[k] AS DOUBLE) - CAST($b.embedding[k] AS DOUBLE))
       |     * (CAST($a.embedding[k] AS DOUBLE) - CAST($b.embedding[k] AS DOUBLE))))""".stripMargin

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal,
    * the classic 2-approximation) — the DIVERSITY-selection member the
    * similarity family lacked: s12's MMR diversifies a query's top-k,
    * this selects [[KCenters]] vectors that cover the WHOLE corpus
    * (coreset/landmark selection for training-data diversity sampling
    * or as seed centroids one tier above s05's Lloyd step). Seed = min
    * vec_id; each round picks the vector FARTHEST from the chosen set
    * (exact squared-L2, ascending fold, ties → min vec_id) — its
    * distance is the selection radius, and greedy FPS guarantees the
    * radii are non-increasing with the final one 2-approximating the
    * optimal k-center cost (`SimilaritySpec` pins both laws plus a
    * sequential replay). Dataflow per round: corpus × (≤ k)-row
    * broadcast center table → keyed min → ONE argmax row collected
    * (struct-max, no window); k rounds = k linear passes over the
    * checkpointed projection — the k-pass trade every distributed FPS
    * makes (Gonzalez parallelizes per round, never across rounds,
    * because round r+1's scores depend on round r's pick). */
  val s16 = Q("s16_kcenter_coreset", {
    val rounds = (2 to KCenters).map { r =>
      s"""m${r - 1} AS (
         |  SELECT e.vec_id, min(${d2FullSql("e", "ce")}) AS dmin
         |  FROM e
         |  JOIN c${r - 1} cs ON TRUE
         |  JOIN e ce ON ce.vec_id = cs.cid
         |  GROUP BY e.vec_id),
         |n$r AS (SELECT vec_id AS cid, dmin FROM m${r - 1}
         |        ORDER BY dmin DESC, vec_id LIMIT 1),
         |c$r AS (SELECT * FROM c${r - 1}
         |        UNION ALL SELECT $r, cid, dmin FROM n$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c1(round, cid, radius) AS (
       |  SELECT 1, min(vec_id), CAST(0 AS DOUBLE) FROM e),
       |$rounds
       |SELECT CAST(round AS BIGINT) AS round,
       |  CAST(cid AS BIGINT) AS center_id, radius
       |FROM c$KCenters ORDER BY round""".stripMargin
  }) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .localCheckpoint() // read once per round; the corpus' only scan
    val seed = e.agg(min("vec_id")).head.getLong(0)
    var centers = Seq((1L, seed, 0.0))
    for (r <- 2 to KCenters) {
      val cdf = centers.map(_._2).toDF("cid")
        .join(e, col("cid") === col("vec_id"))
        .select(col("embedding").as("c_embedding"))
      val sel = e.crossJoin(broadcast(cdf))
        .select(col("vec_id"),
          expr(d2FullSpark("embedding", "c_embedding")).as("d2"))
        .groupBy("vec_id").agg(min("d2").as("dmin"))
        .agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"))).as("m"))
        .select(col("m.dmin"), (-col("m.nid")).as("cid"))
        .head
      centers :+= ((r.toLong, sel.getLong(1), sel.getDouble(0)))
    }
    centers.toDF("round", "center_id", "radius").orderBy("round")
  }

  // ---------------------------------------------------------------- s17
  /** Beam width and hop budget for the s17 graph traversal. B=16, H=8
    * measured 0.82 mean recall@5 at sf0.01 visiting ~167 of 2000
    * vectors; the visit bound B·3·H is CORPUS-SIZE-INDEPENDENT — the
    * property that makes graph ANN the deployed index class at 10⁹+
    * vectors. */
  val GraphBeam = 16
  val GraphHops = 8

  /** Graph-ANN search over the [[s08]] kNN graph (the flat best-first
    * core of HNSW, Malkov–Yashunin 2016, and the search loop of
    * DiskANN, Subramanya et al. 2019) — the one deployed ANN index
    * class the family lacked: IVF probes cells (s03), PQ/SQ8 compress
    * (s04/s09), LSH buckets (s02), Hamming shortlists (s15); graph
    * search WALKS a prebuilt neighbour graph toward the query and its
    * cost per query is O(B·deg·H) — independent of corpus size —
    * versus IVF's O(n/C · probes). Semantics, replayed hop-by-hop in
    * both engines (the s16 discipline):
    *  - graph: s08's top-3 kNN edges, spliced from the SAME CTE chain;
    *  - entry: vec_id 0 for every query (the fixed entry point of a
    *    graph index; queries are the s01 set, vec_id < 10);
    *  - each hop EXPANDS the best [[GraphBeam]] visited-but-unexpanded
    *    nodes (best-first with an expansion ledger — re-expanding the
    *    standing beam stalls at ~40 visited and 0.28 recall, measured),
    *    scores their un-visited out-neighbours against the query
    *    (bit-identical cosine, ascending fold), and folds them into
    *    the visited pool; ties break (cos DESC, node);
    *  - after [[GraphHops]] hops: top-5 of the visited pool, self
    *    excluded — directly comparable to s01's exact ranking
    *    (`SimilaritySpec` pins recall ≥ 0.5 at sf0.01 vs the 0.0025
    *    chance floor, plus the hop-monotonicity law).
    * Dataflow per hop: beam ≤ Q·B rows anti-join ledger → equi-join
    * the edge artifact (3 rows/node) → anti-join visited → broadcast
    * 10-row query attach + corpus-keyed embedding fetch → union into
    * the checkpointed pool. Nothing corpus-global after the one-time
    * graph build; the H-round sequential chain is the same
    * rounds-depend-on-rounds trade s16 documents for FPS. */
  /** The graph-ANN oracle: the s08 build + H materialized hop CTEs +
    * the top-5 finish. ONE definition shared verbatim by [[s17]] and
    * [[s18]] — the two tiers are the SAME search (identical beams,
    * ledger, scores, results); only the physical lookup layout
    * differs, which an oracle cannot and must not see. */
  private lazy val graphAnnSql: String = {
    val hops = (1 to GraphHops).map { h =>
      s"""beam$h AS MATERIALIZED (
         |  SELECT query_id, node FROM (
         |    SELECT v.query_id, v.node,
         |           row_number() OVER (PARTITION BY v.query_id
         |                              ORDER BY v.cos DESC, v.node) AS rn
         |    FROM vis${h - 1} v
         |    LEFT JOIN exp${h - 1} x
         |      ON x.query_id = v.query_id AND x.node = v.node
         |    WHERE x.node IS NULL) WHERE rn <= $GraphBeam),
         |exp$h AS MATERIALIZED (
         |  SELECT * FROM exp${h - 1} UNION ALL SELECT * FROM beam$h),
         |cand$h AS (
         |  SELECT DISTINCT b.query_id, g.neighbor_id AS node
         |  FROM beam$h b JOIN edges g ON g.vec_id = b.node),
         |new$h AS (
         |  SELECT c.query_id, c.node FROM cand$h c
         |  LEFT JOIN vis${h - 1} v
         |    ON v.query_id = c.query_id AND v.node = c.node
         |  WHERE v.node IS NULL),
         |sc$h AS (
         |  SELECT n.query_id, n.node, ${cosSql("q", "x")} AS cos
         |  FROM new$h n
         |  JOIN e q ON q.vec_id = n.query_id
         |  JOIN e x ON x.vec_id = n.node),
         |vis$h AS MATERIALIZED (
         |  SELECT * FROM vis${h - 1} UNION ALL SELECT * FROM sc$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtesSql,
       |edges AS MATERIALIZED (
       |  SELECT vec_id, neighbor_id FROM ranked WHERE rank <= 3),
       |vis0 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, ent.vec_id AS node,
       |         ${cosSql("q", "ent")} AS cos
       |  FROM e q JOIN e ent ON ent.vec_id = 0
       |  WHERE q.vec_id < 10),
       |exp0 AS (SELECT query_id, node FROM vis0 WHERE FALSE),
       |$hops,
       |fin AS (
       |  SELECT query_id, node AS neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, node) AS rank
       |  FROM vis$GraphHops WHERE node <> query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM fin WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  val s17 = Q("s17_graph_ann_topk", graphAnnSql) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .localCheckpoint() // graph build + every hop's embedding fetch
    val edges = knnGraphEdges(s, e).select("vec_id", "neighbor_id")
      .localCheckpoint() // the index artifact every hop equi-joins
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .localCheckpoint() // 10 rows; broadcast into every hop's scoring
    val entry = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("node"), col("embedding").as("n_emb"))
    // r17: the visited pool and the expansion ledger are ONE
    // checkpointed frame — ledger membership is an `expanded` flag on
    // the pool row (ledger ⊆ visited always held), so each hop runs
    // ONE materialising action instead of two (beam checkpoint + pool
    // checkpoint). Beam selection and the flag update share a single
    // window: rank the un-expanded rows per query, rows with rn ≤ B
    // are this hop's beam and flip to expanded (guide §1.2 step 1 —
    // the hop loop was job-count-bound, not compute-bound; WidthProbe
    // r16 measured 135 jobs for ~1.3 cpu-s).
    var pool = q.crossJoin(broadcast(entry))
      .select(col("query_id"), col("node"),
        expr("cosine_sim(q_emb, n_emb)").as("cos"),
        lit(false).as("expanded"))
      .localCheckpoint()
    val wBeam = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("node"))
    // partitioning by (query_id, expanded) ranks the un-expanded rows
    // without a pre-filter, so ONE window serves beam + flag update
    val wSel = Window.partitionBy("query_id", "expanded")
      .orderBy(col("cos").desc, col("node"))
    for (_ <- 1 to GraphHops) {
      val ranked = pool.withColumn("rn", row_number().over(wSel))
      val beam = ranked
        .filter(!col("expanded") && col("rn") <= GraphBeam)
        .select("query_id", "node")
      val marked = ranked.select(col("query_id"), col("node"), col("cos"),
        (col("expanded") || col("rn") <= GraphBeam).as("expanded"))
      val fresh = beam.join(edges, beam("node") === edges("vec_id"))
        .select(col("query_id"), col("neighbor_id").as("node")).distinct()
        .join(pool.select("query_id", "node"), Seq("query_id", "node"),
          "left_anti")
      val scored = fresh.join(broadcast(q), "query_id")
        .join(e.select(col("vec_id").as("node"),
          col("embedding").as("n_emb")), "node")
        .select(col("query_id"), col("node"),
          expr("cosine_sim(q_emb, n_emb)").as("cos"),
          lit(false).as("expanded"))
      pool = marked.unionAll(scored).localCheckpoint()
    }
    pool.filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wBeam).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("node").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Per-process scratch base for s18's/s19's bucketed index artifacts. */
  private lazy val annScratch: String =
    graft.GraftSession.scratchDir("ann")

  // ---------------------------------------------------------------- s18
  /** [[s17]]'s traversal over a BUCKETED on-disk index — the production
    * lookup tier (DiskANN's whole point, Subramanya et al. 2019: the
    * graph lives on disk and a hop touches only the sectors it needs).
    * SCALE.md №13 measured s17's honest split: candidate work is
    * corpus-independent (3BH+1), but each hop re-SCANS the whole
    * checkpointed edge/embedding artifacts because Spark has no
    * point-lookup index — linear per hop in the corpus. This tier
    * makes the lookups sub-linear the Spark-native way: both
    * artifacts are written ONCE partitioned by `pmod(vec_id, nb)`
    * (nb scales as ~n/256, clamped to [8, 1024]), and each hop reads
    * them with a broadcast join on (b, vec_id) against the ≤ Q·B-row
    * frontier — dynamic partition pruning reuses the broadcast to skip
    * the untouched bucket directories at runtime (r17; formerly the
    * frontier ids were `collect()`ed into `isin` literals, two driver
    * round-trips per hop), so a hop costs O(beam · bucket), not O(E),
    * and every set operation (expansion-flag update, dedup, scoring,
    * pool union) stays distributed.
    *
    * Search-identical to s17 by construction — same beams, same
    * ledger, same scores — so both share [[graphAnnSql]] verbatim and
    * `SimilaritySpec` pins row-for-row equality of the two tiers (the
    * d05↔d07/d09 validation-vs-production discipline). */
  val s18 = Q("s18_graph_ann_bucketed", graphAnnSql) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .localCheckpoint() // graph build + the one-time index write
    val nb = math.max(8L, math.min(1024L, e.count() / 256 + 1)).toInt
    val run = java.util.UUID.randomUUID().toString.take(8)
    val idx = s"$annScratch/$run"
    // repartition BY THE BUCKET KEY before partitionBy: without it every
    // write task opens a file in every bucket dir — tasks × nb small
    // files per artifact (≈4000 at 16×), which is both the in09
    // small-files problem at write time and a 4000-file LIST on every
    // hop's pruned read. With it: exactly one file per bucket.
    knnGraphEdges(s, e).select("vec_id", "neighbor_id")
      .withColumn("b", pmod(col("vec_id"), lit(nb)))
      .repartition(nb, col("b"))
      .write.partitionBy("b").parquet(s"$idx/edges")
    e.withColumn("b", pmod(col("vec_id"), lit(nb)))
      .repartition(nb, col("b"))
      .write.partitionBy("b").parquet(s"$idx/emb")
    val edgesP = s.read.parquet(s"$idx/edges")
    val embP = s.read.parquet(s"$idx/emb")
    require(new java.io.File(s"$idx/edges").listFiles()
      .count(_.getName.startsWith("b=")) > 1,
      "s18: the edge index is not bucketed — every hop would scan it whole")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .localCheckpoint() // 10 rows; broadcast into every hop's scoring
    val entry = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("node"), col("embedding").as("n_emb"))
    // r17: s17's pool+flag shape (one checkpointed frame, one action
    // per hop), and the pruned point-lookups are now JOINS against the
    // tiny frontier frames instead of driver `collect()`+`isin`: the
    // frontier side is broadcast (≤ Q·B rows), and dynamic partition
    // pruning reuses that broadcast to skip the untouched b= bucket
    // directories at runtime (in08's mechanism) — the coordinator
    // stays on executors and the former 2 collects + 3 checkpoints
    // per hop (WidthProbe r16: 167 jobs/query) become one action.
    // pmod, not %: the index was written with pmod, and for a negative
    // vec_id % is negative — the probe would miss the partition and
    // silently return no rows (r12 ADVICE).
    var pool = q.crossJoin(broadcast(entry))
      .select(col("query_id"), col("node"),
        expr("cosine_sim(q_emb, n_emb)").as("cos"),
        lit(false).as("expanded"))
      .localCheckpoint()
    val wBeam = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("node"))
    val wSel = Window.partitionBy("query_id", "expanded")
      .orderBy(col("cos").desc, col("node"))
    for (_ <- 1 to GraphHops) {
      val ranked = pool.withColumn("rn", row_number().over(wSel))
      val beam = ranked
        .filter(!col("expanded") && col("rn") <= GraphBeam)
        .select(col("query_id"), col("node"),
          pmod(col("node"), lit(nb.toLong)).as("bb"))
      val marked = ranked.select(col("query_id"), col("node"), col("cos"),
        (col("expanded") || col("rn") <= GraphBeam).as("expanded"))
      val hits = edgesP.join(broadcast(beam),
          edgesP("b") === beam("bb") && edgesP("vec_id") === beam("node"))
        .select(col("query_id"), col("neighbor_id").as("node"))
      val fresh = hits.distinct()
        .join(pool.select("query_id", "node"), Seq("query_id", "node"),
          "left_anti")
        .withColumn("fb", pmod(col("node"), lit(nb.toLong)))
      val withQ = fresh.join(broadcast(q), "query_id")
      val scored = embP
        .select(col("b").as("eb"), col("vec_id"), col("embedding"))
        .join(broadcast(withQ),
          col("eb") === withQ("fb") && col("vec_id") === withQ("node"))
        .select(col("query_id"), col("node"),
          expr("cosine_sim(q_emb, embedding)").as("cos"),
          lit(false).as("expanded"))
      pool = marked.unionAll(scored).localCheckpoint()
    }
    pool.filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wBeam).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("node").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s19
  /** Bucketed IVF posting lists — [[s14]]'s filtered ANN over a
    * PERSISTED, partition-pruned index (the r12 verdict's last
    * similarity op whose artifacts were unpartitioned; s18 precedent,
    * same [[filteredAnnSql]] oracle verbatim, `SimilaritySpec` pins
    * row-for-row tier equality with s14). The posting lists are
    * payload-carrying: one artifact `(vec_id, label, embedding)`
    * partitioned by `cid` — assignment, filter column AND vector live
    * in the list (the DiskANN/ScaNN deployment layout), so a query
    * never joins back to the corpus table. The probe stage collects
    * the ≤ |Q|·P probed (query, cid) pairs (the s18 frontier
    * discipline — bounded by the probe budget, never corpus-sized),
    * and the candidate read is ONE pruned scan: `cid IN (probed)`
    * reaches the partition directories, so a query batch touches only
    * its probed lists — at 10⁹ vectors with C≈√n lists, P·|Q| list
    * dirs instead of the whole corpus. Label filtering happens INSIDE
    * the pruned scan (pushed predicate), before any cosine is
    * computed. Write is `.repartition(C, cid)` before `partitionBy`
    * (one file per list, not tasks × C — the s18 small-files lesson).
    * Cost vs s14 at bench scale is the one-time index write, the same
    * amortized-at-scale tradeoff s18 measured. */
  val s19 = Q("s19_ivf_bucketed_filtered", filteredAnnSql) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val c = centroidTable(e)
    val run = java.util.UUID.randomUUID().toString.take(8)
    val idx = s"$annScratch/$run/postings"
    val nLists = c.count().toInt
    assignToCentroids(e, c).join(e, "vec_id")
      .select(col("cid"), col("vec_id"), col("label"), col("embedding"))
      .repartition(nLists, col("cid"))
      .write.partitionBy("cid").parquet(idx)
    val postings = s.read.parquet(idx)
    require(new java.io.File(idx).listFiles()
      .count(_.getName.startsWith("cid=")) > 1,
      "s19: posting lists are not bucketed — every probe would scan all")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("label").as("q_label"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cid"))
    val probed = q.join(broadcast(c))
      .select(col("query_id"), col("q_embedding"), col("q_label"),
        col("cid"), expr("cosine_sim(q_embedding, c_embedding)").as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 4)
      .select("query_id", "q_embedding", "q_label", "cid")
      .localCheckpoint() // ≤ |Q|·P rows; read twice (cid set + join)
    // the probed list ids — bounded by the probe budget |Q|·P, the
    // coordinator-frontier discipline s18 set for pruned reads
    val probedCids = probed.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    postings
      .filter(col("cid").isin(probedCids: _*)) // partition pruning
      .join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") === col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- s20
  /** IVF-PQ — the composition the 10⁹-vector production tier actually
    * deploys (FAISS `IVFxx,PQyy`; Jégou et al. §V "non-exhaustive
    * search"): s03's coarse quantiser prunes WHICH lists a query reads,
    * s04's product codes compress WHAT each list stores, and the exact
    * re-rank touches only the ADC shortlist. The posting lists are
    * PERSISTED partitioned by `cid` (s18/s19's bucketed-artifact
    * discipline) and carry `(vec_id, codes)` — M=8 one-byte codes per
    * vector, NOT the 256-byte embedding (that is the PQ memory
    * contract; s19 stores payload vectors, s20 stores codes). The
    * exact re-rank joins the Q·50 shortlist BACK to the corpus flat
    * store by key — shortlist-sized work, the separate-flat-store
    * layout FAISS/DiskANN re-rank uses.
    *
    * Query cost at scale: probe = |Q|·C broadcast rows; candidate
    * read = P·n/C code rows via partition-pruned scan (`cid IN
    * probed`, the s19 pruning path); ADC = an equi-join against the
    * broadcast |Q|·M·K distance table, map-side-combinable sum;
    * re-rank = |Q|·50 keyed lookups. Nothing corpus×corpus, nothing
    * resident beyond 8 bytes/vector + the C-row centroid table.
    *
    * Law (SimilaritySpec): probing ALL C lists makes IVF-PQ ≡ flat PQ
    * — [[s20Run]] with nprobe=C equals s04's output row-for-row. The
    * oracle splices s04's codebook/ADC CTEs with s03/s19's
    * assign/probe CTEs verbatim; the SAME `c` table is both coarse
    * quantiser and codebook source, exactly the shared-quantiser
    * shortcut small FAISS indexes use. */
  val s20 = Q("s20_ivfpq_topk",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding FROM e WHERE vec_id < 16),
       |ms AS (SELECT unnest(range(8)) AS m),
       |codes AS (
       |  SELECT vec_id, m, cid AS code FROM (
       |    SELECT e.vec_id, ms.m, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id, ms.m
       |                              ORDER BY ${subD2Sql("e", "c")} ASC, c.cid) AS rn
       |    FROM e CROSS JOIN ms CROSS JOIN c)
       |  WHERE rn = 1),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e", "c")} DESC, c.cid) AS rn
       |    FROM e, c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 10),
       |probed AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${cosSql("q", "c")} DESC, c.cid) AS prn
       |    FROM q, c)
       |  WHERE prn <= 4),
       |qd AS (
       |  SELECT q.query_id, ms.m, c.cid,
       |         CAST(${subD2Sql("q", "c")} AS DECIMAL(24,12)) AS d2
       |  FROM q CROSS JOIN ms CROSS JOIN c),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probed p
       |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id),
       |adc AS (
       |  SELECT cd.query_id, cd.vec_id, sum(qd.d2) AS dist
       |  FROM cand cd
       |  JOIN codes ON codes.vec_id = cd.vec_id
       |  JOIN qd ON qd.query_id = cd.query_id AND qd.m = codes.m
       |         AND qd.cid = codes.code
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY dist ASC, vec_id) AS srn
       |    FROM adc)
       |  WHERE srn <= 50),
       |scored AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id, ${cosSql("q", "e")} AS cos
       |  FROM short s
       |  JOIN q ON q.query_id = s.query_id
       |  JOIN e ON e.vec_id = s.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    s20Run(s, d, nprobe = 4)
  }

  /** [[s20]]'s dataflow with the probe budget exposed — nprobe = C
    * removes the IVF restriction, the full-probe ≡ flat-PQ law
    * `SimilaritySpec` pins against [[s04]]. */
  private[graft] def s20Run(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val c = centroidTable(e)
    // PQ encode — s04's encoder: argmin sub-centroid per 8-dim
    // subspace against the broadcast codebook, one map pass
    val withM = e.select(col("vec_id"), col("embedding"),
      explode(sequence(lit(0), lit(7))).as("m"))
    val wCode = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2").asc, col("cid"))
    val codesLong = withM.join(broadcast(c))
      .select(col("vec_id"), col("m"), col("cid"),
        expr(subD2Spark("embedding", "c_embedding")).as("d2"))
      .withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid").as("code"))
    // one row per vector: codes[m] ascending — 8 small ints, the PQ
    // memory contract (the full embedding does NOT enter the index)
    val packed = codesLong.groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, code)))," +
        " x -> x.code)").as("codes"))
    val assign = assignToCentroids(e, c)
    val run = java.util.UUID.randomUUID().toString.take(8)
    val idx = s"$annScratch/$run/pqlists"
    val nLists = c.count().toInt
    assign.join(packed, "vec_id")
      .select(col("cid"), col("vec_id"), col("codes"))
      .repartition(nLists, col("cid")) // one file per list (s18 lesson)
      .write.partitionBy("cid").parquet(idx)
    val postings = s.read.parquet(idx)
    require(new java.io.File(idx).listFiles()
      .count(_.getName.startsWith("cid=")) > 1,
      "s20: posting lists are not bucketed — every probe would scan all")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cid"))
    val probed = q.join(broadcast(c))
      .select(col("query_id"), col("cid"),
        expr("cosine_sim(q_embedding, c_embedding)").as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select("query_id", "cid")
      .localCheckpoint() // ≤ |Q|·P rows; read twice (cid set + join)
    val probedCids = probed.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    // ADC lookup table: |Q|·M·K rows, broadcast both ways
    val qd = q.select(col("query_id"), col("q_embedding"),
        explode(sequence(lit(0), lit(7))).as("m"))
      .join(broadcast(c))
      .select(col("query_id"), col("m"), col("cid").as("code"),
        expr(subD2Spark("q_embedding", "c_embedding"))
          .cast("decimal(24,12)").as("d2"))
    val adc = postings
      .filter(col("cid").isin(probedCids: _*)) // partition pruning
      .join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(qd), Seq("query_id", "m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("d2")).as("dist"))
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("vec_id"))
    val short = adc.withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= 50)
      .select("query_id", "vec_id")
    // exact re-rank: Q·50 keyed lookups against the corpus flat store
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    short.join(q, "query_id")
      .join(e, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  def all: Seq[Q] =
    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11, s12, s13,
      s14, s15, s16, s17, s18, s19, s20)
}
