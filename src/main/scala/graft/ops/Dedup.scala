package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Deduplication operators for the training-data pipeline (north-star
  * requirement; ref: absent — the reference has no dedup at all).
  *
  * Scale design: every variant is formulated as shuffle-on-key dataflow,
  * never a driver-side loop:
  *
  *  - exact: hash-groupBy on content digest — one shuffle, map-side
  *    combine; at 100 TB this is the cheapest possible full-corpus pass;
  *  - n-gram Jaccard: shingle inverted index + self-equi-join on shingle.
  *    The join fans out quadratically in per-shingle document frequency,
  *    which is why the LSH variant below is the scale path; the exact
  *    variant stays correct + oracle-checkable for validation runs;
  *  - MinHash+LSH: k=8 signatures → b=4 bands × r=2 — candidate
  *    generation becomes an equi-join on (band, signature), i.e. a plain
  *    shuffle; cost is linear in corpus size + output candidates. The
  *    hash family is md5-derived (`minhash64`) specifically so the DuckDB
  *    oracle can evaluate the identical function — a rows-only check
  *    would not catch a banding bug;
  *  - embedding cosine: exact pairwise above a threshold; the arithmetic
  *    is written element-order-deterministic (cast-to-double, sequential
  *    fold) so both engines compute bit-identical cosines.
  *
  * SimHash (bit-sliced, custom Catalyst expression) lives in
  * [[graft.functions.SimHash]] and is exercised by `d05_simhash`.
  */
object Dedup {

  /** 3-word shingles of `text`, DISTINCT per doc, via the compiled
    * [[graft.functions.WordShingles]] expression (the equivalent
    * `transform(sequence(...), i -> concat_ws(...))` lambda chain is
    * interpreted per shingle and dominated this scan stage). The oracle
    * SQL keeps the 1-based list_transform formulation — same values. */
  private def shingles(docs: DataFrame): DataFrame = {
    // №27: the shingle explode + the distinct's map-side partial agg
    // ride the single-split documents scan at bench SFs — spread to
    // session width first (a no-op on any wide corpus). Serves every
    // shingle consumer (d02/d03/d06/d08/d10/d11/d20, p01/p18/p20, ...).
    Width.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct()
  }

  /** Token-hash family for the simhash fingerprint pass (see
    * [[graft.functions.SimHash64]]): md5 by default, so any runner —
    * including the driver's Verify — produces DuckDB-recomputable
    * fingerprints; `spark.graft.fasthash=true` (set by [[graft.Bench]])
    * switches to the production FNV-1a family, whose 3-op-per-byte token
    * hash is what the fingerprint pass pays at corpus scale (md5 is a
    * per-token digest allocation — measured +34% on d05 at sf0.1). */
  private[ops] def simhashCol(s: SparkSession): Column =
    if (s.conf.get("spark.graft.fasthash", "false").toBoolean)
      expr("simhash64(split(text, ' '))")
    else expr("simhash64(split(text, ' '), 'md5')")

  /** Deterministic input bound for the O(n²) validation twins (d02, d04,
    * d05 here; s01 in [[Similarity]]): when
    * `spark.graft.validation.cap.docs` / `.vecs` is set (the bench
    * harness pins both to the sf0.1 table sizes — a no-op there, a hard
    * bound beyond), the twins run over `id < cap` so a scale-up bench is
    * measured by the production variants (d06, d07/d09, s02), not by
    * quadratic queries that exist to validate them. Unset (Verify,
    * default) → full table, oracle parity untouched. */
  private[ops] def validationCap(s: SparkSession, df: DataFrame,
      idCol: String, confKey: String): DataFrame =
    s.conf.getOption(confKey) match {
      case Some(n) => df.filter(col(idCol) < n.toLong)
      case None => df
    }

  private[ops] def cappedDocs(s: SparkSession, d: String): DataFrame =
    validationCap(s, Tables.documents(s, d), "doc_id",
      "spark.graft.validation.cap.docs")

  private[ops] val shinglesSql =
    """shingles AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
      |           i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |    WHERE len(w) >= 3))""".stripMargin

  /** CTE chain shingles→pairs→transitive closure→clusters, shared by the
    * d08 oracle and the p01 corpus-cleaning composition (one definition,
    * no drift). Requires WITH RECURSIVE and [[shinglesSql]] before it. */
  private[ops] val clustersSql =
    """counts AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),
      |cand AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
      |  FROM shingles a JOIN shingles b USING (s)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dup_pairs AS (
      |  SELECT i, j FROM cand
      |  JOIN counts ca ON ca.doc_id = i
      |  JOIN counts cb ON cb.doc_id = j
      |  WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8),
      |edges AS (SELECT i AS src, j AS dst FROM dup_pairs
      |          UNION ALL SELECT j, i FROM dup_pairs),
      |reach(node, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
      |clusters AS (
      |  SELECT node AS doc_id, min(label) AS cluster FROM reach GROUP BY node)""".stripMargin

  /** DuckDB recomputation of [[graft.functions.SimHash64]]: per token the
    * md5-derived 64-bit hash is read as (low 60 bits = first 15 hex chars,
    * top 4 bits = 16th hex char) so no intermediate ever exceeds DuckDB's
    * non-wrapping BIGINT; per bit the signed votes are summed and the
    * fingerprint is reassembled bit-by-bit (bit 63 added as -2^63 to stay
    * in signed 64-bit). Parameterized over the source CTE/table and a
    * name prefix so one definition serves the corpus side AND a second
    * document set in the same query (st10's incoming stream twin); the
    * unprefixed `documents` instantiation below is shared by the
    * d05/d07/d09 oracles. */
  private[ops] def simhashSqlFor(src: String, p: String): String =
    s"""${p}toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM $src),
       |${p}th AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS lo60,
       |    CAST('0x' || substr(md5(t), 16, 1) AS BIGINT) AS hi4
       |  FROM ${p}toks),
       |${p}votes AS (
       |  SELECT doc_id, bb.b AS b,
       |    sum(CASE WHEN CASE WHEN bb.b < 60 THEN (lo60 >> bb.b) & 1
       |                       ELSE (hi4 >> (bb.b - 60)) & 1 END = 1
       |             THEN 1 ELSE -1 END) AS v
       |  FROM ${p}th CROSS JOIN (SELECT unnest(range(64)) AS b) bb
       |  GROUP BY 1, 2),
       |${p}fp AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v > 0 AND b < 63
       |                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
       |      + CASE WHEN max(CASE WHEN b = 63 AND v > 0 THEN 1 ELSE 0 END) = 1
       |             THEN CAST(-9223372036854775807 AS BIGINT) - 1 ELSE 0 END AS h
       |  FROM ${p}votes GROUP BY doc_id)""".stripMargin

  private[ops] val simhashSql = simhashSqlFor("documents", "")

  /** All-pairs Hamming oracle over [[simhashSql]] fingerprints — DuckDB
    * can afford O(n²) at validation scale, and d07/d09's bucketed plans
    * are provably output-identical to it (pigeonhole superset + exact
    * verifier), so one oracle shape serves all three queries. */
  private def simhashPairsSql(maxHamming: Int): String =
    s"""WITH $simhashSql
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.h, b.h)) <= $maxHamming
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- d01
  /** Exact dedup by content digest. The corpus is unioned with itself so
    * the operator demonstrably removes something (the synthetic docs have
    * no natural exact dups); keeper = min doc_id per digest. */
  val d01 = Q("d01_dedup_exact",
    """SELECT md5(text) AS digest, min(doc_id) AS keeper, count(*) AS n_copies
      |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
      |GROUP BY md5(text)
      |ORDER BY keeper""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    docs.union(docs)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")
  }

  // ---------------------------------------------------------------- d02
  /** Exact n-gram Jaccard near-dup pairs via shingle inverted index.
    * jaccard = |A∩B| / (|A|+|B|-|A∩B|), integers divided once → the
    * double is bit-identical in any engine. */
  val d02 = Q("d02_ngram_jaccard",
    s"""WITH $shinglesSql,
       |counts AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
       |  FROM shingles a JOIN shingles b USING (s)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j,
       |       CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
       |FROM pairs
       |JOIN counts ca ON ca.doc_id = i
       |JOIN counts cb ON cb.doc_id = j
       |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    val sh = shingles(cappedDocs(s, d))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val a = sh.as("a")
    val b = sh.as("b")
    val pairs = a.join(b, col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("ca.c") + col("cb.c") - col("common"))
    pairs
      .join(counts.as("ca"), col("i") === col("ca.doc_id"))
      .join(counts.as("cb"), col("j") === col("cb.doc_id"))
      .select(col("i"), col("j"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d03
  private val K = 8 // minhash functions
  private val R = 2 // rows per band
  private val B = K / R // bands

  /** Minhash family: ONE md5 per shingle (the expensive part), then K
    * affine maps h_j(x) = (a_j·x + b_j) mod (2³¹−1) over the 60-bit
    * digest head — 8× fewer digests than seeding md5 per function.
    * Operands stay under 2⁶² so the arithmetic is overflow-free in both
    * engines (DuckDB BIGINT overflow is an error, not a wrap), and the
    * oracle recomputes identical values. */
  private val MersenneP = 2147483647L // 2^31 - 1
  private val HashA = Seq(1103L, 12289L, 331L, 7919L, 104729L, 2741L, 49157L, 15485863L)
  private val HashB = Seq(12345L, 98765L, 555L, 777L, 31337L, 271828L, 161803L, 424243L)

  private def baseHash(sCol: Column): Column =
    conv(substring(md5(sCol), 1, 15), 16, 10).cast("long") % MersenneP
  private def minhash64(sCol: Column, j: Int): Column =
    (baseHash(sCol) * HashA(j) + HashB(j)) % MersenneP
  private def minhash64Sql(j: Int): String =
    s"((CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % $MersenneP) * ${HashA(j)} + ${HashB(j)}) % $MersenneP"

  /** MinHash+LSH candidate pairs: signatures → band join → distinct pairs.
    * Probability a pair with Jaccard t collides: 1-(1-t^R)^B; with R=2,
    * B=4 the curve crosses ~0.55, so every d02 pair (t ≥ 0.8) should
    * surface — the spec asserts that containment. */
  /** d03's signature→band→candidate CTE chain (`lshcand(i, j)`), shared
    * with [[d12]]'s edit-distance verification so the candidate
    * definition cannot drift between the two. Requires [[shinglesSql]]
    * before it. */
  private[ops] val lshCandSql: String =
    s"""sigs AS (
       |  SELECT doc_id, ${(0 until K).map(j => s"min(${minhash64Sql(j)}) AS h$j").mkString(", ")}
       |  FROM shingles GROUP BY doc_id),
       |bands AS (
       |  ${(0 until B).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws('_', ${(0 until R).map(r => s"h${b * R + r}").mkString(", ")}) AS sig FROM sigs")
      .mkString("\n  UNION ALL\n  ")}),
       |lshcand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |    AND a.doc_id < b.doc_id)""".stripMargin

  val d03 = Q("d03_minhash_lsh",
    s"""WITH $shinglesSql,
       |$lshCandSql
       |SELECT i, j FROM lshcand
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    // Signatures in one fused pass: scan → explode → hash → map-side
    // partial min per doc → tiny shuffle (K longs per doc). min over the
    // shingle MULTISET equals min over the set, so no distinct is needed
    // (unlike d02's Jaccard counts), and duplicate-occurrence hashing is
    // cheaper than the extra shuffle a dedup-then-join formulation costs
    // (both were measured; the pipelined version wins ~2×). Same values —
    // the oracle computes per distinct posting and min agrees.
    // №27 measured NON-case: spreading this scan was tried in r16 and
    // REGRESSED d03 1.00 → 2.11 s isolated — the short-doc minhash
    // kernel is ~0.2 s of single-core work, less than the 32-task
    // stage overhead the exchange adds. Width.spread stays off here.
    val shAll = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr("word_shingles(w, 3)")).as("s"))
    val sigs = shAll.groupBy("doc_id")
      .agg(min(minhash64(col("s"), 0)).as("h0"),
        (1 until K).map(j => min(minhash64(col("s"), j)).as(s"h$j")): _*)
    val bands = (0 until B).map { b =>
      sigs.select(col("doc_id"), lit(b).as("band"),
        concat_ws("_", (0 until R).map(r => col(s"h${b * R + r}")): _*).as("sig"))
    }.reduce(_ unionByName _)
    bands.as("a")
      .join(bands.as("b"), col("a.band") === col("b.band") &&
        col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d04
  /** Embedding near-dup pairs by exact cosine ≥ 0.4. Element-order
    * deterministic arithmetic: cast each float to double, multiply, fold
    * left-to-right — both engines produce bit-identical doubles, and the
    * output carries only the pair ids so a last-ulp wobble can't flip a
    * row unless a cosine sits exactly on the threshold.
    * Brute-force O(n²) — correct baseline; the LSH-bucketed scale path is
    * `s02_lsh_topk` in [[Similarity]]. */
  val d04 = Q("d04_embedding_neardup",
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    list_sum(list_transform(generate_series(1, len(a.embedding)),
      |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
      |         k -> CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
      |         k -> CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)))))
      |    AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT i, j FROM pairs WHERE cos >= 0.4 ORDER BY i, j""".stripMargin) { (s, d) =>
    // №27: the theta join streams one side through the single-split
    // embeddings scan — spread it so the fused cosine comparator runs
    // at session width in the nested-loop regime.
    val e = Width.spread(validationCap(s, Tables.embeddings(s, d), "vec_id",
      "spark.graft.validation.cap.vecs").select(col("vec_id"), col("embedding")))
    // cosine_sim (custom codegen'd expression) fuses dot + both norms in
    // one ascending-index loop — same accumulation order as the oracle's
    // three list_sum folds, so values are bit-identical, but one pass per
    // pair instead of three interpreted lambda chains (~25× on 2M pairs).
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        expr("cosine_sim(a.embedding, b.embedding)").as("cos"))
      .filter(col("cos") >= 0.4)
      .select("i", "j")
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d05
  /** SimHash near-dup pairs: 64-bit fingerprint per doc (one map pass via
    * the codegen'd [[graft.functions.SimHash64]] expression), pairs at
    * Hamming distance ≤ 8 via `bit_count(xor)`. The pairwise comparison
    * here is the O(n²) validation harness; the production candidate
    * generation is [[d07]]'s block bucketing, which provably returns the
    * identical pair set through a linear equi-join. In oracle mode (the
    * default — see [[simhashCol]]) the md5-derived token hash is
    * recomputed verbatim by the DuckDB oracle ([[simhashSql]]), so the
    * whole family carries full value/hash checks. Recall against d02's
    * Jaccard≥0.8 pairs is a STATISTICAL property of the hash family, not
    * an invariant — the spec asserts quantified recall (≥95%, misses
    * logged with their Hamming distance) under both hash families; under
    * the md5 family one planted pair sits at Hamming 11 > 8 by honest
    * hash luck. */
  val d05 = Q("d05_simhash", simhashPairsSql(8)) { (s, d) =>
    // №27: the fingerprint pass is CPU-dense (64-bit token-vote simhash
    // per row) and rides the single-split scan at bench SFs — spread
    // first (measured 2.0 cpu-s on ONE task by WidthProbe).
    val h = Width.spread(cappedDocs(s, d).select("doc_id", "text"))
      .select(col("doc_id"), simhashCol(s).as("h"))
    h.as("a").join(h.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        expr("bit_count(a.h ^ b.h)").cast("long").as("hamming"))
      .filter(col("hamming") <= 8)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d06
  /** Production-hardened variant of d02: shingles whose document
    * frequency exceeds a cap are dropped from the inverted index before
    * the self-join ("stop shingles", the textual analogue of stopwords).
    * The d02 join's fanout is Σ df² over shingles — one shingle shared by
    * 10⁵ docs alone generates 10¹⁰ candidate pairs at corpus scale; the
    * cap bounds per-shingle fanout at df², making the join cost
    * predictable. Jaccard is then computed over the SURVIVING shingle
    * sets (cap mirrored exactly in the oracle), trading recall on
    * boilerplate-heavy pairs for a join that cannot blow up. */
  val d06 = Q("d06_ngram_jaccard_capped",
    s"""WITH $shinglesSql,
       |kept AS (
       |  SELECT doc_id, s FROM shingles
       |  WHERE s IN (SELECT s FROM shingles GROUP BY s HAVING count(*) <= 50)),
       |counts AS (SELECT doc_id, count(*) AS c FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
       |  FROM kept a JOIN kept b USING (s)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j,
       |       CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
       |FROM pairs
       |JOIN counts ca ON ca.doc_id = i
       |JOIN counts cb ON cb.doc_id = j
       |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    // r16: materialise the shingle explode once — `sh` feeds the df
    // table AND the kept join, and with the №27 spread in shingles()
    // the un-checkpointed recompute measured d06 1.36× slower in the
    // toggle A/B (the d18 five-consumer discipline, applied here)
    val sh = shingles(Tables.documents(s, d)).localCheckpoint()
    val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("s")
    val kept = sh.join(rare, "s")
    val counts = kept.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val pairs = kept.as("a")
      .join(kept.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("ca.c") + col("cb.c") - col("common"))
    pairs
      .join(counts.as("ca"), col("i") === col("ca.doc_id"))
      .join(counts.as("cb"), col("j") === col("cb.doc_id"))
      .select(col("i"), col("j"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d07
  /** Scale-safe candidate generation for SimHash dedup (the bucketing
    * SCALE.md names for d05): the 64-bit fingerprint splits into 9
    * disjoint blocks (8 × 7 bits + top 8 bits). A pair at Hamming ≤ 8
    * has its differing bits in at most 8 blocks, so at least one block
    * matches exactly (pigeonhole) — candidate pairs are an equi-join on
    * (block_no, block_bits), the same shuffle shape as d03's band join,
    * then verified with the cheap `bit_count(xor) ≤ 8` predicate.
    *
    * Because the candidate set is a SUPERSET of the true pairs and the
    * verifier is exact, the output is provably identical to d05's
    * all-pairs scan — but the plan is a linear bucketed shuffle join,
    * never a nested loop. Cost: 9 index rows per doc + Σ(bucket size²)
    * join fanout; uniform 7-bit buckets hold n/128 docs.
    *
    * MEASURED caveat (sf0.1, 5000 docs): this synthetic corpus draws all
    * docs from one template vocabulary, so fingerprints concentrate —
    * the top 7-bit block bucket holds 1649/5000 docs and Σsize² is 22.4M
    * vs 12.5M all-pairs, i.e. at k=8 on THIS corpus bucketing cannot
    * beat the dense pair structure (88k of 12.5M pairs genuinely sit at
    * Hamming ≤ 8 — the output itself is huge). k=8 is the recall-first
    * validation setting; the production setting is [[d09]]'s k=3 with
    * 16-bit blocks, where the same join shape measures 24× under
    * all-pairs even here. The spec asserts pair-set equality with d05;
    * PlanAuditSpec asserts no nested-loop join in the physical plan. */
  val d07 = Q("d07_simhash_bucketed", simhashPairsSql(8)) { (s, d) =>
    // k=8 is the recall-first VALIDATION threshold (it exists to prove
    // pigeonhole equality with d05, which is capped at bench time) — its
    // output pair set is inherently huge and its 7-bit buckets degenerate
    // on duplicate-heavy corpora (measured 33× at 4× docs), so it shares
    // d05's bench cap; d09's production threshold runs uncapped.
    // №27: the fingerprint pass is CPU-dense (64-bit token-vote simhash
    // per row) and rides the single-split scan at bench SFs — spread
    // first (measured 2.0 cpu-s on ONE task by WidthProbe).
    val h = Width.spread(cappedDocs(s, d).select("doc_id", "text"))
      .select(col("doc_id"), simhashCol(s).as("h"))
    val blockKeys = (0 until 9).map { b =>
      val width = if (b == 8) 255L else 127L
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("h"), b * 7).bitwiseAND(lit(width)).as("key"))
    }
    val keyed = h
      .select(col("doc_id"), col("h"), explode(array(blockKeys: _*)).as("bk"))
      .select(col("doc_id"), col("h"),
        col("bk.blk").as("blk"), col("bk.key").as("key"))
    keyed.as("a").join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        expr("bit_count(a.h ^ b.h)").cast("long").as("hamming"))
      .filter(col("hamming") <= 8)
      .distinct()
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d09
  /** Production simhash dedup — Manku et al.'s web-scale configuration:
    * Hamming ≤ 3 over 64-bit fingerprints, bucketed by 4 disjoint 16-bit
    * blocks (≤3 dirty bits touch ≤3 blocks → ≥1 block matches exactly).
    * 16-bit keys are what make the buckets selective: measured at sf0.1
    * on this vocabulary-correlated corpus, Σ(bucket²) = 521k vs 12.5M
    * all-pairs (24×; max bucket 189 docs) — where d07's recall-first
    * 7-bit blocks degenerate, this keying does not. 4 index rows per
    * doc, then the exact bit_count verifier on candidates only. */
  /** Manku 16-bit block keys over a `(doc_id, h)` fingerprint frame —
    * 4 index rows per doc; shared by [[d09]] and [[nearDupAdmission]]. */
  private[graft] def simhash16Keys(h: DataFrame): DataFrame = {
    val blockKeys = (0 until 4).map { b =>
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("h"), b * 16).bitwiseAND(lit(65535L)).as("key"))
    }
    h.select(col("doc_id"), col("h"), explode(array(blockKeys: _*)).as("bk"))
      .select(col("doc_id"), col("h"),
        col("bk.blk").as("blk"), col("bk.key").as("key"))
  }

  /** Near-dup ADMISSION — the live-ingestion form of d09: which incoming
    * docs are near-duplicates (Hamming ≤ 3) of an already-indexed
    * corpus, and their best match. Runs identically on a batch frame
    * and on a STREAM of incoming docs (st10 is the oracled batch twin;
    * the streaming spec drives the same function from MemoryStream):
    * fingerprints are map-only per micro-batch, candidates come from a
    * stream–static equi-join on the (blk, key) index, the exact
    * verifier runs on candidates only, and best-match selection is a
    * lexicographic struct-min — a supported streaming aggregation,
    * where the row_number form would not be. At 100 TB the index is
    * 4 rows/doc and the stream never joins more than its bucket
    * collisions. */
  def nearDupAdmission(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    val s = incoming.sparkSession
    val qk = simhash16Keys(incoming.select(col("doc_id"), simhashCol(s).as("h")))
      .select(col("doc_id").as("new_id"), col("h").as("qh"),
        col("blk"), col("key"))
    val ik = simhash16Keys(corpus.select(col("doc_id"), simhashCol(s).as("h")))
      .select(col("doc_id").as("corpus_id"), col("h").as("ch"),
        col("blk"), col("key"))
    qk.join(ik, Seq("blk", "key"))
      .select(col("new_id"), col("corpus_id"),
        expr("bit_count(qh ^ ch)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .groupBy("new_id")
      .agg(min(struct(col("hamming"), col("corpus_id"))).as("best"))
      .select(col("new_id"), col("best.hamming").as("best_hamming"),
        col("best.corpus_id").as("best_match"))
  }

  val d09 = Q("d09_simhash_prod", simhashPairsSql(3)) { (s, d) =>
    val h = Width.spread(Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"), simhashCol(s).as("h"))
    val keyed = simhash16Keys(h)
    keyed.as("a").join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        expr("bit_count(a.h ^ b.h)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d08
  /** Connected components by iterative min-label propagation — the step
    * an actual dedup PIPELINE needs after pair generation: near-dup
    * pairs are edges, components are duplicate clusters, and the
    * min-doc_id label picks one deterministic keeper per cluster.
    *
    * Pregel-style dataflow: each round propagates labels across edges
    * (shuffle on src) and folds them with a map-side-combined min
    * (shuffle on node); `localCheckpoint` cuts the lineage so round N's
    * plan doesn't replay rounds 1..N-1. Rounds needed = component
    * diameter (dup clusters are shallow; the driver loop exits on a
    * fixpoint detected by counting changed labels — one scalar action
    * per round, short-circuited by limit(1), no row-level collect, and
    * immune to the Long-overflow aliasing a label-sum check has at
    * ~10^9 nodes). At 100 TB the same loop runs with the
    * alternating large-star/small-star optimisation; the dataflow shape
    * per round is identical. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // Materialise the edge list ONCE: every propagation round joins it,
    // and without the checkpoint each round would re-run the (expensive)
    // pair-generation query that produced the edges — twice, once per
    // union branch. Edge sets are tiny relative to the corpus (they are
    // the near-dup pairs), so this is cheap at any scale.
    val und = edges.select(col("i").as("src"), col("j").as("dst"))
      .union(edges.select(col("j").as("src"), col("i").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val prop = und.join(labels, und("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      val next = labels.union(prop)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint()
      // Fixpoint = no label changed this round, detected by a
      // join-and-count of differing labels: overflow-free at any node
      // count / label range (a label SUM wraps Long at ~10^9 nodes ×
      // ~10^12 labels and a wrapped delta can alias to "unchanged"),
      // `limit(1)` short-circuits on the first difference, and an empty
      // node set yields 0 and terminates (sum() was NULL there → NPE).
      val changed = next.as("n")
        .join(labels.as("p"), col("n.node") === col("p.node"))
        .filter(col("n.label") =!= col("p.label"))
        .limit(1).count()
      labels = next
      done = changed == 0L
      it += 1
    }
    // Silent truncation would emit split clusters (multiple keepers per
    // true cluster) that only an oracle run could notice — fail loudly
    // instead; components deeper than the budget need [[connectedComponentsStars]].
    if (!done) throw new IllegalStateException(
      s"label propagation did not converge in $maxIter rounds " +
        "(component diameter exceeds the budget); use connectedComponentsStars")
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the
    * web-scale variant of [[connectedComponents]]: label propagation
    * needs O(component diameter) rounds and funnels every hop through
    * the min node, while star contraction converges in O(log n) rounds
    * and rewires edges toward per-neighborhood minima, so no single
    * node's neighborhood has to absorb a long chain hop by hop.
    *
    * Per round, over a symmetric self-loop-free edge list:
    *  - '''large-star''': per node u, m = min(N(u) ∪ {u}); every
    *    strictly-greater neighbor v > u is rewired to (v, m);
    *  - '''small-star''': per node u over its smaller neighbors
    *    N⁻(u) = {v ∈ N(u) : v < u}, m = min(N⁻(u)); each v ∈ N⁻(u)
    *    rewires to (v, m) and u itself attaches as (u, m).
    *
    * Both steps are plain groupBy-min + equi-join dataflow — no
    * neighborhood collect_list, so a 10⁸-degree hub costs a shuffle,
    * not executor memory. Fixpoint = the edge set is unchanged across
    * a full round, detected by a (count, hash-sum) checksum that an
    * `Observation` reads off the small-star checkpoint's own job (the
    * hashes fold with `bit_xor` — overflow-free under ANSI mode and
    * order-independent; the edge set is distinct, so aliasing would
    * need a hash collision AND an equal count on a CHANGED set within
    * one round — not the monotone-counter aliasing a label sum has). At
    * the fixpoint the graph is a disjoint union of stars centered at
    * component minima, so label(v) = min(v, min neighbor). */
  def connectedComponentsStars(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val toSym = (e: DataFrame) =>
      e.union(e.select(col("v").as("u"), col("u").as("v"))
          .select(col("u"), col("v")))
        .filter(col("u") =!= col("v")).distinct()
    var e = toSym(edges.select(col("i").as("u"), col("j").as("v")))
      .localCheckpoint()
    var prev: Option[(Long, Long)] = None
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // large-star over the full neighborhood
      val minsFull = e.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = e.filter(col("v") > col("u")).join(minsFull, "u")
        .select(col("v").as("u"), col("m").as("v"))
      e = toSym(ls).localCheckpoint()
      // small-star over the strictly-smaller neighborhood
      val smaller = e.filter(col("v") < col("u"))
      val minsS = smaller.groupBy("u").agg(min("v").as("m"))
      val ss = smaller.join(minsS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
      val obs = Observation()
      e = toSym(ss).observe(obs, count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h"))
        .localCheckpoint()
      val m = obs.get
      val sig = (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
      done = prev.contains(sig)
      prev = Some(sig)
      it += 1
    }
    // Mirror the label-propagation guard: labels from a non-fixpoint
    // edge set would silently split clusters.
    if (!done) throw new IllegalStateException(
      s"star contraction did not converge in $maxIter rounds")
    val lbl = e.groupBy("u").agg(min("v").as("mv"))
      .select(col("u").as("node"), least(col("u"), col("mv")).as("label"))
    nodes.join(lbl, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** d08/d10 shared oracle: the same transitive closure as a recursive
    * CTE over the identical edge definition — so the ITERATION (both
    * iteration STRATEGIES), not just the pair generation, is
    * cross-engine checked. */
  private val clustersOracleSql =
    s"""WITH RECURSIVE $shinglesSql,
       |$clustersSql
       |SELECT doc_id, cluster, doc_id = cluster AS is_keeper
       |FROM clusters ORDER BY doc_id""".stripMargin

  private def clusterQuery(cc: (DataFrame, DataFrame) => DataFrame)(
      s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id").as("node"))
    val pairs = d02.run(s, d).select("i", "j")
    cc(docs, pairs)
      .select(col("node").as("doc_id"), col("label").as("cluster"),
        (col("node") === col("label")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Duplicate-cluster resolution over the d02 edge set: every document
    * gets its cluster id (min doc_id of its component) and a keeper
    * flag, via min-label propagation. */
  val d08 = Q("d08_dup_clusters", clustersOracleSql)(
    clusterQuery(connectedComponents(_, _)))

  /** The same cluster resolution via large-star/small-star contraction
    * ([[connectedComponentsStars]]) — the O(log n)-round algorithm a
    * 100 TB dedup would run; identical output, same DuckDB oracle, plus
    * a union-find property spec on random graphs. */
  val d10 = Q("d10_dup_clusters_stars", clustersOracleSql)(
    clusterQuery(connectedComponentsStars(_, _)))

  /** Shifted-copy corpus for [[d11]]: every doc gets one exact duplicate
    * under a distinct id — the input condition the cascade exists for.
    * The shift is max(doc_id)+1, derived from the data on BOTH engine
    * sides (a hardcoded offset would silently collide with real ids on a
    * larger corpus, and both engines would replicate the collision
    * identically — green oracle, corrupt semantics). The driver-side
    * max is one O(1) scalar action, same budget class as the d08/d10
    * fixpoint checks. */
  private[graft] def copyShift(base: DataFrame): Long =
    base.agg(max("doc_id")).head().getLong(0) + 1

  private def withExactCopies(base: DataFrame, shift: Long): DataFrame =
    base.union(base.select((col("doc_id") + shift).as("doc_id"), col("text")))

  // ---------------------------------------------------------------- d11
  /** Dedup CASCADE — exact-collapse before near-dup, the composition a
    * 100 TB pipeline actually runs, and the engineering answer to the
    * 16× scale-up's d09/s02 signature (SCALE.md "scale-up №2"): on a
    * duplicate-heavy corpus the near-dup PAIR OUTPUT is quadratic in
    * exact-duplicate group size — no candidate scheme can shrink an
    * answer. The cascade makes that blowup unreachable: (1) group by
    * content digest, keeper = min id (d01's operator); (2) run shingle
    * near-dup + star-contraction clustering over UNIQUE REPRESENTATIVES
    * only, so the pair join never sees a duplicate group; (3) rejoin
    * members to their rep's cluster — one linear equi-join, group size
    * k costs k rows, not k². Edge endpoints are semi-joined to the rep
    * set, so the restriction is structural, not assumed. The oracle
    * replays the whole cascade: digest groups, the SAME shared
    * shingle/closure CTEs as d08/d10 at the rep tier, and the member
    * expansion. */
  val d11 = Q("d11_dedup_cascade",
    s"""WITH RECURSIVE $shinglesSql,
       |$clustersSql,
       |all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
       |         text
       |  FROM documents),
       |grp AS (
       |  SELECT md5(text) AS digest, min(doc_id) AS rep
       |  FROM all_docs GROUP BY 1),
       |members AS (
       |  SELECT a.doc_id, g.rep FROM all_docs a
       |  JOIN grp g ON md5(a.text) = g.digest)
       |SELECT m.doc_id, m.rep, c.cluster
       |FROM members m JOIN clusters c ON c.doc_id = m.rep
       |ORDER BY m.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, d).select("doc_id", "text")
    val all = withExactCopies(base, copyShift(base))
    // r17 (guide §2.4): rep assignment is min(doc_id) over a digest
    // window — ONE md5 pass over the doubled corpus and ONE digest
    // exchange, replacing the former digest agg + digest self-join
    // (two md5 passes and two corpus-sized exchanges); materialised
    // because both the output join and the rep set consume it
    val members = all
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .withColumn("rep",
        min("doc_id").over(Window.partitionBy("digest")))
      .select("doc_id", "rep")
      .localCheckpoint()
    // one row per digest by construction (the digest's min doc_id),
    // so no distinct is needed
    val reps = members.filter(col("doc_id") === col("rep"))
      .select(col("doc_id").as("node")).localCheckpoint()
    val edges = d02.run(s, d).select("i", "j")
      .join(reps.select(col("node").as("i")), Seq("i"), "left_semi")
      .join(reps.select(col("node").as("j")), Seq("j"), "left_semi")
      .select("i", "j")
    val clusters = connectedComponentsStars(reps, edges)
    members.join(clusters, members("rep") === clusters("node"))
      .select(col("doc_id"), col("rep"), col("label").as("cluster"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d12
  /** Edit-distance verification of LSH candidates — the precision stage
    * after d03's recall stage: MinHash bands surface shingle-overlap
    * candidates cheaply; character-level Levenshtein then verifies them
    * exactly (catching the false band collisions shingle hashing lets
    * through). Both engines ship the classic DP `levenshtein` built-in
    * with identical integer semantics; the Spark side passes the
    * THRESHOLD overload (`levenshtein(a, b, k)`, SQL surface since
    * 3.5) — band-limited O(k·len) with early abort, returning −1 over
    * budget, so kept rows carry the exact distance and the filter
    * keeps the identical set the unbounded form would (r13 16× sweep:
    * the unbounded form ground a 31-minute straggler task on a
    * dup-heavy corpus; thresholded, the whole verify is seconds). The
    * expensive comparison runs ONLY on the candidate set — never all
    * pairs — and candidates are re-hashed across the cluster before
    * the verify so a hot LSH band cannot serialise it. On dup-heavy
    * corpora the candidate count itself is quadratic in the
    * duplication factor — that term belongs to the data, and the
    * cascade ordering (d11: exact dedup BEFORE shingling) is the
    * production mitigation. */
  val EditDistThreshold = 40L

  /** Partition count for CPU-dense comparator stages (d12/d17 verify):
    * the session's shuffle width, pinned EXPLICITLY so AQE cannot
    * bytes-coalesce a stage whose cost is DP work per row, not I/O. */
  private def verifyParallelism(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions", "32").toInt

  val d12 = Q("d12_lsh_editdist",
    s"""WITH $shinglesSql,
       |$lshCandSql
       |SELECT c.i, c.j,
       |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
       |FROM lshcand c
       |JOIN documents da ON da.doc_id = c.i
       |JOIN documents db ON db.doc_id = c.j
       |WHERE levenshtein(da.text, db.text) <= $EditDistThreshold
       |ORDER BY c.i, c.j""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    d03.run(s, d)
      .join(docs.select(col("doc_id").as("i"), col("text").as("ta")), "i")
      .join(docs.select(col("doc_id").as("j"), col("text").as("tb")), "j")
      // decouple verify parallelism from the band-join's partitioning
      // with an EXPLICIT partition count: the comparator's cost is
      // CPU-per-row (O(k·len) DP), which breaks AQE's bytes-based
      // sizing — left to coalesce, AQE folds the whole candidate set
      // into 1-2 partitions (~128 MB of compressed text) and
      // serialises minutes of DP onto one task (the r13 16× straggler)
      .repartition(verifyParallelism(s), col("i"), col("j"))
      .select(col("i"), col("j"),
        levenshtein(col("ta"), col("tb"), EditDistThreshold.toInt)
          .cast("long").as("edit_dist"))
      // checkpoint BEFORE filtering: predicate pushdown would
      // substitute edit_dist's alias and evaluate the DP inside the
      // band-join stage below the repartition — precisely the
      // coalesced stage the explicit spread exists to avoid; the
      // barrier pins the comparator to the 32-way stage and the
      // filter to the tiny (i, j, edit_dist) rows
      .localCheckpoint()
      // thresholded lev returns −1 over budget: keep [0, k] — the
      // exact set (with exact distances) the unbounded form keeps
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= EditDistThreshold)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d13
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering the embedding space, then pruning
    * near-duplicate pairs WITHIN clusters only. This is the linear-cost
    * production sibling of [[d04]]'s global O(n²) validation twin: the
    * pair comparison is an equi-join on the trained cluster id, so its
    * cost is Σ|cluster|² — at 100 TB, k scales with the corpus
    * (k ≈ n/10⁴ keeps clusters bounded), the centroid table stays
    * broadcast-size per Lloyd round, and no vector is ever compared
    * across clusters. Training reuses [[Similarity.kmeansLloyd]] (two
    * rounds, same as s06/s07); the keep rule is deterministic — a vector
    * is pruned iff a SMALLER-id co-clustered vector sits at cosine
    * ≥ 0.4 (d04's threshold, double-precision arithmetic, so a last-ulp
    * wobble can't flip a row unless a cosine sits exactly on the
    * threshold). The oracle chains s06's two-round training CTEs and
    * s07's shared trained-assignment CTEs into the pruning predicate:
    * training, assignment, and pruning are one cross-engine statement.
    * DedupSpec pins the containment law (pruned ⊆ d04's global
    * greater-id near-dup set) and logs the co-cluster recall. */
  val d13 = Q("d13_semdedup",
    s"""WITH ${Similarity.lloyd2Ctes},
       |${Similarity.retrainedAssignCtes},
       |m AS (
       |  SELECT a.vec_id, a.cid, e.embedding
       |  FROM assign2 a JOIN e ON e.vec_id = a.vec_id),
       |rem AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${Similarity.cosSql("a", "b")} >= 0.4)
       |SELECT m.vec_id, m.cid, rem.vec_id IS NULL AS kept
       |FROM m LEFT JOIN rem ON rem.vec_id = m.vec_id
       |ORDER BY m.vec_id""".stripMargin) { (s, d) =>
    val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (means, _, _) = Similarity.kmeansLloyd(e0, maxIters = 2)
    val c = Similarity.pivotCentroids(means).localCheckpoint()
    val e = Similarity.doubleVecs(e0).localCheckpoint()
    // checkpointed: m feeds both sides of the pair join AND the final
    // left join — without it the broadcast-assignment window runs 3×
    val m = Similarity.assignD(e, c).select("vec_id", "cid")
      .join(e, "vec_id").localCheckpoint()
    val rem = m.as("a")
      .join(m.as("b"), col("a.cid") === col("b.cid") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(expr("cosine_sim_d(a.embedding, b.embedding)") >= 0.4)
      .select(col("b.vec_id").as("vec_id")).distinct()
    m.select("vec_id", "cid")
      .join(rem.withColumn("pruned", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("pruned").isNull.as("kept"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- d14
  /** Span width (tokens) for [[d14]]'s duplicate-span excision. */
  val DupSpanW = 5

  /** Exact duplicate-SPAN removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr idea
    * at token granularity): instead of dropping whole near-duplicate
    * documents, excise every W-token span that also appears verbatim in
    * ANOTHER document, keeping the unique remainder. Complements
    * d01–d13: those decide per document; this repairs documents that
    * are mostly unique but share boilerplate spans.
    *
    * Dataflow: positioned W-gram explode → one shingle-count shuffle
    * (map-side combine) finds cross-doc spans (within-doc repeats don't
    * count — `count(DISTINCT doc_id) > 1`); duplicated occurrences
    * explode to their covered positions, collected per doc into a
    * removal-position array that joins back broadcast; the excision
    * itself is a higher-order `filter(w, (x, i) -> ...)` inside the
    * corpus scan's stage, so the corpus body is never shuffled — at
    * 100 TB the cost is the shingle aggregation plus a map pass. (On a
    * duplicate-SATURATED corpus the removal table grows with dup
    * volume; the broadcast then becomes a plain doc_id equi-join —
    * flagged in the docstring rather than hit at bench time: sf0.1
    * carries ~2k removal rows.) Docs shorter than W tokens emit no
    * shingles and pass through intact; a fully-duplicated doc collapses
    * to the empty string — `md5('')` pins that case cross-engine. The
    * cleaned text is checked by md5, so every kept byte is oracled. */
  val d14 = Q("d14_dupspan_removal",
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |         len(string_split(text, ' ')) AS n
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, i AS pos, w[i + 1] AS tok
       |  FROM toks, unnest(range(n)) AS u(i)),
       |sh AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(list_slice(w, i + 1, i + $DupSpanW), ' ') AS s
       |  FROM toks, unnest(range(n - $DupSpanW + 1)) AS u(i)
       |  WHERE n >= $DupSpanW),
       |dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) > 1),
       |rm AS (
       |  SELECT DISTINCT sh.doc_id, sh.pos + o AS rm
       |  FROM sh JOIN dup USING (s), unnest(range($DupSpanW)) AS v(o)),
       |kept AS (
       |  SELECT p.doc_id, p.pos, p.tok
       |  FROM pos p ANTI JOIN rm r ON r.doc_id = p.doc_id AND r.rm = p.pos),
       |clean AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS h
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
       |  CAST(t.n - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
       |  coalesce(c.h, md5('')) AS clean_hash
       |FROM toks t LEFT JOIN clean c USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val W = DupSpanW
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")).cast("long"))
    val sh = docs.filter(col("n") >= W)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("n") - W)).as("pos"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ",
          slice(col("w"), (col("pos") + 1).cast("int"), lit(W))).as("s"))
    val dup = sh.groupBy("s")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1).select("s")
    val rmPerDoc = sh.join(broadcast(dup), "s")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (W - 1))).as("rm"))
      .groupBy("doc_id").agg(collect_set("rm").as("rms"))
    docs.join(broadcast(rmPerDoc), Seq("doc_id"), "left")
      .withColumn("rms", coalesce(col("rms"), typedlit(Seq.empty[Long])))
      .withColumn("kept",
        expr("filter(w, (x, i) -> NOT array_contains(rms, CAST(i AS BIGINT)))"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        (col("n") - size(col("kept"))).cast("long").as("n_removed"),
        md5(array_join(col("kept"), " ")).as("clean_hash"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d15
  /** Best-of-cluster representative selection: each duplicate cluster
    * (d08's min-label components) keeps its HIGHEST-QUALITY member
    * (t02's score), not its lowest doc_id. Production dedup pipelines
    * select representatives this way — "first seen" is an accident of
    * crawl order, and keeping the best-scoring duplicate measurably
    * improves the retained corpus. Ties break on doc_id so selection is
    * deterministic.
    *
    * The oracle composes d08's recursive-CTE closure and t02's quality
    * SQL verbatim (the p07/ml03 zero-drift technique): the cluster and
    * score DEFINITIONS cannot diverge from the operators they compose,
    * so this query re-checks both every round.
    *
    * Scale: rides d08's O(log n)-round clustering; the selection itself
    * is one cluster-keyed window + member count — no corpus-global
    * ordering, no driver state. At 100 TB the cluster table is the
    * already-computed dedup artifact; this pass adds one keyed shuffle. */
  val d15 = Q("d15_best_of_cluster",
    s"""WITH RECURSIVE $shinglesSql,
       |$clustersSql,
       |t02o AS (${graft.ops.TextAnalysis.t02.oracle.get}),
       |joined AS (
       |  SELECT c.cluster, c.doc_id, q.quality
       |  FROM clusters c JOIN t02o q USING (doc_id))
       |SELECT cluster, doc_id AS best_doc, quality AS best_quality,
       |  n_members
       |FROM (
       |  SELECT cluster, doc_id, quality,
       |    row_number() OVER (PARTITION BY cluster
       |                       ORDER BY quality DESC, doc_id) AS rn,
       |    CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
       |  FROM joined)
       |WHERE rn = 1
       |ORDER BY cluster""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val clusters = d08.run(s, d).select("doc_id", "cluster")
    val quality = graft.ops.TextAnalysis.t02.run(s, d)
      .select("doc_id", "quality")
    val byCluster = Window.partitionBy("cluster")
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(
        byCluster.orderBy(col("quality").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster).cast("long"))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("best_doc"),
        col("quality").as("best_quality"), col("n_members"))
      .orderBy("cluster")
  }

  // ---------------------------------------------------------------- d17
  /** d12's LSH verification with the BANDED bounded edit distance
    * ([[graft.functions.EditDistance]]) in place of the full-table
    * `levenshtein`: callers only ask "≤ 40?", so the verifier computes
    * `min(lev, 41)` in O(k·min-len) with an early exit — mismatched
    * candidates (the majority under any recall-first blocking) cost
    * ~O(k²) instead of O(n·m). Output-identical to d12 by construction
    * (`min(lev, k+1)` preserves every distance ≤ k and the filter keeps
    * only those), so the oracle is d12's VERBATIM — the d08/d10
    * same-answer convention — and `FunctionsSpec` pins the
    * `bounded == min(levenshtein, k+1)` law against Spark's built-in on
    * adversarial cases. The expression codegens as a static call (the
    * built-in Levenshtein's own pattern): the verify predicate stays
    * inside whole-stage codegen. */
  val d17 = Q("d17_lsh_editdist_banded", d12.oracle.get) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    d03.run(s, d)
      .join(docs.select(col("doc_id").as("i"), col("text").as("ta")), "i")
      .join(docs.select(col("doc_id").as("j"), col("text").as("tb")), "j")
      // same skew/AQE decoupling as d12: explicit-count spread of the
      // CPU-dense verify over the pair hash
      .repartition(verifyParallelism(s), col("i"), col("j"))
      .select(col("i"), col("j"),
        expr(s"bounded_edit_distance(ta, tb, $EditDistThreshold)")
          .cast("long").as("edit_dist"))
      // same pushdown barrier as d12 (see there): keep the DP in the
      // explicitly-partitioned stage
      .localCheckpoint()
      .filter(col("edit_dist") <= EditDistThreshold)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d16
  /** Containment detection — the ASYMMETRIC near-dup measure Jaccard is
    * blind to: an excerpt quoted inside a much larger document scores
    * `C(A,B) = |S(A)∩S(B)| / |S(A)| ≈ 1` while its Jaccard stays near
    * `|A|/|B| ≈ 0`, below every d02/d06 threshold. Training pipelines
    * run this to catch quote/excerpt duplication (a news wire quoted in
    * 40 articles, a licence header, a benchmark question embedded in a
    * crawl page — the decontamination case t07 handles with the
    * roles fixed) that symmetric dedup provably cannot see.
    *
    * Demo ground truth is built the d01 way (the synthetic corpus has no
    * natural excerpts): every 7th document contributes its first-half
    * word prefix as an excerpt, and since prefix shingles are a subset
    * of the source's shingles, the source must surface at containment
    * exactly 1.0 — `DedupSpec` pins that, plus the asymmetry case d02
    * misses.
    *
    * Scale: the excerpt side probes the corpus shingle inverted index as
    * an equi join on the shingle — d02's candidate shape with the roles
    * asymmetric — and d06's df-cap (stop-shingles with document
    * frequency > 50 dropped from BOTH sides, so the ratio stays
    * consistent) bounds per-shingle fanout at df², keeping the join cost
    * predictable when both sides are corpus-scale. The denominator is
    * the excerpt's KEPT-shingle count — integers divided once, so the
    * double is bit-identical cross-engine (d02's discipline). */
  val d16 = Q("d16_containment",
    s"""WITH $shinglesSql,
       |sdf AS (SELECT s FROM shingles GROUP BY s HAVING count(*) <= 50),
       |docsh AS (SELECT doc_id, s FROM shingles JOIN sdf USING (s)),
       |exw AS (
       |  SELECT doc_id AS ex_id,
       |    list_slice(w, 1, CAST(ceil(len(w) / 2.0) AS BIGINT)) AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE doc_id % 7 = 0 AND len(w) >= 6),
       |exsh AS (
       |  SELECT DISTINCT ex_id,
       |    unnest(list_transform(generate_series(1, len(w) - 2),
       |      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
       |  FROM exw),
       |exkept AS (SELECT ex_id, s FROM exsh JOIN sdf USING (s)),
       |exn AS (SELECT ex_id, count(*) AS c FROM exkept GROUP BY ex_id),
       |common AS (
       |  SELECT e.ex_id, d.doc_id, count(*) AS common
       |  FROM exkept e JOIN docsh d USING (s)
       |  GROUP BY 1, 2)
       |SELECT c.ex_id, c.doc_id,
       |  CAST(common AS DOUBLE) / n.c AS containment
       |FROM common c JOIN exn n USING (ex_id)
       |WHERE CAST(common AS DOUBLE) / n.c >= 0.9
       |ORDER BY ex_id, doc_id""".stripMargin) { (s, d) =>
    // r16: same materialise-once as d06 (toggle A/B measured d16 1.41×
    // slower with the spread shingle subtree recomputed per consumer)
    val sh = shingles(Tables.documents(s, d)).localCheckpoint()
    val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("s")
    val docsh = sh.join(rare, "s")
    val exsh = Tables.documents(s, d)
      .select(col("doc_id").as("ex_id"), split(col("text"), " ").as("w"))
      .filter(col("ex_id") % 7 === 0 && size(col("w")) >= 6)
      .select(col("ex_id"),
        slice(col("w"), lit(1),
          ceil(size(col("w")) / 2.0).cast("int")).as("w"))
      .select(col("ex_id"), explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct()
    val exkept = exsh.join(rare, "s")
    val exn = exkept.groupBy("ex_id").agg(count(lit(1)).as("c"))
    exkept.as("e")
      .join(docsh.as("h"), col("e.s") === col("h.s"))
      .groupBy(col("e.ex_id").as("ex_id"), col("h.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("common"))
      .join(exn, "ex_id")
      .select(col("ex_id"), col("doc_id"),
        (col("common").cast("double") / col("c")).as("containment"))
      .filter(col("containment") >= 0.9)
      .orderBy("ex_id", "doc_id")
  }

  // ---------------------------------------------------------------- d18
  /** Exact Jaccard self-join via PREFIX FILTERING (Chaudhuri et al. 2006;
    * Xiao et al.'s PPJoin family) — the third candidate-generation
    * discipline next to the df-cap (d06) and MinHash-LSH (d03), and the
    * only one that is simultaneously EXACT and sub-quadratic: unlike d06
    * it drops no shingles (no recall trade), unlike d03 it has no
    * probabilistic miss rate.
    *
    * The lemma: order the shingle vocabulary by (document frequency ASC,
    * shingle ASC) — rarest first — and let each doc expose only its first
    * `|x| − ⌈t·|x|⌉ + 1` shingles in that order (its "prefix"). Any pair
    * with Jaccard ≥ t shares ≥ ⌈t·max(|A|,|B|)⌉ shingles, and two sets
    * overlapping that much MUST collide inside these prefixes
    * (pigeonhole on the shared total order), so the prefix equi-join
    * loses no qualifying pair; exact Jaccard verification on the full
    * sets then removes false positives — output provably identical to
    * d02's all-shingle join (spec-pinned).
    *
    * Scale: the join fans out on PREFIX tokens only, and the global
    * order puts each doc's RAREST shingles in its prefix — candidate
    * cost is Σ df_prefix² over low-df shingles instead of d02's Σ df²
    * over all of them (measured in `DedupSpec`: 14,941 → 317 candidate
    * pairs at sf0.001, a 47× cut — and the gap widens with corpus size
    * as boilerplate df grows). No global rank is ever
    * materialised: the (df, s) order is evaluated inside a doc-keyed
    * window, so the vocabulary-sized df table is the only extra state.
    * ⌈4c/5⌉ is computed as `(4c+4) DIV 5` — integer in both engines. */
  val d18 = Q("d18_prefix_filter_join",
    s"""WITH $shinglesSql,
       |dfreq AS (SELECT s, count(*) AS df FROM shingles GROUP BY s),
       |counts AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),
       |pref AS (
       |  SELECT doc_id, s FROM (
       |    SELECT sh.doc_id, sh.s, counts.c,
       |      row_number() OVER (PARTITION BY sh.doc_id
       |                         ORDER BY dfreq.df, sh.s) AS rn
       |    FROM shingles sh JOIN dfreq USING (s) JOIN counts USING (doc_id)) r
       |  WHERE rn <= c - (4 * c + 4) // 5 + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM pref a JOIN pref b USING (s)
       |  WHERE a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT p.i, p.j, count(*) AS common
       |  FROM cand p
       |  JOIN shingles a ON a.doc_id = p.i
       |  JOIN shingles b ON b.doc_id = p.j AND b.s = a.s
       |  GROUP BY 1, 2)
       |SELECT i, j,
       |       CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
       |FROM pairs
       |JOIN counts ca ON ca.doc_id = i
       |JOIN counts cb ON cb.doc_id = j
       |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // five consumers (df table, doc counts, the prefix join, both sides
    // of the verify) — materialise the shingle explode once
    val sh = shingles(Tables.documents(s, d)).localCheckpoint()
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val pref = sh.join(dfreq, "s").join(counts, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "s")))
      .filter(col("rn") <= col("c") - expr("(4 * c + 4) DIV 5") + 1)
      .select("doc_id", "s")
    val cand = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    val common = cand
      .join(sh.as("sa"), col("i") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("j") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy("i", "j").agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("ca.c") + col("cb.c") - col("common"))
    common
      .join(counts.as("ca"), col("i") === col("ca.doc_id"))
      .join(counts.as("cb"), col("j") === col("cb.doc_id"))
      .select(col("i"), col("j"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d22
  /** d18's PRODUCTION tier (r15 verdict ask #6): prefix filtering over
    * the DF-CAPPED shingle domain — the d02→d06 / d05→d09
    * validation-vs-production pattern applied to the prefix-filter
    * discipline, closing the one dedup family that had no capped
    * sibling. d18 is exact over ALL shingles, so a boilerplate shingle
    * shared by 10⁵ docs can put itself into many prefixes and its df²
    * into the candidate join; the cap (df ≤ 50, d06's constant)
    * removes stop-shingles from the domain FIRST, so per-token fanout
    * is bounded at df² ≤ 2500 with the prefix lemma intact on the
    * surviving sets — candidate cost is predictable at corpus scale by
    * CONSTRUCTION, not by corpus luck.
    *
    * The law that makes it production-grade rather than merely cheap:
    * capped-domain Jaccard ≥ 0.8 is exactly what [[d06]] computes, and
    * prefix filtering loses no qualifying pair on the capped sets
    * (same pigeonhole, applied after the cap) — so d22's answer is
    * IDENTICAL to d06's, pair for pair and value for value
    * (`DedupSpec` pins equality; the oracle re-derives the prefix
    * chain so the candidate route itself is under the hash gate).
    * Same integer-prefix-length arithmetic as d18. */
  val d22 = Q("d22_prefix_filter_capped",
    s"""WITH $shinglesSql,
       |kept AS (
       |  SELECT doc_id, s FROM shingles
       |  WHERE s IN (SELECT s FROM shingles GROUP BY s HAVING count(*) <= 50)),
       |dfreq AS (SELECT s, count(*) AS df FROM kept GROUP BY s),
       |counts AS (SELECT doc_id, count(*) AS c FROM kept GROUP BY doc_id),
       |pref AS (
       |  SELECT doc_id, s FROM (
       |    SELECT k.doc_id, k.s, counts.c,
       |      row_number() OVER (PARTITION BY k.doc_id
       |                         ORDER BY dfreq.df, k.s) AS rn
       |    FROM kept k JOIN dfreq USING (s) JOIN counts USING (doc_id)) r
       |  WHERE rn <= c - (4 * c + 4) // 5 + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM pref a JOIN pref b USING (s)
       |  WHERE a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT p.i, p.j, count(*) AS common
       |  FROM cand p
       |  JOIN kept a ON a.doc_id = p.i
       |  JOIN kept b ON b.doc_id = p.j AND b.s = a.s
       |  GROUP BY 1, 2)
       |SELECT i, j,
       |       CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
       |FROM pairs
       |JOIN counts ca ON ca.doc_id = i
       |JOIN counts cb ON cb.doc_id = j
       |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // d18's dataflow over the capped domain; one materialisation of
    // the capped explode serves the df table, doc counts, prefix join
    // and both verify sides
    val sh0 = shingles(Tables.documents(s, d)).localCheckpoint() // r16:
    // feeds the df table AND the capped join — materialise once (the
    // d06/d16 toggle-A/B lesson)
    val rare = sh0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("s")
    val sh = sh0.join(rare, "s").localCheckpoint()
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val pref = sh.join(dfreq, "s").join(counts, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "s")))
      .filter(col("rn") <= col("c") - expr("(4 * c + 4) DIV 5") + 1)
      .select("doc_id", "s")
    val cand = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    val common = cand
      .join(sh.as("sa"), col("i") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("j") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy("i", "j").agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("ca.c") + col("cb.c") - col("common"))
    common
      .join(counts.as("ca"), col("i") === col("ca.doc_id"))
      .join(counts.as("cb"), col("j") === col("cb.doc_id"))
      .select(col("i"), col("j"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- d19
  /** Content-defined chunking dedup (Rabin/FastCDC-class, Muthitacharoen
    * et al. 2001 LBFS) — the STORAGE-granularity dedup arm d01–d18 lack:
    * instead of whole documents (d01) or similarity pairs (d02+), split
    * every document at content-determined byte positions and deduplicate
    * the CHUNKS corpus-wide — the mechanism behind dedup storage,
    * delta-sync, and chunk-level corpus diffing, and the reason inserts
    * don't re-shift every boundary (a fixed-width blocking would).
    *
    * Boundary rule: cut AFTER byte position p+7 wherever the k=8-gram
    * hash at p ≡ 0 (mod 32) — expected chunk ≈ 32 bytes on random
    * text. The predicate is position-LOCAL (no min/max-size clamp,
    * which would make boundaries depend on earlier boundaries — this
    * variant keeps the boundary set embarrassingly parallel and the
    * oracle exact; a clamped FastCDC adds a per-doc sequential pass
    * with the same downstream dataflow). Hash family switches like
    * t05/d05: md5 60-bit heads by default (full DuckDB oracle), the
    * O(n) Rabin–Karp rolling family + FNV chunk ids under
    * `spark.graft.fasthash` — the production path the bench measures
    * (the md5-per-position formulation costs a digest per byte).
    * Chunking is one doc-local `mapPartitions` pass — zero shuffle
    * until chunks exist. Ownership: the corpus-wide first occurrence
    * (min packed `doc_id·10⁶ + pos`) owns each distinct chunk; every
    * other instance is dup. One shuffle keyed by chunk hash (state =
    * distinct chunks, the dedup-storage index), one doc-keyed join for
    * source attribution, then a ≤|sources|-row rollup: per source,
    * chunk/byte counts, dup chunks/bytes and dup ppm — the byte-level
    * savings ledger an archiver reports. */
  val d19 = Q("d19_cdc_chunks",
    """WITH b AS (
      |  SELECT doc_id, list_sort(list(i + 8)) AS cuts FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(1, len(text) - 7)) AS i
      |    FROM documents) g
      |  WHERE CAST('0x' || substr(md5(substr(text, i, 8)), 1, 15) AS BIGINT)
      |        % 32 = 0
      |  GROUP BY doc_id),
      |c AS (
      |  SELECT d.doc_id, d.source, d.text,
      |    list_prepend(1, coalesce(b.cuts, [])) AS starts,
      |    list_append(coalesce(b.cuts, []), len(d.text) + 1) AS ends
      |  FROM documents d LEFT JOIN b USING (doc_id)),
      |ks AS (
      |  SELECT doc_id, source, text, starts, ends,
      |    unnest(generate_series(1, len(starts))) AS k
      |  FROM c),
      |ch AS (
      |  SELECT doc_id, source, starts[k] AS pos,
      |    ends[k] - starts[k] AS clen,
      |    md5(substr(text, starts[k], ends[k] - starts[k])) AS chash
      |  FROM ks WHERE ends[k] > starts[k]),
      |own AS (
      |  SELECT chash, min(doc_id * 1000000 + pos) AS owner_key
      |  FROM ch GROUP BY chash)
      |SELECT ch.source,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(ch.clen) AS BIGINT) AS bytes,
      |  CAST(sum(CASE WHEN ch.doc_id * 1000000 + ch.pos <> o.owner_key
      |                THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
      |  CAST(sum(CASE WHEN ch.doc_id * 1000000 + ch.pos <> o.owner_key
      |                THEN ch.clen ELSE 0 END) AS BIGINT) AS dup_bytes,
      |  CAST((sum(CASE WHEN ch.doc_id * 1000000 + ch.pos <> o.owner_key
      |                 THEN ch.clen ELSE 0 END) * 1000000)
      |    // sum(ch.clen) AS BIGINT) AS dup_bytes_ppm
      |FROM ch JOIN own o USING (chash)
      |GROUP BY ch.source
      |ORDER BY ch.source""".stripMargin) { (s, d) =>
    import s.implicits._
    // hash family switch (the t05/d05 discipline): md5 heads for the
    // oracle tier; O(n) Rabin-Karp boundaries + FNV chunk ids under
    // spark.graft.fasthash (the bench's production path - the md5-per-
    // position formulation measured 11.7 s at sf0.1, this one 8x less)
    val md5Mode = !s.conf.get("spark.graft.fasthash", "false").toBoolean
    val ch = Tables.documents(s, d)
      .select("doc_id", "source", "text").as[(Long, String, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, src, text) =>
          graft.functions.TextFunctions.cdcSpans(text, md5Mode = md5Mode)
            .iterator.map { case (pos, len) =>
              val chunk = text.substring(pos - 1, pos - 1 + len)
              val chash =
                if (md5Mode) {
                  md.reset()
                  md.digest(chunk.getBytes("UTF-8"))
                    .map("%02x".format(_)).mkString
                } else java.lang.Long.toHexString(
                  graft.functions.SimHash64.fnvHash64(chunk.getBytes("UTF-8")))
              (id, src, pos, len, chash)
            }
        }
      }
      .toDF("doc_id", "source", "pos", "clen", "chash")
    val own = ch.groupBy("chash")
      .agg(min(col("doc_id") * 1000000 + col("pos")).as("owner_key"))
    val isDup = (col("doc_id") * 1000000 + col("pos")) =!= col("owner_key")
    ch.join(own, "chash")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(col("clen")).cast("long").as("bytes"),
        sum(when(isDup, 1L).otherwise(0L)).cast("long").as("dup_chunks"),
        sum(when(isDup, col("clen")).otherwise(0L)).cast("long")
          .as("dup_bytes"))
      .select(col("source"), col("n_chunks"), col("bytes"), col("dup_chunks"),
        col("dup_bytes"),
        expr("(dup_bytes * 1000000) DIV bytes").as("dup_bytes_ppm"))
      .orderBy("source")
  }

  /** S-curve collision probability `1 − (1 − s^r)^b` at similarity s,
    * micro-quantised — evaluated ONCE here and emitted as the same
    * literal into both engines (the g11 literal-table discipline: no
    * runtime transcendental, no cross-engine rounding surface). */
  private def sCurvePpm(s: Double, b: Int, r: Int): Long =
    math.round((1.0 - math.pow(1.0 - math.pow(s, r), b)) * 1e6)

  // ---------------------------------------------------------------- d20
  /** LSH parameter-tuning table — the diagnostic that DECIDES d03's
    * banding before a 100 TB dedup runs (er03's role, played for the
    * MinHash tier): every (bands, rows) factorisation of the K=8
    * signature family evaluated on three axes at once —
    *  - `workload`: Σ_buckets C(n,2), the candidate-join cost the
    *    cluster actually pays (the metric that explodes when banding
    *    is too permissive);
    *  - `n_candidates`: distinct surfaced pairs (the dedup's input);
    *  - `recall_ppm`: measured coverage of the EXACT d02 ground truth
    *    (Jaccard ≥ 0.8), the quantity banding trades against workload;
    * plus the theoretical S-curve `1−(1−s^r)^b` at s = 0.5/0.8 in ppm
    * (literals shared by both engines — the no-runtime-`ln` discipline)
    * so measured recall can be read against the curve that predicted
    * it. One signature pass (the d03 fused scan) serves ALL configs;
    * per config the bands differ only in how the SAME K minhashes
    * concatenate — bucket stats are hash aggs, the ground-truth join is
    * pair-table-sized. A diagnostic pass runs on a sample at scale (the
    * er03 convention); the (8,1) row is the cautionary tale the table
    * exists to show. The driver touches only the seven per-config
    * scalars (the d08 O(1)-fixpoint discipline — the output IS the
    * 4-row report card). */
  val d20 = Q("d20_lsh_tuning", {
    val configs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
    val cfgSql = configs.map { case (nb, nr) =>
      val bands = (0 until nb).map { b =>
        s"SELECT doc_id, $b AS band, concat_ws('_', ${(0 until nr)
          .map(r => s"h${b * nr + r}").mkString(", ")}) AS sig FROM sigs"
      }.mkString("\n    UNION ALL\n    ")
      s"""  SELECT $nb AS b, $nr AS r,
         |    (SELECT coalesce(sum(n * (n - 1) // 2), 0) FROM (
         |       SELECT count(*) AS n FROM ($bands) GROUP BY band, sig)) AS workload,
         |    (SELECT count(*) FROM (
         |       SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
         |       FROM ($bands) x JOIN ($bands) y
         |         ON x.band = y.band AND x.sig = y.sig
         |        AND x.doc_id < y.doc_id)) AS n_candidates,
         |    (SELECT CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 0
         |       ELSE count(*) * 1000000 // (SELECT count(*) FROM truth) END AS BIGINT)
         |     FROM truth t JOIN (
         |       SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
         |       FROM ($bands) x JOIN ($bands) y
         |         ON x.band = y.band AND x.sig = y.sig
         |        AND x.doc_id < y.doc_id) c
         |       ON c.i = t.i AND c.j = t.j) AS recall_ppm,
         |    ${sCurvePpm(0.5, nb, nr)} AS p50_ppm,
         |    ${sCurvePpm(0.8, nb, nr)} AS p80_ppm""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $shinglesSql,
       |sigs AS (
       |  SELECT doc_id, ${(0 until K).map(j =>
      s"min(${minhash64Sql(j)}) AS h$j").mkString(", ")}
       |  FROM shingles GROUP BY doc_id),
       |counts AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),
       |truth AS (
       |  SELECT p.i, p.j FROM (
       |    SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
       |    FROM shingles a JOIN shingles b USING (s)
       |    WHERE a.doc_id < b.doc_id GROUP BY 1, 2) p
       |  JOIN counts ca ON ca.doc_id = p.i
       |  JOIN counts cb ON cb.doc_id = p.j
       |  WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8)
       |SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
       |  CAST(workload AS BIGINT) AS workload,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  recall_ppm, p50_ppm, p80_ppm
       |FROM (
       |$cfgSql)
       |ORDER BY b DESC""".stripMargin
  }) { (s, d) =>
    val sh = Width.spread(Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct()
      .localCheckpoint()
    val sigs = sh.groupBy("doc_id")
      .agg(min(minhash64(col("s"), 0)).as("h0"),
        (1 until K).map(j => min(minhash64(col("s"), j)).as(s"h$j")): _*)
      .localCheckpoint()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val truth = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("common"))
      .join(counts.as("ca"), col("i") === col("ca.doc_id"))
      .join(counts.as("cb"), col("j") === col("cb.doc_id"))
      .filter(col("common").cast("double") /
        (col("ca.c") + col("cb.c") - col("common")) >= 0.8)
      .select("i", "j")
      .localCheckpoint()
    val nTruth = truth.count()
    // ALL configs evaluate over one config-tagged band table: one bucket
    // agg, one banded self-join, one truth join - 3 jobs for the whole
    // sweep instead of 3 per config. One explode yields a doc's 15
    // (cfg, band) rows, so each consumer scans sigs once
    val configs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
    val bandsAll = sigs.select(col("doc_id"), explode(array(
      configs.flatMap { case (nb, nr) =>
        (0 until nb).map { b =>
          struct(lit(nb * 100 + nr).as("cfg"), lit(b).as("band"),
            concat_ws("_", (0 until nr).map(r => col(s"h${b * nr + r}")): _*)
              .as("sig"))
        }
      }: _*)).as("bd"))
      .select(col("bd.cfg").as("cfg"), col("doc_id"),
        col("bd.band").as("band"), col("bd.sig").as("sig"))
    val workloads = bandsAll.groupBy("cfg", "band", "sig")
      .agg(count(lit(1)).as("n"))
      .groupBy("cfg")
      .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("w"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val candAll = bandsAll.as("x")
      .join(bandsAll.as("y"), col("x.cfg") === col("y.cfg") &&
        col("x.band") === col("y.band") &&
        col("x.sig") === col("y.sig") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.cfg").as("cfg"), col("x.doc_id").as("i"),
        col("y.doc_id").as("j"))
      .distinct()
    // r17: candidate count and truth coverage fold into ONE action — a
    // left join against the (checkpointed) truth set with a presence
    // marker counts both at once, so the banded self-join runs once
    // and candAll no longer needs its own checkpoint (two jobs + one
    // materialisation fewer; guide §1.2 step 1)
    val candStats = candAll
      .join(truth.withColumn("t", lit(true)), Seq("i", "j"), "left")
      .groupBy("cfg")
      .agg(count(lit(1)).as("n"), count(col("t")).as("hit"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nCand = candStats.view.mapValues(_._1).toMap
    val caught = candStats.view.mapValues(_._2).toMap
    val rows = configs.map { case (nb, nr) =>
      val k = nb * 100 + nr
      val recall = if (nTruth == 0) 0L
      else caught.getOrElse(k, 0L) * 1000000L / nTruth
      (nb.toLong, nr.toLong, workloads.getOrElse(k, 0L),
        nCand.getOrElse(k, 0L), recall,
        sCurvePpm(0.5, nb, nr), sCurvePpm(0.8, nb, nr))
    }
    import s.implicits._
    rows.toDF("b", "r", "workload", "n_candidates", "recall_ppm",
      "p50_ppm", "p80_ppm")
      .orderBy(col("b").desc)
  }

  // ---------------------------------------------------------------- d21
  /** Dup verdict threshold in ppm ( = d02's 0.8 Jaccard, integerised). */
  private val IncDupPpm = 800000L

  /** Incremental dedup against a fingerprint INDEX — the production
    * ingest shape none of d01–d20 exercise: a new batch (doc_id % 4 = 0,
    * the frozen-derivation split) is deduped against the ALREADY-INDEXED
    * corpus (the other ¾) without ever rescanning it. The old side
    * exists only as its LSH band index (band, sig, doc_id — d03's exact
    * signature definition, shared so the index cannot drift from the
    * batch dedup); new docs compute their own bands (batch-sized work),
    * probe the index with an equi-join on (band, sig), and ONLY the
    * candidate old docs get their shingles recomputed for the exact
    * Jaccard confirm (a semi-join pushdown — at 100 TB this reads
    * |candidates| old docs, not the corpus; in deployment the index is
    * the stored artifact a nightly build maintains, and novel docs'
    * bands are appended to it as the next increment's index). Verdict
    * per new doc: `dup` when the best exact Jaccard ≥ [[IncDupPpm]]
    * (integer ppm — no float crosses engines), carrying the best old
    * doc (max Jaccard, ties → min id) as `dup_of`; else `novel` with
    * the sentinel −1. Candidates that fail the confirm stay novel —
    * LSH may only over-generate, never decide. */
  val d21 = Q("d21_incremental_dedup",
    s"""WITH $shinglesSql,
       |$lshCandSql,
       |cross_cand AS (
       |  SELECT CASE WHEN i % 4 = 0 THEN i ELSE j END AS new_id,
       |         CASE WHEN i % 4 = 0 THEN j ELSE i END AS old_id
       |  FROM lshcand
       |  WHERE (i % 4 = 0) <> (j % 4 = 0)),
       |counts AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),
       |jacc AS (
       |  SELECT cc.new_id, cc.old_id,
       |    count(*) * 1000000 // (ca.c + cb.c - count(*)) AS jac_ppm
       |  FROM cross_cand cc
       |  JOIN shingles sa ON sa.doc_id = cc.new_id
       |  JOIN shingles sb ON sb.doc_id = cc.old_id AND sb.s = sa.s
       |  JOIN counts ca ON ca.doc_id = cc.new_id
       |  JOIN counts cb ON cb.doc_id = cc.old_id
       |  GROUP BY cc.new_id, cc.old_id, ca.c, cb.c),
       |best AS (
       |  SELECT new_id, old_id, jac_ppm FROM (
       |    SELECT new_id, old_id, jac_ppm,
       |      row_number() OVER (PARTITION BY new_id
       |                         ORDER BY jac_ppm DESC, old_id) AS rn
       |    FROM jacc) z
       |  WHERE rn = 1 AND jac_ppm >= $IncDupPpm)
       |SELECT d.doc_id,
       |  CASE WHEN b.new_id IS NOT NULL THEN 'dup' ELSE 'novel' END
       |    AS verdict,
       |  CAST(coalesce(b.old_id, -1) AS BIGINT) AS dup_of,
       |  CAST(coalesce(b.jac_ppm, 0) AS BIGINT) AS jaccard_ppm
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
       |LEFT JOIN best b ON b.new_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    // №27 measured NON-case: a spread here regressed d21 1.9 → 4.6 s
    // isolated (r16) — the frame fans out to four consumers, so the
    // added exchange re-enters four plans while each kernel is light.
    val docs = Tables.documents(s, d).select("doc_id", "text")
    def shinglesOf(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct()
    def bandsOf(df: DataFrame) = {
      val sigs = df
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr("word_shingles(w, 3)")).as("s"))
        .groupBy("doc_id")
        .agg(min(minhash64(col("s"), 0)).as("h0"),
          (1 until K).map(j => min(minhash64(col("s"), j)).as(s"h$j")): _*)
      (0 until B).map { b =>
        sigs.select(col("doc_id"), lit(b).as("band"),
          concat_ws("_", (0 until R).map(r => col(s"h${b * R + r}")): _*)
            .as("sig"))
      }.reduce(_ unionByName _)
    }
    val newDocs = docs.filter(col("doc_id") % 4 === 0).localCheckpoint()
    // the index: old-side bands only — in deployment this is the stored
    // artifact; here it is derived so the oracle can replay it
    val index = bandsOf(docs.filter(col("doc_id") % 4 =!= 0))
    val cand = bandsOf(newDocs)
      .withColumnRenamed("doc_id", "new_id")
      .join(index.withColumnRenamed("doc_id", "old_id"),
        Seq("band", "sig"))
      .select("new_id", "old_id").distinct()
      .localCheckpoint() // tiny; drives both shingle recomputes
    // exact confirm: shingles only for docs that are candidates
    val shNew = shinglesOf(newDocs.join(
      cand.select(col("new_id").as("doc_id")).distinct(), "doc_id"))
    val shOld = shinglesOf(docs.join(
      cand.select(col("old_id").as("doc_id")).distinct(), "doc_id"))
    val cNew = shNew.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val cOld = shOld.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val jacc = cand
      .join(shNew.select(col("doc_id").as("new_id"), col("s")), "new_id")
      .join(shOld.select(col("doc_id").as("old_id"), col("s")),
        Seq("old_id", "s"))
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("common"))
      .join(cNew.select(col("doc_id").as("new_id"), col("c").as("ca")),
        "new_id")
      .join(cOld.select(col("doc_id").as("old_id"), col("c").as("cb")),
        "old_id")
      .select(col("new_id"), col("old_id"),
        expr("common * 1000000 DIV (ca + cb - common)").as("jac_ppm"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("new_id")
      .orderBy(col("jac_ppm").desc, col("old_id"))
    val best = jacc.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("jac_ppm") >= IncDupPpm)
      .select("new_id", "old_id", "jac_ppm")
    newDocs.select("doc_id")
      .join(best.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        when(col("old_id").isNotNull, "dup").otherwise("novel")
          .as("verdict"),
        coalesce(col("old_id"), lit(-1L)).cast("long").as("dup_of"),
        coalesce(col("jac_ppm"), lit(0L)).cast("long").as("jaccard_ppm"))
      .orderBy("doc_id")
  }

  def all: Seq[Q] = Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10,
    d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22)
}
