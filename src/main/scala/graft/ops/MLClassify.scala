package graft.ops

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{HashingTF, IDF, StringIndexer, StringIndexerModel, Tokenizer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** MLlib-backed text classification — the north-star replacement for the
  * reference's HuggingFace zero-shot model (`BASELINE.json`, SURVEY.md
  * §2.9): Tokenizer → HashingTF → IDF → LogisticRegression, served as a
  * `DataFrame => DataFrame` transform with the reference's
  * `message/category/confidence` schema contract
  * (`news_categorization_streaming.py:108`); confidence = max of the
  * probability vector.
  *
  * Training labels come from the deterministic keyword classifier
  * ([[NewsPipeline.classify]]) — i.e. the lexicon is distilled into a
  * statistical model whose serving path needs no lexicon scan. Model
  * outputs are not SQL-expressible → rows-only driver check; the spec
  * asserts the schema contract, label domain, confidence ∈ (0,1], and
  * training-set agreement with the teacher labels.
  *
  * Scale: HashingTF is stateless (no vocab broadcast); IDF and LR
  * coefficients are small broadcast vectors; serving is one map pass.
  * Training at 100 TB would sample — the pipeline shape is unchanged.
  */
object MLClassify {

  val NumFeatures = 1 << 10

  def pipeline(): Pipeline = {
    val tok = new Tokenizer().setInputCol("text").setOutputCol("tokens")
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setNumFeatures(NumFeatures)
    val idf = new IDF().setInputCol("tf").setOutputCol("features")
    val indexer = new StringIndexer().setInputCol("label_str")
      .setOutputCol("label").setStringOrderType("alphabetAsc")
    val lr = new LogisticRegression().setMaxIter(15).setRegParam(0.01)
      .setFeaturesCol("features").setLabelCol("label")
    new Pipeline().setStages(Array(tok, tf, idf, indexer, lr))
  }

  /** Fitted-model cache keyed by corpus dir. Training is deterministic
    * (LBFGS over a deterministic frame — verified bit-stable across
    * JVMs), so within a session the first caller pays the fit and every
    * subsequent call serves from the broadcast-size model — the train-
    * once/serve-many split a real deployment has. (Deterministic
    * `doc_id % k` sample training was tried instead: a half-sample cut
    * held-out teacher agreement below the 0.9 gate, so the full corpus
    * trains — once.) */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (PipelineModel, Array[String])]

  /** Test seam: the keys currently memoised (distinct keys ⇒ distinct
    * fits — the staleness spec asserts a rewrite forces a second key). */
  private[graft] def cachedKeys: Set[String] =
    scala.jdk.CollectionConverters.SetHasAsScala(cache.keySet).asScala.toSet

  /** Corpus fingerprint folded into the model cache key: every file's
    * name, size, and mtime under `<dir>/documents.parquet`. A dir-string
    * key alone silently serves a stale model if the parquet is
    * regenerated in place; the fingerprint makes the cache
    * content-addressed at file-metadata granularity (cheap driver-side
    * stat walk — no data read). The signature folds through md5 (full
    * 128 bits — a 32-bit hashCode would make a silent stale-model
    * collision merely unlikely instead of negligible). */
  private[graft] def corpusFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val files = walk(new java.io.File(s"$dir/documents.parquet"))
    val sig = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(sig.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    s"$dir#$hex"
  }

  /** Teacher-labelled training/serving frame: keyword-classified docs
    * with the sentinel class removed. */
  private def labelledFrame(docs: DataFrame): DataFrame =
    NewsPipeline.classify(docs)
      .filter(col("category") =!= "unknown")
      .withColumnRenamed("category", "label_str")

  /** The index→label mapping IS the fitted StringIndexerModel's — reading
    * it off the model (instead of re-deriving via a distinct() job) keeps
    * a save/load round-trip self-contained: the labels travel inside the
    * persisted pipeline. */
  private[graft] def labelsOf(model: PipelineModel): Array[String] =
    model.stages.collectFirst { case s: StringIndexerModel => s.labelsArray(0) }
      .getOrElse(sys.error("pipeline has no StringIndexerModel stage"))

  /** Fit the distillation pipeline on `docs`' teacher labels.
    * Training parallelism note: at cluster scale the training frame
    * would be repartitioned so each LBFGS treeAggregate spreads; at this
    * corpus size that was measured 2× SLOWER (32 × ~160-row tasks per
    * iteration = pure scheduling overhead), so the single input
    * partition stands. */
  def fitModel(docs: DataFrame): (PipelineModel, Array[String]) = {
    val model = pipeline().fit(labelledFrame(docs))
    (model, labelsOf(model))
  }

  /** Serving pass over the teacher-labelled frame. The MODEL's inference
    * is one map (HashingTF/IDF/LR — no lexicon), but this serving shape
    * re-runs [[labelledFrame]]'s keyword scan because its contract
    * includes `teacher_category` (the agreement column ml01 and the
    * specs compare against) and the teacher's `unknown` filter; a
    * teacher-free deployment would transform a bare (doc_id, text)
    * frame through the non-indexer stages instead. `labels` maps
    * StringIndexer indices back to category strings (alphabetAsc:
    * index i ↔ i-th sorted training label). */
  def serveModel(model: PipelineModel, labels: Array[String],
      docs: DataFrame): DataFrame = {
    val labelExpr = array(labels.toIndexedSeq.map(lit): _*)
    // №27: serving is embarrassingly parallel (keyword teacher scan +
    // HashingTF/IDF/LR transform per row) but rides the single-split
    // documents scan at bench SFs — measured 7.6 cpu-s on ONE task
    // (WidthProbe, ml01). Spread the SERVING frame only; training
    // keeps the single partition per the fitModel measurement above.
    model.transform(labelledFrame(Width.spread(docs)))
      .withColumn("probs", vector_to_array(col("probability")))
      .select(col("doc_id"),
        element_at(labelExpr, col("prediction").cast("int") + 1).as("category"),
        array_max(col("probs")).as("confidence"),
        col("label_str").as("teacher_category"))
  }

  /** Persist / restore a fitted model so serving survives a process
    * restart (the [[cache]] is per-JVM). MLlib's native writer stores
    * every stage (including the StringIndexerModel the label mapping
    * lives in), so `loadModel` needs nothing but the path; the
    * round-trip is bit-exact (spec-pinned: reloaded predictions AND
    * probabilities equal the live model's). */
  def saveModel(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadModel(path: String): (PipelineModel, Array[String]) = {
    val model = PipelineModel.load(path)
    (model, labelsOf(model))
  }

  /** Train on keyword-labelled docs (memoised per `cacheKey`), serve over
    * the same frame. Returns doc_id, category (model prediction mapped
    * back to string labels), confidence (top class probability). */
  def classifyWithModel(docs: DataFrame, cacheKey: String = null): DataFrame = {
    def fit(): (PipelineModel, Array[String]) = fitModel(docs)
    val (model, labels) =
      if (cacheKey == null) fit()
      else {
        // one live model per corpus dir: a regenerated corpus produces a
        // NEW fingerprint key, so evict the dir's prior entries first —
        // without this the map grows one dead PipelineModel per
        // regeneration for the life of the process. The fingerprint
        // separator is the FINAL '#' (corpusFingerprint appends it), so
        // split there — a '#' inside the dir path must not truncate the
        // prefix early and evict other dirs' entries.
        val sep = cacheKey.lastIndexOf('#')
        if (sep >= 0) {
          val dirPrefix = cacheKey.substring(0, sep + 1)
          cache.keySet.removeIf(k => k.startsWith(dirPrefix) && k != cacheKey)
        }
        cache.computeIfAbsent(cacheKey, _ => fit())
      }
    serveModel(model, labels, docs)
  }

  /** Rows-only driver check (model outputs aren't SQL-expressible). */
  val ml01 = Q.noOracle("ml01_mllib_classify") { (s, d) =>
    classifyWithModel(Tables.documents(s, d),
      cacheKey = corpusFingerprint(d)).orderBy("doc_id")
  }

  // --------------------------------------------------------------- ml02
  /** Classifier evaluation — confusion counts and precision/recall/F1
    * per class plus a macro-average row, over the t03 language-ID
    * predictions against the gold `lang` column. The metric expressions
    * are shared STRINGS parsed by both engines (same operand order →
    * bit-identical doubles); F1 uses the 2·tp/(2·tp+fp+fn) identity so
    * every metric derives from integer counts in one fixed expression.
    * One hash-agg scan produces all 6×3 counts (map-side partials);
    * the per-class rows come from `stack` over that single aggregated
    * row, and the macro row reuses it via a 1-row localCheckpoint — at
    * 100 TB the corpus is still scanned exactly once. */
  private val evalClasses: Seq[String] =
    TextAnalysis.langLexicon.map(_._1) :+ "und"

  private def pExpr(c: String) =
    s"CASE WHEN tp_$c + fp_$c = 0 THEN 0.0 ELSE " +
      s"CAST(tp_$c AS DOUBLE) / CAST(tp_$c + fp_$c AS DOUBLE) END"
  private def rExpr(c: String) =
    s"CASE WHEN tp_$c + fn_$c = 0 THEN 0.0 ELSE " +
      s"CAST(tp_$c AS DOUBLE) / CAST(tp_$c + fn_$c AS DOUBLE) END"
  private def fExpr(c: String) =
    s"CASE WHEN 2 * tp_$c + fp_$c + fn_$c = 0 THEN 0.0 ELSE " +
      s"CAST(2 * tp_$c AS DOUBLE) / CAST(2 * tp_$c + fp_$c + fn_$c AS DOUBLE) END"
  private def macroOf(f: String => String) =
    "(" + evalClasses.map(f).mkString(" + ") + s") / ${evalClasses.size}.0"

  val ml02 = Q("ml02_eval_metrics",
    s"""WITH pred AS (${TextAnalysis.langPredSql}),
       |m AS (SELECT ${evalClasses.map { c =>
        s"CAST(sum(CASE WHEN lang = '$c' AND predicted = '$c' THEN 1 ELSE 0 END) AS BIGINT) AS tp_$c, " +
          s"CAST(sum(CASE WHEN predicted = '$c' AND lang <> '$c' THEN 1 ELSE 0 END) AS BIGINT) AS fp_$c, " +
          s"CAST(sum(CASE WHEN lang = '$c' AND predicted <> '$c' THEN 1 ELSE 0 END) AS BIGINT) AS fn_$c"
      }.mkString(",\n  ")}
       |  FROM pred)
       |${evalClasses.map { c =>
        s"SELECT '$c' AS label, tp_$c AS tp, fp_$c AS fp, fn_$c AS fn,\n" +
          s"  ${pExpr(c)} AS prec, ${rExpr(c)} AS rec, ${fExpr(c)} AS f1 FROM m"
      }.mkString("\nUNION ALL\n")}
       |UNION ALL
       |SELECT 'macro' AS label,
       |  ${evalClasses.map("tp_" + _).mkString(" + ")} AS tp,
       |  ${evalClasses.map("fp_" + _).mkString(" + ")} AS fp,
       |  ${evalClasses.map("fn_" + _).mkString(" + ")} AS fn,
       |  ${macroOf(pExpr)} AS prec,
       |  ${macroOf(rExpr)} AS rec,
       |  ${macroOf(fExpr)} AS f1 FROM m
       |ORDER BY label""".stripMargin) { (s, d) =>
    val pred = TextAnalysis.langPredictions(s, d)
    val aggs = evalClasses.flatMap { c =>
      Seq(
        sum(when(col("lang") === c && col("predicted") === c, 1L)
          .otherwise(0L)).as(s"tp_$c"),
        sum(when(col("predicted") === c && col("lang") =!= c, 1L)
          .otherwise(0L)).as(s"fp_$c"),
        sum(when(col("lang") === c && col("predicted") =!= c, 1L)
          .otherwise(0L)).as(s"fn_$c"))
    }
    val one = pred.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    val perClass = one.selectExpr(
      s"stack(${evalClasses.size}, " + evalClasses.map { c =>
        s"'$c', tp_$c, fp_$c, fn_$c, ${pExpr(c)}, ${rExpr(c)}, ${fExpr(c)}"
      }.mkString(", ") + ") AS (label, tp, fp, fn, prec, rec, f1)")
    val macroRow = one.select(lit("macro").as("label"),
      expr(evalClasses.map("tp_" + _).mkString(" + ")).as("tp"),
      expr(evalClasses.map("fp_" + _).mkString(" + ")).as("fp"),
      expr(evalClasses.map("fn_" + _).mkString(" + ")).as("fn"),
      expr(macroOf(pExpr)).as("prec"),
      expr(macroOf(rExpr)).as("rec"),
      expr(macroOf(fExpr)).as("f1"))
    perClass.union(macroRow).orderBy("label")
  }

  // ---------------------------------------------------------------- ml03
  /** ROC curve + AUC, the distributed way (what
    * `BinaryClassificationMetrics` computes, re-expressed exactly): the
    * scored corpus collapses to a HISTOGRAM of (score, pos, neg) counts
    * — bounded by the number of DISTINCT quantised scores, ≪ corpus —
    * and the curve is a cumulative walk over that small table in
    * descending-score order (the t16 histogram discipline: the only
    * window runs over the histogram, never the corpus). The trapezoidal
    * AUC is where float-sum nondeterminism usually creeps in, so the
    * integral is computed in INTEGERS: each trapezoid contributes
    * `Δfp · (tp_i + tp_{i-1})` (twice its area — all BIGINTs), the
    * numerator sums exactly in any order, and AUC emerges from ONE
    * final double division by `2·P·N` (q36/t13's exactness discipline).
    * Inputs compose published operators: score = t02's quality
    * quantised to micros, label = t15's Gopher keep verdict — "how well
    * does the cheap quality score predict the expensive gate" is itself
    * the standard eval question, and the composition means the oracle's
    * re-derivation is hash-checked against the same t02/t15 code paths
    * every round. At 100 TB: one map pass, one ≤|scores| histogram
    * shuffle, a tiny window, a broadcast of three scalars. */
  val ml03 = Q("ml03_roc_auc", {
    // t15/t02's own oracle SQL embedded verbatim as CTEs (p07's
    // zero-drift technique): the label and score DEFINITIONS cannot
    // diverge from the operators they compose
    val t15Sql = graft.ops.TextAnalysis.t15.oracle.get
    val t02Sql = graft.ops.TextAnalysis.t02.oracle.get
    s"""WITH t15o AS ($t15Sql),
       |t02o AS ($t02Sql),
       |lab AS (SELECT doc_id, keep AS label FROM t15o),
       |qs AS (
       |  SELECT doc_id,
       |    CAST(round(quality * 1000000.0) AS BIGINT) AS score_micro
       |  FROM t02o),
       |d AS (
       |  SELECT qs.score_micro, lab.label
       |  FROM qs JOIN lab ON lab.doc_id = qs.doc_id),
       |hist AS (
       |  SELECT score_micro,
       |    count(*) FILTER (WHERE label) AS pos,
       |    count(*) FILTER (WHERE NOT label) AS neg
       |  FROM d GROUP BY score_micro),
       |tot AS (SELECT sum(pos) AS p, sum(neg) AS n FROM hist),
       |cum AS (
       |  SELECT score_micro,
       |    sum(pos) OVER (ORDER BY score_micro DESC) AS tp,
       |    sum(neg) OVER (ORDER BY score_micro DESC) AS fp
       |  FROM hist),
       |trap AS (
       |  SELECT score_micro, tp, fp,
       |    (fp - coalesce(lag(fp) OVER (ORDER BY score_micro DESC), 0))
       |      * (tp + coalesce(lag(tp) OVER (ORDER BY score_micro DESC), 0))
       |      AS a2
       |  FROM cum),
       |aucn AS (SELECT sum(a2) AS num FROM trap)
       |SELECT t.score_micro, CAST(t.tp AS BIGINT) AS tp,
       |  CAST(t.fp AS BIGINT) AS fp,
       |  CAST(t.tp AS DOUBLE) / tot.p AS tpr,
       |  CAST(t.fp AS DOUBLE) / tot.n AS fpr,
       |  CAST(aucn.num AS DOUBLE) / (2.0 * tot.p * tot.n) AS auc
       |FROM trap t CROSS JOIN tot CROSS JOIN aucn
       |ORDER BY score_micro DESC""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val lab = graft.ops.TextAnalysis.t15.run(s, d)
      .select(col("doc_id"), col("keep").as("label"))
    val qs = graft.ops.TextAnalysis.t02.run(s, d)
      .select(col("doc_id"),
        expr("CAST(round(quality * 1000000.0) AS BIGINT)").as("score_micro"))
    val hist = qs.join(lab, "doc_id")
      .groupBy("score_micro")
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("pos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("neg"))
      .localCheckpoint() // small histogram; feeds totals, window, AUC
    val tot = hist.agg(sum("pos").as("p"), sum("neg").as("n"))
    val w = Window.orderBy(col("score_micro").desc)
    val cum = hist.select(col("score_micro"),
      sum("pos").over(w).as("tp"), sum("neg").over(w).as("fp"))
    val trap = cum.select(col("score_micro"), col("tp"), col("fp"),
      ((col("fp") - coalesce(lag(col("fp"), 1).over(w), lit(0L))) *
        (col("tp") + coalesce(lag(col("tp"), 1).over(w), lit(0L)))).as("a2"))
      .localCheckpoint() // reused by the AUC scalar and the output rows
    val aucn = trap.agg(sum("a2").as("num"))
    trap.crossJoin(broadcast(tot)).crossJoin(broadcast(aucn))
      .select(col("score_micro"),
        col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
        (col("tp").cast("double") / col("p")).as("tpr"),
        (col("fp").cast("double") / col("n")).as("fpr"),
        (col("num").cast("double") / (lit(2.0) * col("p") * col("n")))
          .as("auc"))
      .orderBy(col("score_micro").desc)
  }

  // ---------------------------------------------------------------- ml04
  /** Frozen-model serving, fully oracled (r05 verdict #3: "the serving
    * pass IS SQL-expressible with frozen coefficients"). The committed
    * `fixtures/ml/` tables (see [[graft.FixtureGen.writeMlFixture]])
    * flatten the sf0.01-trained distillation model into relations, and
    * serving becomes pure dataflow both engines can run:
    *
    *   tokens ⋈ term_index → tf per (doc, feature-idx)
    *   tf · idf            → tf-idf feature value
    *   feature ⋈ coef      → per-class contributions
    *   Σ + intercept       → class scores; argmax → category
    *
    * The dot product uses the repo's integer-quantisation discipline
    * (g01/ml03): each term's contribution `w · f` is quantised to nanos
    * (`CAST(round(w * f * 1e9) AS BIGINT)`) BEFORE summing, so the sum is
    * order-free and bit-identical cross-engine; argmax ties break on
    * label order. `MLFrozenSpec` pins the quantised argmax equal to the
    * live MLlib model's float argmax, and the committed weights equal a
    * fresh deterministic refit (stale-fixture guard).
    *
    * Tokenizer-parity PRECONDITION: this relational tokenizer (split
    * `\s+`, drop empties, locale-invariant lower) equals the live MLlib
    * Tokenizer (split `\s`, which KEEPS interior empty tokens that
    * HashingTF hashes as features; default-locale toLowerCase) exactly
    * when the input is single-space-separated ASCII — i.e. text that has
    * been through the t20 normalisation stage, the pipeline's stage
    * zero. `MLFrozenSpec` asserts the precondition on every tested
    * corpus so a violation fails loudly instead of drifting silently.
    *
    * Docs with no indexed tokens still score (intercept-only) via the
    * docs × classes frame — classes is a 7-row broadcast, not a real
    * cartesian.
    *
    * Scale: this is the deployment path ml01's scaladoc promises — no
    * lexicon, no teacher. One token explode, a broadcast join to the
    * term index (vocab-sized; at a real vocab it becomes a shuffle join
    * on term), map-side partial tf aggregation, broadcast idf + coef
    * (numClasses × 1024 doubles), one doc_id-partitioned argmax window.
    * The corpus shuffles once, on doc_id. */
  val mlFixtureDir: String = graft.Fixtures.path("ml")

  val ml04 = Q("ml04_frozen_serving",
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                       t -> t <> '')) AS term
       |  FROM documents),
       |ti AS (SELECT term, idx FROM read_parquet('$mlFixtureDir/term_index.parquet')),
       |idfs AS (SELECT idx, idf FROM read_parquet('$mlFixtureDir/idf.parquet')),
       |coef AS (SELECT cls, label, idx, w FROM read_parquet('$mlFixtureDir/coef.parquet')),
       |icept AS (SELECT cls, label, b FROM read_parquet('$mlFixtureDir/intercept.parquet')),
       |tf AS (
       |  SELECT t.doc_id, ti.idx, count(*) AS tf
       |  FROM toks t JOIN ti ON ti.term = t.term
       |  GROUP BY 1, 2),
       |feat AS (
       |  SELECT tf.doc_id, tf.idx, tf.tf * idfs.idf AS f
       |  FROM tf JOIN idfs ON idfs.idx = tf.idx),
       |contrib AS (
       |  SELECT f.doc_id, c.cls,
       |    CAST(sum(CAST(round(c.w * f.f * 1000000000.0) AS BIGINT)) AS BIGINT) AS dot_q
       |  FROM feat f JOIN coef c ON c.idx = f.idx
       |  GROUP BY 1, 2),
       |scores AS (
       |  SELECT d.doc_id, i.label,
       |    coalesce(ct.dot_q, 0) + CAST(round(i.b * 1000000000.0) AS BIGINT)
       |      AS score_q
       |  FROM (SELECT doc_id FROM documents) d
       |  CROSS JOIN icept i
       |  LEFT JOIN contrib ct ON ct.doc_id = d.doc_id AND ct.cls = i.cls)
       |SELECT doc_id, label AS category, score_q FROM (
       |  SELECT doc_id, label, score_q,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score_q DESC, label) AS rn
       |  FROM scores)
       |WHERE rn = 1
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // №27 measured NON-case (r16): spreading this scan regressed the
    // ml toks family ~1.2× isolated — the short-doc tokenize kernel is
    // lighter than the 32-task stage overhead the exchange adds.
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
        .as("term"))
    val ti = s.read.parquet(s"$mlFixtureDir/term_index.parquet")
    val idfs = s.read.parquet(s"$mlFixtureDir/idf.parquet")
    val coefs = s.read.parquet(s"$mlFixtureDir/coef.parquet")
    val icept = s.read.parquet(s"$mlFixtureDir/intercept.parquet")
    val tf = toks.join(broadcast(ti), "term")
      .groupBy("doc_id", "idx").agg(count(lit(1)).as("tf"))
    val feat = tf.join(broadcast(idfs), "idx")
      .select(col("doc_id"), col("idx"), (col("tf") * col("idf")).as("f"))
    val contrib = feat.join(broadcast(coefs), "idx")
      .groupBy("doc_id", "cls")
      .agg(sum(expr("CAST(round(w * f * 1000000000.0) AS BIGINT)")).as("dot_q"))
    val scores = docs.select("doc_id").crossJoin(broadcast(icept))
      .join(contrib, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("label"),
        (coalesce(col("dot_q"), lit(0L)) +
          expr("CAST(round(b * 1000000000.0) AS BIGINT)")).as("score_q"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_q").desc, col("label"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("category"), col("score_q"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- ml05
  /** Model-calibration report (reliability diagram + expected calibration
    * error) — the eval pass that runs beside ml03's ROC/AUC whenever a
    * score gates a pipeline decision: AUC says the score RANKS well,
    * calibration says the score MEANS what it claims (docs scored 0.8
    * should be kept ~80% of the time), and a quality gate tuned on an
    * uncalibrated score silently keeps the wrong volume. Composition is
    * ml03's, zero-drift: t02's quality is the confidence, t15's keep is
    * the outcome, both embedded verbatim as CTEs.
    *
    * Equal-width bins over [0,1] (quality's range; last bin closed via
    * `least`). Per bin: n, positives, mean confidence, empirical accuracy.
    * ECE determinism is the interesting part — the textbook
    * `Σ n_b/N · |acc_b − conf_b|` sums DOUBLES across bins (order- and
    * rounding-sensitive cross-engine), but multiplying through turns it
    * into `Σ_b |pos_b·10⁶ − s_b|  /  (10⁶·N)` where `s_b` is the bin's
    * quantised-micro score sum — an INTEGER sum (exact, order-free, the
    * g01/ml03 quantisation discipline) with ONE trailing division, so
    * both engines emit the identical double bit for bit.
    *
    * Scale: one corpus pass (t02's map-only scoring + t15's map-only
    * rules), a 10-group hash agg with map-side combine, and a 10-row
    * broadcast for the ECE attach — the shuffle carries bins, not docs. */
  val ml05 = Q("ml05_calibration", {
    val t15Sql = graft.ops.TextAnalysis.t15.oracle.get
    val t02Sql = graft.ops.TextAnalysis.t02.oracle.get
    s"""WITH t15o AS ($t15Sql),
       |t02o AS ($t02Sql),
       |d AS (
       |  SELECT q.doc_id,
       |    least(CAST(floor(q.quality * 10.0) AS BIGINT), 9) AS bin,
       |    CAST(round(q.quality * 1000000.0) AS BIGINT) AS s_micro,
       |    l.keep AS label
       |  FROM t02o q JOIN t15o l ON l.doc_id = q.doc_id),
       |bins AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(*) FILTER (WHERE label) AS BIGINT) AS pos,
       |    CAST(sum(s_micro) AS BIGINT) AS s_sum
       |  FROM d GROUP BY bin),
       |tot AS (
       |  SELECT sum(n) AS total,
       |    sum(abs(pos * 1000000 - s_sum)) AS ece_num
       |  FROM bins)
       |SELECT b.bin, b.n, b.pos,
       |  CAST(b.s_sum AS DOUBLE) / (1000000.0 * b.n) AS conf,
       |  CAST(b.pos AS DOUBLE) / b.n AS acc,
       |  CAST(t.ece_num AS DOUBLE) / (1000000.0 * t.total) AS ece
       |FROM bins b CROSS JOIN tot t
       |ORDER BY bin""".stripMargin
  }) { (s, d) =>
    val lab = graft.ops.TextAnalysis.t15.run(s, d)
      .select(col("doc_id"), col("keep").as("label"))
    val qs = graft.ops.TextAnalysis.t02.run(s, d)
      .select(col("doc_id"),
        least(floor(col("quality") * 10.0).cast("long"), lit(9L)).as("bin"),
        expr("CAST(round(quality * 1000000.0) AS BIGINT)").as("s_micro"))
    val bins = qs.join(lab, "doc_id")
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).cast("long").as("pos"),
        sum("s_micro").cast("long").as("s_sum"))
      .localCheckpoint() // 10-row histogram; feeds both the rows and ECE
    val tot = bins.agg(sum("n").as("total"),
      sum(abs(col("pos") * 1000000L - col("s_sum"))).as("ece_num"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("pos"),
        (col("s_sum").cast("double") / (lit(1000000.0) * col("n")))
          .as("conf"),
        (col("pos").cast("double") / col("n")).as("acc"),
        (col("ece_num").cast("double") / (lit(1000000.0) * col("total")))
          .as("ece"))
      .orderBy("bin")
  }

  // ---------------------------------------------------------------- ml06
  /** TRAINING, fully oracled (the r07 verdict's last sibling gap: ml04
    * replays frozen-weight SERVING, but ml01's LBFGS fit is an iterative
    * float optimisation no SQL engine can replay — so this is its
    * deterministic distilled-fit sibling, the q10b→q10c playbook applied
    * to model fitting). A class-centroid (Rocchio) classifier over raw
    * term counts: the ENTIRE fit is one aggregation —
    *
    *   ctf(c, term) = Σ occurrences of term in class-c teacher docs
    *   s2(c)        = Σ_term ctf²     (unnormalised centroid norm)
    *
    * and serving ranks classes by cosine-up-to-doc-norm
    * `a / √s2` where `a = Σ_term tf(doc,term)·ctf(c,term)` — the doc's own
    * norm is a positive per-doc constant, so dropping it changes no
    * argmax. Teacher labels come from [[NewsPipeline.classify]], embedded
    * in the oracle via n03's own SQL (ml03's zero-drift technique).
    *
    * Why this is bit-exact cross-engine where Naive Bayes wouldn't be:
    * every model number is an INTEGER count (exact, order-free sums in
    * any engine), and the only float ops are int→double conversion
    * (exact below 2⁵³ — corpus token mass squared stays ≪ 2⁵³ through
    * sf10; a larger corpus would quantise ctf first), `sqrt`, and one
    * division — all IEEE-754 correctly-rounded operations, so both
    * engines emit the same double bit for bit. NB's `ln` is only
    * faithfully rounded (libm-dependent) and its float sums are
    * order-sensitive — exactly the nondeterminism this catalog's
    * quantisation discipline exists to avoid.
    *
    * Tokenizer is ml04's parity tokenizer (lower, split `\s+`, drop
    * empties). Every labelled doc contains its own keywords, so each doc
    * always has ≥1 scored class; argmax ties break on label order.
    *
    * Scale: tf is a map-side explode + (doc, term) hash agg; the model
    * (ctf) is vocab×7-sized — broadcast here, a shuffle join on term at
    * a real vocab; s2 is a 7-row broadcast; the argmax window is
    * partitioned by doc_id over ≤7 rows. The corpus shuffles once. */
  val ml06 = Q("ml06_centroid_classifier", {
    val n03Sql = NewsPipeline.n03.oracle.get
    s"""WITH teacher AS ($n03Sql),
       |lab AS (
       |  SELECT doc_id, category AS teacher_category FROM teacher
       |  WHERE category <> 'unknown'),
       |toks AS (
       |  SELECT d.doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
       |                       t -> t <> '')) AS term
       |  FROM documents d JOIN lab ON lab.doc_id = d.doc_id),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |ctf AS (
       |  SELECT l.teacher_category AS category, t.term, count(*) AS cnt
       |  FROM toks t JOIN lab l ON l.doc_id = t.doc_id
       |  GROUP BY 1, 2),
       |s2 AS (
       |  SELECT category, sum(cnt * cnt) AS s2 FROM ctf GROUP BY category),
       |dots AS (
       |  SELECT tf.doc_id, c.category, sum(tf.tf * c.cnt) AS a
       |  FROM tf JOIN ctf c ON c.term = tf.term
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.doc_id, d.category,
       |    CAST(d.a AS DOUBLE) / sqrt(CAST(n.s2 AS DOUBLE)) AS score
       |  FROM dots d JOIN s2 n ON n.category = d.category)
       |SELECT s.doc_id, s.category, s.score, l.teacher_category
       |FROM (
       |  SELECT doc_id, category, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, category) AS rn
       |  FROM scored) s
       |JOIN lab l ON l.doc_id = s.doc_id
       |WHERE s.rn = 1
       |ORDER BY s.doc_id""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // №27 measured NON-case (r16): spreading this scan regressed the
    // ml toks family ~1.2× isolated — the short-doc tokenize kernel is
    // lighter than the 32-task stage overhead the exchange adds.
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // classify() is consumed by toks, ctf and the final report join —
    // materialise the (doc_id, category) frame once instead of running
    // the teacher over the corpus three times (r17; guide §5, the
    // d06/d16 materialize-once lesson)
    val lab = NewsPipeline.classify(docs)
      .filter(col("category") =!= "unknown")
      .select(col("doc_id"), col("category").as("teacher_category"))
      .localCheckpoint()
    val toks = docs.join(lab.select("doc_id"), "doc_id")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .as("term"))
    // ONE corpus tokenize pass: ctf is derivable from tf (the class's
    // term-instance count is the sum of its docs' tf), so the explode
    // runs once and the class model rides the materialised (doc, term)
    // table instead of a second corpus scan (r17; guide §1.2 step 1)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val ctf = tf.join(lab, "doc_id")
      .groupBy(col("teacher_category").as("category"), col("term"))
      .agg(sum("tf").as("cnt"))
    val s2 = ctf.groupBy("category").agg(sum(col("cnt") * col("cnt")).as("s2"))
    val dots = tf.join(broadcast(ctf), "term")
      .groupBy("doc_id", "category")
      .agg(sum(col("tf") * col("cnt")).as("a"))
    val scored = dots.join(broadcast(s2), "category")
      .select(col("doc_id"), col("category"),
        (col("a").cast("double") / sqrt(col("s2").cast("double")))
          .as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("category"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(lab, "doc_id")
      .select(col("doc_id"), col("category"), col("score"),
        col("teacher_category"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- ml07
  /** K-fold cross-validation over the closed-form trainer — the model
    * SELECTION pass that completes the ml chain (ml06 fits, ml04
    * serves, ml02/ml03/ml05 evaluate one split; CV evaluates the
    * PROCEDURE): deterministic md5 folds (t09's discipline, K = 3),
    * each fold scored by a centroid model trained on the other two,
    * per-fold exact accuracy in ppm integers.
    *
    * The scale trick is LEAVE-FOLD-OUT BY SUBTRACTION: per-(fold,
    * class, term) counts aggregate in ONE corpus pass, the global
    * model is their sum, and fold f's training model is
    * `ctf_all − ctf_f` — pure integer subtraction on the vocab-sized
    * count tables. K models for the price of one aggregation; the
    * naive formulation re-scans the corpus per fold. Docs whose terms
    * all vanish from their fold's training model score nothing and
    * count as WRONG (they stay in n_eval) — silent drops would inflate
    * accuracy. Every model number is an integer count, so the entire
    * CV — folds, K trainings, K scorings, per-fold accuracy — oracles
    * bit-exactly (ml06's argument: the only float ops are exact
    * int→double, sqrt, one division, all correctly rounded). */
  val ml07 = Q("ml07_cross_validation", {
    val n03Sql = NewsPipeline.n03.oracle.get
    s"""WITH teacher AS ($n03Sql),
       |lab AS (
       |  SELECT doc_id, category AS teacher_category FROM teacher
       |  WHERE category <> 'unknown'),
       |folds AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 3 AS fold
       |  FROM lab),
       |toks AS (
       |  SELECT d.doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
       |                       t -> t <> '')) AS term
       |  FROM documents d JOIN lab ON lab.doc_id = d.doc_id),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |cf AS (
       |  SELECT f.fold, l.teacher_category AS category, t.term,
       |    count(*) AS cnt
       |  FROM toks t
       |  JOIN lab l ON l.doc_id = t.doc_id
       |  JOIN folds f ON f.doc_id = t.doc_id
       |  GROUP BY 1, 2, 3),
       |ctf_all AS (
       |  SELECT category, term, sum(cnt) AS cnt_all FROM cf GROUP BY 1, 2),
       |trainctf AS (
       |  SELECT fo.fold, a.category, a.term,
       |    a.cnt_all - coalesce(c.cnt, 0) AS cnt
       |  FROM (SELECT DISTINCT fold FROM folds) fo
       |  CROSS JOIN ctf_all a
       |  LEFT JOIN cf c ON c.fold = fo.fold AND c.category = a.category
       |    AND c.term = a.term
       |  WHERE a.cnt_all - coalesce(c.cnt, 0) > 0),
       |s2f AS (
       |  SELECT fold, category, sum(cnt * cnt) AS s2
       |  FROM trainctf GROUP BY 1, 2),
       |dots AS (
       |  SELECT tf.doc_id, f.fold, m.category, sum(tf.tf * m.cnt) AS a
       |  FROM tf
       |  JOIN folds f ON f.doc_id = tf.doc_id
       |  JOIN trainctf m ON m.fold = f.fold AND m.term = tf.term
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT doc_id, fold, category FROM (
       |    SELECT d.doc_id, d.fold, d.category,
       |      row_number() OVER (PARTITION BY d.doc_id ORDER BY
       |        CAST(d.a AS DOUBLE) / sqrt(CAST(n.s2 AS DOUBLE)) DESC,
       |        d.category) AS rn
       |    FROM dots d JOIN s2f n ON n.fold = d.fold
       |      AND n.category = d.category)
       |  WHERE rn = 1),
       |acc AS (
       |  SELECT f.fold, count(*) AS n_eval,
       |    sum(CASE WHEN p.category = l.teacher_category
       |        THEN 1 ELSE 0 END) AS n_correct
       |  FROM folds f
       |  JOIN lab l ON l.doc_id = f.doc_id
       |  LEFT JOIN pred p ON p.doc_id = f.doc_id
       |  GROUP BY f.fold)
       |SELECT fold, CAST(n_eval AS BIGINT) AS n_eval,
       |  CAST(n_correct AS BIGINT) AS n_correct,
       |  CAST(n_correct * 1000000 AS BIGINT) // CAST(n_eval AS BIGINT)
       |    AS acc_ppm
       |FROM acc ORDER BY fold""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // №27 measured NON-case (r16): spreading this scan regressed the
    // ml toks family ~1.2× isolated — the short-doc tokenize kernel is
    // lighter than the 32-task stage overhead the exchange adds.
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // classify() is consumed by toks, cf and the final accuracy join —
    // materialise (doc_id, category) once instead of running the
    // teacher over the corpus three times (r17; guide §5)
    val lab = NewsPipeline.classify(docs)
      .filter(col("category") =!= "unknown")
      .select(col("doc_id"), col("category").as("teacher_category"))
      .localCheckpoint()
    val folds = lab.select(col("doc_id"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 3).as("fold"))
    val toks = docs.join(lab.select("doc_id"), "doc_id")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .as("term"))
    // ONE corpus tokenize pass (r17): tf is materialised and cf is
    // derived FROM it — fold f's (class, term) instance count is the
    // sum of its docs' tf — so the explode+agg runs once instead of
    // feeding two independent corpus-scale aggregations (guide §1.2
    // step 1; the former shape re-ran the explode for cf)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // per-(fold, class, term) counts — now vocab-sized work over the
    // materialised tf; kept because both the global model and the
    // per-fold subtraction consume it
    val cf = tf.join(lab, "doc_id").join(folds, "doc_id")
      .groupBy(col("fold"), col("teacher_category").as("category"),
        col("term"))
      .agg(sum("tf").as("cnt"))
      .localCheckpoint()
    val ctfAll = cf.groupBy("category", "term").agg(sum("cnt").as("cnt_all"))
    val trainCtf = folds.select("fold").distinct()
      .crossJoin(ctfAll)
      .join(cf.withColumnRenamed("cnt", "cnt_f"),
        Seq("fold", "category", "term"), "left")
      .select(col("fold"), col("category"), col("term"),
        (col("cnt_all") - coalesce(col("cnt_f"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)
      .localCheckpoint() // consumed by both s2 and the scoring join
    val s2f = trainCtf.groupBy("fold", "category")
      .agg(sum(col("cnt") * col("cnt")).as("s2"))
    val dots = tf.join(folds, "doc_id")
      .join(broadcast(trainCtf), Seq("fold", "term"))
      .groupBy("doc_id", "fold", "category")
      .agg(sum(col("tf") * col("cnt")).as("a"))
    val w = Window.partitionBy("doc_id").orderBy(
      (col("a").cast("double") / sqrt(col("s2").cast("double"))).desc,
      col("category"))
    val pred = dots.join(broadcast(s2f), Seq("fold", "category"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("category"))
    folds.join(lab, "doc_id")
      .join(pred, Seq("doc_id"), "left")
      .groupBy("fold")
      .agg(count(lit(1)).cast("long").as("n_eval"),
        sum(when(col("category") === col("teacher_category"), 1L)
          .otherwise(0L)).as("n_correct"))
      .select(col("fold"), col("n_eval"),
        col("n_correct").cast("long").as("n_correct"),
        expr("(n_correct * 1000000) DIV n_eval").as("acc_ppm"))
      .orderBy("fold")
  }

  // ---------------------------------------------------------------- ml08
  /** Decision-threshold tuning — the deployment step after ml03's ROC:
    * a score only becomes a CLASSIFIER once a threshold θ is fixed, and
    * the right θ is an optimisation over the validation sweep, not a
    * 0.5 default. Over ml03's exact (score, pos, neg) histogram (t02's
    * quality as the score, t15's Gopher verdict as the label — the same
    * verbatim composition, zero drift), every distinct score is a
    * candidate θ for the rule "predict keep iff score ≥ θ"; cumulative
    * tp/fp walk down the histogram (ml03's cum CTE), fn = P − tp, and
    * precision/recall/F1 are exact ppm integers (single integral
    * divisions — the 2tp/(2tp+fp+fn) identity keeps F1 one division
    * too, never a float product of two ratios). The elected row —
    * max F1, ties to the HIGHEST θ (the more conservative classifier) —
    * is marked `chosen`, so the output is the full tuning curve plus
    * the decision, and the oracle pins both.
    *
    * Scale: the sweep runs over the score HISTOGRAM (distinct quantised
    * scores, ≪ corpus — t16's n02 discipline), so the one window is
    * histogram-sized; the corpus contributes one hash-agg pass. The
    * election is two broadcast scalars (max F1, then max θ among ties),
    * never a global sort. */
  val ml08 = Q("ml08_threshold_tuning", {
    val t15Sql = graft.ops.TextAnalysis.t15.oracle.get
    val t02Sql = graft.ops.TextAnalysis.t02.oracle.get
    s"""WITH t15o AS ($t15Sql),
       |t02o AS ($t02Sql),
       |lab AS (SELECT doc_id, keep AS label FROM t15o),
       |qs AS (
       |  SELECT doc_id,
       |    CAST(round(quality * 1000000.0) AS BIGINT) AS score_micro
       |  FROM t02o),
       |d AS (
       |  SELECT qs.score_micro, lab.label
       |  FROM qs JOIN lab ON lab.doc_id = qs.doc_id),
       |hist AS (
       |  SELECT score_micro,
       |    count(*) FILTER (WHERE label) AS pos,
       |    count(*) FILTER (WHERE NOT label) AS neg
       |  FROM d GROUP BY score_micro),
       |tot AS (SELECT sum(pos) AS p FROM hist),
       |cum AS (
       |  SELECT score_micro,
       |    CAST(sum(pos) OVER (ORDER BY score_micro DESC) AS BIGINT) AS tp,
       |    CAST(sum(neg) OVER (ORDER BY score_micro DESC) AS BIGINT) AS fp
       |  FROM hist),
       |curve AS (
       |  SELECT score_micro AS theta_micro, tp, fp, tot.p - tp AS fn,
       |    CASE WHEN tp + fp > 0
       |         THEN tp * 1000000 // (tp + fp) ELSE 0 END AS precision_ppm,
       |    tp * 1000000 // tot.p AS recall_ppm,
       |    2 * tp * 1000000 // (2 * tp + fp + (tot.p - tp)) AS f1_ppm
       |  FROM cum CROSS JOIN tot),
       |best AS (SELECT max(f1_ppm) AS bf FROM curve),
       |bestt AS (
       |  SELECT max(theta_micro) AS bt FROM curve CROSS JOIN best
       |  WHERE f1_ppm = bf)
       |SELECT c.theta_micro, c.tp, c.fp, CAST(c.fn AS BIGINT) AS fn,
       |  CAST(c.precision_ppm AS BIGINT) AS precision_ppm,
       |  CAST(c.recall_ppm AS BIGINT) AS recall_ppm,
       |  CAST(c.f1_ppm AS BIGINT) AS f1_ppm,
       |  c.theta_micro = bestt.bt AS chosen
       |FROM curve c CROSS JOIN bestt
       |ORDER BY c.theta_micro DESC""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val lab = graft.ops.TextAnalysis.t15.run(s, d)
      .select(col("doc_id"), col("keep").as("label"))
    val qs = graft.ops.TextAnalysis.t02.run(s, d)
      .select(col("doc_id"),
        expr("CAST(round(quality * 1000000.0) AS BIGINT)").as("score_micro"))
    val hist = qs.join(lab, "doc_id")
      .groupBy("score_micro")
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("pos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("neg"))
      .localCheckpoint() // histogram-sized; feeds totals + the cum walk
    val tot = hist.agg(sum("pos").as("p"))
    val w = Window.orderBy(col("score_micro").desc)
    val curve = hist.select(col("score_micro").as("theta_micro"),
        sum("pos").over(w).cast("long").as("tp"),
        sum("neg").over(w).cast("long").as("fp"))
      .crossJoin(broadcast(tot))
      .select(col("theta_micro"), col("tp"), col("fp"),
        (col("p") - col("tp")).cast("long").as("fn"),
        when(col("tp") + col("fp") > 0,
          expr("tp * 1000000 DIV (tp + fp)")).otherwise(0L)
          .as("precision_ppm"),
        expr("tp * 1000000 DIV p").as("recall_ppm"),
        expr("2 * tp * 1000000 DIV (2 * tp + fp + (p - tp))").as("f1_ppm"))
      .localCheckpoint() // reused by both election scalars + the output
    val best = curve.agg(max("f1_ppm").as("bf"))
    val bestT = curve.crossJoin(broadcast(best))
      .filter(col("f1_ppm") === col("bf"))
      .agg(max("theta_micro").as("bt"))
    curve.crossJoin(broadcast(bestT))
      .select(col("theta_micro"), col("tp"), col("fp"), col("fn"),
        col("precision_ppm").cast("long"), col("recall_ppm").cast("long"),
        col("f1_ppm").cast("long"),
        (col("theta_micro") === col("bt")).as("chosen"))
      .orderBy(col("theta_micro").desc)
  }

  // ---------------------------------------------------------------- ml09
  /** Learning curve — the "how much data do I need" answer every
    * training pipeline owes its owner (and the model-selection sibling
    * of ml07's K-fold): hold out one md5 fold as the FIXED eval set,
    * train the closed-form centroid model (ml06's fit) on growing
    * PREFIXES of the other folds (1, 2, then 3 fold units), and score
    * the same eval set with each — accuracy vs training-set size, in
    * exact ppm. The three models cost ONE corpus pass: per-(fold,
    * class, term) counts aggregate once, and prefix k's model is the
    * `fold < k` rollup of that vocab-sized table (ml07's
    * subtraction trick run forward as prefix sums). Eval docs with no
    * scorable terms count as wrong, never dropped (the LEFT JOIN
    * discipline).
    *
    * Scale shape: ml07's exactly — one corpus-scale (fold, class,
    * term) agg, everything after it vocab-sized (the 3× prefix
    * expansion included), scoring via a broadcast model join + a
    * doc-keyed ≤7-row argmax window. */
  val ml09 = Q("ml09_learning_curve", {
    val n03Sql = NewsPipeline.n03.oracle.get
    s"""WITH teacher AS ($n03Sql),
       |lab AS (
       |  SELECT doc_id, category AS teacher_category FROM teacher
       |  WHERE category <> 'unknown'),
       |folds AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 4 AS fold
       |  FROM lab),
       |toks AS (
       |  SELECT d.doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
       |                       t -> t <> '')) AS term
       |  FROM documents d JOIN lab ON lab.doc_id = d.doc_id),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |cf AS (
       |  SELECT f.fold, l.teacher_category AS category, t.term,
       |    count(*) AS cnt
       |  FROM toks t
       |  JOIN lab l ON l.doc_id = t.doc_id
       |  JOIN folds f ON f.doc_id = t.doc_id
       |  WHERE f.fold < 3
       |  GROUP BY 1, 2, 3),
       |ks AS (SELECT unnest([1, 2, 3]) AS k),
       |trainctf AS (
       |  SELECT ks.k, cf.category, cf.term, sum(cf.cnt) AS cnt
       |  FROM cf JOIN ks ON cf.fold < ks.k
       |  GROUP BY 1, 2, 3),
       |s2k AS (
       |  SELECT k, category, sum(cnt * cnt) AS s2
       |  FROM trainctf GROUP BY 1, 2),
       |evaldocs AS (SELECT doc_id FROM folds WHERE fold = 3),
       |dots AS (
       |  SELECT tf.doc_id, m.k, m.category, sum(tf.tf * m.cnt) AS a
       |  FROM tf
       |  JOIN evaldocs e ON e.doc_id = tf.doc_id
       |  JOIN trainctf m ON m.term = tf.term
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT doc_id, k, category FROM (
       |    SELECT d.doc_id, d.k, d.category,
       |      row_number() OVER (PARTITION BY d.doc_id, d.k ORDER BY
       |        CAST(d.a AS DOUBLE) / sqrt(CAST(n.s2 AS DOUBLE)) DESC,
       |        d.category) AS rn
       |    FROM dots d JOIN s2k n ON n.k = d.k AND n.category = d.category)
       |  WHERE rn = 1),
       |tsizes AS (
       |  SELECT ks.k, count(*) AS n_train
       |  FROM folds f JOIN ks ON f.fold < ks.k
       |  GROUP BY ks.k),
       |acc AS (
       |  SELECT ks.k, count(*) AS n_eval,
       |    sum(CASE WHEN p.category = l.teacher_category
       |        THEN 1 ELSE 0 END) AS n_correct
       |  FROM evaldocs e CROSS JOIN ks
       |  JOIN lab l ON l.doc_id = e.doc_id
       |  LEFT JOIN pred p ON p.doc_id = e.doc_id AND p.k = ks.k
       |  GROUP BY ks.k)
       |SELECT CAST(a.k AS BIGINT) AS n_folds,
       |  CAST(t.n_train AS BIGINT) AS n_train_docs,
       |  CAST(a.n_eval AS BIGINT) AS n_eval,
       |  CAST(a.n_correct AS BIGINT) AS n_correct,
       |  CAST(a.n_correct * 1000000 AS BIGINT) // CAST(a.n_eval AS BIGINT)
       |    AS acc_ppm
       |FROM acc a JOIN tsizes t ON t.k = a.k
       |ORDER BY n_folds""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // №27 measured NON-case (r16): spreading this scan regressed the
    // ml toks family ~1.2× isolated — the short-doc tokenize kernel is
    // lighter than the 32-task stage overhead the exchange adds.
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // classify() is consumed by toks, cf and the final accuracy join —
    // materialise (doc_id, category) once instead of running the
    // teacher over the corpus three times (r17; guide §5)
    val lab = NewsPipeline.classify(docs)
      .filter(col("category") =!= "unknown")
      .select(col("doc_id"), col("category").as("teacher_category"))
      .localCheckpoint()
    val folds = lab.select(col("doc_id"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 4).as("fold"))
      .localCheckpoint() // feeds cf, eval set, and train sizes
    val toks = docs.join(lab.select("doc_id"), "doc_id")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .as("term"))
    // ONE corpus tokenize pass (r17): cf derives from the materialised
    // tf (sum of per-doc tf = the fold's term-instance count), so the
    // explode+agg runs once instead of twice (guide §1.2 step 1)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cf = tf.join(lab, "doc_id").join(folds, "doc_id")
      .where(col("fold") < 3)
      .groupBy(col("fold"), col("teacher_category").as("category"),
        col("term"))
      .agg(sum("tf").as("cnt"))
    val ks = s.range(1, 4).toDF("k")
    val trainCtf = cf.join(broadcast(ks), col("fold") < col("k"))
      .groupBy("k", "category", "term").agg(sum("cnt").as("cnt"))
      .localCheckpoint() // consumed by both s2 and the scoring join
    val s2k = trainCtf.groupBy("k", "category")
      .agg(sum(col("cnt") * col("cnt")).as("s2"))
    val evalDocs = folds.where(col("fold") === 3).select("doc_id")
    val dots = tf.join(evalDocs, "doc_id")
      .join(broadcast(trainCtf), Seq("term"))
      .groupBy("doc_id", "k", "category")
      .agg(sum(col("tf") * col("cnt")).as("a"))
    val w = Window.partitionBy("doc_id", "k").orderBy(
      (col("a").cast("double") / sqrt(col("s2").cast("double"))).desc,
      col("category"))
    val pred = dots.join(broadcast(s2k), Seq("k", "category"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "k", "category")
    val tsizes = folds.join(broadcast(ks), col("fold") < col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_train"))
    evalDocs.crossJoin(broadcast(ks))
      .join(lab, "doc_id")
      .join(pred, Seq("doc_id", "k"), "left")
      .groupBy("k")
      .agg(count(lit(1)).cast("long").as("n_eval"),
        sum(when(col("category") === col("teacher_category"), 1L)
          .otherwise(0L)).as("n_correct"))
      .join(broadcast(tsizes), "k")
      .select(col("k").as("n_folds"),
        col("n_train").cast("long").as("n_train_docs"), col("n_eval"),
        col("n_correct").cast("long").as("n_correct"),
        expr("(n_correct * 1000000) DIV n_eval").as("acc_ppm"))
      .orderBy("n_folds")
  }

  // ---------------------------------------------------------------- ml10
  /** χ² feature selection — the vocabulary-REDUCTION pass in front of any
    * bag-of-words trainer (ml06/ml07 currently train on every term; the
    * production pipeline trains on the top-k discriminative ones): per
    * (class, term), the χ² statistic of the 2×2 document-presence
    * contingency table `a=|class∧term| b=|¬class∧term| c=|class∧¬term|
    * d=|¬class∧¬term|`, χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)), top-10
    * terms per class under the (χ² DESC, term) total order.
    *
    * Exactness: every table cell is an integer count, and χ² is computed
    * as ONE floor division of exact integer products — `N(ad−bc)²·10⁶ DIV
    * (a+b)(c+d)(a+c)(b+d)` — in DECIMAL(38,0) (HUGEINT in DuckDB; the
    * intermediate tops out ~3·10²⁴ at sf0.1, well inside both). No float
    * touches the statistic, so the ranking — and therefore the selected
    * vocabulary — is bit-identical cross-engine. Terms present in every
    * labeled doc carry zero information and a zero denominator; they are
    * excluded by `df < N` (and `a ≥ 1` restricts to terms that occur in
    * the class — the positive-indicator convention).
    *
    * Scale: one corpus tokenisation (shared shape with ml06), one
    * (class, term) hash agg, vocab-sized joins on term/category, and a
    * class-keyed top-k window — the corpus is read once; nothing is
    * ever doc×vocab. Beyond ~10⁹ docs the exact integer tier overflows
    * DECIMAL(38,0) (diff² alone is ~10³⁶): production switches the
    * statistic to double there — the RANKING is what matters at that
    * scale, and this exact tier remains the validation oracle. */
  val ml10 = Q("ml10_chi2_terms", {
    val n03Sql = NewsPipeline.n03.oracle.get
    s"""WITH teacher AS ($n03Sql),
       |lab AS (
       |  SELECT doc_id, category FROM teacher WHERE category <> 'unknown'),
       |tot AS (SELECT count(*) AS n FROM lab),
       |ctot AS (SELECT category, count(*) AS nc FROM lab GROUP BY 1),
       |pres AS (
       |  SELECT DISTINCT d.doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
       |                       t -> t <> '')) AS term
       |  FROM documents d JOIN lab ON lab.doc_id = d.doc_id),
       |dft AS (SELECT term, count(*) AS df FROM pres GROUP BY 1),
       |pa AS (
       |  SELECT l.category, p.term, count(*) AS a
       |  FROM pres p JOIN lab l USING (doc_id) GROUP BY 1, 2),
       |x AS (
       |  SELECT pa.category, pa.term, pa.a,
       |    dft.df - pa.a AS b, ctot.nc - pa.a AS c2,
       |    tot.n - ctot.nc - (dft.df - pa.a) AS d2,
       |    dft.df, ctot.nc, tot.n
       |  FROM pa JOIN dft USING (term) JOIN ctot USING (category)
       |  CROSS JOIN tot
       |  WHERE dft.df < tot.n),
       |chi AS (
       |  SELECT category, term, a,
       |    CAST((CAST(a * d2 - b * c2 AS HUGEINT)
       |          * CAST(a * d2 - b * c2 AS HUGEINT) * n * 1000000)
       |      // (CAST(df AS HUGEINT) * (n - df) * nc * (n - nc))
       |      AS BIGINT) AS chi2_micro
       |  FROM x)
       |SELECT category, term, CAST(a AS BIGINT) AS n11, chi2_micro,
       |  CAST(rn AS BIGINT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY category
       |    ORDER BY chi2_micro DESC, term) AS rn
       |  FROM chi) r
       |WHERE rn <= 10
       |ORDER BY category, rank""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // №27 measured NON-case (r16): spreading this scan regressed the
    // ml toks family ~1.2× isolated — the short-doc tokenize kernel is
    // lighter than the 32-task stage overhead the exchange adds.
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val lab = NewsPipeline.classify(docs)
      .filter(col("category") =!= "unknown")
      .select(col("doc_id"), col("category"))
      .localCheckpoint() // feeds totals, class totals, and the presence join
    val tot = lab.agg(count(lit(1)).as("n"))
    val ctot = lab.groupBy("category").agg(count(lit(1)).as("nc"))
    val pres = docs.join(lab.select("doc_id"), "doc_id")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .as("term"))
      .distinct()
      .localCheckpoint() // feeds both the df table and the class counts
    val dft = pres.groupBy("term").agg(count(lit(1)).as("df"))
    val pa = pres.join(lab, "doc_id")
      .groupBy("category", "term").agg(count(lit(1)).as("a"))
    val x = pa.join(dft, "term")
      .join(broadcast(ctot), "category")
      .crossJoin(broadcast(tot))
      .filter(col("df") < col("n"))
      .withColumn("b", col("df") - col("a"))
      .withColumn("c2", col("nc") - col("a"))
      .withColumn("d2", col("n") - col("nc") - col("b"))
    val chi = x.withColumn("chi2_micro",
      expr("""CAST(CAST(a * d2 - b * c2 AS DECIMAL(38,0))
             |     * CAST(a * d2 - b * c2 AS DECIMAL(38,0)) * n * 1000000
             |  AS DECIMAL(38,0))
             |DIV (CAST(df AS DECIMAL(38,0)) * (n - df) * nc * (n - nc))"""
        .stripMargin.replace('\n', ' ')))
    chi.withColumn("rn", row_number().over(
        Window.partitionBy("category")
          .orderBy(col("chi2_micro").desc, col("term"))))
      .filter(col("rn") <= 10)
      .select(col("category"), col("term"), col("a").cast("long").as("n11"),
        col("chi2_micro"), col("rn").cast("long").as("rank"))
      .orderBy("category", "rank")
  }

  // ---------------------------------------------------------------- ml11
  /** Distribution-drift monitor — the ML-OPS pass the serving tier runs
    * continuously (and the catalog's first: ml02–ml09 all evaluate one
    * frozen snapshot): bucket a monitored signal over a reference window
    * and a current window, compare the two histograms, and report
    * per-bucket frequency deltas plus the total-variation distance.
    * PSI's `Σ(p−q)·ln(p/q)` needs a transcendental with no cross-engine
    * bit guarantee; TV distance (`Σ|p−q|/2`) ranks drift the same way
    * and stays EXACT in integer ppm — the q19c trade applied to ml-ops.
    *
    * Windows split the event month in half via the dtype-adaptive
    * event-time accessor; the signal is value in integer cents,
    * $25-bucketed by floor division. Every number is an integer (counts,
    * floor-ppm frequencies, |Δ|, the summary row's TV = Σ|Δ| DIV 2), so
    * the whole report hash-matches. The summary rides as bucket −1.
    *
    * Scale: one scan, one (bucket)-keyed hash agg with map-side combine
    * and conditional counts (no per-window rescans), a broadcast 1-row
    * totals join, and a histogram-sized summary — the st14–st16 bounded
    * sketch argument: state is bucket count, never row count. */
  /** ml11's per-bucket comparison stage, exposed un-checkpointed so
    * `PlanAuditSpec` can audit the live plan (the g01 `pageRankRound`
    * convention). */
  private[graft] def driftRows(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val raw = Tables.events(s, d)
    val ev = raw.select(
      when(EventStreams.eventTs(raw) <
        lit("2024-01-16 00:00:00").cast(TimestampNTZType), "ref")
        .otherwise("cur").as("half"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 2500")
        .as("bucket"))
    val tot = ev.agg(
      count(when(col("half") === "ref", 1)).as("nr"),
      count(when(col("half") === "cur", 1)).as("nc"))
    ev.groupBy("bucket")
      .agg(count(when(col("half") === "ref", 1)).as("n_ref"),
        count(when(col("half") === "cur", 1)).as("n_cur"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        expr("(n_ref * 1000000) DIV nr").as("ref_ppm"),
        expr("(n_cur * 1000000) DIV nc").as("cur_ppm"))
      .withColumn("abs_delta_ppm", abs(col("ref_ppm") - col("cur_ppm")))
  }

  val ml11 = Q("ml11_drift_monitor",
    """WITH ev AS (
      |  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
      |              THEN 'ref' ELSE 'cur' END AS half,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 2500
      |      AS bucket
      |  FROM events),
      |tot AS (
      |  SELECT count(*) FILTER (WHERE half = 'ref') AS nr,
      |         count(*) FILTER (WHERE half = 'cur') AS nc FROM ev),
      |b AS (
      |  SELECT bucket,
      |    count(*) FILTER (WHERE half = 'ref') AS n_ref,
      |    count(*) FILTER (WHERE half = 'cur') AS n_cur
      |  FROM ev GROUP BY 1),
      |pb AS (
      |  SELECT bucket, n_ref, n_cur,
      |    n_ref * 1000000 // nr AS ref_ppm,
      |    n_cur * 1000000 // nc AS cur_ppm
      |  FROM b, tot),
      |r AS (
      |  SELECT bucket, n_ref, n_cur, ref_ppm, cur_ppm,
      |    abs(ref_ppm - cur_ppm) AS abs_delta_ppm
      |  FROM pb)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      |  CAST(ref_ppm AS BIGINT) AS ref_ppm,
      |  CAST(cur_ppm AS BIGINT) AS cur_ppm,
      |  CAST(abs_delta_ppm AS BIGINT) AS abs_delta_ppm
      |FROM r
      |UNION ALL
      |SELECT -1, CAST(sum(n_ref) AS BIGINT), CAST(sum(n_cur) AS BIGINT),
      |  CAST(sum(ref_ppm) AS BIGINT), CAST(sum(cur_ppm) AS BIGINT),
      |  CAST(sum(abs_delta_ppm) // 2 AS BIGINT)
      |FROM r
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val rows = driftRows(s, d)
      .localCheckpoint() // feeds both the detail rows and the summary
    val summary = rows.agg(
        sum("n_ref").cast("long").as("n_ref"),
        sum("n_cur").cast("long").as("n_cur"),
        sum("ref_ppm").cast("long").as("ref_ppm"),
        sum("cur_ppm").cast("long").as("cur_ppm"),
        expr("sum(abs_delta_ppm) DIV 2").as("abs_delta_ppm"))
      .select(lit(-1L).as("bucket"), col("n_ref"), col("n_cur"),
        col("ref_ppm"), col("cur_ppm"), col("abs_delta_ppm"))
    rows.select(col("bucket"), col("n_ref").cast("long").as("n_ref"),
        col("n_cur").cast("long").as("n_cur"), col("ref_ppm"),
        col("cur_ppm"), col("abs_delta_ppm"))
      .union(summary)
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- ml12
  /** Per-segment accuracy report — the SLICE-ANALYSIS pass (fairness /
    * worst-group monitoring) the aggregate metrics hide: ml02's corpus
    * accuracy can be excellent while one source segment fails entirely.
    * Per documents.source segment, ml06's centroid predictions are
    * scored against the teacher labels in exact ppm, with an
    * `__overall__` row for the gap arithmetic (worst-segment gap =
    * overall − min segment, spec-computed). Integer end to end.
    *
    * Scale: predictions are ml06's dataflow (one corpus pass); the
    * segment join is doc-keyed; the report is one segment-keyed hash
    * agg — segments-sized output. */
  val ml12 = Q("ml12_segment_report", {
    val ml06Sql = ml06.oracle.get
    s"""WITH preds AS ($ml06Sql),
       |j AS (
       |  SELECT d.source,
       |    CASE WHEN p.category = p.teacher_category THEN 1 ELSE 0 END AS ok
       |  FROM preds p JOIN documents d ON d.doc_id = p.doc_id),
       |per AS (
       |  SELECT source, count(*) AS n_eval, sum(ok) AS n_correct
       |  FROM j GROUP BY source)
       |SELECT source, CAST(n_eval AS BIGINT) AS n_eval,
       |  CAST(n_correct AS BIGINT) AS n_correct,
       |  CAST(n_correct * 1000000 // n_eval AS BIGINT) AS acc_ppm
       |FROM per
       |UNION ALL
       |SELECT '__overall__', CAST(sum(n_eval) AS BIGINT),
       |  CAST(sum(n_correct) AS BIGINT),
       |  CAST(sum(n_correct) * 1000000 // sum(n_eval) AS BIGINT)
       |FROM per
       |ORDER BY source""".stripMargin
  }) { (s, d) =>
    val preds = ml06.run(s, d)
      .select(col("doc_id"),
        (col("category") === col("teacher_category")).as("ok"))
    val src = Tables.documents(s, d).select("doc_id", "source")
    val per = preds.join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_eval"), count(when(col("ok"), 1)).as("n_correct"))
      .localCheckpoint() // feeds the detail rows and the overall rollup
    val detail = per.select(col("source"), col("n_eval").cast("long")
        .as("n_eval"), col("n_correct").cast("long").as("n_correct"),
      expr("(n_correct * 1000000) DIV n_eval").as("acc_ppm"))
    val overall = per.agg(sum("n_eval").as("ne"), sum("n_correct").as("nc"))
      .select(lit("__overall__").as("source"), col("ne").cast("long")
          .as("n_eval"), col("nc").cast("long").as("n_correct"),
        expr("(nc * 1000000) DIV ne").as("acc_ppm"))
    detail.union(overall).orderBy("source")
  }

  // ---------------------------------------------------------------- ml13
  /** Multivariate linear regression (OLS, closed form) — the REGRESSION
    * arm the ml tier lacked (ml01–ml12 are all classification-side):
    * per-order revenue `Σ extendedprice ~ β0 + β1·n_items + β2·sum_qty`
    * fit by the 2-feature normal equations, solved exactly via Cramer's
    * rule over integer sufficient statistics. The q36 moment discipline scaled up: every
    * per-order feature is an exact integer (item count; unit quantities
    * — integral in this corpus, `round()` pins it; price in cents), the
    * nine raw moments are order-free integer sums (BIGINT products →
    * DECIMAL(38,0)/HUGEINT accumulation), and the centered normal-
    * equation terms A·β = b stay EXACT through Cramer numerators/
    * determinant (≲10³⁵ at sf 0.1 — 38-digit headroom; a 100× corpus
    * recentres per-partition first, same dataflow). Only the final
    * β = num/det divisions touch doubles — one correctly-rounded
    * conversion + one division each, so coefficients are bit-identical
    * cross-engine; they quantise to the 1e-9 grid for output.
    *
    * Fit quality closes the loop IN-SAMPLE (the operator is the fit;
    * t09's splits compose for held-out evaluation): each order's
    * prediction rounds to exact cents, residuals square-sum as integers
    * (SSE), SST = n·Σy²−(Σy)² likewise, and R² reports in exact ppm —
    * integer end-to-end, no float accumulation anywhere.
    *
    * Scale: one lineitem aggregation keyed by order (map-side partials,
    * features and target from the same pass), ONE global 1-row moment
    * reduce, a broadcast scalar attach (q18 pattern) for the prediction
    * pass, and a second 1-row reduce — no window, no collect, feature
    * count fixed. */
  val ml13 = Q("ml13_linear_regression",
    """WITH xy AS (
      |  SELECT CAST(count(*) AS BIGINT) AS x1,
      |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM lineitem GROUP BY l_orderkey),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(x1 * x1) AS HUGEINT) AS s11,
      |    CAST(sum(x1 * x2) AS HUGEINT) AS s12,
      |    CAST(sum(x2 * x2) AS HUGEINT) AS s22,
      |    CAST(sum(x1 * y) AS HUGEINT) AS s1y,
      |    CAST(sum(x2 * y) AS HUGEINT) AS s2y,
      |    CAST(sum(y * y) AS HUGEINT) AS syy
      |  FROM xy),
      |nrm AS (
      |  SELECT n, s1, s2, sy, syy,
      |    n * s11 - s1 * s1 AS a11, n * s12 - s1 * s2 AS a12,
      |    n * s22 - s2 * s2 AS a22,
      |    n * s1y - s1 * sy AS b1, n * s2y - s2 * sy AS b2
      |  FROM m),
      |beta AS (
      |  SELECT n, s1, s2, sy, syy,
      |    CAST(a22 * b1 - a12 * b2 AS DOUBLE)
      |      / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS beta1,
      |    CAST(a11 * b2 - a12 * b1 AS DOUBLE)
      |      / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS beta2
      |  FROM nrm),
      |beta0 AS (
      |  SELECT n, sy, syy, beta1, beta2,
      |    (CAST(sy AS DOUBLE) - beta1 * CAST(s1 AS DOUBLE)
      |      - beta2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE) AS beta0
      |  FROM beta),
      |sse AS (
      |  SELECT CAST(sum(CAST((xy.y - CAST(round(b.beta0
      |      + b.beta1 * CAST(xy.x1 AS DOUBLE)
      |      + b.beta2 * CAST(xy.x2 AS DOUBLE)) AS BIGINT)) *
      |    (xy.y - CAST(round(b.beta0
      |      + b.beta1 * CAST(xy.x1 AS DOUBLE)
      |      + b.beta2 * CAST(xy.x2 AS DOUBLE)) AS BIGINT)) AS HUGEINT))
      |    AS HUGEINT) AS sse
      |  FROM xy CROSS JOIN beta0 b)
      |SELECT CAST(b.n AS BIGINT) AS n,
      |  CAST(round(b.beta0 * 1000000000.0) AS BIGINT) AS beta0_nano,
      |  CAST(round(b.beta1 * 1000000000.0) AS BIGINT) AS beta1_nano,
      |  CAST(round(b.beta2 * 1000000000.0) AS BIGINT) AS beta2_nano,
      |  CAST(1000000 - (b.n * e.sse * 1000000)
      |    // (b.n * b.syy - b.sy * b.sy) AS BIGINT) AS r2_ppm
      |FROM beta0 b CROSS JOIN sse e""".stripMargin) { (s, d) =>
    val xy = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("long").as("x1"),
        sum(expr("CAST(round(l_quantity) AS BIGINT)")).cast("long").as("x2"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).cast("long")
          .as("y"))
      .select("x1", "x2", "y")
    val D = "DECIMAL(38,0)"
    val m = xy.agg(
      expr(s"CAST(count(*) AS $D)").as("n"),
      expr(s"CAST(sum(CAST(x1 AS $D)) AS $D)").as("s1"),
      expr(s"CAST(sum(CAST(x2 AS $D)) AS $D)").as("s2"),
      expr(s"CAST(sum(CAST(y AS $D)) AS $D)").as("sy"),
      expr(s"CAST(sum(CAST(x1 * x1 AS $D)) AS $D)").as("s11"),
      expr(s"CAST(sum(CAST(x1 * x2 AS $D)) AS $D)").as("s12"),
      expr(s"CAST(sum(CAST(x2 * x2 AS $D)) AS $D)").as("s22"),
      expr(s"CAST(sum(CAST(x1 * y AS $D)) AS $D)").as("s1y"),
      expr(s"CAST(sum(CAST(x2 * y AS $D)) AS $D)").as("s2y"),
      expr(s"CAST(sum(CAST(y AS $D) * y) AS $D)").as("syy"))
    val nrm = m.select(col("n"), col("s1"), col("s2"), col("sy"), col("syy"),
      expr("n * s11 - s1 * s1").as("a11"),
      expr("n * s12 - s1 * s2").as("a12"),
      expr("n * s22 - s2 * s2").as("a22"),
      expr("n * s1y - s1 * sy").as("b1"),
      expr("n * s2y - s2 * sy").as("b2"))
    val beta = nrm.select(col("n"), col("s1"), col("s2"), col("sy"),
      col("syy"),
      expr("""CAST(a22 * b1 - a12 * b2 AS DOUBLE)
        | / CAST(a11 * a22 - a12 * a12 AS DOUBLE)""".stripMargin).as("beta1"),
      expr("""CAST(a11 * b2 - a12 * b1 AS DOUBLE)
        | / CAST(a11 * a22 - a12 * a12 AS DOUBLE)""".stripMargin).as("beta2"))
    val beta0 = beta.select(col("n"), col("sy"), col("syy"), col("beta1"),
      col("beta2"),
      expr("""(CAST(sy AS DOUBLE) - beta1 * CAST(s1 AS DOUBLE)
        | - beta2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE)""".stripMargin)
        .as("beta0"))
    val yhat = "CAST(round(beta0 + beta1 * CAST(x1 AS DOUBLE)" +
      " + beta2 * CAST(x2 AS DOUBLE)) AS BIGINT)"
    val sse = xy.crossJoin(broadcast(beta0))
      .agg(expr(s"CAST(sum(CAST((y - $yhat) * (y - $yhat) AS $D)) AS $D)")
        .as("sse"))
    beta0.crossJoin(broadcast(sse))
      .select(col("n").cast("long").as("n"),
        expr("CAST(round(beta0 * 1000000000.0) AS BIGINT)").as("beta0_nano"),
        expr("CAST(round(beta1 * 1000000000.0) AS BIGINT)").as("beta1_nano"),
        expr("CAST(round(beta2 * 1000000000.0) AS BIGINT)").as("beta2_nano"),
        expr("""CAST(1000000 - (n * sse * 1000000)
          | div (n * syy - sy * sy) AS BIGINT)""".stripMargin).as("r2_ppm"))
  }

  // ---------------------------------------------------------------- ml14
  /** Exact decision-stump split finding — the CART/GBDT inner loop
    * (Breiman et al. 1984; the histogram kernel of LightGBM/XGBoost):
    * for every candidate `(feature, threshold)` partition of lineitem
    * rows into `value ≤ θ` / `value > θ`, score class purity and elect
    * the best split. The class is the revenue band (`extendedprice >
    * 5000`, a fixed literal), so quantity genuinely separates it and
    * the elected cut is informative, not a coin flip (the spec pins a
    * measurable purity gain over the no-split baseline). The tree-learning arm the ml tier lacked — ml06
    * fits centroids, ml13 fits a hyperplane; this finds the optimal
    * axis-aligned CUT, the primitive every boosted-tree round calls
    * millions of times.
    *
    * Purity score is the Gini-equivalent `Σ_side ⌊Σ_c n_sc²·10¹²/n_side⌋`
    * (maximising it minimises weighted Gini impurity) — EXACT integer
    * end-to-end: class-count histograms are integers, squares accumulate
    * in DECIMAL(38,0)/HUGEINT, each side floors ONE division, and the
    * winner is elected under the total order (score DESC, feature,
    * threshold) — both engines surface the identical split table and
    * the identical chosen row, no float ever compared.
    *
    * Scale shape — the LightGBM histogram trick: the ONLY corpus-sized
    * work is one fused scan building `(feature, bin, class)` counts
    * (both features explode from the same row → one pass; map-side
    * combined; features here are already integral, a continuous
    * feature first bins by the q19c quantile sketch). Everything after
    * is bins-sized: the threshold×class grid, cumulative-left sums via
    * a ≤bins join, and a ~59-row window for the election. Deeper trees
    * re-run the same kernel on row subsets; more features add explode
    * branches, never scans. */
  val ml14 = Q("ml14_split_finding",
    """WITH lab AS (
      |  SELECT l_quantity, l_discount,
      |    CASE WHEN l_extendedprice > 5000 THEN 'hi' ELSE 'lo' END AS cls
      |  FROM lineitem),
      |f AS (
      |  SELECT 'qty' AS feat, CAST(round(l_quantity) AS BIGINT) AS v, cls
      |  FROM lab
      |  UNION ALL
      |  SELECT 'disc', CAST(round(l_discount * 100) AS BIGINT), cls
      |  FROM lab),
      |cnt AS (SELECT feat, v, cls, count(*) AS c FROM f GROUP BY 1, 2, 3),
      |grid AS (SELECT DISTINCT feat, v FROM cnt),
      |tot AS (SELECT feat, cls, sum(c) AS tc FROM cnt GROUP BY 1, 2),
      |pairs AS (
      |  SELECT g.feat, g.v AS theta, t.cls, t.tc
      |  FROM grid g JOIN tot t ON t.feat = g.feat),
      |cum AS (
      |  SELECT p.feat, p.theta, p.cls, p.tc, coalesce(sum(c.c), 0) AS lc
      |  FROM pairs p LEFT JOIN cnt c
      |    ON c.feat = p.feat AND c.cls = p.cls AND c.v <= p.theta
      |  GROUP BY p.feat, p.theta, p.cls, p.tc),
      |agg AS (
      |  SELECT feat, theta, sum(lc) AS nl, sum(tc - lc) AS nr,
      |    sum(CAST(lc AS HUGEINT) * lc) AS sl2,
      |    sum(CAST(tc - lc AS HUGEINT) * (tc - lc)) AS sr2
      |  FROM cum GROUP BY 1, 2),
      |sc AS (
      |  SELECT feat, theta, nl, nr,
      |    CAST((sl2 * 1000000000000) // nl
      |       + (sr2 * 1000000000000) // nr AS BIGINT) AS score
      |  FROM agg WHERE nr > 0)
      |SELECT feat AS feature, CAST(theta AS BIGINT) AS threshold,
      |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right, score,
      |  CAST(CASE WHEN row_number()
      |         OVER (ORDER BY score DESC, feat, theta) = 1
      |       THEN 1 ELSE 0 END AS INTEGER) AS chosen
      |FROM sc ORDER BY feature, threshold""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val f = Tables.lineitem(s, d)
      .withColumn("cls",
        when(col("l_extendedprice") > 5000, "hi").otherwise("lo"))
      .select(explode(expr(
        """array(named_struct('feat', 'qty',
          |  'v', CAST(round(l_quantity) AS BIGINT), 'cls', cls),
          |named_struct('feat', 'disc',
          |  'v', CAST(round(l_discount * 100) AS BIGINT), 'cls', cls))"""
          .stripMargin.replace("\n", " "))).as("r"))
      .select("r.feat", "r.v", "r.cls")
    val cnt = f.groupBy("feat", "v", "cls").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val grid = cnt.select("feat", "v").distinct()
    val tot = cnt.groupBy("feat", "cls").agg(sum("c").as("tc"))
    val pairs = grid.withColumnRenamed("v", "theta")
      .join(tot, "feat")
    val cum = pairs
      .join(cnt.select(col("feat"), col("cls"), col("v"), col("c")),
        Seq("feat", "cls"), "left")
      .withColumn("cIn", when(col("v") <= col("theta"), col("c")))
      .groupBy("feat", "theta", "cls", "tc")
      .agg(coalesce(sum("cIn"), lit(0L)).as("lc"))
    val D = "DECIMAL(38,0)"
    val agg0 = cum.groupBy("feat", "theta")
      .agg(sum("lc").as("nl"), sum(col("tc") - col("lc")).as("nr"),
        sum(expr(s"CAST(lc AS $D) * lc")).as("sl2"),
        sum(expr(s"CAST(tc - lc AS $D) * (tc - lc)")).as("sr2"))
      .filter(col("nr") > 0)
    val w = Window.orderBy(col("score").desc, col("feat"), col("theta"))
    agg0.select(col("feat"), col("theta"), col("nl"), col("nr"),
      expr("""CAST((sl2 * 1000000000000) div nl
        | + (sr2 * 1000000000000) div nr AS BIGINT)""".stripMargin)
        .as("score"))
      .withColumn("chosen",
        when(row_number().over(w) === 1, 1).otherwise(0).cast("int"))
      .select(col("feat").as("feature"), col("theta").cast("long")
          .as("threshold"), col("nl").cast("long").as("n_left"),
        col("nr").cast("long").as("n_right"), col("score"), col("chosen"))
      .orderBy("feature", "threshold")
  }

  // ---------------------------------------------------------------- ml15
  /** Quantised-model serving report — the model-COMPRESSION arm
    * (Jacob et al. 2018 integer-quantisation class): ml06's centroid
    * model squeezed to int8-style codes (per-class scale — each class's
    * counts map to 0..127 by `q = ⌊(cnt·254 + max)/(2·max)⌋`, the pure-
    * integer round-half-up, so the quantiser itself has NO float step),
    * zero codes dropped (the sparsification win), and the corpus served
    * by BOTH models. One summary row reports what a deployment decides
    * on: prediction agreement in ppm, accuracy of each model against
    * the teacher labels, and the term-count compression — measured, not
    * assumed. Docs losing every term to quantisation count as
    * disagreements/wrong (the ml07 no-silent-drops discipline).
    *
    * Scale: the fit is ml06's one aggregation; quantisation is a
    * map over the vocab-sized model + a 7-row max broadcast; both
    * scoring passes share the tf table and broadcast their models.
    * Model memory drops to one byte per surviving term — the reason
    * this tier exists at 100 TB serving fan-out. */
  /** Shared oracle CTE block: teacher labels, tf, both models (full
    * counts + int8-style quantised), and each model's per-doc argmax
    * pick — spliced into ml15's serving report AND ml17's McNemar
    * test, so both state the identical model pair. */
  private lazy val FullQuantCtes: String = {
    val n03Sql = NewsPipeline.n03.oracle.get
    s"""teacher AS ($n03Sql),
       |lab AS (
       |  SELECT doc_id, category AS teacher_category FROM teacher
       |  WHERE category <> 'unknown'),
       |toks AS (
       |  SELECT d.doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
       |                       t -> t <> '')) AS term
       |  FROM documents d JOIN lab ON lab.doc_id = d.doc_id),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |ctf AS (
       |  SELECT l.teacher_category AS category, t.term, count(*) AS cnt
       |  FROM toks t JOIN lab l ON l.doc_id = t.doc_id
       |  GROUP BY 1, 2),
       |mx AS (SELECT category, max(cnt) AS m FROM ctf GROUP BY category),
       |qtf AS (
       |  SELECT c.category, c.term,
       |    (c.cnt * 254 + x.m) // (2 * x.m) AS q
       |  FROM ctf c JOIN mx x ON x.category = c.category
       |  WHERE (c.cnt * 254 + x.m) // (2 * x.m) > 0),
       |pick_full AS (
       |  SELECT doc_id, category FROM (
       |    SELECT d.doc_id, d.category,
       |      row_number() OVER (PARTITION BY d.doc_id ORDER BY
       |        CAST(d.a AS DOUBLE) / sqrt(CAST(n.s2 AS DOUBLE)) DESC,
       |        d.category) AS rn
       |    FROM (SELECT tf.doc_id, c.category, sum(tf.tf * c.cnt) AS a
       |          FROM tf JOIN ctf c ON c.term = tf.term GROUP BY 1, 2) d
       |    JOIN (SELECT category, sum(cnt * cnt) AS s2 FROM ctf
       |          GROUP BY category) n ON n.category = d.category) z
       |  WHERE rn = 1),
       |pick_q AS (
       |  SELECT doc_id, category FROM (
       |    SELECT d.doc_id, d.category,
       |      row_number() OVER (PARTITION BY d.doc_id ORDER BY
       |        CAST(d.a AS DOUBLE) / sqrt(CAST(n.s2 AS DOUBLE)) DESC,
       |        d.category) AS rn
       |    FROM (SELECT tf.doc_id, c.category, sum(tf.tf * c.q) AS a
       |          FROM tf JOIN qtf c ON c.term = tf.term GROUP BY 1, 2) d
       |    JOIN (SELECT category, sum(q * q) AS s2 FROM qtf
       |          GROUP BY category) n ON n.category = d.category) z
       |  WHERE rn = 1)""".stripMargin
  }

  /** Spark twin of [[FullQuantCtes]]: teacher labels, both models, and
    * each model's per-doc pick — shared by ml15 and ml17. Returns
    * (lab, full picks, quant picks, full model, quant model). */
  private def fullQuantPicks(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // №27 measured NON-case (r16): spreading this scan regressed the
    // ml toks family ~1.2× isolated — the short-doc tokenize kernel is
    // lighter than the 32-task stage overhead the exchange adds.
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val lab = NewsPipeline.classify(docs)
      .filter(col("category") =!= "unknown")
      .select(col("doc_id"), col("category").as("teacher_category"))
      .localCheckpoint()
    val toks = docs.join(lab.select("doc_id"), "doc_id")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val ctf = toks.join(lab, "doc_id")
      .groupBy(col("teacher_category").as("category"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val mx = ctf.groupBy("category").agg(max("cnt").as("m"))
    val qtf = ctf.join(broadcast(mx), "category")
      .select(col("category"), col("term"),
        expr("(cnt * 254 + m) DIV (2 * m)").as("q"))
      .filter(col("q") > 0)
      .localCheckpoint()
    def pick(model: DataFrame, weight: String): DataFrame = {
      val s2 = model.groupBy("category")
        .agg(sum(col(weight) * col(weight)).as("s2"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("category"))
      tf.join(broadcast(model), "term")
        .groupBy("doc_id", "category")
        .agg(sum(col("tf") * col(weight)).as("a"))
        .join(broadcast(s2), "category")
        .select(col("doc_id"), col("category"),
          (col("a").cast("double") / sqrt(col("s2").cast("double")))
            .as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "category")
    }
    (lab, pick(ctf, "cnt"), pick(qtf, "q"), ctf, qtf)
  }

  val ml15 = Q("ml15_quantized_serving",
    s"""WITH $FullQuantCtes
       |SELECT CAST((SELECT count(*) FROM lab) AS BIGINT) AS n_docs,
       |  CAST((SELECT count(*) FROM pick_full f JOIN pick_q p
       |        ON p.doc_id = f.doc_id AND p.category = f.category)
       |    AS BIGINT) AS n_agree,
       |  CAST((SELECT count(*) FROM pick_full f JOIN pick_q p
       |        ON p.doc_id = f.doc_id AND p.category = f.category)
       |    * 1000000 // (SELECT count(*) FROM lab) AS BIGINT) AS agree_ppm,
       |  CAST((SELECT count(*) FROM pick_full f JOIN lab l
       |        ON l.doc_id = f.doc_id AND l.teacher_category = f.category)
       |    * 1000000 // (SELECT count(*) FROM lab) AS BIGINT)
       |    AS acc_full_ppm,
       |  CAST((SELECT count(*) FROM pick_q f JOIN lab l
       |        ON l.doc_id = f.doc_id AND l.teacher_category = f.category)
       |    * 1000000 // (SELECT count(*) FROM lab) AS BIGINT)
       |    AS acc_quant_ppm,
       |  CAST((SELECT count(*) FROM ctf) AS BIGINT) AS model_terms_full,
       |  CAST((SELECT count(*) FROM qtf) AS BIGINT) AS model_terms_quant"""
      .stripMargin) { (s, d) =>
    val (lab, full, quant, ctf, qtf) = fullQuantPicks(s, d)
    // r16: all six report scalars fold into ONE action — each former
    // `count()` was its own driver job (six sequential jobs, measured
    // 48 jobs/4.3 s wall for 3.4 cpu-s by WidthProbe); the cross-joined
    // 1-row aggs compute the identical integer report in one plan, and
    // the ppm divisions keep truncating-division semantics via DIV.
    lab.agg(count(lit(1)).as("n_docs"))
      .crossJoin(full.join(quant, Seq("doc_id", "category"))
        .agg(count(lit(1)).as("n_agree")))
      .crossJoin(full.join(lab,
        full("doc_id") === lab("doc_id") &&
          full("category") === lab("teacher_category"))
        .agg(count(lit(1)).as("acc_full")))
      .crossJoin(quant.join(lab,
        quant("doc_id") === lab("doc_id") &&
          quant("category") === lab("teacher_category"))
        .agg(count(lit(1)).as("acc_q")))
      .crossJoin(ctf.agg(count(lit(1)).as("model_terms_full")))
      .crossJoin(qtf.agg(count(lit(1)).as("model_terms_quant")))
      .selectExpr("n_docs", "n_agree",
        "n_agree * 1000000 DIV n_docs AS agree_ppm",
        "acc_full * 1000000 DIV n_docs AS acc_full_ppm",
        "acc_q * 1000000 DIV n_docs AS acc_quant_ppm",
        "model_terms_full", "model_terms_quant")
  }

  // ---------------------------------------------------------------- ml16
  /** Hashed-feature dimensionality for [[ml16]] (the hashing-trick D). */
  val HashDims = 256L

  /** Feature hashing (the hashing trick; Weinberger et al., ICML 2009)
    * — the featurization that makes 100 TB text ML SHUFFLE-FREE: each
    * token maps to one of [[HashDims]] dimensions by a salted hash,
    * with a second hash bit supplying a ±1 sign so collisions cancel
    * in expectation instead of biasing upward. No global vocabulary is
    * ever built — the dimension is FIXED before any data arrives,
    * which is what lets the same featurizer run over a stream, a new
    * shard, or a serving request with zero fitting state (contrast
    * ml10's chi2 table or t11's vocab, both of which need a corpus
    * pass before they can score row one).
    *
    * Features are word BIGRAMS (the unigram vocabulary here is ~31
    * tokens — hashing it into 256 dims would be collision-free and
    * vacuous; the ~916-bigram space is exactly the regime the trick is
    * for: |features| ≫ D, load ≈ 3.6 tokens/dim). The op emits the
    * DESIGN REPORT for the hash space: per dimension, the distinct
    * vocabulary tokens colliding into it, total token occurrences, and
    * the signed sum — the table that decides D before a training run
    * (collision load vs cancellation, the d20/s13/q57 tuning-table
    * discipline for the feature plane). One generator + a token-keyed
    * agg + a dimension-keyed agg, all map-side combined; the report is
    * D-sized. `MLFrozenSpec` pins the near-uniform load law and that
    * signed cancellation genuinely fires on colliding dims. */
  val ml16 = Q("ml16_feature_hashing",
    s"""WITH tok AS (
       |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
       |           i -> concat_ws(' ', w[i], w[i+1]))) AS token
       |  FROM (SELECT string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= 2),
       |tc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
       |hashed AS (
       |  SELECT token, cnt,
       |    CAST(concat('0x', substr(md5('ml16:' || token), 1, 8))
       |         AS BIGINT) % $HashDims AS dim,
       |    CASE WHEN CAST(concat('0x', substr(md5('ml16#' || token), 1, 8))
       |              AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM tc)
       |SELECT CAST(dim AS BIGINT) AS dim,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(cnt) AS BIGINT) AS total_count,
       |  CAST(sum(sgn * cnt) AS BIGINT) AS signed_sum
       |FROM hashed GROUP BY dim
       |ORDER BY dim""".stripMargin) { (s, d) =>
    val tc = Tables.documents(s, d)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr("word_shingles(w, 2)")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val dim = pmod(conv(substring(md5(concat(lit("ml16:"), col("token"))),
      1, 8), 16, 10).cast("long"), lit(HashDims))
    val sgn = when(pmod(conv(substring(md5(concat(lit("ml16#"), col("token"))),
      1, 8), 16, 10).cast("long"), lit(2L)) === 0, 1L).otherwise(-1L)
    tc.select(dim.as("dim"), sgn.as("sgn"), col("cnt"))
      .groupBy("dim")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum("cnt").cast("long").as("total_count"),
        sum(col("sgn") * col("cnt")).cast("long").as("signed_sum"))
      .orderBy("dim")
  }

  // ---------------------------------------------------------------- ml17
  /** χ²₁ critical value at α = 0.05, on the micro grid. */
  private val Chi2Crit = 3841459L

  /** McNemar's paired test (McNemar 1947, continuity-corrected) — the
    * STATISTICAL backbone ml15's agreement report stops short of: two
    * models serving the SAME corpus must be compared on the PAIRED
    * disagreement cells, not on marginal accuracies (two models can
    * share an accuracy yet err on disjoint docs — the b/c cells see
    * that, accuracy can't). Cells against the teacher labels:
    * n11/n00 (both right/wrong), n10 (full right, quant wrong), n01
    * (quant right, full wrong); the statistic uses ONLY the
    * discordant pair — χ² = (|b−c|−1)²/(b+c) — because concordant
    * docs carry no evidence either way. Everything is exact integers:
    * the statistic lands on the micro grid by `·10⁶ div (b+c)` (the
    * er04 ppm discipline; zero-guard per the p15/t30 convention), and
    * the verdict is an integer compare against [[Chi2Crit]]. On this
    * corpus quantisation's few flips are ~symmetric → not
    * significant: the REPORT is the evidence that the int8 model is
    * deployable, which is the decision this test exists to gate.
    * Cost: the two ml15 serving passes + two tiny joins + one 1-row
    * agg — the test itself is free. */
  val ml17 = Q("ml17_mcnemar",
    s"""WITH $FullQuantCtes,
       |cells AS (
       |  SELECT
       |    CASE WHEN f.category = l.teacher_category THEN 1 ELSE 0 END AS fr,
       |    CASE WHEN q.category = l.teacher_category THEN 1 ELSE 0 END AS qr
       |  FROM lab l
       |  LEFT JOIN pick_full f ON f.doc_id = l.doc_id
       |  LEFT JOIN pick_q q ON q.doc_id = l.doc_id),
       |m AS (
       |  SELECT
       |    sum(fr * qr) AS n11,
       |    sum(fr * (1 - qr)) AS n10,
       |    sum((1 - fr) * qr) AS n01,
       |    sum((1 - fr) * (1 - qr)) AS n00
       |  FROM cells)
       |SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
       |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
       |  CAST(CASE WHEN n10 + n01 = 0 THEN 0
       |       ELSE (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 1000000
       |            // (n10 + n01) END AS BIGINT) AS chi2_micro,
       |  CASE WHEN n10 + n01 = 0 THEN FALSE
       |       ELSE (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 1000000
       |            // (n10 + n01) > $Chi2Crit END AS significant
       |FROM m""".stripMargin) { (s, d) =>
    val (lab, full, quant, _, _) = fullQuantPicks(s, d)
    val cells = lab
      .join(full.select(col("doc_id"), col("category").as("fc")),
        Seq("doc_id"), "left")
      .join(quant.select(col("doc_id"), col("category").as("qc")),
        Seq("doc_id"), "left")
      .select(
        when(col("fc") === col("teacher_category"), 1L).otherwise(0L)
          .as("fr"),
        when(col("qc") === col("teacher_category"), 1L).otherwise(0L)
          .as("qr"))
    cells.agg(
        sum(col("fr") * col("qr")).as("n11"),
        sum(col("fr") * (lit(1L) - col("qr"))).as("n10"),
        sum((lit(1L) - col("fr")) * col("qr")).as("n01"),
        sum((lit(1L) - col("fr")) * (lit(1L) - col("qr"))).as("n00"))
      .selectExpr("CAST(n11 AS BIGINT) AS n11", "CAST(n10 AS BIGINT) AS n10",
        "CAST(n01 AS BIGINT) AS n01", "CAST(n00 AS BIGINT) AS n00",
        s"""CAST(CASE WHEN n10 + n01 = 0 THEN 0
           | ELSE (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 1000000
           |      DIV (n10 + n01) END AS BIGINT) AS chi2_micro"""
          .stripMargin.replace("\n", " "),
        s"""CASE WHEN n10 + n01 = 0 THEN FALSE
           | ELSE (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 1000000
           |      DIV (n10 + n01) > $Chi2Crit END AS significant"""
          .stripMargin.replace("\n", " "))
  }

  // ---------------------------------------------------------------- ml18
  /** One SQL block of the exact stump-fit kernel on a histogram CTE
    * `src(vq, vd, n, <tcol>)` — marginalise both features, cumulate
    * left-of-threshold sums, score `⌊sl²/nl⌋ + ⌊sr²/nr⌋` (the exact
    * variance-gain election for a squared-loss regression stump), and
    * elect under the total order (gain DESC, feat, v). Shared verbatim
    * by [[ml18]]'s two boosting rounds — the r10 shared-CTE discipline:
    * the second round's kernel IS the first one on a different target
    * column, so its SQL must be the same string. */
  private def stumpCtesSql(src: String, tcol: String, sfx: String): String =
    s"""m$sfx AS (
       |  SELECT feat, v, CAST(sum(n) AS BIGINT) AS n,
       |    CAST(sum(n * t) AS BIGINT) AS sy
       |  FROM (SELECT 'items' AS feat, vq AS v, n, ($tcol) AS t FROM $src
       |        UNION ALL SELECT 'sumqty', vd, n, ($tcol) FROM $src)
       |  GROUP BY 1, 2),
       |c$sfx AS (
       |  SELECT feat, v,
       |    sum(n) OVER (PARTITION BY feat ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
       |    sum(sy) OVER (PARTITION BY feat ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
       |    sum(n) OVER (PARTITION BY feat) AS nt,
       |    sum(sy) OVER (PARTITION BY feat) AS st
       |  FROM m$sfx),
       |g$sfx AS (
       |  SELECT feat, v, nl, nt - nl AS nr, sl, st - sl AS sr,
       |    (CAST(sl AS HUGEINT) * sl) // nl
       |      + (CAST(st - sl AS HUGEINT) * (st - sl)) // (nt - nl) AS gain
       |  FROM c$sfx WHERE nt - nl > 0),
       |e$sfx AS (
       |  SELECT feat, v AS theta, CAST(sl // nl AS BIGINT) AS leaf_le,
       |    CAST(sr // nr AS BIGINT) AS leaf_gt
       |  FROM (SELECT g.*, row_number()
       |          OVER (ORDER BY gain DESC, feat, v) AS rn FROM g$sfx g)
       |  WHERE rn = 1)""".stripMargin

  /** The staged-score attach + per-round metrics block: `f$sfx` = the
    * running additive score after adding stump `e$sfx`'s leaf, `mt$sfx`
    * = (N, correct, squared-error) over the histogram. Shared by both
    * rounds (round 1 passes `prev` = "0"). */
  private def stageCtesSql(src: String, prev: String, sfx: String): String =
    s"""h$sfx AS (
       |  SELECT h.*, ($prev) + CASE WHEN e.feat = 'items'
       |    THEN CASE WHEN h.vq <= e.theta THEN e.leaf_le ELSE e.leaf_gt END
       |    ELSE CASE WHEN h.vd <= e.theta THEN e.leaf_le ELSE e.leaf_gt END
       |    END AS f$sfx
       |  FROM $src h CROSS JOIN e$sfx e),
       |mt$sfx AS (
       |  SELECT CAST(sum(n) AS HUGEINT) AS nn,
       |    sum(CAST(n AS HUGEINT) * CASE WHEN (f$sfx >= 500) = (p >= 500)
       |        THEN 1 ELSE 0 END) AS corr,
       |    sum(CAST(n AS HUGEINT) * (p - f$sfx) * (p - f$sfx)) AS se
       |  FROM h$sfx)""".stripMargin

  /** One gradient-boosting round over [[ml14]]'s histogram stump kernel
    * (Friedman 2001, least-squares stagewise additive fitting; the
    * XGBoost/LightGBM outer loop at depth 1) — the tree-ENSEMBLE class
    * the ml family lacked: ml14 elects ONE cut, this fits a cut,
    * subtracts its leaf means, refits on the RESIDUALS, and reports the
    * staged additive model `F₂ = h₁ + h₂` next to `F₁ = h₁`. Everything
    * is integer fixed-point in per-mille scale (label `p ∈ {0, 1000}`,
    * leaf values `⌊Σt/n⌋`, residuals `p − F₁`), so both engines walk the
    * identical election and the identical staged scores — no float
    * enters the fit, the leaves, or the metrics.
    *
    * The task is chosen so the ensemble is NECESSARY, not decorative:
    * the label is the mid-market revenue BAND (order revenue in
    * (15 M, 30 M] cents — ml13's per-order revenue relationship, which
    * this corpus genuinely expresses through the line count), and
    * P(band | n_items) is bump-shaped, so ONE monotone cut can only fix
    * one flank — round 1 cuts the low flank (n_items ≤ 2), round 2's
    * residual fit cuts the high flank with a negative leaf, and the
    * staged model flips the over-predicted right tail back to 'out of
    * band'. Measured: training accuracy +~0.10 absolute and MSE −11%
    * in round 2 at every test SF — the spec pins both strict
    * improvements plus that the second stump differs from the first.
    *
    * Scale shape — the LightGBM histogram trick taken one step further
    * than ml14: the corpus-sized work is ONE lineitem pass keyed by
    * order (ml13's map-side-combined shuffle) immediately reduced to
    * the JOINT `(n_items, sum_qty, label)` histogram (≤ 7·360·2 ≈ 5000
    * cells at any corpus size). Because a depth-1 leaf value is
    * constant on each histogram cell, BOTH rounds — marginals,
    * cumulative sums, election, residuals, staged scores, accuracy/MSE
    * — are pure cells-sized algebra: boosting T rounds costs T
    * cells-sized passes after a single corpus scan, never T scans.
    * Bounds: every sum fits BIGINT for corpora to 9e12 orders (≈ the
    * 100 TB operating point; squares go through DECIMAL(38,0)/HUGEINT),
    * `require`d in-op, g16-style — past that the per-mille scale drops
    * to per-cent, same dataflow. */
  val ml18 = Q("ml18_boosting_round",
    s"""WITH hist AS (
       |  SELECT vq, vd, p, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT CAST(count(*) AS BIGINT) AS vq,
       |      CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS vd,
       |      CAST(CASE WHEN sum(CAST(round(l_extendedprice * 100)
       |            AS BIGINT)) > 15000000
       |          AND sum(CAST(round(l_extendedprice * 100)
       |            AS BIGINT)) <= 30000000
       |        THEN 1000 ELSE 0 END AS BIGINT) AS p
       |    FROM lineitem GROUP BY l_orderkey)
       |  GROUP BY 1, 2, 3),
       |${stumpCtesSql("hist", "p", "1")},
       |${stageCtesSql("hist", "0", "1")},
       |${stumpCtesSql("h1", "p - f1", "2")},
       |${stageCtesSql("h1", "f1", "2")}
       |SELECT CAST(1 AS INTEGER) AS round, e.feat AS feature,
       |  CAST(e.theta AS BIGINT) AS threshold, e.leaf_le AS leaf_le_pm,
       |  e.leaf_gt AS leaf_gt_pm,
       |  CAST((corr * 1000000) // nn AS BIGINT) AS acc_ppm,
       |  CAST(se // nn AS BIGINT) AS mse_pm2
       |FROM e1 e CROSS JOIN mt1
       |UNION ALL
       |SELECT CAST(2 AS INTEGER), e.feat, CAST(e.theta AS BIGINT),
       |  e.leaf_le, e.leaf_gt,
       |  CAST((corr * 1000000) // nn AS BIGINT),
       |  CAST(se // nn AS BIGINT)
       |FROM e2 e CROSS JOIN mt2
       |ORDER BY round""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val D = "DECIMAL(38,0)"
    // ONE corpus pass (keyed by order, map-side combined) -> joint
    // (n_items, sum_qty, label) histogram; checkpointed (≈5000 cells)
    // so neither round rescans the table
    val hist = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("long").as("vq"),
        sum(expr("CAST(round(l_quantity) AS BIGINT)")).cast("long").as("vd"),
        expr("""CAST(CASE WHEN
            |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) > 15000000
            |  AND sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            |    <= 30000000
            |THEN 1000 ELSE 0 END AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("p"))
      .groupBy("vq", "vd", "p").agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint()
    // g16-style loud bound: per-mille sums fit BIGINT to 9e12 orders —
    // |t| ≤ 1000 in both rounds (leaf means never leave [0,1000], so
    // residuals stay in [−1000,1000]), hence |sl| ≤ N·10³ and the
    // elected gain ⌊sl²/nl⌋+⌊sr²/nr⌋ ≤ N·10⁶ < 2⁶³ iff N ≤ 9e12
    require(hist.agg(sum("n")).head.getLong(0) <= 9000000000000L,
      "ml18: corpus exceeds the per-mille BIGINT envelope (9e12 orders) — " +
        "drop the fixed-point scale to per-cent")
    // exact least-squares stump fit on histogram target column `t`:
    // marginalise, cumulate, score ⌊sl²/nl⌋+⌊sr²/nr⌋, elect (1 row)
    def fit(h: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val m = h.select(explode(expr(
          """array(named_struct('feat', 'items', 'v', vq),
            |named_struct('feat', 'sumqty', 'v', vd))"""
            .stripMargin.replace("\n", " "))).as("r"),
          col("n"), col("t"))
        .groupBy(col("r.feat").as("feat"), col("r.v").as("v"))
        .agg(sum("n").as("n"), sum(col("n") * col("t")).as("sy"))
      val wCum = Window.partitionBy("feat").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("feat")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val c = m.select(col("feat"), col("v"),
        sum("n").over(wCum).as("nl"), sum("sy").over(wCum).as("sl"),
        sum("n").over(wAll).as("nt"), sum("sy").over(wAll).as("st"))
      val g = c.filter(col("nt") > col("nl"))
        .selectExpr("feat", "v", "nl", "nt - nl AS nr", "sl",
          "st - sl AS sr",
          s"""(CAST(sl AS $D) * sl) div nl
             | + (CAST(st - sl AS $D) * (st - sl)) div (nt - nl) AS gain"""
            .stripMargin.replace("\n", " "))
      val wElect = Window.orderBy(col("gain").desc, col("feat"), col("v"))
      g.withColumn("rn", row_number().over(wElect)).filter(col("rn") === 1)
        .selectExpr("feat", "v AS theta",
          "CAST(sl div nl AS BIGINT) AS leaf_le",
          "CAST(sr div nr AS BIGINT) AS leaf_gt")
    }
    // staged attach: F += elected leaf (1-row broadcast, cells-sized)
    def stage(h: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame,
        prev: org.apache.spark.sql.Column,
        fCol: String): org.apache.spark.sql.DataFrame =
      h.crossJoin(broadcast(e))
        .withColumn(fCol, prev + when(col("feat") === "items",
            when(col("vq") <= col("theta"), col("leaf_le"))
              .otherwise(col("leaf_gt")))
          .otherwise(when(col("vd") <= col("theta"), col("leaf_le"))
            .otherwise(col("leaf_gt"))))
        .drop("feat", "theta", "leaf_le", "leaf_gt")
    def metrics(h: org.apache.spark.sql.DataFrame,
        fCol: String): org.apache.spark.sql.DataFrame =
      h.agg(sum("n").as("nn"),
        sum(expr(s"CAST(n AS $D) * (CASE WHEN ($fCol >= 500) = (p >= 500) " +
          "THEN 1 ELSE 0 END)")).as("corr"),
        sum(expr(s"CAST(n AS $D) * (p - $fCol) * (p - $fCol)")).as("se"))
    def report(round: Int, e: org.apache.spark.sql.DataFrame,
        mt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      e.crossJoin(broadcast(mt)).selectExpr(
        s"CAST($round AS INTEGER) AS round", "feat AS feature",
        "CAST(theta AS BIGINT) AS threshold", "leaf_le AS leaf_le_pm",
        "leaf_gt AS leaf_gt_pm",
        s"CAST((CAST(corr AS $D) * 1000000) div nn AS BIGINT) AS acc_ppm",
        "CAST(se div nn AS BIGINT) AS mse_pm2")
    val e1 = fit(hist.withColumn("t", col("p")))
    val h1 = stage(hist, e1, lit(0L), "f1")
    val e2 = fit(h1.withColumn("t", col("p") - col("f1")))
    val h2 = stage(h1, e2, col("f1"), "f2")
    report(1, e1, metrics(h1, "f1"))
      .union(report(2, e2, metrics(h2, "f2")))
      .orderBy("round")
  }

  // ---------------------------------------------------------------- ml19
  /** Number of held-out probe vectors / neighbours per probe. */
  val KnnProbes = 20
  val KnnK = 5

  /** kNN MAJORITY-VOTE classifier over the embedding column — the
    * non-parametric sibling of ml06's centroid classifier and the
    * label-propagation primitive of every embedding-era curation stack
    * (label a few thousand seed docs, kNN-extend the labels to the
    * corpus). [[KnnProbes]] held-out vectors are classified by the
    * majority label of their [[KnnK]] nearest training neighbours
    * (cosine, [[graft.functions.CosineSimilarity]]); vote ties break to
    * the smallest label, neighbour-rank ties to the smallest vec_id —
    * fully deterministic, so the DuckDB oracle recomputes the whole
    * decision, not just its shape.
    *
    * Scale shape: the probe side is tiny and explicitly `broadcast` —
    * the training corpus streams through ONE codegen'd map pass
    * (s01's discipline; the condition-less join is hint-carried for
    * the CatalogPlanSpec audit), ranking is a per-query window over
    * KnnProbes·|corpus| scored rows, map-side combinable. At estate
    * scale the exact scan swaps for ANN candidate generation (s03
    * posting lists or s18's bucketed graph walk) feeding the SAME
    * vote — this op pins the vote semantics those tiers plug into. */
  val ml19 = Q("ml19_knn_classifier",
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |q AS (SELECT vec_id, embedding, label FROM e WHERE vec_id < $KnnProbes),
       |t AS (SELECT vec_id, embedding, label FROM e WHERE vec_id >= $KnnProbes),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS true_label,
       |         t.vec_id AS neighbor_id, t.label AS n_label,
       |         ${Similarity.cosSql("q", "t")} AS cos
       |  FROM q JOIN t ON TRUE),
       |ranked AS (
       |  SELECT query_id, true_label, neighbor_id, n_label,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored),
       |votes AS (
       |  SELECT query_id, true_label, n_label, count(*) AS votes
       |  FROM ranked WHERE rank <= $KnnK GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT query_id, true_label, n_label AS pred_label, votes,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY votes DESC, n_label) AS r
       |  FROM votes)
       |SELECT query_id, CAST(true_label AS INTEGER) AS true_label,
       |       CAST(pred_label AS INTEGER) AS pred_label,
       |       CAST(votes AS BIGINT) AS votes,
       |       true_label = pred_label AS correct
       |FROM pred WHERE r = 1 ORDER BY query_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = graft.ops.Dedup.validationCap(s, Tables.embeddings(s, d),
      "vec_id", "spark.graft.validation.cap.vecs")
      .select(col("vec_id"), col("embedding"), col("label"))
    val q = e.filter(col("vec_id") < KnnProbes)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("label").as("true_label"))
    val t = e.filter(col("vec_id") >= KnnProbes)
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val votes = t.join(broadcast(q))
      .select(col("query_id"), col("true_label"),
        col("vec_id").as("neighbor_id"), col("label").as("n_label"),
        expr("cosine_sim(q_embedding, embedding)").as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= KnnK)
      .groupBy("query_id", "true_label", "n_label")
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("r", row_number().over(wVote))
      .filter(col("r") === 1)
      .select(col("query_id"),
        col("true_label").cast("int").as("true_label"),
        col("n_label").cast("int").as("pred_label"),
        col("votes").cast("long").as("votes"),
        (col("true_label") === col("n_label")).as("correct"))
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------- ml20
  /** Precision-recall curve + average precision — ml03's sibling for the
    * IMBALANCED regime, which is the one curation actually lives in
    * (toxic docs, contaminated docs, PII hits are all rare classes, and
    * ROC-AUC flatters rare-class classifiers because FPR's denominator
    * is the huge negative class; PR answers "of what the gate flags, how
    * much is real" — Davis & Goadrich 2006). Same inputs as ml03 so the
    * two curves are directly comparable on the same scored corpus:
    * score = t02's quality in micros, label = t15's Gopher keep.
    *
    * Same distributed shape as ml03 — the corpus collapses to the
    * (score, pos, neg) HISTOGRAM (bounded by distinct quantised scores),
    * the curve is a cumulative walk over that small table, and the only
    * window runs over the histogram. AP is the step-wise integral
    * AP = Σ_i (tp_i − tp_{i−1}) · precision_i / P (what
    * `average_precision_score` computes); the float hazard is the SUM,
    * so each row's contribution quantises to nanos FIRST
    * (`round(Δtp · tp/(tp+fp) · 1e9)` → BIGINT, the g01/ml03
    * discipline: per-row IEEE arithmetic is bit-identical across
    * engines, BIGINT summation is order-free), and AP emerges from one
    * final division. Per-row precision/recall are single divisions —
    * no accumulation, no drift.
    *
    * At 100 TB: one map pass, one ≤|scores| histogram shuffle, a tiny
    * window, a broadcast of two scalars — identical bill to ml03. */
  val ml20 = Q("ml20_pr_auc", {
    val t15Sql = graft.ops.TextAnalysis.t15.oracle.get
    val t02Sql = graft.ops.TextAnalysis.t02.oracle.get
    s"""WITH t15o AS ($t15Sql),
       |t02o AS ($t02Sql),
       |lab AS (SELECT doc_id, keep AS label FROM t15o),
       |qs AS (
       |  SELECT doc_id,
       |    CAST(round(quality * 1000000.0) AS BIGINT) AS score_micro
       |  FROM t02o),
       |d AS (
       |  SELECT qs.score_micro, lab.label
       |  FROM qs JOIN lab ON lab.doc_id = qs.doc_id),
       |hist AS (
       |  SELECT score_micro,
       |    count(*) FILTER (WHERE label) AS pos,
       |    count(*) FILTER (WHERE NOT label) AS neg
       |  FROM d GROUP BY score_micro),
       |tot AS (SELECT sum(pos) AS p FROM hist),
       |cum AS (
       |  SELECT score_micro,
       |    sum(pos) OVER (ORDER BY score_micro DESC) AS tp,
       |    sum(neg) OVER (ORDER BY score_micro DESC) AS fp
       |  FROM hist),
       |steps AS (
       |  SELECT score_micro, tp, fp,
       |    CAST(round(
       |      CAST(tp - coalesce(lag(tp) OVER (ORDER BY score_micro DESC),
       |                         0) AS DOUBLE)
       |        * (CAST(tp AS DOUBLE) / (tp + fp)) * 1000000000.0)
       |      AS BIGINT) AS contrib_nano
       |  FROM cum),
       |apn AS (SELECT sum(contrib_nano) AS num FROM steps)
       |SELECT s.score_micro, CAST(s.tp AS BIGINT) AS tp,
       |  CAST(s.fp AS BIGINT) AS fp,
       |  CAST(s.tp AS DOUBLE) / (s.tp + s.fp) AS precision,
       |  CAST(s.tp AS DOUBLE) / tot.p AS recall,
       |  CAST(apn.num AS DOUBLE) / 1000000000.0 / tot.p AS ap
       |FROM steps s CROSS JOIN tot CROSS JOIN apn
       |ORDER BY score_micro DESC""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val lab = graft.ops.TextAnalysis.t15.run(s, d)
      .select(col("doc_id"), col("keep").as("label"))
    val qs = graft.ops.TextAnalysis.t02.run(s, d)
      .select(col("doc_id"),
        expr("CAST(round(quality * 1000000.0) AS BIGINT)").as("score_micro"))
    val hist = qs.join(lab, "doc_id")
      .groupBy("score_micro")
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("pos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("neg"))
      .localCheckpoint() // small histogram; feeds the total, window, AP
    val tot = hist.agg(sum("pos").as("p"))
    val w = Window.orderBy(col("score_micro").desc)
    val cum = hist.select(col("score_micro"),
      sum("pos").over(w).as("tp"), sum("neg").over(w).as("fp"))
    val steps = cum.select(col("score_micro"), col("tp"), col("fp"),
      round((col("tp") - coalesce(lag(col("tp"), 1).over(w), lit(0L)))
          .cast("double")
        * (col("tp").cast("double") / (col("tp") + col("fp")))
        * lit(1000000000.0)).cast("long").as("contrib_nano"))
      .localCheckpoint() // reused by the AP scalar and the output rows
    val apn = steps.agg(sum("contrib_nano").as("num"))
    steps.crossJoin(broadcast(tot)).crossJoin(broadcast(apn))
      .select(col("score_micro"),
        col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
        (col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        (col("tp").cast("double") / col("p")).as("recall"),
        (col("num").cast("double") / lit(1000000000.0) / col("p"))
          .as("ap"))
      .orderBy(col("score_micro").desc)
  }

  def all: Seq[Q] =
    Seq(ml01, ml02, ml03, ml04, ml05, ml06, ml07, ml08, ml09, ml10, ml11,
      ml12, ml13, ml14, ml15, ml16, ml17, ml18, ml19, ml20)
}
