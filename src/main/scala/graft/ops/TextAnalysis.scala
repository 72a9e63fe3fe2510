package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Text-analysis operators for the training-data pipeline (north-star
  * requirement; ref: absent). All pure Catalyst expressions — one
  * projection pass over the corpus, no UDFs, no shuffle except where an
  * aggregation is the point. At 100 TB each of these is a map-only stage
  * that pipelines with the scan.
  */
object TextAnalysis {

  /** Stopword lexicon for quality scoring / language ID. Tiny and
    * engine-defined (the synthetic corpus vocabulary is English-ish). */
  val stopwords: Seq[String] = Seq("the", "a", "and", "or", "of")

  private def wordsOf(c: Column): Column = split(c, " ")

  // ---------------------------------------------------------------- t01
  /** Token statistics: whitespace tokens, regex (BPE-ish word/number)
    * tokens, character count, avg token length. */
  val t01 = Q("t01_token_stats",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
      |  length(text) AS n_chars,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val text = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      size(wordsOf(text)).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")
        .as("re_tokens"),
      length(text).cast("long").as("n_chars"),
      (length(regexp_replace(text, " ", "")).cast("double") /
        size(wordsOf(text))).as("avg_token_len"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t02
  /** Quality scoring: length, stopword ratio, vocabulary diversity
    * (distinct/total tokens), all folded into one [0,1]-ish score.
    * Single-division doubles → engine-order independent. */
  val t02 = Q("t02_quality_score",
    s"""SELECT doc_id, n_tokens, stop_hits,
       |  CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
       |  CAST(n_distinct AS DOUBLE) / n_tokens AS diversity,
       |  least(1.0, n_tokens / 200.0) * (CAST(n_distinct AS DOUBLE) / n_tokens)
       |    AS quality
       |FROM (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(list_filter(string_split(text, ' '),
       |        w -> list_contains([${stopwords.map("'" + _ + "'").mkString(", ")}], w))) AS stop_hits,
       |    len(list_distinct(string_split(text, ' '))) AS n_distinct
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // The three counts come out of ONE `transform(array(split(...)), w ->
    // named_struct(...))` lambda: `w` let-binds the split so it is
    // tokenised once per row (the classify trick, NewsPipeline.scala) —
    // as three independent columns the split was evaluated 3× per row
    // (HOFs are interpreted, no codegen CSE), measured ~40% slower.
    // CollapseProject keeps the two projections separate because the
    // struct is expensive and multiply-referenced.
    val stopArr = stopwords.map(x => s"'$x'").mkString(", ")
    val statsExpr =
      s"""element_at(transform(array(split(text, ' ')), w -> named_struct(
         |  'n_tokens', CAST(size(w) AS BIGINT),
         |  'stop_hits', CAST(size(filter(w, x -> array_contains(array($stopArr), x))) AS BIGINT),
         |  'n_distinct', CAST(size(array_distinct(w)) AS BIGINT))), 1)""".stripMargin
    val base = Tables.documents(s, d)
      .select(col("doc_id"), expr(statsExpr).as("__t"))
      .select(col("doc_id"),
        col("__t.n_tokens").as("n_tokens"),
        col("__t.stop_hits").as("stop_hits"),
        col("__t.n_distinct").as("n_distinct"))
    base.select(
      col("doc_id"), col("n_tokens"), col("stop_hits"),
      (col("stop_hits").cast("double") / col("n_tokens")).as("stop_ratio"),
      (col("n_distinct").cast("double") / col("n_tokens")).as("diversity"),
      (least(lit(1.0), col("n_tokens") / 200.0) *
        (col("n_distinct").cast("double") / col("n_tokens"))).as("quality"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t03
  /** Language ID, n-gram-heuristic shape: score = stopword-lexicon hits
    * per language, argmax with fixed tiebreak, compared against the
    * labelled `lang` column. (The synthetic corpus is English-ish for
    * every label, so predictions skew `en` — the *operator* is the
    * deliverable, the lexicons are config.) */
  val langLexicon: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("und", "der", "das"),
    "en" -> Seq("the", "a", "and"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "la", "les"),
    "zh" -> Seq("de", "shi", "bu"))

  // Whole-word occurrence count via padded substring arithmetic:
  // count(' kw ' in ' '||text||' ') — pure codegen'd string ops (an
  // interpreted `filter(split(...))` lambda per language was ~10× slower).
  // replace() is left-to-right non-overlapping in both engines, so
  // consecutive duplicates undercount identically — deterministic parity
  // is the contract, the lexicons are config.
  private def wordHitsSpark(k: String): String = {
    val pad = s"concat(' ', text, ' ')"
    s"CAST((length($pad) - length(replace($pad, ' $k ', ''))) / ${k.length + 2} AS BIGINT)"
  }
  private def wordHitsSql(k: String): String = {
    val pad = s"concat(' ', text, ' ')"
    s"(length($pad) - length(replace($pad, ' $k ', ''))) // ${k.length + 2}"
  }

  /** (doc_id, lang, predicted) without the presentation sort — shared by
    * t03 and the ml02 evaluation-metrics op. */
  private[ops] def langPredictions(s: SparkSession, d: String): DataFrame = {
    val scores = langLexicon.map { case (l, kws) =>
      l -> kws.map(k => expr(wordHitsSpark(k))).reduce(_ + _)
    }
    val mx = greatest(scores.map(_._2): _*)
    val predicted = when(mx === 0, lit("und")).otherwise(
      coalesce(scores.map { case (l, sc) => when(sc === mx, lit(l)) }: _*))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), predicted.as("predicted"))
  }

  /** t03's oracle SQL sans final ORDER BY — a reusable CTE body. */
  private[ops] val langPredSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, ${langLexicon.map { case (l, kws) =>
        kws.map(wordHitsSql).mkString(" + ") + s" AS s_$l"
      }.mkString(", ")}
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CASE WHEN greatest(${langLexicon.map("s_" + _._1).mkString(", ")}) = 0
       |       THEN 'und' ELSE coalesce(${langLexicon.map { case (l, _) =>
        s"CASE WHEN s_$l = greatest(${langLexicon.map("s_" + _._1).mkString(", ")}) THEN '$l' END"
      }.mkString(", ")}) END AS predicted
       |FROM scored""".stripMargin

  val t03 = Q("t03_lang_id", langPredSql + "\nORDER BY doc_id") { (s, d) =>
    langPredictions(s, d).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t04
  /** Document fingerprint: digest of whitespace-normalised text, plus a
    * 32-bit shard bucket from the digest head — the partitioning trick
    * for distributing a dedup/fingerprint table evenly at scale. */
  val t04 = Q("t04_fingerprint",
    """SELECT doc_id,
      |  md5(lower(regexp_replace(text, ' +', ' '))) AS fingerprint,
      |  CAST(concat('0x', substr(md5(lower(regexp_replace(text, ' +', ' '))), 1, 8)) AS BIGINT)
      |    % 1024 AS shard
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val fp = md5(lower(regexp_replace(col("text"), " +", " ")))
    Tables.documents(s, d)
      .select(col("doc_id"), fp.as("fingerprint"),
        (conv(substring(fp, 1, 8), 16, 10).cast("long") % 1024).as("shard"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t05
  /** DuckDB recomputation of the winnowing prints (k=8, w=4, md5 k-gram
    * family — [[graft.functions.TextFunctions.md5KgramHashes]]): k-gram
    * hashes as 60-bit md5 heads, per-window minima via a 4-row window
    * frame, restricted to full windows (or the single all-gram window
    * when a doc has ≤ w grams, matching the Scala edge case), distinct
    * per doc. Shared by the t05/t06 oracles. */
  private[ops] val printsSql =
    """grams AS (
      |  SELECT doc_id, i,
      |    CAST('0x' || substr(md5(substr(text, i, 8)), 1, 15) AS BIGINT) AS h
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 7)) AS i
      |        FROM documents WHERE len(text) >= 8)),
      |wins AS (
      |  SELECT doc_id, i,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
      |    count(*) OVER (PARTITION BY doc_id) AS g
      |  FROM grams),
      |prints AS (
      |  SELECT DISTINCT doc_id, m AS p FROM wins
      |  WHERE i <= greatest(g - 4, 0) + 1)""".stripMargin

  /** Hash family for the winnowing queries, same switch as the simhash
    * family: md5 k-gram heads by default (DuckDB-recomputable → full
    * value/hash oracle), the O(n) Rabin–Karp rolling family under
    * `spark.graft.fasthash=true` (production / bench — the per-gram
    * digest is the price of oracle-ability, not part of the design). */
  private def winnowMd5Mode(s: SparkSession): Boolean =
    !s.conf.get("spark.graft.fasthash", "false").toBoolean

  /** Winnowing fingerprints (k-gram hashes → per-window minima,
    * [[graft.functions.TextFunctions.winnow]]): position-robust document
    * signatures via `mapPartitions`. Docs sharing any ≥ (w+k−1)-byte run
    * share a print, so near-dup candidates = equi-join on print — the
    * byte-level analogue of d03's shingle LSH. Fully oracled under the
    * md5 k-gram family; the spec additionally pins the shared-substring
    * guarantee under both families. */
  val t05 = Q("t05_winnow_fingerprint",
    s"""WITH $printsSql
       |SELECT d.doc_id,
       |  CAST(coalesce(pa.n, 0) AS BIGINT) AS n_prints,
       |  CAST(coalesce(pa.mn, 0) AS BIGINT) AS min_print
       |FROM documents d
       |LEFT JOIN (SELECT doc_id, count(*) AS n, min(p) AS mn
       |           FROM prints GROUP BY doc_id) pa ON pa.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val md5Mode = winnowMd5Mode(s)
    Tables.documents(s, d)
      .select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val prints = graft.functions.TextFunctions.winnow(text, md5Mode = md5Mode)
        (id, prints.size.toLong, if (prints.isEmpty) 0L else prints.min)
      })
      .toDF("doc_id", "n_prints", "min_print")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t06
  /** Winnowing near-dup retrieval — the query t05's prints exist FOR:
    * explode each document's print set into an inverted index, drop
    * boilerplate prints past a document-frequency cap (d06's stop-shingle
    * guard — bounds join fanout at df² per print), then equi-join on
    * print and count shared prints per pair. Same bucketed-join dataflow
    * as d02/d06 with prints instead of shingles — byte-level, so it
    * catches near-dups that word-shingling misses (reflowed whitespace
    * aside, any shared ≥ w+k−1-byte run surfaces). Fully oracled under
    * the md5 k-gram family; the spec asserts containment of d02's
    * word-level high-Jaccard pairs. */
  val t06 = Q("t06_winnow_candidates",
    s"""WITH $printsSql,
       |kept AS (
       |  SELECT doc_id, p FROM prints
       |  WHERE p IN (SELECT p FROM prints GROUP BY p HAVING count(*) <= 50))
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |       CAST(count(*) AS BIGINT) AS shared_prints
       |FROM kept a JOIN kept b USING (p)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import s.implicits._
    val md5Mode = winnowMd5Mode(s)
    val prints = Tables.documents(s, d)
      .select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.functions.TextFunctions.winnow(text, md5Mode = md5Mode)
          .iterator.map(p => (id, p))
      }
      .toDF("doc_id", "p")
    val rare = prints.groupBy("p").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("p")
    val kept = prints.join(rare, "p")
    kept.as("a")
      .join(kept.as("b"), col("a.p") === col("b.p") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("shared_prints"))
      .filter(col("shared_prints") >= 2)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- t07
  /** Benchmark decontamination — the training-data op that keeps eval
    * sets out of the corpus: flag every training document sharing an
    * 8-word shingle with the held-out slice (here `doc_id % 10 = 0`
    * stands in for the benchmark suite). The eval side is tiny BY
    * CONSTRUCTION (benchmarks are KBs against a 100 TB corpus), so its
    * distinct shingles broadcast — the corpus never shuffles, one
    * map-side hash probe per shingle, then a per-doc count. This is the
    * legitimate broadcast case the fact-table joins must NOT use. */
  /** Distinct 8-gram shingles per doc as a CTE `${p}sh8` over any
    * `(doc_id, text)` source — the fragment t07/t14/p01 and the p18
    * composition share (one definition, no drift). */
  private[ops] def sh8Sql(src: String, p: String = ""): String =
    s"""${p}sh8 AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 7),
       |      i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
       |                          w[i+4], w[i+5], w[i+6], w[i+7]))) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)
       |    WHERE len(w) >= 8))""".stripMargin

  /** CTE chain 8-gram shingles → eval-slice shingles → contaminated
    * docs; shared by the t07 oracle and the p01 composition. */
  private[ops] val contaminationSql =
    s"""${sh8Sql("documents")},
      |ev AS (SELECT DISTINCT s FROM sh8 WHERE doc_id % 10 = 0),
      |contaminated AS (
      |  SELECT doc_id, count(*) AS n_shared
      |  FROM sh8 JOIN ev USING (s)
      |  WHERE doc_id % 10 <> 0
      |  GROUP BY doc_id)""".stripMargin

  /** Per-doc quality score CTE (t02's arithmetic), shared with p01. */
  private[ops] val qualitySql =
    """quality AS (
      |  SELECT doc_id,
      |    least(1.0, n_tokens / 200.0) * (CAST(n_distinct AS DOUBLE) / n_tokens)
      |      AS quality
      |  FROM (
      |    SELECT doc_id,
      |      len(string_split(text, ' ')) AS n_tokens,
      |      len(list_distinct(string_split(text, ' '))) AS n_distinct
      |    FROM documents))""".stripMargin

  /** Distinct (doc_id, 8-gram shingle) pairs — t07/t14's shared input. */
  private[graft] def shingles8(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr("word_shingles(w, 8)")).as("s"))
      .distinct()
  }

  /** t07/t14 shared oracle — both produce the decontamination verdict;
    * t14 only changes HOW candidates are found (d08/d10 convention). */
  private val decontOracleSql =
    s"""WITH $contaminationSql
       |SELECT doc_id, n_shared FROM contaminated ORDER BY doc_id""".stripMargin

  val t07 = Q("t07_decontaminate", decontOracleSql) { (s, d) =>
    val sh = shingles8(s, d)
    val evalSh = sh.filter(col("doc_id") % 10 === 0).select("s").distinct()
    sh.filter(col("doc_id") % 10 =!= 0)
      .join(broadcast(evalSh), "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t08
  /** PII redaction — the scrubbing pass a training corpus runs before
    * anything else. The synthetic docs carry no PII, so a deterministic
    * email + phone is injected per doc first, then redacted; the output
    * carries the md5 of the fully-redacted text, so the oracle checks
    * every byte of the replacement behaviour, not just counts. Patterns
    * are kept in the RE2 ∩ Java-regex common dialect (no lookaround);
    * DuckDB needs the 'g' flag to match Spark's replace-all default.
    * Map-only — pipelines with the scan at any scale. */
  val t08 = Q("t08_redact_pii",
    """WITH pii AS (
      |  SELECT doc_id,
      |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
      |           '@example.com or 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
      |      AS text
      |  FROM documents),
      |red AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
      |    CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
      |    regexp_replace(regexp_replace(text, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
      |                   '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |  FROM pii)
      |SELECT doc_id, n_emails, n_phones, md5(redacted) AS redacted_digest
      |FROM red ORDER BY doc_id""".stripMargin) { (s, d) =>
    val withPii = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    withPii.select(col("doc_id"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+@[a-z0-9.]+', 0)"))
        .cast("long").as("n_emails"),
      size(expr("regexp_extract_all(text, '555-[0-9]{4}', 0)"))
        .cast("long").as("n_phones"),
      md5(regexp_replace(
        regexp_replace(col("text"), "[a-z0-9]+@[a-z0-9.]+", "<EMAIL>"),
        "555-[0-9]{4}", "<PHONE>")).as("redacted_digest"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t09
  /** Deterministic train/val/test split — hash the stable key, never
    * `rand()`: re-runs, retried tasks, and late-arriving shards all land
    * each doc in the same split (the property random sampling loses the
    * moment a task retries). 80/10/10 by md5-head bucket, same affine
    * trick as t04's shard. */
  val t09 = Q("t09_hash_split",
    """WITH b AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 100 AS bucket
      |  FROM documents)
      |SELECT CASE WHEN bucket < 80 THEN 'train'
      |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n, min(bucket) AS min_bucket, max(bucket) AS max_bucket
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    Tables.documents(s, d)
      .select(col("doc_id"), bucket.as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        min("bucket").as("min_bucket"), max("bucket").as("max_bucket"))
      .orderBy("split")
  }

  // ---------------------------------------------------------------- t10
  /** Repetition signal (the Gopher-rules "duplicate n-gram fraction"
    * quality filter): share of 2-gram occurrences that are repeats
    * within the document — high values flag boilerplate/spam. One
    * let-bound shingle pass (the t02 struct trick), map-only. */
  val t10 = Q("t10_repetition",
    """SELECT doc_id, n_bigrams, n_distinct,
      |  1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams AS dup_fraction
      |FROM (
      |  SELECT doc_id,
      |    len(g) AS n_bigrams, len(list_distinct(g)) AS n_distinct
      |  FROM (
      |    SELECT doc_id, list_transform(generate_series(1, len(w) - 1),
      |           i -> concat_ws(' ', w[i], w[i+1])) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |    WHERE len(w) >= 2))
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val statsExpr =
      """element_at(transform(array(word_shingles(split(text, ' '), 2)),
        |  g -> named_struct(
        |    'n_bigrams', CAST(size(g) AS BIGINT),
        |    'n_distinct', CAST(size(array_distinct(g)) AS BIGINT))), 1)""".stripMargin
    Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), expr(statsExpr).as("__t"))
      .select(col("doc_id"),
        col("__t.n_bigrams").as("n_bigrams"),
        col("__t.n_distinct").as("n_distinct"))
      .withColumn("dup_fraction",
        lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t11
  /** Vocabulary construction — the corpus pass that seeds a tokenizer
    * (BPE init, stopword mining, OOV budgeting): global token counts,
    * top-500 by (count desc, token asc). Plan shape at 100 TB: scan →
    * explode → partial count (map-side combine: the shuffle carries one
    * row per distinct token per partition, not per occurrence) → final
    * count → TakeOrderedAndProject for the top-k cut (k rows per
    * partition cross the wire, no global sort); the rank window runs
    * over the k survivors only, never the full vocabulary. */
  val t11 = Q("t11_vocab",
    """SELECT token, CAST(count(*) AS BIGINT) AS n,
      |  CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS BIGINT) AS rank
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |QUALIFY rank <= 500
      |ORDER BY rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(500)
    counts
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token")))
          .cast("long"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- t12
  /** Chunk size / overlap for [[t12]] (tokens). */
  val ChunkSize = 64L
  val ChunkOverlap = 16L
  private val ChunkStride = ChunkSize - ChunkOverlap

  /** Overlapping-window chunking — the context-window prep step for
    * retrieval/training over long documents: fixed-size token chunks at
    * a fixed stride, last chunk truncated at the document end, short
    * docs emit exactly one chunk. Pure integer arithmetic end to end
    * (chunk count, boundaries, sizes) plus an md5 of each chunk's
    * joined tokens, so the content of every chunk — not just its
    * geometry — is cross-engine checked. Map-only (explode of a
    * per-doc integer sequence): no shuffle, no state; at 100 TB chunking
    * rides the scan. */
  val t12 = Q("t12_chunk_overlap",
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |         len(string_split(text, ' ')) AS n
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, w, n,
       |    CASE WHEN n <= $ChunkSize THEN 1
       |         ELSE 1 + (n - $ChunkSize + ${ChunkStride - 1}) // $ChunkStride
       |    END AS n_chunks
       |  FROM w),
       |c AS (SELECT doc_id, w, n, unnest(range(n_chunks)) AS chunk_idx FROM m)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(chunk_idx * $ChunkStride AS BIGINT) AS start_tok,
       |  CAST(least(chunk_idx * $ChunkStride + $ChunkSize, n) AS BIGINT) AS end_tok,
       |  md5(array_to_string(list_slice(w, chunk_idx * $ChunkStride + 1,
       |    least(chunk_idx * $ChunkStride + $ChunkSize, n)), ' ')) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
      .withColumn("n_chunks",
        when(col("n") <= ChunkSize, lit(1)).otherwise(
          lit(1) + expr(s"(n - $ChunkSize + ${ChunkStride - 1}) div $ChunkStride")
            .cast("int")))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * ChunkStride)
      .withColumn("end_tok", least(col("start_tok") + ChunkSize, col("n")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        col("end_tok").cast("long").as("end_tok"),
        md5(concat_ws(" ", slice(col("w"), col("start_tok").cast("int") + 1,
          (col("end_tok") - col("start_tok")).cast("int")))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ---------------------------------------------------------------- t13
  /** Fixed retrieval query for [[t13]] (terms present in the corpus). */
  val Bm25Terms = Seq("table", "spark", "fast", "key", "row")
  val Bm25TopK = 20L

  /** Raw per-(doc, term) BM25 contribution as a DOUBLE — split out so
    * the guard-band spec can measure every value's distance from a
    * rounding boundary (see [[t13]]'s quantisation note). */
  private[graft] def bm25Raw(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("token").isin(Bm25Terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        """ln(1 + (CAST(n_docs - df AS DOUBLE) + 0.5)
          |       / (CAST(df AS DOUBLE) + 0.5))
          |* ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))"""
          .stripMargin).as("contrib"))
  }

  /** BM25 top-k retrieval — the lexical scorer behind corpus search and
    * retrieval-based quality filters (Robertson–Spärck Jones; k1=1.2,
    * b=0.75, the Lucene-default operating point). The float tier is made
    * cross-engine exact the s04/ s05 way: every (doc, term) contribution
    * is quantised to integer micros IMMEDIATELY (round(x·1e6)) and the
    * per-doc score is an order-free integer sum — ln/÷ are evaluated in
    * one fixed expression shape on both engines, so the only
    * nondeterminism a double sum would add (accumulation order) never
    * enters. `ln` is the one op without a bit-exactness guarantee
    * across libms (JVM intrinsic vs DuckDB's libm, ≤1 ulp apart); the
    * guard-band spec proves no contribution on this corpus sits within
    * 1e-4 micros of a rounding boundary, 10⁵× the worst 1-ulp drift —
    * so the quantised values cannot flip between engines. Plan at
    * 100 TB: token explode → (doc, term) count with map-side combine, a
    * 5-row df table and a 1-row corpus-stats table both broadcast, one
    * map pass for contributions, one shuffle for the doc sum,
    * TakeOrdered for the cut. */
  val t13 = Q("t13_bm25_topk", {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dl),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks
       |  WHERE token IN ($terms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |contrib AS (
       |  SELECT t.doc_id,
       |    CAST(round(
       |      ln(1 + (CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
       |             / (CAST(f.df AS DOUBLE) + 0.5))
       |      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * (l.dl / s.avgdl))))
       |      * 1000000.0) AS BIGINT) AS contrib_micro
       |  FROM tf t JOIN df f ON f.token = t.token
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN stats s),
       |scores AS (
       |  SELECT doc_id, CAST(sum(contrib_micro) AS BIGINT) AS score_micro
       |  FROM contrib GROUP BY doc_id)
       |SELECT doc_id, score_micro,
       |  CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT)
       |    AS rank
       |FROM scores
       |QUALIFY rank <= $Bm25TopK
       |ORDER BY rank""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val contrib = bm25Raw(s, d).select(col("doc_id"),
      expr("CAST(round(contrib * 1000000.0) AS BIGINT)").as("contrib_micro"))
    val scores = contrib.groupBy("doc_id")
      .agg(sum("contrib_micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(Bm25TopK.toInt)
    scores
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score_micro").desc, col("doc_id")))
        .cast("long"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- t14
  /** Bloom probes per shingle: K positions by double hashing —
    * `p_i = (h1 + i·h2) mod m` with both hashes pre-masked to `[0, m)`
    * so the affine step can't overflow a Long under ANSI mode. `m` must
    * be a power of two (masking = mod). */
  val BloomK = 5
  val BloomBitsPerElem = 16L

  /** Cross-module access point for the position family (in18's
    * per-file bloom manifest reuses the exact t14 hashing). */
  private[graft] def bloomPositionsOf(s: Column, mBits: Long): Seq[Column] =
    bloomPositions(s, mBits)

  private def bloomPositions(s: Column, mBits: Long): Seq[Column] = {
    require((mBits & (mBits - 1)) == 0, s"mBits must be a power of 2: $mBits")
    val mask = lit(mBits - 1)
    val h1 = xxhash64(s).bitwiseAND(mask)
    val h2 = xxhash64(s, lit(1)).bitwiseAND(mask)
    (0 until BloomK).map(i => (h1 + lit(i.toLong) * h2).bitwiseAND(mask))
  }

  /** Builds the bloom bit array over a (small) shingle column,
    * DISTRIBUTED: explode the K positions, partial-combine `bit_or`
    * masks per 64-bit word, then collect only the m/64 non-zero words —
    * the same build-side-aggregate-then-broadcast shape Spark's own
    * runtime bloom filters (InjectRuntimeFilter) use. The collect is
    * O(m/64) = O(build side), never O(corpus). */
  private[graft] def bloomBitsOf(evalSh: DataFrame, mBits: Long): Array[Long] = {
    val words = evalSh
      .select(explode(array(bloomPositions(col("s"), mBits): _*)).as("p"))
      .select(shiftright(col("p"), 6).as("w"),
        call_function("shiftleft", lit(1L),
          col("p").bitwiseAND(lit(63L)).cast("int")).as("mask"))
      .groupBy("w").agg(expr("bit_or(mask)").as("bits"))
      .collect()
    val arr = new Array[Long]((mBits / 64).toInt)
    words.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Membership probe — pure built-ins (xxhash64, shifts, element_at on
    * a broadcast array literal), so it whole-stage-codegens inside the
    * corpus scan. No false negatives; false positives are removed by the
    * exact confirm join that follows. */
  private[graft] def bloomHit(bits: Array[Long], s: Column): Column = {
    val mBits = bits.length.toLong * 64
    val arr = lit(bits)
    bloomPositions(s, mBits).map { p =>
      val word = element_at(arr, shiftright(p, 6).cast("int") + lit(1))
      call_function("shiftright", word, p.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  private def nextPow2(n: Long): Long =
    java.lang.Long.highestOneBit(math.max(1L, 2 * n - 1))

  /** Bloom filter sized from the build-side count at ~16 bits/element
    * (K=5 → FPP ≈ 0.1%), floored so tiny eval sets don't degenerate. */
  private[graft] def bloomFor(evalSh: DataFrame): Array[Long] =
    bloomBitsOf(evalSh, math.max(1L << 13, nextPow2(BloomBitsPerElem * evalSh.count())))

  /** Decontamination with a bloom-prefiltered corpus side — what [[t07]]
    * becomes when the eval set outgrows a broadcast hash relation. The
    * eval shingles fold into a bits-array bloom (16 bits/element — ~100×
    * smaller than broadcasting the strings); the corpus probes it INSIDE
    * the scan's codegen stage and sheds ~every clean shingle before any
    * join; only the surviving candidates (true matches + measured <5%
    * false positives) reach the exact confirm join, which restores
    * exactness — output and oracle are exactly t07's, the d08/d10
    * same-oracle convention for alternate strategies. At 100 TB this is
    * the explicit form of Spark's InjectRuntimeFilter: build-side
    * aggregate → broadcast literal → map-side prune. CorpusOpsSpec pins
    * t14 ≡ t07 row-for-row and quantifies the FP rate and shed factor. */
  val t14 = Q("t14_decontaminate_bloom", decontOracleSql) { (s, d) =>
    val sh = shingles8(s, d)
    val evalSh = sh.filter(col("doc_id") % 10 === 0).select("s").distinct()
      .localCheckpoint() // feeds count, bloom build, AND confirm join
    val bits = bloomFor(evalSh)
    sh.filter(col("doc_id") % 10 =!= 0)
      .filter(bloomHit(bits, col("s")))
      .join(broadcast(evalSh), "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t15
  /** Gopher word-count bounds for [[t15]] (Rae et al. 2021, §A1.1). */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L

  /** Gopher-style quality-rule composite (Rae et al. 2021 repetition/
    * quality filters, the C4 heritage): five document-level gates —
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    * alphabetic-word fraction, required-stopword hits — each emitted as
    * its own boolean column plus the AND verdict, so downstream
    * pipelines can re-weight single rules without recomputing. Every
    * gate compares in EXACT integer arithmetic (`chars >= 3n` instead
    * of `chars/n >= 3.0`, `5*alpha >= 4*n` instead of a 0.8 float
    * threshold), so no engine's rounding can flip a verdict; the
    * reported ratios are single-division doubles, which both engines
    * compute identically (t02's convention). The rule *thresholds* are
    * Gopher's; the stopword lexicon is engine config (t03's note: this
    * synthetic corpus has no punctuation or symbols, so the symbol gate
    * trivially passes — the operator, not the lexicon, is the
    * deliverable). Map-only: one projection pass that pipelines with
    * the scan at 100 TB. */
  /** t15's five integer gate counts as a CTE `${p}gm` over any
    * `(doc_id, text)` source — shared with the p18 composition. */
  private[ops] def gopherStatsCteSql(src: String, p: String = ""): String = {
    val stopArr = stopwords.map("'" + _ + "'").mkString(", ")
    s"""${p}gm AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_words,
       |    length(text) - (len(string_split(text, ' ')) - 1) AS n_chars,
       |    len(list_filter(string_split(text, ' '),
       |        x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
       |    len(list_intersect(string_split(text, ' '), [$stopArr])) AS n_stop,
       |    (length(text) - length(replace(text, '#', '')))
       |      + (length(text) - length(replace(text, '...', ''))) // 3 AS n_sym
       |  FROM $src)""".stripMargin
  }

  /** The AND of the five Gopher gates over [[gopherStatsCteSql]]'s
    * columns, each reference qualified with `q` (e.g. `"gm."`). */
  private[ops] def gopherKeepPredSql(q: String = ""): String =
    s"""(${q}n_words BETWEEN $GopherMinWords AND $GopherMaxWords)
       |    AND ${q}n_chars >= 3 * ${q}n_words AND ${q}n_chars <= 10 * ${q}n_words
       |    AND 10 * ${q}n_sym <= ${q}n_words AND 5 * ${q}n_alpha >= 4 * ${q}n_words
       |    AND ${q}n_stop >= 2""".stripMargin

  /** Spark twin of [[gopherStatsCteSql]]: one projection pass emitting
    * `doc_id` + the five gate counts + any caller-supplied enrichment
    * columns (`name -> expr`) — so a composition can ride every per-doc
    * stat on ONE corpus scan. One named_struct lambda → the split is
    * tokenised once per row (t02's trick); every count is integral. */
  private[ops] def gopherStats(docs: DataFrame,
      extra: (String, Column)*): DataFrame = {
    val stopArr = stopwords.map("'" + _ + "'").mkString(", ")
    val statsExpr =
      s"""element_at(transform(array(split(text, ' ')), w -> named_struct(
         |  'n_words', CAST(size(w) AS BIGINT),
         |  'n_alpha', CAST(size(filter(w, x -> x rlike '[a-z]')) AS BIGINT),
         |  'n_stop', CAST(size(array_intersect(w, array($stopArr))) AS BIGINT))), 1)
         |""".stripMargin
    docs
      .select(Seq(col("doc_id"), expr(statsExpr).as("__t"),
        (length(col("text")) -
          (size(split(col("text"), " ")) - 1)).cast("long").as("n_chars"),
        ((length(col("text")) - length(regexp_replace(col("text"), "#", "")))
          .cast("long") +
          expr("CAST((length(text) - length(replace(text, '...', ''))) div 3 AS BIGINT)"))
          .as("n_sym")) ++ extra.map { case (n, c) => c.as(n) }: _*)
      .select(Seq(col("doc_id"), col("__t.n_words").as("n_words"),
        col("__t.n_alpha").as("n_alpha"), col("__t.n_stop").as("n_stop"),
        col("n_chars"), col("n_sym")) ++ extra.map(e => col(e._1)): _*)
  }

  /** The five Gopher gates as named Columns over [[gopherStats]]'s
    * output, plus their AND — shared by t15 and the p18 composition. */
  private[ops] val gopherGates: Seq[(String, Column)] = Seq(
    "keep_wordcount" -> col("n_words").between(GopherMinWords, GopherMaxWords),
    "keep_meanlen" -> (col("n_chars") >= lit(3) * col("n_words") &&
      col("n_chars") <= lit(10) * col("n_words")),
    "keep_symbol" -> (lit(10) * col("n_sym") <= col("n_words")),
    "keep_alpha" -> (lit(5) * col("n_alpha") >= lit(4) * col("n_words")),
    "keep_stop" -> (col("n_stop") >= 2))

  private[ops] val gopherKeepCol: Column =
    gopherGates.map(_._2).reduce(_ && _)

  val t15 = Q("t15_gopher_rules", {
    s"""WITH ${gopherStatsCteSql("documents")}
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_chars AS DOUBLE) / n_words AS mean_word_len,
       |  CAST(n_sym AS DOUBLE) / n_words AS symbol_ratio,
       |  CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
       |  CAST(n_stop AS BIGINT) AS n_stop,
       |  n_words BETWEEN $GopherMinWords AND $GopherMaxWords AS keep_wordcount,
       |  n_chars >= 3 * n_words AND n_chars <= 10 * n_words AS keep_meanlen,
       |  10 * n_sym <= n_words AS keep_symbol,
       |  5 * n_alpha >= 4 * n_words AS keep_alpha,
       |  n_stop >= 2 AS keep_stop,
       |  ${gopherKeepPredSql()} AS keep
       |FROM gm ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    val m = gopherStats(Tables.documents(s, d))
    m.select(Seq(col("doc_id"), col("n_words"),
      (col("n_chars").cast("double") / col("n_words")).as("mean_word_len"),
      (col("n_sym").cast("double") / col("n_words")).as("symbol_ratio"),
      (col("n_alpha").cast("double") / col("n_words")).as("alpha_frac"),
      col("n_stop")) ++
      gopherGates.map { case (n, c) => c.as(n) } :+
      gopherKeepCol.as("keep"): _*)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t16
  /** Raw per-token unigram cost (−ln p, corpus MLE) as a DOUBLE — split
    * out so the guard-band spec can measure every value's distance from
    * a micro-rounding boundary (t13's quantisation convention). */
  private[graft] def unigramCostRaw(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    vocab.crossJoin(broadcast(total))
      .select(col("token"),
        expr("ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))").as("cost"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document by its average per-token negative log-likelihood under a
    * corpus-trained unigram LM, then split the corpus into head/middle/
    * tail thirds — the classic LM-quality tiering that decides which
    * slice trains first (or at all). Determinism: per-token cost is
    * quantised to integer micros the t13 way (the ln expression has one
    * fixed shape in both engines; the guard-band spec proves no cost
    * sits near a rounding boundary), per-doc score is an order-free
    * integer sum followed by integer division by the token count —
    * doubles never accumulate. Bucketing does NOT use a corpus-wide
    * ntile (a single-partition window — the n02 rule): the integer
    * scores aggregate into a histogram (bounded by the number of
    * DISTINCT quantised scores, ≪ corpus), cumulative counts over that
    * small table yield the discrete P33/P67 cutoffs, and the cutoffs
    * broadcast back for a map-side label pass. At 100 TB: one token
    * shuffle with map-side combine (the vocab — capped at top-V with an
    * OOV smoothing constant when vocabularies are open), broadcast
    * vocab join, one doc-sum shuffle, a tiny histogram, a map pass. */
  val t16 = Q("t16_perplexity_buckets",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
      |tot AS (SELECT sum(cnt) AS total FROM vocab),
      |cost AS (
      |  SELECT token, CAST(round(
      |    ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000.0)
      |    AS BIGINT) AS cost_micro
      |  FROM vocab CROSS JOIN tot),
      |doc AS (
      |  SELECT t.doc_id, count(*) AS n_tokens,
      |    CAST(sum(c.cost_micro) AS BIGINT) // count(*) AS score_micro
      |  FROM toks t JOIN cost c ON c.token = t.token
      |  GROUP BY t.doc_id),
      |hist AS (
      |  SELECT score_micro, count(*) AS n FROM doc GROUP BY score_micro),
      |cum AS (
      |  SELECT score_micro,
      |    sum(n) OVER (ORDER BY score_micro) AS cum_n
      |  FROM hist),
      |cuts AS (
      |  SELECT
      |    min(CASE WHEN cum_n >= ((SELECT count(*) FROM doc) + 2) // 3
      |        THEN score_micro END) AS c1,
      |    min(CASE WHEN cum_n >= (2 * (SELECT count(*) FROM doc) + 2) // 3
      |        THEN score_micro END) AS c2
      |  FROM cum)
      |SELECT d.doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens, d.score_micro,
      |  CASE WHEN d.score_micro <= c.c1 THEN 'head'
      |       WHEN d.score_micro <= c.c2 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM doc d CROSS JOIN cuts c
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val cost = unigramCostRaw(s, d)
      .select(col("token"),
        expr("CAST(round(cost * 1000000.0) AS BIGINT)").as("cost_micro"))
    val doc = toks.join(broadcast(cost), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        expr("CAST(sum(cost_micro) AS BIGINT) div count(*)").as("score_micro"))
      .localCheckpoint() // feeds the histogram AND the final label pass
    val nDocs = doc.count()
    val hist = doc.groupBy("score_micro").agg(count(lit(1)).as("n"))
    // window over the HISTOGRAM (distinct quantised scores), not the corpus
    val cum = hist.withColumn("cum_n",
      sum("n").over(Window.orderBy("score_micro")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cuts = cum.agg(
      min(when(col("cum_n") >= (nDocs + 2) / 3, col("score_micro"))).as("c1"),
      min(when(col("cum_n") >= (2 * nDocs + 2) / 3, col("score_micro"))).as("c2"))
    doc.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("score_micro"),
        when(col("score_micro") <= col("c1"), lit("head"))
          .when(col("score_micro") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t17
  /** Count-Min sketch depth (independent hash rows) and width (buckets
    * per row) — 4×256 = a 1024-cell integer table, constant regardless
    * of corpus size. */
  val CmsDepth = 4
  val CmsWidth = 256

  /** Heavy hitters via a Count-Min sketch (Cormode & Muthukrishnan
    * 2005) — the sketch tier's answer to token frequency when the full
    * vocabulary groupBy (t11) is itself the bottleneck: the sketch is a
    * FIXED [[CmsDepth]]×[[CmsWidth]] grid of integer counters, built in
    * one map-side-combined shuffle of ≤1024 cells (each token occurrence
    * increments one bucket per row; cells merge by addition, so partial
    * sketches combine associatively — the mergeability HLL has, but with
    * counts, and unlike HLL (q10b, rows-only) every counter is exact
    * integer arithmetic, so the whole sketch is DuckDB-recomputable:
    * this is the fully-oracled sketch. Point estimates take the MIN over
    * the token's [[CmsDepth]] buckets — a one-sided overestimate
    * (est ≥ true always; error ≤ e/w·N with prob 1−e^−d), the law
    * `SketchSpec` pins row-by-row. Hashes are the portable md5-head
    * family (t04/t09's convention) so both engines address identical
    * cells. The exact counts in the output exist to VERIFY the sketch —
    * a 100 TB deployment keeps only the sketch and probes it; the
    * heavy-hitter candidate set itself comes from t11's TakeOrdered
    * pass here. */
  /** The per-token CMS bucket array — ONE definition of the md5-head
    * hash family, used by the sketch build ([[cmsCells]]) and t17's
    * probe stage: both must address identical cells for min-over-rows
    * to be a valid estimate. */
  private[graft] def cmsBuckets(tok: Column): Column =
    array((0 until CmsDepth).map { r =>
      conv(substring(md5(concat(lit(s"cms$r:"), tok)), 1, 8), 16, 10)
        .cast("long") % CmsWidth
    }: _*)

  /** Shared CTE block (toks → rows4 → cells) deriving every token
    * occurrence's (r, bucket) cell over `documents` — spliced into both
    * the t17 and st14 oracles so the two engines AND the two queries
    * share one cell definition. NB: no continuation line here may BEGIN
    * with `||` — the host template's stripMargin would eat the first
    * pipe as a margin marker. */
  private[graft] val cmsCellCtes: String =
    s"""toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |rows4 AS (SELECT unnest(range($CmsDepth)) AS r),
       |cells AS (
       |  SELECT r.r,
       |    CAST(concat('0x', substr(md5('cms' || CAST(r.r AS VARCHAR) ||
       |      ':' || t.token), 1, 8)) AS BIGINT) % $CmsWidth AS bucket
       |  FROM toks t CROSS JOIN rows4 r)""".stripMargin

  /** The CMS cell table (r, bucket, c) over a `token` column — shared
    * VERBATIM by t17's sketch stage, the st14 batch twin, and the
    * streaming sketch maintainer ([[graft.streaming.StreamOps
    * .cmsCellsStream]]): ≤ depth×width cells, merged by addition, so in
    * streaming the STATE is exactly the sketch. */
  private[graft] def cmsCells(tokens: DataFrame): DataFrame =
    tokens
      .select(posexplode(cmsBuckets(col("token"))).as(Seq("r", "bucket")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))

  val t17 = Q("t17_cms_heavy_hitters",
    s"""WITH $cmsCellCtes,
       |sketch AS (SELECT r, bucket, count(*) AS c FROM cells GROUP BY r, bucket),
       |exact AS (SELECT token, count(*) AS exact_count FROM toks GROUP BY token),
       |top20 AS (
       |  SELECT token, exact_count FROM exact
       |  ORDER BY exact_count DESC, token LIMIT 20),
       |probes AS (
       |  SELECT t.token, t.exact_count, r.r,
       |    CAST(concat('0x', substr(md5('cms' || CAST(r.r AS VARCHAR)
       |      || ':' || t.token), 1, 8)) AS BIGINT) % $CmsWidth AS bucket
       |  FROM top20 t CROSS JOIN rows4 r)
       |SELECT p.token, CAST(p.exact_count AS BIGINT) AS exact_count,
       |  CAST(min(s.c) AS BIGINT) AS cms_count
       |FROM probes p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
       |GROUP BY p.token, p.exact_count
       |ORDER BY exact_count DESC, token""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
    val sketch = cmsCells(toks)
    val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_count"))
    val top20 = exact.orderBy(col("exact_count").desc, col("token")).limit(20)
    top20
      .select(col("token"), col("exact_count"),
        posexplode(cmsBuckets(col("token"))).as(Seq("r", "bucket")))
      .join(sketch, Seq("r", "bucket"))
      .groupBy("token", "exact_count").agg(min("c").as("cms_count"))
      .select(col("token"), col("exact_count").cast("long").as("exact_count"),
        col("cms_count").cast("long").as("cms_count"))
      .orderBy(col("exact_count").desc, col("token"))
  }

  // ---------------------------------------------------------------- t18
  /** Corpus frequency spectrum — the count-of-counts diagnostic behind
    * tokenizer/vocabulary decisions: how many types occur exactly k
    * times (Zipf validation, hapax mass, vocabulary-growth estimates à
    * la Good–Turing all read straight off this table). Two hash aggs —
    * type counts (map-side combined), then counts-of-counts over the
    * ≤|distinct frequencies| rows — nothing else; the spectrum is
    * orders of magnitude smaller than the vocabulary, which is itself
    * smaller than the corpus. `type_frac`/`token_mass` are single
    * divisions of exact integers (t02's convention). */
  val t18 = Q("t18_freq_spectrum",
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |vocab AS (SELECT token, count(*) AS k FROM toks GROUP BY token),
      |tot AS (
      |  SELECT count(*) AS n_types, sum(k) AS n_tokens FROM vocab),
      |spec AS (
      |  SELECT k, count(*) AS n_types_k FROM vocab GROUP BY k)
      |SELECT s.k, CAST(s.n_types_k AS BIGINT) AS n_types,
      |  CAST(s.n_types_k AS DOUBLE) / t.n_types AS type_frac,
      |  CAST(s.k * s.n_types_k AS DOUBLE) / t.n_tokens AS token_mass
      |FROM spec s CROSS JOIN tot t
      |ORDER BY k""".stripMargin) { (s, d) =>
    val vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("k"))
    val tot = vocab.agg(count(lit(1)).as("n_types"), sum("k").as("n_tokens"))
    vocab.groupBy("k").agg(count(lit(1)).as("n_types_k"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_types_k").cast("long").as("n_types"),
        (col("n_types_k").cast("double") / col("n_types")).as("type_frac"),
        ((col("k") * col("n_types_k")).cast("double") / col("n_tokens"))
          .as("token_mass"))
      .orderBy("k")
  }

  // ---------------------------------------------------------------- t19
  /** Corpus-level duplicate-sentence removal — the C4/CCNet/RefinedWeb
    * line-dedup pass: a sentence occurring anywhere else in the corpus is
    * kept ONLY at its first occurrence in global (doc_id, position)
    * order; every later occurrence is excised and the document is
    * reassembled from its surviving sentences in position order. This is
    * the boilerplate killer ("subscribe to our newsletter…") that exact
    * doc-dedup (d01) and span excision (d14) both miss: the duplicated
    * unit is a LINE inside otherwise-unique documents. Runs over the
    * sentence fixture (the synthetic corpus has no sentence structure —
    * the n10 convention).
    *
    * Scale shape: occurrence ranking shuffles ONLY a narrow
    * (digest, doc_id, idx) projection — the window partitions by the
    * sentence's md5 digest, never the sentence text, so the wide corpus
    * body crosses the wire once, on doc_id, for reassembly (the d14
    * discipline). Digest keying is in BOTH engines, so a collision —
    * negligible at 128 bits — would be replicated, not diverged.
    * At 100 TB: one narrow hash shuffle + one doc-keyed assembly
    * shuffle; no corpus-global window (the global (doc_id, idx) order is
    * per-digest, bounded by each sentence's occurrence count). */
  val t19 = Q("t19_line_dedup",
    s"""WITH docs AS (
       |  SELECT doc_id, substr(coalesce(text, ''), 1, 5000) AS text
       |  FROM read_json('${graft.ops.NewsPipeline.summaryFixturePath}',
       |                 format='newline_delimited',
       |                 columns={doc_id: 'BIGINT', text: 'VARCHAR'})),
       |sents AS (
       |  SELECT doc_id,
       |    generate_subscripts(sl, 1) - 1 AS idx, unnest(sl) AS sent
       |  FROM (SELECT doc_id, list_filter(string_split(
       |      regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g'),
       |      chr(1)), x -> x <> '') AS sl FROM docs)),
       |marked AS (
       |  SELECT doc_id, idx, sent,
       |    row_number() OVER (PARTITION BY md5(sent)
       |                       ORDER BY doc_id, idx) AS occ
       |  FROM sents)
       |SELECT doc_id,
       |  coalesce(string_agg(CASE WHEN occ = 1 THEN sent END, ' '
       |                      ORDER BY idx), '') AS clean_text,
       |  CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM marked
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, _) =>
    import org.apache.spark.sql.expressions.Window
    val docs = s.read.schema("doc_id LONG, text STRING")
      .json(graft.ops.NewsPipeline.summaryFixturePath)
      .select(col("doc_id"),
        substring(coalesce(col("text"), lit("")), 1, 5000).as("text"))
    val sents = docs.select(col("doc_id"),
      posexplode(filter(split(col("text"), "(?<=[.!?])\\s+"), x => x =!= ""))
        .as(Seq("idx", "sent")))
    // narrow projection for the global occurrence ranking: the window
    // never sees the sentence text, only its digest
    val occ = sents.select(col("doc_id"), col("idx"),
        md5(col("sent")).as("dg"))
      .withColumn("occ", row_number().over(
        Window.partitionBy("dg").orderBy("doc_id", "idx")))
      .select("doc_id", "idx", "occ")
    sents.join(occ, Seq("doc_id", "idx"))
      .groupBy("doc_id")
      .agg(
        // ordered assembly via the n05 sorted-collect convention:
        // collect_list drops the nulls the occ>1 rows produce
        coalesce(array_join(transform(
          array_sort(collect_list(when(col("occ") === 1,
            struct(col("idx"), col("sent"))))),
          x => x("sent")), " "), lit("")).as("clean_text"),
        sum(when(col("occ") === 1, 1).otherwise(0)).cast("long").as("n_kept"),
        sum(when(col("occ") > 1, 1).otherwise(0)).cast("long").as("n_dropped"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t20
  /** Text normalisation — the first stage of every corpus pipeline,
    * before any tokenizer/dedup/quality pass sees a byte: strip
    * non-whitespace control characters, collapse whitespace runs to a
    * single space, trim. Runs over a committed fixture carrying the
    * actual mess (control bytes, CRLF, tab runs, leading/trailing
    * space) since the synthetic corpus is already clean.
    *
    * Cross-engine regex discipline: Java's `\s` includes \x0B and \x0C
    * where RE2's does not, so those two are stripped in the CONTROL
    * class (first pass) and the whitespace-collapse pass only ever sees
    * `[ \t\n\r]` — the subset both engines agree on. Whitespace-only
    * docs normalise to the empty string, not a space (collapse then
    * trim). Map-only — at 100 TB this fuses into the ingest scan's
    * projection, zero shuffles. */
  val messyFixturePath: String = graft.Fixtures.path("messy_docs.jsonl")

  val t20 = Q("t20_normalize_text",
    s"""WITH docs AS (
       |  SELECT doc_id, coalesce(text, '') AS text
       |  FROM read_json('$messyFixturePath', format='newline_delimited',
       |                 columns={doc_id: 'BIGINT', text: 'VARCHAR'})),
       |cleaned AS (
       |  SELECT doc_id, text,
       |    trim(regexp_replace(
       |      regexp_replace(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
       |      '\\s+', ' ', 'g')) AS clean
       |  FROM docs)
       |SELECT doc_id, clean,
       |  CAST(length(text) AS BIGINT) AS orig_len,
       |  CAST(length(clean) AS BIGINT) AS clean_len
       |FROM cleaned ORDER BY doc_id""".stripMargin) { (s, _) =>
    val docs = s.read.schema("doc_id LONG, text STRING")
      .json(messyFixturePath)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    docs.select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(col("text"),
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
          "\\s+", " ")).as("clean"),
        length(col("text")).cast("long").as("orig_len"))
      .withColumn("clean_len", length(col("clean")).cast("long"))
      .select("doc_id", "clean", "orig_len", "clean_len")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t21
  /** Graded contamination REPORT — t07/t14 answer "drop or keep?"; this
    * answers "how contaminated?", the number a benchmark-overlap report
    * actually publishes: per training doc, its distinct-8-gram count,
    * how many of those appear anywhere in the eval set, and the overlap
    * fraction. Every training doc appears (clean docs report 0), so the
    * corpus-wide distribution is readable straight off the result —
    * the t07 verdict is just `frac > 0` on this table. One exact double
    * division of two integers keeps the fraction bit-identical
    * cross-engine. Scale shape is t07's: broadcast eval probe (or t14's
    * bloom prefilter), one doc-keyed count — the report adds a second
    * map-side-combined aggregation, nothing corpus-global. */
  val t21 = Q("t21_contamination_report",
    s"""WITH $contaminationSql,
       |counts AS (
       |  SELECT doc_id, count(*) AS n_shingles
       |  FROM sh8 WHERE doc_id % 10 <> 0 GROUP BY doc_id)
       |SELECT c.doc_id, CAST(c.n_shingles AS BIGINT) AS n_shingles,
       |  CAST(coalesce(ct.n_shared, 0) AS BIGINT) AS n_shared,
       |  CAST(coalesce(ct.n_shared, 0) AS DOUBLE) / c.n_shingles
       |    AS contamination_frac
       |FROM counts c LEFT JOIN contaminated ct USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
    // the shingle explode+distinct subtree is consumed THREE times
    // below (per-doc counts, the hit join's probe side, and the eval
    // shingle set) — materialise it once (r17; guide §5, the d06/d16
    // multi-consumer lesson; was ~3 full corpus shingle passes)
    val sh = shingles8(s, d).localCheckpoint()
    val train = sh.filter(col("doc_id") % 10 =!= 0)
    val evalSh = sh.filter(col("doc_id") % 10 === 0).select("s").distinct()
    val counts = train.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = train.join(broadcast(evalSh), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    counts.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).cast("long").as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_shingles")).as("contamination_frac"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t22
  /** One BPE learning round over a token table (word, freq, pos, sym):
    * count adjacent symbol pairs weighted by word frequency, pick the
    * winner under the deterministic tie-break (count DESC, then left
    * symbol ASC, then right ASC), and apply the merge with EXACT greedy
    * left-to-right non-overlapping semantics, expressed relationally:
    * candidate positions (sym=a ∧ next=b) can only conflict when they
    * are consecutive — which requires a=b (a run of one symbol) — so
    * gaps-and-islands over candidate positions + keep-odd-ranks inside
    * each island IS the greedy rule ("aaaa" merges positions 1 and 3 →
    * "aa aa", never the overlap), and for a≠b every island is a
    * singleton so all candidates merge. A kept position rewrites to
    * a||b; the position after a kept one is consumed; survivors
    * re-rank. Three window passes + one hash agg, all over the VOCAB
    * table (distinct words × word length), never the corpus — pair
    * statistics ride the word-frequency weights, which is what makes
    * BPE learning tractable at 100 TB (the corpus contributes one
    * word-count hash agg; learning itself is vocab-sized).
    * Returns (top pair, merged tokens). */
  private[graft] def bpeRound(toks: DataFrame): (DataFrame, DataFrame) =
    bpeRoundImpl(toks, wide = false)

  /** [[bpeRound]] whose merged frame additionally carries the round's
    * winning pair as constant passenger columns (a, b, cnt) — used ONLY
    * by [[bpeLearn]], whose per-round checkpoint read harvests winner +
    * fixpoint signature in one job. The chained/unrolled consumers
    * (t22, t23) use the narrow [[bpeRound]]: r16 shipped the passengers
    * to every consumer and paid +14%/+49% on t22/t23 for a win only the
    * loop collects (the r16 VERDICT regression; the columns widen every
    * row through the final row_number window sort). */
  private[graft] def bpeRoundWide(toks: DataFrame): (DataFrame, DataFrame) =
    bpeRoundImpl(toks, wide = true)

  private def bpeRoundImpl(toks: DataFrame, wide: Boolean)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("word").orderBy("pos")
    // normalize the input so a chained round never sees bpeRoundWide's
    // (a, b, cnt) passenger columns
    val nx = toks.select("word", "freq", "pos", "sym")
      .withColumn("nxt", lead("sym", 1).over(wOrd))
    val top = nx.filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("a"), col("nxt").as("b"))
      .agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
    val wP = Window.partitionBy("word").orderBy("p")
    val cd = nx.crossJoin(broadcast(top)) // 1-row scalar attach
      .select(col("word"), col("freq"), col("pos").as("p"), col("sym"),
        col("a"), col("b"), col("cnt"),
        coalesce(col("sym") === col("a") && col("nxt") === col("b"),
          lit(false)).as("cand"))
    val kp = cd
      .withColumn("island",
        col("p") - sum(when(col("cand"), 1).otherwise(0)).over(wP))
      .withColumn("keep", col("cand") && row_number().over(
        Window.partitionBy("word", "island", "cand").orderBy("p")) % 2 === 1)
    val outCols = Seq(col("word"), col("freq"),
      row_number().over(wP).as("pos"),
      when(col("keep"), concat(col("a"), col("b"))).otherwise(col("sym"))
        .as("sym")) ++
      (if (wide) Seq(col("a"), col("b"), col("cnt")) else Nil)
    val merged = kp
      .withColumn("consumed", coalesce(lag("keep", 1).over(wP), lit(false)))
      .filter(!col("consumed"))
      .select(outCols: _*)
    (top, merged)
  }

  /** Iterated BPE trainer — [[bpeRound]] under a driver loop, the
    * kmeansLloyd pattern (`ops/Similarity.scala`) applied to t22: the
    * two unrolled rounds oracle the MECHANISM; this is the usable
    * `bpeLearn(maxMerges)` a tokenizer build actually calls. Each round
    * collects the 1-row winner (bounded by construction), applies the
    * merge, and localCheckpoints the vocab-sized token table so
    * lineage stays flat across hundreds of merges. Termination:
    *  - exhaustion — no adjacent pair remains, or the best pair's
    *    weighted count falls below `minFreq` (the standard
    *    min-frequency floor: merging a once-seen pair memorises noise);
    *  - the s06 fixpoint-checksum guard — a (count, bit_xor(xxhash64))
    *    signature of the token table must CHANGE every round; a
    *    repeated signature means the merge applied vacuously and the
    *    loop would spin, so it stops and reports instead (defensive:
    *    unreachable while bpeRound merges the counted winner, and
    *    cheap — the signature rides the checkpointed table).
    * Returns (merges in learned order (a, b, count-at-selection), the
    * final token table, rounds run). Scale: every round is vocab-sized
    * (t22's law); the corpus is touched once by [[bpeCharToks]]'s
    * word-count agg. `BpeSpec` pins 2-round equality with t22 and the
    * max-count monotonicity law; the t22/t23 oracles are unchanged. */
  def bpeLearn(docs: DataFrame, maxMerges: Int, minFreq: Long = 2L)
      : (Seq[(String, String, Long)], DataFrame, Int) = {
    require(maxMerges >= 1, s"maxMerges must be >= 1, got $maxMerges")
    var toks = bpeCharToks(docs).localCheckpoint()
    def sigOf(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).cast("long"),
        coalesce(expr("bit_xor(xxhash64(word, freq, pos, sym))"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var prevSig = sigOf(toks)
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var rounds = 0
    var done = false
    while (!done && rounds < maxMerges) {
      // r16: TWO jobs per round, not three — the round's winner rides
      // the merged frame as constant passenger columns (bpeRoundWide;
      // the loop is the only consumer that harvests them, r17), so one
      // checkpoint materializes the heavy pair-count + merge pass ONCE
      // (the former topDf.collect() re-ran it), and one cheap
      // checkpoint-read job returns winner + fixpoint signature
      // together. `min` of a constant column IS the winner; an empty
      // merged frame (no adjacent pair anywhere) reads back as nulls =
      // the old empty-top exit.
      val (_, merged) = bpeRoundWide(toks)
      val next = merged.localCheckpoint()
      val r = next.agg(
        count(lit(1)).cast("long"),
        coalesce(expr("bit_xor(xxhash64(word, freq, pos, sym))"), lit(0L)),
        min("a"), min("b"), min("cnt")).head()
      val sig = (r.getLong(0), r.getLong(1))
      if (r.isNullAt(2) || r.getLong(4) < minFreq) done = true
      else if (sig == prevSig) done = true // fixpoint guard — see scaladoc
      else {
        merges += ((r.getString(2), r.getString(3), r.getLong(4)))
        prevSig = sig
        toks = next
        rounds += 1
      }
    }
    (merges.toSeq, toks, rounds)
  }

  /** The same round as a DuckDB CTE block, parameterised by round id and
    * input relation — spliced twice into t22's oracle so both engines
    * run ONE shared definition per round (zero drift). */
  private def bpeRoundSql(r: Int, in: String): String =
    s"""nx$r AS (
       |  SELECT word, freq, pos, sym,
       |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM $in),
       |top$r AS (
       |  SELECT sym AS a, nxt AS b, sum(freq) AS cnt
       |  FROM nx$r WHERE nxt IS NOT NULL GROUP BY sym, nxt
       |  ORDER BY cnt DESC, a, b LIMIT 1),
       |cd$r AS (
       |  SELECT n.word, n.freq, n.pos AS p, n.sym, x.a, x.b,
       |    coalesce(n.sym = x.a AND n.nxt = x.b, false) AS cand
       |  FROM nx$r n CROSS JOIN top$r x),
       |kp$r AS (
       |  SELECT *, cand AND (row_number() OVER (
       |      PARTITION BY word, island, cand ORDER BY p) % 2 = 1) AS keep
       |  FROM (SELECT *, p - sum(CASE WHEN cand THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY word ORDER BY p) AS island
       |        FROM cd$r)),
       |mg$r AS (
       |  SELECT word, freq,
       |    row_number() OVER (PARTITION BY word ORDER BY p) AS pos,
       |    CASE WHEN keep THEN a || b ELSE sym END AS sym
       |  FROM (SELECT *, coalesce(lag(keep) OVER (
       |          PARTITION BY word ORDER BY p), false) AS consumed
       |        FROM kp$r)
       |  WHERE NOT consumed)""".stripMargin

  /** BPE merge learning (r06 verdict #4), two unrolled rounds — the
    * subword-tokenizer op real LLM pipelines run, oracled via s06's
    * unrolled-rounds pattern (`ops/Similarity.scala`: iterative
    * algorithms oracle by stating each round explicitly). Output is the
    * two learned merges (with their pair counts at selection time) plus
    * the top-30 symbol vocabulary after both merges — so the hash
    * compare pins the selection rule, the tie-break, the greedy merge
    * application, AND the resulting symbol distribution. `BpeSpec` pins
    * the tie-break law and the run-greedy law on hand-built tables.
    * No end-of-word marker by design: merges act within words only
    * (the marker is presentation, not semantics, for learning). */
  /** The (word, freq, pos, sym) character token table over a corpus —
    * the Spark twin of [[bpeBaseCtes]], shared by t22 and t23.
    * split(word, "") appends a trailing "" element (limit -1 split
    * semantics) — filtered before positions are assigned. */
  private[graft] def bpeCharToks(docs: DataFrame): DataFrame =
    docs
      .select(explode(wordsOf(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        posexplode(split(col("word"), "")).as(Seq("pos0", "sym")))
      .filter(col("sym") =!= "")
      .select(col("word"), col("freq"), (col("pos0") + 1).as("pos"),
        col("sym"))

  /** The word-frequency + character-token CTEs both BPE queries start
    * from — shared so t22 (learning) and t23 (application) cannot
    * drift. */
  private val bpeBaseCtes: String =
    """words AS (
      |  SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |toks0 AS (
      |  SELECT word, freq, CAST(i AS INT) AS pos,
      |    substr(word, CAST(i AS INT), 1) AS sym
      |  FROM (SELECT word, freq,
      |          unnest(generate_series(1, length(word))) AS i FROM words))""".stripMargin

  val t22 = Q("t22_bpe_merges",
    s"""WITH $bpeBaseCtes,
       |${bpeRoundSql(1, "toks0")},
       |${bpeRoundSql(2, "mg1")}
       |SELECT kind, round, sym, cnt FROM (
       |  SELECT 'merge' AS kind, 1 AS round, a || '+' || b AS sym,
       |    CAST(cnt AS BIGINT) AS cnt FROM top1
       |  UNION ALL
       |  SELECT 'merge', 2, a || '+' || b, CAST(cnt AS BIGINT) FROM top2
       |  UNION ALL
       |  SELECT 'vocab', 2, sym, cnt FROM (
       |    SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM mg2
       |    GROUP BY sym ORDER BY cnt DESC, sym LIMIT 30))
       |ORDER BY kind, round, cnt DESC, sym""".stripMargin) { (s, d) =>
    val toks0 = bpeCharToks(Tables.documents(s, d))
    val (top1, m1) = bpeRound(toks0)
    val (top2, m2) = bpeRound(m1)
    def mergeRow(top: DataFrame, r: Int): DataFrame =
      top.select(lit("merge").as("kind"), lit(r).as("round"),
        concat(col("a"), lit("+"), col("b")).as("sym"),
        col("cnt").cast("long").as("cnt"))
    val vocab = m2.groupBy("sym").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("sym")).limit(30)
      .select(lit("vocab").as("kind"), lit(2).as("round"), col("sym"),
        col("cnt").cast("long").as("cnt"))
    mergeRow(top1, 1).unionAll(mergeRow(top2, 2)).unionAll(vocab)
      .orderBy(col("kind"), col("round"), col("cnt").desc, col("sym"))
  }

  // ---------------------------------------------------------------- t23
  /** BPE tokenizer APPLICATION — the serving side of t22: the learned
    * merges segment every corpus document, reported as per-doc word and
    * BPE-token counts. The scale shape is the whole point: merge
    * application happens ONCE, on the vocabulary (t22's learning
    * artifact), and the corpus only ever joins its word stream to the
    * broadcast (word → segment-count) map — one map-side pass plus one
    * doc-keyed hash agg, never a per-document re-segmentation. This is
    * how a trained tokenizer is served over 100 TB: vocab-sized compute,
    * corpus-sized join against broadcast state (the ml04 frozen-serving
    * discipline applied to t22's learned state). Oracle splices the
    * SAME base + round CTE blocks as t22 — learning and serving cannot
    * drift. */
  val t23 = Q("t23_bpe_apply",
    s"""WITH $bpeBaseCtes,
       |${bpeRoundSql(1, "toks0")},
       |${bpeRoundSql(2, "mg1")},
       |seg AS (SELECT word, count(*) AS n_sym FROM mg2 GROUP BY word),
       |corpus AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents)
       |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(s.n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(c.word)) AS BIGINT) AS n_chars
       |FROM corpus c JOIN seg s ON s.word = c.word
       |WHERE c.word <> ''
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val (_, m1) = bpeRound(bpeCharToks(docs))
    val (_, m2) = bpeRound(m1)
    val seg = m2.groupBy("word").agg(count(lit(1)).as("n_sym"))
    docs
      .select(col("doc_id"), explode(wordsOf(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(seg), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("n_sym").cast("long").as("n_bpe_tokens"),
        sum(length(col("word"))).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t24
  /** Per-document keyword extraction (TF-IDF top-k) — the metadata-
    * enrichment pass run over every training corpus: tag each doc with
    * its k most distinctive terms, feeding dedup explanations, topic
    * routing, and mixture audits. Where t13 ranks DOCS for one query,
    * this ranks TERMS within every doc — the transpose, and the shuffle
    * shape differs accordingly (per-doc window, not a global top-k).
    *
    * Determinism discipline: idf = ln((N+1)/(df+1)) quantised to micros
    * ONCE per term (t13's proven ln-parity regime), then the per-term
    * score `tf · idf_micro` is an exact integer product — ranking ties
    * break on the term string, so the top-3 set is bit-identical
    * cross-engine with no float comparison anywhere in the ranking.
    *
    * Scale: one token explode, (doc, term) + (term) hash aggs with map-
    * side combine, a term-keyed join to attach idf (vocab-sized at this
    * SF — a shuffle join on term at a real vocab), and ONE doc-keyed
    * window for the top-3 — the corpus shuffles on doc_id once. */
  val t24 = Q("t24_keywords",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |kept AS (SELECT doc_id, term FROM toks WHERE length(term) >= 3),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM kept),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM kept GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |idf AS (
      |  SELECT f.term,
      |    CAST(round(ln((n.n_docs + 1.0) / (f.df + 1.0)) * 1000000.0)
      |         AS BIGINT) AS idf_micro
      |  FROM df f CROSS JOIN n)
      |SELECT doc_id, rank, term, score_q FROM (
      |  SELECT t.doc_id, t.term,
      |    CAST(t.tf * i.idf_micro AS BIGINT) AS score_q,
      |    CAST(row_number() OVER (
      |      PARTITION BY t.doc_id
      |      ORDER BY t.tf * i.idf_micro DESC, t.term) AS BIGINT) AS rank
      |  FROM tf t JOIN idf i ON i.term = t.term)
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val kept = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) >= 3)
    // ONE corpus tokenize pass (r17): tf is materialised once and both
    // n_docs (distinct doc set is preserved by the (doc, term) agg) and
    // idf derive from it — the former shape re-ran the explode for
    // n_docs and the tf agg for the scoring join (guide §1.2 step 1)
    val tf = kept.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val nDocs = tf.agg(countDistinct("doc_id").as("n_docs"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"),
        expr("CAST(round(ln((n_docs + 1.0) / (df + 1.0)) * 1000000.0) AS BIGINT)")
          .as("idf_micro"))
    tf.join(idf, "term")
      .select(col("doc_id"), col("term"),
        (col("tf") * col("idf_micro")).cast("long").as("score_q"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score_q").desc, col("term"))).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "score_q")
      .orderBy("doc_id", "rank")
  }

  // ---------------------------------------------------------------- t25
  /** Corpus trigram spectrum through the native GENERATOR
    * ([[graft.functions.NGramExplode]], the UDTF tier): occurrence and
    * document-frequency counts per 3-gram, top-50 under the total
    * (n DESC, s) order. The shingle rows stream out of a lazy iterator
    * straight into the hash aggregate — the `explode(word_shingles(...))`
    * route this replaces materialises every document's full shingle
    * array (~3× the document text) as peak per-row memory first, which
    * is the difference that matters on 100 MB documents. Same shingle
    * contract as [[graft.functions.WordShingles]], so the DuckDB
    * list_transform CTE oracles both; `GeneratorSpec` pins the
    * generator-vs-array parity law and the Generate plan node. */
  val t25 = Q("t25_ngram_generator",
    """WITH grams AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
      |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)
      |SELECT s, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |FROM grams GROUP BY s
      |ORDER BY n DESC, s LIMIT 50""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .selectExpr("doc_id", "ngram_explode(w, 3) AS s")
      .groupBy("s")
      .agg(count(lit(1)).cast("long").as("n"),
        countDistinct("doc_id").cast("long").as("df"))
      .orderBy(col("n").desc, col("s"))
      .limit(50)
  }

  // ---------------------------------------------------------------- t26
  /** Collocation mining — the corpus-linguistics op behind stop-phrase
    * lists, tokenizer merge seeding, and boilerplate-phrase detection:
    * rank adjacent-token bigrams by association LIFT, the PMI argument
    * `N·c(w1,w2) / (c(w1)·c(w2))` kept as an EXACT parts-per-million
    * integer instead of a float logarithm (PMI is monotone in lift, so
    * the ranking is identical and nothing sits near a rounding boundary
    * — the q19c/t13 discipline without needing a guard-band spec).
    *
    * Scale shape: bigram derivation is map-only (a zip of the token
    * array with its own tail — no self-join on position, no window);
    * unigram and bigram counts are two map-side-combined keyed aggs,
    * each MATERIALISED once (localCheckpoint — uc feeds both join
    * sides, bc feeds the join chain and the corpus total, so without
    * the truncation each consumer would re-scan the corpus); the count
    * joins are equi-keyed on a vocab-sized side (AQE broadcasts at
    * small SF); top-50 plans TakeOrderedAndProject, never a global
    * sort. DECIMAL(38) arithmetic keeps `c12·N·10⁶` exact at 100 TB
    * corpus sizes where BIGINT would overflow. */
  val t26 = Q("t26_collocations",
    """WITH docs AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      |  FROM docs WHERE len(t) >= 2),
      |uc AS (
      |  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM docs)
      |  GROUP BY w),
      |bc AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
      |n AS (SELECT sum(c12) AS nb FROM bc)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
      |  CAST((CAST(c12 AS HUGEINT) * nb * 1000000)
      |    // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS lift_ppm
      |FROM bc
      |JOIN uc u1 ON bc.w1 = u1.w
      |JOIN uc u2 ON bc.w2 = u2.w
      |CROSS JOIN n
      |WHERE c12 >= 3
      |ORDER BY lift_ppm DESC, w1, w2
      |LIMIT 50""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(expr("filter(split(text, ' '), x -> x != '')").as("t"))
    val pairs = docs.where(size(col("t")) >= 2)
      .select(explode(expr(
        "arrays_zip(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1))"))
        .as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
    // both count tables are referenced twice downstream (uc by each join
    // side, bc by the join chain AND the corpus total) — localCheckpoint
    // materialises each once so the corpus is scanned exactly twice
    // (bigram pass + unigram pass), not re-aggregated per consumer
    val uc = docs.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val bc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val n = bc.agg(sum("c12").as("nb"))
    bc.join(uc.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .where(col("c12") >= 3)
      .select(col("w1"), col("w2"), col("c12").cast("long").as("c12"),
        expr("""(CAST(c12 AS DECIMAL(38,0)) * nb * 1000000)
               | DIV (CAST(c1 AS DECIMAL(38,0)) * c2)""".stripMargin)
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(50)
  }

  // ---------------------------------------------------------------- t27
  /** Raw add-one bigram cost `ln((c1 + V) / (c12 + 1))` per OBSERVED
    * bigram as a DOUBLE — split out so the guard-band spec can measure
    * every value's distance from a micro rounding boundary (t13/t16's
    * quantisation convention). The table is observed-bigram-sized
    * (corpus-sublinear), never corpus-sized. */
  private[graft] def bigramCostRaw(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(expr("filter(split(text, ' '), x -> x != '')").as("t"))
    val uc = docs.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the cost join AND the vocab-size total
    val v = uc.agg(count(lit(1)).as("vsz"))
    val bc = docs.where(size(col("t")) >= 2)
      .select(explode(expr(
        "arrays_zip(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1))"))
        .as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    bc.join(uc.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        expr("ln(CAST(c1 + vsz AS DOUBLE) / CAST(c12 + 1 AS DOUBLE))")
          .as("cost"))
  }

  /** Bigram-LM surprisal scoring — the 2-gram upgrade of t16's unigram
    * quality scorer (CCNet proper scores with a 5-gram KenLM; the
    * engine's cross-engine-replayable stand-in is an add-one bigram
    * model, the same quantised-integer discipline one order up): every
    * document scores by its mean per-transition negative log-likelihood
    * `ln((c(w1) + V) / (c(w1,w2) + 1))` under counts trained on the
    * corpus itself. Unigram models rank a document by WHICH words it
    * uses; the bigram model ranks it by how predictable each word is
    * GIVEN the previous one, so templated/boilerplate text (highly
    * predictable transitions) scores low and word-salad scores high —
    * the signal t10's repetition fraction and t16's vocabulary tiers
    * both miss. Self-scoring always hits observed bigrams, so the
    * add-one mass only shifts values; the unseen-bigram path is the
    * deployment story (scoring NEW text against a frozen count table,
    * ml04's serving shape).
    *
    * Determinism: the cost is computed ONCE per distinct observed
    * bigram in a vocab-sized table and quantised to integer micros
    * there (one fixed-shape ln in both engines; the guard-band spec
    * proves no value sits near a rounding boundary); per-doc score is
    * an order-free integer sum over the doc's transitions divided by
    * the transition count — doubles never accumulate (t13/t16's
    * discipline). Docs with < 2 tokens have no transitions and are
    * excluded (pinned by the spec).
    *
    * Scale shape: bigram derivation is t26's map-only tail-zip (no
    * positional self-join, no window); the count tables are map-side
    * combined and materialised once (localCheckpoint); the scoring join
    * is equi-keyed on (w1, w2) against the observed-bigram-sized cost
    * table (too big to assume broadcastable at open-vocab scale — it
    * shuffles as a plain equi join, AQE broadcasts when small); one
    * doc-keyed agg; t16's histogram-cutoff bucketing applies unchanged
    * downstream. At 100 TB: two corpus token passes (train + score),
    * everything between them vocab-sized. */
  val t27 = Q("t27_bigram_surprisal",
    """WITH docs AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      |  FROM docs WHERE len(t) >= 2),
      |uc AS (
      |  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM docs)
      |  GROUP BY w),
      |v AS (SELECT count(*) AS vsz FROM uc),
      |bc AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
      |cost AS (
      |  SELECT bc.w1, bc.w2, CAST(round(
      |    ln(CAST(u1.c + vsz AS DOUBLE) / CAST(bc.c12 + 1 AS DOUBLE))
      |    * 1000000.0) AS BIGINT) AS cost_micro
      |  FROM bc JOIN uc u1 ON bc.w1 = u1.w CROSS JOIN v)
      |SELECT p.doc_id, count(*) AS n_bigrams,
      |  CAST(sum(c.cost_micro) AS BIGINT) // count(*) AS score_micro
      |FROM pairs p JOIN cost c ON p.w1 = c.w1 AND p.w2 = c.w2
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("t"))
    val pairs = docs.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "arrays_zip(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1))"))
        .as("p"))
      .select(col("doc_id"), col("p.0").as("w1"), col("p.1").as("w2"))
    val cost = bigramCostRaw(s, d)
      .select(col("w1"), col("w2"),
        expr("CAST(round(cost * 1000000.0) AS BIGINT)").as("cost_micro"))
    pairs.join(cost, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("CAST(sum(cost_micro) AS BIGINT) div count(*)")
          .as("score_micro"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t28
  /** Number of growth-curve prefixes (and hash buckets). */
  val HeapsBuckets = 8

  /** Vocabulary growth curve (Heaps' law diagnostic) — the measurement
    * that sizes tokenizers and predicts OOV rates: how fast does the
    * type count V grow as the corpus N grows (`V ≈ K·N^β`)? The naive
    * form re-scans the corpus once per prefix; this computes the whole
    * curve in ONE pass via FIRST-OCCURRENCE ATTRIBUTION: docs land in
    * [[HeapsBuckets]] uniform buckets by the top byte of the portable
    * md5 hash (the growth order is hash order — t09's retry-stable
    * discipline, no corpus-global row_number, the n02 ban), each type
    * is attributed to the EARLIEST bucket containing it (one min-agg
    * over the vocab), and prefix p's vocabulary is the running sum of
    * new-type counts over the 8-row bucket table. Token/doc prefix
    * masses accumulate the same way, so every curve point is exact.
    *
    * Scale shape: one token explode + two map-side-combined hash aggs
    * (per-type min bucket — vocab-sized; per-bucket doc/token mass —
    * 8 rows); the cumulative walk and the output are bucket-count-
    * sized. The corpus shuffles its TYPES once, never its body. */
  val t28 = Q("t28_vocab_growth",
    s"""WITH db AS (
       |  SELECT doc_id, text,
       |    CAST(concat('0x', substr(md5('heaps:' || CAST(doc_id AS VARCHAR)),
       |      1, 2)) AS BIGINT) % $HeapsBuckets AS b
       |  FROM documents),
       |toks AS (
       |  SELECT b, unnest(string_split(text, ' ')) AS token FROM db),
       |firstb AS (SELECT token, min(b) AS fb FROM toks GROUP BY token),
       |newtypes AS (SELECT fb AS b, count(*) AS v FROM firstb GROUP BY fb),
       |mass2 AS (
       |  SELECT d.b, count(*) AS n_docs, sum(len(string_split(d.text, ' ')))
       |    AS n_tokens
       |  FROM db d GROUP BY d.b)
       |SELECT m.b AS prefix,
       |  CAST(sum(m.n_docs) OVER w AS BIGINT) AS docs_cum,
       |  CAST(sum(m.n_tokens) OVER w AS BIGINT) AS tokens_cum,
       |  CAST(sum(coalesce(n.v, 0)) OVER w AS BIGINT) AS vocab_cum
       |FROM mass2 m LEFT JOIN newtypes n ON n.b = m.b
       |WINDOW w AS (ORDER BY m.b)
       |ORDER BY prefix""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val db = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        (conv(substring(md5(concat(lit("heaps:"),
          col("doc_id").cast("string"))), 1, 2), 16, 10).cast("long")
          % HeapsBuckets).as("b"))
      .localCheckpoint() // feeds the type attribution AND the mass agg
    val toks = db.select(col("b"),
      explode(split(col("text"), " ")).as("token"))
    val newtypes = toks.groupBy("token").agg(min("b").as("fb"))
      .groupBy(col("fb").as("b")).agg(count(lit(1)).as("v"))
    val mass = db.groupBy("b")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mass.join(newtypes, Seq("b"), "left")
      .select(col("b").as("prefix"),
        sum("n_docs").over(w).cast("long").as("docs_cum"),
        sum("n_tokens").over(w).cast("long").as("tokens_cum"),
        sum(coalesce(col("v"), lit(0L))).over(w).cast("long")
          .as("vocab_cum"))
      .orderBy("prefix")
  }

  // ---------------------------------------------------------------- t29
  /** Keyword-in-context (KWIC) concordance — the POSITIONAL text
    * operator the family lacks: every t01–t28 pass treats a doc as a
    * bag/sequence summary; search, snippet generation, and linguistic
    * concordance need each occurrence WITH its surrounding words. Per
    * occurrence of a query term: its 0-based token position plus the
    * 3-word left and right contexts, reassembled as strings.
    *
    * Both engines slice the SAME token array: Spark `posexplode` +
    * `slice` (1-based, length-clamped), DuckDB `unnest(generate_series)`
    * + list slicing (1-based, end-clamped) — the boundary cases (match
    * at position 0 / end of doc) produce empty contexts identically, so
    * every snippet string hash-matches.
    *
    * Scale: `posexplode` is a lazy Generator (tokens stream, the doc
    * array is not re-materialised per output row), the keyword filter
    * prunes before any shuffle, and the only exchange is the final
    * presentation sort — at 100 TB this is a map-only scan whose output
    * is occurrence-sized, the inverted-index build's snippet sibling. */
  val t29 = Q("t29_kwic",
    """WITH dw AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |occ AS (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM dw),
      |hits AS (
      |  SELECT doc_id, w, i, w[i] AS kw FROM occ
      |  WHERE w[i] IN ('spark', 'vector'))
      |SELECT doc_id, kw, CAST(i - 1 AS BIGINT) AS pos,
      |  coalesce(array_to_string(w[greatest(i - 3, 1) : i - 1], ' '), '')
      |    AS left_ctx,
      |  coalesce(array_to_string(w[i + 1 : i + 3], ' '), '') AS right_ctx
      |FROM hits ORDER BY doc_id, pos, kw""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(col("w")).as(Seq("pos", "word")))
      .filter(col("word").isin("spark", "vector"))
      .select(col("doc_id"), col("word").as("kw"),
        col("pos").cast("long").as("pos"),
        concat_ws(" ", expr(
          "slice(w, greatest(pos - 2, 1), pos - greatest(pos - 2, 1) + 1)"))
          .as("left_ctx"),
        concat_ws(" ", expr("slice(w, pos + 2, 3)")).as("right_ctx"))
      .orderBy("doc_id", "pos", "kw")
  }

  // ---------------------------------------------------------------- t30
  /** Per-document n-gram novelty — the memorization-risk diagnostic
    * (Lee et al. 2022 "Deduplicating Training Data…", Carlini et al.
    * 2023 extraction analyses): what fraction of a document's distinct
    * 3-word shingles appears in NO other document? Low novelty marks
    * the near-template documents a model memorises verbatim; the score
    * ranks the corpus for the d-family's dedup tiers (d01/d03 decide
    * pairs — this grades each doc's OWN overlap exposure, no pair
    * enumeration anywhere).
    *
    * One corpus pass explodes the d02 shingle family (distinct per
    * doc), one shingle-keyed hash agg computes document frequency
    * (state = vocabulary of shingles), one doc-keyed rollup splits
    * df=1 from df≥2 grams, and a left join keeps shingle-less docs
    * (vacuously fully novel). Exact integer ppm; no pairwise work —
    * the df table is exactly t11's vocabulary shape, so the pass
    * scales like word counting, not like dedup. */
  val t30 = Q("t30_ngram_novelty",
    s"""WITH ${graft.ops.Dedup.shinglesSql},
       |df AS (SELECT s, count(*) AS df FROM shingles GROUP BY s),
       |per AS (
       |  SELECT sh.doc_id, count(*) AS n_grams,
       |    sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_unique
       |  FROM shingles sh JOIN df ON df.s = sh.s
       |  GROUP BY sh.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(per.n_unique, 0) AS BIGINT) AS n_unique,
       |  CAST(CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 1000000
       |       ELSE (per.n_unique * 1000000) // per.n_grams END AS BIGINT)
       |    AS novelty_ppm
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct()
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val per = sh.join(df, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1).otherwise(0)).as("n_unique"))
    Tables.documents(s, d).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).cast("long").as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).cast("long").as("n_unique"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, 1000000L)
          .otherwise(expr("(n_unique * 1000000L) DIV n_grams"))
          .cast("long").as("novelty_ppm"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t31
  /** Deterministic pseudonymization with REFERENTIAL INTEGRITY — the
    * key-coding discipline (GDPR Art. 4(5) pseudonymisation) t08's
    * regex redaction cannot provide: redaction destroys identity;
    * analytics-grade privacy needs identity REPLACED by a stable token
    * so joins, groupings, and longitudinal analyses still work while
    * the raw identifier leaves the corpus. Tokens are a salted md5 of
    * the user id — deterministic (retried tasks and later batches
    * agree), unlinkable without the salt, and injective on any
    * realistic id space (the in-op `require` makes the collision check
    * a hard gate, not a hope: token cardinality must equal id
    * cardinality or the job refuses to publish).
    *
    * The op emits the pseudonymized per-user aggregate (token,
    * n_events, value cents) — the table a downstream team receives; the
    * oracle rebuilds identical tokens, so the hash match proves
    * tokenization commutes with aggregation (pseudonymize-then-analyze
    * == analyze-then-pseudonymize, the property that licenses running
    * analytics on the coded table). Scale: one map pass (token is a
    * scalar expression) + one token-keyed agg; the integrity gate is a
    * 2-scalar agg, not a second corpus pass. */
  val t31 = Q("t31_pseudonymize",
    """WITH tok AS (
      |  SELECT 'anon-' || substr(md5('t31:' || CAST(user_id AS VARCHAR)),
      |           1, 12) AS user_token,
      |    user_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT user_token,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS value_cents
      |FROM tok GROUP BY user_token
      |ORDER BY user_token""".stripMargin) { (s, d) =>
    val tok = Tables.events(s, d)
      .select(col("user_id"),
        concat(lit("anon-"), substring(md5(concat(lit("t31:"),
          col("user_id").cast("string"))), 1, 12)).as("user_token"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .localCheckpoint() // two consumers: the gate and the publish agg
    // the integrity gate: tokenization must be injective HERE, or the
    // published table silently merges two people's histories
    val card = tok.agg(
      countDistinct("user_id").as("users"),
      countDistinct("user_token").as("tokens")).collect()(0)
    require(card.getLong(0) == card.getLong(1),
      s"pseudonym collision: ${card.getLong(0)} users → " +
        s"${card.getLong(1)} tokens — widen the token or re-salt")
    tok.groupBy("user_token")
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum("cents").cast("long").as("value_cents"))
      .orderBy("user_token")
  }

  // ---------------------------------------------------------------- t32
  /** floor(log2(rank)) as a generated CASE chain — ONE text for both
    * engines, no float log (log2 is not correctly-rounded-guaranteed;
    * a 2.999… at an octave boundary would bucket differently per
    * engine). Covers ranks < 2^21. */
  private val OctaveSql: String =
    (0 until 21).map(o => s"WHEN rank < ${1L << (o + 1)} THEN $o")
      .mkString("CASE ", " ", " ELSE 21 END")

  /** Zipf rank-frequency octave report — t28's Heaps curve's sibling
    * corpus-QA statistic (the OTHER power law every natural corpus is
    * checked against): bigram types ranked by frequency, grouped into
    * rank OCTAVES [2^o, 2^{o+1}), per octave the type count, total
    * token mass, frequency range, and the octave-over-octave mass
    * ratio in ppm. Under Zipf (s = 1) per-octave mass is CONSTANT
    * (Σ 1/r over an octave ≈ ln 2) → ratio ≈ 10⁶; a uniform corpus
    * doubles mass per octave → ratio ≈ 2·10⁶. The report MEASURES
    * which regime the corpus is in — the synthetic generator is
    * measured near-UNIFORM (mid-octave ratios ~1.9·10⁶; the last
    * octave drops to ~1.2·10⁶ on the singleton tail), and that number is exactly what a data-quality
    * gate reads before trusting frequency-based heuristics (t02's
    * stopword ratios, t13's idf) on a new corpus.
    *
    * №24 (round 16, the WindowWidthScan sweep): the engine side no
    * longer ranks the vocab at all. Octave statistics are
    * TIE-INDEPENDENT — a frequency-c block of k types occupies the
    * contiguous rank interval [r0, r0+k) whatever the tie order, and
    * n_types/mass/max/min per octave depend only on interval overlap —
    * so the vocab-global row_number (bigram vocab is corpus-GROWING,
    * billions of types at estate scale, serialised through one task)
    * is replaced by arithmetic over the FREQUENCY HISTOGRAM: group by
    * c (distinct-frequency-sized, O(√tokens) by the counting bound),
    * cumulate to get each block's r0, explode each block into the ≤22
    * octaves it overlaps, and aggregate interval lengths. The only
    * remaining global windows run over the histogram and the 22-octave
    * report. The DuckDB oracle keeps the rank formulation — the
    * equality IS the tie-independence proof, under the hash gate.
    * Octaves via a generated CASE chain — no float log crosses an
    * engine boundary. */
  val t32 = Q("t32_zipf_octaves",
    s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |tok AS (
       |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
       |           i -> concat(w[i], ' ', w[i+1]))) AS token
       |  FROM w WHERE len(w) >= 2),
       |tc AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
       |ranked AS (
       |  SELECT token, c,
       |    row_number() OVER (ORDER BY c DESC, token) AS rank
       |  FROM tc),
       |oct AS (
       |  SELECT $OctaveSql AS octave,
       |    count(*) AS n_types, sum(c) AS mass,
       |    max(c) AS max_freq, min(c) AS min_freq
       |  FROM ranked GROUP BY 1),
       |lagd AS (
       |  SELECT octave, n_types, mass, max_freq, min_freq,
       |    lag(mass) OVER (ORDER BY octave) AS prev_mass
       |  FROM oct)
       |SELECT CAST(octave AS BIGINT) AS octave,
       |  CAST(n_types AS BIGINT) AS n_types,
       |  CAST(mass AS BIGINT) AS mass,
       |  CAST(max_freq AS BIGINT) AS max_freq,
       |  CAST(min_freq AS BIGINT) AS min_freq,
       |  CAST(CASE WHEN prev_mass IS NULL THEN 0
       |       ELSE mass * 1000000 // prev_mass END AS BIGINT)
       |    AS mass_ratio_ppm
       |FROM lagd
       |ORDER BY octave""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tc = Tables.documents(s, d)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr("word_shingles(w, 2)")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    // frequency histogram: k types share frequency c and occupy the
    // contiguous rank block [r0, r0+k) — distinct-frequency-sized
    val hist = tc.groupBy("c").agg(count(lit(1)).as("k"))
    val wCum = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val octOf = (x: String) =>
      (0 until 21).map(o => s"WHEN $x < ${1L << (o + 1)} THEN $o")
        .mkString("CASE ", " ", " ELSE 21 END")
    val blocks = hist
      .withColumn("r0", coalesce(sum("k").over(wCum), lit(0L)) + 1L)
      .withColumn("r1", col("r0") + col("k") - 1L)
      .withColumn("o0", expr(octOf("r0")).cast("int"))
      .withColumn("o1", expr(octOf("r1")).cast("int"))
    // each block overlaps <=22 octaves; interval-overlap arithmetic
    // replaces the per-type rank (octave 21 is open-ended by OctaveSql)
    val oct = blocks
      .withColumn("octave", explode(sequence(col("o0"), col("o1"))))
      .withColumn("lo", greatest(col("r0"),
        expr("shiftleft(CAST(1 AS BIGINT), octave)")))
      .withColumn("hi", when(col("octave") === 21, col("r1"))
        .otherwise(least(col("r1"),
          expr("shiftleft(CAST(1 AS BIGINT), octave + 1) - 1"))))
      .withColumn("cnt", col("hi") - col("lo") + 1L)
      .groupBy("octave")
      .agg(sum("cnt").as("n_types"), sum(col("c") * col("cnt")).as("mass"),
        max("c").as("max_freq"), min("c").as("min_freq"))
    oct.withColumn("prev_mass",
        lag(col("mass"), 1).over(Window.orderBy("octave")))
      .selectExpr("CAST(octave AS BIGINT) AS octave",
        "CAST(n_types AS BIGINT) AS n_types",
        "CAST(mass AS BIGINT) AS mass",
        "CAST(max_freq AS BIGINT) AS max_freq",
        "CAST(min_freq AS BIGINT) AS min_freq",
        """CAST(CASE WHEN prev_mass IS NULL THEN 0
          | ELSE mass * 1000000 DIV prev_mass END AS BIGINT)
          | AS mass_ratio_ppm""".stripMargin.replace("\n", " "))
      .orderBy("octave")
  }

  // ---------------------------------------------------------------- t33
  /** (n, kind, num, den) per repetition gate: fraction ≤ num/den in
    * exact integers (t15's no-float-threshold rule). `top` gates bound
    * the character mass of the single MOST FREQUENT n-gram — the
    * count-argmax gram is selected first, ties broken toward the
    * larger character mass, and only ITS mass is gated (Gopher: 0.20 /
    * 0.18 / 0.16 for n = 2/3/4); `dup` gates bound the total character
    * mass inside n-grams occurring ≥ 2× (Gopher: 0.15 / 0.14 for
    * n = 5/6). */
  private val RepGates: Seq[(Int, String, Long, Long)] = Seq(
    (2, "top", 1L, 5L), (3, "top", 9L, 50L), (4, "top", 4L, 25L),
    (5, "dup", 3L, 20L), (6, "dup", 7L, 50L))

  /** Gopher REPETITION gates (Rae et al. 2021 §A1.1, the half t15's
    * quality gates leave out): per document, the character-mass share
    * of (a) the single most frequent {2,3,4}-gram — selected by count
    * argmax, ties toward the larger character mass, so the gate
    * measures exactly the paper's "fraction of characters contained
    * within the most frequently-occurring n-gram" (r10 ADVICE: the
    * earlier form gated max-over-grams of count×mass, a conservative
    * superset) — and (b) all duplicated {5,6}-grams, each against
    * Gopher's threshold in exact integer arithmetic, plus the AND
    * verdict. The argmax is a lexicographic `max(struct(c, gl))`
    * inside the SAME hash aggregate (no window, no second pass); both
    * engines and the CorpusOpsSpec brute force share the tie rule.
    * Character mass counts token characters only (gram length minus
    * its n−1 joining spaces), against t15's space-free `n_chars`
    * denominator, so mass and denominator measure the same characters.
    * On this corpus the top-2-gram gate REJECTS (measured: 24 docs
    * above 0.20 at sf0.01, max 0.36 — unchanged by the argmax fix: on
    * synthetic bigram-repeating docs the most frequent bigram IS the
    * mass-max one) while the dup-{5,6} gates trivially pass (synthetic
    * docs repeat bigrams, never 5-grams) — t15's symbol-gate precedent:
    * the operator is the deliverable, and `CorpusOpsSpec` pins both the
    * non-vacuity and the documented triviality so a corpus change
    * surfaces. Dataflow: the token array is projected ONCE and
    * checkpointed; five compiled word_shingles explodes (ALL
    * occurrences — repetition needs multiplicity, so no distinct)
    * union long-form into one (doc, n, gram) count aggregate with
    * map-side combine; per-doc masses are a second keyed aggregate;
    * the 5-gate pivot is conditional sums; docs too short for an n
    * zero-fill through the final left join. No window, nothing
    * corpus-global, gram tables are (doc × distinct-gram)-sized. */
  val t33 = Q("t33_gopher_repetition", {
    def gramSql(n: Int) =
      s"""SELECT doc_id, $n AS n,
         |    unnest(list_transform(generate_series(1, len(w) - ${n - 1}),
         |      i -> concat_ws(' ', ${(0 until n).map(j => s"w[i+$j]").mkString(", ")}))) AS s
         |  FROM ws WHERE len(w) >= $n""".stripMargin
    val gateSql = RepGates.map { case (n, kind, num, den) =>
      s"coalesce(${den} * m_${kind}_$n <= ${num} * nc, TRUE)" }
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    length(text) - (len(string_split(text, ' ')) - 1) AS nc
       |  FROM documents),
       |grams AS (
       |  ${RepGates.map(g => gramSql(g._1)).mkString("\n  UNION ALL\n  ")}),
       |cnt AS (
       |  SELECT doc_id, n, s, count(*) AS c, len(s) - (n - 1) AS gl
       |  FROM grams GROUP BY doc_id, n, s),
       |mass0 AS (
       |  SELECT doc_id,
       |    ${RepGates.map { case (n, kind, _, _) =>
            if (kind == "top")
              s"max(CASE WHEN n = $n THEN {'c': c, 'gl': gl} END) AS s_top_$n"
            else
              s"sum(CASE WHEN n = $n AND c >= 2 THEN c * gl ELSE 0 END) AS m_dup_$n"
          }.mkString(",\n    ")}
       |  FROM cnt GROUP BY doc_id),
       |mass AS (
       |  SELECT doc_id,
       |    ${RepGates.map { case (n, kind, _, _) =>
            if (kind == "top")
              s"s_top_$n.c * s_top_$n.gl AS m_top_$n"
            else s"m_dup_$n"
          }.mkString(",\n    ")}
       |  FROM mass0)
       |SELECT d.doc_id,
       |  ${RepGates.map { case (n, kind, _, _) =>
          s"CAST(coalesce(m_${kind}_$n, 0) * 1000000 // nc AS BIGINT) AS ${kind}${n}_ppm"
        }.mkString(",\n  ")},
       |  ${RepGates.map { case (n, kind, num, den) =>
          s"coalesce($den * m_${kind}_$n <= $num * nc, TRUE) AS keep_${kind}$n"
        }.mkString(",\n  ")},
       |  ${gateSql.mkString("(", ") AND (", ")")} AS keep
       |FROM ws d LEFT JOIN mass ON mass.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }) { (s, d) =>
    val ws = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"),
        (length(col("text")) -
          (size(split(col("text"), " ")) - 1)).cast("long").as("nc"))
      .localCheckpoint() // read by all five explodes AND the zero-fill
    val grams = RepGates.map { case (n, _, _, _) =>
      ws.filter(size(col("w")) >= n)
        .select(col("doc_id"), lit(n).as("n"),
          explode(expr(s"word_shingles(w, $n)")).as("s"))
    }.reduce(_ unionAll _)
    val cnt = grams.groupBy("doc_id", "n", "s")
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("n"), col("c"),
        (length(col("s")) - (col("n") - 1)).cast("long").as("gl"))
    val massAggs = RepGates.map { case (n, kind, _, _) =>
      if (kind == "top")
        // count-argmax gram via lexicographic struct max (ties → larger
        // mass); its mass is derived AFTER the aggregate, same hash agg
        max(when(col("n") === n, struct(col("c"), col("gl"))))
          .as(s"s_top_$n")
      else
        sum(when(col("n") === n && col("c") >= 2, col("c") * col("gl"))
          .otherwise(0L)).as(s"m_dup_$n")
    }
    val mass = cnt.groupBy("doc_id").agg(massAggs.head, massAggs.tail: _*)
      .select(col("doc_id") +: RepGates.map { case (n, kind, _, _) =>
        if (kind == "top")
          (col(s"s_top_$n.c") * col(s"s_top_$n.gl")).as(s"m_top_$n")
        else col(s"m_dup_$n")
      }: _*)
    val gateExprs = RepGates.map { case (n, kind, num, den) =>
      coalesce(lit(den) * col(s"m_${kind}_$n") <= lit(num) * col("nc"),
        lit(true))
    }
    val ppmCols = RepGates.map { case (n, kind, _, _) =>
      expr(s"CAST(coalesce(m_${kind}_$n, 0) * 1000000 DIV nc AS BIGINT)")
        .as(s"$kind${n}_ppm")
    }
    ws.select("doc_id", "nc")
      .join(mass, Seq("doc_id"), "left")
      .select(Seq(col("doc_id")) ++ ppmCols ++
        gateExprs.zip(RepGates).map { case (c, (n, kind, _, _)) =>
          c.as(s"keep_$kind$n") } :+
        gateExprs.reduce(_ && _).as("keep"): _*)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t34
  /** Hashed-feature buckets / number of docs selected. */
  val DsirBuckets = 256
  val DsirTopN = 50

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — the
    * data-SELECTION half of the curation stack: score every raw doc by
    * how target-like its hashed-unigram distribution is, keep the top
    * slice. Target here = the `lang = 'en'` stratum; features are
    * md5-head hash buckets (the t09 portable-hash discipline,
    * [[DsirBuckets]] buckets); per-bucket weight is the add-one-
    * smoothed log-likelihood ratio ln(p_target/p_raw), quantised to
    * MICRO-units per DISTINCT bucket (the t27 trick — cross-engine ln
    * ulp drift is absorbed by the rounding, and doc scores are then
    * exact INTEGER sums in both engines). A doc's score is the summed
    * log importance weight of its tokens — the exact DSIR resampling
    * statistic; the top [[DsirTopN]] docs are the selected slice.
    *
    * Scale shape: one token explode feeding ONE map-side-combined hash
    * agg (bucket-sized: 256 rows carrying both the raw count and the
    * target count via a conditional sum — the target pass is free);
    * the weight table is bucket-sized and BROADCAST back onto the
    * token stream; the per-doc sum is one map-side-combinable agg; the
    * selection is TakeOrderedAndProject (q02's top-k discipline — no
    * corpus-global window, the n02 ban). The corpus body never
    * shuffles; only its doc-id'd scores do. At 100 TB the bucket count
    * rises (DSIR uses 10^4–10^5) — the shape is unchanged. */
  val t34 = Q("t34_dsir_importance",
    s"""WITH docs AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |feat AS (
       |  SELECT doc_id, lang,
       |    CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, unnest(w) AS t FROM docs)),
       |agg AS (
       |  SELECT b, count(*) AS cr,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
       |  FROM feat GROUP BY b),
       |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM agg),
       |wgt AS (
       |  SELECT b, CAST(round(ln(
       |      (CAST(ct + 1 AS DOUBLE) / CAST(nt + $DsirBuckets AS DOUBLE))
       |      / (CAST(cr + 1 AS DOUBLE) / CAST(nr + $DsirBuckets AS DOUBLE))
       |    ) * 1000000.0) AS BIGINT) AS w_micro
       |  FROM agg CROSS JOIN tot),
       |scored AS (
       |  SELECT f.doc_id, count(*) AS n_tokens,
       |    CAST(sum(w.w_micro) AS BIGINT) AS logw_micro
       |  FROM feat f JOIN wgt w ON f.b = w.b GROUP BY f.doc_id),
       |ranked AS (
       |  SELECT doc_id, n_tokens, logw_micro,
       |    row_number() OVER (ORDER BY logw_micro DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, logw_micro,
       |  CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $DsirTopN ORDER BY rank""".stripMargin) {
      (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // №27: per-token md5 bucketing rides the single documents split —
    // spread to session width first (no-op on a wide corpus).
    val feat = Width.spread(
      Tables.documents(s, d).select("doc_id", "lang", "text"))
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("t"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long")
          % DsirBuckets).as("b"))
    val agg = feat.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    // totals via a window over the BUCKET-sized (256-row) agg table —
    // never a second corpus pass (and nothing for ReuseExchange to miss)
    val wTot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wgt = agg
      .withColumn("nr", sum("cr").over(wTot))
      .withColumn("nt", sum("ct").over(wTot))
      .select(col("b"), expr(
        s"""CAST(round(ln(
           |  (CAST(ct + 1 AS DOUBLE) / CAST(nt + $DsirBuckets AS DOUBLE))
           |  / (CAST(cr + 1 AS DOUBLE) / CAST(nr + $DsirBuckets AS DOUBLE))
           |) * 1000000.0) AS BIGINT)""".stripMargin.replace("\n", " "))
        .as("w_micro"))
    val scored = feat.join(broadcast(wgt), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w_micro").as("logw_micro"))
    // top-N first (TakeOrderedAndProject), rank assigned on the bounded
    // result — never a corpus-global window
    val top = scored
      .orderBy(col("logw_micro").desc, col("doc_id"))
      .limit(DsirTopN)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("logw_micro").desc,
          col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("logw_micro").cast("long").as("logw_micro"), col("rank"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- t35
  /** The trained-vocabulary query over [[bpeLearn]] — puts the iterated
    * trainer under the same DuckDB hash gate as everything else (t22
    * oracles the MECHANISM with two unrolled rounds; this oracles the
    * TRAINER's first `T35Merges` rounds by splicing the same
    * [[bpeRoundSql]] block once per round, so a drift anywhere in the
    * loop — selection, tie-break, greedy application, checkpoint
    * plumbing, the fixpoint guard firing spuriously — breaks the hash).
    * Output mirrors t22's shape: one 'merge' row per learned round
    * (pair + weighted count at selection) plus the top-30 'vocab'
    * symbols after the final merge. The learned merges are a
    * driver-side Seq (bounded: `T35Merges` rows by construction) turned
    * back into a DataFrame — the one place the trainer's loop output
    * surfaces as a relation. minFreq floor never binds at test SFs
    * (round-6 top pairs count in the hundreds at sf0.01) — if it ever
    * did, the require below reports it rather than hash-mismatching. */
  private val T35Merges = 6
  val t35 = Q("t35_bpe_trained_vocab",
    s"""WITH $bpeBaseCtes,
       |${(1 to T35Merges).map(r =>
          bpeRoundSql(r, if (r == 1) "toks0" else s"mg${r - 1}"))
          .mkString(",\n")}
       |SELECT kind, round, sym, cnt FROM (
       |${(1 to T35Merges).map(r =>
          s"""  SELECT 'merge' AS kind, $r AS round, a || '+' || b AS sym,
             |    CAST(cnt AS BIGINT) AS cnt FROM top$r""".stripMargin)
          .mkString("\n  UNION ALL\n")}
       |  UNION ALL
       |  SELECT 'vocab', $T35Merges, sym, cnt FROM (
       |    SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM mg$T35Merges
       |    GROUP BY sym ORDER BY cnt DESC, sym LIMIT 30))
       |ORDER BY kind, round, cnt DESC, sym""".stripMargin) { (s, d) =>
    import s.implicits._
    val (merges, toks, rounds) =
      bpeLearn(Tables.documents(s, d), T35Merges)
    require(rounds == T35Merges,
      s"bpeLearn stopped after $rounds/$T35Merges rounds (minFreq floor " +
        "or fixpoint) — the oracle unrolls exactly " + T35Merges)
    val mergeRows = merges.zipWithIndex.map { case ((a, b, cnt), i) =>
      ("merge", i + 1, s"$a+$b", cnt)
    }.toDF("kind", "round", "sym", "cnt")
    val vocab = toks.groupBy("sym").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("sym")).limit(30)
      .select(lit("vocab").as("kind"), lit(T35Merges).as("round"),
        col("sym"), col("cnt").cast("long").as("cnt"))
    mergeRows.unionAll(vocab)
      .orderBy(col("kind"), col("round"), col("cnt").desc, col("sym"))
  }

  def all: Seq[Q] = Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10,
    t11, t12, t13, t14, t15, t16, t17, t18, t19, t20, t21, t22, t23, t24,
    t25, t26, t27, t28, t29, t30, t31, t32, t33, t34, t35)
}
