package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.Q

/** Batch ingestion scans (SURVEY.md §2.1).
  *
  * The reference's JSON loader accepts either a whole-file JSON array or
  * JSON-Lines and skips unparseable lines with a warning
  * (`telegram/raw_news_to_telegram.py:34-53`). Spark's JSON reader covers
  * both shapes natively; corrupt records are retained in a side column
  * and filtered, reproducing the tolerant-skip semantics declaratively
  * (so the skip happens in the scan, parallel, instead of a driver loop).
  */
object Ingest {

  /** Tolerant JSON scan: JSONL by default, whole-file arrays with
    * `multiLine`. Bad lines are dropped at parse time (`DROPMALFORMED`) —
    * the same whole-line-skip the reference's loader implements with its
    * per-line `json.loads` retry, but inside the parallel scan. (The
    * PERMISSIVE + filter-on-`_corrupt_record` formulation is a trap:
    * Spark refuses plans whose pruned scan references only the corrupt
    * column, e.g. any downstream `count()`.) */
  def tolerantJson(spark: SparkSession, path: String,
      schema: Option[StructType] = None, multiLine: Boolean = false): DataFrame = {
    val base = spark.read
      .option("mode", "DROPMALFORMED")
      .option("multiLine", multiLine.toString)
    schema.map(base.schema).getOrElse(base).json(path)
  }

  /** Header-aware CSV scan (ref: a deleted predecessor imported `csv`,
    * SURVEY.md §2.1 [EXT]). `escape = "` switches Spark from its
    * backslash default to RFC 4180 doubled-quote escaping — without it a
    * field like `"The ""Quoted"" Gazette"` arrives with its quotes raw
    * (found by the in02 cross-engine oracle). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("escape", "\"").csv(path)

  /** The reference's format projection over the raw article shape
    * (`raw_news_to_telegram.py:58-69`): per-field empty-string defaults,
    * authors list joined with ", " or 'Unknown'. */
  def formatArticles(raw: DataFrame): DataFrame = {
    val authors = when(col("authors").isNotNull && size(col("authors")) > 0,
      array_join(col("authors"), ", ")).otherwise(lit("Unknown"))
    raw.select(concat(
      lit("Headline: "), coalesce(col("headline"), lit("")),
      lit(", Authors: "), authors,
      lit(", Description: "), coalesce(col("short_description"), lit("")))
      .as("value"))
  }

  /** The reference loader's article schema (`raw_news_to_telegram.py:34`):
    * explicit, so malformed-row detection is deterministic (inference
    * would re-scan and could widen types on dirty data). */
  val articleSchema: StructType = StructType(Seq(
    StructField("headline", StringType),
    StructField("authors", ArrayType(StringType)),
    StructField("short_description", StringType),
    StructField("link", StringType),
    StructField("category", StringType)))

  /** Committed JSONL fixture with structurally-broken lines mixed in —
    * the reference front door's actual input condition. */
  val fixturePath = graft.Fixtures.path("news_articles.jsonl")

  /** End-to-end oracled ingestion: tolerant JSONL scan (malformed lines
    * dropped in-scan) → format projection. The DuckDB oracle reads the
    * same fixture with `ignore_errors` — both engines must agree on which
    * lines survive AND on the projected strings. DuckDB turns unparseable
    * lines into all-NULL rows instead of dropping them, so the oracle
    * filters those out (the fixture has no legitimately all-NULL record).
    * `dir` is unused: the fixture is the front-door input, not part of
    * the star schema. */
  val in01 = Q("in01_tolerant_jsonl",
    s"""SELECT concat('Headline: ', coalesce(headline, ''),
       |  ', Authors: ', CASE WHEN authors IS NOT NULL AND len(authors) > 0
       |                 THEN array_to_string(authors, ', ') ELSE 'Unknown' END,
       |  ', Description: ', coalesce(short_description, '')) AS value
       |FROM read_json('$fixturePath',
       |  format='newline_delimited', ignore_errors=true,
       |  columns={headline: 'VARCHAR', authors: 'VARCHAR[]',
       |           short_description: 'VARCHAR', link: 'VARCHAR',
       |           category: 'VARCHAR'})
       |WHERE headline IS NOT NULL OR authors IS NOT NULL
       |   OR short_description IS NOT NULL OR link IS NOT NULL
       |   OR category IS NOT NULL
       |ORDER BY value""".stripMargin) { (s, _) =>
    formatArticles(tolerantJson(s, fixturePath, Some(articleSchema)))
      .orderBy("value")
  }

  /** The same broken-lines fixture, gzip-compressed (`gzip -n`:
    * deterministic bytes, no embedded mtime). */
  val gzFixturePath = graft.Fixtures.path("news_articles.jsonl.gz")

  /** Compression-transparent ingestion ([EXT]): the in01 tolerant scan
    * over a GZIP member — both engines infer the codec from the
    * extension and must land the identical surviving rows and projected
    * strings. Web-scale corpora arrive compressed (CommonCrawl is gzip
    * throughout), so codec transparency is a front-door requirement, not
    * a convenience. Scale note: gzip is NOT splittable — one .gz member
    * = one task, so a 100 TB corpus must arrive as many medium members
    * (the crawl's natural per-WARC layout) or be transcoded to a
    * splittable codec (zstd/bzip2) on first touch; a single giant .gz
    * would serialise the scan no matter how large the cluster. */
  val in07 = Q("in07_gzip_scan",
    s"""SELECT concat('Headline: ', coalesce(headline, ''),
       |  ', Authors: ', CASE WHEN authors IS NOT NULL AND len(authors) > 0
       |                 THEN array_to_string(authors, ', ') ELSE 'Unknown' END,
       |  ', Description: ', coalesce(short_description, '')) AS value
       |FROM read_json('$gzFixturePath',
       |  format='newline_delimited', ignore_errors=true,
       |  columns={headline: 'VARCHAR', authors: 'VARCHAR[]',
       |           short_description: 'VARCHAR', link: 'VARCHAR',
       |           category: 'VARCHAR'})
       |WHERE headline IS NOT NULL OR authors IS NOT NULL
       |   OR short_description IS NOT NULL OR link IS NOT NULL
       |   OR category IS NOT NULL
       |ORDER BY value""".stripMargin) { (s, _) =>
    formatArticles(tolerantJson(s, gzFixturePath, Some(articleSchema)))
      .orderBy("value")
  }

  /** Committed CSV fixture exercising quoting (embedded comma, escaped
    * quote) and a NULL numeric field. */
  val csvFixturePath = graft.Fixtures.path("sources.csv")

  /** Oracled CSV front door: header + quote/escape handling + NULL
    * parsing must agree between Spark's CSV reader and DuckDB's. Types
    * are pinned by explicit casts on the Spark side and an explicit
    * column spec in the oracle, so schema inference can't drift. */
  val in02 = Q("in02_csv_scan",
    s"""SELECT source_id, name, reliability, region
       |FROM read_csv('$csvFixturePath', header=true,
       |  columns={source_id: 'BIGINT', name: 'VARCHAR',
       |           reliability: 'DOUBLE', region: 'VARCHAR'})
       |ORDER BY source_id""".stripMargin) { (s, _) =>
    csv(s, csvFixturePath)
      .select(col("source_id").cast("long"), col("name"),
        col("reliability").cast("double"), col("region"))
      .orderBy("source_id")
  }

  /** Quarantine ingestion — the production counterpart of in01's
    * drop-malformed scan: instead of silently dropping bad lines, every
    * input line gets a verdict so the bad ones can be routed to a
    * quarantine sink for inspection (text scan → per-line `from_json`
    * probe; map-only, no shuffle, scale-free). `is_good` = the line
    * yields at least one known field — which on any line set without
    * legitimately-empty records coincides with JSON validity, the
    * definition the DuckDB oracle evaluates via `json_valid` (the
    * committed fixture pins the equivalence; a valid `{}` line — or a
    * valid non-object scalar like `[]`/`123`, which json_valid accepts
    * but the struct probe rejects — would need the schema-probe
    * definition on both sides). Blank lines are filtered identically
    * on both sides. */
  val in03 = Q("in03_quarantine",
    s"""SELECT substr(line, 1, 30) AS line_head,
       |  json_valid(line) AS is_good,
       |  coalesce(CASE WHEN json_valid(line)
       |                THEN json_extract_string(line, '$$.headline') END,
       |           '') AS headline
       |FROM (SELECT unnest(string_split(content, chr(10))) AS line
       |      FROM read_text('$fixturePath'))
       |WHERE line <> ''
       |ORDER BY line_head""".stripMargin) { (s, _) =>
    val p = from_json(col("line"), articleSchema)
    val anyField = coalesce(p.getField("headline"), p.getField("short_description"),
      p.getField("link"), p.getField("category"),
      array_join(p.getField("authors"), ","))
    s.read.text(fixturePath)
      .select(col("value").as("line"))
      .filter(col("line") =!= "") // the oracle's WHERE line <> ''
      .select(substring(col("line"), 1, 30).as("line_head"),
        anyField.isNotNull.as("is_good"),
        coalesce(p.getField("headline"), lit("")).as("headline"))
      .orderBy("line_head")
  }

  /** Committed two-generation parquet fixture: v1 carries
    * (source_id, name); v2 adds (reliability, region) — the
    * append-only schema widening every long-lived table accumulates. */
  val evolveFixtureDir = graft.Fixtures.path("evolving")

  /** Schema-evolution scan (SURVEY.md §2.1 [EXT] — `mergeSchema`): one
    * read over both file generations yields the union schema, with the
    * pre-widening files NULL-filled in the added columns. The DuckDB
    * oracle reads the same two files with `union_by_name` — both engines
    * must agree on the merged shape AND the NULL fill. At scale,
    * mergeSchema touches only parquet FOOTERS (not data) and the select
    * still prunes columns per file — this is the zero-rewrite migration
    * path for a 100 TB table that gains a column. */
  val in04 = Q("in04_schema_evolution",
    s"""SELECT source_id, name, reliability, region
       |FROM read_parquet(['$evolveFixtureDir/v1.parquet',
       |                   '$evolveFixtureDir/v2.parquet'],
       |                  union_by_name=true)
       |ORDER BY source_id""".stripMargin) { (s, _) =>
    s.read.option("mergeSchema", "true").parquet(evolveFixtureDir)
      .select(col("source_id"), col("name"), col("reliability"), col("region"))
      .orderBy("source_id")
  }

  /** Committed hive-partitioned fixture (`event_date=YYYY-MM-DD/data
    * .parquet`, three partitions) — generated by [[graft.FixtureGen]].
    * The partition column exists only in directory names. */
  val hiveFixtureDir = graft.Fixtures.path("hive")

  /** Partition-pruned scan (SURVEY.md §2.1 [EXT]) — THE scale feature of
    * a date-partitioned fact table: a predicate on the partition column
    * is resolved against the file LISTING, so non-matching partitions are
    * never opened (no footer reads, no I/O — at 100 TB, a one-day query
    * touches 1/365th of the table). `PlanAuditSpec` asserts
    * `selectedPartitions == 1` of 3 on the physical scan, i.e. the
    * pruning actually happened rather than a scan-all + filter. The
    * DuckDB oracle reads the same directory tree with
    * `hive_partitioning=true`; both engines must agree on the
    * directory-derived column AND the data columns. `event_date` is cast
    * to VARCHAR on both sides — Spark infers a DATE partition column,
    * DuckDB autocasts too, and the string form pins the value without
    * trusting either engine's date rendering. */
  val in05 = Q("in05_partition_pruning",
    s"""SELECT event_id, etype, value,
       |  CAST(event_date AS VARCHAR) AS event_date
       |FROM read_parquet('$hiveFixtureDir/*/*.parquet',
       |                  hive_partitioning=true)
       |WHERE CAST(event_date AS VARCHAR) = '2024-01-02'
       |ORDER BY event_id""".stripMargin) { (s, _) =>
    s.read.parquet(hiveFixtureDir)
      .filter(col("event_date") === to_date(lit("2024-01-02")))
      .select(col("event_id"), col("etype"), col("value"),
        col("event_date").cast("string").as("event_date"))
      .orderBy("event_id")
  }

  /** Committed calendar-dim parquet (generated by [[graft.FixtureGen]]):
    * one row per hive-fixture date + a `phase` attribute for the
    * selective filter. */
  val dimDatesFixturePath = graft.Fixtures.path("dim_dates.parquet")

  /** Dynamic partition pruning (SURVEY.md §2.1 [EXT]) — the RUNTIME form
    * of in05: the fact's partition predicate does not exist in the query
    * text; it ARRIVES through the join, as the set of dates surviving the
    * dim's selective filter. Catalyst's PartitionPruning rule plants a
    * `dynamicpruning` subquery on the fact scan that reuses the dim's
    * broadcast, so the non-matching partition directories are skipped at
    * file-listing time exactly as if the predicate had been written by
    * hand. This is the 100 TB star-join staple — a year-partitioned fact
    * joined to a filtered calendar/dim touches 1/365th of the table with
    * NO manual predicate copying (the reference hand-copies its time
    * predicate to the Mongo side instead, `database_storage.py:31` /
    * `news_summarization_batch.py:77` — DPP is what makes that manual
    * step unnecessary). `PlanAuditSpec` pins both tiers: the
    * `dynamicpruning` partition filter in the plan AND the runtime
    * numPartitions metric at 1-of-3. The dim filter lives on a real
    * parquet scan (see [[graft.FixtureGen.writeDimDatesFixture]]) — an
    * in-memory dim would be constant-folded before the PartitionPruning
    * batch and silently degrade to a scan-all. The DuckDB oracle states
    * the same join+filter plainly; pruning must be semantics-invisible. */
  val in08 = Q("in08_dynamic_partition_pruning",
    s"""SELECT event_id, etype, value, phase,
       |  CAST(f.event_date AS VARCHAR) AS event_date
       |FROM read_parquet('$hiveFixtureDir/*/*.parquet',
       |                  hive_partitioning=true) f
       |JOIN read_parquet('$dimDatesFixturePath') dim
       |  ON CAST(f.event_date AS DATE) = dim.d
       |WHERE dim.phase = 'steady'
       |ORDER BY event_id""".stripMargin) { (s, _) =>
    val fact = s.read.parquet(hiveFixtureDir)
    val dim = s.read.parquet(dimDatesFixturePath)
      .filter(col("phase") === "steady")
      .select(col("d").as("event_date"), col("phase"))
    fact.join(broadcast(dim), Seq("event_date"))
      .select(col("event_id"), col("etype"), col("value"), col("phase"),
        col("event_date").cast("string").as("event_date"))
      .orderBy("event_id")
  }

  /** Committed fixture: one valid parquet + one garbage `.parquet`
    * (generated by [[graft.FixtureGen]]). */
  val corruptFixtureDir = graft.Fixtures.path("corrupt")

  /** Corrupt-file-tolerant scan (SURVEY.md §2.1 [EXT]) — at 100 TB a
    * table has millions of files and eventually one arrives truncated
    * or overwritten; the default read fails the whole job on the first
    * bad footer (correct for correctness-critical reads, and
    * `IngestSpec` pins that loud default), while
    * `ignoreCorruptFiles=true` turns the bad file into a skip and the
    * scan survives — in01/in03's tolerant-vs-quarantine trade-off at
    * FILE granularity instead of line granularity. The DuckDB oracle
    * reads the one valid file directly: both engines must agree the
    * good rows survive intact. The schema is explicit — inference picks
    * one footer (here the corrupt one, which the skip option then
    * blanks into UNABLE_TO_INFER_SCHEMA), and a 100 TB table declares
    * its schema rather than re-deriving it per job anyway. */
  val in06 = Q("in06_corrupt_tolerant",
    s"""SELECT id, name, score
       |FROM read_parquet('$corruptFixtureDir/good.parquet')
       |ORDER BY id""".stripMargin) { (s, _) =>
    val schema = StructType(Seq(
      StructField("id", org.apache.spark.sql.types.LongType),
      StructField("name", StringType),
      StructField("score", org.apache.spark.sql.types.LongType)))
    s.read.schema(schema).option("ignoreCorruptFiles", "true")
      .parquet(corruptFixtureDir)
      .select(col("id"), col("name"), col("score"))
      .orderBy("id")
  }

  /** The in-family order-free content digest: per row, the first 32
    * md5 bits of the `|`-joined key columns; summed in DECIMAL(38,0)
    * and reduced mod 2³² (the p20/r11-ADVICE overflow lesson applied
    * family-wide: a LONG accumulator wraps silently in Spark past
    * ~2e9 rows while DuckDB sums to HUGEINT and RAISES on the BIGINT
    * cast — the engines would disagree exactly at the scale the
    * digests exist to protect). Oracle twin: `CAST(sum(CAST(
    * concat('0x', substr(md5(...), 1, 8)) AS BIGINT)) % 4294967296
    * AS BIGINT)`. Shared by every in-family digest and in20; the
    * CompactionSpec recomputes go through it too, so op, oracle and
    * spec can never drift. */
  /** (path, length, MD5-of-bytes) — the immutability witness for
    * in20/in21's history `require`s. mtime is NOT part of it: its
    * granularity is often 1 s, so a same-size rewrite within the same
    * second would false-pass (r12 ADVICE); content bytes cannot. */
  private def fileWitness(p: String): (String, Long, String) = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val h = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
    (p, bytes.length.toLong, h)
  }

  private[graft] def md5ChecksumOf(
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    (sum(conv(substring(md5(concat(cols: _*)), 1, 8), 16, 10)
      .cast("decimal(38,0)")) % lit(4294967296L)).cast("long")

  /** Per-process scratch base for in09's fragmented/compacted tables. */
  private lazy val compactScratch: String =
    graft.GraftSession.scratchDir("compact")

  /** Small-file compaction as an OPERATIVE catalog query (r06 verdict
    * #5; `CompactionSpec` was documentation-plus-spec before): write a
    * deliberately fragmented table (64 files), compact it to a target
    * file size, and return an order-free content digest over the
    * COMPACTED files while the DuckDB oracle computes the same digest
    * over the SOURCE table — so a compaction that loses, duplicates, or
    * mangles any row hash-mismatches, and the query itself `require`s
    * that the file count actually shrank to the size-derived target.
    * The compact step is `coalesce`, not `repartition`: merging small
    * files needs NO shuffle (each output task concatenates input
    * splits), which is what makes nightly compaction affordable on a
    * 100 TB table — the pass is I/O-bound, not network-bound, and each
    * output file is written by one task at the target size. The digest
    * is a sum of 32-bit md5 prefixes (t17's md5 discipline): order-free
    * (compaction permutes row order by design), overflow-safe (2^32 ×
    * row count << 2^63), and sensitive to every column byte. */
  val in09 = Q("in09_compaction",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) ||
      |    '|' || CAST(l_suppkey AS VARCHAR) || '|' || l_returnflag),
      |    1, 8)) AS BIGINT)) % 4294967296 AS BIGINT) AS checksum
      |FROM lineitem""".stripMargin) { (s, d) =>
    val src = graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_returnflag"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val fragDir = s"$compactScratch/$run/fragmented"
    val compDir = s"$compactScratch/$run/compacted"
    src.repartition(64).write.mode("overwrite").parquet(fragDir)
    def parquetFiles(dir: String): Array[java.io.File] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val before = parquetFiles(fragDir)
    val targetBytes = 4L << 20 // 4 MiB target file size
    val bytes = before.map(_.length).sum
    val nAfter = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    s.read.parquet(fragDir).coalesce(nAfter)
      .write.mode("overwrite").parquet(compDir)
    val after = parquetFiles(compDir)
    require(after.length == nAfter,
      s"compaction wrote ${after.length} files, wanted $nAfter")
    require(after.length < before.length,
      s"compaction did not shrink the file count: ${before.length} -> ${after.length}")
    s.read.parquet(compDir).agg(
      count(lit(1)).cast("long").as("n_rows"),
      md5ChecksumOf(
        col("l_orderkey").cast("string"), lit("|"),
        col("l_partkey").cast("string"), lit("|"),
        col("l_suppkey").cast("string"), lit("|"),
        col("l_returnflag")).as("checksum"))
  }

  /** Compression-codec matrix (SURVEY.md §2.1 [EXT]) — a 100 TB estate
    * is never one codec: hot tables sit on snappy/zstd for scan speed,
    * archives on gzip/zstd-high for density, and every re-compression
    * pass must be provably content-invariant. This query round-trips the
    * same projection through all three built-in parquet codecs and
    * digests each round-trip with in09's order-free md5-prefix sum — the
    * DuckDB oracle states the digest once per codec name off the SOURCE
    * table, so any codec that loses, duplicates, or corrupts a row
    * hash-mismatches on its own output row. File sizes are deliberately
    * NOT emitted (they depend on compression-library versions — not an
    * oracle-stable quantity); the codec actually being applied is
    * `require`d loudly from the written files' names instead. */
  val in10 = Q("in10_codec_matrix",
    """SELECT codec, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) ||
      |    '|' || CAST(l_suppkey AS VARCHAR) || '|' || l_returnflag),
      |    1, 8)) AS BIGINT)) % 4294967296 AS BIGINT) AS checksum
      |FROM lineitem
      |CROSS JOIN (SELECT unnest(['gzip', 'snappy', 'zstd']) AS codec)
      |GROUP BY codec
      |ORDER BY codec""".stripMargin) { (s, d) =>
    // №27 measured NON-case (r16): spreading before the codec round-
    // trips regressed in10 2.90 → 3.36 s isolated (32 small files per
    // codec cost more in open/footer overhead than the parallel
    // compression saved at this SF)
    val src = graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_returnflag"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    // Spark's file-name codec tags: gzip writes `.gz.parquet`
    val codecTag = Map("gzip" -> "gz", "snappy" -> "snappy", "zstd" -> "zstd")
    val digests = Seq("gzip", "snappy", "zstd").map { codec =>
      val dir = s"$compactScratch/$run/$codec"
      src.write.mode("overwrite").option("compression", codec).parquet(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName)
      require(files.nonEmpty && files.forall(_.contains(s".${codecTag(codec)}.")),
        s"$codec round-trip wrote unexpected files: ${files.take(3).mkString(", ")}")
      s.read.parquet(dir).agg(
        count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_partkey").cast("string"), lit("|"),
          col("l_suppkey").cast("string"), lit("|"),
          col("l_returnflag")).as("checksum"))
        .select(lit(codec).as("codec"), col("n_rows"), col("checksum"))
    }
    digests.reduce(_ union _).orderBy("codec")
  }

  /** in11's simulated "as of last night" cut instant — inside the
    * events table's fixed 2024-01 generator window at every SF. */
  val In11Cut = "2024-01-20T00:00:00Z"

  /** Incremental high-watermark ingestion (SURVEY.md §2.1 [EXT]) — the
    * nightly-load pattern every 100 TB fact table lives by (and the
    * INGESTION sibling of q41's incremental aggregate maintenance): a
    * snapshot exists with a recorded watermark (max ingested event
    * time); the next load scans ONLY source rows strictly newer than
    * the watermark, appends them, and advances the watermark — history
    * is never re-read. The demo builds the "last night" state in-query
    * (snapshot = events before [[In11Cut]], watermark persisted through
    * a 1-row parquet metadata table, the ml04 frozen-state discipline),
    * then runs the incremental load against it.
    *
    * Two storage-exactness points: (a) the watermark is stored in the
    * SOURCE's physical dtype (max over the raw `ts` column, never a
    * converted copy) — a micros-truncated watermark over nanos storage
    * would re-admit the boundary row's sub-micro residue as a phantom
    * duplicate; (b) both the snapshot cut ([[graft.ops.EventStreams
    * .tsLiteral]]) and the delta predicate compare the stored column
    * against a literal of its own dtype, so each lands in the parquet
    * scan as a PUSHED filter (the spec audits it) — at 100 TB with
    * time-partitioned files, that pushdown IS the feature: the delta
    * scan opens one day of files, not the table. Strictness does the
    * dedup by arithmetic: rows AT the watermark are all in the
    * snapshot (they were ≤ the cut), rows ABOVE it are all new — union
    * equals the full source exactly, which is what the oracle states
    * (count + order-free content digest + advanced watermark off the
    * SOURCE table: a lost, duplicated, or mangled row mismatches). */
  val in11 = Q("in11_incremental_load",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(event_id AS VARCHAR) || '|' || event_type || '|' ||
      |    CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)) % 4294967296
      |    AS BIGINT) AS checksum,
      |  CAST(max(epoch_us(ts)) AS BIGINT) AS watermark_micros
      |FROM events""".stripMargin) { (s, d) =>
    import graft.ops.EventStreams
    val src = graft.model.Tables.events(s, d)
    val run = java.util.UUID.randomUUID().toString.take(8)
    val snapDir = s"$compactScratch/$run/snapshot"
    val wmDir = s"$compactScratch/$run/watermark"
    // "last night": snapshot everything before the cut + its watermark
    src.filter(col("ts") < EventStreams.tsLiteral(src, In11Cut))
      .write.mode("overwrite").parquet(snapDir)
    s.read.parquet(snapDir).agg(max(col("ts")).as("wm"))
      .write.mode("overwrite").parquet(wmDir)
    // the incremental load: metadata read (1 row), delta-only source
    // scan (pushed ts > watermark), append, advance
    val wm = s.read.parquet(wmDir).head.get(0)
    require(wm != null, "empty snapshot has no watermark")
    val delta = src.filter(col("ts") > lit(wm))
    delta.write.mode("append").parquet(snapDir)
    val merged = s.read.parquet(snapDir)
    merged.agg(
      count(lit(1)).cast("long").as("n_rows"),
      md5ChecksumOf(
        col("event_id").cast("string"), lit("|"),
        col("event_type"), lit("|"),
        col("user_id").cast("string")).as("checksum"),
      max(EventStreams.eventMicros(merged)).cast("long")
        .as("watermark_micros"))
  }

  /** Dynamic partition overwrite (SURVEY.md §2.2 [EXT]) — the
    * idempotent-rerun pattern that makes nightly jobs SAFE: a failed or
    * repeated load must replace ONLY the partitions it produced, never
    * truncate the table (static overwrite's default) and never duplicate
    * rows (blind append). The demo writes a day-partitioned table,
    * re-runs one day's load under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` (conf set and
    * restored — nothing leaks to the other catalog queries), and
    * `require`s the file-level proof in-query: every OTHER day's file
    * inventory is byte-for-byte untouched while the re-run day's files
    * were replaced. The oracle then states per-day counts + the
    * order-free content digest off the SOURCE — a truncated table, a
    * doubled day, or a mangled row all mismatch. At 100 TB this is the
    * difference between rewriting 1/365th and rewriting the table: the
    * overwrite's scope is exactly the days the job's output contains.
    * Event time goes through the dtype-adaptive accessor. */
  val in12 = Q("in12_dynamic_overwrite",
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(event_id AS VARCHAR) || '|' || event_type), 1, 8))
      |    AS BIGINT)) % 4294967296 AS BIGINT) AS checksum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.ops.EventStreams
    val ev = graft.model.Tables.events(s, d)
    val src = ev.select(col("event_id"), col("event_type"),
      to_date(EventStreams.eventTs(ev)).cast("string").as("day"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$compactScratch/$run/by_day"
    src.write.partitionBy("day").parquet(dir)
    def inventory(): Map[String, Set[(String, Long)]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
        .map { p =>
          p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified())).toSet
        }.toMap
    val before = inventory()
    val day0 = src.agg(min("day")).head.getString(0)
    val prior = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      src.filter(col("day") === day0)
        .write.mode("overwrite").partitionBy("day").parquet(dir)
    finally prior match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val after = inventory()
    require(after.keySet == before.keySet,
      s"partition set changed: ${before.keySet.size} -> ${after.keySet.size}")
    before.foreach { case (p, files) =>
      if (p == s"day=$day0")
        require(after(p) != files, s"re-run day $p was not rewritten")
      else require(after(p) == files, s"untouched day $p was modified")
    }
    s.read.parquet(dir)
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("event_id").cast("string"), lit("|"), col("event_type"))
          .as("checksum"))
      .orderBy("day")
  }

  // ---------------------------------------------------------------- in13
  /** Range-clustered layout + measured scan locality — q39's zone-map
    * story made OPERATIVE: the same projection is written twice, once
    * range-partitioned AND sorted on the filter key
    * (`repartitionByRange(8).sortWithinPartitions` — exactly what a
    * clustered nightly write does) and once hash-scattered on an
    * uncorrelated key; a one-month range scan then `require`s that the
    * matching rows live in STRICTLY fewer files under the clustered
    * layout (and that the query itself prunes: at 100 TB each parquet
    * footer's min/max zone map lets the reader skip the other files
    * entirely — file-level locality is the property that turns a
    * full-table scan into a touched-files scan).
    *
    * The oracle states the month's row count + order-free content digest
    * off the SOURCE table once per layout — identical rows regardless of
    * layout proves the re-layout is content-invariant (the in09/in10
    * digest discipline); the locality contract itself is a `require` +
    * spec measurement (file names are not an oracle-stable quantity).
    * The digest runs over the key columns so a row that changed month or
    * got lost in either rewrite mismatches. */
  val in13 = Q("in13_range_layout_scan",
    """SELECT layout, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)),
      |    1, 8)) AS BIGINT)) % 4294967296 AS BIGINT) AS checksum
      |FROM lineitem
      |CROSS JOIN (SELECT unnest(['hash_scattered', 'range_sorted']) AS layout)
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |GROUP BY layout
      |ORDER BY layout""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.TimestampNTZType
    val src = graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val sortedDir = s"$compactScratch/$run/range_sorted"
    val scatterDir = s"$compactScratch/$run/hash_scattered"
    src.repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(sortedDir)
    src.repartition(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(scatterDir)
    def monthScan(dir: String) =
      s.read.parquet(dir).filter(
        col("l_shipdate") >= lit("1996-03-01 00:00:00").cast(TimestampNTZType) &&
          col("l_shipdate") < lit("1996-04-01 00:00:00").cast(TimestampNTZType))
    def filesHit(dir: String): Long =
      monthScan(dir).select(input_file_name()).distinct().count()
    val (hitSorted, hitScattered) = (filesHit(sortedDir), filesHit(scatterDir))
    require(hitSorted < hitScattered,
      s"range layout shows no locality: $hitSorted vs $hitScattered files")
    def digested(dir: String, layout: String) =
      monthScan(dir).agg(
        count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_partkey").cast("string")).as("checksum"))
        .select(lit(layout).as("layout"), col("n_rows"), col("checksum"))
    digested(scatterDir, "hash_scattered")
      .union(digested(sortedDir, "range_sorted"))
      .orderBy("layout")
  }

  // ---------------------------------------------------------------- in14
  /** Storage-FORMAT round-trip matrix — in10's sibling one axis up: a
    * 100 TB estate mixes formats, not just codecs (columnar parquet/ORC
    * for analytics, JSON lines at the ingestion edge), and every format
    * hop must be provably content-invariant. The same projection
    * round-trips through parquet, ORC, and JSON-lines writers and is
    * digested per format with the in09 order-free md5-prefix sum
    * against the SOURCE-table oracle — a format that loses, duplicates,
    * or mangles a row (or silently retypes a column: the JSON read-back
    * supplies the writer's schema EXPLICITLY, because inference would
    * happily demote longs) mismatches on its own row. File extensions
    * are `require`d per format; sizes deliberately not emitted (the
    * in10 rule). At scale each leg is one map-only I/O pass —
    * format conversion never shuffles. */
  val in14 = Q("in14_format_matrix",
    """SELECT fmt, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) ||
      |    '|' || CAST(l_suppkey AS VARCHAR) || '|' || l_returnflag),
      |    1, 8)) AS BIGINT)) % 4294967296 AS BIGINT) AS checksum
      |FROM lineitem
      |CROSS JOIN (SELECT unnest(['json', 'orc', 'parquet']) AS fmt)
      |GROUP BY fmt
      |ORDER BY fmt""".stripMargin) { (s, d) =>
    val src = graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_returnflag"))
    val schema = src.schema
    val run = java.util.UUID.randomUUID().toString.take(8)
    def ext(fmt: String) = fmt match {
      case "json" => ".json"; case "orc" => ".orc"; case _ => ".parquet"
    }
    val digests = Seq("json", "orc", "parquet").map { fmt =>
      val dir = s"$compactScratch/$run/$fmt"
      src.write.format(fmt).mode("overwrite").save(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(!_.getName.startsWith("_")).map(_.getName)
        .filterNot(_.endsWith(".crc"))
      require(files.nonEmpty && files.forall(_.endsWith(ext(fmt))),
        s"$fmt round-trip wrote unexpected files: ${files.take(3).mkString(", ")}")
      s.read.format(fmt).schema(schema).load(dir).agg(
        count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_partkey").cast("string"), lit("|"),
          col("l_suppkey").cast("string"), lit("|"),
          col("l_returnflag")).as("checksum"))
        .select(lit(fmt).as("fmt"), col("n_rows"), col("checksum"))
    }
    digests.reduce(_ union _).orderBy("fmt")
  }

  // ---------------------------------------------------------------- in15
  /** Write-audit-publish — the ATOMIC-PUBLISH gate (the Iceberg/Netflix
    * WAP pattern; dbt's build-then-swap) that every 100 TB nightly
    * batch crosses: data lands in an isolated STAGING location, the
    * q55-class rule book runs against the STAGED BYTES (what readers
    * would see, not what the writer intended), and only a fully-clean
    * batch is atomically moved into the published location together
    * with a manifest (file list + row count + content checksum — the
    * commit record readers/reruns reconcile against). A batch that
    * fails a gating rule is REFUSED: published stays byte-identical,
    * the bad staging is retained for quarantine forensics (in03's
    * row-level quarantine, promoted to batch granularity).
    *
    * Both legs run here: a clean lineitem batch stages, audits green
    * (non-null keys, non-empty, referential integrity against orders),
    * and publishes; then a POISONED batch (orderkeys nulled for one
    * returnflag) stages, trips the audit, and is refused — `require`s
    * pin the manifest, the atomicity (one rename, no partial state),
    * the refusal, and the quarantine. The oracle states the published
    * content off the source table (the in12/in13 digest discipline):
    * publish must be content-invariant, and the poisoned batch must
    * leave no trace in it. Scale: the audit is one pass over staged
    * bytes (q55's fused shape), the publish is a metadata move — cost
    * is the audit scan, never a rewrite. */
  val in15 = Q("in15_write_audit_publish",
    """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(l_orderkey AS VARCHAR) || '|' ||
      |    CAST(l_linenumber AS VARCHAR)), 1, 8))
      |    AS BIGINT)) % 4294967296 AS BIGINT) AS checksum
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val run = java.util.UUID.randomUUID().toString.take(8)
    val base = s"$compactScratch/$run"
    val published = s"$base/published/batch"
    // r16: one action per audit — rule-book agg and referential-
    // integrity count cross-join into a single 1-row plan (previously
    // two driver actions = two passes over the staged bytes)
    def audit(stageDir: String): (Boolean, Long) = {
      val staged = s.read.parquet(stageDir)
      val gates = staged.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_orderkey").isNull, 1).otherwise(0)).as("null_keys"))
      val ri = staged.select(col("l_orderkey")).na.drop().distinct()
        .join(graft.model.Tables.orders(s, d)
          .select(col("o_orderkey")), col("o_orderkey") === col("l_orderkey"),
          "left_anti")
        .agg(count(lit(1)).as("ri"))
      val g = gates.crossJoin(ri).head()
      (g.getLong(0) > 0 && g.getLong(1) == 0 && g.getLong(2) == 0,
        g.getLong(0))
    }
    def stageAndPublish(df: org.apache.spark.sql.DataFrame,
        name: String): Boolean = {
      val stage = s"$base/staging/$name"
      df.write.parquet(stage)
      val (ok, n) = audit(stage)
      if (ok) {
        val files = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
        new java.io.File(published).getParentFile.mkdirs()
        // ONE atomic move: readers see nothing or everything
        java.nio.file.Files.move(java.nio.file.Paths.get(stage),
          java.nio.file.Paths.get(published),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$base/published/MANIFEST"),
          s"files=${files.mkString(",")}\nrows=$n\n")
      }
      ok
    }
    val src = graft.model.Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    require(stageAndPublish(src, "clean"), "clean batch must publish")
    val manifest = java.nio.file.Paths.get(s"$base/published/MANIFEST")
    require(java.nio.file.Files.exists(manifest), "manifest missing")
    val publishedFiles = new java.io.File(published).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        (f.getName, f.lastModified())).toSet
    // leg 2: a poisoned batch must be refused and quarantined
    val poisoned = src.withColumn("l_orderkey",
      when(col("l_returnflag") === "A", lit(null).cast("long"))
        .otherwise(col("l_orderkey")))
    val badStage = s"$base/staging/poisoned"
    poisoned.write.parquet(badStage)
    require(!audit(badStage)._1, "poisoned batch must fail the audit")
    require(new java.io.File(badStage).exists(),
      "refused staging must be retained for quarantine")
    val after = new java.io.File(published).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        (f.getName, f.lastModified())).toSet
    require(after == publishedFiles,
      "published bytes changed by a refused batch")
    s.read.parquet(published)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string")).as("checksum"))
      .orderBy("flag")
  }

  // ---------------------------------------------------------------- in16
  /** Manifest-driven scan planning — the metadata-PLANE pruning of the
    * table formats (Iceberg manifests, Delta stats), one level ABOVE
    * in13's parquet-footer zone maps: the engine consults a per-file
    * min/max MANIFEST and never even OPENS (or lists) the files whose
    * key range cannot match, instead of opening every footer and
    * skipping row groups. At 100 TB this is the difference between a
    * million-file LIST + footer reads and a manifest-table lookup that
    * is file-count-sized — the planning cost becomes O(files-touched),
    * not O(files-total).
    *
    * Mechanics: the in13 range-clustered write, then ONE metadata pass
    * builds the manifest (file → key min/max/rowcount; in a real table
    * format these stats are written at commit time, so the pass is
    * free), the manifest is collected driver-side (file-count-sized —
    * the metadata plane, never the data plane), the month predicate
    * prunes it to the overlapping files, and ONLY those paths are
    * handed to the reader, with the predicate still applied as the
    * residual filter (manifest overlap is necessary, not sufficient).
    * In-op `require`s pin that pruning genuinely dropped files; the
    * oracle digests the same month off the SOURCE table (the in09/in13
    * content-invariance discipline — file identities are not an
    * oracle-stable quantity, row content is). `IngestSpec` separately
    * proves soundness: the pruned-away files contain ZERO matching
    * rows. */
  val in16 = Q("in16_manifest_pruning",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)),
      |    1, 8)) AS BIGINT)) % 4294967296 AS BIGINT) AS checksum
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin) {
    (s, d) =>
    import org.apache.spark.sql.types.TimestampNTZType
    val src = graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"$compactScratch/$run/manifested"
    src.repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(dataDir)
    val (lo, hi) = (lit("1996-03-01 00:00:00").cast(TimestampNTZType),
      lit("1996-04-01 00:00:00").cast(TimestampNTZType))
    val manifest = manifestOf(s, dataDir, "l_shipdate")
    val live = manifest.filter { case (_, mn, mx) =>
      // overlap test on CLOSED file ranges: [mn, mx] ∩ [lo, hi) ≠ ∅ —
      // stats are yyyy-MM-dd HH:mm:ss strings, lexically order-faithful
      mx >= "1996-03-01 00:00:00" && mn < "1996-04-01 00:00:00"
    }.map(_._1)
    require(live.nonEmpty, "manifest pruned everything — predicate broken")
    require(live.length < manifest.length,
      s"manifest pruned nothing: ${live.length} of ${manifest.length} files")
    s.read.parquet(live: _*)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .agg(count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_partkey").cast("string")).as("checksum"))
  }

  /** One metadata pass: per data file, (path, key min, key max) — the
    * stats a table format records at commit time. Stats are canonical
    * `yyyy-MM-dd HH:mm:ss` strings (lexically order-faithful, and
    * indifferent to the NTZ-vs-instant row representation). Collected
    * driver-side; file-count-sized by construction. */
  private[graft] def manifestOf(s: SparkSession, dir: String, key: String)
      : Array[(String, String, String)] =
    s.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(date_format(min(key), "yyyy-MM-dd HH:mm:ss").as("mn"),
        date_format(max(key), "yyyy-MM-dd HH:mm:ss").as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  // ---------------------------------------------------------------- in17
  /** Z-order (Morton) clustered layout — in13's locality story in TWO
    * dimensions (the Delta `OPTIMIZE ZORDER BY` / Iceberg sort-order
    * pattern): a linear sort on one key gives file-level zone-map
    * locality on THAT key and none on any other; interleaving the bits
    * of two normalized keys and range-writing on the interleaved value
    * gives bounded locality on BOTH. Each key is min-max-normalized to
    * 10 bits (integer arithmetic, data-derived bounds — the one scalar
    * broadcast), the 20-bit Morton code is a pure bit expression
    * (Spark-side only: layout is physical, the oracle never sees it),
    * and both layouts are written with the in13 recipe
    * (`repartitionByRange(8).sortWithinPartitions`).
    *
    * Measured contract (in-op `require`s — file identities are not
    * oracle-stable): a narrow SUPPKEY band hits strictly fewer files
    * under z-order than under the partkey-linear layout (where it
    * necessarily touches EVERY file — suppkey is uniform within each
    * partkey range); a narrow PARTKEY band hits no more files under
    * linear than under z-order (the tradeoff that defines z-order:
    * bounded loss on the primary dimension buys pruning on the
    * secondary). The oracle digests both predicate bands per layout off
    * the SOURCE table — the in09/in13 content-invariance discipline:
    * re-layout must never change row content, and the Spark side reads
    * the digests back from the ACTUAL written files. Scale: the z-value
    * is one map-side expression, the write is the same single
    * range-shuffle as any clustered write — z-order costs nothing over
    * linear at write time and converts secondary-dimension full scans
    * into touched-files scans. */
  val in17 = Q("in17_zorder_layout",
    """WITH b AS (
      |  SELECT min(l_partkey) AS xmin, max(l_partkey) AS xmax,
      |         min(l_suppkey) AS ymin, max(l_suppkey) AS ymax
      |  FROM lineitem),
      |f AS (
      |  SELECT p.pred, r.l_orderkey, r.l_partkey, r.l_suppkey
      |  FROM lineitem r CROSS JOIN b
      |  CROSS JOIN (SELECT unnest(['partkey_band', 'suppkey_band']) AS pred) p
      |  WHERE (p.pred = 'partkey_band'
      |         AND r.l_partkey <= b.xmin + (b.xmax - b.xmin) // 8)
      |     OR (p.pred = 'suppkey_band'
      |         AND r.l_suppkey <= b.ymin + (b.ymax - b.ymin) // 4))
      |SELECT l.layout, f.pred, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(concat('0x', substr(md5(
      |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) ||
      |    '|' || CAST(l_suppkey AS VARCHAR)), 1, 8)) AS BIGINT))
      |    % 4294967296 AS BIGINT) AS checksum
      |FROM f
      |CROSS JOIN (SELECT unnest(['linear_partkey', 'zorder']) AS layout) l
      |GROUP BY l.layout, f.pred
      |ORDER BY l.layout, f.pred""".stripMargin) { (s, d) =>
    val src = graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val b = src.agg(min("l_partkey").as("xmin"), max("l_partkey").as("xmax"),
      min("l_suppkey").as("ymin"), max("l_suppkey").as("ymax"))
    val Array(bounds) = b.collect() // 4 scalars — the metadata plane
    val (xmin, xmax) = (bounds.getLong(0), bounds.getLong(1))
    val (ymin, ymax) = (bounds.getLong(2), bounds.getLong(3))
    // 10-bit min-max normalization + bit interleave, all integer ops
    val morton = (0 until 10).map(i =>
      s"(shiftright(xn, $i) & 1) * ${1L << (2 * i)} + " +
        s"(shiftright(yn, $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
    val zed = src
      .withColumn("xn",
        expr(s"((l_partkey - $xmin) * 1023) div ${math.max(1L, xmax - xmin)}"))
      .withColumn("yn",
        expr(s"((l_suppkey - $ymin) * 1023) div ${math.max(1L, ymax - ymin)}"))
      .withColumn("z", expr(morton))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val linDir = s"$compactScratch/$run/linear_partkey"
    val zDir = s"$compactScratch/$run/zorder"
    src.repartitionByRange(8, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(linDir)
    zed.repartitionByRange(8, col("z")).sortWithinPartitions("z")
      .select("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(zDir)
    val predOf = Map(
      "partkey_band" -> (col("l_partkey") <= xmin + (xmax - xmin) / 8),
      "suppkey_band" -> (col("l_suppkey") <= ymin + (ymax - ymin) / 4))
    def filesHit(dir: String, pred: String): Long =
      s.read.parquet(dir).filter(predOf(pred))
        .select(input_file_name()).distinct().count()
    val zSupp = filesHit(zDir, "suppkey_band")
    val linSupp = filesHit(linDir, "suppkey_band")
    require(zSupp < linSupp,
      s"z-order shows no secondary-dim locality: $zSupp vs $linSupp files")
    val zPart = filesHit(zDir, "partkey_band")
    val linPart = filesHit(linDir, "partkey_band")
    require(linPart <= zPart,
      s"linear lost its own dimension: $linPart vs $zPart files")
    def digested(dir: String, layout: String, pred: String) =
      s.read.parquet(dir).filter(predOf(pred))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          md5ChecksumOf(
            col("l_orderkey").cast("string"), lit("|"),
            col("l_partkey").cast("string"), lit("|"),
            col("l_suppkey").cast("string")).as("checksum"))
        .select(lit(layout).as("layout"), lit(pred).as("pred"),
          col("n_rows"), col("checksum"))
    Seq(("linear_partkey", linDir), ("zorder", zDir))
      .flatMap { case (layout, dir) =>
        Seq(digested(dir, layout, "partkey_band"),
          digested(dir, layout, "suppkey_band"))
      }.reduce(_ union _).orderBy("layout", "pred")
  }

  // ---------------------------------------------------------------- in18
  /** Per-file Bloom index skipping — the POINT-predicate complement of
    * in16's min/max manifests (and the file-level form of Parquet's
    * column bloom filters / Iceberg's bloom stats): a min/max manifest
    * prunes NOTHING for a point lookup on a column the layout was not
    * sorted by (every shipdate-clustered file spans the whole orderkey
    * range — the manifest overlaps everywhere), but a per-file Bloom
    * over that column prunes to the files that actually hold the key,
    * with no false negatives by construction. The blooms reuse t14's
    * distributed build (explode K positions → partial-combined
    * `bit_or` per 64-bit word → collect O(m/64) words per file — the
    * metadata plane, sized by files × bloom words, never rows; in a
    * real table format these bits are written at commit time).
    *
    * Five data-derived probes span the regimes: kmin/kmid/kmax
    * (present keys — must land in few files and digest correctly) and
    * two absent keys past kmax (must prune to zero files modulo the
    * designed ~0.1% FPP). In-op `require`s pin that every probe
    * touches strictly fewer files than the layout holds; the oracle
    * states each probe's row count + order-free content digest off the
    * SOURCE table (the in13/in16 discipline — bloom bits and file
    * identities are physical, row content is the contract), with
    * absent probes pinning the (0, 0) row.
    *
    * Scale shape (r12 verdict task 2): the bloom words are PERSISTED
    * as a manifest TABLE `(f, w, bits)` sorted by `w` — the in16
    * pattern — never collected to the driver (at 10⁵–10⁶ files the
    * word arrays are tens of GB; the old driver-side map was the one
    * remaining estate-scale hazard). The consult is ONE join job:
    * the probes' K positions (probes × K rows) broadcast against the
    * manifest with the touched words pushed down as `w IN (...)` —
    * min/max row-group pruning makes the scan O(touched words), and
    * at estate scale the manifest buckets by `pmod(w, nb)` for
    * partition pruning (s18 precedent). A probe hits a file iff ALL
    * its distinct (w, mask) tests match — the same conjunction
    * `bloomHit` evaluates, just as a join-side count. The data read
    * is also ONE job: the union of hit files scanned once with the
    * probe keys pushed as an `IN` filter, rows routed to probes by a
    * broadcast key join (no false negatives ⇒ reading the union is
    * output-identical to per-probe scans). Job count is O(1) in file
    * count — `IngestSpec`'s job-count test pins it by doubling the
    * layout width of [[bloomFileSkipping]] and asserting no growth. */
  val in18 = Q("in18_bloom_file_skipping",
    """WITH kb AS (
      |  SELECT min(l_orderkey) AS kmin, max(l_orderkey) AS kmax
      |  FROM lineitem),
      |pk AS (
      |  SELECT 'k1_min' AS probe, kmin AS k FROM kb
      |  UNION ALL SELECT 'k2_mid',
      |    (SELECT max(l_orderkey) FROM lineitem
      |     WHERE l_orderkey <= (SELECT (kmin + kmax) // 2 FROM kb)) FROM kb
      |  UNION ALL SELECT 'k3_max', kmax FROM kb
      |  UNION ALL SELECT 'k4_absent', kmax + 1 FROM kb
      |  UNION ALL SELECT 'k5_absent', kmax + 17 FROM kb)
      |SELECT pk.probe, CAST(count(l.l_orderkey) AS BIGINT) AS n_rows,
      |  CAST(coalesce(sum(
      |    CASE WHEN l.l_orderkey IS NULL THEN NULL
      |    ELSE CAST(concat('0x', substr(md5(
      |      CAST(l.l_orderkey AS VARCHAR) || '|' ||
      |      CAST(l.l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) END)
      |    % 4294967296, 0) AS BIGINT) AS checksum
      |FROM pk
      |LEFT JOIN lineitem l ON l.l_orderkey = pk.k
      |GROUP BY pk.probe
      |ORDER BY pk.probe""".stripMargin)(bloomFileSkipping(_, _, 8))

  /** [[in18]]'s body over a lineitem copy laid out as `layoutFiles`
    * shipdate-ranged files. */
  private[graft] def bloomFileSkipping(s: SparkSession, d: String,
      layoutFiles: Int): DataFrame = {
    val src = graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"$compactScratch/$run/bloom_indexed"
    val manifestDir = s"$compactScratch/$run/bloom_manifest"
    src.repartitionByRange(layoutFiles, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(dataDir)
    val data = s.read.parquet(dataDir)
    // m sized from the largest file at ~16 bits/key (one metadata job)
    val perFile = data.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nFiles = perFile.length
    require(nFiles > 1, "layout produced a single file")
    val mBits = math.max(1L << 13,
      java.lang.Long.highestOneBit(
        math.max(1L, 2 * 16L * perFile.map(_._2).max - 1)))
    // ALL files' blooms in ONE distributed pass, PERSISTED as a
    // manifest table (f, w, bits) sorted by w — never on the driver.
    // No distinct() before the explode: bit_or is idempotent, and the
    // map-side partial bit_or combine collapses duplicates cheaper
    // than a full (f, key) shuffle would.
    data
      .select(input_file_name().as("f"),
        col("l_orderkey").cast("string").as("s"))
      .select(col("f"), explode(array(
        graft.ops.TextAnalysis.bloomPositionsOf(col("s"), mBits): _*))
        .as("p"))
      .select(col("f"), shiftright(col("p"), 6).as("w"),
        call_function("shiftleft", lit(1L),
          col("p").bitwiseAND(lit(63L)).cast("int")).as("mask"))
      .groupBy("f", "w").agg(expr("bit_or(mask)").as("bits"))
      .repartitionByRange(4, col("w")).sortWithinPartitions("w")
      .write.mode("overwrite").parquet(manifestDir)
    // data-derived probe keys (scalar metadata pass)
    val Array(kb) = src.agg(min("l_orderkey"), max("l_orderkey")).collect()
    val (kmin, kmax) = (kb.getLong(0), kb.getLong(1))
    val kmid = src.filter(col("l_orderkey") <= (kmin + kmax) / 2)
      .agg(max("l_orderkey")).collect()(0).getLong(0)
    val probes = Seq("k1_min" -> kmin, "k2_mid" -> kmid, "k3_max" -> kmax,
      "k4_absent" -> (kmax + 1), "k5_absent" -> (kmax + 17))
    // the probes' distinct (w, mask) tests — probes × K rows derived
    // from the same bloomPositions the build used (one micro-job over
    // a local 5-row relation; O(1) in file count)
    import s.implicits._
    val probeTests: Seq[(String, Long, Long)] =
      probes.map { case (p, k) => (p, k.toString) }.toDF("probe", "s")
        .select(col("probe"), explode(array(
          graft.ops.TextAnalysis.bloomPositionsOf(col("s"), mBits): _*))
          .as("p"))
        .select(col("probe"), shiftright(col("p"), 6).as("w"),
          call_function("shiftleft", lit(1L),
            col("p").bitwiseAND(lit(63L)).cast("int")).as("mask"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val needByProbe = probeTests.groupBy(_._1).map { case (p, ts) =>
      (p, ts.length.toLong)
    }
    val testsDf = probeTests.toDF("probe", "w", "mask")
    val needDf = needByProbe.toSeq.toDF("probe", "need")
    val touchedWords = probeTests.map(_._2).distinct
    // consult: ONE join job — manifest scan pruned to the touched
    // words (pushed IN filter + w-sorted row groups), broadcast the
    // probes' tests, a probe hits a file iff every test matches
    val hitPairs = s.read.parquet(manifestDir)
      .filter(col("w").isin(touchedWords: _*))
      .join(broadcast(testsDf), "w")
      .filter(col("bits").bitwiseAND(col("mask")) =!= lit(0L))
      .groupBy(col("probe"), col("f"))
      .agg(count_distinct(col("w"), col("mask")).as("matched"))
      .join(broadcast(needDf), "probe")
      .filter(col("matched") === col("need"))
      .select("probe", "f")
      .collect()                       // O(probes × files-hit) rows
      .map(r => (r.getString(0), r.getString(1)))
    val hitsByProbe: Map[String, Seq[String]] =
      hitPairs.groupBy(_._1).map { case (p, fs) =>
        (p, fs.map(_._2).toSeq.sorted)
      }
    probes.foreach { case (p, _) =>
      val nHit = hitsByProbe.getOrElse(p, Nil).length
      require(nHit < nFiles, s"bloom pruned nothing for $p: $nHit/$nFiles")
    }
    // data read: ONE job over the union of hit files, probe keys
    // pushed as an IN filter, rows routed to probes by a broadcast
    // key join (no false negatives ⇒ identical to per-probe scans)
    val hitFiles = hitsByProbe.values.flatten.toSeq.distinct.sorted
    val keyDf = probes.map { case (p, k) => (p, k) }.toDF("probe", "k")
    val present =
      if (hitFiles.isEmpty) Seq.empty[(String, Long, Long)].toDF(
        "probe", "n_rows", "checksum")
      else s.read.parquet(hitFiles: _*)
        .filter(col("l_orderkey").isin(probes.map(_._2): _*))
        .join(broadcast(keyDf), col("l_orderkey") === col("k"))
        .groupBy("probe")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          coalesce(md5ChecksumOf(
            col("l_orderkey").cast("string"), lit("|"),
            col("l_partkey").cast("string")), lit(0L)).as("checksum"))
    keyDf.select("probe")
      .join(present, Seq("probe"), "left")
      .select(col("probe"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("checksum"), lit(0L)).as("checksum"))
      .orderBy("probe")
  }

  // ---------------------------------------------------------------- in19
  /** Target bytes per output file (the 128 MiB every table-format
    * maintenance job aims at). */
  private val TargetFileBytes = 134217728L

  /** File-sizing advisor — the STORAGE member of the measured-advisor
    * family (q57 → skew salt, st23 → watermark, st24 → session gap;
    * this → the write-side partition count): the small-files problem
    * is the most common self-inflicted wound of a 100 TB estate (a
    * nightly job writing 32-task output of a 100-row dimension makes
    * 32 files of 300 bytes; a year later LIST dominates every scan),
    * and the fix is always the same arithmetic — estimate bytes,
    * divide by the 128 MiB target, `coalesce`/`repartition` to that
    * BEFORE the write. Per table: rows, estimated logical row width
    * (fixed column widths + measured mean string lengths — integer
    * division, no sampling, ONE map-side-combined agg per table),
    * estimated total MiB, the recommended file count
    * (ceil(total/target), floored at 1), and rows per file. The
    * estimate is deliberately LOGICAL (uncompressed): compression
    * ratios are data- and codec-dependent (in10's matrix measures
    * them), so the advisor reports the conservative figure a job can
    * divide by its measured ratio. */
  val in19 = Q("in19_file_sizing_advisor", {
    def tbl(name: String, fixed: Long, strCols: Seq[String]) = {
      val strEst = strCols
        .map(c => s"(4 + sum(length($c)) // count(*))").mkString(" + ")
      s"""SELECT '$name' AS table_name,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST($fixed + $strEst AS BIGINT) AS est_row_bytes,
         |  CAST(count(*) * ($fixed + $strEst) // 1048576 AS BIGINT)
         |    AS est_total_mb,
         |  CAST(greatest(1, (count(*) * ($fixed + $strEst)
         |       + ${TargetFileBytes - 1}) // $TargetFileBytes) AS BIGINT)
         |    AS recommended_files,
         |  CAST(count(*) // greatest(1, (count(*) * ($fixed + $strEst)
         |       + ${TargetFileBytes - 1}) // $TargetFileBytes) AS BIGINT)
         |    AS rows_per_file
         |FROM $name""".stripMargin
    }
    Seq(
      tbl("documents", 16, Seq("text", "lang", "source")),
      tbl("events", 32, Seq("event_type", "props")),
      tbl("lineitem", 68, Seq("l_returnflag", "l_linestatus")))
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }) { (s, d) =>
    // one agg per table, assembled with selectExpr so the estimator
    // text matches the oracle fragment exactly
    def row(df: DataFrame, name: String, fixed: Long,
        strCols: Seq[String]): DataFrame = {
      val strEst = strCols
        .map(c => s"(4 + sum(length($c)) div count(1))").mkString(" + ")
      val rowB = s"$fixed + $strEst"
      val files = s"greatest(1, (count(1) * ($rowB) + " +
        s"${TargetFileBytes - 1}) div $TargetFileBytes)"
      df.selectExpr((strCols :+ "1"): _*)
        .selectExpr(s"'$name' AS table_name", "*")
        .groupBy("table_name")
        .agg(expr("CAST(count(1) AS BIGINT)").as("n_rows"),
          expr(s"CAST($rowB AS BIGINT)").as("est_row_bytes"),
          expr(s"CAST(count(1) * ($rowB) div 1048576 AS BIGINT)")
            .as("est_total_mb"),
          expr(s"CAST($files AS BIGINT)").as("recommended_files"),
          expr(s"CAST(count(1) div ($files) AS BIGINT)")
            .as("rows_per_file"))
    }
    row(graft.model.Tables.documents(s, d), "documents", 16,
        Seq("text", "lang", "source"))
      .unionAll(row(graft.model.Tables.events(s, d), "events", 32,
        Seq("event_type", "props")))
      .unionAll(row(graft.model.Tables.lineitem(s, d), "lineitem", 68,
        Seq("l_returnflag", "l_linestatus")))
      .orderBy("table_name")
  }

  // ---------------------------------------------------------------- in20
  /** Snapshot versioning + time-travel read — in15's commit manifests
    * chained into a version LEDGER (the Iceberg/Delta snapshot model):
    * every commit stages, audits, atomically lands its data files, and
    * then writes ledger entry `v{N}` = the FULL live-file list at that
    * version (previous version's files + the new commit's — data files
    * are immutable once landed, commits only add). The COMMIT POINT is
    * the atomic rename of the ledger entry itself, exactly Iceberg's:
    * a reader either sees `v{N}` complete or doesn't see it at all.
    * `AS OF v` is then pure metadata: read exactly the files `v`'s
    * entry lists — no data is copied to keep history, and old versions
    * stay byte-stable because nothing ever rewrites a landed file
    * (`require`d in-op: v1's file stats are identical after v3
    * commits; `IngestSpec` re-proves it with content hashes and runs
    * p13's diff discipline between versions).
    *
    * Three commits partition lineitem by return flag (A, then N, then
    * R), and the result reads ALL THREE versions `AS OF` after the
    * last commit — count + order-free content digest per version, the
    * in12/in13 discipline: the oracle states each version's content
    * off the SOURCE table (rank(flag) ≤ version), so time travel must
    * be content-exact, not just row-count-plausible. The digest
    * accumulates in DECIMAL(38,0)/HUGEINT reduced mod 2³² (the p20
    * overflow lesson — engines must agree at any version size).
    *
    * Scale: a commit costs its own batch's write + one audit pass;
    * the ledger entry is file-count-sized metadata; an `AS OF v` read
    * costs exactly v's data. History is O(Σ batches) bytes total —
    * never O(versions × table). The diff between adjacent versions
    * (p13's question) is the new commit's files alone — metadata
    * answers it without scanning either version. */
  val in20 = Q("in20_time_travel",
    """WITH fd AS (
      |  SELECT CASE l_returnflag WHEN 'A' THEN 1 WHEN 'N' THEN 2
      |      ELSE 3 END AS rk,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(concat('0x', substr(md5(
      |      CAST(l_orderkey AS VARCHAR) || '|' ||
      |      CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT))
      |      AS HUGEINT) AS c
      |  FROM lineitem GROUP BY 1),
      |vs AS (SELECT 1 AS version UNION ALL SELECT 2 UNION ALL SELECT 3)
      |SELECT version, CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(sum(c) % 4294967296 AS BIGINT) AS checksum
      |FROM vs JOIN fd ON fd.rk <= vs.version
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val run = java.util.UUID.randomUUID().toString.take(8)
    val t = new VersionedTable(s, s"$compactScratch/$run/versioned")
    val src = graft.model.Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    // in15's audit-before-publish gate, batch-granular
    def audit(staged: org.apache.spark.sql.DataFrame): Boolean = {
      val gates = staged.agg(count(lit(1)),
        sum(when(col("l_orderkey").isNull, 1).otherwise(0))).head()
      gates.getLong(0) > 0 && gates.getLong(1) == 0
    }
    t.commit(src.filter(col("l_returnflag") === "A"), audit)
    val v1Stats = t.files(1).map(fileWitness)
    t.commit(src.filter(col("l_returnflag") === "N"), audit)
    t.commit(src.filter(col("l_returnflag") === "R"), audit)
    // history immutability: v1's bytes untouched by later commits
    require(v1Stats.forall { case (p, len, h) =>
      fileWitness(p) == ((p, len, h))
    }, "in20: a later commit rewrote version 1's data files")
    // p13's diff question answered from the metadata plane alone: the
    // v2->v3 delta is exactly commit 3's files (then verified on data)
    val deltaFiles = t.files(3).diff(t.files(2))
    require(deltaFiles.nonEmpty && t.files(2).diff(t.files(3)).isEmpty,
      "in20: append-only ledger grew backwards")
    require(s.read.parquet(deltaFiles: _*).count() ==
      t.readAsOf(3).count() - t.readAsOf(2).count(),
      "in20: metadata diff disagrees with the data diff")
    def digest(v: Int): org.apache.spark.sql.DataFrame =
      t.readAsOf(v).agg(count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string")).as("checksum"))
        .select(lit(v).as("version"), col("n_rows"), col("checksum"))
    digest(1).union(digest(2)).union(digest(3)).orderBy("version")
  }

  // ---------------------------------------------------------------- in21
  /** Compaction as a REWRITE commit + retention vacuum — the lifecycle
    * half of the in20 ledger (Delta `OPTIMIZE` + `VACUUM`; Iceberg
    * rewrite-data-files + expire-snapshots): without it, an append-only
    * versioned table keeps every small file and every snapshot forever,
    * which at 100 TB is both the small-files problem (in09/in19) and an
    * unbounded storage bill. Flow: two append commits (flags A then N),
    * then in09's compaction re-enters the ledger as commit v3 — the
    * SAME bytes rewritten into fewer files, with the ledger entry
    * listing ONLY the new files (`replace = true`) so history v1/v2
    * still time-travels; then `vacuum(retainFrom = 3)` expires v1/v2
    * and deletes exactly the files no retained version references.
    *
    * The output pins content INVARIANCE through both operations: the
    * head digest before compaction (read AS OF v2), after compaction
    * (AS OF v3), and after vacuum (AS OF v3 again, now reading only
    * surviving bytes) — three identical rows the oracle states off the
    * SOURCE table once. In-op `require`s pin the physical contracts
    * the oracle cannot see: compaction shrank the file inventory,
    * vacuum deleted exactly v2's file set (all pre-rewrite bytes, and
    * nothing else), head files byte-identical across the vacuum, and
    * expired versions refuse loudly.
    *
    * Scale: the rewrite costs one read+write of live bytes (in09's
    * bill, now crash-safe behind the ledger's atomic commit point);
    * vacuum is pure metadata arithmetic (set difference over file
    * lists) plus deletes — no data is ever scanned to decide what to
    * drop. */
  val in21 = Q("in21_compaction_vacuum",
    """WITH d AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CAST(concat('0x', substr(md5(
      |      CAST(l_orderkey AS VARCHAR) || '|' ||
      |      CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT))
      |      % 4294967296 AS BIGINT) AS checksum
      |  FROM lineitem WHERE l_returnflag IN ('A', 'N'))
      |SELECT s.stage, d.n_rows, d.checksum
      |FROM d CROSS JOIN (
      |  SELECT unnest(['1_before_compaction', '2_after_compaction',
      |                 '3_after_vacuum']) AS stage) s
      |ORDER BY s.stage""".stripMargin) { (s, d) =>
    val run = java.util.UUID.randomUUID().toString.take(8)
    val t = new VersionedTable(s, s"$compactScratch/$run/lifecycle")
    val src = graft.model.Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    // appends land 4 files each (the in09 fragmented-nightly shape) so
    // the rewrite has a real inventory to shrink
    t.commit(src.filter(col("l_returnflag") === "A").repartition(4))
    t.commit(src.filter(col("l_returnflag") === "N").repartition(4))
    def digest(stage: String): org.apache.spark.sql.DataFrame =
      t.readAsOf(t.head).agg(count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string")).as("checksum"))
        .select(lit(stage).as("stage"), col("n_rows"), col("checksum"))
    val before = digest("1_before_compaction").localCheckpoint()
    // in09's compaction, ledger-entered: same content, fewer files,
    // a REWRITE commit so v1/v2 still time-travel until retention
    val v2Files = t.files(2)
    t.commit(t.readAsOf(2).coalesce(2), replace = true)
    require(t.files(3).length < v2Files.length,
      s"in21: compaction did not shrink the inventory: " +
        s"${v2Files.length} -> ${t.files(3).length}")
    val after = digest("2_after_compaction").localCheckpoint()
    val headStats = t.files(3).map(fileWitness)
    val (expired, deleted) = t.vacuum(retainFrom = 3)
    // retention deleted exactly the pre-rewrite bytes, nothing else
    require(expired == Seq(1, 2) && deleted.toSet == v2Files.toSet,
      s"in21: vacuum scope wrong: expired $expired, " +
        s"deleted ${deleted.length} of ${v2Files.length}")
    require(headStats.forall { case (p, len, h) =>
      fileWitness(p) == ((p, len, h))
    }, "in21: vacuum touched retained bytes")
    require(scala.util.Try(t.files(1)).isFailure &&
      scala.util.Try(t.files(2)).isFailure,
      "in21: expired versions must refuse, not read deleted bytes")
    val afterVacuum = digest("3_after_vacuum")
    before.union(after).union(afterVacuum).orderBy("stage")
  }

  // ---------------------------------------------------------------- in22
  /** Schema-EVOLUTION reconciliation — the drift problem a 100 TB
    * estate accumulates by existing: writers upgrade over years, so one
    * logical table's files span generations (columns added, types
    * widened), and `mergeSchema` cannot save a reader when a generation
    * WIDENED a type (parquet int32 vs double refuse to merge — the
    * in-op `require` PINS that failure, because this op exists exactly
    * where the built-in stops). The production answer is
    * registry-driven reconciliation: each generation is read under its
    * OWN schema and lifted to the current contract with explicit casts
    * and declared defaults (`unionByName` — never positional union),
    * and the lift is PROVEN content-preserving by per-generation +
    * unified order-free digests stated by the oracle off the SOURCE
    * table. Two generations round-trip here: gen1 (3 columns, qty
    * narrowed to int by an old writer) and gen2 (adds `l_returnflag`,
    * widens qty to double); gen1's missing flag lifts to the declared
    * 'NA' default, qty lifts to exact integer cents (floor before the
    * cast in BOTH engines — Spark truncates double→int, DuckDB rounds,
    * so a bare cast would silently diverge).
    *
    * Scale shape: per-generation reads are map-only passes under
    * pushed-down schemas; the union inserts no shuffle; the digest is
    * one map-side-combined agg. The registry (schema-per-generation)
    * is metadata-plane, the in16 manifest discipline. */
  val in22 = Q("in22_schema_evolution", {
    // single-line on purpose: this fragment is interpolated into a
    // stripMargin block, so an embedded newline + leading '||' would be
    // eaten as a margin
    def digestSql(flag: String) =
      "CAST(sum(CAST(concat('0x', substr(md5(" +
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)" +
        s" || '|' || CAST(qty_cents AS VARCHAR) || '|' || $flag)," +
        " 1, 8)) AS BIGINT)) % 4294967296 AS BIGINT)"
    s"""WITH src AS (
       |  SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
       |         l_returnflag
       |  FROM lineitem),
       |g1 AS (
       |  SELECT l_orderkey, l_partkey,
       |    CAST(floor(l_quantity) AS BIGINT) * 100 AS qty_cents,
       |    'NA' AS flag
       |  FROM src WHERE l_linenumber <= 3),
       |g2 AS (
       |  SELECT l_orderkey, l_partkey,
       |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_cents,
       |    l_returnflag AS flag
       |  FROM src WHERE l_linenumber > 3),
       |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
       |SELECT 'gen1' AS gen, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(3 AS INTEGER) AS n_cols, ${digestSql("flag")} AS checksum
       |FROM g1
       |UNION ALL
       |SELECT 'gen2', CAST(count(*) AS BIGINT), CAST(4 AS INTEGER),
       |  ${digestSql("flag")}
       |FROM g2
       |UNION ALL
       |SELECT 'unified', CAST(count(*) AS BIGINT), CAST(4 AS INTEGER),
       |  ${digestSql("flag")}
       |FROM u
       |ORDER BY gen""".stripMargin
  }) { (s, d) =>
    val src = graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val g1Dir = s"$compactScratch/$run/gen1"
    val g2Dir = s"$compactScratch/$run/gen2"
    // the old writer: narrow qty, no flag column
    src.filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_partkey"),
        floor(col("l_quantity")).cast("int").as("qty"))
      .write.mode("overwrite").parquet(g1Dir)
    // the new writer: widened qty, added column
    src.filter(col("l_linenumber") > 3)
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").as("qty"), col("l_returnflag"))
      .write.mode("overwrite").parquet(g2Dir)
    // the reason this op exists: the built-in merge REFUSES the widening
    val merged = scala.util.Try(
      s.read.option("mergeSchema", "true").parquet(g1Dir, g2Dir).schema)
    require(merged.isFailure,
      "in22: mergeSchema unexpectedly merged int and double qty — " +
        "the reconciliation tier is redundant on this engine version")
    val g1 = s.read.parquet(g1Dir)
    val g2 = s.read.parquet(g2Dir)
    val g1r = g1.select(col("l_orderkey"), col("l_partkey"),
      (col("qty").cast("long") * 100).as("qty_cents"),
      lit("NA").as("flag"))
    val g2r = g2.select(col("l_orderkey"), col("l_partkey"),
      floor(col("qty") * 100).cast("long").as("qty_cents"),
      col("l_returnflag").as("flag"))
    val uni = g1r.unionByName(g2r)
    def report(gen: String, df: org.apache.spark.sql.DataFrame,
        nCols: Int) =
      df.agg(
        count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_partkey").cast("string"), lit("|"),
          col("qty_cents").cast("string"), lit("|"),
          col("flag")).as("checksum"))
        .select(lit(gen).as("gen"), col("n_rows"),
          lit(nCols).cast("int").as("n_cols"), col("checksum"))
    report("gen1", g1r, g1.columns.length)
      .union(report("gen2", g2r, g2.columns.length))
      .union(report("unified", uni, uni.columns.length))
      .orderBy("gen")
  }

  // ---------------------------------------------------------------- in23
  /** Row-level deletes via DELETE FILES (merge-on-read) + scoped purge —
    * the erasure path a 100 TB training corpus cannot live without
    * (DSAR / right-to-be-forgotten, licensor opt-outs, takedowns):
    * rewriting the estate per delete request is ruinous, so the formats
    * all split the operation in two (Iceberg v2 equality deletes, Delta
    * deletion vectors):
    *
    *  1. ACCEPT is metadata-cheap: the revoked keys land as a small
    *     delete file next to the in20 ledger; NO data file is touched
    *     (witness-pinned in-op). Readers get merge-on-read semantics —
    *     one broadcast anti-join of the key list against the scan, the
    *     same plan shape at any corpus size because the delete set is
    *     request-sized, never corpus-sized.
    *  2. PURGE is a SCOPED rewrite commit: one pass over the base maps
    *     `input_file_name()` against the delete keys to find the files
    *     that actually CONTAIN deleted rows (here the revoked source is
    *     hash-clustered by the base layout, so most files are untouched),
    *     only those are rewritten, and the new ledger entry carries the
    *     untouched files forward (`VersionedTable.commit(carry = …)` —
    *     Iceberg's rewrite-data-files: new snapshot = previous −
    *     rewritten + new). `vacuum` then deletes exactly the pre-rewrite
    *     affected files, and the applied delete file is dropped — at
    *     which point the revoked bytes are physically GONE, which the op
    *     proves by scanning every surviving file for the revoked keys
    *     (zero hits, require'd) before it releases the digests.
    *
    * The scenario: source `src7` revokes its license. Output = the
    * in21 three-stage digest discipline: `1_base` (pre-delete), then
    * `2_merge_on_read` and `3_after_purge` — logically identical BY
    * CONSTRUCTION ONLY IF both the anti-join and the scoped rewrite are
    * correct, which is exactly what the oracle states off the source
    * table once. In-op `require`s pin the physical half the oracle
    * cannot see: accept touched no data bytes, the purge rewrote a
    * proper subset of files, carried files are byte-identical across
    * commit AND vacuum, vacuum deleted exactly the affected set, the
    * expired version refuses, and the delete file is gone.
    *
    * Scale: accept is O(request); merge-on-read adds one broadcast
    * anti-join per read; purge costs ONE base pass to scope plus a
    * rewrite of only the affected files (clustered layouts make that
    * the minority); vacuum is metadata arithmetic. The `affected` list
    * is file-inventory-sized metadata (the in16 manifest bound), never
    * row-scale. */
  val in23 = Q("in23_deletion_vectors", {
    def digestSql(where: String) =
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(CAST(concat('0x', substr(md5(
         |      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT))
         |      % 4294967296 AS BIGINT) AS checksum
         |  FROM documents $where""".stripMargin
    s"""WITH b AS (${digestSql("")}),
       |k AS (${digestSql("WHERE source <> 'src7'")})
       |SELECT '1_base' AS stage, n_rows, checksum FROM b
       |UNION ALL SELECT '2_merge_on_read', n_rows, checksum FROM k
       |UNION ALL SELECT '3_after_purge', n_rows, checksum FROM k
       |ORDER BY stage""".stripMargin
  }) { (s, d) =>
    val run = java.util.UUID.randomUUID().toString.take(8)
    val base = s"$compactScratch/$run/dv"
    val t = new VersionedTable(s, base)
    // clustered base layout: a source's rows concentrate in its hash
    // bucket's file(s), so a per-source revocation is file-scopable
    t.commit(graft.model.Tables.documents(s, d)
      .select("doc_id", "source", "lang", "n_chars")
      .repartition(8, col("source")))
    val v1Stats = t.files(1).map(fileWitness)
    def digest(df: org.apache.spark.sql.DataFrame, stage: String) =
      df.agg(count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(col("doc_id").cast("string")).as("checksum"))
        .select(lit(stage).as("stage"), col("n_rows"), col("checksum"))
    val baseDig = digest(t.readAsOf(1), "1_base").localCheckpoint()
    // 1. ACCEPT: the revocation lands as a delete FILE — request-sized
    //    keys, zero data files touched
    val dvPath = s"$base/deletes/dv1"
    t.readAsOf(1).filter(col("source") === "src7").select("doc_id")
      .write.parquet(dvPath)
    val dv = s.read.parquet(dvPath)
    // merge-on-read: every reader anti-joins the broadcast key list
    val morDig = digest(
      t.readAsOf(1).join(broadcast(dv), Seq("doc_id"), "left_anti"),
      "2_merge_on_read").localCheckpoint()
    require(v1Stats.forall { case w @ (p, _, _) => fileWitness(p) == w },
      "in23: accepting a delete file must not touch data bytes")
    // 2. PURGE: scope the rewrite to files that contain deleted rows
    val affected = t.readAsOf(1).withColumn("f", input_file_name())
      .join(broadcast(dv), Seq("doc_id"), "left_semi")
      .select("f").distinct().collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSeq
    val carried = t.files(1).filterNot(affected.contains)
    require(affected.nonEmpty && carried.nonEmpty,
      s"in23: purge scope degenerate: ${affected.length} affected, " +
        s"${carried.length} carried of ${t.files(1).length}")
    t.commit(
      s.read.parquet(affected: _*)
        .join(broadcast(dv), Seq("doc_id"), "left_anti"),
      replace = true, carry = carried)
    val carriedStats = carried.map(fileWitness)
    val (expired, deleted) = t.vacuum(retainFrom = 2)
    require(expired == Seq(1) && deleted.toSet == affected.toSet,
      s"in23: vacuum scope wrong: expired $expired, deleted " +
        s"${deleted.length} of ${affected.length} affected")
    require(carriedStats.forall { case w @ (p, _, _) => fileWitness(p) == w },
      "in23: purge/vacuum touched carried bytes")
    require(scala.util.Try(t.files(1)).isFailure,
      "in23: the pre-purge version must refuse, not read deleted bytes")
    // the erasure PROOF, on the bytes: no surviving file holds a
    // revoked key (checked before the delete file itself is dropped)
    val survivors = s.read.parquet(t.files(2): _*)
    require(survivors
      .join(broadcast(dv), Seq("doc_id"), "left_semi").isEmpty,
      "in23: a revoked key survives in the purged bytes")
    graft.GraftSession.deleteRecursively(new java.io.File(dvPath))
    require(!new java.io.File(dvPath).exists(),
      "in23: the applied delete file must not outlive the purge")
    baseDig.union(morDig).union(digest(t.readAsOf(2), "3_after_purge"))
      .orderBy("stage")
  }

  // ---------------------------------------------------------------- in24
  /** Partition-SPEC evolution — in22's layout sibling (Iceberg partition
    * evolution; the one table-format feature Hive-style tables
    * structurally cannot have): a 100 TB estate's partitioning outlives
    * its own wisdom — early data landed under a COARSE spec
    * (year-partitioned), later writers evolved to a finer one
    * (year/month) as volume grew, and rewriting history to the new spec
    * is exactly the bill partition evolution exists to avoid. The
    * format's answer: files keep the spec they were WRITTEN under, a
    * spec registry maps file ranges to specs, and the planner prunes
    * each generation BY ITS OWN SPEC — a time-range query prunes yearly
    * dirs on gen1 and monthly dirs on gen2, then unions the surviving
    * scans.
    *
    * The scenario: orders < 1998 under `y=` (yearly), orders ≥ 1998
    * under `y=/m=` (monthly); a query window [1997-06, 1998-07) spans
    * the spec boundary. In-op `require`s pin the physical claim the
    * oracle cannot see: BOTH pruned scans open strictly fewer files
    * than their generation holds (directory-level partition pruning
    * actually fired, per spec), and the spec boundary leaks no rows
    * (the generations' windows are disjoint by construction). The
    * oracle states each generation's window content and the unified
    * result off the source table.
    *
    * Scale: each generation scan is partition-pruned at PLANNING time
    * (file listing of the matching dirs only — never a data pass over
    * the estate); the union adds no shuffle; the registry is
    * metadata-plane (in16/in22 discipline). The digests are one
    * map-side-combined agg per slice. */
  val in24 = Q("in24_partition_evolution", {
    def slice(lo: String, hi: String) =
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(CAST(concat('0x', substr(md5(
         |      CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT))
         |      % 4294967296 AS BIGINT) AS checksum
         |  FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$lo'
         |    AND o_orderdate < TIMESTAMP '$hi'""".stripMargin
    s"""WITH w1 AS (${slice("1997-06-01 00:00:00", "1998-01-01 00:00:00")}),
       |w2 AS (${slice("1998-01-01 00:00:00", "1998-07-01 00:00:00")}),
       |u AS (${slice("1997-06-01 00:00:00", "1998-07-01 00:00:00")})
       |SELECT 'gen1_yearly' AS gen, n_rows, checksum FROM w1
       |UNION ALL SELECT 'gen2_monthly', n_rows, checksum FROM w2
       |UNION ALL SELECT 'unified', n_rows, checksum FROM u
       |ORDER BY gen""".stripMargin
  }) { (s, d) =>
    def ts(x: String) = lit(x).cast(
      org.apache.spark.sql.types.TimestampNTZType)
    val run = java.util.UUID.randomUUID().toString.take(8)
    val g1Dir = s"$compactScratch/$run/spec_yearly"
    val g2Dir = s"$compactScratch/$run/spec_monthly"
    val src = graft.model.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"))
    val boundary = ts("1998-01-01 00:00:00")
    // the OLD writer's spec: yearly directories
    src.filter(col("o_orderdate") < boundary)
      .withColumn("y", year(col("o_orderdate")))
      .write.partitionBy("y").parquet(g1Dir)
    // the EVOLVED spec: year/month directories — history not rewritten
    src.filter(col("o_orderdate") >= boundary)
      .withColumn("y", year(col("o_orderdate")))
      .withColumn("m", month(col("o_orderdate")))
      .write.partitionBy("y", "m").parquet(g2Dir)
    // each generation prunes BY ITS OWN SPEC for the same query window
    val g1All = s.read.parquet(g1Dir)
    val g2All = s.read.parquet(g2Dir)
    val g1W = g1All.filter(col("y") === 1997 &&
      col("o_orderdate") >= ts("1997-06-01 00:00:00"))
    val g2W = g2All.filter(col("y") === 1998 && col("m") <= 6)
    // the physical claim: directory-level pruning fired under both
    // specs — read off the planned scan's selected partitions (listing-
    // time pruning: non-matching dirs are never opened; inputFiles
    // would report the unpruned relation)
    def partsScanned(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          require(f.partitionFilters.nonEmpty,
            "in24: predicate did not reach the scan as a partition filter")
          f.selectedPartitions.partitionCount.toLong
      }.sum
    def partsTotal(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount.toLong
      }.sum
    require(partsScanned(g1W) < partsTotal(g1All),
      s"in24: yearly spec did not prune (${partsScanned(g1W)} of " +
        s"${partsTotal(g1All)} partitions)")
    require(partsScanned(g2W) < partsTotal(g2All),
      s"in24: monthly spec did not prune (${partsScanned(g2W)} of " +
        s"${partsTotal(g2All)} partitions)")
    def digest(df: org.apache.spark.sql.DataFrame, gen: String) =
      df.agg(count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(col("o_orderkey").cast("string")).as("checksum"))
        .select(lit(gen).as("gen"), col("n_rows"), col("checksum"))
    val uni = g1W.select("o_orderkey")
      .unionByName(g2W.select("o_orderkey"))
    digest(g1W, "gen1_yearly")
      .union(digest(g2W, "gen2_monthly"))
      .union(digest(uni, "unified"))
      .orderBy("gen")
  }

  // ---------------------------------------------------------------- in25
  /** Per-file NDV sketch manifests (Iceberg puffin / Theta-sketch
    * statistics files, on q47's KMV machinery): min/max manifests
    * (in16) answer RANGE questions at metadata cost, but the CBO
    * questions that actually pick join orders and distinct strategies
    * are CARDINALITY questions — `NDV(col)` per file and per table —
    * and counting distinct at planning time by scanning 100 TB is
    * absurd. The format answer: each commit writes a SKETCH per
    * (file, column) beside the data (one corpus pass, sketch states
    * combine map-side, the exchange carries ≤ k longs per cell), and
    * every later NDV question — any file subset, any partition-pruned
    * slice, the whole table — is answered by MERGING sketches from the
    * manifest alone. KMV (unlike Spark's HLL++ buffer) has an exactly
    * SQL-replayable state, so the whole manifest oracles: per-file
    * k-min sets are `row_number() ≤ k` per bucket, and the table-level
    * merge is provably the global k-min over distinct hashes (the k
    * smallest overall are each among their own file's k smallest —
    * KMV merge is lossless), which the oracle states directly.
    *
    * The table is landed partitioned by `bucket = l_orderkey % 8`
    * (deterministic file membership — both engines know which rows a
    * file holds, the in13 discipline), with sketches over two columns
    * of different cardinality classes (l_partkey high-NDV, l_suppkey
    * mid-NDV). Output: 8×2 per-file manifest rows + 2 table-level
    * merged rows. In-op `require` pins the metadata-plane claim: the
    * merge consumes the MANIFEST (buckets×cols rows, localCheckpoint-
    * severed), never the data, and the manifest row count is exactly
    * buckets×cols. */
  val in25 = Q("in25_ndv_sketch_manifest", {
    import graft.ops.Relational.{KmvK, kmvHashDuck}
    s"""WITH src AS (
       |  SELECT CAST(l_orderkey % 8 AS BIGINT) AS bucket,
       |    'l_partkey' AS colname, ${kmvHashDuck("l_partkey")} AS h
       |  FROM lineitem
       |  UNION ALL
       |  SELECT CAST(l_orderkey % 8 AS BIGINT),
       |    'l_suppkey', ${kmvHashDuck("l_suppkey")}
       |  FROM lineitem),
       |d AS (SELECT DISTINCT bucket, colname, h FROM src),
       |r AS (SELECT bucket, colname, h,
       |        row_number() OVER (PARTITION BY bucket, colname
       |                           ORDER BY h) AS rn
       |      FROM d),
       |kmin AS (SELECT bucket, colname, h FROM r WHERE rn <= $KmvK),
       |pf AS (
       |  SELECT concat('bucket_', CAST(bucket AS VARCHAR)) AS scope,
       |    colname, CAST(count(*) AS BIGINT) AS n_retained,
       |    max(h) AS kth_hash
       |  FROM kmin GROUP BY bucket, colname),
       |td AS (SELECT DISTINCT colname, h FROM kmin),
       |tr AS (SELECT colname, h,
       |         row_number() OVER (PARTITION BY colname ORDER BY h) AS rn
       |       FROM td),
       |tt AS (
       |  SELECT 'table' AS scope, colname,
       |    CAST(count(*) AS BIGINT) AS n_retained, max(h) AS kth_hash
       |  FROM tr WHERE rn <= $KmvK GROUP BY colname),
       |u AS (SELECT * FROM pf UNION ALL SELECT * FROM tt)
       |SELECT scope, colname, n_retained, kth_hash,
       |  CASE WHEN n_retained < $KmvK THEN n_retained
       |       ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976)
       |                 // kth_hash AS BIGINT) END AS est_distinct
       |FROM u ORDER BY scope, colname""".stripMargin
  }) { (s, d) =>
    import graft.ops.Relational.{KmvK, kmvHashSpark}
    val run = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$compactScratch/$run/ndv_buckets"
    graft.model.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .withColumn("bucket", col("l_orderkey") % 8)
      .write.partitionBy("bucket").parquet(dir)
    val t = s.read.parquet(dir)
    // the commit-time pass: ONE scan, per-(file, column) KMV states,
    // map-side combine, exchange carries sketches (≤ k longs), not rows
    val src = t.selectExpr("bucket", "'l_partkey' AS colname",
        kmvHashSpark("l_partkey"))
      .unionAll(t.selectExpr("bucket", "'l_suppkey' AS colname",
        kmvHashSpark("l_suppkey")))
    val manifest = src.groupBy("bucket", "colname")
      .agg(expr(s"kmv_sketch(h, $KmvK)").as("sk"))
      .localCheckpoint() // THE stats artifact: every NDV below reads this
    require(manifest.count() == 8 * 2,
      "in25: manifest must hold exactly buckets x columns sketches")
    val perFile = manifest.select(
      concat(lit("bucket_"), col("bucket").cast("string")).as("scope"),
      col("colname"), col("sk.n_retained").as("n_retained"),
      col("sk.kth_hash").as("kth_hash"),
      col("sk.est_distinct").as("est_distinct"))
    // table-level NDV from the MANIFEST alone: explode the retained
    // states (≤ buckets x k longs — metadata-sized), re-take the k-min
    val tbl = manifest
      .select(col("colname"),
        explode(split(col("sk.state"), ",")).as("hs"))
      .select(col("colname"), col("hs").cast("long").as("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("colname").orderBy("h")))
      .filter(col("rn") <= KmvK)
      .groupBy("colname")
      .agg(count(lit(1)).cast("long").as("n_retained"),
        max("h").as("kth_hash"))
      .select(lit("table").as("scope"), col("colname"), col("n_retained"),
        col("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_retained") < KmvK, col("n_retained"))
          // (k-1)·2^60 exceeds BIGINT — the q47 eval uses BigInt; here
          // DECIMAL(38,0) integral division (positive operands: trunc
          // == floor == the oracle's HUGEINT //)
          .otherwise(expr(s"CAST((CAST(${KmvK - 1} AS DECIMAL(38,0)) * " +
            "CAST(1152921504606846976 AS DECIMAL(38,0))) DIV kth_hash " +
            "AS BIGINT)")))
    perFile.unionByName(tbl).orderBy("scope", "colname")
  }

  // ---------------------------------------------------------------- in26
  /** MERGE as a COMMIT on the versioned table — the missing lifecycle
    * verb (the ledger has append in20, replace/compaction in21, delete
    * files + scoped purge in23, partition evolution in24): row-level
    * UPSERT landed as one copy-on-write rewrite commit (Delta `MERGE
    * INTO` / Iceberg copy-on-write merge). q28 supplies the MERGE
    * dataflow (outer join + coalesce: matched keys take the change
    * row, unmatched changes insert, the rest passes through); in23's
    * scoping supplies the physical half — only the files that CONTAIN
    * matched keys are rewritten, everything else rides the commit's
    * `carry` list untouched.
    *
    * Scenario: a `src3` re-crawl — every src3 document's `n_chars` is
    * re-extracted (+1000), and half the batch (doc_id % 40 = 3) also
    * yields new documents (fresh keys, +10⁸). The base layout clusters
    * by `source` (in23's clustered-layout premise), so the matched
    * keys concentrate in src3's hash bucket and the rewrite scope is a
    * proper minority of files — `require`d in-op, witness-pinned for
    * the carried bytes.
    *
    * Output = three-version digests over (doc_id, n_chars): `1_base`,
    * `2_after_merge` (the oracle restates the merge in closed form off
    * the source table: update arm + insert arm), and
    * `3_time_travel_base` — reading v1 AS OF after the merge must
    * still digest as the base, the snapshot-isolation promise a MERGE
    * commit must keep (no vacuum here; in21/in23 own retention).
    *
    * Scale: scoping is ONE pass over the base (input_file_name vs the
    * broadcast key list — the delete-file read path of in23); the
    * rewrite touches only affected files + the insert batch; the
    * carry is metadata. A 100 TB merge pays for the files its keys
    * live in — with a key-clustered layout, the minority — never the
    * estate. */
  val in26 = Q("in26_merge_commit", {
    def digestSql(body: String) =
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(CAST(concat('0x', substr(md5(
         |      CAST(doc_id AS VARCHAR) || '|' ||
         |      CAST(n_chars AS VARCHAR)), 1, 8)) AS BIGINT))
         |      % 4294967296 AS BIGINT) AS checksum
         |  FROM ($body)""".stripMargin
    val baseBody = "SELECT doc_id, n_chars FROM documents"
    val mergedBody =
      """SELECT doc_id,
        |    CASE WHEN source = 'src3' THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000000, n_chars FROM documents
        |  WHERE source = 'src3' AND doc_id % 40 = 3""".stripMargin
    s"""WITH b AS (${digestSql(baseBody)}),
       |m AS (${digestSql(mergedBody)})
       |SELECT '1_base' AS stage, n_rows, checksum FROM b
       |UNION ALL SELECT '2_after_merge', n_rows, checksum FROM m
       |UNION ALL SELECT '3_time_travel_base', n_rows, checksum FROM b
       |ORDER BY stage""".stripMargin
  }) { (s, d) =>
    val run = java.util.UUID.randomUUID().toString.take(8)
    val t = new VersionedTable(s, s"$compactScratch/$run/merge")
    // key-clustered base: a source's rows concentrate in its hash
    // bucket's file(s), so a per-source merge is file-scopable
    t.commit(graft.model.Tables.documents(s, d)
      .select("doc_id", "source", "lang", "n_chars")
      .repartition(8, col("source")))
    val v1 = t.readAsOf(1)
    // the change set, read from the CURRENT snapshot (what a MERGE
    // sees): updates for every src3 doc, inserts for half the batch
    val updates = v1.filter(col("source") === "src3")
      .select(col("doc_id"), (col("n_chars") + 1000L).as("new_chars"))
    val inserts = v1
      .filter(col("source") === "src3" && col("doc_id") % 40 === 3)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("source"),
        col("lang"), col("n_chars"))
    // scope the rewrite: only files that CONTAIN matched keys (the
    // in23 delete-file read path, reused for the update path)
    val affected = v1.withColumn("f", input_file_name())
      .join(broadcast(updates.select("doc_id")), Seq("doc_id"),
        "left_semi")
      .select("f").distinct().collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSeq
    val carried = t.files(1).filterNot(affected.contains)
    require(affected.nonEmpty && carried.nonEmpty &&
      affected.length < t.files(1).length,
      s"in26: merge scope degenerate: ${affected.length} affected, " +
        s"${carried.length} carried of ${t.files(1).length}")
    val carriedStats = carried.map(fileWitness)
    // copy-on-write MERGE (q28's dataflow, scoped): matched keys take
    // the change row, the affected files' other rows pass through,
    // unmatched changes insert as new rows in the commit's own files
    val nBefore = v1.count()
    val nInserts = inserts.count()
    t.commit(
      s.read.parquet(affected: _*)
        .join(broadcast(updates), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("lang"),
          coalesce(col("new_chars"), col("n_chars")).as("n_chars"))
        .unionByName(inserts),
      replace = true, carry = carried)
    // carry contract: untouched files byte-identical across the commit
    require(carriedStats.forall { case w @ (p, _, _) =>
      fileWitness(p) == w
    }, "in26: merge rewrote carried bytes")
    // ledger arithmetic: the version diff is exactly the rewrite scope
    require(t.files(1).diff(t.files(2)).toSet == affected.toSet,
      "in26: v1 minus v2 must be exactly the rewritten files")
    require(t.readAsOf(2).count() == nBefore + nInserts,
      "in26: merge changed the row count beyond its inserts")
    def digest(df: org.apache.spark.sql.DataFrame, stage: String) =
      df.agg(count(lit(1)).cast("long").as("n_rows"),
        md5ChecksumOf(col("doc_id").cast("string"), lit("|"),
          col("n_chars").cast("string")).as("checksum"))
        .select(lit(stage).as("stage"), col("n_rows"), col("checksum"))
    digest(t.readAsOf(1), "1_base")
      .union(digest(t.readAsOf(2), "2_after_merge"))
      .union(digest(t.readAsOf(1), "3_time_travel_base"))
      .orderBy("stage")
  }

  def all: Seq[Q] = Seq(in01, in02, in03, in04, in05, in06, in07, in08, in09,
    in10, in11, in12, in13, in14, in15, in16, in17, in18, in19, in20, in21,
    in22, in23, in24, in25, in26)
}
