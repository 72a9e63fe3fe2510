package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A category → keyword lexicon compiled for [[KeywordClassify]]'s byte
  * scan: keywords indexed by their first byte, each tagged with its
  * category. Keywords must be non-empty ASCII, so a byte match can only
  * start on a character boundary and counting bytes equals counting
  * characters. */
final case class KeywordLexicon(entries: Seq[(String, Seq[String])]) {
  require(entries.forall(_._2.forall(k => k.nonEmpty && k.forall(_ < 128))),
    "lexicon keywords must be non-empty ASCII")

  @transient private[functions] lazy val categories: Array[UTF8String] =
    entries.map(e => UTF8String.fromString(e._1)).toArray
  @transient private[functions] lazy val keywords: Array[Array[Byte]] =
    entries.flatMap(_._2.map(_.getBytes("US-ASCII"))).toArray
  @transient private[functions] lazy val keywordCategory: Array[Int] =
    entries.zipWithIndex.flatMap { case ((_, kws), c) => kws.map(_ => c) }.toArray
  /** First byte → indexes of the keywords starting with it (null: none). */
  @transient private[functions] lazy val byFirstByte: Array[Array[Int]] = {
    val table = new Array[Array[Int]](256)
    keywords.indices.groupBy(k => keywords(k)(0) & 0xff).foreach {
      case (b, ks) => table(b) = ks.toArray
    }
    table
  }
}

/** Keyword zero-shot classification as one Catalyst expression:
  * `struct<category: string, confidence: double>`.
  *
  * One left-to-right byte scan of the text counts, for every keyword, its
  * non-overlapping occurrences; a category scores the sum of its
  * keywords' counts. `category` is the top-scoring category (ties go to
  * the first in lexicon order) and `confidence` is `max / total`. Null
  * text or no hit gives `unknown` / 0.0.
  *
  * Exact SQL equivalent, per keyword `kw` (ASCII, so character and byte
  * counts agree): `(length(t) - length(replace(t, kw, ''))) / len(kw)`
  * with `t = coalesce(text, '')` — `replace` removes the same
  * non-overlapping left-to-right matches this scan counts.
  *
  * Generated code calls the static [[KeywordClassify.compute]], so the
  * kernel runs inside the whole-stage-codegen span as one tight loop. */
case class KeywordClassify(child: Expression, lexicon: KeywordLexicon)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = KeywordClassify.schema
  override def nullable: Boolean = false
  override def prettyName: String = "keyword_classify"
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def eval(input: InternalRow): Any =
    KeywordClassify.compute(child.eval(input).asInstanceOf[UTF8String], lexicon)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lex = ctx.addReferenceObj("lexicon", lexicon)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.KeywordClassify.compute(${c.isNull} ? null : ${c.value}, $lex);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KeywordClassify {
  val schema: StructType = StructType(Seq(
    StructField("category", StringType, nullable = false),
    StructField("confidence", DoubleType, nullable = false)))

  private val Unknown = UTF8String.fromString("unknown")

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, lex: KeywordLexicon): InternalRow = {
    val scores = new Array[Long](lex.categories.length)
    if (text != null) {
      val kws = lex.keywords
      val cat = lex.keywordCategory
      val byFirst = lex.byFirstByte
      // per keyword: first byte where its next match may start
      val next = new Array[Int](kws.length)
      val n = text.numBytes
      var i = 0
      while (i < n) {
        val ks = byFirst(text.getByte(i) & 0xff)
        if (ks != null) {
          var j = 0
          while (j < ks.length) {
            val k = ks(j)
            val kw = kws(k)
            if (i >= next(k) && i + kw.length <= n) {
              var m = 1
              while (m < kw.length && text.getByte(i + m) == kw(m)) m += 1
              if (m == kw.length) {
                scores(cat(k)) += 1
                next(k) = i + kw.length
              }
            }
            j += 1
          }
        }
        i += 1
      }
    }
    var best = 0
    var total = 0L
    var c = 0
    while (c < scores.length) {
      if (scores(c) > scores(best)) best = c
      total += scores(c)
      c += 1
    }
    if (total == 0L) new GenericInternalRow(Array[Any](Unknown, 0.0))
    else new GenericInternalRow(Array[Any](
      lex.categories(best), scores(best).toDouble / total.toDouble))
  }
}

/** The word-budget head summary as one Catalyst expression:
  * `struct<summary: string, n_words: bigint, budget: bigint>`.
  *
  * The text (null reads as `''`) is truncated to its first
  * [[HeadSummary.MaxChars]] characters; `n_words` is its number of
  * spaces + 1 and `budget = min(100, max(20, n_words / 3))`, the
  * reference's length law. `summary` is the bytes before the
  * `budget`-th space, or the whole truncated text when
  * `n_words <= budget`.
  *
  * Exact SQL equivalent, with `w = split(substring(coalesce(text, ''),
  * 1, 5000), ' ')`: `summary = array_join(slice(w, 1, budget), ' ')`,
  * `n_words = size(w)` — one scan for the spaces instead of building,
  * slicing and re-joining the word array.
  *
  * Generated code calls the static [[HeadSummary.compute]]. */
case class HeadSummary(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = HeadSummary.schema
  override def nullable: Boolean = false
  override def prettyName: String = "head_summary"

  override def eval(input: InternalRow): Any =
    HeadSummary.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.HeadSummary.compute(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HeadSummary {
  val schema: StructType = StructType(Seq(
    StructField("summary", StringType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("budget", LongType, nullable = false)))

  /** Input truncation, `news_summarization_batch.py:65,92`. */
  val MaxChars = 5000

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String): InternalRow = {
    val t = if (text == null) UTF8String.EMPTY_UTF8 else text
    val n = t.numBytes
    // byte end of the first MaxChars characters (chars <= bytes)
    var end = n
    if (n > MaxChars) {
      end = 0
      var chars = 0
      while (end < n && chars < MaxChars) {
        end += UTF8String.numBytesForFirstByte(t.getByte(end))
        chars += 1
      }
      if (end > n) end = n
    }
    var spaces = 0
    var i = 0
    while (i < end) {
      if (t.getByte(i) == ' ') spaces += 1
      i += 1
    }
    val nWords = spaces + 1
    val budget = math.min(100, math.max(20, nWords / 3))
    val summary =
      if (nWords > budget) {
        // cut before the budget-th space
        var seen = 0
        i = 0
        while (seen < budget) {
          if (t.getByte(i) == ' ') seen += 1
          i += 1
        }
        t.copyUTF8String(0, i - 2)
      } else t.copyUTF8String(0, end - 1)
    new GenericInternalRow(Array[Any](summary, nWords.toLong, budget.toLong))
  }
}
