package graft

import org.apache.spark.sql.functions._

/** Pins t32 (Zipf octave report): the octave partition laws that hold
  * for ANY corpus (rank-octave sizes, frequency monotonicity across
  * octaves, mass conservation, ratio arithmetic), plus the measured
  * regime verdict for this corpus (near-uniform, not Zipfian). */
class ZipfSpec extends SparkSpec {

  private lazy val rows = ops.TextAnalysis.t32.run(spark, sf).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))).sortBy(_._1)

  test("t32: octave partition + monotonicity + conservation laws") {
    assert(rows.nonEmpty)
    // octaves are consecutive from 0; each holds 2^o types except the
    // last (truncated by vocabulary size)
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong))
    rows.init.foreach { case (o, n, _, _, _, _) =>
      assert(n == (1L << o), s"octave $o holds $n types")
    }
    assert(rows.last._2 <= (1L << rows.last._1.toInt))
    // ranking monotonicity: a later octave's max freq never exceeds an
    // earlier octave's min freq
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 <= a._5, s"octaves ${a._1}/${b._1} overlap in freq")
    }
    // mass conservation: octave masses sum to the corpus bigram count
    val total = model.Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr("word_shingles(w, 2)")).as("t")).count()
    assert(rows.map(_._3).sum == total, "mass leaked")
    // ratio arithmetic
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._6 == b._3 * 1000000L / a._3, s"ratio at ${b._1}")
    }
    assert(rows.head._6 == 0L)
  }

  test("t32: measured regime — near-uniform head, not Zipfian") {
    // Zipf (s=1) would put mid-octave ratios near 1.0e6; this corpus
    // measures ~1.9e6 (mass doubles per octave = uniform frequencies).
    // Pin the verdict loosely: every interior ratio is far ABOVE the
    // Zipf line — the gate a frequency-heuristic consumer reads.
    val interior = rows.drop(2).dropRight(1).map(_._6)
    assert(interior.nonEmpty)
    interior.foreach(r =>
      assert(r > 1500000L && r < 2100000L, s"interior ratio $r"))
  }
}
