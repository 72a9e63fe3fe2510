package graft

import org.apache.spark.sql.functions._

/** Pins the sketch/layout tier added in round 5: the CMS overestimate
  * law (t17), the z-order locality law (q39), and the rolling-distinct
  * recompute (q38) — each against driver-side ground truth at sf0.001,
  * the GraphSpec discipline. */
class SketchSpec extends SparkSpec {

  test("t17: CMS point estimates are one-sided overestimates, exact-sized sketch") {
    val rows = ops.TextAnalysis.t17.run(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"${r.getString(0)}: cms $est < exact $exact")
    }
    // heavy hitters come out in exact-count order (ties by token)
    val counts = rows.map(_.getLong(1)).toSeq
    assert(counts == counts.sortBy(-_))
  }

  test("t17: the sketch itself is bounded by depth x width cells") {
    import spark.implicits._
    val toks = model.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
    def bucket(r: Int) =
      conv(substring(md5(concat(lit(s"cms$r:"), col("token"))), 1, 8), 16, 10)
        .cast("long") % ops.TextAnalysis.CmsWidth
    val cells = toks.select(posexplode(
      array((0 until ops.TextAnalysis.CmsDepth).map(bucket): _*))
      .as(Seq("r", "bucket")))
      .groupBy("r", "bucket").count()
    val n = cells.count()
    assert(n <= ops.TextAnalysis.CmsDepth.toLong * ops.TextAnalysis.CmsWidth,
      s"$n cells")
    // every token occurrence lands in exactly one bucket per row: the
    // per-row cell sums all equal the corpus token count
    val tokCount = toks.count()
    val perRow = cells.groupBy("r").agg(sum("count").as("s"))
      .as[(Int, Long)].collect().toMap
    assert(perRow.values.forall(_ == tokCount), perRow.toString)
  }

  test("q10c: HLL estimate error bounded vs exact; small-range bias documented") {
    val out = ops.Relational.q10c.run(spark, sf).collect()
    val est = out.groupBy(_.getString(0)).map { case (c, rs) =>
      c -> rs.head.getLong(3) }
    val li = model.Tables.lineitem(spark, sf)
    val exact = Map(
      "l_orderkey" -> li.select("l_orderkey").distinct().count(),
      "l_partkey" -> li.select("l_partkey").distinct().count())
    // l_orderkey (~1473 at sf0.001) is in the sketch's design regime
    // (n > 2.5m = 640): the standard-error band for m=256 is
    // 1.04/sqrt(256) = 6.5%; assert 3 sigma
    val relOrd = math.abs(est("l_orderkey").toDouble / exact("l_orderkey") - 1)
    assert(relOrd < 0.20, s"orderkey est ${est("l_orderkey")} vs ${exact("l_orderkey")} ($relOrd)")
    // l_partkey (~200) is BELOW the small-range threshold: the textbook
    // correction there is linear counting, which needs ln() and would
    // break cross-engine hash-determinism — by design q10c reports the
    // raw harmonic estimate, biased high at tiny n. Pin the documented
    // behaviour loosely: right order of magnitude, biased upward
    val pk = est("l_partkey").toDouble / exact("l_partkey")
    assert(pk >= 0.8 && pk <= 2.5, s"partkey est ${est("l_partkey")} vs ${exact("l_partkey")} ($pk)")
  }

  test("q10c: registers merge by max — sketch(a union b) == merge(sketch(a), sketch(b))") {
    import org.apache.spark.sql.functions.max
    val li = model.Tables.lineitem(spark, sf)
    val even = ops.Relational.hllRegisters(
      li.filter(col("l_orderkey") % 2 === 0), "l_orderkey")
    val odd = ops.Relational.hllRegisters(
      li.filter(col("l_orderkey") % 2 === 1), "l_orderkey")
    val merged = even.unionAll(odd)
      .groupBy("colname", "reg").agg(max("rho").as("rho"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val whole = ops.Relational.hllRegisters(li, "l_orderkey")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(merged == whole,
      s"merge-by-max drifted: ${(merged diff whole).take(5)} / ${(whole diff merged).take(5)}")
    // anti-vacuity: both halves are real, neither empty nor the whole
    assert(even.count() > 0 && odd.count() > 0)
  }

  test("q19c: histogram sketches merge by cell addition — sketch(a ∪ b) == merge(sketch(a), sketch(b))") {
    import org.apache.spark.sql.functions.sum
    val li = model.Tables.lineitem(spark, sf)
    val even = ops.Relational.histCells(li.filter(col("l_orderkey") % 2 === 0))
    val odd = ops.Relational.histCells(li.filter(col("l_orderkey") % 2 === 1))
    val merged = even.unionAll(odd)
      .groupBy("flag", "cell").agg(sum("c").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val whole = ops.Relational.histCells(li)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == whole,
      s"cell-addition merge drifted: ${(merged diff whole).take(5)} / ${(whole diff merged).take(5)}")
    assert(even.count() > 0 && odd.count() > 0)
  }

  test("q19c: every quantile estimate lands within one bucket width of the exact quantile") {
    // structural guarantee of a fixed-boundary histogram: the answer
    // cell CONTAINS the exact rank-th value, and the interpolated
    // estimate stays inside the cell — so |est - exact| < W always
    val W = 100000L // cents, mirrors q19c's HistW
    val est = ops.Relational.q19c.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val exact = model.Tables.lineitem(spark, sf)
      .selectExpr("l_returnflag",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents")
      .groupBy("l_returnflag")
      .agg(expr("percentile(cents, 0.5)").as("p50"),
        expr("percentile(cents, 0.9)").as("p90"),
        expr("percentile(cents, 0.99)").as("p99"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(est.keySet == exact.keySet && est.nonEmpty)
    est.foreach { case (flag, (e50, e90, e99)) =>
      val (x50, x90, x99) = exact(flag)
      assert(math.abs(e50 - x50) <= W, s"$flag p50: $e50 vs $x50")
      assert(math.abs(e90 - x90) <= W, s"$flag p90: $e90 vs $x90")
      assert(math.abs(e99 - x99) <= W, s"$flag p99: $e99 vs $x99")
    }
  }

  test("q39: every z-order bucket envelope is a tile, not the full span") {
    val li = model.Tables.lineitem(spark, sf)
      .agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).collect()(0)
    val (pkSpan, skSpan) =
      (li.getLong(1) - li.getLong(0), li.getLong(3) - li.getLong(2))
    val rows = ops.Relational.q39.run(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 256)
    rows.foreach { r =>
      val (pkW, skW) =
        (r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4))
      // top-8-bit buckets pin 4 high bits per dimension -> 16 tiles/dim;
      // assert with 2x slack for the integer-grid rounding
      assert(pkW <= pkSpan / 8 + 1, s"bucket ${r.getLong(0)}: pk width $pkW")
      assert(skW <= skSpan / 8 + 1, s"bucket ${r.getLong(0)}: sk width $skW")
    }
    // the layout covers every row exactly once
    assert(rows.map(_.getLong(1)).sum ==
      model.Tables.lineitem(spark, sf).count())
  }

  test("t18: the frequency spectrum partitions the vocabulary and the token mass") {
    import spark.implicits._
    val toks = model.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t")).as[String].collect()
    val vocab = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = vocab.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val rows = ops.TextAnalysis.t18.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(r => r._1 -> r._2).toMap == expected)
    // every type and every token occurrence is accounted for exactly once
    assert(rows.map(_._2).sum == vocab.size.toLong)
    assert(rows.map(r => r._1 * r._2).sum == toks.length.toLong)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
  }

  test("q40: median/MAD anomaly counts equal a driver-side recompute") {
    import spark.implicits._
    // Spark's exact percentile: rank = p·(n−1), linear interpolation
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val rank = p * (s.length - 1)
      val (lo, hi) = (math.floor(rank).toInt, math.ceil(rank).toInt)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
    val ev = model.Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect()
    val expected = ev.groupBy(_._1).toSeq.map { case (t, vs) =>
      val values = vs.map(_._2).toSeq
      val med = pct(values, 0.5)
      val adev = values.map(v => math.abs(v - med))
      val mad = pct(adev, 0.5)
      val nOut = adev.count(_ > 3 * 1.4826 * mad).toLong
      t -> ((values.length.toLong, med, mad, nOut))
    }.toMap
    val got = ops.Relational.q40.run(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got == expected)
    // sanity: outliers are a strict minority for every type
    got.values.foreach { case (n, _, _, o) => assert(o * 5 < n) }
  }

  test("q38: rolling 7-day metrics equal a driver-side recompute") {
    import spark.implicits._
    val ev0 = model.Tables.events(spark, sf)
    val ev = ev0
      .select(to_date(ops.EventStreams.eventTs(ev0)).as("d"), col("user_id"))
      .as[(java.sql.Date, Long)].collect()
    val days = ev.map(_._1.toLocalDate.toEpochDay)
    val (lo, hi) = (days.min, days.max)
    val expected = (lo to hi).map { day =>
      val inWin = ev.filter { e =>
        val d = e._1.toLocalDate.toEpochDay
        d >= day - 6 && d <= day
      }
      (java.time.LocalDate.ofEpochDay(day).toString,
        inWin.map(_._2).distinct.length.toLong, inWin.length.toLong)
    }
    val got = ops.Relational.q38.run(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("q63: CMS laws — never underestimates, eps*N ceiling") {
    val audited = ops.Relational.q63.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(audited.length == 20)
    val n = model.Tables.lineitem(spark, sf).count()
    // structural guarantee: every cell counts a superset of the key's
    // occurrences, so the min over rows is >= the true count — always
    audited.foreach { case (k, est, exact) =>
      assert(est >= exact, s"CMS underestimated key $k: $est < $exact")
    }
    // Cormode–Muthukrishnan error ceiling at w=256: est - true <= (e/w)*N
    // with prob 1-e^-d per key; on this fixed corpus it must simply hold
    val eps = math.E / 256.0
    audited.foreach { case (k, est, exact) =>
      assert(est - exact <= math.ceil(eps * n).toLong,
        s"key $k error ${est - exact} above eps*N=${eps * n}")
    }
    // non-vacuity: at least one key collides somewhere (else the sketch
    // tier is indistinguishable from exact counting on this corpus)
    assert(audited.exists { case (_, est, exact) => est > exact },
      "no CMS collisions at all — error-law checks are vacuous")
  }

  test("q64: equi-depth laws — conservation, contiguity, balance up to ties") {
    import spark.implicits._
    val rows = ops.Relational.q64.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 8L))
    val cents = model.Tables.orders(spark, sf)
      .selectExpr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
      .as[Long].collect()
    // row and mass conservation against the raw column
    assert(rows.map(_._4).sum == cents.length)
    assert(rows.map(_._6).sum == cents.sum)
    // buckets are value-contiguous and strictly ordered (same value can
    // never straddle a boundary — assignment is a pure function of it)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"bucket ${a._1} hi ${a._3} !< ${b._2}")
    }
    rows.foreach { case (b, lo, hi, n, ndv, _) =>
      assert(lo <= hi && ndv >= 1 && ndv <= n, s"bucket $b bounds/ndv")
    }
    // equal depths up to duplicate mass at the boundaries: each of a
    // bucket's 2 boundaries can shift at most (maxMult - 1) rows, plus
    // the integer split rounding
    val maxMult = cents.groupBy(identity).values.map(_.length).max.toLong
    val depths = rows.map(_._4)
    assert(depths.max - depths.min <= 2 * maxMult + 1,
      s"depths $depths vs max duplicate multiplicity $maxMult")
  }

  test("q65: estimates fold from q64's histogram; error bounded by one bucket") {
    val hist = ops.Relational.q64.run(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val rows = ops.Relational.q65.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val total = hist.map(_._3).sum
    // estimator recompute from the published histogram — the consumer
    // and the statistic must be the same arithmetic
    for ((t, est, exact, err) <- rows) {
      val expEst = hist.map { case (lo, hi, n) =>
        if (lo >= t) n else if (hi < t) 0L
        else n * (hi - t + 1) / (hi - lo + 1)
      }.sum
      assert(est == expEst, s"t=$t est $est != fold $expEst")
      assert(err == math.abs(est - exact) * 1000000L / total, s"t=$t err")
    }
    // exact counts are monotone non-increasing in the threshold
    val exacts = rows.map(_._3).toSeq
    assert(exacts == exacts.sorted.reverse, s"not monotone: $exacts")
    // equi-depth structural bound: a >= predicate misestimates only
    // inside the one straddling bucket, so the error can never exceed
    // one bucket's depth (~1/8 of the table)
    val maxDepth = hist.map(_._3).max
    rows.foreach { case (t, est, exact, _) =>
      assert(math.abs(est - exact) <= maxDepth,
        s"t=$t error ${math.abs(est - exact)} exceeds a bucket $maxDepth")
    }
    // the uniformity assumption is being tested, not assumed: at least
    // one threshold has nonzero error on this corpus
    assert(rows.exists(_._4 > 0), "all estimates exact — error law vacuous")
  }
}
