package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** [[Verify]]'s dump on the shared session through [[Verify.run]]: the
  * name filter that `SPARK_GRAFT_VERIFY_ONLY` feeds it. */
class VerifySpec extends SparkSpec {

  private def withOutDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("graft-verify-spec")
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) Option(p.listFiles()).toSeq.flatten.foreach(rm)
      p.delete(): Unit
    }
    try f(dir.resolve("out")) finally rm(dir.toFile)
  }

  test("an unknown query name fails before anything is dumped, naming it") {
    withOutDir { out =>
      val e = intercept[IllegalArgumentException](Verify.run(spark, sf,
        out.toString, "q01_pricing_summary, q01_pricng_summary"))
      assert(e.getMessage.contains("q01_pricng_summary"), e.getMessage)
      assert(!e.getMessage.contains("q01_pricing_summary"), e.getMessage)
      assert(!Files.exists(out), "Verify wrote output before failing")
    }
  }

  test("named queries: one result dir each and only their oracle SQL") {
    withOutDir { out =>
      Verify.run(spark, sf, out.toString, "q01_pricing_summary,n05_digest")
      val dumped = Option(out.toFile.list()).toSeq.flatten.sorted
      assert(dumped ==
        Seq("n05_digest", "oracle_sql.json", "q01_pricing_summary"))
      val json = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
      assert(json.fieldNames().asScala.toSeq.sorted ==
        Seq("n05_digest", "q01_pricing_summary"))
      assert(json.get("q01_pricing_summary").asText ==
        SparkEntry.oracleSql("q01_pricing_summary"))
    }
  }
}
