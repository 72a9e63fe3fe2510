package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over the engine's own `spark.graft.*` options: each one
  * doubles the configurations to test, so `src/main` names only the
  * three that Bench and Verify set to different values. */
class ConfKeysSpec extends AnyFunSuite {

  private val allowed = Set("spark.graft.fasthash",
    "spark.graft.validation.cap.docs", "spark.graft.validation.cap.vecs")

  test("source guard: src/main's only spark.graft.* literals are fasthash and the two validation caps") {
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val root = new java.io.File(sys.props("user.dir"), "src/main")
    assert(root.isDirectory, s"no src/main under ${root.getParent}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val found = for {
      f <- files(root)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      m <- literal.findAllMatchIn(line)
    } yield (m.group(1), s"${f.getPath}:${i + 1}")
    val extra = found.filterNot(kv => allowed(kv._1))
    assert(extra.isEmpty, extra.map { case (k, at) => s"$at: $k" }.mkString("\n"))
    // anti-vacuity: the regex sees the three keys that GraftSession sets
    assert(found.map(_._1).toSet == allowed)
  }
}
