package graft

import java.io.File

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic tests (`perfbench/test_*.py`: metric
  * arithmetic, result-line parsing, set statistics) run with the suite,
  * so a change that breaks how the benchmark judges itself fails here
  * too. The Python run writes no bytecode, so it leaves `perfbench/`
  * untouched. */
class PerfbenchLogicSpec extends AnyFunSuite {

  test("perfbench unittest discovery passes") {
    val root = new File(sys.props("user.dir"))
    assert(new File(root, "perfbench").isDirectory, s"no perfbench/ under $root")
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    val exit = Process(
      Seq("python3", "-m", "unittest", "discover", "-s", "perfbench", "-p", "test_*.py"),
      root, "PYTHONDONTWRITEBYTECODE" -> "1").!(log)
    assert(exit == 0, s"perfbench logic tests failed (exit $exit):\n$out")
    assert(raw"Ran [1-9]\d* test".r.findFirstIn(out).nonEmpty, s"no test ran:\n$out")
  }
}
