package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s stdout line under its character budget: every query when
  * it fits, else the slowest ones plus markers that never let a
  * truncated failure read as a fast success. */
class BenchSpec extends AnyFunSuite {

  private def wrap(qs: String, extra: String): String =
    s"""{"metric":"total"$extra,"queries":$qs}"""

  private val results = Seq("fast" -> 0.5, "failed" -> -1.0, "slow" -> 2.0)

  test("a line within budget carries every query and no truncation markers") {
    val line = Bench.stdoutLine(results, 1870)(wrap)
    assert(line == """{"metric":"total","queries":{"fast":0.500,"failed":-1.000,"slow":2.000}}""")
  }

  test("truncation keeps the failed query first and marks healthy omissions only") {
    val many = ("failed" -> -1.0) +: (0 until 30).map(i => f"q$i%02d" -> i * 0.1)
    val line = Bench.stdoutLine(many, 300)(wrap)
    assert(line.length <= 300, line)
    assert(line.contains(""""queries":{"failed":-1.000,"q29":2.900,"q28":2.800"""), line)
    assert(line.contains(""""n_queries":31"""), line)
    assert(line.contains(""""omitted_max_sec":"""), line)
    assert(!line.contains("omitted_failed"), line)
  }

  test("a budget too small for any query reports the omitted failure") {
    val line = Bench.stdoutLine(results, 40)(wrap)
    assert(line.contains(""""queries":{}"""), line)
    assert(line.contains(""""omitted_failed":1"""), line)
    assert(line.contains(""""omitted_max_sec":2.000"""), line)
  }
}
