package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's compact summary line stays bounded however many queries
  * fail: it lists at most 10 names, while `n_failed` carries the count.
  */
class BenchSpec extends AnyFunSuite {

  test("summary line: 12 failed queries list exactly 10 names, n_failed is 12") {
    val failed = (1 to 12).map(i => f"q$i%02d_failed")
    val line = Bench.summaryLine(1.5, 275, failed, "/data/sf0.1", 8, 3, "BENCH_SELF.json")
    val listed = "\"failed\":\\[([^\\]]*)\\]".r.findFirstMatchIn(line).get.group(1)
      .split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
    assert(listed === failed.take(10))
    assert(line.contains("\"n_failed\":12,"))
    assert(line.contains("\"n\":275,"))
  }
}
