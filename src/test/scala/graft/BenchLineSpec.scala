package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench result line must fit the 2000-char window its harness reads
  * (the last 2000 characters of output). */
class BenchLineSpec extends AnyFunSuite {

  private def line(perQuery: Double, sfDir: String = "/data/graft/testdata/sf0.1"): String = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    Bench.resultLine(total = 1234.567, nQueries = names.size, nFailed = 0,
      repeats = 3, loadStart = 1.23, loadEnd = 12.34, spreadRatio = 0.56,
      results = names.map(_ -> perQuery), ingestRps = 1234567L,
      ingestTrusted = false, ingestLoad = 1.48, sfDir = sfDir)
  }

  test("every headline name is a real query, so each one shows in the line") {
    assert(Bench.Headline.subsetOf(SparkEntry.queries.keySet))
    val l = line(1.234)
    Bench.Headline.foreach(q => assert(l.contains("\"" + q + "\":1.234")))
  }

  test("the line over every query fits the window at bench-sized values") {
    // r17 medians are 0.2-3.2 s: five characters each at ms precision;
    // ten-second medians (one more digit per query) must still fit
    for (v <- Seq(1.234, 12.345)) {
      val l = line(v)
      assert(l.length <= Bench.LineMaxChars, s"${l.length} chars at $v s")
      assert(Bench.checkLineLength(l).isRight)
    }
    assert(line(1.234).startsWith("""{"metric":"total","value":1234.567,"""))
    assert(line(1.234).endsWith(""""sf":"/data/graft/testdata/sf0.1"}"""))
  }

  test("the guard warns past 1900 chars and fails past 2000") {
    def of(n: Int) = Bench.checkLineLength("x" * n)
    assert(of(Bench.LineWarnChars) == Right(None))
    assert(of(Bench.LineWarnChars + 1).exists(_.isDefined))
    assert(of(Bench.LineMaxChars).exists(_.isDefined))
    assert(of(Bench.LineMaxChars + 1).isLeft)
    // a long sf path alone can push a real line over
    assert(Bench.checkLineLength(line(12.345, "/x" * 200)).isLeft)
  }
}
