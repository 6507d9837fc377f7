package graft

class PrewarmSpec extends SparkTestBase {

  test("a failed fixture build fails the prewarm, naming every failed build") {
    val missing = s"${tmpDir("prewarm")}/no-such-sf"
    val e = intercept[IllegalStateException](Prewarm.fixtures(spark, missing))
    // every build was still attempted: each one reads the missing dir
    assert(e.getMessage.matches("(?s)(\\d+) of \\1 fixture builds failed .*"), e.getMessage)
    Seq("ScaleOps.prewarmChainFixtures", "PqIndex.persistedIndexDir",
      "WarcIngest.warcFixture", "CsvIngest.csvFixture",
      "CrawlRefresh.wetFixture").foreach(b => assert(e.getMessage.contains(b), b))
    assert(e.getCause != null && e.getCause.getMessage.contains("no-such-sf"))
  }
}
