package graft
/** Dump `explain("formatted")` for queries. Usage:
  *   runMain graft.Explain <sfDir> q1 q2 ...            — print to stdout
  *   runMain graft.Explain --out <dir> <suffix> <sfDir> q1 q2 ...
  *     — write <dir>/<query>_<suffix>.txt per query (the optimization
  *     rounds' before/after plan evidence).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Explain <sfDir> q1 q2 ...  |  " +
      "Explain --out <dir> <suffix> <sfDir> q1 q2 ..."
    if (args.headOption.contains("--out") && args.length < 3) {
      System.err.println(usage); sys.exit(2)
    }
    val (outDir, suffix, rest) =
      if (args.headOption.contains("--out"))
        (Some(args(1)), args(2), args.drop(3))
      else (None, "", args)
    val spark = graft.core.Sessions.local("explain", 8)
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    // fixture-backed queries (persisted indexes, crawl shards) plan
    // over their built artifacts
    Prewarm.fixtures(spark, dir)
    rest.drop(1).foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          new java.io.File(d).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/${q}_$suffix.txt"), plan)
          println(s"[explain] wrote $d/${q}_$suffix.txt")
        case None =>
          println(s"===== $q ====="); println(plan)
      }
    }
    spark.stop()
  }
}
