package graft

/** The driver's smoke check, run early: `SparkEntry.entry` must
  * execute the full producer → ingest → bronze → silver → gold DAG
  * and return a non-empty gold aggregate.
  */
class EntrySpec extends SparkTestBase {

  test("entry runs the flagship DAG end-to-end and returns gold rows") {
    def entryDirs = Option(new java.io.File(sys.props("java.io.tmpdir")).list())
      .map(_.filter(_.startsWith("graft-entry")).toSet).getOrElse(Set.empty[String])
    val before = entryDirs
    val gold = SparkEntry.entry(spark)
    val rows = gold.collect()
    assert(entryDirs -- before == Set.empty,
      "entry must build its tables under the driver temp dir, not java.io.tmpdir")
    assert(rows.nonEmpty, "driver smoke check would fail: gold aggregate is empty")
    // gold schema carries the grouped dimensions + the aggregate
    val cols = gold.columns.toSet
    assert(cols.contains("type"), s"gold columns: $cols")
  }
}
