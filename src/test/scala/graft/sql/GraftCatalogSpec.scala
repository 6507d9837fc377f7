package graft.sql

import org.apache.spark.sql.Row

import graft.SparkTestBase
import graft.core.TxTable

/** SQL-DDL/DML surface of [[GraftCatalog]]: every statement routes
  * through the ACID commit log, so the assertions re-read through
  * BOTH the SQL path and the typed [[TxTable]] API — they must agree,
  * version by version.
  */
class GraftCatalogSpec extends SparkTestBase {

  private lazy val base = tmpDir("graft-catalog")
  private val cat = "graft_sql"

  private lazy val init: Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
  }

  private def sql(q: String) = { init; spark.sql(q) }

  private def rows(q: String): Set[Row] = sql(q).collect().toSet

  test("CREATE TABLE + INSERT INTO + SELECT round-trip, atomic in the log") {
    sql(s"CREATE TABLE $cat.t1 (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.t1 VALUES (1, 'a'), (2, 'b')")
    sql(s"INSERT INTO $cat.t1 VALUES (3, 'c')")
    assert(rows(s"SELECT k, v FROM $cat.t1") ==
      Set(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
    // the SQL writes are log commits, visible identically to the typed API
    val t = new TxTable(spark, s"$base/t1")
    assert(t.version == 2) // create, insert, insert
    assert(t.read().count() == 3)
    // second CREATE fails loudly
    intercept[Exception](sql(s"CREATE TABLE $cat.t1 (x INT)"))
  }

  test("filter pushdown reaches TxTable.scan: files are skipped, result exact") {
    sql(s"CREATE TABLE $cat.skip (k BIGINT, v STRING) PARTITIONED BY (k)")
    sql(s"INSERT INTO $cat.skip VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    // partitioned write → value-pure files; an equality probe must
    // read back exactly and the plan must carry the pushed filter
    val df = sql(s"SELECT v FROM $cat.skip WHERE k = 2")
    assert(df.collect().toSeq == Seq(Row("b")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull"),
      s"expected pushed filters in:\n$plan")
  }

  test("INSERT OVERWRITE: full truncate-and-replace, and static-partition replaceWhere") {
    sql(s"CREATE TABLE $cat.ow (k BIGINT, v STRING) PARTITIONED BY (k)")
    sql(s"INSERT INTO $cat.ow VALUES (1, 'a'), (2, 'b')")
    sql(s"INSERT OVERWRITE $cat.ow VALUES (7, 'z')")
    assert(rows(s"SELECT * FROM $cat.ow") == Set(Row(7L, "z")))
    // static partition spec → replace exactly that slice
    sql(s"INSERT INTO $cat.ow VALUES (8, 'y')")
    sql(s"INSERT OVERWRITE $cat.ow PARTITION (k = 7) VALUES ('zz')")
    assert(rows(s"SELECT * FROM $cat.ow") == Set(Row(7L, "zz"), Row(8L, "y")))
  }

  test("dynamic partition overwrite replaces only the partitions present in the data") {
    sql(s"CREATE TABLE $cat.dyn (k BIGINT, v STRING) PARTITIONED BY (k)")
    sql(s"INSERT INTO $cat.dyn VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    // without GraftExtensions the statement must fail LOUDLY (Spark's
    // V1 shim has no dynamic-overwrite node) — never silently truncate
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[Exception](
        sql(s"INSERT OVERWRITE $cat.dyn VALUES (0, 'x')"))
      assert(e.getMessage.contains("dynamic overwrite"))
      assert(rows(s"SELECT count(*) AS n FROM $cat.dyn") == Set(Row(3L)))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // with the extensions, GraftDynOverwriteRule routes it through
    // TxTable.overwriteDynamic — one atomic commit per statement
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions).getOrCreate()
      s2.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      s2.conf.set(s"spark.sql.catalog.$cat.base", base)
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s2.sql(s"INSERT OVERWRITE $cat.dyn VALUES (2, 'B2'), (9, 'N9')")
      finally s2.conf.unset("spark.sql.sources.partitionOverwriteMode")
      assert(s2.sql(s"SELECT * FROM $cat.dyn").collect().toSet ==
        Set(Row(1L, "a"), Row(2L, "B2"), Row(3L, "c"), Row(9L, "N9")))
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
    assert(rows(s"SELECT * FROM $cat.dyn") ==
      Set(Row(1L, "a"), Row(2L, "B2"), Row(3L, "c"), Row(9L, "N9")))
  }

  test("DELETE FROM ... WHERE routes to the copy-on-write delete") {
    sql(s"CREATE TABLE $cat.del (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.del VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql(s"DELETE FROM $cat.del WHERE k >= 2")
    assert(rows(s"SELECT * FROM $cat.del") == Set(Row(1L, "a")))
    val t = new TxTable(spark, s"$base/del")
    assert(t.version == 2) // create, insert, delete — one commit each
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    sql(s"CREATE TABLE $cat.tt (k BIGINT)")
    sql(s"INSERT INTO $cat.tt VALUES (1)") // v1
    Thread.sleep(30)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    sql(s"INSERT INTO $cat.tt VALUES (2)") // v2
    assert(rows(s"SELECT * FROM $cat.tt VERSION AS OF 1") == Set(Row(1L)))
    assert(rows(s"SELECT * FROM $cat.tt") == Set(Row(1L), Row(2L)))
    val iso = java.time.Instant.ofEpochMilli(betweenMs).toString
    assert(rows(s"SELECT * FROM $cat.tt TIMESTAMP AS OF '$iso'") == Set(Row(1L)))
    // a pinned snapshot is read-only
    intercept[Exception](sql(s"DELETE FROM $cat.tt VERSION AS OF 1 WHERE k = 1"))
  }

  test("ALTER TABLE: rename/add/drop column and properties, all metadata-only commits") {
    sql(s"CREATE TABLE $cat.alt (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.alt VALUES (1, 'a')")
    sql(s"ALTER TABLE $cat.alt RENAME COLUMN v TO val")
    assert(rows(s"SELECT k, val FROM $cat.alt") == Set(Row(1L, "a")))
    sql(s"ALTER TABLE $cat.alt ADD COLUMNS (extra BIGINT)")
    assert(rows(s"SELECT k, extra FROM $cat.alt") == Set(Row(1L, null)))
    sql(s"INSERT INTO $cat.alt VALUES (2, 'b', 20)")
    sql(s"ALTER TABLE $cat.alt DROP COLUMN val")
    assert(sql(s"SELECT * FROM $cat.alt").columns.toSeq == Seq("k", "extra"))
    sql(s"ALTER TABLE $cat.alt SET TBLPROPERTIES ('owner.team' = 'graft')")
    assert(new TxTable(spark, s"$base/alt").properties("owner.team") == "graft")
    sql(s"ALTER TABLE $cat.alt UNSET TBLPROPERTIES ('owner.team')")
    assert(!new TxTable(spark, s"$base/alt").properties.contains("owner.team"))
  }

  test("CTAS, SHOW TABLES, RENAME TO, DROP TABLE") {
    sql(s"CREATE TABLE $cat.src (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.src VALUES (1, 'a'), (2, 'b')")
    sql(s"CREATE TABLE $cat.ctas AS SELECT k, upper(v) AS v FROM $cat.src WHERE k = 1")
    assert(rows(s"SELECT * FROM $cat.ctas") == Set(Row(1L, "A")))
    val shown = sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).toSet
    assert(shown.contains("src") && shown.contains("ctas"))
    sql(s"ALTER TABLE $cat.ctas RENAME TO ctas2")
    assert(rows(s"SELECT * FROM $cat.ctas2") == Set(Row(1L, "A")))
    intercept[Exception](sql(s"SELECT * FROM $cat.ctas"))
    sql(s"DROP TABLE $cat.ctas2")
    intercept[Exception](sql(s"SELECT * FROM $cat.ctas2"))
  }

  test("namespaces are directories: create, use, drop") {
    sql(s"CREATE NAMESPACE $cat.ns1")
    sql(s"CREATE TABLE $cat.ns1.nt (k BIGINT)")
    sql(s"INSERT INTO $cat.ns1.nt VALUES (5)")
    assert(rows(s"SELECT * FROM $cat.ns1.nt") == Set(Row(5L)))
    val shown = sql(s"SHOW TABLES IN $cat.ns1").collect().map(_.getString(1)).toSet
    assert(shown == Set("nt"))
    intercept[Exception](sql(s"DROP NAMESPACE $cat.ns1")) // not empty
    sql(s"DROP NAMESPACE $cat.ns1 CASCADE")
    intercept[Exception](sql(s"SELECT * FROM $cat.ns1.nt"))
  }

  private def withExtSession[A](f: org.apache.spark.sql.SparkSession => A): A = {
    init
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions).getOrCreate()
      s2.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      s2.conf.set(s"spark.sql.catalog.$cat.base", base)
      f(s2)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }

  test("SQL UPDATE and non-pushable DELETE route to the atomic verbs") {
    sql(s"CREATE TABLE $cat.dml (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.dml VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    withExtSession { s2 =>
      s2.sql(s"UPDATE $cat.dml SET v = concat(v, '!') WHERE k % 2 = 0")
      assert(s2.sql(s"SELECT * FROM $cat.dml").collect().toSet ==
        Set(Row(1L, "a"), Row(2L, "b!"), Row(3L, "c"), Row(4L, "d!")))
      // modulo predicate is not a pushable filter: the rewrite path
      s2.sql(s"DELETE FROM $cat.dml WHERE k % 3 = 1")
      assert(s2.sql(s"SELECT * FROM $cat.dml").collect().toSet ==
        Set(Row(2L, "b!"), Row(3L, "c")))
    }
    // each statement was ONE commit: create, insert, update, delete
    assert(new TxTable(spark, s"$base/dml").version == 3)
  }

  test("SQL UPDATE works on a table with a column name containing a dot") {
    sql(s"CREATE TABLE $cat.dotted (k BIGINT, `a.b` STRING)")
    sql(s"INSERT INTO $cat.dotted VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    withExtSession { s2 =>
      s2.sql(s"UPDATE $cat.dotted SET k = k + 100 WHERE k < 2")
      s2.sql(s"UPDATE $cat.dotted SET `a.b` = concat(`a.b`, '!') WHERE k = 3")
      assert(s2.sql(s"SELECT k, `a.b` FROM $cat.dotted").collect().toSet ==
        Set(Row(101L, "a"), Row(2L, "b"), Row(3L, "c!")))
    }
  }

  test("SQL MERGE INTO maps the full clause family onto the conditional merge") {
    sql(s"CREATE TABLE $cat.mrg (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.mrg VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    withExtSession { s2 =>
      s2.sql(
        s"""MERGE INTO $cat.mrg AS t
           |USING (SELECT * FROM VALUES (1L, 'x'), (2L, 'drop'), (9L, 'new'),
           |       (10L, 'skip') AS src(k, v)) AS s
           |ON t.k = s.k
           |WHEN MATCHED AND s.v = 'drop' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = concat(t.v, '+', s.v)
           |WHEN NOT MATCHED AND s.v != 'skip' THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN UPDATE SET v = 'stale'
           |""".stripMargin)
      assert(s2.sql(s"SELECT * FROM $cat.mrg").collect().toSet ==
        Set(Row(1L, "a+x"), Row(3L, "stale"), Row(9L, "new")))
      // non-equi ON condition: loud, actionable, nothing committed
      val v = new TxTable(spark, s"$base/mrg").version
      val e = intercept[Exception](s2.sql(
        s"""MERGE INTO $cat.mrg AS t USING (SELECT 1L AS k, 'z' AS v) AS s
           |ON t.k >= s.k WHEN MATCHED THEN DELETE""".stripMargin))
      assert(e.getMessage.contains("equi-key"))
      assert(new TxTable(spark, s"$base/mrg").version == v)
    }
  }

  test("CHECK constraints gate SQL INSERT: the violating statement commits nothing") {
    sql(s"CREATE TABLE $cat.chk (k BIGINT, v STRING)")
    val t = new TxTable(spark, s"$base/chk")
    t.addConstraint("k_pos", "k > 0")
    sql(s"INSERT INTO $cat.chk VALUES (1, 'ok')")
    val v = t.version
    val e = intercept[Exception](sql(s"INSERT INTO $cat.chk VALUES (-1, 'bad')"))
    assert(e.getMessage.contains("k_pos") ||
      Option(e.getCause).exists(_.getMessage.contains("k_pos")))
    assert(t.version == v, "a rejected INSERT must not commit")
    assert(rows(s"SELECT * FROM $cat.chk") == Set(Row(1L, "ok")))
  }

  test("column DEFAULTs: CREATE/ALTER declare them, SQL INSERT substitutes, reads never backfill") {
    sql(s"CREATE TABLE $cat.dflt (k BIGINT, v STRING DEFAULT 'unset')")
    // pre-declaration rows: typed append omitting the column reads NULL
    // (defaults are FUTURE-insert semantics, never a rewrite)
    val t = new TxTable(spark, s"$base/dflt")
    import spark.implicits._
    t.append(Seq(0L).toDF("k"))
    // SQL INSERT omitting the column substitutes the declared constant
    sql(s"INSERT INTO $cat.dflt (k) VALUES (1)")
    // explicit DEFAULT keyword resolves too
    sql(s"INSERT INTO $cat.dflt VALUES (2, DEFAULT)")
    // explicit value wins, no gate (unlike generated columns)
    sql(s"INSERT INTO $cat.dflt VALUES (3, 'explicit')")
    assert(rows(s"SELECT k, v FROM $cat.dflt") == Set(
      Row(0L, null), Row(1L, "unset"), Row(2L, "unset"), Row(3L, "explicit")))
    // ALTER ... SET DEFAULT changes future inserts only
    sql(s"ALTER TABLE $cat.dflt ALTER COLUMN v SET DEFAULT 'v2'")
    sql(s"INSERT INTO $cat.dflt (k) VALUES (4)")
    sql(s"ALTER TABLE $cat.dflt ALTER COLUMN v DROP DEFAULT")
    sql(s"INSERT INTO $cat.dflt (k) VALUES (5)")
    assert(rows(s"SELECT v FROM $cat.dflt WHERE k >= 4") ==
      Set(Row("v2"), Row(null)))
    // ADD COLUMN ... DEFAULT: old rows NULL, new inserts filled
    sql(s"ALTER TABLE $cat.dflt ADD COLUMN n BIGINT DEFAULT 7")
    sql(s"INSERT INTO $cat.dflt (k) VALUES (6)")
    assert(rows(s"SELECT n FROM $cat.dflt WHERE k IN (1, 6)") ==
      Set(Row(null), Row(7L)))
    // a default must be a constant: column references are rejected
    intercept[Exception](sql(s"ALTER TABLE $cat.dflt ALTER COLUMN v SET DEFAULT k"))
    // declarations survive renames (stored by physical name)
    sql(s"ALTER TABLE $cat.dflt RENAME COLUMN n TO num")
    sql(s"INSERT INTO $cat.dflt (k) VALUES (8)")
    assert(rows(s"SELECT num FROM $cat.dflt WHERE k = 8") == Set(Row(7L)))
    // UPDATE SET col = DEFAULT resolves through the same declarations
    // (the analyzer substitutes before the DML rewrite detaches it)
    sql(s"ALTER TABLE $cat.dflt ALTER COLUMN v SET DEFAULT 'reset'")
    withExtSession { s2 =>
      s2.sql(s"UPDATE $cat.dflt SET v = DEFAULT WHERE k = 3")
      assert(s2.sql(s"SELECT v FROM $cat.dflt WHERE k = 3").collect().toSeq ==
        Seq(Row("reset")))
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table with the source's new columns") {
    sql(s"CREATE TABLE $cat.me_t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.me_t VALUES (1, 'a'), (2, 'b')")
    sql(s"CREATE TABLE $cat.me_s (id BIGINT, v STRING, tag STRING)")
    sql(s"INSERT INTO $cat.me_s VALUES (1, 'A', 'x'), (3, 'c', 'y')")
    withExtSession { s2 =>
      // without the clause, the new column is NOT silently added: the
      // explicit assignment fails resolution
      intercept[Exception](s2.sql(
        s"""MERGE INTO $cat.me_t t USING $cat.me_s s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag""".stripMargin))
      // with it: AUTOMATIC_SCHEMA_EVOLUTION lets the analyzer widen
      // the table (alterTable AddColumn) and the merge runs against it
      s2.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.me_t t
             |USING $cat.me_s s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
             |WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)
             |""".stripMargin)
    }
    assert(rows(s"SELECT id, v, tag FROM $cat.me_t") == Set(
      Row(1L, "A", "x"), Row(2L, "b", null), Row(3L, "c", "y")))
  }

  test("every DEFAULT declaration path runs the same validation — no TBLPROPERTIES bypass") {
    // CREATE-path defaults get setColumnDefault's checks: a
    // non-deterministic default must not be born with the table
    intercept[Exception](sql(
      s"CREATE TABLE $cat.dv1 (k BIGINT, v DOUBLE DEFAULT rand())"))
    intercept[Exception](sql(s"SELECT * FROM $cat.dv1"))
    // ... nor one that cannot analyze against the column type
    intercept[Exception](sql(
      s"CREATE TABLE $cat.dv2 (k BIGINT, v BIGINT DEFAULT array(1, 2))"))
    // raw TBLPROPERTIES('graft.default.*') is a declaration in
    // disguise: same gate, both at CREATE and via ALTER ... SET
    intercept[Exception](sql(s"CREATE TABLE $cat.dv3 (k BIGINT) " +
      "TBLPROPERTIES ('graft.default.k' = 'rand()')"))
    intercept[Exception](sql(s"CREATE TABLE $cat.dv4 (k BIGINT) " +
      "TBLPROPERTIES ('graft.default.nope' = '1')"))
    sql(s"CREATE TABLE $cat.dv5 (k BIGINT, v STRING)")
    intercept[Exception](sql(s"ALTER TABLE $cat.dv5 " +
      "SET TBLPROPERTIES ('graft.default.v' = 'rand()')"))
    intercept[Exception](sql(s"ALTER TABLE $cat.dv5 " +
      "SET TBLPROPERTIES ('graft.default.v' = 'k')"))
    // a VALID declaration through the property route behaves exactly
    // like ALTER COLUMN SET DEFAULT
    sql(s"ALTER TABLE $cat.dv5 SET TBLPROPERTIES ('graft.default.v' = \"'p'\")")
    sql(s"INSERT INTO $cat.dv5 (k) VALUES (1)")
    assert(rows(s"SELECT v FROM $cat.dv5 WHERE k = 1") == Set(Row("p")))
  }

  test("CREATE TABLE with inline CHECK lands the constraint; failures roll the create back") {
    // without the TableInfo create path the constraint would SILENTLY
    // vanish and the first violating INSERT would commit
    sql(s"CREATE TABLE $cat.ick (k BIGINT, CONSTRAINT k_pos CHECK (k > 0))")
    val t = new TxTable(spark, s"$base/ick")
    assert(t.constraints == Map("k_pos" -> "k > 0"))
    val v = t.version
    intercept[Exception](sql(s"INSERT INTO $cat.ick VALUES (-1)"))
    assert(t.version == v && t.read().count() == 0,
      "a violating INSERT must commit nothing")
    sql(s"INSERT INTO $cat.ick VALUES (5)")
    assert(rows(s"SELECT * FROM $cat.ick") == Set(Row(5L)))
    // non-CHECK constraints: rejected loudly, nothing created
    intercept[Exception](sql(
      s"CREATE TABLE $cat.ick2 (k BIGINT, CONSTRAINT pk PRIMARY KEY (k))"))
    // a CHECK the engine cannot bind rolls the create back — CREATE is
    // all-or-nothing, no half-made table left behind
    intercept[Exception](sql(
      s"CREATE TABLE $cat.ick3 (k BIGINT, CONSTRAINT bad CHECK (nope > 0))"))
    intercept[Exception](sql(s"SELECT * FROM $cat.ick3"))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT ... CHECK routes to the engine's gated constraints") {
    sql(s"CREATE TABLE $cat.ck (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.ck VALUES (1, 'a')")
    sql(s"ALTER TABLE $cat.ck ADD CONSTRAINT k_pos CHECK (k > 0)")
    val t = new TxTable(spark, s"$base/ck")
    assert(t.constraints.keySet == Set("k_pos"))
    val v = t.version
    val e = intercept[Exception](sql(s"INSERT INTO $cat.ck VALUES (-1, 'bad')"))
    assert(e.getMessage.contains("k_pos") ||
      Option(e.getCause).exists(_.getMessage.contains("k_pos")))
    assert(t.version == v, "a violating INSERT must commit nothing")
    // declaring a constraint existing data violates fails at DDL time
    intercept[Exception](sql(s"ALTER TABLE $cat.ck ADD CONSTRAINT v_big CHECK (k > 100)"))
    assert(t.constraints.keySet == Set("k_pos"))
    sql(s"ALTER TABLE $cat.ck DROP CONSTRAINT k_pos")
    assert(t.constraints.isEmpty)
    sql(s"INSERT INTO $cat.ck VALUES (-1, 'ok-now')")
    // DROP CONSTRAINT IF EXISTS on a missing name is a no-op
    sql(s"ALTER TABLE $cat.ck DROP CONSTRAINT IF EXISTS nope")
    intercept[Exception](sql(s"ALTER TABLE $cat.ck DROP CONSTRAINT nope"))
  }

  test("streaming by NAME: writeStream.toTable is exactly-once, readStream.table is incremental") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    sql(s"CREATE TABLE $cat.strm (id BIGINT)")
    val stream = MemoryStream[Long]
    val ckpt = tmpDir("cat-toTable-ckpt")
    def runOnce(): Unit = {
      init
      val q = stream.toDF().toDF("id").writeStream
        .format("graft-txtable") // must match the table's provider
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.strm")
      q.awaitTermination()
    }
    stream.addData(1L, 2L)
    runOnce()
    runOnce() // restart with no new data: (queryId, batchId) dedupes
    stream.addData(3L)
    runOnce()
    assert(rows(s"SELECT id FROM $cat.strm") == Set(Row(1L), Row(2L), Row(3L)))
    // read the catalog table AS A STREAM (commit log = source) into a
    // second catalog table by name: both ends of the chain run by name
    sql(s"CREATE TABLE $cat.strm_out (id BIGINT)")
    val outCk = tmpDir("cat-readTable-ckpt")
    def drain(): Seq[Long] = {
      init
      val q = spark.readStream.table(s"$cat.strm")
        .writeStream.format("graft-txtable")
        .option("checkpointLocation", outCk)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.strm_out")
      q.awaitTermination()
      sql(s"SELECT id FROM $cat.strm_out").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(drain() == Seq(1L, 2L, 3L))
    sql(s"INSERT INTO $cat.strm VALUES (9)")
    // incremental: ONLY the new commit flows on the next run — a full
    // re-read would duplicate 1/2/3 in the append-only output
    assert(drain() == Seq(1L, 2L, 3L, 9L))
    // streaming CDC by name: reader options flow through the fallback
    sql(s"DELETE FROM $cat.strm WHERE id = 2")
    val cdcCk = tmpDir("cat-readTable-cdc-ckpt")
    val q = spark.readStream
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .table(s"$cat.strm")
      .writeStream.format("memory").queryName("cat_strm_cdc")
      .option("checkpointLocation", cdcCk)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val changes = spark.table("cat_strm_cdc")
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes == Set((1L, "insert"), (2L, "insert"), (3L, "insert"),
      (9L, "insert"), (2L, "delete")),
      s"streaming CDC by name must serve row-level changes, got $changes")
  }

  test("batch CDC reads: readChangeFeed options, table_changes TVF, and by path") {
    sql(s"CREATE TABLE $cat.cdc (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.cdc VALUES (1, 'a'), (2, 'b')") // v1: inserts
    sql(s"DELETE FROM $cat.cdc WHERE k = 1")               // v2: delete
    val full = Set(
      Row(1L, "a", "insert", 1L), Row(2L, "b", "insert", 1L),
      Row(1L, "a", "delete", 2L))
    withExtSession { s2 =>
      // reader options by NAME (resolution rewrite)
      assert(s2.read
        .option("readChangeFeed", "true").option("startingVersion", 1L)
        .table(s"$cat.cdc")
        .select("k", "v", "_change_type", "_commit_version").collect().toSet == full)
      // bounded range: only the delete commit
      assert(s2.read.option("readChangeFeed", "true")
        .option("startingVersion", 2L).option("endingVersion", 2L)
        .table(s"$cat.cdc").select("_change_type").collect().toSeq ==
        Seq(Row("delete")))
      // the TVF — Delta's documented SQL CDC surface
      assert(s2.sql(
        s"SELECT k, v, _change_type, _commit_version FROM table_changes('$cat.cdc', 1)")
        .collect().toSet == full)
      assert(s2.sql(
        s"SELECT _change_type FROM table_changes('$cat.cdc', 2, 2)")
        .collect().toSeq == Seq(Row("delete")))
      // loud contract: startingVersion required
      intercept[Exception](s2.read.option("readChangeFeed", "true")
        .table(s"$cat.cdc").collect())
    }
    // same surface path-based through the batch format, extensions-free
    init
    val byPath = spark.read.format("graft-txtable")
      .option("path", s"$base/cdc")
      .option("readChangeFeed", "true").option("startingVersion", 2L)
      .load().select("k", "_change_type").collect().toSet
    assert(byPath == Set(Row(1L, "delete")))
    // no time-travel mixing
    intercept[Exception](spark.read.format("graft-txtable")
      .option("path", s"$base/cdc").option("readChangeFeed", "true")
      .option("startingVersion", 1L).option("versionAsOf", 1L).load())
    // by-name CDC without extensions: loud pointer, not a wrong result
    val e = intercept[Exception](spark.read.option("readChangeFeed", "true")
      .option("startingVersion", 1L).table(s"$cat.cdc").collect())
    assert(e.getMessage.contains("GraftExtensions") ||
      e.getMessage.contains("table_changes"))
  }

  test("typed create/addColumns contract: no double create, dropped name gets a fresh slot") {
    val dir = tmpDir("graft-create")
    val t = new TxTable(spark, dir)
    t.create(org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    intercept[Exception](
      t.create(org.apache.spark.sql.types.StructType.fromDDL("x INT")))
    import spark.implicits._
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.dropColumn("v")
    // re-adding the dropped NAME must not resurrect the dead values
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.StringType)))
    assert(t.read().select("k", "v").collect().toSeq == Seq(Row(1L, null)))
    intercept[Exception](t.addColumns(Seq(org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.LongType))))
  }

  test("graft.dml.mergeOnRead routes SQL UPDATE/DELETE through deletion vectors") {
    sql(s"CREATE TABLE $cat.mor (k BIGINT, v STRING)")
    sql(s"INSERT INTO $cat.mor SELECT id, concat('v', id) FROM range(0, 1000)")
    sql(s"ALTER TABLE $cat.mor SET TBLPROPERTIES ('graft.dml.mergeOnRead' = 'true')")
    val t = new TxTable(spark, s"$base/mor")
    val liveBefore = t.state().files.toSet
    // pushable DELETE (SupportsDelete path) masks, never rewrites
    sql(s"DELETE FROM $cat.mor WHERE k = 7")
    // UPDATE / non-pushable DELETE need the extension rewrite rules
    withExtSession { s2 =>
      // non-pushable DELETE (command path) masks too
      s2.sql(s"DELETE FROM $cat.mor WHERE k % 100 = 3")
      // UPDATE masks old versions and appends post-images
      s2.sql(s"UPDATE $cat.mor SET v = concat(v, '!') WHERE k % 100 = 5")
    }
    val st = t.state()
    assert(liveBefore.subsetOf(st.files.toSet),
      "merge-on-read DML must not rewrite the original files")
    assert(st.dvs.nonEmpty, "expected deletion vectors, got none")
    assert(rows(s"SELECT count(*) AS n FROM $cat.mor") == Set(Row(989L)))
    assert(rows(s"SELECT v FROM $cat.mor WHERE k = 105") == Set(Row("v105!")))
    assert(rows(s"SELECT count(*) AS n FROM $cat.mor WHERE k % 100 = 3") == Set(Row(0L)))
    // switching the property off restores copy-on-write routing
    sql(s"ALTER TABLE $cat.mor UNSET TBLPROPERTIES ('graft.dml.mergeOnRead')")
    val filesBefore = t.state().files.toSet
    sql(s"DELETE FROM $cat.mor WHERE k = 11")
    assert(t.state().files.toSet != filesBefore,
      "copy-on-write delete must rewrite the touched file again")
  }
}
