package graft.core

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TxTableSpec extends SparkTestBase {

  import spark.implicits._

  private def table(): TxTable = new TxTable(spark, tmpDir("txtable"))

  test("append/read round trip; every commit bumps the version") {
    val t = table()
    assert(t.version == -1L)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(t.version == 0L)
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.version == 1L)
    assert(t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("data files without a manifest are invisible (crash atomicity)") {
    val t = table()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // a writer that crashed after staging data but before its commit:
    // the file sits in the table dir with no manifest referencing it
    val stray = Seq((99L, "ghost")).toDF("id", "v")
    stray.write.mode("overwrite").parquet(t.tablePath + "/_staging-crash")
    val dir = new java.io.File(t.tablePath + "/_staging-crash")
    val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(t.tablePath, "part-crashed.parquet"))
    assert(t.read().count() == 1L)

    // and a crashed manifest attempt (tmp file in the log) is ignored
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t.tablePath, TxTable.LogDirName, ".tmp-crashed"),
      """{"a":"add","path":"part-crashed.parquet"}""")
    assert(t.read().count() == 1L)
    t.append(Seq((2L, "b")).toDF("id", "v")) // and does not block new commits
    assert(t.read().count() == 2L)
  }

  test("concurrent appends all commit, none lost (optimistic concurrency)") {
    val t = table()
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val writers = (0 until 8).map { w =>
      Future {
        (0 until 3).foreach { i =>
          t.append(Seq((w.toLong * 100 + i, s"w$w-$i")).toDF("id", "v"))
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(t.version == 23L) // 24 commits: v0..v23, no version lost to a race
    val got = t.read().select("id").as[Long].collect().toSet
    val expected = (for (w <- 0 until 8; i <- 0 until 3) yield w.toLong * 100 + i).toSet
    assert(got == expected)
  }

  test("appendBatch is exactly-once per (writer, batchId) under redelivery") {
    val t = table()
    val b0 = Seq((1L, "a")).toDF("id", "v")
    t.appendBatch(b0, "ingest", 0L)
    t.appendBatch(b0, "ingest", 0L) // foreachBatch retry after checkpoint loss
    t.appendBatch(Seq((2L, "b")).toDF("id", "v"), "ingest", 1L)
    t.appendBatch(b0, "ingest", 0L) // stale redelivery below the high-water mark
    assert(t.read().count() == 2L)
    // a different writer's batch 0 is independent
    t.appendBatch(Seq((3L, "c")).toDF("id", "v"), "backfill", 0L)
    assert(t.read().count() == 3L)
  }

  test("overwrite replaces contents atomically; time travel sees history") {
    val t = table()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v0 = t.version
    t.overwrite(Seq((10L, "x")).toDF("id", "v"))
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(10L))
    assert(t.readAt(v0).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    intercept[IllegalArgumentException](t.readAt(t.version + 5))
  }

  test("schema evolution adds nullable columns; type changes fail loudly") {
    val t = table()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b", 3.5)).toDF("id", "v", "score"))
    val rows = t.read().orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(0).isNullAt(2), "pre-evolution rows must read the new column as null")
    assert(rows(1).getDouble(2) == 3.5)
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((3, "c")).toDF("id", "v")) // id: int vs committed bigint
    }
    assert(e.getMessage.contains("conflicts"), e.getMessage)
  }

  test("compact swaps the live set in one commit and preserves time travel") {
    val t = table()
    (0 until 6).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "v")))
    val preVersion = t.version
    def liveFiles = t.state().files.size
    assert(liveFiles == 6)
    t.compact()
    assert(liveFiles == 1, "six tiny files should compact to one")
    assert(t.read().count() == 6L)
    // the pre-compaction snapshot still reads (files are only
    // logically removed until vacuum)
    assert(t.readAt(preVersion).count() == 6L)
  }

  test("bounded compaction bin-packs only the small-file tail") {
    val t = table()
    // one well-sized file (many rows), then a tail of tiny ones
    t.append((0 until 5000).map(i => (i.toLong, s"bulk$i")).toDF("id", "v").coalesce(1))
    (0 until 4).foreach(i => t.append(Seq((10000L + i, s"tiny$i")).toDF("id", "v")))
    val snap = t.state()
    val fsv = new java.io.File(t.tablePath)
    def size(f: String) = new java.io.File(fsv, f).length()
    val big = snap.files.maxBy(size)
    // threshold below the big file: only the 4 tiny files qualify
    t.compact(smallerThan = size(big))
    val after = t.state()
    assert(after.files.contains(big), "the well-sized file must be untouched")
    assert(after.files.size == 2, s"4 tiny files should pack into 1: ${after.files}")
    assert(t.read().count() == 5004L)
    // a second pass finds a single small file -> no-op, no empty commit
    val v = t.version
    t.compact(smallerThan = size(big))
    assert(t.version == v, "one qualifying file: bounded compaction must no-op")
    // unbounded keeps full-rewrite semantics even for a single file
    t.compact()
    assert(t.state().files.size == 1)
  }

  test("predicate-scoped compaction packs only the overlapping files") {
    val t = table()
    // four key-clustered tiny files: [0,9] [10,19] [20,29] [30,39]
    (0 until 4).foreach { b =>
      t.append(Seq((b * 10L, s"a$b"), (b * 10L + 9L, s"b$b"))
        .toDF("id", "v").coalesce(1))
    }
    val before = t.state().files.toSet
    // OPTIMIZE WHERE id <= 19: only the first two files qualify
    t.compact(where = Some(col("id") <= 19L))
    val after = t.state().files
    assert(after.size == 3, s"two overlapping files should pack into one: $after")
    // the out-of-scope files are carried UNTOUCHED (same names)
    assert(after.count(before.contains) == 2)
    assert(t.read().count() == 8L)
    assert(t.scan(col("id") === 15L).count() == 0L) // stats still exact
    // a predicate overlapping one file no-ops (nothing to pack)
    val v = t.version
    t.compact(where = Some(col("id") >= 35L))
    assert(t.version == v, "single-file scope must no-op")
    // a typo'd column must fail loudly, never scope to the whole table
    val e = intercept[IllegalArgumentException](
      t.compact(where = Some(col("idd") <= 19L)))
    assert(e.getMessage.contains("idd"))
  }

  test("SQL-text predicates (expr strings) scope compaction and prune scans") {
    val t = table()
    (0 until 4).foreach { b =>
      t.append(Seq((b * 10L, s"a$b"), (b * 10L + 9L, s"b$b"))
        .toDF("id", "v").coalesce(1))
    }
    val before = t.state().files.toSet
    // the CALL-procedure form: a raw SQL string, NOT a typed Column —
    // it must scope exactly like col("id") <= 19L, not Opaque-match
    // the whole table
    t.compact(where = Some(org.apache.spark.sql.functions.expr("id <= 19")))
    val after = t.state().files
    assert(after.size == 3, s"two overlapping files should pack into one: $after")
    assert(after.count(before.contains) == 2,
      "out-of-scope files must be untouched")
    // scan-side: the same text form prunes files on stats
    assert(t.scan(org.apache.spark.sql.functions.expr("id = 39")).count() == 1L)
    assert(t.prunedFiles(t.state(),
      org.apache.spark.sql.functions.expr("id = 35")).size == 1,
      "a SQL-text equality must stat-prune to the one overlapping file")
    // string literals land in UTF8String form — must still compare
    assert(t.prunedFiles(t.state(),
      org.apache.spark.sql.functions.expr("v = 'a0'")).size == 1)
    // typo'd column in text form: loud, same as the typed path
    val e = intercept[IllegalArgumentException](
      t.compact(where = Some(org.apache.spark.sql.functions.expr("idd <= 19"))))
    assert(e.getMessage.contains("idd"))
    // unparseable text degrades to Opaque (reads all), never throws
    assert(t.scan(org.apache.spark.sql.functions.expr("id = 39") &&
      org.apache.spark.sql.functions.expr("v IS NOT NULL")).count() == 1L)
  }

  test("an all-opaque compact WHERE fails loudly, never compacts the world") {
    val t = table()
    (0 until 4).foreach { b =>
      t.append(Seq((b * 10L, s"a$b"), (b * 10L + 9L, s"b$b"))
        .toDF("id", "v").coalesce(1))
    }
    // arithmetic classifies Opaque: nothing prunable → the WHERE can't
    // scope the pass. Silent before, it would rewrite all 4 files.
    val before = t.state().files.toSet
    val v = t.version
    val e = intercept[IllegalArgumentException](
      t.compact(where = Some(org.apache.spark.sql.functions.expr("id + 1 <= 20"))))
    assert(e.getMessage.contains("opaque"))
    assert(t.version == v && t.state().files.toSet == before,
      "a rejected scoped pass must leave the layout untouched")
    // an OR whose every branch is opaque prunes nothing either — the
    // guard must not fail open on the OrShape wrapper
    val eo = intercept[IllegalArgumentException](
      t.compact(where = Some(
        org.apache.spark.sql.functions.expr("id + 1 <= 20 OR id + 1 >= 35"))))
    assert(eo.getMessage.contains("opaque"))
    assert(t.version == v && t.state().files.toSet == before)
    // but an OR whose branches each carry a prunable conjunct scopes:
    // [0,9]|[30,39] → two files pack, the middle two are untouched
    t.compact(where = Some(
      org.apache.spark.sql.functions.expr("id <= 9 OR id >= 30")))
    assert(t.state().files.size == 3 && t.read().count() == 8L)
    // a mixed predicate with ONE prunable conjunct still scopes fine:
    // id <= 19 overlaps the packed [0..39]-range file and [10,19]
    t.compact(where = Some(org.apache.spark.sql.functions.expr("id <= 19") &&
      org.apache.spark.sql.functions.expr("id + 1 <= 20")))
    assert(t.state().files.size == 2,
      "the prunable conjunct must scope the pass to the two overlapping files")
    assert(t.read().count() == 8L)
  }

  test("vacuum physically drops unreferenced files; the live read survives") {
    val t = table()
    (0 until 4).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "v")))
    t.compact()
    def parquetOnDisk = new java.io.File(t.tablePath).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetOnDisk == 5) // 4 logically-removed + 1 compacted
    // DRY RUN reports the four dead files and deletes nothing
    val planned = t.vacuum(retainVersions = 0, olderThanMs = 0L, dryRun = true)
    assert(planned.size == 4, s"dry run should list the dead files: $planned")
    assert(parquetOnDisk == 5)
    val swept = t.vacuum(retainVersions = 0, olderThanMs = 0L)
    assert(swept.sorted == planned.sorted, "the real sweep removes what the dry run listed")
    assert(parquetOnDisk == 1)
    assert(t.read().count() == 4L)
  }

  test("readChanges returns exactly the appended rows, skips compactions, rejects overwrites") {
    val t = table()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val v1 = t.version
    t.append(Seq((3L, "c")).toDF("id", "v"))
    // only the commit after v1
    assert(t.readChanges(v1, t.version).select("id").as[Long].collect().toSeq == Seq(3L))
    // the full history from before v0
    assert(t.readChanges(-1L, t.version).count() == 3L)
    // a compaction in the range is invisible to the incremental reader
    val v2 = t.version
    t.compact()
    assert(t.readChanges(v2, t.version).count() == 0L)
    t.append(Seq((4L, "d")).toDF("id", "v"))
    assert(t.readChanges(v2, t.version).select("id").as[Long].collect().toSeq == Seq(4L))
    // an overwrite breaks append-only semantics: loud, not silent
    val v3 = t.version
    t.overwrite(Seq((9L, "z")).toDF("id", "v"))
    val e = intercept[IllegalStateException](t.readChanges(v3, t.version).count())
    assert(e.getMessage.contains("re-sync"), e.getMessage)
  }

  test("scan skips files by manifest stats and equals the unpruned filtered read") {
    val t = table()
    // four commits with disjoint id ranges -> four range-clustered files
    t.append(Seq((0L, "a0"), (9L, "a9")).toDF("id", "v").coalesce(1))
    t.append(Seq((10L, "b0"), (19L, "b9")).toDF("id", "v").coalesce(1))
    t.append(Seq((20L, "c0"), (29L, "c9")).toDF("id", "v").coalesce(1))
    t.append(Seq((30L, "d0"), (39L, "d9")).toDF("id", "v").coalesce(1))
    val s = t.state()
    assert(s.files.size == 4)
    assert(s.stats.size == 4, "every staged file should carry footer stats")
    def kept(p: org.apache.spark.sql.Column) = t.prunedFiles(s, p).size
    assert(kept(col("id") > 25L) == 2)
    assert(kept(col("id") === 15L) == 1)
    assert(kept(col("id") < 5L) == 1)
    assert(kept(col("id") >= 10L && col("id") <= 19L) == 1)
    assert(kept(lit(25L) < col("id")) == 2) // reversed orientation
    assert(kept(col("v") >= "c") == 2) // string stats
    assert(kept(col("id").isNull) == 0) // nulls: 0 everywhere -> all skipped
    assert(kept(col("id").isNotNull) == 4)
    // IN-list: only files whose [min,max] covers at least one value
    assert(kept(col("id").isin(5L, 15L)) == 2)
    assert(kept(col("id").isin(100L, 200L)) == 0)
    assert(kept(col("v").isin("a0", "zz")) == 1) // string IN
    assert(t.scan(col("id").isin(5L, 19L, 29L)).select("id").as[Long]
      .collect().sorted.toSeq == Seq(19L, 29L))
    assert(kept(col("v").contains("x")) == 4) // unsupported shape: never skips
    // null-safe equality prunes like `=` (CDC dead-key predicate form)
    assert(kept(col("id") <=> 15L) == 1)
    assert(kept(col("id") <=> lit(null)) == 0) // nulls: 0 everywhere
    assert(t.scan(col("id") <=> 19L).count() == 1L)
    // prefix predicates prune on the string range (LIKE 'c%' shape)
    assert(kept(col("v").startsWith("c")) == 1)
    assert(kept(col("v").startsWith("zz")) == 0)
    assert(kept(col("v").startsWith("")) == 4) // vacuous prefix keeps all
    assert(t.scan(col("v").startsWith("d")).select("v").as[String]
      .collect().sorted.toSeq == Seq("d0", "d9"))
    // disjunctions skip too: a file survives iff SOME branch might match
    assert(kept(col("id") < 5L || col("id") > 35L) == 2)
    assert(kept(col("id") === 15L || col("id") === 25L) == 2)
    assert(kept(col("id") > 100L || col("id") < -5L) == 0)
    // branch with a conjunction; branch with an unprovable shape keeps all
    assert(kept(col("id") === 15L || (col("id") >= 30L && col("id") <= 33L)) == 2)
    assert(kept(col("id") === 15L || col("v").contains("x")) == 4)
    // nested OR under AND under OR flattens soundly
    assert(kept((col("id") < 5L || col("id") > 35L) && col("id") > 11L) == 1)
    assert(t.scan(col("id") < 5L || col("id") > 35L).select("id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 39L))
    // the skipped scan returns exactly the plain filtered read
    assert(t.scan(col("id") > 25L).select("id").as[Long].collect().sorted.toSeq
      == Seq(29L, 30L, 39L))
    assert(t.scan(col("id") === 15L).count() == 0L) // pruned to 1 file, no match
    assert(t.scan(col("v") >= "c").count() == 4L)

    // stats ride the rewrite: after compaction the scan is still exact
    t.compact()
    assert(t.state().stats.size == 1)
    assert(t.scan(col("id") > 25L).select("id").as[Long].collect().sorted.toSeq
      == Seq(29L, 30L, 39L))
  }

  test("checkpoints bound state replay; truncateLog prunes history below them") {
    val dir = tmpDir("txtable-ckpt-log")
    val t = new TxTable(spark, dir, checkpointInterval = 4)
    (0 until 10).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "v")))
    val logFiles = new java.io.File(dir, TxTable.LogDirName).list().sorted
    assert(logFiles.count(_.endsWith(".ckpt.json")) == 2, // v4 and v8
      logFiles.mkString(","))

    // a fresh handle resolves state through the checkpoint path
    val t2 = new TxTable(spark, dir, checkpointInterval = 4)
    assert(t2.version == 9L)
    assert(t2.read().count() == 10L)
    assert(t2.readAt(2L).count() == 3L) // below the checkpoint, manifests intact

    t2.truncateLog()
    val after = new java.io.File(dir, TxTable.LogDirName).list().sorted
    assert(!after.exists(n => n.startsWith("v0000000000000000000") &&
      n.stripPrefix("v").take(20).toLong < 8 && n.endsWith(".json") && !n.endsWith(".ckpt.json")),
      after.mkString(","))
    // head state and post-checkpoint time travel survive truncation
    assert(t2.read().count() == 10L)
    assert(t2.version == 9L)
    assert(t2.readAt(8L).count() == 9L)
    // pre-checkpoint history is gone — loudly, not silently empty
    val e = intercept[IllegalStateException](t2.readAt(2L))
    assert(e.getMessage.contains("truncation"), e.getMessage)
    // appends continue normally on the truncated log
    t2.append(Seq((10L, "r10")).toDF("id", "v"))
    assert(t2.read().count() == 11L)
    // exactly-once txn marks survive via the checkpoint: the writer
    // high-water recorded before truncation still dedupes
    val t3 = new TxTable(spark, tmpDir("txtable-ckpt-txn"), checkpointInterval = 2)
    (0 until 4).foreach(i => t3.appendBatch(Seq((i.toLong, "x")).toDF("id", "v"), "w", i.toLong))
    t3.truncateLog()
    t3.appendBatch(Seq((0L, "x")).toDF("id", "v"), "w", 0L) // redelivery below the mark
    assert(t3.read().count() == 4L)
  }

  test("z-order clustering prunes on BOTH clustered columns") {
    val dir = tmpDir("txtable-zorder")
    val t = new TxTable(spark, dir)
    // 64x64 grid appended in row-major order: a plain layout clusters
    // x only, so a y-range predicate alone prunes nothing
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    t.append(grid.toDF("x", "y").repartitionByRange(16, col("x"))
      .sortWithinPartitions("x", "y"))
    val linear = t.state()
    val probe = col("x") >= 0L && col("x") <= 7L && col("y") >= 0L && col("y") <= 7L
    val yOnly = col("y") >= 0L && col("y") <= 7L
    // linear layout: x-range prunes, y-range cannot
    assert(t.prunedFiles(linear, yOnly).size == linear.files.size,
      "row-major layout must NOT prune on the trailing column (the problem z-order solves)")

    t.cluster(Seq("x", "y"), targetFiles = 16)
    val zed = t.state()
    assert(zed.files.size == 16, zed.files.size.toString)
    // the z-layout localizes BOTH dimensions: an (x,y) tile probe
    // opens a small corner of the table, and even y-alone prunes
    val tile = t.prunedFiles(zed, probe)
    assert(tile.size <= 4, s"z-order tile probe opened ${tile.size} of 16 files")
    assert(t.prunedFiles(zed, yOnly).size < zed.files.size,
      "z-order must prune on the non-leading column too")
    // rows unchanged, scan still exact
    assert(t.read().count() == 64L * 64)
    assert(t.scan(probe).count() == 64L)
    // the rewrite is invisible to incremental consumers (like compact)
    assert(t.changedFiles(linear.version, zed.version).isEmpty)
  }

  test("merge upserts null-keyed rows IN PLACE (null-safe key matching)") {
    import spark.implicits._
    // found by the deep CDC replica fuzz: plain-equality semi/anti key
    // joins never match a NULL key, so a null-keyed upsert APPENDED a
    // duplicate — and a replica applying CDC post-images by merge
    // could never converge with an upstream in-place update
    val t = table()
    t.append(Seq((Option(1L), "a"), (Option.empty[Long], "n1")).toDF("k", "v"))
    t.merge(Seq((Option.empty[Long], "n2")).toDF("k", "v"), Seq("k"))
    val rows = t.read().select("k", "v").as[(Option[Long], String)].collect().toSet
    assert(rows == Set((Some(1L), "a"), (None, "n2")),
      s"the null-keyed row must be REPLACED, not duplicated: $rows")
    // the change feed records the replacement as update pre/post
    val feed = t.readChangeFeed(0, t.version)
      .select(col(TxTable.ChangeTypeCol), col("v")).as[(String, String)]
      .collect().toSet
    assert(feed == Set(("update_preimage", "n1"), ("update_postimage", "n2")),
      s"null-keyed replace must ride the feed as an update: $feed")
  }

  test("deleteKeys removes a distributed key set with minimal rewrite + CDF deletes") {
    import spark.implicits._
    val dir = tmpDir("txtable-delkeys")
    val t = new TxTable(spark, dir)
    // three key-clustered files + a null-keyed row in the last
    (0 until 2).foreach { b =>
      t.append((b * 10 until b * 10 + 10)
        .map(i => (Option(i.toLong), s"old$i")).toDF("k", "v").coalesce(1))
    }
    t.append(Seq((Option(20L), "old20"), (Option.empty[Long], "nullrow"))
      .toDF("k", "v").coalesce(1))
    val before = t.state()
    assert(before.files.size == 3)
    // the dead set lives in a FRAME (never collected): keys 12, 15
    // (file 2), the null key (file 3), and an absent key
    val dead = Seq(Option(12L), Option(15L), Option.empty[Long], Option(999L))
      .toDF("k")
    t.deleteKeys(dead, Seq("k"))
    val after = t.state()
    assert(before.files.count(after.files.contains) == 1,
      s"only the two files holding dead keys may rewrite: ${after.files}")
    val rows = t.read().select("k", "v").as[(Option[Long], String)].collect().toSet
    assert(rows.size == 19) // 22 rows - keys 12, 15 and the null row
    assert(!rows.exists(r => r._1.contains(12L) || r._1.contains(15L) || r._1.isEmpty))
    assert(rows.contains((Some(11L), "old11")) && rows.contains((Some(20L), "old20")))
    // the change feed carries exactly the three deletes
    val feed = t.readChangeFeed(before.version, t.version)
      .select(col(TxTable.ChangeTypeCol), col("v")).as[(String, String)].collect().toSet
    assert(feed == Set(("delete", "old12"), ("delete", "old15"), ("delete", "nullrow")))
    // an all-absent key set is a provable no-op (no commit)
    val v = t.version
    t.deleteKeys(Seq(Option(777L)).toDF("k"), Seq("k"))
    assert(t.version == v)
  }

  test("merge upserts matched keys, inserts new ones, rewrites only touched files") {
    val dir = tmpDir("txtable-merge")
    val t = new TxTable(spark, dir)
    // three key-clustered files: [0,9], [10,19], [20,29]
    (0 until 3).foreach { b =>
      t.append((b * 10 until b * 10 + 10).map(i => (i.toLong, s"old$i")).toDF("k", "v")
        .coalesce(1))
    }
    val before = t.state()
    assert(before.files.size == 3)
    // source touches keys 12 and 15 (file 2 only) and inserts key 100
    t.merge(Seq((12L, "NEW12"), (15L, "NEW15"), (100L, "NEW100")).toDF("k", "v"),
      Seq("k"))
    val after = t.state()
    // exactly one of the three original files was rewritten
    assert(before.files.count(after.files.contains) == 2,
      s"merge must rewrite only the touched file: ${after.files}")
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 31)
    assert(rows(12L) == "NEW12" && rows(15L) == "NEW15" && rows(100L) == "NEW100")
    assert(rows(11L) == "old11" && rows(25L) == "old25")
    // history: the pre-merge snapshot is intact one version back
    assert(t.readAt(before.version).count() == 30)
    // duplicate source keys are rejected loudly
    val e = intercept[IllegalArgumentException](
      t.merge(Seq((1L, "a"), (1L, "b")).toDF("k", "v"), Seq("k")))
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    // merge into an empty table is an insert-all
    val t2 = new TxTable(spark, tmpDir("txtable-merge-empty"))
    t2.merge(Seq((1L, "x")).toDF("k", "v"), Seq("k"))
    assert(t2.read().count() == 1)
  }

  test("delete removes exactly the predicate-true rows, pruning untouched files") {
    val dir = tmpDir("txtable-del")
    val t = new TxTable(spark, dir)
    (0 until 3).foreach { b =>
      t.append((b * 10 until b * 10 + 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1))
    }
    val before = t.state()
    // predicate hits only the middle file's range: manifest stats keep
    // the other two from even being scanned, and only one file rewrites
    t.delete(col("k") >= 13L && col("k") <= 17L)
    val after = t.state()
    assert(before.files.count(after.files.contains) == 2,
      s"delete must rewrite only the matching file: ${after.files}")
    assert(t.read().count() == 25)
    assert(t.read().where(col("k").between(13, 17)).count() == 0)
    // a predicate matching nothing commits nothing
    val v = t.version
    t.delete(col("k") > 1000L)
    assert(t.version == v, "no matching rows: delete must not commit")
    // history intact
    assert(t.readAt(before.version).count() == 30)
  }

  test("update rewrites predicate-true rows in place, pruning untouched files") {
    val dir = tmpDir("txtable-upd")
    val t = new TxTable(spark, dir)
    (0 until 3).foreach { b =>
      t.append((b * 10 until b * 10 + 10).map(i => (i.toLong, s"v$i", i * 1.0))
        .toDF("k", "v", "x").coalesce(1))
    }
    val before = t.state()
    // predicate hits only the middle file's range; SET a = f(b), b = f(a)
    // must evaluate against the PRE-update row (SQL UPDATE semantics)
    t.update(col("k").between(13L, 17L), Map(
      "v" -> org.apache.spark.sql.functions.concat(col("v"),
        org.apache.spark.sql.functions.lit("!")),
      "x" -> (col("x") + col("k"))))
    val after = t.state()
    assert(before.files.count(after.files.contains) == 2,
      s"update must rewrite only the matching file: ${after.files}")
    val rows = t.read().collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(rows.size == 30, "update must never change the row count")
    assert(rows(15L) == (("v15!", 30.0)) && rows(13L) == (("v13!", 26.0)))
    assert(rows(12L) == (("v12", 12.0)) && rows(25L) == (("v25", 25.0)))
    // assignments cast to the column's type: schema must not drift
    assert(t.schemaOption.get == before.schema.get)
    // row-level change record committed atomically with the rewrite
    val cdf = t.readChangeFeed(before.version, t.version)
      .select("k", "v", TxTable.ChangeTypeCol)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(cdf == (13L to 17L).flatMap(i =>
      Seq((i, s"v$i", "update_preimage"), (i, s"v$i!", "update_postimage"))).toSet)
    // no-match predicate and unknown SET column: no commit, loud error
    val v = t.version
    t.update(col("k") > 1000L, Map("v" -> org.apache.spark.sql.functions.lit("z")))
    assert(t.version == v, "no matching rows: update must not commit")
    val e = intercept[IllegalArgumentException](
      t.update(col("k") === 1L, Map("nope" -> col("v"))))
    assert(e.getMessage.contains("unknown column"), e.getMessage)
    // pre-update snapshot intact
    assert(t.readAt(before.version).where(col("v") === "v15").count() == 1)
  }

  test("CHECK constraints gate every write path; existing data validated at DDL") {
    val dir = tmpDir("txtable-chk")
    val t = new TxTable(spark, dir, checkpointInterval = 4)
    t.append(Seq((1L, Some(10.0)), (2L, Some(20.0))).toDF("k", "x")) // v0
    // a constraint the existing data violates is rejected pre-commit
    val e0 = intercept[IllegalArgumentException](t.addConstraint("x_big", "x > 15.0"))
    assert(e0.getMessage.contains("existing"), e0.getMessage)
    t.addConstraint("x_pos", "x > 0.0") // v1
    assert(t.constraints == Map("x_pos" -> "x > 0.0"))

    def liveParquet(): Int = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

    // violating APPEND aborts: no commit, no orphaned staged file
    val before = (t.version, t.read().count(), liveParquet())
    val e1 = intercept[IllegalArgumentException](
      t.append(Seq((3L, Some(-1.0))).toDF("k", "x")))
    assert(e1.getMessage.contains("x_pos"), e1.getMessage)
    // violating UPDATE, MERGE and OVERWRITE abort the same way
    intercept[IllegalArgumentException](
      t.update(col("k") === 1L, Map("x" -> lit(-5.0))))
    intercept[IllegalArgumentException](
      t.merge(Seq((2L, Some(-9.0))).toDF("k", "x"), Seq("k")))
    intercept[IllegalArgumentException](
      t.overwrite(Seq((9L, Some(-2.0))).toDF("k", "x")))
    assert((t.version, t.read().count(), liveParquet()) == before,
      "a rejected write must leave no version, row, or file behind")

    // NULL passes (SQL CHECK semantics), as does a batch omitting the
    // column entirely (schema evolution reads it back as NULL)
    t.append(Seq((4L, Option.empty[Double])).toDF("k", "x")) // v2
    t.append(Seq(Tuple1(5L)).toDF("k")) // v3
    assert(t.read().count() == 4)
    // valid mutations still work under the constraint
    t.update(col("k") === 1L, Map("x" -> lit(99.0))) // v4
    // constraints survive a checkpoint + log truncation round trip
    assert(t.version == 4L && t.version >= 4) // v4 hit checkpointInterval=4
    t.truncateLog()
    val reopened = new TxTable(spark, dir, checkpointInterval = 4)
    assert(reopened.constraints == Map("x_pos" -> "x > 0.0"))
    intercept[IllegalArgumentException](
      reopened.append(Seq((6L, Some(-3.0))).toDF("k", "x")))

    // drop: unknown name fails loudly; after a real drop the write lands
    val e2 = intercept[IllegalArgumentException](t.dropConstraint("nope"))
    assert(e2.getMessage.contains("x_pos"), e2.getMessage)
    t.dropConstraint("x_pos") // v5
    t.append(Seq((7L, Some(-1.0))).toDF("k", "x")) // v6: violating row now legal
    assert(t.read().where(col("x") < 0).count() == 1)
  }

  test("convert claims an existing parquet directory in place, no data copied") {
    val dir = tmpDir("txtable-convert")
    // a pre-existing plain parquet directory, key-clustered into 4 files
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    new java.io.File(dir, "_SUCCESS").delete()
    val preFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap

    val t = TxTable.convert(spark, dir)
    assert(t.version == 0L)
    assert(t.read().count() == 100)
    // IN PLACE: the same files, byte-untouched
    val postFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(postFiles == preFiles, "convert must not move or rewrite any file")
    // footer stats were collected: skipping works immediately
    assert(t.prunedFiles(t.state(), col("k").between(30L, 40L)).size < 4)
    // the directory is now a full table: ACID verbs work on it
    t.update(col("k") === 5L, Map("v" -> lit("FIVE")))
    t.append(Seq((100L, "new")).toDF("k", "v"))
    assert(t.read().where(col("v") === "FIVE").count() == 1 && t.read().count() == 101)
    // a second convert refuses: there is a log now
    val e = intercept[IllegalArgumentException](TxTable.convert(spark, dir))
    assert(e.getMessage.contains("already has a transaction log"), e.getMessage)
  }

  test("merge-on-read delete masks rows without touching any data file") {
    val dir = tmpDir("txtable-mor")
    val t = new TxTable(spark, dir)
    t.append((0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val liveBefore = t.state().files.toSet
    val mtimes = new java.io.File(dir).listFiles()
      .filter(f => liveBefore(f.getName)).map(f => f.getName -> f.lastModified).toMap

    t.deleteMergeOnRead(col("k") % 100L === 7L) // 10 rows across all 4 files
    // no data file moved or rewritten: the delete is sidecars + one commit
    assert(t.state().files.toSet == liveBefore)
    assert(new java.io.File(dir).listFiles()
      .filter(f => liveBefore(f.getName)).map(f => f.getName -> f.lastModified).toMap
      == mtimes, "merge-on-read must not rewrite data files")
    assert(t.state().dvs.size == 4 && t.state().dvs.values.map(_.deleted).sum == 10L)
    assert(t.read().count() == 990)
    assert(t.read().where(col("k") % 100L === 7L).count() == 0)
    // time travel still sees the masked rows; scan stays exact
    assert(t.readAt(0L).count() == 1000)
    assert(t.scan(col("k") < 100L).count() ==
      t.read().where(col("k") < 100L).count())
    // a second delete unions into the per-file vectors
    t.deleteMergeOnRead(col("k") % 100L === 8L)
    assert(t.read().count() == 980)
    assert(t.state().dvs.values.map(_.deleted).sum == 20L)
    // both commits carry a full delete change record
    val feed = t.readChangeFeed(0L, 2L)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "delete").count() == 20)
    // deleting already-deleted rows is a no-op commit-wise
    val v = t.version
    t.deleteMergeOnRead(col("k") % 100L === 7L)
    assert(t.version == v && t.read().count() == 980)
    assert(t.history().exists(_.operation == "UPDATE/DELETE (DV)"))
    // the batch format read applies the mask too
    assert(spark.read.format("graft-txtable").option("path", dir).load().count() == 980)
  }

  test("merge-on-read update masks old versions and appends new ones; zero data files rewritten") {
    val dir = tmpDir("txtable-morupd")
    val t = new TxTable(spark, dir)
    t.append((0 until 1000).map(i => (i.toLong, i.toLong, s"v$i")).toDF("k", "n", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val liveBefore = t.state().files.toSet
    val mtimes = new java.io.File(dir).listFiles()
      .filter(f => liveBefore(f.getName)).map(f => f.getName -> f.lastModified).toMap

    // SET evaluated against the PRE-update row: swap semantics hold
    t.updateMergeOnRead(col("k") % 100L === 7L,
      Map("n" -> (col("n") + col("k")), "v" -> concat(lit("U-"), col("v"))))
    val st = t.state()
    // every original file still live and untouched on disk (the
    // zero-data-file-rewrite invariant), each carrying a vector
    assert(liveBefore.subsetOf(st.files.toSet), "original files must stay live")
    assert(new java.io.File(dir).listFiles()
      .filter(f => liveBefore(f.getName)).map(f => f.getName -> f.lastModified).toMap
      == mtimes, "merge-on-read update must not rewrite data files")
    assert(st.dvs.keySet == liveBefore && st.dvs.values.map(_.deleted).sum == 10L)
    assert((st.files.toSet -- liveBefore).nonEmpty, "updated rows must append as new files")
    // logical result: exact UPDATE semantics
    assert(t.read().count() == 1000)
    val updated = t.read().where(col("k") % 100L === 7L).collect()
    assert(updated.length == 10)
    updated.foreach { r =>
      assert(r.getLong(1) == 2 * r.getLong(0), s"n must be pre-update n + k: $r")
      assert(r.getString(2) == s"U-v${r.getLong(0)}")
    }
    assert(t.read().where(col("k") % 100L =!= 7L && col("v").startsWith("U-")).count() == 0)
    // time travel: the pre-update snapshot is intact
    assert(t.readAt(0L).where(col("v").startsWith("U-")).count() == 0)
    // change feed: one pre/post image pair per updated row
    val feed = t.readChangeFeed(0L, t.version)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "update_preimage").count() == 10)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "update_postimage"
      && col("v").startsWith("U-")).count() == 10)
    // a second MOR update unions into the per-file vectors; updating
    // the SAME rows masks their appended versions, not the originals twice
    t.updateMergeOnRead(col("k") % 100L === 7L, Map("v" -> concat(col("v"), lit("!"))))
    assert(t.read().count() == 1000)
    assert(t.read().where(col("v").endsWith("!")).count() == 10)
    assert(t.history().exists(_.operation == "UPDATE/DELETE (DV)"))
    // batch format read applies masks too
    assert(spark.read.format("graft-txtable").option("path", dir).load()
      .where(col("v").endsWith("!")).count() == 10)
  }

  test("merge-on-read update materializes files past the rewrite fraction") {
    val dir = tmpDir("txtable-morupd-rw")
    val t = new TxTable(spark, dir)
    t.append((0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    // update 60% of the low half: the two low files cross the fraction
    t.updateMergeOnRead(col("k") < 300L, Map("v" -> lit("LOW")),
      rewriteAtFraction = 0.5)
    val st = t.state()
    assert(t.read().count() == 1000)
    assert(t.read().where(col("v") === "LOW").count() == 300)
    // the crossed files materialized: no vector survives on them
    assert(st.dvs.isEmpty || st.dvs.values.map(_.deleted).sum < 300L,
      s"past-threshold files must rewrite, got ${st.dvs}")
    // orphaned sidecars sweep clean
    t.vacuum(retainVersions = 0, olderThanMs = -1000L)
    assert(!new java.io.File(dir).listFiles().exists(f =>
      f.getName.startsWith("dv-") && !st.dvs.values.exists(_.dvFile == f.getName)))
  }

  test("merge-on-read delete rewrites files past the rewrite fraction") {
    val dir = tmpDir("txtable-mor-rw")
    val t = new TxTable(spark, dir)
    t.append((0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    // seed a small vector first so the rewrite must fold it in
    t.deleteMergeOnRead(col("k") === 300L)
    assert(t.state().dvs.size == 1)
    // delete the whole low half: the two low files cross the fraction
    // (one fully deleted -> leaves the table; one part-deleted -> CoW)
    t.deleteMergeOnRead(col("k") < 500L, rewriteAtFraction = 0.5)
    val st = t.state()
    assert(t.read().count() == 500)
    assert(t.read().agg(min(col("k"))).head.getLong(0) == 500L)
    // no vector survives on any rewritten file; untouched files carry none
    assert(st.dvs.isEmpty, s"expected no vectors left, got ${st.dvs}")
    // orphaned sidecars are swept by vacuum once aged
    t.vacuum(retainVersions = 0, olderThanMs = -1000L)
    val straySidecars = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("dv-"))
    assert(straySidecars.isEmpty,
      s"vacuum left ${straySidecars.map(_.getName).mkString(", ")}")
  }

  test("compact materializes deletion vectors; restore re-points them") {
    val dir = tmpDir("txtable-mor-maint")
    val t = new TxTable(spark, dir)
    t.append((0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")) // v0
    t.deleteMergeOnRead(col("k") % 10L === 3L) // v1: 100 rows masked
    assert(t.read().count() == 900)

    t.restore(0L) // v2: resurrect the masked rows, metadata-only
    assert(t.read().count() == 1000 && t.state().dvs.isEmpty)
    t.restore(1L) // v3: re-apply the vectors
    assert(t.read().count() == 900 && t.state().dvs.size == 4)

    t.compact(targetBytes = 1L << 30) // rewrite reads THROUGH the mask
    assert(t.state().dvs.isEmpty, "compaction must purge vectors")
    assert(t.read().count() == 900)
    assert(t.read().where(col("k") % 10L === 3L).count() == 0)
    // update on a masked table only sees live rows (v4 has no mask now,
    // so mutate again first)
    t.deleteMergeOnRead(col("k") % 10L === 4L)
    t.update(col("k") < 10L, Map("v" -> lit("LOW")))
    assert(t.read().where(col("v") === "LOW").count() == 8) // 3, 4 masked
    assert(t.read().count() == 800)
  }

  test("deletion vectors survive checkpoint, log truncation and vacuum") {
    val dir = tmpDir("txtable-mor-ckpt")
    val t = new TxTable(spark, dir, checkpointInterval = 2)
    t.append((0 until 100).map(i => (i.toLong, i % 5)).toDF("k", "m")) // v0
    t.deleteMergeOnRead(col("m") === 2L) // v1: 20 rows masked
    t.append(Seq((100L, 9)).toDF("k", "m")) // v2: checkpoint lands here
    t.truncateLog()
    t.vacuum(retainVersions = 0, olderThanMs = -1000L)
    // a fresh instance replays from the checkpoint alone
    val t2 = new TxTable(spark, dir, checkpointInterval = 2)
    assert(t2.read().count() == 81)
    assert(t2.read().where(col("m") === 2L).count() == 0)
    assert(t2.state().dvs.values.map(_.deleted).sum == 20L)
  }

  test("change feed: appends, merges and deletes yield row-level change records") {
    val dir = tmpDir("txtable-cdf")
    val t = new TxTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")) // v0
    t.merge(Seq((2L, "B2"), (9L, "i9")).toDF("k", "v"), Seq("k")) // v1
    t.delete(col("k") === 3L) // v2
    t.compact() // v3: rows unchanged, must be invisible to the feed

    def feed(from: Long, to: Long) =
      t.readChangeFeed(from, to)
        .select("k", "v", TxTable.ChangeTypeCol, TxTable.CommitVersionCol)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet

    // append commit: synthesized inserts
    assert(feed(-1, 0) == Set((1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (3L, "c", "insert", 0L)))
    // merge commit: pre/post images for the matched key, insert for the new
    assert(feed(0, 1) == Set((2L, "b", "update_preimage", 1L),
      (2L, "B2", "update_postimage", 1L), (9L, "i9", "insert", 1L)))
    // delete commit: the removed row
    assert(feed(1, 2) == Set((3L, "c", "delete", 2L)))
    // whole range unions; the compaction contributes nothing
    assert(feed(-1, 3).size == 7)
    // readChanges (file-level) still rejects the merge range — the
    // feed is the row-level alternative that survives it
    intercept[IllegalStateException](t.readChanges(0, 1))
    // an overwrite has no row-level record: loud failure, not silence
    t.overwrite(Seq((7L, "z")).toDF("k", "v")) // v4
    val e = intercept[IllegalStateException](t.readChangeFeed(3, 4))
    assert(e.getMessage.contains("re-sync"), e.getMessage)

    // vacuum keeps referenced change files readable
    t.vacuum(retainVersions = 100, olderThanMs = 0L)
    assert(feed(0, 1).size == 3, "cdf files must survive vacuum while referenced")
  }

  test("change feed pads pre-evolution change files with later-added columns") {
    val t = table()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // v0
    t.merge(Seq((2L, "B")).toDF("k", "v"), Seq("k")) // v1: cdf written with (k, v)
    t.append(Seq((3L, "c", 9L)).toDF("k", "v", "w")) // v2: schema evolves
    // a range serving ONLY the pre-evolution change file must still
    // surface the current schema (w as null), or a consumer selecting
    // the full schema would wedge on exactly that batch forever
    val feed = t.readChangeFeed(0, 1)
    assert(feed.columns.toSet ==
      Set("k", "v", "w", TxTable.ChangeTypeCol, TxTable.CommitVersionCol))
    assert(feed.count() == 2) // pre + post image
    assert(feed.where(col("w").isNotNull).count() == 0)
  }

  // Spawn a child JVM running TxTableRaceHelper and run `race` in this
  // process while it writes; returns after asserting the child exited 0.
  private def withChildWriter(dir: String, n: Int, tag: String, mode: String)
                             (race: => Unit): Unit = {
    val javaBin = sys.props("java.home") + "/bin/java"
    // reuse this JVM's --add-opens flags (JDK17 + Spark); they arrive
    // either as one "--add-opens=..." token or as a flag/value pair
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toVector
    }
    val addOpens = jvmArgs.zipWithIndex.flatMap { case (a, i) =>
      if (a == "--add-opens" || a == "--add-exports")
        Seq(a, jvmArgs(i + 1))
      else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports="))
        Seq(a)
      else Nil
    }
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
      "-cp", sys.props("java.class.path"),
      "graft.core.TxTableRaceHelper", dir, n.toString, tag, mode)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new java.io.ByteArrayOutputStream()
    val drain = new Thread(() =>
      org.apache.hadoop.io.IOUtils.copyBytes(proc.getInputStream, out, 8192, false))
    drain.setDaemon(true)
    drain.start()
    try race
    finally {
      assert(proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        { proc.destroyForcibly(); "helper JVM timed out" })
      drain.join(10000)
      assert(proc.exitValue() == 0,
        s"helper JVM failed:\n${out.toString("UTF-8").takeRight(4000)}")
    }
  }

  test("two JVMs appending concurrently: every commit lands, versions contiguous") {
    val dir = tmpDir("txtable-2jvm")
    val t = new TxTable(spark, dir)
    t.append(Seq(("seed", 0L)).toDF("k", "v")) // v0: schema exists for both writers
    val n = 6
    // the claim primitive is cross-process by construction (hard-link
    // create fails iff the target exists, arbitrated by the kernel,
    // not JVM state) — this exercises it for real: a second JVM with
    // its own SparkSession races the in-process writer on the same log
    withChildWriter(dir, n, "child", "append") {
      (0 until n).foreach(i => t.append(Seq((s"local-$i", 1L)).toDF("k", "v")))
    }
    // all 2n+1 commits landed; contiguity is enforced by state() itself
    // (replay stops at the first version gap, so a lost commit would
    // surface as a lower head version)
    assert(t.version == 2L * n)
    val keys = t.read().select("k").as[String].collect().toSet
    val expected = Set("seed") ++
      (0 until n).map(i => s"local-$i") ++ (0 until n).map(i => s"child-$i")
    assert(keys == expected)
  }

  test("cross-process merge: no lost update against a racing appender") {
    val dir = tmpDir("txtable-2jvm-merge")
    val t = new TxTable(spark, dir)
    t.append(Seq(("seed", 0L)).toDF("k", "v")) // v0: schema exists for both writers
    val nMerges = 4
    val nAppends = 6
    // the child upserts ONE key with increasing values while this
    // process keeps appending: under logical conflict detection a
    // merge may commit PAST a key-disjoint append or abort-and-retry
    // on an unprovable one — either way no update and no append may
    // ever be lost, and every abort must be loud
    withChildWriter(dir, nMerges, "shared", "merge") {
      (0 until nAppends).foreach(i => t.append(Seq((s"local-$i", 1L)).toDF("k", "v")))
    }
    val rows = t.read().select("k", "v").as[(String, Long)].collect()
    // the upserted key holds exactly its LAST merged value — one row,
    // no duplicates from replayed merges, no lost appends
    assert(rows.filter(_._1 == "shared").toSeq == Seq(("shared", (nMerges - 1).toLong)))
    assert(rows.count(_._1.startsWith("local-")) == nAppends)
    assert(rows.length == nAppends + 2) // + seed + shared
  }

  test("vacuum survives log truncation: retains what it can resolve, never crashes") {
    val dir = tmpDir("txtable-vac-trunc")
    val t = new TxTable(spark, dir, checkpointInterval = 4)
    (0 until 10).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "v")))
    t.truncateLog()
    // retention window reaches below the newest checkpoint: versions
    // there are unresolvable after truncation — vacuum must clamp to
    // what it can resolve, not throw
    t.vacuum(retainVersions = 100, olderThanMs = 0L)
    assert(t.read().count() == 10L)
    // and with a zero window the live set still survives
    t.vacuum(retainVersions = 0, olderThanMs = 0L)
    assert(t.read().count() == 10L)
  }

  test("string stat comparison is unsigned UTF-8 byte order, not UTF-16") {
    // U+FFFD (3 UTF-8 bytes, 0xEF..) vs U+1F600 (4 bytes, 0xF0..):
    // UTF-16 code-unit order inverts — the exact divergence that would
    // let a range predicate wrongly prune a file
    assert("�".compareTo("😀") > 0) // Java order (wrong for parquet)
    assert(TxTable.utf8Cmp("�", "😀") < 0) // parquet binary order
    assert(TxTable.utf8Cmp("a", "a") == 0)
    assert(TxTable.utf8Cmp("a", "ab") < 0)
    assert(TxTable.utf8Cmp("b", "a") > 0)
  }

  test("isNull prune requires a KNOWN-zero null count, never an absent one") {
    import org.json4s.JLong
    val t = table()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val st = t.state()
    val f = st.files.head
    def withNulls(n: Long) = st.copy(stats = Map(
      f -> TxTable.FileStats(1L, Map("id" -> TxTable.ColStats(JLong(0), JLong(9), n)))))
    // unknown count (-1, footer omitted numNulls): the file MUST be read
    assert(t.prunedFiles(withNulls(-1L), col("id").isNull) == st.files)
    // known-zero count: provably no nulls — skip is correct
    assert(t.prunedFiles(withNulls(0L), col("id").isNull).isEmpty)
  }

  test("streaming foreachBatch into TxTable is exactly-once across restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = table()
    val ckpt = tmpDir("txtable-ckpt")
    val stream = MemoryStream[Long]
    def runOnce(): Unit = {
      val q = stream.toDF().toDF("id")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
          t.appendBatch(b, "stream", id))
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stream.addData(1L, 2L)
    runOnce()
    runOnce() // restart with no new data: no duplicate commit
    stream.addData(3L)
    runOnce()
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("decimal column stats prune correctly (rescaled, not raw unscaled)") {
    import org.apache.spark.sql.types.DecimalType
    val t = table()
    // two files with disjoint decimal(15,2) ranges (INT64-backed in
    // parquet, whose footer stats are raw UNSCALED longs: 100..499 and
    // 500..999 — comparing those against a scaled literal unrescaled
    // would prune the lo file for `< 5.00` and silently drop its rows)
    def df(vals: String*) = vals.toDF("s")
      .select(col("s").cast(DecimalType(15, 2)).as("price")).coalesce(1)
    t.append(df("1.00", "4.99"))
    t.append(df("5.00", "9.99"))
    // a FRESH handle so stats round-trip the manifest JSON too
    val t2 = new TxTable(spark, t.tablePath)
    val s = t2.state()
    assert(s.files.size == 2)
    val under5 = col("price") < new java.math.BigDecimal("5.00")
    assert(t2.scan(under5).count() == 2L,
      "scan must keep the file whose rows match the scaled literal")
    assert(t2.prunedFiles(s, under5).size == 1,
      "and still prune the file whose rescaled range cannot match")
    val eq999 = col("price") === new java.math.BigDecimal("9.99")
    assert(t2.scan(eq999).count() == 1L)
    assert(t2.prunedFiles(s, eq999).size == 1)
  }

  test("restore re-points the live set at an old snapshot without copying data") {
    val t = table()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0
    t.append(Seq((3L, "c")).toDF("id", "v")) // v1
    t.merge(Seq((2L, "B2")).toDF("id", "v"), Seq("id")) // v2
    val filesBefore = new java.io.File(t.tablePath).list().count(_.endsWith(".parquet"))
    t.restore(1L) // v3: back to before the merge
    assert(t.version == 3L)
    assert(t.read().select("v").as[String].collect().sorted.toSeq
      == Seq("a", "b", "c"))
    // metadata-only: no new data files were written for the restore
    assert(new java.io.File(t.tablePath).list().count(_.endsWith(".parquet"))
      == filesBefore)
    // the rollback itself is history: v2 still shows the merged row
    assert(t.readAt(2L).where(col("v") === "B2").count() == 1L)
    // restoring to the current state is a no-op commit
    t.restore(3L)
    assert(t.version == 3L)
    // a restore whose files were vacuumed fails loudly BEFORE committing
    t.overwrite(Seq((9L, "z")).toDF("id", "v")) // v4: v0-v3 files now dead
    t.vacuum(retainVersions = 0, olderThanMs = -5000L)
    val e = intercept[IllegalArgumentException](t.restore(1L))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(9L),
      "failed restore must leave the table untouched")
  }

  test("history lists one classified row per commit") {
    val t = table()
    t.append(Seq((1L, "a")).toDF("id", "v")) // v0
    t.append(Seq((2L, "b")).toDF("id", "v")) // v1
    t.compact() // v2
    t.merge(Seq((2L, "B2")).toDF("id", "v"), Seq("id")) // v3
    t.overwrite(Seq((9L, "z")).toDF("id", "v")) // v4
    val h = t.history()
    assert(h.map(_.version) == (0L to 4L))
    assert(h.map(_.operation) ==
      Seq("APPEND", "APPEND", "REWRITE", "MERGE/DELETE", "OVERWRITE/RESTORE"))
    assert(h.forall(_.timestampMs > 0))
    assert(h(4).filesRemoved > 0 && h(0).filesRemoved == 0)
  }

  test("timestamp and date column stats prune time-range scans") {
    val t = table()
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def d(s: String) = java.sql.Date.valueOf(s)
    // two files with disjoint day ranges — the time-clustered event
    // table shape, where time-range skipping is the whole point
    t.append(Seq((ts("2024-01-01T06:00:00Z"), d("2024-01-01"), 1L),
      (ts("2024-01-01T18:00:00Z"), d("2024-01-01"), 2L))
      .toDF("ts", "day", "id").coalesce(1))
    t.append(Seq((ts("2024-01-02T06:00:00Z"), d("2024-01-02"), 3L),
      (ts("2024-01-02T18:00:00Z"), d("2024-01-02"), 4L))
      .toDF("ts", "day", "id").coalesce(1))
    val t2 = new TxTable(spark, t.tablePath) // stats through the manifest
    val s = t2.state()
    assert(s.files.size == 2)
    val beforeDay2 = col("ts") < lit(ts("2024-01-02T00:00:00Z"))
    assert(t2.prunedFiles(s, beforeDay2).size == 1,
      "timestamp range must prune the day-2 file")
    assert(t2.scan(beforeDay2).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    val day2 = col("day") === lit(d("2024-01-02"))
    assert(t2.prunedFiles(s, day2).size == 1, "date equality must prune day 1")
    assert(t2.scan(day2).select("id").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L))
    // IN over dates composes with the same stats
    assert(t2.prunedFiles(s, col("day").isin(d("2024-03-01"), d("2024-03-02"))).isEmpty)
  }

  test("vacuum sweeps orphaned staging directories from crashed writers") {
    val dir = tmpDir("txtable-vac-staging")
    val t = new TxTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // a writer that crashed inside stageData: the whole staging dir
    // remains, referenced by no manifest
    val staging = new java.io.File(dir, "_staging-deadbeef")
    Seq((9L, "ghost")).toDF("id", "v").write.parquet(staging.toString)
    assert(staging.exists())
    t.vacuum(olderThanMs = -5000L) // negative age: sweep regardless of mtime
    assert(!staging.exists(), "orphaned staging dir must be swept")
    assert(t.read().count() == 1L)
  }

  test("truncateLog refuses when the newest checkpoint is unreadable") {
    val dir = tmpDir("txtable-trunc-torn")
    val t = new TxTable(spark, dir, checkpointInterval = 2)
    (0 until 3).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "v")))
    // tear the v2 checkpoint (a crash mid-publish on a non-atomic store)
    val ckpt = new java.io.File(dir, TxTable.LogDirName).listFiles()
      .find(_.getName.endsWith(".ckpt.json")).get
    java.nio.file.Files.writeString(ckpt.toPath, """{"version": 2, "files": [""")
    val e = intercept[IllegalStateException](t.truncateLog())
    assert(e.getMessage.contains("unreadable"), e.getMessage)
    // because truncation was refused, the manifests below the torn
    // checkpoint survive and a fresh handle still resolves full state
    assert(new TxTable(spark, dir).read().count() == 3L)
  }

  test("an incremental read below a truncation cutoff fails with the re-sync error") {
    val dir = tmpDir("txtable-changes-trunc")
    val t = new TxTable(spark, dir, checkpointInterval = 2)
    (0 until 5).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "v")))
    t.truncateLog()
    val e = intercept[IllegalStateException](t.readChanges(0L, t.version))
    assert(e.getMessage.contains("truncation"), e.getMessage)
    // ranges wholly above the cutoff still read
    assert(t.readChanges(3L, 4L).count() == 1L)
  }

  // ---- logical conflict detection (write-serializable verbs) ----

  test("delete commits past a concurrent range-disjoint append") {
    val t = table()
    t.append((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    // an unrelated writer lands ids 100..110 in the race window
    // between the delete's snapshot and its commit — stats prove no
    // row matches id <= 5, so the delete must NOT abort
    t.beforeCommitHook =
      () => t.append((100L to 110L).map(i => (i, s"n$i")).toDF("id", "v"))
    t.delete(col("id") <= 5L)
    assert(t.version == 2L, "append v1 and delete v2 must both have committed")
    val got = t.read().select("id").as[Long].collect().toSet
    assert(got == ((6L to 10L) ++ (100L to 110L)).toSet)
  }

  test("delete aborts on a concurrent append that may hold matching rows") {
    val t = table()
    t.append((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    t.beforeCommitHook =
      () => t.append(Seq((3L, "late")).toDF("id", "v")) // inside id <= 5
    val e = intercept[java.util.ConcurrentModificationException](
      t.delete(col("id") <= 5L))
    assert(e.getMessage.contains("appended files"), e.getMessage)
    // nothing committed by the delete; the concurrent append survives
    assert(t.version == 1L)
    assert(t.read().count() == 11L)
    // the retry the error demands then succeeds against the new state
    t.delete(col("id") <= 5L)
    assert(t.read().select("id").as[Long].collect().toSet == (6L to 10L).toSet)
  }

  test("delete aborts when a concurrent commit removes a file it rewrites") {
    val t = table()
    t.append((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    t.beforeCommitHook = () => t.overwrite(Seq((99L, "x")).toDF("id", "v"))
    val e = intercept[java.util.ConcurrentModificationException](
      t.delete(col("id") <= 5L))
    assert(e.getMessage.contains("removed"), e.getMessage)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(99L))
  }

  test("merge commits past a key-disjoint append, aborts on key overlap") {
    val t = table()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // concurrent append far outside the source key range [1, 2]: benign
    t.beforeCommitHook = () => t.append(Seq((50L, "z")).toDF("id", "v"))
    t.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    assert(t.read().orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "B"), (3L, "c"), (50L, "z")))
    // concurrent append INSIDE the source key range: the replace-by-key
    // contract cannot be guaranteed, so the merge must abort
    t.beforeCommitHook = () => t.append(Seq((4L, "dup")).toDF("id", "v"))
    val e = intercept[java.util.ConcurrentModificationException](
      t.merge(Seq((4L, "D")).toDF("id", "v"), Seq("id")))
    assert(e.getMessage.contains("appended files"), e.getMessage)
  }

  test("update commits past a disjoint append; schema change still aborts") {
    val t = table()
    t.append((1L to 5L).map(i => (i, s"r$i")).toDF("id", "v"))
    t.beforeCommitHook = () => t.append(Seq((100L, "n")).toDF("id", "v"))
    t.update(col("id") === 2L, Map("v" -> lit("UPDATED")))
    assert(t.read().where(col("id") === 2L).select("v").as[String].head() == "UPDATED")
    assert(t.read().count() == 6L)
    // a concurrent schema evolution invalidates the staged rewrite
    t.beforeCommitHook =
      () => t.append(Seq((200L, "m", 1.0)).toDF("id", "v", "score"))
    val e = intercept[java.util.ConcurrentModificationException](
      t.update(col("id") === 3L, Map("v" -> lit("X"))))
    assert(e.getMessage.contains("schema"), e.getMessage)
  }

  test("merge-on-read delete commits past a disjoint append") {
    val t = table()
    t.append((1L to 100L).map(i => (i, s"r$i")).toDF("id", "v"))
    t.beforeCommitHook =
      () => t.append(Seq((1000L, "n")).toDF("id", "v"))
    t.deleteMergeOnRead(col("id") <= 10L, rewriteAtFraction = 0.5)
    assert(t.read().select("id").as[Long].collect().toSet
      == ((11L to 100L) :+ 1000L).toSet)
  }

  test("delete and deleteMergeOnRead abort on a concurrent column rename, leaving no staged file") {
    val dir = tmpDir("txtable-delete-rename")
    val t = new TxTable(spark, dir)
    t.append((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    // data, change-record and deletion-vector files in the table root
    def dataFiles(): Set[String] = new java.io.File(dir).listFiles()
      .map(_.getName)
      .filter(n => n.endsWith(".parquet") || (n.startsWith("dv-") && n.endsWith(".bin")))
      .toSet
    val before = dataFiles()
    t.beforeCommitHook = () => t.renameColumn("v", "w")
    val e = intercept[java.util.ConcurrentModificationException](
      t.delete(col("id") <= 5L))
    assert(e.getMessage.contains("rename"), e.getMessage)
    assert(dataFiles() == before, "the aborted delete must delete its staged files")
    t.beforeCommitHook = () => t.renameColumn("w", "u")
    val e2 = intercept[java.util.ConcurrentModificationException](
      t.deleteMergeOnRead(col("id") <= 2L))
    assert(e2.getMessage.contains("rename"), e2.getMessage)
    assert(dataFiles() == before,
      "the aborted merge-on-read delete must delete its change files and sidecars")
    // the reruns commit against the renamed surface
    t.delete(col("id") <= 5L)
    t.deleteMergeOnRead(col("id") === 6L)
    assert(t.read().columns.toSeq == Seq("id", "u"))
    assert(t.read().select("id").as[Long].collect().toSet == (7L to 10L).toSet)
  }

  test("update and the other row-level verbs accept a column name containing a dot") {
    val t = table()
    t.append((1L to 10L).map(i => (i, s"r$i")).toDF("k", "a.b"))
    t.update(col("k") < 5L, Map("k" -> (col("k") + 100L)))
    t.update(col("k") === 7L, Map("a.b" -> lit("seven")))
    t.updateMergeOnRead(col("k") === 8L, Map("a.b" -> lit("eight")))
    t.merge(Seq((9L, "nine"), (11L, "eleven")).toDF("k", "a.b"), Seq("k"))
    t.deleteKeys(Seq(10L).toDF("k"), Seq("k"))
    val got = t.read().select(col("k"), col("`a.b`")).as[(Long, String)]
      .collect().toSet
    assert(got == Set((101L, "r1"), (102L, "r2"), (103L, "r3"), (104L, "r4"),
      (5L, "r5"), (6L, "r6"), (7L, "seven"), (8L, "eight"), (9L, "nine"),
      (11L, "eleven")), got.toString)
  }

  // ---- partitioned writes (value-pure files) ----

  test("partitioned append writes value-pure files that prune exactly") {
    val t = table()
    val rows = (1L to 300L).map(i => (i, s"t${i % 3}", s"r$i"))
    t.append(rows.toDF("id", "type", "v"), partitionBy = Seq("type"))
    val s = t.state()
    assert(s.files.size == 3, s"one value-pure file per type, got ${s.files.size}")
    // each equality predicate prunes to exactly one file, and the
    // per-value file sets tile the table disjointly
    val perValue = (0 to 2).map(i => t.prunedFiles(s, col("type") === s"t$i").toSet)
    assert(perValue.forall(_.size == 1), perValue.toString)
    assert(perValue.reduce(_ ++ _) == s.files.toSet)
    assert(perValue.combinations(2).forall(p => (p(0) & p(1)).isEmpty))
    // the scan equals the filtered read, and the files stay
    // self-describing: the partition column reads back like any other
    assert(t.scan(col("type") === "t1").count() == 100L)
    assert(t.read().columns.toSeq == Seq("id", "type", "v"))
    assert(t.read().where(col("type") === "t1")
      .select("id").as[Long].collect().sorted.toSeq
      == (1L to 300L).filter(_ % 3 == 1))
  }

  test("partitioned append: null partition rows and filesPerValue salting") {
    val t = table()
    val df = (1L to 60L)
      .map(i => (i, if (i % 6 == 0) None else Some(s"t${i % 2}")))
      .toDF("id", "type")
    t.append(df, partitionBy = Seq("type"), filesPerValue = 2)
    val s = t.state()
    // the salt splits each populous value across up to two files
    assert(s.files.size >= 4 && s.files.size <= 6, s.files.toString)
    // the 10 null-type rows live apart from every valued file, so an
    // isNull scan prunes all value-pure files (known-zero null counts)
    val nullFiles = t.prunedFiles(s, col("type").isNull).toSet
    assert(nullFiles.size <= 2 && nullFiles.size < s.files.size, nullFiles.toString)
    assert(t.scan(col("type").isNull).count() == 10L)
    // equality still tiles: at most filesPerValue value-pure files per
    // value, and the all-null file is pruned too (its all-null marker
    // proves no equality can hold)
    val t0 = t.prunedFiles(s, col("type") === "t0").toSet
    assert(t0.size <= 2, t0.toString)
    assert((t0 & nullFiles).isEmpty)
    assert(t.scan(col("type") === "t0").count() == 20L)
    assert(t.read().count() == 60L)
  }

  test("partitioned append rejects reserved __gpart_ column names loudly") {
    val t = table()
    val e = intercept[IllegalArgumentException](
      t.append(Seq((1L, "a", "x")).toDF("id", "type", "__gpart_type"),
        partitionBy = Seq("type")))
    assert(e.getMessage.contains("__gpart_"), e.getMessage)
  }

  test("all-null files are pruned by equality, range, IN and isNotNull") {
    val t = table()
    t.append(Seq((1L, Option("a")), (2L, Option("b"))).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, None: Option[String]), (4L, None)).toDF("id", "v").coalesce(1))
    // a fresh reader resolves stats from the manifests alone, so this
    // also proves the all-null marker survives the JSON round trip
    val t2 = new TxTable(spark, t.tablePath)
    val s = t2.state()
    assert(s.files.size == 2)
    val nullFile = t2.prunedFiles(s, col("v").isNull)
    assert(nullFile.size == 1)
    def kept(p: org.apache.spark.sql.Column) = t2.prunedFiles(s, p)
    assert(kept(col("v") === "a") == s.files.filterNot(nullFile.contains))
    assert(kept(col("v") > "a").size == 1)
    assert(kept(col("v").isin("a", "zz")).size == 1)
    assert(kept(col("v").isNotNull).size == 1)
    // and every scan still equals the unpruned filtered read
    assert(t2.scan(col("v").isNotNull).count() == 2L)
    assert(t2.scan(col("v") === "a").count() == 1L)
    assert(t2.scan(col("v").isNull).count() == 2L)
  }
}
