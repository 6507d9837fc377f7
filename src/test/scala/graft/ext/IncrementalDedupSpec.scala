package graft.ext

import graft.SparkTestBase

/** Incremental near-dup mining: the persisted-index path must equal
  * the full-corpus exact miner restricted to pairs involving a new
  * document, and the index must behave like the ingest-time artifact
  * it models (built once, reused).
  */
class IncrementalDedupSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("incremental pairs equal the full-corpus miner restricted to new-involving pairs") {
    import org.apache.spark.sql.functions._
    val newIds = graft.core.Tables.load(spark, dir, "documents")
      .where(substring(col("source"), 4, 10).cast("int") >= 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty, "fixture must contain a new batch")
    val full = TextAnalysis.qNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter { case (a, b, _, _) => newIds.contains(a) || newIds.contains(b) }
      .toSet
    val inc = IncrementalDedup.qIncrementalNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(inc == full, s"incremental=${inc.size} vs full-restricted=${full.size}")
    assert(inc.nonEmpty, "fixture must contain near-dup pairs involving new docs")
    // no old×old pair ever surfaces — that work is never redone
    inc.foreach { case (a, b, _, _) =>
      assert(newIds.contains(a) || newIds.contains(b), s"old×old pair ($a,$b)")
    }
  }

  test("the shingle index is a build-once session artifact storing df-ordered prefix postings") {
    val d1 = IncrementalDedup.persistedIndexDir(spark, dir)
    val d2 = IncrementalDedup.persistedIndexDir(spark, dir)
    assert(d1 == d2)
    assert(new java.io.File(d1, "prefix").exists())
    assert(new java.io.File(d1, "df").exists())
    assert(new java.io.File(d1, "sets").exists())
    // the prefix postings hold ONLY the existing corpus's docs, and
    // each doc contributes exactly min(sz, floor(sz/2)+1) postings
    import org.apache.spark.sql.functions._
    val szBits = graft.functions.PairExpand.SzBits
    val szMask = graft.functions.PairExpand.SzMask
    val perDoc = spark.read.parquet(s"$d1/prefix")
      .groupBy(shiftrightunsigned(col("m"), szBits).as("id"),
        col("m").bitwiseAND(lit(szMask)).as("sz"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val old = graft.core.Tables.load(spark, dir, "documents")
      .where(substring(col("source"), 4, 10).cast("int") < 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(perDoc.nonEmpty && perDoc.map(_._1).toSet.subsetOf(old),
      "the persisted prefix index must cover exactly the existing corpus")
    perDoc.foreach { case (id, sz, n) =>
      assert(n == math.min(sz, sz / 2 + 1), s"doc $id: sz=$sz prefix=$n")
    }
  }

  test("grown-index mining: two increments against a frozen-df append union to exactly the one-shot") {
    val oneShot = IncrementalDedup.qIncrementalNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val grown = IncrementalDedup.qIncrementalGrown(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(grown.toSeq == oneShot.toSeq,
      s"grown=${grown.length} one-shot=${oneShot.length}")
    // the two increments' result sets are disjoint by construction
    // (every pairs2 row has an inc2 member; pairs1 rows have none)
    assert(grown.toSet.size == grown.length)
    // the grown index kept the frozen df table byte-identical
    val g = IncrementalDedup.grownMineDir(spark, dir)
    val base = IncrementalDedup.persistedIndexDir(spark, dir)
    val dfG = spark.read.parquet(s"$g/idx/df").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dfB = spark.read.parquet(s"$base/df").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dfG == dfB, "append must not touch the epoch's frozen df order")
  }

  test("the bucketed index is never re-exchanged: no shuffle sits above an index scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def isIndexScan(p: SparkPlan): Boolean = p match {
      case sc: FileSourceScanExec =>
        sc.relation.location.rootPaths.exists(_.toString.contains("graft_shingle-index-dir_"))
      case _ => false
    }
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = IncrementalDedup.qIncrementalNearDup(spark, dir)
        .queryExecution.executedPlan
      var offenders = 0
      var indexScans = 0
      // the precise property: on the path from an index scan UP to
      // the join that consumes it there is no shuffle — downstream
      // shuffles (candidate distinct, final sort) are legitimate and
      // reset at every join boundary on the way down
      def check(p: SparkPlan, exSinceJoin: Boolean): Unit = {
        if (isIndexScan(p)) {
          indexScans += 1
          if (exSinceJoin) offenders += 1
        }
        val childEx = p match {
          case _: ShuffleExchangeExec => true
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case _ => exSinceJoin
        }
        p match { case a: AdaptiveSparkPlanExec => check(a.initialPlan, exSinceJoin); case _ => () }
        p.children.foreach(check(_, childEx))
        p.subqueries.foreach(check(_, false))
      }
      check(plan, exSinceJoin = false)
      assert(indexScans > 0, "the plan must actually scan the persisted index")
      assert(offenders == 0,
        s"$offenders index scans sit under a re-exchange (old side must scan in place)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
  }

  test("prefix candidates shrink on a boilerplate-heavy corpus while the pair set stays exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // synthetic corpus shaped like testdata: every doc = a SHARED
    // 12-token boilerplate header (license/nav chrome — df = corpus
    // size) + a unique 30-token tail, except new doc 510 which
    // near-dups old doc 3's tail. The plain inverted index candidates
    // every (new, old) pair through the boilerplate shingles; the
    // prefix filter (rarest-first) candidates only tail-sharers.
    val boiler = (1 to 12).map(i => s"boiler$i").mkString(" ")
    def tail(k: Long) = (1 to 30).map(i => s"t${k}_$i").mkString(" ")
    def nearDupTail(of: Long) = {
      val t = tail(of).split(" "); t.updated(2, "CHANGED").mkString(" ")
    }
    val docs =
      (0L to 19L).map(i => (i, s"src${i % 10}", s"$boiler ${tail(i)}")) ++
        Seq((510L, "src12", s"$boiler ${nearDupTail(3)}"),
          (511L, "src13", s"$boiler ${tail(511)}"))
    val bdir = tmpDir("boiler-corpus")
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$bdir/documents.parquet")
    // exact output: exactly the planted (3, 510) pair survives
    val pairs = IncrementalDedup.qIncrementalNearDup(spark, bdir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((3L, 510L)), s"pairs=${pairs.toSeq}")
    // candidate accounting: the full-postings join would candidate all
    // 2 new × 20 old pairs (all share boilerplate); the prefix join
    // must generate strictly fewer — only tail-sharing candidates
    val idxDir = IncrementalDedup.persistedIndexDir(spark, bdir)
    val newIdx = TextAnalysis.docShingleSets(
        graft.core.Tables.load(spark, bdir, "documents")
          .where(substring(col("source"), 4, 10).cast("int") >= 10))
      .select(TextAnalysis.packedMember.as("m"), explode(col("hs")).as("h"))
    val fullCand = newIdx.select(col("h"), col("m").as("mn"))
      .join(spark.read.parquet(s"$idxDir/sets")
        .select(TextAnalysis.packedMember.as("mo"), explode(col("hs")).as("h")), "h")
      .select(col("mn"), col("mo")).distinct().count()
    val prefixCand = IncrementalDedup.candidatePairs(spark, bdir).count()
    assert(fullCand == 40L, s"fullCand=$fullCand (boilerplate links every pair)")
    assert(prefixCand < fullCand / 10,
      s"prefix filter must kill boilerplate candidates: $prefixCand vs $fullCand")
  }
}
