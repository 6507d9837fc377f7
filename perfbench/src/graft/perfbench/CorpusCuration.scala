package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ArtifactCost, IndexCache}
import graft.ext._

/** `corpus_curation`: one client in a closed loop over a curation set
  * of registry queries from the training-data modules, one per module,
  * over a fixed generated corpus ([[Corpus]]). The seed sets the order
  * in which the client issues them: each pass is a fresh shuffle. Every
  * timed query is materialized in full with a `noop` write. The measured
  * window runs whole passes, at least [[MinPasses]], after one untimed
  * warm-up pass.
  *
  * Set-up, repeated [[SetupRounds]] times after clearing graft's
  * in-process artifact cache: each fixture the set reads, built by a
  * direct call to its builder and timed on its own. Then one untimed
  * first pass pays the queries' lazy builds and checks every query's
  * row count and order-independent hash against
  * `perfbench/expected/corpus_curation.tsv`.
  *
  * End to end: the mean over queries of each query's median latency in
  * the window, queries per second of the median pass, and the median
  * set-up round.
  */
object CorpusCuration {
  val SetupRounds = 3
  val MinPasses = 2
  type Query = (SparkSession, String) => DataFrame

  /** The curation set: (module, query name, query). Six modules are
    * left out to fit a run's time: CorpusBuild, CrawlRefresh,
    * JsonlIngest and IncrementalDedup, whose artifact, crawl-state,
    * ingest and index builds cost 2 to 15 s per set-up round, and
    * IvfIndex and GraphRank, the slowest first-pass queries of what is
    * left (IvfIndex's ANN path is still covered by PqIndex and SqIndex).
    */
  val set: Seq[(String, String, Query)] = Seq(
    ("TextAnalysis", TextAnalysis.queries, "q_tfidf_top_terms"),
    ("MinHashDedup", MinHashDedup.queries, "q_minhash_pairs"),
    ("DedupClusters", DedupClusters.queries, "q_dedup_clusters"),
    ("Similarity", Similarity.queries, "q_cosine_topk"),
    ("PqIndex", PqIndex.queries, "q_ann_pq"),
    ("SqIndex", SqIndex.queries, "q_ann_sq8"),
    ("Curation", Curation.queries, "q_curation"),
    ("LangTools", LangTools.queries, "q_lang_id"),
    ("Multimodal", Multimodal.queries, "q_doc_embedding"),
    ("WarcIngest", WarcIngest.queries, "q_warc_ingest"),
    ("CsvIngest", CsvIngest.queries, "q_csv_ingest"),
    ("UrlOps", UrlOps.queries, "q_host_cap")).map { case (m, qs, n) => (m, n, qs(n)) }

  /** Fixture builders the set reads, called directly so a failure is
    * seen (several are package-private to graft).
    */
  val fixtures: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "warc" -> (WarcIngest.warcFixture _),
    "csv" -> (CsvIngest.csvFixture _))

  def expectedFile: java.nio.file.Path =
    Paths.get(sys.props.getOrElse("perfbench.root", "."), "perfbench/expected/corpus_curation.tsv")

  /** Rewrite the expected file from this run's fingerprints, and dump
    * the corpus, every query's result and its DuckDB oracle SQL beside
    * it for `perfbench/oracle_check.py`.
    */
  def writeExpected(spark: SparkSession, dir: String, got: collection.Map[String, (Long, String)],
                    path: java.nio.file.Path): Unit = {
    Files.write(path, (("# query\trows\thash" +: got.toSeq.map { case (n, (c, h)) => s"$n\t$c\t$h" })
      .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val dump = Paths.get(sys.props("perfbench.oracleDump"))
    Corpus.write(spark, dump.resolve("data").toString)
    set.foreach { case (_, n, q) =>
      q(spark, dir).coalesce(1).write.mode("overwrite").parquet(dump.resolve(s"results/$n").toString)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => got.contains(k) }
    Files.write(dump.resolve("oracle_sql.json"), org.json4s.jackson.Serialization
      .write(oracle)(org.json4s.DefaultFormats).getBytes("UTF-8"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.dir("corpus")
    val tFill = System.nanoTime()
    ctx.phase("fill")(Trace.span("setup.fill")(Corpus.write(spark, dir)))
    ctx.layers += "setup.fill_s" -> (System.nanoTime() - tFill) / 1e9
    val expected: Map[String, (Long, String)] =
      if (!Files.exists(expectedFile)) Map.empty
      else scala.io.Source.fromFile(expectedFile.toFile).getLines()
        .filterNot(_.startsWith("#")).map(_.split("\t"))
        .collect { case Array(n, rows, h) => n -> (rows.toLong, h) }.toMap
    var failed = 0L
    var attempted = 0L
    val mismatches = mutable.ArrayBuffer.empty[String]
    val got = mutable.LinkedHashMap.empty[String, (Long, String)]
    val fixtureS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val firstS = mutable.LinkedHashMap.empty[String, Double]

    // set-up rounds: every fixture, on a cleared artifact cache
    val setupS = ctx.phase("setup")((1 to SetupRounds).map { _ =>
      IndexCache.clear()
      val t0 = System.nanoTime()
      fixtures.foreach { case (name, build) =>
        val f0 = System.nanoTime()
        attempted += 1
        try Trace.span(s"setup.fixture.$name")(build(spark, dir))
        catch { case e: Exception => failed += 1; System.err.println(s"fixture $name failed: $e") }
        fixtureS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - f0) / 1e9
      }
      (System.nanoTime() - t0) / 1e9
    })
    // the untimed first pass: lazy builds, codegen, and the checks
    ctx.phase("first_pass")(Trace.span("setup.first_pass") {
      set.foreach { case (m, n, q) =>
        attempted += 1
        val q0 = System.nanoTime()
        try got(n) = Trace.span(s"ext.$m.first")(Data.fingerprint(q(spark, dir)))
        catch { case e: Exception => failed += 1; System.err.println(s"query $n failed: $e") }
        firstS(n) = (System.nanoTime() - q0) / 1e9
      }
    })
    set.foreach { case (_, n, _) =>
      (got.get(n), expected.get(n)) match {
        case (Some(g), Some(e)) if g != e => mismatches += s"$n: rows/hash $g, expected $e"
        case (Some(_), None) => mismatches += s"$n: no expected fingerprint"
        case _ =>
      }
    }
    sys.props.get("perfbench.writeExpected").foreach(path => writeExpected(spark, dir, got, Paths.get(path)))

    // passes in a seeded order, noop-materialized
    val rnd = new Random(ctx.seed)
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passS = mutable.ArrayBuffer.empty[Double]
    /** One pass; returns the queries that succeeded. */
    def pass(timed: Boolean): Long = {
      var done = 0L
      val p0 = System.nanoTime()
      rnd.shuffle(set).foreach { case (m, n, q) =>
        attempted += 1
        val q0 = System.nanoTime()
        try {
          Trace.span(if (timed) s"ext.$m" else s"ext.$m.warmup")(
            q(spark, dir).write.format("noop").mode("overwrite").save())
          if (timed) perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e9
          done += 1
        } catch { case e: Exception => failed += 1; System.err.println(s"query $n failed: $e") }
      }
      if (timed) passS += (System.nanoTime() - p0) / 1e9
      done
    }
    // the JIT is still warming up after the first pass: the next one ran
    // 15-20% slower than the one after it, and varied twice as much
    ctx.phase("warmup")(Trace.span("setup.warmup")(pass(timed = false)))
    val overhead = ctx.phase("window")(ctx.measure { seconds =>
      // whole passes until the window has passed, and at least
      // [[MinPasses]], so every query runs equally often whatever order
      // the seed draws
      val t0 = System.nanoTime()
      var done = 0L
      var passes = 0
      // a traced run halves the window and only reports per-layer figures
      val minPasses = if (ctx.traced) 1 else MinPasses
      while (passes < minPasses || System.nanoTime() - t0 < seconds * 1e9) {
        done += pass(timed = true)
        passes += 1
      }
      (done, (System.nanoTime() - t0) / 1e9)
    })

    val builds = ArtifactCost.snapshot.values.sum
    ctx.layers ++= fixtureS.map { case (n, xs) => s"setup.fixture.${n}_s" -> Stats.median(xs.toSeq) }
    ctx.layers += "setup.artifact_builds_s" -> builds / SetupRounds
    ctx.tracer.foreach { t =>
      ctx.layers ++= Report.spanMetrics(t, Seq("setup.first_pass"), Nil)
      ctx.layers ++= Report.spanMetrics(t, set.map("ext." + _._1), Seq("actions", "shuffle_bytes"))
    }
    // each query's median over the window's passes: the host has slow
    // spells
    val typical = perQuery.map { case (n, xs) => n -> Stats.median(xs.toSeq) }
    println(s"corpus_curation: set-up rounds ${setupS.map("%.2f".format(_)).mkString(", ")} s; fixtures " +
      fixtureS.map { case (n, xs) => s"$n ${xs.map("%.2f".format(_)).mkString("/")}" }.mkString(", "))
    println("corpus_curation: first pass " + firstS.map { case (n, v) => f"$n $v%.2f" }.mkString(", "))
    println(f"corpus_curation: ${set.size} queries, ${perQuery.values.map(_.size).sum} timed runs; passes " +
      passS.map("%.2f".format(_)).mkString(", ") + " s; median latency " + typical.toSeq.sortBy(-_._2).map { case (n, s) => f"$n $s%.3f" }.mkString(", "))
    val checks = Seq(
      s"${got.size} of ${set.size} queries match the expected rows and hash: ${mismatches.isEmpty}") ++
      mismatches.map("mismatch " + _)
    Outcome(mismatches.isEmpty && failed == 0 && got.size == set.size, attempted, failed,
      endToEnd = Map(
        "setup_s" -> Stats.median(setupS),
        "latency_s" -> (if (typical.size < set.size) Double.NaN else typical.values.sum / typical.size),
        "throughput_per_s" -> (if (passS.isEmpty) Double.NaN else set.size / Stats.median(passS.toSeq))),
      layers = Map("trace.overhead_pct" -> overhead) ++ ctx.layers,
      checks = checks)
  }
}
