package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `endToEnd` holds the
  * metrics a user of graft sees, measured with tracing off; `layers`
  * holds the per-layer figures, which only a traced run fills in
  * completely.
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         endToEnd: Map[String, Double], layers: Map[String, Double],
                         checks: Seq[String])

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val workDir: Path) {
  val tracer: Option[Tracer] =
    if (traced) Some(new Tracer(spark, s"${workDir.getFileName}")) else None
  /** Per-layer figures the workload measures itself. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  def dir(name: String): String = {
    val p = workDir.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  Trace.tracer = tracer
  tracer.foreach(_.install())

  /** Wall seconds of each phase of the run, for the report. */
  val phases = mutable.ArrayBuffer.empty[(String, Double)]
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Runs the measured `loop(seconds) => (operations, wall seconds)`
    * and returns the tracing overhead in percent. Untraced, the loop runs
    * once for the whole window and the overhead is NaN. Traced, it runs
    * for the first half with the listeners detached and for the second
    * half with them attached, and the overhead is how much lower the
    * traced half's operations per second were.
    */
  def measure(loop: Double => (Long, Double)): Double = tracer match {
    case None =>
      loop(seconds)
      Double.NaN
    case Some(t) =>
      t.uninstall()
      val (n1, w1) = loop(seconds / 2)
      t.install()
      val (n2, w2) = loop(seconds / 2)
      ((n1 / w1) / (n2 / w2) - 1) * 100
  }
}

/** Entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints a report, then one line `RESULT {...}` with raw metric values
  * that `perfbench/run.py` turns into the benchmark's result line. Exits
  * 1 when a correctness check fails.
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "medallion_stream" -> MedallionStream.run,
    "corpus_curation" -> CorpusCuration.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val workload = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val workDir = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(workDir)
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local("graft-perfbench", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1", workDir)
    val out = try workload(ctx) finally {
      ctx.tracer.foreach { t =>
        t.uninstall()
        t.writeJson(workDir.getParent.getParent.resolve(s"traces/$name-seed${ctx.seed}.jsonl"))
      }
    }
    spark.stop()
    val selfTimes = ctx.tracer.toSeq.flatMap(_.selfSecondsByLayer.map { case (l, v) => s"$l.self_s" -> v })
    val layers = out.layers ++ selfTimes + ("setup.session_s" -> sessionS)
    out.checks.foreach(c => println(s"check $c"))
    println((("session" -> sessionS) +: ctx.phases.toSeq).map { case (p, v) => f"$p $v%.1f s" }
      .mkString("phases: ", ", ", ""))
    if (ctx.traced) Report.print(name, ctx, layers)
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val metrics = (out.endToEnd ++ layers).toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":${num(v)}" }.mkString("{", ",", "}")
    println(s"""RESULT {"correct":${out.correct},"attempted":${out.attempted},"failed":${out.failed},"metrics":$metrics}""")
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }
}
