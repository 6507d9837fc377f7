package graft.perfbench

/** Per-layer figures drawn from a traced run's spans, and the printed
  * report of where the time went.
  */
object Report {
  private def named(t: Tracer, name: String): Seq[Span] = t.spans.filter(_.name == name)

  /** For each span name: `<name>.s`, the median span duration, and the
    * median per span of each requested `fields` (`actions`: Spark jobs
    * submitted; `shuffle_bytes`: shuffle bytes written; `spill_bytes`;
    * `task_skew`: the slowest task over the median task).
    */
  def spanMetrics(t: Tracer, names: Seq[String],
                  fields: Seq[String] = Seq("actions")): Seq[(String, Double)] =
    names.flatMap { n =>
      val ss = named(t, n)
      def med(f: Work => Double) = Stats.median(ss.map(s => f(t.workFor(s.id))))
      if (ss.isEmpty) Nil
      else (s"$n.s" -> Stats.median(ss.map(_.seconds))) +: fields.map {
        case "actions" => s"$n.actions" -> med(_.jobs.toDouble)
        case "shuffle_bytes" => s"$n.shuffle_bytes" -> med(_.shuffleWriteBytes.toDouble)
        case "spill_bytes" => s"$n.spill_bytes" -> med(_.spillBytes.toDouble)
        case "task_skew" => s"$n.task_skew" -> med(_.taskSkew)
        case "input_partitions" => s"$n.input_partitions" ->
          med(w => if (w.sourceTasks.isEmpty) 0.0 else Stats.median(w.sourceTasks.map(_.toDouble).toSeq))
      }
    }

  def print(workload: String, ctx: Ctx, layers: Map[String, Double]): Unit = ctx.tracer.foreach { t =>
    val spans = t.spans
    println(s"trace $workload: ${spans.size} spans, run ${t.runId}")
    println(f"${"layer"}%-10s ${"self_s"}%9s")
    t.selfSecondsByLayer.toSeq.sortBy(-_._2).foreach { case (l, s) => println(f"$l%-10s $s%9.3f") }
    println(f"${"span"}%-28s ${"calls"}%6s ${"total_s"}%9s ${"jobs"}%6s ${"tasks"}%7s ${"sql"}%5s ${"sqlfail"}%7s " +
      f"${"shuf_rd_MB"}%10s ${"shuf_wr_MB"}%10s ${"spill_MB"}%8s ${"task_max_ms"}%11s ${"task_p50_ms"}%11s")
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      val ws = ss.map(s => t.workFor(s.id))
      val ms = ws.flatMap(_.taskMs).map(_.toDouble)
      def mb(f: Work => Long) = ws.map(f).sum / 1e6
      println(f"$n%-28s ${ss.size}%6d ${ss.map(_.seconds).sum}%9.3f ${ws.map(_.jobs).sum}%6d " +
        f"${ws.map(_.tasks).sum}%7d ${ws.map(_.sqlExecutions).sum}%5d ${ws.map(_.sqlFailed).sum}%7d " +
        f"${mb(_.shuffleReadBytes)}%10.2f ${mb(_.shuffleWriteBytes)}%10.2f ${mb(_.spillBytes)}%8.2f " +
        f"${if (ms.isEmpty) 0.0 else ms.max}%11.0f ${if (ms.isEmpty) 0.0 else Stats.median(ms)}%11.0f")
    }
    import scala.jdk.CollectionConverters._
    t.streamProgress.asScala.toSeq.sortBy(_._1).foreach { case (q, (n, rows)) =>
      println(s"stream $q: $n progress events, $rows input rows")
    }
    val (ok, bad, sqlS) = t.sqlTotals.get
    println(f"QueryExecutionListener: $ok SQL executions succeeded ($sqlS%.2f s), $bad failed")
    println(f"tracing overhead: ${layers.getOrElse("trace.overhead_pct", Double.NaN)}%.1f%% " +
      "(untraced half of the measured window against the traced half)")
  }
}
