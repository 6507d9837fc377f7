package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.codec.ConfluentWire
import graft.core.TxTable
import graft.gen.{EventGenerator, KafkaEnvelope, ProductEvent}
import graft.ingest.RawIngest
import graft.medallion.{Medallion, TxMedallion}
import graft.schema.{InMemorySchemaRegistry, ProductSchemas}
import graft.streaming.CdcApply

/** `medallion_stream`: the reference's Kafka → raw → bronze → silver →
  * gold DAG on TxTables, driven open loop.
  *
  * A seeded [[EventGenerator]] (Confluent framing, v1:v2 = 1:2, every
  * 9th event a replay of the one before) feeds [[Rounds]] chains on
  * fresh tables: each takes a first trigger of [[SetupEvents]] events
  * (its set-up); each but the first, which pays the JVM's cold start,
  * then drains a backlog of [[Backfill]] events with one more
  * `RawIngest.run` + `TxMedallion.run`. On the last chain a
  * generator thread then offers [[Rate]] events/s in 100 ms slices,
  * each stamped with the time it was due, while the main thread runs
  * triggers back to back; each trigger hands the stream
  * only the slices generated before it started, one `addData` per
  * Kafka partition. [[WarmupTriggers]] untimed triggers come first.
  * After the window a downstream [[Replica]] of silver, copied as
  * silver stood before the last trigger, catches up on that trigger's
  * commit through silver's change feed, off the freshness path.
  *
  * End to end: the median backfill events per second of the rounds, the
  * median freshness of a slice (its due time to the return of the
  * `TxMedallion.run` that included it), and the median set-up time of
  * a round (stream-engine start, codegen, first commits). Checked: gold
  * equals `Medallion.batchGold` over the raw table, silver holds
  * exactly the distinct eventIds fed, and the replica equals silver.
  */
object MedallionStream {
  val Backfill = 25000
  val Rate = 2000
  val SliceMs = 100
  val Rounds = 3
  val SetupEvents = 1000
  val WarmupTriggers = 1
  val DayStart = new java.sql.Timestamp(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli)

  /** Framed events and the eventIds they carry. */
  final case class Batch(envelopes: Seq[KafkaEnvelope], eventIds: Seq[String])
  final case class Slice(dueNs: Long, batch: Batch)

  /** The generator's events, numbered globally so offsets, timestamps
    * and the replay-every-9th rule run on across slices.
    */
  final class Source(seed: Long) {
    val registry = new InMemorySchemaRegistry
    registry.register("product-value", ProductSchemas.v1)
    registry.register("product-value", ProductSchemas.v2)
    private val gen = new EventGenerator(seed)
    private var n = 0L
    private var prev: ProductEvent = _
    def take(k: Int): Batch = {
      val start = n
      val es = (0 until k).map { _ =>
        val e = if (n > 0 && n % 9 == 0) prev else gen.next(n.toInt)
        prev = e
        n += 1
        e
      }
      Batch(gen.envelopes(es, registry, ConfluentWire, startOffset = start), es.map(_.eventId))
    }
    def generated: Long = n
  }

  /** One MemoryStream-fed chain on fresh tables under `base`. */
  final class Chain(spark: SparkSession, base: String, src: Source) {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[KafkaEnvelope]
    val tables = TxMedallion.tables(spark, base)
    val rawPath = s"$base/raw"
    /** Distinct eventIds of every event fed so far. */
    val fed = new java.util.HashSet[String]()
    var eventsFed = 0L
    /** Feed `batches` as one `addData` per Kafka partition. */
    def feed(batches: Seq[Batch]): Unit = {
      batches.foreach { b => b.eventIds.foreach(fed.add); eventsFed += b.eventIds.size }
      batches.flatMap(_.envelopes).groupBy(_.partition).toSeq.sortBy(_._1)
        .foreach { case (_, es) => stream.addData(es) }
    }
    /** Wall-clock (start, end) milliseconds of each `TxMedallion.run`. */
    val medallionRuns = mutable.ArrayBuffer.empty[(Long, Long)]
    /** One scheduled run of the DAG over everything fed so far. */
    def trigger(name: String): Unit = {
      Trace.span(s"ingest.$name") {
        RawIngest.run(stream.toDF(), src.registry, ConfluentWire, rawPath,
          s"$base/_checkpoints/raw").awaitTermination()
      }
      val start = System.currentTimeMillis()
      Trace.span(s"medallion.$name") {
        TxMedallion.run(spark, rawPath, tables, s"$base/_checkpoints", DayStart)
      }
      medallionRuns += ((start, System.currentTimeMillis()))
    }
  }

  /** A downstream replica of silver, copied at version `from` and kept
    * current through silver's change feed: each `follow` reads the
    * versions committed since the last one with `readChangeFeed`,
    * applies them with `CdcApply.apply`, then runs a `compact` and a
    * `vacuum` of the replica.
    */
  final class Replica(ctx: Ctx, silver: TxTable, from: Long) {
    val table = new TxTable(ctx.spark, ctx.dir("replica") + "/silver_replica")
    private var at = from
    Trace.span("core.append")(table.append(silver.readAt(at)))
    var slices = 0
    def follow(): Unit = {
      val head = silver.version
      if (head > at) {
        val feed = Trace.span("core.readChangeFeed")(silver.readChangeFeed(at, head))
        Trace.span("streaming.CdcApply")(CdcApply.apply(table, feed, Seq("eventId")))
        at = head
        slices += 1
        Trace.span("core.compact")(table.compact(targetBytes = 4L << 20, smallerThan = 1L << 20))
        Trace.span("core.vacuum")(table.vacuum(retainVersions = 1, olderThanMs = 0L))
      }
    }
  }

  /** The single-threaded baseline of a traced run: the same backfill on
    * a fresh `local[1]` session in the same (warm) JVM, untraced.
    * Stops the run's session.
    */
  def local1Backfill(ctx: Ctx): Double = {
    ctx.tracer.foreach(_.uninstall())
    ctx.spark.stop()
    val single = graft.core.Sessions.local("graft-perfbench-local1", 1)
    single.sparkContext.setLogLevel("ERROR")
    try {
      val src = new Source(ctx.seed * Rounds + 1)
      val c = new Chain(single, ctx.dir("local1"), src)
      c.feed(Seq(src.take(SetupEvents)))
      c.trigger("setup")
      c.feed(Seq(src.take(Backfill)))
      val t0 = System.nanoTime()
      c.trigger("backfill")
      Backfill / ((System.nanoTime() - t0) / 1e9)
    } finally single.stop()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // rounds on fresh tables: a small first trigger (set-up), then, in
    // every round but the first, the backlog drained by one more
    // (backfill); the last round's chain carries on into the steady state
    var fillS = 0.0
    val rounds = ctx.phase("rounds")((1 to Rounds).map { r =>
      val src = new Source(ctx.seed * Rounds + r)
      val f0 = System.nanoTime()
      val first = Trace.span("gen.backlog")(src.take(SetupEvents))
      val backlog = if (r == 1) None else Some(Trace.span("gen.backlog")(src.take(Backfill)))
      fillS += (System.nanoTime() - f0) / 1e9
      val chain = new Chain(spark, ctx.dir(s"round$r"), src)
      val t0 = System.nanoTime()
      Trace.span("setup.chain") {
        chain.feed(Seq(first))
        chain.trigger("setup")
      }
      val t1 = System.nanoTime()
      val rate = backlog.map { b =>
        chain.feed(Seq(b))
        chain.trigger("backfill")
        Backfill / ((System.nanoTime() - t1) / 1e9)
      }
      (chain, src, (t1 - t0) / 1e9, rate)
    })
    ctx.layers += "setup.fill_s" -> fillS / Rounds
    val setupS = rounds.map(_._3)
    val backfillRates = rounds.flatMap(_._4)
    val backfillRate = Stats.median(backfillRates)
    val (chain, src) = (rounds.last._1, rounds.last._2)

    // steady state: the generator thread offers Rate events/s
    val queue = new ConcurrentLinkedQueue[Slice]()
    val perSlice = Rate * SliceMs / 1000
    @volatile var stop = false
    var lateMaxMs = 0.0
    val genThread = new Thread(() => {
      val t0 = System.nanoTime()
      var k = 0L
      while (!stop) {
        val due = t0 + k * SliceMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        if (!stop) {
          val events = Trace.span("gen.slice")(src.take(perSlice))
          queue.add(Slice(due, events))
          lateMaxMs = math.max(lateMaxMs, (System.nanoTime() - due) / 1e6)
          k += 1
        }
      }
    }, "perfbench-generator")
    val latencies = mutable.ArrayBuffer.empty[Double]
    val triggerS = mutable.ArrayBuffer.empty[Double]
    var triggers = 0L
    var failed = 0L
    /** Silver's version before the latest trigger. */
    var silverBefore = -1L
    def drainAndTrigger(timed: Boolean): Unit = {
      silverBefore = chain.tables.silver.version
      val slices = Iterator.continually(queue.poll()).takeWhile(_ != null).toSeq
      val t0 = System.nanoTime()
      chain.feed(slices.map(_.batch))
      try {
        chain.trigger(if (timed) "trigger" else "warmup")
        val end = System.nanoTime()
        if (timed) {
          triggerS += (end - t0) / 1e9
          latencies ++= slices.map(s => (end - s.dueNs) / 1e9)
        }
        triggers += 1
      } catch { case e: Exception => failed += 1; System.err.println(s"trigger failed: $e") }
    }
    genThread.start()
    // warm-up: the first steady triggers pay the plans' first runs, and
    // the window starts with slices already queued
    ctx.phase("warmup")((1 to WarmupTriggers).foreach { _ =>
      Thread.sleep(5L * SliceMs)
      drainAndTrigger(timed = false)
    })
    val overhead = ctx.phase("window")(ctx.measure { seconds =>
      // (triggers, their summed seconds): the overhead compares the
      // mean trigger time of the two halves
      val t0 = System.nanoTime()
      val k0 = triggerS.size
      while (System.nanoTime() - t0 < seconds * 1e9) drainAndTrigger(timed = true)
      ((triggerS.size - k0).toLong, triggerS.drop(k0).sum)
    })
    stop = true
    genThread.join()
    val replica = ctx.phase("replica") {
      val r = new Replica(ctx, chain.tables.silver, silverBefore)
      r.follow()
      r
    }

    // correctness
    val t = chain.tables
    val expected = Medallion.batchGold(spark, chain.rawPath, DayStart)
    val gold = t.gold.read().select(expected.columns.map(col).toIndexedSeq: _*)
    val silver = t.silver.read()
    val (goldOk, replicaOk, silverIds) = ctx.phase("checks")((
      Data.fingerprint(gold) == Data.fingerprint(expected),
      Data.fingerprint(silver) == Data.fingerprint(replica.table.read().select(silver.columns.map(col).toIndexedSeq: _*)),
      silver.select("eventId").collect().map(_.getString(0))))
    val silverSet = silverIds.toSet
    val idsOk = silverIds.length == silverSet.size && silverSet == chain.fed.asScala
    val checks = Seq(
      s"gold equals Medallion.batchGold (rows and hash): $goldOk",
      s"silver holds exactly the ${chain.fed.size} distinct eventIds fed: $idsOk (${silverIds.length} rows)",
      s"replica equals silver (rows and hash): $replicaOk after ${replica.slices} change-feed slices",
      s"${latencies.size} slices over $triggers triggers; generator ran at most ${"%.1f".format(lateMaxMs)} ms late")

    // per-stage split of each steady trigger, from the commit
    // timestamps the bronze, silver and gold logs record
    def commits(tx: TxTable) = tx.history().map(_.timestampMs)
    val (bronzeTs, silverTs, goldTs) = (commits(t.bronze), commits(t.silver), commits(t.gold))
    val stages = chain.medallionRuns.drop(2 + WarmupTriggers).flatMap { case (s, e) =>
      def last(ts: Seq[Long]) = ts.filter(x => x >= s && x <= e).lastOption
      for (b <- last(bronzeTs); sv <- last(silverTs); g <- last(goldTs))
        yield ((b - s) / 1e3, (sv - b) / 1e3, (g - sv) / 1e3)
    }.toSeq
    ctx.layers ++= Seq(
      "gen.events" -> src.generated.toDouble,
      "gen.late_ms_max" -> lateMaxMs,
      "core.bronze_versions" -> (t.bronze.version + 1).toDouble,
      "core.silver_rows" -> silverIds.length.toDouble,
      "core.dedup_dropped" -> (chain.eventsFed - silverIds.length).toDouble,
      "core.space_amp" -> Data.dirBytes(replica.table.tablePath).toDouble / replica.table.detail().sizeBytes)
    if (stages.nonEmpty) ctx.layers ++= Seq(
      "medallion.bronze_s" -> Stats.median(stages.map(_._1)),
      "medallion.silver_s" -> Stats.median(stages.map(_._2)),
      "medallion.gold_s" -> Stats.median(stages.map(_._3)))
    ctx.tracer.foreach { tr =>
      ctx.layers ++= Report.spanMetrics(tr, Seq("ingest.backfill", "medallion.backfill"), Nil)
      ctx.layers ++= Report.spanMetrics(tr, Seq("ingest.trigger"),
        Seq("actions", "shuffle_bytes", "task_skew", "input_partitions"))
      ctx.layers ++= Report.spanMetrics(tr, Seq("medallion.trigger"),
        Seq("actions", "shuffle_bytes", "spill_bytes", "task_skew"))
      ctx.layers ++= Report.spanMetrics(tr, Seq("core.readChangeFeed", "streaming.CdcApply",
        "core.compact", "core.vacuum"))
    }
    println(s"medallion_stream: set-up ${setupS.map("%.2f".format(_)).mkString(", ")} s; backfill " +
      s"${backfillRates.map("%.0f".format(_)).mkString(", ")} events/s")
    println(f"medallion_stream: $triggers triggers, " +
      f"trigger p50 ${Stats.median(triggerS.toSeq)}%.2f s; freshness p50 ${Stats.median(latencies.toSeq)}%.2f s " +
      f"p90 ${Stats.percentile(latencies.toSeq, 0.9)}%.2f s over ${latencies.size} slices")
    if (ctx.traced) ctx.layers += "baseline.local1_backfill_events_per_s" ->
      ctx.phase("baseline")(local1Backfill(ctx))
    val correct = goldOk && replicaOk && idsOk && failed == 0
    Outcome(correct, attempted = Rounds + backfillRates.size + triggers + failed, failed = failed,
      endToEnd = Map(
        "setup_s" -> Stats.median(setupS),
        "latency_s" -> Stats.median(latencies.toSeq),
        "throughput_per_s" -> backfillRate),
      layers = Map("trace.overhead_pct" -> overhead) ++ ctx.layers,
      checks = checks)
  }
}
