package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.codec.ConfluentWire
import graft.ext.{AsofJoin, CorpusBuild, CrawlRefresh, CsvIngest, Curation, DedupClusters, EventQueries, GraphRank, IncrementalDedup, IvfIndex, JsonlIngest, LangTools, MinHashDedup, Multimodal, PqIndex, Relational, ScaleOps, Similarity, SqIndex, TextAnalysis, TpchExtra, UrlOps, WarcIngest}
import graft.gen.{EventGenerator, KafkaEnvelope}
import graft.schema.InMemorySchemaRegistry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each ext module owns its `queries` (Spark impls) and `oracle`
  * (DuckDB-equivalent SQL); this object is only the union. Queries
  * without an oracle entry get the driver's weaker rows-only check.
  */
object SparkEntry {

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracle),
      (TpchExtra.queries, TpchExtra.oracle),
      (EventQueries.queries, EventQueries.oracle),
      (TextAnalysis.queries, TextAnalysis.oracle),
      (Similarity.queries, Similarity.oracle),
      (MinHashDedup.queries, MinHashDedup.oracle),
      (IvfIndex.queries, IvfIndex.oracle),
      (PqIndex.queries, PqIndex.oracle),
      (SqIndex.queries, SqIndex.oracle),
      (AsofJoin.queries, AsofJoin.oracle),
      (ScaleOps.queries, ScaleOps.oracle),
      (DedupClusters.queries, DedupClusters.oracle),
      (Multimodal.queries, Multimodal.oracle),
      (LangTools.queries, LangTools.oracle),
      (Curation.queries, Curation.oracle),
      (GraphRank.queries, GraphRank.oracle),
      (IncrementalDedup.queries, IncrementalDedup.oracle),
      (WarcIngest.queries, WarcIngest.oracle),
      (JsonlIngest.queries, JsonlIngest.oracle),
      (UrlOps.queries, UrlOps.oracle),
      (CrawlRefresh.queries, CrawlRefresh.oracle),
      (CsvIngest.queries, CsvIngest.oracle),
      (CorpusBuild.queries, CorpusBuild.oracle),
    )

  /** Flagship: the reference's full DAG — seeded Avro producer →
    * Kafka-shaped stream → schema-registry demux ingest → bronze →
    * silver (stateful dedup) → gold aggregate — run end-to-end in
    * process; returns the gold table (driver smoke-checks rows>0).
    *
    * The chain runs on the ACID [[graft.medallion.TxMedallion]]
    * tables — the shape the reference actually has (every sink is a
    * Delta table): silver and gold advance as batch increments over
    * bronze's commit log. `perfbench`'s `medallion_stream` workload
    * times the same `RawIngest.run` + `TxMedallion.run` chain.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gen = new EventGenerator(seed = 42)
    val registry = new InMemorySchemaRegistry
    val stream = MemoryStream[KafkaEnvelope]
    stream.addData(gen.envelopes(gen.events(900, duplicateEvery = 9), registry, ConfluentWire))
    // under the driver temp dir, which Spark deletes when the context
    // stops (the IndexCache.scratchPath convention)
    val base = s"${org.apache.spark.SparkFiles.getRootDirectory()}/graft-entry-" +
      java.util.UUID.randomUUID()
    // dayStart from the epoch, not Timestamp.valueOf: the latter
    // parses in the JVM default TZ, which would empty the gold filter
    // on a non-UTC JVM (generated events are fixed UTC epochs)
    val dayStart = new java.sql.Timestamp(
      java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli)
    graft.ingest.RawIngest.run(stream.toDF(), registry, ConfluentWire,
      s"$base/raw", s"$base/_checkpoints/raw").awaitTermination()
    val t = graft.medallion.TxMedallion.tables(spark, base)
    graft.medallion.TxMedallion.run(spark, s"$base/raw", t,
      s"$base/_checkpoints", dayStart)
    t.gold.read()
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
