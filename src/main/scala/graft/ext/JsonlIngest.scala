package graft.ext

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core.{IndexCache, Tables}

/** GRADED JSONL corpus ingest — the other wire format LLM corpora
  * ship in (one JSON object per line, gzip-sharded; The Pile, C4,
  * RedPajama, every HuggingFace text dump). The full production path
  * runs once per session and is then graded end-to-end:
  *
  *   1. the documents table is written out as sharded `.jsonl.gz`
  *      through Spark's distributed text writer (to_json per line),
  *      plus one hand-written shard carrying 3 malformed lines — the
  *      corrupt tail every real crawl dump has;
  *   2. a CHECKPOINTED STREAMING file source (`readStream.json` with
  *      an explicit schema — never inference, which would scan the
  *      corpus twice and freeze the schema wrong at 100 TB) admits
  *      shards incrementally (`maxFilesPerTrigger`), PERMISSIVE-
  *      captures malformed lines into `_corrupt`, and foreachBatch
  *      splits good rows into the ingested store and corrupt raw
  *      lines into a DLQ — the [[graft.ingest.RawIngest]] contract
  *      transplanted to file sources;
  *   3. [[qJsonlIngest]] aggregates the INGESTED STORE (per-source
  *      doc counts + byte mass) and folds in the DLQ count; the
  *      oracle recomputes the same from the parquet corpus plus the
  *      fixture's known 3 corrupt lines. Any loss, duplication, or
  *      JSON escaping defect anywhere in the write→stream→split path
  *      breaks the hash.
  *
  * Scale: file-granular streaming admission with bounded per-trigger
  * work; the explicit schema keeps the scan one-pass; the DLQ write
  * touches only corrupt rows. Gzip text is non-splittable, so shard
  * size (here 4 shards) is the parallelism knob — exactly how
  * production dumps pick their shard count.
  */
object JsonlIngest {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val readSchema = docSchema.add(StructField("_corrupt", StringType))

  private[ext] val CorruptLines = Seq(
    "{broken json",
    "not json at all",
    """{"doc_id": 99999999,""")

  /** Write the sharded fixture; returns its directory. */
  private[ext] def jsonlFixture(s: SparkSession, dir: String): String =
    IndexCache.scratch(s, "jsonl-fixture", dir) { base =>
      // distributed JSON-lines write: hash-sharded, gzip per shard
      Tables.load(s, dir, "documents")
        .repartition(4, col("doc_id"))
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        .write.option("compression", "gzip").mode(SaveMode.Overwrite).text(base)
      // the corrupt tail shard, gzip like its siblings
      val junk = java.nio.file.Paths.get(base, "part-junk.txt.gz")
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(junk))
      try out.write(CorruptLines.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      base
    }

  /** Run the checkpointed streaming ingest over the fixture once per
    * session; returns (ingested parquet dir, DLQ dir).
    */
  private[graft] def ingest(s: SparkSession, dir: String): (String, String) =
    IndexCache.scratch(s, "jsonl-ingest", dir) { base =>
      val src = jsonlFixture(s, dir)
      val (good, dlq) = (s"$base/docs", s"$base/dlq")
      val q = s.readStream
        .schema(readSchema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("maxFilesPerTrigger", 2)
        .json(src)
        .writeStream
        .queryName("jsonl-ingest")
        .option("checkpointLocation", s"$base/_checkpoint")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val split = batch.cache()
          try {
            split.where(col("_corrupt").isNull).drop("_corrupt")
              .write.mode(SaveMode.Append).parquet(good)
            // LOAD-BEARING ORDER: Spark disallows a file-source query
            // that references ONLY the corrupt-record column; this
            // select is legal only because the good-path write above
            // has already materialized the cache with the full schema.
            // Reordering the writes or dropping the cache() makes this
            // branch throw AnalysisException.
            val bad = split.where(col("_corrupt").isNotNull).select(col("_corrupt"))
            if (bad.limit(1).count() > 0)
              bad.write.mode(SaveMode.Append).parquet(dlq)
          } finally split.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (good, dlq)
    }

  /** Per-source doc count + byte mass over the ingested store, plus a
    * `_corrupt` accounting row from the DLQ.
    */
  def qJsonlIngest(s: SparkSession, dir: String): DataFrame = {
    val (good, dlq) = ingest(s, dir)
    s.read.parquet(good)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .unionAll(
        s.read.parquet(dlq)
          .agg(count(lit(1)).as("n_docs"))
          .select(lit("_corrupt").as("source"), col("n_docs"),
            lit(null).cast("long").as("sum_chars")))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_jsonl_ingest" -> (qJsonlIngest _))

  /** The ingested store must equal the corpus (per-source counts and
    * byte mass), and the DLQ exactly the fixture's 3 malformed lines.
    */
  val oracle: Map[String, String] = Map(
    "q_jsonl_ingest" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '_corrupt', 3, NULL
        |ORDER BY source""".stripMargin)
}
