package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{IndexCache, Tables}
import graft.sources.Warc

/** GRADED WARC ingest — the crawl-to-columns stage run end-to-end:
  * the documents corpus is framed into real WARC archives once per
  * session (half plain `.warc`, half `.warc.gz`, each led by a
  * `warcinfo` record like production crawls), then [[qWarcIngest]]
  * parses the archives back with [[graft.sources.Warc.read]] and
  * must reproduce, from the BYTES ALONE, exactly what the oracle
  * computes from the parquet table — URI routing, UTF-8 payload
  * length, payload digest. Any framing or decode defect anywhere in
  * the writer/parser pair breaks the hash.
  *
  * Scale: the fixture is the miniature of a ~100k-file crawl; the
  * read side is file-granular tasks with streaming per-file decode
  * (never whole-file arrays), and everything after the parse is one
  * projection — no shuffle until the output sort.
  */
object WarcIngest {

  /** Frame the documents table into WARC shards under a session-owned
    * tmpdir (build-once via [[IndexCache]]); returns the glob path.
    * Built by the DISTRIBUTED writer ([[Warc.writeShards]]): the
    * shard assignment, record framing and per-shard ordering are all
    * column expressions, and every byte is emitted from an executor —
    * the re-shard shape a 100k-file crawl job runs (the driver-side
    * `collect()` build this replaced existed only for fixture scale).
    */
  private[graft] def warcFixture(s: SparkSession, dir: String): String =
    IndexCache.scratch(s, "warc-fixture", dir) { base =>
      val sh = col("doc_id") % 4
      Warc.writeShards(
        Tables.load(s, dir, "documents").select(
          concat(lit("crawl-0000"), sh.cast("string"),
            when(sh % 2 === 0, ".warc").otherwise(".warc.gz")).as("shard_file"),
          col("doc_id").as("seq"),
          lit("conversion").as("warc_type"),
          concat(lit("<urn:uuid:doc-"), col("doc_id").cast("string"), lit(">"))
            .as("record_id"),
          concat(lit("https://example.org/"), col("source"), lit("/"),
            col("doc_id").cast("string")).as("target_uri"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          lit("text/plain").as("content_type"),
          encode(col("text"), "utf-8").as("payload")),
        base)
      base
    }

  /** Parse the session's WARC fixture back to rows: route by target
    * URI, keep `conversion` records (skipping each shard's warcinfo),
    * surface the spec'd Content-Length and the payload md5. Must
    * hash-match the oracle's recomputation from the parquet corpus.
    */
  def qWarcIngest(s: SparkSession, dir: String): DataFrame =
    Warc.read(s, warcFixture(s, dir))
      .where(col("warc_type") === "conversion")
      .select(
        element_at(split(col("target_uri"), "/"), -1).cast("long").as("doc_id"),
        element_at(split(col("target_uri"), "/"), -2).as("source"),
        col("content_length"),
        md5(col("payload")).as("payload_md5"))
      .orderBy(col("doc_id"))

  /** The RE-SHARD job a crawl pipeline actually runs (WARC in → WARC
    * out, new sharding): parse the session's doc_id-sharded fixture,
    * re-emit it as one-shard-per-SOURCE archives through the
    * DISTRIBUTED writer ([[Warc.writeShards]] — every byte framed
    * executor-side), built once per session; returns the output dir.
    */
  private[graft] def reshardFixture(s: SparkSession, dir: String): String =
    IndexCache.scratch(s, "warc-reshard", dir) { out =>
      val parsed = Warc.read(s, warcFixture(s, dir))
        .where(col("warc_type") === "conversion")
      Warc.writeShards(
        parsed.select(
          concat(lit("reshard-"),
            element_at(split(col("target_uri"), "/"), -2), lit(".warc.gz"))
            .as("shard_file"),
          element_at(split(col("target_uri"), "/"), -1).cast("long").as("seq"),
          col("warc_type"), col("record_id"), col("target_uri"),
          col("warc_date"), col("content_type"), col("payload")),
        out)
      out
    }

  /** Parse the RE-SHARDED archives back and account per shard: the
    * whole WARC→WARC→columns loop (batch read, executor-side write,
    * read again) must reproduce the corpus' per-source doc counts and
    * byte mass from bytes alone — any framing defect anywhere in the
    * distributed writer breaks the hash.
    */
  def qWarcReshard(s: SparkSession, dir: String): DataFrame =
    Warc.read(s, reshardFixture(s, dir))
      .where(col("warc_type") === "conversion")
      .select(element_at(split(col("warc_file"), "/"), -1).as("shard_file"),
        col("content_length"))
      .groupBy(col("shard_file"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("content_length")).as("sum_bytes"))
      .orderBy(col("shard_file"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_warc_ingest" -> (qWarcIngest _),
    "q_warc_reshard" -> (qWarcReshard _))

  /** The parse must reproduce the parquet corpus from bytes alone:
    * DuckDB strlen is UTF-8 byte length (= the WARC Content-Length)
    * and md5 digests the string's bytes (= the payload digest).
    */
  val oracle: Map[String, String] = Map(
    "q_warc_ingest" ->
      """SELECT doc_id, source,
        |  CAST(strlen(text) AS BIGINT) AS content_length,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_warc_reshard" ->
      """SELECT 'reshard-' || source || '.warc.gz' AS shard_file,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes
        |FROM documents GROUP BY source
        |ORDER BY shard_file""".stripMargin)
}
