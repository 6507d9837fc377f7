package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{IndexCache, Tables}

/** GRADED CSV corpus ingest — the third corpus wire format, and the
  * one with the nasty quoting semantics: every 7th document's text is
  * deliberately given an EMBEDDED NEWLINE plus a double-quoted tail
  * before framing, so the fixture forces the writer to quote and the
  * reader to re-assemble multi-line records with doubled-quote
  * escapes (the RFC 4180 rules). The parse-back must reproduce the
  * mutated text byte-for-byte against the oracle's recomputation.
  *
  * Scale note, documented as part of the contract: `multiLine=true`
  * (required once quoted fields may contain newlines) makes CSV
  * files NON-SPLITTABLE — each file parses whole, so shard size is
  * the parallelism knob, exactly like gzip JSONL. A corpus that can
  * guarantee newline-free fields should ship newline-delimited CSV
  * (splittable) or JSONL instead; this operator grades the hard case.
  *
  * KNOWN FORMAT BOUNDARIES (caught by `WireFormatFuzzSpec`, not
  * papered over): (a) Spark's CSV WRITER defaults
  * `ignore*WhiteSpace=true` — unlike the reader — and silently trims
  * padded fields; this module disables it. (b) bare CR / CRLF INSIDE
  * field values does not survive the univocity parser (line-ending
  * normalization inside quotes, and mis-framing cascades on unquoted
  * neighbors) — a corpus whose text can contain CR must ship JSONL
  * (which round-trips it byte-for-byte, fuzz-asserted). (c) the
  * EMPTY-STRING document collapses to NULL under the DEFAULT options:
  * the reader maps any parsed field equal to `nullValue` to NULL, and
  * `nullValue` defaults to "" — so the writer's quoted-empty `""`
  * comes back as NULL (emptyValue does not rescue it; probed
  * exhaustively). The fix is a SENTINEL `nullValue` (the classic
  * `\N`) on writer AND reader, which makes ''/NULL round-trip exactly
  * — this module ships it, and the fuzz spec asserts both the trap
  * and the recipe. Corollary the sentinel inherits: a text field
  * whose ENTIRE value equals the sentinel string would read back
  * NULL, so the sentinel must live outside the data alphabet (audit
  * with one `count(text = '\N')` pass, or pick a longer sentinel);
  * fields merely CONTAINING `\N` are unaffected (the match is
  * whole-field).
  */
object CsvIngest {

  private val csvSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType)))

  /** The deterministic edge-case mutation, Spark side: an embedded
    * newline, a double-quoted run, and DELIMITERS inside the field.
    */
  private def mutatedText = when(col("doc_id") % 7 === 0,
    concat(col("text"), lit("\n\"tail, quoted, delimited\""))).otherwise(col("text"))

  private[graft] def csvFixture(s: SparkSession, dir: String): String =
    IndexCache.scratch(s, "csv-fixture", dir) { base =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), mutatedText.as("text"))
        .repartition(4, col("doc_id"))
        .write.mode(SaveMode.Overwrite)
        .option("compression", "gzip")
        .option("header", "false")
        .option("quote", "\"").option("escape", "\"") // RFC 4180 doubling
        // Spark's CSV WRITER defaults ignore*WhiteSpace=true (the
        // reader defaults false!) and silently trims padded fields —
        // WireFormatFuzzSpec caught this; disable for fidelity
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        // sentinel null framing (boundary (c)): NULL ships as \N so
        // the empty-string document can survive the read side
        .option("nullValue", "\\N")
        .csv(base)
      base
    }

  /** Parse the CSV shards back and surface byte length + digest of
    * every text — any quoting/escaping/multi-line defect in the
    * writer/reader pair breaks the hash.
    */
  def qCsvIngest(s: SparkSession, dir: String): DataFrame =
    s.read.schema(csvSchema)
      .option("multiLine", "true") // quoted fields carry newlines
      .option("quote", "\"").option("escape", "\"")
      // the reader maps fields equal to nullValue to NULL and its
      // DEFAULT is "" — without the sentinel, every empty-string
      // document silently reads back NULL (boundary (c), fuzz-asserted)
      .option("nullValue", "\\N")
      .csv(csvFixture(s, dir))
      .select(col("doc_id"), col("source"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(to_binary(col("text"), lit("utf-8"))).as("text_md5"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_csv_ingest" -> (qCsvIngest _))

  /** Oracle: the same mutation recomputed from the parquet corpus. */
  val oracle: Map[String, String] = Map(
    "q_csv_ingest" ->
      """WITH m AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN text || chr(10) || '"tail, quoted, delimited"'
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS text_md5
        |FROM m ORDER BY doc_id""".stripMargin)
}
