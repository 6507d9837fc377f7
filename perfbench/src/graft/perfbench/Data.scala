package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Helpers for inputs, outputs and table sizes. */
object Data {
  /** Row count and an order-independent hash over every column. */
  def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))).cast("string")).head()
    (r.getLong(0), r.getString(1))
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong((p: Path) => Files.size(p)).sum()
    finally s.close()
  }
}

/** The fixed corpus `corpus_curation` reads: the shape of graft's
  * `documents` and `embeddings` tables, generated from a constant seed
  * so that one expected-fingerprint file holds for every run.
  *
  *   - documents: doc_id, text (20 to 90 words from a 30-word vocabulary;
  *     one document in twenty repeats an earlier one with " dup"
  *     appended), lang (en, de, es, fr, zh), source (src0 to src19),
  *     n_chars.
  *   - embeddings: vec_id, 64 unit-norm float dimensions, label 0 to 9.
  */
object Corpus {
  val Seed = 42L
  val Docs = 600
  val Vectors = 500
  val Dim = 64
  val Vocab: Vector[String] = Vector("a", "the", "data", "spark", "stream", "batch", "table", "row",
    "column", "key", "value", "join", "merge", "sort", "hash", "scan", "filter", "group", "agg",
    "window", "order", "line", "part", "customer", "query", "vector", "small", "big", "fast", "slow")
  val Langs: Vector[String] = Vector("en", "en", "en", "de", "es", "fr", "zh")

  def write(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(Seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs = (0 until Docs).map { i =>
      val text =
        if (i > 10 && rnd.nextInt(20) == 0) texts(rnd.nextInt(texts.size)) + " dup"
        else Seq.fill(20 + rnd.nextInt(71))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      texts += text
      (i.toLong, text, Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecs = (0 until Vectors).map { i =>
      val v = Array.fill(Dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    vecs.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
