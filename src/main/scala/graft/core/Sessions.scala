package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory for the graft engine.
  *
  * Local defaults mirror the driver harness (local[N], shuffle
  * partitions = cores, UTC, UI off) but every knob here is the one we
  * would also set on a 1000-executor cluster: AQE on (runtime skew-join
  * and partition coalescing), broadcast threshold generous enough that
  * every TPC-H dimension table broadcasts.
  *
  * Three more settings remove fixed costs that every streaming trigger
  * and every file write would otherwise pay:
  *  - `fs.file.impl` and `fs.AbstractFileSystem.file.impl` name
  *    [[LocalFs]] for the FileSystem and the FileContext APIs. Without
  *    libhadoop the stock local file system forks a `chmod` child for
  *    every file create and mkdir, and a `readlink` child for every
  *    checkpoint rename: about 120 forks per medallion trigger of ~5.6k
  *    events, at 6.3 ms each on a 4-CPU VM. [[LocalFs]] writes the same
  *    mode bits and the same `.crc` checksums without them.
  *  - `spark.sql.artifact.isolation.enabled=false`. Spark keys its
  *    codegen cache by (classloader, code), and with isolation on each
  *    streaming query's cloned session gets a fresh executor
  *    classloader, so every trigger recompiled the same generated
  *    classes. Isolation exists to keep one session's added jars and
  *    classes (its artifacts) from another's; graft adds none, so the
  *    only effect of turning it off is one shared classloader, and with
  *    it one codegen cache.
  *
  * Ordering rule: Hadoop caches the `file:` FileSystem once per JVM, so
  * a `FileSystem.get` of a `file:` path made before the first session
  * is built keeps the stock class for the life of the JVM.
  */
object Sessions {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  def local(appName: String = "graft", cores: Int = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // testdata events.ts has shipped as TIMESTAMP(NANOS) parquet in
      // some regenerations, which Spark 4 rejects by default; read it
      // as long nanoseconds (no-op for micros data — see EventTime).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write timestamps as annotated INT64 micros, not INT96: INT96
      // is deprecated, carries no usable min/max stats, and therefore
      // can never be pruned — micros make time-range data skipping
      // (TxTable.scan and parquet row-group pushdown) work
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // keep managed tables (bucketing tests etc.) out of the repo cwd
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Fs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Fc].getName)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Loaders for the driver's TPC-H-ish parquet testdata (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Parquet scan of one table; relies on Catalyst pushdown — callers
    * filter/select and the scan prunes columns + row groups.
    *
    * `events.ts` has shipped as both TIMESTAMP(NANOS) — surfacing as
    * LongType epoch-nanos under the nanosAsLong conf (set here too,
    * for sessions not built by [[Sessions]]) — and TIMESTAMP_MICROS
    * (a real timestamp column); consumers adapt via [[EventTime]].
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }
}
