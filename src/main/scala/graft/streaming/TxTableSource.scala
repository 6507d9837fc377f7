package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftStreamBridge, Row, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.core.TxTable

/** Structured Streaming source over a [[TxTable]] commit log — the
  * table-format-as-streaming-source pattern the reference uses when
  * bronze reads a Delta table as a stream
  * (/root/reference/notebooks/medallion/bronze.py:14-17), on our own
  * transaction log. The offset IS the table version: each micro-batch
  * reads exactly the files added by commits in `(startVersion,
  * endVersion]` (rewrite/compaction commits are skipped — they move
  * no new rows; an overwrite in the range fails loudly, the
  * append-only contract a format's source enforces). `getBatch`
  * returns a normal parquet relation over that file list tagged as a
  * streaming batch, so per-micro-batch column pruning and filter
  * pushdown work unchanged — this is the design Delta's own streaming
  * source uses (a DSv1 `Source` whose batches are driver-built file
  * relations), not a row-copying custom reader.
  *
  * Scale: an incremental consumer processes only new commits per
  * trigger — O(new data), never a table rescan — and the checkpointed
  * offset (a version number) makes restart replay exact: combined
  * with an idempotent sink ([[TxTable.appendBatch]]) the chain is
  * exactly-once end to end.
  */
class TxTableSource(sqlContext: SQLContext, tablePath: String,
                    userSchema: Option[StructType],
                    maxVersionsPerTrigger: Option[Long] = None,
                    changeFeed: Boolean = false,
                    startingVersion: Option[String] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}

  private val spark = sqlContext.sparkSession
  private val table = new TxTable(spark, tablePath)

  /** Where a FRESH (checkpoint-less) stream starts, as an exclusive
    * from-offset: `option("startingVersion", n)` includes commits from
    * version n on (the Delta-source option — also how a consumer
    * starts cleanly AFTER an overwrite boundary); `"latest"` pins to
    * the head at source creation, so only commits made after stream
    * start flow. Default: -1, i.e. every commit from v0 (for an
    * append-only table, exactly the initial snapshot).
    */
  private val numericFrom: Option[Long] = startingVersion match {
    case None | Some("latest") => None
    case Some(n) =>
      val v = try n.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"startingVersion must be a version number or 'latest', got '$n'")
      }
      require(v >= 0, s"startingVersion must be >= 0, got $v")
      Some(v - 1)
  }

  private val initialFrom: Long = startingVersion match {
    case None => -1L
    case Some("latest") => table.version
    case _ => numericFrom.get
  }

  // Trigger.AvailableNow drains to the head version captured HERE, so
  // the run has a fixed end even while writers keep committing — and
  // implementing the interface ourselves (instead of letting the
  // engine wrap the source) is what makes the engine honor
  // maxVersionsPerTrigger: the generic wrapper discards read limits.
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(table.version)

  /** Admission control (`option("maxVersionsPerTrigger", n)`): cap
    * each micro-batch at n commits past the start offset, so a
    * consumer catching up after downtime processes the backlog as
    * bounded batches instead of one giant one — the FileStreamSource
    * maxFilesPerTrigger pattern. When the engine asks for a capped
    * batch we advance at most n versions; AvailableNow keeps
    * triggering until the prepared end is reached.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head = availableNowEnd.getOrElse(table.version)
    if (head < 0) return null
    val capped = (maxVersionsPerTrigger, limit) match {
      // an allAvailable probe asks for the drain TARGET — never cap
      // it, or the stream would end early
      case (Some(n), l) if !l.isInstanceOf[
          org.apache.spark.sql.connector.read.streaming.ReadAllAvailable] =>
        val start = Option(startOffset).map(_.json.trim.toLong).getOrElse(initialFrom)
        math.min(head, start + n)
      case _ => head
    }
    LongOffset(capped)
  }

  override def reportLatestOffset(): OffsetV2 = {
    val v = table.version
    if (v < 0) null else LongOffset(v)
  }

  /** Fixed at stream start (the streaming contract); columns added to
    * the table later surface on restart, reading as null from older
    * files — the table's own mergeSchema semantics.
    */
  override val schema: StructType = {
    val base = userSchema
      .orElse(table.schemaOption)
      .getOrElse(throw new IllegalStateException(
        s"$tablePath has no commits yet and no schema was supplied — " +
          "commit once or pass .schema(...) before streaming from it"))
    if (changeFeed)
      base.add(TxTable.ChangeTypeCol, "string").add(TxTable.CommitVersionCol, "long")
    else base
  }

  override def getOffset: Option[Offset] = {
    val v = table.version
    if (v < 0) None else Some(LongOffset(v))
  }

  // LongOffset.json is the bare version number; a checkpoint-restart
  // hands back a SerializedOffset carrying the same json — parsing
  // json() handles both without caring which class arrived
  private def versionOf(o: Offset): Long = o.json.trim.toLong

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // a NUMERIC startingVersion stays authoritative over a lower
    // engine offset: set beyond the current head, the stream yields
    // empty batches until the log catches up (it WAITS, never crashes
    // on an inverted range, and never serves the excluded versions).
    // 'latest' must NOT clamp — it re-resolves to the new head on
    // every restart, where the checkpointed offset is the truth.
    val from = math.max(start.map(versionOf).getOrElse(initialFrom),
      numericFrom.getOrElse(Long.MinValue))
    val to = versionOf(end)
    if (from >= to)
      return GraftStreamBridge.streamingParquetBatch(spark, schema, Nil)
    if (changeFeed) {
      // row-level mode (`option("readChangeFeed", "true")`): the batch
      // is the feed union (literal columns + per-version parts), not a
      // plain file relation — re-tag its rows as a streaming batch.
      // This is what lets a readStream SURVIVE upstream merge/delete.
      import org.apache.spark.sql.functions.col
      GraftStreamBridge.asStreamingDF(
        table.readChangeFeed(from, to)
          .select(schema.fieldNames.toIndexedSeq.map(col): _*))
    } else {
      val st = table.state()
      if (st.renames.isEmpty)
        GraftStreamBridge.streamingParquetBatch(spark, schema,
          table.changedFiles(from, to))
      else {
        // column mapping: data files carry PHYSICAL names — read under
        // them, then project back to the stream's surface schema
        import org.apache.spark.sql.functions.col
        val toPhys = st.toPhysicalName
        val physFields = schema.fields.map(f =>
          f.copy(name = toPhys.getOrElse(f.name, f.name)))
        GraftStreamBridge.streamingParquetBatch(spark,
            StructType(physFields.toIndexedSeq), table.changedFiles(from, to))
          .select(physFields.zip(schema.fields).map { case (p, l) =>
            col(s"`${p.name}`").as(l.name) }.toIndexedSeq: _*)
      }
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String = s"TxTableSource[$tablePath]"
}

/** Streaming sink side of the format: `writeStream
  * .format("graft-txtable").option("path", dir)`. Append mode is
  * EXACTLY-ONCE: each micro-batch commits via
  * [[TxTable.appendBatch]] under (queryId, batchId) — the query id is
  * stable across restarts (it lives in the checkpoint), so a batch
  * redelivered after a sink-success/checkpoint-fail crash is a no-op.
  * Complete mode lands every emission as one atomic [[TxTable
  * .overwrite]] (idempotent on redelivery by content). Update mode is
  * rejected loudly — an append-only log has no row-replace primitive.
  */
class TxTableSink(sqlContext: SQLContext, tablePath: String,
                  mode: OutputMode, partitionCols: Seq[String] = Nil) extends Sink {

  private val table = new TxTable(sqlContext.sparkSession, tablePath)

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    // the micro-batch DF is streaming-tagged; re-wrap as a batch DF
    // (what ForeachBatchSink does) so the table can .write it
    val batchDF = GraftStreamBridge.asBatchDF(data)
    if (mode == OutputMode.Complete()) table.overwrite(batchDF, partitionBy = partitionCols)
    else {
      val queryId = TxTableSink.queryId(sqlContext.sparkContext, "graft-txtable sink")
      table.appendBatch(batchDF, queryId, batchId, partitionCols)
    }
  }

  override def toString: String = s"TxTableSink[$tablePath]"
}

object TxTableSink {

  /** The checkpointed streaming query id — the writer identity a
    * (writerId, batchId) idempotence key needs to survive restarts.
    * A missing identity fails LOUDLY: any path-keyed fallback would put
    * two different queries (each with its own batchId counter
    * restarting at 0) in one idempotence key space, and the second
    * query's batches would be silently dropped as "redeliveries" of
    * the first's.
    */
  def queryId(sc: org.apache.spark.SparkContext, caller: String): String =
    Option(sc.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(throw new IllegalStateException(
        s"$caller: no sql.streaming.queryId local property — the batch was " +
          "committed outside a streaming query; call " +
          "TxTable.appendBatch(df, writerId, batchId) with an explicit " +
          "writer identity instead"))
}

/** `spark.readStream.format("graft-txtable").option("path", dir)` —
  * registered via META-INF/services (DataSourceRegister), or by the
  * fully-qualified class name.
  */
class TxTableSourceProvider extends StreamSourceProvider with StreamSinkProvider
    with RelationProvider with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-txtable"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-txtable source requires .option(\"path\", <table dir>)"))

  /** Shared with [[TxTableSource]]'s constructor; ALSO run at
    * `load()` time (sourceSchema) so a malformed option fails before
    * the stream starts, not inside it.
    */
  private def validateStartingVersion(parameters: Map[String, String]): Unit =
    parameters.get("startingVersion").foreach {
      case "latest" => ()
      case n =>
        val v = try n.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingVersion must be a version number or 'latest', got '$n'")
        }
        require(v >= 0, s"startingVersion must be >= 0, got $v")
    }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    validateStartingVersion(parameters)
    val base = schema
      .orElse(new TxTable(sqlContext.sparkSession, path(parameters)).schemaOption)
      .getOrElse(throw new IllegalStateException(
        s"${path(parameters)} has no commits yet and no schema was supplied"))
    // the feed mode widens the row with its change-tracking columns —
    // the logical stream schema must match what getBatch produces
    val widened =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        base.add(TxTable.ChangeTypeCol, "string")
          .add(TxTable.CommitVersionCol, "long")
      else base
    (shortName(), widened)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new TxTableSource(sqlContext, path(parameters), schema,
      parameters.get("maxVersionsPerTrigger").map { v =>
        val n = v.toLong
        require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
        n
      },
      changeFeed = parameters.get("readChangeFeed").exists(_.toBoolean),
      startingVersion = parameters.get("startingVersion"))

  /** Batch read: `spark.read.format("graft-txtable").option("path", dir)`,
    * optionally `.option("versionAsOf", v)` or `.option("timestampAsOf",
    * <epoch-ms | ISO-8601 instant>)` for time travel. Resolves the
    * snapshot's file list to a plain parquet HadoopFsRelation, so
    * batch pushdown and pruning work unchanged; the snapshot is pinned
    * at load time (readers are isolated from later commits).
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val t = new TxTable(sqlContext.sparkSession, path(parameters))
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      // Delta's batch-CDC read surface, path-based: startingVersion is
      // required (an unbounded "from the beginning" CDC read is almost
      // always a mistake — the snapshot read is cheaper), endingVersion
      // defaults to the head
      require(!parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf"),
        "readChangeFeed and versionAsOf/timestampAsOf don't mix — the " +
          "change feed addresses its own version range")
      val from = parameters.getOrElse("startingVersion",
        throw new IllegalArgumentException(
          "readChangeFeed needs option(\"startingVersion\", n)")).toLong
      val to = parameters.get("endingVersion").map(_.toLong).getOrElse(t.version)
      // startingVersion is INCLUSIVE (the published option semantics);
      // the engine range is (from, to]
      val cdf = t.readChangeFeed(from - 1, to)
      val ctx = sqlContext
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = cdf.schema
        override def buildScan(): org.apache.spark.rdd.RDD[Row] = cdf.rdd
      }
    }
    require(!(parameters.contains("versionAsOf") && parameters.contains("timestampAsOf")),
      "set versionAsOf or timestampAsOf, not both")
    val version = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map { raw =>
        val ms = raw.toLongOption.getOrElse {
          try java.time.Instant.parse(raw).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"timestampAsOf must be epoch millis or an ISO-8601 instant, got '$raw'")
          }
        }
        t.versionAsOfTimestamp(ms)
      })
    // skip-registered: a filter over this relation prunes files by
    // manifest stats at optimization time (graft.plans.TxSkipRule)
    t.snapshotRelation(version)
  }

  /** Batch write: `df.write.format("graft-txtable").option("path", dir)
    * .mode(...)` — the standard DataFrameWriter surface over the ACID
    * commit paths. Append/Overwrite map to the atomic [[TxTable.append]]
    * /[[TxTable.overwrite]]; ErrorIfExists requires a table with no
    * commits; Ignore writes only then. CHECK constraints and the
    * schema-evolution contract apply exactly as on the typed API.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.execution.datasources.DataSourceUtils
    val t = new TxTable(sqlContext.sparkSession, path(parameters))
    // `.partitionBy(cols)` on the batch writer arrives as the v1
    // partitioning option — honor it as the table's partitioned write
    // (value-pure files; see TxTable.append)
    val partCols = parameters.get(DataSourceUtils.PARTITIONING_COLUMNS_KEY)
      .map(DataSourceUtils.decodePartitioningColumns).getOrElse(Nil)
    mode match {
      case SaveMode.Append => t.append(data, partitionBy = partCols)
      case SaveMode.Overwrite => t.overwrite(data, partitionBy = partCols)
      case SaveMode.ErrorIfExists =>
        require(t.version < 0,
          s"${path(parameters)} already has commits (v${t.version}); " +
            "use mode(\"append\") or mode(\"overwrite\")")
        t.append(data, partitionBy = partCols)
      case SaveMode.Ignore => if (t.version < 0) t.append(data, partitionBy = partCols)
    }
    createRelation(sqlContext, parameters)
  }

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode != OutputMode.Update(),
      "graft-txtable sink supports append and complete modes only")
    // `.partitionBy(cols)` on the stream writer → value-pure files per
    // micro-batch ([[TxTable.append]]'s partitioned write): partition
    // predicates prune on manifest stats alone, no hive layout needed
    new TxTableSink(sqlContext, path(parameters), outputMode, partitionColumns)
  }
}
