package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.TxTable

/** DataSource-V2 [[TableCatalog]] over [[TxTable]] directories: the
  * full SQL-DDL/DML surface with every mutation routed through the
  * ACID commit log. Configure a warehouse root and the catalog name
  * becomes a SQL prefix:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.base", "/data/graft")
  *
  *   spark.sql("CREATE TABLE graft.events (k BIGINT, v STRING) PARTITIONED BY (k)")
  *   spark.sql("INSERT INTO graft.events VALUES (1, 'a')")       // atomic append
  *   spark.sql("INSERT OVERWRITE graft.events VALUES (2, 'b')")  // atomic overwrite
  *   spark.sql("DELETE FROM graft.events WHERE k = 1")           // TxTable.delete
  *   spark.sql("SELECT * FROM graft.events VERSION AS OF 0")     // time travel
  *   spark.sql("ALTER TABLE graft.events RENAME COLUMN v TO val")
  * }}}
  *
  * Identifier → directory: `graft.ns.tbl` lives at `base/ns/tbl`
  * (namespaces are plain directories; a table is a directory with a
  * `_graft_log`). Reads go through a [[V1Scan]] shim: pushed filters
  * re-enter [[TxTable.scan]] — manifest-stat + bloom file skipping,
  * then exact re-apply — and pruned columns reach the parquet scan of
  * the inner plan, so SQL reads skip files exactly like the typed
  * API. Writes use the [[V1Write]] shim onto the atomic verbs:
  * INSERT INTO → [[TxTable.append]], INSERT OVERWRITE →
  * [[TxTable.overwrite]] (or [[TxTable.replaceWhere]] for a static
  * partition spec, [[TxTable.overwriteDynamic]] under dynamic
  * partition-overwrite mode), DELETE → [[TxTable.delete]]. UPDATE and
  * MERGE remain on the typed API, where their clause/concurrency
  * contracts are explicit.
  *
  * The complementary [[graft.core.TxSqlCatalog]] analyzer rule stays
  * the zero-config read path for ad-hoc registration; this catalog is
  * the cluster-idiomatic, write-capable surface.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var baseDir: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    baseDir = Option(options.get("base")).getOrElse(throw new IllegalArgumentException(
      s"catalog $name needs spark.sql.catalog.$name.base = <warehouse dir>"))
  }

  override def name(): String = catalogName

  /** Opt in to the analyzer routing `DEFAULT` column clauses and
    * `ALTER TABLE ... ADD CONSTRAINT` statements to this catalog.
    */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def spark: SparkSession = SparkSession.active

  private def fs: FileSystem =
    new Path(baseDir).getFileSystem(spark.sessionState.newHadoopConf())

  /** One path segment of an identifier: reject anything that could
    * escape the warehouse directory.
    */
  private def segment(s: String): String = {
    require(s.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*") && !s.contains(".."),
      s"illegal identifier segment '$s' (letters/digits/_/./- only)")
    s
  }

  private def dirFor(ident: Identifier): Path =
    new Path((baseDir +: ident.namespace.toSeq.map(segment)).mkString("/"),
      segment(ident.name))

  private def nsDir(namespace: Array[String]): Path =
    new Path((baseDir +: namespace.toSeq.map(segment)).mkString("/"))

  private def isTable(p: Path): Boolean =
    fs.exists(new Path(p, TxTable.LogDirName))

  override def tableExists(ident: Identifier): Boolean = isTable(dirFor(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (namespace.nonEmpty && !fs.exists(d))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    if (!fs.exists(d)) return Array.empty
    fs.listStatus(d).filter(s => s.isDirectory && isTable(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName)).sortBy(_.name)
  }

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftTable(ident.toString, catalogName +: ident.namespace.toSeq :+ ident.name,
      dirFor(ident).toString, versionAsOf = None)
  }

  /** SQL `VERSION AS OF <v>` — a read-only snapshot table. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$ident VERSION AS OF needs a numeric version, got '$version'"))
    new GraftTable(ident.toString, catalogName +: ident.namespace.toSeq :+ ident.name,
      dirFor(ident).toString, versionAsOf = Some(v))
  }

  /** SQL `TIMESTAMP AS OF <ts>` — Spark hands the instant in
    * MICROseconds; resolve to the newest version committed at or
    * before it ([[TxTable.versionAsOfTimestamp]] speaks millis).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirFor(ident).toString
    val v = new TxTable(spark, dir).versionAsOfTimestamp(Math.floorDiv(timestamp, 1000L))
    new GraftTable(ident.toString, catalogName +: ident.namespace.toSeq :+ ident.name,
      dir, versionAsOf = Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1,
        s"only identity PARTITIONED BY columns are supported, got $t")
      val c = t.references.head.fieldNames.head
      require(schema.fieldNames.contains(c),
        s"partition column $c is not in the schema")
      c
    }
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE)
    // CREATE TABLE (c INT DEFAULT <expr>): the analyzer ships defaults
    // as CURRENT_DEFAULT field metadata — land them as the engine's
    // default declarations in the SAME create commit (at create time
    // the surface name IS the physical name)
    val defaults = schema.fields.collect {
      case f if f.metadata.contains("CURRENT_DEFAULT") =>
        s"${TxTable.DefaultPropPrefix}${f.name}" ->
          f.metadata.getString("CURRENT_DEFAULT")
    }.toMap
    val props = properties.asScala.toMap -- reserved ++ defaults ++
      (if (partCols.isEmpty) Map.empty
       else Map(GraftCatalog.PartitionByProp -> partCols.mkString(",")))
    new TxTable(spark, dirFor(ident).toString).create(schema, props)
    loadTable(ident)
  }

  /** The modern create path — `CREATE TABLE (..., CONSTRAINT c CHECK
    * (...))` ships constraints HERE, not through the schema-based
    * overload; without this override they would silently vanish and
    * the very first violating INSERT would commit. CHECKs land as the
    * engine's gated constraints right after the create commit; a
    * failing declaration rolls the create back so CREATE stays
    * all-or-nothing.
    */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val checks = info.constraints.toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        c.name -> c.predicateSql
      case other => throw new UnsupportedOperationException(
        s"only CHECK constraints are enforced; got ${other.getClass.getSimpleName} " +
          s"on $ident (primary/foreign/unique keys are informational in Spark " +
          "and this engine does not pretend to enforce them)")
    }
    val table = createTable(ident, info.schema, info.partitions, info.properties)
    if (checks.nonEmpty) {
      val t = new TxTable(spark, dirFor(ident).toString)
      try checks.foreach { case (n, sql) => t.addConstraint(n, sql) }
      catch { case e: Throwable => dropTable(ident); throw e }
    }
    table
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = new TxTable(spark, dirFor(ident).toString)
    def one(names: Array[String], what: String): String = {
      require(names.length == 1, s"nested column $what is not supported " +
        s"(got ${names.mkString(".")})")
      names.head
    }
    changes.foreach {
      case r: TableChange.RenameColumn =>
        t.renameColumn(one(r.fieldNames, "rename"), r.newName)
      case d: TableChange.DeleteColumn =>
        t.dropColumn(one(d.fieldNames, "drop"))
      case a: TableChange.AddColumn =>
        val colName = one(a.fieldNames, "add")
        t.addColumns(Seq(StructField(colName, a.dataType)))
        // ADD COLUMN ... DEFAULT: existing rows keep reading NULL (the
        // published no-rewrite semantics); future SQL inserts that omit
        // the column substitute the declared constant
        Option(a.defaultValue).foreach(d => t.setColumnDefault(colName, d.getSql))
      case d: TableChange.UpdateColumnDefaultValue =>
        val colName = one(d.fieldNames, "default")
        Option(d.newCurrentDefault).map(_.getSql).filter(_.nonEmpty) match {
          case Some(sql) => t.setColumnDefault(colName, sql) // SET DEFAULT
          case None => t.dropColumnDefault(colName)          // DROP DEFAULT
        }
      case ac: TableChange.AddConstraint => ac.constraint match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          t.addConstraint(c.name, c.predicateSql)
        case other => throw new UnsupportedOperationException(
          s"only CHECK constraints are enforced; got ${other.getClass.getSimpleName} " +
            s"on $ident (primary/foreign/unique keys are informational in Spark " +
            "and this engine does not pretend to enforce them)")
      }
      case dc: TableChange.DropConstraint =>
        if (!dc.ifExists || t.constraints.contains(dc.name)) t.dropConstraint(dc.name)
      case s: TableChange.SetProperty => t.setProperty(s.property, s.value)
      case rp: TableChange.RemoveProperty => t.unsetProperty(rp.property)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE ${other.getClass.getSimpleName} is not supported on $ident")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && fs.delete(dirFor(ident), true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val to = dirFor(newIdent)
    fs.mkdirs(to.getParent)
    require(fs.rename(dirFor(oldIdent), to),
      s"filesystem refused to rename $oldIdent to $newIdent")
  }

  // ---- procedures: CALL <cat>.system.<verb>(...) maintenance ----

  private def identOf(tableName: String): Identifier = {
    val parts = tableName.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table name '$tableName' (want [ns.]table)")
    Identifier.of(parts.init, parts.last)
  }

  /** Resolve a procedure's `table` string argument ("t" or "ns.t") to
    * its live [[TxTable]].
    */
  private[sql] def txFor(tableName: String): TxTable = {
    val ident = identOf(tableName)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new TxTable(spark, dirFor(ident).toString)
  }

  /** The directory a NOT-yet-existing table name maps to (clone
    * targets).
    */
  private[sql] def newTableDir(tableName: String): String = {
    val ident = identOf(tableName)
    require(!tableExists(ident), s"table $tableName already exists")
    dirFor(ident).toString
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.all(this).map(p =>
        Identifier.of(Array("system"), p.procName)).toArray
    else Array.empty

  // ---- namespaces: plain directories under the warehouse root ----

  override def listNamespaces(): Array[Array[String]] = {
    val d = new Path(baseDir)
    if (!fs.exists(d)) return Array.empty
    fs.listStatus(d).filter(s => s.isDirectory && !isTable(s.getPath) &&
        s.getPath.getName != TxTable.LogDirName)
      .map(s => Array(s.getPath.getName)).sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || (fs.exists(nsDir(namespace)) && !isTable(nsDir(namespace)))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    require(namespace.length == 1, "only single-level namespaces are supported")
    fs.mkdirs(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    if (!cascade) require(listTables(namespace).isEmpty,
      s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    fs.delete(nsDir(namespace), true)
  }
}

object GraftCatalog {
  /** Table property recording CREATE TABLE's PARTITIONED BY columns;
    * every catalog write passes them to the table's partitioned write
    * (value-pure files → exact manifest partition pruning).
    */
  val PartitionByProp = "graft.partitionBy"

  private[sql] def partColsOf(t: TxTable): Seq[String] =
    t.properties.get(PartitionByProp).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** sources.Filter → Column, for filters over top-level columns with
    * exactly-translatable semantics; None means "leave unhandled" (the
    * engine re-applies it above the scan). EqualNullSafe maps to `<=>`
    * — the one equality DuckDB/Spark agree gives TRUE on NULL pairs.
    */
  private[sql] def translate(f: Filter, top: Set[String]): Option[Column] = {
    def c(a: String): Option[Column] =
      if (top.contains(a) && !a.contains(".")) Some(col(s"`$a`")) else None
    f match {
      case EqualTo(a, v) => c(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => c(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case LessThan(a, v) => c(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case In(a, vs) => c(a).map(_.isin(vs.toSeq.map(lit): _*))
      case IsNull(a) => c(a).map(_.isNull)
      case IsNotNull(a) => c(a).map(_.isNotNull)
      case StringStartsWith(a, v) => c(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => c(a).map(_.endsWith(v))
      case StringContains(a, v) => c(a).map(_.contains(v))
      case And(l, r) => for (a <- translate(l, top); b <- translate(r, top)) yield a && b
      case Or(l, r) => for (a <- translate(l, top); b <- translate(r, top)) yield a || b
      case Not(x) => translate(x, top).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}

/** One catalog table: reads via the V1Scan shim (file skipping +
  * column pruning), writes via the V1Write shim onto the atomic
  * verbs, filter-based SQL DELETE. `versionAsOf` pins a time-travel
  * snapshot, which is read-only.
  */
private[graft] class GraftTable(fullName: String, identParts: Seq[String],
                                val dir: String, val versionAsOf: Option[Long])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.GraftV1StreamFallback {

  private def spark: SparkSession = SparkSession.active
  private def tx: TxTable = new TxTable(spark, dir)

  override def name(): String = fullName

  /** Route `spark.readStream.table(...)` / `writeStream.toTable(...)`
    * through the battle-tested DSv1 streaming source/sink
    * (`graft-txtable` — commit-log micro-batches in, exactly-once
    * appends out) instead of reimplementing them as a DSv2
    * MicroBatchStream: the published V1-fallback bridge a format uses
    * when its streaming path predates DSv2. The synthesized catalog
    * entry carries only what the fallback resolution reads — provider
    * and path.
    */
  override def graftV1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(versionAsOf.isEmpty,
      s"$fullName VERSION/TIMESTAMP AS OF is a batch snapshot — streams " +
        "read the live commit log (use option(\"startingVersion\", ...))")
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        identParts.last, identParts.dropRight(1).lastOption,
        identParts.dropRight(2).lastOption),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new Path(dir).toUri),
        properties = Map("path" -> dir)),
      schema = schema(),
      provider = Some("graft-txtable"))
  }

  override def schema(): StructType = versionAsOf match {
    case Some(v) => tx.readAt(v).schema
    case None => withDefaultMeta(
      tx.schemaOption.getOrElse(throw new IllegalStateException(
        s"$fullName has no commits yet — CREATE TABLE first")))
  }

  /** Surface declared column DEFAULTs through the field-metadata keys
    * Spark's `ResolveDefaultColumns` reads, so a SQL INSERT that omits
    * (or writes `DEFAULT` into) the column substitutes the declared
    * constant at analysis time — the write path receives a complete
    * frame and stays unchanged. EXISTS_DEFAULT carries the same
    * constant by convention; this engine's reads never apply it
    * retroactively (pre-declaration rows keep reading NULL, the
    * published no-rewrite semantics).
    */
  private def withDefaultMeta(s: StructType): StructType = {
    val ds = tx.columnDefaults
    if (ds.isEmpty) s
    else StructType(s.fields.map { f =>
      ds.get(f.name).map { sql =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", sql)
          .putString("EXISTS_DEFAULT", sql).build())
      }.getOrElse(f)
    })
  }

  override def partitioning(): Array[Transform] =
    GraftCatalog.partColsOf(tx).map(Expressions.identity).toArray

  /** Surface the engine's CHECK constraints (every one is enforced +
    * validated — DDL validates existing data, each write gates its
    * staged files). Stored SQL binds to physical names; shown as-is —
    * physical == surface until a rename, and the enforcement itself
    * never re-binds.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tx.constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def properties(): java.util.Map[String, String] =
    (tx.properties + (TableCatalog.PROP_PROVIDER -> "graft-txtable")).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION: only `MERGE ... WITH SCHEMA
    // EVOLUTION` consults it (MergeIntoTable.schemaEvolutionEnabled) —
    // the analyzer then ADD-COLUMNs the new source columns via
    // alterTable before resolution, and the merge itself runs against
    // the widened table
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a CDC read carries EXTRA columns (_change_type, _commit_version),
    // so it cannot be served behind this relation's fixed schema — the
    // GraftCdfReadRule resolution rule (GraftExtensions) rewrites the
    // relation before scan planning; reaching here means no extensions
    require(!options.getBoolean("readChangeFeed", false),
      s"$fullName: readChangeFeed by name needs GraftExtensions " +
        "(spark.sql.extensions=graft.functions.GraftExtensions) — or use " +
        "table_changes('<cat.ns.t>', from[, to]) / the path-based " +
        "spark.read.format(\"graft-txtable\") read")
    new GraftScanBuilder(dir, versionAsOf, schema())
  }

  private def requireWritable(): Unit =
    require(versionAsOf.isEmpty,
      s"$fullName VERSION/TIMESTAMP AS OF is a read-only snapshot")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable()
    new GraftWriteBuilder(dir, GraftCatalog.partColsOf(tx))
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftCatalog.translate(f, schema().fieldNames.toSet).isDefined)

  /** SQL `DELETE FROM ... WHERE` → [[TxTable.delete]] (copy-on-write
    * rewrite of only the files holding matching rows), or the
    * deletion-vector [[TxTable.deleteMergeOnRead]] when the table
    * opted in via [[TxTable.MergeOnReadProp]].
    */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable()
    val top = schema().fieldNames.toSet
    val pred = filters.toSeq.map(f => GraftCatalog.translate(f, top).getOrElse(
        throw new UnsupportedOperationException(s"cannot push delete filter $f")))
      .reduceOption(_ && _).getOrElse(lit(true))
    if (graft.core.TxTable.mergeOnReadDml(tx)) tx.deleteMergeOnRead(pred)
    else tx.delete(pred)
  }

  override def toString: String = s"GraftTable($fullName)"
}

private[sql] class GraftScanBuilder(dir: String, versionAsOf: Option[Long],
                                    fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val top = fullSchema.fieldNames.toSet
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(f => GraftCatalog.translate(f, top).isDefined)
    pushed = ok
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftV1Scan(dir, versionAsOf, pushed, required, top)
}

/** The read shim: Spark plans a RowDataSourceScanExec over
  * [[buildScan]]'s RDD; the inner plan is the table's own pruned
  * parquet read ([[TxTable.scan]] manifest skipping + parquet
  * row-group pushdown), so the only boundary cost is the Row
  * conversion at the scan edge — filters and projection have already
  * done their work inside.
  */
private[sql] class GraftV1Scan(dir: String, versionAsOf: Option[Long],
                               pushed: Array[Filter], required: StructType,
                               top: Set[String]) extends V1Scan {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def buildScan(): RDD[Row] = {
        val t = new TxTable(context.sparkSession, dir)
        val pred = pushed.toSeq.flatMap(GraftCatalog.translate(_, top))
          .reduceOption(_ && _)
        val base = versionAsOf match {
          case Some(v) =>
            val d = t.readAt(v)
            pred.map(d.where).getOrElse(d)
          case None => pred.map(t.scan).getOrElse(t.read())
        }
        base.select(required.fieldNames.toIndexedSeq.map(n => col(s"`$n`")): _*).rdd
      }
    }.asInstanceOf[T]
}

private[sql] class GraftWriteBuilder(dir: String, partCols: Seq[String])
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private sealed trait Mode
  private case object AppendMode extends Mode
  private case object TruncateMode extends Mode
  private case class OverwriteMode(filters: Array[Filter]) extends Mode
  private case object DynamicMode extends Mode

  private var mode: Mode = AppendMode

  override def truncate(): WriteBuilder = { mode = TruncateMode; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode = OverwriteMode(filters); this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = DynamicMode; this
  }

  override def canOverwrite(filters: Array[Filter]): Boolean = {
    val t = new TxTable(SparkSession.active, dir)
    val top = t.schemaOption.map(_.fieldNames.toSet).getOrElse(Set.empty)
    filters.forall(f => GraftCatalog.translate(f, top).isDefined)
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        val t = new TxTable(data.sparkSession, dir)
        mode match {
          case AppendMode => t.append(data, partitionBy = partCols)
          case TruncateMode => t.overwrite(data, partitionBy = partCols)
          case OverwriteMode(fs) if fs.forall(_.isInstanceOf[AlwaysTrue]) =>
            t.overwrite(data, partitionBy = partCols)
          case OverwriteMode(fs) =>
            // INSERT OVERWRITE with a static partition spec: replace
            // exactly the addressed slice, atomically, leaving every
            // other row untouched
            val top = data.schema.fieldNames.toSet ++
              t.schemaOption.map(_.fieldNames.toSet).getOrElse(Set.empty)
            val pred = fs.toSeq.map(f => GraftCatalog.translate(f, top).getOrElse(
                throw new UnsupportedOperationException(
                  s"cannot push overwrite filter $f")))
              .reduceOption(_ && _).getOrElse(lit(true))
            t.replaceWhere(pred, data, partitionBy = partCols)
          case DynamicMode =>
            require(partCols.nonEmpty,
              s"dynamic INSERT OVERWRITE needs a PARTITIONED BY table " +
                s"(none declared on $dir)")
            t.overwriteDynamic(data, partCols)
        }
      }
    }
  }
}
