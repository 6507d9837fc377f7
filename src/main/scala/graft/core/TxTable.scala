package graft.core

import java.util.UUID

import scala.annotation.tailrec

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, MapType, ShortType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A minimal ACID table format on plain parquet — the transaction-log
  * design the reference leans on Delta Lake for (every medallion sink:
  * /root/reference/notebooks/medallion/bronze.py:15-27, silver.py:31-38,
  * gold.py:37-42), re-implemented from the published design (the
  * Delta Lake paper, VLDB'20) because no table-format jar exists in
  * this environment. This upgrades the parquet+backup-swap emulation
  * ([[Layout.replaceDir]]) to real multi-writer semantics:
  *
  *   - **Atomicity**: a commit is ONE manifest file in `_graft_log/`;
  *     data files are invisible until their manifest lands. A crash
  *     mid-write leaves only unreferenced files (cleaned by vacuum),
  *     never a partial table.
  *   - **Isolation**: readers resolve the newest contiguous version
  *     and read exactly that snapshot's file set; `readAt(v)` time
  *     travels. Writers never disturb a running read (files are
  *     immutable; removal is logical until vacuum).
  *   - **Optimistic concurrency**: version claims are atomic file
  *     creation (POSIX hard-link on local FS — `rename` overwrites on
  *     Linux so it cannot claim; create-exclusive elsewhere, the HDFS
  *     primitive). Losers re-read state and retry: appends commute
  *     with anything, overwrite serializes after concurrent commits,
  *     compaction aborts loudly if its inputs vanished.
  *   - **Exactly-once streaming**: a commit can carry a (writer,
  *     batchId) txn action; re-delivery of an already-committed batch
  *     (foreachBatch retry after sink-success/checkpoint-fail) is a
  *     no-op — the idempotent-sink contract SURVEY.md §7.5 pins.
  *   - **Schema evolution**: each commit records the merged schema;
  *     readers apply the latest schema over all live files, so columns
  *     added later read as null from older files (mergeSchema
  *     semantics without the per-read footer merge).
  *
  * Scale notes. State reconstruction replays from the newest
  * CHECKPOINT (written every `checkpointInterval` commits — the
  * paper's parquet checkpoint, JSON here) plus the manifest tail:
  * O(1) + tail, not O(commits); [[truncateLog]] then prunes manifests
  * below the checkpoint (the log-retention trade: older time travel
  * dies). Data paths are stored relative, so the table directory is
  * relocatable. The commit throughput ceiling (one manifest per
  * commit) is the known design property shared with the original:
  * batch small writes upstream.
  *
  * Row-level verbs. [[merge]], [[mergeConditional]], [[mergeScd2]],
  * [[delete]], [[deleteKeys]], [[deleteMergeOnRead]], [[update]],
  * [[updateMergeOnRead]] and [[replaceWhere]] share one private
  * rewrite core: the provenance collect that names the files holding
  * affected rows, one null-safe key condition over quoted column
  * references, one SET projection (both updates), one deletion-vector
  * path (both merge-on-read verbs), and one commit tail — the
  * (writer, batch) gate, the rename and logical-conflict checks, the
  * cleanup of every staged data, change and sidecar file on abort,
  * then Remove/Add/Dv/Cdf. Each verb keeps only its own row logic:
  * which rows survive in the files it rewrites, which rows it adds,
  * and what its change record holds.
  */
class TxTable(spark: SparkSession, val tablePath: String,
              checkpointInterval: Int = 16) {

  import TxTable._

  private val root = new Path(tablePath)
  private val logDir = new Path(root, LogDirName)
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // make the file-skipping optimizer rule active on this live session
  // (same self-wiring a session built with GraftExtensions gets by
  // injection; a duplicate instance would be idempotent, the exists
  // check just keeps the rule list tidy)
  if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.TxSkipRule]))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ new graft.plans.TxSkipRule

  /** Resolved table state at one version: live files, merged schema,
    * the high-water batch id per streaming writer, and per-file
    * column stats (for data skipping; absent for files committed
    * without them).
    */
  case class State(version: Long, files: Seq[String], schema: Option[StructType],
                   txns: Map[String, Long],
                   stats: Map[String, FileStats] = Map.empty,
                   constraints: Map[String, String] = Map.empty,
                   dvs: Map[String, DvRef] = Map.empty,
                   blooms: Map[String, BloomCfg] = Map.empty,
                   renames: Map[String, String] = Map.empty,
                   dropped: Set[String] = Set.empty,
                   protocol: (Int, Int) = (1, 1),
                   lastCommitTs: Long = 0L,
                   generated: Map[String, String] = Map.empty,
                   identity: Map[String, (Long, Long, Long)] = Map.empty,
                   properties: Map[String, String] = Map.empty) {
    /** logical → physical (inverse of [[renames]]). */
    def toPhysicalName: Map[String, String] =
      renames.map { case (p, l) => l -> p }
    /** A column's current surface name ([[renames]] or itself). */
    def logicalName(physical: String): String =
      renames.getOrElse(physical, physical)
  }

  /** Newest contiguous committed state (empty state at version -1 for
    * a table with no commits). Contiguity guards a listing that races
    * a claim on non-atomic-listing stores: replay stops at the first
    * gap, never past it.
    */
  def state(): State = stateAt(None)

  def version: Long = state().version

  private def stateAt(upTo: Option[Long]): State = {
    val fsv = fs
    if (!fsv.exists(logDir)) return State(-1L, Nil, None, Map.empty)
    val names = fsv.listStatus(logDir).map(_.getPath.getName)
    val manifests = names.flatMap(manifestVersion(_)).sorted
    val limit = upTo.getOrElse(Long.MaxValue)
    // newest READABLE checkpoint at or below the target is the replay
    // base — O(1) + manifest tail instead of O(commits) (the paper's
    // parquet checkpoint, in JSON here). Checkpoints are derived data:
    // an unreadable one (e.g. listed mid-write by a lagging store)
    // falls back to the next older, then to full replay.
    val base = names.flatMap(checkpointVersion(_)).filter(_ <= limit)
      .sorted.reverseIterator
      .flatMap(v => scala.util.Try(readCheckpoint(fsv, v)).toOption)
      .nextOption()
      .getOrElse {
        if (manifests.nonEmpty && manifests.head > 0L)
          throw new IllegalStateException(
            s"$tablePath: log starts at v${manifests.head} with no checkpoint at " +
              s"or below ${if (limit == Long.MaxValue) "head" else s"v$limit"} — " +
              "the requested version predates log truncation")
        State(-1L, Nil, None, Map.empty)
      }
    var expect = base.version + 1
    val replay = manifests.dropWhile(_ <= base.version).takeWhile { v =>
      val ok = v == expect && v <= limit; expect += 1; ok
    }
    val st =
      replay.foldLeft(base)((st, v) => applyManifest(st, v, readManifest(fsv, v)))
    if (st.protocol._1 > TxTable.SupportedReaderVersion)
      throw new IllegalStateException(
        s"$tablePath requires reader protocol ${st.protocol._1} but this client " +
          s"supports ${TxTable.SupportedReaderVersion} — upgrade before reading " +
          "(serving this table anyway could return wrong results)")
    st
  }

  private def applyManifest(st: State, version: Long, actions: Seq[Action]): State = {
    var files = st.files.toVector
    var schema = st.schema
    var txns = st.txns
    var stats = st.stats
    var constraints = st.constraints
    var dvs = st.dvs
    var blooms = st.blooms
    var renames = st.renames
    var dropped = st.dropped
    var protocol = st.protocol
    var lastTs = st.lastCommitTs
    var generated = st.generated
    var identity = st.identity
    var properties = st.properties
    actions.foreach {
      case Add(p, fstats) =>
        files :+= p
        fstats.foreach(s => stats += p -> s)
      case Remove(p) =>
        files = files.filterNot(_ == p)
        stats -= p
        dvs -= p // a removed file's masked rows die with it
      case Dv(p, dv, n) =>
        if (dv.isEmpty) dvs -= p else dvs += p -> DvRef(dv, n)
      case Meta(ddl) => schema = Some(StructType.fromDDL(ddl))
      case Txn(app, batch) =>
        txns += app -> math.max(batch, txns.getOrElse(app, Long.MinValue))
      case Constr(n, e) => constraints += n -> e
      case DropConstr(n) => constraints -= n
      case BloomIdx(c, items, fpp) => blooms += c -> BloomCfg(items, fpp)
      case DropBloomIdx(c) => blooms -= c
      case RenameCol(p, l) =>
        if (p == l) renames -= p else renames += p -> l
      case DropCol(p) =>
        dropped += p
        renames -= p // the dropped slot keeps no surface name
      case Protocol(r, w) =>
        protocol = (math.max(protocol._1, r), math.max(protocol._2, w))
      case CommitTs(ms) => lastTs = math.max(lastTs, ms)
      case GenCol(n, e) => generated += n -> e
      case DropGenCol(n) => generated -= n
      case IdentityCol(n, start, step) =>
        identity += n -> ((start, step, start - step))
      case IdentityHw(n, hw) =>
        identity.get(n).foreach { case (st0, sp, old) =>
          identity += n -> ((st0, sp,
            if (sp > 0) math.max(old, hw) else math.min(old, hw)))
        }
      case DropIdentityCol(n) => identity -= n
      case Prop(k, v) => properties += k -> v
      case UnsetProp(k) => properties -= k
      case Cdf(_) => () // row-level change files are not live data
      case RewriteMarker => ()
    }
    State(version, files, schema, txns, stats, constraints, dvs, blooms,
      renames, dropped, protocol, lastTs, generated, identity, properties)
  }

  /** Current-snapshot read: latest schema over the live files (old
    * files without later-added columns surface them as null).
    */
  def read(): DataFrame = {
    val s = state()
    logicalize(s, readState(s))
  }

  /** Data-skipping scan: open only the files whose manifest stats
    * might satisfy `predicate`, then re-apply the predicate exactly.
    * File-level skipping on top of parquet's own row-group pushdown is
    * what a manifest buys at 100 TB: a time- or key-clustered table
    * answers a range probe by opening a handful of files, with no
    * listing of — or footer reads against — the rest. Supported
    * conjunct shapes: `col (=, <, <=, >, >=) literal` (either
    * orientation) on long/double/decimal/string columns,
    * `col.isin(literals)`, plus
    * `isNull`/`isNotNull`; anything else — and any file committed
    * without stats — is read, never skipped, so the result ALWAYS
    * equals `read().where(predicate)`. Equality/IN conjuncts on
    * [[addBloomIndex]]ed columns additionally prune through the
    * per-file bloom sidecars, the skip min/max stats cannot give on
    * high-cardinality columns.
    */
  def scan(predicate: org.apache.spark.sql.Column): DataFrame = {
    val s = state()
    val kept = prunedFiles(s, predicate)
    logicalize(s, readState(s.copy(files = kept))).where(predicate)
  }

  /** The file names [[scan]] would read — exposed so tests (and scale
    * audits) can assert the skipping itself, not just the result.
    * Two stages: the manifest min/max kernel, then bloom sidecars for
    * equality/IN conjuncts on indexed columns ([[addBloomIndex]]).
    */
  private[graft] def prunedFiles(s: State,
                                predicate: org.apache.spark.sql.Column): Seq[String] = {
    val shapes = TxTable.deriveGeneratedShapes(s.generated, physicalizeShapes(s,
      org.apache.spark.sql.GraftColumnBridge.conjunctShapes(predicate)))
    bloomPrune(s, TxTable.filesToRead(s.files, s.stats, shapes), shapes)
  }

  /** Second skip stage: a candidate file is dropped when an indexed
    * equality/IN conjunct's value(s) are PROVABLY absent from its bloom
    * sidecar. Bloom filters have no false negatives, so the prune is
    * sound (scan ≡ read().where, always); false positives only cost a
    * file read, bounded by the index's fpp. A missing or unreadable
    * sidecar — or a literal whose type doesn't match the column's
    * put-encoding — keeps the file.
    */
  private def bloomPrune(s: State, candidates: Seq[String],
      shapes: Seq[org.apache.spark.sql.GraftColumnBridge.PredShape]): Seq[String] = {
    val types = s.schema.map(sc => sc.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    TxTable.bloomPruneFiles(root.toString, types, s.blooms,
      spark.sparkContext.hadoopConfiguration, candidates, shapes)
  }

  /** Time travel: the table exactly as of `version`. */
  def readAt(version: Long): DataFrame = {
    val s = stateAt(Some(version))
    require(s.version == version,
      s"version $version not committed (latest contiguous: ${s.version})")
    // temporal naming: the snapshot's OWN renames, so a version below
    // a rename shows the name the table had then
    logicalize(s, readState(s))
  }

  /** Wall-clock time travel: the newest version whose commit landed at
    * or before `tsMillis` (epoch ms). Commit times are manifest file
    * modification timestamps — the published Delta approach; they are
    * only as durable as the log, so a timestamp below a truncateLog
    * cutoff (or before the first commit) fails loudly.
    */
  def versionAsOfTimestamp(tsMillis: Long): Long = {
    val fsv = fs
    if (!fsv.exists(logDir))
      throw new IllegalArgumentException(
        s"$tablePath has no commits — no version exists at or before $tsMillis")
    val candidates = fsv.listStatus(logDir).flatMap { st =>
      manifestVersion(st.getPath.getName)
        .map(v => v -> commitTimeOf(fsv, v, st.getModificationTime))
        .filter(_._2 <= tsMillis).map(_._1)
    }
    if (candidates.isEmpty)
      throw new IllegalArgumentException(
        s"no commit of $tablePath at or before epoch-ms $tsMillis " +
          "(before the first retained commit — older history may have " +
          "been pruned by truncateLog)")
    candidates.max
  }

  /** A commit's wall clock: the IN-COMMIT timestamp when the manifest
    * carries one (monotone, copy/restore-proof), else the manifest
    * mtime (pre-feature manifests — the documented weaker source).
    */
  private def commitTimeOf(fsv: FileSystem, version: Long, mtime: Long): Long =
    readManifest(fsv, version)
      .collectFirst { case CommitTs(ms) => ms }.getOrElse(mtime)

  /** [[readAt]] by wall clock ([[versionAsOfTimestamp]]). */
  def readAsOfTimestamp(tsMillis: Long): DataFrame =
    readAt(versionAsOfTimestamp(tsMillis))

  /** Incremental scan: the rows of files ADDED by commits in
    * `(fromVersion, toVersion]` — the mechanism behind a table-format
    * streaming source (each micro-batch is a version range of the add
    * log). An append-only consumer that remembers its last-processed
    * version reads exactly the new rows per run, never rescanning the
    * table. Compaction commits carry a rewrite marker and are
    * SKIPPED — they re-add existing rows in new files, which an
    * incremental consumer already saw. Any other remove in the range
    * is rejected loudly: after an overwrite a version-range read is
    * not a row-level change feed, and silently returning rewritten
    * files would double-count — re-sync from a full [[read]] instead
    * (the same contract a format's streaming source enforces).
    */
  def readChanges(fromVersion: Long, toVersion: Long): DataFrame = {
    val head = state()
    val added = changedFilesFrom(head, fromVersion, toVersion)
    logicalize(head,
      if (added.isEmpty) readState(State(toVersion, Nil, head.schema, Map.empty))
      else spark.read.schema(head.schema.get).parquet(added: _*))
  }

  /** The ABSOLUTE paths of files added by commits in `(fromVersion,
    * toVersion]` — the file-list form of [[readChanges]], for the
    * streaming source ([[graft.streaming.TxTableSource]]), which must
    * build its own streaming-tagged relation over them. Same contract:
    * rewrite commits are skipped, any other remove rejects loudly.
    */
  private[graft] def changedFiles(fromVersion: Long, toVersion: Long): Seq[String] =
    changedFilesFrom(state(), fromVersion, toVersion)

  private def changedFilesFrom(head: State, fromVersion: Long,
                               toVersion: Long): Seq[String] = {
    require(toVersion <= head.version,
      s"toVersion $toVersion not committed (latest contiguous: ${head.version})")
    require(fromVersion <= toVersion,
      s"empty or inverted range ($fromVersion, $toVersion]")
    val fsv = fs
    var added = Vector.empty[String]
    ((fromVersion + 1) to toVersion).foreach { v =>
      val actions = readManifest(fsv, v)
      // a rewrite commit (compaction) re-adds EXISTING rows in new
      // files: invisible to an incremental consumer by definition
      if (!actions.exists(_ == RewriteMarker)) actions.foreach {
        case Add(p, _) => added :+= p
        case Remove(p) => throw new IllegalStateException(
          s"version $v of $tablePath removes $p outside a rewrite commit: the " +
            s"range ($fromVersion, $toVersion] spans an overwrite and is not " +
            "append-only — re-sync this consumer from a full read()")
        case Dv(p, _, _) => throw new IllegalStateException(
          s"version $v of $tablePath changes the deletion vector of $p: the " +
            s"range ($fromVersion, $toVersion] spans a row-level delete and is " +
            "not append-only — re-sync this consumer from a full read()")
        case _ => ()
      }
    }
    added.map(f => new Path(root, f).toString)
  }

  /** GENERATED columns currently declared (surface name → stored
    * physical expression).
    */
  def generatedColumns: Map[String, String] = {
    val s = state()
    s.generated.map { case (n, e) => s.logicalName(n) -> e }
  }

  /** Declare `name` GENERATED ALWAYS AS (exprSql): writes that omit
    * the column get it computed; writes that carry it are validated
    * (value must null-safe-equal the expression) by the same staged-
    * file gate as CHECK constraints, aborting loudly on mismatch.
    * If the column already exists, current rows must already satisfy
    * the expression (checked at DDL time). The expression binds to
    * PHYSICAL names (translated once here), so later renames of the
    * column or its inputs never re-bind it; dropping a referenced
    * input is refused while the declaration stands.
    */
  def addGeneratedColumn(name: String, exprSql: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty, "column name must be non-empty")
    expr(exprSql) // parse eagerly
    val snap = state()
    val physSql = physicalizeExprSql(snap, exprSql)
    val phys = physicalName(snap, name)
    requireNotRetired(snap, name, "a generated")
    require(!snap.dropped.contains(phys),
      s"cannot generate $name on $tablePath: the column was dropped")
    val deadRefs = snap.dropped.filter(exprReferencesColumn(physSql, _))
    require(deadRefs.isEmpty,
      s"cannot generate $name AS ($exprSql): references dropped column(s) " +
        deadRefs.toSeq.sorted.mkString(", "))
    require(!exprReferencesColumn(physSql, phys),
      s"cannot generate $name from itself")
    val exists = snap.schema.exists(_.fieldNames.contains(phys))
    if (exists && snap.files.nonEmpty) {
      val bad = readState(snap)
        .where(not(coalesce(expr(s"`$phys` <=> ($physSql)"), lit(false))))
        .limit(1).collect()
      require(bad.isEmpty,
        s"cannot declare $name GENERATED AS ($exprSql) on $tablePath: an " +
          s"existing row violates it — e.g. ${bad.headOption.getOrElse("")}")
    }
    commitLoop(s"add generated column on $tablePath") { st =>
      if (st.version != snap.version)
        throw new java.util.ConcurrentModificationException(
          s"table $tablePath changed concurrently during addGeneratedColumn — " +
            "the new data is unvalidated; rerun against the new state")
      Some(Seq(GenCol(phys, physSql)))
    }
  }

  /** Drop a generated-column declaration (the column itself stays). */
  def dropGeneratedColumn(name: String): Unit =
    commitLoop(s"drop generated column on $tablePath") { st =>
      val phys = physicalName(st, name)
      require(st.generated.contains(phys),
        s"no generated column $name on $tablePath " +
          s"(have: ${st.generated.keys.map(st.logicalName).toSeq.sorted.mkString(", ")})")
      Some(Seq(DropGenCol(phys)))
    }

  /** IDENTITY columns currently declared: surface name →
    * (start, step, high-water — the last value in use).
    */
  def identityColumns: Map[String, (Long, Long, Long)] = {
    val s = state()
    s.identity.map { case (n, v) => s.logicalName(n) -> v }
  }

  /** Declare `name` GENERATED ALWAYS AS IDENTITY (start, step): every
    * later [[append]] assigns it from the log-owned high-water mark —
    * unique, step-monotone in commit order, gaps legal (a lost commit
    * race burns its range, the published identity contract). Writers
    * may never supply the column on append; [[overwrite]] and
    * [[merge]] accept explicit values (the backfill path) and SYNC
    * the high-water mark past them in the same commit, so later
    * appends cannot collide. The column must not exist yet — identity
    * defines it (LongType) at the next append.
    */
  def addIdentityColumn(name: String, start: Long = 1L, step: Long = 1L): Unit = {
    require(name.nonEmpty, "column name must be non-empty")
    require(step != 0L, "identity step must be non-zero")
    commitLoop(s"add identity column on $tablePath") { st =>
      require(!st.identity.contains(physicalName(st, name)),
        s"$name is already an identity column of $tablePath")
      val live = st.schema.map(_.fieldNames.toSeq.filterNot(st.dropped.contains)
        .map(st.logicalName)).getOrElse(Nil)
      require(!live.contains(name),
        s"cannot make existing column $name of $tablePath an identity column — " +
          "identity defines a fresh column (backfill via overwrite instead)")
      requireNotRetired(st, name, "an identity")
      require(!st.generated.contains(physicalName(st, name)),
        s"$name is a generated column of $tablePath")
      Some(Seq(IdentityCol(name, start, step)))
    }
  }

  /** A NEW-column declaration (identity, or generated over a column
    * the schema lacks) writes its values under the declared name as a
    * PHYSICAL slot — so a name equal to the RETIRED physical name of a
    * renamed column must be rejected here exactly as [[physicalize]]
    * rejects it on the write path, or the declaration would silently
    * land values in the renamed column's files.
    */
  private def requireNotRetired(st: State, name: String, what: String): Unit =
    st.renames.get(name).filter(_ != name)
      .filterNot(_ => st.toPhysicalName.contains(name)).foreach { l =>
        throw new IllegalArgumentException(
          s"column $name of $tablePath was renamed to $l; declaring $what " +
            "column under the retired physical name would silently alias " +
            "it — pick another name")
      }

  /** Drop an identity DECLARATION: the column itself stays (with its
    * issued values) but the table stops assigning it — the append
    * fast path returns, and the column becomes an ordinary LongType
    * column writers may supply.
    */
  def dropIdentityColumn(name: String): Unit =
    commitLoop(s"drop identity column on $tablePath") { st =>
      val phys = physicalName(st, name)
      require(st.identity.contains(phys),
        s"no identity column $name on $tablePath " +
          s"(have: ${st.identity.keys.map(st.logicalName).toSeq.sorted.mkString(", ")})")
      Some(Seq(DropIdentityCol(phys)))
    }

  /** Assign every declared identity column over an incoming PHYSICAL
    * frame (which must not carry them), returning the frame plus the
    * new high-water marks. One extra narrow job per append
    * (zipWithIndex) — the price of dense, log-owned allocation.
    */
  private def assignIdentity(st: State, df: DataFrame)
      : (DataFrame, Seq[(String, Long)]) = {
    import org.apache.spark.sql.types.LongType
    val supplied = st.identity.keySet.intersect(df.columns.toSet)
    require(supplied.isEmpty,
      s"identity column(s) ${supplied.toSeq.sorted.mkString(", ")} of $tablePath " +
        "are GENERATED ALWAYS — the table assigns them on append " +
        "(use overwrite/merge for explicit backfill)")
    var cur = df
    var hws = Vector.empty[(String, Long)]
    st.identity.toSeq.sortBy(_._1).foreach { case (n, (_, step, hw)) =>
      val schema = cur.schema.add(n, LongType, nullable = false)
      // ONE materialization: count, zip, and the later staging must all
      // see the same rows, or a nondeterministic source frame could put
      // ids on disk that diverge from the high-water advanced below —
      // localCheckpoint (not persist) so a lost block FAILS the append
      // instead of silently recomputing different rows
      val base = cur.rdd
      base.localCheckpoint()
      val nRows = base.count()
      cur = cur.sparkSession.createDataFrame(
        base.zipWithIndex().map { case (r, i) =>
          Row.fromSeq(r.toSeq :+ (hw + step * (i + 1)))
        }, schema)
      hws :+= (n -> (hw + step * nRows))
    }
    (cur, hws)
  }

  /** Explicit identity values written by overwrite/merge must drag
    * the high-water mark past them — one tiny max() per identity
    * column present — or a later append would re-issue them.
    */
  private def identitySyncActions(st: State, df: DataFrame): Seq[Action] =
    st.identity.toSeq.sortBy(_._1).flatMap { case (n, (_, step, hw)) =>
      if (!df.columns.contains(n)) Nil
      else {
        import org.apache.spark.sql.functions.{col, max, min}
        val agg = if (step > 0) max(col(s"`$n`")) else min(col(s"`$n`"))
        val row = df.agg(agg).head()
        if (row.isNullAt(0)) Nil
        else {
          val mx = row.getLong(0)
          val ahead = if (step > 0) mx > hw else mx < hw
          if (ahead) Seq(IdentityHw(n, mx)) else Nil
        }
      }
    }

  /** Compute any declared generated column the PHYSICAL frame omits.
    * Runs after [[physicalize]] on every inserting write path.
    */
  private def computeGenerated(st: State, df: DataFrame): DataFrame =
    if (st.generated.isEmpty) df
    else st.generated.foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d
      else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
    }

  /** Re-establish generated columns over a REWRITE frame (update,
    * merge survivors, scd2 rewrites — all physical names). The write
    * gate guarantees any stored non-null value already equals its
    * expression, so recomputation is identity there; this exists to
    * BACKFILL rows that predate the declaration (stored null) — an
    * unmodified carried row must not trip the rewrite's own generated
    * gate, which would otherwise make any file holding such a row
    * permanently un-updatable — and to refresh values whose inputs an
    * update just changed. Columns in `keepValues` (explicitly SET by
    * the caller) keep the caller's value where present (the gate
    * validates it) and only backfill nulls.
    */
  private def recomputeGenerated(st: State, df: DataFrame,
      keepValues: Set[String] = Set.empty): DataFrame =
    if (st.generated.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{coalesce, col, expr}
      st.generated.foldLeft(df) { case (d, (n, e)) =>
        if (keepValues.contains(n) && d.columns.contains(n))
          d.withColumn(n, coalesce(col(s"`$n`"), expr(e)))
        else d.withColumn(n, expr(e))
      }
    }

  /** Whether evolve-on-write may WIDEN column types for this state
    * ([[TxTable.TypeWideningProp]]).
    */
  private def widenOn(st: State): Boolean =
    st.properties.get(TxTable.TypeWideningProp).contains("true")

  /** CHECK set in force for a write: declared constraints plus each
    * generated column's `col <=> (expr)` gate.
    */
  private def effectiveChecks(st: State): Map[String, String] =
    if (st.generated.isEmpty) st.constraints
    else st.constraints ++ st.generated.map { case (n, e) =>
      s"__generated_$n" -> s"`$n` <=> ($e)"
    }

  /** The table's current merged schema (None until the first commit),
    * under SURFACE names ([[renameColumn]] applied).
    */
  def schemaOption: Option[StructType] = {
    val s = state()
    s.schema.map(sc => StructType(sc.fields
      .filterNot(f => s.dropped.contains(f.name))
      .map(logicalField(s, _))))
  }

  /** Make this table SQL-addressable as `graft_tx.<name>` (snapshot
    * reads + `VERSION AS OF` / `TIMESTAMP AS OF`) — see
    * [[TxSqlCatalog]]. Requires a session built with
    * [[graft.functions.GraftExtensions]].
    */
  def registerSql(name: String): Unit = TxSqlCatalog.register(name, tablePath)

  /** CREATE-TABLE parity: commit a schema (and optional properties)
    * with no data, so SQL DDL ([[graft.sql.GraftCatalog]]) and typed
    * callers can declare a table before the first write. Columns are
    * stored nullable — rows are free to omit them until written — and
    * the table must have no commits yet (evolution, not re-creation,
    * is the path after that).
    */
  def create(schema0: StructType,
             properties: Map[String, String] = Map.empty): Unit = {
    require(schema0.nonEmpty, "create needs at least one column")
    require(schema0.map(_.name).distinct.size == schema0.size,
      s"duplicate column names in ${schema0.map(_.name).mkString(", ")}")
    // nullable, metadata-free: the log stores schema as parseable DDL
    // (metadata like DEFAULT declarations would break the round-trip)
    val schema = StructType(schema0.map(f =>
      StructField(f.name, f.dataType, nullable = true)))
    // create-time DEFAULT declarations ride in as properties (the SQL
    // CREATE TABLE path) — same gate as post-create DDL, so an invalid
    // or non-deterministic default can never be born with the table
    properties.foreach { case (k, v) =>
      if (k.startsWith(TxTable.DefaultPropPrefix)) {
        val c = k.stripPrefix(TxTable.DefaultPropPrefix)
        val f = schema.find(_.name == c).getOrElse(throw new
            IllegalArgumentException(
          s"DEFAULT declared for unknown column $c of $tablePath"))
        requireValidDefault(c, f.dataType, v)
      }
    }
    commitLoop(s"create $tablePath") { st =>
      require(st.version < 0,
        s"$tablePath already has commits (v${st.version}) — evolve via " +
          "append/addColumns instead of create")
      Some(Meta(schema.toDDL) +: properties.toSeq.sorted.map {
        case (k, v) => Prop(k, v)
      })
    }
  }

  /** ALTER TABLE ADD COLUMNS: metadata-only schema evolution — every
    * existing row surfaces the new columns as NULL, exactly as if an
    * append had carried them ([[mergeSchemas]] semantics, no file
    * touched). A name that collides with a DROPPED column's retired
    * physical slot gets a FRESH physical slot mapped in the same
    * commit (the [[append]] re-add rule), so old dead values can never
    * resurface under the new column.
    */
  def addColumns(cols: Seq[StructField]): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    require(cols.map(_.name).distinct.size == cols.size,
      s"duplicate column names in ${cols.map(_.name).mkString(", ")}")
    commitLoop(s"add columns to $tablePath") { st =>
      val cur = st.schema.getOrElse(throw new IllegalStateException(
        s"$tablePath has no commits yet — create() or write first"))
      val live = cur.fieldNames.toSeq.filterNot(st.dropped.contains)
        .map(st.logicalName)
      val slots = cols.map { f =>
        require(!live.contains(f.name),
          s"column ${f.name} already exists on $tablePath")
        require(!st.generated.contains(f.name) && !st.identity.contains(f.name),
          s"column ${f.name} of $tablePath is declared generated/identity")
        requireNotRetired(st, f.name, "a new")
        // dropped slot of the same name: fresh physical + surface map
        if (cur.fieldNames.contains(f.name) && st.dropped.contains(f.name))
          (s"${f.name}_${UUID.randomUUID().toString.take(8)}", Some(f.name), f)
        else (f.name, None, f)
      }
      val merged = StructType(cur.fields ++ slots.map { case (phys, _, f) =>
        StructField(phys, f.dataType, nullable = true)
      })
      Some(Meta(merged.toDDL) +: slots.collect {
        case (phys, Some(logical), _) => RenameCol(phys, logical)
      })
    }
  }

  /** CHECK constraints currently in force (name → SQL expression). */
  def constraints: Map[String, String] = state().constraints

  /** The table's (minReader, minWriter) protocol requirement. */
  def protocol: (Int, Int) = state().protocol

  /** Free-form table properties (TBLPROPERTIES role). */
  def properties: Map[String, String] = state().properties

  /** Set (or replace) a table property. A `graft.default.<col>` key is
    * a column-DEFAULT declaration in disguise — it routes through
    * [[setColumnDefault]]'s full validation (live column, not
    * generated/identity, deterministic constant, casts to the column
    * type), so `TBLPROPERTIES('graft.default.c' -> 'rand()')` cannot
    * smuggle in an expression the DDL path would reject.
    */
  def setProperty(key: String, value: String): Unit = {
    require(key.nonEmpty, "property key must be non-empty")
    if (key.startsWith(TxTable.DefaultPropPrefix))
      setColumnDefault(key.stripPrefix(TxTable.DefaultPropPrefix), value)
    else setPropertyRaw(key, value)
  }

  private def setPropertyRaw(key: String, value: String): Unit =
    commitLoop(s"set property on $tablePath") { st =>
      if (st.properties.get(key).contains(value)) None
      else Some(Seq(Prop(key, value)))
    }

  /** Remove a table property; unknown keys fail loudly. */
  def unsetProperty(key: String): Unit =
    commitLoop(s"unset property on $tablePath") { st =>
      require(st.properties.contains(key),
        s"no property $key on $tablePath " +
          s"(have: ${st.properties.keys.toSeq.sorted.mkString(", ")})")
      Some(Seq(UnsetProp(key)))
    }

  /** Declare an ANSI column DEFAULT: a constant expression SQL inserts
    * substitute when the column is omitted (resolved by Spark's
    * analyzer from the catalog table's schema metadata — see
    * [[graft.sql.GraftCatalog]]). The published semantics: defaults
    * apply to FUTURE inserts only — rows already on disk (and typed
    * `append`s that simply omit the column) keep reading NULL, so
    * declaring a default is one O(1) metadata commit, never a rewrite.
    * Stored as a `graft.default.<physical>` property, so the
    * declaration is rename-stable and rides checkpoints like any
    * other table metadata; the expression must be deterministic and
    * reference no columns (the foldability Spark's resolution
    * requires).
    */
  def setColumnDefault(name: String, sqlExpr: String): Unit = {
    val st = state()
    val phys = physicalName(st, name)
    require(st.schema.exists(s => s.fieldNames.contains(phys) &&
        !st.dropped.contains(phys)),
      s"no column $name on $tablePath to set a DEFAULT for")
    require(!st.generated.contains(phys) && !st.identity.contains(phys),
      s"column $name of $tablePath is generated/identity — its values " +
        "are always computed, a DEFAULT would never apply")
    requireValidDefault(name, st.schema.get(phys).dataType, sqlExpr)
    setPropertyRaw(s"${TxTable.DefaultPropPrefix}$phys", sqlExpr)
  }

  /** The one DEFAULT-expression gate, shared by every declaration path
    * (DDL [[setColumnDefault]], raw TBLPROPERTIES via [[setProperty]],
    * and [[create]]-time properties): deterministic, references no
    * columns, and the cast analyzes against the column's declared type
    * at DDL time — not at the next INSERT.
    */
  private def requireValidDefault(name: String, dt: DataType,
      sqlExpr: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sqlExpr)
    require(parsed.references.isEmpty,
      s"DEFAULT for $name must be a constant expression referencing no " +
        s"columns (got: $sqlExpr)")
    val analyzed =
      spark.sql(s"SELECT CAST(($sqlExpr) AS ${dt.sql})").queryExecution.analyzed
    // determinism must be judged on the RESOLVED tree: an unresolved
    // function node reports deterministic=true regardless of what it
    // resolves to (rand() would slip through the parsed form)
    require(analyzed.expressions.forall(_.deterministic),
      s"DEFAULT for $name must be deterministic (got: $sqlExpr)")
  }

  /** Drop a column DEFAULT declaration; unknown names fail loudly. */
  def dropColumnDefault(name: String): Unit = {
    val st = state()
    val phys = physicalName(st, name)
    require(st.properties.contains(s"${TxTable.DefaultPropPrefix}$phys"),
      s"no DEFAULT declared for column $name on $tablePath")
    unsetProperty(s"${TxTable.DefaultPropPrefix}$phys")
  }

  /** Declared column DEFAULTs, keyed by the current SURFACE name and
    * filtered to live columns (a dropped column's declaration dies
    * with it; the fresh physical slot of a re-added name never
    * collides with the retired key).
    */
  def columnDefaults: Map[String, String] = {
    val st = state()
    val live = st.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
    st.properties.collect {
      case (k, v) if k.startsWith(TxTable.DefaultPropPrefix) &&
          live.contains(k.stripPrefix(TxTable.DefaultPropPrefix)) &&
          !st.dropped.contains(k.stripPrefix(TxTable.DefaultPropPrefix)) =>
        st.logicalName(k.stripPrefix(TxTable.DefaultPropPrefix)) -> v
    }
  }

  /** DESCRIBE DETAIL: one-stop operational summary of the snapshot —
    * version, file/byte/row totals (rows summed from manifest stats
    * where recorded), masked-row count, schema width, feature state.
    */
  def detail(): TxTable.TableDetail = {
    val s = state()
    val fsv = fs
    val bytes = s.files.map(f => fsv.getFileStatus(new Path(root, f)).getLen).sum
    val rows = s.files.flatMap(s.stats.get).map(_.rows)
    TxTable.TableDetail(
      version = s.version,
      numFiles = s.files.size,
      sizeBytes = bytes,
      numRows = if (rows.size == s.files.size) Some(rows.sum) else None,
      maskedRows = s.dvs.values.map(_.deleted).sum,
      numColumns = s.schema.map(_.fields.count(f => !s.dropped.contains(f.name))).getOrElse(0),
      protocol = s.protocol,
      lastCommitTs = s.lastCommitTs,
      constraints = s.constraints.keySet,
      bloomIndexes = s.blooms.keySet,
      generatedColumns = s.generated.keySet.map(s.logicalName),
      identityColumns = s.identity.keySet.map(s.logicalName),
      renamedColumns = s.renames.size,
      droppedColumns = s.dropped.size,
      properties = s.properties)
  }

  /** Raise the protocol requirement EXPLICITLY (feature DDL raises it
    * implicitly). Monotone: lowering is refused — an older client
    * could then commit under invariants it does not understand.
    */
  def upgradeProtocol(minReader: Int, minWriter: Int): Unit =
    commitLoop(s"protocol upgrade on $tablePath") { st =>
      require(minReader >= st.protocol._1 && minWriter >= st.protocol._2,
        s"cannot lower protocol ${st.protocol} to ($minReader, $minWriter)")
      require(minReader <= TxTable.SupportedReaderVersion &&
        minWriter <= TxTable.SupportedWriterVersion,
        s"this client supports (${TxTable.SupportedReaderVersion}, " +
          s"${TxTable.SupportedWriterVersion}); cannot demand ($minReader, $minWriter)")
      if ((minReader, minWriter) == st.protocol) None
      else Some(Seq(Protocol(minReader, minWriter)))
    }

  /** Add (or replace) a CHECK constraint: from this commit on, every
    * append/overwrite/merge/update must satisfy `exprSql` on every row
    * it writes (SQL CHECK semantics — NULL passes; use `c IS NOT NULL`
    * for NOT NULL). Existing rows are validated FIRST, so a committed
    * constraint is an invariant of the whole live table, and the DDL
    * aborts if anything commits concurrently (that data would be
    * unvalidated) — rerun against the new state. [[restore]] is the
    * one documented bypass: restoring to a pre-constraint snapshot
    * resurrects rows that were never validated (the published RESTORE
    * designs share this trade — constraints are metadata, restore
    * re-points data).
    */
  def addConstraint(name: String, exprSql: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty, "constraint name must be non-empty")
    expr(exprSql) // parse eagerly: bad SQL fails the DDL, not the next append
    val snap = state()
    // constraints BIND TO PHYSICAL NAMES (enforcement scans staged
    // parquet under the physical schema): surface references are
    // translated once at DDL time, so later renames never re-bind or
    // orphan a stored expression
    val physSql = physicalizeExprSql(snap, exprSql)
    val e = expr(physSql)
    val deadRefs = snap.dropped.filter(exprReferencesColumn(physSql, _))
    require(deadRefs.isEmpty,
      s"cannot add constraint $name CHECK ($exprSql) to $tablePath: it references " +
        s"dropped column(s) ${deadRefs.toSeq.sorted.mkString(", ")}")
    if (snap.files.nonEmpty) {
      val bad = readState(snap).where(not(coalesce(e, lit(true)))).limit(1).collect()
      require(bad.isEmpty,
        s"cannot add constraint $name CHECK ($exprSql) to $tablePath: an existing " +
          s"row violates it — e.g. ${bad.headOption.getOrElse("")}")
    }
    commitLoop(s"add constraint on $tablePath") { st =>
      if (st.version != snap.version)
        throw new java.util.ConcurrentModificationException(
          s"table $tablePath changed concurrently (v${snap.version} -> " +
            s"v${st.version}) during addConstraint — the new data is unvalidated; " +
            "rerun addConstraint() against the new state")
      Some(Seq(Constr(name, physSql)))
    }
  }

  /** Surface → physical rewrite of a stored SQL expression's column
    * references (parsed, not string-matched). Identity when the table
    * has no renames.
    */
  private def physicalizeExprSql(s: State, exprSql: String): String =
    if (s.renames.isEmpty) exprSql
    else {
      import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute => UA}
      val toPhys = s.toPhysicalName
      spark.sessionState.sqlParser.parseExpression(exprSql).transform {
        case a: UA if a.nameParts.size == 1 && toPhys.contains(a.nameParts.head) =>
          UA(Seq(toPhys(a.nameParts.head)))
      }.sql
    }

  /** Drop a CHECK constraint; unknown names fail loudly. */
  def dropConstraint(name: String): Unit =
    commitLoop(s"drop constraint on $tablePath") { st =>
      require(st.constraints.contains(name),
        s"no constraint named $name on $tablePath " +
          s"(have: ${st.constraints.keys.toSeq.sorted.mkString(", ")})")
      Some(Seq(DropConstr(name)))
    }

  /** Register a BLOOM FILTER INDEX on `column` (Delta's bloom-filter
    * index design): every data file carries a `bloom-<file>.<col>.bin`
    * sidecar built from its non-null column values, and point lookups
    * (`===` / `isin` conjuncts in [[scan]] and the predicate verbs)
    * drop candidate files whose filter proves the value absent — the
    * skip that min/max stats CANNOT give on a high-cardinality column
    * whose values interleave across every file's range (a needle
    * lookup on a 100 TB table clustered by something else opens ~fpp ×
    * files instead of all of them). Existing files backfill here in
    * one distributed pass; every later write stages sidecars for its
    * own files before committing them ([[stageData]]), and rewrites
    * (compact / cluster / merge / delete / update) re-index their
    * outputs automatically. No false negatives ⇒ the prune is SOUND
    * (`scan ≡ read().where`, always); a missing or unreadable sidecar
    * simply reads the file. Files appended concurrently with this DDL
    * lack sidecars until their next rewrite — never wrong, only
    * unpruned. Integral, string and binary columns only; [[vacuum]]
    * sweeps sidecars of dead files and dropped indexes.
    */
  def addBloomIndex(column: String, expectedItems: Long = 1000000L,
                    fpp: Double = 0.03): Unit = {
    import org.apache.spark.sql.types._
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val snap = state()
    // the index is keyed by the immutable PHYSICAL name: a later
    // rename never invalidates sidecars
    val physCol = physicalName(snap, column)
    val field = snap.schema.flatMap(_.fields.find(_.name == physCol))
    require(field.nonEmpty,
      s"cannot bloom-index $column: not a column of $tablePath " +
        "(index an empty table after its first append)")
    field.get.dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType | BinaryType => ()
      case dt => throw new IllegalArgumentException(
        s"bloom index on $column: unsupported type $dt " +
          "(integral, string and binary columns only)")
    }
    buildBloomSidecars(snap.files, Map(physCol -> BloomCfg(expectedItems, fpp)))
    commitLoop(s"add bloom index on $tablePath") { _ =>
      Some(Seq(BloomIdx(physCol, expectedItems, fpp)))
    }
  }

  /** Drop a bloom index; sidecars become garbage [[vacuum]] sweeps. */
  def dropBloomIndex(column0: String): Unit =
    commitLoop(s"drop bloom index on $tablePath") { st =>
      val column = physicalName(st, column0)
      require(st.blooms.contains(column),
        s"no bloom index on $column of $tablePath " +
          s"(have: ${st.blooms.keys.toSeq.sorted.mkString(", ")})")
      Some(Seq(DropBloomIdx(column)))
    }

  /** Build the per-(file, column) bloom sidecars for `fileNames`: one
    * distributed pass per indexed column over ONLY those files —
    * map-side partial filters fold per partition, merge per file, and
    * each merged filter writes from the executor holding it (the DV
    * sidecar pattern; the driver never materializes a bitset). A
    * column a file doesn't have (pre-evolution data) or with an
    * unsupported type contributes no sidecar — those files simply stay
    * unpruned.
    */
  private def buildBloomSidecars(fileNames: Seq[String],
      blooms: Map[String, BloomCfg]): Unit = {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.types._
    import org.apache.spark.util.sketch.BloomFilter
    if (fileNames.isEmpty || blooms.isEmpty) return
    val rootStr = root.toString
    val shc = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val df = spark.read.option("mergeSchema", "true")
      .parquet(fileNames.map(f => new Path(root, f).toString): _*)
    blooms.foreach { case (colName, cfg) =>
      df.schema.fields.find(_.name == colName).foreach { field =>
        val dt = field.dataType
        val supported = dt match {
          case LongType | IntegerType | ShortType | ByteType | StringType |
               BinaryType => true
          case _ => false
        }
        if (supported) {
          val (items, fpp) = (cfg.items, cfg.fpp)
          df.select(F.col("_metadata.file_name").as("__bfile"),
              F.col(colName).as("__bval"))
            .where(F.col("__bval").isNotNull)
            .rdd.mapPartitions { it =>
              val m = scala.collection.mutable.HashMap.empty[String, BloomFilter]
              it.foreach { r =>
                val bf = m.getOrElseUpdate(r.getString(0),
                  BloomFilter.create(items, fpp))
                dt match {
                  case LongType => bf.putLong(r.getLong(1))
                  case IntegerType => bf.putLong(r.getInt(1).toLong)
                  case ShortType => bf.putLong(r.getShort(1).toLong)
                  case ByteType => bf.putLong(r.getByte(1).toLong)
                  case StringType => bf.putString(r.getString(1))
                  case _ => bf.putBinary(r.getAs[Array[Byte]](1))
                }
              }
              m.iterator
            }
            .reduceByKey { (a, b) => a.mergeInPlace(b); a }
            .foreachPartition { it: Iterator[(String, BloomFilter)] =>
              val rootP = new Path(rootStr)
              val fsv = rootP.getFileSystem(shc.value)
              it.foreach { case (file, bf) =>
                val out = fsv.create(
                  new Path(rootP, TxTable.bloomName(file, colName)), true)
                try bf.writeTo(out) finally out.close()
              }
            }
        }
      }
    }
  }

  /** CHECK-constraint gate on a write's newly staged files: ONE scan
    * of only those files (the input plan is never re-computed and
    * untouched table files are never re-read; staged parquet is read
    * under the post-commit schema, so a write omitting an evolved
    * column checks it as NULL — which CHECK passes). On violation
    * every file in `cleanup` is deleted and the write aborts loudly
    * before any commit.
    */
  private def enforceConstraints(constraints: Map[String, String],
      staged: Seq[(String, Option[FileStats])], schema: StructType,
      cleanup: Seq[(String, Option[FileStats])], what: String): Unit = {
    if (constraints.isEmpty || staged.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    def violates(sql: String) = not(coalesce(expr(sql), lit(true)))
    val df = spark.read.schema(schema)
      .parquet(staged.map { case (f, _) => new Path(root, f).toString }: _*)
    val hit = df.where(constraints.values.map(violates).reduce(_ || _))
      .limit(1).collect()
    if (hit.nonEmpty) {
      // one extra probe per constraint, only on the failure path
      val broken = constraints.find { case (_, sql) =>
        df.where(violates(sql)).limit(1).count() > 0
      }
      cleanup.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
      throw new IllegalArgumentException(
        s"$what $tablePath violates CHECK constraint " +
          s"${broken.map { case (n, s) => s"$n ($s)" }.getOrElse("?")} — " +
          s"e.g. row ${hit.head}; nothing was committed")
    }
  }

  /** Row-level change feed for `(fromVersion, toVersion]`: every row
    * carries `_change_type` (insert / update_preimage /
    * update_postimage / delete) and `_commit_version`. Appends
    * synthesize inserts from their added files; merge/delete commits
    * serve the change files they staged atomically with the rewrite
    * ([[merge]]/[[delete]]) — so unlike [[readChanges]], an
    * incremental consumer SURVIVES upstream row mutations.
    * Compactions and clusterings are invisible (no row changed).
    * Overwrites carry no row-level record and fail loudly — re-sync
    * from a full [[read]], the same boundary a format's CDC draws
    * without `replaceWhere` tracking.
    */
  def readChangeFeed(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val head = state()
    require(toVersion <= head.version,
      s"toVersion $toVersion not committed (latest contiguous: ${head.version})")
    require(fromVersion <= toVersion,
      s"empty or inverted range ($fromVersion, $toVersion]")
    val fsv = fs
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val actions = readManifest(fsv, v)
      val cdf = actions.collect { case Cdf(p) => p }
      if (cdf.nonEmpty)
        Some(spark.read.parquet(cdf.map(f => new Path(root, f).toString): _*)
          .withColumn(CommitVersionCol, lit(v)))
      else if (actions.exists(_ == RewriteMarker)) None // rows unchanged
      else if (actions.exists(_.isInstanceOf[Dv]))
        throw new IllegalStateException(
          s"version $v of $tablePath changes deletion vectors with no change " +
            "record (a restore across a row-level delete): the range is not " +
            "feed-readable — re-sync this consumer from a full read()")
      else if (actions.exists(_.isInstanceOf[Remove]))
        throw new IllegalStateException(
          s"version $v of $tablePath removes files with no change record " +
            "(an overwrite): the range is not feed-readable — re-sync this " +
            "consumer from a full read()")
      else {
        val added = actions.collect { case Add(p, _) => p }
        if (added.isEmpty) None
        else Some(spark.read.schema(head.schema.get)
          .parquet(added.map(f => new Path(root, f).toString): _*)
          .withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(CommitVersionCol, lit(v)))
      }
    }
    // seed the union with an empty frame of the CURRENT feed schema:
    // change files written before a later schema evolution lack the
    // newer columns, and a consumer selecting the full schema would
    // otherwise fail on exactly those batches (deterministically, so
    // the stream could never progress past them) — the pad surfaces
    // missing columns as null, the table's own evolution semantics
    val feedSchema = head.schema.getOrElse(StructType(Nil))
      .add(ChangeTypeCol, "string").add(CommitVersionCol, "long")
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), feedSchema)
    logicalize(head,
      (empty +: parts).reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** Physical → logical projection of a snapshot's frame (column
    * mapping): a single select with aliases, so chained renames can
    * never collide mid-way. No-op (the same frame) when the table has
    * no renames — the overwhelmingly common case pays nothing.
    */
  private def logicalize(s: State, df: DataFrame): DataFrame =
    if (s.renames.isEmpty && s.dropped.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.toIndexedSeq
        .filterNot(s.dropped.contains)
        .map(c => col(s"`$c`").as(s.logicalName(c))): _*)
    }

  /** Logical → physical projection of an INCOMING frame before it is
    * staged/merged: surface names map back to the on-disk names, so
    * data files and stats stay keyed by the immutable physical name.
    * A column equal to the RETIRED physical name of a renamed column
    * is rejected loudly — silently landing it in the renamed column's
    * files would resurrect the old name as a different column.
    */
  private def physicalize(s: State, df: DataFrame): DataFrame =
    if (s.renames.isEmpty && s.dropped.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val toPhys = s.toPhysicalName
      val retired = s.renames.collect {
        case (p, l) if p != l && df.columns.contains(p) && !toPhys.contains(p) => p -> l
      }
      require(retired.isEmpty, retired.map { case (p, l) =>
        s"column $p of $tablePath was renamed to $l; writing a NEW column under " +
          s"the retired physical name would silently alias it — pick another name"
      }.mkString("; "))
      // a name whose physical slot was DROPPED cannot be written here:
      // the schema-evolving verbs (append/overwrite) re-add it under a
      // fresh physical slot; anywhere else it would resurrect the
      // dropped column's files
      val hitsDropped = df.columns.filter(c =>
        s.dropped.contains(toPhys.getOrElse(c, c)))
      require(hitsDropped.isEmpty,
        s"column(s) ${hitsDropped.mkString(", ")} of $tablePath were dropped — " +
          "re-add via append()/overwrite() (fresh physical slot) first")
      df.select(df.columns.toIndexedSeq.map(c =>
        col(s"`$c`").as(toPhys.getOrElse(c, c))): _*)
    }

  /** A surface (logical) column name's physical form. */
  private def physicalName(s: State, name: String): String =
    s.toPhysicalName.getOrElse(name, name)

  /** A physical StructField under its surface name. */
  private def logicalField(s: State, f: StructField): StructField =
    if (s.renames.isEmpty) f else f.copy(name = s.logicalName(f.name))

  /** Shape names arrive in surface terms; stats are physical-keyed. */
  private def physicalizeShapes(s: State,
      shapes: Seq[org.apache.spark.sql.GraftColumnBridge.PredShape])
      : Seq[org.apache.spark.sql.GraftColumnBridge.PredShape] =
    if (s.renames.isEmpty) shapes
    else {
      import org.apache.spark.sql.GraftColumnBridge._
      shapes.map {
        case CmpShape(n, op, v) => CmpShape(physicalName(s, n), op, v)
        case NullShape(n, b) => NullShape(physicalName(s, n), b)
        case InShape(n, vs) => InShape(physicalName(s, n), vs)
        case PrefixShape(n, p) => PrefixShape(physicalName(s, n), p)
        case OrShape(bs) => OrShape(bs.map(physicalizeShapes(s, _)))
        case o => o
      }
    }

  /** METADATA-ONLY column rename (column mapping, the published
    * table-format design): data files never rewrite — the log records
    * physical → logical and every read projects the mapping, every
    * write maps surface names back. O(1) at any table size where a
    * rewrite would be O(table). Time travel keeps temporal naming:
    * `readAt` below this commit still shows the old name. CHECK
    * constraints and bloom indexes bind to PHYSICAL names (translated
    * at their own DDL time), so a rename never re-binds or orphans
    * them — [[constraints]] keeps showing the stored physical form.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    require(oldName.nonEmpty && newName.nonEmpty, "column names must be non-empty")
    require(oldName != newName, s"rename $oldName -> $newName is a no-op")
    commitLoop(s"rename column on $tablePath") { st =>
      val schema = st.schema.getOrElse(throw new IllegalStateException(
        s"cannot rename $oldName on $tablePath: table has no schema yet"))
      val logicalNames = schema.fields.map(_.name)
        .filterNot(st.dropped.contains).map(st.logicalName).toSet
      require(logicalNames.contains(oldName),
        s"no column named $oldName on $tablePath " +
          s"(have: ${logicalNames.toSeq.sorted.mkString(", ")})")
      require(!logicalNames.contains(newName),
        s"cannot rename $oldName -> $newName on $tablePath: $newName exists")
      val phys = physicalName(st, oldName)
      Some(RenameCol(phys, newName) +: protocolBumpV2(st))
    }
  }

  /** Column mapping and deletion vectors are v2 features: the first
    * commit using one raises the table's protocol so pre-v2 clients
    * refuse loudly instead of misreading.
    */
  private def protocolBumpV2(st: State): Seq[Action] =
    if (st.protocol._1 >= 2 && st.protocol._2 >= 2) Nil
    else Seq(Protocol(2, 2))

  /** METADATA-ONLY column drop (column mapping): existing data files
    * are untouched — the physical column's values stay in them (time
    * travel below this commit still reads them) but the surface hides
    * the column from this commit on, every rewrite stops carrying it,
    * and a later [[append]]/[[overwrite]] may RE-ADD the same surface
    * name under a fresh physical slot. O(1) at any table size where a
    * rewrite would be O(table). Refused while a CHECK constraint
    * references the column (enforcement scans would break — drop the
    * constraint first); a bloom index on it is dropped in the same
    * commit (its prune could never be asked for again).
    */
  def dropColumn(name: String): Unit = {
    require(name.nonEmpty, "column name must be non-empty")
    commitLoop(s"drop column on $tablePath") { st =>
      val schema = st.schema.getOrElse(throw new IllegalStateException(
        s"cannot drop $name on $tablePath: table has no schema yet"))
      val live = schema.fields.map(_.name).filterNot(st.dropped.contains)
      val logicalNames = live.map(st.logicalName)
      require(logicalNames.contains(name),
        s"no column named $name on $tablePath " +
          s"(have: ${logicalNames.sorted.mkString(", ")})")
      require(logicalNames.length > 1,
        s"cannot drop $name: it is the last column of $tablePath")
      val phys = physicalName(st, name)
      val referenced = st.constraints.filter { case (_, sql) =>
        exprReferencesColumn(sql, phys)
      }
      require(referenced.isEmpty,
        s"cannot drop $name on $tablePath: referenced by CHECK constraint(s) " +
          s"${referenced.keys.toSeq.sorted.mkString(", ")} — drop them first")
      require(!st.identity.contains(phys),
        s"cannot drop $name on $tablePath: it is an identity column — " +
          "dropIdentityColumn first (the declaration would keep allocating " +
          "into a hidden slot)")
      val genRefs = st.generated.filter { case (g, e) =>
        g != phys && exprReferencesColumn(e, phys)
      }
      require(genRefs.isEmpty,
        s"cannot drop $name on $tablePath: generated column(s) " +
          s"${genRefs.keys.map(st.logicalName).toSeq.sorted.mkString(", ")} " +
          "are computed from it — drop those declarations first")
      Some(Seq(DropCol(phys)) ++
        (if (st.generated.contains(phys)) Seq(DropGenCol(phys)) else Nil) ++
        (if (st.blooms.contains(phys)) Seq(DropBloomIdx(phys)) else Nil) ++
        protocolBumpV2(st))
    }
  }

  /** Does a stored (physical-name) SQL expression reference `column`?
    * Parsed, not substring-matched — `a_b > 0` must not pin `a`.
    */
  private def exprReferencesColumn(exprSql: String, column: String): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute => UA}
    val resolver = spark.sessionState.conf.resolver
    try spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: UA if a.nameParts.size == 1 && resolver(a.nameParts.head, column) => a
    }.nonEmpty
    catch { case _: Exception => true } // unparseable: refuse, never guess
  }

  private def readState(s: State): DataFrame = s.schema match {
    case None => spark.emptyDataFrame
    case Some(schema) if s.files.isEmpty =>
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    case Some(schema) =>
      val masked = s.files.filter(s.dvs.contains)
      if (masked.isEmpty) spark.baseRelationToDataFrame(relationFor(s))
      else {
        // merge-on-read: files with a deletion vector read through the
        // positional anti-join; the (typically much larger) unmasked
        // rest keeps the plain skip-registered relation
        val plain = s.files.filterNot(s.dvs.contains)
        val maskedDf = dvFilteredRead(schema, masked, s.dvs)
        if (plain.isEmpty) maskedDf
        else spark.baseRelationToDataFrame(relationFor(s.copy(files = plain)))
          .unionByName(maskedDf)
      }
  }

  /** The merge-on-read half of a snapshot: the given files scanned
    * WITH their deletion vectors applied — each row tagged with its
    * physical position (`_metadata.file_name`/`row_index`, free
    * metadata columns, no extra IO), then anti-joined against the
    * sidecars' deleted positions. The deleted set is bounded by rows
    * deleted (never table size — past `rewriteAtFraction` a file is
    * rewritten instead) and broadcast when small, so the mask costs a
    * map-side hash probe, not a shuffle of the data.
    */
  private def dvFilteredRead(schema: StructType, files: Seq[String],
                             dvs: Map[String, DvRef]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val raw = spark.read.schema(schema)
      .parquet(files.map(f => new Path(root, f).toString): _*)
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvIdxCol, col("_metadata.row_index"))
    val pairs = deletedPairs(files.map(f => f -> dvs(f).dvFile))
    val hinted =
      if (files.iterator.map(f => dvs(f).deleted).sum <= DvBroadcastRows)
        broadcast(pairs)
      else pairs
    raw.join(hinted, Seq(DvFileCol, DvIdxCol), "left_anti")
      .drop(DvFileCol, DvIdxCol)
  }

  /** The deleted (file, row-index) pairs of the given sidecars as a
    * DataFrame — parsed on EXECUTORS (the sidecars live in table
    * storage, reachable from any node), never collected to the driver.
    */
  private def deletedPairs(fileAndDv: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.Encoders
    val rootStr = root.toString
    val shc = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.createDataset(fileAndDv)(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .flatMap { case (f, dv) =>
        val rootP = new Path(rootStr)
        readDvFile(rootP.getFileSystem(shc.value), new Path(rootP, dv))
          .iterator.map(i => (f, i))
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toDF(DvFileCol, DvIdxCol)
  }

  /** The snapshot as a parquet BaseRelation, registered with
    * [[graft.plans.TxSkipRegistry]] (when stats exist) so a filter
    * over ANY declarative read path — `.where`, SQL, the batch format
    * — gets manifest-stat file skipping from [[graft.plans.TxSkipRule]]
    * at optimization time, not just the explicit [[scan]] API.
    */
  private def relationFor(s: State): org.apache.spark.sql.sources.BaseRelation = {
    val schema = s.schema.getOrElse(StructType(Nil))
    val rel = org.apache.spark.sql.GraftStreamBridge.parquetRelation(
      spark, schema, s.files.map(f => new Path(root, f).toString))
    if (s.files.nonEmpty && s.stats.nonEmpty)
      graft.plans.TxSkipRegistry.register(rel,
        graft.plans.TxSkipRegistry.SkipInfo(root.toString, s.files, s.stats,
          schema, s.blooms, s.generated))
    rel
  }

  /** Snapshot relation for the batch format provider
    * (`spark.read.format("graft-txtable")`) — same registration as
    * [[readState]], so format reads are skip-enabled too.
    */
  private[graft] def snapshotRelation(versionAsOf: Option[Long])
      : org.apache.spark.sql.sources.BaseRelation = {
    val s = versionAsOf match {
      case Some(v) =>
        val st = stateAt(Some(v))
        require(st.version == v,
          s"version $v not committed (latest contiguous: ${st.version})")
        st
      case None => state()
    }
    require(s.schema.isDefined, s"$tablePath has no commits yet — nothing to read")
    // a snapshot carrying deletion vectors cannot be a plain file
    // relation (the mask is applied at read time), and one with
    // column renames needs the surface projection: wrap the computed
    // plan instead — pushdown still reaches the inner skip-registered
    // relation (Catalyst rewrites predicates through the rename
    // Project, so TxSkipRule prunes on the physical names as always)
    if (s.files.exists(s.dvs.contains) || s.renames.nonEmpty)
      org.apache.spark.sql.GraftStreamBridge.dataFrameRelation(
        logicalize(s, readState(s)))
    else relationFor(s)
  }

  /** Append `df` atomically. `txn` makes the commit idempotent per
    * (writerId, batchId): a batch at or below the writer's recorded
    * high-water mark is skipped (staged files removed), which is what
    * makes a foreachBatch retry exactly-once. Appends never conflict:
    * on a lost race the claim retries against the new head. Schema is
    * merged by name; a type change for an existing column fails the
    * commit (loudly — silent coercion would corrupt later reads).
    *
    * `partitionBy` is the table format's PARTITIONED WRITE (the
    * reference partitions bronze by event type —
    * /root/reference/notebooks/medallion/bronze.py:25): each named
    * (low-cardinality) column's values are clustered into value-pure
    * files, whose manifest stats (min = max = value) make
    * [[scan]] / the optimizer rule prune partition predicates exactly
    * — O(manifest) partition pruning without a hive directory layout,
    * so files stay self-describing and every rewrite path is
    * unchanged. A giant partition value writes through one task by
    * default; `filesPerValue > 1` salts it across that many files.
    */
  def append(df0: DataFrame, txn: Option[TxnId] = None,
             partitionBy: Seq[String] = Nil, filesPerValue: Int = 1): Unit = {
    val snap0 = state()
    if (snap0.identity.nonEmpty) {
      appendWithIdentity(df0, txn, partitionBy, filesPerValue)
      return
    }
    // RE-ADD after dropColumn: a surface name whose physical slot was
    // dropped gets a FRESH physical slot, mapped in the same commit —
    // the old files' values stay dead, the new column starts null
    // everywhere it is absent (normal evolution semantics)
    val readds = df0.columns
      .filter(c => snap0.dropped.contains(snap0.toPhysicalName.getOrElse(c, c)))
      .map(l => l -> s"${l}_${UUID.randomUUID().toString.take(8)}").toMap
    val snap = snap0.copy(renames = snap0.renames ++ readds.map(_.swap))
    val df = computeGenerated(snap, physicalize(snap, df0))
    val staged = stageData(df,
      partitionBy = partitionBy.map(physicalName(snap, _)),
      filesPerValue = filesPerValue)
    var checkedFor: Map[String, String] = null // re-check only if a retry changed the set
    fireBeforeCommitHook()
    commitLoop(s"append to $tablePath") { st =>
      if (txnGate(st, txn, staged, "append to")) {
        None // already committed by a previous attempt of this batch
      } else {
        requireRenamesStable(snap0, st, staged, "append to")
        requireComputedColumnsStable(snap0, st, staged, "append to")
        val schema = mergeSchemas(st.schema, df.schema, widenOn(st))
        if (effectiveChecks(st) != checkedFor) {
          enforceConstraints(effectiveChecks(st), staged, schema, staged, "append to")
          checkedFor = effectiveChecks(st)
        }
        Some(staged.map { case (p, s) => Add(p, s) } ++
          Seq(Meta(schema.toDDL)) ++
          readds.map { case (l, f) => RenameCol(f, l) } ++
          txn.map(t => Txn(t.writerId, t.batchId)).toSeq)
      }
    }
  }

  /** The identity-allocating append: ids come from the CLAIMED
    * state's high-water mark, so staging happens inside the commit
    * loop — a lost race deletes the attempt's files and re-stages
    * against the new mark (allocation is serialized, the published
    * identity behavior; plain tables never take this path). The
    * aborted range is burned: gaps are legal.
    */
  private def appendWithIdentity(df0: DataFrame, txn: Option[TxnId],
      partitionBy: Seq[String], filesPerValue: Int): Unit = {
    var prevStaged: Seq[(String, Option[FileStats])] = Nil
    try commitLoop(s"identity append to $tablePath") { st =>
      prevStaged.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
      prevStaged = Nil
      if (txnGate(st, txn, Nil, "identity append to")) None
      else {
        // RE-ADD after dropColumn, same as the plain append path —
        // computed per claim attempt since st moves under retries
        val readds = df0.columns
          .filter(c => st.dropped.contains(st.toPhysicalName.getOrElse(c, c)))
          .map(l => l -> s"${l}_${UUID.randomUUID().toString.take(8)}").toMap
        val stv = st.copy(renames = st.renames ++ readds.map(_.swap))
        val (df, hws) = assignIdentity(stv,
          computeGenerated(stv, physicalize(stv, df0)))
        // race-window instrumentation AFTER the mark is read and the
        // ids are assigned — a hook-injected concurrent commit makes
        // the claim below lose, forcing the documented re-stage
        fireBeforeCommitHook()
        val staged = stageData(df,
          partitionBy = partitionBy.map(physicalName(stv, _)),
          filesPerValue = filesPerValue)
        prevStaged = staged
        val schema = mergeSchemas(st.schema, df.schema, widenOn(st))
        enforceConstraints(effectiveChecks(st), staged, schema, staged,
          "identity append to")
        Some(staged.map { case (p, s) => Add(p, s) } ++
          Seq(Meta(schema.toDDL)) ++
          readds.map { case (l, f) => RenameCol(f, l) } ++
          hws.map { case (n, hw) => IdentityHw(n, hw) } ++
          txn.map(t => Txn(t.writerId, t.batchId)).toSeq)
      }
    } catch {
      case e: Throwable =>
        prevStaged.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
        throw e
    }
  }

  /** A concurrent rename between a write's surface-name mapping and
    * its commit claim would silently re-bind the write's columns:
    * clean the staged files and abort loudly instead (retry re-maps
    * against the new surface). Tables without renames — the common
    * case — can never hit this.
    */
  private def requireRenamesStable(snap: State, st: State,
      staged: Seq[(String, Option[FileStats])], what: String): Unit =
    if (st.renames != snap.renames) {
      staged.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
      throw new java.util.ConcurrentModificationException(
        s"$what $tablePath raced a column rename; rerun against the new state")
    }

  /** A concurrent addGeneratedColumn/addIdentityColumn between a
    * write's data preparation (snap) and its claim (st) would commit
    * rows WITHOUT the newly-declared computation — violating GENERATED
    * ALWAYS in the very next commit after the declaration. Abort like
    * a rename race; the rerun recomputes against the new state.
    * Identity compares DECLARATIONS only (start, step): the high-water
    * mark moves on every concurrent identity append and is arbitrated
    * by the claim itself.
    */
  private def requireComputedColumnsStable(snap: State, st: State,
      staged: Seq[(String, Option[FileStats])], what: String): Unit =
    if (st.generated != snap.generated ||
        st.identity.view.mapValues(v => (v._1, v._2)).toMap !=
          snap.identity.view.mapValues(v => (v._1, v._2)).toMap) {
      staged.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
      throw new java.util.ConcurrentModificationException(
        s"$what $tablePath raced a generated/identity-column change; " +
          "rerun against the new state")
    }

  /** Replace the table contents atomically. Serializes after any
    * concurrent commit: on a lost race the remove-set is rebuilt from
    * the new head, so rows appended concurrently are also replaced —
    * last-writer-wins, with both versions in the history.
    */
  def overwrite(df0: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val snap0 = state()
    val readds = df0.columns
      .filter(c => snap0.dropped.contains(snap0.toPhysicalName.getOrElse(c, c)))
      .map(l => l -> s"${l}_${UUID.randomUUID().toString.take(8)}").toMap
    val snap = snap0.copy(renames = snap0.renames ++ readds.map(_.swap))
    val df = computeGenerated(snap, physicalize(snap, df0))
    val staged = stageData(df, partitionBy = partitionBy.map(physicalName(snap, _)))
    var checkedFor: Map[String, String] = null
    commitLoop(s"overwrite of $tablePath") { st =>
      requireRenamesStable(snap0, st, staged, "overwrite of")
      requireComputedColumnsStable(snap0, st, staged, "overwrite of")
      if (effectiveChecks(st) != checkedFor) {
        enforceConstraints(effectiveChecks(st), staged, df.schema, staged, "overwrite of")
        checkedFor = effectiveChecks(st)
      }
      Some(st.files.map(Remove(_)) ++ staged.map { case (p, s) => Add(p, s) } ++
        readds.map { case (l, f) => RenameCol(f, l) } ++
        identitySyncActions(st, df) :+
        Meta(df.schema.toDDL))
    }
  }

  /** Predicate-scoped atomic overwrite (the `replaceWhere` idiom —
    * Delta's `option("replaceWhere", ...)` overwrite): in ONE commit,
    * every live row matching `predicate` is deleted and `df`'s rows
    * are inserted. Every row of `df` must itself MATCH the predicate —
    * checked against the staged files before anything commits, so a
    * mis-scoped backfill cannot silently leak rows outside its slice.
    * The canonical use is idempotent slice backfill: recompute one
    * day / partition and swap it in while readers see the old slice or
    * the new, never both and never neither.
    *
    * Physical cost is O(files overlapping the predicate), not
    * O(table): manifest stat + bloom pruning bounds the candidates, a
    * matching-row scan narrows to files that truly hold matching rows,
    * and only those rewrite (their non-matching survivor rows carried
    * forward). On a value-pure partitioned layout
    * ([[append]]`(partitionBy = ...)`) a partition-value predicate
    * touches exactly that value's files — hive-style partition
    * overwrite with no directory contract.
    *
    * Unlike [[overwrite]], the commit carries a complete row-level
    * change record (delete rows for the replaced slice, insert rows
    * for its replacement), so [[readChangeFeed]] consumers ride
    * through the swap instead of hitting a re-sync boundary.
    * Concurrency follows [[delete]]'s logical rule: abort only when a
    * concurrent commit rewrote a touched file, changed
    * schema/constraints, or appended files whose stats cannot prove
    * them disjoint from the predicate.
    */
  def replaceWhere(predicate: Column, df0: DataFrame,
                   partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val snap = state()
    val df = computeGenerated(snap, physicalize(snap, df0))
    val stagedNew = stageData(df, partitionBy = partitionBy.map(physicalName(snap, _)))
    val schema = mergeSchemas(snap.schema, df.schema, widenOn(snap))
    // an empty replacement (all staged parts provably empty) is a pure
    // slice delete; guard the zero-path reads below
    def readStagedNew: DataFrame =
      if (stagedNew.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](), df.schema)
      else spark.read.schema(df.schema)
        .parquet(stagedNew.map { case (f, _) => new Path(root, f).toString }: _*)
    // scope check on the STAGED files (one scan, same shape as
    // constraint enforcement): a row outside the predicate would make
    // "replace WHERE p" also an untracked insert elsewhere — reject
    val leaked = logicalize(snap, readStagedNew)
      .where(not(coalesce(predicate, lit(false)))).limit(1).collect()
    if (leaked.nonEmpty) {
      stagedNew.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
      throw new IllegalArgumentException(
        s"replaceWhere on $tablePath: replacement rows must all match the " +
          s"predicate — e.g. row ${leaked.head} does not; nothing was committed")
    }
    enforceConstraints(effectiveChecks(snap), stagedNew, schema, stagedNew,
      "replaceWhere into")
    val touched = filesMatching(snap, predicate)
    if (touched.isEmpty && stagedNew.isEmpty) return // provable no-op
    // one cached read of the touched files feeds the survivor rewrite
    // and the delete half of the change record
    val touchedRows = logicalize(snap, readState(snap.copy(files = touched)))
    if (touched.nonEmpty) touchedRows.persist()
    val (stagedSurv, stagedCdf) = try {
      val cdfFrame = physicalize(snap,
        touchedRows.where(predicate)
          .withColumn(ChangeTypeCol, lit("delete"))
          .unionByName(
            logicalize(snap, readStagedNew).withColumn(ChangeTypeCol, lit("insert")),
            allowMissingColumns = true))
      stageRewrite(
        if (touched.isEmpty) Nil
        else Seq(physicalize(snap, touchedRows.where(not(coalesce(predicate, lit(false)))))),
        cdfFrame)
    } finally if (touched.nonEmpty) touchedRows.unpersist()
    commitRowLevel("replaceWhere", snap,
      Rewrite(touched, stagedSurv ++ stagedNew, stagedCdf),
      addsMayMatchPredicate(snap, predicate)) { _ => Seq(Meta(schema.toDDL)) }
  }

  /** DYNAMIC partition overwrite (the published
    * `partitionOverwriteMode=dynamic` semantics): atomically replace
    * exactly the partitions PRESENT in `df` — the daily-reprocess
    * verb: write the recomputed slices, every untouched partition
    * survives byte-identical. The partition set derives from the
    * DATA (one distinct over the partition columns, collected —
    * bounded by the number of partitions written, the same
    * driver-side enumeration the published committers perform, and
    * capped loudly by `maxPartitions`). Delegates to [[replaceWhere]]
    * with the derived predicate, inheriting the atomic swap, the
    * row-level change record, and the conflict rules; the scope
    * check is satisfied by construction. Replacement files stage
    * VALUE-PURE per partition, so manifest stats prune later reads
    * to exactly the partition directories a hive layout would.
    * Single-column partitioning keeps the predicate an `isin` (+
    * isNull arm) — the stat-prunable shape; multi-column sets fall
    * back to an OR-of-conjuncts predicate (correct, pruned only by
    * the exact re-filter).
    */
  def overwriteDynamic(df: DataFrame, partitionBy: Seq[String],
                       maxPartitions: Int = 10000): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    require(partitionBy.nonEmpty, "overwriteDynamic needs partition columns")
    val missing = partitionBy.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} not in " +
        s"[${df.columns.mkString(", ")}]")
    // one materialization decides the partition set AND feeds the write
    df.persist()
    try {
      val parts = df.select(partitionBy.map(c => col(s"`$c`")): _*)
        .distinct().limit(maxPartitions + 1).collect()
      require(parts.length <= maxPartitions,
        s"overwriteDynamic on $tablePath touches > $maxPartitions partitions — " +
          "raise maxPartitions or use overwrite()/replaceWhere()")
      if (parts.isEmpty) return
      val pred = partitionBy match {
        case Seq(k) =>
          val (nulls, vals) = parts.map(_.get(0)).partition(_ == null)
          (Option.when(vals.nonEmpty)(col(s"`$k`").isin(vals.toIndexedSeq: _*)) ++
            Option.when(nulls.nonEmpty)(col(s"`$k`").isNull)).reduce(_ || _)
        case ks => parts.toIndexedSeq.map(r =>
            ks.zipWithIndex.map { case (k, i) => col(s"`$k`") <=> lit(r.get(i)) }
              .reduce(_ && _))
          .reduce(_ || _)
      }
      replaceWhere(pred, df, partitionBy)
    } finally df.unpersist()
  }

  /** RESTORE: make the live table equal its state at `version` again,
    * as a NEW commit — history is preserved, the rollback is itself
    * time-travelable and shows in the change log. Metadata-only: the
    * old snapshot's files are re-pointed, never copied, so restoring a
    * 100 TB table is an O(files) log write. Fails loudly if any needed
    * file was vacuumed away, BEFORE committing anything. Downstream
    * incremental consumers see it as an overwrite boundary (re-sync),
    * which it semantically is.
    */
  def restore(version: Long): Unit = {
    val target = stateAt(Some(version))
    require(target.version == version,
      s"version $version not committed (latest contiguous: ${target.version})")
    val fsv = fs
    val missing = (target.files ++ target.dvs.values.map(_.dvFile))
      .filterNot(f => fsv.exists(new Path(root, f)))
    require(missing.isEmpty,
      s"cannot restore $tablePath to v$version: ${missing.size} of its files " +
        s"were vacuumed (first: ${missing.headOption.getOrElse("")})")
    commitLoop(s"restore of $tablePath to v$version") { st =>
      if (st.files == target.files && st.dvs == target.dvs &&
          st.schema.map(_.toDDL) == target.schema.map(_.toDDL))
        None // already there: nothing to commit
      else {
        // re-point deletion vectors along with the file set: a file
        // whose target-version vector differs gets the target's (or an
        // explicit clear — restoring to before a merge-on-read delete
        // must resurrect its masked rows)
        val dvFixes = target.files.flatMap { f =>
          val cur = if (st.files.contains(f)) st.dvs.get(f) else None
          val tgt = target.dvs.get(f)
          if (cur == tgt) None
          else Some(tgt match {
            case Some(d) => Dv(f, d.dvFile, d.deleted)
            case None => Dv(f, "", 0L)
          })
        }
        Some(
          st.files.filterNot(target.files.contains).map(Remove(_)) ++
            target.files.filterNot(st.files.contains).map(f =>
              Add(f, target.stats.get(f))) ++
            dvFixes ++
            target.schema.map(s => Meta(s.toDDL)).toSeq)
      }
    }
  }

  /** Zero-copy CLONE: materialize this table's current snapshot as an
    * INDEPENDENT table at `targetPath` without copying data bytes.
    * Data files, deletion-vector sidecars and bloom sidecars are
    * HARD-LINKED into the target root (O(files) metadata ops; a store
    * that cannot link falls back to a per-file copy, still O(live
    * set), never O(history)), and ONE v0 manifest commits the full
    * snapshot: file set with stats, deletion vectors, schema, CHECK
    * constraints and bloom-index configs all carry over. Streaming
    * writer-idempotence markers (txns) deliberately do NOT — a clone
    * is a new table, and its first batches must not be swallowed as
    * the source's replays.
    *
    * This is the published shallow-clone contract made VACUUM-SAFE:
    * because shared bytes are links rather than cross-table manifest
    * pointers, the source's vacuum or overwrite can never dangle the
    * clone (link counts keep shared bytes alive until the last
    * referent drops them), and the two tables diverge freely from the
    * moment of the clone — every mutation path writes NEW files
    * (parquet files are immutable here), so divergence never writes
    * through a shared inode. Dev/test forks of a 100 TB production
    * table cost its file count, not its bytes.
    */
  def cloneTo(targetPath: String): TxTable = {
    val snap = state()
    val tgt = new TxTable(spark, targetPath, checkpointInterval)
    require(tgt.state().version == -1L,
      s"clone target $targetPath already has commits")
    val fsv = fs
    fsv.mkdirs(tgt.root)
    def share(name: String, required: Boolean): Unit = {
      val src = new Path(root, name)
      val dst = new Path(tgt.root, name)
      if (!fsv.exists(src)) {
        if (required) throw new IllegalStateException(
          s"cannot clone $tablePath: live file $name is missing (vacuumed?)")
      } else if (fsv.getScheme == "file") {
        try java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            org.apache.hadoop.fs.FileUtil.copy(fsv, src, fsv, dst, false,
              spark.sparkContext.hadoopConfiguration)
        }
      } else org.apache.hadoop.fs.FileUtil.copy(fsv, src, fsv, dst, false,
        spark.sparkContext.hadoopConfiguration)
    }
    snap.files.foreach(share(_, required = true))
    snap.dvs.values.foreach(d => share(d.dvFile, required = true))
    // a sidecar may legally be absent (the index reads such files
    // unpruned), so absence is carried, not an error
    for (f <- snap.files; c <- snap.blooms.keys)
      share(TxTable.bloomName(f, c), required = false)
    tgt.commitLoop(s"clone of $tablePath into $targetPath") { st =>
      require(st.version == -1L,
        s"clone target $targetPath gained commits concurrently")
      Some(
        snap.files.map(f => Add(f, snap.stats.get(f))) ++
          snap.dvs.toSeq.map { case (f, d) => Dv(f, d.dvFile, d.deleted) } ++
          snap.schema.map(s => Meta(s.toDDL)).toSeq ++
          snap.constraints.toSeq.map { case (n, sql) => Constr(n, sql) } ++
          snap.blooms.toSeq.map { case (c, b) => BloomIdx(c, b.items, b.fpp) })
    }
    tgt
  }

  /** DESCRIBE HISTORY: one row per commit — (version, commit timestamp
    * from the manifest's mtime, operation kind inferred from its
    * actions, files added, files removed). Versions below a
    * truncateLog cutoff are absent (their manifests are gone).
    */
  def history(): Seq[TxTable.CommitInfo] = {
    val fsv = fs
    if (!fsv.exists(logDir)) return Nil
    fsv.listStatus(logDir).toSeq
      .flatMap(st => manifestVersion(st.getPath.getName).map(v => (v, st.getModificationTime)))
      .sorted
      .map { case (v, mtime) =>
        val actions = readManifest(fsv, v)
        val ts = actions.collectFirst { case CommitTs(ms) => ms }.getOrElse(mtime)
        val adds = actions.count(_.isInstanceOf[Add])
        val removes = actions.count(_.isInstanceOf[Remove])
        val hasCdf = actions.exists(_.isInstanceOf[Cdf])
        val hasDv = actions.exists(_.isInstanceOf[Dv])
        val op =
          if (actions.contains(RewriteMarker)) "REWRITE" // compact/cluster
          else if (hasCdf && hasDv) "UPDATE/DELETE (DV)" // merge-on-read mutation
          else if (hasCdf) "MERGE/DELETE" // row mutation with change record
          else if (removes > 0 || hasDv) "OVERWRITE/RESTORE"
          else "APPEND"
        TxTable.CommitInfo(v, ts, op, adds, removes)
      }
  }

  /** ACID small-file compaction: rewrite the selected live files into
    * ⌈bytes/targetBytes⌉ files and swap them in one commit — readers
    * see the old or the new layout, never a mix (vs [[Layout.compact]],
    * whose directory swap assumes a single writer). If a concurrent
    * overwrite/compaction removed any input file, this aborts loudly
    * (retrying would resurrect replaced data) — rerun on the new state.
    *
    * `smallerThan` bounds the rewrite to files BELOW that size — the
    * production OPTIMIZE economics: a streaming table accretes many
    * tiny per-trigger files next to a few well-sized ones, and at
    * 100 TB rewriting the whole live set per maintenance pass is
    * O(table) while bin-packing just the small tail is O(new data).
    * Files at or above the threshold are untouched (their stats, and
    * any clustering they carry, survive). With a bounded threshold the
    * pass is a no-op unless at least two files qualify — compacting
    * one file moves bytes without reducing the file count.
    *
    * `where` scopes the pass to files whose stats might hold
    * predicate-true rows (the `OPTIMIZE ... WHERE` verb): maintenance
    * on the actively-written region — today's partition — without
    * touching the cold bulk. Rows never change either way; both knobs
    * compose.
    */
  def compact(targetBytes: Long = 128L << 20,
              smallerThan: Long = Long.MaxValue,
              where: Option[org.apache.spark.sql.Column] = None): Unit = {
    val snap = state()
    if (snap.files.isEmpty) return
    val fsv = fs
    // OPTIMIZE ... WHERE: restrict the rewrite to files whose stats
    // might hold predicate-true rows (the scan kernel's candidates).
    // Sound for compaction regardless of partial matches — whole
    // files rewrite, every row survives — the predicate only SCOPES
    // the maintenance to the hot region (one day of a 100-TB table)
    // instead of rewriting the world.
    val scoped = where match {
      case None => snap.files
      case Some(p) =>
        // a typo'd column would classify as unprunable and silently
        // scope the pass to the WHOLE table — validate every named
        // shape against the live surface schema instead
        val live = snap.schema.map(_.fieldNames.toSeq
          .filterNot(snap.dropped.contains).map(snap.logicalName).toSet)
          .getOrElse(Set.empty)
        def names(sh: org.apache.spark.sql.GraftColumnBridge.PredShape): Seq[String] = {
          import org.apache.spark.sql.GraftColumnBridge._
          sh match {
            case CmpShape(n, _, _) => Seq(n)
            case NullShape(n, _) => Seq(n)
            case InShape(n, _) => Seq(n)
            case PrefixShape(n, _) => Seq(n)
            case OrShape(bs) => bs.flatten.flatMap(names)
            case _ => Nil
          }
        }
        val shapes = org.apache.spark.sql.GraftColumnBridge.conjunctShapes(p)
        val unknown = shapes.flatMap(names).distinct.filterNot(live.contains)
        require(unknown.isEmpty,
          s"compact(where) of $tablePath references unknown column(s) " +
            s"${unknown.mkString(", ")} — the predicate must name live columns")
        // a predicate with NO prunable conjunct (casts, arithmetic,
        // unparseable SQL — including an OR whose branches are all
        // opaque: an OR only ever prunes when EVERY branch can prove
        // a file empty) scopes NOTHING — proceeding would silently
        // rewrite the WHOLE table, the exact O(table) surprise the
        // WHERE verb exists to prevent. Fail loudly; a full pass is
        // one explicit compact() call away.
        def prunable(sh: org.apache.spark.sql.GraftColumnBridge.PredShape): Boolean = {
          import org.apache.spark.sql.GraftColumnBridge._
          sh match {
            case OpaqueShape => false
            case OrShape(bs) => bs.nonEmpty && bs.forall(_.exists(prunable))
            case _ => true
          }
        }
        require(shapes.exists(prunable),
          s"compact(where) of $tablePath: no conjunct of the predicate is " +
            "prunable against file stats (all classify opaque) — the WHERE " +
            "cannot scope the pass and would compact the whole table; " +
            "rewrite the predicate over plain column comparisons, or call " +
            "compact() without WHERE for a full pass")
        prunedFiles(snap, p)
    }
    val picked = scoped
      .map(f => f -> fsv.getFileStatus(new Path(root, f)).getLen)
      .filter(_._2 < smallerThan)
    if (picked.isEmpty ||
      ((smallerThan != Long.MaxValue || where.isDefined) && picked.size < 2)) return
    val bytes = picked.map(_._2).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val inputs = picked.map(_._1)
    val staged = stageData(readState(snap.copy(files = inputs)).coalesce(nFiles))
    commitLoop(s"compaction of $tablePath") { st =>
      if (!inputs.forall(st.files.contains)) {
        staged.foreach { case (f, _) => fsv.delete(new Path(root, f), false) }
        throw new java.util.ConcurrentModificationException(
          s"compaction inputs were removed by a concurrent commit on $tablePath; " +
            "rerun compact() against the new state")
      }
      // the RewriteMarker tells incremental consumers (readChanges)
      // this commit moves no NEW rows — only existing data changed files
      Some(RewriteMarker +: (inputs.map(Remove(_)) ++
        staged.map { case (p, s) => Add(p, s) }))
    }
  }

  /** Z-ORDER clustering maintenance (the OPTIMIZE ZORDER role):
    * rewrite the live file set ordered by the interleaved bits of each
    * row's per-column quantile buckets, so manifest min/max stats
    * prune file lists for range/point predicates on ANY clustered
    * column — a linear sort serves only its leading column. Numeric
    * columns only (buckets come from one `approxQuantile` pass, so
    * skewed distributions still split evenly). Rows are unchanged, so
    * the commit carries the rewrite marker (invisible to incremental
    * consumers, like [[compact]]); aborts loudly if a concurrent
    * commit removed an input file. One-time cost O(table) — the same
    * maintenance economics as compaction, typically scheduled
    * together.
    */
  def cluster(cols0: Seq[String], targetFiles: Int = 16,
              bitsPerCol: Int = 8): Unit = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{array, col, filter, lit, shiftleft,
      shiftright, size}
    require(cols0.nonEmpty, "cluster needs at least one column")
    require(cols0.size * bitsPerCol <= 62,
      s"${cols0.size} cols x $bitsPerCol bits exceeds the 62-bit z-value budget")
    val snap = state()
    val cols = cols0.map(physicalName(snap, _))
    if (snap.files.isEmpty) return
    val df = readState(snap)
    val nBuckets = 1 << bitsPerCol
    // per-column quantile boundaries (driver-side: k doubles per col)
    val bounds = cols.map { c =>
      c -> df.stat.approxQuantile(c,
        (1 until nBuckets).map(_.toDouble / nBuckets).toArray, 0.01)
    }.toMap
    def bucket(c: String): Column = {
      // bucket index = number of boundaries <= value (nulls land in 0)
      val arr = array(bounds(c).toIndexedSeq.map(lit(_)): _*)
      size(filter(arr, b => b <= col(c).cast("double")))
    }
    val z = (0 until bitsPerCol).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.plus(shiftleft(shiftright(bucket(c), i).bitwiseAND(lit(1)).cast("long"),
          i * cols.size + j))
      }
    }
    val staged = stageData(df.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"))
    commitLoop(s"z-order cluster of $tablePath") { st =>
      if (!snap.files.forall(st.files.contains)) {
        staged.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
        throw new java.util.ConcurrentModificationException(
          s"cluster inputs were removed by a concurrent commit on $tablePath; " +
            "rerun cluster() against the new state")
      }
      Some(RewriteMarker +: (snap.files.map(Remove(_)) ++
        staged.map { case (p, s) => Add(p, s) }))
    }
  }

  /** Copy-on-write upsert (MERGE): target rows whose key matches a
    * source row are replaced by that source row; unmatched source rows
    * insert. Only files that ACTUALLY contain a matching key are
    * rewritten — found by a file-provenance semi-join (`input_file_name`
    * against the source keys, the published Delta MERGE strategy), so a
    * merge touching 0.1% of the keys of a key-clustered table rewrites
    * the few overlapping files, never the table. The swap lands in ONE
    * atomic commit (readers see the old or the new rows, never a mix);
    * if a concurrent overwrite/compaction removed a touched file, the
    * merge aborts loudly — rerun against the new state. Source keys
    * must be unique (checked): duplicate matches would make the result
    * depend on row order. Schema merges by name (new source columns
    * append, nullable).
    */
  def merge(source: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "merge needs at least one key column")
    // ONE materialization of the source: it otherwise re-evaluates for
    // the duplicate-key check, the provenance semi-join, the rewrite
    // union and both CDF joins — and pinning a non-deterministic
    // source (a rand()-derived column, a table mutating mid-merge) to
    // a single evaluation is what makes the dup check prove the SAME
    // rows the commit writes
    source.persist()
    try merge0(source, keys) finally source.unpersist()
  }

  private def merge0(source0: DataFrame, keys0: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.lit
    // surface → physical at the boundary; everything below is physical
    val snap = state()
    val source = computeGenerated(snap, physicalize(snap, source0))
    val keys = keys0.map(physicalName(snap, _))
    // one job: dup-key proof + conflict-rule key ranges + identity
    // high-water (was three sequential aggregates over the source)
    val (mayMatch, identitySync) = auditSourceKeys(snap, source, keys,
      s"merge source has duplicate keys on (${keys0.mkString(", ")}) — " +
        "a multi-match replace would be row-order-dependent",
      syncIdentity = true)
    // the append path re-maps from the ORIGINAL surface frame: the
    // already-physicalized one would trip the retired-name guard
    if (snap.files.isEmpty) { append(source0); return }
    val srcKeys = source.select(keys.map(qcol(_)): _*).distinct()
    val touched = filesWithKeys(withFile(readState(snap)), srcKeys, keys)
    // ONE cached read of the touched files feeds the survivor set AND
    // the change record — without the cache the rewrite would rescan
    // them once per consumer
    val touchedRows = readState(snap.copy(files = touched))
    if (touched.nonEmpty) touchedRows.persist()
    val (staged, stagedCdf, newData) = try {
      // survivors of the touched files (keys not replaced) + all
      // source rows; files without a matching key are untouched by
      // construction
      val data =
        if (touched.isEmpty) source
        // survivors may carry pre-declaration rows (null generated
        // values) — backfill them or the merge's own gate rejects its
        // carried rows; source rows were computed/validated above
        else recomputeGenerated(snap, touchedRows.as("t")
          .join(srcKeys.as("s"), keyCond(keys, "t", "s"), "left_anti"))
          .unionByName(source, allowMissingColumns = true)
      // row-level change record, committed ATOMICALLY with the
      // rewrite: replaced target rows (pre-image), their replacements
      // (post-image), and genuinely new keys (insert) — what lets an
      // incremental consumer survive an upstream merge
      // (readChangeFeed) instead of hard-failing on the removes
      val tgtKeys = touchedRows.select(keys.map(qcol(_)): _*).distinct()
      def changes(rows: DataFrame, keyRows: DataFrame, how: String, kind: String) =
        rows.as("t").join(keyRows.as("s"), keyCond(keys, "t", "s"), how)
          .withColumn(ChangeTypeCol, lit(kind))
      val cdfFrame = changes(touchedRows, srcKeys, "left_semi", "update_preimage")
        .unionByName(changes(source, tgtKeys, "left_semi", "update_postimage"),
          allowMissingColumns = true)
        .unionByName(changes(source, tgtKeys, "left_anti", "insert"),
          allowMissingColumns = true)
      val (s1, s2) = stageDataAndCdf(data, cdfFrame)
      (s1, s2, data)
    } finally if (touched.nonEmpty) touchedRows.unpersist()
    // LOGICAL conflict rule (Delta's ConcurrentAppend/DeleteRead exceptions):
    // a concurrent commit aborts the merge only if it could break the
    // replace-by-key contract — it touched a file this merge rewrites,
    // changed schema/constraints, or appended files whose key ranges
    // might overlap the source keys
    commitRowLevel("merge", snap, Rewrite(touched, staged, stagedCdf), mayMatch,
      checkUnder = Some(mergeSchemas(snap.schema, newData.schema, widenOn(snap)))) { st =>
      identitySync :+ Meta(mergeSchemas(st.schema, newData.schema, widenOn(st)).toDDL)
    }
  }

  /** Entry to the conditional-MERGE builder ([[TxTable.MergeBuilder]]). */
  def mergeBuilder(source: DataFrame, keys: Seq[String]): TxTable.MergeBuilder =
    new TxTable.MergeBuilder(this, source, keys)

  /** Conditional MERGE — the full published MERGE surface on top of
    * [[merge]]'s copy-on-write machinery: per target row with a
    * key-matching source row the first applicable `matched` clause
    * runs (UPDATE SET / UPDATE SET * / DELETE); per source row with
    * no target match the optional insert clause runs; per target row
    * with no source match the first applicable `bySource` clause runs
    * (the `WHEN NOT MATCHED BY SOURCE` family). Rows no clause claims
    * are untouched. Clause SQL is written over SURFACE names with
    * `t.`/`s.` qualifiers (see [[TxTable.MatchedClause]]).
    *
    * Scale shape: only files that can change are rewritten — files
    * holding a matching key (via the same `input_file_name`
    * provenance semi-join as [[merge]]) when matched clauses exist,
    * plus files holding an unmatched row satisfying some by-source
    * condition (a predicate-pushed provenance scan). Inserts
    * anti-join the source against the keys of the MATCHING files
    * only (a key absent there is absent everywhere, by provenance
    * construction), so cost is O(touched files + source), never
    * O(table). The whole effect — removes, adds, and the row-level
    * change record (update_pre/postimage, delete, insert) — lands in
    * ONE atomic commit; concurrency rules match [[merge]], except
    * that by-source clauses read every unmatched row, so ANY
    * concurrent append conflicts while they are present.
    *
    * Contracts shared with [[merge]]: source keys must be unique
    * (checked); null-safe key matching throughout; generated columns
    * are recomputed over rewritten rows (SET may not target a
    * generated or identity column); inserts should carry identity
    * values where declared (the high-water syncs forward).
    */
  def mergeConditional(source: DataFrame, keys: Seq[String],
      matched: Seq[TxTable.MatchedClause],
      notMatchedInsert: Option[TxTable.NotMatchedInsert],
      bySource: Seq[TxTable.BySourceClause],
      txn: Option[TxTable.TxnId] = None,
      evolveSchema: Boolean = false): Unit = {
    require(keys.nonEmpty, "mergeConditional needs at least one key column")
    require(matched.nonEmpty || notMatchedInsert.nonEmpty || bySource.nonEmpty,
      "mergeConditional needs at least one clause")
    // one materialization of the source — same reasoning as merge()
    source.persist()
    try mergeConditional0(source, keys, matched, notMatchedInsert, bySource,
      txn, evolveSchema)
    finally source.unpersist()
  }

  /** A cursor-only commit: the (writer, batch) marker with no data
    * change. [[mergeConditional]] with a `txn` lands one when the
    * clauses prove a no-op, so an incremental consumer's cursor still
    * advances atomically — without it the consumer would re-read an
    * ever-growing already-processed range on every later advance.
    */
  private def commitTxnOnly(txn: TxTable.TxnId, what: String): Unit =
    commitLoop(what) { st =>
      if (txnGate(st, Some(txn), Nil, what)) None
      else Some(Seq(Txn(txn.writerId, txn.batchId)))
    }

  /** The (writer, batch) commit gate, shared by every txn-carrying
    * path: returns true (commit nothing, staged files cleaned) when
    * this batch already landed; aborts loudly when the txn carries an
    * `expectPrev` CAS expectation the claimed state violates — a
    * concurrent writer under the same id moved the cursor, so this
    * commit's data was computed against a stale range.
    */
  private def txnGate(st: State, txn: Option[TxTable.TxnId],
      staged: Seq[(String, Option[FileStats])], what: String): Boolean =
    txn match {
      case None => false
      case Some(t) =>
        val cur = st.txns.get(t.writerId)
        if (cur.exists(_ >= t.batchId)) {
          staged.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
          true
        } else {
          t.expectPrev.foreach { p =>
            val expected = if (p < 0L) None else Some(p)
            if (cur != expected) {
              staged.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
              throw new java.util.ConcurrentModificationException(
                s"$what $tablePath raced another '${t.writerId}' writer: its " +
                  s"batch moved from $expected to $cur; recompute against the " +
                  "new state")
            }
          }
          false
        }
    }

  private def mergeConditional0(source0: DataFrame, keys: Seq[String],
      matched: Seq[TxTable.MatchedClause],
      notMatchedInsert: Option[TxTable.NotMatchedInsert],
      bySource: Seq[TxTable.BySourceClause],
      txn: Option[TxTable.TxnId],
      evolveSchema: Boolean): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    import TxTable.{BySourceUpdate, MatchedUpdate}
    val snap = state()
    val surfaceCols: Seq[String] = snap.schema
      .map(_.fields.toSeq.map(_.name).filterNot(snap.dropped.contains)
        .map(snap.logicalName)).getOrElse(Nil)
    // SET validation: existing surface columns only, and never a
    // table-managed (generated/identity) column
    val managed = (snap.generated.keySet ++ snap.identity.keySet).map(snap.logicalName)
    val allSets = (matched ++ bySource).flatMap {
      case MatchedUpdate(_, s) => s.keySet
      case BySourceUpdate(_, s) => s.keySet
      case _ => Set.empty[String]
    }.toSet
    val badManaged = allSets.intersect(managed)
    require(badManaged.isEmpty,
      s"SET targets table-managed column(s) ${badManaged.mkString(", ")} of " +
        s"$tablePath — generated/identity columns are recomputed, not set")
    val unknownSet = allSets.diff(surfaceCols.toSet)
    val unknownIns = notMatchedInsert.map(_.values.keySet.diff(surfaceCols.toSet))
      .getOrElse(Set.empty)
    if (evolveSchema) {
      // MERGE-time evolution: a new target column must exist on the
      // SOURCE (that is where its type comes from; Delta's autoMerge
      // model) — anything else is still a typo, not an evolution
      val orphans = (unknownSet ++ unknownIns).diff(source0.columns.toSet)
      require(orphans.isEmpty || snap.schema.isEmpty,
        s"SET/INSERT target unknown column(s) ${orphans.mkString(", ")} of " +
          s"$tablePath that the merge source does not carry — schema " +
          "evolution adds SOURCE columns; a target absent from both sides " +
          "is a typo")
    } else {
      require(unknownSet.isEmpty || snap.schema.isEmpty,
        s"SET targets unknown column(s) ${unknownSet.mkString(", ")} of $tablePath — " +
          "conditional merge updates existing columns; new columns arrive via " +
          "inserts (or opt in with withSchemaEvolution())")
      require(unknownIns.isEmpty || snap.schema.isEmpty,
        s"INSERT values target unknown column(s) ${unknownIns.mkString(", ")} of " +
          s"$tablePath — explicit-values inserts write existing columns only " +
          "(or opt in with withSchemaEvolution())")
    }
    // one job: dup-key proof + the conflict-rule key ranges the commit
    // needs when no by-source clause is present (was two aggregates)
    val (auditMayMatch, _) = auditSourceKeys(snap,
      physicalize(snap, source0), keys.map(physicalName(snap, _)),
      s"merge source has duplicate keys on (${keys.mkString(", ")}) — " +
        "a multi-match clause application would be row-order-dependent",
      syncIdentity = false)
    // replay gate: a (writer, batch) already in the log means this
    // merge's effect landed — re-running (crash between commit and the
    // caller's ack) must be a no-op, the append idempotency contract
    if (txn.exists(t => snap.txns.get(t.writerId).exists(_ >= t.batchId))) return
    if (snap.files.isEmpty) {
      var inserted = false
      notMatchedInsert.foreach { ins0 =>
        val filtered = ins0.condition
          .map(c => source0.as("s").where(coalesce(expr(c), lit(false))))
          .getOrElse(source0)
        val ins =
          if (ins0.values.isEmpty) filtered
          else filtered.as("s").select(
            ins0.values.toSeq.sortBy(_._1)
              .map { case (c, e) => expr(e).as(c) }: _*)
        if (ins.limit(1).count() > 0) { append(ins, txn); inserted = true }
      }
      if (!inserted) txn.foreach(commitTxnOnly(_,
        s"cursor-only conditional merge into $tablePath"))
      return
    }
    val srcKeys = source0.select(keys.map(qcol(_)): _*).distinct()
    val tgtAll = withFile(logicalize(snap, readState(snap)))
    // ONE provenance pass finds both file classes — files holding a
    // matching key (bounds the rewrite set and licenses the insert
    // anti-join below), and files holding an unmatched row some
    // by-source condition claims
    val bySourceOr =
      if (bySource.isEmpty) lit(false)
      else bySource.map(_.condition
        .map(c => coalesce(expr(c), lit(false))).getOrElse(lit(true))).reduce(_ || _)
    val fileFlags = tgtAll.as("t")
      .join(srcKeys.withColumn("__gmark", lit(true)).as("s"),
        keyCond(keys, "t", "s"), "left_outer")
      .withColumn("__gmatch", coalesce(col("__gmark"), lit(false)))
      .where(col("__gmatch") || bySourceOr)
      .groupBy(col(FileCol))
      .agg(org.apache.spark.sql.functions.max(when(col("__gmatch"), 1).otherwise(0)).as("__hasm"),
        org.apache.spark.sql.functions.max(when(!col("__gmatch") && bySourceOr, 1).otherwise(0)).as("__hasb"))
      .collect()
    def flagged(idx: Int): Seq[String] =
      fileFlags.filter(_.getInt(idx) == 1).map(r => fileName(r.getString(0))).toSeq
    val matchedFiles = flagged(1)
    val bySourceFiles = flagged(2)
    val rewriteFiles =
      ((if (matched.nonEmpty) matchedFiles else Nil) ++ bySourceFiles).distinct
    // a source key absent from the matching files is absent from the
    // whole table — provenance found every file holding any match
    val tgtMatchKeys = logicalize(snap, readState(snap.copy(files = matchedFiles)))
      .select(keys.map(qcol(_)): _*).distinct()
    val insertRows = notMatchedInsert.map { ins0 =>
      val anti = source0.as("s")
        .join(tgtMatchKeys.as("t"), keyCond(keys, "s", "t"), "left_anti")
      val filtered = ins0.condition
        .map(c => anti.where(coalesce(expr(c), lit(false)))).getOrElse(anti)
      if (ins0.values.isEmpty) filtered
      else filtered.select(ins0.values.toSeq.sortBy(_._1)
        .map { case (c, e) => expr(e).as(c) }: _*)
    }
    // the insert probe is only needed for the provable-no-op exit, so
    // it never runs when a rewrite is already happening
    if (rewriteFiles.isEmpty && !insertRows.exists(_.limit(1).count() > 0)) {
      txn.foreach(commitTxnOnly(_,
        s"cursor-only conditional merge into $tablePath"))
      return
    }

    // ---- per-row clause engine over the rewrite set (surface names) ----
    val tgtRows = logicalize(snap, readState(snap.copy(files = rewriteFiles)))
    val srcCols = source0.columns.toSeq
    // schema evolution flows through the * forms (UPDATE SET * /
    // INSERT * — every new source column rides in) and, under the
    // withSchemaEvolution() opt-in, through explicit clauses (ONLY the
    // new columns a clause actually targets ride in — unreferenced
    // source-side metadata columns never leak into the table)
    val evolves = matched.exists {
      case MatchedUpdate(_, s) => s.isEmpty
      case _ => false
    } || notMatchedInsert.exists(_.values.isEmpty)
    val explicitNew: Set[String] =
      if (evolveSchema) (allSets ++ unknownIns).diff(surfaceCols.toSet)
      else Set.empty
    val extraCols =
      if (evolves) srcCols.filterNot(surfaceCols.contains)
      else srcCols.filter(explicitNew.contains)
    val outCols = surfaceCols ++ extraCols
    val sPresent = coalesce(col("__s_present"), lit(false))
    def condCol(c: Option[String]): org.apache.spark.sql.Column =
      c.map(x => coalesce(expr(x), lit(false))).getOrElse(lit(true))
    def firstIdx(conds: Seq[org.apache.spark.sql.Column]) =
      conds.zipWithIndex.foldRight(lit(-1): org.apache.spark.sql.Column) {
        case ((c, i), els) => when(c, lit(i)).otherwise(els)
      }
    def kindOf(idx: org.apache.spark.sql.Column, cls: Seq[Any]) =
      cls.zipWithIndex.foldLeft(lit(0)) { case (acc, (cl, i)) =>
        val k = cl match {
          case _: MatchedUpdate | _: BySourceUpdate => 1
          case _ => 2
        }
        when(idx === i, lit(k)).otherwise(acc)
      }
    val mIdx = if (matched.isEmpty) lit(-1)
      else when(sPresent, firstIdx(matched.map(cl => condCol(cl.condition))))
        .otherwise(lit(-1))
    val bIdx = if (bySource.isEmpty) lit(-1)
      else when(!sPresent, firstIdx(bySource.map(cl => condCol(cl.condition))))
        .otherwise(lit(-1))
    val classified = tgtRows.as("t")
      .join(source0.withColumn("__s_present", lit(true)).as("s"),
        keyCond(keys, "t", "s"), "left_outer")
      .withColumn("__m_idx", mIdx)
      .withColumn("__b_idx", bIdx)
    val kind = when(col("__m_idx") >= 0, kindOf(col("__m_idx"), matched))
      .when(col("__b_idx") >= 0, kindOf(col("__b_idx"), bySource))
      .otherwise(lit(0))
    val withKind = classified.withColumn("__kind", kind)
    if (rewriteFiles.nonEmpty) withKind.persist()
    try {
      def tCol(c: String): org.apache.spark.sql.Column =
        if (surfaceCols.contains(c)) qcol(c, "t")
        else lit(null).cast(source0.schema(c).dataType)
      def sCol(c: String): org.apache.spark.sql.Column =
        if (srcCols.contains(c)) qcol(c, "s") else qcol(c, "t")
      def updValue(c: String, set: Map[String, String]) =
        if (set.isEmpty) sCol(c) // UPDATE SET *
        else set.get(c).map(expr).getOrElse(tCol(c))
      def rewProj(c: String): org.apache.spark.sql.Column = {
        val branches =
          matched.zipWithIndex.collect { case (MatchedUpdate(_, s), i) =>
            (col("__m_idx") === i) -> updValue(c, s)
          } ++
          bySource.zipWithIndex.collect { case (BySourceUpdate(_, s), i) =>
            (col("__b_idx") === i) -> updValue(c, s)
          }
        branches.foldRight(tCol(c)) { case ((p, v), els) =>
          when(p, v).otherwise(els)
        }.as(c)
      }
      val preCols = surfaceCols.map(c => qcol(c, "t").as(c))
      def toPhysG(df: DataFrame) = recomputeGenerated(snap, physicalize(snap, df))
      val keptAndUpdated = toPhysG(withKind.where(col("__kind") =!= 2)
        .select(outCols.map(rewProj): _*))
      val physInsert = insertRows.map(toPhysG)
      val newData = (Seq(keptAndUpdated) ++ physInsert.toSeq)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      // row-level change record, committed atomically with the rewrite:
      // pre-images as stored (no generated backfill), post-images and
      // inserts exactly as written
      val preUpd = physicalize(snap, withKind.where(col("__kind") === 1)
        .select(preCols: _*))
        .withColumn(ChangeTypeCol, lit("update_preimage"))
      val postUpd = toPhysG(withKind.where(col("__kind") === 1)
        .select(outCols.map(rewProj): _*))
        .withColumn(ChangeTypeCol, lit("update_postimage"))
      val preDel = physicalize(snap, withKind.where(col("__kind") === 2)
        .select(preCols: _*))
        .withColumn(ChangeTypeCol, lit("delete"))
      val cdfData = (Seq(preUpd, postUpd, preDel) ++
        physInsert.map(_.withColumn(ChangeTypeCol, lit("insert"))).toSeq)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val (staged, stagedCdf) = stageDataAndCdf(newData, cdfData)
      val mayMatch: Seq[(String, Option[FileStats])] => Boolean =
        if (bySource.nonEmpty) _.nonEmpty // by-source reads every unmatched row
        else auditMayMatch
      val identitySync = identitySyncActions(snap, newData)
      commitRowLevel("mergeConditional", snap,
        Rewrite(rewriteFiles, staged, stagedCdf), mayMatch,
        checkUnder = Some(mergeSchemas(snap.schema, newData.schema, widenOn(snap))),
        txn = txn) { st =>
        identitySync :+ Meta(mergeSchemas(st.schema, newData.schema, widenOn(st)).toDDL)
      }
    } finally if (rewriteFiles.nonEmpty) withKind.unpersist()
  }

  /** SCD TYPE 2 merge — the history-preserving upsert every warehouse
    * dimension load uses (Kimball's slowly-changing dimension): rows
    * carry [[TxTable.ScdFromCol]]/[[TxTable.ScdToCol]] change-epoch
    * columns forming the validity interval `[_scd_from, _scd_to)`,
    * with `_scd_to IS NULL` marking each key's CURRENT row. For every
    * source row, compared attribute-by-attribute (null-safely) against
    * the key's current row:
    *
    *   - attributes differ → the current row is CLOSED (`_scd_to`
    *     stamped with `version`) and the source row inserted as the new
    *     current row (`_scd_from = version`), both in ONE atomic commit
    *     (readers see the old dimension or the new, never a torn key);
    *   - key has no current row → plain insert;
    *   - attributes identical → provably a no-op — the key's file is
    *     not even rewritten, so a full-dimension reload with 1% churn
    *     rewrites ~1% of the current set, not the table.
    *
    * Only files holding a CURRENT row of a CHANGED key rewrite;
    * history-only files never do, so cost is O(changed keys ×
    * avg file span), independent of accumulated history depth — the
    * property that keeps a years-deep 100 TB dimension loadable.
    * `version` is the caller's change epoch (batch id, business date);
    * it must exceed the `_scd_from` of every row it closes (checked:
    * an equal or lower epoch would create an empty or inverted
    * interval and make [[scdAsOf]] ambiguous).
    *
    * Concurrency and change-record contracts match [[merge]] (close =
    * update_pre/postimage, new rows = insert, staged atomically), so
    * change-feed consumers survive a dimension reload. Readers:
    * [[scdCurrent]] (the live dimension) and [[scdAsOf]] (the
    * dimension at a BUSINESS epoch — where [[snapshotAt]] time-travels
    * by commit version, this travels by the data's own validity).
    */
  def mergeScd2(source: DataFrame, keys: Seq[String], version: Long,
      evolveSchema: Boolean = false): Unit = {
    require(keys.nonEmpty, "mergeScd2 needs at least one key column")
    val reserved = Seq(ScdFromCol, ScdToCol).filter(source.columns.contains)
    require(reserved.isEmpty,
      s"mergeScd2 source must not carry ${reserved.mkString(", ")} — " +
        "validity intervals are table-managed")
    // one materialization pins a non-deterministic source to a single
    // evaluation — same contract as merge()
    source.persist()
    try scd2Merge0(source, keys, version, evolveSchema)
    finally source.unpersist()
  }

  private def scd2Merge0(source0: DataFrame, keys0: Seq[String], version: Long,
      evolveSchema: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    // surface → physical at the boundary; everything below is physical
    val snap = state()
    val source = physicalize(snap, source0)
    val keys = keys0.map(physicalName(snap, _))
    // one job: dup-key proof + the conflict-rule key ranges the commit
    // needs (was two sequential aggregates over the source)
    val (mayMatch, _) = auditSourceKeys(snap, source, keys,
      s"mergeScd2 source has duplicate keys on (${keys0.mkString(", ")}) — " +
        "a key's new current row must be unique",
      syncIdentity = false)
    if (snap.files.isEmpty) {
      // seed via the ORIGINAL surface frame (append re-maps it)
      append(source0.withColumn(ScdFromCol, lit(version))
        .withColumn(ScdToCol, lit(null).cast("long")))
      return
    }
    val stamped = source
      .withColumn(ScdFromCol, lit(version))
      .withColumn(ScdToCol, lit(null).cast("long"))
    val tableCols = snap.schema.map(_.fieldNames.toSeq).getOrElse(Nil)
    require(tableCols.contains(ScdFromCol) && tableCols.contains(ScdToCol),
      s"$tablePath is not an SCD2 table (no $ScdFromCol/$ScdToCol columns) — " +
        "seed it with mergeScd2 on an empty table")
    val business = tableCols.filterNot(c =>
      c == ScdFromCol || c == ScdToCol || snap.dropped.contains(c))
    val missing = business.toSet.diff(source.columns.toSet)
    require(missing.isEmpty,
      s"mergeScd2 source is missing business column(s) " +
        s"${missing.toSeq.sorted.mkString(", ")} of $tablePath — every " +
        "tracked attribute must be present (change detection would " +
        "otherwise close rows on absence)")
    // new source columns: with evolveSchema they become new tracked
    // attributes IN THE SAME COMMIT (history rows read NULL); without
    // it they are a loud error, never silently dropped
    val newAttrs = source.columns.toSeq.filterNot(business.contains)
    require(newAttrs.isEmpty || evolveSchema,
      s"mergeScd2 source carries new column(s) ${newAttrs.sorted.mkString(", ")} " +
        s"not on $tablePath — opt in with evolveSchema=true (adds them as " +
        "tracked attributes) or drop them")
    val attrs = business.filterNot(keys.contains)
    val cur = readState(snap).where(col(ScdToCol).isNull)
    // NULL-SAFE key matching throughout ([[keyCond]]): a null-keyed
    // dimension row must match its source row, not be re-inserted as
    // "new" every epoch. Null-safe attribute comparison: any tracked
    // attribute differing
    // makes the key "changed"; a key-only table can never change.
    // A NEW attribute's stored value is NULL on every existing row,
    // so a non-null source value is a change by definition.
    val joined = cur.alias("t").join(source.alias("s"), keyCond(keys, "t", "s"))
    val differs = (attrs.map(a => !(qcol(a, "t") <=> qcol(a, "s"))) ++
      newAttrs.map(a => qcol(a, "s").isNotNull))
      .reduceOption(_ || _).getOrElse(lit(false))
    val nonMonotone = joined.where(differs && col(s"t.$ScdFromCol") >= version)
      .limit(1).collect()
    require(nonMonotone.isEmpty,
      s"mergeScd2 version $version does not exceed $ScdFromCol of a current " +
        s"row it closes (e.g. ${nonMonotone.headOption.getOrElse("")}) — " +
        "change epochs must be strictly increasing per key")
    val changedKeys = joined.where(differs)
      .select(keys.map(k => qcol(k, "t").as(k)): _*).distinct().persist()
    try {
      // files to rewrite: ONLY those holding a current row of a changed
      // key — history-only files are untouched by construction
      val touched = filesWithKeys(withFile(readState(snap)).where(col(ScdToCol).isNull),
        changedKeys, keys)
      // rows entering the table at this epoch: brand-new keys + the new
      // current rows of changed keys (identical-attribute rows are in
      // neither set — the no-op)
      val newRows = stamped.as("t").join(cur.as("c"), keyCond(keys, "t", "c"), "left_anti")
        .unionByName(stamped.as("t")
          .join(changedKeys.as("c"), keyCond(keys, "t", "c"), "left_semi"))
      if (touched.isEmpty && newRows.isEmpty) return // provable no-op
      val touchedRows = readState(snap.copy(files = touched))
      if (touched.nonEmpty) touchedRows.persist()
      val (staged, stagedCdf) = try {
        val marked = changedKeys.withColumn("__scd_chg", lit(1))
        // backfill pre-declaration generated nulls on the rewrite (see
        // recomputeGenerated) — carried rows must pass their own gate
        val rewritten = recomputeGenerated(snap, touchedRows.as("t")
          .join(marked.as("m"), keyCond(keys, "t", "m"), "left")
          .select(col("t.*") +: Seq(col("m.__scd_chg")): _*)
          .withColumn(ScdToCol,
            when(col(ScdToCol).isNull && col("__scd_chg") === 1, lit(version))
              .otherwise(col(ScdToCol)))
          .drop("__scd_chg"))
        val closingPre = touchedRows.as("t").where(col(ScdToCol).isNull)
          .join(changedKeys.as("c"), keyCond(keys, "t", "c"), "left_semi")
        // allowMissingColumns: under evolution the rewritten history
        // rows lack the new attributes (they read NULL); otherwise the
        // schemas are identical and the flag is inert
        stageDataAndCdf(
          rewritten.unionByName(newRows, allowMissingColumns = true),
          closingPre.withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(closingPre.withColumn(ScdToCol, lit(version))
              .withColumn(ChangeTypeCol, lit("update_postimage")),
              allowMissingColumns = true)
            .unionByName(newRows.withColumn(ChangeTypeCol, lit("insert")),
              allowMissingColumns = true))
      } finally if (touched.nonEmpty) touchedRows.unpersist()
      commitRowLevel("mergeScd2", snap, Rewrite(touched, staged, stagedCdf), mayMatch,
        checkUnder = Some(mergeSchemas(snap.schema, stamped.schema, widenOn(snap)))) { st =>
        if (newAttrs.isEmpty) Nil
        else Seq(Meta(mergeSchemas(st.schema, stamped.schema, widenOn(st)).toDDL))
      }
    } finally changedKeys.unpersist()
  }

  /** The live dimension: each key's current row ([[mergeScd2]]). */
  def scdCurrent(): DataFrame = {
    import org.apache.spark.sql.functions.col
    read().where(col(ScdToCol).isNull)
  }

  /** The dimension as of business epoch `epoch`: rows whose validity
    * interval `[_scd_from, _scd_to)` contains it ([[mergeScd2]]) —
    * time travel by the DATA's change epochs, not commit history, so
    * it works across compaction/clustering and after vacuum.
    */
  def scdAsOf(epoch: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    read().where(col(ScdFromCol) <= epoch &&
      (col(ScdToCol).isNull || col(ScdToCol) > epoch))
  }

  /** Copy-on-write DELETE of the rows where `predicate` is TRUE (rows
    * where it is false or null survive — SQL DELETE semantics). File
    * pruning is two-stage: manifest stats first (files whose ranges
    * cannot match are never opened), then a provenance scan keeps only
    * files that ACTUALLY contain a matching row; only those are
    * rewritten, in one atomic commit. Same concurrency contract as
    * [[merge]].
    */
  def delete(predicate: Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val snap = state()
    if (snap.files.isEmpty) return
    val touched = filesMatching(snap, predicate)
    if (touched.isEmpty) return
    // one cached read of the touched files feeds both the survivor
    // rewrite and the delete change record
    val touchedRows = logicalize(snap,
      readState(snap.copy(files = touched))).persist()
    val (staged, stagedCdf) = try {
      stageDataAndCdf(
        physicalize(snap,
          touchedRows.where(not(coalesce(predicate, lit(false))))),
        physicalize(snap, touchedRows.where(predicate)
          .withColumn(ChangeTypeCol, lit("delete"))))
    } finally touchedRows.unpersist()
    // LOGICAL conflict rule: abort only when a concurrent commit
    // touched a rewritten file, changed schema/constraints, or
    // appended files that might hold predicate-matching rows this
    // delete would then miss
    commitRowLevel("delete", snap, Rewrite(touched, staged, stagedCdf),
      addsMayMatchPredicate(snap, predicate))()
  }

  /** BULK KEY-SET DELETE: remove every row whose key tuple appears in
    * `keys0` (a DataFrame — never collected to the driver), the
    * GDPR-/CDC-scale counterpart of [[delete]]: a predicate built
    * from millions of collected keys is both a driver OOM and an
    * unplannable OR-chain, where this verb is two distributed
    * semi/anti joins. Touched-file detection, survivor rewrite,
    * delete change record and the strict concurrency rule all follow
    * [[merge]] (null-SAFE key matching included: a null-keyed tuple
    * deletes the null-keyed row). Key columns speak surface names.
    */
  def deleteKeys(keys0: DataFrame, keyCols0: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.lit
    require(keyCols0.nonEmpty, "deleteKeys needs at least one key column")
    val snap = state()
    if (snap.files.isEmpty) return
    val keyCols = keyCols0.map(physicalName(snap, _))
    val dead = physicalize(snap, keys0)
      .select(keyCols.map(qcol(_)): _*).distinct().persist()
    try {
      val touched = filesWithKeys(withFile(readState(snap)), dead, keyCols)
      if (touched.isEmpty) return
      val touchedRows = readState(snap.copy(files = touched)).persist()
      val (staged, stagedCdf) = try {
        stageDataAndCdf(
          recomputeGenerated(snap, touchedRows.as("t")
            .join(dead.as("s"), keyCond(keyCols, "t", "s"), "left_anti")),
          touchedRows.as("t")
            .join(dead.as("s"), keyCond(keyCols, "t", "s"), "left_semi")
            .withColumn(ChangeTypeCol, lit("delete")))
      } finally touchedRows.unpersist()
      // the dead keys' ranges bound the conflict rule, as a merge
      // source's do (the key set is distinct, so the dup proof holds)
      val (mayMatch, _) = auditSourceKeys(snap, dead, keyCols,
        "deleteKeys key set is not distinct", syncIdentity = false)
      commitRowLevel("deleteKeys", snap, Rewrite(touched, staged, stagedCdf), mayMatch)()
    } finally dead.unpersist()
  }

  /** Merge-on-read DELETE (deletion vectors — the published Delta
    * protocol feature): instead of rewriting every file that contains
    * a matching row, record the matching rows' PHYSICAL POSITIONS in a
    * per-file sidecar and commit one `Dv` action per file — readers
    * apply the mask with a positional anti-join
    * ([[dvFilteredRead]]). Deleting 100 rows spread over 100 × 128 MB
    * files costs ~100 sidecar writes and one log commit, not a 12.8 GB
    * rewrite — at 100 TB the difference between an O(deleted-rows)
    * and an O(touched-bytes) delete.
    *
    * The rewrite trade is per file: a file whose cumulative deleted
    * fraction would reach `rewriteAtFraction` is rewritten
    * copy-on-write in the SAME commit (its mask is materialized and
    * its vector dropped) — masks stay small, reads stay fast, and a
    * fully-deleted file simply leaves the table. Repeated deletes
    * union into one vector per file (the sidecars merge sorted
    * position streams on executors). [[compact]] and [[cluster]] also
    * purge vectors, since their rewrites read through the mask.
    *
    * Semantics are identical to [[delete]] (rows where `predicate` is
    * null or false survive; same delete change record, same strict
    * concurrency rule) — only the physical trade differs.
    */
  def deleteMergeOnRead(predicate: Column, rewriteAtFraction: Double = 0.5): Unit = {
    import org.apache.spark.sql.functions.lit
    maskMatching("deleteMergeOnRead", predicate, rewriteAtFraction) { snap =>
      hits => (None, physicalize(snap, hits.withColumn(ChangeTypeCol, lit("delete"))))
    }
  }

  /** One distributed job: repartition the new deleted positions by
    * file, merge each file's sorted stream with its existing sidecar
    * (disjoint by construction — the caller anti-joined), write one
    * new sidecar per file on the EXECUTOR that holds its rows, and
    * report (file, sidecar, cumulative count). Only the small summary
    * returns to the driver; position data never does.
    */
  private def writeDvSidecars(pairs: DataFrame, oldDv: Map[String, String])
      : Seq[(String, String, Long)] = {
    import org.apache.spark.sql.{functions => F, Encoders}
    val rootStr = root.toString
    val shc = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    pairs
      .repartition(F.col(DvFileCol))
      .sortWithinPartitions(F.col(DvFileCol), F.col(DvIdxCol))
      .as[(String, Long)](Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .mapPartitions { it =>
        val rootP = new Path(rootStr)
        val fsv = rootP.getFileSystem(shc.value)
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var curFile: String = null
        var buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        def flush(): Unit = if (curFile != null) {
          val merged = oldDv.get(curFile) match {
            case Some(old) =>
              mergeSortedDisjoint(readDvFile(fsv, new Path(rootP, old)), buf.toArray)
            case None => buf.toArray
          }
          val name = s"dv-${UUID.randomUUID()}.bin"
          writeDvFile(fsv, new Path(rootP, name), merged)
          out += ((curFile, name, merged.length.toLong))
        }
        it.foreach { case (f, i) =>
          if (f != curFile) {
            flush(); curFile = f
            buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          }
          buf += i
        }
        flush()
        out.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong))
      .collect().toSeq
  }

  /** Copy-on-write UPDATE: rows where `predicate` is TRUE get each
    * `set` expression applied (evaluated against the PRE-update row,
    * SQL UPDATE semantics — `SET a = b, b = a` swaps); rows where it
    * is false or null pass through byte-identical. Assignments cast to
    * the column's existing type, so the table schema never drifts.
    * File pruning is the same two-stage scheme as [[delete]]: manifest
    * stats exclude files whose ranges cannot match, a provenance scan
    * keeps only files ACTUALLY containing a matching row, and only
    * those rewrite — an update touching one key of a key-clustered
    * 100 TB table rewrites one file. The rewrite plus an
    * update_preimage/update_postimage change record land in ONE atomic
    * commit; same strict concurrency contract as [[merge]].
    */
  def update(predicate: Column, set: Map[String, Column]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    require(set.nonEmpty, "update needs at least one SET assignment")
    val snap = state()
    if (snap.files.isEmpty) return
    val cond = coalesce(predicate, lit(false))
    val project = setProjection(snap, set, cond)
    val touched = filesMatching(snap, predicate)
    if (touched.isEmpty) return
    // one cached read of the touched files feeds the rewrite and both
    // sides of the change record
    val touchedRows = logicalize(snap,
      readState(snap.copy(files = touched))).persist()
    val (staged, stagedCdf) = try {
      stageDataAndCdf(project(touchedRows),
        updateRecord(snap, touchedRows.where(cond), project))
    } finally touchedRows.unpersist()
    // LOGICAL conflict rule, same as merge/delete: unrelated
    // concurrent appends (stats-provably no matching row) commit
    // freely; anything that could hide a matching row aborts
    commitRowLevel("update", snap, Rewrite(touched, staged, stagedCdf),
      addsMayMatchPredicate(snap, predicate), checkUnder = snap.schema)()
  }

  /** Merge-on-read UPDATE (deletion vectors + append — the published
    * Delta "DVs for UPDATE" feature): instead of rewriting every file
    * that contains a matching row, record the matching rows' physical
    * positions in per-file sidecars and APPEND the updated rows as new
    * files — readers see old versions masked and new versions live.
    * Updating 100 rows spread over 100 × 128 MB files costs ~100
    * sidecar writes plus ONE small data file, not a 12.8 GB rewrite:
    * O(updated rows), never O(touched bytes).
    *
    * Same per-file rewrite trade as [[deleteMergeOnRead]]: a file
    * whose cumulative masked fraction reaches `rewriteAtFraction`
    * materializes copy-on-write in the SAME commit (its surviving
    * non-matching rows rewrite, its vector drops) so masks stay small.
    *
    * Semantics are identical to [[update]]: every `set` expression is
    * evaluated against the PRE-update row (`SET a = b, b = a` swaps),
    * assignments cast to the column's existing type, generated columns
    * recompute, and an update_preimage/update_postimage change-record
    * pair lands in the same atomic commit, under the same strict
    * concurrency rule — only the physical trade differs.
    */
  def updateMergeOnRead(predicate: Column, set: Map[String, Column],
      rewriteAtFraction: Double = 0.5): Unit = {
    import org.apache.spark.sql.functions.lit
    require(set.nonEmpty, "update needs at least one SET assignment")
    maskMatching("updateMergeOnRead", predicate, rewriteAtFraction,
      checked = true) { snap =>
      // every hit matched the predicate, so SET applies unconditionally
      // — but still against the PRE-update row (one projection)
      val project = setProjection(snap, set, lit(true))
      hits => (Some(project(hits)), updateRecord(snap, hits, project))
    }
  }

  /** Physically delete data files no live snapshot in the retention
    * window references: files removed at or before `version -
    * retainVersions` and older than `olderThanMs` (the age guard keeps
    * a concurrent writer's staged-but-uncommitted files safe, the
    * paper's approach). Time travel before the window dies with the
    * files — the documented trade.
    *
    * Returns the swept names (files and crashed-writer staging dirs).
    * `dryRun = true` reports the sweep set WITHOUT deleting — the
    * published `VACUUM ... DRY RUN` verb, the operator's check that a
    * retention setting won't eat a snapshot someone still needs.
    */
  def vacuum(retainVersions: Int = 0, olderThanMs: Long = 3600000L,
             dryRun: Boolean = false): Seq[String] = {
    val fsv = fs
    val head = state()
    if (head.version < 0) return Nil
    val keepFrom = math.max(0L, head.version - retainVersions)
    // Resolve the window's start state ONCE, then fold each manifest
    // forward — O(window) manifest reads instead of O(window × log)
    // full state resolutions (each of which re-lists the log dir and
    // re-reads the checkpoint). A start below a truncateLog cutoff
    // clamps to the oldest checkpoint (always resolvable by
    // construction); any OTHER failure aborts the vacuum, because
    // silently dropping a resolvable version's files from the
    // referenced set would DELETE data a readable snapshot needs.
    var cur =
      try stateAt(Some(keepFrom))
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("truncation") =>
          val oldestCkpt = fsv.listStatus(logDir).iterator
            .flatMap(st => checkpointVersion(st.getPath.getName))
            .minOption.getOrElse(throw e)
          stateAt(Some(math.max(keepFrom, oldestCkpt)))
      }
    var referenced = cur.files.toSet
    var dvReferenced = cur.dvs.values.map(_.dvFile).toSet
    while (cur.version < head.version) {
      cur = applyManifest(cur, cur.version + 1, readManifest(fsv, cur.version + 1))
      referenced ++= cur.files
      dvReferenced ++= cur.dvs.values.map(_.dvFile)
    }
    referenced ++= head.files
    dvReferenced ++= head.dvs.values.map(_.dvFile)
    val rootListing = fsv.listStatus(root).toSeq
    // change-feed files are not live data but stay readable for as
    // long as their manifest exists: keep any cdf referenced by a
    // still-present manifest. The manifest sweep is skipped entirely
    // when no cdf-* file exists (the pure-append common case), and is
    // otherwise bounded by truncateLog. Manifest read failures abort
    // (same rationale as above). NOTE the documented asymmetry, shared
    // with the original design: the feed's synthesized inserts for
    // APPEND commits read ordinary data files, whose retention is the
    // normal window — a feed range older than the vacuum window can
    // fail on append commits even though merge/delete change files
    // survive.
    // deletion-vector sidecars share the data files' retention rule:
    // vectors of snapshots inside the window were folded into
    // dvReferenced above; an older vector dies with the data files of
    // its version (reading that snapshot is already impossible)
    val cdfReferenced =
      if (!rootListing.exists(_.getPath.getName.startsWith("cdf-"))) Set.empty[String]
      else fsv.listStatus(logDir).iterator
        .flatMap(st => manifestVersion(st.getPath.getName))
        .flatMap(v => readManifest(fsv, v))
        .collect { case Cdf(p) => p }.toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val deadFiles = rootListing.iterator
      .filter(_.isFile)
      .filter { st =>
        val n = st.getPath.getName
        if (n.endsWith(".parquet"))
          !referenced.contains(n) && !cdfReferenced.contains(n)
        else if (n.startsWith("dv-") && n.endsWith(".bin"))
          !dvReferenced.contains(n)
        else n.startsWith("bloom-") && n.endsWith(".bin") &&
          // a bloom sidecar dies with its data file, or when its index
          // was dropped (sidecars are derived data — sweeping one only
          // disables a prune, never correctness)
          TxTable.bloomParse(n).exists { case (dataFile, colName) =>
            !referenced.contains(dataFile) || !head.blooms.contains(colName)
          }
      }
      .filter(_.getModificationTime < cutoff)
      .toSeq
    // a writer that crashed inside stageData leaves its whole
    // _staging-<uuid> directory behind, never referenced by any
    // manifest — without this sweep it would leak forever; the same
    // age guard keeps an IN-FLIGHT writer's staging safe
    val deadStaging = rootListing.iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_staging-"))
      .filter(_.getModificationTime < cutoff)
      .toSeq
    if (!dryRun) {
      deadFiles.foreach(st => fsv.delete(st.getPath, false))
      deadStaging.foreach(st => fsv.delete(st.getPath, true))
    }
    (deadFiles ++ deadStaging).map(_.getPath.getName)
  }

  /** In-place conversion body for [[TxTable.convert]]: claim v0 over
    * the directory's EXISTING parquet files — footer stats collected
    * per file (data skipping works immediately), no byte of data
    * copied or moved. At 100 TB that is the entire point: migration to
    * the ACID log is an O(files) metadata commit, not a rewrite.
    * Flat directories only (the layout this log manages); refuses a
    * directory that already has a log.
    */
  private[core] def convertInPlace(): Unit = {
    val fsv = fs
    require(fsv.exists(root), s"$tablePath does not exist")
    require(!fsv.exists(logDir),
      s"$tablePath already has a transaction log — nothing to convert")
    val listing = fsv.listStatus(root).toSeq
    require(!listing.exists(_.isDirectory),
      s"convert supports flat parquet directories only; $tablePath has " +
        s"subdirectories: ${listing.filter(_.isDirectory).map(_.getPath.getName).mkString(", ")}")
    val parts = listing.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    require(parts.nonEmpty, s"no parquet files in $tablePath to convert")
    // name-merged schema across every file: conversion must not pin
    // the first file's schema on an already-evolved directory
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(parts.map(_.getPath.toString): _*).schema
    val adds = parts.map(st => Add(st.getPath.getName, footerStats(st.getPath)))
    commitLoop(s"convert of $tablePath") { st =>
      require(st.version == -1L,
        s"$tablePath gained commits while converting — already a table")
      Some(adds :+ Meta(schema.toDDL))
    }
  }

  /** Exactly-once foreachBatch sink body:
    * `.foreachBatch((b, id) => table.appendBatch(b, "writer", id))`.
    */
  def appendBatch(batch: DataFrame, writerId: String, batchId: Long,
                  partitionBy: Seq[String] = Nil): Unit =
    append(batch, Some(TxnId(writerId, batchId)), partitionBy)

  // ---- logical conflict detection ----

  /** One-shot hook fired by the row-mutating verbs right before they
    * enter the commit loop — deterministic test instrumentation for
    * the race window between snapshot and claim (a test installs a
    * concurrent writer here; production never touches it).
    */
  private[graft] var beforeCommitHook: () => Unit = () => ()
  private def fireBeforeCommitHook(): Unit = {
    val h = beforeCommitHook
    beforeCommitHook = () => ()
    h()
  }

  /** Delta-style LOGICAL conflict check for a row-mutating verb
    * (merge/update/delete) that read snapshot `snap` and is about to
    * commit against head `st`: instead of aborting on ANY concurrent
    * commit, replay the intervening manifests and abort only when one
    * of them actually invalidates this operation —
    *
    *   - the table schema or constraint set changed (staged files were
    *     written and validated under the old ones);
    *   - a concurrent commit removed or re-masked a file this verb
    *     rewrites (proceeding would resurrect replaced rows or lose
    *     the concurrent delete's mask);
    *   - a concurrent NON-rewrite commit added files that might
    *     contain rows this verb should have seen (`addsMayMatch`,
    *     stat-based: an append whose file stats PROVE no row matches
    *     the verb's predicate/key range is no conflict). Rewrite
    *     commits (compact/cluster) only move existing rows of files
    *     the remove check already cleared, so their adds are benign.
    *
    * On a 100-TB table this is the difference between "a long-running
    * DELETE aborts because an unrelated partition appended" and the
    * published write-serializable behavior: unrelated writers never
    * see each other. Conservative by construction — stats-free files
    * and un-analyzable predicates conflict, never the reverse.
    * Returns the human-readable reason, or None when safe to commit.
    */
  private def findConflict(snap: State, st: State, touched: Set[String],
      addsMayMatch: Seq[(String, Option[FileStats])] => Boolean): Option[String] = {
    if (st.version == snap.version) return None
    // nullability is normalized away: any concurrent append re-commits
    // the merged schema with all fields nullable (the evolution
    // contract), and a nullable-widened schema still reads every
    // staged file — only name/type/order changes invalidate the verb
    def norm(s: Option[StructType]): Option[String] =
      s.map(t => StructType(t.map(_.copy(nullable = true))).toDDL)
    if (norm(st.schema) != norm(snap.schema))
      return Some(s"the schema changed (v${snap.version} -> v${st.version})")
    if (st.constraints != snap.constraints)
      return Some(s"the constraint set changed (v${snap.version} -> v${st.version})")
    // declaration changes only — identity HIGH-WATER moves on every
    // concurrent identity append and is arbitrated by the claim, so
    // comparing it would spuriously abort unrelated verbs
    if (st.generated != snap.generated)
      return Some(s"the generated-column set changed (v${snap.version} -> v${st.version})")
    if (st.identity.view.mapValues(v => (v._1, v._2)).toMap !=
        snap.identity.view.mapValues(v => (v._1, v._2)).toMap)
      return Some(s"the identity-column set changed (v${snap.version} -> v${st.version})")
    val fsv = fs
    ((snap.version + 1) to st.version).iterator.flatMap { v =>
      val actions = readManifest(fsv, v)
      val touchedHit = actions.collectFirst {
        case Remove(p) if touched(p) =>
          s"v$v removed $p, which this operation rewrites"
        case Dv(p, _, _) if touched(p) =>
          s"v$v changed the deletion vector of $p, which this operation rewrites"
      }
      touchedHit.orElse {
        if (actions.contains(RewriteMarker)) None
        else {
          val adds = actions.collect { case Add(p, s) => (p, s) }
          if (adds.nonEmpty && addsMayMatch(adds))
            Some(s"v$v appended files that may hold rows this operation should see")
          else None
        }
      }
    }.nextOption()
  }

  /** `addsMayMatch` for the predicate verbs (update/delete): a
    * concurrently-added file is benign iff its stats PROVE the verb's
    * predicate matches no row — the same [[TxTable.filesToRead]]
    * kernel the scan path prunes with, pointed at the appended files.
    */
  private def addsMayMatchPredicate(snap: State,
      predicate: org.apache.spark.sql.Column)
      : Seq[(String, Option[FileStats])] => Boolean = {
    val shapes = physicalizeShapes(snap,
      org.apache.spark.sql.GraftColumnBridge.conjunctShapes(predicate))
    adds => {
      val stats = adds.collect { case (p, Some(s)) => p -> s }.toMap
      TxTable.filesToRead(adds.map(_._1), stats, shapes).nonEmpty
    }
  }

  // ---- the row-level rewrite core ----

  /** Staged files: (name, footer stats). */
  private type Staged = Seq[(String, Option[FileStats])]

  /** A quoted column reference, optionally qualified: a name such as
    * `a.b` stays one column instead of a struct-field path.
    */
  private def qcol(name: String, qualifier: String = ""): Column = {
    import org.apache.spark.sql.functions.col
    val quoted = s"`${name.replace("`", "``")}`"
    col(if (qualifier.isEmpty) quoted else s"$qualifier.$quoted")
  }

  /** NULL-SAFE equality of `keys` between the frames aliased `l` and
    * `r`. Under plain equality a NULL key component never matches, so
    * a null-keyed upsert would APPEND a duplicate instead of replacing
    * it, and a CDC replica could never converge with an upstream
    * in-place update of a null-keyed row. EqualNullSafe is still an
    * equi-join key for the planner, so the join strategy is unchanged.
    */
  private def keyCond(keys: Seq[String], l: String, r: String): Column =
    keys.map(k => qcol(k, l) <=> qcol(k, r)).reduce(_ && _)

  /** Tag each row with the file it was read from — on the scan side,
    * before any join or shuffle erases the provenance.
    */
  private def withFile(df: DataFrame): DataFrame =
    df.withColumn(FileCol, org.apache.spark.sql.functions.input_file_name())

  private def fileName(uri: String): String = new Path(new java.net.URI(uri)).getName

  /** The provenance collect (the published Delta MERGE strategy): the
    * names of the files `rows`, tagged by [[withFile]], came from.
    */
  private def touchedFiles(rows: DataFrame): Seq[String] =
    rows.select(FileCol).distinct().collect().map(r => fileName(r.getString(0))).toSeq

  /** Files among the stat- and bloom-pruned candidates that hold a row
    * where `predicate` (surface names) is true.
    */
  private def filesMatching(snap: State, predicate: Column): Seq[String] = {
    val candidates = prunedFiles(snap, predicate)
    if (candidates.isEmpty) Nil
    else touchedFiles(withFile(logicalize(snap, readState(snap.copy(files = candidates))))
      .where(predicate))
  }

  /** Files of the tagged read `rows` holding a key tuple of `keyRows`. */
  private def filesWithKeys(rows: DataFrame, keyRows: DataFrame,
      keys: Seq[String]): Seq[String] =
    touchedFiles(rows.as("t").join(keyRows.as("s"), keyCond(keys, "t", "s"), "left_semi"))

  /** The SET projection of [[update]] and [[updateMergeOnRead]]:
    * assignments name surface columns (checked), cast to the column's
    * type, and are all evaluated against the PRE-update row (`SET
    * a = b, b = a` swaps) on the rows where `cond` holds; other rows
    * pass through. The result is physical with generated columns
    * recomputed (refreshing values whose inputs changed, backfilling
    * pre-declaration nulls); an explicitly SET one keeps the caller's
    * value for the write gate. Dropped columns are invisible here, so
    * rewrites stop carrying them.
    */
  private def setProjection(snap: State, set: Map[String, Column],
      cond: Column): DataFrame => DataFrame = {
    import org.apache.spark.sql.functions.when
    val schema = snap.schema.getOrElse(throw new IllegalStateException(
      s"table $tablePath has files but no recorded schema"))
    val fields = schema.fields
      .filterNot(f => snap.dropped.contains(f.name))
      .map(f => logicalField(snap, f))
    val unknown = set.keySet -- fields.map(_.name)
    require(unknown.isEmpty,
      s"update sets unknown column(s) ${unknown.mkString(", ")} — " +
        s"table columns are ${fields.map(_.name).mkString(", ")}")
    val setPhys = set.keySet.map(physicalName(snap, _))
    df => recomputeGenerated(snap, physicalize(snap, df.select(fields.map { f =>
      set.get(f.name) match {
        case Some(e) => when(cond, e.cast(f.dataType)).otherwise(qcol(f.name)).as(f.name)
        case None => qcol(f.name)
      }
    }.toIndexedSeq: _*)), setPhys)
  }

  /** An update's change record: `hits` as stored (pre-images) and as
    * rewritten by `project` (post-images, as the row now exists).
    */
  private def updateRecord(snap: State, hits: DataFrame,
      project: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    physicalize(snap, hits.withColumn(ChangeTypeCol, lit("update_preimage")))
      .unionByName(project(hits).withColumn(ChangeTypeCol, lit("update_postimage")),
        allowMissingColumns = true)
  }

  /** Stage a verb's data rows and change record in one write
    * ([[stageDataAndCdf]]); with no data rows, the record alone.
    */
  private def stageRewrite(data: Seq[DataFrame], cdf: DataFrame): (Staged, Staged) =
    if (data.isEmpty) (Nil, stageData(cdf, prefix = "cdf", collectStats = false))
    else stageDataAndCdf(data.reduce(_.unionByName(_, allowMissingColumns = true)), cdf)

  /** The deletion-vector path of [[deleteMergeOnRead]] and
    * [[updateMergeOnRead]]. It finds the LIVE rows matching
    * `predicate` with their `_metadata` positions (rows an existing
    * vector already masks are excluded: they are not live, must not
    * re-enter the change feed, and their positions ride forward in
    * the sidecar union merge), writes the per-file sidecars
    * ([[writeDvSidecars]]), and splits the written files at
    * `rewriteAtFraction` of their rows: files past it materialize
    * copy-on-write (survivors = rows their OLD vector kept minus the
    * new matches; their fresh sidecars die), the rest keep the
    * vector. `stage`, given the snapshot, maps the hits (surface
    * names) to the verb's extra data rows and its change record.
    */
  private def maskMatching(verb: String, predicate: Column, rewriteAtFraction: Double,
      checked: Boolean = false)
      (stage: State => DataFrame => (Option[DataFrame], DataFrame)): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(rewriteAtFraction > 0.0 && rewriteAtFraction <= 1.0,
      s"rewriteAtFraction must be in (0, 1], got $rewriteAtFraction")
    val snap = state()
    if (snap.files.isEmpty) return
    val schema = snap.schema.getOrElse(throw new IllegalStateException(
      s"table $tablePath has files but no recorded schema"))
    val stageHits = stage(snap)
    val candidates = prunedFiles(snap, predicate)
    if (candidates.isEmpty) return
    val cond = coalesce(predicate, lit(false))
    val raw = logicalize(snap, spark.read.schema(schema)
      .parquet(candidates.map(f => new Path(root, f).toString): _*)
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvIdxCol, col("_metadata.row_index")))
      .where(cond)
    val existingDv = candidates.flatMap(f => snap.dvs.get(f).map(d => f -> d.dvFile))
    val hits = (if (existingDv.isEmpty) raw
                else raw.join(deletedPairs(existingDv),
                  Seq(DvFileCol, DvIdxCol), "left_anti")).persist()
    try {
      val written = writeDvSidecars(hits.select(DvFileCol, DvIdxCol),
        snap.dvs.map { case (f, d) => f -> d.dvFile })
      if (written.isEmpty) return
      def totalRows(f: String): Option[Long] =
        snap.stats.get(f).map(_.rows)
          .orElse(footerStats(new Path(root, f)).map(_.rows))
      // n is the file's CUMULATIVE masked count (old vector unioned in)
      val (rewrite, keepDv) = written.partition { case (f, _, n) =>
        totalRows(f).exists(t => n.toDouble >= t * rewriteAtFraction)
      }
      val rewriteFiles = rewrite.map(_._1)
      val survivors = if (rewriteFiles.isEmpty) None
        else Some(physicalize(snap, logicalize(snap,
          readState(snap.copy(files = rewriteFiles))).where(not(cond))))
      val (extra, cdf) = stageHits(hits.drop(DvFileCol, DvIdxCol))
      val (staged, stagedCdf) = stageRewrite(survivors.toSeq ++ extra, cdf)
      rewrite.foreach { case (_, dv, _) => fs.delete(new Path(root, dv), false) }
      // the conflict set is every file whose vector this commit sets or
      // drops: a concurrent Dv there would be a lost update
      commitRowLevel(verb, snap, Rewrite(rewriteFiles, staged, stagedCdf, keepDv),
        addsMayMatchPredicate(snap, predicate),
        checkUnder = if (checked) Some(schema) else None)()
    } finally hits.unpersist()
  }

  /** What one row-level verb commits: the files it removes, the data
    * and change files it staged, and the deletion vectors
    * (file, sidecar, masked rows) it sets.
    */
  private case class Rewrite(removes: Seq[String], adds: Staged, cdf: Staged,
                             dvs: Seq[(String, String, Long)] = Nil) {
    /** Every file this verb wrote, deleted when it aborts. */
    def staged: Staged = adds ++ cdf ++ dvs.map { case (_, dv, _) => dv -> None }
  }

  /** The one commit tail of the row-level verbs. Before the claim it
    * checks the staged data against the CHECK set under `checkUnder`
    * (when given — snap's set is authoritative, since any concurrent
    * DDL aborts below anyway) and fires the race hook. Per claim it
    * runs the (writer, batch) gate, then aborts — deleting every
    * staged data, change and sidecar file — on a concurrent rename or
    * a [[findConflict]] hit among the files the verb removes or
    * re-masks; otherwise it commits Remove/Add/Dv/Cdf plus the verb's
    * `extra` actions for the claimed state.
    */
  private def commitRowLevel(verb: String, snap: State, rw: Rewrite,
      mayMatch: Staged => Boolean, checkUnder: Option[StructType] = None,
      txn: Option[TxnId] = None)(extra: State => Seq[Action] = _ => Nil): Unit = {
    val staged = rw.staged
    checkUnder.foreach(enforceConstraints(effectiveChecks(snap), rw.adds, _, staged,
      s"$verb on"))
    fireBeforeCommitHook()
    val touched = (rw.removes ++ rw.dvs.map(_._1)).toSet
    commitLoop(s"$verb on $tablePath") { st =>
      if (txnGate(st, txn, staged, s"$verb on")) {
        None // already committed by a previous attempt of this batch
      } else {
        requireRenamesStable(snap, st, staged, s"$verb on")
        findConflict(snap, st, touched, mayMatch).foreach { why =>
          staged.foreach { case (f, _) => fs.delete(new Path(root, f), false) }
          throw new java.util.ConcurrentModificationException(
            s"conflicting concurrent commit on $tablePath during $verb: $why; " +
              s"rerun $verb() against the new state")
        }
        Some(rw.removes.map(Remove(_)) ++ rw.adds.map { case (p, s) => Add(p, s) } ++
          rw.dvs.map { case (f, dv, n) => Dv(f, dv, n) } ++
          rw.cdf.map { case (p, _) => Cdf(p) } ++
          (if (rw.dvs.nonEmpty) protocolBumpV2(st) else Nil) ++
          extra(st) ++ txn.map(t => Txn(t.writerId, t.batchId)))
      }
    }
  }

  /** ONE aggregate job over the (persisted) merge source that proves
    * key uniqueness AND collects everything else the commit needs from
    * the source: the key-range shapes for the conflict rule's
    * closure and (for [[merge]]) the identity high-water
    * sync. Replaces three sequential driver-blocking jobs — the
    * duplicate-key count, the min/max/null-count aggregate and the
    * per-identity-column aggregate — with a single two-level
    * aggregation: level 1 groups by the key tuple (count per group +
    * per-group identity extremes), level 2 folds to one row. Each
    * piece is value-identical to what it replaces: max(group count)
    * > 1 ⟺ the old dup probe fired; min/max over distinct key tuples
    * equal min/max over rows; the null-component sum over distinct
    * tuples is > 0 iff the per-row sum was (the only use); identity
    * extremes fold exactly.
    */
  private def auditSourceKeys(st: State, source: DataFrame, keys: Seq[String],
      dupMsg: => String, syncIdentity: Boolean)
      : (Seq[(String, Option[FileStats])] => Boolean, Seq[Action]) = {
    import org.apache.spark.sql.GraftColumnBridge.{CmpShape, PredShape}
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    val idCols =
      if (!syncIdentity) Nil
      else st.identity.toSeq.sortBy(_._1)
        .filter { case (n, _) => source.columns.contains(n) }
    val inner = source.groupBy(keys.map(k => col(s"`$k`")): _*)
      .agg(count(lit(1)).as("__gcnt"),
        idCols.map { case (n, (_, step, _)) =>
          (if (step > 0) max(col(s"`$n`")) else min(col(s"`$n`")))
            .as(s"__gid_$n")
        }: _*)
    val aggs = (max(col("__gcnt")) +:
      keys.flatMap(k => Seq(min(col(s"`$k`")), max(col(s"`$k`"))))) ++
      Seq(keys.map(k => sum(when(col(s"`$k`").isNull, 1L).otherwise(0L)))
        .reduce(_ + _)) ++
      idCols.map { case (n, (_, step, _)) =>
        if (step > 0) max(col(s"`__gid_$n`")) else min(col(s"`__gid_$n`"))
      }
    val row = inner.agg(aggs.head, aggs.drop(1): _*).collect().head
    require(row.isNullAt(0) || row.getLong(0) <= 1L, dupMsg)
    val nnullIdx = 1 + 2 * keys.size
    val hasNullKey = !row.isNullAt(nnullIdx) && row.getLong(nnullIdx) > 0L
    val shapes: Seq[PredShape] = keys.zipWithIndex.flatMap { case (k, i) =>
      val (mn, mx) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
      if (mn == null || mx == null) Nil
      else Seq(CmpShape(k, ">=", mn), CmpShape(k, "<=", mx))
    }
    val mayMatch: Seq[(String, Option[FileStats])] => Boolean = adds =>
      (hasNullKey && adds.nonEmpty) ||
      shapes.isEmpty || { // no usable bounds (empty/all-null source): conservative
        val stats = adds.collect { case (p, Some(s)) => p -> s }.toMap
        TxTable.filesToRead(adds.map(_._1), stats, shapes).nonEmpty
      }
    val idActions = idCols.zipWithIndex.flatMap { case ((n, (_, step, hw)), i) =>
      val idx = nnullIdx + 1 + i
      if (row.isNullAt(idx)) Nil
      else {
        val mx = row.getLong(idx)
        val ahead = if (step > 0) mx > hw else mx < hw
        if (ahead) Seq(IdentityHw(n, mx)) else Nil
      }
    }
    (mayMatch, idActions)
  }

  // ---- commit machinery ----

  /** Write df's rows as uniquely-named parquet files in the table root
    * (invisible until a manifest references them); returns each name
    * with its footer-derived column stats (one cheap footer read per
    * staged file — the write-side cost of data skipping).
    */
  private def stageData(df: DataFrame, prefix: String = "part",
                        collectStats: Boolean = true,
                        partitionBy: Seq[String] = Nil,
                        filesPerValue: Int = 1): Seq[(String, Option[FileStats])] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val fsv = fs
    fsv.mkdirs(root)
    val staging = new Path(root, s"_staging-${UUID.randomUUID()}")
    // Partitioned staging writes VALUE-PURE files: each partition
    // value is clustered into its own task (hash repartition on the
    // partition columns — plus a deterministic content-hash salt when
    // filesPerValue > 1, the skew escape for a giant value), then the
    // writer splits by a DUPLICATE of each partition column, so the
    // data files keep the original columns and stay self-describing.
    // A value-pure file's footer stats are min = max = value, which
    // the existing manifest-skipping kernel prunes EXACTLY — hive-dir
    // partition pruning with zero new read-path machinery, and every
    // rewrite path (compact/cluster/merge/delete) untouched.
    val dirs = partitionBy.map("__gpart_" + _) ++
      (if (filesPerValue <= 1) Nil else Seq("__gpart_salt"))
    val out = if (partitionBy.isEmpty) df else {
      val missing = partitionBy.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"partition column(s) ${missing.mkString(", ")} not in " +
          s"schema [${df.columns.mkString(", ")}]")
      require(filesPerValue >= 1, s"filesPerValue must be >= 1, got $filesPerValue")
      val clash = df.columns.filter(c =>
        c.startsWith("__gpart_") || c == "__gpart_salt")
      require(clash.isEmpty,
        s"column name(s) ${clash.mkString(", ")} collide with the partitioned " +
          "write's reserved __gpart_ staging prefix")
      val dup = partitionBy.foldLeft(df)((d, c) => d.withColumn(s"__gpart_$c", col(c)))
      // the salt is itself a split dir, so a giant value splits even
      // when AQE coalesces the clustering shuffle into few tasks (the
      // shuffle governs parallelism; the dirs govern file boundaries)
      val salted = if (filesPerValue == 1) dup
        else dup.withColumn("__gpart_salt",
          pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(filesPerValue)))
      salted.repartition(dirs.map(col): _*)
    }
    val writer = out.write.mode("overwrite")
    (if (partitionBy.isEmpty) writer else writer.partitionBy(dirs: _*))
      .parquet(staging.toString)
    val names = parquetLeaves(fsv, staging)
      .map { part =>
        val name = s"$prefix-${UUID.randomUUID()}.parquet"
        val target = new Path(root, name)
        if (!fsv.rename(part.getPath, target))
          throw new java.io.IOException(s"failed to stage ${part.getPath} -> $name")
        name -> (if (collectStats) footerStats(target) else None)
      }.toVector
    fsv.delete(staging, true)
    // a PROVABLY empty part (a delete that emptied a file, a skewed
    // repartition) would live in the table forever, stats-free rows to
    // scan and never prune — drop it here instead of committing it.
    // Only a footer that says rows == 0 qualifies; an unreadable footer
    // stays (never discard data on a guess).
    val (empty, kept) = names.partition(_._2.exists(_.rows == 0L))
    empty.foreach { case (f, _) => fsv.delete(new Path(root, f), false) }
    // bloom-index sidecars are staged WITH the data files, before the
    // commit that makes either visible — a reader can never see an
    // indexed file without its sidecar. Change-record stages
    // (collectStats = false) are not live data and are never indexed.
    if (collectStats && kept.nonEmpty) {
      val blooms = state().blooms
      if (blooms.nonEmpty) buildBloomSidecars(kept.map(_._1), blooms)
    }
    kept
  }

  private def parquetLeaves(fsv: FileSystem, p: Path)
      : Iterator[org.apache.hadoop.fs.FileStatus] =
    fsv.listStatus(p).iterator.flatMap { st =>
      if (st.isDirectory) parquetLeaves(fsv, st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Iterator(st)
      else Iterator.empty
    }

  /** Stage a rewrite's data files AND its row-level change record in
    * ONE write job (was: two sequential driver-blocking writes, the
    * per-verb floor under every merge/update/delete). The two frames
    * union under a `__gstage` split directory that the partitioned
    * write drops from the files; a union concatenates its children's
    * partitions, so every task still writes exactly one single-sided
    * file and the file set matches the two separate writes'. The
    * change-record-only columns (`_change_type`) ride along in the
    * data files as all-null physical columns — invisible to every
    * reader, because data reads apply the manifest schema
    * ([[relationFor]]/[[dvFilteredRead]]) and sidecar builds look
    * columns up by name; the committed Meta schema comes from the
    * logical frame and never sees them. Empty-part dropping and bloom
    * sidecars apply to the data half exactly as in [[stageData]];
    * change files skip footer stats as before.
    */
  private def stageDataAndCdf(data: DataFrame, cdf: DataFrame)
      : (Seq[(String, Option[FileStats])], Seq[(String, Option[FileStats])]) = {
    import org.apache.spark.sql.functions.lit
    val fsv = fs
    fsv.mkdirs(root)
    val clash = (data.columns ++ cdf.columns).filter(_ == "__gstage")
    require(clash.isEmpty,
      "column name __gstage collides with the fused staging split column")
    val staging = new Path(root, s"_staging-${UUID.randomUUID()}")
    data.withColumn("__gstage", lit("d"))
      .unionByName(cdf.withColumn("__gstage", lit("c")),
        allowMissingColumns = true)
      .write.mode("overwrite").partitionBy("__gstage").parquet(staging.toString)
    def stagePart(sub: String, prefix: String, collectStats: Boolean)
        : Vector[(String, Option[FileStats])] = {
      val dir = new Path(staging, s"__gstage=$sub")
      if (!fsv.exists(dir)) Vector.empty
      else parquetLeaves(fsv, dir).map { part =>
        val name = s"$prefix-${UUID.randomUUID()}.parquet"
        val target = new Path(root, name)
        if (!fsv.rename(part.getPath, target))
          throw new java.io.IOException(s"failed to stage ${part.getPath} -> $name")
        name -> (if (collectStats) footerStats(target) else None)
      }.toVector
    }
    val dataNames = stagePart("d", "part", collectStats = true)
    val cdfNames = stagePart("c", "cdf", collectStats = false)
    fsv.delete(staging, true)
    val (empty, kept) = dataNames.partition(_._2.exists(_.rows == 0L))
    empty.foreach { case (f, _) => fsv.delete(new Path(root, f), false) }
    if (kept.nonEmpty) {
      val blooms = state().blooms
      if (blooms.nonEmpty) buildBloomSidecars(kept.map(_._1), blooms)
    }
    (kept, cdfNames)
  }

  /** Per-file (rows, per-column min/max/nullCount) from the parquet
    * footer — long/double/string columns only; anything else simply
    * never prunes. Stats collection is best-effort: a footer we cannot
    * read yields None, which only disables skipping for that file.
    */
  private def footerStats(p: Path): Option[FileStats] = try {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      p, spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      // fold row-group stats per column; a column is usable only if
      // EVERY block carries comparable stats for it
      var cols = Map.empty[String, ColStats]
      var dropped = Set.empty[String]
      blocks.foreach(_.getColumns.asScala.foreach { c =>
        val name = c.getPath.toDotString
        if (!dropped.contains(name) && !name.contains(".")) {
          val st = c.getStatistics
          val logical = c.getPrimitiveType.getLogicalTypeAnnotation
          val isString =
            logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          // int32/int64-backed DECIMAL stats are raw UNSCALED values;
          // they must be rescaled here or every comparison against a
          // scaled literal (e.g. lit(BigDecimal("5.00"))) is off by
          // 10^scale and prunes files that contain matching rows.
          // Dates/timestamps stay ints and never match a literal kind
          // literalJ produces, so they are safely never pruned.
          val decScale: Option[Int] = logical match {
            case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              Some(d.getScale)
            case _ => None
          }
          // TIMESTAMP stats normalize to MICROS — the unit literalJ
          // produces for timestamp literals. NANOS is deliberately
          // dropped: under spark.sql.legacy.parquet.nanosAsLong Spark
          // reads that column as a plain LONG of nanos, so a micros
          // comparison would mis-prune. DATE stats stay raw epoch-days
          // (what literalJ produces for date literals). A timestamp
          // unit we do not recognize drops the column (never prunes).
          import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
          val tsScale: Option[Option[Long => Long]] = logical match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit match {
                case TimeUnit.MICROS => Some(Some(identity[Long]))
                case TimeUnit.MILLIS => Some(Some((v: Long) => math.multiplyExact(v, 1000L)))
                case _ => Some(None) // NANOS or unknown: no stats
              }
            case _ => None
          }
          def intJ(unscaled: Long): JValue = decScale match {
            case Some(sc) => JDecimal(BigDecimal(BigInt(unscaled), sc))
            case None => JLong(tsScale.flatten.map(_(unscaled)).getOrElse(unscaled))
          }
          // a block with NO non-null value but a recorded null count is
          // ALL-NULL: record it as (JNull, JNull) — no comparison, IN,
          // or isNotNull can ever hold on it, so the kernel may prune
          // the file (for any column type; there are no values whose
          // representation could matter). Delta records the same fact
          // as nullCount == numRecords.
          val mm: Option[(JValue, JValue)] =
            if (st == null) None
            else if (!st.hasNonNullValue)
              if (st.isNumNullsSet) Some((JNull, JNull)) else None
            else if (tsScale.contains(None)) None
            else st match {
              case s: IntStatistics => Some((intJ(s.getMin.toLong), intJ(s.getMax.toLong)))
              case s: LongStatistics => Some((intJ(s.getMin), intJ(s.getMax)))
              case s: FloatStatistics =>
                Some((JDouble(s.getMin.toDouble), JDouble(s.getMax.toDouble)))
              case s: DoubleStatistics => Some((JDouble(s.getMin), JDouble(s.getMax)))
              case s: BinaryStatistics if isString =>
                Some((JString(s.genericGetMin.toStringUsingUTF8),
                  JString(s.genericGetMax.toStringUsingUTF8)))
              case _ => None
            }
          // JNull is the identity when folding min/max across blocks:
          // an all-null block constrains nothing
          def jmin(a: JValue, b: JValue): JValue =
            if (a == JNull) b else if (b == JNull) a else minJ(a, b)
          def jmax(a: JValue, b: JValue): JValue =
            if (a == JNull) b else if (b == JNull) a else maxJ(a, b)
          mm match {
            case None => dropped += name; cols -= name // conservative: no skip
            case Some((mn, mx)) =>
              // a footer may legally omit the null count; -1 = unknown,
              // and unknown is contagious across row groups — an isNull
              // prune must never treat "unrecorded" as "zero nulls"
              val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
              cols = cols.updatedWith(name) {
                case None => Some(ColStats(mn, mx, nulls))
                case Some(prev) => Some(ColStats(
                  jmin(prev.min, mn), jmax(prev.max, mx),
                  if (prev.nulls < 0 || nulls < 0) -1L else prev.nulls + nulls))
              }
          }
        }
      })
      Some(FileStats(rows, cols))
    } finally reader.close()
  } catch { case _: Throwable => None }

  /** Optimistic-concurrency loop: build actions against the freshest
    * state, try to claim head+1, reload on a lost race. `build`
    * returning None means nothing to commit (idempotent skip).
    */
  @tailrec
  private def commitLoop(what: String, attempt: Int = 0)
                        (build: State => Option[Seq[Action]]): Unit = {
    if (attempt >= MaxCommitAttempts)
      throw new java.util.ConcurrentModificationException(
        s"$what lost $MaxCommitAttempts consecutive version races; giving up")
    val st = state()
    if (st.protocol._2 > TxTable.SupportedWriterVersion)
      throw new IllegalStateException(
        s"$tablePath requires writer protocol ${st.protocol._2} but this client " +
          s"supports ${TxTable.SupportedWriterVersion} — a commit could corrupt " +
          "invariants newer clients rely on")
    build(st) match {
      case None => ()
      case Some(actions0) =>
        // in-commit timestamp: monotone per table even under clock
        // skew between writers (max with predecessor + 1)
        val actions = actions0 :+
          CommitTs(math.max(System.currentTimeMillis(), st.lastCommitTs + 1))
        if (!tryClaim(st.version + 1, actions)) commitLoop(what, attempt + 1)(build)
        else maybeCheckpoint(applyManifest(st, st.version + 1, actions))
    }
  }

  /** Every `checkpointInterval` commits, persist the fully-resolved
    * state next to the log (the paper's checkpoint): readers replay
    * from the newest checkpoint instead of from v0, and manifests
    * below it become prunable ([[truncateLog]]). Written AFTER the
    * claim, derived deterministically from the log — a crash before
    * the write loses nothing (the next interval hit rewrites it), and
    * two racers writing the same checkpoint write identical bytes.
    */
  private def maybeCheckpoint(st: State): Unit =
    if (st.version > 0 && st.version % checkpointInterval == 0) {
      val fsv = fs
      val body = JsonMethods.compact(JsonMethods.render(JObject(
        "version" -> JLong(st.version),
        "files" -> JArray(st.files.map(JString(_)).toList),
        "schemaDdl" -> st.schema.map(s => JString(s.toDDL)).getOrElse(JNothing),
        "txns" -> JObject(st.txns.toList.map { case (k, v) => k -> (JLong(v): JValue) }),
        "stats" -> JObject(st.stats.toList.map { case (k, v) => k -> (v.toJson: JValue) }),
        "constraints" -> JObject(st.constraints.toList.map {
          case (k, v) => k -> (JString(v): JValue) }),
        "dvs" -> JObject(st.dvs.toList.map { case (k, d) =>
          k -> (JObject("dv" -> (JString(d.dvFile): JValue),
            "n" -> (JLong(d.deleted): JValue)): JValue) }),
        "blooms" -> JObject(st.blooms.toList.map { case (k, c) =>
          k -> (JObject("items" -> (JLong(c.items): JValue),
            "fpp" -> (JDouble(c.fpp): JValue)): JValue) }),
        "renames" -> JObject(st.renames.toList.map {
          case (p, l) => p -> (JString(l): JValue) }),
        "droppedCols" -> JArray(st.dropped.toList.sorted.map(JString(_))),
        "protocol" -> JObject(
          "minReader" -> (JLong(st.protocol._1.toLong): JValue),
          "minWriter" -> (JLong(st.protocol._2.toLong): JValue)),
        "lastCommitTs" -> JLong(st.lastCommitTs),
        "generated" -> JObject(st.generated.toList.map {
          case (n, e) => n -> (JString(e): JValue) }),
        "identity" -> JObject(st.identity.toList.map { case (n, (st0, sp, hw)) =>
          n -> (JObject("start" -> (JLong(st0): JValue),
            "step" -> (JLong(sp): JValue), "hw" -> (JLong(hw): JValue)): JValue) }),
        "properties" -> JObject(st.properties.toList.map {
          case (k, v) => k -> (JString(v): JValue) })
      ))).getBytes("UTF-8")
      // never expose a half-written checkpoint: stage fully, then move
      // into place atomically (racers write identical bytes, so a
      // replace is harmless; readers also tolerate a torn listing by
      // falling back to the previous checkpoint)
      val target = new Path(logDir, checkpointName(st.version))
      val tmp = new Path(logDir, s".tmpckpt-${UUID.randomUUID()}")
      val out = fsv.create(tmp, true)
      try { out.write(body) } finally out.close()
      if (fsv.getScheme == "file") {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // the raw move bypasses ChecksumFileSystem: drop the stale crc
        fsv.delete(new Path(logDir, s".${tmp.getName}.crc"), false)
      } else {
        fsv.delete(target, false)
        if (!fsv.rename(tmp, target)) fsv.delete(tmp, false)
      }
    }

  private def readCheckpoint(fsv: FileSystem, version: Long): State = {
    val in = fsv.open(new Path(logDir, checkpointName(version)))
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
      bytes.toString("UTF-8")
    } finally in.close()
    // same big-decimal mode as Action.fromJson: checkpointed decimal
    // stats must keep full precision
    val j = JsonMethods.parse(text, useBigDecimalForDouble = true)
    val files = (j \ "files") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    val schema = (j \ "schemaDdl") match {
      case JString(ddl) => Some(StructType.fromDDL(ddl))
      case _ => None
    }
    val txns = (j \ "txns") match {
      case JObject(fields) => fields.collect {
        case (k, JLong(v)) => k -> v
        case (k, JInt(v)) => k -> v.toLong
      }.toMap
      case _ => Map.empty[String, Long]
    }
    val stats = (j \ "stats") match {
      case JObject(fields) =>
        fields.flatMap { case (k, v) => fileStatsFromJson(v).map(k -> _) }.toMap
      case _ => Map.empty[String, FileStats]
    }
    // absent in pre-constraint checkpoints: empty, not an error
    val constraints = (j \ "constraints") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    // absent in pre-deletion-vector checkpoints: empty, not an error
    val dvs = (j \ "dvs") match {
      case JObject(fields) => fields.flatMap { case (k, v) =>
        ((v \ "dv"), (v \ "n")) match {
          case (JString(dv), JLong(n)) => Some(k -> DvRef(dv, n))
          case (JString(dv), JInt(n)) => Some(k -> DvRef(dv, n.toLong))
          case _ => None
        }
      }.toMap
      case _ => Map.empty[String, DvRef]
    }
    // absent in pre-bloom-index checkpoints: empty, not an error
    val blooms = (j \ "blooms") match {
      case JObject(fields) => fields.flatMap { case (k, v) =>
        val items = (v \ "items") match {
          case JLong(x) => Some(x)
          case JInt(x) => Some(x.toLong)
          case _ => None
        }
        val fpp = (v \ "fpp") match {
          case JDouble(x) => Some(x)
          case JDecimal(x) => Some(x.toDouble)
          case JInt(x) => Some(x.toDouble)
          case _ => None
        }
        for (i <- items; f <- fpp) yield k -> BloomCfg(i, f)
      }.toMap
      case _ => Map.empty[String, BloomCfg]
    }
    // absent in pre-column-mapping checkpoints: empty, not an error
    val renames = (j \ "renames") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    val dropped = (j \ "droppedCols") match {
      case JArray(xs) => xs.collect { case JString(v) => v }.toSet
      case _ => Set.empty[String]
    }
    def protoNum(f: String): Option[Int] = (j \ "protocol" \ f) match {
      case JLong(n) => Some(n.toInt)
      case JInt(n) => Some(n.toInt)
      case _ => None
    }
    val protocol = (protoNum("minReader").getOrElse(1), protoNum("minWriter").getOrElse(1))
    val lastTs = (j \ "lastCommitTs") match {
      case JLong(ms) => ms
      case JInt(ms) => ms.toLong
      case _ => 0L
    }
    val generated = (j \ "generated") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    def jl(v: JValue): Option[Long] = v match {
      case JLong(n) => Some(n)
      case JInt(n) => Some(n.toLong)
      case _ => None
    }
    val identity = (j \ "identity") match {
      case JObject(fields) => fields.flatMap { case (k, v) =>
        for (st0 <- jl(v \ "start"); sp <- jl(v \ "step"); hw <- jl(v \ "hw"))
          yield k -> ((st0, sp, hw))
      }.toMap
      case _ => Map.empty[String, (Long, Long, Long)]
    }
    val properties = (j \ "properties") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    State(version, files, schema, txns, stats, constraints, dvs, blooms,
      renames, dropped, protocol, lastTs, generated, identity, properties)
  }

  /** Prune manifests below the newest checkpoint (and older
    * checkpoints): state reads and time travel at or above the
    * checkpoint are unaffected; earlier versions — and `readChanges`
    * ranges reaching below it — become unreadable and fail loudly, the
    * documented metadata-retention trade (the paper's log retention).
    */
  def truncateLog(): Unit = {
    val fsv = fs
    if (!fsv.exists(logDir)) return
    val names = fsv.listStatus(logDir).map(_.getPath.getName)
    names.flatMap(checkpointVersion(_)).sorted.lastOption.foreach { ckpt =>
      // PROVE the surviving checkpoint is readable before deleting the
      // older checkpoints and manifests `stateAt` would otherwise fall
      // back to — pruning below a torn/unreadable checkpoint (crash
      // mid-publish on a non-atomic store) would leave the table
      // permanently unresolvable
      if (scala.util.Try(readCheckpoint(fsv, ckpt)).isFailure)
        throw new IllegalStateException(
          s"refusing to truncate log of $tablePath: newest checkpoint " +
            s"v$ckpt is unreadable — the older manifests are the only " +
            "remaining way to resolve table state")
      names.foreach { n =>
        val stale = manifestVersion(n).exists(_ < ckpt) ||
          checkpointVersion(n).exists(_ < ckpt)
        if (stale) fsv.delete(new Path(logDir, n), false)
      }
    }
  }

  /** Atomically claim `version`: hard-link creation on local FS (fails
    * iff the target exists — POSIX guarantees this even under races;
    * Linux `rename` silently overwrites, so it cannot claim), plain
    * create-exclusive elsewhere (atomic on HDFS and implemented-as-such
    * by object-store committers).
    */
  private def tryClaim(version: Long, actions: Seq[Action]): Boolean = {
    val fsv = fs
    fsv.mkdirs(logDir)
    val target = new Path(logDir, manifestName(version))
    val body = actions.map(a => JsonMethods.compact(JsonMethods.render(a.toJson)))
      .mkString("", "\n", "\n").getBytes("UTF-8")
    if (fsv.getScheme == "file") {
      val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}")
      val out = fsv.create(tmp, true)
      try { out.write(body) } finally out.close()
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally fsv.delete(tmp, false)
    } else {
      // never create(target) directly: a concurrent reader could list
      // and parse a half-written manifest, and a torn prefix of
      // newline-delimited actions parses cleanly — a silent partial
      // commit. Write a fully-flushed temp file, then rename into
      // place: HDFS rename is atomic and FAILS when the destination
      // exists, which is exactly the claim primitive (Delta's
      // HDFSLogStore does the same).
      val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}")
      val out = fsv.create(tmp, true)
      try { out.write(body) } finally out.close()
      try {
        if (fsv.exists(target)) { fsv.delete(tmp, false); false }
        else if (fsv.rename(tmp, target)) true
        else { fsv.delete(tmp, false); false }
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          fsv.delete(tmp, false); false
      }
    }
  }

  private def readManifest(fsv: FileSystem, version: Long): Seq[Action] = {
    // a pruned manifest must surface as the documented re-sync contract
    // error, not a bare missing-file stack trace — this is what an
    // incremental consumer checkpointed below a truncateLog cutoff hits
    val in = try fsv.open(new Path(logDir, manifestName(version)))
    catch {
      case e: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          s"version $version of $tablePath predates log truncation " +
            "(its manifest was pruned by truncateLog) — re-sync this " +
            "consumer from the current table state", e)
    }
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
      bytes.toString("UTF-8")
    } finally in.close()
    text.linesIterator.filter(_.nonEmpty).map(Action.fromJson).toSeq
  }
}

object TxTable {

  /** Newest protocol this implementation understands. v1 = base log
    * (adds/removes/meta/txn/stats/constraints/blooms/cdf/rewrite);
    * v2 = column mapping + deletion vectors.
    */
  val SupportedReaderVersion = 2
  val SupportedWriterVersion = 2

  /** CONVERT an existing flat parquet directory into a transaction-log
    * table IN PLACE: the files are claimed as version 0 with footer
    * stats (skipping works immediately); no data is copied. After
    * conversion the directory is a full TxTable — ACID appends,
    * merge/update/delete, time travel, constraints, streaming.
    */
  def convert(spark: SparkSession, tablePath: String): TxTable = {
    val t = new TxTable(spark, tablePath)
    t.convertInPlace()
    t
  }

  /** Streaming-writer identity for idempotent commits. A replayed
    * (writerId, batchId ≤ recorded) commit is a no-op. `expectPrev`
    * additionally makes the commit a CAS on the writer's cursor: it
    * lands only if the currently-recorded batch is exactly this value
    * (-1 = none recorded), aborting loudly otherwise — the guard an
    * incremental maintainer ([[graft.core.IvmAgg]]) needs so two
    * concurrent advances folding OVERLAPPING source ranges can never
    * both apply (the larger range would pass the replay gate alone
    * and double-count the overlap). Commit-time-only; never persisted.
    */
  case class TxnId(writerId: String, batchId: Long,
                   expectPrev: Option[Long] = None)

  /** A file's live deletion vector: sidecar name + masked-row count
    * (the count drives the read path's broadcast decision and the
    * delete path's rewrite-fraction policy without opening sidecars).
    */
  case class DvRef(dvFile: String, deleted: Long)

  /** Helper columns the merge-on-read paths tag rows with — reserved
    * names, dropped before any result surfaces.
    */
  /** The provenance column of the row-level verbs' file collect. */
  private[core] val FileCol = "__file"
  private[core] val DvFileCol = "__graft_dv_file"
  private[core] val DvIdxCol = "__graft_dv_idx"

  /** Total masked rows at or below which a snapshot's deleted-position
    * set broadcasts (~16 bytes/row → ≤64 MB hash side); above it the
    * anti-join shuffles — still bounded by deleted rows, never data.
    */
  private[core] val DvBroadcastRows = 4L * 1024 * 1024

  private val DvMagic = 0x47445631 // "GDV1"

  /** Sidecar format: magic, row count, then the sorted deleted row
    * indexes as big-endian longs. Dumb on purpose — positions are
    * written once, streamed once per scan, and bounded by the rewrite
    * fraction, so compressed bitmaps buy little here.
    */
  private[core] def writeDvFile(fsv: FileSystem, p: Path, idx: Array[Long]): Unit = {
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fsv.create(p, false)))
    try {
      out.writeInt(DvMagic)
      out.writeLong(idx.length.toLong)
      idx.foreach(out.writeLong)
    } finally out.close()
  }

  private[core] def readDvFile(fsv: FileSystem, p: Path): Array[Long] = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fsv.open(p)))
    try {
      require(in.readInt() == DvMagic, s"$p is not a deletion-vector sidecar")
      val n = in.readLong()
      require(n >= 0 && n <= Int.MaxValue, s"$p: implausible vector size $n")
      val a = new Array[Long](n.toInt)
      var i = 0
      while (i < a.length) { a(i) = in.readLong(); i += 1 }
      a
    } finally in.close()
  }

  /** Merge two sorted position arrays known to be disjoint (the new
    * positions were anti-joined against the old vector before write).
    */
  private[core] def mergeSortedDisjoint(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { out(k) = a(i); i += 1 } else { out(k) = b(j); j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    out
  }

  /** One [[TxTable.history]] row (DESCRIBE HISTORY). */
  case class TableDetail(version: Long, numFiles: Int, sizeBytes: Long,
                         numRows: Option[Long], maskedRows: Long,
                         numColumns: Int, protocol: (Int, Int),
                         lastCommitTs: Long, constraints: Set[String],
                         bloomIndexes: Set[String],
                         generatedColumns: Set[String],
                         identityColumns: Set[String],
                         renamedColumns: Int, droppedColumns: Int,
                         properties: Map[String, String])

  case class CommitInfo(version: Long, timestampMs: Long, operation: String,
                        filesAdded: Int, filesRemoved: Int)

  /** Clause set for [[TxTable.mergeConditional]] — the published
    * conditional-MERGE surface (`MERGE INTO t USING s ON keys WHEN
    * MATCHED [AND cond] THEN UPDATE/DELETE | WHEN NOT MATCHED [AND
    * cond] THEN INSERT | WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    * UPDATE/DELETE`). Conditions and SET expressions are SQL over the
    * SURFACE schema with target columns qualified `t.` and source
    * columns `s.` (by-source clauses see only `t.`). Per row, clause
    * order is first-match-wins; a `None` condition always applies; a
    * condition evaluating NULL does not apply (WHERE semantics).
    */
  sealed trait MatchedClause { def condition: Option[String] }
  /** UPDATE SET col → SQL expr. An EMPTY `set` is `UPDATE SET *`:
    * every target column present in the source takes `s.col`
    * (target-only columns keep their value; source-only columns
    * evolve in, as [[TxTable.merge]] does).
    */
  case class MatchedUpdate(condition: Option[String],
                           set: Map[String, String] = Map.empty) extends MatchedClause
  case class MatchedDelete(condition: Option[String]) extends MatchedClause
  /** INSERT clause. Empty `values` = INSERT * (the full source row;
    * source-only columns evolve in). Non-empty `values` (col → SQL
    * over `s.`) inserts exactly those columns, others null — the form
    * that keeps source-side metadata columns (a CDC op marker) out of
    * the target schema.
    */
  case class NotMatchedInsert(condition: Option[String],
                              values: Map[String, String] = Map.empty)
  sealed trait BySourceClause { def condition: Option[String] }
  case class BySourceUpdate(condition: Option[String],
                            set: Map[String, String]) extends BySourceClause
  case class BySourceDelete(condition: Option[String]) extends BySourceClause

  /** Fluent surface over [[TxTable.mergeConditional]]; obtain via
    * [[TxTable.mergeBuilder]]. Pass conditions as SQL strings (`null`
    * = unconditional). Example:
    * {{{
    * t.mergeBuilder(updates, Seq("id"))
    *   .whenMatchedDelete("s.op = 'D'")
    *   .whenMatchedUpdate(Map("qty" -> "t.qty + s.qty"))
    *   .whenNotMatchedInsertAll("s.op <> 'D'")
    *   .whenNotMatchedBySourceDelete("t.expired")
    *   .run()
    * }}}
    */
  final class MergeBuilder private[core] (t: TxTable, source: DataFrame,
                                          keys: Seq[String]) {
    private var matched = Vector.empty[MatchedClause]
    private var notMatched: Option[NotMatchedInsert] = None
    private var bySource = Vector.empty[BySourceClause]
    private var evolve = false
    /** Opt into MERGE-time schema evolution (Delta's `autoMerge` /
      * `MERGE ... WITH SCHEMA EVOLUTION` role): explicit SET / INSERT
      * clauses may target NEW columns carried by the source — they
      * are added to the table (nullable, null on untouched rows) in
      * the SAME commit as the merge. Without this, a new-column
      * assignment fails loudly; star forms (`UPDATE SET *` /
      * `INSERT *`) always evolve, matching [[TxTable.merge]].
      */
    def withSchemaEvolution(): MergeBuilder = { evolve = true; this }
    def whenMatchedUpdate(set: Map[String, String],
                          condition: String = null): MergeBuilder = {
      require(set.nonEmpty, "whenMatchedUpdate needs a non-empty SET " +
        "(use whenMatchedUpdateAll for UPDATE SET *)")
      matched :+= MatchedUpdate(Option(condition), set); this
    }
    def whenMatchedUpdateAll(condition: String = null): MergeBuilder = {
      matched :+= MatchedUpdate(Option(condition), Map.empty); this
    }
    def whenMatchedDelete(condition: String = null): MergeBuilder = {
      matched :+= MatchedDelete(Option(condition)); this
    }
    def whenNotMatchedInsertAll(condition: String = null): MergeBuilder = {
      require(notMatched.isEmpty, "at most one whenNotMatchedInsert* clause")
      notMatched = Some(NotMatchedInsert(Option(condition))); this
    }
    def whenNotMatchedInsert(values: Map[String, String],
                             condition: String = null): MergeBuilder = {
      require(values.nonEmpty, "whenNotMatchedInsert needs non-empty values " +
        "(use whenNotMatchedInsertAll for INSERT *)")
      require(notMatched.isEmpty, "at most one whenNotMatchedInsert* clause")
      notMatched = Some(NotMatchedInsert(Option(condition), values)); this
    }
    def whenNotMatchedBySourceUpdate(set: Map[String, String],
                                     condition: String = null): MergeBuilder = {
      require(set.nonEmpty, "whenNotMatchedBySourceUpdate needs a non-empty SET")
      bySource :+= BySourceUpdate(Option(condition), set); this
    }
    def whenNotMatchedBySourceDelete(condition: String = null): MergeBuilder = {
      bySource :+= BySourceDelete(Option(condition)); this
    }
    def run(txn: Option[TxnId] = None): Unit =
      t.mergeConditional(source, keys, matched, notMatched, bySource, txn,
        evolveSchema = evolve)
  }

  /** Per-column footer stats (JSON-typed so they serialize into the
    * manifest verbatim: JLong, JDouble, or JString). `nulls == -1`
    * means the footer did not record a null count — an isNull prune
    * requires a KNOWN-zero count, never an absent one.
    */
  case class ColStats(min: JValue, max: JValue, nulls: Long) {
    def toJson: JObject =
      JObject("min" -> min, "max" -> max, "nulls" -> JLong(nulls))
  }
  /** Per-file stats carried on the Add action: the data-skipping index. */
  case class FileStats(rows: Long, cols: Map[String, ColStats]) {
    def toJson: JObject = JObject(
      "rows" -> JLong(rows),
      "cols" -> JObject(cols.toList.map { case (k, v) => k -> (v.toJson: JValue) }))
  }

  private[core] def fileStatsFromJson(j: JValue): Option[FileStats] = j match {
    case o: JObject =>
      val rows = (o \ "rows") match {
        case JLong(n) => n
        case JInt(n) => n.toLong
        case _ => return None
      }
      val cols = (o \ "cols") match {
        case JObject(fields) => fields.flatMap { case (name, cj) =>
          ((cj \ "min"), (cj \ "max"), (cj \ "nulls")) match {
            case (mn, mx, JLong(n)) => Some(name -> ColStats(mn, mx, n))
            case (mn, mx, JInt(n)) => Some(name -> ColStats(mn, mx, n.toLong))
            case _ => None
          }
        }.toMap
        case _ => Map.empty[String, ColStats]
      }
      Some(FileStats(rows, cols))
    case _ => None
  }

  /** Conjunct shapes DERIVED through generated-column declarations —
    * the Delta generated-partition-column pattern: when `g` is
    * declared GENERATED AS a whitelisted MONOTONIC expression of one
    * base column `x` (currently `x div N`, N > 0 — the day/month
    * bucketing shape), every range/equality/IN conjunct on x yields
    * the corresponding conjunct on g, so a predicate on the BASE
    * column prunes through a layout partitioned or clustered by the
    * GENERATED one. That is what makes `WHERE ts BETWEEN a AND b`
    * open only the overlapping day-partition files of a 100 TB table
    * without the user ever naming the partition column.
    *
    * Sound: truncating integral division by a positive constant is
    * non-decreasing, so x ≥ v ⟹ g(x) ≥ g(v) and x ≤ v ⟹ g(x) ≤ g(v);
    * equality/IN map pointwise; strict bounds weaken to inclusive
    * ones (never prunes a file the original predicate could match).
    * Derivation recurses into OR branches (disjunctive skipping).
    *
    * Deliberately NOT whitelisted: `floor(x / N)` (double division
    * drifts ±1 ulp near 2^53, so the derived bound could exclude a
    * file holding a boundary value) and `cast(ts AS date)` /
    * `year(ts)` (their value depends on the WRITER session's
    * timezone, which the log does not record — deriving with the
    * reader's zone would mis-prune across zones). `x div N` over the
    * epoch-seconds/millis/micros column the writer controls gives the
    * same day/month bucketing with none of those hazards.
    */
  private[graft] def deriveGeneratedShapes(generated: Map[String, String],
      shapes: Seq[org.apache.spark.sql.GraftColumnBridge.PredShape])
      : Seq[org.apache.spark.sql.GraftColumnBridge.PredShape] = {
    import org.apache.spark.sql.GraftColumnBridge._
    if (generated.isEmpty) return shapes
    val DivPat = """(?i)^\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\s+div\s+(\d+)\s*$""".r
    // toLongOption: a divisor past Long range (accepted at DDL time on
    // an empty table) must disable derivation, not fail every read
    val rules: Seq[(String, String, Long)] = generated.toSeq.collect {
      case (g, DivPat(x, n)) if n.toLongOption.exists(_ > 0) => (g, x, n.toLong)
    }
    if (rules.isEmpty) return shapes
    // same truncating semantics as Spark's IntegralDivide on longs
    def gval(v: Any, n: Long): Option[Any] = v match {
      case l: Long => Some(l / n)
      case i: Int => Some(i.toLong / n)
      case s: Short => Some(s.toLong / n)
      case b: Byte => Some(b.toLong / n)
      case _ => None
    }
    def derive(sh: PredShape): Seq[PredShape] = sh match {
      case CmpShape(x, op, v) => rules.flatMap {
        case (g, `x`, n) =>
          val inclusive = op match {
            case ">" => ">=" case "<" => "<=" case o => o
          }
          gval(v, n).map(CmpShape(g, inclusive, _))
        case _ => Nil
      }
      case InShape(x, vs) => rules.flatMap {
        case (g, `x`, n) =>
          val mapped = vs.map(gval(_, n))
          if (mapped.nonEmpty && mapped.forall(_.isDefined))
            Seq(InShape(g, mapped.flatten.distinct))
          else Nil
        case _ => Nil
      }
      case OrShape(branches) =>
        // rebuild the OR with each branch augmented: the pruner drops
        // a file only if EVERY branch proves empty, so per-branch
        // derived conjuncts tighten each proof independently
        Seq(OrShape(branches.map(b => b ++ b.flatMap(derive))))
      case _ => Nil
    }
    shapes.flatMap {
      case o: OrShape => derive(o) // replaces: carries originals inside
      case sh => sh +: derive(sh)
    }
  }

  /** The subset of `files` whose stats might satisfy ALL `conjuncts` —
    * the shared data-skipping kernel behind [[TxTable.scan]] (Column
    * shapes) and [[graft.plans.TxSkipRule]] (Catalyst shapes). A file
    * without stats, or a conjunct a stats range cannot reason about,
    * is always read — pruning only ever removes provably-empty files.
    */
  private[graft] def filesToRead(files: Seq[String], stats: Map[String, FileStats],
      conjuncts: Seq[org.apache.spark.sql.GraftColumnBridge.PredShape]): Seq[String] = {
    import org.apache.spark.sql.GraftColumnBridge.{CmpShape, InShape, NullShape, OrShape, PredShape, PrefixShape}
    // a conjunct that proves a file empty ⇒ the file cannot match the AND
    // min == JNull marks an ALL-NULL column (no non-null value in the
    // file): comparisons, IN and isNotNull are never true on null, so
    // any of them proves the file empty regardless of the literal
    def allNull(cs: ColStats): Boolean = cs.min == JNull
    def provesEmpty(fstats: FileStats, shape: PredShape): Boolean =
      shape match {
        case NullShape(name, true) => fstats.cols.get(name).exists(_.nulls == 0L)
        case NullShape(name, false) =>
          // recorded min/max imply a non-null value — unless the
          // all-null marker says there is none
          fstats.cols.get(name).exists(allNull)
        case CmpShape(name, _, _)
          if fstats.cols.get(name).exists(allNull) => true
        case InShape(name, _)
          if fstats.cols.get(name).exists(allNull) => true
        case CmpShape(name, op, litV) =>
          (fstats.cols.get(name), literalJ(litV)) match {
            case (Some(cs), Some(v)) => op match {
              // needs col ≥/> v: empty when max </≤ v
              case ">" => cmpJ(cs.max, v).exists(_ <= 0)
              case ">=" => cmpJ(cs.max, v).exists(_ < 0)
              // needs col ≤/< v: empty when min >/≥ v
              case "<" => cmpJ(cs.min, v).exists(_ >= 0)
              case "<=" => cmpJ(cs.min, v).exists(_ > 0)
              case "=" | "==" =>
                cmpJ(cs.max, v).exists(_ < 0) || cmpJ(cs.min, v).exists(_ > 0)
              case _ => false
            }
            case _ => false
          }
        case InShape(name, values) =>
          // provably empty iff EVERY value lies outside [min, max].
          // Null list entries can never make IN true and are ignored;
          // a non-null value literalJ cannot type blocks the prune —
          // unprovable, not skippable.
          fstats.cols.get(name).exists { cs =>
            val js = values.filter(_ != null).map(literalJ)
            js.forall(_.isDefined) && js.flatten.forall(v =>
              cmpJ(cs.max, v).exists(_ < 0) || cmpJ(cs.min, v).exists(_ > 0))
          }
        // a prefix match is a byte range: any string with prefix p is
        // ≥ p and shares p's first bytes — so the file is empty iff
        // max (truncated to |p| bytes, unsigned UTF-8) < p, or
        // min (truncated) > p. Truncation makes both directions sound
        // for strings shorter or longer than the prefix.
        case PrefixShape(name, prefix) =>
          fstats.cols.get(name).exists { cs =>
            allNull(cs) || ((cs.min, cs.max) match {
              case (JString(mn), JString(mx)) =>
                val p = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                utf8CmpTrunc(mx, p) < 0 || utf8CmpTrunc(mn, p) > 0
              case _ => false
            })
          }
        // a disjunction proves the file empty iff EVERY branch does; a
        // branch (conjunct list) does iff ANY of its conjuncts does.
        // Sound: a matching row would satisfy some branch in full.
        case OrShape(branches) =>
          branches.nonEmpty &&
            branches.forall(_.exists(provesEmpty(fstats, _)))
        case _ => false
      }
    files.filter { f =>
      stats.get(f) match {
        case None => true // no stats recorded: always read
        case Some(fstats) => !conjuncts.exists(provesEmpty(fstats, _))
      }
    }
  }

  private[core] def minJ(a: JValue, b: JValue): JValue =
    if (cmpJ(a, b).exists(_ <= 0)) a else b
  private[core] def maxJ(a: JValue, b: JValue): JValue =
    if (cmpJ(a, b).exists(_ >= 0)) a else b

  /** Compare two stat values; None when incomparable (mixed kinds).
    * Strings compare as UNSIGNED UTF-8 bytes — the order parquet
    * computed the binary min/max in. Java's String.compareTo is UTF-16
    * code-unit order, which diverges for supplementary (non-BMP)
    * characters and would let a range predicate wrongly prune a file.
    */
  private[core] def cmpJ(a: JValue, b: JValue): Option[Int] = (a, b) match {
    case (JString(x), JString(y)) => Some(utf8Cmp(x, y))
    case _ => (numOf(a), numOf(b)) match {
      case (Some(x), Some(y)) => Some(x.compare(y).sign)
      case _ => None
    }
  }

  /** `x`'s UTF-8 bytes TRUNCATED to `p.length`, compared against `p`
    * unsigned-lexicographically — the prefix-pruning comparator: if
    * trunc(max) < p no string ≤ max can start with p; if trunc(min) >
    * p no string ≥ min can.
    */
  private[core] def utf8CmpTrunc(x: String, p: Array[Byte]): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(math.min(a.length, p.length), p.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (p(i) & 0xff)
      if (d != 0) return Integer.signum(d)
      i += 1
    }
    // x ran out before the prefix: truncated form is shorter => smaller;
    // x at least prefix-length: truncated form equals p => 0
    Integer.signum(math.min(a.length, p.length) - p.length)
  }

  private[core] def utf8Cmp(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return Integer.signum(d)
      i += 1
    }
    Integer.signum(a.length - b.length)
  }

  private def numOf(j: JValue): Option[BigDecimal] = j match {
    case JLong(v) => Some(BigDecimal(v))
    case JInt(v) => Some(BigDecimal(v))
    case JDouble(v) if !v.isNaN => Some(BigDecimal(v))
    case JDecimal(v) => Some(v)
    case _ => None
  }

  /** A Scala literal value (from a Catalyst Literal) as a stat JValue. */
  private[core] def literalJ(v: Any): Option[JValue] = v match {
    case null => None
    case b: Byte => Some(JLong(b.toLong))
    case s: Short => Some(JLong(s.toLong))
    case i: Int => Some(JLong(i.toLong))
    case l: Long => Some(JLong(l))
    case f: Float => Some(JDouble(f.toDouble))
    case d: Double => Some(JDouble(d))
    case d: java.math.BigDecimal => Some(JDecimal(BigDecimal(d)))
    case d: org.apache.spark.sql.types.Decimal => Some(JDecimal(d.toBigDecimal))
    case s: org.apache.spark.unsafe.types.UTF8String => Some(JString(s.toString))
    case s: String => Some(JString(s))
    // timestamps as epoch MICROS, dates as epoch DAYS — the units
    // footerStats normalizes column stats to. Cross-type comparisons
    // (e.g. a long column against a timestamp literal) cannot
    // mis-prune: Spark's analyzer rejects the query before the scan
    // executes.
    case t: java.sql.Timestamp => Some(JLong(instantMicros(t.toInstant)))
    case i: java.time.Instant => Some(JLong(instantMicros(i)))
    case dt: java.time.LocalDateTime => // TimestampNTZ literal
      Some(JLong(instantMicros(dt.toInstant(java.time.ZoneOffset.UTC))))
    case d: java.sql.Date => Some(JLong(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(JLong(d.toEpochDay))
    case _ => None
  }

  private def instantMicros(i: java.time.Instant): Long =
    math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private[graft] val LogDirName = "_graft_log"
  /** Property prefix for column DEFAULT declarations
    * ([[TxTable.setColumnDefault]]): `graft.default.<physicalName>`.
    */
  private[graft] val DefaultPropPrefix = "graft.default."
  /** Change-feed column names ([[TxTable.readChangeFeed]]). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  /** SCD2 validity-interval column names ([[TxTable.mergeScd2]]):
    * `[_scd_from, _scd_to)` in the caller's change-epoch domain,
    * `_scd_to IS NULL` marking each key's current row.
    */
  val ScdFromCol = "_scd_from"
  val ScdToCol = "_scd_to"
  private val MaxCommitAttempts = 30
  private val ManifestRe = """v(\d{20})\.json""".r
  private val CheckpointRe = """v(\d{20})\.ckpt\.json""".r

  private def manifestName(v: Long): String = f"v$v%020d.json"
  private def manifestVersion(name: String): Option[Long] = name match {
    case ManifestRe(d) => Some(d.toLong)
    case _ => None
  }
  private def checkpointName(v: Long): String = f"v$v%020d.ckpt.json"
  private def checkpointVersion(name: String): Option[Long] = name match {
    case CheckpointRe(d) => Some(d.toLong)
    case _ => None
  }

  private[core] sealed trait Action { def toJson: JObject }
  private[core] case class Add(path: String, stats: Option[FileStats] = None)
      extends Action {
    def toJson: JObject = JObject(
      List("a" -> (JString("add"): JValue), "path" -> (JString(path): JValue)) ++
        stats.map(s => "stats" -> (s.toJson: JValue)).toList)
  }
  private[core] case class Remove(path: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("remove"), "path" -> JString(path))
  }
  /** Attach a deletion vector to a live data file (sidecar `dvFile`
    * holds the file's deleted row positions, `deletedRows` its
    * cardinality) — replacing any previous vector for that file. An
    * EMPTY `dvFile` clears the vector (restore to a pre-delete
    * snapshot). The merge-on-read half of DELETE
    * ([[TxTable.deleteMergeOnRead]]).
    */
  private[core] case class Dv(path: String, dvFile: String, deletedRows: Long)
      extends Action {
    def toJson: JObject = JObject("a" -> JString("dv"), "path" -> JString(path),
      "dv" -> JString(dvFile), "n" -> JLong(deletedRows))
  }
  /** Bloom-filter index config for a column ([[TxTable.addBloomIndex]]). */
  case class BloomCfg(items: Long, fpp: Double)
  private[core] case class BloomIdx(column: String, items: Long, fpp: Double)
      extends Action {
    def toJson: JObject = JObject("a" -> JString("bloomIndex"),
      "column" -> JString(column), "items" -> JLong(items), "fpp" -> JDouble(fpp))
  }
  private[core] case class DropBloomIdx(column: String) extends Action {
    def toJson: JObject =
      JObject("a" -> JString("dropBloomIndex"), "column" -> JString(column))
  }

  /** Sidecar path of a (data file, indexed column) bloom filter. */
  private[core] def bloomName(dataFile: String, colName: String): String =
    s"bloom-$dataFile.$colName.bin"

  /** Inverse of [[bloomName]]: (data file, column), or None if the name
    * is not a well-formed bloom sidecar.
    */
  private[core] def bloomParse(sidecar: String): Option[(String, String)] = {
    if (!sidecar.startsWith("bloom-") || !sidecar.endsWith(".bin")) None
    else {
      val body = sidecar.stripPrefix("bloom-").stripSuffix(".bin")
      val i = body.lastIndexOf(".parquet.")
      if (i < 0) None
      else Some((body.substring(0, i + 8), body.substring(i + 9)))
    }
  }

  /** Process-local cache of loaded bloom sidecars: data files are
    * immutable and uniquely named, so an entry can never go stale —
    * `None` (no sidecar) is cached too, safe because sidecars are
    * always written BEFORE the commit that makes their file (or index
    * registration) visible.
    */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[
      org.apache.spark.util.sketch.BloomFilter]]()
  private[core] def cachedBloom(key: String)(
      load: => Option[org.apache.spark.util.sketch.BloomFilter])
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    bloomCache.computeIfAbsent(key, _ => load)

  /** The bloom skip stage, shared by [[TxTable.scan]] (via the
    * instance wrapper) and the declarative
    * [[graft.plans.TxSkipRule]] path: drop candidate files whose
    * sidecar filter proves an indexed equality/IN conjunct's value(s)
    * absent. Bloom filters have no false negatives, so the prune is
    * sound; missing/unreadable sidecars and literal-type mismatches
    * keep the file. Loaded sidecars cache process-wide (immutable,
    * uniquely-named files).
    */
  private[graft] def bloomPruneFiles(rootStr: String,
      types: Map[String, org.apache.spark.sql.types.DataType],
      blooms: Map[String, BloomCfg],
      conf: org.apache.hadoop.conf.Configuration,
      candidates: Seq[String],
      shapes: Seq[org.apache.spark.sql.GraftColumnBridge.PredShape]): Seq[String] = {
    import org.apache.spark.sql.GraftColumnBridge.{CmpShape, InShape, OrShape, PredShape}
    if (blooms.isEmpty || candidates.isEmpty) return candidates
    // an eq/IN probe on an indexed column; None = this shape can never
    // bloom-prune (comparisons, nulls, opaque)
    def probeOf(s: PredShape): Option[(String, Seq[Any])] = s match {
      case CmpShape(name, "=" | "==", v) if blooms.contains(name) && v != null =>
        Some(name -> Seq(v))
      case InShape(name, vs) if blooms.contains(name) && vs.nonEmpty &&
          vs.forall(_ != null) => Some(name -> vs)
      case _ => None
    }
    def canPrune(s: PredShape): Boolean = s match {
      case OrShape(bs) => bs.nonEmpty && bs.forall(_.exists(canPrune))
      case o => probeOf(o).isDefined
    }
    if (!shapes.exists(canPrune)) return candidates
    val rootP = new Path(rootStr)
    lazy val fsv = rootP.getFileSystem(conf)
    def bloomFor(file: String, colName: String) =
      cachedBloom(s"$rootStr#$file#$colName") {
        val p = new Path(rootP, bloomName(file, colName))
        try {
          if (!fsv.exists(p)) None
          else {
            val in = fsv.open(p)
            try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
            finally in.close()
          }
        } catch { case _: java.io.IOException => None }
      }
    // does this shape PROVE the file holds no matching row? Recursive
    // for OR: every branch must be proven absent (by any conjunct in
    // it) — mirrors filesToRead's stat-range OrShape rule, on blooms.
    def provesAbsent(f: String)(s: PredShape): Boolean = s match {
      case OrShape(bs) => bs.nonEmpty && bs.forall(_.exists(provesAbsent(f)))
      case o => probeOf(o).exists { case (colName, values) =>
        types.get(colName).exists { dt =>
          bloomFor(f, colName).exists { bf =>
            values.forall(v => bloomMightContain(bf, dt, v).contains(false))
          }
        }
      }
    }
    candidates.filter(f => !shapes.exists(provesAbsent(f)))
  }

  /** Probe a sidecar filter with a predicate literal, or None when the
    * literal's runtime type doesn't match the column's put-encoding
    * (pruning on a mismatched encoding could false-negative, which
    * would be an UNSOUND skip — mismatches must read the file).
    */
  private[core] def bloomMightContain(
      bf: org.apache.spark.util.sketch.BloomFilter,
      dt: org.apache.spark.sql.types.DataType, v: Any): Option[Boolean] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => v match {
        case n: java.lang.Long => Some(bf.mightContainLong(n))
        case n: java.lang.Integer => Some(bf.mightContainLong(n.longValue))
        case n: java.lang.Short => Some(bf.mightContainLong(n.longValue))
        case n: java.lang.Byte => Some(bf.mightContainLong(n.longValue))
        case _ => None
      }
      case StringType => v match {
        case s: String => Some(bf.mightContainString(s))
        case _ => None
      }
      case BinaryType => v match {
        case b: Array[Byte] => Some(bf.mightContainBinary(b))
        case _ => None
      }
      case _ => None
    }
  }
  /** A parquet file of row-level changes (`_change_type` column) for
    * the commit that carries it — the change-data-feed record a
    * merge/delete stages alongside its data rewrite.
    */
  private[core] case class Cdf(path: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("cdf"), "path" -> JString(path))
  }
  private[core] case class Meta(schemaDdl: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("meta"), "schemaDdl" -> JString(schemaDdl))
  }
  private[core] case class Txn(writerId: String, batchId: Long) extends Action {
    def toJson: JObject = JObject("a" -> JString("txn"),
      "writerId" -> JString(writerId), "batchId" -> JLong(batchId))
  }
  /** Marks a commit that only rewrites existing rows into new files
    * (compaction): skipped by incremental consumers.
    */
  private[core] case object RewriteMarker extends Action {
    def toJson: JObject = JObject("a" -> JString("rewrite"))
  }
  /** Add/replace a CHECK constraint (SQL expression over the table's
    * columns): every later write must satisfy it ([[TxTable.addConstraint]]).
    */
  private[core] case class Constr(name: String, exprSql: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("constraint"),
      "name" -> JString(name), "expr" -> JString(exprSql))
  }
  private[core] case class DropConstr(name: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("dropConstraint"),
      "name" -> JString(name))
  }
  /** Free-form table property (TBLPROPERTIES role): owner, pipeline
    * tags, retention hints — metadata the table carries for its
    * operators, never interpreted by the engine.
    */
  private[core] case class Prop(key: String, value: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("property"),
      "key" -> JString(key), "value" -> JString(value))
  }
  private[core] case class UnsetProp(key: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("unsetProperty"),
      "key" -> JString(key))
  }
  /** IDENTITY COLUMN declaration: the TABLE assigns `name` on append
    * from a log-owned high-water mark (start, step); writers never
    * supply it ([[TxTable.addIdentityColumn]] — GENERATED ALWAYS AS
    * IDENTITY). Values are unique and ascending per commit order;
    * gaps are legal (aborted attempts burn their range, the published
    * identity contract).
    */
  private[core] case class IdentityCol(name: String, start: Long, step: Long)
      extends Action {
    def toJson: JObject = JObject("a" -> JString("identityColumn"),
      "name" -> JString(name), "start" -> JLong(start), "step" -> JLong(step))
  }
  /** Advances an identity column's high-water mark (the last value
    * any committed row uses — explicit-id paths like overwrite/merge
    * sync it so later appends can never collide).
    */
  private[core] case class IdentityHw(name: String, hw: Long) extends Action {
    def toJson: JObject = JObject("a" -> JString("identityHw"),
      "name" -> JString(name), "hw" -> JLong(hw))
  }
  private[core] case class DropIdentityCol(name: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("dropIdentityColumn"),
      "name" -> JString(name))
  }
  /** GENERATED COLUMN (the published always-computed-column design):
    * `exprSql` (physical names) defines the column's value. Writes
    * lacking the column compute it; writes carrying it are gated by
    * the constraint machinery on `name <=> (exprSql)` — a mismatched
    * value aborts loudly before any commit.
    */
  private[core] case class GenCol(name: String, exprSql: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("generatedColumn"),
      "name" -> JString(name), "expr" -> JString(exprSql))
  }
  private[core] case class DropGenCol(name: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("dropGeneratedColumn"),
      "name" -> JString(name))
  }
  /** IN-COMMIT TIMESTAMP (the published reliable-time-travel design):
    * the commit's wall clock recorded IN the manifest, monotone per
    * table, so `timestampAsOf` survives log copies/restores/backfills
    * that rewrite file mtimes. Pre-feature manifests fall back to the
    * mtime, the documented weaker source.
    */
  private[core] case class CommitTs(ms: Long) extends Action {
    def toJson: JObject = JObject("a" -> JString("commitTs"), "ms" -> JLong(ms))
  }
  /** PROTOCOL gate (the published reader/writer feature-versioning
    * design): a client must support `minReader` to read the table and
    * `minWriter` to commit. Feature DDL that older clients would
    * MISINTERPRET (not merely fail to parse) bumps it — v2 marks
    * column mapping and deletion vectors, whose files/names an
    * unversioned reader would serve with wrong columns or undeleted
    * rows. Structurally-unknown future actions are already rejected
    * by the manifest parser; the protocol closes the silent half.
    */
  private[core] case class Protocol(minReader: Int, minWriter: Int) extends Action {
    def toJson: JObject = JObject("a" -> JString("protocol"),
      "minReader" -> JLong(minReader.toLong), "minWriter" -> JLong(minWriter.toLong))
  }
  /** Metadata-only COLUMN DROP under column mapping: the physical
    * column stays in existing files (time travel still sees it); the
    * surface hides it from this commit on, rewrites stop carrying it,
    * and a later append may RE-ADD the logical name under a fresh
    * physical slot ([[TxTable.dropColumn]]).
    */
  private[core] case class DropCol(physical: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("dropColumn"),
      "phys" -> JString(physical))
  }
  /** COLUMN MAPPING (the metadata-only-rename design table formats
    * publish): `physical` is the name data files and stats are keyed
    * by — fixed at first write, never rewritten — and `logical` is
    * the name the table surface shows from this commit on
    * ([[TxTable.renameColumn]]). Re-renaming the same column replaces
    * the entry (one physical → latest logical).
    */
  private[core] case class RenameCol(physical: String, logical: String) extends Action {
    def toJson: JObject = JObject("a" -> JString("renameColumn"),
      "phys" -> JString(physical), "logical" -> JString(logical))
  }

  private[core] object Action {
    def fromJson(line: String): Action = {
      // big-decimal mode: decimal column stats (JDecimal) must round-trip
      // the manifest at full precision — a decimal(38) read back through
      // a double would shift min/max and mis-prune boundary files
      val j = JsonMethods.parse(line, useBigDecimalForDouble = true)
      def str(f: String): String = (j \ f) match {
        case JString(s) => s
        case other => throw new IllegalArgumentException(
          s"manifest field $f: expected string, got $other in $line")
      }
      (j \ "a") match {
        case JString("add") => Add(str("path"), fileStatsFromJson(j \ "stats"))
        case JString("remove") => Remove(str("path"))
        case JString("dv") => (j \ "n") match {
          case JLong(n) => Dv(str("path"), str("dv"), n)
          case JInt(n) => Dv(str("path"), str("dv"), n.toLong)
          case other => throw new IllegalArgumentException(
            s"manifest dv n: expected number, got $other in $line")
        }
        case JString("cdf") => Cdf(str("path"))
        case JString("meta") => Meta(str("schemaDdl"))
        case JString("rewrite") => RewriteMarker
        case JString("constraint") => Constr(str("name"), str("expr"))
        case JString("dropConstraint") => DropConstr(str("name"))
        case JString("renameColumn") => RenameCol(str("phys"), str("logical"))
        case JString("dropColumn") => DropCol(str("phys"))
        case JString("property") => Prop(str("key"), str("value"))
        case JString("unsetProperty") => UnsetProp(str("key"))
        case JString("identityColumn") =>
          def lnum(f: String): Long = (j \ f) match {
            case JLong(n) => n
            case JInt(n) => n.toLong
            case other => throw new IllegalArgumentException(
              s"manifest identityColumn $f: expected number, got $other in $line")
          }
          IdentityCol(str("name"), lnum("start"), lnum("step"))
        case JString("dropIdentityColumn") => DropIdentityCol(str("name"))
        case JString("identityHw") => (j \ "hw") match {
          case JLong(n) => IdentityHw(str("name"), n)
          case JInt(n) => IdentityHw(str("name"), n.toLong)
          case other => throw new IllegalArgumentException(
            s"manifest identityHw hw: expected number, got $other in $line")
        }
        case JString("generatedColumn") => GenCol(str("name"), str("expr"))
        case JString("dropGeneratedColumn") => DropGenCol(str("name"))
        case JString("commitTs") => (j \ "ms") match {
          case JLong(ms) => CommitTs(ms)
          case JInt(ms) => CommitTs(ms.toLong)
          case other => throw new IllegalArgumentException(
            s"manifest commitTs ms: expected number, got $other in $line")
        }
        case JString("protocol") =>
          def num(f: String): Int = (j \ f) match {
            case JLong(n) => n.toInt
            case JInt(n) => n.toInt
            case other => throw new IllegalArgumentException(
              s"manifest protocol $f: expected number, got $other in $line")
          }
          Protocol(num("minReader"), num("minWriter"))
        case JString("bloomIndex") =>
          val items = (j \ "items") match {
            case JLong(n) => n
            case JInt(n) => n.toLong
            case other => throw new IllegalArgumentException(
              s"manifest bloomIndex items: expected number, got $other in $line")
          }
          val fpp = (j \ "fpp") match {
            case JDouble(d) => d
            case JDecimal(d) => d.toDouble
            case JInt(n) => n.toDouble
            case other => throw new IllegalArgumentException(
              s"manifest bloomIndex fpp: expected number, got $other in $line")
          }
          BloomIdx(str("column"), items, fpp)
        case JString("dropBloomIndex") => DropBloomIdx(str("column"))
        case JString("txn") => (j \ "batchId") match {
          case JLong(b) => Txn(str("writerId"), b)
          case JInt(b) => Txn(str("writerId"), b.toLong)
          case other => throw new IllegalArgumentException(
            s"manifest txn batchId: expected number, got $other in $line")
        }
        case other => throw new IllegalArgumentException(
          s"unknown manifest action $other in $line")
      }
    }
  }

  /** Table property enabling TYPE WIDENING on evolve-on-write (the
    * published type-widening feature): `setProperty(TypeWideningProp,
    * "true")`. With it on, an incoming column whose type differs from
    * the committed one by a WIDENING (byte→short→int→long,
    * float→double, in either direction of arrival) merges to the
    * wider type instead of failing; anything else still fails.
    */
  val TypeWideningProp = "graft.typeWidening"

  /** Table property routing SQL UPDATE / DELETE through the
    * merge-on-read verbs ([[TxTable.updateMergeOnRead]] /
    * [[TxTable.deleteMergeOnRead]]) instead of copy-on-write — the
    * published enable-deletion-vectors knob. Set it on tables where
    * mutations are small relative to file sizes (the 100 TB norm);
    * rewrite hygiene still applies per file past `rewriteAtFraction`,
    * and [[TxTable.compact]] materializes vectors on schedule.
    */
  val MergeOnReadProp = "graft.dml.mergeOnRead"

  /** Whether [[MergeOnReadProp]] is on for a table instance. */
  private[graft] def mergeOnReadDml(t: TxTable): Boolean =
    t.properties.get(MergeOnReadProp).contains("true")

  private val integralRank: Map[DataType, Int] =
    Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)

  /** The wider of two types when (a, b) is a legal widening pair —
    * exactly the conversions the vectorized parquet reader performs
    * when the requested schema is wider than the file (probed on this
    * Spark), so every already-written file stays readable under the
    * widened schema and every already-recorded stat compares (the
    * manifest normalizes integral stats to JLong, floating to
    * JDouble).
    */
  private[core] def widened(a: DataType, b: DataType): Option[DataType] =
    if (a == b) Some(a)
    else if (integralRank.contains(a) && integralRank.contains(b))
      Some(if (integralRank(a) >= integralRank(b)) a else b)
    else (a, b) match {
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }

  /** True when `incoming` equals `committed` except for STRICTER
    * nullability inside containers (non-null array elements / map
    * values / struct fields where the committed type allows nulls) —
    * such data is always storable under the committed type. The
    * reverse (incoming laxer) stays a conflict: it could smuggle
    * nulls under a committed non-null contract.
    */
  private[core] def acceptsStricter(committed: DataType, incoming: DataType): Boolean =
    (committed, incoming) match {
      case (a: ArrayType, b: ArrayType) =>
        (a.containsNull || !b.containsNull) &&
          acceptsStricter(a.elementType, b.elementType)
      case (a: MapType, b: MapType) =>
        (a.valueContainsNull || !b.valueContainsNull) &&
          acceptsStricter(a.keyType, b.keyType) &&
          acceptsStricter(a.valueType, b.valueType)
      case (a: StructType, b: StructType) =>
        a.length == b.length && a.fields.zip(b.fields).forall { case (fa, fb) =>
          fa.name == fb.name && (fa.nullable || !fb.nullable) &&
            acceptsStricter(fa.dataType, fb.dataType)
        }
      case (a, b) => a == b
    }

  /** Name-keyed schema union: existing column order is preserved, new
    * columns append; an existing column whose type changed fails —
    * the add-nullable-columns evolution contract (same as the
    * emulated mergeSchema path, RawIngest §7.5.6) — unless
    * `allowWiden` (from [[TypeWideningProp]]) and the change is a
    * legal widening, in which case the column takes the wider type.
    */
  private[core] def mergeSchemas(existing: Option[StructType], incoming: StructType,
                                 allowWiden: Boolean = false): StructType =
    existing match {
      // normalize away field metadata: the log stores schema as
      // parseable DDL, and metadata like a DEFAULT declaration would
      // make toDDL emit clauses fromDDL cannot read back
      case None =>
        StructType(incoming.map(f => StructField(f.name, f.dataType, nullable = true)))
      case Some(cur) =>
        val merged = cur.map { f =>
          incoming.find(_.name == f.name) match {
            case None => f
            case Some(g) =>
              val t =
                if (g.dataType == f.dataType) f.dataType
                // a STRICTER incoming nullability shape (non-null array
                // elements / map values / struct fields) is always
                // acceptable into the laxer committed type — parquet
                // normalizes container nullability on read, so frames
                // rebuilt from expressions routinely arrive strict
                else if (acceptsStricter(f.dataType, g.dataType)) f.dataType
                else if (allowWiden) widened(f.dataType, g.dataType).getOrElse(
                  throw new IllegalArgumentException(
                    s"column ${f.name}: type ${g.dataType.simpleString} conflicts " +
                      s"with committed ${f.dataType.simpleString} — not a legal " +
                      "widening (byte/short/int/long chain, float/double)"))
                else throw new IllegalArgumentException(
                  s"column ${f.name}: type ${g.dataType.simpleString} conflicts with " +
                    s"committed ${f.dataType.simpleString} — evolution adds columns, " +
                    s"never changes types (set $TypeWideningProp=true for widening)")
              f.copy(dataType = t)
          }
        }
        val newFields = incoming.filterNot(g => cur.exists(_.name == g.name))
        StructType((merged ++ newFields).map(f => StructField(f.name, f.dataType, nullable = true)))
    }
}

/** Hadoop's Configuration is not java-serializable and Spark's own
  * wrapper is private[spark]; tasks that touch the FileSystem directly
  * (deletion-vector sidecar IO) carry this minimal Writable-based
  * clone instead.
  */
private[core] class SerializableHadoopConf(
    @transient private var conf: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  def value: org.apache.hadoop.conf.Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}
