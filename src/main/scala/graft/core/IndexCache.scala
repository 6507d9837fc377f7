package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Process-local memo for expensive, immutable artifacts: trained
  * index state (IVF centroids, PQ codebooks), persisted serving
  * indexes, chain-built ACID fixture tables and the corpus-format
  * shards the curation queries read. A real ANN serving system trains
  * an index ONCE and answers many queries against it — retraining per
  * query would be like rebuilding a B-tree per SELECT. Spark has no
  * session-lifecycle hook for artifacts like these, so a keyed process
  * cache is the idiomatic stand-in for the "build once, persist,
  * serve" lifecycle.
  *
  * Keys must encode EVERY input that determines the artifact: the
  * data directory, the sampling rule, and all hyper-parameters.
  * The cache assumes a directory's contents are immutable for the
  * process lifetime (true for the testdata; a production deployment
  * would version the key by table snapshot id). In-memory entries are
  * small (centroids, paths, table handles, checkpointed frames whose
  * blocks Spark manages); artifacts that are data live on disk under
  * [[scratch]] paths, so no eviction is needed.
  *
  * Every build is timed into [[ArtifactCost]] under its key's prefix
  * (the text before the first `:`), as self time.
  */
object IndexCache {

  /** Lazy holder: the map's computeIfAbsent only CREATES the cell
    * (cheap, never re-entrant); the build itself runs on first
    * `value` access, OUTSIDE the map update. A build that memoizes
    * another key (fixture chains do) would otherwise re-enter
    * computeIfAbsent mid-compute and hit ConcurrentHashMap's
    * "Recursive update" IllegalStateException whenever the two keys
    * shared a hash bin — a failure that came and went with the
    * applicationId inside the key.
    */
  private final class Cell(build0: () => AnyRef) {
    lazy val value: AnyRef = build0()
  }

  private val cache = new ConcurrentHashMap[String, Cell]()

  /** Build-once lookup. `build` may run Spark jobs and may memoize
    * OTHER keys; concurrent callers of the same key serialize on the
    * cell's lazy initializer. A build that throws leaves the cell
    * unset, so the next lookup builds again.
    */
  def memo[T <: AnyRef](key: String)(build: => T): T =
    cache.computeIfAbsent(key, _ =>
      new Cell(() => ArtifactCost.timed(key.takeWhile(_ != ':'))(build)))
      .value.asInstanceOf[T]

  /** The slug of (`dir`, application id) that names a session's scratch
    * artifacts: the application id keeps two sessions (or two
    * processes) from sharing a path, and the slug is a valid SQL
    * identifier suffix, so catalog names can carry it too.
    */
  private[graft] def scratchTag(s: SparkSession, dir: String): String =
    (dir + "_" + s.sparkContext.applicationId).replaceAll("[^a-zA-Z0-9]+", "_")

  /** Where [[scratch]] builds artifact `name` for (`s`, `dir`):
    * `<driver temp dir>/graft_<name>_<scratchTag>`. The driver temp
    * dir ([[org.apache.spark.SparkFiles.getRootDirectory]]) is the
    * SparkContext's own; Spark deletes it when the context stops, so
    * no session's artifacts outlive it.
    */
  private[graft] def scratchPath(s: SparkSession, name: String, dir: String): String =
    s"${org.apache.spark.SparkFiles.getRootDirectory()}/graft_${name}_${scratchTag(s, dir)}"

  /** Build-once on-disk artifact: memoized under
    * `name:<applicationId>:dir`; on the one build, [[scratchPath]] is
    * deleted recursively (a stale tree from an earlier attempt or
    * process must not leak into this one) and `build` gets the path.
    */
  def scratch[T <: AnyRef](s: SparkSession, name: String, dir: String)(
      build: String => T): T =
    memo(s"$name:${s.sparkContext.applicationId}:$dir") {
      val p = scratchPath(s, name, dir)
      val root = new org.apache.hadoop.fs.Path(p)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      build(p)
    }

  /** Test hook: drop all cached artifacts. */
  private[graft] def clear(): Unit = cache.clear()
}
