package graft.core

/** Process-local ledger of artifact-BUILD wall seconds: every
  * [[IndexCache.memo]] build (pair tables, trained LM counts, serving
  * indexes, fixture tables and shards) is recorded under its key's
  * prefix, so a one-time build cost stays visible instead of vanishing
  * into the first consumer's discarded run. `perfbench`'s
  * `corpus_curation` reports the snapshot's sum per set-up round as
  * `setup.artifact_builds_s` (`--trace 1`).
  *
  * Builds are charged SELF time: a build that memoizes another key
  * is not charged for the nested build, which is charged to its own
  * name, so the snapshot's values sum each second once. Nesting is
  * tracked per thread, as builds run on their caller's thread. Nothing
  * here persists across processes — the ledger only LABELS work the
  * process already did.
  */
object ArtifactCost {
  private val costs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Wall nanos of the builds nested in the current thread's running
    * build (0 outside any build).
    */
  private val nestedNanos = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Run `build`, crediting its wall time minus that of the builds
    * nested in it to `name` (summed if the same name builds more than
    * once in a process; a build that throws is charged too).
    */
  private[core] def timed[T](name: String)(build: => T): T = {
    val outer = nestedNanos.get
    nestedNanos.set(0L)
    val t0 = System.nanoTime()
    try build
    finally {
      val total = System.nanoTime() - t0
      costs.merge(name, Double.box((total - nestedNanos.get) / 1e9),
        (a, b) => Double.box(a.doubleValue + b.doubleValue))
      nestedNanos.set(outer + total)
    }
  }

  /** Build seconds per artifact name recorded so far. */
  def snapshot: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    costs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }
}
