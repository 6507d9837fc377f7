package graft.core

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

class IndexCacheSpec extends SparkTestBase {

  test("nested memoization never hits ConcurrentHashMap's recursive-update wall") {
    // pre-fix, an outer build memoizing another key threw
    // IllegalStateException("Recursive update") whenever the two keys
    // landed in the same hash bin — enough key pairs makes a shared
    // bin near-certain
    var built = 0
    (1 to 300).foreach { i =>
      val v = IndexCache.memo(s"ics-outer-$i") {
        IndexCache.memo(s"ics-inner-$i") { built += 1; s"inner-$i" } + "!"
      }
      assert(v == s"inner-$i!")
    }
    assert(built == 300)
    // still build-once: a second lookup re-runs nothing
    val again = IndexCache.memo[String]("ics-outer-1")(fail("must not rebuild"))
    assert(again == "inner-1!")
  }

  test("concurrent same-key callers build once") {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 16).map { _ =>
      new Thread(() => results.add(
        IndexCache.memo("ics-concurrent") { n.incrementAndGet(); "v" }))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.forall(_ == "v") && results.size == 16 && n.get() == 1)
  }

  test("scratch deletes a stale tree at its path before the build sees it") {
    val dir = tmpDir("ics-stale-data")
    val p = IndexCache.scratchPath(spark, "ics-stale", dir)
    Files.createDirectories(Paths.get(p))
    Files.writeString(Paths.get(p, "stale.txt"), "left by an earlier process")
    val got = IndexCache.scratch(spark, "ics-stale", dir) { path =>
      assert(path == p)
      assert(!Files.exists(Paths.get(path)), "the stale tree must be gone")
      Files.createDirectories(Paths.get(path, "built"))
      path
    }
    assert(got == p && Files.exists(Paths.get(p, "built")))
    assert(!Files.exists(Paths.get(p, "stale.txt")))
  }

  test("scratch builds each dir once, at a distinct path per dir") {
    val (d1, d2) = (tmpDir("ics-dir-a"), tmpDir("ics-dir-b"))
    val builds = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(d: String): String =
      IndexCache.scratch(spark, "ics-dirs", d) { path => builds += path; path }
    val (p1, p2) = (get(d1), get(d2))
    assert(p1 != p2 && builds.toSeq == Seq(p1, p2))
    assert(p1.startsWith(s"${org.apache.spark.SparkFiles.getRootDirectory()}/graft_ics-dirs_"))
    // a second call per dir rebuilds nothing
    assert(get(d1) == p1 && get(d2) == p2 && builds.size == 2)
    assert(IndexCache.scratch[String](spark, "ics-dirs", d1)(_ => fail("must not rebuild")) == p1)
  }

  test("scratch paths lie under the driver temp dir that Spark deletes on stop") {
    val root = org.apache.spark.SparkFiles.getRootDirectory()
    assert(root != "." && root != sys.props("java.io.tmpdir"))
    val p = IndexCache.scratchPath(spark, "ics-root", tmpDir("ics-root-data"))
    assert(java.nio.file.Paths.get(p).getParent == java.nio.file.Paths.get(root))
    assert(p.startsWith(s"$root/graft_ics-root_"))
  }

  test("the ledger charges each build its self time under the key prefix") {
    val tag = System.nanoTime()
    val (outer, inner) = (s"ics-self-outer-$tag", s"ics-self-inner-$tag")
    IndexCache.memo(s"$outer:k") {
      Thread.sleep(50)
      IndexCache.memo(s"$inner:k") { Thread.sleep(300); "inner" } + "!"
    }
    val ledger = ArtifactCost.snapshot
    assert(ledger(inner) >= 0.3)
    // without the nesting rule the outer build would be charged the
    // inner one's 300 ms as well, and the sum would count it twice
    assert(ledger(outer) >= 0.05 && ledger(outer) < ledger(inner),
      s"outer ${ledger(outer)} s, inner ${ledger(inner)} s")
    // a memo hit records nothing
    IndexCache.memo[String](s"$outer:k")(fail("must not rebuild"))
    assert(ArtifactCost.snapshot(outer) == ledger(outer))
  }
}
