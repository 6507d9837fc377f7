package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase
import graft.codec.ConfluentWire
import graft.gen.{EventGenerator, KafkaEnvelope}
import graft.ingest.RawIngest
import graft.medallion.TxMedallion
import graft.schema.InMemorySchemaRegistry

class LocalFsSpec extends SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration
  private val root = URI.create("file:///")

  /** The FileSystem and FileContext `file:` instances Hadoop ships with,
    * built outside the per-JVM cache.
    */
  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(root, new Configuration())
    fs
  }
  private def stockFc: FileContext = FileContext.getFileContext(root, new Configuration())

  /** Mode bits, sticky and setuid/setgid included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** One script of permission-setting calls; returns the mode of every
    * file it leaves under `base`, `.crc` sidecars included.
    */
  private def modesAfter(base: String)(script: String => Unit): Map[String, Int] = {
    script(base)
    Files.walk(Paths.get(base)).iterator().asScala
      .map(p => Paths.get(base).relativize(p).toString -> mode(p.toString)).toMap
  }

  private def fsScript(fs: FileSystem)(base: String): Unit = {
    fs.create(new Path(s"$base/f")).close()
    fs.create(new Path(s"$base/g")).close()
    fs.mkdirs(new Path(s"$base/d/e"))
    fs.mkdirs(new Path(s"$base/s"))
    fs.setPermission(new Path(s"$base/f"), new FsPermission("600"))
    fs.setPermission(new Path(s"$base/d"), new FsPermission("750"))
    fs.setPermission(new Path(s"$base/s"), new FsPermission("1777"))
  }

  private def fcScript(fc: FileContext)(base: String): Unit = {
    fc.create(new Path(s"$base/f"), java.util.EnumSet.of(CreateFlag.CREATE),
      CreateOpts.createParent()).close()
    fc.create(new Path(s"$base/g"), java.util.EnumSet.of(CreateFlag.CREATE),
      CreateOpts.createParent()).close()
    fc.mkdir(new Path(s"$base/d/e"), FsPermission.getDirDefault, true)
    fc.mkdir(new Path(s"$base/s"), FsPermission.getDirDefault, true)
    fc.setPermission(new Path(s"$base/f"), new FsPermission("600"))
    fc.setPermission(new Path(s"$base/d"), new FsPermission("750"))
    fc.setPermission(new Path(s"$base/s"), new FsPermission("1777"))
  }

  test("the session resolves file: to graft's classes for both APIs") {
    val fs = FileSystem.get(root, conf)
    assert(fs.getClass == classOf[LocalFs.Fs])
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.getClass == classOf[LocalFs])
    assert(FileSystem.getLocal(conf).getClass == classOf[LocalFs.Fs])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ==
      classOf[LocalFs.Fc])
  }

  test("FileSystem calls leave the mode bits stock LocalFileSystem leaves") {
    val ours = modesAfter(tmpDir("localfs-ours"))(fsScript(FileSystem.get(root, conf)))
    val stock = modesAfter(tmpDir("localfs-stock"))(fsScript(stockFs))
    assert(ours == stock)
    assert(ours("f") == Integer.parseInt("600", 8))
    assert(ours("d") == Integer.parseInt("750", 8))
    assert(ours.contains(".f.crc"), "the checksummed FileSystem writes a .crc sidecar")
    assert(ours("s") == Integer.parseInt("1777", 8), "the sticky bit takes the stock path")
  }

  test("FileContext calls leave the mode bits stock local.LocalFs leaves") {
    val ours = modesAfter(tmpDir("localfc-ours"))(fcScript(FileContext.getFileContext(root, conf)))
    val stock = modesAfter(tmpDir("localfc-stock"))(fcScript(stockFc))
    assert(ours == stock)
    assert(ours("f") == Integer.parseInt("600", 8))
    assert(ours.contains(".f.crc"), "ChecksumFs writes a .crc sidecar")
    assert(ours("s") == Integer.parseInt("1777", 8), "the sticky bit takes the stock path")
  }

  test("a rename onto an existing file fails and leaves both files") {
    val fs = FileSystem.get(root, conf)
    val base = tmpDir("localfs-rename")
    Files.write(Paths.get(base, "a"), "a".getBytes)
    Files.write(Paths.get(base, "b"), "b".getBytes)
    assert(!fs.rename(new Path(s"$base/a"), new Path(s"$base/b")))
    assert(new String(Files.readAllBytes(Paths.get(base, "a"))) == "a")
    assert(new String(Files.readAllBytes(Paths.get(base, "b"))) == "b")
    assert(fs.rename(new Path(s"$base/a"), new Path(s"$base/c")))
    assert(new String(Files.readAllBytes(Paths.get(base, "c"))) == "a")
  }

  test("a mode change keeps a directory's setgid bit as chmod does") {
    def run(fs: FileSystem): Int = {
      val d = tmpDir("localfs-setgid")
      Files.setAttribute(Paths.get(d), "unix:mode", Integer.parseInt("2755", 8))
      fs.setPermission(new Path(d), new FsPermission("750"))
      mode(d)
    }
    assert(run(FileSystem.get(root, conf)) == run(stockFs))
  }

  test("getFileLinkStatus on a real symlink still reports its target") {
    val base = tmpDir("localfs-link")
    val target = Paths.get(base, "target")
    Files.write(target, Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(Paths.get(base, "link"), target)
    val p = new Path(link.toString)

    val fs = FileSystem.get(root, conf).getFileLinkStatus(p)
    val stock = stockFs.getFileLinkStatus(p)
    assert(fs.isSymlink && stock.isSymlink)
    assert(fs.getSymlink == stock.getSymlink)
    assert(fs.getSymlink.toUri.getPath == target.toString)

    val fc = FileContext.getFileContext(root, conf).getFileLinkStatus(p)
    val fcStock = stockFc.getFileLinkStatus(p)
    assert(fc.isSymlink && fcStock.isSymlink)
    assert(fc.getSymlink == fcStock.getSymlink)

    // a plain file is no link, through either API
    assert(!FileSystem.get(root, conf).getFileLinkStatus(new Path(target.toString)).isSymlink)
    assert(!FileContext.getFileContext(root, conf)
      .getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  test("a TxTable append and one ingest + medallion trigger start no child process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gen = new EventGenerator(seed = 5)
    val registry = new InMemorySchemaRegistry
    val base = tmpDir("localfs-forks")
    val t = TxMedallion.tables(spark, base)
    val table = new TxTable(spark, s"$base/append_tx")
    val stream = MemoryStream[KafkaEnvelope]
    stream.addData(gen.envelopes(gen.events(40, duplicateEvery = 6), registry, ConfluentWire, 0))
    val dayStart = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      table.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      RawIngest.run(stream.toDF(), registry, ConfluentWire, s"$base/raw", s"$base/_checkpoints/raw")
        .awaitTermination()
      TxMedallion.run(spark, s"$base/raw", t, s"$base/_checkpoints", dayStart)
    } finally rec.stop()
    val dump = Files.createTempFile("localfs-forks", ".jfr")
    try {
      rec.dump(dump)
      // two housekeeping threads of Spark fork on their own clock, not
      // for these calls: the Cleaner deletes a collected session's
      // artifact directory with `rm -rf` when a GC finds it, and the
      // first heartbeat runs `getconf PAGESIZE` once per JVM
      def background(thread: String) =
        thread.startsWith("Cleaner") || thread.endsWith("-heartbeater")
      val started = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getThread).exists(th => background(th.getJavaName)))
        .map(e => s"${e.getString("command")} on ${Option(e.getThread).map(_.getJavaName).orNull}")
      assert(started.isEmpty, s"child processes started: ${started.mkString("; ")}")
    } finally {
      rec.close()
      Files.delete(dump)
    }
    assert(t.gold.version >= 0, "the trigger committed gold")
  }
}
