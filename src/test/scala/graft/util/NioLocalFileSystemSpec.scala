package graft.util

import graft.SparkSpec
import graft.etl.{MergeTreeWriter, SnapshotStore}
import graft.operators.RowLevelOps
import graft.streaming.StreamDrain
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.functions._

import java.net.URI
import java.nio.file.{Files, Paths}

/** [[NioLocalFileSystem]] gives every file, `.crc` file and directory
  * the mode Hadoop's own local filesystem gives it, without forking
  * `chmod`; the engine's sessions write through it. */
class NioLocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private val local = new URI("file:///")

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_niofs_$name").toString

  /** Commands of the processes this JVM started while `f` ran, read
    * from a JFR recording of `jdk.ProcessStart`. */
  private def processesDuring(f: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("graft_niofs", ".jfr")
    try {
      rec.dump(dump)
      import scala.jdk.CollectionConverters._
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def chmods(cmds: Seq[String]): Seq[String] =
    cmds.filter(_.split("\\s+").headOption.exists(_.endsWith("chmod")))

  /** `path` -> "rwxr-x---" for every entry under `root`, relative. */
  private def modes(root: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))
    }.toMap
  }

  /** The same tree written through `fs`: nested dirs, a default-mode
    * file, explicit-mode dirs and files, and a mode change. */
  private def writeTree(fs: FileSystem, root: String): Unit = {
    val r = new Path(root)
    fs.mkdirs(new Path(r, "a/b/c"))
    val out = fs.create(new Path(r, "a/b/c/data.bin"))
    out.write(Array.fill[Byte](100)(7)); out.close()
    fs.mkdirs(new Path(r, "x/y"), new FsPermission("750"))
    val o2 = fs.create(new Path(r, "x/y/f.bin"), new FsPermission("640"),
      true, 4096, 1.toShort, 1L << 20, null)
    o2.write(1); o2.close()
    fs.setPermission(new Path(r, "a/b/c/data.bin"), new FsPermission("600"))
  }

  /** A tree written through `FileContext`, the streaming checkpoints'
    * API, over the `file:` AbstractFileSystem class `afs`. */
  private def writeTreeFc(conf: Configuration, afs: String,
      root: String): Unit = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", afs)
    val fc = FileContext.getFileContext(local, c)
    val r = new Path(root)
    fc.mkdir(new Path(r, "s/offsets"), FsPermission.getDirDefault, true)
    val out = fc.create(new Path(r, "s/offsets/0"),
      java.util.EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())
    out.write(Array.fill[Byte](10)(1)); out.close()
    fc.rename(new Path(r, "s/offsets/0"), new Path(r, "s/offsets/1"))
  }

  for (umask <- Seq(None, Some("077")))
    test(s"files, .crc files and dirs get Hadoop's modes " +
        s"(umask ${umask.getOrElse("default")})") {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val hadoop = new LocalFileSystem()
      hadoop.initialize(local, conf)
      val nio = new NioLocalFileSystem()
      nio.initialize(local, conf)
      val (h, n) = (tmp("hadoop"), tmp("nio"))
      val hadoopForks = chmods(processesDuring {
        writeTree(hadoop, h)
        writeTreeFc(conf, classOf[org.apache.hadoop.fs.local.LocalFs].getName,
          h)
      })
      val fallbacks = NioLocalFileSystem.hadoopFallbacks.get
      val nioForks = chmods(processesDuring {
        writeTree(nio, n)
        writeTreeFc(conf, classOf[NioLocalFs].getName, n)
      })
      val expected = modes(h)
      assert(expected.keySet.exists(_.endsWith(".data.bin.crc")))
      assert(expected.keySet.exists(_.endsWith("offsets/.1.crc")))
      assert(modes(n) === expected)
      if (umask.isDefined)
        assert(expected.values.forall(_.endsWith("---")), expected)
      if (!NativeIO.isAvailable)
        assert(hadoopForks.nonEmpty, "JFR saw none of Hadoop's chmod forks")
      assert(nioForks.isEmpty, nioForks)
      assert(NioLocalFileSystem.hadoopFallbacks.get === fallbacks)
    }

  test("a sticky-bit mode takes Hadoop's path") {
    assume(!NativeIO.isAvailable, "native IO sets every mode without a fork")
    val nio = new NioLocalFileSystem()
    nio.initialize(local, new Configuration())
    val dir = new Path(tmp("sticky"), "d")
    nio.mkdirs(dir)
    val before = NioLocalFileSystem.hadoopFallbacks.get
    nio.setPermission(dir, new FsPermission("1777"))
    assert(NioLocalFileSystem.hadoopFallbacks.get === before + 1)
    val mode = Files.getAttribute(Paths.get(dir.toString), "unix:mode")
      .asInstanceOf[Int]
    assert((mode & 0x3ff) === 0x3ff, f"mode $mode%o") // 01777
  }

  test("a snapshot commit, a MergeTreeWriter write and a stream drain " +
      "set every mode without Hadoop's path or a chmod fork") {
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(local, hconf).getClass ===
      classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(local, hconf).getClass ===
      classOf[NioLocalFs])
    val before = NioLocalFileSystem.hadoopFallbacks.get
    val df = (1 to 300).map(i => (i.toLong, s"2024-0${1 + i % 3}",
      java.sql.Timestamp.valueOf(s"2024-0${1 + i % 3}-05 00:00:00"),
      i * 0.5)).toDF("id", "m", "ts", "price")
    val base = tmp("engine")
    val cmds = processesDuring {
      val root = s"$base/snap"
      SnapshotStore.write(df, root, "m", "ts")
      RowLevelOps.updateCommit(spark, root, col("id") % 25 === 1,
        Seq("price" -> (col("price") + 1.0)), "m", "ts")
      MergeTreeWriter.write(df, s"$base/mt", "m", "ts")
      df.write.parquet(s"$base/src")
      val counts = StreamDrain.toMemory(
        spark.readStream.schema(df.schema).parquet(s"$base/src")
          .groupBy("m").count(),
        "complete", "graft_niofs_counts", availableNow = true,
        checkpoint = Some(s"$base/ckpt"))
      assert(counts.as[(String, Long)].collect().toMap ===
        Map("2024-01" -> 100L, "2024-02" -> 100L, "2024-03" -> 100L))
    }
    assert(chmods(cmds).isEmpty, chmods(cmds).take(5))
    assert(NioLocalFileSystem.hadoopFallbacks.get === before)
    assert(new java.io.File(s"$base/ckpt/offsets").list().nonEmpty)
  }
}
