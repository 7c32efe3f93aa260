package graft.fs

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.SparkTestSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSessionBridge
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local file system: what `file:` resolves to, the same
  * observable results as Hadoop's stock `LocalFileSystem`/`LocalFs`,
  * and no `chmod`/`readlink` process on the streaming and write paths.
  * Every assertion is a count or an equality.
  */
class LocalFileSystemsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val LocalUri = new URI("file:///")

  private def withTempDir[T](f: NioPath => T): T = {
    val dir = Files.createTempDirectory("graft_localfs_spec")
    try f(dir)
    finally FileSystem.getLocal(new Configuration()).delete(
      new Path(dir.toUri), true)
  }

  test("file: resolves to the graft classes in a session with no graft settings") {
    assert(!spark.sparkContext.getConf.getAll.exists { case (k, _) =>
      k.contains("fs.file.") || k.contains("fs.AbstractFileSystem.") })
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
        spark.sessionState.newHadoopConf())) {
      assert(conf.getPropertySources("fs.file.impl").toSeq == Seq("core-site.xml"))
      val fs = FileSystem.get(LocalUri, conf)
      assert(fs.getClass == classOf[GraftLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
        classOf[GraftRawLocalFileSystem])
      val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      assert(afs.getClass == classOf[GraftLocalFs])
      assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass ==
        classOf[GraftRawLocalFs])
    }
  }

  /** Hadoop configuration that resolves `file:` to the stock classes. */
  private def stockConf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  /** Runs one fixed sequence of file-system calls under `root` and
    * returns what they did — modes, listings, sidecar bytes, link
    * statuses, exception classes — with `root` written as `<root>`.
    */
  private def transcript(conf: Configuration, root: NioPath): Seq[String] = {
    val fs = FileSystem.newInstance(LocalUri, conf)
    val fc = FileContext.getLocalFSFileContext(conf)
    val out = Seq.newBuilder[String]
    def rel(s: Any): String = String.valueOf(s).replace(root.toString, "<root>")
    def p(name: String) = new Path(root.resolve(name).toUri)
    def mode(name: String): String = {
      val f = root.resolve(name)
      if (Files.exists(f)) name + " " +
        Integer.toOctalString(Files.getAttribute(f, "unix:mode").asInstanceOf[Int])
      else s"$name absent"
    }
    def listing(dir: String): String = Files.list(root.resolve(dir))
      .iterator.asScala.map(_.getFileName.toString).toSeq.sorted
      .mkString(s"$dir: ", ",", "")
    def write(path: Path, text: String, flags: EnumSet[CreateFlag]): Unit = {
      val o = fc.create(path, flags, Options.CreateOpts.createParent())
      try o.write(text.getBytes(UTF_8)) finally o.close()
    }
    try {
      // FileSystem: create (parents made by mkdirs), explicit modes
      val o = fs.create(p("a/b/f1"))
      try o.write("hello".getBytes(UTF_8)) finally o.close()
      out ++= Seq(mode("a"), mode("a/b"), mode("a/b/f1"),
        mode("a/b/.f1.crc"), listing("a/b"),
        "crc " + Files.readAllBytes(root.resolve("a/b/.f1.crc")).toSeq)
      fs.create(p("f640"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(p("d"))
      fs.mkdirs(p("d750"), new FsPermission("750"))
      fs.mkdirs(p("sticky"))
      fs.setPermission(p("sticky"), new FsPermission("1777"))
      fs.setPermission(p("a/b/f1"), new FsPermission("600"))
      out ++= Seq("f640", ".f640.crc", "d", "d750", "sticky", "a/b/f1",
        "a/b/.f1.crc").map(mode)
      // FileContext: create and rename with and without OVERWRITE
      val none = EnumSet.of(CreateFlag.CREATE)
      write(p("r/src1"), "one", none)
      fc.rename(p("r/src1"), p("r/dst"))
      out += listing("r")
      write(p("r/src2"), "two", none)
      out += "rename onto existing: " +
        Try(fc.rename(p("r/src2"), p("r/dst"))).fold(_.getClass.getName, _ => "-")
      fc.rename(p("r/src2"), p("r/dst"), Options.Rename.OVERWRITE)
      out ++= Seq(listing("r"), mode("r/dst"), mode("r/.dst.crc"),
        "dst " + new String(Files.readAllBytes(root.resolve("r/dst")), UTF_8))
      // link status of a file, a directory, a missing path and a symlink
      Files.createSymbolicLink(root.resolve("link"), root.resolve("a/b/f1"))
      for (name <- Seq("a/b/f1", "a", "missing", "link");
           path <- Seq(p(name), new Path(root.resolve(name).toString))) {
        for ((api, st) <- Seq("fc" -> Try(fc.getFileLinkStatus(path)),
            "fs" -> Try(fs.getFileLinkStatus(path))))
          out += rel(s"$api $path: " + st.map(s =>
            Seq(s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPath,
              if (s.isSymlink) s.getSymlink else "-").mkString(" "))
            .recover { case e => e.getClass.getName }.get)
      }
    } finally fs.close()
    out.result()
  }

  test("same permissions, .crc sidecars, renames and link statuses as stock") {
    val graftConf = new Configuration()
    assert(FileSystem.get(LocalUri, graftConf).getClass ==
      classOf[GraftLocalFileSystem])
    val stock = withTempDir(transcript(stockConf, _))
    val graft = withTempDir(transcript(graftConf, _))
    assert(graft == stock)
    assert(stock.exists(_.endsWith("FileAlreadyExistsException")))
    assert(stock.contains("sticky 41777"))
    assert(stock.count(_.endsWith("java.io.FileNotFoundException")) == 4)
    // the unqualified link path reads as a link through both APIs
    assert(stock.count(_.endsWith(" true 5 <root>/link file:<root>/a/b/f1")) == 2)
  }

  /** Commands of the processes the JVM starts during `body`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_localfs_spec", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }

  private def forks(cmds: Seq[String]): Seq[String] = cmds.filter(c =>
    c.split("\\s+").headOption.exists(h =>
      h.endsWith("chmod") || h.endsWith("readlink")))

  test("a RocksDB streaming query and a parquet write start no chmod or readlink") {
    // RocksDB set explicitly, in a session of the test's own
    val rocks = GraftSessionBridge.cloneSession(spark)
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx = rocks.sqlContext
    withTempDir { dir =>
      // control: the stock file system forks, and the recording sees it
      val stockForks = forks(processStarts {
        val fs = FileSystem.newInstance(LocalUri, stockConf)
        try fs.create(new Path(dir.resolve("control").toUri)).close()
        finally fs.close()
      })
      assert(stockForks.nonEmpty)
      val commands = processStarts {
        val in = MemoryStream[Int]
        val q = in.toDF().groupBy(col("value") % 3).count()
          .writeStream.format("memory").queryName("localfs_spec")
          .outputMode("complete")
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .start()
        try {
          in.addData(1, 2, 3)
          q.processAllAvailable()
          in.addData(4, 5)
          q.processAllAvailable()
        } finally q.stop()
        assert(q.recentProgress.count(_.numInputRows > 0) == 2)
        rocks.table("localfs_spec").write.parquet(dir.resolve("out").toString)
      }
      assert(forks(commands).isEmpty, commands.mkString("\n"))
      assert(rocks.read.parquet(dir.resolve("out").toString)
        .agg(sum("count")).as[Long].head() == 5)
    }
  }
}
