package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

/** `file:` is bound to the engine's local filesystem
  * ([[graft.LocalFileSystem]], [[graft.LocalFs]]): every write the engine
  * makes runs without a `chmod` or `readlink` process, and every answer
  * is the one Hadoop's `LocalFileSystem` gives. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** The command line of each process started while `body` ran,
    * from an in-process JFR recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(file) }
  }

  test("parquet, saveAsTable, a ledger mark and a 3-batch AvailableNow stream start no chmod or readlink") {
    val root = Files.createTempDirectory("graft-forks").toString
    try {
      val starts = processStarts {
        Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$root/pq")
        Seq((1L, "a")).toDF("id", "name").write
          .option("path", s"$root/tbl").saveAsTable("local_fs_spec_t")
        graft.operators.FileLedger.append(spark, s"$root/_ledger", Seq("calls" -> "d0.csv"))
        (1 to 3).foreach(i => Seq((i.toLong, s"n$i")).toDF("id", "name")
          .coalesce(1).write.mode("append").parquet(s"$root/src"))
        val q = spark.readStream.schema("id BIGINT, name STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
          .writeStream.format("parquet").option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      }
      assert(spark.read.parquet(s"$root/out").count() == 3)
      val forks = starts.filter(_.split(' ').head.split('/').last.matches("chmod|readlink"))
      assert(forks.size == 0, s"chmod/readlink starts, first: ${forks.take(3)}")
    } finally spark.sql("DROP TABLE IF EXISTS local_fs_spec_t")
  }

  /** Mode (file type and permission bits) of every path `fs` leaves for
    * the same calls: default and explicit permissions, umask applied, a
    * sticky bit, and the checksum sidecars. */
  private def modes(fs: FileSystem, root: JPath): Map[String, AnyRef] = {
    def p(name: String) = new Path(root.resolve(name).toUri)
    fs.mkdirs(p("d/e"))
    fs.create(p("d/e/f")).close()
    fs.mkdirs(p("x"), new FsPermission("777"))
    fs.create(p("x/g"), new FsPermission("666"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.create(p("h")).close()
    fs.setPermission(p("h"), new FsPermission("640"))
    fs.mkdirs(p("s"))
    fs.setPermission(p("s"), new FsPermission("1777"))
    Seq("d", "d/e", "d/e/f", "d/e/.f.crc", "x", "x/g", "x/.g.crc", "h", ".h.crc", "s")
      .map(n => n -> Files.getAttribute(root.resolve(n), "unix:mode")).toMap
  }

  test("file, .crc and directory modes equal those Hadoop's LocalFileSystem gives") {
    for (umask <- Seq("022", "027")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def under(fs: FileSystem) = {
        fs.initialize(URI.create("file:///"), conf)
        try modes(fs, Files.createTempDirectory("graft-modes")) finally fs.close()
      }
      val hadoop = under(new org.apache.hadoop.fs.LocalFileSystem)
      assert(under(new LocalFileSystem) == hadoop, s"umask $umask")
    }
  }

  test("link status: a real symlink, a dangling one and plain paths answer as in Hadoop") {
    val root = Files.createTempDirectory("graft-links")
    Files.write(root.resolve("t"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("t"))
    Files.createSymbolicLink(root.resolve("dl"), root.resolve("missing"))
    val conf = new Configuration()
    def statuses(fs: FileSystem) = {
      fs.initialize(URI.create("file:///"), conf)
      for (name <- Seq("t", "l", "dl", "missing", "");
           path <- Seq(new Path(root.resolve(name).toString), new Path(root.resolve(name).toUri)))
        yield Try(fs.getFileLinkStatus(path).toString).toEither.left.map(_.getClass)
    }
    val hadoop = statuses(new org.apache.hadoop.fs.RawLocalFileSystem)
    assert(hadoop.exists(_.exists(_.contains("isSymlink=true"))), hadoop)
    assert(statuses(new RawLocalFileSystem) == hadoop)
  }

  test("the session resolves file: to the engine's classes; a user setting wins") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[LocalFileSystem])
    assert(new Path(spark.conf.get("spark.sql.warehouse.dir")).getFileSystem(conf).getClass ==
      classOf[LocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass == classOf[LocalFs])

    val defaults = new Configuration()
    GraftSessionExtensions.bindLocalFs(defaults)
    assert(GraftSessionExtensions.LocalFsKeys.forall { case (k, v) => defaults.get(k) == v })
    val user = new Configuration()
    user.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    user.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    GraftSessionExtensions.bindLocalFs(user)
    assert(user.get("fs.file.impl") == "org.apache.hadoop.fs.LocalFileSystem")
    assert(user.get("fs.AbstractFileSystem.file.impl") == "org.apache.hadoop.fs.local.LocalFs")
  }
}
