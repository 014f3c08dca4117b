package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Using

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, to_timestamp}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.streaming.LogPipeline

/** The fork-free local filesystem is what Spark uses, writes what stock
  * Hadoop writes (modes, `.crc` sidecars, link status), and starts no
  * `chmod`/`readlink` process on the sink or checkpoint path.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val fileRoot = URI.create("file:///")

  private def initialized[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(fileRoot, conf); fs
  }

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Relative name → (mode bits with the sticky bit, content) of every path under `dir`. */
  private def tree(dir: JPath): Map[String, (Int, Seq[Byte])] =
    Using.resource(Files.walk(dir))(_.iterator.asScala.map { p =>
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty
      dir.relativize(p).toString -> (mode, bytes)
    }.toMap)

  private def under(dir: JPath, rel: String) = new Path(s"${dir.toUri}$rel")

  test("Spark's file system and FileContext resolve to the fork-free classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(fileRoot, hc).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("files, .crc sidecars and nested mkdirs get stock Hadoop's modes and bytes") {
    for (umask <- Seq("022", "077")) {
      val Seq(stock, ours) = Seq(new LocalFileSystem, new ForkFreeLocalFileSystem).map { fs0 =>
        val fs = initialized(fs0, conf(umask))
        val dir = Files.createTempDirectory("graft-localfs")
        val out = fs.create(under(dir, "a/b/part-0.parquet"))
        out.write("graft".getBytes("UTF-8")); out.close()
        fs.create(under(dir, "c/f.txt")).close()
        fs.mkdirs(under(dir, "c/d/e"))
        tree(dir)
      }
      assert(ours.keySet.exists(_.endsWith(".crc")), ours.keySet)
      assert(ours == stock, s"umask $umask")
    }
  }

  test("explicit setPermission matches stock Hadoop, the sticky-bit fallback included") {
    for (mode <- Seq("640", "755", "1777")) {
      val perm = new FsPermission(java.lang.Short.parseShort(mode, 8))
      val Seq(stock, ours) = Seq(new LocalFileSystem, new ForkFreeLocalFileSystem).map { fs0 =>
        val fs = initialized(fs0, conf())
        val dir = Files.createTempDirectory("graft-localfs")
        fs.create(under(dir, "f")).close()
        fs.mkdirs(under(dir, "d"))
        Seq("f", "d").foreach(n => fs.setPermission(under(dir, n), perm))
        tree(dir) - ""
      }
      assert(ours == stock, s"mode $mode")
      assert(ours("d")._1 == Integer.parseInt(mode, 8))
    }
  }

  test("getFileLinkStatus matches stock Hadoop for a file, a dir, a symlink and a missing path") {
    val Seq(stock, ours) = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
      .map(initialized(_, conf()))
    val dir = Files.createTempDirectory("graft-localfs")
    val file = Files.writeString(dir.resolve("f"), "graft")
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) s.getSymlink else null)
    // a qualified path and a bare one: stock Hadoop reports a link as a
    // link only for the bare form
    for (p <- Seq(file, sub, link); path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(view(ours.getFileLinkStatus(path)) == view(stock.getFileLinkStatus(path)), path)
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = under(dir, "missing")
    val expected = intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    val got = intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    assert(got.getMessage == expected.getMessage)
  }

  /** Command lines of the processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    rec.dump(dump)
    rec.close()
    RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
  }

  private def crcFiles(dir: String): Long =
    Using.resource(Files.walk(Paths.get(dir)))(_.filter(_.toString.endsWith(".crc")).count())

  test("the epoch sink and a two-batch ingest fork no chmod or readlink") {
    import spark.implicits._
    val batch = (for (d <- 1 to 3; s <- Seq("ec2", "eks"); i <- 0 until 4)
      yield (f"2024-05-0$d%d 10:0$i%d:00", s, s"$s line $i")).toDF("ts", "source", "message")
      .withColumn("ts", to_timestamp(col("ts")))
    val store = Files.createTempDirectory("graft-localfs-store").toString

    val accessLine =
      """46.99.153.40 - - [29/Jul/2021:15:32:33 +0000] "GET /index.html HTTP/1.1" 200 173 "-" "curl/7.68.0""""
    val in = Files.createTempDirectory("graft-localfs-in")
    Files.createDirectories(in.resolve("ec2"))
    for (i <- 0 until 2)
      Files.writeString(in.resolve(s"ec2/f$i.log"),
        (Seq.fill(4)(accessLine) :+ "### not a log line ###").mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("graft-localfs-out").toString
    val ckpt = Files.createTempDirectory("graft-localfs-ckpt").toString

    var batches = 0
    val forks = processStarts {
      LogPipeline.idempotentBatchWrite(batch, s"$store/logs", 0L, Seq("log_date", "source"))
      val q = LogPipeline.startIngest(spark, in.toString, out, ckpt,
        Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    val fileForks = forks.filter(c => """(^|[\s/])(chmod|readlink)(\s|$)""".r.findFirstIn(c).isDefined)
    assert(fileForks.isEmpty,
      s"${fileForks.size} of ${forks.size} process starts, e.g. ${fileForks.take(3)}")

    assert(batches == 2)
    assert(spark.read.parquet(s"$store/logs").count() == batch.count())
    val stored = spark.read.parquet(s"$out/logs").count()
    val dead = spark.read.parquet(s"$out/dlq").count()
    assert(stored == 8 && dead == 2)
    Seq(store, out, ckpt).foreach(d => assert(crcFiles(d) > 0, d))
  }
}
