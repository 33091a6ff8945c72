package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ingest.{CsvSource, ParquetSink, Pipeline}

/** The engine's local filesystem starts no process for the writes a
  * parquet job and a checkpointed stream make, and answers as Hadoop's
  * stock local filesystem does. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  /** Commands of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_localfs_", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  private def forked(cmds: Seq[String], tool: String): Seq[String] =
    cmds.filter(c => Paths.get(c.trim.split("\\s+").head).getFileName.toString == tool)

  test("a parquet write and a checkpointed stream start no chmod or readlink") {
    val cmds = processStarts {
      val out = tmpDir("graft_localfs_pq_")
      spark.range(0, 1000, 1, 4).toDF("id").write.mode("overwrite").parquet(s"$out/t")
      assert(spark.read.parquet(s"$out/t").count() == 1000)

      val src = tmpDir("graft_localfs_src_")
      (0 until 3).foreach { i =>
        Files.write(Paths.get(src, s"f$i.csv"),
          (CsvSource.bcbHeader + s"\n2022;1º;C;B;$i;BANCO $i;2;3;4;5;6;7;8;9\n")
            .getBytes(Charset.forName("ISO-8859-1")))
      }
      val sink = tmpDir("graft_localfs_sink_")
      val q = Pipeline.run(spark, src, ParquetSink(sink, tmpDir("graft_localfs_ckpt_")),
        Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      assert(spark.read.parquet(sink).count() == 3)
    }
    // Hadoop's one-time setsid probe and Spark's getconf may fall inside
    // the window; only the per-file tools count
    assert(forked(cmds, "chmod").isEmpty, cmds.mkString("\n"))
    assert(forked(cmds, "readlink").isEmpty, cmds.mkString("\n"))
  }

  private val conf = new Configuration()
  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(root, conf); fs
  }
  private def graftFs: FileSystem = {
    val fs = new GraftLocalFileSystem(); fs.initialize(root, conf); fs
  }
  private def stockFc = FileContext.getFileContext(root, conf)
  private def graftFc = FileContext.getFileContext(root, spark.sessionState.newHadoopConf())

  private def perms(p: String) = PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("created files and directories get the stock modes, and a .crc sidecar") {
    Seq("stock" -> stockFs, "graft" -> graftFs).foreach { case (name, fs) =>
      val d = tmpDir(s"graft_localfs_${name}_")
      assert(fs.mkdirs(new Path(s"$d/a/b")))
      fs.create(new Path(s"$d/a/b/f")).close()
      assert(perms(s"$d/a") == "rwxr-xr-x", name)
      assert(perms(s"$d/a/b") == "rwxr-xr-x", name)
      assert(perms(s"$d/a/b/f") == "rw-r--r--", name)
      assert(Files.exists(Paths.get(s"$d/a/b/.f.crc")), name)
    }
  }

  test("a symlink reports isSymlink and its target through FileSystem and FileContext") {
    val d = tmpDir("graft_localfs_link_")
    Files.write(Paths.get(d, "target"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(Paths.get(d, "link"), Paths.get(d, "target"))
    val link = new Path(s"$d/link")
    val viaFs = Seq(stockFs, graftFs).map(_.getFileLinkStatus(link))
    assert(!stockFc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    val viaFc = Seq(stockFc, graftFc).map(_.getFileLinkStatus(link))
    (viaFs ++ viaFc).foreach { st =>
      assert(st.isSymlink, st)
      assert(st.getSymlink.toUri.getPath == s"$d/target", st)
    }
    assert(viaFs(0).getSymlink == viaFs(1).getSymlink)
    assert(viaFc(0).getSymlink == viaFc(1).getSymlink)
    // a plain file is no link, and reads as its plain status
    val plain = new Path(s"$d/target")
    assert(!graftFs.getFileLinkStatus(plain).isSymlink)
    assert(graftFs.getFileLinkStatus(plain).getLen == stockFs.getFileLinkStatus(plain).getLen)
  }

  test("a missing path throws FileNotFoundException through both APIs") {
    val missing = new Path(s"${tmpDir("graft_localfs_missing_")}/nope")
    intercept[FileNotFoundException](graftFs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](graftFc.getFileLinkStatus(missing))
    intercept[FileNotFoundException](stockFs.getFileLinkStatus(missing))
  }

  test("a sticky-bit setPermission still lands") {
    val d = tmpDir("graft_localfs_sticky_")
    graftFs.setPermission(new Path(d), new FsPermission(Integer.parseInt("1777", 8).toShort))
    val mode = Files.getAttribute(Paths.get(d), "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8),
      Integer.toOctalString(mode))
  }
}
