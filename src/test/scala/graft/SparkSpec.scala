package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (SURVEY.md §5.2), built by the
  * shipped factory so the tested session is the shipped one. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.builder("local[4]", 4,
    Map("spark.ui.enabled" -> "false")).getOrCreate()

  /** A fresh directory under [[SparkSpec.tmpRoot]]. */
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(SparkSpec.tmpRoot, prefix).toString
}

object SparkSpec {

  /** One root per test JVM for every spec's scratch directories, deleted
    * with everything under it when the JVM exits. */
  lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("graft_spec_")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }
}
