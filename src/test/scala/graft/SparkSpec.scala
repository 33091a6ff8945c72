package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (SURVEY.md §5.2), built by the
  * shipped factory so the tested session is the shipped one. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.builder("local[4]", 4,
    Map("spark.ui.enabled" -> "false")).getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
