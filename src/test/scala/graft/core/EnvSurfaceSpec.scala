package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's own environment surface is exactly the deployment
  * settings the README's "Configuration" table lists: paths, core
  * count, scale-factor dir, the state-store backend and Bench's quiesce
  * gate. Query and kernel parameters are constants. A new variable has
  * to be named here and in that table in the same change. */
class EnvSurfaceSpec extends AnyFunSuite {

  private val kept = Set(
    "GRAFT_LOCAL_DIR", "GRAFT_CHECKPOINT_DIR", "GRAFT_LABEL_DIR",
    "GRAFT_STATE_STORE", "GRAFT_BENCH_QUIESCE",
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")

  private val literal = "\"((?:SPARK_)?GRAFT_[A-Z0-9_]+)\"".r

  private def scalaSources(root: Path): Seq[Path] = {
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally stream.close()
  }

  test("src/main names exactly the kept GRAFT_/SPARK_GRAFT_ variables") {
    val main = graft.Bench.repoRoot.resolve("src/main/scala")
    assert(Files.isDirectory(main), s"no source tree at $main")
    val named = scalaSources(main).flatMap { p =>
      literal.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    assert(named == kept,
      s"added: ${(named -- kept).toSeq.sorted}; missing: ${(kept -- named).toSeq.sorted}")
  }
}
