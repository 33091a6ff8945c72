package graft.queries

import graft.SparkSpec

/** q68's iterative loop must behave identically under both lineage-
  * truncation modes: localCheckpoint (single-JVM default) and reliable
  * checkpoint() to a fault-tolerant dir (the production posture behind
  * GRAFT_CHECKPOINT_DIR — survives executor loss mid-iteration). */
class CheckpointSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("q68 reliable-checkpoint mode writes round files and matches local mode") {
    val tmp = java.nio.file.Paths.get(tmpDir("graft_ckpt"))
    val local = LlmOps.q68WithCheckpoint(None)(spark, sf)
      .collect().map(_.toString).toSeq
    graft.core.CacheScope.drain()
    val reliable = LlmOps.q68WithCheckpoint(Some(tmp.toString))(spark, sf)
      .collect().map(_.toString).toSeq
    graft.core.CacheScope.drain()
    assert(local.nonEmpty && local == reliable,
      s"mode divergence: ${local.size} local rows vs ${reliable.size} reliable")
    // the reliable path really ran: the loop's rounds landed as rdd-*
    // checkpoint files under the temp dir
    import scala.jdk.CollectionConverters._
    val rddDirs = java.nio.file.Files.walk(tmp).iterator().asScala
      .count(_.getFileName.toString.startsWith("rdd-"))
    assert(rddDirs > 0, s"no rdd-* checkpoint dirs under $tmp")
  }
}
