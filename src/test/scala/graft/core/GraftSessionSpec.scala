package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkSpec
import graft.plans.AsOfJoinStrategy

/** The tested session is the shipped session: `SparkSpec` builds through
  * `GraftSession.builder`, so the suites run with the shipped settings,
  * the as-of strategy planned once, and every engine function resolvable
  * — the same posture Bench, Verify and the tools get. */
class GraftSessionSpec extends SparkSpec {

  test("every shipped setting holds in the tested session") {
    GraftSession.conf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
  }

  test("file: resolves to the fork-free local filesystem through both Hadoop APIs") {
    // FileSystem's cache keys on scheme and authority, not on fs.file.impl:
    // this is what shows the suites really run the engine's classes
    val conf = spark.sessionState.newHadoopConf()
    val uri = java.net.URI.create("file:///")
    assert(org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[GraftLocalFileSystem])
    assert(org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
      .getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("the as-of join strategy is planned exactly once") {
    assert(spark.sessionState.planner.strategies.count(_ == AsOfJoinStrategy) == 1)
  }

  test("all nine engine functions resolve, bloom pair included") {
    Seq("cosine_sim", "avro_encode", "avro_decode", "minhash_sig", "simhash64",
      "sorted_intersect", "squared_l2", "bloom_filter_agg", "might_contain")
      .foreach { f =>
        assert(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(f)),
          s"$f not registered")
      }
    val hits = spark.sql(
      """SELECT id FROM range(20) WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(id), 100L, 4096L) FROM range(10)),
        |  xxhash64(id))""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert((0L until 10L).toSet.subsetOf(hits)) // a Bloom filter has no false negatives
  }

  test("attaching to a running session installs nothing twice") {
    val again = GraftSession.getOrCreate("local[4]", 4, Map("spark.ui.enabled" -> "false"))
    assert(again eq spark)
    assert(again.sessionState.planner.strategies.count(_ == AsOfJoinStrategy) == 1)
  }

  test("LocalDir: SPARK_LOCAL_DIRS wins, then GRAFT_LOCAL_DIR, then the tmpfs probe") {
    assert(GraftSession.localDir(
      Map("SPARK_LOCAL_DIRS" -> "/tmp/a", "GRAFT_LOCAL_DIR" -> "/tmp/b")).isEmpty)
    assert(GraftSession.localDir(Map("GRAFT_LOCAL_DIR" -> "-")).isEmpty)
    assert(GraftSession.localDir(Map("GRAFT_LOCAL_DIR" -> "/tmp/b")).contains("/tmp/b"))
    val shm = Paths.get("/dev/shm")
    val probe = Option.when(Files.isDirectory(shm) && Files.isWritable(shm))(
      "/dev/shm/graft-spark-local")
    assert(GraftSession.localDir(Map.empty) == probe)
    // the session leaves spark.local.dir unset when Spark would ignore it
    if (sys.env.contains("SPARK_LOCAL_DIRS"))
      assert(spark.sparkContext.getConf.getOption("spark.local.dir").isEmpty)
  }
}
