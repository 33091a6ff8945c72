package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query subset (local iteration;
    // the driver always passes exactly two args → full dump)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val cpus = graft.core.GraftSession.localCpus
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus,
      Map("spark.ui.enabled" -> "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // the declared-surface manifest, written BEFORE any query runs: a
    // query that crashes below leaves no dump dir, and a no-oracle
    // query leaves no oracle_sql.json key either — without this file a
    // downstream gate (tools/second_sf_sweep.py) cannot tell "declared
    // but crashed" from "never existed"
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      Bench.json.writeValueAsString(SparkEntry.queries.keys.toSeq.sorted))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.core.CacheScope.drain() // per-query cache lifecycle
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Bench.json.writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
