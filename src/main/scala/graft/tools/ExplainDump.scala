package graft.tools

import java.nio.file.{Files, Path, Paths}

/** Optimization-round evidence dumper: writes the FINALIZED (post-AQE)
  * `explain("formatted")` output of selected declared queries to
  * plans/<tag>/<query>_<suffix>.txt — the before/after plan artifacts the
  * optimization judge checks claims against (the judge cannot run Spark).
  *
  * The dump EXECUTES each query first (noop sink — ADVICE r15: a collect
  * of a large-output query would materialize the whole result on the
  * driver just to finalize AQE) so the dump shows runtime
  * join-strategy/coalesce decisions instead of `isFinalPlan=false`
  * placeholders. Runs at bench-like settings (local[8], AQE defaults).
  *
  * Output lands under `<repo root>/plans/<tag>/` — the root is the
  * nearest ancestor of CWD holding build.sbt ([[graft.Bench]]'s
  * spelling), so a checkout elsewhere or a stray CWD cannot strand the
  * artifacts (ADVICE r15).
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <tag> <suffix> <q1> [q2 ...]
  * e.g.   runMain graft.tools.ExplainDump /root/testdata/sf0.01 r15 before q173_setsim_join */
object ExplainDump {
  private def repoRoot(): Path = {
    var cur = Paths.get(sys.props("user.dir")).toAbsolutePath
    var found: Path = null
    while (cur != null && found == null) {
      if (Files.exists(cur.resolve("build.sbt"))) found = cur
      cur = cur.getParent
    }
    if (found == null) Paths.get(sys.props("user.dir")) else found
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ExplainDump <sfDir> <tag> <suffix> <query> [query ...]")
    val sfDir = args(0)
    val tag = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    // validate BEFORE starting a session: an unknown name must fail with
    // the valid list, not a bare NoSuchElementException mid-run
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — valid names: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val spark = graft.core.GraftSession.builder("local[8]", 8,
      Map("spark.ui.enabled" -> "false")).getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val outDir = repoRoot().resolve("plans").resolve(tag)
      Files.createDirectories(outDir)
      names.foreach { name =>
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // Finalize AQE without a driver-side materialization (ADVICE
        // r15). NOT df.write.format("noop") / df.foreach: both build a
        // NEW QueryExecution around the logical plan, leaving THIS
        // df.queryExecution un-executed (isFinalPlan=false — the
        // placeholder dump the tool exists to avoid). Executing the
        // df's own executedPlan RDD and discarding rows on the workers
        // finalizes the exact plan the dump prints.
        df.queryExecution.executedPlan.execute().foreach(_ => ())
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"),
          s"// $name @ $sfDir — explain(\"formatted\"), post-execution " +
            s"(AQE final)\n$formatted\n")
        graft.core.CacheScope.drain()
        println(s"[explain] wrote ${outDir.resolve(s"${name}_$suffix.txt")}")
      }
    } finally spark.stop()
  }
}
