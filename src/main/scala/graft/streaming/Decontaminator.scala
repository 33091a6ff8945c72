package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming decontamination gate — keeps benchmark/eval text out of a
  * continuously-ingested training corpus (the reference re-forwards
  * everything it sees, `app.py:161-173`; a training pipeline must not).
  *
  * The scoring is q63's exact shingle arithmetic (n-token shingles as
  * chained xxhash64 fingerprints, distinct per doc, overlap = hit
  * fraction ≥ 0.5) re-expressed ROW-LOCAL: the eval set's fingerprints
  * are a set-membership probe per document, so the gate is a pure
  * codegen'd projection + filter — NO aggregation, NO state store, NO
  * watermark. That statelessness is the operational point: the gate
  * drops into any `readStream → writeStream` path (or any batch plan —
  * same function, q103's CORRECTNESS row hash-gates the math) without
  * changing its output mode or recovery story.
  *
  * 100 TB: eval sets are benchmarks — thousands of documents, ~1e6
  * 64-bit fingerprints — so the probe set ships to every task as a
  * broadcast-sized literal (here) or a broadcast variable feeding the
  * identical expression; the corpus is never shuffled, never collected,
  * and each task's work is one sorted-array intersect per document. */
object Decontaminator {

  /** Distinct n-token shingle fingerprints of a `toks` string-array
    * column — q63's shingle kernel (`LlmOps.q63With`), shared so the
    * batch oracle and the streaming gate cannot drift. Pass a column
    * reference or a [[graft.queries.bind]]-ed variable, not an inline
    * `split(...)`, which the lambda would re-run once per element
    * (PlanSpec's lambda audit). */
  def shingleFingerprints(toks: Column, n: Int): Column = {
    require(n >= 2, s"decontamination shingle width must be >= 2, got $n")
    // sequence(1, k) DESCENDS for k <= 0 (q64's gotcha): short docs get
    // an explicit empty fingerprint set instead of a bogus range
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => xxhash64((0 until n).map(o => element_at(toks, i + o)): _*))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** The eval-set fingerprint collection — q103's fixture convention
    * (the doc_id % 97 == 0 documents ARE the benchmark set), factored
    * so the decon gate (q103), the curation funnel (q162/GateStack),
    * and the s100 spec run ONE spelling of the recipe: a change to the
    * residue or the distinct/sort contract lands everywhere or
    * nowhere. Driver-side by the broadcast-probe contract (eval sets
    * are benchmarks — bounded). */
  def evalShingleSet(docs: org.apache.spark.sql.DataFrame,
      n: Int): Seq[Long] =
    docs.withColumn("toks", split(col("text"), " "))
      .filter(col("doc_id") % 97 === 0)
      .select(explode(shingleFingerprints(col("toks"), n)).as("sh"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted

  /** Per-document contamination report over any (doc_id, text) frame,
    * batch or streaming: shingle count, eval-set hits, overlap fraction
    * (NULL for shingle-less docs), and the ≥ 0.5 contamination flag —
    * TOTAL over input docs (a gate that silently drops the unscorable
    * passes contamination through; every doc gets a verdict). */
  def flag(docs: DataFrame, evalShingles: Seq[Long], n: Int): DataFrame = {
    docs
      // toks and sha ride their own projections (multi-use aliases, so
      // CollapseProject keeps them): an inlined `split` would re-split
      // the document per shingle element (PlanSpec's lambda audit), and
      // an inlined sha would run the whole shingle transform once per
      // consumer
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sha", shingleFingerprints(col("toks"), n))
      .withColumn("n_sh", size(col("sha")))
      // set_hit_count, NOT array_intersect(sha, lit(evalShingles)):
      // ArrayIntersect rebuilds the probe hash table per ROW, scaling
      // each document by the eval-set size; the custom kernel sorts the
      // probe set once per executor and charges O(|sha| log m) per doc
      .withColumn("n_hit",
        graft.functions.SetHitCount(col("sha"), evalShingles))
      .withColumn("overlap", when(col("n_sh") > 0,
        round(col("n_hit").cast("double") / col("n_sh"), 6)))
      .withColumn("contaminated", coalesce(col("overlap") >= 0.5, lit(false)))
      .select(col("doc_id"), col("n_sh"), col("n_hit"), col("overlap"),
        col("contaminated"))
  }
}
