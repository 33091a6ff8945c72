package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SketchGeometry

/** Incremental NEAR-dup ingest gate — the fuzzy upgrade of q65's exact
  * fingerprint anti-join: newly-ingested documents are dropped when they
  * are near-copies (shingle Jaccard ≥ 0.5) of anything already in the
  * corpus, not just byte-identical re-crawls (the reference re-forwards
  * every row it reads, `app.py:161-173` — a training pipeline ingesting
  * continuously must not re-admit lightly-edited copies).
  *
  * Matching is q81's exact pipeline — 3-token xxhash64 shingles, k
  * minhashes via the codegen'd `minhash_sig` kernel, r-row bands,
  * band-equality candidates, exact-Jaccard verification on candidates
  * only — pointed ACROSS two relations (new batch × corpus index)
  * instead of self-joined.
  *
  * 100 TB: the corpus side is a persisted fingerprint INDEX —
  * (doc_id, band) rows and (doc_id, shingles) arrays, ~100 B/doc, built
  * once and appended to as batches are admitted; bodies are never read
  * back. The ingest batch is small by construction (a poll cycle,
  * `app.py:176-196`), so its band table and shingle arrays ride the
  * candidate join as BROADCAST sides against the bucketed index, the
  * only shuffle-scale work being the index scan itself. Verification
  * touches candidate pairs only. The verdict is TOTAL over the batch —
  * unscorable docs (< 3 tokens) carry n_sh = 0 and pass, like q103's
  * gate: a dedup gate that silently drops the unscorable loses data.
  */
object NearDupGate {

  /** Distinct 3-token shingle fingerprints (q81's kernel, LlmOps.scala
    * q81Pairs) of a (doc_id, text) frame; docs with < 3 tokens get an
    * empty set.
    *
    * `toks` is materialized in its OWN projection, never inlined into
    * the transform lambda: lambda interiors are evaluated interpretively
    * (outside codegen subexpression elimination), so an inlined
    * `element_at(split(text), i)` re-splits the document once per
    * element — measured 11× slower on this exact shape. The multi-use
    * alias keeps CollapseProject from re-inlining it. */
  private def shingled(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        when(size(toks) >= 3,
          array_distinct(transform(sequence(lit(1), size(toks) - 2),
            i => xxhash64(
              element_at(toks, i),
              element_at(toks, i + 1),
              element_at(toks, i + 2)))))
          .otherwise(array().cast("array<bigint>")).as("shingles"))
  }

  /** The persisted corpus index: (doc_id, shingles, sig, bands). In
    * production this is a table bucketed by band, appended per admitted
    * batch; here it is derived from the corpus frame on the fly. */
  def index(spark: SparkSession, corpus: DataFrame, g: SketchGeometry): DataFrame = {
    // NO `filter(size(shingles) > 0)` here: predicate pushdown would
    // substitute the alias chain and re-expand the whole shingle
    // transform (split re-inlined) into a per-row Filter at the scan —
    // q63's InferFiltersFromGenerate gotcha, measured as most of q104's
    // wall. Shingle-less docs instead carry NULL `bands` (a real
    // minhash_sig of an empty array would band-collide them all), and
    // the band join's null rejection drops them for free.
    shingled(corpus)
      .withColumn("sig", expr(s"minhash_sig(shingles, ${g.minhashK})"))
      .withColumn("bands", when(size(col("shingles")) > 0, bandKeys(g)))
  }

  /** Band join keys from the `sig` column: bands of r consecutive
    * minhashes, rendered `b:h1:…:hr` (q81's key form). */
  private def bandKeys(g: SketchGeometry) =
    transform(sequence(lit(0), lit(g.minhashBands - 1)),
      b => concat_ws(":", b +: (0 until g.minhashRowsPerBand).map(r =>
        element_at(col("sig"), b * g.minhashRowsPerBand + r + 1)): _*))

  /** Per-batch-doc near-dup verdict against a prepared corpus index:
    * (doc_id, n_sh, n_matches, best_jacc, kept) — TOTAL over the batch.
    * `kept` = no corpus doc verifies at Jaccard ≥ 0.5. Runs identically
    * as a batch stage (q104's CORRECTNESS row) and inside a streaming
    * foreachBatch (s83). */
  def flag(spark: SparkSession, batch: DataFrame, corpusIndex: DataFrame,
      g: SketchGeometry): DataFrame = {
    import graft.queries.ScopedPersist
    // bsh is persisted, so the size filter below applies to CACHED
    // arrays (cheap per-row check) — pushdown stops at the cache
    // boundary and cannot re-expand the shingle transform
    val bsh = shingled(batch).scopedPersist
    val verified = verifiedFrom(bsh, corpusIndex, g)
    val matches = verified.groupBy(col("b_id").as("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_matches"),
        max(col("jacc")).as("best_jacc"))
    bsh.select(col("doc_id"), size(col("shingles")).as("n_sh"))
      .join(matches, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_matches"), lit(0)).as("n_matches"),
        col("best_jacc"),
        (coalesce(col("n_matches"), lit(0)) === 0).as("kept"))
  }

  /** The gate's verified PAIR set — (b_id, c_id, jacc) for every
    * batch×index pair passing exact Jaccard ≥ 0.5 on band candidates.
    * [[flag]] aggregates this to per-doc verdicts; q148's incremental
    * label maintenance consumes the pairs themselves (the Δ-edges of
    * the merged near-dup graph). Same 100 TB shape as flag: the batch
    * side broadcasts, the only shuffle-scale work is the index scan. */
  def verifiedPairs(spark: SparkSession, batch: DataFrame,
      corpusIndex: DataFrame, g: SketchGeometry): DataFrame = {
    import graft.queries.ScopedPersist
    verifiedFrom(shingled(batch).scopedPersist, corpusIndex, g)
      .select(col("b_id"), col("c_id"), col("jacc"))
  }

  /** Candidate generation + exact-Jaccard verification over a PREPARED
    * (persisted) batch shingle frame. */
  private def verifiedFrom(bsh: DataFrame, corpusIndex: DataFrame,
      g: SketchGeometry): DataFrame = {
    val bBands = bsh.filter(size(col("shingles")) > 0)
      .withColumn("sig", expr(s"minhash_sig(shingles, ${g.minhashK})"))
      .select(col("doc_id").as("b_id"),
        explode(bandKeys(g)).as("band"))
    // explode_OUTER: index rows with NULL bands (shingle-less docs) fall
    // out at the band join's null rejection; plain explode would infer a
    // size filter that re-expands `bands` below an unpersisted index
    val iBands = corpusIndex.select(col("doc_id").as("c_id"),
      explode_outer(col("bands")).as("band"))
    // batch side is the small side by construction: broadcast its band
    // table into the index scan, dedup the (batch, corpus) pairs
    val cands = iBands.join(broadcast(bBands), Seq("band"))
      .select(col("b_id"), col("c_id")).dropDuplicates("b_id", "c_id")
    // verify on candidates only: batch shingle arrays broadcast by id,
    // corpus arrays joined by id (candidates << corpus at any scale)
    val verified = cands
      .join(broadcast(bsh.select(col("doc_id").as("b_id"), col("shingles").as("bsh"))), Seq("b_id"))
      .join(corpusIndex.select(col("doc_id").as("c_id"), col("shingles").as("csh")), Seq("c_id"))
      .withColumn("common", size(array_intersect(col("bsh"), col("csh"))))
      .withColumn("jacc", round(col("common").cast("double") /
        (size(col("bsh")) + size(col("csh")) - col("common")), 6))
      .filter(col("jacc") >= 0.5)
    verified
  }

  /** s83: the gate as a stream stage — each micro-batch of ingested docs
    * is flagged against the (static) corpus index inside foreachBatch,
    * the production pattern for batch-semantics-per-trigger operators:
    * the gate itself holds NO stream state (the index is the state, and
    * it lives in a table, not a state store), so recovery is the sink's
    * idempotence story (s77), not a state-store one. `admit` receives
    * (verdicts, batchId) per trigger. */
  def stream(spark: SparkSession, docs: DataFrame, corpusIndex: DataFrame,
      g: SketchGeometry)(admit: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // drain the per-trigger scoped caches once the sink has consumed
      // the verdicts — an unbounded stream must not accumulate one
      // cached shingle frame per micro-batch. (Callers keeping the
      // corpus index hot across triggers should use plain .persist(),
      // which the scope drain does not touch.)
      try admit(flag(spark, batch, corpusIndex, g), batchId)
      finally graft.core.CacheScope.drain()
    }
  }

  /** Within-batch near-dup self-dedup: among docs of ONE ingest batch,
    * drop every doc that has a lower-id near-duplicate peer (the greedy
    * keep-min rule of q80/q81-based dedup) — q81's band self-join scoped
    * to the batch. Returns the surviving (doc_id, text) rows. */
  def selfDedup(spark: SparkSession, batch: DataFrame,
      g: SketchGeometry): DataFrame = {
    import graft.queries.ScopedPersist
    val bsh = shingled(batch).scopedPersist
    val bands = bsh.filter(size(col("shingles")) > 0)
      .withColumn("sig", expr(s"minhash_sig(shingles, ${g.minhashK})"))
      .select(col("doc_id"), explode(bandKeys(g)).as("band"))
    val cands = graft.queries.LlmOps.bandCandidates(bands, g.bandOccupancyCap)
    val losers = cands
      .join(bsh.select(col("doc_id").as("d1"), col("shingles").as("sh1")), Seq("d1"))
      .join(bsh.select(col("doc_id").as("d2"), col("shingles").as("sh2")), Seq("d2"))
      .withColumn("common", size(array_intersect(col("sh1"), col("sh2"))))
      .filter(round(col("common").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("common")), 6) >= 0.5)
      .select(col("d2").as("doc_id")).distinct()
    batch.join(losers, Seq("doc_id"), "left_anti")
  }

  /** s84: the full self-growing ingest-dedup loop — what a continuous
    * training-corpus ingest actually runs per trigger:
    *
    *   1. within-batch self-dedup ([[selfDedup]] — a re-crawl burst
    *      often contains its own near-copies);
    *   2. gate the survivors against the CURRENT index ([[flag]]);
    *   3. append the admitted docs' index rows (fingerprints, never
    *      bodies) to the index store, so the NEXT trigger dedups against
    *      everything admitted so far.
    *
    * The index is re-read per trigger via `indexProvider` (production: a
    * parquet/Delta fingerprint table the sink appends to — here the spec
    * appends to a parquet dir). Still NO state store: the stream's state
    * IS the index table, giving exactly-once-by-idempotence recovery
    * (s77's story) instead of checkpointed operator state — and making
    * the dedup boundary queryable/repairable with plain batch SQL.
    * `admit` receives (adopted survivors' verdicts, batchId); the
    * returned writer is not yet started. */
  def ingest(spark: SparkSession, docs: DataFrame,
      indexProvider: () => DataFrame, appendIndex: DataFrame => Unit,
      g: SketchGeometry)(admit: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      try {
        val deduped = selfDedup(spark, batch, g)
        val verdicts = flag(spark, deduped, indexProvider(), g)
        val admitted = deduped.join(
          verdicts.filter(col("kept")).select("doc_id"), Seq("doc_id"))
        appendIndex(index(spark, admitted, g))
        admit(verdicts, batchId)
      } finally graft.core.CacheScope.drain()
    }
  }
}
