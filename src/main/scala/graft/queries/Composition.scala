package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Corpus-composition toolkit, round 11 of the LLM-pipeline
  * surface (SURVEY.md §2.2): BM25 ranked retrieval (q134), the
  * cross-source overlap matrix (q135), DSIR importance RESAMPLING
  * (q136) — the stage that turns q125's importance weights into an
  * actual training mixture — plus the deterministic MLM masking
  * schedule (q139), curriculum ordering (q140), the span-corruption
  * schedule (q141), within-source distribution drift (q142), and
  * budget-constrained epoch allocation (q143).
  * The reference (`app.py`, a producer loop)
  * has no analytics; these are the corpus-assembly decisions a
  * training-data pipeline makes over the same document stream the
  * dedup/curation family cleans: what to retrieve for inspection, which
  * crawl sources duplicate each other, and how many copies of each doc
  * the final mixture draws.
  *
  * Determinism rules as everywhere in the package: scores either stay
  * in exact integer/fixed-point domain end-to-end or quantize to
  * BIGINT BEFORE any aggregation (integer sums are order-free, so
  * Spark's parallel aggregation cannot drift an ulp from DuckDB's
  * serial one); doubles appear only as single correctly-rounded
  * divisions of exact operands, rounded to 6 dp.
  */
object Composition {

  /** q134 [EXT]: BM25-ranked retrieval — top-10 documents per query for
    * a deterministic 5-query panel (3 terms each, drawn from the
    * corpus's own df-ranked vocabulary: ranks 4–18 under
    * (df DESC, term ASC), skipping the 3 ubiquitous head terms, so the
    * panel spans common→rarer and exists at every SF). Scoring is BM25
    * (k1 = 1.2, b = 0.75) with the LOG-FREE idf surrogate
    * (N − df + ½)/(df + ½) — q67's no-log argument applied to BM25's
    * idf: the rational form preserves the df ordering the log only
    * compresses, and keeps every factor a correctly-rounded IEEE op
    * both engines compute bit-identically. Per-term contributions
    * quantize to ppm fixed-point BIGINT BEFORE the per-doc sum
    * (q117's quantize-then-sum recipe).
    *
    * Folded-rational saturation (k1 = 6/5, b = 3/4 folded to integer
    * coefficients over 10·T):
    * `sat = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)`; every operand is an
    * integer exact in double far beyond sf0.1 (the largest product,
    * 22·tf·T, needs tf·T > 4·10¹¹ to lose integer exactness; at
    * corpus scales past that the same formula rides DECIMAL(38)).
    *
    * 100 TB: the query panel and its df rows are vocab-top-18 via
    * `orderBy(...).limit(18)` — TakeOrderedAndProject, a distributed
    * top-k, never a global vocab sort — then BROADCAST; tf is one
    * (doc_id, term) shuffle with dl riding the explode projection
    * (dl is functionally dependent on doc_id, so the extra grouping
    * column adds no groups); df reuses tf's output through a
    * vocab-sized second shuffle; corpus scalars (N, T) are a 1-row
    * broadcast; and the per-query top-10 plans as a map-side
    * WindowGroupLimit (q96's rewrite, pinned in PlanSpec) so each map
    * task forwards ≤ 10 rows per query. Bodies never cross the wire. */
  /** The corpus (doc_id, dl, term) → tf frame q134 scores over.
    * toks rides its own projection so the text splits ONCE per row
    * (size + explode would otherwise each re-split; q135's lesson).
    * text is coalesced to '' so a NULL body still yields the ['']
    * token row — without it, explode would DROP null-text docs from
    * tf and the (N, T) scalars would diverge from the oracle's
    * direct-table count (the fixture has no null bodies; real corpora
    * do). */
  private def bm25Tf(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** The df-ranked 5×3-term query panel off a tf frame — ONE spelling
    * shared by q134 (off its cached tf) and [[QueryPanelTable]] (q172's
    * memoized artifact build), so the panel q172 reranks is exactly the
    * panel q134 retrieves for. `limit(18)` plans as
    * TakeOrderedAndProject — a distributed top-k, never a global vocab
    * sort. */
  private def qtermsOf(tf: DataFrame): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    dfreq.orderBy(col("df").desc, col("term").asc).limit(18)
      .withColumn("trk", row_number().over(
        Window.orderBy(col("df").desc, col("term").asc)))
      .filter(col("trk") >= 4)
      .select(expr("cast((trk - 4) div 3 as int)").as("query_id"),
        col("term"), col("df"))
  }

  val q134Bm25Retrieval: Q = (spark, dir) => {
    // persisted: tf feeds the df aggregation, the corpus scalars, AND
    // the scoring join (q67's measured defect class when unpersisted)
    val tf = bm25Tf(spark, dir).scopedPersist
    val qterms = qtermsOf(tf)
    // (N, T) from the cached tf, not a second corpus scan: every doc
    // yields >= 1 explode row (split of even an empty or coalesced-NULL
    // string is ['']), so countDistinct(doc_id) == count(documents) and
    // sum(tf) == total tokens — the oracle's gl CTE computes the same
    // two scalars from the table directly
    val glob = tf.agg(countDistinct(col("doc_id")).as("nn"),
      sum(col("tf")).as("tt"))
    val idf = (lit(2.0) * col("nn") - lit(2.0) * col("df") + lit(1.0)) /
      (lit(2.0) * col("df") + lit(1.0))
    val den = lit(10.0) * col("tf") * col("tt") + lit(3.0) * col("tt") +
      lit(9.0) * col("dl") * col("nn")
    val sat = (lit(22.0) * col("tf") * col("tt")) / den
    val scored = tf.join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(glob))
      .select(col("query_id"), col("doc_id"),
        floor(lit(1000000.0) * (idf * sat)).cast("long").as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_hit"),
        sum(col("contrib")).as("score_fp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    orderAll(scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("rk"), col("doc_id"), col("n_hit"),
        col("score_fp")))
  }

  /** q135's shingle width — 3, the near-dup family's width: source
    * overlap is a DUPLICATION diagnostic, not q133's membership probe,
    * so the q81/q104 width is the right one. The oracle interpolates
    * the same value. */
  private[graft] val OverlapShingleN: Int = 3

  /** q135 [EXT]: cross-source overlap matrix — for every unordered pair
    * of crawl sources, the distinct-shingle intersection with Jaccard
    * and BOTH directional containments (containment is the asymmetric
    * signal: a mirror site shows cont ≈ 1 in one direction long before
    * Jaccard moves). This is the corpus-level complement of the
    * doc-level dedup family: q81/q88 find duplicate DOCUMENTS; q135
    * tells you which SOURCES are re-crawls, mirrors, or aggregators of
    * each other — the deduplicate-or-drop-the-whole-source decision
    * every crawl pipeline makes before doc-level work.
    *
    * 100 TB — and why there is NO doc-pair or shingle self-join: the
    * (source, shingle) distinct table shuffles once on the shingle
    * fingerprint; per shingle the engine keeps `collect_set(source)` —
    * bounded by the SOURCE COUNT S (hundreds), not by occupancy, so no
    * df-cap is needed (a shingle present in every source contributes
    * C(S,2) pair rows, a constant) — and pair counts aggregate
    * map-side. The matrix assembly is an S-row broadcast
    * inequality-join (BroadcastNestedLoopJoin over source-count-sized
    * frames — the one place a nested-loop join is the right plan).
    * Bodies never move; 8-byte fingerprints do. The engine counts
    * distinct xxhash64 fingerprints where the oracle counts distinct
    * shingle strings — membership-equivalent modulo 2⁻⁶⁴-probability
    * collisions (q88's argument). */
  val q135SourceOverlap: Q = (spark, dir) => {
    val n = OverlapShingleN
    val d = t(spark, dir, "documents")
    // toks is materialized as its own projection BEFORE the shingle
    // transform: inlining split() into the lambda would re-split the
    // text on every element_at — measured 3.5 s vs 0.6 s at sf0.1
    // (CollapseProject keeps the split separate because the lambda
    // references it many times; q133's spelling). No distinct() stage:
    // collect_set dedups (source, sh) inside the ONE corpus-sized
    // exchange, and partial aggregation bounds map-side state at S
    // entries per shingle — a separate distinct would add a second
    // corpus-sized shuffle for nothing.
    val grouped = d
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"),
        explode(graft.streaming.Decontaminator.shingleFingerprints(
          col("toks"), n)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .scopedPersist
    // each shingle contributes exactly once per source it appears in,
    // so re-exploding the source sets IS the distinct per-source count
    val sizes = grouped.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val pairs = grouped.filter(size(col("srcs")) > 1)
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("common"))
    val matrix = sizes.as("x").join(broadcast(sizes.as("y")),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        col("x.n_sh").as("sh_a"), col("y.n_sh").as("sh_b"))
    val c = coalesce(col("common"), lit(0L))
    orderAll(matrix.join(pairs, Seq("src_a", "src_b"), "left_outer")
      .select(col("src_a"), col("src_b"), col("sh_a"), col("sh_b"),
        c.as("common"),
        round(c.cast("double") / (col("sh_a") + col("sh_b") - c), 6)
          .as("jaccard"),
        round(c.cast("double") / col("sh_a"), 6).as("cont_a"),
        round(c.cast("double") / col("sh_b"), 6).as("cont_b")))
  }

  /** q136's geometry: shard count (the parallelism of the prefix-sum
    * phase — at cluster scale, set to O(executor slots)) and the target
    * draw count. Both interpolated into the oracle; like q94's bucket
    * count, the shard count is a declared constant of the dataset build
    * (changing it re-draws the sample). */
  private[graft] val ResampleShards: Int = 16
  private[graft] val ResampleTarget: Int = 200

  /** q136 [EXT]: DSIR importance resampling — the ACTION stage of q125
    * (Xie et al. 2023): documents are drawn WITH REPLACEMENT
    * proportionally to importance weight w = 2^clamp(gain_bits, −4, 10)
    * (the standard clipped exponentiated log-ratio — clipping bounds
    * any single doc's mass, and the power-of-two form keeps w an exact
    * BIGINT) via SYSTEMATIC sampling: one virtual pointer every
    * `step = W/M` mass along the weighted prefix sum, so a doc with
    * cumulative span (cum−w, cum] is drawn
    * `⌊cum/step⌋ − ⌊(cum−w)/step⌋` times — exact integer arithmetic,
    * zero variance in the draw count given the order, and M draws total
    * (±1 at the tail).
    *
    * 100 TB — the two-phase shard prefix sum IS the distributed
    * spelling of a global weighted prefix sum: phase 1 shuffles once on
    * a Knuth-hash shard of doc_id (S shards = the parallelism knob;
    * each shard's ordered cumulative sum is one window task over
    * corpus/S rows); phase 2 cumulates the S per-shard totals — an
    * S-row frame — into shard offsets and BROADCASTS them back. No
    * global sort, no single-partition corpus window (the round-9 q124
    * defect class), no driver-side data. The draw arithmetic is
    * row-local. Composition with q125 is real code reuse:
    * [[TokenStats.dsirPerDoc]] is the weight frame both queries
    * consume (q131's pattern over q68). */
  val q136ImportanceResample: Q = (spark, dir) => {
    val s = ResampleShards
    val m = ResampleTarget
    val weighted = TokenStats.dsirPerDoc(spark, dir)
      .select(col("doc_id"), col("lang"), col("gain_bits"),
        expr("shiftleft(1L, cast(greatest(-4L, least(10L, gain_bits)) + 4 as int))")
          .as("w"),
        knuthBucket(col("doc_id"), s.toLong).as("shard"))
      .scopedPersist
    val wIn = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = weighted.withColumn("cum_in", sum(col("w")).over(wIn))
    val totals = weighted.groupBy(col("shard")).agg(sum(col("w")).as("tot"))
      .scopedPersist
    // the offset cumulation runs over an S-row frame: the unpartitioned
    // window is bounded by the shard count, never the corpus
    val wOff = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("off", coalesce(sum(col("tot")).over(wOff), lit(0L)))
      .select(col("shard"), col("off"))
    val wtot = totals.agg(sum(col("tot")).as("w_total"))
    orderAll(withCum.join(broadcast(offsets), Seq("shard"))
      .crossJoin(broadcast(wtot))
      .withColumn("cum", col("off") + col("cum_in"))
      .withColumn("step", greatest(expr(s"w_total div $m"), lit(1L)))
      .select(col("doc_id"), col("lang"), col("gain_bits"), col("shard"),
        col("w"), col("cum"),
        expr("cum div step - (cum - w) div step").as("n_picks")))
  }

  /** q137 [EXT]: per-source K-minwise panel — the fixed-size uniform
    * audit sample every pipeline keeps per source (label-QA batches,
    * content eyeballing, drift spot checks): the K docs with the
    * smallest Knuth-hash priority per source. Distinct from its two
    * neighbors by construction: q95's rate sample GROWS with the
    * corpus where this panel is fixed-size, and q96's quota keeps the
    * BEST-ranked docs where this panel is deliberately quality-blind
    * (uniform over the source's history — that's what makes it an
    * audit sample). Minwise is also mergeable and order-independent,
    * which is why the same kernel runs in-stream as s94
    * ([[graft.streaming.MinwisePanel]]): StreamingSpec s94 pins the
    * stream-reconstructed panel row-identical to THIS oracled answer,
    * q129/s88's proof pattern.
    *
    * 100 TB: one shuffle on source; the rank filter plans a map-side
    * WindowGroupLimit (q96's rewrite, pinned in PlanSpec) so each map
    * task forwards ≤ K rows per source — the output and all
    * intermediate state are K·|sources| rows. */
  val q137MinwisePanel: Q = (spark, dir) => {
    val k = graft.streaming.MinwisePanel.K
    val prio = knuthMix(col("doc_id"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("prio").asc, col("doc_id").asc)
    orderAll(t(spark, dir, "documents")
      .select(col("source"), col("doc_id"), prio.as("prio"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"), col("prio")))
  }

  /** q138's verbatim threshold: a max-run of R consecutive 8-gram hits
    * spans R + 7 contiguous train-shared tokens (R = 5 ⇒ a 12-token
    * verbatim splice). Interpolated into the oracle. */
  private[graft] val MemoRunMin: Int = 5

  /** q138 [EXT]: memorization-span audit — the POSITIONAL complement of
    * q133's set-overlap leakage score: per val/test doc, the LONGEST
    * CONTIGUOUS run of shingle positions whose 8-gram is present
    * anywhere in the train side. The two metrics separate cases q133
    * alone cannot: 50% overlap from scattered hits is vocabulary
    * collision or paraphrase-level similarity, while 50% overlap in ONE
    * contiguous run is a verbatim splice of training text — the
    * memorization-risk signal eval-contamination analyses threshold on.
    * q133's planted leaks (truncated re-ingests) are full-span by
    * construction (max_run = n_pos), so the flag has deterministic true
    * positives; clean docs over the 31-token vocabulary collide on
    * single 8-grams but not on runs.
    *
    * Same corpus derivation as q133 ([[LlmOps.leakSplitCorpus]], shared
    * code) and the same scale shape — two corpus-sized exchanges
    * carrying ids + 8-byte fingerprints (eval side POSITIONAL, train
    * side distinct), then a per-DOC window whose partitions are bounded
    * by document length, never corpus-sized, and doc-keyed re-aggs.
    * Runs come out of the gaps-and-islands rewrite (pos − rank is
    * constant within a consecutive run) — the one SQL spelling that
    * needs no self-join and no iteration. */
  val q138MemorizationSpan: Q = (spark, dir) => {
    val n = LlmOps.LeakShingleN
    // cache (doc_id, split, toks) only — the body and bucket columns
    // the derivation needed would otherwise ride the persist (q133's
    // pruning note)
    val corpus = LlmOps.leakSplitCorpus(spark, dir)
      .select(col("doc_id"), col("split"), col("toks"))
      .scopedPersist
    val toks = col("toks")
    // positional shingles — deliberately NOT distinct (runs are
    // positional); toks is a materialized attribute, so the lambda
    // re-evaluates element_at only, never the split (q64/q135's class)
    val shPos = transform(sequence(lit(1), size(toks) - (n - 1)),
      i => xxhash64((0 until n).map(o => element_at(toks, i + o)): _*))
    val evalPos = corpus.filter(col("split") =!= "train")
      .select(col("doc_id"), posexplode(when(size(toks) >= n, shPos)
        .otherwise(array().cast("array<bigint>"))))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("sh"))
    val trainSh = corpus.filter(col("split") === "train")
      .select(explode(graft.streaming.Decontaminator
        .shingleFingerprints(toks, n)).as("sh")).distinct()
    val wRn = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val runs = evalPos.join(trainSh, Seq("sh"), "left_semi")
      .withColumn("grp", col("i") - row_number().over(wRn))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run_len"))
    val mx = runs.groupBy(col("doc_id"))
      .agg(max(col("run_len")).as("max_run"), sum(col("run_len")).as("n_hit"))
    val ev = corpus.filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"),
        greatest(size(toks) - (n - 1), lit(0)).cast("long").as("n_pos"))
    orderAll(ev.join(mx, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("split"), col("n_pos"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .withColumn("memorized", col("max_run") >= MemoRunMin))
  }

  /** q139's masking geometry: rate in permille (the standard MLM 15%)
    * and the epoch counter — both interpolated into the oracle.
    * Bumping the epoch re-draws every mask (the per-epoch re-masking
    * real MLM training does) while keeping any single epoch exactly
    * reproducible. */
  private[graft] val MaskPermille: Long = 150L
  private[graft] val MaskEpoch: Long = 0L

  /** q139 [EXT]: deterministic MLM masking schedule — which token
    * positions a masked-language-model pass corrupts, decided by hash
    * instead of an RNG so the corpus build is REPRODUCIBLE: the same
    * (doc, position, epoch) always masks the same way, any shard can be
    * rebuilt bit-identically, and bumping the epoch re-draws every
    * mask the way per-epoch re-masking does in real MLM training.
    * Position i of doc d masks iff
    * `knuthBucket2(d·100003 + i·7 + epoch, 1000) < rate` — the shared
    * Knuth family (q94's splits, q137's priorities) applied per
    * POSITION rather than per doc, through the QUADRATIC scramble:
    * per-position keys step by a constant, and the linear mix would
    * turn that into a constant bucket stride whose orbit can trap the
    * mask mass in a residue coset (see [[graft.queries.knuthMix2]] —
    * measured on q141 before the fix). This is a schedule, not a
    * cryptographic draw: the scramble only needs to decorrelate
    * neighboring positions and documents, which the quadratic term
    * guarantees structurally.
    *
    * The dump carries the schedule's exact integer projection per doc —
    * count and position-sum (an order-free checksum of the masked-
    * position set); the production writer materializes the positions
    * array itself, which never needs to leave the row.
    *
    * 100 TB: the q130 map-only shape — everything is row-local
    * higher-order arithmetic over a `sequence(1, n_toks)` the row
    * builds and folds itself (no Generate, no join, no exchange before
    * the dump sort). Bodies are read once and reduced to three BIGINTs
    * in the same codegen stage as the scan. possum is bounded by
    * n·(n+1)/2 — inside BIGINT to 4-billion-token documents. */
  /** q139's core over any (doc_id, lang, text) frame with explicit
    * geometry — factored (q48's `oovReport` pattern) so the spec can
    * drive the rate extremes and the epoch re-draw directly (the
    * declared query binds the constants above). */
  private[graft] def mlmMaskReport(docs: DataFrame, rate: Long,
      epoch: Long): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
      split(coalesce(col("text"), lit("")), " ").as("toks"))
    // doc_id wraps mod P BEFORE the ·100003 so the key product stays
    // under ~10¹⁴ for EVERY BIGINT doc_id (congruent mod P, so every
    // bucket — and thus the schedule — is unchanged on the
    // sub-overflow domain the unwrapped spelling covered)
    val masked = filter(
      sequence(lit(1L), size(col("toks")).cast("long")),
      i => knuthBucket2(pmod(col("doc_id"), lit(KnuthP)) * lit(100003L) +
        i * lit(7L) + lit(epoch), 1000L) < lit(rate))
    d.select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_toks"), masked.as("mpos"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        size(col("mpos")).cast("long").as("n_masked"),
        coalesce(aggregate(col("mpos"), lit(0L), (acc, i) => acc + i),
          lit(0L)).as("mask_possum"))
  }

  val q139MlmMask: Q = (spark, dir) =>
    orderAll(mlmMaskReport(t(spark, dir, "documents"), MaskPermille, MaskEpoch))

  /** q141's span geometry: density of span STARTS in permille and the
    * maximum span length (span length at a start is uniform in
    * [1, max] by a second hash draw). The defaults (30‰ starts,
    * max 8) land the corruption mass near T5's ~15% at mean span
    * length 4.5. q141 shares q139's epoch — one training epoch
    * re-draws both schedules. */
  private[graft] val SpanStartPermille: Long = 30L
  private[graft] val SpanLenMax: Long = 8L

  /** q141 [EXT]: deterministic SPAN-corruption schedule — q139's idea at
    * T5/UL2 granularity: instead of independent token masks, position i
    * STARTS a corruption span iff
    * `knuthBucket2(d·100003 + i·11 + epoch, 1000) < startRate`, and
    * that span runs `1 + knuthBucket2(d·100003 + i·13 + epoch, lenMax)`
    * tokens (uniform in [1, lenMax] by an independent draw — the ·11/·13
    * position multipliers give the three schedules distinct hash
    * streams; the QUADRATIC scramble is load-bearing here, see
    * [[graft.queries.knuthMix2]]: under the linear mix this exact draw
    * measured 391/500 zero-span docs against ~120 expected), clipped at
    * the document end. Spans may overlap; the
    * corrupted set is their UNION (the corruption-mass semantics a
    * denoiser's data loader needs — non-overlap re-spacing is a
    * row-local writer concern downstream). The dump carries each doc's
    * exact integer projection: span-start count, corrupted-token count,
    * and the position-sum checksum of the corrupted set (q139's
    * contract). The report is TOTAL: a doc the hash never touches still
    * gets its (0, 0, 0) row.
    *
    * 100 TB: q139/q130's map-only class — starts are a row-local filter
    * over `sequence(1, n)`, spans a nested `transform`→`sequence`,
    * the union an `array_distinct(flatten(...))`, all inside the scan's
    * codegen stage; no Generate, no join, no exchange before the dump
    * sort. Per-row work is O(n + starts·lenMax) = O(n·(1 + rate·len)).
    */
  private[graft] def spanMaskReport(docs: DataFrame, startRate: Long,
      lenMax: Long, epoch: Long): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
      split(coalesce(col("text"), lit("")), " ").as("toks"))
    val n = size(col("toks")).cast("long")
    // q139's pre-wrap: doc_id mod P before the multiply keeps the key
    // inside BIGINT for every doc_id, without moving a single bucket
    def key(i: Column, mult: Long) =
      pmod(col("doc_id"), lit(KnuthP)) * lit(100003L) + i * lit(mult) +
        lit(epoch)
    val starts = filter(sequence(lit(1L), n),
      i => knuthBucket2(key(i, 11L), 1000L) < lit(startRate))
    val spans = transform(starts,
      s => sequence(s, least(s + knuthBucket2(key(s, 13L), lenMax), n)))
    d.select(col("doc_id"), col("lang"), n.as("n_toks"),
        size(starts).cast("long").as("n_spans"),
        array_distinct(flatten(spans)).as("cpos"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("n_spans"),
        size(col("cpos")).cast("long").as("n_corrupt"),
        coalesce(aggregate(col("cpos"), lit(0L), (acc, i) => acc + i),
          lit(0L)).as("span_possum"))
  }

  val q141SpanCorruption: Q = (spark, dir) =>
    orderAll(spanMaskReport(t(spark, dir, "documents"), SpanStartPermille,
      SpanLenMax, MaskEpoch))

  /** q140's length ceiling for phase assignment: token counts clamp to
    * this before the per-language histogram, bounding the broadcast
    * phase map at |langs|·cap rows no matter how long the longest
    * document grows (docs at or past the cap are all "hard" — the
    * clamp cannot move a tercile boundary upward past it). */
  private[graft] val CurriculumLenCap: Long = 100000L

  /** q142 [EXT]: within-source distribution drift — the crawl-snapshot
    * monitoring question: has a source's CONTENT shifted between two
    * samples of its history? Each source's documents split into two
    * deterministic halves (the linear Knuth bucket over doc_id — a
    * per-DOC draw, so the linear mix is the right tool); the drift
    * score is the total-variation-style L1 distance between the two
    * halves' term RATE vectors, in ppm: Σ_term |rate₀ − rate₁| with
    * rate_h = (count_h · 10⁶) div total_h. A stable source scores near
    * the sampling-noise floor; a re-targeted crawl, format change, or
    * spam infusion moves whole rate mass. Rates quantize to ppm BIGINT
    * BEFORE the |·| and the sum (q117's quantize-then-sum: integer
    * sums are order-free, so parallel aggregation cannot drift an ulp
    * from the oracle; both engines floor the same division). The
    * count·10⁶ product rides DECIMAL(38,0)/HUGEINT — exact past
    * 9·10¹² tokens per half where BIGINT would wrap.
    *
    * 100 TB: ONE corpus-sized exchange — the (source, term) aggregate
    * (map-side combined; both halves' counts come out of the SAME
    * aggregation as conditional sums, so there is no per-term join and
    * missing-in-one-half terms are present by construction). Per-source
    * totals re-aggregate from that vocab-shaped frame and BROADCAST
    * back; the ppm arithmetic is row-local; the final per-source rollup
    * is a second two-phase aggregate over vocab-sized input. Bodies
    * never cross the wire. A half with no tokens yields NULL drift
    * (undefined rates), kept as a row — the report is TOTAL over
    * sources. */
  val q142SourceDrift: Q = (spark, dir) => {
    val half = knuthBucket(col("doc_id"), 2L)
    val toks = t(spark, dir, "documents")
      .select(col("source"), half.as("h"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("term"))
    val counts = toks.groupBy(col("source"), col("term"))
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("c1"))
      .scopedPersist // feeds the totals agg AND the rate projection
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("c0")).as("t0"), sum(col("c1")).as("t1"))
    val rated = counts.join(broadcast(totals), Seq("source"))
      .select(col("source"),
        expr("CAST(c0 AS DECIMAL(38,0)) * 1000000 div nullif(t0, 0)").as("p0"),
        expr("CAST(c1 AS DECIMAL(38,0)) * 1000000 div nullif(t1, 0)").as("p1"))
    orderAll(rated.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(abs(col("p0") - col("p1"))).as("l1_ppm"))
      .join(broadcast(totals), Seq("source"))
      .select(col("source"), col("n_terms"), col("t0"), col("t1"),
        col("l1_ppm")))
  }

  /** q143's allocation geometry: the token budget as permille of the
    * corpus (default 2500 = 2.5 epochs' worth of tokens spread over the
    * sources) and the per-source repeat ceiling (default 4 epochs — the
    * data-constrained-scaling regime where repeating past ~4 epochs
    * stops paying). Both interpolated into the oracle. */
  private[graft] val EpochBudgetPermille: Long = 2500L
  private[graft] val EpochCap: Long = 4L

  /** q143 [EXT]: epoch allocation under a token budget — the
    * data-constrained-scaling decision (Muennighoff et al. 2023): given
    * a total training-token budget B and a repeat ceiling of `cap`
    * epochs per source, how many tokens does each source contribute?
    * The fair answer is WATERFILLING: every source gets an equal token
    * share λ except sources whose whole capped mass cap·Tₛ fits under
    * λ, which contribute everything; λ solves Σ min(cap·Tₛ, λ) = B.
    *
    * Exact integer spelling (nothing floats, so both engines agree to
    * the token): sources sorted ascending by capped mass; the capped
    * set is a PREFIX of that order (once a source's mass exceeds the
    * waterline, every larger one does too), and row k is capped iff
    * capTₖ·(S−k+1) ≤ B − cum_{k−1} — an exact integer comparison that
    * avoids computing λ at all for the capped side. The uncapped rows
    * then share the remainder: λ = (B − Σ_capped capT) div n_uncapped,
    * with the div's sub-λ remainder (< n_uncapped tokens) documented
    * as undistributed — the writer's final partial batch. Budget
    * B = (permille·T_total) div 1000.
    *
    * 100 TB: one corpus-sized (source) aggregation (map-side combined)
    * collapses everything to the S-row source frame; the sort, the
    * prefix window, and the capped/uncapped split all run on those S
    * rows (q136's offset-window argument — bounded by SOURCE COUNT,
    * never corpus size); the two boundary scalars come back as a 1-row
    * broadcast. The corpus is touched exactly once. */
  val q143EpochAllocation: Q = (spark, dir) =>
    orderAll(epochAllocation(t(spark, dir, "documents"),
      EpochBudgetPermille, EpochCap))

  /** q143's core over any (source, text) frame with explicit geometry —
    * factored (q139's pattern) so the spec can drive the capped cut,
    * the all-capped and zero-budget extremes, and a hand-computed
    * waterline directly. */
  private[graft] def epochAllocation(docs: DataFrame, bPm: Long,
      cap: Long): DataFrame = {
    val masses = docs
      .select(col("source"),
        size(split(coalesce(col("text"), lit("")), " ")).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_toks"))
      .withColumn("cap_toks", col("n_toks") * cap)
      .scopedPersist // S rows: feeds the total, the prefix walk, the dump
    val wAsc = Window.orderBy(col("cap_toks").asc, col("source").asc)
    val wPrev = wAsc.rowsBetween(Window.unboundedPreceding, -1)
    // S-row unpartitioned windows — bounded by source count (q136's
    // S-row offset cumulation, same argument)
    val walk = masses
      .crossJoin(broadcast(masses.agg(
        sum(col("n_toks")).as("t_total"), count(lit(1)).as("s_count"))))
      .withColumn("budget",
        expr(s"CAST(t_total AS DECIMAL(38,0)) * $bPm div 1000"))
      .withColumn("rk", row_number().over(wAsc))
      // the whole capped-side ledger — the prefix sum, the product test,
      // and the boundary mass — rides DECIMAL(38,0) so no CROSS-source
      // accumulation can wrap BIGINT (q142's DECIMAL convention; budget
      // is already DECIMAL(38,0)); the remaining BIGINT headroom is
      // per-ROW only — cap_toks = cap·Tₛ < 2⁶³ for a single source, and
      // the output columns clamp to the BIGINT domain, both documented
      .withColumn("cum_prev", coalesce(
        sum(col("cap_toks").cast("decimal(38,0)")).over(wPrev),
        lit(0).cast("decimal(38,0)")))
      .withColumn("capped",
        expr("CAST(cap_toks AS DECIMAL(38,0)) * (s_count - rk + 1)") <=
          col("budget") - col("cum_prev"))
      .scopedPersist
    val boundary = walk.agg(
      sum(when(col("capped"), col("cap_toks").cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("cum_capped"),
      sum(when(col("capped"), 1L).otherwise(0L)).as("n_capped"))
    walk.crossJoin(broadcast(boundary))
      .withColumn("alloc_toks",
        when(col("capped"), col("cap_toks")).otherwise(
          expr("(budget - cum_capped) div nullif(s_count - n_capped, 0)")))
      .select(col("source"), col("n_toks"), col("cap_toks"),
        col("alloc_toks"),
        expr("CAST(alloc_toks AS DECIMAL(38,0)) * 1000 div n_toks")
          .as("epochs_permille"))
  }

  /** q140 [EXT]: curriculum ordering — the easy→hard training schedule
    * (Bengio et al. 2009's curriculum learning, as data pipelines apply
    * it): each document gets a difficulty phase (0 = easy, 2 = hard) by
    * EXACT per-language length terciles, plus a deterministic
    * within-phase shuffle priority (the shared Knuth mix — q137's audit
    * panel and this query order by the same family). The curriculum IS
    * the lexicographic (phase, prio) order; the query deliberately
    * emits the sort KEY rather than a materialized global rank — a
    * trainer's writer sorts shards by it, and materializing the rank
    * here would be exactly the global range exchange the surface
    * avoids everywhere else.
    *
    * Exact terciles at 100 TB without per-doc windows: the per-language
    * length HISTOGRAM (one corpus-sized exchange, map-side combined,
    * key space |langs|·cap — value-domain bounded, never corpus-bound)
    * carries a cumulative window over its own bounded rows; a doc of
    * length d lands in phase ⌊3·(docs strictly shorter)/n_lang⌋, so
    * ties share a phase by construction. The (lang, dl)→phase map
    * BROADCASTS back — corpus rows are touched map-side only. Compare
    * q127's `percentile()` (exact but buffers per-group values): the
    * histogram spelling is the same exactness with bounded state, the
    * right trade when the value domain is small and the groups are
    * corpus-sized. */
  val q140CurriculumOrder: Q = (spark, dir) => {
    val cap = CurriculumLenCap
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        least(size(split(coalesce(col("text"), lit("")), " ")).cast("long"),
          lit(cap)).as("dl"))
      .scopedPersist // two consumers: the histogram and the final join
    val hist = d.groupBy(col("lang"), col("dl")).agg(count(lit(1)).as("cnt"))
    // both windows run over the HISTOGRAM (≤ |langs|·cap rows), one
    // exchange on lang — bounded frames, the q136 offset-window argument
    val wCum = Window.partitionBy(col("lang")).orderBy(col("dl"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("lang"))
    val phases = hist
      .withColumn("cum_le", sum(col("cnt")).over(wCum))
      .withColumn("n_lang", sum(col("cnt")).over(wTot))
      .select(col("lang"), col("dl"),
        expr("(3 * (cum_le - cnt)) div n_lang").as("phase"))
    orderAll(d.join(broadcast(phases), Seq("lang", "dl"))
      .select(col("doc_id"), col("lang"), col("dl"), col("phase"),
        knuthMix(col("doc_id")).as("prio")))
  }

  /** RRF's rank-damping constant — k = 60, the value the method's
    * defining paper fixes and every production fusion defaults to
    * (Cormack/Clarke/Büttcher, SIGIR 2009: reciprocal rank fusion
    * outperforms learned fusion; k=60 chosen there and never
    * re-tuned since). Interpolated into the oracle. */
  private[graft] val RrfK: Long = 60L

  /** q134's panel width — (trk BETWEEN 4 AND 18) div 3 yields query ids
    * 0..4; q171's dense arm restricts q82's 10-query panel to the same
    * ids, so the bound has ONE spelling (engine filter + oracle both
    * interpolate it — a drifted copy would silently fuse arms over
    * mismatched query sets). */
  private[graft] val Bm25QueryCount: Int = 5

  /** The two retrieval arms q171 fuses, each materialized ONCE per
    * (JVM, corpus build) — the [[LlmOps.LabelTable]] posture applied to
    * the RETRIEVAL indexes: production hybrid search serves from
    * prebuilt lexical and vector indexes and pays only lookup + fusion
    * per query; rebuilding both arms inside every fusion call would be
    * the recompute-always posture. q134/q82 themselves NEVER read these
    * memos:
    * the arm builds are their declared benchmarks (the q68/q144/q88
    * division of labor). Rank tables are panel-bounded (queries × k
    * rows of ids + INT ranks), so the parquet round-trip is exact. */
  private[graft] object SparseRankTable {
    private val tbl = new LlmOps.MaterializedTable("bm25ranks",
      (s, d) => q134Bm25Retrieval(s, d)
        .select(col("query_id"), col("doc_id"), col("rk")))
    def of(spark: SparkSession, dir: String): DataFrame = tbl.of(spark, dir)
  }
  private[graft] object DenseRankTable {
    // staleness keys on EMBEDDINGS — the table q82 actually reads; a
    // documents-keyed fingerprint would serve stale ranks after an
    // embeddings-only regeneration
    private val tbl = new LlmOps.MaterializedTable("densetopk",
      (s, d) => LlmOps.q82SimilarityTopk(s, d)
        .select(col("qid"), col("nid"), col("rnk")),
      srcTable = "embeddings.parquet")
    def of(spark: SparkSession, dir: String): DataFrame = tbl.of(spark, dir)
  }

  /** q171 [EXT]: hybrid-retrieval fusion — Reciprocal Rank Fusion over
    * the surface's two retrieval modalities, the standard RAG
    * composition (lexical BM25 + dense cosine, fused by rank): for each
    * of q134's 5 queries, the union of the sparse arm's top-10 (q134's
    * EXACT ranks) and the dense arm's top-5 for the same query id
    * (q82's EXACT ranks — vec_id ≡ doc_id in the corpus, the embedding
    * companion), scored rrf_e9 = Σ_arms (10⁹ div (k + rank)) with
    * [[RrfK]] k = 60, absent arms contributing 0, and re-ranked by
    * (rrf_e9 DESC, doc_id ASC). Exactness: each term is one BIGINT
    * floor division, the sum is a two-term integer add — no floats
    * anywhere, so the fused ordering is hash-stable on both engines.
    *
    * 100 TB: both arms read their materialized rank tables
    * ([[SparseRankTable]]/[[DenseRankTable]] — panel-bounded artifacts,
    * built once per corpus build by the arm queries' own plans, whose
    * scale stories are q134's/q82's); the fusion itself is one
    * full-outer equi join of two (queries × k)-row frames plus a
    * per-query window over ≤ 15 rows — adding an arm or a query costs
    * rank-table work, never a corpus pass. FULLY ORACLED: q134's and
    * q82's oracle CTE chains composed verbatim, same full-outer join,
    * same integer RRF arithmetic. */
  val q171HybridRrf: Q = (spark, dir) => {
    val sparse = SparseRankTable.of(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rk").as("rank_sparse"))
    val dense = DenseRankTable.of(spark, dir)
      .filter(col("qid") < Bm25QueryCount)
      .select(col("qid").cast("int").as("query_id"),
        col("nid").as("doc_id"), col("rnk").as("rank_dense"))
    // FULL outer: a doc ranked by only one arm still fuses (with the
    // other term 0) — dropping it would make RRF an intersection,
    // which is not the method
    val fused = sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_e9",
        coalesce(expr(s"1000000000 div ($RrfK + rank_sparse)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($RrfK + rank_dense)"), lit(0L)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_e9").desc, col("doc_id").asc)
    orderAll(fused
      .withColumn("fused_rank", row_number().over(w))
      .select(col("query_id"), col("fused_rank"), col("doc_id"),
        col("rank_sparse"), col("rank_dense"), col("rrf_e9")))
  }

  /** q172's query-term panel as a materialized artifact (the
    * [[SparseRankTable]]/[[DenseRankTable]] posture, one layer up):
    * production rerankers read the query definitions from a served
    * artifact, not by re-deriving the df ranking per call. Built once
    * per (JVM, corpus fingerprint) by the SAME [[qtermsOf]] spelling
    * q134 uses, so the panel q172 scores against cannot drift from the
    * panel the sparse arm retrieved for. 15 rows — the parquet
    * round-trip is exact. q134 itself never reads it (the derivation
    * is part of its declared benchmark — the q68/q144 division). */
  private[graft] object QueryPanelTable {
    private val tbl = new LlmOps.MaterializedTable("bm25panel",
      (s, d) => qtermsOf(bm25Tf(s, d)))
    def of(spark: SparkSession, dir: String): DataFrame = tbl.of(spark, dir)
    /** The un-memoized derivation — CompositionSpec's memoized ≡ fresh
      * pin (the GateIndexTable.fresh convention). */
    def fresh(spark: SparkSession, dir: String): DataFrame =
      qtermsOf(bm25Tf(spark, dir))
  }

  /** q172's proximity-bonus ceiling, in tokens: a pair whose matched
    * query terms sit within a span S earns max(0, Cap − S). 1000 keeps
    * the packed score's fields disjoint (bonus·[[RerankProxStep]] <
    * 10⁸ < the [[RerankCoverageStep]]) while still separating
    * same-sentence matches from document-width scatter at any
    * realistic doc length. All four packing constants are interpolated
    * into the oracle — one spelling each (CompositionSpec deliberately
    * re-derives with its OWN literals, so a drifted constant fails the
    * spec, not just the oracle). */
  private[graft] val RerankProxCap: Long = 1000L
  private[graft] val RerankCoverageStep: Long = 1000000000L
  private[graft] val RerankProxStep: Long = 10000L
  private[graft] val RerankTfCap: Long = 9999L

  /** q172 [EXT]: cross-encoder-style reranking over q171's fused
    * candidates — the remaining stage of the standard two-stage
    * retrieval stack (retrieve cheaply at corpus scale, then re-score
    * the top-k with a model that sees the QUERY AND THE DOCUMENT
    * TOGETHER; Nogueira & Cho 2019's BERT reranker is the canonical
    * instance). The scorer here is the engine-portable deterministic
    * stand-in: per (query, candidate) pair it re-reads the candidate
    * BODY and computes interaction features neither arm's precomputed
    * representation carries — term coverage (how many of the query's 3
    * terms occur), matched-term proximity (the span between first
    * occurrences — Tao & Zhai 2007's minimal-distance class of
    * proximity heuristics), and capped term frequency — packed into
    * one exact BIGINT, ce_e9 = n_match·10⁹ +
    * max(0, [[RerankProxCap]] − span)·10⁴ (n_match ≥ 2 only) +
    * min(tf_sum, 9999): coverage dominates, proximity breaks coverage
    * ties, tf breaks proximity ties, doc_id breaks exact ties. No
    * floats anywhere; DuckDB computes the identical packing.
    *
    * 100 TB: the candidate set is panel-bounded (≤ queries × 15 from
    * q171, whose arms serve memoized rank tables), so the ONLY
    * corpus-touching step is fetching candidate bodies — done as a
    * point-lookup: the ≤75 candidate ids are collected driver-side
    * (the documented panel-bounded-scalar class) and pushed as an In
    * filter INTO the parquet scan (row-group pruning; PlanSpec pins
    * the pushdown), exactly how a production reranker fetches k bodies
    * rather than scanning. Everything after the fetch is row-local
    * scoring on ≤75×3 feature rows plus a per-query window over ≤ 15
    * rows. A neural cross-encoder would swap the scoring expression
    * for a model call; the candidate plumbing — the part Spark owns —
    * is identical. */
  val q172RerankCross: Q = (spark, dir) => {
    import spark.implicits._
    // ONE action materializes the fused candidates driver-side (the
    // documented panel-bounded-scalar class, ≤ queries×15 rows): the id
    // set feeds the scan pushdown and the frame itself re-enters the
    // plan as a broadcast LocalRelation — no persist, no second q171
    // execution
    val fusedRows = q171HybridRrf(spark, dir)
      .select(col("query_id"), col("fused_rank"), col("doc_id"), col("rrf_e9"))
      .collect()
    val ids = fusedRows.map(_.getLong(2)).distinct.sorted
    val cands = fusedRows.toIndexedSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toDF("query_id", "fused_rank", "doc_id", "rrf_e9")
    val docs = t(spark, dir, "documents")
      .filter(col("doc_id").isin(ids.map(Long.box).toIndexedSeq: _*))
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("toks"))
    val panel = QueryPanelTable.of(spark, dir)
      .select(col("query_id"), col("term"))
    // the corpus scan streams through BROADCAST joins (candidate frame
    // and panel are both panel-bounded) — bodies join map-side at the
    // pruned scan, nothing corpus-sized ever shuffles
    val feat = docs
      .join(broadcast(cands), Seq("doc_id"))
      .join(broadcast(panel), Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("fused_rank"),
        col("rrf_e9"),
        array_position(col("toks"), col("term")).as("pos"),
        size(filter(col("toks"), x => x === col("term")))
          .cast("long").as("tf_t"))
    val pair = feat
      .groupBy(col("query_id"), col("doc_id"), col("fused_rank"),
        col("rrf_e9"))
      .agg(sum(when(col("pos") > 0, 1L).otherwise(0L)).as("n_match"),
        min(when(col("pos") > 0, col("pos"))).as("minpos"),
        max(when(col("pos") > 0, col("pos"))).as("maxpos"),
        sum(col("tf_t")).as("tfsum"))
    val scored = pair.withColumn("ce_e9",
      col("n_match") * lit(RerankCoverageStep) +
        when(col("n_match") >= 2,
          greatest(lit(0L),
            lit(RerankProxCap) - (col("maxpos") - col("minpos"))))
          .otherwise(lit(0L)) * lit(RerankProxStep) +
        least(col("tfsum"), lit(RerankTfCap)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ce_e9").desc, col("doc_id").asc)
    orderAll(scored
      .withColumn("rerank", row_number().over(w))
      .select(col("query_id"), col("rerank"), col("doc_id"),
        col("fused_rank"), col("rrf_e9"), col("n_match"), col("ce_e9")))
  }

  val defs: Map[String, Q] = Map(
    "q134_bm25_retrieval" -> q134Bm25Retrieval,
    "q171_hybrid_rrf" -> q171HybridRrf,
    "q172_rerank_cross" -> q172RerankCross,
    "q135_source_overlap" -> q135SourceOverlap,
    "q136_importance_resample" -> q136ImportanceResample,
    "q137_minwise_panel" -> q137MinwisePanel,
    "q138_memorization_span" -> q138MemorizationSpan,
    "q139_mlm_mask" -> q139MlmMask,
    "q140_curriculum_order" -> q140CurriculumOrder,
    "q141_span_corruption" -> q141SpanCorruption,
    "q142_source_drift" -> q142SourceDrift,
    "q143_epoch_allocation" -> q143EpochAllocation)

  /** q135's oracle shingle expression over 1-based `toks[i]`. */
  private def shingleSql(n: Int): String =
    (0 until n).map(o => s"toks[i + $o]").mkString(" || ' ' || ")


  val oracles: Map[String, String] = Map(
    "q134_bm25_retrieval" ->
      s"""WITH ${OracleCtes.bm25Top}
        |SELECT query_id, rk, doc_id, n_hit, score_fp FROM top WHERE rk <= 10
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
        |  5 NULLS FIRST""".stripMargin,
    "q171_hybrid_rrf" ->
      // q134's and q82's oracle chains verbatim (OracleCtes — one
      // spelling per arm), full-outer fused by (query_id, doc_id),
      // integer RRF terms, re-ranked (rrf DESC, doc_id ASC)
      s"""WITH ${OracleCtes.bm25Top},
        |${OracleCtes.denseTopk},
        |sp AS (SELECT query_id, doc_id, rk AS rank_sparse
        |       FROM top WHERE rk <= 10),
        |dn AS (SELECT CAST(qid AS INT) AS query_id, nid AS doc_id,
        |         rnk AS rank_dense
        |       FROM r WHERE rnk <= 5 AND qid < $Bm25QueryCount),
        |fused AS (
        |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
        |    coalesce(s.doc_id, d.doc_id) AS doc_id,
        |    s.rank_sparse, d.rank_dense,
        |    CAST(coalesce(1000000000 // ($RrfK + s.rank_sparse), 0)
        |       + coalesce(1000000000 // ($RrfK + d.rank_dense), 0)
        |      AS BIGINT) AS rrf_e9
        |  FROM sp s FULL OUTER JOIN dn d
        |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_e9 DESC, doc_id ASC) AS INT) AS fused_rank,
        |  doc_id, rank_sparse, rank_dense, rrf_e9
        |FROM fused
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST""".stripMargin,
    "q172_rerank_cross" ->
      // q171's fused CTE chain verbatim (both arms via OracleCtes, same
      // full-outer fusion, same fused_rank window), then the candidate
      // bodies fetched by id, the per-(pair, term) interaction features
      // (1-based first-occurrence position — coalesce(list_position, 0)
      // mirrors Spark's array_position not-found = 0 — and exact term
      // frequency), and the identical integer score packing
      s"""WITH ${OracleCtes.bm25Top},
        |${OracleCtes.denseTopk},
        |sp AS (SELECT query_id, doc_id, rk AS rank_sparse
        |       FROM top WHERE rk <= 10),
        |dn AS (SELECT CAST(qid AS INT) AS query_id, nid AS doc_id,
        |         rnk AS rank_dense
        |       FROM r WHERE rnk <= 5 AND qid < $Bm25QueryCount),
        |fused AS (
        |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
        |    coalesce(s.doc_id, d.doc_id) AS doc_id,
        |    CAST(coalesce(1000000000 // ($RrfK + s.rank_sparse), 0)
        |       + coalesce(1000000000 // ($RrfK + d.rank_dense), 0)
        |      AS BIGINT) AS rrf_e9
        |  FROM sp s FULL OUTER JOIN dn d
        |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id),
        |frank AS (
        |  SELECT query_id, doc_id, rrf_e9,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_e9 DESC, doc_id ASC) AS INT) AS fused_rank
        |  FROM fused),
        |dtoks AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS dt
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM frank)),
        |feat AS (
        |  SELECT f.query_id, f.doc_id, f.fused_rank, f.rrf_e9,
        |    CAST(coalesce(list_position(d.dt, q.term), 0) AS BIGINT) AS pos,
        |    CAST(len(list_filter(d.dt, x -> x = q.term)) AS BIGINT) AS tf_t
        |  FROM frank f
        |  JOIN dtoks d USING (doc_id)
        |  JOIN qterms q ON q.query_id = f.query_id),
        |pair AS (
        |  SELECT query_id, doc_id, fused_rank, rrf_e9,
        |    CAST(sum(CASE WHEN pos > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_match,
        |    min(CASE WHEN pos > 0 THEN pos END) AS minpos,
        |    max(CASE WHEN pos > 0 THEN pos END) AS maxpos,
        |    CAST(sum(tf_t) AS BIGINT) AS tfsum
        |  FROM feat GROUP BY 1, 2, 3, 4),
        |cescore AS (  -- "scored" is taken by the bm25 chain
        |  SELECT query_id, doc_id, fused_rank, rrf_e9, n_match,
        |    CAST(n_match * $RerankCoverageStep
        |      + CASE WHEN n_match >= 2
        |          THEN greatest(0, $RerankProxCap - (maxpos - minpos))
        |          ELSE 0 END * $RerankProxStep
        |      + least(tfsum, $RerankTfCap) AS BIGINT) AS ce_e9
        |  FROM pair)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY ce_e9 DESC, doc_id ASC) AS INT) AS rerank,
        |  doc_id, fused_rank, rrf_e9, n_match, ce_e9
        |FROM cescore
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST, 7 NULLS FIRST""".stripMargin,
    "q135_source_overlap" -> {
      val n = OverlapShingleN
      s"""WITH sp AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT DISTINCT source, ${shingleSql(n)} AS sh
         |       FROM sp, unnest(range(1, len(toks) - ${n - 2})) AS t(i)),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh
         |          FROM sh GROUP BY 1),
         |com AS (SELECT a.source AS src_a, b.source AS src_b,
         |          CAST(count(*) AS BIGINT) AS common
         |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
         |        GROUP BY 1, 2)
         |SELECT x.source AS src_a, y.source AS src_b,
         |  x.n_sh AS sh_a, y.n_sh AS sh_b,
         |  coalesce(c.common, 0) AS common,
         |  round(CAST(coalesce(c.common, 0) AS DOUBLE) /
         |    (x.n_sh + y.n_sh - coalesce(c.common, 0)), 6) AS jaccard,
         |  round(CAST(coalesce(c.common, 0) AS DOUBLE) / x.n_sh, 6) AS cont_a,
         |  round(CAST(coalesce(c.common, 0) AS DOUBLE) / y.n_sh, 6) AS cont_b
         |FROM sizes x JOIN sizes y ON x.source < y.source
         |LEFT JOIN com c ON c.src_a = x.source AND c.src_b = y.source
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
         |  5 NULLS FIRST, 6 NULLS FIRST, 7 NULLS FIRST, 8 NULLS FIRST""".stripMargin
    },
    "q138_memorization_span" -> {
      val n = LlmOps.LeakShingleN
      val r = MemoRunMin
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
         |planted AS (
         |  SELECT doc_id + 5000000 AS doc_id,
         |    array_to_string(
         |      string_split(text, ' ')[1:len(string_split(text, ' ')) - 1],
         |      ' ') AS text
         |  FROM d0 WHERE ${knuthBucketSql("doc_id", 100L)} < 80),
         |corpus AS (
         |  SELECT * FROM d0
         |  UNION ALL SELECT * FROM planted WHERE ${knuthBucketSql("doc_id", 100L)} >= 80),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |         ELSE 'test' END AS split,
         |    string_split(text, ' ') AS toks
         |  FROM (SELECT doc_id, text, ${knuthBucketSql("doc_id", 100L)} AS b FROM corpus)),
         |pos AS (
         |  SELECT doc_id, i, ${shingleSql(n)} AS sh
         |  FROM sp, unnest(range(1, len(toks) - ${n - 2})) AS t(i)
         |  WHERE split <> 'train'),
         |tsh AS (
         |  SELECT DISTINCT ${shingleSql(n)} AS sh
         |  FROM sp, unnest(range(1, len(toks) - ${n - 2})) AS t(i)
         |  WHERE split = 'train'),
         |hits AS (SELECT p.doc_id, p.i FROM pos p JOIN tsh USING (sh)),
         |runs AS (SELECT doc_id,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |  FROM hits),
         |rl AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_len
         |       FROM runs GROUP BY 1, 2),
         |mx AS (SELECT doc_id, CAST(max(run_len) AS BIGINT) AS max_run,
         |         CAST(sum(run_len) AS BIGINT) AS n_hit
         |       FROM rl GROUP BY 1),
         |ev AS (SELECT doc_id, split,
         |         CAST(greatest(len(toks) - ${n - 1}, 0) AS BIGINT) AS n_pos
         |       FROM sp WHERE split <> 'train')
         |SELECT e.doc_id, e.split, e.n_pos,
         |  coalesce(m.n_hit, 0) AS n_hit,
         |  coalesce(m.max_run, 0) AS max_run,
         |  coalesce(m.max_run, 0) >= $r AS memorized
         |FROM ev e LEFT JOIN mx m USING (doc_id)
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
         |  5 NULLS FIRST, 6 NULLS FIRST""".stripMargin
    },
    "q137_minwise_panel" -> {
      val k = graft.streaming.MinwisePanel.K
      s"""WITH p AS (
         |  SELECT source, doc_id,
         |    ${knuthMixSql("doc_id")} AS prio
         |  FROM documents),
         |r AS (SELECT source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY prio ASC, doc_id ASC) AS INT) AS rk,
         |    doc_id, prio
         |  FROM p)
         |SELECT source, rk, doc_id, prio FROM r WHERE rk <= $k
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
         |  4 NULLS FIRST""".stripMargin
    },
    "q136_importance_resample" -> {
      val s = ResampleShards
      val m = ResampleTarget
      s"""WITH ${TokenStats.dsirCte},
         |wt AS (
         |  SELECT doc_id, lang, gain_bits,
         |    CAST(CAST(1 AS BIGINT) <<
         |      CAST(greatest(-4, least(10, gain_bits)) + 4 AS INT) AS BIGINT) AS w,
         |    CAST(${knuthBucketSql("doc_id", s)} AS BIGINT) AS shard
         |  FROM dsir),
         |cum AS (
         |  SELECT *, CAST(sum(w) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_in
         |  FROM wt),
         |tots AS (SELECT shard, CAST(sum(w) AS BIGINT) AS tot FROM wt GROUP BY 1),
         |offs AS (SELECT shard, CAST(coalesce(sum(tot) OVER (ORDER BY shard
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM tots),
         |g AS (SELECT CAST(sum(tot) AS BIGINT) AS w_total FROM tots),
         |fin AS (
         |  SELECT c.doc_id, c.lang, c.gain_bits, c.shard, c.w,
         |    c.cum_in + o.off AS cum,
         |    greatest(g.w_total // $m, 1) AS step
         |  FROM cum c JOIN offs o USING (shard) CROSS JOIN g)
         |SELECT doc_id, lang, gain_bits, shard, w, cum,
         |  CAST(cum // step - (cum - w) // step AS BIGINT) AS n_picks
         |FROM fin
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
         |  5 NULLS FIRST, 6 NULLS FIRST, 7 NULLS FIRST""".stripMargin
    },
    "q139_mlm_mask" -> {
      val rate = MaskPermille
      val epoch = MaskEpoch
      val key = s"(((doc_id % 1000000007) + 1000000007) % 1000000007 " +
        s"* 100003 + t.pos * 7 + $epoch)"
      s"""WITH tk AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
         |      AS n_toks
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, lang, n_toks, CAST(t.pos AS BIGINT) AS pos,
         |    CASE WHEN ${knuthBucket2Sql(key, 1000L)} < $rate
         |         THEN 1 ELSE 0 END AS m
         |  FROM tk, unnest(range(1, n_toks + 1)) AS t(pos))
         |SELECT doc_id, lang, n_toks,
         |  CAST(sum(m) AS BIGINT) AS n_masked,
         |  CAST(sum(m * pos) AS BIGINT) AS mask_possum
         |FROM pos
         |GROUP BY 1, 2, 3
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
         |  5 NULLS FIRST""".stripMargin
    },
    "q141_span_corruption" -> {
      val rate = SpanStartPermille
      val lenMax = SpanLenMax
      val epoch = MaskEpoch
      val startKey = s"(((doc_id % 1000000007) + 1000000007) % 1000000007 " +
        s"* 100003 + t.pos * 11 + $epoch)"
      val lenKey = s"(((doc_id % 1000000007) + 1000000007) % 1000000007 " +
        s"* 100003 + s * 13 + $epoch)"
      s"""WITH tk AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
         |      AS n_toks
         |  FROM documents),
         |st AS (
         |  SELECT doc_id, lang, n_toks, CAST(t.pos AS BIGINT) AS s
         |  FROM tk, unnest(range(1, n_toks + 1)) AS t(pos)
         |  WHERE ${knuthBucket2Sql(startKey, 1000L)} < $rate),
         |cov AS (
         |  SELECT DISTINCT doc_id, CAST(p.pos AS BIGINT) AS pos
         |  FROM st,
         |    unnest(range(s,
         |      least(s + ${knuthBucket2Sql(lenKey, lenMax)} + 1, n_toks + 1)))
         |      AS p(pos)),
         |spans AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
         |          FROM st GROUP BY 1),
         |mass AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_corrupt,
         |           CAST(sum(pos) AS BIGINT) AS span_possum
         |         FROM cov GROUP BY 1)
         |SELECT tk.doc_id, tk.lang, tk.n_toks,
         |  CAST(coalesce(sp.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(m.n_corrupt, 0) AS BIGINT) AS n_corrupt,
         |  CAST(coalesce(m.span_possum, 0) AS BIGINT) AS span_possum
         |FROM tk
         |LEFT JOIN spans sp ON tk.doc_id = sp.doc_id
         |LEFT JOIN mass m ON tk.doc_id = m.doc_id
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
         |  5 NULLS FIRST, 6 NULLS FIRST""".stripMargin
    },
    "q142_source_drift" -> {
      s"""WITH tok AS (
         |  SELECT source, ${knuthBucketSql("doc_id", 2L)} AS h, t.term
         |  FROM documents,
         |    unnest(string_split(coalesce(text, ''), ' ')) AS t(term)),
         |cnt AS (
         |  SELECT source, term,
         |    CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
         |  FROM tok GROUP BY 1, 2),
         |tot AS (
         |  SELECT source, CAST(sum(c0) AS BIGINT) AS t0,
         |    CAST(sum(c1) AS BIGINT) AS t1
         |  FROM cnt GROUP BY 1),
         |rated AS (
         |  SELECT c.source,
         |    CAST(CAST(c0 AS HUGEINT) * 1000000 // nullif(t0, 0) AS BIGINT)
         |      AS p0,
         |    CAST(CAST(c1 AS HUGEINT) * 1000000 // nullif(t1, 0) AS BIGINT)
         |      AS p1
         |  FROM cnt c JOIN tot USING (source))
         |SELECT r.source, CAST(count(*) AS BIGINT) AS n_terms, t.t0, t.t1,
         |  CAST(sum(abs(p0 - p1)) AS BIGINT) AS l1_ppm
         |FROM rated r JOIN tot t USING (source)
         |GROUP BY 1, 3, 4
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
         |  5 NULLS FIRST""".stripMargin
    },
    "q143_epoch_allocation" -> {
      val cap = EpochCap
      val bPm = EpochBudgetPermille
      s"""WITH m AS (
         |  SELECT source,
         |    CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT)
         |      AS n_toks
         |  FROM documents GROUP BY 1),
         |mm AS (SELECT source, n_toks,
         |    CAST(n_toks * $cap AS BIGINT) AS cap_toks FROM m),
         |g AS (SELECT CAST(sum(n_toks) AS BIGINT) AS t_total,
         |    CAST(count(*) AS BIGINT) AS s_count FROM mm),
         |walk AS (
         |  SELECT mm.*, g.s_count,
         |    CAST(CAST(g.t_total AS HUGEINT) * $bPm // 1000 AS BIGINT)
         |      AS budget,
         |    CAST(row_number() OVER w AS BIGINT) AS rk,
         |    CAST(coalesce(sum(CAST(cap_toks AS HUGEINT)) OVER
         |      (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS HUGEINT) AS cum_prev
         |  FROM mm CROSS JOIN g
         |  WINDOW w AS (ORDER BY cap_toks ASC, source ASC)),
         |flagged AS (
         |  SELECT *,
         |    CAST(cap_toks AS HUGEINT) * (s_count - rk + 1)
         |      <= CAST(budget AS HUGEINT) - cum_prev AS capped
         |  FROM walk),
         |b AS (
         |  SELECT CAST(sum(CASE WHEN capped
         |        THEN CAST(cap_toks AS HUGEINT) ELSE 0 END)
         |      AS HUGEINT) AS cum_capped,
         |    CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_capped
         |  FROM flagged),
         |alloc AS (
         |  SELECT f.source, f.n_toks, f.cap_toks,
         |    CASE WHEN f.capped THEN f.cap_toks
         |         ELSE CAST((f.budget - b.cum_capped)
         |           // nullif(f.s_count - b.n_capped, 0) AS BIGINT)
         |    END AS alloc_toks
         |  FROM flagged f CROSS JOIN b)
         |SELECT source, n_toks, cap_toks, alloc_toks,
         |  CAST(CAST(alloc_toks AS HUGEINT) * 1000 // n_toks AS BIGINT)
         |    AS epochs_permille
         |FROM alloc
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
         |  5 NULLS FIRST""".stripMargin
    },
    "q140_curriculum_order" -> {
      val cap = CurriculumLenCap
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    least(CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT),
         |      $cap) AS dl
         |  FROM documents),
         |hist AS (
         |  SELECT lang, dl, CAST(count(*) AS BIGINT) AS cnt
         |  FROM d GROUP BY 1, 2),
         |ph AS (
         |  SELECT lang, dl,
         |    CAST((3 * (sum(cnt) OVER (PARTITION BY lang ORDER BY dl
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt))
         |      // sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS phase
         |  FROM hist)
         |SELECT d.doc_id, d.lang, d.dl, ph.phase,
         |  CAST(${knuthMixSql("d.doc_id")} AS BIGINT) AS prio
         |FROM d JOIN ph ON d.lang = ph.lang AND d.dl = ph.dl
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
         |  5 NULLS FIRST""".stripMargin
    })
}
