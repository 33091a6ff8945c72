package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Corpus-preparation operators, round 8 of the LLM-pipeline
  * surface (SURVEY.md §2.2): substring-containment dedup, statistical
  * quality scoring, per-language length banding, deterministic
  * shuffle-sharding for training order, and embedding cluster
  * assignment. All follow the package determinism rules (total ORDER BY,
  * engine-exact integer arithmetic where possible, round-to-6dp only
  * where doubles are unavoidable) and the fingerprints-not-bodies
  * shuffle posture.
  */
object CorpusOps {

  private def shingleDfCap = LlmOps.geom.shingleDfCap

  /** Non-empty (doc_id, tok) token stream of a (doc_id, text) frame —
    * the shared scaffold of q70's rarity join and q48's OOV report,
    * persisted because every caller aggregates it at least twice (the
    * oracle-side mirror is [[toksCte]]; keep the two in lockstep). */
  private[queries] def tokenStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .scopedPersist

  /** DuckDB mirror of [[tokenStream]], interpolated into the q48/q70
    * oracles so the tokenization cannot silently diverge between them. */
  private[queries] val toksCte =
    """toks AS (
      |  SELECT doc_id, t.tok FROM documents,
      |    unnest(string_split(text, ' ')) AS t(tok)
      |  WHERE t.tok <> '')""".stripMargin

  /** q69: substring-containment dedup — flag documents whose full token
    * sequence appears as a contiguous run inside another document (the
    * truncation/quotation duplicate class that hash dedup misses: the
    * texts differ, so q80 keeps both, yet the shorter adds no new
    * content). Containment is TOKEN-aligned (both texts padded with
    * sentinel spaces before the substring test), so a token that merely
    * ends with another doc's first word cannot fake a match.
    *
    * Candidate generation is linear, never all-pairs: a containee's
    * FIRST 3-token shingle must appear among the container's shingles,
    * so each doc probes the q88-style inverted index with exactly ONE
    * key. Work is Σ over docs of df(first shingle), bounded by the
    * shared df-cap ([[graft.core.SketchGeometry]] `shingleDfCap`, its
    * Σ df² boilerplate argument) — a doc whose OPENING trigram is
    * corpus boilerplate is undiscoverable by this index, a recall
    * sacrifice mirrored exactly in the oracle so both engines agree.
    * Shingles are xxhash64 fingerprints (8-byte join keys; membership-
    * invariant vs the oracle's string shingles, q88's argument), the
    * candidate join moves id pairs only, and bodies are fetched by id
    * for candidate rows alone — at 100 TB the containment verify
    * touches O(candidates) documents, not O(corpus²).
    *
    * Drop rule (which side of a verified pair is the duplicate): the
    * strictly shorter text, ties (equal length ⇒ identical token-aligned
    * text) to the higher doc_id — so exactly one side of an
    * equal-text pair is flagged and the output is deterministic. */
  val q69DedupSubstring: Q = (spark, dir) => {
    // persisted: consumed by the index build, the containee probe, and
    // both verify-side body joins — without it the union + mutated-copy
    // + split subtree re-runs per consumer (q88's measured defect class)
    val d = LlmOps.docsWithNearDups(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .scopedPersist
    // inverted shingle index, per-doc-distinct built narrow (q88's shape)
    val shingles = d.select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(1), size(col("toks")) - 2),
          i => xxhash64(
            element_at(col("toks"), i),
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))))
          .as("sh"))
      .scopedPersist
    val informative = shingles.groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= shingleDfCap)
      .select("sh")
      .scopedPersist
    val idx = shingles.join(informative, Seq("sh"))
    // one probe key per doc: the opening shingle
    val containees = d.select(col("doc_id").as("ce_id"),
        xxhash64(element_at(col("toks"), 1), element_at(col("toks"), 2),
          element_at(col("toks"), 3)).as("sh"))
      .join(informative, Seq("sh"))
    // id-only candidate pairs (idx is per-doc-distinct, so no dedup needed)
    val cand = containees.join(idx, Seq("sh"))
      .filter(col("doc_id") =!= col("ce_id"))
      .select(col("ce_id"), col("doc_id").as("cont_id"))
    // bodies join the plan here, for candidate rows only
    val verified = cand
      .join(d.select(col("doc_id").as("ce_id"), col("text").as("ce_text")), Seq("ce_id"))
      .join(d.select(col("doc_id").as("cont_id"), col("text").as("cont_text")), Seq("cont_id"))
      .filter(instr(concat(lit(" "), col("cont_text"), lit(" ")),
        concat(lit(" "), col("ce_text"), lit(" "))) > 0)
      .filter(length(col("ce_text")) < length(col("cont_text")) ||
        (length(col("ce_text")) === length(col("cont_text")) &&
          col("ce_id") > col("cont_id")))
    orderAll(verified.groupBy(col("ce_id").as("doc_id"))
      .agg(min(col("cont_id")).as("kept_by"), count(lit(1)).as("n_containers")))
  }

  /** q70: statistical rarity score — mean inverse corpus frequency of a
    * document's tokens, the unigram-LM quality signal (a doc of rare
    * tokens scores high: gibberish, boilerplate-free prose, or OCR
    * noise; a doc of corpus-dominant tokens scores ~1). Deliberately
    * engine-EXACT where LM scoring is usually float-fuzzy: per-token
    * inverse frequency is computed in parts-per-million with integer
    * floor division, summed exactly, and only the final two divisions
    * are double (each IEEE correctly-rounded, so bit-identical
    * everywhere) — no ln(), whose last-ulp value is libm-specific and
    * would make the 6-dp hash gate probabilistic.
    *
    * Overflow posture (the naive `(1e6 · total) div ct` wraps BIGINT
    * once the corpus passes ~9.2e12 tokens): the quotient is decomposed
    * as 1e6·(total div ct) + (1e6·(total mod ct)) div ct —
    * algebraically identical — with the mod-term product lifted to
    * DECIMAL(38,0) (HUGEINT in the oracle), and the ratio total/ct
    * CAPPED at 1e6 (ippm ≤ 1e12; "rarer than one-in-a-million reads as
    * one-in-a-million", standard IDF clipping). Every intermediate is
    * then bounded for any total ≤ 2⁶³−1 tokens, and per-doc sums stay
    * exact to ~9.2M tokens/doc at the cap. The cap cannot fire at the
    * gate SFs (ratios there ≤ corpus token count ≪ 1e6), so it is
    * value-invariant where the oracle checks, and saturating — not
    * wrapping, identically on both engines — where it cannot.
    *
    * 100 TB: the vocabulary table is the groupBy of the exploded token
    * stream (map-side combinable on the token key); the corpus total
    * rides on it via a single-partition window over the AGGREGATE (rows
    * ≪ corpus — a web-scale vocab swaps this for a two-level count);
    * per-doc scoring joins tokens to it BROADCAST (beyond broadcast
    * range, a shuffle join on the token key), then aggregates partial
    * sums per doc — the only corpus-sized shuffles are keyed on token
    * and doc_id. */
  /** The capped, decomposed ippm term over columns `total` and `ct` —
    * factored out so CorpusOpsSpec can probe the overflow domain
    * directly (naive-formula equivalence below the cap, exactness where
    * the naive product wraps, saturation at ratio ≥ 1e6). */
  private[graft] def ippmExpr = expr(
    """CASE WHEN total div ct >= 1000000 THEN 1000000000000
      |ELSE 1000000 * (total div ct)
      |  + (cast(1000000 as decimal(38,0)) * (total % ct)) div ct
      |END""".stripMargin)

  val q70RarityScore: Q = (spark, dir) => {
    val toks = tokenStream(t(spark, dir, "documents"))
    // the corpus total rides ON the vocab table (a window over the
    // already-aggregated vocabulary — rows ≪ corpus), so the exploded
    // token stream joins exactly once, broadcast, and no corpus-side
    // cross join exists anywhere in the plan
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("ct"))
      .withColumn("total", sum(col("ct")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val scored = toks
      .join(broadcast(vocab), Seq("tok"))
      .select(col("doc_id"), ippmExpr.as("ippm"))
    orderAll(scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("ippm")).as("sum_ippm"))
      .select(col("doc_id"), col("n_toks"),
        round(col("sum_ippm") / col("n_toks") / lit(1000000.0), 6).as("rarity6")))
  }

  /** q71: per-language length-band filter — keep documents inside the
    * [5th, 95th] percentile of n_chars for their language, the standard
    * outlier cut before training (truncated fragments below, concatenated
    * junk above). The band bounds are ORDER-STATISTIC exact, not
    * interpolated: rank k_lo = ⌈n/20⌉ and k_hi = ⌈19n/20⌉ over
    * (n_chars, doc_id), in pure integer arithmetic — quantile_cont-style
    * interpolation differs in last-ulp formula between engines, order
    * statistics cannot.
    *
    * 100 TB: one shuffle (the per-lang window); bounds are a
    * #languages-row table joined back broadcast. The in-partition sort is
    * the cost at scale — the approximate path is percentile_approx over
    * the same key feeding the same broadcast join, swappable without
    * changing the output contract. */
  val q71LengthBandFilter: Q = (spark, dir) => {
    val d = t(spark, dir, "documents")
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val ranked = d.select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
    val bounds = ranked
      .filter(col("rn") === ((col("n") + 19) / 20).cast("long") ||
        col("rn") === ((col("n") * 19 + 19) / 20).cast("long"))
      .groupBy("lang")
      .agg(min(when(col("rn") === ((col("n") + 19) / 20).cast("long"), col("n_chars"))).as("lo"),
        max(when(col("rn") === ((col("n") * 19 + 19) / 20).cast("long"), col("n_chars"))).as("hi"))
    orderAll(d.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(bounds), Seq("lang"))
      .filter(col("n_chars").between(col("lo"), col("hi")))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("lo"), col("hi")))
  }

  /** q72: deterministic shuffle-shard — the training-order primitive:
    * assign every document a pseudo-random but REPRODUCIBLE (shard,
    * position) so a 1000-reader data loader streams a fixed global
    * permutation with no coordination. The mix is q94's engine-neutral
    * Knuth multiplicative hash mod 1e9+7 (exact BIGINT on any engine —
    * no xxhash64, which the oracle cannot evaluate); shard = mix mod 8,
    * position = rank of mix within the shard, global_pos interleaves
    * shards round-robin ((pos−1)·8 + shard) so readers draw from all
    * shards uniformly.
    *
    * 100 TB: one shuffle keyed on shard; the rank is a per-shard window
    * (32 → #shards parallel sorts, each over mix values — at production
    * scale shard count scales with the cluster, not 8). No global
    * single-partition window anywhere. */
  val q72ShuffleShard: Q = (spark, dir) => {
    val mix = knuthMix(col("doc_id"))
    val w = Window.partitionBy(col("shard")).orderBy(col("mix"), col("doc_id"))
    // row_number() is IntegerType: a shard holding ≥2^31 docs wraps
    // negative BEFORE the .cast("long") below, silently corrupting every
    // position (round-8 advice). 8 shards is the oracled test geometry —
    // production derives shard count from corpus size so docs/shard stays
    // far under 2^31 — and this guard turns the wraparound into a loud
    // failure at the first overflowed position: assert_true raises,
    // otherwise yields NULL, so `+ coalesce(check, 0)` is a value-
    // preserving, codegen'd no-op on every legal row.
    val posCheck = coalesce(assert_true(col("shard_pos") >= 1,
      lit("q72: shard_pos overflowed IntegerType — raise the shard count " +
        "so docs/shard stays below 2^31")), lit(0L))
    orderAll(t(spark, dir, "documents")
      .select(col("doc_id"), mix.as("mix"))
      .withColumn("shard", pmod(col("mix"), lit(8L)))
      .withColumn("shard_pos", row_number().over(w))
      .select(col("doc_id"), col("shard"),
        (col("shard_pos").cast("long") + posCheck).as("shard_pos"),
        ((col("shard_pos") - 1).cast("long") * 8 + col("shard")).as("global_pos")))
  }

  /** q73: embedding cluster assignment — nearest-centroid labeling, the
    * assignment step of k-means and the partitioner behind
    * cluster-balanced sampling and semantic sharding. Centroids are the
    * 8 lowest vec_id vectors (deterministic seed — Lloyd iterations
    * would reuse this exact operator with updated centroids); each
    * vector gets the centroid maximizing cosine (computed by the native
    * [[graft.functions.CosineSimilarity]] expression, q82's), ties to
    * the lower centroid id at 6 dp.
    *
    * 100 TB: centroids broadcast (k vectors), similarity computed
    * map-side via BroadcastNestedLoopJoin, and the arg-max is
    * groupBy(vec_id).max(struct(cos6, −c_id)) — lexicographic struct
    * max, partially aggregated map-side, so the one shuffle carries a
    * 24-byte struct per vector, never the k-fanned scores (a window
    * row_number over the k·n rows would shuffle k× that). */
  /** Every vector scored against the broadcast 8-centroid codebook,
    * map-side — the shared coarse-quantizer stage behind q73/q74
    * (argmax assignment) and q100 (IVF probe lists). */
  private def centroidScores(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    val v = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cent = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))
    v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("e"), col("c_id"),
        round(expr("cosine_sim(e, ce)"), 6).as("cc6"))
  }

  private def clusterScores(spark: SparkSession, dir: String): DataFrame = {
    val best = centroidScores(spark, dir)
      .select(col("vec_id"),
        struct(col("cc6").as("cos6"), (-col("c_id")).as("nid")).as("sc"))
      .groupBy("vec_id").agg(max(col("sc")).as("m"))
    best.select(col("vec_id"),
      (-col("m.nid")).as("centroid_id"), col("m.cos6").as("cos6"))
  }

  val q73ClusterAssign: Q = (spark, dir) => orderAll(clusterScores(spark, dir))

  /** q74: cluster-balanced sampling — keep the m vectors CLOSEST to each
    * centroid (by q73's assignment), the coreset/diversity step between
    * clustering and training-set assembly: uniform sampling over-serves
    * dominant modes, per-cluster top-m serves every mode equally. The
    * rank<=m filter plans as a map-side WindowGroupLimit (pinned), so
    * each map task forwards at most m rows per cluster — the shuffle is
    * bounded by m·k rows regardless of corpus size.
    *
    * Ties at equal rounded similarity break to the lower vec_id,
    * identically in the oracle's ORDER BY — the ranking is
    * deterministic on both engines. */
  val q74ClusterBalancedSample: Q = (spark, dir) => {
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(col("cos6").desc, col("vec_id").asc)
    orderAll(clusterScores(spark, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("centroid_id"), col("rnk"), col("vec_id"), col("cos6")))
  }

  /** q75: k-NN self-join — every vector's top-3 neighbors among its SRP
    * bucket peers, the corpus×corpus generalization of q82's broadcast
    * top-k (which requires a small query side; here BOTH sides are the
    * corpus). Candidates come from the same SRP bucket code
    * as q91/q92 (serialized into the oracle, so candidate sets match
    * bit-for-bit); the bucket join moves (vec_id, bucket) rows only and
    * vectors re-join by id for scoring — the q92 fingerprints-first
    * shuffle posture. Bucket-local work is Σ occupancy², held constant
    * by growing `srpBits` with the corpus (measured under the
    * geometry sweep in SCALEPROBE.md §q92); a vector with no bucket peer
    * has no neighbors at this probe radius — multi-probing (q91's
    * hamming-ball expansion) is the recall knob and composes unchanged.
    * Top-3 plans as a map-side WindowGroupLimit like q74. */
  /** Geometry-parameterized body — ScaleProbe drives this under the
    * srpBits sweep (bits + ⌈log2 k⌉ at k× data), the same operating
    * procedure q92 documents. */
  private[graft] def q75WithGeometry(g: graft.core.SketchGeometry): Q = (spark, dir) => {
    val v = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("bkt", LlmOps.srpBucket(col("e"), g))
      .scopedPersist
    val b = v.select(col("vec_id"), col("bkt"))
    val cand = b.as("x").join(b.as("y"), Seq("bkt"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nid"))
    val scored = cand
      .join(v.select(col("vec_id").as("qid"), col("e").as("qe")), Seq("qid"))
      .join(v.select(col("vec_id").as("nid"), col("e").as("ne")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(expr("cosine_sim(qe, ne)"), 6).as("cos6"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos6").desc, col("nid").asc)
    orderAll(scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("nid"), col("cos6")))
  }

  val q75KnnJoin: Q = (spark, dir) => q75WithGeometry(LlmOps.geom)(spark, dir)

  /** q100: true inverted-file (IVF) ANN — the centroid-quantizer
    * counterpart to q91's hash-bucketed LSH, completing both halves of
    * the "IVF or LSH" scale-path pair. Cells come from a codebook (the
    * 8 deterministic seed centroids q73 uses; production runs Lloyd
    * rounds through q73's assignment operator and grows k ~ √n), each
    * corpus vector joins its single argmax-cosine cell, and a query
    * probes its nProbe=2 nearest cells, exact-cosine re-ranking only the
    * probed cells' members for its top-3.
    *
    * 100 TB: the codebook broadcasts (k vectors); cell assignment is
    * map-side scoring + a struct-max partial agg (q73's shape — the one
    * shuffle carries 24-byte structs); the candidate join is equi on
    * cell id with the tiny fanned-out query side broadcast, so the
    * corpus stays partitioned and each query scans nProbe/k of it —
    * recall and work dial with nProbe exactly like q91's hamming
    * radius. FULLY ORACLED: cells, probe lists, and scores are
    * deterministic arithmetic (round-6 cosine, ties to lower id),
    * mirrored in DuckDB SQL. */
  val q100KnnIvf: Q = (spark, dir) => q100WithCodebook(8, 2)(spark, dir)

  /** q100 with explicit codebook size / probe count — the declared query
    * binds (k=8, nProbe=2); ScaleProbe drives k ∝ corpus (occupancy
    * n/k held constant, the production operating procedure: k ~ √n with
    * Lloyd-refined centroids) and specs measure the recall-vs-nProbe
    * curve. */
  private[graft] def q100WithCodebook(k: Int, nProbe: Int): Q = (spark, dir) => {
    // one shared map-side scoring pass feeds assignment AND probes
    val scored = centroidScores(spark, dir, k).scopedPersist
    // assignment shuffles (vec_id, 24-byte struct) only — vectors rejoin
    // by id afterwards (q73's stated posture, q92's fingerprints-first)
    val cells = scored
      .select(col("vec_id"), struct(col("cc6"), (-col("c_id")).as("nc")).as("sc"))
      .groupBy("vec_id").agg(max(col("sc")).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cell"))
    val v = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = v.join(cells, Seq("vec_id"))
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("cc6").desc, col("c_id").asc)
    val probes = scored.filter(col("vec_id") < 10)
      .withColumn("pr", row_number().over(wProbe)).filter(col("pr") <= nProbe)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("c_id").as("cell"))
    // each corpus vector lives in exactly one cell and a query's two
    // probed cells are distinct, so (qid, nid) pairs are already unique
    val cand = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(expr("cosine_sim(qe, e)"), 6).as("cos6"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos6").desc, col("nid").asc)
    orderAll(cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("nid"), col("cos6")))
  }

  /** q168 [EXT]: ANN recall audit — the index-quality number every
    * approximate-nearest-neighbor deployment publishes before anyone
    * trusts its candidates (recall@k vs exact brute force, the
    * FAISS-style evaluation): per probe query, how many of the exact
    * top-3 neighbors (q82's brute-force baseline, the declared ground
    * truth) the IVF index (q100, nProbe = 2) actually returned, and
    * the recall in exact ppm. This is the audit that turns "the scale
    * path is approximate" from a caveat into a measured number — and
    * the table a geometry change (codebook size, nProbe) is judged by.
    * Composes the two DECLARED ops' exact functions, so drift in
    * either parent is a CORRECTNESS failure here too.
    *
    * 100 TB: the ground-truth arm is the q82 brute-force class —
    * priced for a BENCHMARK query panel (10 queries here; audits
    * sample, they don't sweep) against the corpus scan, while the IVF
    * arm is the production bucketed path; the comparison itself is a
    * panel-sized semi join + rollup (≪ everything). FULLY ORACLED:
    * q100's deterministic IVF chain + q82's exact pairs, intersected
    * with the same round-6/lower-id tie order. */
  val q168AnnRecall: Q = (spark, dir) => annRecallWith(2)(spark, dir)

  /** q168 with an explicit probe count — spec-drivable at the
    * guarantee point: nProbe = codebook size probes EVERY cell, so the
    * IVF arm degenerates to exhaustive search and recall must read
    * exactly 1000000 ppm for every query (the property that certifies
    * the audit itself measures what it claims). */
  private[graft] def annRecallWith(nProbe: Int): Q = (spark, dir) => {
    val ivf = q100WithCodebook(8, nProbe)(spark, dir)
      .select(col("qid"), col("nid"))
    val exact = LlmOps.q82SimilarityTopk(spark, dir)
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("nid"))
      .scopedPersist
    val hits = exact.join(ivf, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    val out = exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        expr(TokenStats.ppmSql("n_hit", "n_exact")).as("recall_ppm"))
    orderAll(out)
  }

  /** Squared L2 distance between two double arrays, rounded to exact
    * BIGINT micro-units (×1e6) — pure codegen'd higher-order functions,
    * summed left-to-right like DuckDB's list_dot_product expansion, so
    * the micro-unit rounding agrees across engines (the round-6 cosine
    * argument, applied to distances). Integer micro-units exist so ADC
    * sums of m per-subspace distances are EXACT BIGINT adds — a double
    * sum would depend on Spark's partition-order reduction. */
  private def l2micro(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // native fused distance (graft.functions.SquaredL2) — same
    // left-to-right fold as the zip_with+aggregate spelling it
    // replaced, so the micro-unit rounding is bit-identical; the HOF
    // pair materialized a difference array per scored row in q101's
    // (vector × sub-space × sub-centroid) encode fan-out
    round(graft.functions.SquaredL2(a, b) * 1e6).cast("long")

  /** q101: IVF-PQ ANN — product quantization over q100's inverted file,
    * the memory posture that actually holds 100 TB of embeddings: a
    * 64-dim float vector is 256 bytes, its PQ code is m=8 sub-space
    * centroid ids (≤ 1 byte each at ks=8) — a 32× compression, so the
    * scan side of query serving fits in executor memory where raw
    * vectors cannot. Encode: each vector's j-th 8-dim slice maps to the
    * argmin-L2 sub-centroid (micro-unit exact, ties to the lower code).
    * Query: probes its nProbe=2 coarse cells (q100's machinery), builds
    * an m×ks asymmetric-distance table against the FULL-precision query
    * (ADC — the query is never quantized), scores every probed member by
    * the exact-BIGINT sum of m table lookups, shortlists the 10 best,
    * and exact-cosine re-ranks only those for its top-3 — the
    * FAISS-style IVFADC pipeline re-expressed as five Spark joins.
    *
    * 100 TB: the sub-codebook (m·ks rows) and per-query tables (m·ks
    * per query) broadcast; encoding is map-side scoring + a struct-min
    * partial agg keyed (vec_id, j) — the shuffle carries one 12-byte
    * struct per code, never the fanned scores (q73's posture); the ADC
    * join moves (qid, nid, code) ints with bodies NEVER shuffled —
    * vectors re-join by id for the 10-row shortlist only
    * (fingerprints-first, q92's posture). Per-query work is
    * nProbe/k of the corpus × m integer lookups — dialed by nProbe
    * (recall) and k (cell size) exactly like q100, with recall-vs-m
    * measured in CorpusOpsSpec. FULLY ORACLED: coarse cells, codes,
    * tables, ADC sums, and the re-rank are deterministic arithmetic
    * (round-6 cosine, micro-unit BIGINT distances, ties to lower id)
    * mirrored in DuckDB SQL. */
  val q101KnnPq: Q = (spark, dir) => q101WithPq(8, 2, 8, 8, 10)(spark, dir)

  /** q101 with explicit geometry — coarse codebook k / probe count
    * (q100's dials), sub-space count m, per-sub-space codebook ks, and
    * the exact-re-rank shortlist size. The declared query binds
    * (8, 2, 8, 8, 10); ScaleProbe grows k with the corpus and the spec
    * sweeps m for the compression-vs-recall curve. */
  private[graft] def q101WithPq(k: Int, nProbe: Int, m: Int, ks: Int,
      shortlist: Int): Q = (spark, dir) => {
    val dim = LlmOps.geom.embeddingDim
    require(dim % m == 0, s"embeddingDim $dim not divisible into $m sub-spaces")
    val sub = dim / m
    // coarse quantizer: one shared scoring pass feeds cells AND probes
    val scored = centroidScores(spark, dir, k).scopedPersist
    val cells = scored
      .select(col("vec_id"), struct(col("cc6"), (-col("c_id")).as("nc")).as("sc"))
      .groupBy("vec_id").agg(max(col("sc")).as("mx"))
      .select(col("vec_id"), (-col("mx.nc")).as("cell"))
    val v = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // long-form sub-vectors: (vec_id, j, 8-dim slice) — row-local
    val subv = v.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("e"))
      .select(col("vec_id"), col("j"),
        slice(col("e"), col("j") * sub + 1, lit(sub)).as("se"))
    // per-sub-space codebook: slices of the ks seed vectors (production
    // refines them with Lloyd rounds through this same operator)
    val cb = subv.filter(col("vec_id") < ks)
      .select(col("j"), col("vec_id").as("code"), col("se").as("ce"))
    // encode: argmin-L2 sub-centroid per (vec_id, j), scored map-side
    // against the broadcast codebook, reduced by a struct-min partial agg
    val codes = subv.join(broadcast(cb), Seq("j"))
      .select(col("vec_id"), col("j"),
        struct(l2micro(col("se"), col("ce")).as("d"), col("code")).as("sc"))
      .groupBy("vec_id", "j").agg(min(col("sc")).as("mn"))
      .select(col("vec_id").as("nid"), col("j"), col("mn.code").as("code"))
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("cc6").desc, col("c_id").asc)
    val probes = scored.filter(col("vec_id") < 10)
      .withColumn("pr", row_number().over(wProbe)).filter(col("pr") <= nProbe)
      .select(col("vec_id").as("qid"), col("c_id").as("cell"))
    // per-query ADC tables: full-precision query slice × every
    // sub-centroid — m·ks BIGINT entries per query, broadcast
    val qtab = subv.filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "qid").withColumnRenamed("se", "qse")
      .join(broadcast(cb), Seq("j"))
      .select(col("qid"), col("j"), col("code"),
        l2micro(col("qse"), col("ce")).as("tmic"))
    // probed members → ADC score = exact BIGINT sum of m table lookups
    val members = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
    val adc = members.join(codes, Seq("nid"))
      .join(broadcast(qtab), Seq("qid", "j", "code"))
      .groupBy("qid", "nid").agg(sum(col("tmic")).as("adcv"))
    val wS = Window.partitionBy(col("qid")).orderBy(col("adcv").asc, col("nid").asc)
    val shortl = adc.withColumn("sr", row_number().over(wS))
      .filter(col("sr") <= shortlist).select(col("qid"), col("nid"))
    // exact re-rank: bodies fetched by id for the shortlist only
    val rer = shortl
      .join(v.select(col("vec_id").as("qid"), col("e").as("qe")), Seq("qid"))
      .join(v.select(col("vec_id").as("nid"), col("e").as("ne")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(expr("cosine_sim(qe, ne)"), 6).as("cos6"))
    val wF = Window.partitionBy(col("qid")).orderBy(col("cos6").desc, col("nid").asc)
    orderAll(rer.withColumn("rnk", row_number().over(wF)).filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("nid"), col("cos6")))
  }

  /** q48: vocabulary coverage / out-of-vocabulary rate — the
    * tokenizer-design metric: fix the vocab at the top-V tokens by
    * corpus frequency (V = [[graft.core.SketchGeometry]] `oovVocabSize`:
    * 16 here to match the synthetic corpus's
    * 31-token vocabulary, 32k-128k in production) and report each
    * document's OOV token count and rate. High-OOV docs are either the
    * long-tail content a bigger vocab would serve or noise the corpus
    * should shed — either way the first report a tokenizer budget
    * decision needs. Distinct from q70 (rarity weights every token by
    * inverse frequency; OOV is a hard vocab cut) and q67 (tf-idf ranks
    * within-doc terms).
    *
    * Determinism: the vocab cut is the total order (count desc, token
    * asc) — boundary ties resolve identically on both engines — and
    * oov_ppm is exact integer floor division (n_oov ≤ n_toks keeps
    * 1e6·n_oov far inside BIGINT for any physical document).
    *
    * 100 TB: the vocab table is a top-V cut of the token aggregate —
    * TakeOrderedAndProject (per-partition heaps over the map-side
    * combined counts), never a global sort; scoring then joins the
    * token stream to the V-row vocab BROADCAST (left-outer, build
    * right), and the per-doc count/sum aggregates partially map-side —
    * the only corpus-sized shuffles are keyed on token (vocab agg) and
    * doc_id (scoring agg), q70's exact posture. */
  /** q48's core over any (doc_id, text) frame — factored so the spec
    * can probe the zero-token path directly (the parquet fixture has
    * none). The report is TOTAL over input documents: a doc with no
    * non-empty tokens still gets a row (n_toks = n_oov = 0, NULL rate)
    * rather than silently vanishing — a coverage report that drops docs
    * under-counts for its consumer. */
  private[graft] def oovReport(docs: DataFrame, vocabSize: Int): DataFrame = {
    val toks = tokenStream(docs)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("ct"))
      .orderBy(col("ct").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("in_v"))
    val scored = toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        expr("CASE WHEN n_toks = 0 THEN NULL ELSE (1000000 * n_oov) div n_toks END"))
  }

  val q48OovRate: Q = (spark, dir) =>
    orderAll(oovReport(t(spark, dir, "documents").select(col("doc_id"), col("text")),
      LlmOps.geom.oovVocabSize))

  /** q78: bigram merge-candidate mining — the counting step of BPE-style
    * vocabulary induction: count adjacent token pairs corpus-wide and
    * emit the 50 most frequent (the next merge candidates). The total
    * order (count desc, pair asc) makes the top-50 cut deterministic on
    * both engines.
    *
    * 100 TB: pair extraction is row-local (transform over the token
    * array — no per-token explode-then-self-join); the count is a
    * two-phase hash aggregate keyed on the pair (map-side combine eats
    * the Zipf head before the exchange), and the top-50 plans as
    * TakeOrderedAndProject — per-partition heaps, never a global sort
    * (q35's shape, pinned). Real BPE iterates merge→recount; each
    * iteration is this exact job over the rewritten token stream. */
  val q78BpeBigrams: Q = (spark, dir) => {
    val d = t(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
    val pairs = d.select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("t1"),
          element_at(col("toks"), i + 1).as("t2")))).as("bg"))
      .select(col("bg.t1").as("t1"), col("bg.t2").as("t2"))
      .filter(col("t1") =!= "" && col("t2") =!= "")
    orderAll(pairs.groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc)
      .limit(50))
  }

  /** q144's loop geometry: merge rounds and candidate-table depth per
    * round. Rounds are driver-unrolled — each round is its own CTE
    * block in the oracle (the q108/q111 oracled-iteration recipe) — so
    * the round count stays small to keep the mirror readable. */
  private[graft] val BpeRounds: Int = 2
  private[graft] val BpeTopK: Int = 10

  /** q144's merge joiner: base tokens come from splitting on ' ', so a
    * merged symbol joins its parts with the 0x01 byte — one no natural
    * token carries — making merged symbols collision-free and
    * self-describing (the symbol IS its merge history). The oracle
    * spells the same byte as chr(1). */
  private[graft] val BpeSep = "\u0001"

  /** Apply one BPE merge (p1,p2) → p1⊕p2 to a token array: greedy
    * leftmost non-overlapping, the standard BPE application rule,
    * spelled POSITIONALLY so per-row work is O(n + n·|matches|), not
    * the O(n²) a naive append-fold costs (measured: the fold spelling
    * doubled q144's solo floor — every step copies the accumulator):
    * (1) candidate start positions by a row-local filter; (2) greedy
    * selection drops a candidate whose predecessor position was itself
    * selected — only possible in p1==p2 runs, where skip-after-take IS
    * the leftmost parity rule (the oracle's islands-odd spelling);
    * (3) rebuild by flattening per-position cells: merged symbol at a
    * selected position, nothing at its consumed successor, the
    * original token elsewhere. Pure codegen'd higher-order functions —
    * no shuffle, bodies never move. */
  private[graft] def applyMerge(toks: Column, p1: String, p2: String): Column = {
    val n = size(toks)
    val cands = filter(sequence(lit(1), n - 1),
      i => element_at(toks, i) === lit(p1) &&
        element_at(toks, i + 1) === lit(p2))
    val sel = aggregate(cands, array().cast("array<int>"),
      (acc, i) => when(size(acc) > 0 && element_at(acc, -1) === i - 1, acc)
        .otherwise(concat(acc, array(i))))
    // `sel` is [[bind]]-ed, not inlined: two bare array_contains(sel, _)
    // references per position would re-run the whole candidate scan n
    // times (measured: 2× the solo floor; PlanSpec's lambda audit)
    val rebuilt = bind(sel)(selv =>
      flatten(transform(sequence(lit(1), n),
        i => when(array_contains(selv, i), array(lit(p1 + BpeSep + p2)))
          .when(array_contains(selv, i - 1), array().cast("array<string>"))
          .otherwise(array(element_at(toks, i))))))
    // one-token docs (possible after an earlier merge) have no pairs —
    // and sequence(1, 0) would DESCEND, so the guard is load-bearing
    when(n >= 2, rebuilt).otherwise(toks)
  }

  /** q144 [EXT]: iterative BPE merge loop — the step q78 stops short
    * of: q78 mines merge CANDIDATES once; real BPE vocabulary induction
    * APPLIES the top-ranked merge, re-counts adjacent pairs over the
    * rewritten token stream, and repeats (Sennrich et al. 2016). Each
    * round emits its top-K candidate table (count desc, pair asc — a
    * total order, so the cut is deterministic on both engines) with the
    * rk=1 row flagged `merged`; the rk=1 rows across rounds ARE the
    * ordered merge list a tokenizer trainer materializes.
    *
    * Driver-unrolled like q68/q108/q111: the loop lives in plain Scala,
    * the driver holds exactly two strings per round (the winning pair —
    * q68's bounded-scalar convention), and the DuckDB mirror unrolls
    * the same rounds as CTE blocks. The merge application in SQL uses
    * gaps-and-islands parity (q138's recipe) to express the greedy
    * fold: islands of consecutive candidate positions take their odd
    * members — exactly the fold's picks, since consecutive candidates
    * only arise for p1==p2 runs.
    *
    * 100 TB: per-round work is two-phase pair counting — row-local pair
    * extraction (transform, no explode-then-self-join), map-side-
    * combined hash aggregate keyed on the pair, and a WindowGroupLimit-
    * prefiltered top-K (per-partition heaps forward ≤K rows; the
    * "window" never sees more than partitions·K rows) — then a map-only
    * rewrite. NEVER a corpus-wide window, never a sort of the pair
    * table (PlanSpec pins both). Rounds scale as O(R · corpus). */
  val q144BpeMergeLoop: Q = (spark, dir) =>
    orderAll(bpeMergeLoop(t(spark, dir, "documents"), BpeRounds, BpeTopK))

  /** q144's core with explicit geometry (q139's factoring pattern) so
    * the spec can drive hand-countable corpora and self-pair runs. */
  private[graft] def bpeMergeLoop(docs: DataFrame, rounds: Int,
      topK: Int): DataFrame = {
    var toks = docs
      .select(col("doc_id"),
        filter(split(coalesce(col("text"), lit("")), " "),
          x => x =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
      // persisted: round 1's pair count and the first rewrite both read
      // it (measured: recomputing the split instead costs ~2.5× solo)
      .scopedPersist
    var out: Option[DataFrame] = None
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = bpeRoundCandidates(toks, topK, r).scopedPersist
      val winner = top.filter(col("rk") === 1L)
        .select(col("t1"), col("t2")).collect()
      out = Some(out.fold(top)(_.unionByName(top)))
      if (winner.isEmpty) {
        // no adjacent pair anywhere: this round's table is empty and —
        // with no merge to apply — every later round's would be too, so
        // stop here; the unrolled oracle's remaining k_r CTEs are
        // equally empty and the answers agree (no loud abort: a corpus
        // of one-token docs is a degenerate input, not a bug)
        exhausted = true
      } else {
        val (p1, p2) = (winner(0).getString(0), winner(0).getString(1))
        if (r < rounds) {
          val next = toks.select(col("doc_id"),
            applyMerge(col("toks"), p1, p2).as("toks"))
          // the FINAL round reads its stream once (pair count only) — a
          // persist there is a pure materialization tax; intermediate
          // rounds read theirs twice (pairs + next rewrite)
          toks = if (r + 1 < rounds) next.scopedPersist else next
        }
      }
      r += 1
    }
    out.get
  }

  /** One q144 round's candidate table over a (doc_id, toks) stream:
    * row-local pair extraction (transform — no explode-then-self-join),
    * two-phase hash aggregate on the pair, and the rank cut Catalyst
    * rewrites into a map-side WindowGroupLimit (per-partition heaps
    * forward ≤ topK rows — the pair table is never globally sorted).
    * PlanSpec pins exactly that shape. Docs can shrink to one token
    * after a merge — they hold no pairs (mirrors the oracle's
    * `lead(tok) IS NOT NULL`). */
  private[graft] def bpeRoundCandidates(toks: DataFrame, topK: Int,
      round: Int): DataFrame = {
    val wTop = Window.orderBy(col("cnt").desc, col("t1").asc, col("t2").asc)
    toks.filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("t1"),
          element_at(col("toks"), i + 1).as("t2")))).as("bg"))
      .select(col("bg.t1").as("t1"), col("bg.t2").as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= topK)
      .select(lit(round.toLong).as("round"), col("rk"), col("t1"), col("t2"),
        col("cnt"), (col("rk") === 1L).as("merged"))
  }

  /** q144's unrolled DuckDB mirror for `rounds` rounds at depth `topK`
    * — one CTE block per round: pair count (lead over the positional
    * stream), ranked top-K, and — between rounds — the winning pair's
    * greedy application via gaps-and-islands parity over candidate
    * positions. */
  private[graft] def q144Oracle(rounds: Int, topK: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH s1 AS (
        |  SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(coalesce(text, ''), ' '),
        |                      x -> x <> '') AS toks
        |        FROM documents),
        |    unnest(range(1, len(toks) + 1)) AS t(i)
        |  WHERE len(toks) >= 2)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |p$r AS (
        |  SELECT t1, t2, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT tok AS t1,
        |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
        |    FROM s$r)
        |  WHERE t2 IS NOT NULL GROUP BY 1, 2),
        |k$r AS (
        |  SELECT * FROM (
        |    SELECT CAST($r AS BIGINT) AS round,
        |      CAST(row_number() OVER (ORDER BY cnt DESC, t1 ASC, t2 ASC)
        |        AS BIGINT) AS rk,
        |      t1, t2, cnt
        |    FROM p$r)
        |  WHERE rk <= $topK)""".stripMargin)
      if (r < rounds) sb.append(s""",
        |w$r AS (SELECT t1, t2 FROM k$r WHERE rk = 1),
        |m$r AS (
        |  SELECT s.doc_id, s.pos, s.tok, w.t1, w.t2,
        |    row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS seq,
        |    (s.tok = w.t1 AND
        |     lead(s.tok) OVER (PARTITION BY s.doc_id ORDER BY s.pos) = w.t2)
        |      AS cand
        |  FROM s$r s CROSS JOIN w$r w),
        |i$r AS (
        |  SELECT doc_id, seq,
        |    row_number() OVER (PARTITION BY doc_id, grp ORDER BY seq) AS k
        |  FROM (SELECT doc_id, seq,
        |          seq - row_number() OVER (PARTITION BY doc_id ORDER BY seq)
        |            AS grp
        |        FROM m$r WHERE cand)),
        |sel$r AS (SELECT doc_id, seq FROM i$r WHERE k % 2 = 1),
        |s${r + 1} AS (
        |  SELECT m.doc_id, m.pos,
        |    CASE WHEN sel.seq IS NOT NULL THEN m.t1 || chr(1) || m.t2
        |         ELSE m.tok END AS tok
        |  FROM m$r m
        |  LEFT JOIN sel$r sel ON sel.doc_id = m.doc_id AND sel.seq = m.seq
        |  LEFT JOIN sel$r drp ON drp.doc_id = m.doc_id AND drp.seq = m.seq - 1
        |  WHERE drp.seq IS NULL)""".stripMargin)
    }
    val union = (1 to rounds).map(r => s"SELECT * FROM k$r")
      .mkString(" UNION ALL ")
    sb.append(s"""
        |SELECT round, rk, t1, t2, cnt, rk = 1 AS merged
        |FROM ($union)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
        |  5 NULLS FIRST, 6 NULLS FIRST""".stripMargin)
    sb.toString
  }

  /** q149 [EXT]: BPE ENCODE — the APPLY side q144's trainer stops short
    * of: a tokenizer exists to be RUN, and at 100 TB the encode pass
    * over the corpus is where the compute actually goes (training
    * touches pair counts; encoding touches every document, every
    * epoch-prep). q149 learns the ordered merge list exactly as q144
    * does (same candidate ranking, same greedy application — the two
    * agree by the shared total order), applies ALL R merges to every
    * document (q144's candidate tables only ever see R−1 applications:
    * the last winner is mined, never applied), and emits the per-doc
    * encode report a tokenization job publishes: raw whitespace-token
    * count, encoded-symbol count, and how many emitted symbols are
    * merge products. `n_raw − n_enc` is the total merges applied per
    * doc; Σ over docs is the corpus compression the vocabulary buys —
    * the number that decides whether R more merge rounds are worth
    * training. TOTAL contract (q103): sub-2-token docs (nothing to
    * merge, including empty/null text) pass through with
    * `n_enc = n_raw`, `n_merged = 0`.
    *
    * 100 TB: the learn loop is q144's shape at candidate depth 1
    * (two-phase pair count + map-side group limit per round; the driver
    * holds two strings per round); each merge application is the same
    * ROW-LOCAL positional rewrite ([[applyMerge]] — no shuffle, bodies
    * never move), with intermediate streams persisted only while two
    * consumers (next round's count + rewrite) need them; the final
    * stats projection is map-only and the short-doc arm unions in
    * without an exchange. In production the merge list ships as an
    * artifact and ONLY the map-only encode runs — the loop here keeps
    * the query self-contained and the oracle closed over one input.
    * FULLY ORACLED: the unrolled mirror re-derives each round's winner
    * and replays the gaps-and-islands application (q144's recipe,
    * hardened: winner CTEs join LEFT so an exhausted round is a no-op
    * on the stream, not an annihilation), then rolls the final stream
    * up per doc. */
  val q149BpeEncode: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
    // the production path its scaladoc promises — read the shipped
    // artifact, pay ONLY the map-only encode fold (artifact ≡ loop
    // pinned by CorpusOpsSpec)
    orderAll(graft.streaming.BpeEncoder.encode(docs,
      BpeTable.of(spark, dir, BpeRounds)))
  }

  /** q149's core with explicit geometry, spec-drivable on hand corpora
    * (q144's factoring pattern). */
  private[graft] def bpeEncode(docs: DataFrame, rounds: Int): DataFrame = {
    val base = docs
      .select(col("doc_id"),
        filter(split(coalesce(col("text"), lit("")), " "),
          x => x =!= "").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_raw"),
        col("toks"))
    var toks = base.filter(col("n_raw") >= 2).scopedPersist
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // depth 1: only the winner matters here — q144 owns the ranked
      // candidate TABLE; the cut is still the map-side group limit
      val winner = bpeRoundCandidates(toks, 1, r)
        .filter(col("rk") === 1L)
        .select(col("t1"), col("t2")).collect()
      if (winner.isEmpty) {
        // no adjacent pair anywhere — later rounds are no-ops on both
        // engines (the oracle's LEFT-joined empty winner CTEs), so the
        // stream as rewritten so far IS the encoding
        exhausted = true
      } else {
        val (p1, p2) = (winner(0).getString(0), winner(0).getString(1))
        val next = toks.select(col("doc_id"), col("n_raw"),
          applyMerge(col("toks"), p1, p2).as("toks"))
        // intermediate rounds are read twice (next count + rewrite);
        // the final rewrite feeds the stats projection once
        toks = if (r < rounds) next.scopedPersist else next
      }
      r += 1
    }
    val enc = toks.unionByName(base.filter(col("n_raw") < 2))
    enc.select(col("doc_id"), col("n_raw"),
      size(col("toks")).cast("long").as("n_enc"),
      size(filter(col("toks"), tk => instr(tk, BpeSep) >= 1)).cast("long")
        .as("n_merged"))
  }

  /** The ordered merge list alone — q149's learn loop without the final
    * stats projection, returned as the ARTIFACT a tokenizer trainer
    * ships (Sennrich et al. 2016's merges.txt): R driver-held string
    * pairs. q150 and the s96 ingest-time encoder fold this list over
    * each document via [[graft.streaming.BpeEncoder.encode]] — per-doc
    * sequential application of the ordered list is exactly what the
    * corpus-level loop computes, so artifact-encode ≡ loop-encode
    * (CorpusOpsSpec pins it row-identical). Same persist discipline as
    * [[bpeEncode]]: intermediate streams are read twice (count +
    * rewrite), the last round only counts, so its rewrite is skipped
    * entirely. */
  private[graft] def learnMerges(docs: DataFrame,
      rounds: Int): Seq[(String, String)] = {
    var toks = docs
      .select(col("doc_id"),
        filter(split(coalesce(col("text"), lit("")), " "),
          x => x =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
      .scopedPersist
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val winner = bpeRoundCandidates(toks, 1, r)
        .filter(col("rk") === 1L)
        .select(col("t1"), col("t2")).collect()
      if (winner.isEmpty) exhausted = true
      else {
        val (p1, p2) = (winner(0).getString(0), winner(0).getString(1))
        merges += ((p1, p2))
        if (r < rounds) {
          val next = toks.select(col("doc_id"),
            applyMerge(col("toks"), p1, p2).as("toks"))
          toks = if (r + 1 < rounds) next.scopedPersist else next
        }
      }
      r += 1
    }
    merges.toSeq
  }

  /** The learned merge list memoized ONCE per (JVM, corpus build,
    * rounds) — the [[LlmOps.LabelTable]] posture applied to the
    * TOKENIZER artifact: production trains the merge list once per
    * corpus build and ships it (exactly what [[learnMerges]]'s
    * scaladoc calls the merges.txt artifact); re-learning it inside
    * every consumer is the recompute-always posture. q149/q150/q156
    * read this memo; q144 NEVER does — the learn LOOP is its declared
    * benchmark, so every q144 rep re-runs it fresh (the q68/LabelTable
    * division of labor). The artifact is a
    * driver-side list of R string pairs, so the memo is a JVM map keyed
    * by the shared corpus content fingerprint — no parquet, nothing to
    * supersede on disk; a corpus regeneration changes the fingerprint
    * and the stale entry is simply replaced. CorpusOpsSpec pins
    * memoized ≡ fresh and the artifact-encode ≡ loop-encode equality
    * that makes q149's memo path exact. */
  private[graft] object BpeTable {
    // locking is PER KEY (round-13 advice: a global memo.synchronized
    // held across the seconds-scale learnMerges serialized unrelated
    // consumers and blocked cache hits): the fingerprint walk runs
    // outside any lock, hits are lock-free, and compute() serializes
    // only two racers on the SAME (dir, rounds) — so a learn happens
    // once per key without stalling any other corpus
    private val memo = new java.util.concurrent.ConcurrentHashMap[
      (String, Int), (String, Seq[(String, String)])]()

    def of(spark: SparkSession, dir: String,
        rounds: Int): Seq[(String, String)] = {
      val fp = LlmOps.fingerprint(
        java.nio.file.Paths.get(dir, "documents.parquet"))
      val key = (dir, rounds)
      val hit = memo.get(key)
      if (hit != null && hit._1 == fp) hit._2
      else memo.compute(key, (_, old) =>
        if (old != null && old._1 == fp) old
        else (fp, learnMerges(t(spark, dir, "documents"), rounds)))._2
    }
  }

  /** q150 [EXT]: per-language tokenizer compression report — the
    * multilingual tokenizer-evaluation table (fertility/compression by
    * language is THE standard lens on whether a learned vocabulary
    * serves every language it will tokenize, cf. the BLOOM/XLM-R
    * tokenizer analyses): learn the merge list once ([[learnMerges]] —
    * the shipped artifact), then ONE corpus scan computes, row-locally,
    * both q84's stopword-argmax language verdict and the artifact-fold
    * encode stats ([[graft.streaming.BpeEncoder.encode]]), and a
    * per-language aggregate rolls up docs, raw/encoded/merged token
    * sums, and compression = Σn_raw / Σn_enc (round 6, 0 when a
    * language bucket holds only empty docs). A language whose
    * compression sits at 1.0 is one the vocabulary does nothing for —
    * the signal that decides where the next merge rounds' budget goes.
    *
    * 100 TB: the learn loop is q149's (driver holds R string pairs);
    * the report pass is a single map-only scan (language scoring and
    * encode are both row-local — NO join between them, they ride the
    * same projection) into one SHRINKING hash aggregate keyed on
    * lang_pred (≤5 groups; partial aggregation collapses each partition
    * to ≤5 rows before the exchange). PlanSpec pins exactly one hash
    * exchange and zero joins. FULLY ORACLED: q149's unrolled CTE chain
    * shared verbatim ([[q149Ctes]]), composed with q84's language CASE
    * and grouped — both engines close over the same single input. */
  val q150EncodeByLang: Q = (spark, dir) =>
    orderAll(encodeByLangWith(t(spark, dir, "documents"),
      BpeTable.of(spark, dir, BpeRounds)))

  /** q150's core with explicit geometry, spec-drivable on hand corpora
    * (the bpeEncode factoring pattern). */
  private[graft] def encodeByLang(docs: DataFrame, rounds: Int): DataFrame =
    encodeByLangWith(docs, learnMerges(docs, rounds))

  /** q150's report against an explicit merge list (the artifact). */
  private[graft] def encodeByLangWith(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val scored = docs.select(
      col("doc_id") +: col("text") +: LlmOps.langScoredCols: _*)
    val withLang = scored.select(col("doc_id"), col("text"),
      LlmOps.langPredFromScores.as("lang_pred"))
    val perDoc = graft.streaming.BpeEncoder.encode(withLang, merges,
      keep = Seq("lang_pred"))
    val agg = perDoc.groupBy("lang_pred").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_raw")).as("sum_raw"),
      sum(col("n_enc")).as("sum_enc"),
      sum(col("n_merged")).as("sum_merged"))
    agg.select(col("lang_pred"), col("n_docs"), col("sum_raw"),
      col("sum_enc"), col("sum_merged"),
      round(when(col("sum_enc") > 0,
        col("sum_raw").cast("double") / col("sum_enc").cast("double"))
        .otherwise(lit(0.0)), 6).as("compression"))
  }

  /** q150's DuckDB mirror: q149's shared CTE chain, plus q84's language
    * CASE (same stopword lists, same priority order) and the per-doc
    * rollup grouped by predicted language. Sums cast HUGEINT → BIGINT
    * (the check_hash dtype rule); compression guarded with
    * coalesce(x / nullif(d, 0), 0) — qualityExpr's total contract. */
  private[graft] def q150Oracle(rounds: Int): String =
    q149Ctes(rounds) + s""",
        |lang AS (
        |  SELECT doc_id,
        |    CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
        |         WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
        |         WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
        |         WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
        |         ELSE 'fr' END AS lang_pred
        |  FROM (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and'], x))) AS s_en,
        |          len(list_filter(string_split(text, ' '), x -> list_contains(['el','la','de','y'], x))) AS s_es,
        |          len(list_filter(string_split(text, ' '), x -> list_contains(['der','die','das','und'], x))) AS s_de,
        |          len(list_filter(string_split(text, ' '), x -> list_contains(['le','la','de','et'], x))) AS s_fr
        |        FROM documents)),
        |perdoc AS (
        |  SELECT r.doc_id, r.n_raw,
        |    coalesce(e.n_enc, r.n_raw) AS n_enc,
        |    coalesce(e.n_merged, CAST(0 AS BIGINT)) AS n_merged
        |  FROM raw r LEFT JOIN enc e ON e.doc_id = r.doc_id)
        |SELECT l.lang_pred,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(p.n_raw) AS BIGINT) AS sum_raw,
        |  CAST(sum(p.n_enc) AS BIGINT) AS sum_enc,
        |  CAST(sum(p.n_merged) AS BIGINT) AS sum_merged,
        |  round(coalesce(CAST(sum(p.n_raw) AS DOUBLE)
        |          / nullif(CAST(sum(p.n_enc) AS DOUBLE), 0), 0.0), 6)
        |    AS compression
        |FROM perdoc p JOIN lang l ON l.doc_id = p.doc_id
        |GROUP BY 1
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  /** q149's unrolled DuckDB mirror: q144's round CTEs with the winner
    * applied every round (including the last) and the winner join made
    * exhaustion-safe (LEFT JOIN ON true — an empty `w` leaves `cand`
    * false everywhere instead of emptying the stream), then the per-doc
    * rollup over the final token stream, short docs coalesced back in.
    * The CTE chain through `enc`/`raw` is factored ([[q149Ctes]]) so
    * q150's grouped mirror composes over it verbatim. */
  private[graft] def q149Oracle(rounds: Int): String =
    q149Ctes(rounds) + s"""
        |SELECT r.doc_id, r.n_raw,
        |  coalesce(e.n_enc, r.n_raw) AS n_enc,
        |  coalesce(e.n_merged, CAST(0 AS BIGINT)) AS n_merged
        |FROM raw r LEFT JOIN enc e ON e.doc_id = r.doc_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST""".stripMargin

  private def q149Ctes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH s1 AS (
        |  SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(coalesce(text, ''), ' '),
        |                      x -> x <> '') AS toks
        |        FROM documents),
        |    unnest(range(1, len(toks) + 1)) AS t(i)
        |  WHERE len(toks) >= 2)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |p$r AS (
        |  SELECT t1, t2, count(*) AS cnt FROM (
        |    SELECT tok AS t1,
        |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
        |    FROM s$r)
        |  WHERE t2 IS NOT NULL GROUP BY 1, 2),
        |w$r AS (SELECT t1, t2 FROM p$r
        |        ORDER BY cnt DESC, t1 ASC, t2 ASC LIMIT 1),
        |m$r AS (
        |  SELECT s.doc_id, s.pos, s.tok, w.t1, w.t2,
        |    row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS seq,
        |    (w.t1 IS NOT NULL AND s.tok = w.t1 AND
        |     lead(s.tok) OVER (PARTITION BY s.doc_id ORDER BY s.pos) = w.t2)
        |      AS cand
        |  FROM s$r s LEFT JOIN w$r w ON true),
        |i$r AS (
        |  SELECT doc_id, seq,
        |    row_number() OVER (PARTITION BY doc_id, grp ORDER BY seq) AS k
        |  FROM (SELECT doc_id, seq,
        |          seq - row_number() OVER (PARTITION BY doc_id ORDER BY seq)
        |            AS grp
        |        FROM m$r WHERE cand)),
        |sel$r AS (SELECT doc_id, seq FROM i$r WHERE k % 2 = 1),
        |s${r + 1} AS (
        |  SELECT m.doc_id, m.pos,
        |    CASE WHEN sel.seq IS NOT NULL THEN m.t1 || chr(1) || m.t2
        |         ELSE m.tok END AS tok
        |  FROM m$r m
        |  LEFT JOIN sel$r sel ON sel.doc_id = m.doc_id AND sel.seq = m.seq
        |  LEFT JOIN sel$r drp ON drp.doc_id = m.doc_id AND drp.seq = m.seq - 1
        |  WHERE drp.seq IS NULL)""".stripMargin)
    }
    sb.append(s""",
        |enc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_enc,
        |    CAST(count(*) FILTER (WHERE instr(tok, chr(1)) >= 1) AS BIGINT)
        |      AS n_merged
        |  FROM s${rounds + 1} GROUP BY doc_id),
        |raw AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |                         x -> x <> '')) AS BIGINT) AS n_raw
        |  FROM documents)""".stripMargin)
    sb.toString
  }

  /** q156 [EXT]: tokenizer round-trip audit — the DECODE side, and the
    * losslessness check every shipped tokenizer owes its corpus: decode
    * (split each merged symbol back on the 0x01 seam, rejoin the stream
    * with spaces) must reproduce the whitespace-normalized original for
    * every document, or the vocabulary is silently destroying data
    * (the classic failure: a raw token that already contains the merge
    * separator collides with a merge product and detokenizes to the
    * wrong text — CorpusOpsSpec plants exactly that byte and pins the
    * audit flags it). q156 learns the merge list as q149 does, encodes,
    * decodes, and emits the per-doc audit: raw token count, encoded
    * symbol count, decoded character count, and the round-trip verdict.
    * TOTAL (q103's contract): empty/short docs round-trip trivially.
    *
    * 100 TB: the learn loop is q149's (driver holds R string pairs);
    * encode, decode, and the comparison are ONE row-local projection —
    * `translate` on the single separator byte is codegen'd char work,
    * no shuffle beyond the dump sort. In production the merge list
    * ships as an artifact and this audit is a map-only pass a tokenizer
    * release gate runs over a sample shard. FULLY ORACLED: q149's
    * unrolled CTE chain, plus a decode rollup (string_agg over the
    * final positional stream with chr(1) → space) compared against the
    * same normalized text. */
  val q156BpeRoundtrip: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
    orderAll(bpeRoundTrip(docs, BpeTable.of(spark, dir, BpeRounds)))
  }

  /** q156's core against an explicit merge list, spec-drivable on hand
    * corpora (the bpeEncode factoring pattern). Each layer is [[bind]]-ed
    * before the next applies, as in [[graft.streaming.BpeEncoder]]. */
  private[graft] def bpeRoundTrip(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val toks0 = filter(split(coalesce(col("text"), lit("")), " "),
      x => x =!= "")
    val report = bind(toks0) { t0 =>
      val enc = merges.foldLeft(t0) { case (c, (p1, p2)) =>
        bind(c)(v => applyMerge(v, p1, p2))
      }
      bind(enc) { e =>
        val decoded = array_join(transform(e,
          tk => translate(tk, BpeSep, " ")), " ")
        bind(decoded) { dec =>
          struct(
            size(t0).cast("long").as("n_raw"),
            size(e).cast("long").as("n_enc"),
            length(dec).cast("long").as("n_dec_chars"),
            (dec === array_join(t0, " ")).as("round_trip_ok"))
        }
      }
    }
    // two-step select: the struct is one expensive interpreted HOF fold
    // — materialize it once, then project the fields
    docs.select(col("doc_id"), report.as("r"))
      .select(col("doc_id"), col("r.n_raw").as("n_raw"),
        col("r.n_enc").as("n_enc"), col("r.n_dec_chars").as("n_dec_chars"),
        col("r.round_trip_ok").as("round_trip_ok"))
  }

  /** q156's DuckDB mirror: q149's shared CTE chain, a decode rollup
    * (merged symbols re-split on chr(1), the stream rejoined in
    * position order), and the comparison against the whitespace-
    * normalized original; short docs coalesce to the trivially-equal
    * normalized text (q149's LEFT-join contract). */
  private[graft] def q156Oracle(rounds: Int): String =
    q149Ctes(rounds) + s""",
        |dec AS (
        |  SELECT doc_id,
        |    string_agg(replace(tok, chr(1), ' '), ' ' ORDER BY pos)
        |      AS decoded
        |  FROM s${rounds + 1} GROUP BY doc_id),
        |nrm AS (
        |  SELECT doc_id,
        |    array_to_string(list_filter(string_split(coalesce(text, ''), ' '),
        |                                x -> x <> ''), ' ') AS norm
        |  FROM documents)
        |SELECT r.doc_id, r.n_raw,
        |  coalesce(e.n_enc, r.n_raw) AS n_enc,
        |  CAST(length(coalesce(d.decoded, n.norm)) AS BIGINT) AS n_dec_chars,
        |  coalesce(d.decoded, n.norm) = n.norm AS round_trip_ok
        |FROM raw r
        |JOIN nrm n ON n.doc_id = r.doc_id
        |LEFT JOIN enc e ON e.doc_id = r.doc_id
        |LEFT JOIN dec d ON d.doc_id = r.doc_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  /** q151 [EXT]: intra-document repetition profile — the Gopher/FineWeb
    * repetition quality signals (Rae et al. 2021 §A1.1: documents whose
    * content loops are low-quality regardless of vocabulary): per doc,
    * the duplicate-token fraction (1 − distinct/total), the longest run
    * of one repeated token, and the modal-bigram fraction (occurrences
    * of the most frequent word bigram over all bigram slots — the
    * "top n-gram character fraction" family at n=2). High values flag
    * generated/boilerplate loops that survive naive quality scores.
    * TOTAL contract (q103): empty docs report (0, 0.0, 0, 0.0); 1-token
    * docs have run 1 and no bigram slots (frac 0).
    *
    * 100 TB: the WHOLE profile is ROW-LOCAL — token count, distinct
    * count, and max run via array_distinct + an O(n) bound-accumulator
    * fold, and the modal-bigram count via sort-the-bigram-array: the
    * mode of a multiset is the longest equal-adjacent run of its
    * sorted form, so one array_sort + the same run fold replaces the
    * explode + (doc, bigram) partial count + doc rollup this spelling
    * used through r15 (two corpus-keyed exchange families → zero; the
    * map-only q139/q165 class, one O(n log n) row-local sort per doc
    * instead of hashing every bigram slot through two aggregates).
    * FULLY ORACLED: DuckDB mirrors the run lengths via
    * gaps-and-islands (q138's recipe) and the bigram mode via lead +
    * two GROUP BYs — the oracle is unchanged, only the engine's plan
    * shape moved. */
  val q151RepetitionProfile: Q = (spark, dir) =>
    orderAll(repetitionProfile(t(spark, dir, "documents")))

  /** q151's core, spec-drivable on hand corpora. */
  private[graft] def repetitionProfile(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      filter(split(coalesce(col("text"), lit("")), " "),
        x => x =!= "").as("toks"))
    val stats = base.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tok"),
      size(array_distinct(col("toks"))).cast("long").as("n_dist"),
      maxRun(col("toks")).as("max_run"), col("toks"))
    // modal-bigram count ROW-LOCALLY (r16): sort the bigram array —
    // the mode's multiplicity IS the longest equal-adjacent run of the
    // sorted array, so [[maxRun]]'s fold (generic over any array with
    // well-defined equality, structs included) reads it off directly.
    // No explode, no exchange; the n_tok >= 2 guard keeps the
    // descending-sequence landmine off short docs (q64's gotcha —
    // CaseWhen evaluates only the selected branch) and makes the
    // short-doc arm a literal 0 instead of a unioned second scan.
    val bgArr = array_sort(transform(sequence(lit(1), size(col("toks")) - 1),
      i => struct(element_at(col("toks"), i).as("t1"),
        element_at(col("toks"), i + 1).as("t2"))))
    val top = stats.select(col("doc_id"), col("n_tok"), col("n_dist"),
      col("max_run"),
      when(col("n_tok") >= 2, maxRun(bgArr)).otherwise(lit(0L)).as("top_c"))
    top.select(col("doc_id"), col("n_tok"),
      round(when(col("n_tok") > 0,
        lit(1.0) - col("n_dist").cast("double") / col("n_tok").cast("double"))
        .otherwise(lit(0.0)), 6).as("dup_tok_frac"),
      col("max_run"),
      round(when(col("n_tok") >= 2,
        col("top_c").cast("double") / (col("n_tok") - 1).cast("double"))
        .otherwise(lit(0.0)), 6).as("top_bigram_frac"))
  }

  /** Longest run of equal ADJACENT elements — an O(n) fold with a
    * two-field bound accumulator (run, best); the CaseWhen guards keep
    * the fold off sub-2-element arrays (sequence(2, n) would DESCEND
    * for n < 2, the applyMerge landmine). Generic over any element
    * type with SQL equality (q151 runs it on token strings for the
    * repeat-run signal AND on sorted bigram structs, where the longest
    * equal-adjacent run of a sorted array is the multiset mode's
    * multiplicity). The array is [[bind]]-ed first, so an expression
    * argument (q151's sorted bigram array) is evaluated once per row,
    * not once per fold step. */
  private def maxRun(arr: Column): Column = bind(arr) { toks =>
    val n = size(toks)
    val folded = aggregate(sequence(lit(2), n),
      struct(lit(1L).as("run"), lit(1L).as("best")),
      (acc, i) => {
        val run = when(element_at(toks, i) === element_at(toks, i - 1),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(n >= 2, folded).when(n === 1, lit(1L)).otherwise(lit(0L))
  }

  /** The planted boilerplate tail — a 12-token footer shared across the
    * plant (every `% 7` doc gets it appended; every `% 11` doc spawns an
    * almost-pure-boilerplate page). Interpolated into the q105 oracle so
    * the plant cannot drift between engines. */
  private[queries] val BoilerplateTail =
    "please subscribe to our newsletter terms of service apply all rights reserved"

  /** q105: boilerplate coverage — the corpus-level repetition signal
    * q64's WITHIN-doc rules cannot see: for each doc, the fraction of
    * its distinct 3-gram shingles that are corpus-COMMON (document
    * frequency > the same `shingleDfCap` dial q88 uses — q105 reports
    * on exactly the head q88's index drops as non-informative). Docs
    * mostly made of common shingles (coverage ≥ 0.5) are flagged: the
    * template-page/footer-farm filter (C4's and RefinedWeb's line-dedup
    * motivation) re-expressed over shingles, since this corpus has no
    * line structure.
    *
    * Fixture plants a footer economy: `% 7` docs get [[BoilerplateTail]]
    * appended (a footer on a substantial page stays well under 0.5 and
    * must NOT flag; on a SHORT page the footer can dominate — at sf0.01
    * exactly one such page crosses 0.5 and flags, which is the correct
    * verdict for a mostly-footer page); `% 11` docs spawn a near-pure
    * boilerplate page (tail + 1 varying filler token, id + 5e6) whose
    * coverage ≈ 10/11 MUST flag.
    *
    * 100 TB: df is a map-side-combinable count over 8-byte shingle
    * fingerprints; the common set is the Zipf HEAD (df > cap), small by
    * definition, so it broadcasts back to the shingle stream; the
    * per-doc coverage agg is two-phase. Same shape as q48's OOV join —
    * one corpus-scale shuffle (the df agg), everything else broadcast.
    * TOTAL contract: shingle-less docs report n_sh = 0, NULL coverage,
    * flag false. */
  val q105BoilerplateCoverage: Q = (spark, dir) => {
    val base = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val planted = base.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" " + BoilerplateTail))).otherwise(col("text")))
    val pure = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 5000000).as("doc_id"),
        concat(lit(BoilerplateTail + " filler"),
          (col("doc_id") % 5).cast("string")).as("text"))
    val corpus = planted.unionByName(pure)
    // toks materialized in its own projection (multi-use alias): an
    // inlined `element_at(split(text), i)` inside the transform lambda
    // re-splits the document per element — lambda interiors evaluate
    // interpretively, outside codegen CSE — measured 11× slower here
    val toks = col("toks")
    val withSh = corpus.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        when(size(toks) >= 3,
          array_distinct(transform(sequence(lit(1), size(toks) - 2),
            i => xxhash64(
              element_at(toks, i),
              element_at(toks, i + 1),
              element_at(toks, i + 2)))))
          .otherwise(array().cast("array<bigint>")).as("shingles"))
    // exploded stream persisted: df agg and the common-hit agg both read
    // it. explode_OUTER, deliberately (q63's gotcha): plain explode
    // triggers InferFiltersFromGenerate, whose `size(shingles) > 0`
    // filter re-expands the whole shingle transform — split re-inlined —
    // into a per-row Filter at the scan (measured ~8 s of the original
    // 10 s wall at sf0.1). Null sh rows from shingle-less docs form at
    // most a null df group the inner hits-join can never match.
    val sh = withSh.select(col("doc_id"), explode_outer(col("shingles")).as("sh"))
      .scopedPersist
    val common = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > shingleDfCap).select("sh")
    val hits = sh.join(broadcast(common), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_common"))
    val cov = withSh.select(col("doc_id"), size(col("shingles")).as("n_sh"))
      .join(hits, Seq("doc_id"), "left_outer")
      .withColumn("n_common", coalesce(col("n_common"), lit(0)))
      .withColumn("coverage", when(col("n_sh") > 0,
        round(col("n_common").cast("double") / col("n_sh"), 6)))
      .withColumn("boilerplate", coalesce(col("coverage") >= 0.5, lit(false)))
    orderAll(cov)
  }

  /** q108: Lloyd's k-means refinement — the centroid-IMPROVEMENT loop
    * that q73/q100/q101's docs defer to ("production refines the seed
    * codebook with Lloyd rounds through the assignment op"), made real:
    * each round assigns every vector to its argmin-L2 centroid (q101's
    * exact-BIGINT micro-unit distance, struct-min ties to the lower
    * cluster) and recomputes each centroid as the member mean. The
    * declared query runs k=8, 2 rounds from the q73/q100 seed centroids
    * (vec_id < k).
    *
    * Determinism (the whole point of oracling an ITERATIVE float
    * pipeline): distances are l2micro's rounded BIGINT micro-units;
    * means are exact BIGINT sums of per-component micro-units divided
    * once and rounded to 6 dp — so every round's centroids are
    * bit-identical across engines and the 2-round unrolled DuckDB
    * mirror lands on the same table.
    *
    * 100 TB: per round, the k·dim centroid table broadcasts (the same
    * fan-out shape as q73 — map-side scoring, struct-min partial agg),
    * the mean is a two-phase agg over (cluster, j) keys, and the
    * vector table is scanned twice (assign + mean) with NO shuffle of
    * vectors themselves — per-round cost is 2 scans + one k·dim-sized
    * exchange. Deeper refinement loops checkpoint-truncate round plans
    * exactly as q68 does. */
  val q108KmeansRefine: Q = (spark, dir) => q108WithRounds(8, 2)(spark, dir)

  private[graft] def q108WithRounds(k: Int, rounds: Int): Q = (spark, dir) => {
    require(rounds >= 1, s"kmeans refinement needs >= 1 round, got $rounds")
    val v = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .scopedPersist
    // long form once (assign scans arrays, means scan this): micro-units
    // so per-(cluster, j) sums are exact integers
    val lf = v.select(col("vec_id"), posexplode(col("e")).as(Seq("j", "vval")))
      .withColumn("vmic", round(col("vval") * 1e6).cast("long"))
      .drop("vval").scopedPersist
    var cent = v.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cluster"), col("e").as("ce"))
    var lastAssign: DataFrame = null
    var lastMeans: DataFrame = null
    for (_ <- 1 to rounds) {
      val a = v.join(broadcast(cent))
        .select(col("vec_id"),
          struct(l2micro(col("e"), col("ce")).as("d"), col("cluster")).as("sc"))
        .groupBy(col("vec_id")).agg(min(col("sc")).as("mn"))
        .select(col("vec_id"), col("mn.cluster").as("cluster"))
      val means = lf.join(a, Seq("vec_id"))
        .groupBy(col("cluster"), col("j"))
        .agg(round(sum(col("vmic")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("cval"))
      lastAssign = a
      lastMeans = means
      cent = means.groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("j"), col("cval")))).as("sv"))
        .select(col("cluster"), transform(col("sv"), s => s.getField("cval")).as("ce"))
    }
    val sizes = lastAssign.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
    orderAll(lastMeans.join(sizes, Seq("cluster"))
      .select(col("cluster"), col("n_members"), col("j"), col("cval")))
  }

  /** The two planted nav lines — each EXACTLY [[lineWidth]] tokens, so a
    * prepend shifts the original 8-token line grid by whole lines and
    * every planted copy is byte-identical across documents.
    * Interpolated into the q109 oracle so the plant cannot drift. */
  private[queries] val NavLine5 = "home about contact privacy sitemap careers press blog"
  private[queries] val NavLine7 = "subscribe to our newsletter all rights reserved worldwide"

  /** q109 line grid width (tokens per line) and the document-frequency
    * threshold above which a line is corpus boilerplate. The corpus has
    * no newline structure (q105's note), so "lines" are the fixed
    * 8-token grid; the cap (25 docs) sits far above any natural 8-token
    * repeat in this synthetic vocabulary (~30^-8 per position) and far
    * below the plant populations (%5 ⇒ 100 docs, %7 ⇒ 72 at sf0.01). */
  private[queries] val lineWidth = 8
  private[queries] val lineDfCap = 25

  /** q109: inter-document line dedup — the REMOVAL transform behind
    * q105's coverage *report*: lines (8-token grid cells) that appear in
    * ≥ [[lineDfCap]] distinct documents are corpus boilerplate
    * (headers, footers, nav chrome) and are cut from every document,
    * CCNet/RefinedWeb's line-level dedup re-expressed on this corpus.
    * Fixture plants the chrome economy: `% 5` docs get [[NavLine5]]
    * prepended, `% 7` docs [[NavLine7]] (a `% 35` doc gets both); both
    * plants are exactly one grid line, so original lines keep their
    * identity and only the planted chrome crosses the df cap.
    *
    * Output per document: line count, removed count, and the REBUILT
    * text (surviving lines re-joined in original order) — a rewrite op,
    * hash-gated end to end.
    *
    * 100 TB: the ONLY corpus-scale shuffle is the df aggregate over
    * (line-fingerprint, doc_id) pairs — 16 bytes/line, two-phase,
    * map-side-combined. The common head is the Zipf HEAD (df > cap ⇒
    * ≤ corpus-lines / cap distinct values, in practice the handful of
    * chrome lines), collected under a loud size assert and shipped to
    * executors inside [[graft.functions.SetKeepPositions]] — sorted once
    * per executor, O(lines · log head) per doc. The rebuild is then a
    * pure row-local projection: transform over kept positions of the
    * row's OWN line array. Document bodies are never shuffled, never
    * joined, never collected — the q103 reference-table pattern applied
    * to a corpus-derived (not eval-set) head; at cluster scale the
    * collect becomes a broadcast variable feeding the same expression.
    * Line fingerprints are xxhash64 (engine) vs raw line strings
    * (oracle) — df-invariant, q88's argument. */
  val q109LineDedup: Q = (spark, dir) => {
    val planted = t(spark, dir, "documents").select(col("doc_id"),
      concat(
        when(col("doc_id") % 5 === 0, lit(NavLine5 + " ")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(NavLine7 + " ")).otherwise(lit("")),
        col("text")).as("text"))
    // segmentation + fingerprints + head build + row-local rewrite are
    // graft.streaming.LineDeduper — the SAME code object the s85
    // streaming gate runs, so this oracled query hash-gates the
    // streaming math (the s74/q66 batch-mirror pattern)
    val lined = graft.streaming.LineDeduper.withLines(planted, lineWidth)
      .scopedPersist
    val head = graft.streaming.LineDeduper.commonHead(lined, lineDfCap)
    orderAll(graft.streaming.LineDeduper.rewrite(lined, head))
  }

  /** q110: semantic dedup (SemDeDup, Abbas et al. 2023) — embedding-
    * space near-dup removal that catches PARAPHRASES lexical dedup
    * (q80/q81/q88) cannot: cluster the corpus with the q73 codebook,
    * then inside each cluster drop every vector whose 6-dp cosine to a
    * LOWER-id cluster-mate is ≥ 0.95 (`dup_of` = the smallest such id;
    * greedy-by-id, so the verdict needs no iterative ordering — the
    * deterministic approximation of the paper's keep-one-per-ε-ball).
    * Fixture is q92's plant shape (a near-identical copy of every
    * vector, id + 1e6, last component nudged) with a SMALLER nudge
    * (+0.01): copies land in their source's cluster — minus the
    * rare-tie strays CorpusOpsSpec bounds, the candidate-generator
    * recall limit the paper documents — and must be cut; sources
    * survive.
    *
    * 100 TB: clustering means the pairwise stage is Σ occupancy², NOT
    * corpus² — and occupancy is held constant by growing k with the
    * corpus (q100's codebook dial; the paper runs k ≈ n/100). The
    * assignment is q73's broadcast fan-out + struct-max (map-side,
    * one 24-byte struct per vector shuffled); the pair join moves
    * (vec_id, cluster) ids ONLY, vectors re-join by id for the cosine
    * verify (q92's fingerprints-first posture); the verdict agg is a
    * two-phase min. Deeper Lloyd refinement of the codebook before
    * dedup is exactly q108 composed in front of this operator. */
  val q110SemanticDedup: Q = (spark, dir) => q110WithCodebook(8)(spark, dir)

  /** q110 with an explicit codebook size — the declared query binds
    * k = 8; ScaleProbe grows k with the corpus (q100's dial: per-cell
    * occupancy n/k held constant, so the Σ occupancy² pairwise stage
    * stays linear — the "k grows with n" operating procedure the
    * SemDeDup scaladoc promises). */
  private[graft] def q110WithCodebook(kCells: Int): Q = (spark, dir) => {
    val dim = LlmOps.geom.embeddingDim
    val v = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val plantedCopies = v.select((col("vec_id") + 1000000).as("vec_id"),
      concat(slice(col("e"), 1, dim - 1),
        array(element_at(col("e"), dim) + lit(0.01))).as("e"))
    // persisted: the assignment fan-out and both cosine-verify sides
    // read it
    val all = v.unionByName(plantedCopies).scopedPersist
    val cent = v.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))
    val asg = all.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        struct(round(expr("cosine_sim(e, ce)"), 6).as("cos6"),
          (-col("c_id")).as("nid")).as("sc"))
      .groupBy("vec_id").agg(max(col("sc")).as("m"))
      .select(col("vec_id"), (-col("m.nid")).as("centroid_id"))
      .scopedPersist
    val cands = asg.as("x").join(asg.as("y"), Seq("centroid_id"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
    val hits = cands
      .join(all.select(col("vec_id").as("v1"), col("e").as("e1")), Seq("v1"))
      .join(all.select(col("vec_id").as("v2"), col("e").as("e2")), Seq("v2"))
      .filter(round(expr("cosine_sim(e1, e2)"), 6) >= 0.95)
      .groupBy(col("v2")).agg(min(col("v1")).as("dup_of"))
      .withColumnRenamed("v2", "vec_id")
    orderAll(asg.join(hits, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("centroid_id"),
        col("dup_of").isNull.as("kept"), col("dup_of")))
  }

  /** q116 [EXT]: edit-distance fuzzy dedup — candidate pairs by
    * (lang, length-band) blocking with NEIGHBOR-band overlap, verified
    * by Levenshtein over a 40-char prefix. The character-level
    * complement of the token-set families (q81 Jaccard-ish, q88
    * n-gram): catches single-character typo/ocr variants that shift
    * every shingle. Each doc emits TWO block keys (band, band+1), so a
    * near-dup pair straddling a band boundary still collides — the
    * classic off-by-one blocking hole; collision implies band distance
    * <= 1, and double collisions (same-band pairs meet at bkey=band AND
    * band+1) fold ARITHMETICALLY — keep only the collision at
    * bkey = greatest(band_a, band_b), which every qualifying pair hits
    * exactly once — instead of a pair-level distinct. Round 9 shuffled
    * two 40-char prefixes per candidate pair into that distinct before
    * the levenshtein gate; the band filter and the thresholded verify
    * now both run inside the block join's output stage, so candidate
    * pairs die where they are born and nothing pair-shaped is ever
    * exchanged (only the final heavy-hitter-sized sort moves).
    *
    * The verify leg uses Spark's thresholded levenshtein(l, r, 8) —
    * the DP early-exits (O(len·k), not O(len²)) the moment a row of
    * the matrix exceeds the threshold, returning -1; kept pairs carry
    * the exact distance, so the oracle's plain levenshtein() <= 8
    * mirror agrees on every surviving row. The gate is authored INSIDE
    * the join condition, LAST in the conjunction, as the single
    * predicate `lev >= 0` (threshold -1 already encodes `<= 8`): a
    * post-join `.filter(lev between ...)` gets pushed into the join
    * condition AHEAD of the cheap id/band predicates, running the DP
    * twice per raw bucket match — measured 12.3 s vs 1.4 s at sf0.1.
    *
    * 100 TB: bodies never move — blocks join on (lang, band) carrying
    * doc_id + a 40-char prefix; block width is capped by the band
    * granularity (q88's df-cap argument applies to any pathological
    * block: cap block width, mirror the cap). The quadratic is
    * per-block, not per-corpus. */
  val q116DedupFuzzy: Q = q116WithBandWidth(100)

  /** Band-width dial for the probe: block occupancy is corpus-density ×
    * width, so at k× data the operating procedure narrows the band to
    * width/k (floored at 2× the edit threshold — an ≤8-edit pair's
    * lengths differ by ≤8, so neighbor-band overlap still catches every
    * true pair down to width 16). ScaleProbe measures q116 under
    * exactly that dial; the oracled entry pins width=100. */
  private[graft] def q116WithBandWidth(width: Int): Q = (spark, dir) => {
    require(width >= 16, s"band width $width < 16 breaks the ≤8-edit recall bound")
    val d = t(spark, dir, "documents").select(
      col("doc_id"), col("lang"),
      expr(s"n_chars div $width").as("band"),
      substring(col("text"), 1, 40).as("pfx"))
    val keyed = d.select(col("doc_id"), col("lang"), col("band"), col("pfx"),
      explode(array(col("band"), col("band") + 1)).as("bkey"))
    // probe side hash-distributed by block key: a corpus-sized parquet
    // splits into many scan partitions on a cluster, but a compact file
    // arrives as ONE task and the whole verify leg runs on one core
    // (the r9 8.5 s); distributing by the join key is also the layout a
    // 100 TB block join wants. Partition count pinned explicitly: the
    // keyed rows are bytes-tiny but each FANS OUT quadratically in the
    // join, so AQE's size-based coalesce (which would see "tiny
    // shuffle" and fold it back to one partition) must not apply here.
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val probe = keyed.repartition(shufflePartitions, col("lang"), col("bkey"))
    orderAll(probe.as("a")
      .join(keyed.as("b"),
        col("a.lang") === col("b.lang") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.bkey") === greatest(col("a.band"), col("b.band")) &&
          levenshtein(col("a.pfx"), col("b.pfx"), 8) >= 0)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        levenshtein(col("a.pfx"), col("b.pfx"), 8).cast("long").as("lev")))
  }

  val defs: Map[String, Q] = Map(
    "q116_dedup_fuzzy" -> q116DedupFuzzy,
    "q48_oov_rate" -> q48OovRate,
    "q105_boilerplate_coverage" -> q105BoilerplateCoverage,
    "q108_kmeans_refine" -> q108KmeansRefine,
    "q109_line_dedup" -> q109LineDedup,
    "q110_semantic_dedup" -> q110SemanticDedup,
    "q69_dedup_substring" -> q69DedupSubstring,
    "q70_rarity_score" -> q70RarityScore,
    "q71_length_band_filter" -> q71LengthBandFilter,
    "q72_shuffle_shard" -> q72ShuffleShard,
    "q73_cluster_assign" -> q73ClusterAssign,
    "q74_cluster_balanced_sample" -> q74ClusterBalancedSample,
    "q75_knn_join" -> q75KnnJoin,
    "q78_bpe_bigrams" -> q78BpeBigrams,
    "q144_bpe_merge_loop" -> q144BpeMergeLoop,
    "q149_bpe_encode" -> q149BpeEncode,
    "q150_encode_by_lang" -> q150EncodeByLang,
    "q151_repetition_profile" -> q151RepetitionProfile,
    "q156_bpe_roundtrip" -> q156BpeRoundtrip,
    "q100_knn_ivf" -> q100KnnIvf,
    "q168_ann_recall" -> q168AnnRecall,
    "q101_knn_pq" -> q101KnnPq)

  // lazy: entries read LlmOps members, so building them only on oracle
  // access keeps CorpusOps's <clinit> from entering LlmOps's
  lazy val oracles: Map[String, String] = Map(
    "q116_dedup_fuzzy" ->
      // same two-key neighbor-band blocking; full levenshtein <= 8
      // equals the engine's early-exit thresholded distance on every
      // kept row
      """WITH d AS (SELECT doc_id, lang, n_chars // 100 AS band,
        |             substr(text, 1, 40) AS pfx FROM documents),
        |k AS (SELECT doc_id, lang, band, pfx, unnest([band, band + 1]) AS bkey
        |      FROM d),
        |p AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |        a.pfx AS pa, b.pfx AS pb
        |      FROM k a JOIN k b
        |      ON a.lang = b.lang AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        |SELECT d1, d2, CAST(levenshtein(pa, pb) AS BIGINT) AS lev
        |FROM p WHERE levenshtein(pa, pb) <= 8
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q110_semantic_dedup" -> {
      val dim = LlmOps.geom.embeddingDim
      // q92's plant, q73's assignment tie-break (row_number mirrors the
      // engine's (cos6, -c_id) struct-max), same 6-dp rounded cosine and
      // the same greedy-by-id >= 0.95 verdict
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |all_v AS (
        |  SELECT vec_id, e FROM v
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_concat(e[1:${dim - 1}], [e[$dim] + 0.01])
        |  FROM v),
        |cent AS (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT a.vec_id, c.c_id,
        |    round(list_dot_product(a.e, c.ce) /
        |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.ce, c.ce))), 6) AS cos6
        |  FROM all_v a CROSS JOIN cent c),
        |asg AS (
        |  SELECT vec_id, c_id AS centroid_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, c_id ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |side AS (SELECT a.vec_id, g.centroid_id, a.e
        |         FROM all_v a JOIN asg g ON a.vec_id = g.vec_id),
        |hits AS (
        |  SELECT y.vec_id, min(x.vec_id) AS dup_of
        |  FROM side x JOIN side y
        |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
        |  WHERE round(list_dot_product(x.e, y.e) /
        |      (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) >= 0.95
        |  GROUP BY y.vec_id)
        |SELECT g.vec_id, g.centroid_id, h.dup_of IS NULL AS kept, h.dup_of
        |FROM asg g LEFT JOIN hits h ON g.vec_id = h.vec_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin
    },
    "q109_line_dedup" ->
      // same plant (nav lines interpolated), same 8-token grid, raw
      // line strings instead of xxhash64 (df-invariant, q88's
      // argument), same count-distinct-docs df >= cap head, rebuilt
      // text as the ordered string_agg of surviving lines
      s"""WITH docs AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN '$NavLine5 ' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '$NavLine7 ' ELSE '' END) ||
        |    text AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs),
        |ln AS (
        |  SELECT doc_id, CAST(t.i AS INT) AS pos,
        |    array_to_string(
        |      toks[CAST(t.i * $lineWidth + 1 AS INT):
        |           CAST((t.i + 1) * $lineWidth AS INT)], ' ') AS line
        |  FROM tok,
        |    unnest(range(0, CAST(ceil(len(toks) / $lineWidth.0) AS BIGINT))) AS t(i)),
        |common AS (
        |  SELECT line FROM ln GROUP BY line
        |  HAVING count(DISTINCT doc_id) >= $lineDfCap)
        |SELECT l.doc_id,
        |  CAST(count(*) AS INT) AS n_lines,
        |  CAST(count(c.line) AS INT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN c.line IS NULL THEN l.line END,
        |                      ' ' ORDER BY l.pos), '') AS text
        |FROM ln l LEFT JOIN common c ON l.line = c.line
        |GROUP BY l.doc_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q108_kmeans_refine" ->
      // the 2-round Lloyd loop unrolled: same seed centroids, same
      // rounded-BIGINT micro-unit distances (q101's recipe), same
      // row_number tie-break as the engine's struct-min, same
      // exact-integer mean arithmetic
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |lf AS (
        |  SELECT vec_id, CAST(t.j - 1 AS INT) AS j, e[t.j] AS val,
        |    CAST(round(e[t.j] * 1e6) AS BIGINT) AS vmic
        |  FROM v, unnest(range(1, len(e) + 1)) AS t(j)),
        |c1 AS (SELECT CAST(vec_id AS INT) AS cluster, j, val AS cval
        |       FROM lf WHERE vec_id < 8),
        |d1 AS (
        |  SELECT l.vec_id, c.cluster,
        |    CAST(round(sum((l.val - c.cval) * (l.val - c.cval)) * 1e6) AS BIGINT) AS d
        |  FROM lf l JOIN c1 c USING (j) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
        |    FROM d1) WHERE rn = 1),
        |m1 AS (
        |  SELECT a.cluster, l.j,
        |    round(CAST(sum(l.vmic) AS DOUBLE) / count(*) / 1e6, 6) AS cval
        |  FROM a1 a JOIN lf l USING (vec_id) GROUP BY 1, 2),
        |d2 AS (
        |  SELECT l.vec_id, c.cluster,
        |    CAST(round(sum((l.val - c.cval) * (l.val - c.cval)) * 1e6) AS BIGINT) AS d
        |  FROM lf l JOIN m1 c USING (j) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
        |    FROM d2) WHERE rn = 1),
        |m2 AS (
        |  SELECT a.cluster, l.j,
        |    round(CAST(sum(l.vmic) AS DOUBLE) / count(*) / 1e6, 6) AS cval
        |  FROM a2 a JOIN lf l USING (vec_id) GROUP BY 1, 2),
        |sz AS (SELECT cluster, count(*) AS n_members FROM a2 GROUP BY 1)
        |SELECT m2.cluster, sz.n_members, m2.j, m2.cval
        |FROM m2 JOIN sz USING (cluster)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q105_boilerplate_coverage" ->
      // same plant (tail constant interpolated), string-form shingles
      // (df-invariant vs the engine's xxhash64, q88's argument), same
      // df > cap head, same total left-join-back contract
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' $BoilerplateTail'
        |         ELSE text END AS text
        |  FROM base
        |  UNION ALL
        |  SELECT b.doc_id + 5000000,
        |    '$BoilerplateTail filler' || CAST(b.doc_id % 5 AS VARCHAR)
        |  FROM base b WHERE b.doc_id % 11 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs),
        |sh AS (
        |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS sh
        |  FROM tok, unnest(range(1, len(toks) - 1)) AS t(i)),
        |sizes AS (SELECT doc_id, CAST(count(*) AS INT) AS n_sh FROM sh GROUP BY 1),
        |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
        |common AS (SELECT sh FROM df WHERE df > $shingleDfCap),
        |hits AS (
        |  SELECT s.doc_id, CAST(count(*) AS INT) AS n_common
        |  FROM sh s JOIN common c USING (sh) GROUP BY 1),
        |tot AS (
        |  SELECT d.doc_id, coalesce(z.n_sh, 0) AS n_sh,
        |    coalesce(h.n_common, 0) AS n_common
        |  FROM docs d
        |  LEFT JOIN sizes z USING (doc_id) LEFT JOIN hits h USING (doc_id))
        |SELECT doc_id, n_sh, n_common,
        |  CASE WHEN n_sh > 0
        |    THEN round(CAST(n_common AS DOUBLE) / n_sh, 6) END AS coverage,
        |  coalesce(CASE WHEN n_sh > 0
        |    THEN round(CAST(n_common AS DOUBLE) / n_sh, 6) END >= 0.5, FALSE) AS boilerplate
        |FROM tot
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    "q48_oov_rate" ->
      s"""WITH $toksCte,
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS ct FROM toks GROUP BY tok
        |    ORDER BY ct DESC, tok ASC LIMIT ${LlmOps.geom.oovVocabSize})),
        |s AS (
        |  SELECT t.doc_id, count(*) AS n_toks,
        |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  coalesce(s.n_toks, 0) AS n_toks,
        |  coalesce(s.n_oov, 0) AS n_oov,
        |  CASE WHEN s.n_toks IS NULL THEN NULL
        |    ELSE CAST((1000000 * s.n_oov) // s.n_toks AS BIGINT) END AS oov_ppm
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q69_dedup_substring" ->
      s"""WITH dd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) - 1], ' ')
        |  FROM documents),
        |docs AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM dd
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh_all AS (
        |  SELECT DISTINCT doc_id,
        |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS sh
        |  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)),
        |informative AS (SELECT sh FROM sh_all GROUP BY sh HAVING count(*) <= $shingleDfCap),
        |idx AS (SELECT s.doc_id, s.sh FROM sh_all s JOIN informative USING (sh)),
        |ce AS (
        |  SELECT doc_id AS ce_id, toks[1] || ' ' || toks[2] || ' ' || toks[3] AS sh
        |  FROM docs),
        |cei AS (SELECT c.* FROM ce c JOIN informative USING (sh)),
        |cand AS (
        |  SELECT cei.ce_id, i.doc_id AS cont_id
        |  FROM cei JOIN idx i USING (sh) WHERE i.doc_id <> cei.ce_id),
        |ver AS (
        |  SELECT cand.ce_id, cand.cont_id
        |  FROM cand
        |  JOIN dd a ON a.doc_id = cand.ce_id
        |  JOIN dd b ON b.doc_id = cand.cont_id
        |  WHERE strpos(' ' || b.text || ' ', ' ' || a.text || ' ') > 0
        |    AND (len(a.text) < len(b.text)
        |         OR (len(a.text) = len(b.text) AND a.doc_id > b.doc_id)))
        |SELECT ce_id AS doc_id, min(cont_id) AS kept_by, count(*) AS n_containers
        |FROM ver GROUP BY 1
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q70_rarity_score" ->
      s"""WITH $toksCte,
        |vocab AS (SELECT tok, count(*) AS ct FROM toks GROUP BY tok),
        |tot AS (SELECT sum(ct) AS total FROM vocab),
        |scored AS (
        |  SELECT doc_id,
        |    CASE WHEN total // ct >= 1000000 THEN 1000000000000
        |      ELSE 1000000 * (total // ct)
        |        + (1000000::HUGEINT * (total % ct)) // ct
        |    END AS ippm
        |  FROM toks JOIN vocab USING (tok) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_toks,
        |  round(sum(ippm) / count(*) / 1000000.0, 6) AS rarity6
        |FROM scored GROUP BY doc_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q71_length_band_filter" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |bounds AS (
        |  SELECT lang,
        |    min(CASE WHEN rn = (n + 19) // 20 THEN n_chars END) AS lo,
        |    max(CASE WHEN rn = (n * 19 + 19) // 20 THEN n_chars END) AS hi
        |  FROM ranked
        |  WHERE rn = (n + 19) // 20 OR rn = (n * 19 + 19) // 20
        |  GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars, b.lo, b.hi
        |FROM documents d JOIN bounds b USING (lang)
        |WHERE d.n_chars BETWEEN b.lo AND b.hi
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    "q72_shuffle_shard" ->
      """WITH m AS (
        |  SELECT doc_id, ((doc_id % 1000000007) * 2654435761) % 1000000007 AS mix
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, mix, mix % 8 AS shard,
        |    row_number() OVER (PARTITION BY mix % 8 ORDER BY mix, doc_id) AS shard_pos
        |  FROM m)
        |SELECT doc_id, shard, CAST(shard_pos AS BIGINT) AS shard_pos,
        |  CAST((shard_pos - 1) * 8 + shard AS BIGINT) AS global_pos
        |FROM s
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q73_cluster_assign" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT v.vec_id, c.c_id,
        |    round(list_dot_product(v.e, c.ce) /
        |      (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))), 6) AS cos6
        |  FROM v CROSS JOIN cent c),
        |r AS (
        |  SELECT vec_id, c_id, cos6,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, c_id ASC) AS rn
        |  FROM scored)
        |SELECT vec_id, c_id AS centroid_id, cos6 FROM r WHERE rn = 1
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q74_cluster_balanced_sample" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT v.vec_id, c.c_id,
        |    round(list_dot_product(v.e, c.ce) /
        |      (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))), 6) AS cos6
        |  FROM v CROSS JOIN cent c),
        |assign AS (
        |  SELECT vec_id, c_id AS centroid_id, cos6,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, c_id ASC) AS rn
        |  FROM scored),
        |ranked AS (
        |  SELECT centroid_id, vec_id, cos6,
        |    CAST(row_number() OVER (PARTITION BY centroid_id
        |      ORDER BY cos6 DESC, vec_id ASC) AS INT) AS rnk
        |  FROM assign WHERE rn = 1)
        |SELECT centroid_id, rnk, vec_id, cos6 FROM ranked WHERE rnk <= 10
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q75_knn_join" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |b AS (SELECT vec_id, e, ${LlmOps.srpBucketSql("e")} AS bkt FROM v),
        |cand AS (
        |  SELECT x.vec_id AS qid, y.vec_id AS nid,
        |    round(list_dot_product(x.e, y.e) /
        |      (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos6
        |  FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id <> y.vec_id),
        |r AS (
        |  SELECT qid, nid, cos6,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, nid ASC) AS INT) AS rnk
        |  FROM cand)
        |SELECT qid, rnk, nid, cos6 FROM r WHERE rnk <= 3
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q78_bpe_bigrams" ->
      """WITH d AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |p AS (
        |  SELECT toks[i] AS t1, toks[i + 1] AS t2
        |  FROM d, unnest(range(1, len(toks))) AS t(i)),
        |c AS (
        |  SELECT t1, t2, count(*) AS cnt FROM p
        |  WHERE t1 <> '' AND t2 <> '' GROUP BY 1, 2),
        |top AS (SELECT t1, t2, cnt FROM c ORDER BY cnt DESC, t1, t2 LIMIT 50)
        |SELECT t1, t2, cnt FROM top
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q144_bpe_merge_loop" -> q144Oracle(BpeRounds, BpeTopK),
    "q149_bpe_encode" -> q149Oracle(BpeRounds),
    "q150_encode_by_lang" -> q150Oracle(BpeRounds),
    "q156_bpe_roundtrip" -> q156Oracle(BpeRounds),
    "q151_repetition_profile" ->
      // run lengths via gaps-and-islands (q138's recipe: pos minus the
      // per-token row_number is constant within a run); the bigram mode
      // via lead + two GROUP BYs; sub-2-token docs coalesce back in
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(coalesce(text, ''), ' '),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |stats AS (
        |  SELECT doc_id, len(toks) AS n_tok,
        |    len(list_distinct(toks)) AS n_dist, toks
        |  FROM base),
        |pos AS (
        |  SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM stats, unnest(range(1, len(toks) + 1)) AS t(i)),
        |runs AS (
        |  SELECT doc_id, max(cnt) AS max_run FROM (
        |    SELECT doc_id, tok, grp, count(*) AS cnt FROM (
        |      SELECT doc_id, tok, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id, tok
        |                                 ORDER BY pos) AS grp
        |      FROM pos)
        |    GROUP BY 1, 2, 3)
        |  GROUP BY 1),
        |bgc AS (
        |  SELECT doc_id, t1, t2, count(*) AS c FROM (
        |    SELECT doc_id, tok AS t1,
        |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
        |    FROM pos)
        |  WHERE t2 IS NOT NULL GROUP BY 1, 2, 3),
        |topbg AS (SELECT doc_id, max(c) AS top_c FROM bgc GROUP BY 1)
        |SELECT s.doc_id,
        |  CAST(s.n_tok AS BIGINT) AS n_tok,
        |  round(coalesce(1.0 - CAST(s.n_dist AS DOUBLE)
        |          / nullif(CAST(s.n_tok AS DOUBLE), 0), 0.0), 6)
        |    AS dup_tok_frac,
        |  CAST(coalesce(r.max_run, 0) AS BIGINT) AS max_run,
        |  round(coalesce(CAST(t.top_c AS DOUBLE)
        |          / nullif(CAST(s.n_tok - 1 AS DOUBLE), 0), 0.0), 6)
        |    AS top_bigram_frac
        |FROM stats s
        |LEFT JOIN runs r ON r.doc_id = s.doc_id
        |LEFT JOIN topbg t ON t.doc_id = s.doc_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    "q168_ann_recall" ->
      // q100's deterministic IVF chain + q82's exact brute-force pairs,
      // intersected per query; recall in the q157 ppm spelling
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT v.vec_id, c.c_id,
        |    round(list_dot_product(v.e, c.ce) /
        |      (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))), 6) AS cc6
        |  FROM v, cent c),
        |cells AS (
        |  SELECT vec_id, c_id AS cell FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cc6 DESC, c_id ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |corpus AS (SELECT v.vec_id, v.e, cells.cell FROM v JOIN cells USING (vec_id)),
        |probes AS (
        |  SELECT s.vec_id AS qid, qv.e AS qe, s.c_id AS cell FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cc6 DESC, c_id ASC) AS rn
        |    FROM scored WHERE vec_id < 10) s
        |  JOIN v qv ON qv.vec_id = s.vec_id
        |  WHERE s.rn <= 2),
        |cand AS (
        |  SELECT p.qid, c.vec_id AS nid,
        |    round(list_dot_product(p.qe, c.e) /
        |      (sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos6
        |  FROM corpus c JOIN probes p ON c.cell = p.cell AND c.vec_id <> p.qid),
        |ivf AS (
        |  SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, nid ASC) AS rnk
        |    FROM cand) WHERE rnk <= 3),
        |bf AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    round(list_dot_product(q.e, c.e) /
        |      (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos6
        |  FROM v q JOIN v c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 10),
        |exact AS (
        |  SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, nid ASC) AS rnk
        |    FROM bf) WHERE rnk <= 3),
        |hits AS (
        |  SELECT e.qid, CAST(count(*) AS BIGINT) AS n_hit
        |  FROM exact e JOIN ivf i ON i.qid = e.qid AND i.nid = e.nid
        |  GROUP BY 1),
        |ag AS (
        |  SELECT e.qid, CAST(count(*) AS BIGINT) AS n_exact,
        |    coalesce(any_value(h.n_hit), 0) AS n_hit
        |  FROM exact e LEFT JOIN hits h ON h.qid = e.qid
        |  GROUP BY 1)
        |SELECT qid, n_exact, n_hit,
        |  CAST(${ppmDuckSql("n_hit", "n_exact")} AS BIGINT)
        |    AS recall_ppm
        |FROM ag
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST""".stripMargin,
    "q100_knn_ivf" ->
      // the coarse quantizer, cell assignment, nProbe=2 probe lists, and
      // exact re-rank are all deterministic arithmetic — round-6 cosine,
      // ties to the lower id — so the full IVF pipeline mirrors into SQL
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT v.vec_id, c.c_id,
        |    round(list_dot_product(v.e, c.ce) /
        |      (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))), 6) AS cc6
        |  FROM v, cent c),
        |cells AS (
        |  SELECT vec_id, c_id AS cell FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cc6 DESC, c_id ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |corpus AS (SELECT v.vec_id, v.e, cells.cell FROM v JOIN cells USING (vec_id)),
        |probes AS (
        |  SELECT s.vec_id AS qid, qv.e AS qe, s.c_id AS cell FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cc6 DESC, c_id ASC) AS rn
        |    FROM scored WHERE vec_id < 10) s
        |  JOIN v qv ON qv.vec_id = s.vec_id
        |  WHERE s.rn <= 2),
        |cand AS (
        |  SELECT p.qid, c.vec_id AS nid,
        |    round(list_dot_product(p.qe, c.e) /
        |      (sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos6
        |  FROM corpus c JOIN probes p ON c.cell = p.cell AND c.vec_id <> p.qid),
        |r AS (
        |  SELECT qid, nid, cos6,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, nid ASC) AS INT) AS rnk
        |  FROM cand)
        |SELECT qid, rnk, nid, cos6 FROM r WHERE rnk <= 3
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q101_knn_pq" ->
      // the whole IVFADC pipeline is deterministic arithmetic — coarse
      // cells by round-6 cosine, PQ codes and ADC tables in exact BIGINT
      // micro-units (sum of m BIGINTs, no float reduction order), re-rank
      // by round-6 cosine, every tie to the lower id — so it mirrors into
      // SQL; the sub-space slicing is interpolated from the same
      // embedding dim the Spark side reads
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id < 8),
        |cscored AS (
        |  SELECT v.vec_id, c.c_id,
        |    round(list_dot_product(v.e, c.ce) /
        |      (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))), 6) AS cc6
        |  FROM v, cent c),
        |cells AS (
        |  SELECT vec_id, c_id AS cell FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cc6 DESC, c_id ASC) AS rn
        |    FROM cscored) WHERE rn = 1),
        |subv AS (
        |  SELECT vec_id, j,
        |    list_slice(e, j * ${LlmOps.geom.embeddingDim / 8} + 1,
        |      j * ${LlmOps.geom.embeddingDim / 8} + ${LlmOps.geom.embeddingDim / 8}) AS se
        |  FROM v, unnest(range(0, 8)) AS t(j)),
        |cb AS (SELECT j, vec_id AS code, se AS ce FROM subv WHERE vec_id < 8),
        |dists AS (
        |  SELECT s.vec_id, s.j, cb.code,
        |    CAST(round((list_dot_product(s.se, s.se) - 2 * list_dot_product(s.se, cb.ce)
        |      + list_dot_product(cb.ce, cb.ce)) * 1000000) AS BIGINT) AS dmic
        |  FROM subv s JOIN cb ON s.j = cb.j),
        |codes AS (
        |  SELECT vec_id AS nid, j, code FROM (
        |    SELECT vec_id, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dmic ASC, code ASC) AS rn
        |    FROM dists) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS qid, c_id AS cell FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cc6 DESC, c_id ASC) AS rn
        |    FROM cscored WHERE vec_id < 10) WHERE rn <= 2),
        |qtab AS (
        |  SELECT vec_id AS qid, j, code, dmic AS tmic FROM dists WHERE vec_id < 10),
        |members AS (
        |  SELECT p.qid, c.vec_id AS nid FROM cells c JOIN probes p ON c.cell = p.cell
        |  WHERE c.vec_id <> p.qid),
        |adc AS (
        |  SELECT m.qid, m.nid, SUM(q.tmic) AS adcv
        |  FROM members m JOIN codes k ON k.nid = m.nid
        |  JOIN qtab q ON q.qid = m.qid AND q.j = k.j AND q.code = k.code
        |  GROUP BY 1, 2),
        |shortl AS (
        |  SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid ORDER BY adcv ASC, nid ASC) AS sr
        |    FROM adc) WHERE sr <= 10),
        |rer AS (
        |  SELECT s.qid, s.nid,
        |    round(list_dot_product(qv.e, nv.e) /
        |      (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(nv.e, nv.e))), 6) AS cos6
        |  FROM shortl s JOIN v qv ON qv.vec_id = s.qid JOIN v nv ON nv.vec_id = s.nid),
        |r AS (
        |  SELECT qid, nid, cos6,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, nid ASC) AS INT) AS rnk
        |  FROM rer)
        |SELECT qid, rnk, nid, cos6 FROM r WHERE rnk <= 3
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin)
}
