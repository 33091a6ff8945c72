package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Corpus token statistics, round 10 of the LLM-pipeline surface
  * (SURVEY.md §2.2): collocation mining (q118), vocabulary frequency
  * spectrum (q119), bigram-LM fluency scoring (q120), and per-source
  * distinctive-term extraction (q121). The reference has no analytics
  * at all (app.py is a producer loop); these are the corpus-diagnostic
  * operators a training-data pipeline runs over the same document
  * stream the dedup/curation family consumes.
  *
  * Determinism rules as everywhere in the package: association scores
  * ride as BIGINT micro-units under floor division (Spark `div` ===
  * DuckDB `//` on non-negatives), log2 quantities use the exact
  * bin-length trick q117 proved (`length(bin(x)) - 1` — identical
  * unpadded binary rendering in both engines), products that can wrap
  * BIGINT at web scale are lifted to DECIMAL(38,0)/HUGEINT with a
  * saturation cap (q70's ippm posture), and every result ends in a
  * total ORDER BY.
  */
object TokenStats {

  /** Per-document adjacent token pairs — q78's pair derivation with the
    * doc_id retained, shared by q118's lift numerator and q120's
    * per-doc scoring (the oracle-side mirror is [[bigsCte]]; keep the
    * two in lockstep). Persisted: every caller both aggregates the
    * pairs globally and re-consumes them row-wise. */
  private[graft] def bigramStream(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("t1"),
          element_at(col("toks"), i + 1).as("t2")))).as("bg"))
      .select(col("doc_id"), col("bg.t1").as("t1"), col("bg.t2").as("t2"))
      .filter(col("t1") =!= "" && col("t2") =!= "")
      .scopedPersist

  /** DuckDB mirror of [[bigramStream]]. */
  private[queries] val bigsCte =
    """bigs AS (
      |  SELECT doc_id, toks[i] AS t1, toks[i + 1] AS t2
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |        WHERE len(string_split(text, ' ')) >= 2),
      |    unnest(range(1, len(toks))) AS u(i)
      |  WHERE toks[i] <> '' AND toks[i + 1] <> '')""".stripMargin

  /** Saturating micro-unit lift over BIGINT columns `num1·num2·1e6 /
    * (den1·den2)`: both products lifted to DECIMAL(38,0) (HUGEINT in
    * the oracle) so nothing wraps for corpora up to ~1e12 tokens
    * (num1·num2·1e6 ≤ 1e30 ≪ 1e38), and the quotient capped at 1e12
    * micro-units — "more than a million times over-represented reads as
    * a million times", q70's IDF-clipping argument. IntegralDivide
    * returns BIGINT on both engines below the cap.
    *
    * Why DECIMAL and not a q70-style pure-BIGINT decompose (VERDICT r10
    * item 4; the probe's verdict is on record in SURVEY.md): the lift
    * runs only on the cnt≥5-filtered AGGREGATED pair table —
    * vocab-shaped, ~10⁴ rows at sf0.1 — and a same-JVM interleaved A/B (decimal vs naive-BIGINT
    * vs no-lift-at-all) measured all three within noise (means
    * 1.34/1.33/1.30 s at sf0.1); the r9→r10 +0.5 s was boot contention,
    * not decimal. A wrap-safe BIGINT spelling would also need TWO
    * nested decompositions here (both cnt·total·1e6 and cl·cr can pass
    * 2⁶³, and the q70 recipe's mod-term product (cnt·1e6 mod cl)·total
    * itself wraps) — strictly more per-row work than one decimal
    * mul/div, for zero measured gain. */
  private def liftMic(num1: String, num2: String, den1: String, den2: String) =
    expr(s"""least(1000000000000L,
      |  (cast($num1 as decimal(38,0)) * $num2 * 1000000)
      |    div (cast($den1 as decimal(38,0)) * $den2))""".stripMargin)

  private def liftMicSql(num1: String, num2: String, den1: String, den2: String) =
    s"""least(1000000000000, CAST(
       |  (CAST($num1 AS HUGEINT) * $num2 * 1000000)
       |    // (CAST($den1 AS HUGEINT) * $den2) AS BIGINT))""".stripMargin

  /** q118 [EXT]: collocation mining — the top-50 adjacent token pairs
    * by pointwise lift `P(xy) / (P(x)·P(y))` with minimum support 5,
    * the classic collocation statistic (PMI's argument without the
    * log — rank-equivalent at fixed support, and exactly mirrorable in
    * integer micro-units where PMI's ln() is libm-specific). q78 counts
    * raw bigram frequency for BPE merges; this normalizes by the
    * marginals, so "of the" (frequent parts) ranks far below a true
    * collocation whose parts rarely appear apart.
    *
    * Marginals are the LEFT and RIGHT occurrence counts of the pair
    * population itself (Σ over the aggregated pair table — every
    * token's count as first/second element), so num and den draw from
    * the same sample space and lift = 1e6 means independence exactly.
    *
    * 100 TB: the pair stream collapses under a two-phase (t1,t2) count
    * before anything else touches it; marginals and the scalar total
    * are aggregates OF that aggregate (vocab-sized, map-side combined,
    * the total attached as a 1-row broadcast — the bigram table is the
    * engine's largest vocab-shaped frame, so no unpartitioned window
    * may touch it); the top-50 cut is TakeOrderedAndProject over the
    * scored pair table, never a global sort. Bodies are gone after the
    * split; nothing corpus-sized shuffles twice. */
  val q118Collocations: Q = (spark, dir) => {
    // corpus total as a 1-row aggregate of the persisted bigram table
    // attached by broadcast crossJoin (q123/q124/q125's scalar
    // pattern) — the bigram vocabulary is the LARGEST vocab-shaped
    // frame in the engine, and the previous unpartitioned-window
    // spelling forced all of it through a single partition
    val c = bigramStream(t(spark, dir, "documents"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
      .scopedPersist
    val tot = c.agg(sum(col("cnt")).as("total"))
    val lm = c.groupBy(col("t1").as("lt")).agg(sum(col("cnt")).as("cl"))
    val rm = c.groupBy(col("t2").as("rt")).agg(sum(col("cnt")).as("cr"))
    orderAll(c.filter(col("cnt") >= 5)
      .join(broadcast(lm), col("t1") === col("lt"))
      .join(broadcast(rm), col("t2") === col("rt"))
      .crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"), col("cnt"),
        liftMic("cnt", "total", "cl", "cr").as("lift_mic"))
      .orderBy(col("lift_mic").desc, col("cnt").desc, col("t1").asc, col("t2").asc)
      .limit(50))
  }

  /** q119 [EXT]: vocabulary frequency spectrum — the number of distinct
    * token types and total occurrences per ⌊log₂ frequency⌋ bucket
    * (bucket 0 = hapax legomena). The rank-frequency diagnostic a
    * corpus health check plots (a healthy natural-language crawl shows
    * the Zipf-consistent geometric decay; a bucket bulge flags
    * boilerplate farms or synthetic spam), with the log quantized to
    * whole bits via the exact bin-length recipe so the whole spectrum
    * hash-gates.
    *
    * 100 TB: one two-phase token count (map-side combined), then a
    * ~60-row re-aggregate of the vocab table. The corpus crosses the
    * wire once, keyed on token. */
  val q119FreqSpectrum: Q = (spark, dir) => {
    val vocab = CorpusOps.tokenStream(t(spark, dir, "documents"))
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    orderAll(vocab
      .select((length(expr("bin(ct)")) - 1).cast("long").as("log2_bucket"),
        col("ct"))
      .groupBy("log2_bucket")
      .agg(count(lit(1)).as("n_types"), sum(col("ct")).as("n_tokens")))
  }

  /** q120 [EXT]: bigram-LM fluency scoring — per-document average
    * conditional surprisal `-log₂ P(tok | prev)` against the corpus's
    * own bigram model, q117's unigram perplexity proxy raised one
    * order: q117 scores RARITY (a doc of rare words), this scores
    * DISFLUENCY (improbable transitions — shuffled text scores high
    * even when every word is common, the signal that catches scrambled
    * scrapes and word-salad spam that unigram LM scoring cannot).
    *
    * Surprisal of a pair is floor(log₂(cl(t1) div cnt(t1,t2))) in whole
    * bits via the exact bin-length recipe (cl ≥ cnt ≥ 1 so the ratio is
    * ≥ 1 and bin() never sees zero); the per-doc mean rides as
    * millibits under BIGINT floor division; docs with < 2 tokens carry
    * no bigram and pin to 0 through the total left join (q48's
    * contract).
    *
    * 100 TB: bits are attached to the AGGREGATED bigram table (pair
    * table ⋈ its own left marginal — aggregate-sized, broadcast), so
    * the corpus-sized pair stream joins the model exactly once, keyed
    * on the pair, then re-aggregates per doc — two corpus-sized
    * shuffles total ((t1,t2) and doc_id), bodies never move. */
  val q120BigramLm: Q = (spark, dir) => {
    val pairs = bigramStream(t(spark, dir, "documents"))
    val c = pairs.groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
    val lm = c.groupBy(col("t1").as("lt")).agg(sum(col("cnt")).as("cl"))
    val model = c.join(broadcast(lm), col("t1") === col("lt"))
      .select(col("t1"), col("t2"),
        (length(expr("bin(cl div cnt)")) - 1).cast("long").as("bits"))
    val scored = pairs.join(model, Seq("t1", "t2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"), sum(col("bits")).as("sum_bits"))
    orderAll(t(spark, dir, "documents").select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        coalesce(expr("sum_bits * 1000L div n_big"), lit(0L)).as("avg_mbits")))
  }

  /** q121 [EXT]: per-source distinctive terms — for every document
    * source, the top-10 tokens most over-represented vs the corpus
    * (lift = P(tok | source) / P(tok), micro-units, support ≥ 10): the
    * c-TF-IDF / "what characterizes this slice" report a curation
    * pipeline runs per domain before deciding mixture weights (q99
    * weighs sources by volume; this says what's IN them).
    *
    * 100 TB: one (source, tok) two-phase count over the exploded stream
    * (source rides the explode projection — no join back to documents);
    * global marginals are aggregates of that aggregate; the top-10 cut
    * is rank ≤ 10 over the scored (source, tok) table, which Catalyst
    * plans as a map-side WindowGroupLimit (q96's rewrite) — each map
    * task forwards at most 10 rows per source. */
  val q121DistinctiveTerms: Q = (spark, dir) => {
    val st = t(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("n_st"))
      .withColumn("total", sum(col("n_st")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .scopedPersist
    val src = st.groupBy(col("source").as("s")).agg(sum(col("n_st")).as("n_s"))
    val tokc = st.groupBy(col("tok").as("tk")).agg(sum(col("n_st")).as("n_t"))
    val scored = st.filter(col("n_st") >= 10)
      .join(broadcast(src), col("source") === col("s"))
      .join(broadcast(tokc), col("tok") === col("tk"))
      .select(col("source"), col("tok"), col("n_st"),
        liftMic("n_st", "total", "n_s", "n_t").as("lift_mic"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift_mic").desc, col("n_st").desc, col("tok").asc)
    orderAll(scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10))
  }

  /** q124 [EXT]: exact heavy hitters — every token holding at least
    * 500 ppm (0.05%) of all corpus occurrences, with its occurrence
    * count, document frequency, and integer ppm share. The exact
    * ground truth s87's streaming Misra-Gries sketch is bounded
    * against (the MG guarantee: any token above N/k occurrences
    * must survive the k-slot summary — `StreamingSpec` pins the
    * superset relation against THIS answer).
    *
    * 100 TB: one token-keyed two-phase count (occurrences combine
    * map-side; the document frequency is a distinct-(tok, doc)
    * count that Catalyst plans as partial dedup before the
    * exchange); the corpus total is a 1-row aggregate of the
    * persisted vocab frame attached by broadcast crossJoin (the
    * q123/q125 scalar pattern — round 9 rode it through an
    * unpartitioned window, forcing the whole vocab through ONE
    * partition) and the share is a saturating DECIMAL product
    * under floor division — nothing corpus-sized shuffles twice,
    * and the result is heavy-hitter-sized. */
  val q124HeavyHitters: Q = (spark, dir) => {
    val vocab = CorpusOps.tokenStream(t(spark, dir, "documents"))
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("doc_freq"))
      .scopedPersist
    val tot = vocab.agg(sum(col("cnt")).as("total"))
    orderAll(vocab.crossJoin(broadcast(tot))
      .select(col("tok"), col("cnt"), col("doc_freq"),
        expr("(cast(cnt as decimal(38,0)) * 1000000) div total").as("share_ppm"))
      .filter(col("share_ppm") >= 500))
  }

  /** q125 [EXT]: DSIR-style importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling")
    * — per document, the log-likelihood ratio between a TARGET
    * unigram LM (here: the corpus's own English slice) and the RAW
    * corpus LM, in whole bits: documents whose token mix looks more
    * target-like than corpus-like get positive `gain_bits` and win
    * resampling mass. Add-one smoothing over the shared vocab keeps
    * both models total (a token absent from the target slice costs
    * `log₂((N_tgt + V) / 1)` bits, finite and exact), and each
    * per-token log rides the bin-length recipe so the whole score
    * hash-gates.
    *
    * 100 TB: both LMs are aggregates of ONE exploded (doc, lang,
    * tok) pass (the target model is a filtered re-aggregate, not a
    * second scan); model scalars (N, V) ride a 1-row broadcast; the
    * scoring join is token-keyed against the vocab-sized model
    * table (broadcastable once top-V capped, q48's note) followed
    * by one doc-keyed re-aggregate — the corpus crosses the wire
    * twice (tok, then doc_id), bodies never. */
  val q125DsirWeights: Q = (spark, dir) => orderAll(dsirPerDoc(spark, dir))

  /** q125's unordered core, shared with q136 (`Composition`), which
    * resamples FROM these weights — the pipeline's next stage consumes
    * the same frame, so the recipe lives once. */
  private[queries] def dsirPerDoc(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .scopedPersist
    val raw = toks.groupBy("tok").agg(count(lit(1)).as("c_raw"))
    val tgt = toks.filter(col("lang") === "en")
      .groupBy(col("tok").as("ttok")).agg(count(lit(1)).as("c_tgt"))
    val model = raw.join(tgt, col("tok") === col("ttok"), "left_outer")
      .select(col("tok"), col("c_raw"), coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
      .scopedPersist
    val scalars = model.agg(sum(col("c_raw")).as("n_raw"),
      sum(col("c_tgt")).as("n_tgt"), count(lit(1)).as("v"))
    val bits = model.join(broadcast(scalars))
      .select(col("tok"),
        (length(expr("bin((n_raw + v) div (c_raw + 1))")) - 1).cast("long").as("b_raw"),
        (length(expr("bin((n_tgt + v) div (c_tgt + 1))")) - 1).cast("long").as("b_tgt"))
    val perDoc = toks.join(bits, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(col("b_raw")).as("bits_raw"), sum(col("b_tgt")).as("bits_tgt"))
    docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("bits_raw"), lit(0L)).as("bits_raw"),
        coalesce(col("bits_tgt"), lit(0L)).as("bits_tgt"),
        (coalesce(col("bits_raw"), lit(0L))
          - coalesce(col("bits_tgt"), lit(0L))).as("gain_bits"))
  }

  /** q126 [EXT]: quantized token entropy — per document, the Shannon
    * entropy of its own token distribution with each type's
    * surprisal quantized to whole bits (floor(log₂(n/ct)) via the
    * bin-length recipe), emitted as millibits-per-token under BIGINT
    * floor division. The lexical-diversity quality signal q85's
    * surface ratios miss: "aaa bbb aaa bbb" and four distinct words
    * have the same length/punct profile but entropy 1.0 vs 2.0 bits —
    * low entropy flags keyword-stuffing and template spam, the
    * within-doc complement of q64's repetition fractions.
    *
    * 100 TB: per-doc type counts are a (doc_id, tok) two-phase
    * aggregate; the doc-total window and the per-doc re-aggregate
    * both key on doc_id, so Catalyst reuses one exchange for all
    * three — the corpus crosses the wire once on (doc_id, tok) and
    * once on doc_id, and the entropy arithmetic is row-local
    * integer math on the doc-sized result. Docs with no tokens pin
    * to 0 through the total left join (q48's contract). */
  val q126TokenEntropy: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
    val tf = CorpusOps.tokenStream(docs)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("ct"))
      .withColumn("n", sum(col("ct")).over(Window.partitionBy(col("doc_id"))))
    val perDoc = tf.groupBy("doc_id")
      .agg(max(col("n")).as("n_tok"), count(lit(1)).as("n_types"),
        expr("sum(ct * (length(bin(n div ct)) - 1))").as("sbits"))
      .select(col("doc_id"), col("n_tok"), col("n_types"),
        expr("sbits * 1000L div n_tok").as("entropy_mbits"))
    orderAll(docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("entropy_mbits"), lit(0L)).as("entropy_mbits")))
  }

  /** q129 [EXT]: per-language token-budget admission — the batch twin of
    * the streaming meter (s88, `streaming/TokenBudget.scala`, Spark 4's
    * `transformWithState`): each language holds a token quota
    * ([[graft.streaming.TokenBudget.Quota]], env-dialed, interpolated
    * into the oracle), docs are metered in doc_id (ingest) order, and a
    * doc is admitted while the language's running token meter — ALL
    * tokens seen, admitted or not — stays within quota. The meter-whole-
    * stream semantic keeps the transition a prefix sum, so the batch
    * spelling is a per-lang ordered window and the op is fully oracled;
    * StreamingSpec s88 pins the stateful streaming fold row-identical
    * to THIS answer, q66's proof pattern.
    *
    * 100 TB: one exchange on lang; the prefix sum is a single ordered
    * window pass whose per-partition state is one long, and the
    * admission verdict is row-local arithmetic on the window's output.
    * Language count bounds parallelism here — the production spelling
    * shards to (lang, source) exactly like q97's packing — but nothing
    * corpus-sized crosses the wire twice and no unpartitioned window
    * appears (q118's rule). */
  val q129TokenBudget: Q = (spark, dir) => {
    val quota = graft.streaming.TokenBudget.Quota
    val tok = size(split(col("text"), " ")).cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val meterAfter = sum(tok).over(w)
    orderAll(t(spark, dir, "documents").select(
      col("doc_id"), col("lang"), tok.as("n_tokens"),
      meterAfter.as("meter_after"),
      (meterAfter <= lit(quota)).as("admitted")))
  }

  /** q157's vocab budgets — a powers-of-4 ladder (1 … 256 k): a
    * tokenizer sizing decision reads coverage at each candidate budget,
    * and the geometric spacing keeps the ladder meaningful from the
    * fixture's ~31-type vocabulary up to a web-scale multi-million-type
    * one (a decade ladder starting at 10 saturates the fixture after
    * one step and would leave the greedy-consumption arithmetic
    * untested below the cut). */
  private[graft] val CoverageBudgets: Seq[Long] =
    Seq.iterate(1L, 10)(_ * 4) // 1, 4, 16, …, 262144

  /** Exact floor(10⁶·c/t) for 0 ≤ c ≤ t without the 10⁶·c wrap at web
    * scale (10⁶ · 2.5e13 tokens > 2⁶³): split the multiplier as
    * 1000·1000 — 10⁶c = 1000·(a·t + r) with a = (1000c) div t,
    * r = (1000c) mod t, so floor(10⁶c/t) = 1000a + (1000r) div t, and
    * every intermediate is ≤ 1000·t < 2⁶³ for t up to 9.2e15 tokens.
    * DuckDB mirror spelled identically with `//`/`%`. Column names are
    * interpolated (Spark's Column API has no integral divide). */
  private[graft] def ppmSql(c: String, t: String): String =
    s"((($c * 1000) div $t) * 1000) + (((($c * 1000) % $t) * 1000) div $t)"

  /** q157 [EXT]: vocabulary coverage curve — for each candidate vocab
    * budget k, how much of the corpus's token mass the k most frequent
    * types cover: the table a tokenizer sizing decision actually reads
    * (Zipf coverage — "32k types cover 97%, 100k covers 98.4%" is what
    * settles the vocab-size argument), and the whole-mass complement of
    * q48's fixed-V OOV report and q119's log₂ spectrum.
    *
    * 100 TB — and why the vocab is NEVER globally sorted: coverage at
    * budget k does not depend on WHICH types break a frequency tie,
    * only on how much mass each frequency CLASS carries — so the curve
    * is computed from the count-of-counts table (q119's spectrum at
    * exact resolution): one token-keyed two-phase count builds the
    * vocab, one SHRINKING ct-keyed rollup builds the classes, and the
    * only window is a running type-count over the classes ordered by
    * ct desc — a frame whose size is provably ≤ √(2N) (D distinct
    * frequencies need Σ≥1+2+…+D ≤ N total tokens), so the
    * single-partition window q118's rule bans for corpus-sized frames
    * is value-domain-bounded here (~6 k rows at 10¹³ tokens). Budgets
    * attach as a 5-row broadcast literal (the q132 scalar-attach
    * class); greedy consumption from the highest class down is exact
    * integer arithmetic: used(k, class) = min(n_types, max(0, k −
    * types_before)). Coverage rides the wrap-safe split-multiplier ppm
    * ([[ppmExpr]]). FULLY ORACLED: same classes, same window, same
    * arithmetic in DuckDB. */
  val q157VocabCoverage: Q = (spark, dir) =>
    orderAll(vocabCoverage(spark,
      t(spark, dir, "documents"), CoverageBudgets))

  /** q157's core over any (doc_id, text) frame and explicit budgets —
    * spec-drivable on hand corpora (tie classes verify the
    * order-invariance argument). */
  private[graft] def vocabCoverage(spark: SparkSession, docs: DataFrame,
      budgetLadder: Seq[Long]): DataFrame = {
    import spark.implicits._
    val vocab = CorpusOps.tokenStream(docs)
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    val classes = vocab.groupBy("ct")
      .agg(count(lit(1)).as("n_types"))
      .withColumn("mass", col("ct") * col("n_types"))
    val w = Window.orderBy(col("ct").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = classes
      .withColumn("types_before", coalesce(sum(col("n_types")).over(w), lit(0L)))
      .scopedPersist
    val totals = cum.agg(sum(col("mass")).as("total_tokens"))
    val budgets = budgetLadder.toDF("budget_k")
    val used = least(col("n_types"),
      greatest(lit(0L), col("budget_k") - col("types_before")))
    val perBudget = cum.crossJoin(broadcast(budgets))
      .groupBy(col("budget_k"))
      .agg(sum(used).as("n_types_used"),
        sum(col("ct") * used).as("covered_tokens"))
    perBudget.crossJoin(broadcast(totals))
      .select(col("budget_k"), col("n_types_used"), col("covered_tokens"),
        col("total_tokens"),
        expr(ppmSql("covered_tokens", "total_tokens")).as("coverage_ppm"))
  }

  val defs: Map[String, Q] = Map(
    "q129_token_budget" -> q129TokenBudget,
    "q157_vocab_coverage" -> q157VocabCoverage,
    "q118_collocations" -> q118Collocations,
    "q119_freq_spectrum" -> q119FreqSpectrum,
    "q120_bigram_lm" -> q120BigramLm,
    "q121_distinctive_terms" -> q121DistinctiveTerms,
    "q124_heavy_hitters" -> q124HeavyHitters,
    "q125_dsir_weights" -> q125DsirWeights,
    "q126_token_entropy" -> q126TokenEntropy)

  /** q125's oracle CTE chain ending in `dsir` (one row per doc with its
    * gain_bits) — shared with q136's resampling oracle (`Composition`),
    * mirroring the [[dsirPerDoc]] code-sharing on the engine side. */
  private[queries] val dsirCte: String =
    """lt AS (
      |  SELECT doc_id, lang, t.tok FROM documents,
      |    unnest(string_split(text, ' ')) AS t(tok)
      |  WHERE t.tok <> ''),
      |raw AS (SELECT tok, count(*) AS c_raw FROM lt GROUP BY 1),
      |tgt AS (SELECT tok, count(*) AS c_tgt FROM lt WHERE lang = 'en' GROUP BY 1),
      |model AS (
      |  SELECT raw.tok, c_raw, coalesce(c_tgt, 0) AS c_tgt
      |  FROM raw LEFT JOIN tgt ON raw.tok = tgt.tok),
      |s AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
      |        CAST(sum(c_tgt) AS BIGINT) AS n_tgt, count(*) AS v FROM model),
      |bits AS (
      |  SELECT tok,
      |    CAST(length(bin((n_raw + v) // (c_raw + 1))) - 1 AS BIGINT) AS b_raw,
      |    CAST(length(bin((n_tgt + v) // (c_tgt + 1))) - 1 AS BIGINT) AS b_tgt
      |  FROM model CROSS JOIN s),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_tok,
      |    CAST(sum(b_raw) AS BIGINT) AS bits_raw,
      |    CAST(sum(b_tgt) AS BIGINT) AS bits_tgt
      |  FROM lt JOIN bits USING (tok) GROUP BY 1),
      |dsir AS (
      |  SELECT d.doc_id, d.lang,
      |    coalesce(n_tok, 0) AS n_tok,
      |    coalesce(bits_raw, 0) AS bits_raw,
      |    coalesce(bits_tgt, 0) AS bits_tgt,
      |    coalesce(bits_raw, 0) - coalesce(bits_tgt, 0) AS gain_bits
      |  FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q157_vocab_coverage" ->
      // same classes → running type count → greedy budget consumption;
      // budgets CAST to BIGINT so the dtype-sensitive hash gate agrees,
      // sums CAST HUGEINT → BIGINT, ppm via the same split-multiplier
      s"""WITH toks AS (
        |  SELECT t.tok FROM documents,
        |    unnest(string_split(text, ' ')) AS t(tok)
        |  WHERE t.tok <> ''),
        |vocab AS (SELECT tok, count(*) AS ct FROM toks GROUP BY 1),
        |classes AS (
        |  SELECT ct, CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(ct * count(*) AS BIGINT) AS mass
        |  FROM vocab GROUP BY 1),
        |cum AS (
        |  SELECT ct, n_types, mass,
        |    CAST(coalesce(sum(n_types) OVER (ORDER BY ct DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS types_before
        |  FROM classes),
        |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS total_tokens
        |        FROM classes),
        |b AS (SELECT CAST(x AS BIGINT) AS budget_k
        |      FROM (VALUES (${CoverageBudgets.mkString("), (")})) v(x)),
        |per AS (
        |  SELECT budget_k,
        |    CAST(sum(least(n_types, greatest(0, budget_k - types_before)))
        |      AS BIGINT) AS n_types_used,
        |    CAST(sum(ct * least(n_types, greatest(0, budget_k - types_before)))
        |      AS BIGINT) AS covered_tokens
        |  FROM cum CROSS JOIN b GROUP BY 1)
        |SELECT budget_k, n_types_used, covered_tokens, total_tokens,
        |  CAST((((covered_tokens * 1000) // total_tokens) * 1000)
        |    + ((((covered_tokens * 1000) % total_tokens) * 1000)
        |       // total_tokens) AS BIGINT) AS coverage_ppm
        |FROM per CROSS JOIN tot
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    "q129_token_budget" ->
      s"""SELECT doc_id, lang, n_tokens, meter_after,
        |  meter_after <= ${graft.streaming.TokenBudget.Quota} AS admitted
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(sum(len(string_split(text, ' '))) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS meter_after
        |  FROM documents)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
        |  5 NULLS FIRST""".stripMargin,
    "q118_collocations" ->
      s"""WITH $bigsCte,
        |c AS (SELECT t1, t2, count(*) AS cnt FROM bigs GROUP BY 1, 2),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |lm AS (SELECT t1 AS lt, CAST(sum(cnt) AS BIGINT) AS cl FROM c GROUP BY 1),
        |rm AS (SELECT t2 AS rt, CAST(sum(cnt) AS BIGINT) AS cr FROM c GROUP BY 1),
        |scored AS (
        |  SELECT t1, t2, cnt,
        |    ${liftMicSql("cnt", "total", "cl", "cr")} AS lift_mic
        |  FROM c JOIN lm ON t1 = lt JOIN rm ON t2 = rt CROSS JOIN tot
        |  WHERE cnt >= 5),
        |top AS (SELECT * FROM scored
        |        ORDER BY lift_mic DESC, cnt DESC, t1, t2 LIMIT 50)
        |SELECT t1, t2, cnt, lift_mic FROM top
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q119_freq_spectrum" ->
      s"""WITH ${CorpusOps.toksCte},
        |vocab AS (SELECT tok, count(*) AS ct FROM toks GROUP BY tok)
        |SELECT CAST(length(bin(ct)) - 1 AS BIGINT) AS log2_bucket,
        |  count(*) AS n_types, CAST(sum(ct) AS BIGINT) AS n_tokens
        |FROM vocab GROUP BY 1
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q120_bigram_lm" ->
      s"""WITH $bigsCte,
        |c AS (SELECT t1, t2, count(*) AS cnt FROM bigs GROUP BY 1, 2),
        |lm AS (SELECT t1 AS lt, CAST(sum(cnt) AS BIGINT) AS cl FROM c GROUP BY 1),
        |model AS (
        |  SELECT t1, t2, CAST(length(bin(cl // cnt)) - 1 AS BIGINT) AS bits
        |  FROM c JOIN lm ON t1 = lt),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_big, CAST(sum(bits) AS BIGINT) AS sum_bits
        |  FROM bigs JOIN model USING (t1, t2) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_big, 0) AS n_big,
        |  coalesce(sum_bits, 0) AS sum_bits,
        |  coalesce(sum_bits * 1000 // n_big, 0) AS avg_mbits
        |FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q121_distinctive_terms" ->
      s"""WITH st AS (
        |  SELECT source, t.tok, count(*) AS n_st
        |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        |  WHERE t.tok <> '' GROUP BY 1, 2),
        |tot AS (SELECT sum(n_st) AS total FROM st),
        |src AS (SELECT source AS s, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |tokc AS (SELECT tok AS tk, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |scored AS (
        |  SELECT source, tok, n_st,
        |    ${liftMicSql("n_st", "total", "n_s", "n_t")} AS lift_mic
        |  FROM st JOIN src ON source = s JOIN tokc ON tok = tk CROSS JOIN tot
        |  WHERE n_st >= 10),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY lift_mic DESC, n_st DESC, tok) AS INT) AS rk
        |  FROM scored)
        |SELECT source, tok, n_st, lift_mic, rk FROM ranked WHERE rk <= 10
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
        |  5 NULLS FIRST""".stripMargin,
    "q124_heavy_hitters" ->
      s"""WITH ${CorpusOps.toksCte},
        |vocab AS (
        |  SELECT tok, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM vocab),
        |scored AS (
        |  SELECT tok, cnt, doc_freq,
        |    CAST((CAST(cnt AS HUGEINT) * 1000000) // total AS BIGINT) AS share_ppm
        |  FROM vocab CROSS JOIN tot)
        |SELECT tok, cnt, doc_freq, share_ppm FROM scored WHERE share_ppm >= 500
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q125_dsir_weights" ->
      s"""WITH $dsirCte
        |SELECT doc_id, lang, n_tok, bits_raw, bits_tgt, gain_bits FROM dsir
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
        |  5 NULLS FIRST, 6 NULLS FIRST""".stripMargin,
    "q126_token_entropy" ->
      s"""WITH ${CorpusOps.toksCte},
        |tf AS (SELECT doc_id, tok, count(*) AS ct FROM toks GROUP BY 1, 2),
        |wn AS (SELECT doc_id, ct,
        |         CAST(sum(ct) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        |       FROM tf),
        |perdoc AS (
        |  SELECT doc_id, max(n) AS n_tok, count(*) AS n_types,
        |    CAST(sum(ct * (length(bin(n // ct)) - 1)) AS BIGINT) AS sbits
        |  FROM wn GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(n_tok, 0) AS n_tok,
        |  coalesce(n_types, 0) AS n_types,
        |  coalesce(sbits * 1000 // n_tok, 0) AS entropy_mbits
        |FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin)
}
