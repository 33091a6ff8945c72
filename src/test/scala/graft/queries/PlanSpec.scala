package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayExcept,
  ArrayIntersect, ArraySort, ArrayUnion, Concat, CreateArray, ExprId, Expression, Flatten,
  HigherOrderFunction, LambdaFunction, NamedLambdaVariable, RegExpExtractBase,
  RegExpReplace, ScalaUDF, Sequence, SortArray, StringRegexExpression, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden physical-plan assertions (SURVEY.md §4.2): the optimizations we
  * rely on for 100 TB must actually be in the plan, not assumed — column
  * pruning into the scan, predicate pushdown, broadcast joins for dims,
  * TakeOrderedAndProject for top-k, two-phase aggregation, and no
  * cartesian/nested-loop or lambda re-evaluation anywhere in the
  * declared surface. */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: parquet scan prunes to the projected columns") {
    val p = plan("q02_scan_parquet")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"), "unprojected column read from parquet")
    assert(!p.contains("l_shipdate"), "unprojected column read from parquet")
  }

  test("q05: filters are pushed into the parquet scan") {
    val p = plan("q05_filter_predicate")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("In(l_returnflag") || p.contains("GreaterThanOrEqual(l_quantity"), p)
  }

  test("q11: dimension join is a broadcast hash join") {
    assert(plan("q11_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q35: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q35_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q20: hash aggregation is two-phase (partial + final)") {
    val p = plan("q20_agg_hash")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("no cartesian or nested-loop join anywhere in the declared surface") {
    // q82 is the documented brute-force baseline: a BroadcastNestedLoop
    // against a 10-row broadcast query set IS the intended plan (the
    // corpus-scale path is q91's bucketed join). q73's nearest-centroid
    // fan-out against the k-row broadcast centroid table is the same
    // deliberate shape (k = 8; the scan side streams map-side), and q74
    // samples from q73's assignment so it inherits the same node.
    // q100 runs the same broadcast-codebook fan-out as q73 for its
    // coarse-quantizer stage (the candidate join itself is equi on cell)
    // q101 shares q100's coarse stage and scores its m·ks-row PQ
    // codebook the same broadcast-fan-out way
    // q108 runs q73's broadcast-centroid fan-out once per Lloyd round
    // q110 assigns clusters through the same broadcast-codebook fan-out
    // (its pairwise stage is equi on cluster id)
    // q118/q123/q124/q125 attach a ONE-row scalar aggregate (corpus
    // total / quantile boundaries / model totals) by broadcast: a
    // conditionless join against a 1-row side is size-preserving and
    // constant-work-per-probe-row — the DataFrame spelling of a scalar
    // subquery, not a blowup (the corpus-sized side never
    // re-partitions for it)
    // q132 attaches its 1-row n_min scalar onto the LANGS-sized count
    // table the same way — the nested-loop probe side is the aggregate,
    // never the corpus (the corpus join is equi on lang, broadcast)
    // q134/q136 attach their 1-row corpus-scalar aggregates (N,T / W)
    // by the same broadcast scalar pattern as q118/q124/q125
    // q143 attaches its 1-row (t_total, s_count) and (cum_capped,
    // n_capped) boundary scalars onto the S-ROW source frame the same
    // way — both nested-loop probe sides are aggregate-sized (q132's
    // class); the corpus-sized work is one two-phase source agg
    // q135's matrix assembly is an inequality join of two
    // SOURCE-COUNT-sized aggregates (~hundreds of rows at any corpus
    // scale) — the one place a BroadcastNestedLoopJoin is the right
    // plan; the corpus-sized work is all equi-keyed on the shingle
    // q154 cross-joins its TWO 1-ROW aggregate frames (split counts ×
    // leak counts) — the scalar-attach pattern (q132's class); the
    // corpus-sized work is the one broadcast label join + shrinking aggs
    // q157 cross-joins the VALUE-DOMAIN-bounded frequency-class table
    // (≤ √(2N) rows) against its broadcast budget-ladder literal and
    // 1-row total — q135's aggregate×aggregate class; the corpus-sized
    // work is one two-phase token count
    // q159 attaches its 1-ROW split-totals aggregate onto the
    // VOCABULARY-sized pivot (q132's scalar-attach class) before the
    // final shrinking 12-scalar agg — the corpus-sized work is the one
    // (tok)-keyed pivot exchange
    // q160 cross-joins the occupied-QI-CLASS table (≪ corpus — a
    // shrinking 3-column aggregate) against its broadcast 4-row
    // k-ladder literal — q157's budget-ladder class
    // q168's ground-truth arm IS q82's documented brute-force panel
    // (10-row broadcast query set) — the IVF arm under audit is the
    // bucketed equi join; an ANN recall audit without the exact arm
    // would have nothing to measure against
    // q169 crosses the PAIR-GRAPH-sized jacc frame with its broadcast
    // 7-row ladder; q170 crosses the <=101-row quality-bin table with
    // its 5-row ladder — both q157's aggregate x ladder class
    val exempt = Set("q154_split_cluster_aware", "q157_vocab_coverage",
      "q159_split_balance", "q160_anonymity_audit", "q168_ann_recall",
      "q169_dedup_sweep", "q170_quality_sweep",
      "q82_similarity_topk", "q73_cluster_assign",
      "q74_cluster_balanced_sample", "q100_knn_ivf", "q101_knn_pq",
      "q108_kmeans_refine", "q110_semantic_dedup", "q118_collocations",
      "q123_rfm_segments", "q124_heavy_hitters", "q125_dsir_weights",
      "q132_temperature_mix", "q134_bm25_retrieval", "q135_source_overlap",
      "q136_importance_resample", "q143_epoch_allocation")
    val offenders = (graft.SparkEntry.queries.keySet -- exempt).toSeq.sorted.filter { name =>
      val p = plan(name)
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    }
    assert(offenders.isEmpty, s"non-scalable joins in: $offenders")
  }

  test("lambda audit: flags an unbound sorted array, passes it bound") {
    val df = spark.range(1).select(array(lit("b"), col("id").cast("string")).as("a"))
    def fold(arr: Column) = aggregate(sequence(lit(1), size(arr)), lit(0L),
      (acc, i) => acc + length(element_at(arr, i)))
    val unbound = df.select(fold(array_sort(col("a"))))
    val bound = df.select(bind(array_sort(col("a")))(fold))
    assert(PlanSpec.lambdaReevaluations(unbound.queryExecution.optimizedPlan)
      .exists(_.isInstanceOf[ArraySort]))
    assert(PlanSpec.lambdaReevaluations(bound.queryExecution.optimizedPlan).isEmpty)
  }

  test("no lambda re-evaluates an expensive expression anywhere in the declared surface") {
    // lambda bodies evaluate interpreted, with no common-subexpression
    // elimination: a subtree that reads none of its lambda's variables
    // is re-computed on every call (q151's sorted bigram array was
    // re-sorted per fold step, O(n² log n) per doc). [[bind]] it, or
    // give it its own projection.
    val offenders = graft.SparkEntry.queries.keySet.toSeq.sorted.flatMap { name =>
      val optimized = graft.SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      PlanSpec.lambdaReevaluations(optimized).map(e => s"$name: ${e.sql.take(300)}").distinct
    }
    assert(offenders.isEmpty, s"lambda re-evaluation in:\n${offenders.mkString("\n")}")
  }

  test("q15: range join keys on user_id (hash/merge join, band as residual)") {
    val p = plan("q15_join_theta_range")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("subqueries decorrelate into joins (no per-row subquery execution)") {
    // IN → semi join; correlated EXISTS → semi join; correlated scalar →
    // aggregate + outer join. If decorrelation failed these plans would
    // carry an InSubquery/Exists predicate into execution.
    Seq("q43_subquery_in", "q44_subquery_exists", "q45_subquery_scalar")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("Join") || p.contains("BroadcastHashJoin") ||
          p.contains("SortMergeJoin"), s"$q: no join in plan\n$p")
      }
  }

  test("q47: NOT IN plans as a null-aware anti hash join, not a nested loop") {
    // NOT IN's three-valued logic needs null-awareness; the single-column
    // NAAJ rewrite keeps it a hash join — without it this is a
    // BroadcastNestedLoopJoin that melts at scale
    val p = plan("q47_subquery_not_in")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q88/q81: shared LSH intermediates are cache-served, not recomputed") {
    // the shingle/signature tables feed 3-4 consumers; without the
    // persist the explode subtree appears once PER consumer (measured
    // 6× at sf0.1) — InMemoryTableScan in the plan proves reuse.
    // q88's serving plan is now a PairTable parquet read, so the pin
    // targets the fresh pair BUILD directly (what GRAFT_LABEL_MEMO=0
    // and every first-touch materialization actually executes)
    assert(LlmOps.ngramPairJaccard(spark, sf)
      .queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "ngramPairJaccard: no cache reuse")
    Seq("q81_dedup_minhash", "q67_tfidf_terms").foreach { q =>
      assert(plan(q).contains("InMemoryTableScan"), s"$q: no cache reuse")
    }
  }

  test("q91/q92: SRP bucket joins are equi joins (bucket-local work only)") {
    Seq("q91_similarity_ivf", "q92_dedup_embedding").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$q: no equi join on bkt\n$p")
    }
  }

  test("q92: the bucket candidate join shuffles ids only, never vectors") {
    // the 100 TB defect class: a candidate join that carries the 64-dim
    // embedding arrays shuffles the corpus twice; candidates must be
    // (vec_id, bkt) pairs, vectors re-joined by id for the verify
    val df = graft.SparkEntry.queries("q92_dedup_embedding")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "bkt")) => j
    }
    assert(joins.nonEmpty, "no bucket equi-join found in q92's plan")
    joins.foreach { j =>
      val arrays = (j.left.output ++ j.right.output)
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"bucket join carries array columns through the shuffle: ${arrays.map(_.name)}")
    }
  }

  test("q63: the shingle transform is evaluated once per corpus row (n=3 and n=8)") {
    // two regression classes, both observed live:
    //  1. size(shingleExpr) + explode(shingleExpr) from the same `def`
    //     evaluates the transform TWICE per row (subexpression
    //     elimination does not cross the Generate boundary) — every
    //     Generate must read a materialized attribute;
    //  2. plain explode triggers InferFiltersFromGenerate, which pushes
    //     `size(sha) > 0` below the projection, re-expanding the alias
    //     and evaluating the transform AGAIN in a Filter.
    // Asserted structurally on the optimized logical plan (not rendered
    // strings) and at BOTH the oracle width (3) and a production width
    // (8), so the width knob cannot silently reintroduce the double-eval.
    // Legitimate transform appearances: once per union branch's
    // projection (each row passes through exactly one branch) + once on
    // the eval side.
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    for (n <- Seq(3, 8)) {
      val plan = LlmOps.q63With(n)(spark, sf).queryExecution.optimizedPlan
      val gens = plan.collect { case g: Generate => g }
      assert(gens.nonEmpty, s"n=$n: no Generate in q63's plan:\n$plan")
      gens.foreach { g =>
        assert(g.generator.children.forall(_.isInstanceOf[AttributeReference]),
          s"n=$n: a Generate re-expands the shingle transform instead of " +
            s"reading the materialized attribute: ${g.generator}")
      }
      assert(gens.exists(_.outer),
        s"n=$n: corpus-side Generate lost its OUTER flag (InferFiltersFromGenerate bait):\n$plan")
      val filterReeval = plan.collect { case f: Filter => f }
        .exists(_.condition.exists(_.isInstanceOf[ArrayTransform]))
      assert(!filterReeval,
        s"n=$n: an inferred filter re-evaluates the shingle transform:\n$plan")
      val nTransforms = plan.collect { case node =>
        node.expressions.map(_.collect { case t: ArrayTransform => t }.size).sum
      }.sum
      assert(nTransforms <= 3,
        s"n=$n: shingle transform appears $nTransforms times (want ≤3: 2 union branches + eval):\n$plan")
    }
  }

  test("q65: the incremental-dedup anti join carries fingerprints, never bodies") {
    // the q65 scale contract: both sides project to (id, hash, len) in
    // the scan, so the anti-join exchange moves ~20 B/row — a `text`
    // attribute reaching either join input means the corpus shuffles
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.SparkEntry.queries("q65_dedup_incremental")(spark, sf)
    val antis = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftAnti => j
    }
    assert(antis.nonEmpty, "no anti join in q65's plan")
    antis.foreach { j =>
      val bodies = (j.left.output ++ j.right.output).filter(_.name == "text")
      assert(bodies.isEmpty,
        s"anti-join input carries the document body: ${(j.left.output ++ j.right.output).map(_.name)}")
    }
  }

  test("q38: bucketed fact⋈fact join plans with no hash-partition shuffle") {
    // the declared-surface proof of the Buckets story: with broadcast off
    // (forcing the large×large SMJ path a 100 TB join would take), the
    // join must read co-located buckets directly — the only Exchange
    // allowed in the whole plan is orderAll's range partitioning for
    // deterministic output, never a hashpartitioning on the join key
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("q38_join_bucketed")(spark, sf)
      df.collect() // finalize the AQE plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles on the join key:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a planted-skew SMJ hot partition (when salting is unnecessary)") {
    // q19 documents DETERMINISTIC salting; this pins the free runtime
    // alternative: AQE detects the oversized shuffle partition and splits
    // it across tasks. Thresholds are lowered so the planted hot key
    // (95% of rows on k=0) trips detection at test scale.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val probe = spark.range(0, 200000).select(
        when(col("id") < 190000, lit(0L))
          .otherwise(pmod(col("id"), lit(97)) + 1).as("k"),
        col("id").as("v"))
      val build = spark.range(0, 98).toDF("k")
        .select(col("k"), (col("k") * 10).as("w"))
      val joined = probe.join(build, "k")
      val n = joined.collect().length // finalize the adaptive plan
      assert(n == 200000, s"skew-split join lost/duplicated rows: $n")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true") || p.contains("skewed"),
        s"AQE did not mark the hot partition as skewed:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q95/q96: curation ops that don't need document bodies never scan them") {
    // documents.text dominates the table's bytes; sampling and quota
    // ranking work on metadata columns only — at 100 TB, reading text
    // here would multiply the scan cost ~10×
    Seq("q95_sample_hash", "q96_quota_per_lang").foreach { q =>
      val p = plan(q)
      val scans = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
      assert(scans.nonEmpty, p)
      assert(!scans.contains("text:string"),
        s"$q reads the text column it never uses:\n$scans")
    }
  }

  test("q76: no curation window (and so no Exchange) ever carries a document body") {
    // the composed DAG's scale contract: every body-derived column
    // (quality, token count, dedup fingerprint) is computed in the scan
    // projection and `text` dropped BEFORE the first window — a dedup
    // Exchange that hash-partitions on the fingerprint but carries the
    // body still shuffles the corpus at 100 TB
    val df = graft.SparkEntry.queries("q76_curation_pipeline")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.size >= 3, s"expected dedup+quota+pack windows, got ${wins.size}")
    wins.foreach { w =>
      assert(!w.child.output.exists(_.name == "text"),
        s"curation window input carries the document body: ${w.child.output.map(_.name)}")
    }
  }

  test("q66: the stateful batch mirror costs one user_id shuffle (secondary sort)") {
    // the scale contract of the shared-transition-function mirror: a
    // single hash exchange on user_id feeds the sorted per-partition
    // fold — a plan that groups (collects per-user buffers) or shuffles
    // twice would not model the streaming state store's layout
    val p = plan("q66_stateful_counters")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id hash exchange:\n$p")
    assert(p.contains("MapPartitions"), s"secondary-sort fold missing:\n$p")
  }

  test("q67: the per-doc top-terms filter plans a map-side WindowGroupLimit") {
    // same rewrite as q96: rank<=k over the window becomes
    // WindowGroupLimit Partial before the exchange, so map tasks forward
    // at most 5 rows per doc instead of the whole scored vocabulary
    val p = plan("q67_tfidf_terms")
    // the Partial must be on the WindowGroupLimit line itself — a plan
    // that only has a Final group limit plus 'Partial' elsewhere (e.g. a
    // partial aggregate) still shuffles the whole scored vocabulary
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"no map-side partial group limit:\n$p")
  }

  test("q96: the rank filter plans a map-side WindowGroupLimit (bounded shuffle)") {
    // Catalyst rewrites rank<=k over a window into WindowGroupLimit
    // Partial (before the exchange) + Final — each map task forwards at
    // most k rows per group instead of the whole corpus. This rewrite IS
    // q96's 100 TB story; pin it so it can't silently disappear.
    val p = plan("q96_quota_per_lang")
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"no map-side partial group limit:\n$p")
  }

  test("q144: a merge round is two-phase pair counting + map-side group limit, never a corpus-wide window") {
    // the per-round shape the 100 TB story rests on: pair extraction is
    // row-local (Generate inside the scan stage, no self-join), the
    // count is a partial+final hash aggregate, and the rank cut is a
    // WindowGroupLimit Partial — the pair table is never globally
    // sorted and document token arrays never cross an exchange
    import org.apache.spark.sql.functions.{coalesce, col, lit, split, filter => afilter}
    val toks = t(spark, sf, "documents").select(col("doc_id"),
      afilter(split(coalesce(col("text"), lit("")), " "),
        (x: org.apache.spark.sql.Column) => x =!= "").as("toks"))
    val p = CorpusOps.bpeRoundCandidates(toks, 10, 1)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pair count is not two-phase:\n$p")
    // the unpartitioned rank-filter must collapse to a bounded cut:
    // Catalyst plans it as TakeOrderedAndProject (per-partition heaps,
    // the rank window then sees <= topK rows) — WindowGroupLimit
    // Partial is the acceptable per-group equivalent; a bare global
    // Sort+Window over the full pair table is the regression this pins
    assert(p.contains("TakeOrderedAndProject") ||
      p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"pair table is globally sorted before the cut:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"unexpected join in a map-only round:\n$p")
  }

  test("q174: the delta scan pushes its ts cutoff into parquet and the merge is join-free") {
    // the incremental-refresh contract at 100 TB: the only raw-events
    // read in the refresh is the DELTA partition, entered through a
    // pushed ts >= cutoff predicate (row-group pruning — the base rides
    // the materialized partial artifact), and the merge path is pure
    // re-aggregation: partials union and re-agg, no join anywhere.
    // Drain scoped caches first: a prior suite's scopedPersist of the
    // events frame (q122's) otherwise serves this plan's scan from an
    // InMemoryRelation, where the pushed-parquet-filter line the pin
    // asserts cannot appear (the filter IS still pushed — into the
    // InMemoryTableScan — but the evidence string is scan-specific)
    graft.core.CacheScope.drain()
    val p = plan("q174_agg_delta_merge")
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"delta cutoff not pushed into the events scan:\n$p")
    Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the merge plan:\n$p"))
  }

  test("q149: the encode pass is map-only — no exchange but the dump sort, no join") {
    // the 100 TB contract of the APPLY side: once the merge list is in
    // hand (the loop's pair counts run in their own earlier actions),
    // encoding is one pass over the token stream — the final plan is
    // the last row-local rewrite + the short-doc union + the stats
    // projection + orderAll's range sort. A hash exchange or a join
    // here means the rewrite started moving document bodies.
    val p = plan("q149_bpe_encode")
    assert(!p.contains("Exchange hashpartitioning"),
      s"encode pass shuffled on a key:\n$p")
    Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the encode plan:\n$p"))
  }

  test("q150: one scan, one shrinking exchange — language scoring and encode share a projection") {
    // the report's 100 TB contract: lang-ID and the artifact-fold
    // encode are BOTH row-local over the same documents scan (no join
    // stitching them), and the only hash exchange is the per-language
    // aggregate — which partial aggregation shrinks to <= 5 rows per
    // partition before anything moves. A join, or a second hash
    // exchange, means the two projections stopped riding one scan.
    val p = plan("q150_encode_by_lang")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"expected one shrinking agg exchange, got $hashEx:\n$p")
    Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the report plan:\n$p"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-language rollup is not partial-aggregated:\n$p")
  }

  test("q151: repetition profile is MAP-ONLY — every signal row-local, dump sort the only exchange") {
    // all four signals (dup fraction, max run, modal-bigram count via
    // sort-the-bigram-array) are computed inside the scan projection
    // (r16 — the pre-r16 spelling shuffled a (doc, bigram) partial
    // count and a doc rollup). A join, a HashAggregate, or any hash
    // exchange means a signal stopped being row-local and the corpus
    // is being re-partitioned again.
    val p = plan("q151_repetition_profile")
    Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the profile plan:\n$p"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"repetition profile re-partitions the corpus:\n$p")
    assert(!p.contains("HashAggregate"),
      s"repetition profile shuffles an aggregate:\n$p")
    assert(!p.contains("Generate"),
      s"repetition profile explodes bigram slots:\n$p")
  }

  test("q152: both filter scores ride one scan — no join, one <=4-group exchange") {
    // the calibration matrix's scale contract: heuristic quality and
    // classifier score are row-local folds in the SAME projection, and
    // the only exchange is the 4-cell rollup (partial aggregation
    // collapses each partition to <=4 rows first). A join means the two
    // scores stopped sharing a scan; a second hash exchange means the
    // rollup stopped shrinking.
    val p = plan("q152_filter_agreement")
    Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the agreement plan:\n$p"))
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"expected one shrinking exchange, got $hashEx:\n$p")
    assert("FileScan|BatchScan".r.findAllIn(p).size <= 1,
      s"the two scores should share one documents scan:\n$p")
  }

  test("q153: unpivot plans as a map-side Expand — only the pivot's own exchanges remain") {
    // the wide->long transform must not shuffle: Expand multiplies the
    // (tiny, post-aggregate) wide rows locally. The two hash exchanges
    // in the plan are the PIVOT's own two-stage shape — partial sum on
    // (status, flag), then pivotfirst on status — both shrinking;
    // q27 plans identically. A third would be the unpivot shuffling.
    val p = plan("q153_unpivot")
    assert(p.contains("Expand"), s"unpivot did not plan as Expand:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"unpivot added an exchange beyond the pivot's ($hashEx):\n$p")
    // the Expand sits ABOVE every hash exchange: nothing re-partitions
    // the long rows after they multiply
    val lines = p.linesIterator.toVector
    val expandAt = lines.indexWhere(_.contains("Expand"))
    assert(lines.take(expandAt).forall(!_.contains("Exchange hashpartitioning")),
      s"a hash exchange sits above the Expand — the long rows moved:\n$p")
    Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the unpivot plan:\n$p"))
  }

  test("q154: broadcast label attach, cache-served assignment, shrinking rollups only") {
    // the split audit's 100 TB contract: the corpus-id stream joins the
    // (small, materialized) label table by BROADCAST, the assignment
    // frame is computed once and cache-served to both rollups, and
    // every aggregate shrinks — the only hash exchanges are the
    // per-cluster leak rollup's. A SortMergeJoin here means the corpus
    // re-sorted for a label-table-sized side; a missing
    // InMemoryTableScan means the corpus is scanned once per rollup.
    val p = plan("q154_split_cluster_aware")
    assert(p.contains("BroadcastHashJoin"),
      s"label attach did not broadcast:\n${p.take(3000)}")
    assert(p.contains("InMemoryTableScan"),
      s"assignment frame recomputed per rollup:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-sized shuffle join crept in:\n${p.take(3000)}")
    // the cached 1-row product prints once per union arm, so count
    // exchange FAMILIES (normalized keys), not raw lines: the leak
    // rollup's two-stage countDistinct is the only hash-keyed shuffle
    val keys = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .map(l => l.substring(l.indexOf("Exchange"))
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "")
        .replaceAll(", \\d+\\)", ")"))
      .toSeq.distinct
    assert(keys.size <= 2,
      s"exchange families exceeded (${keys.size}):\n${keys.mkString("\n")}")
  }

  test("q155: doc_id-keyed equi joins only; the source rollup is two-phase and shrinking") {
    // the attribution's 100 TB contract: verdicts attach to the
    // source-carrying id frame by an equi join on doc_id (label-table-
    // sized side — AQE broadcasts it in practice; pre-AQE SMJ is
    // acceptable, a nested loop is not), the universe is cache-served
    // to the verdict input and the attribution join, and the per-source
    // rollup partial-aggregates before its exchange.
    val p = plan("q155_dup_by_source")
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the attribution plan:\n${p.take(3000)}"))
    assert(p.contains("InMemoryTableScan"),
      s"universe recomputed per consumer:\n${p.take(3000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"source rollup is not partial-aggregated:\n${p.take(3000)}")
    // exchange keys: doc_id (join sides), cluster_id (verdict window),
    // source (rollup) — anything beyond re-partitions the corpus twice
    val keys = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .map(l => l.substring(l.indexOf("Exchange"))
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "")
        .replaceAll(", \\d+\\)", ")"))
      .toSeq.distinct
    assert(keys.size <= 3,
      s"exchange families exceeded (${keys.size}):\n${keys.mkString("\n")}")
  }

  test("q156: the round-trip audit is map-only — no exchange but the dump sort, no join") {
    // q149's contract extended through decode: once the merge list is
    // in hand, encode + decode + the comparison are ONE row-local
    // projection; a hash exchange or a join means document bodies moved
    val p = plan("q156_bpe_roundtrip")
    assert(!p.contains("Exchange hashpartitioning"),
      s"round-trip pass shuffled on a key:\n${p.take(3000)}")
    Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the round-trip plan:\n${p.take(3000)}"))
  }

  test("q157: the vocab is never globally sorted — the only unpartitioned window rides the class table") {
    // the coverage curve's 100 TB contract: one token-keyed two-phase
    // count, a SHRINKING ct-keyed class rollup, and the single-partition
    // running count only over the value-domain-bounded class table
    // (≤ √(2N) rows) — never over the vocab. A Sort above the token or
    // vocab frames, or a fourth hash family, means the curve started
    // ranking types globally.
    val p = plan("q157_vocab_coverage")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"token/class counts are not two-phase:\n${p.take(3000)}")
    val keys = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .map(l => l.substring(l.indexOf("Exchange"))
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "")
        .replaceAll(", \\d+\\)", ")"))
      .toSeq.distinct
    assert(keys.size <= 3,
      s"exchange families exceeded (${keys.size}):\n${keys.mkString("\n")}")
    Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the coverage plan:\n${p.take(3000)}"))
  }

  test("q158: the shipped assignment is one broadcast join + row-local buckets — no agg, no corpus shuffle") {
    // the router's 100 TB contract (s98 runs the identical projection
    // at ingest): the label table broadcasts onto the id stream, the
    // split is codegen'd Knuth arithmetic, and the only exchange is
    // the dump sort — an aggregate or a hash exchange here means the
    // assignment stopped being a pure enrichment
    val p = plan("q158_split_assign")
    assert(p.contains("BroadcastHashJoin"),
      s"label attach did not broadcast:\n${p.take(3000)}")
    assert(!p.contains("HashAggregate"),
      s"assignment grew an aggregate:\n${p.take(3000)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"assignment shuffled on a key:\n${p.take(3000)}")
    Seq("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin").foreach(j =>
      assert(!p.contains(j), s"unexpected $j in the assignment plan:\n${p.take(3000)}"))
  }

  test("q145: the composed rewrite's final plan stays inside its shuffle budget") {
    // the composition's 100 TB contract: the whole DAG shuffles on
    // exactly TWO key families — doc_id (verdict attach + audit
    // assembly) and label (the q68 core's own CC exchanges) — plus the
    // dump's range sort. Lines are normalized (expr ids and plan_ids
    // stripped; persisted lineages re-print under every
    // InMemoryTableScan) so the pin counts key families, not plan
    // copies; a third family means some stage started re-partitioning
    // the corpus on a new key.
    val p = plan("q145_corpus_rewrite")
    val keys = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .map(l => l.substring(l.indexOf("Exchange"))
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "")
        .replaceAll(", \\d+\\)", ")"))
      .toSeq.distinct
    assert(keys.size <= 2,
      s"shuffle key families exceeded (${keys.size}):\n${keys.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), "cartesian in the rewrite DAG")
  }

  test("q69: shingle-keyed candidate joins move ids, never document bodies") {
    // substring dedup's scale contract: the inverted-index probe and the
    // df-cap join shuffle (id, 8-byte shingle hash) rows; bodies enter
    // the plan only through the id-keyed verify joins on candidate rows
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = graft.SparkEntry.queries("q69_dedup_substring")(spark, sf)
      .queryExecution.optimizedPlan
    val shJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "sh")) => j
    }
    assert(shJoins.nonEmpty, s"no shingle-keyed join in q69's plan:\n$lp")
    shJoins.foreach { j =>
      val carried = (j.left.output ++ j.right.output).map(_.name)
        .filter(_.contains("text"))
      assert(carried.isEmpty,
        s"a shingle-keyed join carries document bodies ($carried):\n$lp")
    }
  }

  test("q48: vocab cut is a per-partition top-V heap; the OOV join is broadcast") {
    // the top-V cut must plan as TakeOrderedAndProject over the map-side
    // combined counts (a global sort of the vocabulary dies at web-scale
    // token diversity), and the corpus-sized token stream must join the
    // V-row vocab broadcast, never shuffled on the token key twice
    val p = plan("q48_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q70: the vocabulary join is broadcast and per-doc scoring aggregates partially") {
    // the token stream joins its frequency table broadcast (no shuffle of
    // the exploded corpus against the vocab) and both groupBys are
    // two-phase — map-side combine before any exchange
    val p = plan("q70_rarity_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q71: one corpus shuffle; band bounds join back broadcast") {
    // the per-lang window is the only hash exchange (the bounds groupBy
    // reuses the window's lang partitioning) and the final filter joins
    // the #languages-row bounds table broadcast
    val p = plan("q71_length_band_filter")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(p).size == 1,
      s"expected exactly one lang hash exchange:\n$p")
  }

  test("q72: sharding is one hash exchange and no global sort") {
    // shard_pos is a PER-SHARD window: a plan that funnels the corpus
    // through a single partition (global row_number) dies at scale
    val p = plan("q72_shuffle_shard")
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(p).size == 1,
      s"expected exactly one shard hash exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global single-partition exchange in the sharding plan:\n$p")
  }

  test("q129: the budget meter is one lang exchange and no global sort") {
    // the admission meter is a per-lang ordered window (prefix sum):
    // the corpus must cross the wire ONCE keyed on lang, and nothing —
    // not the window, not the verdict arithmetic — may funnel it
    // through a single partition (the result sort is the orderAll
    // contract, rangepartitioned, not SinglePartition)
    val p = plan("q129_token_budget")
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(p).size == 1,
      s"expected exactly one lang hash exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global single-partition exchange in the meter plan:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window operator in the meter plan:\n$p")
  }

  test("q130: chunking is map-only — one Generate, no join, no exchange but the result sort") {
    // the 100 TB claim in the scaladoc, pinned: chunk rows are produced
    // by a single row-local posexplode inside codegen, and the ONLY
    // exchange in the whole plan is orderAll's range partitioning —
    // the corpus itself never shuffles
    val p = plan("q130_chunk_windows")
    assert("Generate posexplode".r.findAllIn(p).size == 1,
      s"expected exactly one posexplode Generate:\n$p")
    assert(!p.contains("Join"), s"join in a map-only plan:\n$p")
    assert("Exchange ".r.findAllIn(p).size == 1 &&
      p.contains("Exchange rangepartitioning"),
      s"expected the result sort's range exchange to be the only one:\n$p")
  }

  test("q131: the canonical pick is a per-cluster window, never a global funnel") {
    // partitions are bounded by duplicate multiplicity only if the
    // window really partitions on cluster_id; a bare row_number would
    // silently serialize the whole label table. Note the plan needs NO
    // dedicated cluster_id exchange: cluster_id aliases q68's label,
    // and alias-propagated outputPartitioning lets the window reuse the
    // upstream label exchange — the PLANS.md dump shows the window over
    // a local sort only. The pin is therefore on the windowspec's
    // partition key and the absence of a single-partition funnel.
    val p = plan("q131_dedup_canonical")
    assert("windowspecdefinition\\(cluster_id".r.findAllIn(p).nonEmpty,
      s"canonical window does not partition on cluster_id:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition funnel in the canonical plan:\n$p")
    assert(p.contains("row_number"), s"no rank window in the plan:\n$p")
  }

  test("q146: the audit rollup shrinks every exchange and never funnels") {
    // the 100 TB contract: after the doc_id verdict join, everything
    // aggregates two-phase over frames that only get smaller (cluster
    // window → multiplicity rollup). The pin: the verdict window still
    // partitions per-cluster (q131's bound), no single-partition
    // funnel, no cartesian, and the final histogram aggregates in
    // partial/final halves (map-side combine on the shrinking key)
    val p = plan("q146_dedup_audit")
    assert("windowspecdefinition\\(cluster_id".r.findAllIn(p).nonEmpty,
      s"verdict window does not partition on cluster_id:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition funnel in the audit plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the audit plan:\n$p")
    assert("partial_count".r.findAllIn(p).nonEmpty ||
      p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"histogram does not aggregate two-phase:\n$p")
  }

  test("q132: the mix decision reads only (doc_id, lang) and attaches rates by broadcast") {
    // the corpus-side contract: bodies are never read (column pruning
    // reaches the scan — `text` appears nowhere in the plan) and the
    // rate table comes back as a broadcast join, so the corpus row
    // path has no hash shuffle of its own
    val p = plan("q132_temperature_mix")
    assert(!p.contains("text"), s"document bodies read by the mix plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rate table not attached by broadcast:\n$p")
  }

  test("q134: the panel is a distributed top-k, tf is cache-served, and the top-10 is map-side limited") {
    // the three 100 TB claims in the scaladoc, pinned: (a) the query
    // panel comes out of the vocab via TakeOrderedAndProject — a
    // distributed top-18, never a global vocab sort; (b) the tf table
    // feeds both the df aggregation and the scoring join from cache;
    // (c) the per-query top-10 plans a map-side WindowGroupLimit so
    // each map task forwards <= 10 rows per query
    val p = plan("q134_bm25_retrieval")
    assert(p.contains("TakeOrderedAndProject"),
      s"panel selection is not a distributed top-k:\n$p")
    assert(p.contains("InMemoryTableScan"), s"tf recomputed per consumer:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"no map-side partial group limit:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query panel not attached by broadcast:\n$p")
  }

  test("q135: per-shingle source sets are bounded aggregates, never a shingle self-join") {
    // the scaladoc's no-self-join claim, pinned: the pair generator is
    // collect_set(source) per shingle (bounded by source count), so the
    // plan carries an object hash aggregate with collect_set and NO
    // sort-merge join — every join in the plan is broadcast-sized
    // (matrix assembly + the pair attach), and the shingle table is
    // cache-served into both its consumers
    val p = plan("q135_source_overlap")
    assert(p.contains("collect_set"), s"no bounded source-set aggregate:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"shingle table recomputed per consumer:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-scale join in a source-count-sized assembly:\n$p")
  }

  test("q136: the prefix sum windows on shard and only the S-row totals ever funnel") {
    // the two-phase claim, pinned: the corpus-sized window partitions
    // on shard — corpus rows hash-exchange on the shard key and the
    // prefix window runs per-shard (never a global single-partition
    // window over the corpus, the round-9 q124 defect class) — and
    // shard offsets come back by broadcast. SinglePartition exchanges
    // DO exist in the plan, all on aggregate-sized frames (q125's
    // model scalars, the S-row totals cumulation, the W scalar); the
    // corpus window's own feed is the shard hash exchange.
    val p = plan("q136_importance_resample")
    assert("windowspecdefinition\\(shard".r.findAllIn(p).nonEmpty &&
      p.contains("Exchange hashpartitioning(shard"),
      s"corpus prefix sum does not hash-partition on shard:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"shard offsets not attached by broadcast:\n$p")
  }

  test("q139/q141: the schedule folds are map-only — no Generate, no join, the result sort is the only exchange") {
    // the scaladocs' q130-class claim, pinned for both schedules: each
    // is a row-local sequence/filter/aggregate (q141: + nested
    // transform/flatten union) fold in the scan's own codegen stage;
    // any Generate or extra exchange means the fold stopped being
    // row-local
    Seq("q139_mlm_mask", "q141_span_corruption").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Generate"), s"$q: explode in a map-only plan:\n$p")
      assert(!p.contains("Join"), s"$q: join in a map-only plan:\n$p")
      assert("Exchange ".r.findAllIn(p).size == 1 &&
        p.contains("Exchange rangepartitioning"),
        s"$q: expected the result sort's range exchange to be the only one:\n$p")
    }
  }

  test("q140: tercile windows run over the histogram and the phase map attaches by broadcast") {
    // exact per-lang terciles without per-doc windows: the cumulative
    // and total windows must partition on lang ABOVE the (lang, dl)
    // count aggregate (bounded rows), the (lang, dl)->phase map must
    // come back as a broadcast join, and no corpus-sized key (doc_id)
    // may ever hash-shuffle
    val p = plan("q140_curriculum_order")
    assert("windowspecdefinition\\(lang".r.findAllIn(p).size >= 2,
      s"tercile windows do not partition on lang:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"phase map not attached by broadcast:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition funnel in the curriculum plan:\n$p")
    assert(!"Exchange hashpartitioning\\(doc_id".r.findAllIn(p).hasNext,
      s"corpus-keyed hash exchange in the curriculum plan:\n$p")
  }

  test("q143: the corpus collapses two-phase to the S-row frame before any funnel") {
    // the waterfilling walk legitimately single-partitions — but only
    // the S-row source frame (q136's argument for its offsets
    // cumulation). The pin: the per-source mass aggregate is two-phase
    // (partial_sum below its exchange), the boundary scalars come back
    // by broadcast, and no single-partition exchange feeds from
    // anything but aggregate/broadcast-shaped input (the plan has no
    // corpus-keyed exchange at all — `doc_id` never appears in an
    // Exchange)
    val p = plan("q143_epoch_allocation")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-source masses not aggregated two-phase:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"boundary scalars not attached by broadcast:\n$p")
    assert(!"Exchange hashpartitioning\\(doc_id".r.findAllIn(p).hasNext,
      s"corpus-keyed exchange in the allocation plan:\n$p")
  }

  test("q142: one token exchange, cache-served totals, broadcast rate join — no funnel") {
    // the (source, term) aggregate is the only corpus-sized exchange;
    // totals re-aggregate from the CACHED vocab-shaped counts (not a
    // second corpus scan) and come back by broadcast; nothing may
    // single-partition
    val p = plan("q142_source_drift")
    assert(p.contains("InMemoryTableScan"),
      s"counts not cache-served to both consumers:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"totals not attached by broadcast:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition funnel in the drift plan:\n$p")
  }

  test("q74/q75/q137: per-group top-k plans as a map-side WindowGroupLimit") {
    // same rewrite as q96/q67: each map task forwards at most k rows per
    // cluster (q74) / query vector (q75) / source (q137) before the
    // exchange
    Seq("q74_cluster_balanced_sample", "q75_knn_join",
        "q137_minwise_panel").foreach { q =>
      val p = plan(q)
      assert(p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
        s"$q has no map-side partial group limit:\n$p")
    }
  }

  test("q75: the knn bucket join shuffles ids only, never vectors") {
    // q92's contract, inherited: candidates are (vec_id, bkt) pairs,
    // vectors re-join by id for scoring
    val df = graft.SparkEntry.queries("q75_knn_join")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "bkt")) => j
    }
    assert(joins.nonEmpty, "no bucket equi-join found in q75's plan")
    joins.foreach { j =>
      val arrays = (j.left.output ++ j.right.output)
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"knn bucket join carries array columns through the shuffle: ${arrays.map(_.name)}")
    }
  }

  test("q101: the ADC scoring join shuffles codes and ids only, never vectors") {
    // PQ's entire point is that the scan side is compressed codes: the
    // shuffled joins (members⋈codes on nid, then the grouped ADC sum)
    // must carry int codes, with full vectors re-joined by id only for
    // the 10-row exact-re-rank shortlist
    val df = graft.SparkEntry.queries("q101_knn_pq")(spark, sf)
    // key on "code": the re-rank joins also reference nid but fetch
    // vectors by id deliberately — only the code-keyed lookups are pinned
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "code")) => j
    }
    assert(joins.nonEmpty, "no code-keyed ADC lookup join found in q101's plan")
    joins.foreach { j =>
      val arrays = (j.left.output ++ j.right.output)
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"ADC join carries array columns through the shuffle: ${arrays.map(_.name)}")
    }
  }

  test("q78: top-50 bigram cut is TakeOrderedAndProject over a two-phase count") {
    // per-partition heaps, never a global sort of the bigram vocabulary;
    // the Zipf head is eaten by the map-side partial aggregate
    val p = plan("q78_bpe_bigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q73: centroid fan-out is map-side; the one shuffle carries the argmax struct") {
    // the k-row centroid table is broadcast (the BNLJ is the documented
    // intended shape, exempted above) and the arg-max is a two-phase
    // aggregate — the vec_id exchange moves one pre-reduced struct per
    // vector, not the k-fanned score rows
    val p = plan("q73_cluster_assign")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert("Exchange hashpartitioning\\(vec_id".r.findAllIn(p).size == 1,
      s"expected exactly one vec_id hash exchange:\n$p")
    assert(p.contains("partial_max") ||
      "(?:Sort|ObjectHash|Hash)Aggregate".r.findAllIn(p).size >= 2,
      s"arg-max is not partially aggregated:\n$p")
  }

  test("runtime bloom filter from a selective dim reaches the fact scan") {
    // large×large join where one side carries a selective filter: Spark
    // builds a bloom filter from the filtered side and probes it in the
    // OTHER side's scan filter (might_contain) — rows that cannot join
    // die before the shuffle. At 100 TB this is the difference between
    // shuffling the fact table and shuffling the ~matching slice. The
    // scan-size threshold is lowered because the benefit gate is sized
    // for real tables, not sf0.001.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 500000)
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").count()
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter probe in the fact scan:\n${p.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q103: the decontamination gate is a pure projection — no join, no Generate, one dump-sort exchange") {
    val p = plan("q103_decon_gate")
    assert(!p.contains("Join"), s"gate grew a join:\n${p.take(2000)}")
    assert(!p.contains("Generate"), s"gate explodes shingles:\n${p.take(2000)}")
    assert(!p.contains("HashAggregate"), s"gate aggregates:\n${p.take(2000)}")
    // the only Exchange is the oracle dump's total ORDER BY; the gate
    // itself (s82's stream form) adds none
    assert("Exchange".r.findAllIn(p).size == 1,
      s"gate shuffles beyond the dump sort:\n${p.take(2000)}")
    assert(p.contains("set_hit_count"),
      "membership probe lost the native kernel (array_intersect rebuilds per row)")
  }

  test("q147: the classifier gate is one scan + folded weight literal — no join, no explode, no shuffle beyond the dump sort") {
    val p = plan("q147_quality_classifier")
    assert(!p.contains("Join"), s"classifier grew a join:\n${p.take(2000)}")
    assert(!p.contains("Generate"), s"classifier explodes tokens:\n${p.take(2000)}")
    assert(!p.contains("HashAggregate"), s"classifier shuffles an aggregate:\n${p.take(2000)}")
    // the only Exchange is the oracle dump's total ORDER BY: scoring is
    // row-local, the weight table rides the expression as a literal
    assert("Exchange".r.findAllIn(p).size == 1,
      s"classifier shuffles beyond the dump sort:\n${p.take(2000)}")
  }

  test("q104: the near-dup candidate and verdict joins broadcast the batch side") {
    val p = plan("q104_dedup_near_incremental")
    // band-candidate join + batch-shingle verify join + final verdict
    // join all build on broadcast (batch << corpus at any real scale);
    // only the corpus-side id join and aggs may shuffle
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"batch side not broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q105: the shingle stream is cache-served to both aggs; the common head joins broadcast") {
    val df = graft.SparkEntry.queries("q105_boilerplate_coverage")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"shingle stream recomputed per consumer:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"common-head join did not broadcast:\n${p.take(3000)}")
    graft.core.CacheScope.drain()
  }

  test("q113: one event_type exchange, one window pass, no join") {
    // the anomaly verdict is a scan-shaped per-row projection: a single
    // hash exchange on event_type feeds ONE WindowExec holding a 20-row
    // ring per partition — a plan that joins events back to per-type
    // stats, or windows twice, re-shuffles the 100 TB event stream
    val p = plan("q113_anomaly_zscore")
    assert("Exchange hashpartitioning\\(event_type".r.findAllIn(p).size == 1,
      s"expected exactly one event_type hash exchange:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"expected exactly one window pass:\n$p")
    assert(!p.contains("Join"), s"q113 must not join:\n$p")
  }

  test("q114: event volume crosses the wire once; the normalizer runs post-agg") {
    // one user_id exchange feeds lead(); transitions then collapse under
    // a two-phase count to |types|^2 rows, and the per-source normalizing
    // window must consume that tiny aggregate — a plan that windows the
    // raw pair stream shuffles the corpus twice
    val p = plan("q114_markov_transitions")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id hash exchange:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"transition count is not two-phase:\n$p")
    assert(!p.contains("Join"), s"q114 must not join:\n$p")
  }

  test("q111: per-round state broadcasts to the cached edge list (no edge re-sort)") {
    // below the node cap each round's edges⋈state join must be a
    // BroadcastHashJoin whose streamed side reads the edge
    // InMemoryRelation — an SMJ here means the 1M-row edge list
    // shuffle-sorts once per round for a join against a node-sized
    // table
    val p = plan("q111_pagerank")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"per-round state join is not a broadcast join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"edge list not cache-served to the rounds:\n$p")
    // the per-round edges⋈state joins are INNER; the only tolerated
    // sort-merge is the node-sized deg⋈sums LeftOuter (AQE converts it
    // at runtime, but the pre-execution plan may still spell it SMJ)
    assert(!"SortMergeJoin \\[[^\\]]*\\], \\[[^\\]]*\\], Inner".r.findAllIn(p).hasNext,
      s"an inner SMJ re-sorts the edge list every round:\n$p")
    graft.core.CacheScope.drain()
  }

  test("q115: cached arcs feed the adjacency build + edge stream; closing is an array kernel") {
    // compact-forward's scale story: the oriented arc list is persisted
    // and read by the adjacency aggregation AND the edge stream, the
    // adjacency table is persisted and broadcast to both endpoint
    // attaches (below the arc cap), and triangles close inside an
    // array_intersect kernel — the O(Σ out²) wedge space must never
    // appear as a join's output (the pre-round-10 LeftSemi spelling
    // streamed ~49 M wedge rows through join machinery at sf0.1).
    // The NARROW arc stream through two probes is deliberate: an
    // explode-derived edge stream (single dst attach) measured slower
    // — it materializes neighbor arrays per arc row (GraphOps.scala
    // inline note) — so the pin keeps BOTH attaches present.
    val p = plan("q115_triangle_count")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4,
      s"arcs/adjacency not cache-served to their consumers:\n$p")
    assert(p.contains("sorted_intersect"),
      s"closing must be the native sorted-merge intersection kernel:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"adjacency attaches must broadcast below the arc cap:\n$p")
    graft.core.CacheScope.drain()
  }

  test("q116: block joins carry ids and 40-char prefixes, never bodies") {
    // blocked fuzzy dedup's contract: the (lang, band) self-join moves
    // (doc_id, pfx) rows; the full text column must be pruned before any
    // exchange — carrying bodies through a self-join is the 100 TB
    // failure mode the prefix verify exists to avoid
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = graft.SparkEntry.queries("q116_dedup_fuzzy")(spark, sf)
      .queryExecution.optimizedPlan
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty, s"no join in q116's plan:\n$lp")
    joins.foreach { j =>
      val carried = (j.left.output ++ j.right.output).map(_.name)
        .filter(_ == "text")
      assert(carried.isEmpty,
        s"a block join carries document bodies:\n$lp")
    }
    // the levenshtein gate must sit INSIDE the join condition, LAST in
    // the conjunction — authored as a post-join filter it gets pushed
    // ahead of the cheap id/band predicates and runs the DP twice per
    // raw bucket match (measured 12.3 s vs 1.4 s at sf0.1); Catalyst
    // preserves conjunct order, so pin both placement and position
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    val conds = joins.flatMap(_.condition)
    assert(conds.exists(_.exists(_.prettyName == "levenshtein")),
      s"thresholded levenshtein not in any join condition:\n$lp")
    def lastConjunct(e: Expression): Expression = e match {
      case And(_, r) => lastConjunct(r)
      case other => other
    }
    conds.filter(_.exists(_.prettyName == "levenshtein")).foreach { c =>
      assert(lastConjunct(c).exists(_.prettyName == "levenshtein"),
        s"levenshtein gate is not the LAST conjunct of the join condition:\n$c")
    }
  }

  test("q117: the token stream is cache-served to the vocab agg and the score join") {
    // the exploded token stream is the corpus-scale intermediate; it
    // must be materialized once (InMemoryRelation) and read by both
    // consumers — re-exploding per consumer doubles the dominant cost
    val p = plan("q117_lm_score")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"token stream recomputed per consumer:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-doc score agg is not two-phase:\n$p")
    graft.core.CacheScope.drain()
  }

  test("q128: the bloom prefilter reaches the probe scan before its exchange") {
    // the operator's whole point: the sketch is ONE scalar subquery
    // (computed once, shipped to every task — never a join input) and
    // might_contain prunes lineitem rows at the scan's Filter, BEFORE
    // any shuffle. If the sketch showed up as a join, or the filter sat
    // above an Exchange, the 100 TB shuffle-reduction claim is void.
    val df = graft.SparkEntry.queries("q128_join_bloom_prefilter")(spark, sf)
    df.collect() // finalize AQE so subquery reuse is visible
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"bloom predicate missing:\n$p")
    assert(p.contains("Subquery subquery"), s"sketch not a scalar subquery:\n$p")
    assert(p.contains("ReusedSubquery"),
      s"sketch recomputed per consumer instead of reused:\n$p")
    graft.core.CacheScope.drain()
  }

  test("q122: one custkey exchange serves both the cohort agg and the re-join") {
    // min-month aggregate and the orders re-join key on the same cust
    // column; the cohort-sized min side broadcasts back, so the final
    // plan must carry AT MOST ONE cust-keyed hash Exchange (two would
    // mean the om frame re-shuffled for the join it should broadcast
    // into, or a regressed exchange-reuse). Count real Exchange nodes
    // only — a ReusedExchange over the same keys is the other
    // acceptable single-shuffle spelling at sfs where the min side
    // outgrows the broadcast threshold.
    val df = graft.SparkEntry.queries("q122_retention_cohort")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"), s"order-month frame recomputed:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    val custExchanges =
      "(?<!Reused)Exchange hashpartitioning\\(cust".r.findAllIn(finalPlan).size
    assert(custExchanges <= 1,
      s"$custExchanges cust-keyed exchanges in the final plan (want <= 1):\n$finalPlan")
    graft.core.CacheScope.drain()
  }

  test("q162: the funnel is one scan, broadcast-only joins, and a shrinking rollup") {
    val p = plan("q162_gate_funnel")
    // the QI class attach must broadcast (the class table is a shrinking
    // aggregate, ≪ corpus at any scale) — no shuffled join anywhere
    assert(p.contains("BroadcastHashJoin"), s"class attach not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"funnel shuffles a join:\n${p.take(2000)}")
    // corpus-keyed exchanges: the per-source rollup's partial side
    // collapses each partition to its source count, so the only hash
    // exchange carries source-keyed partial rows (plus the class
    // table's own tiny build-side agg), never per-doc rows on doc_id
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"funnel re-keys the corpus by doc:\n${p.take(2000)}")
    assert(!p.contains("Generate"), s"funnel explodes tokens:\n${p.take(2000)}")
  }

  test("q163: every ladder level rolls up pack-sized from cache — the corpus window chain runs once") {
    // the pre-execution plan replays the cached lineage per union
    // branch, so pin the EXECUTED plan (the q20/q17 convention): after
    // collect, every level and stats agg must read InMemoryTableScan —
    // the corpus-scale window + finest pack agg ran exactly once, for
    // the first branch that materialized the cache
    val df = graft.SparkEntry.queries("q163_pack_efficiency")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"pack audit grew a join:\n${p.take(2000)}")
    val finalPlan = p.split("== Initial Plan ==").head
    // every stats branch serves from cache (AQE prints shared
    // TableCacheQueryStages once): the final plan reads
    // InMemoryTableScan, and neither the shard window nor the parquet
    // corpus scan appears as a live node — the corpus chain ran once,
    // for whichever branch materialized the finest cache
    assert(finalPlan.contains("InMemoryTableScan"),
      s"pack levels recompute the corpus chain:\n${finalPlan.take(2000)}")
    assert("Window".r.findAllIn(finalPlan).size <= 1,
      s"the shard window ran more than once:\n${finalPlan.take(2000)}")
    assert("Scan parquet".r.findAllIn(finalPlan).size <= 1,
      s"the corpus scan ran more than once:\n${finalPlan.take(2000)}")
    graft.core.CacheScope.drain()
  }

  test("q164: the prevalence report is row-local folds into one shrinking source rollup") {
    val p = plan("q164_pii_prevalence")
    assert(!p.contains("Join"), s"prevalence grew a join:\n${p.take(2000)}")
    assert(!p.contains("Generate"), s"prevalence explodes tokens:\n${p.take(2000)}")
    // one partial+final hash aggregate pair on source, one dump sort —
    // nothing else moves
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).size == 1,
      s"prevalence shuffles beyond the source rollup:\n${p.take(2000)}")
  }

  test("q165: winnow stats is map-only — three HOF folds in the scan stage, dump sort the only exchange") {
    val p = plan("q165_winnow_stats")
    assert(!p.contains("Join"), s"winnow stats grew a join:\n${p.take(2000)}")
    assert(!p.contains("Generate"), s"winnow stats explodes grams:\n${p.take(2000)}")
    assert(!p.contains("HashAggregate"), s"winnow stats shuffles an aggregate:\n${p.take(2000)}")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"winnow stats shuffles beyond the dump sort:\n${p.take(2000)}")
  }

  test("q166: the winnow index never shuffles a document body — every hash exchange carries fp/doc_id only") {
    val p = plan("q166_winnow_overlap")
    // the candidate join is the fp-keyed bucket self-join over 8-byte
    // fingerprints; text must be pruned at the scan (the q76/q109
    // bodies-never-move contract)
    val exchanged = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanged.nonEmpty, s"no hash exchange found:\n${p.take(1500)}")
    assert(exchanged.forall(l => !l.contains("text")),
      s"a winnow exchange carries the document body:\n${exchanged.mkString("\n")}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"winnow candidates degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("q172: candidate bodies are point-looked-up — the documents scan carries the id pushdown, bodies never shuffle") {
    // the rerank's only corpus touch is fetching the ≤ panel×15
    // candidate bodies; the driver-collected id set must reach the
    // parquet scan as a pushed filter (row-group pruning — the
    // point-lookup posture), and the body column must ride only
    // broadcast sides, never a hash exchange
    val p = plan("q172_rerank_cross")
    assert(p.contains("PushedFilters") && p.contains("In(doc_id"),
      s"candidate fetch lost the id pushdown:\n${p.take(2000)}")
    // the load-bearing pin: BOTH joins on the body path must stay
    // broadcast (candidate frame and panel are panel-bounded) — a
    // shuffled join here would move the toks arrays through a hash
    // exchange, and exchange plan LINES don't render carried columns,
    // so asserting on join strategy is the check that actually bites
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"a rerank join left broadcast territory:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a rerank join shuffles the body side:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"rerank degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("winnow building blocks keep the codes transform materialized — no HOF inlining into the gram fold") {
    // the defect class the q165/q166 exchange pins CANNOT see: pruning +
    // CollapseProject can inline the per-token codes transform into the
    // gram fold's element_at probes (and the gram fold into the window
    // minima), re-running the whole transform per probe in interpreted
    // eval — measured on this very op when a wide shared frame carried
    // fps + stats together: q166 went from its 1.4 s floor to minutes
    // (jstack: Pmod → ArrayTransform → Ascii, 370 s CPU per task). The
    // healthy plan carries winnowTokenCode's 3 Ascii probes exactly
    // once per frame; any inlining multiplies them. Counted by
    // expression-tree traversal, not plan-string regex — rendered
    // strings are not a stable API (maxToStringFields truncation or
    // AQE re-printing could skew a regex count either way; ADVICE r14).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (k, w) = (LlmOps.winnowK, LlmOps.winnowW)
    for ((label, df) <- Seq(
        "fpRows" -> graft.streaming.WinnowFingerprinter.fpRows(docs, k, w),
        "stats" -> graft.streaming.WinnowFingerprinter.stats(docs, k, w))) {
      val n = org.apache.spark.sql.GraftTestBridge.countAscii(
        df.queryExecution.executedPlan)
      assert(n == 3,
        s"$label carries the codes transform ${n / 3.0} times — " +
          s"HOF inlining returned:\n" +
          df.queryExecution.executedPlan.toString.take(2000))
    }
  }

  test("whole-stage codegen covers the hot aggregation path") {
    // AQE reports WholeStageCodegen spans only in the finalized plan
    val df = graft.SparkEntry.queries("q20_agg_hash")(spark, sf)
    df.collect() // count() would plan a NEW query; collect finalizes THIS one
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators render as "*(n) Operator" in the final AQE plan
    assert(p.contains("*(1) HashAggregate") || p.contains("WholeStageCodegen"), p)
  }
}

object PlanSpec {
  private def expensive(e: Expression): Boolean = e match {
    case _: HigherOrderFunction | _: SortArray | _: StringSplit | _: ArrayDistinct |
         _: ArrayUnion | _: ArrayIntersect | _: ArrayExcept | _: Sequence |
         _: StringRegexExpression | _: RegExpExtractBase | _: RegExpReplace |
         _: Flatten | _: Concat | _: ScalaUDF => true
    case _ => false
  } // ArraySort is a HigherOrderFunction

  /** `element_at(transform(array(c), f), 1)`: the body runs once. */
  private def isBind(h: HigherOrderFunction): Boolean = h.arguments.headOption match {
    case Some(CreateArray(Seq(_), _)) => true
    case _ => false
  }

  private def reads(e: Expression, vars: Set[ExprId]): Boolean = e match {
    case v: NamedLambdaVariable => vars(v.exprId)
    case _ => e.children.exists(reads(_, vars))
  }

  /** The maximal subtrees of `e`, a part of a lambda body, that are
    * non-foldable, read none of the lambda's own variables `vars`, and
    * hold an expensive node. A nested HOF's lambdas are audited on
    * their own, so the walk enters only its arguments. */
  private def unbound(e: Expression, vars: Set[ExprId]): Seq[Expression] =
    if (!e.foldable && e.exists(expensive) && !reads(e, vars)) Seq(e)
    else e match {
      case h: HigherOrderFunction => h.arguments.flatMap(unbound(_, vars))
      case _ => e.children.flatMap(unbound(_, vars))
    }

  /** The lambdas of every HOF in `e`, except those of a bind. */
  private def audited(e: Expression): Seq[LambdaFunction] = e match {
    case h: HigherOrderFunction if !isBind(h) =>
      h.functions.collect { case lf: LambdaFunction => lf } ++ h.children.flatMap(audited)
    case _ => e.children.flatMap(audited)
  }

  /** Every lambda re-evaluation site in `plan`, subqueries included. */
  def lambdaReevaluations(plan: LogicalPlan): Seq[Expression] =
    plan.collectWithSubqueries(PartialFunction.fromFunction(identity[LogicalPlan]))
      .flatMap(_.expressions).flatMap(audited)
      .flatMap(lf => unbound(lf.function, lf.arguments.map(_.exprId).toSet))
}
