package graft.tools

import java.nio.file.Files

/** Writes a markdown dump of finalized (post-AQE) physical plans — the
  * evidence that pruning/pushdown/broadcast/codegen/two-phase-agg
  * actually happen (PlanSpec asserts them; this makes them readable).
  * Each query is executed first with [[graft.Bench.run]], the bench's
  * own action, so the dump shows runtime join-strategy/coalesce
  * decisions instead of `isFinalPlan=false` placeholders, and no result
  * row travels to the driver just to finalize the plan.
  * With no query names it dumps the headline list below, each with its
  * "why" line. The output path resolves against the repo root
  * ([[graft.Bench.repoRoot]]).
  * Usage: runMain graft.tools.PlanDump <sfDir> <out.md> [query ...]
  * e.g.   runMain graft.tools.PlanDump <testdata>/sf0.001 PLANS.md */
object PlanDump {
  private val Headline = Seq(
    "q02_scan_parquet" -> "column pruning reaches the parquet ReadSchema",
    "q05_filter_predicate" -> "predicates pushed into the scan (PushedFilters)",
    "q11_join_broadcast" -> "dimension join broadcasts",
    "q17_join_star" -> "multi-way star join, order left to Catalyst/AQE",
    "q20_agg_hash" -> "two-phase hash aggregation under whole-stage codegen",
    "q35_topk" -> "top-k as TakeOrderedAndProject (no global sort)",
    "q15_join_theta_range" -> "equi join on user_id with band residual; per-user cap rank runs inside the join's own user_id shuffle",
    "q18_join_asof_native" -> "custom AsOfJoinExec: shuffle+sort per side, merge",
    "q39_merge_upsert" -> "SCD-1 merge: broadcast-anti unchanged rows ∪ changes",
    "q63_decontaminate" -> "shingle array materialized once (Generate reads the attribute), eval membership set broadcast",
    "q65_dedup_incremental" -> "fingerprint-only left-anti join: bodies never reach the exchange",
    "q67_tfidf_terms" -> "cached tf served to df-agg and join (InMemoryTableScan), map-side WindowGroupLimit top-k",
    "q38_join_bucketed" -> "q10's join over bucketed tables: no hash-partition Exchange (bucket-co-located scans; broadcast disabled to show the large×large shape)",
    "q82_similarity_topk" -> "broadcast query set + codegen'd cosine kernel",
    "q88_dedup_ngram" -> "ngram dedup serving plan: the memoized PairTable parquet scan + jacc cut (the fresh df-capped index + equi pair join is ScaleProbe's pair_build_fresh row and PlanSpec's direct fresh-build checks)",
    "q89_dedup_simhash" -> "native simhash64 kernel + cached sketch, 16-bit band equi join",
    "q92_dedup_embedding" -> "SRP-bucket self equi-join + exact-cosine verify (no cross join)",
    "q69_dedup_substring" -> "single first-shingle probe of the df-capped index; id-only candidates, bodies re-joined by id",
    "q70_rarity_score" -> "vocab (with riding total) broadcast to the token stream, two-phase per-doc agg",
    "q48_oov_rate" -> "top-V vocab as TakeOrderedAndProject, V-row broadcast left join, two-phase OOV agg",
    "q73_cluster_assign" -> "8-row broadcast centroid fan-out, arg-max pre-reduced map-side as struct max",
    "q75_knn_join" -> "SRP-bucket id-only candidate join + WindowGroupLimit(Partial) top-3 per vector",
    "q100_knn_ivf" -> "true IVF: broadcast codebook scoring map-side, struct-max cell assignment, equi candidate join on cell with broadcast probes",
    "q101_knn_pq" -> "IVF-PQ: broadcast sub-space codebook, struct-min PQ encode, per-query broadcast ADC table, exact re-rank on the shortlist only",
    "q102_column_profile" -> "single-scan multi-aggregate profile: Expand feeds the exact distincts, null/min/max combine map-side, row-local stack reshape",
    "q103_decon_gate" -> "decontamination gate: pure codegen'd projection (set_hit_count reference table) — no join, no Generate, no exchange before the dump sort",
    "q104_dedup_near_incremental" -> "incremental near-dup gate: batch band table broadcast into the corpus index, verification re-joins shingle arrays by id, total left-join verdict",
    "q105_boilerplate_coverage" -> "boilerplate coverage: cached shingle stream served to the df agg and the common-head broadcast join, two-phase per-doc aggs",
    "q107_scd2_merge" -> "SCD-2 merge: three history arms, each broadcasting the change feed against the dimension (anti + inner) or feed-sized — the dimension is never shuffled",
    "q108_kmeans_refine" -> "Lloyd rounds: broadcast centroid fan-out + struct-min argmin per round, two-phase micro-unit mean agg, k·dim-sized exchanges only",
    "q109_line_dedup" -> "line dedup: ONE 16-byte (fingerprint, doc) df shuffle, Zipf head shipped in the set_keep_positions probe table, rebuild a pure row-local projection — bodies never shuffle",
    "q110_semantic_dedup" -> "semantic dedup: broadcast-codebook assign + struct-max, cluster-equi candidate join on ids only, vectors re-joined by id for the cosine verify, two-phase min verdict",
    "q111_pagerank" -> "pagerank: per round the node-sized state BROADCASTS to the persisted edge list (edges never re-sort), one two-phase dst sum, one node-sized left join — rank mass moves, entities don't",
    "q112_funnel" -> "funnel: per stage a filter-pushed scan + user-keyed two-phase min, the previous stage's user-sized state joined under the same partitioning",
    "q113_anomaly_zscore" -> "rolling z-score: one event_type exchange feeding a single WindowExec (20-row ring per partition), the 3-sigma verdict a codegen'd BIGINT projection — no join, no second shuffle",
    "q114_markov_transitions" -> "markov transitions: one user_id exchange with (tus,event_id) sort feeds lead(), pairs collapse under a two-phase count to |types|^2 rows, the normalizing window runs on that tiny aggregate",
    "q115_triangle_count" -> "triangle count: persisted degree-oriented arcs feed the adjacency build + edge stream; closing is the native sorted_intersect merge kernel over broadcast out-neighbor arrays (no materialized wedge space), u/v credits arithmetic per edge, per-part count two-phase",
    "q116_dedup_fuzzy" -> "fuzzy dedup: (lang, band) block self-join carrying ids + 40-char prefixes only (bodies pruned at the scan), thresholded levenshtein LAST inside the join condition, band arithmetic folds double collisions",
    "q117_lm_score" -> "lm score: cached token stream served to the vocab agg and the score join, scalar total folded into the surprisal projection, two-phase per-doc agg",
    "q118_collocations" -> "collocations: pair stream collapses two-phase before the marginal joins, lift is row-local DECIMAL arithmetic, top-50 is TakeOrderedAndProject",
    "q120_bigram_lm" -> "bigram lm: pair-keyed model agg joined once by the corpus pair stream, whole-bit surprisal row-local, two-phase per-doc mean",
    "q121_distinctive_terms" -> "distinctive terms: (source, tok) two-phase count, marginals re-aggregated from it, rank<=10 as map-side WindowGroupLimit",
    "q122_retention_cohort" -> "cohort retention: ONE custkey exchange reused for the min-month cohort agg AND the re-join (same key), cells collapse two-phase to a months^2-sized table",
    "q123_rfm_segments" -> "rfm: custkey agg then a 1-row quantile-boundary aggregate broadcast back — no global ntile sort; scoring is a codegen'd projection",
    "q124_heavy_hitters" -> "heavy hitters: token-keyed two-phase count (partial dedup for doc_freq), corpus total is a 1-row broadcast scalar off the persisted vocab, ppm gate row-local",
    "q125_dsir_weights" -> "dsir: ONE exploded pass persisted and served to both LMs (InMemoryTableScan), model scalars a 1-row broadcast, token-keyed score join + doc-keyed re-agg",
    "q126_token_entropy" -> "token entropy: doc_id-keyed exchange reused by the tf agg, the doc-total window, and the per-doc re-agg; entropy arithmetic row-local BIGINT",
    "q127_iqr_outliers" -> "iqr fences: per-type exact-quantile agg (the only full shuffle), types-sized fence table broadcast back, outlier counts combine map-side",
    "q128_join_bloom_prefilter" -> "bloom prefilter: build side collapses to ONE sketch in a scalar subquery, might_contain prunes the probe scan BEFORE its shuffle, then the broadcast equi join",
    "q129_token_budget" -> "token budget: ONE lang-keyed exchange feeding the ordered prefix-sum window, admission verdict a codegen'd row-local compare — no single-partition funnel, no second shuffle",
    "q130_chunk_windows" -> "chunking: one row-local Generate (posexplode over the start grid) inside whole-stage codegen — no join, no exchange before the dump sort; the map-only 100 TB shape",
    "q131_dedup_canonical" -> "cluster canonicalization: q68's label table joined doc_id-keyed to the token counts, canonical pick a per-CLUSTER window (partitions bounded by duplicate multiplicity)",
    "q132_temperature_mix" -> "temperature mix: lang counts aggregate with a 1-row broadcast min, rate table broadcast back onto the scan, keep verdict a codegen'd row-local compare — corpus never shuffled",
    "q134_bm25_retrieval" -> "bm25: cached tf served to the df agg and the scoring join, panel via TakeOrderedAndProject then broadcast, (N,T) a 1-row broadcast scalar, per-query top-10 as map-side WindowGroupLimit",
    "q135_source_overlap" -> "source overlap: ONE corpus-sized exchange (shingle-keyed collect_set, partial-agg-deduped), sizes re-exploded from the grouped sets, matrix an S-row broadcast inequality join",
    "q136_importance_resample" -> "importance resample: dsir weight frame persisted, corpus windows per SHARD (hash exchange on shard), S-row offset cumulation the only funnel, offsets + W broadcast back, draw arithmetic row-local BIGINT",
    "q137_minwise_panel" -> "minwise panel: one source-keyed exchange, rank<=K as map-side WindowGroupLimit — K·sources rows forwarded from the k× scan",
    "q138_memorization_span" -> "memorization span: positional eval explode + distinct train side (ids + 8-byte fps on the wire), islands via pos−rank inside a per-DOC window, doc-keyed re-aggs — no self-join, no iteration",
    "q139_mlm_mask" -> "mlm mask schedule: row-local sequence/filter/aggregate fold in the scan's codegen stage — no Generate, no join, no exchange before the dump sort (q130's map-only class)",
    "q141_span_corruption" -> "span corruption schedule: q139's class with a nested transform->sequence span build and array_distinct/flatten union, all row-local — the result sort is the only exchange",
    "q142_source_drift" -> "source drift: ONE (source, term) token exchange with both halves as conditional sums (no per-term join), cached counts serve the totals agg and the rate projection, totals broadcast back, ppm arithmetic row-local",
    "q143_epoch_allocation" -> "epoch allocation: corpus collapses two-phase to the S-row source frame; the waterfilling walk (sort, prefix window, boundary scalars) runs on those S rows only, scalars broadcast back",
    "q140_curriculum_order" -> "curriculum order: per-lang length HISTOGRAM aggregated two-phase, tercile windows over the bounded histogram only, (lang, dl)->phase map broadcast back — corpus rows touched map-side only",
    "q144_bpe_merge_loop" -> "bpe merge loop: per round a row-local pair Generate, two-phase pair count, TakeOrderedAndProject bounded cut (rank window sees <= topK rows); merge rewrite a row-local HOF projection; rounds stitched from persisted candidate tables",
    "q145_corpus_rewrite" -> "corpus rewrite: materialized label table joined doc_id-keyed, canonical window per cluster, line rebuild + decon gate pure row-local probe projections (chrome head + eval set ride as probe arrays), audit assembly doc_id-keyed — two shuffle key families total",
    "q146_dedup_audit" -> "dedup audit: materialized label table joined doc_id-keyed, q131's per-cluster verdict window, then two SHRINKING rollups (cluster-count-sized, multiplicity-count-sized) — every exchange smaller than the last",
    "q154_split_cluster_aware" -> "cluster-aware split: materialized label table BROADCAST onto the 2x-corpus id stream, split buckets row-local Knuth arithmetic, cached assignment served to the 6-way conditional count and the per-cluster leak rollup (both shrinking), 1-row products cross-joined",
    "q155_dup_by_source" -> "dup attribution: q131's per-cluster verdict window off the materialized labels, verdicts re-joined doc_id-keyed to the cached source-carrying universe, per-source rollup two-phase shrinking to |sources| rows",
    "q156_bpe_roundtrip" -> "bpe round-trip: learn loop's pair counts run in their own actions; the audited pass is ONE row-local projection (encode fold + translate decode + compare) with zero hash exchanges and zero joins — q149's map-only class through decode",
    "q157_vocab_coverage" -> "vocab coverage: token-keyed two-phase count, ct-keyed SHRINKING class rollup, running type-count window over the <= sqrt(2N)-row class table only, budget ladder + 1-row total broadcast cross — the vocab is never globally sorted",
    "q158_split_assign" -> "shipped cluster-aware split: materialized label table BROADCAST onto the id stream, split a codegen'd Knuth bucket over the cluster id — no aggregate, no hash exchange; s98 runs the identical projection as a stream-static join at ingest",
    "q159_split_balance" -> "split balance: token stream joined to the broadcast assignment, ONE (tok)-keyed pivot exchange (per-split conditional sums — replaces three full-outer joins), 1-row totals crossed back onto the vocab-sized pivot, shrinking 12-scalar agg, DECIMAL(38,0) cross-multiplication row-local",
    "q160_anonymity_audit" -> "anonymity audit: one shrinking two-phase aggregate over the 3-column QI projection (text never scanned), 4-row k-ladder broadcast cross, per-k rollup shrinks to |ladder| rows, ppm arithmetic row-local BIGINT",
    "q161_anonymity_gate" -> "anonymity gate: q160's class table built once (shrinking agg), BROADCAST back onto the corpus's QI projection, verdict a row-local >=k compare — no corpus shuffle beyond the dump sort; s99 runs the identical projection as a stream-static join at ingest",
    "q162_gate_funnel" -> "gate funnel: ONE corpus scan pays all five verdicts (three dup folds + quality + classifier weight fold row-local, decon a broadcast set-probe, QI class a broadcast join), per-source rollup two-phase shrinking to |sources| rows — no doc_id re-key anywhere",
    "q163_pack_efficiency" -> "pack efficiency: per-source prefix-sum window + finest-L pack aggregate are the ONLY corpus-scale exchanges (run once, cached); each coarser ladder level rolls up pack_id div 2 from the previous PACK table (floor nesting makes it exact), stats aggs 1-row over cached pack tables",
    "q164_pii_prevalence" -> "pii prevalence: row-local regexp_count folds on the planted raw text (q79's patterns), per-source rollup two-phase shrinking to |sources| rows, per-Mtok rates row-local BIGINT ppm arithmetic",
    "q165_winnow_stats" -> "winnow stats: token codes, gram hashes, and window minima are three row-local HOF folds in the scan's codegen stage — no Generate, no join, no exchange before the dump sort (q139's map-only class)",
    "q166_winnow_overlap" -> "winnow overlap: the inverted index carries only winnowed fingerprints (~2/(w+1) of gram mass — q165 prices it) as 8-byte BIGINTs, df cap bounds bucket occupancy, candidate generation is the fp-keyed bucket self-join — never all-pairs, bodies never shuffled",
    "q167_contrastive_pairs" -> "contrastive pairs: materialized label table, two label-table-sized rank windows (cluster minima, cell minima), broadcast 2-per-cell negative table LEFT-joined (TOTAL over anchors), knuth draws row-local — nothing corpus-sized shuffles",
    "q169_dedup_sweep" -> "dedup sweep: the memoized PairTable (q88's exact uncut jacc universe) scanned once, 7-row ladder broadcast-crossed against PAIRS not corpus, conditional rollups shrink to |ladder| rows",
    "q171_hybrid_rrf" -> "hybrid RRF: both arms read materialized rank tables (panel-bounded parquet), full-outer equi join by (query, doc), integer rrf terms row-local, per-query window over <=15 rows — never a corpus pass",
    "q172_rerank_cross" -> "cross-encoder rerank: candidate bodies point-looked-up (In pushdown into the parquet scan), candidate frame + query panel both broadcast, interaction features row-local, per-query window over <=15 rows",
    "q170_quality_sweep" -> "quality sweep: one scan folds score + token count, collapses to the <=101-row percent-bin table, 5-row ladder crosses BINS not corpus, ppm arithmetic row-local BIGINT",
    "q168_ann_recall" -> "ann recall: IVF arm is q100's bucketed chain, ground truth is q82's 10-query broadcast brute-force panel, comparison a panel-sized semi join + rollup — the audit prices the approximate path against exact, per query")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <out.md> [query ...]")
    val sfDir = args(0)
    val out = graft.Bench.repoRoot.resolve(args(1))
    // validate BEFORE starting a session: an unknown name must fail with
    // the valid list, not a bare NoSuchElementException mid-run
    val unknown = args.drop(2).filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — valid names: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val why = Headline.toMap
    val names = if (args.length > 2) args.drop(2).toSeq else Headline.map(_._1)
    val spark = graft.core.GraftSession.builder("local[8]", 8,
      Map("spark.ui.enabled" -> "false")).getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val sb = new StringBuilder
      sb.append("# PLANS — finalized physical plans for headline queries\n\n")
      sb.append(s"Generated by `graft.tools.PlanDump` at `$sfDir`, local[8], AQE on.\n")
      sb.append("Assertions over these shapes live in `PlanSpec`.\n")
      // q38's point is the large×large no-shuffle join; at this toy SF the
      // planner would broadcast instead, so pin the SMJ path for its dump
      val noBroadcast = Set("q38_join_bucketed")
      names.foreach { name =>
        if (noBroadcast(name))
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        graft.Bench.run(df) // finalize AQE
        sb.append(s"\n## $name${why.get(name).fold("")(w => s" — $w")}\n\n```\n")
        // 6500: deep AQE plans (q172's broadcast-join chain) need the
        // extra room for their FileScan lines — the PushedFilters evidence
        // is the point of the dump; at 4000 the scan line fell off
        sb.append(df.queryExecution.executedPlan.toString.take(6500))
        sb.append("\n```\n")
        graft.core.CacheScope.drain()
        if (noBroadcast(name))
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      Files.writeString(out, sb.toString)
      println(s"[plans] wrote $out (${names.size} queries)")
    } finally spark.stop()
  }
}
