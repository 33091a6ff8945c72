package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface [EXT] (SURVEY.md §2.2 — the reference has no joins).
  *
  * Scale posture per query:
  *  - equi joins shuffle on their keys and leave strategy choice to
  *    Catalyst/AQE (sort-merge or shuffled-hash at 100 TB);
  *  - dimension joins broadcast explicitly (q11) or via AQE thresholds;
  *  - the theta/range join (q15) is keyed on user_id first, so it is an
  *    equi-join with a residual band predicate — NEVER a cartesian;
  *  - the as-of join (q16) is the partition+sort+window formulation, which
  *    scales as one shuffle on the key (no point-lookup loop).
  */
object Joins {

  /** q10: plain equi inner join, strategy left to Catalyst. */
  val q10InnerHash: Q = (spark, dir) => {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    orderAll(o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select("o_orderkey", "o_custkey", "c_name", "o_totalprice"))
  }

  /** q11: fact ⋈ broadcast(dim) — the 100 TB pattern for small dims. */
  val q11Broadcast: Q = (spark, dir) => {
    val li = t(spark, dir, "lineitem")
    val p = t(spark, dir, "part")
    orderAll(li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .filter(col("p_type") === "PROMO")
      .select("l_orderkey", "l_linenumber", "p_name", "p_brand", "p_size"))
  }

  /** q12: left outer — unmatched customers keep null order columns. */
  val q12LeftOuter: Q = (spark, dir) => {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").filter(col("o_totalprice") > 350000)
    orderAll(c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice")))
  }

  /** q36: full outer — null-padded on BOTH sides: high-balance customers
    * without big orders AND big orders whose customers miss the balance
    * filter each survive with nulls. Plans as SMJ (full outer can't
    * broadcast); one shuffle per side on the join key. */
  val q36FullOuter: Q = (spark, dir) => {
    val c = t(spark, dir, "customer").filter(col("c_acctbal") > 9000)
    val o = t(spark, dir, "orders").filter(col("o_totalprice") > 350000)
    orderAll(c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice")))
  }

  /** q13: left semi ≡ EXISTS. */
  val q13Semi: Q = (spark, dir) => {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").filter(col("o_totalprice") > 300000)
    orderAll(c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment"))
  }

  /** q14: left anti ≡ NOT EXISTS. */
  val q14Anti: Q = (spark, dir) => {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").filter(col("o_totalprice") > 300000)
    orderAll(c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment"))
  }

  /** q15's hot-key guard: output is inherently quadratic in
    * events-per-user-inside-the-band, so one bot user at 100× (think
    * scraper traffic: 10^6 events in a 10-minute window ⇒ 10^12 pairs)
    * explodes a single key no matter how the join is partitioned —
    * salting (q19's machinery) would spread the WORK but the OUTPUT is
    * still 10^12 rows, which is never what the analyst meant. The guard
    * is therefore semantic, not physical: each user contributes at most
    * `cap` events (first by (ts, event_id) — deterministic and
    * SQL-expressible, so the oracle mirrors it exactly), bounding
    * per-user join output at cap². The rank runs in the same
    * user_id-shuffle the join needs anyway; AQE skew-join handles
    * residual partition imbalance below the cap. The default cap (10k)
    * sits far above every test fixture's per-user max, so CORRECTNESS
    * hashes are unchanged — production dials GRAFT_EVENTS_PER_USER_CAP
    * to its bot-filter budget. `between(1, cap)` rather than `<= cap`:
    * row_number is IntegerType, and a >2^31-event user would wrap
    * negative and sneak PAST a plain <=. */
  private[graft] def EventsPerUserCap: Int =
    sys.env.get("GRAFT_EVENTS_PER_USER_CAP").map(_.trim.toInt).getOrElse(10000)

  /** q15: theta/range join — keyed on user_id (equi) with a time-band
    * residual, so Spark plans a hash/SMJ join, not a nested loop. Counts,
    * per user, ordered event pairs within a 10-minute follow window.
    * Per-user event cap guards the quadratic hot-key blowup (see
    * [[EventsPerUserCap]]); SkewSpec bounds the fan-out on a planted
    * bot user. */
  val q15ThetaRange: Q = (spark, dir) => q15WithCap(EventsPerUserCap)(spark, dir)

  private[graft] def q15WithCap(cap: Int): Q = (spark, dir) => {
    val wCap = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val capped = events(spark, dir)
      .withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn").between(1, cap)).drop("__rn")
    val e1 = capped.select(
      col("user_id"), col("event_id").as("eid1"), col("ts").as("ts1"))
    val e2 = capped.select(
      col("user_id").as("user_id2"), col("event_id").as("eid2"), col("ts").as("ts2"))
    val joined = e1.join(e2,
      e1("user_id") === e2("user_id2") &&
        e2("ts2") > e1("ts1") &&
        e2("ts2") <= e1("ts1") + expr("INTERVAL 10 MINUTES"))
    // count + countDistinct in one agg plans an Expand over the pair
    // rows; the two-level (user,eid1)→user alternative was measured
    // SLOWER here (1.5s vs 1.2s at sf0.1) — the extra shuffle costs
    // more than Expand saves, and the Expand doubles only the join
    // output, which the 10-minute band already bounds
    orderAll(joined.groupBy("user_id")
      .agg(count(lit(1)).as("pair_cnt"), countDistinct(col("eid1")).as("starters")))
  }

  /** q16: as-of join — for each purchase, the latest same-user view at or
    * before it. Partition+sort+window formulation: one shuffle on user_id,
    * no per-row lookups; ties broken by view event_id. */
  val q16AsOf: Q = (spark, dir) => {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_eid"), col("ts").as("p_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_eid"), col("ts").as("v_ts"))
    val joined = purchases.join(views,
      purchases("user_id") === views("v_user") && views("v_ts") <= purchases("p_ts"),
      "inner")
    val w = Window.partitionBy(col("p_eid"))
      .orderBy(col("v_ts").desc, col("v_eid").desc)
    orderAll(joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("p_eid"),
        unix_timestamp(col("p_ts")).as("p_epoch"),
        col("v_eid"),
        unix_timestamp(col("v_ts")).as("v_epoch")))
  }

  /** q17: star-schema chain region→nation→customer→orders→lineitem with
    * exact-decimal revenue; join order left to Catalyst/AQE (small dims
    * broadcast themselves under the default threshold). */
  val q17Star: Q = (spark, dir) => {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    val rev = li("l_extendedprice").cast("decimal(18,4)") *
      oneMinus(li("l_discount"))
    orderAll(li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(rev), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_lines")))
  }

  /** q18: the SAME as-of semantics as q16, through the engine's custom
    * whole-operator (graft.plans.AsOfJoinExec: LogicalPlan + Strategy +
    * BinaryExecNode — one shuffle per side, per-partition sorted merge,
    * one buffered right row). q16 materializes every candidate pair and
    * row_number-filters; this never materializes non-answers. Shares
    * q16's DuckDB oracle — a custom physical operator held to the same
    * correctness gate. */
  val q18AsOfNative: Q = (spark, dir) => {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_eid"), col("ts").as("p_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_eid"), col("ts").as("v_ts"))
    val joined = graft.plans.AsOf.join(purchases, views,
      leftKey = "user_id", leftTime = "p_ts",
      rightKey = "v_user", rightTime = "v_ts",
      rightTieBreak = Some("v_eid"), outer = false)
    orderAll(joined.select(col("user_id"), col("p_eid"),
      unix_timestamp(col("p_ts")).as("p_epoch"),
      col("v_eid"),
      unix_timestamp(col("v_ts")).as("v_epoch")))
  }

  /** q19: salted join for a manufactured hot key (30% of lineitem lands
    * on key 0) — graft.operators.Skew scatters the hot key over 8 salted
    * sub-keys; result is identical to the plain join, which is exactly
    * what the oracle checks. */
  val q19SaltedSkew: Q = (spark, dir) => {
    val li = t(spark, dir, "lineitem")
    val probe = li.select(col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 10 < 3, lit(0L))
        .otherwise(col("l_orderkey") % 97).as("hot_key"))
    val build = t(spark, dir, "orders")
      .groupBy((col("o_orderkey") % 97).as("bkey"))
      .agg(count(lit(1)).as("grp_n"))
    val joined = graft.operators.Skew.saltedJoin(
      probe, build, "hot_key", "bkey", col("l_linenumber"), buckets = 8)
    orderAll(joined.select("l_orderkey", "l_linenumber", "hot_key", "grp_n"))
  }

  /** q38: q10's exact join (orders⋈customer), but over tables
    * pre-bucketed on the join key (graft.operators.Buckets): both sides
    * are written `bucketBy(8, key).sortBy(key)`, so every subsequent
    * join reads co-located buckets and plans with ZERO shuffle on
    * either side — at 100 TB, for tables joined repeatedly on a stable
    * key, bucketing deletes the two largest exchanges in the pipeline.
    * The build runs ONCE per sf dir (`Buckets.ensureBucketed`, names
    * keyed by the dir like Fixtures.once) and is amortized across every
    * later run — the production economics, and what the bench should
    * measure: the steady-state join, not the one-time write.
    * PlanSpec pins the no-shuffle plan; the oracle is q10's — bucketing
    * must never change results. */
  /** Build (once per sf dir) the q38 bucketed tables; returns their
    * names. Shared by q38 and Bench's warm-up, so the bench measures
    * the steady-state join rather than the amortized one-time write. */
  def q38Tables(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val ot = s"graft_b_orders_$tag"
    val ct = s"graft_b_customer_$tag"
    graft.operators.Buckets.ensureBucketed(
      t(spark, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      ot, "o_custkey")
    graft.operators.Buckets.ensureBucketed(
      t(spark, dir, "customer").select("c_custkey", "c_name"),
      ct, "c_custkey")
    (ot, ct)
  }

  val q38Bucketed: Q = (spark, dir) => {
    val (ot, ct) = q38Tables(spark, dir)
    val j = graft.operators.Buckets.bucketedJoin(spark, ot, ct,
      "o_custkey", "c_custkey")
    orderAll(j.select("o_orderkey", "o_custkey", "c_name", "o_totalprice"))
  }

  /** q39: MERGE / upsert (SCD type 1) — apply a deterministic change
    * feed (every 10th order re-priced and re-statused; every 1000th-ish
    * cloned as a new order above the key space) onto the base table.
    *
    * Formulated as `changes ∪ (base ANTI-JOIN changes)` rather than the
    * textbook full-outer + coalesce: with unique change keys the two are
    * row-identical, but the anti join can BROADCAST the (small) change
    * feed, so the base table is never shuffled — at 100 TB a daily merge
    * touches the corpus once, narrowly, instead of exchanging it on the
    * key (a full outer join can never broadcast). When the feed outgrows
    * broadcast, the same plan degrades gracefully to a shuffled anti
    * join — still strictly cheaper than full-outer (no null-padding of
    * the big side). The union is plan-level concatenation — free. */
  val q39MergeUpsert: Q = (spark, dir) => {
    val base = t(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 100).as("o_totalprice"))
    val inserts = base.filter(col("o_orderkey") % 1000 === 7)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    val changes = updates.unionByName(inserts)
    val merged = base.join(broadcast(changes), Seq("o_orderkey"), "left_anti")
      .unionByName(changes)
    orderAll(merged)
  }

  /** q107: MERGE, SCD type 2 — q39's change feed applied
    * HISTORY-PRESERVING: a changed key closes its open version
    * (valid_to = T) and opens a new one, an inserted key opens its first
    * version, untouched keys pass through open. The warehouse dimension
    * pattern time-travel queries need (q39 overwrites; SCD2 answers
    * "what was the balance when the order shipped").
    *
    * Same 100 TB posture as q39: every arm of the union either
    * BROADCASTS the small change feed against the dimension (anti join
    * for untouched rows, semi-shaped inner join for changed ones) or is
    * feed-sized — the dimension is never shuffled, and at scale the
    * whole statement maps onto one Delta/Iceberg MERGE whose matched /
    * not-matched arms are exactly these branches. Change detection is by
    * key membership (the feed carries only real changes, q39's
    * contract); a value-diff residual would ride the same join. */
  val q107Scd2Merge: Q = (spark, dir) => {
    val T = 1000L
    val cur = t(spark, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    val updates = cur.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100).as("c_acctbal"))
    val inserts = cur.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_acctbal"))
    val untouched = cur.join(broadcast(updates), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val closed = cur.join(broadcast(updates.select("c_custkey")), Seq("c_custkey"))
      .select(col("c_custkey"), col("c_acctbal"),
        lit(0L).as("valid_from"), lit(T).as("valid_to"))
    val opened = updates.unionByName(inserts)
      .select(col("c_custkey"), col("c_acctbal"),
        lit(T).as("valid_from"), lit(null).cast("long").as("valid_to"))
    orderAll(untouched.unionByName(closed).unionByName(opened)
      .withColumn("is_current", col("valid_to").isNull))
  }

  /** q128 [EXT]: bloom-prefiltered join — the probe side is cut down by
    * a Bloom filter built from the build side's join keys BEFORE the
    * join's shuffle, Spark's own runtime-filter rewrite
    * (`spark.sql.optimizer.runtime.bloomFilter.*`) expressed as an
    * explicit operator so the plan is pinned rather than
    * heuristic-dependent: `bloom_filter_agg` collapses the filtered
    * build side to ONE sketch in a scalar subquery (`might_contain`
    * REQUIRES the constant/scalar-subquery form — the sketch is
    * computed once and shipped to every probe task, never joined), and
    * the probe scan drops non-joining rows before its shuffle — at
    * 100 TB this is the difference between shuffling the full fact
    * table and shuffling the ~selectivity fraction that can actually
    * join (here: only lineitems of urgent orders cross the wire). The
    * oracle is the PLAIN join: Bloom filters have no false negatives
    * and the join itself removes false positives, so the rewrite is
    * semantically invisible — which is exactly what the hash gate
    * proves. */
  val q128JoinBloomPrefilter: Q = (spark, dir) => {
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice"))
      .scopedPersist
    urgent.createOrReplaceTempView("q128_urgent")
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .createOrReplaceTempView("q128_lineitem")
    val pre = spark.sql(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM q128_lineitem
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(o_orderkey), 50000L, 400000L)
        |   FROM q128_urgent),
        |  xxhash64(l_orderkey))""".stripMargin)
    orderAll(pre.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("o_totalprice")))
  }

  val defs: Map[String, Q] = Map(
    "q128_join_bloom_prefilter" -> q128JoinBloomPrefilter,
    "q10_join_inner_hash" -> q10InnerHash,
    "q39_merge_upsert" -> q39MergeUpsert,
    "q107_scd2_merge" -> q107Scd2Merge,
    "q38_join_bucketed" -> q38Bucketed,
    "q11_join_broadcast" -> q11Broadcast,
    "q12_join_left_outer" -> q12LeftOuter,
    "q13_join_semi" -> q13Semi,
    "q14_join_anti" -> q14Anti,
    "q15_join_theta_range" -> q15ThetaRange,
    "q36_join_full_outer" -> q36FullOuter,
    "q16_join_asof" -> q16AsOf,
    "q17_join_star" -> q17Star,
    "q18_join_asof_native" -> q18AsOfNative,
    "q19_join_salted_skew" -> q19SaltedSkew)

  val oracles: Map[String, String] = Map(
    "q128_join_bloom_prefilter" ->
      // the plain join IS the oracle: the bloom prefilter is
      // semantically invisible (no false negatives; the join removes
      // false positives)
      """SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q107_scd2_merge" ->
      // the same three history arms from first principles; +100 on a
      // DOUBLE is exact, and both change classes key on the PRE-shift
      // c_custkey residues the engine uses
      """WITH cur AS (SELECT c_custkey, c_acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_acctbal + 100 AS c_acctbal FROM cur
        |  WHERE c_custkey % 3 = 0),
        |ins AS (
        |  SELECT c_custkey + 1000000 AS c_custkey, c_acctbal FROM cur
        |  WHERE c_custkey % 7 = 0),
        |hist AS (
        |  SELECT c.c_custkey, c.c_acctbal,
        |    CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM cur c LEFT JOIN upd u USING (c_custkey) WHERE u.c_custkey IS NULL
        |  UNION ALL
        |  SELECT c.c_custkey, c.c_acctbal, 0, 1000
        |  FROM cur c JOIN upd u USING (c_custkey)
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, 1000, NULL FROM upd
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, 1000, NULL FROM ins)
        |SELECT c_custkey, c_acctbal, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM hist
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    "q39_merge_upsert" ->
      // same merge via the textbook formulation (changes win, base fills):
      // row-identical to the engine's anti-union because change keys are
      // unique and every change key is either in base (update) or new
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice + 100 AS o_totalprice
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice
        |  FROM base WHERE o_orderkey % 1000 = 7)
        |SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        |       COALESCE(c.o_custkey, b.o_custkey) AS o_custkey,
        |       COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |       COALESCE(c.o_totalprice, b.o_totalprice) AS o_totalprice
        |FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q38_join_bucketed" ->
      // q10's oracle verbatim: bucketing must be invisible to results
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q10_join_inner_hash" ->
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q11_join_broadcast" ->
      """SELECT l_orderkey, l_linenumber, p_name, p_brand, p_size
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'PROMO'
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    "q12_join_left_outer" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 350000) o
        |  ON c_custkey = o_custkey
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q13_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q14_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q36_join_full_outer" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 350000) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q15_join_theta_range" ->
      // the per-user cap is serialized from the same env knob the engine
      // binds (q63's pattern), so both engines trim identical event sets
      s"""WITH capped AS (
        |  SELECT user_id, event_id, ts FROM (
        |    SELECT user_id, event_id, ts,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events)
        |  WHERE rn <= $EventsPerUserCap)
        |SELECT e1.user_id, count(*) AS pair_cnt, count(DISTINCT e1.event_id) AS starters
        |FROM capped e1 JOIN capped e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts > e1.ts
        | AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
        |GROUP BY e1.user_id
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin,
    "q16_join_asof" ->
      """SELECT user_id, p_eid, p_epoch, v_eid, v_epoch FROM (
        |  SELECT p.user_id, p.event_id AS p_eid,
        |         CAST(floor(epoch(p.ts)) AS BIGINT) AS p_epoch,
        |         v.event_id AS v_eid,
        |         CAST(floor(epoch(v.ts)) AS BIGINT) AS v_epoch,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON v.user_id = p.user_id AND v.ts <= p.ts
        |) WHERE rn = 1
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    // q18 = same semantics as q16 through the custom physical operator
    "q18_join_asof_native" ->
      """SELECT user_id, p_eid, p_epoch, v_eid, v_epoch FROM (
        |  SELECT p.user_id, p.event_id AS p_eid,
        |         CAST(floor(epoch(p.ts)) AS BIGINT) AS p_epoch,
        |         v.event_id AS v_eid,
        |         CAST(floor(epoch(v.ts)) AS BIGINT) AS v_epoch,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON v.user_id = p.user_id AND v.ts <= p.ts
        |) WHERE rn = 1
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    "q19_join_salted_skew" ->
      """SELECT l_orderkey, l_linenumber, hot_key, grp_n FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 10 < 3 THEN 0 ELSE l_orderkey % 97 END AS hot_key
        |  FROM lineitem) p
        |JOIN (
        |  SELECT o_orderkey % 97 AS bkey, count(*) AS grp_n
        |  FROM orders GROUP BY o_orderkey % 97) b
        |  ON p.hot_key = b.bkey
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin,
    "q17_join_star" ->
      """SELECT r_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(9,4)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin)
}
