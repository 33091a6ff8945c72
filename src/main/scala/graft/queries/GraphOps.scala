package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Graph analytics over the relational tables — entity-centrality
  * ranking on the customer↔supplier transaction graph. q68 (connected
  * components) established the iterative join+agg loop pattern; this
  * module adds the weighted-propagation variant (PageRank), following
  * the package determinism rules: ALL rank arithmetic is exact BIGINT
  * micro-units (integer floor division on both engines), so the
  * iterative float algorithm is fully hash-oracled against an unrolled
  * DuckDB mirror — q108's recipe for oracling iteration.
  */
object GraphOps {

  private val PrRounds = 2

  /** Storage level for the graph intermediates (q111's edges/deg, q115's
    * co/arcs/adj): MEMORY_AND_DISK_SER, chosen by measurement, not
    * theory (VERDICT r10 item 6). The same-JVM interleaved A/B
    * (a same-JVM interleaved probe, 2026-08-14, sf0.1, contended
    * boot, 5 rounds) read: q111 SER 2.08–2.23 s vs DISK 2.82–3.53 s —
    * a ~0.7 s win in EVERY round, not noise (the edge cache is
    * re-scanned twice per rank round, so smaller serialized blocks cut
    * exactly the memory-bandwidth footprint the co-tenant contention
    * multiplies); q115 a wash on mins (4.34 vs 4.44 s) with SER the
    * more outlier-robust arm (worst rounds 5.35 vs 11.99 s) — on record
    * in SURVEY.md and OPTIMIZATION_r15.md. Env-dialed
    * (`GRAFT_GRAPH_PERSIST=MEMORY_AND_DISK`) for a CPU-starved,
    * bandwidth-rich deployment where the trade reverses. */
  private[graft] val GraphPersistLevel: org.apache.spark.storage.StorageLevel =
    sys.env.get("GRAFT_GRAPH_PERSIST") match {
      case Some("MEMORY_AND_DISK") =>
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      case _ => org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    }

  /** Node-count ceiling under which each PageRank round's state table
    * (one row per node) broadcasts to the cached edge partitions: the
    * edges then never re-sort or re-shuffle for the join, and the only
    * per-round exchange is the map-side-combined contribution sum.
    * 50 M nodes ≈ 1.2 GB of (node, outdeg, pr) rows — executor-sized;
    * dial per cluster via GRAFT_PR_BROADCAST_MAX. */
  private[graft] val PrBroadcastMaxNodes =
    sys.env.getOrElse("GRAFT_PR_BROADCAST_MAX", "50000000").toLong

  /** q111: PageRank over the customer↔supplier graph — which entities
    * sit at the center of the transaction network (the reference has no
    * analytics at all; a curation pipeline ranks sources/suppliers by
    * graph centrality the same way). Nodes: customers (2·custkey) and
    * suppliers (2·suppkey+1) appearing in ≥ 1 order line; edges: the
    * DISTINCT (customer, supplier) trade pairs from orders⋈lineitem,
    * symmetrized (both directions), so every graph node has outdeg ≥ 1
    * and the dangling-mass correction never triggers.
    *
    * Determinism contract (the whole point of oracling an ITERATIVE
    * algorithm): seed = 1e6 div N micro-units; each round
    * pr' = (15·seed + 85·Σ_{u→v} pr(u) div outdeg(u)) div 100 — every
    * operation a BIGINT floor division or product, bit-identical in
    * Spark (`div`) and DuckDB (`//`), mirrored 2 rounds unrolled.
    *
    * 100 TB: the edge list is built once, persisted, and every round
    * reuses it — per round ONE edges⋈state join on src (state is
    * node-sized and broadcasts below [[PrBroadcastMaxNodes]], so the
    * cached edges never re-sort; shuffle-join fallback above), ONE
    * two-phase sum by dst (map-side combined), ONE node-sized left
    * join. The driver holds only the node-count scalar (q68's
    * convergence-scalar pattern); deeper loops checkpoint-truncate
    * round plans exactly as q68 does. Rank mass, not vectors or
    * bodies, is all that moves. */
  val q111PageRank: Q = (spark, dir) => q111WithRounds(PrRounds)(spark, dir)

  private[graft] def q111WithRounds(rounds: Int): Q = (spark, dir) =>
    q111WithStrategy(rounds, maxBroadcastNodes = PrBroadcastMaxNodes)(spark, dir)

  /** `maxBroadcastNodes` exposed for the spec: GraphOpsSpec pins the
    * broadcast and shuffle spellings row-identical (the fallback is a
    * tested execution path, not a comment). Intermediates persist at
    * [[GraphPersistLevel]]. */
  private[graft] def q111WithStrategy(rounds: Int, maxBroadcastNodes: Long): Q =
    (spark, dir) => {
    require(rounds >= 1, s"pagerank needs >= 1 round, got $rounds")
    val trade = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    // row-local symmetrization (LlmOps.symmetrize): ONE traversal of the
    // orders⋈lineitem⋈distinct trade build instead of two union
    // branches, and the persist materializes one branch's partitions
    val edges = graft.core.CacheScope.persist(
      graft.queries.LlmOps.symmetrize(
        trade.select(col("c").as("d1"), col("s").as("d2"))),
      GraphPersistLevel)
    val deg = graft.core.CacheScope.persist(
      edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("outdeg")), GraphPersistLevel)
    // the one driver-side scalar: N for the seed/teleport constant —
    // and the broadcast dial: state is exactly one row per node, so
    // below the node cap each round's state ships TO the cached edge
    // partitions (broadcast hash join: edges never re-sort, the only
    // per-round exchange is the node-sized contribution sum); past the
    // cap (a graph whose node table outgrows an executor) the join
    // falls back to the shuffle spelling on src
    val n = deg.count()
    val stateBroadcastable = n <= maxBroadcastNodes
    val seedMic = 1000000L / n
    var state = deg.select(col("node"), col("outdeg"),
      lit(seedMic).as("pr_mic"))
    for (_ <- 1 to rounds) {
      val srcState = state.withColumnRenamed("node", "src")
      val sums = edges
        .join(if (stateBroadcastable) broadcast(srcState) else srcState, Seq("src"))
        .select(col("dst"), expr("pr_mic div outdeg").as("w"))
        .groupBy(col("dst")).agg(sum(col("w")).as("in_mic"))
      state = deg.join(sums, deg("node") === sums("dst"), "left_outer")
        .select(col("node"), col("outdeg"),
          expr(s"(15 * ${seedMic}L + 85 * coalesce(in_mic, 0L)) div 100")
            .as("pr_mic"))
    }
    orderAll(state.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("node_type"),
      expr("node div 2").as("entity_id"),
      col("outdeg"), col("pr_mic")))
  }

  /** Per-order line-count cap for q115's co-purchase expansion (q88's
    * df-cap recipe, mirrored in the oracle): an order with w lines emits
    * w·(w-1)/2 pairs, so one pathological wide "order" (a catalog dump,
    * a crawler artifact) squares. Orders wider than the cap are dropped
    * whole. TPC-H orders carry ≤ 7 lines, so 64 never fires on testdata
    * — the cap exists for the 100 TB tail. Env-dialed so ScaleProbe can
    * exercise it; the oracle string interpolates the SAME value. */
  private[graft] val MaxOrderWidth =
    sys.env.getOrElse("GRAFT_TRI_MAX_ORDER_WIDTH", "64").toInt

  /** Arc-count ceiling under which the out-neighbor adjacency table
    * broadcasts to the edge stream. The adjacency arrays hold exactly
    * one long per arc, so 20 M arcs ≈ 160 MB of array payload —
    * comfortable in a 4 GiB-executor budget; dial down per cluster via
    * GRAFT_TRI_BROADCAST_MAX. Above the cap the two edge⋈adjacency
    * attaches run as shuffle joins on src/dst: correct, two more
    * exchanges, unbounded arc-set size. */
  private[graft] val BroadcastArcMax =
    sys.env.getOrElse("GRAFT_TRI_BROADCAST_MAX", "20000000").toLong

  /** q115 [EXT]: triangle counting over the part co-purchase graph —
    * per-part triangle participation, the clustering-coefficient
    * numerator (community structure in what's bought together; on a
    * document-similarity graph the same operator grades cluster
    * cohesion for q68's components). Edges: distinct part pairs sharing
    * an order (orders wider than [[MaxOrderWidth]] dropped — see above).
    *
    * Shape is compact-forward (Latapy 2008): orient each undirected
    * edge from its (degree, id)-smaller endpoint, then close every
    * directed edge (u,v) by intersecting sorted out-neighbor lists —
    * each triangle u→v, u→w, v→w is found exactly once, at its base
    * edge, as w ∈ N⁺(u) ∩ N⁺(v). Orientation bounds every node's
    * out-degree by O(√m) regardless of skew — the hub that co-occurs
    * with everything gets arcs IN, not out, so both the adjacency
    * arrays and the per-edge intersection cost stay O(√m) (the naive
    * all-orders enumeration counts each triangle 6× and squares the
    * hub degree). All-BIGINT output.
    *
    * 100 TB: the width filter rides the SAME l_orderkey exchange the
    * pair self-join needs (a count window over the join key, then
    * ReusedExchange serves both join inputs, and the window SPILLS on
    * a pathological wide order where a collect_list buffer would not
    * — see the inline note); arcs are persisted once and feed the
    * adjacency build and the edge stream, and closing attaches both
    * endpoints' neighbor lists by broadcast probe — the narrow
    * (src, dst) arc stream through two probes moves strictly less
    * memory than any spelling that carries neighbor ARRAYS per arc
    * row (see the inline note on the rejected explode derivation).
    * The O(Σ out²) wedge space is never MATERIALIZED at all — a
    * previous spelling enumerated length-2 paths through a join and
    * semi-closed them, streaming ~49 M wedge rows through join
    * machinery at sf0.1 where the intersection touches the same
    * element pairs inside a per-edge array kernel (measured ~2×) and
    * emits only actual triangles (~1.9 M). Below [[BroadcastArcMax]]
    * the adjacency table (exactly one long per arc) broadcasts, so
    * closing runs inside the arc cache-scan's stage and only
    * per-node partial counts cross the wire; above it both closing
    * attaches fall back to shuffle joins on src/dst — unbounded
    * size, two more exchanges. */
  val q115TriangleCount: Q = (spark, dir) => q115WithWidthCap(MaxOrderWidth)(spark, dir)

  private[graft] def q115WithWidthCap(maxWidth: Int): Q = (spark, dir) =>
    q115WithStrategy(maxWidth, maxBroadcastArcs = BroadcastArcMax)(spark, dir)

  /** `maxBroadcastArcs` exposed for the spec: GraphOpsSpec pins the
    * broadcast and shuffle adjacency spellings row-identical (the
    * above-cap fallback is a tested execution path, not a comment).
    * Intermediates persist at [[GraphPersistLevel]]. */
  private[graft] def q115WithStrategy(maxWidth: Int, maxBroadcastArcs: Long): Q =
    (spark, dir) => {
    require(maxWidth >= 2, s"order-width cap $maxWidth admits no pairs")
    val li0 = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // NOTE: a collect_list-per-order spelling (one agg, row-local pair
    // expansion) was tried and rejected — its aggregation buffer holds
    // the FULL per-order array BEFORE the width filter can drop the
    // order, un-bounding exactly the pathological-wide-order state the
    // cap exists to bound. The window count spills; its exchange is
    // then reused by the self-join.
    val li = li0
      .withColumn("w", count(lit(1)).over(Window.partitionBy(col("l_orderkey"))))
      .filter(col("w") <= maxWidth).drop("w")
    val co = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    graft.core.CacheScope.persist(co, GraphPersistLevel)
    // one cached-co scan emitting both endpoints row-locally, not two
    // union branches each re-scanning the cache (r16)
    val deg = co.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val arcs = graft.core.CacheScope.persist(co
      .join(deg.select(col("node").as("un"), col("deg").as("du")), col("u") === col("un"))
      .join(deg.select(col("node").as("vn"), col("deg").as("dv")), col("v") === col("vn"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst")),
      GraphPersistLevel)
    // one driver scalar (q68's convergence-scalar pattern): materializes
    // the arc persist and picks the strategy for both adjacency attaches
    val adj = graft.core.CacheScope.persist(
      arcs.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs")),
      GraphPersistLevel)
    // the one driver scalar, now read THROUGH the adjacency: Σ|N⁺(src)|
    // IS the arc count, and aggregating it off `adj` materializes BOTH
    // caches (arcs upstream, adj itself) in this single action — r16:
    // with `arcs.count()` the adj cache was still cold when AQE
    // submitted the two closing broadcast builds concurrently, and the
    // twins RACED the materialization, each running the full
    // groupBy/sort_array aggregation (measured as duplicated ~2.5 CPU-s
    // twin stages); served from warm blocks the second build is a scan
    val nArcs = adj.agg(coalesce(sum(size(col("nbrs"))), lit(0L)))
      .collect()(0).getLong(0)
    val small = nArcs <= maxBroadcastArcs
    val adjU = adj.select(col("src").as("au"), col("nbrs").as("nu"))
    val adjV = adj.select(col("src").as("av"), col("nbrs").as("nv"))
    // NOTE: an explode-derived edge stream (explode the cached
    // adjacency so each arc arrives carrying nu, closing on a single
    // dst-side join) was tried and REVERTED on measurement: Profile min
    // 4.54 s vs 3.68 s here, and 13.3 s vs 7.8 s inside a bench run on
    // a memory-bandwidth-contended host. Carrying the nu array through
    // the Generate materializes O(|N⁺(src)|) bytes PER ARC — the wedge
    // space in byte form — where this spelling's second broadcast
    // probe fetches the same array by reference from the build-side
    // hash map. The narrow (src, dst) arc stream through two probes
    // moves strictly less memory than one probe fed by array-wide rows.
    // counting stage: a triangle (u,v,w) credits all three parts, but
    // only w needs a per-triangle row — u and v's credits are the SAME
    // count (|ws|) for every triangle at this base edge, so they ride
    // as two arithmetic rows per edge. One explode of (2 + |ws|)
    // structs replaces the explode-then-explode spelling's 3·|ws| rows
    // (at sf0.1: ~2.9 M rows into the partial agg instead of ~5.7 M)
    orderAll(arcs.as("e")
      .join(if (small) broadcast(adjU) else adjU, col("e.src") === col("au"))
      .join(if (small) broadcast(adjV) else adjV, col("e.dst") === col("av"))
      .select(col("e.src").as("u"), col("e.dst").as("v"),
        // the adjacency build sort_array'ed both lists, so the closing
        // intersection is the native two-pointer merge kernel — not
        // array_intersect, which cannot assume order and builds a hash
        // set per row (graft.functions.SortedIntersect scaladoc)
        graft.functions.SortedIntersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(explode(concat(
          array(
            struct(col("u").as("p"), size(col("ws")).cast("long").as("c")),
            struct(col("v").as("p"), size(col("ws")).cast("long").as("c"))),
          transform(col("ws"), w => struct(w.as("p"), lit(1L).as("c"))))).as("pc"))
      .groupBy(col("pc.p").as("part_id")).agg(sum(col("pc.c")).as("n_tri")))
  }

  val defs: Map[String, Q] = Map(
    "q111_pagerank" -> q111PageRank,
    "q115_triangle_count" -> q115TriangleCount)

  val oracles: Map[String, String] = Map(
    "q115_triangle_count" ->
      // same degree-oriented compact-forward enumeration: each triangle
      // appears exactly once as the path u->v->w plus the closing arc;
      // the order-width cap interpolates the engine's dial so both
      // sides drop the same pathological wide orders
      s"""WITH li AS (SELECT l_orderkey, l_partkey FROM (
        |        SELECT l_orderkey, l_partkey,
        |               count(*) OVER (PARTITION BY l_orderkey) AS w
        |        FROM lineitem) WHERE w <= $MaxOrderWidth),
        |co AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |            FROM li a JOIN li b
        |            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |        FROM (SELECT u AS node FROM co UNION ALL SELECT v FROM co)
        |        GROUP BY 1),
        |arcs AS (SELECT
        |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND co.u < co.v)
        |         THEN co.u ELSE co.v END AS src,
        |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND co.u < co.v)
        |         THEN co.v ELSE co.u END AS dst
        |  FROM co JOIN deg du ON co.u = du.node JOIN deg dv ON co.v = dv.node),
        |tri AS (SELECT a1.src AS tu, a1.dst AS tv, a2.dst AS tw
        |        FROM arcs a1 JOIN arcs a2 ON a1.dst = a2.src
        |        WHERE EXISTS (SELECT 1 FROM arcs a3
        |                      WHERE a3.src = a1.src AND a3.dst = a2.dst))
        |SELECT part_id, CAST(count(*) AS BIGINT) AS n_tri
        |FROM (SELECT tu AS part_id FROM tri
        |      UNION ALL SELECT tv FROM tri
        |      UNION ALL SELECT tw FROM tri)
        |GROUP BY 1
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,
    "q111_pagerank" ->
      // 2-round unrolled mirror: same node encoding, same symmetrized
      // distinct edge set, same BIGINT floor-division arithmetic
      // (DuckDB // ≡ Spark div on the positive ranks here); sums cast
      // back to BIGINT (DuckDB sum() widens to HUGEINT)
      """WITH e0 AS (
        |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM e0
        |          UNION ALL SELECT s, c FROM e0),
        |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
        |seed AS (SELECT 1000000 // count(*) AS mic FROM deg),
        |p0 AS (SELECT node, outdeg, (SELECT mic FROM seed) AS pr FROM deg),
        |m1 AS (SELECT e.dst AS node, CAST(sum(p.pr // p.outdeg) AS BIGINT) AS im
        |       FROM edges e JOIN p0 p ON e.src = p.node GROUP BY 1),
        |p1 AS (SELECT d.node, d.outdeg,
        |         (15 * (SELECT mic FROM seed) + 85 * coalesce(m1.im, 0)) // 100 AS pr
        |       FROM deg d LEFT JOIN m1 ON d.node = m1.node),
        |m2 AS (SELECT e.dst AS node, CAST(sum(p.pr // p.outdeg) AS BIGINT) AS im
        |       FROM edges e JOIN p1 p ON e.src = p.node GROUP BY 1),
        |p2 AS (SELECT d.node, d.outdeg,
        |         (15 * (SELECT mic FROM seed) + 85 * coalesce(m2.im, 0)) // 100 AS pr
        |       FROM deg d LEFT JOIN m2 ON d.node = m2.node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
        |  node // 2 AS entity_id, outdeg, CAST(pr AS BIGINT) AS pr_mic
        |FROM p2
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin)
}
