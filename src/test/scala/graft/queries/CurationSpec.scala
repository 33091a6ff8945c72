package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The composed curation DAG must deliver every stage's contract at
  * once: gate, dedup, quota, split arithmetic, pack budget. */
class CurationSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private lazy val out = Curation.curate(spark, sf,
    minQuality = 0.40, quotaPerLang = 40, packTokens = 256).cache()

  /** q85's quality formula, recomputed independently for the gate check. */
  private def quality = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[.!?,;]", ""))
    val stopR = size(filter(toks,
      tk => tk.isInCollection(Seq("the", "a", "of", "and")))).cast("double") / nTok
    round(lit(0.4) * stopR +
      lit(0.3) * least(lit(1.0), nTok.cast("double") / 100.0) +
      lit(0.3) * (lit(1.0) - punct.cast("double") / length(col("text"))), 6)
  }

  test("curated corpus is deduped, quality-gated, and capped per language") {
    val rows = out.count()
    assert(rows > 0)
    assert(out.select("doc_id").distinct().count() == rows, "duplicate doc_ids")
    val maxPerLang = out.groupBy("lang").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxPerLang <= 40, s"language over quota: $maxPerLang docs")
    // the gate ran: no surviving doc scores under the quality floor
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bad = docs.filter(quality < 0.40).select(col("doc_id"))
    assert(bad.count() > 0, "fixture has no sub-floor docs; gate test is vacuous")
    assert(out.join(bad, Seq("doc_id"), "left_semi").count() == 0,
      "sub-quality docs leaked through the gate")
  }

  test("split tags follow q94's deterministic bucketing") {
    val P = 1000000007L
    val bucket = pmod(pmod(pmod(col("doc_id"), lit(P)) * lit(2654435761L), lit(P)), lit(100L))
    val wrong = out.withColumn("b", bucket)
      .filter(
        (col("b") < 80 && col("split") =!= "train") ||
        (col("b") >= 80 && col("b") < 90 && col("split") =!= "val") ||
        (col("b") >= 90 && col("split") =!= "test"))
      .count()
    assert(wrong == 0, s"$wrong docs carry a split tag inconsistent with their bucket")
  }

  test("packs respect the token budget up to the one-doc overrun bound") {
    // floor-of-prefix-sum packing: a pack's total may exceed the budget
    // only by (its last doc's tokens - 1), never more
    val packs = out.groupBy("split", "source", "pack_id")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as("biggest"))
      .filter(col("tok") >= lit(256) + col("biggest"))
    assert(packs.count() == 0, "a pack overran the budget by more than one document")
  }

  test("LabelTable: the materialized label table is row-identical to a fresh connected-components run") {
    // the memo's entire legitimacy rests on q68Core being a pure
    // function of the corpus: the parquet round-trip must hand every
    // consumer exactly the labels a fresh propagation computes
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val fresh = rows(LlmOps.q68Core(graft.core.Checkpoints.dirFromEnv())(spark, sf))
    val memo1 = rows(LlmOps.LabelTable.of(spark, sf))
    val memo2 = rows(LlmOps.LabelTable.of(spark, sf))
    assert(memo1 == fresh, "materialized labels diverge from a fresh run")
    assert(memo2 == fresh, "second read diverges — the memo is not stable")
  }

  test("LabelTable: a configured base dir (GRAFT_LABEL_DIR posture) gets a stable labels_<fp> table; a corpus rebuild supersedes and deletes it") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // a writable corpus copy, so the corpus can be REGENERATED mid-test
    // (the read-only testdata cannot); each write lands fresh UUID part
    // names + mtimes — exactly what a real corpus rebuild does and what
    // the content fingerprint must catch even inside one mtime tick
    val corpus = tmpDir("graft_labeldir_corpus_")
    val base = tmpDir("graft_labeldir_base_")
    def regen(): Unit = spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    def tables = {
      val s = Files.list(Paths.get(base))
      try s.iterator().asScala.toVector finally s.close()
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    regen()
    val fresh = rows(LlmOps.q68Core(graft.core.Checkpoints.dirFromEnv())(spark, corpus))
    assert(rows(LlmOps.LabelTable.of(spark, corpus, Some(base))) == fresh,
      "configured-path labels diverge from a fresh run")
    val t1 = tables
    assert(t1.size == 1 && t1.head.getFileName.toString.startsWith("labels_"),
      s"expected one labels_<fp> table, got $t1")
    val success = t1.head.resolve("_SUCCESS")
    assert(Files.exists(success), "no _SUCCESS marker — later JVMs could not adopt the table")
    val written = Files.getLastModifiedTime(success)
    // unchanged corpus → same fingerprint → the table is READ, not rebuilt
    assert(rows(LlmOps.LabelTable.of(spark, corpus, Some(base))) == fresh)
    assert(Files.getLastModifiedTime(success) == written,
      "unchanged corpus re-wrote the table — the fingerprint key is unstable")
    // corpus rebuild: fingerprint moves, the superseded table is deleted
    regen()
    assert(rows(LlmOps.LabelTable.of(spark, corpus, Some(base))) == fresh,
      "labels after corpus rebuild diverge (same data, new files)")
    val t2 = tables
    assert(t2.size == 1, s"superseded label table not deleted: $t2")
    assert(t2.head != t1.head, "corpus rebuild did not move the fingerprint key")
  }

  test("GateIndexTable: warehouse posture — stable gateindex_<fp> table, corpus rebuild supersedes and deletes") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // the LabelTable warehouse contract replayed on the gate index:
    // same fingerprint key, same adopt-on-_SUCCESS, same
    // supersede-and-delete when the corpus regenerates
    val corpus = tmpDir("graft_gateidx_corpus_")
    val base = tmpDir("graft_gateidx_base_")
    def regen(): Unit = spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    def tables = {
      val s = Files.list(Paths.get(base))
      try s.iterator().asScala.toVector finally s.close()
    }
    def pairs(index: org.apache.spark.sql.DataFrame) =
      graft.streaming.NearDupGate.verifiedPairs(spark,
          LlmOps.q148Batch(spark, corpus), index, LlmOps.geom)
        .filter(col("b_id") =!= col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    regen()
    val fresh = pairs(LlmOps.GateIndexTable.fresh(spark, corpus))
    assert(fresh.nonEmpty, "no gated pairs — the warehouse pin is vacuous")
    assert(pairs(LlmOps.GateIndexTable.of(spark, corpus, Some(base))) == fresh,
      "warehouse-path index diverges from a fresh build")
    val t1 = tables
    assert(t1.size == 1 && t1.head.getFileName.toString.startsWith("gateindex_"),
      s"expected one gateindex_<fp> table, got $t1")
    val success = t1.head.resolve("_SUCCESS")
    assert(Files.exists(success), "no _SUCCESS marker — later JVMs could not adopt the table")
    val written = Files.getLastModifiedTime(success)
    // unchanged corpus → same fingerprint → the table is READ, not rebuilt
    assert(pairs(LlmOps.GateIndexTable.of(spark, corpus, Some(base))) == fresh)
    assert(Files.getLastModifiedTime(success) == written,
      "unchanged corpus re-wrote the index — the fingerprint key is unstable")
    // corpus rebuild: fingerprint moves, the superseded table is deleted
    regen()
    assert(pairs(LlmOps.GateIndexTable.of(spark, corpus, Some(base))) == fresh,
      "index after corpus rebuild diverges (same data, new files)")
    val t2 = tables
    assert(t2.size == 1, s"superseded index table not deleted: $t2")
    assert(t2.head != t1.head, "corpus rebuild did not move the fingerprint key")
  }

  test("GateIndexTable: the materialized gate index yields exactly a fresh build's verified pairs") {
    // the q148 index memo's legitimacy mirrors LabelTable's: the index
    // is a pure function of the corpus, and the parquet round-trip
    // (bigint shingle arrays, band strings) must hand the gate exactly
    // what a fresh build computes — pinned on the DERIVED artifact (the
    // verified pair set), which is what q148 actually consumes
    import graft.streaming.NearDupGate
    def pairs(index: org.apache.spark.sql.DataFrame) =
      NearDupGate.verifiedPairs(spark, LlmOps.q148Batch(spark, sf),
          index, LlmOps.geom)
        .filter(col("b_id") =!= col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fresh = pairs(LlmOps.GateIndexTable.fresh(spark, sf))
    val memo1 = pairs(LlmOps.GateIndexTable.of(spark, sf))
    val memo2 = pairs(LlmOps.GateIndexTable.of(spark, sf))
    assert(fresh.nonEmpty, "the gate found no pairs — the fixture pin is vacuous")
    assert(memo1 == fresh, "materialized index diverges from a fresh build")
    assert(memo2 == fresh, "second read diverges — the index memo is not stable")
  }

  test("MaterializedTable: racing consumers of one key build the artifact exactly once; hits are served post-race") {
    // the round-13 advice fix made locking PER KEY via
    // ConcurrentHashMap.compute — this pins the exactly-once half: four
    // threads racing on the same (corpus, base) must produce ONE fresh
    // build (compute serializes same-key racers), and every caller —
    // racers and a post-race hit — reads the same rows
    import java.util.concurrent.atomic.AtomicInteger
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val builds = new AtomicInteger(0)
    val tbl = new LlmOps.MaterializedTable("conctest", (s, _) => {
      builds.incrementAndGet()
      s.range(5).toDF("doc_id")
    })
    val counts = Await.result(
      Future.sequence((1 to 4).map(_ =>
        Future(tbl.of(spark, sf).count()))), 120.seconds)
    assert(counts.forall(_ == 5L), s"racer read wrong rows: $counts")
    assert(builds.get == 1,
      s"${builds.get} fresh builds for one key — compute() must serialize same-key racers")
    assert(tbl.of(spark, sf).count() == 5L)
    assert(builds.get == 1, "a post-race hit rebuilt the artifact")
  }

  test("MaterializedTable: staleness keys on the declared source table — an embeddings-keyed memo survives a documents rebuild and invalidates on an embeddings rebuild") {
    // DenseRankTable's defect class: its input is embeddings, so a
    // documents-keyed fingerprint would serve STALE ranks after an
    // embeddings-only regeneration (and uselessly rebuild after a
    // documents-only one)
    import java.util.concurrent.atomic.AtomicInteger
    val corpus = tmpDir("graft_srckey_corpus_")
    def regen(table: String): Unit =
      spark.read.parquet(s"/root/testdata/sf0.001/$table")
        .write.mode("overwrite").parquet(s"$corpus/$table")
    regen("documents.parquet"); regen("embeddings.parquet")
    val builds = new AtomicInteger(0)
    val tbl = new LlmOps.MaterializedTable("srckeytest", (s, _) => {
      builds.incrementAndGet()
      s.range(3).toDF("vec_id")
    }, srcTable = "embeddings.parquet")
    tbl.of(spark, corpus).count()
    assert(builds.get == 1)
    regen("documents.parquet") // NOT the source table
    tbl.of(spark, corpus).count()
    assert(builds.get == 1,
      "a documents rebuild invalidated an embeddings-keyed memo")
    regen("embeddings.parquet") // the source table
    tbl.of(spark, corpus).count()
    assert(builds.get == 2,
      "an embeddings rebuild did NOT invalidate the embeddings-keyed memo")
  }

  test("MaterializedTable: a temp-mode table is registered for deletion at JVM exit, a warehouse table is not") {
    import scala.jdk.CollectionConverters._
    def registered = LlmOps.tempTables.asScala.toSet
    val tbl = new LlmOps.MaterializedTable("exittest", (s, _) => s.range(2).toDF("doc_id"))
    val base = tmpDir("graft_exit_wh_")
    tbl.of(spark, sf, Some(base)).count()
    assert(!registered.exists(_.startsWith(base)), "a warehouse table was registered")
    val before = registered
    tbl.of(spark, sf, None).count()
    val added = registered -- before
    assert(added.size == 1 && added.head.contains("graft_exittest_"), added)
  }

  test("PairTable: the materialized pair universe is row-identical to a fresh ngramPairJaccard run") {
    // q88 (the 0.5 cut) and q169 (the threshold sweep) both read this
    // artifact: the parquet round-trip (BIGINT ids/counts, the
    // already-rounded jacc double) must hand them exactly the pairs a
    // fresh df-capped index + self-join computes
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(r.fieldIndex("d1")), r.getLong(r.fieldIndex("d2")),
        r.getLong(r.fieldIndex("common")), r.getDouble(r.fieldIndex("jacc"))))
      .sorted.toSeq
    val fresh = rows(LlmOps.ngramPairJaccard(spark, sf))
    val memo1 = rows(LlmOps.PairTable.of(spark, sf))
    val memo2 = rows(LlmOps.PairTable.of(spark, sf))
    assert(fresh.nonEmpty, "no candidate pairs — the fixture pin is vacuous")
    assert(memo1 == fresh, "materialized pairs diverge from a fresh build")
    assert(memo2 == fresh, "second read diverges — the pair memo is not stable")
  }

  test("q148: incremental label maintenance ≡ a full connected-components recompute over corpus ∪ batch") {
    // the memo-equality argument extended to deltas: merging the new
    // batch's pairs into the existing table via the affected-subgraph
    // contraction must produce EXACTLY the table a from-scratch
    // propagation over the union pair graph produces — same nodes, same
    // cluster minima, same sizes
    import graft.core.{CacheScope, Checkpoints}
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(r => (r._1, r._2)).toSeq
    val inc = rows(LlmOps.q148LabelIncremental(spark, sf))
    val delta = LlmOps.q148Delta(spark, sf)
    val pairs = LlmOps.q81Pairs(spark, sf).select(col("d1"), col("d2"))
      .unionByName(delta)
    val edges = CacheScope.trackCheckpoint(Checkpoints.truncate(
      pairs.unionByName(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
        .toDF("src", "dst"), None))
    val full = rows(LlmOps.withClusterSizes(
      LlmOps.propagateMin(spark, edges, None)))
    assert(inc.nonEmpty, "empty label table — the fixture planted no near-dups")
    assert(inc == full, {
      val i = inc.toSet; val f = full.toSet
      s"incremental != full: only-incremental ${(i -- f).take(5)}, only-full ${(f -- i).take(5)}"
    })
    // the batch really merged something (a cluster grew) AND most
    // clusters passed through untouched — both arms exercised
    val oldRows = rows(LlmOps.LabelTable.of(spark, sf))
    val oldSizes = oldRows.map(r => (r._1, r._3)).toMap
    assert(inc.exists(r => r._1 < 4000000 && oldSizes.get(r._1).exists(_ < r._3)),
      "no existing cluster grew — the merge arm is vacuous")
    assert(inc.exists(r => oldSizes.get(r._1).contains(r._3)),
      "every cluster changed — the pass-through arm is vacuous")
  }

  test("q131WithLabels: the production entry point picks canonicals off a materialized label table") {
    // the nightly-pipeline spelling: labels come off disk, NOT out of a
    // fresh connected-components pass — the selection step alone must
    // honor the keep-the-longest / smallest-id rule and stay TOTAL
    import spark.implicits._
    val labels = Seq(
      (1L, 10L, 3L), (2L, 10L, 3L), (3L, 10L, 3L), // 3-cluster
      (4L, 40L, 2L), (5L, 40L, 2L),                // tie on length
      (6L, 60L, 1L)                                 // singleton
    ).toDF("doc_id", "cluster_id", "cluster_size")
    val nToks = Seq(1L -> 5L, 2L -> 9L, 3L -> 7L, 4L -> 4L, 5L -> 4L,
      6L -> 2L).toDF("doc_id", "n_toks")
    val got = LlmOps.q131WithLabels(labels, nToks).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false, // longest: doc 2
      4L -> true, 5L -> false,                              // tie: smaller id
      6L -> true),                                          // singleton keeps
      s"canonical picks wrong: $got")
  }

  test("q146: the dedup audit histogram rolls verdicts up by multiplicity with exact token mass") {
    // hand-checkable: two 2-clusters (one with a length tie) and one
    // 3-cluster; n_docs = k·n_clusters, dropped = total − kept mass
    import spark.implicits._
    val labels = Seq(
      (1L, 10L, 3L), (2L, 10L, 3L), (3L, 10L, 3L),
      (4L, 40L, 2L), (5L, 40L, 2L),
      (7L, 70L, 2L), (8L, 70L, 2L)
    ).toDF("doc_id", "cluster_id", "cluster_size")
    val nToks = Seq(1L -> 5L, 2L -> 9L, 3L -> 7L, 4L -> 4L, 5L -> 4L,
      7L -> 10L, 8L -> 6L).toDF("doc_id", "n_toks")
    val v = LlmOps.q131WithLabels(labels, nToks)
    val got = v.groupBy(col("cluster_size"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_toks_total"),
        sum(when(col("keep"), lit(0L)).otherwise(col("n_toks")))
          .as("n_toks_dropped"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      // k=2: clusters {4,5} (8 toks, keep 4 → drop 4) and {7,8}
      // (16 toks, keep 10 → drop 6)
      2L -> ((2L, 4L, 24L, 10L)),
      // k=3: cluster {1,2,3} — 21 toks, keep doc 2 (9) → drop 12
      3L -> ((1L, 3L, 21L, 12L))),
      s"audit histogram wrong: $got")
  }
}
