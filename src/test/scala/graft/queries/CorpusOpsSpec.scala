package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts for the round-8 corpus-preparation operators
  * (CorpusOps). The DuckDB oracles pin exact values; these pin the
  * SEMANTIC invariants that stay true on any corpus — so a fixture
  * regeneration can't silently green a wrong implementation. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("q116: neighbor-band blocking catches the boundary pair; lang and distance gate") {
    val dir = tmpDir("q116docs")
    val base = "the quick brown fox jumps over the lazy dog again"
    Seq(
      // A/B: 1-char prefix edit, n_chars 199 vs 200 — bands 1 and 2,
      // so only the neighbor-band overlap can pair them
      (1L, base, "en", 199L),
      (2L, base.replace("quick", "quack"), "en", 200L),
      // C: same block as A but unrelated prefix — must fail the lev<=8 gate
      (3L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp", "en", 150L),
      // D: identical prefix to A but another lang — blocking excludes it
      (4L, base, "de", 199L),
      // E: far above every other band — never a candidate
      (5L, base, "en", 499L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    val got = CorpusOps.q116DedupFuzzy(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L)),
      s"expected exactly the cross-band (1,2) pair at distance 1, got $got")
  }

  test("q48: OOV counts re-verify against a driver-side vocab cut") {
    // rebuild the top-V vocab independently (collect the token counts,
    // apply the same (ct desc, tok asc) total order) and recompute every
    // doc's OOV count — the engine's distributed broadcast-join answer
    // must match the sequential reference exactly
    val rows = CorpusOps.q48OovRate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 500)
    val toks = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").filter(_.nonEmpty).toSeq).toMap
    val vocab = toks.values.flatten.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (t, c) => (-c, t) }
      .take(LlmOps.geom.oovVocabSize).map(_._1).toSet
    rows.foreach { case (id, nToks, nOov, ppm) =>
      val ts = toks(id)
      assert(nToks == ts.length, s"doc $id token count")
      assert(nOov == ts.count(!vocab(_)), s"doc $id OOV count")
      assert(ppm == 1000000L * nOov / nToks, s"doc $id ppm floor")
    }
    // the cut must bite on this corpus: both covered and OOV tokens exist
    assert(rows.exists(_._3 > 0), "no OOV tokens — vocab cut is degenerate here")
    assert(rows.exists(r => r._3 < r._2), "everything OOV — vocab join broken")
  }

  test("q48: zero-token documents stay in the report with a NULL rate") {
    // the parquet fixture has no empty docs, so the totality contract is
    // probed on a synthetic frame: a doc whose text yields no non-empty
    // tokens must still get a row — zeros and NULL rate, not absence
    import spark.implicits._
    val docs = Seq((1L, "the a of and."), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val out = CorpusOps.oovReport(docs, 2).orderBy("doc_id").collect()
    assert(out.length == 3, "every input doc must appear in the report")
    assert(out(0).getLong(1) == 4 && out(0).getLong(2) == 2,
      "doc 1: 4 tokens, vocab {a, and.} leaves {of, the} OOV")
    out.drop(1).foreach { r =>
      assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.isNullAt(3),
        s"doc ${r.getLong(0)}: zero-token doc must report zeros and NULL rate")
    }
  }

  test("q69: every flagged doc is genuinely contained in its kept_by container") {
    // re-verify the output against the corpus: token-aligned containment
    // must hold for the (doc_id, kept_by) pair the query reports, the
    // drop rule must point at the survivor, and nothing self-references
    val out = CorpusOps.q69DedupSubstring(spark, sf)
    val corpus = LlmOps.docsWithNearDups(spark, sf)
      .select(col("doc_id"), col("text"))
    val reverified = out
      .join(corpus.withColumnRenamed("doc_id", "did").withColumnRenamed("text", "ce_text"),
        col("doc_id") === col("did"))
      .join(corpus.withColumnRenamed("doc_id", "kid").withColumnRenamed("text", "cont_text"),
        col("kept_by") === col("kid"))
    val n = out.count()
    assert(n > 0, "no containment found despite planted truncation copies")
    assert(out.filter(col("doc_id") === col("kept_by")).count() == 0)
    val holds = reverified.filter(
      instr(concat(lit(" "), col("cont_text"), lit(" ")),
        concat(lit(" "), col("ce_text"), lit(" "))) > 0 &&
      (length(col("ce_text")) < length(col("cont_text")) ||
        (length(col("ce_text")) === length(col("cont_text")) &&
          col("doc_id") > col("kept_by")))).count()
    assert(holds == n, s"${n - holds} flagged pairs fail re-verification")
  }

  test("q69: the planted truncation copies are found (recall on discoverable plants)") {
    // each mutated doc (id+1e6, last token dropped) is a true substring
    // of its original; the only sanctioned misses are docs shorter than
    // one shingle or whose OPENING trigram is df-capped boilerplate —
    // at sf0.001 that must still leave the vast majority discoverable
    val out = CorpusOps.q69DedupSubstring(spark, sf)
    val planted = out.filter(col("doc_id") >= 1000000L).count()
    val total = LlmOps.docsWithNearDups(spark, sf)
      .filter(col("doc_id") >= 1000000L).count()
    assert(planted >= (total * 8) / 10,
      s"only $planted of $total planted truncation copies flagged")
  }

  test("q70: rarity is >= 1, spread is real, and the score is reproducible") {
    // mean inverse relative frequency: every per-token term is
    // (1e6·total) div ct >= 1e6 since ct <= total, so the mean is >= 1
    // on ANY corpus; equality only for a corpus of one repeated token
    val r = CorpusOps.q70RarityScore(spark, sf)
    val rows = r.collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getDouble(2) >= 1.0))
    assert(rows.map(_.getDouble(2)).distinct.length > 100,
      "rarity collapsed to a near-constant — frequency join is broken")
    assert(rows.sameElements(CorpusOps.q70RarityScore(spark, sf).collect()))
  }

  test("q70: ippm is exact where the naive product wraps, and saturates at the cap") {
    // the naive (1e6·total) div ct wraps BIGINT once 1e6·total > 2⁶³−1;
    // the shipped decomposition must match exact BigInt arithmetic there,
    // match the naive formula in the gate-SF regime, and saturate (not
    // wrap) at ratio >= 1e6
    import spark.implicits._
    val cases = Seq(
      (60000L, 37L),                           // gate-SF regime
      (60000L, 60000L),                        // ratio 1 → exactly 1e6
      (7L, 3L),                                // floor semantics
      (8000000000000000L, 9000000000L),        // naive wraps; ratio < cap
      (9000000000000000000L, 1000000000000L))  // naive wraps; ratio ≥ cap
    val got = cases.toDF("total", "ct")
      .select(col("total"), col("ct"), CorpusOps.ippmExpr.as("ippm"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (t, c) =>
      val want =
        if (t / c >= 1000000L) BigInt(1000000000000L)
        else (BigInt(1000000) * t) / c
      assert(BigInt(got((t, c))) == want, s"($t, $c): got ${got((t, c))}, want $want")
    }
  }

  test("q71: the band keeps ~90% per language and bounds are corpus order statistics") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val kept = CorpusOps.q71LengthBandFilter(spark, sf)
    val fr = kept.groupBy("lang").agg(count(lit(1)).as("k"))
      .join(d.groupBy("lang").agg(count(lit(1)).as("n")), Seq("lang"))
      .select(col("lang"), col("k").cast("double") / col("n"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fr.nonEmpty)
    fr.foreach { case (lang, f) =>
      assert(f >= 0.85 && f <= 0.97, s"$lang kept fraction $f outside the p5–p95 band")
    }
    // lo/hi must be actual observed lengths for the language, not interpolations
    val badBounds = kept.select(col("lang"), col("lo")).distinct()
      .unionByName(kept.select(col("lang"), col("hi").as("lo")).distinct())
      .join(d.select(col("lang"), col("n_chars")).distinct()
        .withColumnRenamed("n_chars", "lo"), Seq("lang", "lo"), "left_anti")
      .count()
    assert(badBounds == 0, "a band bound is not an observed n_chars value")
  }

  test("q72: shards are dense permutations and the interleave is collision-free") {
    val s = CorpusOps.q72ShuffleShard(spark, sf)
    val n = s.count()
    assert(n == 500)
    assert(s.select("doc_id").distinct().count() == n)
    assert(s.select("global_pos").distinct().count() == n,
      "global interleave produced colliding positions")
    assert(s.filter(col("shard") < 0 || col("shard") > 7).count() == 0)
    // per shard, positions are exactly 1..count (dense rank, no gaps)
    val dense = s.groupBy("shard")
      .agg(count(lit(1)).as("c"), max(col("shard_pos")).as("m"),
        min(col("shard_pos")).as("lo"))
      .filter(col("m") =!= col("c") || col("lo") =!= 1)
      .count()
    assert(dense == 0, "a shard's positions are not a dense 1..n sequence")
  }

  test("q73: assignment is total, self-consistent for centroids, and cosine-bounded") {
    val a = CorpusOps.q73ClusterAssign(spark, sf).collect()
    assert(a.length == 500)
    assert(a.forall(r => r.getDouble(2) >= -1.000001 && r.getDouble(2) <= 1.000001))
    // a centroid's nearest centroid is itself, at cosine exactly 1
    val self = a.filter(_.getLong(0) < 8)
    assert(self.length == 8)
    self.foreach { r =>
      assert(r.getLong(1) == r.getLong(0), s"centroid ${r.getLong(0)} assigned elsewhere")
      assert(r.getDouble(2) == 1.0)
    }
    assert(a.map(_.getLong(1)).distinct.length > 1, "all vectors collapsed to one cluster")
  }

  test("q74: per-cluster samples are dense ranks with non-increasing similarity") {
    val s = CorpusOps.q74ClusterBalancedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(s.nonEmpty)
    s.groupBy(_._1).foreach { case (cid, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to rows.length),
        s"cluster $cid ranks are not dense 1..${rows.length}")
      assert(rows.length <= 10, s"cluster $cid kept ${rows.length} > 10 rows")
      assert(byRank.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._4),
        s"cluster $cid similarity not non-increasing in rank")
    }
  }

  test("q75: knn neighbors are bucket-consistent, ranked densely, never self") {
    val out = CorpusOps.q75KnnJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty, "no vector found any bucket peer — geometry degenerate")
    assert(out.forall(r => r._1 != r._3), "a vector is its own neighbor")
    out.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"query $qid ranks are not dense 1..${rows.length}")
      assert(rows.length <= 3)
    }
    // every reported neighbor pair genuinely shares an SRP bucket: the
    // pair set must be symmetric at the CANDIDATE level — if (a,b) is
    // reported, b had a in its candidate set too (b may rank it out, but
    // b must then have >= as many neighbors as a's rank of b implies)
    val neighborCount = out.groupBy(_._1).map { case (q, rs) => q -> rs.length }
    out.foreach { case (q, _, n, _) =>
      assert(neighborCount.contains(n),
        s"$n is a neighbor of $q but has no neighbors itself — bucket asymmetry")
    }
  }

  test("q100: IVF neighbors come from probed cells only, ranked densely, with real recall") {
    val out = CorpusOps.q100KnnIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty, "no query found any cell member")
    assert(out.forall(r => r._1 != r._3), "a query is its own neighbor")
    out.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"query $qid ranks are not dense 1..${rows.length}")
      assert(rows.length <= 3)
    }
    // recall vs the exact q82 brute-force baseline: probing 2/8 cells
    // must recover a meaningful share of the true top-3 (the remedy for
    // the rest is nProbe, q91's radius-knob analog)
    val truth = graft.queries.LlmOps.q82SimilarityTopk(spark, sf).collect()
      .filter(_.getInt(1) <= 3) // q82 reports top-5; the IVF contract is top-3
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = out.map(r => (r._1, r._3)).toSet
    val recall = (truth & got).size.toDouble / truth.size
    info(f"q100 recall vs q82 top-3: $recall%.2f")
    assert(recall >= 0.3, f"IVF recall $recall%.2f collapsed below 0.3")
  }

  test("q101: PQ/ADC neighbors are probed-cell members, ranked densely, with real recall") {
    val out = CorpusOps.q101KnnPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty, "no query produced a PQ neighbor")
    assert(out.forall(r => r._1 != r._3), "a query is its own neighbor")
    out.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"query $qid ranks are not dense 1..${rows.length}")
      assert(rows.length <= 3)
    }
    // recall vs the exact q82 brute-force baseline. PQ adds quantization
    // loss ON TOP of q100's cell-probe loss, but the 10-deep exact
    // re-rank claws most of it back — it must not collapse below the
    // same floor q100 is held to (the remedies are nProbe and m).
    val truth = graft.queries.LlmOps.q82SimilarityTopk(spark, sf).collect()
      .filter(_.getInt(1) <= 3)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = out.map(r => (r._1, r._3)).toSet
    val recall = (truth & got).size.toDouble / truth.size
    info(f"q101 recall vs q82 top-3: $recall%.2f")
    assert(recall >= 0.3, f"IVF-PQ recall $recall%.2f collapsed below 0.3")
    // finer quantization can only widen what the ADC shortlist sees:
    // m=16 (4-dim sub-spaces) must not do worse than the declared m=8
    val fine = CorpusOps.q101WithPq(8, 2, 16, 8, 10)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val fineRecall = (truth & fine).size.toDouble / truth.size
    info(f"q101 recall at m=16: $fineRecall%.2f")
    assert(fineRecall >= recall - 0.15,
      f"recall fell sharply under finer quantization: $fineRecall%.2f vs $recall%.2f")
  }

  test("q105: boilerplate coverage flags near-pure template pages, spares substantial ones") {
    val rows = CorpusOps.q105BoilerplateCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
    val base = spark.read.parquet(s"$sf/documents.parquet").count()
    val nPure = rows.count(_._1 >= 5000000)
    assert(rows.length == base + nPure, "one verdict per doc (base + planted pages)")
    // every planted near-pure boilerplate page must flag: its 10 tail
    // shingles are corpus-common (df > cap across ~1/7 of the corpus +
    // all plants), its 1 filler junction shingle is not
    val pure = rows.filter(_._1 >= 5000000)
    assert(pure.nonEmpty && pure.forall(_._5),
      s"unflagged template pages: ${pure.filterNot(_._5).map(_._1).toSeq}")
    assert(pure.forall(t => t._4.exists(_ >= 0.8)),
      "template-page coverage should be ≈10/11")
    // docs that never touch the plant must not flag (at this SF no
    // natural trigram crosses the df cap, so their coverage is 0)
    val untouched = rows.filter(t => t._1 < 5000000 && t._1 % 7 != 0)
    assert(untouched.forall(t => !t._5), "an ordinary doc flagged as boilerplate")
    // every footer-bearing doc sees the common head (its 10 tail
    // shingles), and a footer on a SUBSTANTIAL page must not flag it
    val appended = rows.filter(t => t._1 < 5000000 && t._1 % 7 == 0)
    assert(appended.forall(_._3 >= 10), "a footer-bearing doc missed the common head")
    assert(appended.filter(_._2 >= 40).forall(!_._5),
      "a substantial page was flagged for carrying a footer")
  }

  test("q108: Lloyd refinement — full structure, and WCSS never increases") {
    import org.apache.spark.sql.functions._
    val rows = CorpusOps.q108KmeansRefine(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val nVec = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == 8 * 64, s"expected k·dim centroid rows, got ${rows.length}")
    assert(rows.map(_._1).distinct.sorted.toSeq == (0 until 8),
      "a cluster emptied out on this fixture — seed choice regressed")
    assert(rows.groupBy(_._1).map(_._2.head._2).sum == nVec,
      "membership must partition the vector set")
    // the Lloyd invariant: each assign+recenter round cannot increase
    // the within-cluster sum of squares (that monotonicity is WHY the
    // loop converges) — measure WCSS under the seed centroids, after 1
    // round, and after 2
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    def wcss(cent: Map[Int, Seq[Double]]): Double = {
      val bc = cent.toSeq
      v.collect().map { r =>
        val e = r.getSeq[Double](1)
        bc.map { case (_, c) =>
          e.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
        }.min
      }.sum
    }
    val seed = v.filter(col("vec_id") < 8).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Double](1).toSeq).toMap
    def centroidsOf(rounds: Int): Map[Int, Seq[Double]] =
      CorpusOps.q108WithRounds(8, rounds)(spark, sf).collect()
        .map(r => (r.getInt(0), r.getInt(2), r.getDouble(3)))
        .groupBy(_._1).map { case (c, a) => c -> a.sortBy(_._2).map(_._3).toSeq }
    val w0 = wcss(seed); val w1 = wcss(centroidsOf(1)); val w2 = wcss(centroidsOf(2))
    info(f"WCSS seed=$w0%.2f round1=$w1%.2f round2=$w2%.2f")
    assert(w1 <= w0 + 1e-6, s"round 1 increased WCSS: $w0 -> $w1")
    assert(w2 <= w1 + 1e-6, s"round 2 increased WCSS: $w1 -> $w2")
  }

  test("q109: planted chrome lines are cut, everything else survives verbatim") {
    val rows = CorpusOps.q109LineDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val orig = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.length == orig.size, "one rewritten doc per input doc")
    rows.foreach { case (id, nLines, nRemoved, text) =>
      val expectRemoved = (if (id % 5 == 0) 1 else 0) + (if (id % 7 == 0) 1 else 0)
      assert(nRemoved == expectRemoved,
        s"doc $id removed $nRemoved lines, plant says $expectRemoved")
      assert(nLines >= 1 && nRemoved <= nLines)
      // the rebuild must return EXACTLY the original token stream: the
      // plant is whole prepended lines, so cutting them restores the
      // source text byte-for-byte (the grid itself must not mangle docs
      // whose length is not a multiple of the line width)
      assert(text == orig(id),
        s"doc $id rebuilt text differs from the original")
    }
    assert(rows.count(_._3 > 0) ==
      orig.keys.count(id => id % 5 == 0 || id % 7 == 0))
  }

  test("q110: every planted near-copy is cut inside its source's cluster") {
    val rows = CorpusOps.q110SemanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val byId = rows.map(r => r._1 -> r).toMap
    val nBase = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == 2 * nBase, "one verdict per vector incl. plants")
    // a near-identical copy whose cluster assignment agrees with its
    // source must be cut by SOME lower id at >= 0.95 (usually the
    // source itself); a copy may legitimately stray to a different
    // cluster when the source's top-2 centroids are near-tied and the
    // last-component nudge flips the 6-dp argmax — SemDeDup's
    // documented recall limit (clustering is the candidate generator) —
    // but that must stay a rare-tie phenomenon, not the norm
    val copies = rows.filter(_._1 >= 1000000)
    val strayed = copies.filter(c => byId(c._1 - 1000000)._2 != c._2)
    assert(strayed.length * 20 <= copies.length,
      s"${strayed.length}/${copies.length} copies strayed from their " +
        "source's cluster — the plant is not landing near its source")
    (copies.toSet -- strayed.toSet).foreach { case (id, _, kept, dupOf) =>
      assert(!kept, s"planted copy $id survived semantic dedup")
      assert(dupOf.exists(_ < id), s"copy $id lacks a lower-id dup_of")
    }
    // kept/dup partition the corpus and dup_of is present iff cut
    assert(rows.forall(r => r._3 == r._4.isEmpty))
    // sources are never cut by their own (higher-id) copies
    assert(rows.filter(r => r._1 < 1000000 && !r._3)
      .forall(r => r._4.get < 1000000))
  }

  test("q78: exactly fifty distinct merge candidates, all genuine adjacent pairs") {
    val rows = CorpusOps.q78BpeBigrams(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 50, s"expected the top-50 cut, got ${rows.length}")
    assert(rows.map(t => (t._1, t._2)).distinct.length == 50)
    assert(rows.forall(r => r._1.nonEmpty && r._2.nonEmpty && r._3 >= 1))
    // spot re-verification: the corpus really contains each reported pair
    // adjacently at least once (guards against off-by-one in the index
    // arithmetic silently pairing non-adjacent tokens)
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(_.getAs[String]("text"))
    rows.take(5).foreach { case (t1, t2, _) =>
      assert(corpus.exists(_.contains(s"$t1 $t2")),
        s"reported bigram ($t1, $t2) never occurs adjacently")
    }
  }

  test("q144: three merge rounds on a hand-countable corpus — tie-break, greedy self-pair runs, merged-symbol recursion") {
    // doc 1 exercises repeated-pair application, doc 2 a self-pair run
    // (where greedy leftmost parity bites: 5 c's -> [cc, cc, c], not 4
    // overlapping merges), doc 3 ties round 1 at cnt 4 where the pair
    // tie-break must pick (a,b) over (c,c)
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "c c c c c"),
      (3L, "a b c")).toDF("doc_id", "text")
    val S = "\u0001"
    val got = CorpusOps.bpeMergeLoop(docs, rounds = 3, topK = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getBoolean(5)))
      .sortBy(x => (x._1, x._2))
    val ab = s"a${S}b"
    val cc = s"c${S}c"
    assert(got.toSeq == Seq(
      // round 1: (a,b)=4 (3 in doc1 + doc3) ties (c,c)=4 — pair asc wins
      (1L, 1L, "a", "b", 4L, true),
      (1L, 2L, "c", "c", 4L, false),
      (1L, 3L, "b", "a", 2L, false),
      (1L, 4L, "b", "c", 1L, false),
      // round 2: doc1 is [ab ab ab], doc3 [ab c]; (c,c) still 4, wins
      (2L, 1L, "c", "c", 4L, true),
      (2L, 2L, ab, ab, 2L, false),
      (2L, 3L, ab, "c", 1L, false),
      // round 3: doc2 collapsed greedily to [cc cc c]
      (3L, 1L, ab, ab, 2L, true),
      (3L, 2L, ab, "c", 1L, false),
      (3L, 3L, cc, "c", 1L, false),
      (3L, 4L, cc, cc, 1L, false)),
      s"merge loop diverged:\n${got.mkString("\n")}")
  }

  test("q144: pair exhaustion ends the loop gracefully, matching the oracle's empty rounds") {
    // two 2-token docs: round 1 merges the only pair, every doc
    // collapses to one token, and round 2 finds nothing — the engine
    // must emit round 1's table and stop (the unrolled oracle's k2/k3
    // CTEs are empty), not abort
    val docs = Seq(1L -> "a b", 2L -> "a b").toDF("doc_id", "text")
    val got = CorpusOps.bpeMergeLoop(docs, rounds = 3, topK = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(got == Seq((1L, 1L, "a", "b", 2L, true)), s"got $got")
    // fully degenerate corpus: no pairs in round 1 either — empty
    // answer with the right schema, still no abort
    val solo = Seq(1L -> "x").toDF("doc_id", "text")
    assert(CorpusOps.bpeMergeLoop(solo, rounds = 2, topK = 5).collect().isEmpty)
  }

  test("q149: encode applies ALL learned merges (incl. the last round's) and short docs pass through") {
    // q144's hand corpus (same learned winners by the shared total
    // order: r1 (a,b), r2 (c,c), r3 (ab,ab)) + a 1-token and an empty
    // doc for the TOTAL pass-through arm
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "c c c c c"),
      (3L, "a b c"),
      (4L, "x"),
      (5L, "")).toDF("doc_id", "text")
    val got = CorpusOps.bpeEncode(docs, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      // [a b a b a b] -> [ab ab ab] -> (c,c) no-op -> [abab ab]:
      // round 3's winner IS applied (q144 would stop at [ab ab ab])
      (1L, 6L, 2L, 2L),
      // [c c c c c] -> greedy parity [cc cc c]: 2 merged symbols
      (2L, 5L, 3L, 2L),
      // [a b c] -> [ab c]
      (3L, 3L, 2L, 1L),
      (4L, 1L, 1L, 0L),
      (5L, 0L, 0L, 0L)),
      s"encode diverged:\n${got.mkString("\n")}")
  }

  test("q149: merge exhaustion leaves the stream as-rewritten; later rounds are no-ops") {
    // round 1 merges the only pair everywhere; rounds 2..4 find nothing
    // and must leave [ab] docs intact (the oracle's LEFT-joined empty
    // winner is a no-op, not an annihilation)
    val docs = Seq(1L -> "a b", 2L -> "a b").toDF("doc_id", "text")
    val got = CorpusOps.bpeEncode(docs, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 1L, 1L), (2L, 2L, 1L, 1L)), s"got $got")
  }

  test("q150: artifact-path encode (learnMerges + BpeEncoder) is row-identical to q149's loop encode") {
    // the production-posture claim: per-doc sequential application of
    // the shipped ordered merge list computes exactly what the
    // corpus-level loop computed — q149's hand corpus, all three rounds
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "c c c c c"),
      (3L, "a b c"),
      (4L, "x"),
      (5L, "")).toDF("doc_id", "text")
    val merges = CorpusOps.learnMerges(docs, rounds = 3)
    val ab = "a" + CorpusOps.BpeSep + "b"
    assert(merges == Seq(("a", "b"), ("c", "c"), (ab, ab)),
      s"unexpected merge list: $merges")
    val loop = CorpusOps.bpeEncode(docs, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val artifact = graft.streaming.BpeEncoder.encode(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(artifact == loop,
      s"artifact encode diverged from the loop:\nartifact-only=${artifact -- loop}\nloop-only=${loop -- artifact}")
  }

  test("q168: probing every cell collapses IVF to exhaustive search — recall reads exactly 1.0") {
    // the audit's own calibration: at nProbe = codebook size the
    // candidate set contains the whole corpus, so n_hit == n_exact and
    // recall_ppm == 1000000 for EVERY query; a miss here would mean the
    // audit compares against the wrong ground truth or breaks ties
    // differently across arms
    val rows = CorpusOps.annRecallWith(8)(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10, s"expected the 10-query panel, got ${rows.length}")
    rows.foreach { case (qid, nExact, nHit, ppm) =>
      assert(nExact == 3L && nHit == 3L && ppm == 1000000L,
        s"query $qid: full-probe recall not 1.0 ($nExact/$nHit/$ppm)")
    }
    // and the declared nProbe=2 audit is bounded + non-degenerate
    val declared = CorpusOps.q168AnnRecall(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(2), r.getLong(1)))
    assert(declared.forall { case (h, e) => h >= 0 && h <= e },
      "n_hit out of [0, n_exact]")
  }

  test("BpeTable: memoized merges equal a fresh learn; a regenerated corpus invalidates the entry") {
    import spark.implicits._
    val dir = tmpDir("bpetable")
    Seq((1L, "a b a b a b"), (2L, "c c c c c"), (3L, "a b c"))
      .toDF("doc_id", "text")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    val fresh = CorpusOps.learnMerges(
      spark.read.parquet(s"$dir/documents.parquet"), rounds = 2)
    val memo1 = CorpusOps.BpeTable.of(spark, dir, rounds = 2)
    assert(memo1 == fresh, s"memoized $memo1 != fresh $fresh")
    assert(CorpusOps.BpeTable.of(spark, dir, rounds = 2) == memo1)
    // regenerate the corpus with a DIFFERENT dominant pair: the content
    // fingerprint changes, so the memo must relearn, not serve stale
    Thread.sleep(5) // mtime granularity guard for the size-equal case
    Seq((1L, "x y x y x y"), (2L, "z z z z z"), (3L, "x y z"))
      .toDF("doc_id", "text")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    val memo3 = CorpusOps.BpeTable.of(spark, dir, rounds = 2)
    assert(memo3.head == (("x", "y")),
      s"stale merges served after corpus regeneration: $memo3")
  }

  test("q156: decode∘encode reproduces the normalized text; a raw separator byte is caught") {
    // q149's hand corpus plus doc 6, whose RAW text carries the 0x01
    // merge-seam byte — the collision class the round-trip audit exists
    // to flag: its decode reads "q w x", not the original
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "c c c c c"),
      (3L, "a b c"),
      (4L, "x"),
      (5L, ""),
      (6L, "q" + CorpusOps.BpeSep + "w x")).toDF("doc_id", "text")
    val merges = CorpusOps.learnMerges(docs, rounds = 2)
    assert(merges == Seq(("a", "b"), ("c", "c")), s"merge list: $merges")
    val got = CorpusOps.bpeRoundTrip(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
      .sortBy(_._1).toSeq
    assert(got.filter(_._1 != 6L).forall(_._5),
      s"a clean doc failed its round-trip:\n${got.mkString("\n")}")
    assert(!got.find(_._1 == 6L).get._5,
      "the planted separator collision went undetected")
    // decoded char counts equal the normalized-text length everywhere —
    // translate is 1:1 — including the flagged doc
    val norm = Map(1L -> "a b a b a b", 2L -> "c c c c c", 3L -> "a b c",
      4L -> "x", 5L -> "", 6L -> "q w x")
    // raw token counts come from the RAW text (doc 6's 0x01-carrying
    // token is ONE raw token; its decode expands to two words)
    val nRawExp = Map(1L -> 6L, 2L -> 5L, 3L -> 3L, 4L -> 1L, 5L -> 0L,
      6L -> 2L)
    got.foreach { case (id, nRaw, _, nDec, _) =>
      assert(nDec == norm(id).length.toLong, s"doc $id: n_dec_chars $nDec")
      assert(nRaw == nRawExp(id), s"doc $id: n_raw $nRaw")
    }
    // and the encode side matches q149's loop on the shared docs
    val enc = got.map(t => t._1 -> t._3).toMap
    assert(enc(1L) == 3L && enc(2L) == 3L && enc(3L) == 2L &&
      enc(4L) == 1L && enc(5L) == 0L && enc(6L) == 2L,
      s"encoded symbol counts diverged: $enc")
  }

  test("q150: per-language report groups the encode stats under q84's language verdict") {
    // round 1: all pairs count 1, smallest t1 is 'a' -> (a, of) merges
    // only inside doc 1; round 2: 'a<SEP>of' sorts before every plain
    // token (0x01 < any letter) -> (a<SEP>of, and) nests the merge.
    // Language scores ride the RAW text: doc 1 all-English stopwords,
    // doc 2 all-Spanish, docs 3-5 hit nothing -> und (incl. the
    // 1-token and empty pass-through docs).
    val docs = Seq(
      (1L, "the a of and the"),
      (2L, "el la de y"),
      (3L, "foo bar"),
      (4L, "x"),
      (5L, "")).toDF("doc_id", "text")
    val got = CorpusOps.encodeByLang(docs, rounds = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      ("en", 1L, 5L, 3L, 1L, 1.666667),
      ("es", 1L, 4L, 4L, 0L, 1.0),
      ("und", 3L, 3L, 3L, 0L, 1.0)),
      s"report diverged:\n${got.mkString("\n")}")
  }

  test("q151: repetition signals — dup fraction, longest run, modal-bigram fraction, total contract") {
    val docs = Seq(
      // 4 toks, 2 distinct -> dup 0.5; run a,a,a -> 3; bigrams
      // (a,a)x2,(a,b) -> top 2 of 3 slots -> 0.666667
      (1L, "a a a b"),
      // no repetition: dup 0, run 1, single bigram fills its 1 slot
      (2L, "x y"),
      // 1 token: run 1, no bigram slots
      (3L, "z"),
      // empty: all zeros
      (4L, ""),
      // pure loop: dup 0.75, run 4, (t,t) fills all 3 slots
      (5L, "t t t t")).toDF("doc_id", "text")
    val got = CorpusOps.repetitionProfile(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 4L, 0.5, 3L, 0.666667),
      (2L, 2L, 0.0, 1L, 1.0),
      (3L, 1L, 0.0, 1L, 0.0),
      (4L, 0L, 0.0, 0L, 0.0),
      (5L, 4L, 0.75, 4L, 1.0)),
      s"profile diverged:\n${got.mkString("\n")}")
  }

  test("q151: long documents — the bound fold reads real sorted bigram arrays") {
    // fixture documents are too short to exercise the modal-bigram fold
    // on a long sorted array: a looping 3-token phrase and a long run of
    // one token, in both orders of dominance
    val loop = Seq.fill(120)(Seq("alpha", "beta", "gamma")).flatten
    val uniq = (0 until 20).map(i => s"u$i")
    val texts = Seq(
      1L -> (loop ++ Seq.fill(60)("z") ++ uniq),
      2L -> (uniq ++ Seq.fill(300)("z") ++ loop.take(60)))
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def maxRun(xs: Seq[Any]): Long =
      xs.zip(xs.drop(1)).foldLeft((1L, 1L)) { case ((run, best), (a, b)) =>
        val r = if (a == b) run + 1 else 1L
        (r, best max r)
      }._2
    val want = texts.map { case (id, toks) =>
      val n = toks.size
      val bigrams = toks.zip(toks.drop(1))
      val top = bigrams.groupBy(identity).values.map(_.size).max
      (id, n.toLong, round6(1.0 - toks.distinct.size.toDouble / n), maxRun(toks),
        round6(top.toDouble / (n - 1)))
    }
    val docs = texts.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = CorpusOps.repetitionProfile(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(_._1).toSeq
    assert(got == want, s"profile diverged:\n${got.mkString("\n")}")
  }
}
