package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.SketchGeometry

/** Semantics checks for the no-oracle LLM ops (the oracled ones are
  * covered by the driver's DuckDB gate). */
class LlmOpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("q117: quantized surprisal — rare tokens score high, empty docs pin to zero") {
    import spark.implicits._
    val dir = tmpDir("q117docs")
    // corpus unigram counts: the=5, zyxq=1, total=6;
    // bits(the) = floor(log2(6 div 5 = 1)) = 0, bits(zyxq) = floor(log2(6)) = 2
    Seq((1L, "the the the the"), (2L, "the zyxq"), (3L, ""), (4L, "123 456"))
      .toDF("doc_id", "text")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    val got = LlmOps.q117LmScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 4L, 0L, 0L),     // all corpus-typical: zero surprisal
      (2L, 2L, 2L, 1000L),  // the rare token carries 2 bits -> 1000 mbits avg
      (3L, 0L, 0L, 0L),     // empty doc: total contract, no NULLs
      (4L, 0L, 0L, 0L)),    // digits-only: zero [a-z] tokens, same pin
      s"got $got")
  }

  test("q147: hashed-feature classifier scores are the exact integer dot product, verdicts total") {
    import spark.implicits._
    val dir = tmpDir("q147docs")
    Seq((1L, "the cat sat on the mat"), (2L, ""), (3L, "aa bb aa bb"),
      (4L, "zq"), (5L, "a b c d e f g h i j k l m"))
      .toDF("doc_id", "text")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    // independent model: java split (keeping the empty token, Spark's
    // split semantics), q87's token code, the reduced quadratic
    // scramble indexing the published weight table
    def model(text: String): (Long, Long) = {
      val toks = text.split(" ", -1)
      val score = toks.map { t =>
        val code = t.length.toLong * 17 +
          (if (t.isEmpty) 0L else t.charAt(0).toLong)
        LlmOps.QcWeights(math.floorMod(knuthMix2Jvm(code), LlmOps.QcBuckets.toLong).toInt)
      }.sum
      (toks.length.toLong, score)
    }
    val texts = Map(1L -> "the cat sat on the mat", 2L -> "",
      3L -> "aa bb aa bb", 4L -> "zq", 5L -> "a b c d e f g h i j k l m")
    val got = LlmOps.q147QualityClassifier(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.length == 5, "gate is not TOTAL — a doc vanished")
    got.foreach { case (id, nTok, score, keep) =>
      val (en, es) = model(texts(id))
      assert(nTok == en, s"doc $id n_tok $nTok != $en")
      assert(score == es, s"doc $id score $score != $es")
      assert(keep == (score >= 0), s"doc $id verdict inconsistent")
    }
    // the fixture must actually exercise both verdicts
    assert(got.exists(_._4) && got.exists(!_._4),
      s"fixture scores all one-sided: $got")
  }

  test("q117: on the sf corpus the score is total and bounded by the rarest token") {
    val rows = LlmOps.q117LmScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 500)
    // total corpus tokens bounds any single surprisal at log2(total)
    val totalTok = rows.map(_._2).sum
    val maxBits = 63 - java.lang.Long.numberOfLeadingZeros(totalTok)
    rows.foreach { case (id, n, sum, avg) =>
      assert(n >= 0 && sum >= 0 && avg >= 0, s"doc $id negative fields")
      assert(avg <= maxBits * 1000L, s"doc $id avg $avg exceeds log2(total) bits")
      if (n == 0) assert(sum == 0 && avg == 0, s"doc $id: empty but scored")
    }
  }

  test("sketch geometry is env-driven: an SRP_BITS override changes live bucket counts") {
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("e"))
    val g4 = SketchGeometry.fromEnv(Map("GRAFT_SRP_BITS" -> "4"))
    val b4 = v.select(LlmOps.srpBucket(col("e"), g4).as("b")).distinct().count()
    val b8 = v.select(LlmOps.srpBucket(col("e"), LlmOps.geom).as("b")).distinct().count()
    assert(b4 <= 16, s"4-bit geometry produced $b4 buckets (> 2^4)")
    assert(b8 <= 256, s"8-bit geometry produced $b8 buckets (> 2^8)")
    assert(b4 < b8, s"override had no effect: $b4 buckets at 4 bits vs $b8 at 8")
  }

  test("q91 probeMasks enumerates exactly the hamming ball of the env-backed radius") {
    // radius is now geometry (GRAFT_SRP_PROBE_RADIUS), not a constant:
    // the mask set must be exactly {m : popcount(m) <= r} over `bits`
    // positions, and its size must match srpProbeCount for every radius
    (0 to 3).foreach { r =>
      val g = SketchGeometry.fromEnv(Map("GRAFT_SRP_PROBE_RADIUS" -> r.toString))
      val masks = LlmOps.probeMasks(g.srpBits, g.srpProbeRadius)
      assert(masks.distinct.size == masks.size, s"radius $r: duplicate masks")
      assert(masks.size == g.srpProbeCount,
        s"radius $r: ${masks.size} masks, geometry says ${g.srpProbeCount}")
      assert(masks.forall(m => Integer.bitCount(m) <= r && m < g.srpBuckets))
    }
  }

  test("probeMasks ≡ the hamming ball for ALL geometries (property)") {
    // the combinatorial enumeration must agree with the exhaustive
    // definition {m < 2^bits : popcount(m) <= r} for every geometry a
    // user could configure, not just the shipped default
    val prop = org.scalacheck.Prop.forAll(
      org.scalacheck.Gen.choose(1, 12), org.scalacheck.Gen.choose(0, 4)) {
      (bits: Int, rRaw: Int) =>
        val r = math.min(rRaw, bits)
        val masks = LlmOps.probeMasks(bits, r).toSet
        val exhaustive = (0 until (1 << bits)).filter(Integer.bitCount(_) <= r).toSet
        masks == exhaustive
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("bandCandidates: bands hotter than the occupancy cap are dropped (bounded fan-out)") {
    import spark.implicits._
    // 100 docs collide on one boilerplate band (would yield 4950 pairs);
    // two genuine near-dup pairs sit in cold bands
    val bands = ((1L to 100L).map(i => (i, "hot")) ++
      Seq((200L, "p1"), (201L, "p1"), (300L, "p2"), (301L, "p2")))
      .toDF("doc_id", "band")
    val out = LlmOps.bandCandidates(bands, cap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((200L, 201L), (300L, 301L)),
      s"hot band leaked into candidates: ${out.size} pairs")
  }

  test("q130 chunking covers every token, overlaps by W-S, and truncates only the tail") {
    // the invariants the oracle's hash can't state directly: (a) the
    // chunk set tiles the document — union of [start, start+len-1]
    // covers [1, n] for any S <= W; (b) consecutive chunks overlap by
    // exactly W-S except at the tail; (c) only the last chunk may be
    // short, and its length is the exact remainder; (d) chunk_text
    // really is the slice its coordinates claim
    import org.apache.spark.sql.functions.col
    val w = LlmOps.ChunkWindow
    val s = LlmOps.ChunkStride
    val docs = t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = LlmOps.q130ChunkWindows(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (docId, chunks) =>
      val toks = docs(docId).split(" ", -1)
      val n = toks.length
      val sorted = chunks.sortBy(_._2)
      // starts are exactly 1, 1+S, ... <= n
      assert(sorted.map(_._3).toSeq == (1L to n.toLong by s.toLong).toSeq,
        s"doc $docId: wrong start grid")
      sorted.foreach { case (_, idx, start, len, text) =>
        assert(len == math.min(w.toLong, n - start + 1),
          s"doc $docId chunk $idx: bad length")
        assert(text == toks.slice(start.toInt - 1, start.toInt - 1 + w).mkString(" "),
          s"doc $docId chunk $idx: text is not the claimed slice")
      }
      // coverage: last chunk reaches the document edge; with S <= W no
      // gap can open between consecutive chunks
      val last = sorted.last
      assert(last._3 + last._4 - 1 == n, s"doc $docId: tail not covered")
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._3 - a._3 == s && a._3 + a._4 - 1 >= b._3 - 1,
            s"doc $docId: gap between chunks ${a._2} and ${b._2}")
        case _ =>
      }
    }
  }

  test("q131 keeps exactly one canonical per cluster, and the original beats its re-crawl") {
    val rows = LlmOps.q131DedupCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      assert(members.count(_._5) == 1,
        s"cluster $cluster: ${members.count(_._5)} keepers")
      // the keeper is the (n_toks desc, doc_id asc) maximum
      val keeper = members.filter(_._5).head
      assert(members.forall(m =>
        Ordering[(Long, Long)].gteq((-m._4, m._1), (-keeper._4, keeper._1))),
        s"cluster $cluster: keeper ${keeper._1} is not the canonical pick")
      // planted structure: when an original and its truncated re-crawl
      // share a cluster, the original (one token longer) must win
      members.find(m => members.exists(_._1 == m._1 + 1000000)).foreach { orig =>
        assert(!members.find(_._1 == orig._1 + 1000000).get._5,
          s"cluster $cluster: truncated re-crawl kept over original ${orig._1}")
      }
      assert(members.length == members.head._3,
        s"cluster $cluster: cluster_size disagrees with member count")
    }
    // the rule must actually fire somewhere: at least one keep=false row
    assert(rows.exists(!_._5), "no document was ever dropped")
  }

  test("q132 temperature mix: smallest lang keeps all, rates fall with size as sqrt") {
    val rows = LlmOps.q132TemperatureMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_._2)
    val rates = byLang.map { case (l, ms) => l -> (ms.head._3, ms.head._4) }
    // normalization: the smallest language's rate is exactly 1000 —
    // every one of its docs is kept (pure downsampling, no upsampling)
    val (minLang, (minN, minRate)) = rates.minBy(_._2._1)
    assert(minRate == 1000L, s"$minLang (n=$minN) rate $minRate != 1000")
    assert(byLang(minLang).forall(_._6), s"smallest lang $minLang dropped a doc")
    // the rule: rate = floor(1000 * sqrt(n_min / n_L))
    rates.foreach { case (l, (n, r)) =>
      assert(r == math.floor(1000.0 * math.sqrt(minN.toDouble / n)).toLong,
        s"$l: rate $r is not the alpha=1/2 rule for n=$n")
    }
    // the gate really is bucket < rate
    rows.foreach { case (id, l, _, r, b, kept) =>
      assert(kept == (b < r), s"doc $id in $l: kept=$kept but bucket=$b rate=$r")
    }
    // and it must actually rebalance: the fixture is en-dominant (~3×),
    // so en's rate sits well below 1000 and real docs drop
    assert(rates.values.exists(_._2 < 1000L),
      s"all rates at 1000 — the rule never rebalances: $rates")
    assert(rows.exists(!_._6), "no document was ever downsampled")
  }

  test("q132 gate is TOTAL: a NULL-lang doc still receives a kept/dropped verdict") {
    import spark.implicits._
    // 4 en, 1 pt, 2 NULL — an equi-join on raw lang would silently drop
    // the two unscorable docs; the sentinel key must give them a verdict
    // while the OUTPUT lang stays NULL (not the sentinel)
    val docs = Seq(1L -> Option("en"), 2L -> Option("en"), 3L -> Option("en"),
        4L -> Option("en"), 5L -> Option("pt"), 6L -> Option.empty[String],
        7L -> Option.empty[String])
      .toDF("doc_id", "lang")
    val rows = LlmOps.temperatureMix(docs).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        r.getLong(3), r.getBoolean(5)))
    assert(rows.length == 7, s"gate must be total, got ${rows.length}/7 verdicts")
    val und = rows.filter(_._2.isEmpty)
    assert(und.map(_._1).toSet == Set(6L, 7L), "NULL-lang docs missing a verdict")
    // the sentinel group competes like a real language: n=2, rate
    // floor(1000*sqrt(1/2)) = 707 against pt's n_min = 1
    assert(und.forall(u => u._3 == 2L && u._4 == 707L),
      s"sentinel group must carry its own (n_lang, rate): ${und.toSeq}")
  }

  test("q130/Chunker: a NULL-text doc yields its one empty chunk instead of vanishing") {
    import spark.implicits._
    val docs = Seq(1L -> "a b c", 2L -> (null: String)).toDF("doc_id", "text")
    val rows = graft.streaming.Chunker.chunk(docs, 4, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.filter(_._1 == 1L).length == 1, "3 toks, window 4: one chunk")
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 1L, 1L, "")),
      s"NULL text must coalesce to one empty chunk: ${rows.toSeq}")
  }

  test("q133 flags every planted train-to-eval leak and not the clean majority") {
    val rows = LlmOps.q133SplitLeakage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))
    assert(rows.nonEmpty)
    // only val/test docs are audited
    assert(rows.forall(r => r._2 == "val" || r._2 == "test"), "train doc in the audit")
    val (plants, natural) = rows.partition(_._1 >= 5000000L)
    assert(plants.nonEmpty, "no planted leak landed in val/test")
    // every planted copy is a truncated train doc: its shingles are a
    // subset of the original's, so any with shingles must flag
    plants.filter(_._3 > 0).foreach { p =>
      assert(p._6, s"planted leak ${p._1} not flagged: $p")
      assert(p._5.exists(_ >= 0.5), s"planted leak ${p._1} overlap ${p._5}")
    }
    // the clean majority must NOT flag (random-token docs share few
    // exact n-shingles with the train side)
    assert(natural.count(_._6) < natural.length / 2,
      s"${natural.count(_._6)}/${natural.length} natural docs flagged — the audit is noise")
    // hits never exceed shingle count; overlap NULL exactly when n_sh=0
    rows.foreach { r =>
      assert(r._4 <= r._3, s"doc ${r._1}: n_hit ${r._4} > n_sh ${r._3}")
      assert(r._5.isDefined == (r._3 > 0), s"doc ${r._1}: overlap/n_sh mismatch")
    }
  }

  test("q94: Spark pmod and the oracle's ((x % m) + m) % m mirror agree on negative ids") {
    import spark.implicits._
    val P = 1000000007L
    val K = 2654435761L
    val ids = Seq(-1L, -5L, -99L, -1000000006L, -1000000008L, -123456789L,
      0L, 7L, 3500000000L, Long.MinValue / 4)
    val sparkBuckets = ids.toDF("doc_id")
      .select(col("doc_id"),
        pmod(pmod(pmod(col("doc_id"), lit(P)) * lit(K), lit(P)), lit(100L)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the DuckDB oracle's arithmetic, verbatim: sign-preserving % wrapped
    // ((x % m) + m) % m at each step
    def oracleBucket(x: Long): Long = {
      val s1 = ((x % P) + P) % P
      val s2 = ((s1 * K) % P + P) % P
      (s2 % 100 + 100) % 100
    }
    ids.foreach { x =>
      assert(oracleBucket(x) == sparkBuckets(x),
        s"doc_id=$x: oracle ${oracleBucket(x)} != spark ${sparkBuckets(x)}")
    }
  }

  test("documents.text is pure ASCII (q93's byte-substr = char-substring assumption)") {
    val n = spark.read.parquet(s"$sf/documents.parquet")
      .filter(length(col("text")) =!= octet_length(col("text"))).count()
    assert(n == 0,
      s"$n non-ASCII documents — q93's binary-substr oracle equivalence no longer holds")
  }

  test("q81 minhash-lsh finds the planted near-duplicate pairs") {
    val pairs = LlmOps.q81DedupMinhash(spark, sf)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every doc pairs with its mutated copy (id + 1e6): expect most of the
    // 500 planted pairs recovered at jaccard distance <= 0.5
    val planted = pairs.count { case (a, b) => b == a + 1000000 }
    assert(planted > 400, s"recovered only $planted/500 planted near-dup pairs")
  }

  test("q89 simhash banding finds planted near-duplicates with low hamming") {
    val pairs = LlmOps.q89DedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = pairs.count { case (a, b) => b == a + 1000000 }
    assert(planted > 350, s"recovered only $planted/500 planted simhash pairs")
  }

  test("q89: engine output is row-identical to a driver-side JVM mirror of the whole pipeline") {
    // q89 is the surface's one no-oracle dedup op (SURVEY.md and
    // VERDICT.md record why no DuckDB oracle can exist: simhash banding
    // has no recall-1 similarity threshold to verify against). This mirror is
    // the s86–s94 recipe instead: recompute the ENTIRE result —
    // plant → split → 3-shingle xxhash64 → distinct → majority-vote
    // simhash → 4×16-bit bands → occupancy cap → pairs → hamming ≤ 6 —
    // in plain driver-side Scala (the one shared primitive is
    // Catalyst's XxHash64, evaluated directly like the oracle shares
    // DuckDB's string ops) and pin row-identity, not just recall.
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def xx3(a: String, b: String, c: String): Long =
      XxHash64(Seq(a, b, c).map(s =>
        Literal(UTF8String.fromString(s), StringType)), 42L)
        .eval(null).asInstanceOf[Long]
    def simhash(sh: Iterable[Long]): Long = {
      val votes = Array.fill(64)(0)
      sh.foreach { v =>
        var b = 0
        while (b < 64) {
          if (((v >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      (0 until 64).foldLeft(0L)((acc, b) =>
        if (votes(b) > 0) acc | (1L << b) else acc)
    }
    val g = LlmOps.geom
    val mask = (1L << g.simhashBandBits) - 1
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // docsWithNearDups: union of the corpus and its id+1e6 copy with
    // the last token dropped (Spark split keeps trailing empties: -1)
    val universe = docs ++ docs.map { case (id, t) =>
      (id + 1000000L, t.split(" ", -1).dropRight(1).mkString(" "))
    }
    val sketches = universe.flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      if (toks.length < 3) None
      else Some(id -> simhash(
        toks.sliding(3).map(w => xx3(w(0), w(1), w(2))).toSet))
    }.toMap
    val bands = sketches.toSeq.flatMap { case (id, h) =>
      (0 until g.simhashBands).map(k =>
        s"$k:${(h >> (k * g.simhashBandBits)) & mask}" -> id)
    }
    val expected = bands.groupBy(_._1).valuesIterator
      .filter(_.size <= g.bandOccupancyCap)
      .flatMap { members =>
        val ids = members.map(_._2)
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }
      .toSet
      .map { p: (Long, Long) =>
        (p._1, p._2, java.lang.Long.bitCount(sketches(p._1) ^ sketches(p._2)))
      }
      .filter(_._3 <= 6)
    val got = LlmOps.q89DedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected,
      s"engine ${got.size} rows vs mirror ${expected.size}: " +
        s"engine-only=${(got -- expected).take(3)} mirror-only=${(expected -- got).take(3)}")
  }

  test("q91 bucketed ANN agrees with the q82 brute-force baseline and recovers its top-3") {
    val brute = LlmOps.q82SimilarityTopk(spark, sf).collect()
    // every (qid, nid) the bucketed path returns must score identically
    // to the brute-force cosine for that pair
    val bruteScores = brute.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val bucketed = LlmOps.q91SimilarityIvf(spark, sf).collect()
    assert(bucketed.nonEmpty)
    bucketed.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      bruteScores.get(key).foreach(c => assert(c == r.getDouble(3),
        s"cosine mismatch for $key"))
    }
    // documented recall: share of the brute-force top-3 pairs the
    // 256-bucket + multi-probe path recovers (SRP-LSH is approximate).
    // Measured 0.43 at the default geometry (8 bits, radius 2); the
    // floor sits just under so a one-band/one-probe regression fails
    // loudly instead of silently costing recall
    val top3 = brute.filter(_.getInt(1) <= 3)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = bucketed.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(top3).size.toDouble / top3.size
    info(f"q91 recall vs q82 top-3: $recall%.2f (${got.intersect(top3).size}/${top3.size})")
    assert(recall >= 0.4, f"q91 recall regressed below the measured-0.43 floor: $recall%.2f")
  }

  test("q91 recall climbs with the env-backed probe radius (the recall-vs-work knob)") {
    // GRAFT_SRP_PROBE_RADIUS is the operational dial: each +1 of radius
    // probes the next hamming shell (C(bits, r) more buckets per query)
    // and strictly widens the candidate set, so recall vs the brute-force
    // top-3 must be monotone in the radius, reaching >=0.8 by radius 4
    // (measured 0.43 -> 0.67 -> 0.87 at radii 2/3/4 on this data)
    val top3 = LlmOps.q82SimilarityTopk(spark, sf).collect()
      .filter(_.getInt(1) <= 3).map(r => (r.getLong(0), r.getLong(2))).toSet
    val recalls = Seq(2, 4).map { r =>
      val g = SketchGeometry.fromEnv(Map("GRAFT_SRP_PROBE_RADIUS" -> r.toString))
      val got = LlmOps.q91WithGeometry(g)(spark, sf).collect()
        .map(row => (row.getLong(0), row.getLong(2))).toSet
      val rec = got.intersect(top3).size.toDouble / top3.size
      info(f"radius $r: recall $rec%.2f")
      rec
    }
    assert(recalls == recalls.sorted, s"recall not monotone in probe radius: $recalls")
    assert(recalls.last >= 0.8,
      f"radius-4 probing should recover >=0.8 of true top-3, got ${recalls.last}%.2f")
  }

  test("q63 at n=8: planted leaks still flagged, incidental phrase overlap gone") {
    // the production-width argument (GRAFT_DECON_SHINGLE_N=8..13): a
    // 3-token shingle fires on incidental phrase overlap between honest
    // corpus docs and the eval set; an 8-token shingle only matches
    // near-verbatim leaks. Planted leaks (id+3e6, one token dropped)
    // share almost all wide shingles with their eval source, so they
    // must stay contaminated; honest docs' hit lists must shrink.
    def run(n: Int) = LlmOps.q63With(n)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getBoolean(4))).toSeq
    val r3 = run(3)
    val r8 = run(8)
    val leaks8 = r8.filter(_._1 >= 3000000L)
    assert(leaks8.nonEmpty, "no planted leak produced any 8-gram hit")
    assert(leaks8.forall(_._3),
      s"planted leaks escaped the n=8 check: ${leaks8.filterNot(_._3).map(_._1)}")
    // measured at sf0.001: 236 honest docs have ≥1 incidental 3-gram hit,
    // only 2 have any 8-gram hit — and those two are overlap ≈ 1.0, i.e.
    // true near-copies of an eval doc (which a decontamination pass SHOULD
    // flag), not phrase noise. The exact 236→2 ratio is a property of the
    // sf0.001 fixture corpus (see TESTDATA.md), not of the engine, so the
    // assertion only pins the direction at a loose factor — a regenerated
    // corpus with different phrase statistics shifts the ratio without any
    // engine bug; the leak assertions above are the deterministic part.
    val honest3 = r3.count(_._1 < 3000000L)
    val honest8 = r8.filter(_._1 < 3000000L)
    info(s"incidental-overlap docs: n=3 → $honest3, n=8 → ${honest8.size}")
    assert(honest8.size < honest3 / 2,
      s"widening the shingle did not collapse incidental overlap: $honest3 -> ${honest8.size}")
    assert(honest8.filter(_._3).forall(_._2 >= 0.9),
      s"an honest doc was flagged at n=8 without near-verbatim overlap: $honest8")
  }

  test("q79: every planted PII class is counted on its residue and none survives scrubbing") {
    // plants: doc_id%10==0 → email, ==3 → phone, ==6 → SSN-shaped ID;
    // the oracle hash-gates the exact values — this pins the CONTRACT:
    // per-pattern counts fire on the right docs, and `clean` (no pattern
    // matches the scrubbed text) holds for every row
    val rows = LlmOps.q79PiiScrub(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (id, nEmail, nPhone, nId) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))
      if (id % 10 == 0) assert(nEmail >= 1, s"doc $id: planted email not counted")
      if (id % 10 == 3) assert(nPhone >= 1, s"doc $id: planted phone not counted")
      if (id % 10 == 6) assert(nId >= 1, s"doc $id: planted ID not counted")
      assert(r.getBoolean(6), s"doc $id: a PII pattern survived scrubbing")
    }
    // scrubbing replaced, not dropped: every planted doc's length changed
    // by (replacement - match) — i.e. scrubbed length differs from raw
    val planted = rows.filter(r => Seq(0L, 3L, 6L).contains(r.getLong(0) % 10))
    assert(planted.nonEmpty)
    assert(planted.forall(r => r.getInt(5) != r.getInt(4)),
      "a planted doc's length was unchanged by scrubbing")
  }

  test("q68: every near-dup pair shares a cluster and cluster ids are member minima") {
    // the two invariants the DuckDB recursive-CTE oracle encodes, pinned
    // directly: (a) pair consistency — q81's edges never straddle two
    // clusters (transitivity falls out: a chain a~b~c must share one
    // label); (b) canonical labels — each cluster's id is the min doc_id
    // among its members, so keep = (doc_id == cluster_id) is well-defined
    val pairs = LlmOps.q81DedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cl = LlmOps.q68DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty && cl.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(cl(a) == cl(b), s"pair ($a, $b) straddles clusters ${cl(a)} / ${cl(b)}")
    }
    cl.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c,
        s"cluster $c is not its members' min id: ${members.keys.toSeq.sorted.take(5)}")
    }
  }

  test("CacheScope: LlmOps caches are tracked and fully released by drain") {
    graft.core.CacheScope.drain() // clear anything earlier tests left behind
    spark.sharedState.cacheManager.clearCache()
    LlmOps.q81DedupMinhash(spark, sf).count()
    assert(graft.core.CacheScope.size > 0, "q81's persisted intermediates were not tracked")
    graft.core.CacheScope.drain()
    assert(graft.core.CacheScope.size == 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "cache entries survived drain — session-long accumulation")
  }

  test("qualityExpr is total: empty and whitespace-only docs score, not NULL") {
    // the guarded ratios make the contract total (round-8 advice): an
    // empty doc has punctR 0 by convention, not 0/0 — which Spark would
    // NULL and DuckDB would NaN, diverging the q49/q85 hash gates
    import spark.implicits._
    val q = Seq("", "   ", "the end.").toDF("text")
      .select(LlmOps.qualityExpr.as("q")).collect().map(r => Option(r.get(0)))
    assert(q.forall(_.isDefined), s"NULL quality on degenerate docs: ${q.toSeq}")
    // exact values the DuckDB mirror produces for the same inputs
    // (verified by hand: coalesce(x / nullif(d, 0), 0) over '' and '   ')
    assert(q.flatten.toSeq == Seq(0.303, 0.312, 0.4685),
      s"cross-engine drift on degenerate docs: ${q.toSeq}")
  }

  test("q104: near-dup ingest gate — verbatim/truncated drop, prefix/fresh keep, total verdicts") {
    val rows = LlmOps.q104DedupNearIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(4)))
    val base = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == base, "gate must emit one verdict per batch doc — none dropped")
    def cls(c: Long) = rows.filter(t => (t._1 - 4000000) % 4 == c)
    // class 0 (verbatim, j=1) and class 1 (minus last token, j≈0.97):
    // every doc must be flagged — a near-dup gate that re-admits a
    // re-crawl is broken
    assert(cls(0).forall(!_._4), "a verbatim re-crawl was re-admitted")
    assert(cls(1).forall(!_._4), "a truncated re-crawl was re-admitted")
    // class 2 is CONTAINED in its corpus doc (q69 would drop it) but
    // sits at Jaccard ≤ 0.25 — the set-overlap contract keeps it
    assert(cls(2).forall(_._4), "a j≤0.25 prefix doc was dropped — threshold drift")
    // class 3 shares no shingles with the corpus
    assert(cls(3).forall(t => t._4 && t._3 == 0), "fresh content matched something")
  }

  test("q152: the agreement matrix is exactly the q85 x q147 cross-tabulation") {
    // the calibration table must be derivable from the two oracled
    // per-doc scores it claims to cross — recompute it from q85's
    // quality and q147's score outputs and pin cell counts exactly,
    // means to 1e-6 (the engine sums quality through DECIMAL(18,6))
    val quality = LlmOps.q85QualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val score = LlmOps.q147QualityClassifier(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(quality.keySet == score.keySet)
    // ids must be a Seq before mapping to values: mapping the key SET
    // to scores would collapse duplicate values and shrink the sums
    val expected = quality.keys.toSeq.groupBy(id =>
      (quality(id) >= 0.5, score(id) >= 0L)).map { case (k, ids) =>
      k -> (ids.size.toLong,
        ids.map(id => BigDecimal(quality(id)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP)).sum,
        ids.map(score).sum)
    }
    // the fixture must populate BOTH verdict axes or the matrix is vacuous
    assert(expected.keys.map(_._1).toSet == Set(true, false),
      "heuristic threshold no longer splits the fixture")
    assert(expected.keys.map(_._2).toSet == Set(true, false),
      "classifier threshold no longer splits the fixture")
    val got = LlmOps.q152FilterAgreement(spark, sf).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == expected.keySet, s"cell sets differ: ${got.keySet} vs ${expected.keySet}")
    expected.foreach { case (cell, (n, sq, ss)) =>
      val (gn, gq, gs) = got(cell)
      assert(gn == n, s"cell $cell count $gn != $n")
      assert(math.abs(gq - (sq / n).toDouble) <= 1e-6,
        s"cell $cell avg_quality $gq != ${sq / n}")
      assert(math.abs(gs - ss.toDouble / n) <= 1e-6,
        s"cell $cell avg_score $gs != ${ss.toDouble / n}")
    }
  }

  test("q165/q166: the winnowing guarantee — a shared run of >= w+k-1 tokens always shares a fingerprint") {
    import spark.implicits._
    val (k, w) = (LlmOps.winnowK, LlmOps.winnowW)
    // two docs sharing EXACTLY the guarantee-floor run (w+k-1 tokens),
    // embedded at different positions in otherwise-disjoint text; the
    // selected sets must intersect — that is Schleimer/Wilkerson/
    // Aiken's theorem, and the property q88's Jaccard threshold and
    // q69's first-shingle probe do not give
    val run = (1 to (w + k - 1)).map(i => s"shared$i").mkString(" ")
    val a = s"alpha beta gamma delta $run"
    val b = s"$run omega psi chi phi upsilon tau"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      .withColumn("codes", transform(split(col("text"), " "),
        tk => LlmOps.winnowTokenCode(tk)))
    val sets = docs
      .withColumn("grams", LlmOps.gramHashes(col("codes"), k))
      .select(col("doc_id"),
        LlmOps.winnowSelect(col("grams"), w).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((sets(1L) intersect sets(2L)).nonEmpty,
      s"guarantee violated: disjoint fingerprints for a ${w + k - 1}-token shared run")
    // density: the selection keeps at most one fp per window start and
    // at least one overall; short docs (< k tokens) select NOTHING
    val short = Seq((3L, "a b")).toDF("doc_id", "text")
      .withColumn("codes", transform(split(col("text"), " "),
        tk => LlmOps.winnowTokenCode(tk)))
    assert(short.withColumn("grams", LlmOps.gramHashes(col("codes"), k))
      .select(LlmOps.winnowSelect(col("grams"), w))
      .collect()(0).getSeq[Long](0).isEmpty, "sub-k doc must select nothing")
  }

  test("q166: overlap scores planted truncations near 1 and the stats density sits under the window bound") {
    import spark.implicits._
    val dir = tmpDir("q166docs")
    // 40-token docs with distinct vocabularies per doc. The doc marker
    // sits in the LAST char — one of the 4 code probes — because the
    // portable code reads (length, first, mid, last), not the whole
    // token: a marker the probes never see (the first fixture tried
    // w{d}_{i}) makes all docs code-identical and every pair flag,
    // which is exactly the shape-collision class the 4-probe code
    // exists to price (see winnowTokenCode's scaladoc)
    def body(d: Int) = (1 to 40).map(i => s"w${i}_$d").mkString(" ")
    Seq((1L, body(1)), (2L, body(2)), (3L, body(3)))
      .toDF("doc_id", "text")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    // universe = originals + last-token-dropped re-crawls: each pair
    // (d, d+1e6) must flag with overlap ~1 (the truncation removes at
    // most the final windows' fingerprints); no cross-doc pair may flag
    val got = LlmOps.q166WinnowOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.map(p => (p._1, p._2)).toSet ==
      Set((1L, 1000001L), (2L, 1000002L), (3L, 1000003L)),
      s"pair set diverged: ${got.mkString(", ")}")
    assert(got.forall(_._3 >= 0.9), s"truncation overlap too low: ${got.mkString(", ")}")
    // q165 on the same corpus: density within (0, 1], guarantee >= one
    // fp per doc, and n_selected <= n_grams
    val stats = LlmOps.q165WinnowStats(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.forall { case (g, s, _) => s >= 1 && s <= g },
      s"selection out of bounds: ${stats.mkString(", ")}")
    assert(stats.forall(_._3 <= 1000000L), "density over 1")
  }

  test("q167: positives are cluster minima, negatives are knuth-drawn non-members, verified by a JVM mirror") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val uni = (1L to 20L).toDF("doc_id")
    val got = LlmOps.contrastivePairs(labels, uni).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(_._1).toSeq
    // JVM mirror of the package knuth spellings
    val P = KnuthP; val C = KnuthC
    def mix(c: Long) = math.floorMod(c, P) * C % P
    def bucket(c: Long) = mix(c) % LlmOps.ContrastiveBuckets
    def bucket2(c: Long) = math.floorMod(knuthMix2Jvm(c), LlmOps.ContrastiveBuckets)
    val clusterOf = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    val pool = (1L to 20L).map(d => (bucket(d), d, clusterOf.getOrElse(d, d)))
    def expNeg(anchor: Long, cl: Long): Long = {
      val cell = bucket2(anchor)
      val mins = pool.filter(_._1 == cell).sortBy(_._2).take(2)
      mins.find(_._3 != cl).map(_._2).getOrElse(-1L)
    }
    val expected = Seq(
      (1L, 1L, 2L, expNeg(1L, 1L)),   // anchor IS the min -> second-min
      (2L, 1L, 1L, expNeg(2L, 1L)),
      (3L, 1L, 1L, expNeg(3L, 1L)),
      (10L, 10L, 11L, expNeg(10L, 10L)),
      (11L, 10L, 10L, expNeg(11L, 10L)))
    assert(got == expected, s"triplets diverged:\ngot      $got\nexpected $expected")
    // the triplet is TOTAL over clustered docs and a negative never
    // shares the anchor's cluster
    got.foreach { case (a, cl, p, n) =>
      assert(p != a && clusterOf(p) == cl, s"anchor $a: bad positive $p")
      assert(n == -1L || clusterOf.getOrElse(n, n) != cl,
        s"anchor $a: negative $n shares cluster $cl")
    }
  }

  test("q169: the sweep is monotone in the threshold and its 0.5 row IS q88's cardinality") {
    val rows = LlmOps.q169DedupSweep(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == LlmOps.SweepThresholds,
      s"ladder rows diverged: ${rows.map(_._1).mkString(",")}")
    rows.sliding(2).foreach { case Array((t1, p1, d1), (t2, p2, d2)) =>
      assert(p1 >= p2 && d1 >= d2,
        s"sweep not monotone: T$t1 ($p1/$d1) vs T$t2 ($p2/$d2)")
    }
    rows.foreach { case (t, p, d) =>
      assert(d <= 2 * p || p == 0, s"T$t: $d docs from $p pairs")
    }
    // the construction claim: the 50-row counts exactly q88's output
    val q88n = LlmOps.q88DedupNgram(spark, sf).count()
    val at50 = rows.find(_._1 == 50).get._2
    assert(at50 == q88n, s"sweep@50 $at50 != q88 cardinality $q88n")
  }

  test("q170: the quality sweep is monotone and its 50 row matches q152's heuristic keep count") {
    val rows = LlmOps.q170QualitySweep(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == LlmOps.QualityThresholds)
    rows.sliding(2).foreach { case Array((t1, d1, k1, _, _), (t2, d2, k2, _, _)) =>
      assert(d1 >= d2 && k1 >= k2, s"sweep not monotone at T$t1->$t2")
    }
    rows.foreach { case (t, d, _, ppm, _) =>
      assert(ppm >= 0 && ppm <= 1000000L, s"T$t ppm $ppm out of range")
    }
    // floor-bin equivalence at the gate threshold: floor(q*100) >= 50
    // <=> q >= 0.5, so the 50 row must equal q152's keep_heuristic mass
    val q152keep = LlmOps.q152FilterAgreement(spark, sf).collect()
      .filter(_.getBoolean(0)).map(_.getLong(2)).sum
    val at50 = rows.find(_._1 == 50).get._2
    assert(at50 == q152keep, s"sweep@50 $at50 != q152 heuristic keep $q152keep")
  }

  test("q173: prefix-filter pruning is LOSSLESS — output equals the unpruned exact-Jaccard join") {
    // the PPJoin theorem, asserted on the real corpus: recompute the
    // threshold join with NO prefix filter and NO length filter (every
    // pair sharing ANY shingle is a candidate) and require row identity
    val got = LlmOps.q173SetsimJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val d = graft.queries.t(spark, sf, "documents")
    val dd = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text", array_join(
        slice(split(col("text"), " "), lit(1),
          size(split(col("text"), " ")) - 1), " ")))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
    val sh = dd.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), size(col("toks")) - 2),
        i => xxhash64(element_at(col("toks"), i),
          element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2))))).as("sh"))
    val m = sh.groupBy("doc_id").agg(count(lit(1)).as("m"))
    val brute = sh.as("a").join(sh.as("b"), Seq("sh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
      .join(m.select(col("doc_id").as("d1"), col("m").as("m1")), Seq("d1"))
      .join(m.select(col("doc_id").as("d2"), col("m").as("m2")), Seq("d2"))
      .filter(lit(LlmOps.SetSimTauNum + LlmOps.SetSimTauDen) * col("common") >=
        lit(LlmOps.SetSimTauNum) * (col("m1") + col("m2")))
      .select(col("d1"), col("d2"), col("m1"), col("m2"), col("common"),
        expr("(1000 * common) div (m1 + m2 - common)").as("jacc_pm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == brute,
      s"prefix filter lost/added pairs: ${(brute -- got).take(3)} missing, " +
        s"${(got -- brute).take(3)} extra (of ${brute.size} exact)")
    assert(got.nonEmpty, "threshold join empty — fixture degenerated")
  }

  test("q173: the shingle stream and the df-ordered per-doc table are both scope-persisted") {
    // r15 optimization pin: the exploded (doc_id, sh) stream feeds the
    // df aggregation AND the df-attach join — unpersisted, AQE's
    // runtime broadcast of the join side broke the ReuseExchange the
    // two sh-keyed subtrees shared and the corpus tokenize+hash ran
    // twice (q88's measured defect class; solo floor 3.3 -> 2.5-2.7 s
    // at sf0.1 with the persist). Registration with CacheScope is the
    // mechanism: exactly the two scoped caches (shingles, perDoc) must
    // ride one q173 build so the bench's per-query drain reclaims them.
    graft.core.CacheScope.drain()
    val df = LlmOps.q173SetsimJoin(spark, sf)
    df.count()
    // exact count, not >= (ADVICE r15): a dropped persist masked by some
    // OTHER frame in the chain registering a cache must fail the pin
    assert(graft.core.CacheScope.size == 2,
      s"expected exactly 2 scoped caches (shingle stream + per-doc table), " +
        s"got ${graft.core.CacheScope.size}")
    // and the EXECUTED plan must actually serve from them — registration
    // without plan reuse would still recompute the tokenize pass
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") ||
        plan.contains("TableCacheQueryStage"),
      s"q173 executed plan shows no cache reuse:\n${plan.take(4000)}")
    graft.core.CacheScope.drain()
  }

  test("q173: fixture semantics — jacc_pm exact, planted near-dup pair found, unrelated pair absent") {
    import spark.implicits._
    val dir = tmpDir("q173docs")
    // doc 1 and 2 share 3 of their shingles; doc 3 shares none.
    // 1: shingles {a b c, b c d, c d e}          m=3
    // 2: shingles {a b c, b c d, c d e, d e x}   m=4
    //    common=3, J = 3/(3+4-3) = 0.75 >= 0.5; jacc_pm = 750
    // 3: disjoint content entirely
    Seq((1L, "a b c d e"), (2L, "a b c d e x"), (3L, "p q r s t u"))
      .toDF("doc_id", "text")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    val got = LlmOps.q173SetsimJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // docsWithNearDups also plants id+1e6 last-token-dropped twins:
    // 1000001 = "a b c d", 1000002 = "a b c d e", 1000003 = "p q r s t u" sans u
    // spot-check the hand-computed (1,2) pair and the planted (1,1000002)
    // identity pair (same 3 shingles twice -> J = 1)
    assert(got.contains((1L, 2L, 3L, 4L, 3L, 750L)),
      s"missing exact (1,2,m1=3,m2=4,common=3,750): ${got.mkString(";")}")
    assert(got.contains((1L, 1000002L, 3L, 3L, 3L, 1000L)),
      s"missing identity pair (1, 1000002): ${got.mkString(";")}")
    // disjoint docs never pair
    assert(!got.exists(p => Set(p._1, p._2).contains(3L) &&
      Set(p._1, p._2).exists(x => x == 1L || x == 2L)),
      s"disjoint doc 3 paired: ${got.mkString(";")}")
  }

  test("q175: the audit accounts for every pair on both sides, and its memo is fresh-equal") {
    val rows = LlmOps.q175DedupRecallAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    // conservation: Σ n_exact is exactly q173's cardinality, and
    // Σ (n_found + n_fp) is exactly q88's — every pair of either
    // universe lands in exactly one band row
    val nExact = LlmOps.q173SetsimJoin(spark, sf).count()
    val nFound = LlmOps.q88DedupNgram(spark, sf).count()
    assert(rows.map(_._2).sum == nExact,
      s"Σ n_exact ${rows.map(_._2).sum} != q173 $nExact")
    assert(rows.map(r => r._3 + r._4).sum == nFound,
      s"Σ (n_found + n_fp) != q88 $nFound: $rows")
    rows.foreach { case (band, ne, nf, nfp, ppm) =>
      assert(nf <= ne, s"band $band: found $nf > exact $ne")
      assert(nfp >= 0 && ne >= 0)
      assert((ppm == 1000000L) == (ne > 0 && nf == ne),
        s"band $band: ppm $ppm inconsistent with $nf/$ne")
      if (ne == 0) assert(ppm == 0L, s"band $band: ppm $ppm with no exact pairs")
    }
    // the ground-truth artifact serves memoized ≡ fresh (the PairTable
    // convention pin)
    val memo = orderAll(LlmOps.SetSimPairTable.of(spark, sf))
      .collect().map(_.toString).toSeq
    val fresh = orderAll(LlmOps.SetSimPairTable.fresh(spark, sf))
      .collect().map(_.toString).toSeq
    assert(memo == fresh, "parquet-served setsim pairs diverged from fresh derivation")
  }

  test("q90 multimodal features are deterministic and complete") {
    val f1 = MultiModal.q90Multimodal(spark, sf).collect()
    val f2 = MultiModal.q90Multimodal(spark, sf).collect()
    assert(f1.length == 500)
    assert(f1.map(_.toString).toSeq == f2.map(_.toString).toSeq)
    assert(f1.map(_.getAs[String]("media_type")).toSet ==
      Set("image/png", "audio/wav", "video/mp4"))
  }
}
