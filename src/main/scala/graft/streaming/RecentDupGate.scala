package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** In-stream recent-duplicate gate — the burst-duplicate catcher: a
  * crawler hiccup, a re-queued fetch, or a mirror re-announce delivers
  * the SAME document again within a few dozen arrivals, and catching
  * that needs neither s84's growing corpus index (heavyweight,
  * join-per-batch) nor s73's watermark dedup (event-time-scoped):
  * per source, a bounded ring of the last [[RecentDupGate.Window]]
  * content fingerprints answers "seen in the recent past?" in O(K)
  * row-local work with O(K·sources) TOTAL state — volume-independent,
  * the s87 bound argument with the ring in `transformWithState`'s
  * `ListState` (the ordered-collection state handle; with s88/s91's
  * `ValueState` and s90's `MapState` + timers, every state primitive
  * of the v2 API is now production-exercised).
  *
  * Ring semantics, exactly: a doc is flagged iff its fingerprint
  * equals one of the previous `Window` fingerprints OF ITS SOURCE in
  * doc_id order — flagged or not, every arrival enters the ring (a
  * burst of N copies flags N-1 of them). Deterministic sequential
  * fold, so StreamingSpec s92 pins the stream row-identical to a
  * driver-side reference fold over the real sf documents fixture and
  * to hand-built eviction cases (a dup exactly Window arrivals later
  * is flagged; one arrival past that is not).
  *
  * Ordering contract (s86–s91's convention): rows fold in doc_id
  * order within a batch; micro-batches deliver ascending doc_id
  * ranges per key. Enforced, not assumed: a per-source high-water
  * register (`lastId`) fails the query with [[IllegalStateException]]
  * when a batch delivers a doc_id at or below the newest folded one —
  * cross-batch disorder would silently shift the ring's eviction
  * horizon and mis-flag bursts otherwise. */
object RecentDupGate {

  /** Ring capacity per source: sized to the burst lengths a deployment
    * must absorb (re-queue depth, mirror fanout), NOT corpus size —
    * state stays Window·|sources| longs regardless of volume. */
  val Window: Int = 64

  /** Output row: (source, doc_id, fingerprint, is_recent_dup). */
  type Out = (String, Long, Long, Boolean)

  /** The shared transition: probe the ring, then shift the arrival in.
    * Returns (ring', flagged). */
  def step(ring: Vector[Long], fp: Long, window: Int): (Vector[Long], Boolean) = {
    val hit = ring.contains(fp)
    ((ring :+ fp).takeRight(window), hit)
  }

  class Processor(window: Int)
      extends StatefulProcessor[String, (String, Long, Long), Out] {
    @transient private var ring: ListState[Long] = _
    @transient private var lastId: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      ring = getHandle.getListState[Long]("ring", Encoders.scalaLong, TTLConfig.NONE)
      lastId = getHandle.getValueState[Long]("lastId", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(source: String,
        rows: Iterator[(String, Long, Long)],
        timerValues: TimerValues): Iterator[Out] = {
      // one read and one write of the ring per (key, batch): the fold
      // runs on a local buffer, ListState round-trips only at the edges
      var r: Vector[Long] =
        if (ring.exists()) ring.get().toVector else Vector.empty
      val sorted = rows.toArray.sortBy(_._2)
      if (sorted.isEmpty) return Iterator.empty
      // cross-batch half of the ordering contract: fail fast instead of
      // folding a disordered batch into a silently shifted ring
      if (lastId.exists() && sorted.head._2 <= lastId.get()) {
        throw new IllegalStateException(
          s"RecentDupGate ordering contract violated for source=$source: " +
            s"batch delivered doc_id=${sorted.head._2} at or below the " +
            s"already-folded high-water mark ${lastId.get()} — micro-batches " +
            "must carry disjoint ascending doc_id ranges per key")
      }
      val out = sorted.map { case (src, id, fp) =>
        val (r1, hit) = step(r, fp, window)
        r = r1
        (src, id, fp, hit)
      }
      ring.put(r.toArray)
      lastId.update(sorted.last._2)
      out.iterator
    }
  }

  /** s92's surface: gate a (source, doc_id, fingerprint) stream. */
  def gate(in: Dataset[(String, Long, Long)],
      window: Int = Window): Dataset[Out] = {
    import in.sparkSession.implicits._
    in.groupByKey(_._1)
      .transformWithState(new Processor(window), TimeMode.None(), OutputMode.Append())
  }
}
