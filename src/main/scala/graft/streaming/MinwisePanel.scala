package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** In-stream per-source K-minwise document panel — the always-fresh
  * uniform audit sample: every source keeps the K docs with the
  * smallest deterministic hash priority seen SO FAR, so at any batch
  * boundary each source owns a fixed-size, quality-blind, uniformly
  * drawn panel of its own history (label-QA batches, eyeballing a
  * source's content, drift spot checks). Minwise is the one sampling
  * scheme that is simultaneously BOUNDED (K·sources state, volume-
  * independent — s87's argument), MERGEABLE (min of mins), and
  * ORDER-INDEPENDENT: the final panel is a pure function of the
  * arrival SET, so unlike s88/s91/s92 this kernel needs NO ordering
  * contract and replayed/reordered batches converge to the same panel
  * (re-delivery of an id already in the panel is a no-op by
  * construction — restart replay is idempotent).
  *
  * The streaming surface is a CDC event log, not snapshots: each
  * arrival emits `enter`/`evict` rows as it displaces panel members,
  * so a consumer reconstructs the exact panel at any batch boundary
  * from the append-only stream (Append mode needs no retraction — the
  * evict row IS the retraction, made explicit). StreamingSpec s94 pins
  * the reconstructed panel row-identical to the ORACLED q137 batch
  * answer over the same fixture (the s88↔q129 proof pattern), and
  * TwsKernelsSpec property-tests the kernel: panel == bottom-K of the
  * arrival set under any permutation, events always net to the panel.
  *
  * Priority is the q95/q132 Knuth multiplicative hash
  * (doc_id·2654435761 mod 1e9+7) — engine-portable integer arithmetic,
  * written identically in q137's DuckDB oracle. */
object MinwisePanel {

  /** The shared Knuth constants (`graft.queries.KnuthP`/`KnuthC`) —
    * referenced, not re-typed, so the kernel-side [[priority]] cannot
    * drift from the Column/SQL spellings in the queries package. */
  val P: Long = graft.queries.KnuthP
  val C: Long = graft.queries.KnuthC

  /** Panel capacity per source. q137's batch twin and the DuckDB
    * oracle interpolate the same value. State is K·|sources|
    * (prio, id) pairs regardless of stream volume. */
  val K: Int = 20

  /** The deterministic sampling priority — kernel-side twin of the
    * column expression in q137 (exact: |id % P| < 1e9, ×C < 2^62). */
  def priority(id: Long): Long = math.floorMod(math.floorMod(id, P) * C, P)

  /** Output row: (source, doc_id, prio, event) with event ∈
    * {enter, evict}. */
  type Out = (String, Long, Long, String)

  /** The shared transition: panel is sorted ascending by (prio, id).
    * An arrival below the current k-th minimum enters (evicting the
    * max when full); an arrival already present is a no-op (idempotent
    * replay); anything else leaves no trace. Returns (panel', events). */
  def step(panel: Vector[(Long, Long)], id: Long,
      k: Int): (Vector[(Long, Long)], List[(Long, Long, String)]) = {
    val e = (priority(id), id)
    if (panel.contains(e)) (panel, Nil)
    else if (panel.size < k)
      ((panel :+ e).sorted, List((id, e._1, "enter")))
    else if (Ordering[(Long, Long)].lt(e, panel.last)) {
      val (evP, evId) = panel.last
      ((panel.init :+ e).sorted,
        List((id, e._1, "enter"), (evId, evP, "evict")))
    } else (panel, Nil)
  }

  class Processor(k: Int)
      extends StatefulProcessor[String, (String, Long), Out] {
    @transient private var panelState: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      panelState = getHandle.getListState[(Long, Long)]("panel",
        Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(source: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[Out] = {
      // one read and one write of the panel per (key, batch); the fold
      // runs on a local sorted vector (s92's edge-round-trip shape).
      // Within-batch fold order is doc_id ascending purely so the event
      // LOG is deterministic for the spec — the resulting panel is
      // order-independent either way.
      var p: Vector[(Long, Long)] =
        if (panelState.exists()) panelState.get().toVector.sorted else Vector.empty
      val sorted = rows.map(_._2).toArray.sorted
      if (sorted.isEmpty) return Iterator.empty
      val out = sorted.toList.flatMap { id =>
        val (p1, events) = step(p, id, k)
        p = p1
        events.map { case (eid, ep, ev) => (source, eid, ep, ev) }
      }
      panelState.put(p.toArray)
      out.iterator
    }
  }

  /** s94's surface: panel a (source, doc_id) stream. */
  def panel(in: Dataset[(String, Long)], k: Int = K): Dataset[Out] = {
    import in.sparkSession.implicits._
    in.groupByKey(_._1)
      .transformWithState(new Processor(k), TimeMode.None(), OutputMode.Append())
  }
}
