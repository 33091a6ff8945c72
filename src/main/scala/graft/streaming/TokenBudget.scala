package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Per-language token-budget meter — the admission controller of a
  * training-data mixing pipeline: each language's share of the training
  * mix is a token budget, documents arrive in ingest order, and a doc is
  * admitted while the language's running token meter (ALL tokens seen,
  * admitted or not) is within quota. Metering the whole stream rather
  * than only admissions keeps the transition ORDER-ASSOCIATIVE per key
  * (the meter is a plain prefix sum), which is what makes the operator
  * fully oracle-able: the batch twin (q129_token_budget,
  * `queries/TokenStats.scala`) is a per-lang ordered window prefix sum,
  * hash-gated against DuckDB, and StreamingSpec s88 pins this streaming
  * spelling row-identical to that oracled batch answer. A greedy
  * admitted-only knapsack would be path-dependent and un-oraclable —
  * same reasoning as q89's documented no-oracle verdict, deliberately
  * avoided here.
  *
  * The streaming spelling rides Spark 4's `transformWithState` (the
  * arbitrary-stateful-processing successor of `flatMapGroupsWithState` —
  * typed per-key state handles, TTL, timers; RocksDB-backed state store
  * REQUIRED by the API, which is also the engine's large-state posture,
  * s78/s79). State per key is ONE long — the meter — so state size is
  * O(languages), not O(documents): the unbounded-state failure mode
  * (s80's scaladoc) cannot occur regardless of corpus size.
  *
  * Ordering contract (s86/s87's convention): rows are folded in doc_id
  * order WITHIN a micro-batch (the per-batch sort below), and
  * micro-batches deliver disjoint ascending doc_id ranges per key —
  * the file/ingest sources used here satisfy it. Under that contract
  * the stream fold replays exactly the batch window's ordering. The
  * contract is ENFORCED, not assumed: a per-key high-water register
  * (`lastId`) records the newest folded doc_id, and a batch that
  * delivers a row at or below it fails the query with a loud
  * [[IllegalStateException]] — a violating source must surface as an
  * error, never as a silently wrong admitted verdict (the per-batch
  * sort cannot repair cross-batch disorder once the meter has folded). */
object TokenBudget {

  /** Per-language quota in whitespace tokens (q86's ws_tokens
    * measure). q129's oracle SQL interpolates the SAME value so both
    * engines gate on one number. */
  val Quota: Long = 2000L

  /** The shared transition: meter' = meter + n, admitted ⇔ meter' ≤
    * quota. One addition and one compare — the entire per-doc state
    * transition, identical in the stream fold and the batch window. */
  def step(meter: Long, n: Long, quota: Long): (Long, Boolean) = {
    val m = meter + n
    (m, m <= quota)
  }

  /** Output row: (lang, doc_id, n_tokens, admitted, meter_after). */
  type Out = (String, Long, Long, Boolean, Long)

  /** The `StatefulProcessor`: keyed by lang, one `ValueState[Long]`
    * meter per key (TTL NONE — a language's budget never expires within
    * a run; a daily-reset deployment would pass a TTL of one day and
    * get the reset for free from the store). */
  class Processor(quota: Long)
      extends StatefulProcessor[String, (String, Long, Long), Out] {
    @transient private var meter: ValueState[Long] = _
    @transient private var lastId: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      meter = getHandle.getValueState[Long]("meter", Encoders.scalaLong, TTLConfig.NONE)
      lastId = getHandle.getValueState[Long]("lastId", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(lang: String,
        rows: Iterator[(String, Long, Long)],
        timerValues: TimerValues): Iterator[Out] = {
      var m = if (meter.exists()) meter.get() else 0L
      // per-batch doc_id sort: restores fold order within the batch
      // (cross-batch ordering is the input contract above). The sort
      // buffers one (key, micro-batch) group — bounded by batch sizing,
      // not corpus size.
      val sorted = rows.toArray.sortBy(_._2)
      if (sorted.isEmpty) return Iterator.empty
      // enforce the cross-batch half of the ordering contract: the
      // batch's smallest doc_id must sit strictly above the high-water
      // mark of everything already folded, else the meter is already
      // wrong and the only honest outcome is a query failure
      if (lastId.exists() && sorted.head._2 <= lastId.get()) {
        throw new IllegalStateException(
          s"TokenBudget ordering contract violated for lang=$lang: batch " +
            s"delivered doc_id=${sorted.head._2} at or below the already-" +
            s"folded high-water mark ${lastId.get()} — micro-batches must " +
            "carry disjoint ascending doc_id ranges per key")
      }
      val out = sorted.map { case (l, id, n) =>
        val (m1, admitted) = step(m, n, quota)
        m = m1
        (l, id, n, admitted, m1)
      }
      meter.update(m)
      lastId.update(sorted.last._2)
      out.iterator
    }
  }

  /** s88's surface: meter a (lang, doc_id, n_tokens) stream. */
  def meter(in: Dataset[(String, Long, Long)],
      quota: Long = Quota): Dataset[Out] = {
    import in.sparkSession.implicits._
    in.groupByKey(_._1)
      .transformWithState(new Processor(quota), TimeMode.None(), OutputMode.Append())
  }
}
