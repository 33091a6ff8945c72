package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quasi-identifier suppression gate — q161's verdict as a shared
  * batch/stream code object (the s82/s85/s95/s97/s98 convention: ONE
  * function, so the oracled batch answer and the ingest-time gate
  * cannot drift). The privacy mechanism behind q160's k-anonymity
  * AUDIT: a document whose quasi-identifier class — the (lang, source,
  * length-band) tuple that survives even after q79's in-text PII
  * scrub — has fewer than k members is re-identifiable by its
  * metadata alone, and the standard remedy is SUPPRESSION (hold the
  * row back, or strip its metadata) until its class fills up. q160
  * reports how much of the corpus sits below each k; q161/s99 apply
  * the verdict per document.
  *
  * Stateless by construction: the class-size table is a nightly
  * artifact of the previous corpus build (q160's grouping — far
  * smaller than the corpus: one row per occupied QI cell), rides as a
  * STATIC broadcast dimension, and each arriving document LEFT-joins
  * it on its own QI tuple — no state store, no watermark, the
  * s95/s97 gate-at-ingest argument applied to privacy. A document
  * whose class is absent from the table (never seen before) is the
  * MOST identifiable and coalesces to class size 0 → suppressed.
  *
  * Determinism: the length band is BIGINT floor division of the
  * n_chars column (non-negative, so Spark's truncating `div` and
  * DuckDB's flooring `//` agree); the verdict is a pure ≥-k compare.
  * No RNG, no engine hash, no floats. */
object QiGate {

  /** Band width for the n_chars quasi-identifier — 100 chars puts the
    * sf0.01 fixture at ~300 occupied classes over 500 docs (singletons
    * exist at every SF), so the audit ladder has structure. */
  val BandWidth = 100L

  /** The anonymity threshold k: suppress below k class members. */
  private[graft] val kDial: Long = 5L

  /** The quasi-identifier projection — one spelling for the audit
    * (q160), the gate (q161), its oracle, and the stream (s99). */
  def qiCols: Seq[Column] = Seq(col("lang"), col("source"),
    expr(s"n_chars div $BandWidth").as("len_band"))

  /** The class-size table: one row per occupied QI cell. A SHRINKING
    * two-phase aggregate (cells ≪ corpus); the nightly artifact the
    * gate broadcasts. */
  def classTable(docs: DataFrame): DataFrame =
    docs.select(qiCols: _*)
      .groupBy(col("lang"), col("source"), col("len_band"))
      .agg(count(lit(1)).as("class_size"))

  /** Per-document verdict against a static class table: (doc_id, lang,
    * source, len_band, class_size, admit). TOTAL — a doc whose class
    * is not in the table gets class_size 0 and admit false. One
    * broadcast join + a row-local compare; no aggregation, no state,
    * no shuffle of the document stream at any scale. */
  def gate(docs: DataFrame, classes: DataFrame, k: Long): DataFrame =
    docs.select(col("doc_id") +: qiCols: _*)
      .join(broadcast(classes), Seq("lang", "source", "len_band"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("len_band"),
        coalesce(col("class_size"), lit(0L)).as("class_size"),
        (coalesce(col("class_size"), lit(0L)) >= k).as("admit"))
}
