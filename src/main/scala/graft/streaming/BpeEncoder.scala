package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{CorpusOps, bind}

/** BPE encode with a LEARNED merge-list artifact — the production
  * posture q149's scaladoc promises: train ships an ordered merge list
  * (`CorpusOps.learnMerges`, the q144 loop at candidate depth 1), and
  * the corpus-wide encode pass is a PURE PROJECTION that folds the
  * artifact over each document's token stream. Shared batch/stream code
  * object (the s82/s85/s93/s95 convention): q150's per-language report
  * aggregates this projection in batch, s96 runs the IDENTICAL
  * expression at ingest — so the oracled batch answer certifies the
  * stream.
  *
  * Stateless by construction — each document's encoding depends only on
  * its own text plus the fixed artifact — so the stream spelling needs
  * no state store, no watermark, and no output-mode constraint; at
  * 100 TB the artifact is a broadcast-sized literal (R ≤ 6 pairs here;
  * a production 50k-merge vocabulary is a ~1 MB broadcast) and the
  * encode scales as embarrassingly parallel map work, which is exactly
  * how tokenization jobs run over crawl shards.
  *
  * Each merge layer is bound through [[graft.queries.bind]] before the
  * next applies: inlining layer r's expression into layer r+1's
  * multiple references would re-run it per reference (~3^R blowup).
  * Binding keeps the fold O(R·n) per row; `PlanSpec`'s lambda audit
  * pins it. */
object BpeEncoder {

  /** Encode a (doc_id, text, …) frame against an ordered merge list:
    * (doc_id, keep…, n_raw, n_enc, n_merged). TOTAL like q149: empty /
    * null / sub-2-token docs pass through with n_enc = n_raw,
    * n_merged = 0 ([[CorpusOps.applyMerge]]'s n ≥ 2 guard makes every
    * layer the identity on short streams). Row-local — no shuffle at
    * any scale. */
  def encode(docs: DataFrame, merges: Seq[(String, String)],
      keep: Seq[String] = Nil): DataFrame = {
    val toks0 = filter(split(coalesce(col("text"), lit("")), " "),
      x => x =!= "")
    val report = bind(toks0) { t0 =>
      val enc = merges.foldLeft(t0) { case (c, (p1, p2)) =>
        bind(c)(v => CorpusOps.applyMerge(v, p1, p2))
      }
      bind(enc)(e => struct(
        size(t0).cast("long").as("n_raw"),
        size(e).cast("long").as("n_enc"),
        size(filter(e, tk => instr(tk, CorpusOps.BpeSep) >= 1))
          .cast("long").as("n_merged")))
    }
    // two-step select: the struct is expensive (interpreted HOF fold)
    // and referenced three times, so CollapseProject's is-cheap check
    // keeps the projections separate — r evaluates once per row
    docs.select(col("doc_id") +: keep.map(col) :+ report.as("r"): _*)
      .select(col("doc_id") +: keep.map(col) :+
        col("r.n_raw").as("n_raw") :+ col("r.n_enc").as("n_enc") :+
        col("r.n_merged").as("n_merged"): _*)
  }
}
