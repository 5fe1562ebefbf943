package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.sources.Tables
import graft.functions.GraftFunctions._

/** SURVEY.md §2D — trained byte-pair-encoding tokenization: the real
  * token-counting tier above the whitespace/regex heuristics
  * (TextOps.textTokens), and the same algorithm family as production
  * tokenizers (Sennrich et al. 2016; GPT-2's merge-rank apply loop).
  *
  * Split of labor follows the quantizer pattern: TRAINING is a bounded
  * driver-side problem over the corpus's word-count table (the vocab is
  * capped at the most frequent 65 536 words — at 100 TB the word-count
  * groupBy is one shuffle of distinct words, and the cap bounds driver
  * memory no matter the corpus); APPLY is a per-row expression
  * (BpeTokens) with the ranked merge list shipped once as a flat
  * literal, memoizing repeated words per task.
  */
object Bpe {

  /** Greedy BPE trainer: start from characters, repeatedly merge the
    * most frequent adjacent symbol pair (count-weighted by word
    * frequency). Deterministic: ties break on the lexicographically
    * smallest pair; merging stops when the best pair occurs < 2 times.
    * Returns merges in rank order as "left right" strings. */
  private[pipeline] def trainMerges(wordCounts: Seq[(String, Long)], n: Int): Seq[String] = {
    var seqs: Seq[(Vector[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Seq.newBuilder[String]
    var round = 0
    var done = false
    while (round < n && !done) {
      val pairCounts = scala.collection.mutable.HashMap[(String, String), Long]()
      seqs.foreach { case (s, c) =>
        var i = 0
        while (i < s.length - 1) {
          pairCounts.updateWith((s(i), s(i + 1)))(v => Some(v.getOrElse(0L) + c))
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (best._2 < 2) done = true
        else {
          val (l, r) = best._1
          merges += s"$l $r"
          seqs = seqs.map { case (s, c) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                out += l + r; i += 2
              } else { out += s(i); i += 1 }
            }
            (out.result(), c)
          }
        }
      }
      round += 1
    }
    merges.result()
  }

  /** Corpus-trained merge list, memoized per (corpus, nMerges).
    * The distributed half is ONE word-count groupBy capped to the top
    * 65 536 words by (count desc, word asc) — a bounded driver problem
    * at any corpus size, like the IVF/PQ quantizers. */
  private[pipeline] def corpusMerges(docs: DataFrame, nMerges: Int): Seq[String] =
    graft.sources.Memo("bpe.merges", docs, nMerges) {
      val counts = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc)
        .limit(65536)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .toSeq
      trainMerges(counts, nMerges)
    }

  /** Per-document BPE token counts under a 64-merge corpus-trained
    * model, next to the whitespace count — the compression the learned
    * vocabulary buys. Rows-only (iterative merges aren't
    * SQL-expressible); lossless-ness and merge monotonicity are
    * spec-pinned. */
  def textBpe(spark: SparkSession, dir: String): DataFrame =
    textBpeN(spark, dir, nMerges = 64)

  def textBpeN(spark: SparkSession, dir: String, nMerges: Int): DataFrame = {
    val d = Tables.documents(spark, dir)
    val merges = corpusMerges(d, nMerges)
    val mergesLit = string_array_lit(merges)
    d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(bpe_tokens(col("text"), mergesLit)).cast("long").as("n_bpe_tokens"))
  }

  val declared: Seq[Declared] = Seq(
    Declared("text_bpe", textBpe),
  )
}
