package graft

import org.apache.spark.sql.functions.col

/** Partition-count invariance for float-bearing queries.
  *
  * The driver's oracle compare hashes VALUES, so any result that
  * depends on partition order (a raw double sum, a non-commutative
  * accumulation, an arbitrary tie-break) would pass on one layout and
  * hash-mismatch on another. The numeric discipline (exact DECIMAL
  * accumulation, single final IEEE step, integer tie-breaks) makes
  * every query a pure function of the DATA; this spec enforces that by
  * executing representative queries under two different
  * `spark.sql.shuffle.partitions` settings and requiring collected
  * results to be identical bit-for-bit.
  */
class DeterminismSpec extends SparkSpec {

  // float-bearing or tie-break-bearing representatives from each block
  private val names = Seq(
    "q1_pricing", "q8_market_share", "q15_top_supplier", "q10_returned_revenue",
    "evt_anomaly", "evt_time_weighted_avg", "corpus_stats",
    "text_unigram_lm", "text_search_bm25", "pipeline_dsir",
    "pipeline_quality_percentile", "dedup_ngram_jaccard")

  private def runAt(parts: Int, name: String): Array[String] =
    SparkSpec.withConf("spark.sql.shuffle.partitions" -> parts.toString) {
      val df = SparkEntry.queries(name)(spark, sf)
      val cols = df.columns.sorted
      df.select(cols.map(col): _*).collect()
        .map(_.mkString("")).sorted
    }

  test("results are invariant under shuffle-partition count (3 vs 11)") {
    for (name <- names) {
      val a = runAt(3, name)
      val b = runAt(11, name)
      assert(a.length === b.length, s"$name: row count differs across layouts")
      assert(a.sameElements(b),
        s"$name: values differ across partition layouts — " +
          s"first diff: ${a.zip(b).find(p => p._1 != p._2)}")
    }
  }
}
