package graft.pipeline

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted pairs for the three oracle-exact candidate pins. At sf0.01
  * `dedup_minhash_band_exact`, `dedup_simhash_band_exact` and
  * `dedup_embedding_exact` return 0 rows, and so does the oracle, so the
  * correctness gate passes them whatever the banding or IVF candidate
  * machinery does. This spec copies the sf0.001 documents and embeddings,
  * plants documents with equal 3-shingle sets, documents with equal
  * token lists but different raw text, bit-identical embeddings and a
  * zero-norm pair, and asserts that each query returns exactly the pairs
  * a driver-side brute force finds, the planted ones among them. */
class DedupExactPinsSpec extends SparkSpec {
  import spark.implicits._

  private val base = 100000L
  private val words = (1 to 12).map(i => s"planted$i")

  // equal distinct 3-shingle sets, different texts and token lists
  private val cycle2 = ("p q r " * 2).trim
  private val cycle3 = ("p q r " * 3).trim
  // equal token lists, different raw text (trim removes the padding)
  private val plain = words.mkString(" ")
  private val padded = "  " + plain + " "

  private lazy val dir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-exact-pins").toString
    val docs = Tables.documents(spark, sf)
    val planted = Seq(
      (base + 1, cycle2), (base + 2, cycle3),
      (base + 3, plain), (base + 4, padded), (base + 5, plain)
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("planted").as("source"),
        length(col("text")).cast("long").as("n_chars"))
    docs.unionByName(planted).write.parquet(s"$tmp/documents.parquet")
    val emb = Tables.embeddings(spark, sf)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val firstTwo = emb.orderBy(col("vec_id")).limit(2).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val copies = Seq(
      (base + 1, firstTwo(0)._2, firstTwo(0)._3),
      (base + 2, firstTwo(0)._2, firstTwo(0)._3),
      (base + 3, firstTwo(1)._2, firstTwo(1)._3),
      (base + 4, Seq.fill(dim)(0f), 0), // zero norm: never a pair
      (base + 5, Seq.fill(dim)(0f), 0))
    emb.unionByName(copies.toDF("vec_id", "embedding", "label")).write.parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  /** (a < b) pairs of ids whose keys are equal, by brute force. */
  private def equalKeyPairs[K](rows: Seq[(Long, K)]): Set[(Long, Long)] =
    rows.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet

  /** The oracle's tokenization: trim, then split on single spaces. */
  private lazy val tokens: Seq[(Long, Seq[String])] =
    Tables.documents(spark, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSeq.map { case (id, t) => (id, t.trim.split(" ", -1).toSeq) }

  test("dedup_minhash_band_exact returns exactly the equal-shingle-set pairs") {
    val reference = equalKeyPairs(tokens.map { case (id, ts) =>
      (id, ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet)
    })
    assert(Set((base + 1, base + 2), (base + 3, base + 4), (base + 3, base + 5),
      (base + 4, base + 5)).subsetOf(reference))
    assert(pairs(Dedup.dedupMinhashBandExact(spark, dir)) === reference)
  }

  test("dedup_simhash_band_exact returns exactly the equal-token-list pairs") {
    val reference = equalKeyPairs(tokens)
    assert(Set((base + 3, base + 4), (base + 3, base + 5), (base + 4, base + 5))
      .subsetOf(reference))
    assert(!reference.contains((base + 1, base + 2))) // equal shingles, not tokens
    assert(pairs(Dedup.dedupSimhashBandExact(spark, dir)) === reference)
  }

  test("dedup_embedding_exact returns exactly the bit-identical nonzero pairs") {
    val vecs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
      .filter(_._2.exists(_ != 0f))
      .map { case (id, v) => (id, v.map(java.lang.Float.floatToRawIntBits)) }
    val reference = equalKeyPairs(vecs)
    val Array(v0, v1) = Tables.embeddings(spark, sf).orderBy(col("vec_id")).limit(2)
      .select(col("vec_id")).as[Long].collect()
    assert(Set((v0, base + 1), (v0, base + 2), (base + 1, base + 2), (v1, base + 3))
      .subsetOf(reference))
    assert(!reference.contains((base + 4, base + 5)))
    assert(pairs(Dedup.dedupEmbeddingExact(spark, dir)) === reference)
  }
}
