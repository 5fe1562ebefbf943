package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Accuracy lane — the recall/error counterpart of bench_skew.json.
  * The approximate operators (LSH/IVF/PQ ANN, minhash/simhash
  * candidates, HLL/quantile sketches) are spec-GATED at fixed
  * thresholds, but a threshold gate only catches a regression once it
  * crosses the cliff; this measures the actual values on the bench
  * corpus every round and persists them (with prior-round deltas and
  * floor flags) to bench_recall.json, so accuracy drift is
  * machine-caught like performance drift.
  *
  * Ground truths are the oracle-exact twins: brute-force cosine top-k
  * for the ANN paths, the exact n-gram jaccard pair set for the
  * banded near-dup candidates, exact COUNT(DISTINCT)/percentile for
  * the sketches. All driver-side set math runs over top-k/pair/
  * group-count outputs — thousands of rows, not corpus rows.
  *
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.RecallLane"
  */
object RecallLane {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    import spark.implicits._

    // metric -> (value, floor): flag when value < floor, and always
    // carry the previous committed value for delta reading
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val errors = scala.collection.mutable.ListBuffer.empty[String]

    def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
      df.select(col(a), col(b)).as[(Long, Long)].collect().toSet

    // ---- ANN recall vs the oracle-exact brute force ----
    try {
      val brute = pairSet(graft.pipeline.Ann.annCosineTopk(spark, sfDir),
        "query_id", "cand_id")
      def recall(df: DataFrame): Double =
        (brute & pairSet(df, "query_id", "cand_id")).size.toDouble / brute.size
      metrics("ann_lsh_recall") =
        (recall(graft.pipeline.Ann.annLsh(spark, sfDir)), 0.8)
      metrics("ann_ivf_recall") =
        (recall(graft.pipeline.Ann.annIvf(spark, sfDir)), 0.8)
      metrics("ann_pq_recall") =
        (recall(graft.pipeline.Ann.annPq(spark, sfDir)), 0.8)
    } catch { case NonFatal(e) => errors += s"ann: ${e.getMessage}" }

    // ---- near-dup candidate quality vs exact jaccard ----
    try {
      val exact = graft.pipeline.Dedup.dedupNgramJaccard(spark, sfDir)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .as[(Long, Long, Double)].collect()
      val exactAll = exact.map(t => (t._1, t._2)).toSet // jaccard >= 0.5
      val truthHigh = exact.collect { case (a, b, j) if j >= 0.8 => (a, b) }.toSet
      val mh = pairSet(graft.pipeline.Dedup.dedupMinhash(spark, sfDir)
        .filter(col("est_jaccard") >= 0.5), "a_id", "b_id")
      // the spec pins exact(>=0.8) ⊆ minhash(est>=0.5): recall floor 1.0
      metrics("minhash_recall_at08") =
        ((truthHigh & mh).size.toDouble / truthHigh.size.max(1), 0.999)
      metrics("minhash_precision_at05") =
        ((mh & exactAll).size.toDouble / mh.size.max(1), 0.0)
      val sh = pairSet(graft.pipeline.Dedup.dedupSimhash(spark, sfDir),
        "a_id", "b_id")
      val truth90 = exact.collect { case (a, b, j) if j >= 0.9 => (a, b) }.toSet
      metrics("simhash_recall_at09") =
        ((truth90 & sh).size.toDouble / truth90.size.max(1), 0.0)
      metrics("simhash_precision_at05") =
        ((sh & exactAll).size.toDouble / sh.size.max(1), 0.0)
    } catch { case NonFatal(e) => errors += s"neardup: ${e.getMessage}" }

    // ---- sketch error vs exact aggregates ----
    try {
      val approx = graft.operators.OperatorQueries.approxStats(spark, sfDir)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val exact = graft.sources.Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.99)").as("p99"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      def maxRel(f: ((Long, Double, Double), (Long, Double, Double)) => Double): Double =
        exact.keys.map(k => f(approx(k), exact(k))).max
      metrics("approx_users_max_rel_err") =
        (maxRel((a, e) => math.abs(a._1 - e._1).toDouble / e._1.max(1)), -0.1)
      metrics("approx_p50_max_rel_err") =
        (maxRel((a, e) => math.abs(a._2 - e._2) / math.max(e._2, 1.0)), -0.25)
      metrics("approx_p99_max_rel_err") =
        (maxRel((a, e) => math.abs(a._3 - e._3) / math.max(e._3, 1.0)), -0.25)
      val sk = graft.events.EventQueries.evtSketchRollup(spark, sfDir)
        .select(col("event_type"), col("approx_users").cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      metrics("sketch_rollup_users_max_rel_err") =
        (exact.keys.map(k => math.abs(sk(k) - exact(k)._1) / exact(k)._1.max(1))
          .max, -0.1)
    } catch { case NonFatal(e) => errors += s"sketch: ${e.getMessage}" }

    spark.stop()

    // error metrics carry a NEGATIVE floor meaning "flag when value >
    // -floor" (errors grow bad upward, recalls shrink bad downward)
    def flagged(name: String, v: Double, floor: Double): Boolean =
      if (floor >= 0.0) v < floor else v > -floor

    val out = Paths.get("bench_recall.json")
    val prev: Map[String, Double] = Harness.readRecord(out)
      .map(Harness.numFieldOf(_, "metrics", "value")).getOrElse(Map.empty)
    def r4(d: Double): String = Harness.num(d, 4)
    val flags = metrics.collect {
      case (n, (v, fl)) if flagged(n, v, fl) => n
    }.toSeq ++ errors.map(_.takeWhile(_ != ':'))
    val metricsJson = Harness.obj(metrics.map { case (n, (v, fl)) =>
      val prevStr = prev.get(n).map(p =>
        s""","prev":${r4(p)},"delta":${r4(v - p)}""").getOrElse("")
      n -> s"""{"value":${r4(v)},"floor":${r4(fl)}$prevStr}"""
    })
    val json = s"""{"lane":"recall","sf":${Harness.str(sfDir)},""" +
      s""""flags":${Harness.strs(flags)},"errors":${Harness.strs(errors)},""" +
      s""""metrics":$metricsJson}"""
    Files.write(out, (json + "\n").getBytes("UTF-8"))
    println(json)
    println(s"[recall-lane] wrote ${out.toAbsolutePath}")
    if (flags.nonEmpty) {
      System.err.println(s"[recall-lane] flags: ${flags.mkString(",")}")
      sys.exit(1)
    }
  }
}
