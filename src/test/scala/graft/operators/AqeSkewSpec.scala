package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Executed-plan proof for SURVEY §5's skew claim: AQE really does split
  * a skewed JOIN partition at runtime (`Salting.saltedAgg` covers the
  * case AQE cannot — a single hot REDUCE key). Thresholds are tuned down
  * so the effect manifests on a test-sized corpus; on a cluster the
  * defaults (256 MB advisory / 5× factor) do the same to a hot join key.
  */
class AqeSkewSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("AQE splits the skewed join partition at runtime") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force sort-merge
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB")
    // left: one hot key (0) carrying ~90% of rows, plus a uniform tail
    val left = spark.range(0, 60000)
      .select(when($"id" < 54000, 0L).otherwise($"id" % 97 + 1).as("k"),
        $"id".as("payload"))
    val right = spark.range(0, 98).select($"id".as("k"), ($"id" * 7).as("dim"))
    // baseline under default confs, BEFORE the skew knobs go on
    val plain = left.join(right, "k")
      .select(sum($"payload" + $"dim")).head().getLong(0)
    SparkSpec.withConf(confs: _*) {
      val joined = left.join(right, "k").select(sum($"payload" + $"dim").as("s"))
      // collect() (not head(), which builds a separate limit QueryExecution)
      // so the inspected queryExecution is the one AQE actually re-planned
      val want = joined.collect()(0).getLong(0)
      // the answer is right AND the executed plan marked the join skew-handled
      // query stages are leaf nodes, so a plan's own collect stops at
      // stage boundaries — the AQE helper's descends into each stage
      val plan = joined.queryExecution.executedPlan
      val smj = collect(plan) { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge join in:\n$plan")
      assert(smj.exists(_.isSkewJoin),
        s"AQE did not mark the join skew-handled:\n${plan.toString.take(2000)}")
      // the skew-handled run computes the same answer as the plain run
      assert(want === plain)
    }
  }
}
