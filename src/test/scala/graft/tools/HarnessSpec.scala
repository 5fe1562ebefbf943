package graft.tools

import java.util.Locale

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.{SparkEntry, SparkSpec}

/** The measurement harness's two shared decisions that records depend
  * on: numbers that every strict JSON parser accepts, and a plan hash
  * that moves with plan shape only. */
class HarnessSpec extends SparkSpec {

  test("lane JSON numbers ignore the default locale and write null for non-finite") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(Harness.num(1.2345) == "1.235")
      assert(Harness.num(-0.1, 4) == "-0.1000")
      assert(Harness.num(Double.NaN) == "null")
      assert(Harness.num(Double.PositiveInfinity, 4) == "null")
      // a lane-shaped line: flags, an escaped error, nested metrics, and
      // the geomean of an empty split half
      val line = Harness.obj(Seq(
        "lane" -> Harness.str("recall"),
        "flags" -> Harness.strs(Seq("ann")),
        "errors" -> Harness.strs(Seq("ann: \"bad\" input")),
        "even" -> Harness.num(Harness.geomean(Nil), 4),
        "metrics" -> Harness.obj(Seq("ann_lsh_recall" ->
          Harness.obj(Seq("value" -> Harness.num(0.98765, 4)))))))
      val j = parse(line)
      assert(j \ "even" == JNull)
      assert(j \ "errors" == JArray(List(JString("ann: \"bad\" input"))))
      assert(Harness.asDouble(j \ "metrics" \ "ann_lsh_recall" \ "value")
        .contains(0.9877))
    } finally Locale.setDefault(saved)
  }

  test("plan hash: stable across expression ids and partition counts, distinct across queries") {
    val q1 = SparkEntry.queries("q1_pricing")
    val a = q1(spark, sf)
    val b = q1(spark, sf)
    // the two builds differ in expression ids, which the hash strips
    assert(a.queryExecution.executedPlan.toString !=
      b.queryExecution.executedPlan.toString)
    assert(Harness.planHash(a) == Harness.planHash(b))

    def at(partitions: Int): (String, String) =
      SparkSpec.withConf("spark.sql.shuffle.partitions" -> partitions.toString) {
        val df = q1(spark, sf)
        (df.queryExecution.executedPlan.toString, Harness.planHash(df))
      }
    val (plan4, hash4) = at(4)
    val (plan8, hash8) = at(8)
    assert(plan4.contains(", 4)") && plan8.contains(", 8)"))
    assert(hash4 == hash8)

    assert(Harness.planHash(a) !=
      Harness.planHash(SparkEntry.queries("q6_filter_agg")(spark, sf)))
  }
}
