package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.tools.Harness

/** The correctness dump behind `Verify <sf> <out> [name...]`. */
class VerifySpec extends SparkSpec {

  test("a named subset dumps exactly those queries and their oracle SQL") {
    val out = Files.createTempDirectory("graft-verify")
    // ann_lsh is approximate: a dumped result with no oracle SQL
    val names = Seq("q6_filter_agg", "ann_lsh")
    assert(SparkEntry.oracleSql.contains("q6_filter_agg"))
    assert(!SparkEntry.oracleSql.contains("ann_lsh"))
    Verify.dump(spark, sf, out.toString, names)

    val dirs = Files.list(out).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(dirs == names.toSet)
    names.foreach(n => assert(spark.read.parquet(out.resolve(n).toString).count() > 0))

    val oracle = parse(Files.readString(out.resolve("oracle_sql.json")))
    val JObject(fields) = oracle
    assert(fields.map(_._1).toSet == Set("q6_filter_agg"))
    assert(oracle \ "q6_filter_agg" == JString(SparkEntry.oracleSql("q6_filter_agg")))
  }

  test("the JSON string escape round-trips tab, CR, quote and backslash") {
    val s = "a\tb\rc\"d\\e\u0001f"
    assert(parse("[" + Harness.str(s) + "]") == JArray(List(JString(s))))
  }
}
