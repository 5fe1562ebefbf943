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

  test("the query registry: unique names, non-empty oracles, 14 approximate queries") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.size === 167)
    // a module list placed above the *Sql vals it reads captures null
    SparkEntry.declared.foreach(d =>
      d.oracle.foreach(sql => assert(sql != null && sql.trim.nonEmpty, d.name)))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet === Set(
      "ann_ivf", "ann_lsh", "ann_pq", "approx_stats", "dedup_clusters",
      "dedup_embedding", "dedup_minhash", "dedup_simhash", "emb_kmeans", "emb_pca",
      "evt_sketch_rollup", "mm_phash_dedup", "pipeline_cluster_sample", "text_bpe"))
  }

  test("the JSON string escape round-trips tab, CR, quote and backslash") {
    val s = "a\tb\rc\"d\\e\u0001f"
    assert(parse("[" + Harness.str(s) + "]") == JArray(List(JString(s))))
  }
}
