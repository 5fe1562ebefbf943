package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.tools.Harness

/** Correctness dump for the DuckDB compare (`scripts/selfcheck.py`):
  * each query result → `<outDir>/<name>` parquet, plus the matching
  * `oracle_sql.json`.
  *
  * Run: sbt "runMain graft.Verify <sfDir> <outDir> [name...]"
  * With no names, every `SparkEntry.queries` entry is dumped. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val spark = Harness.session()
    dump(spark, sfDir, outDir,
      if (names.isEmpty) SparkEntry.queries.keys.toSeq else names)
    spark.stop()
  }

  /** Dump `names` (each must be a declared query) and the oracle SQL of
    * those that have one. A query that throws is logged as
    * `[verify] <name> failed: ...` and left out; the others still run. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val wanted = names.toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${Harness.str(k)}: ${Harness.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
