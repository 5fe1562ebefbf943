package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Makes and cross-checks the stored batch_suite checksums.
  *
  * {{{
  *   Expected generate <work>  corpus per corpus seed under <work>/corpus_<seed>,
  *                             the 20 queries' checksums to <work>/checksums.tsv
  *                             and their oracle SQL to <work>/oracle_sql.json
  *   Expected compare <work>   checksums of the oracle results that
  *                             crosscheck.py wrote under <work>/oracle_<seed>/
  *                             against <work>/checksums.tsv
  * }}} */
object Expected {
  def main(args: Array[String]): Unit = {
    val work = args(1)
    val spark = Main.session()
    try args(0) match {
      case "generate" => generate(spark, work)
      case "compare" => if (!compare(spark, work)) sys.exit(1)
    } finally spark.stop()
  }

  private def generate(spark: SparkSession, work: String): Unit = {
    val lines = Batch.CorpusSeeds.flatMap { cs =>
      val dir = s"$work/corpus_$cs"
      Batch.generate(spark, dir, cs)
      Batch.Queries.map { case (q, _) =>
        val r = Batch.runQuery(spark, new Tracer(spark, false), q, dir)
        System.err.println(f"$cs $q%-28s ${r.checksum}")
        s"$cs\t$q\t${r.checksum}"
      }
    }
    Files.writeString(Paths.get(s"$work/checksums.tsv"), lines.mkString("", "\n", "\n"))
    val sql = Batch.Queries.flatMap { case (q, _) => graft.SparkEntry.oracleSql.get(q).map(q -> _) }
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(sql.toMap)(org.json4s.DefaultFormats))
  }

  private def compare(spark: SparkSession, work: String): Boolean = {
    val want = scala.io.Source.fromFile(s"$work/checksums.tsv").getLines()
      .map(_.split('\t')).map(a => (a(0), a(1)) -> a(2)).toMap
    val results = for {
      (cs, q) <- want.keys.toSeq.sorted
      f = new java.io.File(s"$work/oracle_$cs/$q.parquet") if f.exists
    } yield {
      val got = Checksum.of(spark.read.parquet(f.getPath))
      val ok = got == want((cs, q))
      println(s"${if (ok) "PASS" else "FAIL"} $cs $q oracle $got spark ${want((cs, q))}")
      ok
    }
    println(s"== ${results.count(identity)} of ${results.size} oracle checksums match ==")
    results.forall(identity)
  }
}
