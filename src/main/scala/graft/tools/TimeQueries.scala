package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query timing: run a comma-separated subset of
  * `SparkEntry.queries` on a given SF dir and print per-pass seconds +
  * medians. For iterating on ONE operator without paying a full Bench
  * sweep (Bench stays the artifact of record).
  *
  * Run: sbt "runMain graft.tools.TimeQueries <sfDir> <q1,q2> [passes]"
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val times = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    for (p <- 1 to passes; n <- names) {
      graft.sources.Memo.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      times(n) = times(n) :+ dt
      println(f"pass $p $n%-28s $dt%8.3f s")
    }
    println("---- medians ----")
    names.foreach { n =>
      val s = times(n).sorted
      val med = if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      println(f"$n%-28s $med%8.3f s  (min ${s.head}%.3f max ${s.last}%.3f)")
    }
    spark.stop()
  }
}
