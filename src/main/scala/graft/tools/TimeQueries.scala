package graft.tools

/** Ad-hoc per-query timing: run a comma-separated subset of
  * `SparkEntry.queries` on a given SF dir and print per-pass seconds +
  * medians. For iterating on ONE operator without paying a full Bench
  * sweep (Bench stays the artifact of record). AbBench parses the
  * `pass <p> <name> <secs> s` lines, from this build and from older
  * ones, so their shape is a contract.
  *
  * Run: sbt "runMain graft.tools.TimeQueries <sfDir> <q1,q2> [passes]"
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val spark = Harness.session()
    Harness.warm(spark)
    val times = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    for (p <- 1 to passes; n <- names) {
      graft.sources.Memo.clear()
      val dt = Harness.seconds(graft.SparkEntry.queries(n)(spark, sfDir).count())
      times(n) = times(n) :+ dt
      println(f"pass $p $n%-28s ${Harness.num(dt)}%8s s")
    }
    println("---- medians ----")
    names.foreach { n =>
      val s = times(n)
      println(f"$n%-28s ${Harness.num(Harness.median(s))}%8s s  " +
        s"(min ${Harness.num(s.min)} max ${Harness.num(s.max)})")
    }
    spark.stop()
  }
}
