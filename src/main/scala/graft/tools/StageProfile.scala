package graft.tools

/** Stage-level evidence for scaling diagnoses (r16, VERDICT #5): run one
  * query and print every stage's task count, wall time, and the max/sum
  * task-time ratio — the numbers that tell a TINY-SF TAX (1-task scan
  * stages + trivially small reduce stages, where extra cores only add
  * scheduling overhead) from a REAL serial term (a single-partition
  * window or driver fold that stays serial at any scale).
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StageProfile <sfDir> <q1,q2,...>"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = Harness.session()
    val stages = Harness.Stages.attach(spark)
    Harness.warm(spark)
    names.foreach { n =>
      // warm pass: JIT + parquet footers out of the measurement
      Harness.cold(spark, n, sfDir)
      stages.takeRows()
      val dt = Harness.cold(spark, n, sfDir)
      val rows = stages.takeRows()
      println(f"== $n  cpus=${Harness.cpus}  total=$dt%.3fs  stages=${rows.size} ==")
      rows.foreach(println)
    }
    spark.stop()
  }
}
