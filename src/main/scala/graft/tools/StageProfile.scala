package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

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
  private final class L extends SparkListener {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for {
        s <- si.submissionTime; c <- si.completionTime
      } yield (c - s) / 1e3).getOrElse(-1.0)
      val run = si.taskMetrics.executorRunTime / 1e3
      val swMb = si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
      rows.add(f"    stage ${si.stageId}%4d  tasks=${si.numTasks}%4d  " +
        f"wall=$wall%7.3fs  taskSum=$run%7.3fs  shufW=$swMb%8.3fMB  ${si.name.take(70)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      // warm pass: JIT + parquet footers out of the measurement
      graft.sources.Memo.clear()
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      graft.sources.Memo.clear()
      val l = new L
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftshim.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      println(f"== $n  cpus=$cpus  total=$dt%.3fs  stages=${l.rows.size} ==")
      l.rows.forEach(println)
    }
    spark.stop()
  }
}
