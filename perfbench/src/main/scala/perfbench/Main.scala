package perfbench

import org.apache.spark.sql.SparkSession
import java.util.Locale

/** Benchmark entry point: runs one workload in this JVM and prints its
  * result as one JSON line, the last line of standard output. A report
  * with each workload's own named metrics goes to standard error.
  *
  * {{{ Main --workload <docdb_serve|docdb_ingest|batch_suite> --seed <n>
  *          --seconds <s> --trace <0|1> --work <dir> }}}
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` records spans
  * and Spark listener counts around the same calls and reports the
  * per-layer metrics, plus the end-to-end metrics it measured while
  * tracing (as `traced.*`). Data goes under `--work`; spans are written
  * to `<work>/spans.jsonl` at the end of a traced run. */
object Main {
  val Workloads = Seq("docdb_serve", "docdb_ingest", "batch_suite")

  /** local[nproc], shuffle partitions = nproc, UTC, no UI. */
  def session(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath
    val spark = session()
    try {
      val r = workload match {
        case "docdb_serve" => DocWorkloads.serve(spark, work, seed, seconds, trace)
        case "docdb_ingest" => DocWorkloads.ingest(spark, work, seed, seconds, trace)
        case "batch_suite" => Batch.run(spark, work, seed, trace)
      }
      r.report.foreach(l => System.err.println(s"[perfbench] $l"))
      val metrics = if (trace) r.layers else r.e2e
      println(json(r, metrics))
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(r: WorkloadResult, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    String.format(Locale.ROOT, """{"correct": %s, "attempted": %d, "failed": %d, "metrics": {%s}}""",
      r.correct.toString, Long.box(r.attempted), Long.box(r.failed), ms.mkString(", "))
  }
}
