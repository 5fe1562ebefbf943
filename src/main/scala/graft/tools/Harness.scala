package graft.tools

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

/** The measurement decisions every timing main shares, each made once:
  * the session (core count from the env contract), the warm-up, the
  * fixed calibration workload, the stage listener, the summary
  * statistics, the normalized plan hash, and JSON in and out.
  *
  * What a main resets between runs (`graft.sources.Memo.clear()`)
  * stays with the main: Bench clears once per pass, the cold-per-query
  * lanes clear before every query. */
object Harness {

  /** Cores for `local[n]` and the shuffle partition count:
    * `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder of the measurement mains: `local[cpus]`,
    * as many shuffle partitions, UTC session time, no UI, ERROR logs.
    * `extraConf` adds lane-specific settings on top. */
  def session(extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Warm what every timed query shares and none of them measures: the
    * JVM's codegen path, and the parquet footers and schema inference of
    * every base table under each of `dirs`. Without it the first timed
    * query absorbs session and IO setup. Failures are logged, not fatal:
    * a corpus may lack a table no timed query reads. */
  def warm(spark: SparkSession, dirs: String*): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    for (dir <- dirs; t <- graft.sources.Tables.all)
      try {
        // events.parquet may carry TIMESTAMP(NANOS); eventsRaw sets the
        // conf that reads it
        val df =
          if (t == "events") graft.sources.Tables.eventsRaw(spark, dir)
          else graft.sources.Tables.load(spark, dir, t)
        df.foreach(_ => ())
      } catch { case NonFatal(e) => warn(s"table $dir/$t", e) }
  }

  /** Run each named query once on `dir`, to JIT its operators off the
    * timed corpus. Failures are logged, not fatal. */
  def warmQueries(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, dir).count()
      catch { case NonFatal(e) => warn(s"query $n", e) }
    }

  private def warn(what: String, e: Throwable): Unit =
    System.err.println(s"[warm-up] $what failed: ${e.getMessage}")

  /** Wall seconds of `body`. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall seconds of one timed query run, or -1.0 when it throws; the
    * failure goes to stderr as `[tag] name failed: message`. */
  def timeOrFail(tag: String, name: String)(body: => Any): Double =
    try seconds(body)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        -1.0
    }

  /** Fixed calibration workload: data-independent (`spark.range`),
    * pinned size and partitioning, a codegen'd hash and a 1M-key shuffle
    * — the resources the suites stress. Its ratio across records
    * measures box drift, which Bench and StreamingBench divide out of
    * their gates. Returns wall seconds. */
  def calibrate(spark: SparkSession): Double = seconds {
    spark.range(0L, 48L * 1000 * 1000, 1L, 32)
      // pmod keeps the 48M-row sum far from long overflow (ANSI)
      .selectExpr("id % 1000000 AS k", "pmod(xxhash64(id), 1000003) AS h")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("h").as("s"))
      .selectExpr("sum(s)").collect()
  }

  /** One completed stage. */
  final case class StageRow(id: Int, tasks: Int, wallS: Double,
      taskS: Double, shuffleWriteBytes: Long, name: String) {
    override def toString: String =
      f"    stage $id%4d  tasks=$tasks%4d  wall=$wallS%7.3fs  taskSum=$taskS%7.3fs  " +
        f"shufW=${shuffleWriteBytes / 1e6}%8.3fMB  ${name.takeWhile(_ != '\n').take(70)}"
  }

  /** The stage listener of the measurement mains. Counts attempt 0
    * only: a retried or speculative attempt re-reports the same bytes,
    * which would break the premise that bytes are plan-deterministic.
    * Keeps running shuffle/spill byte totals and the completed stages'
    * rows; each read first drains the async listener bus, so a stage
    * that completed before the read is in it. A stage still running when
    * the action returns (adaptive execution can leave one the final plan
    * no longer reads) lands in the next read. */
  final class Stages private (spark: SparkSession) extends SparkListener {
    private val read = new AtomicLong(0L)
    private val write = new AtomicLong(0L)
    private val spill = new AtomicLong(0L)
    private val rows = new ConcurrentLinkedQueue[StageRow]()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null && si.attemptNumber() == 0) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        val wall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield (c - s) / 1e3).getOrElse(-1.0)
        rows.add(StageRow(si.stageId, si.numTasks, wall,
          m.executorRunTime / 1e3, m.shuffleWriteMetrics.bytesWritten, si.name))
      }
    }

    private def drain(): Unit =
      org.apache.spark.graftshim.ListenerBridge.drain(spark.sparkContext)

    /** Running (shuffle write, shuffle read, spill) byte totals. */
    def bytes(): (Long, Long, Long) = { drain(); (write.get, read.get, spill.get) }

    /** The rows of the stages completed since the last call. */
    def takeRows(): Seq[StageRow] = {
      drain()
      Iterator.continually(rows.poll()).takeWhile(_ != null).toList
    }
  }

  object Stages {
    def attach(spark: SparkSession): Stages = {
      val s = new Stages(spark)
      spark.sparkContext.addSparkListener(s)
      s
    }
  }

  /** Median; NaN for an empty sequence. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Median of counts: the upper middle element, so the value is one a
    * run actually produced; 0 for an empty sequence. */
  def medianLong(xs: Seq[Long]): Long = {
    val s = xs.sorted
    if (s.isEmpty) 0L else s(s.length / 2)
  }

  /** Geometric mean; NaN for an empty sequence. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(math.log).sum / xs.length)

  /** Count of `token` occurrences in `text` (overlaps included). */
  def occurrences(text: String, token: String): Int =
    text.sliding(token.length).count(_ == token)

  /** MD5 prefix of `df`'s executed plan with everything stripped that
    * varies with run order, process or config rather than plan shape:
    * expression and plan ids, scan file listings, lambda variable ids,
    * object identity hashes, JVM lambda class names, and partition
    * counts (a cpu-count change alone must not flip a hash). */
  def planHash(df: DataFrame): String = {
    val s = df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("Location: [^,\\]]+", "Location:")
      .replaceAll("lambda [A-Za-z]+_\\d+", "lambda x_")
      .replaceAll("@[0-9a-f]{6,}", "@")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$/0x")
      // greedy to the LAST ", <digits>)" on the line: partitioning
      // expressions nest parens (cast(...)), and nothing after the count
      // matches once plan_id digits are stripped
      .replaceAll("(partitioning\\([^\\n]*), \\d+\\)", "$1, N)")
      .replaceAll("(coalesced from )\\d+", "$1N")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** A JSON string literal: quote, backslash and every control char
    * (< 0x20) escaped, so strict parsers accept any text. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON array of string literals. */
  def strs(xs: Iterable[String]): String = xs.map(str).mkString("[", ",", "]")

  /** A JSON object of already-rendered values, in the given order. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** A JSON number rounded half-up to `digits` decimals, independent of
    * the default locale; `null` for NaN and infinities, which JSON
    * cannot carry. */
  def num(v: Double, digits: Int = 3): String =
    if (v.isNaN || v.isInfinite) "null"
    else BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.toPlainString

  /** A previous record, parsed; None when absent or unreadable. */
  def readRecord(path: Path): Option[JValue] =
    try Some(org.json4s.jackson.JsonMethods.parse(Files.readString(path)))
    catch { case NonFatal(_) => None }

  /** A JSON number as a Double. */
  def asDouble(j: JValue): Option[Double] = j match {
    case JDouble(v) => Some(v)
    case JInt(v) => Some(v.toDouble)
    case JDecimal(v) => Some(v.toDouble)
    case JLong(v) => Some(v.toDouble)
    case _ => None
  }

  /** The numeric fields of a JSON object. */
  def numFields(j: JValue): Map[String, Double] = j match {
    case JObject(fs) => fs.flatMap { case (k, v) => asDouble(v).map(k -> _) }.toMap
    case _ => Map.empty
  }

  /** For the object of objects under `group`, each entry's numeric
    * `field`. */
  def numFieldOf(j: JValue, group: String, field: String): Map[String, Double] = j \ group match {
    case JObject(fs) => fs.flatMap { case (k, v) => asDouble(v \ field).map(k -> _) }.toMap
    case _ => Map.empty
  }
}
