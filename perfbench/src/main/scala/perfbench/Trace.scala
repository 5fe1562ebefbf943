package perfbench

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call into a layer. `parent` is 0 for an operation root. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final class SparkCounts {
  var jobs, stages, tasks, shuffleWriteBytes, spillBytes, inputRows = 0L
  var schedDelayMs, taskMs, gcMs = 0.0

  def +=(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputRows += o.inputRows; schedDelayMs += o.schedDelayMs
    taskMs += o.taskMs; gcMs += o.gcMs
  }
}

/** Collects jobs, stages and task metrics, each tagged with the span
  * whose job tag the job carried (0 when it carried none). */
final class JobListener extends SparkListener {
  import JobListener.Job
  val jobs = mutable.Map[Int, Job]()
  val stageJob = mutable.Map[Int, Int]()
  val stageCounts = mutable.Map[Int, SparkCounts]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(',')).collect { case Tracer.TagRe(id) => id.toLong }
    jobs(e.jobId) = Job(if (tags.isEmpty) 0L else tags.max, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCounts.getOrElseUpdate(e.stageInfo.stageId, new SparkCounts).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageCounts.getOrElseUpdate(e.stageId, new SparkCounts)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      val i = e.taskInfo
      // the Spark UI's scheduler delay: task wall not spent running,
      // deserializing or shipping the result
      c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }
}

object JobListener {
  final case class Job(tagSpan: Long, timeMs: Long)
}

/** Planning time (analysis + optimization + physical planning) of every
  * executed query, read from that execution's own QueryExecution. */
final class PlanListener extends QueryExecutionListener {
  val plans = mutable.ArrayBuffer[(Long, Double)]() // (start ms, plan ms)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val used = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (used.nonEmpty) synchronized {
      plans += ((used.map(_.startTimeMs).min, used.map(_.durationMs).sum.toDouble))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** In-memory span recorder. Disabled, `span` just runs its body; enabled,
  * it records the span and sets a Spark job tag for it, so the listeners
  * can attribute the jobs the body starts. Spans are kept in memory and
  * written out once, at the end. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  val jobListener = new JobListener
  val planListener = new PlanListener
  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, stack.headOption.fold(0L)(_.id), name, System.nanoTime(),
        System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      val tag = Tracer.tag(s.id)
      sc.addJobTag(tag)
      try body
      finally {
        sc.removeJobTag(tag)
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  private var counts: Map[Long, SparkCounts] = Map.empty
  private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Delivers all pending listener events and attributes each job (with
    * its stages and tasks) to a span: by its tag, else to the innermost
    * span running when the job started. */
  def finish(): Unit = if (enabled) {
    ListenerBridge.drain(sc)
    val acc = mutable.Map[Long, SparkCounts]()
    val jl = jobListener
    jl.synchronized {
      val byJob = jl.stageJob.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
      jl.jobs.foreach { case (jobId, j) =>
        val sid = if (j.tagSpan != 0) j.tagSpan else innermostAt(j.timeMs).fold(0L)(_.id)
        val c = acc.getOrElseUpdate(sid, new SparkCounts)
        c.jobs += 1
        byJob.getOrElse(jobId, Nil).flatMap(jl.stageCounts.get).foreach(c += _)
      }
    }
    counts = acc.toMap
  }

  private def innermostAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startNs)

  def roots: Seq[Span] = children.getOrElse(0L, Nil)

  def descendants(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(descendants)

  /** Spark work of `s` and everything under it. */
  def countsUnder(s: Span): SparkCounts = {
    val c = new SparkCounts
    descendants(s).flatMap(d => counts.get(d.id)).foreach(c += _)
    c
  }

  /** Span duration minus the time its (serial) children cover. */
  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** Planning time of the executions that started inside `s`. */
  def planMsUnder(s: Span): Double = planListener.synchronized {
    planListener.plans.collect { case (t, ms) if s.startMs <= t && t <= s.endMs => ms }.sum
  }

  def named(prefix: String): Seq[Span] = spans.toSeq.filter(_.name.startsWith(prefix))

  /** Writes every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val c = counts.getOrElse(s.id, new SparkCounts)
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},""" +
        f""""dur_ms":${s.ms}%.3f,"self_ms":${selfMs(s)}%.3f,"jobs":${c.jobs},"tasks":${c.tasks}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val TagRe = "pbspan-(\\d+)".r
  def tag(id: Long): String = s"pbspan-$id"
}
