package perfbench

/** Per-layer metrics of a traced run. Every run reports every name;
  * a layer a workload does not exercise reads 0. */
object Layers {
  /** (name, unit) of every per-layer metric, in report order. */
  val Catalog: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms", "spark.eager_jobs" -> "count", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.sched_delay_ms" -> "ms",
    "spark.task_s" -> "s", "spark.core_util" -> "ratio", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.input_rows_per_result" -> "ratio",
    "api.build_ms" -> "ms", "api.tail_blocks_at_read" -> "count",
    "api.commit.jobs_per_op" -> "count", "api.commit.files_per_op" -> "count",
    "api.log_bytes_per_user_byte" -> "ratio", "api.files_end" -> "count",
    "api.rollup_ms" -> "ms", "api.rollup.bytes_rewritten_mb" -> "MB", "api.snapshot_ms" -> "ms",
    "api.index_stale_results" -> "count",
    "docstore.parse_ms" -> "ms", "docstore.compile_ms" -> "ms",
    "crypto.recover_ms" -> "ms") ++
    Batch.Modules.flatMap(m => Seq(s"$m.full_s" -> "s", s"$m.build_s" -> "s",
      s"$m.task_s" -> "s", s"$m.shuffle_mb" -> "MB")) ++
    Batch.Queries.flatMap { case (q, _) =>
      Seq(s"batch.$q.full_s" -> "s", s"batch.$q.build_s" -> "s", s"batch.$q.task_s" -> "s")
    }

  private def fill(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- Catalog.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalog: $unknown")
    Catalog.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private val MB = 1e6

  /** Spark-layer metrics per operation (per query in batch), over every
    * root span of the measured window. */
  private def spark(tr: Tracer, nOps: Int, resultRows: Long): Map[String, Double] = {
    val roots = tr.roots
    val c = new SparkCounts
    roots.foreach(r => c += tr.countsUnder(r))
    val n = math.max(1, nOps).toDouble
    val wallMs = roots.map(_.ms).sum
    val cores = Runtime.getRuntime.availableProcessors()
    val eager = (tr.named("api.build") ++ tr.named("batch.build")).map(s => tr.countsUnder(s).jobs).sum
    Map(
      "spark.plan_ms" -> roots.map(tr.planMsUnder).sum / n,
      "spark.eager_jobs" -> eager / n,
      "spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n, "spark.tasks" -> c.tasks / n,
      "spark.sched_delay_ms" -> c.schedDelayMs / n,
      "spark.task_s" -> c.taskMs / 1000 / n,
      "spark.core_util" -> (if (wallMs > 0) c.taskMs / (wallMs * cores) else 0.0),
      "spark.gc_ms" -> c.gcMs / n,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / MB / n,
      "spark.spill_mb" -> c.spillBytes / MB / n,
      "spark.input_rows_per_result" -> c.inputRows.toDouble / math.max(1L, resultRows))
  }

  def docdb(ops: DocOps, filesEnd: Long, staleIndex: Int): Seq[Metric] = {
    val tr = ops.tr
    val nOps = ops.rec.samples.count(s => DocWorkloads.ClientOps.contains(s.kind))
    val commitSpans = tr.named("api.commit")
    val (logBytes, payload) = ops.commitLogBytes.foldLeft((0L, 0L)) {
      case ((a, b), (x, y)) => (a + x, b + y)
    }
    fill(spark(tr, nOps, ops.rec.resultRows) ++ Map(
      "api.build_ms" -> mean(tr.named("api.build").map(tr.selfMs)),
      "api.tail_blocks_at_read" -> mean(ops.tailAtRead.map(_.toDouble).toSeq),
      "api.commit.jobs_per_op" -> mean(commitSpans.map(s => tr.countsUnder(s).jobs.toDouble)),
      "api.commit.files_per_op" -> mean(ops.commitFiles.map(_.toDouble).toSeq),
      "api.log_bytes_per_user_byte" -> (if (payload > 0) logBytes.toDouble / payload else 0.0),
      "api.files_end" -> filesEnd.toDouble,
      "api.rollup_ms" -> mean(ops.rolledMs.toSeq),
      "api.rollup.bytes_rewritten_mb" -> ops.rollupRecords.map(_.compressedBytes).sum / MB,
      "api.snapshot_ms" -> mean(tr.named("api.snapshot").map(_.ms)),
      "api.index_stale_results" -> staleIndex.toDouble,
      "docstore.parse_ms" -> mean(tr.named("docstore.parse").map(tr.selfMs)),
      "docstore.compile_ms" -> mean(tr.named("docstore.compile").map(tr.selfMs)),
      "crypto.recover_ms" -> mean(tr.named("crypto.recover").map(_.ms))))
  }

  def batch(tr: Tracer, runs: Seq[Batch.QueryRun], recoverMs: Double): Seq[Metric] = {
    final case class Q(full: Double, build: Double, task: Double, shuffle: Double)
    val q = tr.roots.map { r =>
      val name = r.name.stripPrefix("op.batch.")
      val c = tr.countsUnder(r)
      val build = tr.descendants(r).filter(_.name == "batch.build").map(_.ms).sum
      (name, Batch.Queries.toMap.apply(name), Q(r.ms / 1000, build / 1000, c.taskMs / 1000, c.shuffleWriteBytes / MB))
    }
    val perQuery = q.flatMap { case (name, _, v) =>
      Seq(s"batch.$name.full_s" -> v.full, s"batch.$name.build_s" -> v.build, s"batch.$name.task_s" -> v.task)
    }
    val perModule = Batch.Modules.flatMap { m =>
      val in = q.filter(_._2 == m).map(_._3)
      Seq(s"$m.full_s" -> in.map(_.full).sum, s"$m.build_s" -> in.map(_.build).sum,
        s"$m.task_s" -> in.map(_.task).sum, s"$m.shuffle_mb" -> in.map(_.shuffle).sum)
    }
    val resultRows = runs.map(r => r.checksum.takeWhile(_ != ':').toLong).sum
    fill(spark(tr, runs.size, resultRows) ++ perQuery ++ perModule ++ Map("crypto.recover_ms" -> recoverMs))
  }
}
