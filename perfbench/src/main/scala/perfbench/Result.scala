package perfbench

/** One metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run measured. `e2e` are the end-to-end metrics (the
  * same names on every workload), `layers` the per-layer metrics of a
  * traced run, `report` the workload's own named metrics for the human
  * reader. */
final case class WorkloadResult(attempted: Long, failed: Long, e2e: Seq[Metric],
    layers: Seq[Metric], report: Seq[String]) {
  def correct: Boolean = failed == 0
}

object WorkloadResult {
  import DocWorkloads.ClientOps

  private def fmt(v: Option[Double]): String = v.fold("n/a (fewer than 10 samples beyond it)")(x => f"$x%.1f ms")

  /** A p50 line and, where enough samples exist, a p90 line. */
  def pctLines(name: String, xs: Seq[Double], p90: Boolean = true): Seq[String] =
    if (xs.isEmpty) Seq(s"$name: no samples")
    else Seq(f"${name}_p50_ms: ${Stats.median(xs)}%.1f ms (n=${xs.size})") ++
      (if (p90) Seq(s"${name}_p90_ms: ${fmt(Stats.percentile(xs, 0.9))}") else Nil)

  /** The end-to-end metrics every workload reports, from the latencies
    * of the client operations that succeeded in the measured window,
    * which every run fills with the same operations. `ops_per_s` divides
    * their number by the window's wall time, which holds everything the
    * client thread ran, maintenance included; `op_geomean_ms` is their
    * geometric mean. */
  def endToEnd(setupS: Double, windowS: Double, okMs: Seq[Double]): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("ops_per_s", okMs.size / windowS, "1/s"),
    Metric("op_geomean_ms", if (okMs.isEmpty) windowS * 1000 else Stats.geomean(okMs), "ms"))

  def docdb(name: String, setupS: Double, setupNote: String, windowS: Double, ops: DocOps,
      notes: Seq[String], staleIndex: Option[(Int, Int)] = None): WorkloadResult = {
    val rec = ops.rec
    val client = rec.samples.filter(s => ClientOps.contains(s.kind))
    val failed = client.count(!_.ok) + notes.size
    val attempted = client.size + notes.size
    val (files, bytes) = DocOps.walk(ops.collDir)
    val storageAmp = bytes.toDouble / ops.payloadBytes
    val report = Seq(s"workload $name: ${client.size} client ops in ${f"$windowS%.1f"} s, " +
      s"setup ${f"$setupS%.2f"} s ($setupNote)",
      s"maintenance in the window: ${ops.rolledMs.size} rollups, ${rec.samples.count(_.kind == "maintenance") - ops.rolledMs.size} snapshots") ++
      pctLines("point_read", rec.ok("point_read"), p90 = name == "docdb_serve") ++
      (if (name == "docdb_serve") pctLines("query", rec.ok("query", "indexed_query"))
       else pctLines("query", rec.ok("query"), p90 = false) ++
         pctLines("indexed_query", rec.ok("indexed_query"), p90 = false) ++
         pctLines("commit", rec.ok("commit")) ++
         pctLines("signed_commit", rec.ok("signed_commit"), p90 = false) ++
         pctLines("maintenance", rec.ok("maintenance"), p90 = false) ++
         Seq(f"storage_amp: $storageAmp%.3f (bytes under the collection / accepted payload bytes)")) ++
      Seq(f"error_rate: ${failed.toDouble / math.max(1, attempted)}%.4f ($failed of $attempted; by kind: " +
        s"${rec.failures.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", ")})") ++
      staleIndex.map { case (bad, n) =>
        s"known defect, not counted as a failed op: $bad of $n indexed queries after writes " +
          "disagreed with the model (addIndex is not maintained on later writes)"
      } ++ notes ++ rec.notes.map("failure: " + _)
    val e2e = endToEnd(setupS, windowS, rec.ok(ClientOps: _*))
    val layers = if (!ops.tr.enabled) Nil else Layers.docdb(ops, files, staleIndex.fold(0)(_._1)) ++
      e2e.map(m => m.copy(name = "traced." + m.name))
    WorkloadResult(attempted, failed, e2e, layers, report)
  }
}
