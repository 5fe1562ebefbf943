package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

/** Streaming throughput lane — the committed artifact for the streaming
  * plane, like bench_skew.json for skew and bench_recall.json for
  * accuracy. StreamingScaleRestartSpec proves 100k-event CORRECTNESS;
  * this records the RATES and the state footprint round-over-round so a
  * streaming performance regression (a stateful operator growing its
  * store, the ingest path losing its per-partition write) is
  * machine-caught:
  *
  *  - ingest: a 10× id-shifted event corpus (ScaleSmoke's rule) driven
  *    through the full ingestWithRollup data plane (foreachBatch →
  *    appendDocumentsAt → size-triggered rollups), events/sec end to
  *    end plus the rollup count;
  *  - sessionize: the same stream through sessionizeWithTimeout,
  *    events/sec plus the state store's rows and bytes at the final
  *    watermark (the metric that decides whether state stays bounded);
  *  - ratelimit: the stream through the online quota twin, events/sec
  *    plus its trailing-hour state footprint and emitted violations.
  *
  * Caveat on the base section's stateful rates: its copies are
  * id-shifted but share ONE time window, so once copy 0's batch has
  * advanced the watermark, older rows of later copies arrive late and
  * are dropped before the stateful operator (violations ≈ one copy's
  * worth, not copies×). The numbers stay round-over-round comparable —
  * the drop pattern is deterministic — but the SCALE section below,
  * whose copies are TIME-shifted and never late, is the drop-free lane.
  *
  * SCALE section (r12): the same three planes at 10× the events
  * (copies·10 TIME-SHIFTED replicas — same user keys, same per-key
  * rates, 10× the duration). This is the fixed-key-cardinality probe a
  * 100 TB stream poses: with watermark eviction working, a stateful
  * operator's store is O(live keys × per-key rate), NOT O(events seen),
  * so state rows must stay FLAT (and bytes near-flat) while events grow
  * 10× — asserted as flags, alongside ≥half-rate throughput linearity.
  * (The id-shifted base section grows keys WITH events, so it cannot
  * make this distinction; both sections ride the artifact.)
  *
  * Run: sbt "runMain graft.tools.StreamingBench [baseDir] [copies]"
  */
object StreamingBench {
  private val IdShift = 10_000_000L

  private case class StatefulStats(sessEps: Double, sessRows: Long,
    sessBytes: Long, rateEps: Double, rateRows: Long, rateBytes: Long,
    violations: Long)

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.01")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val spark = Harness.session()

    // Bench's calibration workload: its round-over-round ratio measures
    // BOX drift, so the throughput gates below compare DRIFT-NORMALIZED
    // events/sec instead of letting a slow box day read as a streaming
    // regression (r13's ~20% uniform dip was exactly this shape). Median
    // of 3 runs, timed after a warm-up run.
    Harness.calibrate(spark)
    val calMed = Harness.median(Seq.fill(3)(Harness.calibrate(spark)))

    val root = Files.createTempDirectory("graft_streambench").toString
    val ev = graft.sources.Tables.eventsRaw(spark, base)
    val perCopy = ev.count()

    // ---- base corpus: id-shifted copies, one file per copy
    // (deterministic micro-batches); keys grow with events
    val srcDir = s"$root/src"
    new java.io.File(srcDir).mkdirs()
    (0 until copies).foreach { i =>
      val tmp = s"$root/tmp$i"
      ev.withColumn("event_id", col("event_id") + lit(i * IdShift))
        .withColumn("user_id", col("user_id") + lit(i * IdShift))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"events$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val total = perCopy * copies

    // ---- scale corpus: copies·10 TIME-shifted replicas — user keys and
    // per-key rates FIXED, duration 10×. Copy i is shifted i·(span+2h)
    // so replicas never overlap in event time and the watermark retires
    // each epoch's state before the next.
    val scaleCopies = copies * 10
    val scaleDir = s"$root/scale"
    new java.io.File(scaleDir).mkdirs()
    val tsRange = ev.agg(min(col("ts")), max(col("ts"))).head()
    val spanSec: Long = (tsRange.get(0), tsRange.get(1)) match {
      case (a: java.time.LocalDateTime, b: java.time.LocalDateTime) =>
        java.time.Duration.between(a, b).getSeconds + 1
      case (a: java.time.Instant, b: java.time.Instant) =>
        java.time.Duration.between(a, b).getSeconds + 1
      case (a: Long, b: Long) => (b - a) / 1000000000L + 1 // raw nanos
      case other => throw new IllegalStateException(s"unexpected ts bounds: $other")
    }
    val strideSec = spanSec + 2L * 3600 // span + 2h: epochs never overlap
    (0 until scaleCopies).foreach { i =>
      val tmp = s"$root/stmp$i"
      ev.withColumn("event_id", col("event_id") + lit(i * IdShift))
        .withColumn("ts", col("ts") + expr(s"INTERVAL '${i * strideSec}' SECOND"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(scaleDir, f"events$i%03d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val scaleTotal = perCopy * scaleCopies

    val errors = scala.collection.mutable.ListBuffer.empty[String]

    def ingestPass(dir: String, want: Long, tag: String,
        filesPerTrigger: Int): (Double, Long) = {
      try {
        val db = new graft.api.GraftDB(spark, s"$root/db_$tag")
        val t0 = System.nanoTime()
        val q = graft.streaming.Streaming.ingestWithRollup(spark, dir, db,
          "rt", "events", maxTailBytes = 1L, maxBatchBytes = 256L * 1024,
          glob = "events*.parquet", filesPerTrigger = filesPerTrigger,
          checkpointLocation = s"$root/cp_ingest_$tag")
        try q.processAllAvailable() finally q.stop()
        val secs = (System.nanoTime() - t0) / 1e9
        val landed = db.collectionState("rt", "events")
        if (landed != want) errors += s"ingest_$tag landed $landed of $want"
        (want / secs, db.scanRollupRecords("rt", "events").count())
      } catch {
        case NonFatal(e) => errors += s"ingest_$tag: ${e.getMessage}"; (-1.0, -1L)
      }
    }

    def statefulPass(dir: String, want: Long, tag: String): StatefulStats = {
      var sessEps = -1.0; var sessRows = -1L; var sessBytes = -1L
      try {
        val t0 = System.nanoTime()
        val q = graft.streaming.Streaming
          .sessionizeWithTimeout(spark, dir, watermarkDelay = "1 hour",
            glob = "events*.parquet")
          .writeStream.format("noop")
          .option("checkpointLocation", s"$root/cp_sess_$tag")
          .start()
        try {
          q.processAllAvailable()
          val so = q.lastProgress.stateOperators
          if (so.nonEmpty) {
            sessRows = so.map(_.numRowsTotal).sum
            sessBytes = so.map(_.memoryUsedBytes).sum
          }
        } finally q.stop()
        sessEps = want / ((System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) => errors += s"sessionize_$tag: ${e.getMessage}" }

      var rateEps = -1.0; var rateRows = -1L; var rateBytes = -1L
      var violations = -1L
      try {
        val t0 = System.nanoTime()
        val q = graft.streaming.Streaming
          .rateLimit(spark, dir, glob = "events*.parquet", filesPerTrigger = 1)
          .toDF()
          .writeStream.outputMode("append")
          .format("memory").queryName(s"bench_rate_$tag")
          .option("checkpointLocation", s"$root/cp_rate_$tag")
          .start()
        try {
          q.processAllAvailable()
          val so = q.lastProgress.stateOperators
          if (so.nonEmpty) {
            rateRows = so.map(_.numRowsTotal).sum
            rateBytes = so.map(_.memoryUsedBytes).sum
          }
        } finally q.stop()
        rateEps = want / ((System.nanoTime() - t0) / 1e9)
        violations = spark.table(s"bench_rate_$tag").count()
      } catch { case NonFatal(e) => errors += s"ratelimit_$tag: ${e.getMessage}" }
      StatefulStats(sessEps, sessRows, sessBytes, rateEps, rateRows,
        rateBytes, violations)
    }

    val (ingestEps, rollups) = ingestPass(srcDir, total, "base", 1)
    val baseStats = statefulPass(srcDir, total, "base")
    // scale ingest batches 10 files/trigger: same plane, same per-batch
    // rollup pressure, 10× the data through ~the same batch count
    val (scaleIngestEps, scaleRollups) = ingestPass(scaleDir, scaleTotal, "scale", 10)
    val scaleStats = statefulPass(scaleDir, scaleTotal, "scale")

    spark.stop()

    val out = Paths.get("bench_streaming.json")
    val prev: Map[String, Double] =
      Harness.readRecord(out).map(Harness.numFields).getOrElse(Map.empty)
    def r1(d: Double): String = Harness.num(d, 1)
    // Drift normalization: cal_drift = this box / prev box (in cal
    // seconds; >1 = slower box). A slower box lowers every eps uniformly,
    // so the gate compares prev against eps×drift — quiet-box units. A
    // legacy record without "calibration" gets drift 1 (raw compare).
    val prevCal = prev.getOrElse("calibration", -1.0)
    val drift = if (prevCal > 0 && calMed > 0) calMed / prevCal else 1.0
    // flags: (a) >1.5x NORMALIZED events/sec drop vs the previous
    // committed record (tighter than the old raw 2x gate — box noise is
    // divided out, so the threshold can afford to be); (b) the scale
    // section's bounded-state and throughput-linearity assertions
    val throughputFlags = Seq(
      "ingest_events_per_sec" -> ingestEps,
      "sessionize_events_per_sec" -> baseStats.sessEps,
      "ratelimit_events_per_sec" -> baseStats.rateEps,
      "scale_ingest_events_per_sec" -> scaleIngestEps,
      "scale_sessionize_events_per_sec" -> scaleStats.sessEps,
      "scale_ratelimit_events_per_sec" -> scaleStats.rateEps).collect {
      case (n, v) if v > 0 && prev.get(n).exists(p => p > 0 && p / (v * drift) > 1.5) => n
    }
    val scaleFlags = scala.collection.mutable.ListBuffer.empty[String]
    // state must stay ~FLAT at fixed key cardinality while events go
    // 10×: rows exactly O(keys), bytes near-flat (watermark eviction)
    def flatCheck(name: String, baseV: Long, scaleV: Long, margin: Double): Unit =
      if (baseV > 0 && scaleV > baseV * margin)
        scaleFlags += s"${name}_not_flat_${baseV}_to_$scaleV"
    flatCheck("sessionize_state_rows", baseStats.sessRows, scaleStats.sessRows, 1.5)
    flatCheck("sessionize_state_bytes", baseStats.sessBytes, scaleStats.sessBytes, 2.0)
    flatCheck("ratelimit_state_rows", baseStats.rateRows, scaleStats.rateRows, 1.5)
    flatCheck("ratelimit_state_bytes", baseStats.rateBytes, scaleStats.rateBytes, 2.0)
    // throughput must not collapse at 10× (fixed costs amortize, so
    // scale eps should be >= half the base section's)
    def linearCheck(name: String, baseV: Double, scaleV: Double): Unit =
      if (baseV > 0 && scaleV > 0 && scaleV < baseV / 2.0)
        scaleFlags += s"${name}_sublinear_${r1(baseV)}_to_${r1(scaleV)}"
    linearCheck("ingest", ingestEps, scaleIngestEps)
    linearCheck("sessionize", baseStats.sessEps, scaleStats.sessEps)
    linearCheck("ratelimit", baseStats.rateEps, scaleStats.rateEps)
    val flags = throughputFlags ++ scaleFlags ++ errors.map(_.takeWhile(_ != ':'))
    def prevStr(n: String): String =
      prev.get(n).map(p => s""","${n}_prev":${r1(p)}""").getOrElse("")
    val json = s"""{"lane":"streaming","base":${Harness.str(base)},"copies":$copies,""" +
      s""""events":$total,"flags":${Harness.strs(flags)},""" +
      s""""calibration":${r1(calMed)},"cal_drift":${Harness.num(drift)},""" +
      s""""errors":${Harness.strs(errors)},""" +
      s""""ingest_events_per_sec":${r1(ingestEps)}${prevStr("ingest_events_per_sec")},""" +
      s""""ingest_rollups":$rollups,""" +
      s""""sessionize_events_per_sec":${r1(baseStats.sessEps)}${prevStr("sessionize_events_per_sec")},""" +
      s""""sessionize_state_rows":${baseStats.sessRows},"sessionize_state_bytes":${baseStats.sessBytes},""" +
      s""""ratelimit_events_per_sec":${r1(baseStats.rateEps)}${prevStr("ratelimit_events_per_sec")},""" +
      s""""ratelimit_state_rows":${baseStats.rateRows},"ratelimit_state_bytes":${baseStats.rateBytes},""" +
      s""""ratelimit_violations":${baseStats.violations},""" +
      s""""scale_copies":$scaleCopies,"scale_events":$scaleTotal,""" +
      s""""scale_ingest_events_per_sec":${r1(scaleIngestEps)}${prevStr("scale_ingest_events_per_sec")},""" +
      s""""scale_ingest_rollups":$scaleRollups,""" +
      s""""scale_sessionize_events_per_sec":${r1(scaleStats.sessEps)}${prevStr("scale_sessionize_events_per_sec")},""" +
      s""""scale_sessionize_state_rows":${scaleStats.sessRows},"scale_sessionize_state_bytes":${scaleStats.sessBytes},""" +
      s""""scale_ratelimit_events_per_sec":${r1(scaleStats.rateEps)}${prevStr("scale_ratelimit_events_per_sec")},""" +
      s""""scale_ratelimit_state_rows":${scaleStats.rateRows},"scale_ratelimit_state_bytes":${scaleStats.rateBytes},""" +
      s""""scale_ratelimit_violations":${scaleStats.violations}}"""
    Files.write(out, (json + "\n").getBytes("UTF-8"))
    println(json)
    println(s"[streaming-bench] wrote ${out.toAbsolutePath}")
    if (flags.nonEmpty) {
      System.err.println(s"[streaming-bench] flags: ${flags.mkString(",")}")
      sys.exit(1)
    }
  }
}
