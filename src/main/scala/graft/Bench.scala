package graft
import scala.util.control.NonFatal

import graft.tools.Harness

/** Benchmark entrypoint: times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints ONE compact JSON line on stdout
  * (the driver parses it into BENCH_r{N}.json). Keep the line short —
  * per-query seconds are rounded to ms — and keep it the LAST thing
  * printed, unprefixed (build.sbt sets `run / outputStrategy :=
  * StdoutOutput` so sbt does not wrap it in `[info] `).
  *
  * Each query runs SPARK_GRAFT_BENCH_PASSES times (default 5); a fixed
  * calibration workload is timed once per pass and each pass's query
  * times are scaled by (median cal / that pass's cal) BEFORE the
  * per-query median — a contended pass inflates both sides, so the
  * contention cancels per-pass instead of poisoning the median (r11's
  * false keep_list flag: raw median 4.55 s, adjusted 2.16 s ≈ the
  * quiet-box time). The headline "queries" series is the adjusted
  * median; "queries_raw" keeps plain wall medians. Regression flags
  * compare adjusted-median/drift vs the previous committed
  * bench_out.json — same sf AND same cpu count only — and a SLOWDOWN
  * additionally requires the normalized min-of-passes >1.5× prev (a
  * real plan regression slows every pass; contention leaves a clean
  * one). Plan hashes canonicalize partition counts so a cpu-count
  * change alone cannot flip "plan" to "changed". The full per-pass
  * record is persisted to bench_out.json (stdout keeps only the
  * medians — the driver tails it to 2000 chars).
  *
  * DATA-MOVEMENT LANE (r13): a SparkListener sums stage-level shuffle
  * read/write and spill bytes; drained snapshots around each timed run
  * attribute them per query. Bytes are plan-deterministic — no box
  * noise — so the gate is tighter than the time gate: same-config
  * shuffle growth >1.3× AND >16 MB flags in "data_flags" with the
  * plan-hash verdict, and ANY spill lands the query name in "spilled"
  * (zero-spill across the suite is the headline a 100 TB sizing story
  * rests on). Per-query maps persist in bench_out.json as
  * "shuffle_mb" / "shuffle_read_mb" / "spill_mb".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "5").toInt.max(1)
    val spark = Harness.session()
    // data-movement lane: stage-level shuffle/spill byte totals,
    // snapshotted around each timed run
    val stages = Harness.Stages.attach(spark)
    // Warm up what is shared across queries and NOT the thing being
    // measured (r02: doc_filter_in read 12.8 s purely from running first)
    Harness.warm(spark, sfDir)
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => }
    // input-fixture caches are SHARED session state that stays warm
    // across passes by design (see the pass loop note below) — build
    // them here so pass 1 of whichever query happens to run first isn't
    // charged the one-time materialization (r14: ann_hybrid_rrf's 1.4 s
    // pass-1 spread was the BM25 tf projection + doc collection builds)
    Harness.warmQueries(spark, sfDir,
      Seq("doc_filter_eq", "doc_filter_unary", "text_search_bm25"))
    // pass-major order: query q's pass 2 runs a full suite-length after
    // its pass 1, so a transient box-load spike cannot poison every pass
    // of the same query
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // per-pass per-query (shuffleWrite, shuffleRead, spill) byte deltas
    val movePerPass =
      Array.fill(passes)(Map.empty[String, (Long, Long, Long)])
    // The calibration workload is timed once per pass: its round-over-
    // round ratio measures BOX drift (r9→r10 drifted a uniform 1.2× with
    // zero code change, under the >2× per-query gate's radar), so the
    // regression flags below run on calibration-NORMALIZED ratios and a
    // uniform library regression can no longer hide inside box jitter.
    Harness.calibrate(spark) // warm the calibration path before timing it
    val calPerPass = new Array[Double](passes)
    val perPass = Array.tabulate(passes) { pass =>
      // memoized artifacts must not leak across passes (each pass must
      // time the operator, not a prior pass's persisted output)
      graft.sources.Memo.clear()
      var moves = Map.empty[String, (Long, Long, Long)]
      val res = names.map { case (name, fn) =>
        // byte snapshots sit OUTSIDE the timed window
        val (w0, r0, s0) = stages.bytes()
        val dt = Harness.timeOrFail("bench", name)(fn(spark, sfDir).count())
        val (w1, r1, s1) = stages.bytes()
        moves += name -> (w1 - w0, r1 - r0, s1 - s0)
        name -> dt
      }.toMap
      movePerPass(pass) = moves
      // calibration AFTER the pass's suite, not before: a fresh-JVM
      // pre-pass-1 calibration runs 1.5-1.8x faster than any later one
      // (clean heap, hot code cache), so it measures a box state no
      // query of that pass actually saw and over-inflates pass-1's
      // adjusted times; post-suite, the JVM is in the same regime the
      // queries just experienced (r12 run: pre-pass cals [1.48, 2.69,
      // 2.68, 3.07, 2.69] — the outlier is structure, not the box)
      calPerPass(pass) = Harness.calibrate(spark)
      res
    }
    // median over the passes that ran; -1.0 when every pass failed
    def median(xs: Seq[Double]): Double = {
      val good = xs.filter(_ >= 0.0)
      if (good.isEmpty) -1.0 else Harness.median(good)
    }
    // Per-pass calibration normalization (r11 post-mortem): a contended
    // pass inflates BOTH the query time and that pass's calibration, so
    // scaling each pass by (median cal / its own cal) cancels the
    // contention BEFORE the median — a single-scalar normalization
    // applied after the median cannot (the noisy pass has already
    // poisoned it). r11's flagged keep_list: raw passes [1.91,4.55,
    // 5.23,1.85,6.56] median 4.55; adjusted median 2.16 ≈ the quiet-box
    // time. "queries" below is the ADJUSTED median — in this-run
    // median-box units, cross-round comparable after drift correction
    // exactly like the raw series was.
    val calMedEarly = median(calPerPass.toIndexedSeq)
    def adjusted(name: String): Seq[Double] =
      perPass.toSeq.zipWithIndex.map { case (p, i) =>
        val v = p(name)
        if (v < 0.0 || calPerPass(i) <= 0.0 || calMedEarly <= 0.0) v
        else v * calMedEarly / calPerPass(i)
      }
    val results = names.map { case (name, _) => name -> median(adjusted(name)) }
    val resultsRaw = names.map { case (name, _) =>
      name -> median(perPass.toSeq.map(_(name)))
    }
    val minAdj: Map[String, Double] = names.map { case (name, _) =>
      val good = adjusted(name).filter(_ >= 0.0)
      name -> (if (good.isEmpty) -1.0 else good.min)
    }.toMap

    // ---- data-movement lane -------------------------------------------
    // Per-query shuffle bytes are PLAN-deterministic (same data, same
    // plan → same bytes modulo compression jitter), so unlike wall time
    // they need no calibration: the median across passes is the record.
    // Spill is MAX'd — any pass spilling at bench scale is a sizing bug.
    def mb(b: Long): Double = b / (1024.0 * 1024.0)
    def moved(name: String, pick: ((Long, Long, Long)) => Long): Seq[Long] =
      movePerPass.toSeq.map(_.get(name).map(pick).getOrElse(0L))
    val shuffleMb: Map[String, Double] = names.map { case (name, _) =>
      name -> mb(Harness.medianLong(moved(name, _._1)))
    }.toMap
    val readMb: Map[String, Double] = names.map { case (name, _) =>
      name -> mb(Harness.medianLong(moved(name, _._2)))
    }.toMap
    val spillMbQ: Map[String, Double] = names.map { case (name, _) =>
      name -> mb(moved(name, _._3).max)
    }.toMap

    // ---- regression hygiene -------------------------------------------
    // normalized physical-plan hash per query: lets the NEXT round tell a
    // real plan change from box jitter. The memo is cleared so cache
    // state can't leak InMemoryRelations into the hash.
    graft.sources.Memo.clear()
    val planHashes: Map[String, String] = names.map { case (name, fn) =>
      name -> (try Harness.planHash(fn(spark, sfDir)) catch { case NonFatal(_) => "error" })
    }.toMap
    // previous committed record (the prior round's bench_out.json)
    val outPath = java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."), "bench_out.json")
    // parse the prev committed record ONCE; every prev-derived value
    // (medians, hashes, cpus, calibration, format) reads this JValue —
    // three separate re-parses drifted apart once already (the
    // legacy-comparison bug found in the r12 self-review)
    val prevJson: Option[org.json4s.JValue] = Harness.readRecord(outPath)
    import org.json4s._
    val prevCpus: Int =
      prevJson.flatMap(j => Harness.asDouble(j \ "cpus")).map(_.toInt).getOrElse(-1)
    // only comparable against a record from the SAME corpus dir AND the
    // same cpu count (8-cpu medians vs a 32-cpu run are not a regression
    // signal)
    val comparable: Boolean = prevJson.exists { j =>
      (j \ "sf" match {
        case JString(s) => s == sfDir
        case _ => false
      }) && prevCpus == cpus
    }
    val prevMed: Map[String, Double] =
      if (!comparable) Map.empty
      else prevJson.map(j => Harness.numFields(j \ "queries")).getOrElse(Map.empty)
    val prevHash: Map[String, String] =
      if (!comparable) Map.empty
      else prevJson.map(_ \ "plan_hashes" match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }).getOrElse(Map.empty)
    val calMed = median(calPerPass.toIndexedSeq)
    val prevCal: Double =
      prevJson.flatMap(j => Harness.asDouble(j \ "calibration")).getOrElse(-1.0)
    val drift = if (prevCal > 0.0 && calMed > 0.0) calMed / prevCal else 1.0
    // same plan hash = residual jitter; changed = a plan change to audit
    def planVerdict(name: String): String =
      (prevHash.get(name), planHashes.get(name)) match {
        case (Some(a), Some(b)) if a == b => "same"
        case (Some(_), Some(_)) => "changed"
        case _ => "unknown"
      }
    // flag >2× NORMALIZED moves either way (median/drift vs prev —
    // uniform box drift divides out, so it neither masks a real uniform
    // library regression nor cries wolf on a slow box day). Flags in
    // BOTH directions additionally require the normalized MIN-of-passes
    // to agree (slowdown: min >1.5× prev — a genuine plan regression
    // slows EVERY pass, while box contention leaves at least one clean
    // pass, r11's false flag had min 1.85 s vs prev 2.09 s; speedup:
    // min must itself be <⅔ of prev, so one lucky pass can't flag).
    // Each flag carries its `planVerdict`. Emitted as "changes" with an
    // explicit "dir" — the r12 field name "regressions" read as failures to anyone grepping artifacts even
    // when every entry was a >2× SPEEDUP.
    // ---- ONE directional headline (r15) -------------------------------
    // The round-over-round question ("is this round faster?") was
    // normalization-dependent in r14 (0.92× on the adjusted series vs
    // 1.08× on the cross-record normalized one, because the two records'
    // cal_drift stamps differed 1.18×). The gate's single headline is
    // now the ADJUSTED series — the same basis the per-query flags
    // already use: sum this run's adjusted medians over the queries BOTH
    // records carry, divide by drift (this-box → prev-box units), and
    // compare to the prev record's sum over the same queries.
    // bench_vs_prev < 1 ⟺ this round is faster; total_norm stays
    // informational only.
    val commonQ = results.collect {
      case (n, v) if v > 0.0 && prevMed.get(n).exists(_ > 0.0) => n
    }
    val prevCommonTotal = commonQ.map(prevMed(_)).sum
    val nowCommonAdj = commonQ.map(n => results.toMap.apply(n)).sum /
      (if (drift > 0.0) drift else 1.0)
    val vsPrev =
      if (commonQ.nonEmpty && prevCommonTotal > 0.0) nowCommonAdj / prevCommonTotal
      else -1.0
    val changes = results.collect {
      case (name, v) if v > 0.0 &&
          prevMed.get(name).exists { p =>
            p > 0.0 && {
              val n = v / drift
              val mn = minAdj.getOrElse(name, -1.0)
              val slow = n / p > 2.0 &&
                mn > 0.0 && (mn / drift) / p > 1.5
              val fast = p / n > 2.0 &&
                mn > 0.0 && (mn / drift) / p < 2.0 / 3.0
              slow || fast
            }
          } =>
        val prev = prevMed(name)
        (name, prev, v, planVerdict(name), if (v / drift > prev) "slower" else "faster")
    }

    // shuffle-bytes gate: bytes don't jitter with box load, so the
    // threshold is tighter than the 2× time gate — growth >1.3× AND
    // >16 MB absolute vs the previous committed record is a
    // data-movement regression (a plan that moved more data), flagged
    // with the plan-hash verdict so "changed" points at the diff to
    // audit and "same" is a genuine anomaly (AQE runtime re-plan,
    // compression-shape change in the data).
    val prevShuffle: Map[String, Double] =
      if (!comparable) Map.empty
      else prevJson.map(j => Harness.numFields(j \ "shuffle_mb")).getOrElse(Map.empty)
    val dataFlags = names.flatMap { case (name, _) =>
      (prevShuffle.get(name), shuffleMb.get(name)) match {
        case (Some(p), Some(n)) if n > p * 1.3 && n - p > 16.0 =>
          Some((name, p, n, planVerdict(name)))
        case _ => None
      }
    }
    val spilled = names.collect {
      case (n, _) if spillMbQ.getOrElse(n, 0.0) > 0.0 => n
    }

    def r3(v: Double): String = Harness.num(v)
    val qs = Harness.obj(results.map { case (k, v) => k -> r3(v) })
    // a query that failed every pass keeps its -1.0 sentinel in "queries"
    // but must not SUBTRACT from the headline total; it is reported
    // explicitly in "failed" so an all-pass-failure is loud in the JSON,
    // not a silently-smaller total
    val failed = results.collect { case (k, v) if v < 0.0 => k }
    val total = results.collect { case (_, v) if v >= 0.0 => v }.sum
    val shufParts = spark.conf.get("spark.sql.shuffle.partitions", cpus.toString)
    spark.stop()
    val failedJson = Harness.strs(failed)
    // changes ride the STDOUT line too (at the end, inside the
    // driver's 2000-char tail): a >2× round-over-round move is loud in
    // BENCH_r{N}.json itself, already explained and direction-tagged
    val regJson = changes.map { case (n, p, now, plan, dir) =>
      val mn = minAdj.getOrElse(n, -1.0)
      s"""{"q":"$n","dir":"$dir","prev":${r3(p)},"now":${r3(now)},"norm_now":${r3(now / drift)},"min_norm":${r3(if (mn > 0) mn / drift else mn)},"plan":"$plan"}"""
    }.mkString("[", ",", "]")
    // calibration + drift ride the END of the line (the driver tails
    // stdout to 2000 chars — trailing fields always survive)
    // data-movement lane summary on the stdout line: total shuffled MB,
    // the spillers by name (empty = zero spill anywhere — the headline),
    // and the same-config shuffle-growth flags
    val shufTotal = shuffleMb.values.sum
    val spillJson = Harness.strs(spilled)
    val dataFlagJson = dataFlags.map { case (n, p, now, plan) =>
      s"""{"q":"$n","prev_mb":${r3(p)},"now_mb":${r3(now)},"plan":"$plan"}"""
    }.mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":${Harness.str(sfDir)},"passes":$passes,"cpus":$cpus,"shuffle_partitions":"$shufParts","calibration":${r3(calMed)},"cal_drift":${r3(drift)},"total_norm":${r3(total / drift)},"bench_vs_prev":${r3(vsPrev)},"prev_total_common":${r3(prevCommonTotal)},"now_total_common_adj":${r3(nowCommonAdj)},"common_n":${commonQ.size},"changes":$regJson,"shuffle_total_mb":${r3(shufTotal)},"spilled":$spillJson,"data_flags":$dataFlagJson}"""
    // the driver keeps only a 2000-char tail of stdout — persist the full
    // per-pass record so timings survive for every round. Path resolved
    // against the repo (user.dir), not whatever cwd the forked JVM got.
    val passesJson = Harness.obj(names.map { case (name, _) =>
      name -> perPass.map(p => r3(p(name))).mkString("[", ",", "]")
    })
    // per-query min–max spread across passes (variance at a glance)
    val spreadJson = Harness.obj(names.map { case (name, _) =>
      val good = perPass.toSeq.map(_(name)).filter(_ >= 0.0)
      name -> r3(if (good.isEmpty) -1.0 else good.max - good.min)
    })
    val hashJson = Harness.obj(names.map { case (name, _) =>
      name -> Harness.str(planHashes.getOrElse(name, "error"))
    })
    // three series in the committed record: "queries" = per-pass-
    // calibration-ADJUSTED medians (the headline and the series next
    // round's gate compares against), "queries_raw" = plain medians of
    // wall time (transparency), "queries_norm" = this round's adjusted
    // medians in drift-corrected units (informational; do NOT compare
    // one round's queries_norm against another's — each is normalized
    // to a different round's box).
    val qsRaw = Harness.obj(resultsRaw.map { case (k, v) => k -> r3(v) })
    val qsNorm = Harness.obj(results.map { case (k, v) =>
      k -> r3(if (v >= 0.0) v / drift else v)
    })
    val calPassesJson = calPerPass.map(r3).mkString("[", ",", "]")
    def mbMap(m: Map[String, Double]): String =
      Harness.obj(names.map { case (k, _) => k -> r3(m.getOrElse(k, 0.0)) })
    val fileLine = line.dropRight(1) +
      s""","queries_raw":$qsRaw,"queries_norm":$qsNorm,"cal_per_pass":$calPassesJson,"per_pass":$passesJson,"spread":$spreadJson,"plan_hashes":$hashJson,"shuffle_mb":${mbMap(shuffleMb)},"shuffle_read_mb":${mbMap(readMb)},"spill_mb":${mbMap(spillMbQ)}}"""
    try java.nio.file.Files.write(outPath, (fileLine + "\n").getBytes("UTF-8"))
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] could not write $outPath: $e")
    }
    // last line of output, after Spark's shutdown logging
    System.out.println(line)
    System.out.flush()
  }
}
