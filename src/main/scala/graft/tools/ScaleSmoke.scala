package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The scale lanes. TESTDATA is capped at sf0.1 and read-only, so each
  * lane synthesizes a COPIES× derived corpus under /tmp and times query
  * shapes on it. Five modes:
  *   - uniform (default): the slowest shapes on the base and the COPIES×
  *     corpus. A shape passes when its cold time grows near-linearly
  *     (ratio ≤ 2× the data ratio — generous headroom for fixed costs
  *     and log factors on a shared box) and its plan gains no new
  *     exchanges. Also re-proves indexed point-lookup pruning on a
  *     50-block mutation log;
  *   - probe: a deep-scale spot probe (see `runProbe`);
  *   - skew: the same volume with adversarial keys (see `runSkew`);
  *   - maint: index build vs append (see `runMaint`);
  *   - cores: the heaviest queries cold at the env core count, one JSON
  *     line that scripts/scale_lane.sh pairs across core counts.
  *
  * Corpus construction keeps the workload honestly linear in COPIES:
  *   - ids (doc_id / vec_id / event_id / user_id) shift by copy·10^7, so
  *     key cardinality scales and no cross-copy key collides;
  *   - document text in copy i>0 suffixes every token with "_k<i>" — the
  *     per-copy duplicate/near-dup structure is exactly sf0.1's, but no
  *     shingle hash ever collides across copies. Plain unioned copies
  *     would make every gram group COPIES× larger and the pair output
  *     COPIES²× — a skew stress, not a scaling measurement;
  *   - embeddings/events keep their values (10× denser cells / 10× keys
  *     is precisely what 10× data looks like to those shapes).
  *
  * Run: sbt "runMain graft.tools.ScaleSmoke [baseDir] [copies] [mode] [q1,q2,...]"
  */
object ScaleSmoke {

  /** The slowest five bench shapes (r7 verdict) + the core doc-state fold
    * + the round-8 multi-shuffle additions (line dedup, phash banding,
    * the end-to-end curation chain, incremental dedup). The e2e chain's
    * benchmark set (doc_id < 20) deliberately stays fixed while the
    * corpus scales — decontamination is vs a constant eval set. */
  val Shapes: Seq[String] = Seq(
    "doc_state_latest", "pipeline_keep_list", "dedup_substring",
    "ann_lsh", "ann_ivf", "dedup_clusters", "dedup_lines", "mm_phash_dedup",
    "pipeline_e2e", "dedup_incremental", "dedup_clusters_exact",
    // round-8 additions: clustering (bounded-sample training + one
    // assignment pass), cluster-balanced sampling (mergeable bottom-k),
    // DSIR (two token passes + broadcast λ), and the two heaviest new
    // analytics shapes (dual-aliased star join; fact⋈fact key join)
    "emb_kmeans", "pipeline_cluster_sample", "pipeline_dsir",
    "q7_nation_volume", "q8_market_share",
    // session-2 additions: the heaviest new TPC-H shape (two-level
    // aggregation over the fact join), the shuffle-free BM25 plan, and
    // the windowed percentile gate
    "q21_waiting_supplier", "text_search_bm25", "pipeline_quality_percentile",
    // round-11 additions: the two-pass int8 quantizer (posexplode ×
    // corpus × dims twice) and the repeat-expansion mixer (output rows
    // multiply by the epoch factor)
    "emb_quantize_int8", "pipeline_oversample")

  /** Skew profile (mode=skew): the shapes whose shuffle keys the skewed
    * corpus hammers. The skewed 10× corpus re-maps HALF of all events to
    * ONE user and makes 10% of all documents ONE identical text — the
    * hot-user / mirrored-boilerplate hazards of a real 100 TB corpus.
    * Pass = skew/uniform cold ratio ≤ 2× per shape (the work is the same
    * volume, only its key distribution changed) and the duplicate-cluster
    * membership join runs AQE-skew-split. */
  val SkewShapes: Seq[String] = Seq(
    "doc_state_latest", "evt_latest_per_key", "evt_sessionize",
    "evt_sessionize_buckets", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_minhash", "dedup_simhash", "dedup_incremental", "asof_join",
    "asof_join_bucketed", "asof_join_auto", "evt_sessionize_auto",
    // round-12: the rate-limit audit — violators are BY DEFINITION the
    // hottest senders, so this is the skew lane's home turf
    "evt_rate_limit", "evt_rate_limit_buckets", "evt_rate_limit_auto",
    "pipeline_e2e")

  /** Default 100×-probe set: the three heaviest multi-stage chains — the
    * shapes where a hidden super-linearity would hurt most at 100 TB —
    * plus the fact-join lane (dims stay FIXED while facts scale, the
    * real 100 TB star shape; see FactLaneShapes' broadcast criterion). */
  val ProbeShapes: Seq[String] =
    Seq("pipeline_keep_list", "dedup_clusters", "pipeline_e2e",
      "q5_multijoin", "q9_product_profit", "q21_waiting_supplier",
      // round-13: the exact-jaccard CC chain (pair join + star
      // contraction / driver union-find dispatch) and the hybrid
      // BM25+vector RRF fusion (two top-k lanes + a rank join)
      "dedup_clusters_exact", "ann_hybrid_rrf",
      // round-13b: the merge-maintenance chain (corpus clustering +
      // rep index + contracted-graph merge — the bench's heaviest
      // query, two clusterings' worth of candidate generation)
      "dedup_clusters_incremental",
      // round-14: best-representative collapse (clusters + stats argmax)
      "dedup_keep_best")

  /** Core-count lane (mode=cores): the heaviest bench queries (r15
    * record, 32c adjusted medians) — the ones whose scaling behavior
    * carries the 100 TB story. */
  val CoresShapes: Seq[String] = Seq(
    "dedup_clusters_incremental", "dedup_clusters_exact",
    "pipeline_keep_list", "dedup_ngram_jaccard", "dedup_keep_best",
    "asof_join_bucketed", "q11_part_value_share", "q2_min_cost",
    "dedup_clusters", "text_bigram_lm", "dedup_simhash_band_exact",
    "pipeline_e2e", "dedup_minhash_band_exact", "dedup_minhash",
    "evt_sessionize_buckets", "dedup_substring", "q21_waiting_supplier",
    "dedup_simhash", "q8_market_share", "q18_top_buyers")

  /** Skew-lane shapes that DISPATCH between twins (auto → (direct,
    * bucketed)): their verdict compares against the better twin per
    * corpus instead of the cross-plan skew/uniform ratio. Twins must
    * precede their auto shape in SkewShapes so the timings exist. */
  val DispatchedShapes: Map[String, (String, String)] = Map(
    "asof_join_auto" -> ("asof_join", "asof_join_bucketed"),
    "evt_sessionize_auto" -> ("evt_sessionize", "evt_sessionize_buckets"),
    "evt_rate_limit_auto" -> ("evt_rate_limit", "evt_rate_limit_buckets"))

  /** Probe shapes whose joins against the UNCHANGED dimension tables
    * must STAY broadcast at scale: a grown side legitimately flips
    * broadcast→shuffle, but a fixed-size dim flipping is a planner
    * regression (the fact shuffle it would add dominates at 100 TB). */
  val FactLaneShapes: Set[String] =
    Set("q5_multijoin", "q9_product_profit", "q21_waiting_supplier")

  private val IdShift = 10_000_000L

  /** Part files per scaled table: 4 × the 32 cores the core-count lane
    * runs at, so every scan splits across all cores the way a real
    * corpus (files ≫ cores) does, with Spark's default split sizes. */
  private val ScaleFiles = 128

  private val WarmDir = "/root/testdata/sf0.01"

  private def r3(d: Double): String = Harness.num(d)

  /** Spark's walker over adaptive plans: it descends into each query
    * stage, where a plain `collect` stops. */
  private object Plans extends AdaptiveSparkPlanHelper

  /** One shape's verdict: its printed row, and whether it passed. */
  private[tools] final case class Verdict(row: String, ok: Boolean)

  /** How a mode ends: its log tag, its artifact (path, JSON) if it
    * writes one, what failed, and the line printed when nothing did. */
  private type End = (String, Option[(Path, String)], Seq[String], String)

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    // optional subset (comma-separated shape names) for quick re-runs
    def shapes(default: Seq[String]): Seq[String] = {
      val names = args.drop(3).headOption
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(default)
      val unknown = names.filterNot(graft.SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      names
    }
    val spark = Harness.session()
    val (tag, artifact, failures, okMessage) = args.drop(2).headOption.getOrElse("uniform") match {
      case "uniform" => runUniform(spark, base, copies, shapes(Shapes))
      case "probe" => runProbe(spark, base, copies, shapes(ProbeShapes))
      case "skew" => runSkew(spark, base, copies, shapes(SkewShapes))
      case "maint" => runMaint(spark, base, copies)
      case "cores" => runCores(spark, base, copies, shapes(CoresShapes))
      case m => throw new IllegalArgumentException(
        s"unknown mode $m (uniform, probe, skew, maint, cores)")
    }
    spark.stop()
    Harness.finishLane(tag, artifact, failures, okMessage)
  }

  /** The one per-shape loop of the timing modes. Warms the JVM and every
    * corpus's tables, runs each shape once on `warmDir` (off the timed
    * corpora), prints `header`, then per shape times `passes` cold runs
    * on each corpus and hands them, with each corpus's cold executed
    * plan when `plans`, to `verdict`, whose row it prints. A shape that
    * throws is FAILED. Returns the names of the shapes that failed. */
  private def timeShapes(spark: SparkSession, corpora: Seq[String], warmDir: String,
      shapes: Seq[String], passes: Int, plans: Boolean, header: => String)(
      verdict: (String, Seq[Seq[Double]], Seq[String]) => Verdict): Seq[String] = {
    Harness.warm(spark, corpora: _*)
    Harness.warmQueries(spark, warmDir, shapes)
    println(header)
    shapes.filterNot { name =>
      try {
        val times = corpora.map(dir => (1 to passes).map(_ => Harness.cold(spark, name, dir)))
        // each plan is built cold too, the plan the timed runs executed:
        // built after a pass, it reads the memo's materialized artifacts,
        // whose printed plans change the exchange count
        val planStrings = if (!plans) Nil else corpora.map { dir =>
          graft.sources.Memo.clear()
          graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
        }
        val v = verdict(name, times, planStrings)
        println(v.row)
        v.ok
      } catch {
        case NonFatal(e) =>
          println(s"$name FAILED: ${e.getMessage}")
          false
      }
    }
  }

  /** Uniform 10× smoke: three cold passes per corpus. */
  private def runUniform(spark: SparkSession, base: String, copies: Int,
      shapes: Seq[String]): End = {
    val scaled = buildCorpus(spark, base, copies)
    val failed = timeShapes(spark, Seq(base, scaled), WarmDir, shapes, passes = 3, plans = true,
      f"%nshape                     cold sf0.1->${copies}x (ratio)    warm sf0.1->${copies}x   exch  verdict")(
      uniformVerdict(copies, _, _, _))
    println()
    val root = Files.createTempDirectory("graft_scale_prune").toString
    val pruned = try pruningHoldsAt10x(spark, root) finally rm(spark, root)
    ("scale-smoke", None, failed ++ (if (pruned) Nil else Seq("pruning")),
      s"all shapes near-linear at ${copies}x, no new exchanges, pruning holds")
  }

  /** The uniform verdict on (base, scaled) passes and plans. The ratio
    * uses the first pass per corpus: several shapes build per-corpus
    * artifacts (jaccard result for keep_list, IVF centroid / PQ
    * codebook training), and the first pass bounds the worst case — it
    * includes index/quantizer build, which must itself scale
    * (bounded-sample training, linear assignment). The median of the
    * other passes is printed beside it. */
  private[tools] def uniformVerdict(copies: Int, name: String,
      times: Seq[Seq[Double]], plans: Seq[String]): Verdict = {
    val Seq(cBase, cBig) = times.map(_.head)
    val Seq(wBase, wBig) = times.map(t => Harness.median(t.tail))
    val Seq(exBase, exBig) = plans.map(Harness.occurrences(_, "Exchange"))
    val ratio = cBig / cBase
    val ok = ratio <= 2.0 * copies && exBig <= exBase
    Verdict(f"$name%-24s $cBase%6.2f -> $cBig%6.2f ($ratio%5.1fx)   $wBase%6.2f -> $wBig%6.2f   $exBase%2d->$exBig%2d   ${if (ok) "ok" else "FAIL"}", ok)
  }

  /** Deep-scale spot probe (mode=probe): COPIES× (intended: 100×) on a
    * small base (intended: sf0.01 — keeps the corpus build tractable),
    * few shapes, the minimum of two cold passes + exchange counts. The
    * 10× smoke's ratios sit in the fixed-cost regime; at 100× the data
    * term dominates, so a super-linear stage (a quadratic pair output,
    * an unbounded driver collect, a plan that flips to nested-loop)
    * shows up as ratio ≫ copies or a degenerate join. */
  private def runProbe(spark: SparkSession, base: String, copies: Int,
      shapes: Seq[String]): End = {
    val scaled = buildCorpus(spark, base, copies)
    val failed = timeShapes(spark, Seq(base, scaled), "/root/testdata/sf0.001", shapes,
      passes = 2, plans = true,
      f"%nshape                     cold base->${copies}x      ratio (/${copies})   exch  verdict")(
      probeVerdict(copies, _, _, _))
    ("scale-probe", None, failed, s"all probed shapes ≲linear at ${copies}x with stable plans")
  }

  /** The probe verdict: cold ratio ≤ 2·copies, no join that degenerates
    * at scale, and no lost dimension broadcast on the fact lane. */
  private[tools] def probeVerdict(copies: Int, name: String,
      times: Seq[Seq[Double]], plans: Seq[String]): Verdict = {
    val Seq(b, big) = times.map(_.min)
    val Seq(pBase, pBig) = plans
    val Seq(exB, exS) = plans.map(Harness.occurrences(_, "Exchange"))
    // At a 100× jump the exchange COUNT legitimately grows: size
    // estimates push planned broadcasts over the threshold and the
    // join flips to a shuffle join (2 exchanges) — the correct move,
    // a broadcast of the grown side would OOM. The scale hazard to
    // refuse is a join degenerating to nested-loop/cartesian.
    // A nested-loop/cartesian that exists at BOTH scales is an
    // intended one-row scalar broadcast (bm25's stats row).
    def degen(p: String) =
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoop")
    val degenerate = degen(pBig) && !degen(pBase)
    // fact-lane criterion: the dims did NOT grow, so every broadcast
    // hash join planned at base scale must survive at fact scale
    def bhj(p: String): Int =
      p.linesIterator.count(_.contains("BroadcastHashJoin"))
    val dimFlip = FactLaneShapes.contains(name) && bhj(pBig) < bhj(pBase)
    val ratio = big / b
    val ok = ratio <= 2.0 * copies && !degenerate && !dimFlip
    Verdict(f"$name%-24s $b%7.2f -> $big%8.2f  $ratio%7.1fx (${ratio / copies}%4.2f)  $exB%2d->$exS%2d  ${
      if (ok) (if (FactLaneShapes.contains(name)) s"ok (bhj ${bhj(pBase)}->${bhj(pBig)})" else "ok")
      else if (degenerate) "FAIL(degenerate join)"
      else if (dimFlip) s"FAIL(dim broadcast lost: ${bhj(pBase)}->${bhj(pBig)})"
      else "FAIL"}", ok)
  }

  /** Core-count lane (mode=cores): each shape once, cold, on the COPIES×
    * corpus (10× sf0.1 ≈ sf1) at the env core count, where WORK, not
    * scheduling, dominates — at sf0.1 every query is fixed-overhead-bound
    * and a core-count ratio reads ≈1. Prints one JSON line (a failed
    * shape reads -1); scripts/scale_lane.sh runs it at 32 and 8 cores
    * and commits the paired ratios as bench_scale_lane.json. */
  private def runCores(spark: SparkSession, base: String, copies: Int,
      shapes: Seq[String]): End = {
    val scaled = buildCorpus(spark, base, copies)
    val times = scala.collection.mutable.Map[String, Double]()
    timeShapes(spark, Seq(scaled), WarmDir, shapes, passes = 1, plans = false, "") {
      (name, t, _) =>
        times(name) = t.head.head
        Verdict(f"[scale-lane] $name%-28s ${t.head.head}%8.3f s", ok = true)
    }
    println("{\"lane\":\"scale\",\"copies\":" + copies + ",\"cpus\":" + Harness.cpus +
      ",\"queries\":" + Harness.obj(shapes.map(n => n -> Harness.num(times.getOrElse(n, -1.0)))) + "}")
    ("scale-lane", None, Nil, s"timed ${shapes.size} shapes at ${Harness.cpus} cores")
  }

  private[tools] def rm(spark: SparkSession, p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }

  /** Index-MAINTENANCE probe (mode=maint): the claim under test is that
    * growing an indexed corpus costs O(delta + touched state), not
    * O(corpus) — i.e. `ClusterIndex.append` / `AnnIndex.append` scale
    * with the ARRIVING batch while `build` scales with the corpus. Two
    * corpora (1× and COPIES×) each receive the IDENTICAL delta (a 20%
    * slice of the base tables under fresh ids, text unsalted so it
    * near-dups copy-0 content — the touched-cluster work is the same on
    * both sides); we time build and append on both and flag when
    *   - append(N×) > 60% of build(N×) WHILE append also grew >2× from
    *     1× (appending no cheaper than a full rebuild — meaningful only
    *     when append tracks the data; a flat append is the pass at any
    *     build cost, since it extrapolates below a data-linear build), or
    *   - append(N×)/append(1×) > copies/2  (append cost tracking the
    *     corpus, not the delta — a hidden O(corpus) stage), or
    *   - at 1×, merge-maintained membership ≠ one-shot rebuild
    *     membership (row identity, both directions).
    * Artifact: bench_maint.json (committed, drift-readable like the
    * skew lane). */
  private def runMaint(spark: SparkSession, base: String, copies: Int): End = {
    val root = s"/tmp/graft_maint_${copies}x"
    // every completed stage goes to stderr after each timed call, so the
    // append-vs-build fixed-cost question is answered from stage truth
    // instead of wall-clock guesswork
    val stages = Harness.Stages.attach(spark)
    val scaled = buildCorpus(spark, base, copies)

    // grown twins: corpus ∪ the SAME delta (fresh ids; docs keep their
    // text so the delta near-dups copy-0 content in BOTH corpora)
    val shift = (copies + 1).toLong * IdShift
    def grow(src: String, out: String): Unit = {
      val marker = Paths.get(out, "_MAINT_V2_OK")
      if (Files.exists(marker)) return
      Files.createDirectories(Paths.get(out))
      val docs = graft.sources.Tables.documents(spark, src)
      val dDocs = graft.sources.Tables.documents(spark, base)
        .filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(shift))
      docs.unionByName(dDocs).repartition(ScaleFiles)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      val emb = graft.sources.Tables.embeddings(spark, src)
      val dEmb = graft.sources.Tables.embeddings(spark, base)
        .filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + lit(shift))
      emb.unionByName(dEmb).repartition(ScaleFiles)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      Files.write(marker, Array.emptyByteArray)
    }
    grow(base, s"$root/grown1")
    grow(scaled, s"$root/grownN")

    // staging copy so APPEND can be timed more than once (an append is
    // one-shot: the second run no-ops on the covered ledger)
    def copyDir(src: String, dst: String): Unit = {
      rm(spark, dst)
      val conf = spark.sparkContext.hadoopConfiguration
      val s = new org.apache.hadoop.fs.Path(src)
      val d = new org.apache.hadoop.fs.Path(dst)
      org.apache.hadoop.fs.FileUtil.copy(
        s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf)
    }
    // MIN of 2 repetitions per timed call (the bench's per-pass
    // discipline): these are seconds of fixed-cost-dominated work on a
    // shared box — a single sample bounces ±0.8 s run-over-run, which is
    // the whole append-vs-build margin under test
    def timedMin(prep: => Unit)(f: => Unit): Double =
      (0 until 2).map { _ =>
        prep
        val secs = Harness.seconds(f)
        stages.takeRows().foreach(System.err.println)
        secs
      }.min
    import graft.pipeline.{AnnIndex, ClusterIndex}
    // warmup: one tiny build per family off the timed corpora
    ClusterIndex.build(spark, "/root/testdata/sf0.001", s"$root/warm_ci")
    AnnIndex.build(spark, "/root/testdata/sf0.001", s"$root/warm_ai")

    println(f"%nfamily        build1x   build${copies}x   append1x   append${copies}x   (append ratio /${copies})")
    val flags = scala.collection.mutable.ListBuffer[String]()
    // one artifact family under `$root/<dir>`: build on both corpora,
    // append the delta to a copy of each, print the row, flag
    def family(label: String, dir: String, build: (String, String) => Unit,
        append: (String, String) => Unit): String = {
      val (one, n) = (s"$root/${dir}1", s"$root/${dir}N")
      val b1 = timedMin(rm(spark, one))(build(base, one))
      val bN = timedMin(rm(spark, n))(build(scaled, n))
      val a1 = timedMin(copyDir(one, s"${one}_app"))(append(s"$root/grown1", s"${one}_app"))
      val aN = timedMin(copyDir(n, s"${n}_app"))(append(s"$root/grownN", s"${n}_app"))
      println(f"$label%-12s $b1%7.1f   $bN%8.1f   $a1%8.1f   $aN%9.1f   (${aN / a1}%.2fx)")
      // the rebuild comparison is only meaningful when append actually
      // tracks the data: at bench scale both sides are fixed-cost-bound
      // (append pays ~20 small jobs, build one big one), and a FLAT
      // append extrapolates below any data-linear build — the flat
      // ratio IS the pass. Flag rebuild-parity only alongside growth.
      // every timing flag also requires a MINIMUM ABSOLUTE DELTA (the
      // shuffle gate's rule): a1/b1 are seconds of fixed-cost-dominated
      // work on a shared box, so a pure-ratio gate can fire off one
      // transient stall in the denominator run
      if (aN > 0.6 * bN && aN / a1 > 2.0 && aN - a1 > 10.0)
        flags += s"${label}_append_not_cheaper_than_rebuild"
      if (aN / a1 > copies / 2.0 && aN - a1 > 10.0)
        flags += s"${label}_append_scales_with_corpus"
      // fixed-overhead criterion (r14): at 1× the append's ~fixed cost must
      // not exceed the full build's — one artifact read + one bounded merge
      // vs training + encoding the whole corpus. r15: the absolute floor
      // drops 2.0 → 1.0 s — min-of-2 timing already suppresses the
      // single-sample stalls the 2 s floor guarded against, and at a
      // ~2.7 s build denominator a 2 s floor made the criterion
      // unfalsifiable (r14 missed the 1.25× target by 1.64 s and still
      // passed).
      if (a1 > b1 * 1.25 && a1 - b1 > 1.0)
        flags += s"${label}_append_fixed_overhead_exceeds_build"
      s"""{"build_1x_s":${r3(b1)},"build_${copies}x_s":${r3(bN)},""" +
        s""""append_1x_s":${r3(a1)},"append_${copies}x_s":${r3(aN)}}"""
    }

    val cluster = family("cluster", "ci", ClusterIndex.build(spark, _, _),
      ClusterIndex.append(spark, _, _))
    // correctness at 1×: merge-maintained == one-shot rebuild (the last
    // timed rep's appended copy IS the maintained artifact)
    rm(spark, s"$root/ci1_oneshot")
    ClusterIndex.build(spark, s"$root/grown1", s"$root/ci1_oneshot")
    val a = ClusterIndex.members(spark, s"$root/ci1_app")
    val b = ClusterIndex.members(spark, s"$root/ci1_oneshot")
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    if (diff != 0) flags += s"cluster_merge_diverges_from_rebuild($diff)"
    val ann = family("ann", "ai", AnnIndex.build(spark, _, _), AnnIndex.append(spark, _, _))

    val json = s"""{"lane":"maint","copies":$copies,"cluster":$cluster,"ann":$ann,""" +
      s""""flags":${Harness.strs(flags)}}"""
    ("maint-probe", Some(Paths.get("bench_maint.json") -> json), flags.toList,
      s"append is delta-bounded for both artifact families at ${copies}x")
  }

  /** Skew-amplified smoke: same 10× volume as the uniform corpus but with
    * adversarial KEY DISTRIBUTIONS — one user owns 50% of all events
    * (every per-user shuffle/window/fold key goes hot) and one text is
    * shared by 10% of all documents (a 5k-member exact-duplicate cluster
    * through every dedup path). Times each SkewShape cold (minimum of two
    * passes, closest to true cost on a noisy shared box) on the uniform
    * 10× corpus vs the skewed 10× corpus; the volumes are identical so a
    * shape passes when skew costs ≤ 2× uniform. Also proves the
    * mitigation is real, not incidental: the duplicate-cluster membership
    * join (the one quadratic-output stage) must be marked skew-handled by
    * AQE under cluster-realistic thresholds. */
  private def runSkew(spark: SparkSession, base: String, copies: Int,
      shapes: Seq[String]): End = {
    val uniform = buildCorpus(spark, base, copies)
    val skewed = buildSkewCorpus(spark, uniform, copies)

    // a dispatched auto shape is only judged correctly against its twins
    // (the cross-plan skew/uniform ratio compares different operators) —
    // a subset that includes an auto without BOTH twins, or after it,
    // would silently fall back to the wrong verdict
    DispatchedShapes.foreach { case (auto, (direct, bucketed)) =>
      if (shapes.contains(auto))
        require(shapes.indexOf(direct) >= 0 && shapes.indexOf(bucketed) >= 0 &&
          shapes.indexOf(direct) < shapes.indexOf(auto) &&
          shapes.indexOf(bucketed) < shapes.indexOf(auto),
          s"$auto needs both twins ($direct, $bucketed) earlier in the shape list")
    }
    // cold probe cost per corpus, measured when the header that prints
    // it is printed, after the warm-up: the dispatched shapes pay ONE Misra-Gries key scan before running their
    // chosen twin, so the auto verdict must budget it explicitly (a fixed
    // cost that amortizes at real scale but dominates sub-second lane
    // queries)
    def probeCost(dir: String): Double = {
      graft.sources.Memo.clear()
      val ev = graft.sources.Tables.events(spark, dir)
      Harness.seconds(graft.operators.SkewDispatch.hottestKey(ev, col("user_id")))
    }
    lazy val probe = (probeCost(uniform), probeCost(skewed))
    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val failed = timeShapes(spark, Seq(uniform, skewed), WarmDir, shapes, passes = 2, plans = false,
      f"[skew-smoke] dispatch probe cost: uniform ${probe._1}%.2f s, skew ${probe._2}%.2f s%n" +
        f"%nshape                     uniform${copies}x  skew${copies}x   ratio  verdict") {
      (name, times, _) =>
        val Seq(u, s) = times.map(_.min)
        val v = skewVerdict(name, u, s, results.toMap, probe)
        results(name) = (u, s)
        v
    }
    val skewSplit = skewJoinEngages(spark, skewed)
    // a failed shape with no result threw
    val (judged, errors) = failed.partition(results.contains)
    ("skew-smoke", Some(skewArtifact(copies, results.toSeq, errors, skewSplit, judged, probe)),
      failed ++ (if (skewSplit) Nil else Seq("skew_join_split")),
      s"all shapes within 2x of uniform at ${copies}x; AQE skew-split engaged")
  }

  /** The skew verdict on one shape's (uniform, skew) minima. Dispatched
    * shapes switch PLANS between the corpora, so their skew/uniform
    * ratio compares different operators: an auto shape must land within
    * 1.2× of the better of its twins (`earlier`, judged before it) plus
    * the measured `probe` cost on EACH corpus (r12: tightened from 1.5×
    * once the r11 gap was traced to a mis-dispatch at the MG knife edge,
    * not inherent overhead). The direct member of a dispatched pair is
    * INFORMATIONAL: its skew degradation is the documented straggler the
    * dispatcher routes around. The bucketed member and undispatched
    * shapes keep the hard ≤2× bound. */
  private[tools] def skewVerdict(name: String, u: Double, s: Double,
      earlier: Map[String, (Double, Double)], probe: (Double, Double)): Verdict = {
    val ratio = s / u
    val isDirectTwin = DispatchedShapes.values.exists(_._1 == name)
    val ok = DispatchedShapes.get(name) match {
      case Some((direct, bucketed))
          if earlier.contains(direct) && earlier.contains(bucketed) =>
        val (du, ds) = earlier(direct)
        val (bu, bs) = earlier(bucketed)
        u <= 1.2 * math.min(du, bu) + probe._1 &&
          s <= 1.2 * math.min(ds, bs) + probe._2
      case _ if isDirectTwin => true
      case _ => ratio <= 2.0
    }
    val tag = if (!ok) "FAIL"
      else if (isDirectTwin && ratio > 2.0) "ok (straggler; dispatcher covers)"
      else "ok"
    Verdict(f"$name%-24s $u%8.2f  $s%8.2f  $ratio%5.2fx  $tag", ok)
  }

  /** The skew lane's committed artifact (bench_skew.json), so
    * skew-resilience regressions are caught round-over-round like the
    * uniform lane's bench_out.json: per-shape uniform/skew minima, the
    * ratio, the previous committed ratio (drift reading), a `flags` list
    * (the shapes the verdict failed, then those that threw), and whether
    * the AQE skew-split proof engaged. */
  private def skewArtifact(copies: Int,
      results: Seq[(String, (Double, Double))], errors: Seq[String],
      skewSplit: Boolean, failedNames: Seq[String],
      probe: (Double, Double)): (Path, String) = {
    val out = Paths.get("bench_skew.json")
    val prev: Map[String, Double] = Harness.readRecord(out)
      .map(Harness.numFieldOf(_, "shapes", "ratio")).getOrElse(Map.empty)
    val directTwins = DispatchedShapes.values.map(_._1).toSet
    val shapesJson = Harness.obj(results.map { case (n, (u, s)) =>
      val prevStr = prev.get(n).map(p => s""","ratio_prev":${r3(p)}""").getOrElse("")
      val infoStr = if (directTwins.contains(n)) ""","informational":true""" else ""
      n -> s"""{"uniform_s":${r3(u)},"skew_s":${r3(s)},"ratio":${r3(s / u)}$prevStr$infoStr}"""
    })
    out -> (s"""{"lane":"skew","copies":$copies,""" +
      s""""skew_join_split":$skewSplit,""" +
      s""""probe_uniform_s":${r3(probe._1)},"probe_skew_s":${r3(probe._2)},""" +
      s""""flags":${Harness.strs(failedNames ++ errors)},"errors":${Harness.strs(errors)},""" +
      s""""shapes":$shapesJson}""")
  }

  /** The duplicate-cluster membership join must be AQE-skew-split under
    * cluster-realistic thresholds (test-sized data needs the thresholds
    * scaled down, exactly as AqeSkewSpec does — on a real cluster the
    * 256 MB defaults fire on the same key). */
  def skewJoinEngages(spark: SparkSession, skewDir: String): Boolean =
    Harness.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      // cluster-realistic partition count: skew detection reads
      // COMPRESSED map sizes, and a duplicate cluster's identical join
      // keys compress away — at 16 local partitions the hot partition
      // hides inside the median, at a cluster's partition count the
      // median drops and the hot key stands out (44KB vs 11KB median
      // at 200 parts here)
      "spark.sql.shuffle.partitions" -> "200") {
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      graft.sources.Memo.clear()
      val df = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, skewDir)
      df.queryExecution.toRdd.count() // execute THIS plan (no derived agg)
      val smj = Plans.collect(df.queryExecution.executedPlan) { case j: SortMergeJoinExec => j }
      val ok = smj.exists(_.isSkewJoin)
      println(s"[skew-smoke] dup-cluster membership join AQE-skew-split: " +
        s"${if (ok) "ok" else "FAIL"} (${smj.count(_.isSkewJoin)} of ${smj.length} SMJs split)")
      ok
    }

  /** Skewed 10× corpus: identical VOLUME to the uniform scaled corpus,
    * adversarial KEYS. Events: half of all rows re-keyed to user 0 (ids
    * stay unique). Documents: every 10th doc gets one shared 40-token
    * text — a corpus-wide exact-duplicate cluster with real shingles.
    * All other tables symlink to the uniform corpus. Returns its dir. */
  def buildSkewCorpus(spark: SparkSession, uniform: String, copies: Int): String = {
    val out = s"/tmp/graft_skew_${copies}x"
    val marker = Paths.get(out, s"_SKEW_${copies}X_V2_OK")
    if (Files.exists(marker)) { println(s"[skew-smoke] reusing $out"); return out }
    println(s"[skew-smoke] building skewed ${copies}x corpus at $out")
    Files.createDirectories(Paths.get(out))
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "embeddings")) {
      val link = Paths.get(out, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(uniform, s"$t.parquet"))
    }
    graft.sources.Tables.eventsRaw(spark, uniform)
      .withColumn("user_id",
        when(col("event_id") % 2 === 0, lit(0L)).otherwise(col("user_id")))
      .repartition(ScaleFiles)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val dupText = (1 to 40).map(i => s"boiler$i").mkString(" ")
    graft.sources.Tables.documents(spark, uniform)
      .withColumn("text",
        when(col("doc_id") % 10 === 0, lit(dupText)).otherwise(col("text")))
      // one lang too — a mirrored-boilerplate cluster shares language, and
      // splitting it across langs would hide the hot (lang, content) key
      .withColumn("lang",
        when(col("doc_id") % 10 === 0, lit("en")).otherwise(col("lang")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(ScaleFiles)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    Files.write(marker, Array.emptyByteArray)
    out
  }

  /** Write the scaled corpus under /tmp and return its dir (idempotent —
    * skipped when the marker file already records the same copy count
    * and layout). Small dimension tables are symlinked; the big tables
    * are unioned shifted copies, each written as `ScaleFiles` part
    * files. */
  def buildCorpus(spark: SparkSession, base: String, copies: Int): String = {
    val out = s"/tmp/graft_scale_${copies}x"
    // v2: orders/lineitem are scaled too (shifted orderkeys, dim keys
    // kept valid — 10× facts per dimension row, the real scale shape);
    // v3: `ScaleFiles` part files per table instead of one per copy
    val marker = Paths.get(out, s"_SCALE_${copies}X_V3_OK")
    if (Files.exists(marker)) { println(s"[scale-smoke] reusing $out"); return out }
    println(s"[scale-smoke] building ${copies}x corpus at $out")
    Files.createDirectories(Paths.get(out))
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val link = Paths.get(out, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(base, s"$t.parquet"))
    }
    // a v1 corpus symlinked the fact tables — remove the links so the
    // scaled write below cannot chase them into read-only testdata
    for (t <- Seq("orders", "lineitem")) {
      val link = Paths.get(out, s"$t.parquet")
      if (Files.isSymbolicLink(link)) Files.delete(link)
    }
    def shifted(df: DataFrame, idCols: Seq[String], i: Int): DataFrame =
      idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * IdShift)))
    def write(table: String)(build: Int => DataFrame): Unit =
      (0 until copies).map(build).reduce(_.unionAll(_)).repartition(ScaleFiles)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")

    val docs = graft.sources.Tables.documents(spark, base)
    write("documents") { i =>
      val s = shifted(docs, Seq("doc_id"), i)
      // per-copy token salt: preserves intra-copy dup structure, kills
      // cross-copy shingle collisions (see scaladoc)
      if (i == 0) s
      else s.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1_k" + i))
    }
    val emb = graft.sources.Tables.embeddings(spark, base)
    write("embeddings")(i => shifted(emb, Seq("vec_id"), i))
    // raw read keeps ts in its on-disk form (TIMESTAMP_NTZ); the
    // rewritten column round-trips through Tables.eventsRaw identically
    val ev = graft.sources.Tables.eventsRaw(spark, base)
    write("events")(i => shifted(ev, Seq("event_id", "user_id"), i))
    val ord = graft.sources.Tables.load(spark, base, "orders")
    write("orders")(i => shifted(ord, Seq("o_orderkey"), i))
    val li = graft.sources.Tables.load(spark, base, "lineitem")
    write("lineitem")(i => shifted(li, Seq("l_orderkey"), i))

    Files.write(marker, Array.emptyByteArray)
    out
  }

  /** GraftDBSpec proves indexed-Eq pruning on a 5-block log; the id-push
    * cap (MaxPushedIds=1024) matters at scale, so re-prove on a 50-block,
    * 10k-mutation log under `root`: the lookup's pushed id filter must
    * still skip every block that cannot contain the id (rows read ≤ one
    * 200-row block). The read runs with broadcast joins off, which keeps
    * it off GraftDB's driver fold: the Spark fold's log scan is the one
    * the id push must prune. */
  def pruningHoldsAt10x(spark: SparkSession, root: String): Boolean = {
    import graft.api.GraftDB
    import graft.docstore.{FieldFilter, Op, StructuredQuery}
    import graft.docstore.FieldValue.I64
    import org.apache.spark.sql.execution.FileSourceScanExec
    val db = new GraftDB(spark, root)
    db.createCollection("d1", "c")
    (0 until 50).foreach { b =>
      db.addDocuments("d1", "c",
        (0 until 200).map(i => s"""{"rate":${b * 200 + i},"blk":$b}"""))
    }
    db.addIndex("d1", "c", "rate", "Int64Key")
    val q = StructuredQuery(where = Some(FieldFilter("rate", Op.Eq, I64(7777))))
    Harness.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val viaIdx = db.queryWithIndex("d1", "c", q)
      val hits = viaIdx.collect().length
      val logScans = Plans.collect(viaIdx.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }.filter(_.metadata.get("PushedFilters").exists(m =>
        m.contains("In(id") || m.contains("EqualTo(id")))
      val rowsRead = logScans.map(_.metrics("numOutputRows").value).sum
      val ok = hits == 1 && logScans.nonEmpty && rowsRead > 0 && rowsRead <= 200
      println(s"[scale-smoke] 10x point-lookup pruning: hits=$hits " +
        s"rowsRead=$rowsRead of 10000 logged mutations -> ${if (ok) "ok" else "FAIL"}")
      ok
    }
  }
}
