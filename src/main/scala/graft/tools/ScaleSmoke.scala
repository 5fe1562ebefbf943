package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-amplification smoke test. TESTDATA is capped at sf0.1 and
  * read-only, so this synthesizes a COPIES× derived corpus under /tmp and
  * runs the slowest query shapes on both scales, reporting per-shape time
  * ratios and physical-plan exchange counts. A shape passes when its time
  * grows near-linearly (ratio ≤ 2× the data ratio — generous headroom for
  * fixed costs and log factors on a shared box) and its plan gains no new
  * exchanges at 10×.
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
  * Also re-runs the indexed point-lookup pruning proof (GraftDBSpec pins
  * it at a 5-block log) on a 10×, 50-block mutation log: the pushed id
  * set must still prune the scan to a single block's rows.
  *
  * Run: sbt "runMain graft.tools.ScaleSmoke [baseDir] [copies]"
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

  private val IdShift = 10_000_000L

  private def r3(d: Double): String = Harness.num(d)

  /** Exchange operators in `df`'s executed plan. */
  private def exchanges(df: DataFrame): Int =
    Harness.occurrences(df.queryExecution.executedPlan.toString, "Exchange")

  /** One COLD run of a query: memo cleared first, wall seconds. */
  private def cold(spark: SparkSession, name: String, dir: String): Double = {
    graft.sources.Memo.clear()
    Harness.seconds(graft.SparkEntry.queries(name)(spark, dir).count())
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    if (args.drop(2).headOption.contains("skew")) { runSkew(base, copies); return }
    if (args.drop(2).headOption.contains("maint")) { runMaint(base, copies); return }
    if (args.drop(2).headOption.contains("probe")) {
      runProbe(base, copies, args.drop(3).headOption
        .map(_.split(",").toSeq).getOrElse(ProbeShapes))
      return
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_SMOKE_PASSES", "3").toInt.max(1)
    val scaled = s"/tmp/graft_scale_${copies}x"
    val spark = Harness.session()

    buildCorpus(spark, base, scaled, copies)

    // warm shared costs once so the first timed pass is not charged for
    // session setup. JIT/codegen warmup runs every shape on sf0.01 — the
    // pipeline caches (jaccard result, IVF centroids, PQ codebooks) key
    // per corpus dir, so this warms the JVM without warming anything that
    // is timed below.
    Harness.warm(spark, base, scaled)
    // optional subset (comma-separated shape names) for quick re-runs of
    // newly added shapes without re-timing the whole lane
    val shapeList = sys.env.get("SPARK_GRAFT_SMOKE_SHAPES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Shapes)
    val unknown = shapeList.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SMOKE_SHAPES names unknown queries: ${unknown.mkString(", ")}")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_SMOKE_WARMDIR", "/root/testdata/sf0.01")
    Harness.warmQueries(spark, warmDir, shapeList)

    // The verdict ratio uses the COLD first pass per (shape, dir): several
    // shapes memoize per corpus (jaccard result for keep_list, IVF
    // centroid / PQ codebook training), so warm passes measure cache
    // reads, not the operator — the r7 advice's bench lesson. Cold also
    // bounds the worst case: it includes index/quantizer build, which must
    // itself scale (bounded-sample training, linear assignment).
    println(f"%nshape                     cold sf0.1->${copies}x (ratio)    warm sf0.1->${copies}x   exch  verdict")
    var failures = 0
    shapeList.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def time(dir: String): (Double, Double) = {
        val ts = (1 to passes).map(_ => Harness.seconds(fn(spark, dir).count()))
        (ts.head, Harness.median(ts.tail))
      }
      try {
        val (cBase, wBase) = time(base)
        val (cBig, wBig) = time(scaled)
        val exBase = exchanges(fn(spark, base))
        val exBig = exchanges(fn(spark, scaled))
        val ratio = cBig / cBase
        val ok = ratio <= 2.0 * copies && exBig <= exBase
        if (!ok) failures += 1
        println(f"$name%-24s $cBase%6.2f -> $cBig%6.2f ($ratio%5.1fx)   $wBase%6.2f -> $wBig%6.2f   $exBase%2d->$exBig%2d   ${if (ok) "ok" else "FAIL"}")
      } catch {
        case NonFatal(e) =>
          failures += 1
          println(s"$name FAILED: ${e.getMessage}")
      }
    }

    println()
    if (!pruningHoldsAt10x(spark)) failures += 1

    spark.stop()
    if (failures > 0) {
      System.err.println(s"[scale-smoke] $failures failure(s)")
      sys.exit(1)
    }
    println(s"[scale-smoke] all shapes near-linear at ${copies}x, no new exchanges, pruning holds")
  }

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

  /** Deep-scale spot probe (mode=probe): COPIES× (intended: 100×) on a
    * small base (intended: sf0.01 — keeps the corpus build tractable),
    * few shapes, cold ratios + exchange counts. The 10× smoke's ratios
    * sit in the fixed-cost regime; at 100× the data term dominates, so a
    * super-linear stage (a quadratic pair output, an unbounded driver
    * collect, a plan that flips to nested-loop) shows up as ratio ≫
    * copies or a changed exchange count. Pass = cold ratio ≤ 2·copies
    * and no new exchanges at scale. */
  def runProbe(base: String, copies: Int, shapes: Seq[String]): Unit = {
    val scaled = s"/tmp/graft_scale_${copies}x"
    val passes = sys.env.getOrElse("SPARK_GRAFT_SMOKE_PASSES", "2").toInt.max(1)
    val spark = Harness.session()
    buildCorpus(spark, base, scaled, copies)
    // JIT/codegen warmup off the timed corpora
    Harness.warm(spark)
    Harness.warmQueries(spark,
      sys.env.getOrElse("SPARK_GRAFT_SMOKE_WARMDIR", "/root/testdata/sf0.001"), shapes)
    println(f"%nshape                     cold base->${copies}x      ratio (/${copies})   exch  verdict")
    var failures = 0
    shapes.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try {
        val b = (1 to passes).map(_ => cold(spark, name, base)).min
        val big = (1 to passes).map(_ => cold(spark, name, scaled)).min
        val exB = exchanges(fn(spark, base))
        val exS = exchanges(fn(spark, scaled))
        // At a 100× jump the exchange COUNT legitimately grows: size
        // estimates push planned broadcasts over the threshold and the
        // join flips to a shuffle join (2 exchanges) — the correct move,
        // a broadcast of the grown side would OOM. The scale hazard to
        // refuse is a join degenerating to nested-loop/cartesian.
        val pBig = fn(spark, scaled).queryExecution.executedPlan.toString
        val pBase = fn(spark, base).queryExecution.executedPlan.toString
        // a nested-loop/cartesian that exists at BOTH scales is an
        // intended one-row scalar broadcast (bm25's stats row); the
        // scale hazard is a join that DEGENERATES to one at scale
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
        if (!ok) failures += 1
        println(f"$name%-24s $b%7.2f -> $big%8.2f  $ratio%7.1fx (${ratio / copies}%4.2f)  $exB%2d->$exS%2d  ${
          if (ok) (if (FactLaneShapes.contains(name)) s"ok (bhj ${bhj(pBase)}->${bhj(pBig)})" else "ok")
          else if (degenerate) "FAIL(degenerate join)"
          else if (dimFlip) s"FAIL(dim broadcast lost: ${bhj(pBase)}->${bhj(pBig)})"
          else "FAIL"}")
      } catch {
        case NonFatal(e) =>
          failures += 1
          println(s"$name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[scale-probe] $failures failure(s)")
      sys.exit(1)
    }
    println(s"[scale-probe] all probed shapes ≲linear at ${copies}x with stable plans")
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
  def runMaint(base: String, copies: Int): Unit = {
    val scaled = s"/tmp/graft_scale_${copies}x"
    val root = s"/tmp/graft_maint_${copies}x"
    val spark = Harness.session()
    // every completed stage goes to stderr after each timed call, so the
    // append-vs-build fixed-cost question is answered from stage truth
    // instead of wall-clock guesswork
    val stages = Harness.Stages.attach(spark)
    buildCorpus(spark, base, scaled, copies)

    // grown twins: corpus ∪ the SAME delta (fresh ids; docs keep their
    // text so the delta near-dups copy-0 content in BOTH corpora)
    val shift = (copies + 1).toLong * IdShift
    def grow(src: String, out: String): Unit = {
      val marker = Paths.get(out, "_MAINT_V1_OK")
      if (Files.exists(marker)) return
      Files.createDirectories(Paths.get(out))
      val docs = graft.sources.Tables.documents(spark, src)
      val dDocs = graft.sources.Tables.documents(spark, base)
        .filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(shift))
      docs.unionByName(dDocs).repartition(copies)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      val emb = graft.sources.Tables.embeddings(spark, src)
      val dEmb = graft.sources.Tables.embeddings(spark, base)
        .filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + lit(shift))
      emb.unionByName(dEmb).repartition(copies)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      Files.write(marker, Array.emptyByteArray)
    }
    grow(base, s"$root/grown1")
    grow(scaled, s"$root/grownN")

    def rm(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    // staging copy so APPEND can be timed more than once (an append is
    // one-shot: the second run no-ops on the covered ledger)
    def copyDir(src: String, dst: String): Unit = {
      rm(dst)
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

    // ---- ClusterIndex ----
    val cb1 = timedMin(rm(s"$root/ci1"))(
      ClusterIndex.build(spark, base, s"$root/ci1"))
    val cbN = timedMin(rm(s"$root/ciN"))(
      ClusterIndex.build(spark, scaled, s"$root/ciN"))
    val ca1 = timedMin(copyDir(s"$root/ci1", s"$root/ci1_app"))(
      ClusterIndex.append(spark, s"$root/grown1", s"$root/ci1_app"))
    val caN = timedMin(copyDir(s"$root/ciN", s"$root/ciN_app"))(
      ClusterIndex.append(spark, s"$root/grownN", s"$root/ciN_app"))
    println(f"cluster      $cb1%7.1f   $cbN%8.1f   $ca1%8.1f   $caN%9.1f   (${caN / ca1}%.2fx)")
    // the rebuild comparison is only meaningful when append actually
    // tracks the data: at bench scale both sides are fixed-cost-bound
    // (append pays ~20 small jobs, build one big one), and a FLAT
    // append extrapolates below any data-linear build — the flat
    // ratio IS the pass. Flag rebuild-parity only alongside growth.
    // every timing flag also requires a MINIMUM ABSOLUTE DELTA (the
    // shuffle gate's rule): ca1/cb1 are seconds of fixed-cost-dominated
    // work on a shared box, so a pure-ratio gate can fire off one
    // transient stall in the denominator run
    if (caN > 0.6 * cbN && caN / ca1 > 2.0 && caN - ca1 > 10.0)
      flags += "cluster_append_not_cheaper_than_rebuild"
    if (caN / ca1 > copies / 2.0 && caN - ca1 > 10.0)
      flags += "cluster_append_scales_with_corpus"
    // fixed-overhead criterion (r14): at 1× the append's ~fixed cost must
    // not exceed the full build's — one artifact read + one bounded merge
    // vs training + encoding the whole corpus. r15: the absolute floor
    // drops 2.0 → 1.0 s — min-of-2 timing already suppresses the
    // single-sample stalls the 2 s floor guarded against, and at a
    // ~2.7 s build denominator a 2 s floor made the criterion
    // unfalsifiable (r14 missed the 1.25× target by 1.64 s and still
    // passed).
    if (ca1 > cb1 * 1.25 && ca1 - cb1 > 1.0)
      flags += "cluster_append_fixed_overhead_exceeds_build"
    // correctness at 1×: merge-maintained == one-shot rebuild (the last
    // timed rep's appended copy IS the maintained artifact)
    rm(s"$root/ci1_oneshot")
    ClusterIndex.build(spark, s"$root/grown1", s"$root/ci1_oneshot")
    val a = ClusterIndex.members(spark, s"$root/ci1_app")
    val b = ClusterIndex.members(spark, s"$root/ci1_oneshot")
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    if (diff != 0) flags += s"cluster_merge_diverges_from_rebuild($diff)"

    // ---- AnnIndex ----
    val ab1 = timedMin(rm(s"$root/ai1"))(
      AnnIndex.build(spark, base, s"$root/ai1"))
    val abN = timedMin(rm(s"$root/aiN"))(
      AnnIndex.build(spark, scaled, s"$root/aiN"))
    val aa1 = timedMin(copyDir(s"$root/ai1", s"$root/ai1_app"))(
      AnnIndex.append(spark, s"$root/grown1", s"$root/ai1_app"))
    val aaN = timedMin(copyDir(s"$root/aiN", s"$root/aiN_app"))(
      AnnIndex.append(spark, s"$root/grownN", s"$root/aiN_app"))
    println(f"ann          $ab1%7.1f   $abN%8.1f   $aa1%8.1f   $aaN%9.1f   (${aaN / aa1}%.2fx)")
    if (aaN > 0.6 * abN && aaN / aa1 > 2.0 && aaN - aa1 > 10.0)
      flags += "ann_append_not_cheaper_than_rebuild"
    if (aaN / aa1 > copies / 2.0 && aaN - aa1 > 10.0)
      flags += "ann_append_scales_with_corpus"
    if (aa1 > ab1 * 1.25 && aa1 - ab1 > 1.0)
      flags += "ann_append_fixed_overhead_exceeds_build"

    val json = s"""{"lane":"maint","copies":$copies,""" +
      s""""cluster":{"build_1x_s":${r3(cb1)},"build_${copies}x_s":${r3(cbN)},""" +
      s""""append_1x_s":${r3(ca1)},"append_${copies}x_s":${r3(caN)}},""" +
      s""""ann":{"build_1x_s":${r3(ab1)},"build_${copies}x_s":${r3(abN)},""" +
      s""""append_1x_s":${r3(aa1)},"append_${copies}x_s":${r3(aaN)}},""" +
      s""""flags":${Harness.strs(flags)}}"""
    Files.write(Paths.get("bench_maint.json"), json.getBytes("UTF-8"))
    println(s"[maint-probe] wrote bench_maint.json")
    spark.stop()
    if (flags.nonEmpty) {
      System.err.println(s"[maint-probe] flags: ${flags.mkString(", ")}")
      sys.exit(1)
    }
    println(s"[maint-probe] append is delta-bounded for both artifact families at ${copies}x")
  }

  /** Skew-amplified smoke: same 10× volume as the uniform corpus but with
    * adversarial KEY DISTRIBUTIONS — one user owns 50% of all events
    * (every per-user shuffle/window/fold key goes hot) and one text is
    * shared by 10% of all documents (a 5k-member exact-duplicate cluster
    * through every dedup path). Times each SkewShape cold on the uniform
    * 10× corpus vs the skewed 10× corpus; the volumes are identical so a
    * shape passes when skew costs ≤ 2× uniform. Also proves the
    * mitigation is real, not incidental: the duplicate-cluster membership
    * join (the one quadratic-output stage) must be marked skew-handled by
    * AQE under cluster-realistic thresholds. */
  def runSkew(base: String, copies: Int): Unit = {
    val uniform = s"/tmp/graft_scale_${copies}x"
    val skewed = s"/tmp/graft_skew_${copies}x"
    val passes = sys.env.getOrElse("SPARK_GRAFT_SMOKE_PASSES", "2").toInt.max(1)
    val spark = Harness.session()

    buildCorpus(spark, base, uniform, copies)
    buildSkewCorpus(spark, uniform, skewed, copies)

    // JVM/codegen warmup off the timed corpora
    Harness.warm(spark)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_SMOKE_WARMDIR", "/root/testdata/sf0.01")
    Harness.warmQueries(spark, warmDir, SkewShapes)

    // cold probe cost per corpus: the dispatched shapes pay ONE
    // Misra-Gries key scan before running their chosen twin, so the
    // auto verdict must budget it explicitly (a fixed cost that
    // amortizes at real scale but dominates sub-second lane queries)
    def probeCost(dir: String): Double = {
      graft.sources.Memo.clear()
      val ev = graft.sources.Tables.events(spark, dir)
      Harness.seconds(graft.operators.SkewDispatch.hottestKey(ev, col("user_id")))
    }
    val (probeU, probeS) = (probeCost(uniform), probeCost(skewed))
    println(f"[skew-smoke] dispatch probe cost: uniform $probeU%.2f s, skew $probeS%.2f s")

    println(f"%nshape                     uniform${copies}x  skew${copies}x   ratio  verdict")
    var failures = 0
    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val errors = scala.collection.mutable.ListBuffer[String]()
    val failedNames = scala.collection.mutable.ListBuffer[String]()
    val shapes =
      if (sys.env.contains("SPARK_GRAFT_SMOKE_JOINONLY")) Nil
      else sys.env.get("SPARK_GRAFT_SMOKE_SHAPES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(SkewShapes)
    val unknownSkew = shapes.filterNot(graft.SparkEntry.queries.contains)
    require(unknownSkew.isEmpty,
      s"SPARK_GRAFT_SMOKE_SHAPES names unknown queries: ${unknownSkew.mkString(", ")}")
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
    shapes.foreach { name =>
      try {
        // keep the per-dir MINIMUM cold time (closest to true cost on a
        // noisy shared box)
        val us = (1 to passes).map(_ => cold(spark, name, uniform))
        val ss = (1 to passes).map(_ => cold(spark, name, skewed))
        val (u, s) = (us.min, ss.min)
        val ratio = s / u
        results(name) = (u, s)
        // dispatched shapes switch PLANS between the corpora, so the
        // skew/uniform ratio compares different operators; the verdict
        // that matters is "auto stays within margin of the BETTER twin
        // on each corpus" (margin covers the probe pass + cold noise)
        // the direct member of a dispatched pair is INFORMATIONAL: its
        // skew degradation is the documented straggler the dispatcher
        // routes around (the system-level verdict lives on the auto
        // shape); the bucketed member and undispatched shapes keep the
        // hard ≤2× bound
        val isDirectTwin = DispatchedShapes.values.exists(_._1 == name)
        val ok = DispatchedShapes.get(name) match {
          case Some((direct, bucketed))
              if results.contains(direct) && results.contains(bucketed) =>
            val (du, ds) = results(direct)
            val (bu, bs) = results(bucketed)
            // auto must land within 1.2× of the better twin plus the
            // measured probe on EACH corpus (r12: tightened from 1.5×
            // once the r11 gap was traced to a mis-dispatch at the MG
            // knife edge, not inherent overhead — auto is now
            // chosen-twin + probe within cold noise)
            u <= 1.2 * math.min(du, bu) + probeU &&
              s <= 1.2 * math.min(ds, bs) + probeS
          case _ if isDirectTwin => true
          case _ => ratio <= 2.0
        }
        if (!ok) { failures += 1; failedNames += name }
        val tag = if (!ok) "FAIL"
          else if (isDirectTwin && ratio > 2.0) "ok (straggler; dispatcher covers)"
          else "ok"
        println(f"$name%-24s $u%8.2f  $s%8.2f  $ratio%5.2fx  $tag")
      } catch {
        case NonFatal(e) =>
          failures += 1
          errors += name
          println(s"$name FAILED: ${e.getMessage}")
      }
    }

    val skewSplit = skewJoinEngages(spark, skewed)
    if (!skewSplit) failures += 1
    writeSkewArtifact(copies, results.toSeq, errors.toList, skewSplit,
      failedNames.toList, probeU, probeS)
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[skew-smoke] $failures failure(s)")
      sys.exit(1)
    }
    println(s"[skew-smoke] all shapes within 2x of uniform at ${copies}x; AQE skew-split engaged")
  }

  /** Persist the skew lane as a committed artifact (bench_skew.json) so
    * skew-resilience regressions are caught round-over-round like the
    * uniform lane's bench_out.json: per-shape uniform/skew minima, the
    * ratio, the previous committed ratio (drift reading), a `flags` list
    * (> 2x or errored — the same auto-flag rule the smoke enforces), and
    * whether the AQE skew-split proof engaged. */
  private def writeSkewArtifact(copies: Int,
      results: Seq[(String, (Double, Double))], errors: List[String],
      skewSplit: Boolean, failedNames: Seq[String] = Nil,
      probeU: Double = 0.0, probeS: Double = 0.0): Unit = {
    val out = Paths.get("bench_skew.json")
    val prev: Map[String, Double] = Harness.readRecord(out)
      .map(Harness.numFieldOf(_, "shapes", "ratio")).getOrElse(Map.empty)
    // flags mirror the lane VERDICT (not a raw ratio cut): dispatched
    // shapes fail on the twin-margin criterion, direct members of a
    // dispatched pair are informational stragglers by design
    val flags = (failedNames ++ errors).distinct
    val directTwins = DispatchedShapes.values.map(_._1).toSet
    val shapesJson = Harness.obj(results.map { case (n, (u, s)) =>
      val prevStr = prev.get(n).map(p => s""","ratio_prev":${r3(p)}""").getOrElse("")
      val infoStr = if (directTwins.contains(n)) ""","informational":true""" else ""
      n -> s"""{"uniform_s":${r3(u)},"skew_s":${r3(s)},"ratio":${r3(s / u)}$prevStr$infoStr}"""
    })
    val json = s"""{"lane":"skew","copies":$copies,""" +
      s""""skew_join_split":$skewSplit,""" +
      s""""probe_uniform_s":${r3(probeU)},"probe_skew_s":${r3(probeS)},""" +
      s""""flags":${Harness.strs(flags)},"errors":${Harness.strs(errors)},""" +
      s""""shapes":$shapesJson}"""
    Files.write(out, json.getBytes("UTF-8"))
    println(s"[skew-smoke] wrote ${out.toAbsolutePath}")
  }

  /** The duplicate-cluster membership join must be AQE-skew-split under
    * cluster-realistic thresholds (test-sized data needs the thresholds
    * scaled down, exactly as AqeSkewSpec does — on a real cluster the
    * 256 MB defaults fire on the same key). */
  def skewJoinEngages(spark: SparkSession, skewDir: String): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val confs = Seq(
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
      "spark.sql.shuffle.partitions" -> "200")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      graft.sources.Memo.clear()
      val df = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, skewDir)
      df.queryExecution.toRdd.count() // execute THIS plan (no derived agg)
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec        => allNodes(q.plan)
        case _                        => p.children.flatMap(allNodes)
      })
      val smj = allNodes(df.queryExecution.executedPlan)
        .collect { case j: SortMergeJoinExec => j }
      val ok = smj.exists(_.isSkewJoin)
      println(s"[skew-smoke] dup-cluster membership join AQE-skew-split: " +
        s"${if (ok) "ok" else "FAIL"} (${smj.count(_.isSkewJoin)} of ${smj.length} SMJs split)")
      if (!ok && sys.env.contains("SPARK_GRAFT_SMOKE_DEBUG"))
        println(df.queryExecution.executedPlan.toString.take(8000))
      ok
    } finally {
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      saved.foreach { case (k, v) => v.foreach(spark.conf.set(k, _)) }
    }
  }

  /** Skewed 10× corpus: identical VOLUME to the uniform scaled corpus,
    * adversarial KEYS. Events: half of all rows re-keyed to user 0 (ids
    * stay unique). Documents: every 10th doc gets one shared 40-token
    * text — a corpus-wide exact-duplicate cluster with real shingles.
    * All other tables symlink to the uniform corpus. */
  def buildSkewCorpus(spark: SparkSession, uniform: String, out: String,
      copies: Int): Unit = {
    val marker = Paths.get(out, s"_SKEW_${copies}X_V1_OK")
    if (Files.exists(marker)) { println(s"[skew-smoke] reusing $out"); return }
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
      .repartition(copies)
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
      .repartition(copies)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    Files.write(marker, Array.emptyByteArray)
  }

  /** Write the scaled corpus (idempotent — skipped when the marker file
    * already records the same copy count). Small dimension tables are
    * symlinked; the three big tables are unioned shifted copies. */
  def buildCorpus(spark: SparkSession, base: String, out: String, copies: Int): Unit = {
    // v2: orders/lineitem are scaled too (shifted orderkeys, dim keys
    // kept valid — 10× facts per dimension row, the real scale shape)
    val marker = Paths.get(out, s"_SCALE_${copies}X_V2_OK")
    if (Files.exists(marker)) { println(s"[scale-smoke] reusing $out"); return }
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
    def times(build: Int => DataFrame): DataFrame =
      (0 until copies).map(build).reduce(_.unionAll(_))

    val docs = graft.sources.Tables.documents(spark, base)
    times { i =>
      val s = shifted(docs, Seq("doc_id"), i)
      // per-copy token salt: preserves intra-copy dup structure, kills
      // cross-copy shingle collisions (see scaladoc)
      if (i == 0) s
      else s.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1_k" + i))
    }.repartition(copies).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = graft.sources.Tables.embeddings(spark, base)
    times(i => shifted(emb, Seq("vec_id"), i))
      .repartition(copies).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // raw read keeps ts in its on-disk form (TIMESTAMP_NTZ); the
    // rewritten column round-trips through Tables.eventsRaw identically
    val ev = graft.sources.Tables.eventsRaw(spark, base)
    times(i => shifted(ev, Seq("event_id", "user_id"), i))
      .repartition(copies).write.mode("overwrite").parquet(s"$out/events.parquet")

    val ord = graft.sources.Tables.load(spark, base, "orders")
    times(i => shifted(ord, Seq("o_orderkey"), i))
      .repartition(copies).write.mode("overwrite").parquet(s"$out/orders.parquet")
    val li = graft.sources.Tables.load(spark, base, "lineitem")
    times(i => shifted(li, Seq("l_orderkey"), i))
      .repartition(copies).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    Files.write(marker, Array.emptyByteArray)
  }

  /** GraftDBSpec proves indexed-Eq pruning on a 5-block log; the id-push
    * cap (MaxPushedIds=1024) matters at scale, so re-prove on a 50-block,
    * 10k-mutation log: the lookup's pushed id filter must still skip every
    * block that cannot contain the id (rows read ≤ one 200-row block). */
  def pruningHoldsAt10x(spark: SparkSession): Boolean = {
    import graft.api.GraftDB
    import graft.docstore.{FieldFilter, Op, StructuredQuery}
    import graft.docstore.FieldValue.I64
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = Files.createTempDirectory("graft_scale_prune").toString
    val db = new GraftDB(spark, root)
    db.createCollection("d1", "c")
    (0 until 50).foreach { b =>
      db.addDocuments("d1", "c",
        (0 until 200).map(i => s"""{"rate":${b * 200 + i},"blk":$b}"""))
    }
    db.addIndex("d1", "c", "rate", "Int64Key")
    val q = StructuredQuery(where = Some(FieldFilter("rate", Op.Eq, I64(7777))))
    val viaIdx = db.queryWithIndex("d1", "c", q)
    val hits = viaIdx.collect().length
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val logScans = scans(viaIdx.queryExecution.executedPlan)
      .filter(_.metadata.get("PushedFilters").exists(m =>
        m.contains("In(id") || m.contains("EqualTo(id")))
    val rowsRead = logScans.map(_.metrics("numOutputRows").value).sum
    val ok = hits == 1 && logScans.nonEmpty && rowsRead > 0 && rowsRead <= 200
    println(s"[scale-smoke] 10x point-lookup pruning: hits=$hits " +
      s"rowsRead=$rowsRead of 10000 logged mutations -> ${if (ok) "ok" else "FAIL"}")
    ok
  }
}
