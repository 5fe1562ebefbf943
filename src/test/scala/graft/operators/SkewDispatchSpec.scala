package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{Memo, Tables}

/** The skew-aware twin dispatcher: the probe's (share, count)
  * estimate, the two-condition decision rule (parallelism-relative
  * share cut AND an absolute straggler-row floor), and the dispatched
  * operators picking the right twin on uniform vs ScaleSmoke-style
  * hot-key corpora — with the dispatched result still exactly equal to
  * the direct form's (the twins share one output contract). */
class SkewDispatchSpec extends SparkSpec {
  import spark.implicits._

  /** ScaleSmoke's skew construction in miniature: half of all events
    * re-mapped to ONE user. */
  private def hotEvents: DataFrame =
    Tables.events(spark, sf).withColumn("user_id",
      when(pmod(col("event_id"), lit(2)) === 0, lit(7L))
        .otherwise(col("user_id")))

  test("hottestKey: near-exact on a planted hot key, small on uniform") {
    val (uniShare, _, uniTotal) = SkewDispatch.hottestKey(
      Tables.events(spark, sf), col("user_id"))
    val (hotShare, hotCount, hotTotal) =
      SkewDispatch.hottestKey(hotEvents, col("user_id"))
    // MG error bound is n/257 of the count, far below these margins
    assert(hotShare > 0.45 && hotShare < 0.60, s"hot share $hotShare")
    assert(uniShare < 0.10, s"uniform share $uniShare")
    assert(hotTotal === uniTotal && hotTotal > 0)
    assert(math.abs(hotCount - hotTotal / 2.0) < hotTotal * 0.06)
  }

  test("decision: relative share cut AND absolute straggler floor") {
    val ev = Tables.events(spark, sf) // P = 4 in tests → share cut = 4/4 = 1.0
    assert(!SkewDispatch.isSkewed(ev, 0.99, hotCount = Long.MaxValue))
    assert(SkewDispatch.isSkewed(ev, 1.0, hotCount = Long.MaxValue))
    assert(SkewDispatch.isSkewed(ev, 0.5, hotCount = Long.MaxValue, skewFactor = 2.0))
    // the floor: a hot key below minHotRows is NOT a straggler — one
    // task sorts it faster than the bucketed twin's machinery premium
    // (measured: direct 1.20 s vs bucketed 1.73 s on the 10× hot corpus)
    assert(!SkewDispatch.isSkewed(ev, 0.5, hotCount = 1000, skewFactor = 2.0))
    assert(!SkewDispatch.decide(ev, col("user_id"))) // uniform corpus
    // hot corpus: fires once the floor is below the planted key's count
    assert(SkewDispatch.decide(hotEvents, col("user_id"),
      skewFactor = 1.0, minHotRows = 100))
    // default floor keeps a tiny hot corpus on the direct path
    assert(!SkewDispatch.decide(hotEvents, col("user_id"), skewFactor = 1.0))
  }

  test("knife edge: MG underestimate at exactly the share cut still dispatches") {
    // r11 regression: the skew lane plants a 50% hot key and at P=8 the
    // cut is exactly 4/8 = 0.5; MG only UNDERcounts, so the raw estimate
    // (~0.496 at capacity 256) picked the direct straggler. isSkewed must
    // test the estimate's UPPER bound: hot + n/(capacity+1).
    val ev = Tables.events(spark, sf) // P = 4 → share cut (factor 2) = 0.5
    // est share 0.4961 < 0.5, but upper bound 0.4961 + 1/257 ≥ 0.5
    val n = 1000000L
    val hot = (0.5 * n).toLong - n / 257 // the worst legal underestimate
    assert(SkewDispatch.isSkewed(ev, hot.toDouble / n, hotCount = hot,
      skewFactor = 2.0, minHotRows = 1, total = n))
    // an estimate more than the MG error below the cut stays direct
    val cold = (0.5 * n).toLong - 2 * (n / 257)
    assert(!SkewDispatch.isSkewed(ev, cold.toDouble / n, hotCount = cold,
      skewFactor = 2.0, minHotRows = 1, total = n))
  }

  test("stats memo: probe runs once per (plan, capacity), cleared on demand") {
    Memo.clear()
    val ev = Tables.events(spark, sf)
    val first = SkewDispatch.hottestKeyCached(ev, col("user_id"))
    assert(first === SkewDispatch.hottestKey(ev, col("user_id")))
    // a second probe over an equivalent plan is a pure memo hit: count
    // Spark jobs to prove no scan happens
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinels = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).map(_.getProperty("spark.jobGroup.id"))
              .contains("skew-memo-sentinel")) sentinels.incrementAndGet()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    // the listener bus is async; a sentinel job after each step bounds
    // the drain (events are ordered, so seeing the sentinel's JobStart
    // means every earlier JobStart was delivered)
    def drainWithSentinel(): Unit = {
      val before = sentinels.get()
      sc.setJobGroup("skew-memo-sentinel", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10e9.toLong
      while (sentinels.get() == before && System.nanoTime() < deadline)
        Thread.sleep(10)
    }
    // build the second (equivalent-plan) DataFrame BEFORE zeroing the
    // counter: spark.read.parquet itself runs a footer-reading job for
    // schema inference, which is construction cost, not probe cost
    val ev2 = Tables.events(spark, sf)
    try {
      // events posted before registration can still be queued and get
      // delivered to the new listener — drain them and zero the count
      drainWithSentinel()
      jobs.set(0)
      val again = SkewDispatch.hottestKeyCached(ev2, col("user_id"))
      drainWithSentinel()
      assert(again === first)
      assert(jobs.get() === 0, "memo hit must not launch a Spark job")
      // a different capacity is a different stats row → real probe
      SkewDispatch.hottestKeyCached(ev, col("user_id"), capacity = 64)
      drainWithSentinel()
      assert(jobs.get() > 0, "distinct capacity must re-probe")
    } finally sc.removeSparkListener(listener)
    Memo.clear()
    }

  test("stats memo: two corpora with the same schema get distinct entries") {
    // the canonicalized plan string carries NO source path (Relation
    // [cols] parquet), so the key must add the leaves' root paths — a
    // collision would hand a skewed corpus the uniform histogram
    Memo.clear()
    val a = SkewDispatch.hottestKeyCached(
      Tables.events(spark, "/root/testdata/sf0.001"), col("user_id"))
    val b = SkewDispatch.hottestKeyCached(
      Tables.events(spark, "/root/testdata/sf0.01"), col("user_id"))
    assert(a._3 !== b._3,
      "different corpora must not share a memo entry (totals differ)")
    assert(b === SkewDispatch.hottestKey(
      Tables.events(spark, "/root/testdata/sf0.01"), col("user_id")))
    Memo.clear()
  }

  test("asOfAuto picks direct on uniform, bucketed past both cuts, equal results") {
    val ord = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    def run(ev: DataFrame, skewFactor: Double, minHotRows: Long) =
      AsOfJoin.asOfAuto(ev.select("event_id", "user_id", "ts"), ord,
        "user_id", "o_custkey", "ts", "o_orderdate", Seq("o_orderkey"),
        skewFactor = skewFactor, minHotRows = minHotRows)
    // the bucketed plan is recognizable by its two-phase carry columns
    val uni = run(Tables.events(spark, sf), 4.0, 100)
    assert(!uni.queryExecution.optimizedPlan.toString.contains("__bucket"),
      "uniform corpus should dispatch to the direct as-of")
    val hot = run(hotEvents, 1.0, 100)
    assert(hot.queryExecution.optimizedPlan.toString.contains("__bucket"),
      "hot corpus past both cuts should dispatch to the bucketed as-of")
    // below the straggler floor the hot corpus stays direct
    val hotSmall = run(hotEvents, 1.0, SkewDispatch.DefaultMinHotRows)
    assert(!hotSmall.queryExecution.optimizedPlan.toString.contains("__bucket"),
      "a hot key below the row floor should stay on the direct as-of")
    // dispatched output === direct output, on the corpus that dispatched
    // to the OTHER twin (the contract the shared oracle pins)
    val direct = AsOfJoin.asOf(hotEvents.select("event_id", "user_id", "ts"),
      ord, "user_id", "o_custkey", "ts", "o_orderdate", Seq("o_orderkey"))
    assert(hot.collect().map(_.toString).sorted
      .sameElements(direct.collect().map(_.toString).sorted))
  }

  test("evt_sessionize_auto equals the direct sessionize on the real corpus") {
    val auto = graft.SparkEntry.queries("evt_sessionize_auto")(spark, sf)
    val direct = graft.SparkEntry.queries("evt_sessionize")(spark, sf)
    assert(!auto.queryExecution.optimizedPlan.toString.contains("lsid"),
      "uniform corpus should dispatch to the direct sessionize")
    assert(auto.collect().map(_.toString).sorted
      .sameElements(direct.collect().map(_.toString).sorted))
  }
}
