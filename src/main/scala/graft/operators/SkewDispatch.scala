package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-aware twin dispatch. The bucketed forms of the as-of join and
  * of sessionization (AsOfJoin.asOfBucketed, EventQueries'
  * sessionizeBuckets) bound the hot-key straggler but cost ~2-3× on
  * uniform keys — and at 100 TB nobody knows the key histogram a
  * priori. This makes the choice automatic: ONE Misra-Gries pass over
  * the key column (the `HeavyHitters` mergeable sketch — partial state
  * ≤ capacity counters per partition, so the probe is a column-pruned
  * scan with a single-row result, never a shuffle of the key space)
  * estimates the hottest key, and the twin is picked by whether that
  * key is a straggler worth mitigating.
  *
  * Decision rule — BOTH conditions must hold:
  *
  *  1. relative: share ≥ skewFactor / P (P = spark.sql.shuffle
  *     .partitions). The direct form puts the hot key's whole timeline
  *     in one task, which holds share·n rows against an average task's
  *     n/P; the rule is parallelism-relative, so it tightens as the
  *     cluster (and P) grows — exactly when one straggler hurts most.
  *  2. absolute: the hot key's row COUNT ≥ minHotRows. The bucketed
  *     twins pay a fixed machinery premium, and one task sorts a few
  *     million narrow rows in ~a second — below that the "straggler"
  *     costs less than its mitigation (measured on ScaleSmoke's
  *     10×/50%-hot corpus: direct 1.20 s vs bucketed 1.73 s — share
  *     alone mis-dispatches at small absolute sizes). At 100 TB a
  *     hot key past the relative cut is billions of rows, far beyond
  *     any sane floor; the floor only guards the small end.
  *
  * The probe costs one narrow scan of the key column. With MG capacity
  * 256 the count error is ≤ n/257 (< 0.4% of share), negligible at
  * either boundary's scale.
  */
object SkewDispatch {

  /** `hottestKey` through the memo — ANALYZE-style stats: an immutable
    * corpus pays the probe scan once per session, and every later
    * dispatched query decides from the memoized histogram (exactly how
    * engines reuse table statistics). The canonicalized probe plan is
    * part of the key; it prints no source path, but the memo also keys
    * on the input's scanned files, so two corpora with the same schema
    * never share an entry. */
  def hottestKeyCached(df: DataFrame, key: Column,
      capacity: Int = 256): (Double, Long, Long) =
    graft.sources.Memo("skew.hottest_key", df, capacity,
        df.select(key).queryExecution.analyzed.canonicalized.toString)(
      hottestKey(df, key, capacity))

  /** Hottest-key estimate over `key` (must cast to BIGINT):
    * (share, hotCount, total); zeros on empty input. One HeavyHitters +
    * count aggregate — a single job, single-row result. */
  def hottestKey(df: DataFrame, key: Column, capacity: Int = 256): (Double, Long, Long) = {
    val r = df.agg(
      graft.functions.GraftFunctions
        .heavy_hitters(key.cast("long"), capacity, 1).as("hh"),
      count(key).as("n")).head()
    val n = r.getLong(1)
    if (n == 0L) (0.0, 0L, 0L)
    else {
      val hh = r.getSeq[org.apache.spark.sql.Row](0)
      if (hh.isEmpty) (0.0, 0L, n)
      else (hh.head.getLong(1).toDouble / n, hh.head.getLong(1), n)
    }
  }

  /** A single-task sort below this many rows still beats the bucketed
    * machinery's premium; only a hot key PAST the floor is a straggler
    * worth mitigating. The floor is PER-OPERATOR because it prices the
    * specific twin's premium against the specific direct form's
    * straggler: measured on the 10× hot-user corpus (50% skew, 500k-row
    * hot key), the as-of DIRECT form still wins at 500k (1.28 s vs the
    * bucketed 1.44 s — its union-window machinery is the heavier twin),
    * while the bucketed SESSIONIZE already wins there (0.83 s vs direct
    * 1.15 s — its premium is ~2× of a cheap op, so its breakeven sits
    * far lower). */
  val DefaultMinHotRows: Long = 4000000L

  /** Sessionize's lower breakeven (see above): bucketed wins at the
    * 500k-row hot key the skew lane plants; half that keeps the
    * MG-estimated count (±n/257) safely off the knife edge. */
  val SessionizeMinHotRows: Long = 250000L

  /** Rate-limit's breakeven: like sessionize, the direct form is a
    * per-user full-history RANGE window and the bucketed twin's premium
    * is mild (≤1.5× ghost replication + one explode, no second window),
    * so the floor sits low. Measured on the 10× skew corpus (500k-row
    * hot key): direct 1.22 s vs bucketed 0.64 s — bucketed wins
    * decisively at 500k, so half that keeps the MG-estimated count
    * safely off the knife edge (the same derivation as the sessionize
    * floor, whose cost profile this operator shares). */
  val RateLimitMinHotRows: Long = 250000L

  /** The two-condition rule above, applied to the UPPER bound of the
    * MG estimate: Misra-Gries only ever UNDERcounts (true ∈ [est,
    * est + n/(capacity+1)]), so testing the raw estimate breaks ties
    * downward — r11's skew lane planted a 50% hot key at P=8 (cut
    * exactly 4/8 = 0.5) and the probe's ~0.4%-low estimate picked the
    * DIRECT straggler, which the lane then mis-read as dispatch
    * overhead. The asymmetry favors dispatching at the boundary anyway:
    * the bucketed twin's uniform-corpus premium is a bounded ~1.5-2×,
    * the direct form's straggler is unbounded. */
  def isSkewed(df: DataFrame, share: Double, hotCount: Long,
      skewFactor: Double = 4.0,
      minHotRows: Long = DefaultMinHotRows,
      total: Long = 0L, capacity: Int = 256): Boolean = {
    // "auto" is a legal value on some AQE configs — degrade, don't throw
    val p = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    ).getOrElse(200)
    val err = if (total > 0L) total / (capacity + 1L) else 0L
    val hotHi = hotCount + err
    val shareHi = if (total > 0L) hotHi.toDouble / total else share
    shareHi >= skewFactor / p.max(1) && hotHi >= minHotRows
  }

  /** Probe (memoized) + rule in one call. */
  def decide(df: DataFrame, key: Column, skewFactor: Double = 4.0,
      minHotRows: Long = DefaultMinHotRows): Boolean = {
    val (share, hot, n) = hottestKeyCached(df, key)
    isSkewed(df, share, hot, skewFactor, minHotRows, total = n)
  }
}
