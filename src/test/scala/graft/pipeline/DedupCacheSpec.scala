package graft.pipeline

import org.apache.spark.storage.StorageLevel
import graft.SparkSpec
import graft.sources.{Memo, Tables}

/** Session-retention hygiene of the memoized jaccard artifact (the r12
  * finding): the memo must never pin a stopped SparkSession. Keys hold
  * the session by identity only, stale entries are swept on every
  * lookup (injectable predicate — the suite-shared context can't be
  * stopped here), and the entry bound evicts with unpersist. A NEW
  * session recomputes rather than inheriting another session's
  * DataFrame. */
class DedupCacheSpec extends SparkSpec {

  private def freshEntry(): Unit = {
    Memo.clear()
    Dedup.dedupNgramJaccard(spark, sf)
    assert(Memo.size == 1)
  }

  test("a new session recomputes instead of inheriting another session's entry") {
    freshEntry()
    val s2 = spark.newSession()
    val df2 = Dedup.dedupNgramJaccard(s2, sf)
    assert(Memo.size == 2, "distinct sessions must not share keys")
    assert(df2.sparkSession eq s2, "the new session must own its own artifact")
    Memo.clear()
  }

  test("stale-session sweep evicts and unpersists; survivors stay cached") {
    freshEntry()
    val live = Dedup.dedupNgramJaccard(spark, sf)
    val s2 = spark.newSession()
    val victim = Dedup.dedupNgramJaccard(s2, sf)
    assert(victim.storageLevel != StorageLevel.NONE)
    // inject "s2 has stopped" — the real predicate is sparkContext
    // .isStopped, which can't fire here without killing the shared
    // context every other suite uses
    Memo.sweep(stopped = _ eq s2)
    assert(Memo.size == 1, "stopped session's entry must be swept")
    assert(victim.storageLevel == StorageLevel.NONE, "evicted entry must unpersist")
    assert(Dedup.dedupNgramJaccard(spark, sf) eq live,
      "live session's entry must survive the sweep")
    Memo.clear()
  }

  test("the entry bound evicts the least recently used entry with unpersist") {
    Memo.clear()
    // fill the memo with cheap dummies owned by the live session
    val docs = Tables.documents(spark, sf)
    val dummies = (0 until Memo.MaxEntries).map { i =>
      val d = Memo.persisted(s"dummy_$i", docs)(spark.range(i + 1).toDF("x"))
      d.count()
      d
    }
    assert(Memo.size == Memo.MaxEntries)
    Dedup.dedupNgramJaccard(spark, sf) // one past the bound
    assert(Memo.size == Memo.MaxEntries, "the bound must hold")
    assert(dummies.head.storageLevel == StorageLevel.NONE,
      "the evicted entry must unpersist")
    assert(dummies.tail.forall(_.storageLevel != StorageLevel.NONE),
      "only the least recently used entry is evicted")
    Memo.clear()
  }
}
