package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec}
import graft.docstore.DocStore
import graft.sources.{Memo, Tables}

/** What the memo owes its callers beyond the ported cache specs: an
  * artifact never outlives the data it was built from, and one key is
  * computed once however many threads ask for it. */
class MemoSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("an overwrite in place is seen by the next memoized call") {
    val root = Files.createTempDirectory("graft-memo")
    val copy = root.resolve("copy").toString
    val next = root.resolve("next").toString
    val tables = Seq("documents", "events", "embeddings")
    tables.foreach(t => copyTree(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$copy/$t.parquet")))
    // the new data, first written under its own root
    Tables.documents(spark, sf).filter(col("doc_id") % 3 =!= 0)
      .write.parquet(s"$next/documents.parquet")
    Tables.eventsRaw(spark, sf).filter(col("event_id") % 2 === 0)
      .write.parquet(s"$next/events.parquet")
    Tables.embeddings(spark, sf).filter(col("vec_id") >= 40)
      .write.parquet(s"$next/embeddings.parquet")

    def events(dir: String) = DocStore.eventsCollection(spark, dir).df.count()
    def jaccard(dir: String) = rows(Dedup.dedupNgramJaccard(spark, dir))
    def centroids(dir: String) = rows(Ann.ivfCentroids(Tables.embeddings(spark, dir), 16))
    val before = (events(copy), jaccard(copy), centroids(copy))

    tables.foreach(t => spark.read.parquet(s"$next/$t.parquet")
      .write.mode("overwrite").parquet(s"$copy/$t.parquet"))
    val want = (events(next), rows(SparkEntry.queries("dedup_ngram_jaccard")(spark, next)),
      centroids(next))
    assert(want._1 != before._1 && want._2 != before._2 && want._3 != before._3,
      "the new data must change every artifact")
    assert(events(copy) === want._1, "eventsCollection served the old events")
    assert(jaccard(copy) === want._2, "dedupNgramJaccard served the old pairs")
    assert(centroids(copy) === want._3, "ivfCentroids served the old quantizer")
    Memo.clear()
  }

  test("two threads asking for one key compute it once") {
    Memo.clear()
    val docs = Tables.documents(spark, sf)
    val computed = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val asks = (0 until 2).map(_ => pool.submit(new Callable[Long] {
        def call(): Long = {
          start.await()
          Memo("spec.once", docs) { computed.incrementAndGet(); Thread.sleep(200); 42L }
        }
      }))
      start.countDown()
      assert(asks.map(_.get(60, TimeUnit.SECONDS)) === Seq(42L, 42L))
      assert(computed.get === 1)
    } finally pool.shutdown()
    Memo.clear()
  }
}
