package graft.api

import graft.SparkSpec
import graft.docstore.{FieldFilter, FieldValue, Op, StructuredQuery}
import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Spark jobs per GraftDB operation. Job counts are plan-deterministic,
  * so they pin the fixed per-operation cost that wall time on a shared
  * box cannot: a read whose input fits the broadcast bound folds on the
  * driver (no job to build it, none to fold it), a snapshot runs only
  * its state write, manifest records are written and read with no job,
  * and a rollup tick runs a bounded number. */
class GraftDBJobsSpec extends SparkSpec {

  private val Group = "graftdb-jobs-spec"

  /** `body`'s result and the Spark jobs it launched. Only jobs in this
    * spec's job group count (SQL carries the group to its broadcast and
    * listing threads), and the listener bus is drained on both sides. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).map(_.getProperty("spark.jobGroup.id")).contains(Group))
          jobs.incrementAndGet()
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(Group, "counted")
    try {
      val r = body
      ListenerBridge.drain(sc)
      (r, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def setupReq(cfgJson: String, nonce: Long): (String, String) = {
    val hex = graft.functions.crypto.Keccak256.hexLower(cfgJson.getBytes("UTF-8"))
    val td = s"""{"types":{"EIP712Domain":[],"Message":[{"name":"payload","type":"bytes"},{"name":"nonce","type":"string"}]},"domain":{},"primaryType":"Message","message":{"payload":"0x$hex","nonce":"$nonce"}}"""
    (td, graft.functions.crypto.Eip712.signOrNull(td, 1L).toString)
  }

  private def addBlock(db: GraftDB, tag: Int): Seq[Long] =
    db.addDocuments("d", "c", (1 to 5).map(i => s"""{"t":$tag,"i":$i,"pad":"${"x" * 40}"}"""))

  /** A collection with rollup, gc, compact and snapshot records and a
    * live tail of updates, deletes and adds. */
  private def populated(root: String = Files.createTempDirectory("graftjobs").toString): GraftDB = {
    val db = new GraftDB(spark, root)
    db.createCollection("d", "c")
    (1 to 4).foreach(addBlock(db, _))
    db.rollup("d", "c", maxBatchBytes = 400)
    assert(db.compactRollups("d", "c", targetBytes = 1L << 20) >= 1)
    db.snapshot("d", "c")
    val ids = addBlock(db, 5)
    db.updateDocuments("d", "c", Seq(ids.head), Seq("""{"i":99}"""), Seq(Seq("i")))
    db.deleteDocuments("d", "c", Seq(ids(1)))
    db
  }

  test("building collection, point-lookup and query DataFrames launches no job") {
    val db = populated()
    val q = StructuredQuery(where = Some(FieldFilter("t", Op.Eq, FieldValue.I64(5))))
    val (coll, nColl) = jobsOf(db.collection("d", "c").df)
    val (point, nPoint) = jobsOf(db.collectionForIds("d", "c", Seq(2L)).df)
    val (query, nQuery) = jobsOf(db.query("d", "c", q))
    val (queryStr, nQueryStr) = jobsOf(db.queryStr("d", "c", "/[t = 5]"))
    assert((nColl, nPoint, nQuery, nQueryStr) === ((0, 0, 0, 0)))
    // the fold ran on the driver: its rows come back without a job
    val (rows, nRows) = jobsOf(coll.collect())
    val (pointRows, nPointRows) = jobsOf(point.collect())
    assert((nRows, nPointRows) === ((0, 0)))
    // the DataFrames built without a job are the right ones
    assert(rows.length === 25 - 1)
    assert(pointRows.length === 1)
    assert(query.count() === 4)
    assert(queryStr.count() === 4)
  }

  test("building Spark-fold reads launches no job, with or without a state cell") {
    val root = Files.createTempDirectory("graftjobs").toString
    val db = populated(root)
    val q = StructuredQuery(where = Some(FieldFilter("t", Op.Eq, FieldValue.I64(5))))
    def built(): Seq[(org.apache.spark.sql.DataFrame, Int)] =
      onSpark(Seq(
        jobsOf(db.collection("d", "c").df),
        jobsOf(db.collectionForIds("d", "c", Seq(2L)).df),
        jobsOf(db.query("d", "c", q))))
    val withCell = built()
    // the layout GraftDBSpec's legacy test makes: no state cell
    val stateDir = new java.io.File(s"$root/d/c/state")
    stateDir.listFiles().foreach(_.delete())
    assert(stateDir.delete())
    val noCell = built()
    for ((layout, reads) <- Seq("state cell" -> withCell, "no state cell" -> noCell)) {
      assert(reads.map(_._2) === Seq(0, 0, 0), layout)
      // the Spark folds, past the bound: the same reads
      assert(reads.map(_._1.count()) === Seq(25 - 1, 1, 4), layout)
    }
  }

  test("building Spark-fold reads over a 40-block tail launches no listing job") {
    val db = new GraftDB(spark, Files.createTempDirectory("graftjobs").toString)
    db.createCollection("d", "c")
    (1 to 40).foreach(addBlock(db, _))
    val q = StructuredQuery(where = Some(FieldFilter("t", Op.Eq, FieldValue.I64(5))))
    // Spark lists more than 32 paths (the session's parallel partition
    // discovery threshold) in a job of its own; the reads hand it the
    // plan's statuses instead
    val reads = onSpark(Seq(
      jobsOf(db.collection("d", "c").df),
      jobsOf(db.query("d", "c", q)),
      jobsOf(db.mutationLog("d", "c"))))
    assert(reads.map(_._2) === Seq(0, 0, 0))
    assert(reads.map(_._1.count()) === Seq(200, 5, 200))
  }

  test("getDoc, build plus action, launches no job") {
    val db = populated()
    val (live, n) = jobsOf(db.getDoc("d", "c", 2L))
    val (updated, nUpdated) = jobsOf(db.getDoc("d", "c", 20L))
    val (deleted, nDeleted) = jobsOf(db.getDoc("d", "c", 21L))
    assert((n, nUpdated, nDeleted) === ((0, 0, 0)))
    assert(live.exists(_.contains("\"t\":1")))
    assert(updated.exists(_.contains("\"i\":99")))
    assert(deleted.isEmpty)
  }

  test("a snapshot runs only its state write") {
    val db = populated()
    val ((_, docs), n) = jobsOf(db.snapshot("d", "c"))
    assert(docs === 24L)
    // 5 before (a 100-doc collection): the fold and its write, a
    // read-and-count job, the record; 2 while the record was a parquet
    // write
    assert(n === 1)
  }

  test("building a selective indexed query runs no job") {
    val db = populated()
    db.addIndex("d", "c", "t", "Int64Key")
    val q = StructuredQuery(where = Some(FieldFilter("t", Op.Eq, FieldValue.I64(5))))
    // a cursor on the indexed field also checks the index's key type
    val paged = q.copy(orderBy = Seq(graft.docstore.Order("t", keyType = FieldValue.I64(0))),
      startAt = Some(graft.docstore.Cursor(Seq(Some(FieldValue.I64(5))))))
    val (df, n) = jobsOf(db.queryWithIndex("d", "c", q))
    val (pagedDf, nPaged) = jobsOf(db.queryWithIndex("d", "c", paged))
    // 2 before the index read took its key type from the index dir, 1
    // while the probe was a Spark collect
    assert((n, nPaged) === ((0, 0)))
    assert(df.count() === 4)
    assert(pagedDf.count() === 4)
  }

  test("each scan of a manifest launches no job") {
    val db = populated()
    val scans = Seq(db.scanRollupRecords _, db.scanGcRecords _,
      db.scanCompactRecords _, db.scanSnapshots _)
    scans.foreach { scan =>
      val (df, n) = jobsOf(scan("d", "c").collect())
      assert(n === 0)
      assert(df.nonEmpty)
    }
  }

  test("a rollup tick that rolls a 6-block tail and compacts stays in its job budget") {
    val db = populated()
    (6 to 8).foreach(addBlock(db, _)) // tail: blocks of adds, update, delete, adds
    assert(db.nextBlockId("d", "c") - 1 - db.scanRollupRecords("d", "c").collect()
      .map(_.getAs[Long]("end_block")).max === 6)
    // due at the current tail size; the same floor is the compaction
    // target, which bins the compacted dir with the tick's new batch
    val (td, sig) = setupReq(s"""{"minRollupSizeBytes":${db.tailBytes("d", "c")}}""", 1L)
    db.setup(td, sig)
    val compactsBefore = db.scanCompactRecords("d", "c").count()
    val before = db.collection("d", "c").df.collect().toSet
    val (recs, n) = jobsOf(db.rollupIfDue("d", "c"))
    info(s"rollup tick: $n Spark jobs")
    assert(recs.nonEmpty)
    assert(db.scanCompactRecords("d", "c").count() > compactsBefore, "the tick must compact")
    assert(db.collection("d", "c").df.collect().toSet === before)
    // 28 jobs before the stats-pass rollup and driver-side manifests, 10
    // while the rollup, gc and compact records were parquet writes
    assert(n <= 7, s"rollup tick ran $n Spark jobs")
  }
}
