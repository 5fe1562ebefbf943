package graft.api

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Crash-consistency proof for the manifest protocol — the zero-egress
  * stand-in for a Delta/Iceberg commit contract (BASELINE's declared
  * storage layer). Every write path follows data-first/commit-second:
  * data files land invisibly, then ONE atomic commit publishes them (the
  * state cell for appends, the manifest for snapshots and rollups, the
  * config cell for setup). Each test arms `GraftDB.failpoint` to throw
  * inside one crash window and proves the invariants:
  *   1. reads see the PRE-CRASH or POST-COMMIT state, never between;
  *   2. re-running the operation converges (idempotent under retry);
  *   3. the nonce cell is monotone (burned nonces never un-burn);
  *   4. manifests never duplicate rows under crash-retry.
  * (reference commit-point semantics: rollup_executor.rs:256 `process` —
  * write batches, add_rollup_record, then GC with add_gc_record;
  * mutation_store.rs:291,248.)
  */
class GraftDBCrashSpec extends SparkSpec {

  private class Boom extends RuntimeException("injected crash")

  private def freshDb(): GraftDB = {
    val dir = Files.createTempDirectory("graftcrash").toString
    new GraftDB(spark, dir)
  }

  private def arm(db: GraftDB, label: String): Unit =
    db.failpoint = l => if (l == label) throw new Boom

  private def disarm(db: GraftDB): Unit = db.failpoint = _ => ()

  private def liveDocs(db: GraftDB): Seq[(Long, String)] = onBothExecutors {
    db.collection("d", "c").df.orderBy("_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  private def logRows(db: GraftDB): Seq[Row] =
    db.mutationLog("d", "c").orderBy("block", "order").collect().toSeq

  /** Every locked writer commits through one body, so each has the same
    * crash window under its own `<op>:afterAppend` label. Each case runs
    * the op on a collection that already holds one commit, and names
    * the op's result there (ids, nothing, the stamped block, a count). */
  private def lockedWriters: Seq[(String, GraftDB => Any, Any)] = {
    val json = Files.createTempDirectory("graftcrash-json")
    Files.writeString(json.resolve("a.ndjson"), "{\"j\":1}\n{\"j\":2}\n")
    Seq(
      ("addDocuments",
        (db: GraftDB) => db.addDocuments("d", "c", Seq("""{"v":2}""", """{"v":3}""")),
        Seq(1L, 2L)),
      ("deleteDocuments", (db: GraftDB) => db.deleteDocuments("d", "c", Seq(0L)), ()),
      ("recordLifecycleMutation",
        (db: GraftDB) => db.createEventDb("d", "c", """{"ttl":60}"""), 1L),
      ("addDocumentsFromJson",
        (db: GraftDB) => db.addDocumentsFromJson("d", "c", json.toString), 2L))
  }

  for ((op, run, result) <- lockedWriters)
    test(s"$op: crash between data append and state commit — orphan invisible, retry exactly-once") {
      def seeded(): GraftDB = {
        val db = freshDb(); db.createCollection("d", "c")
        db.addDocuments("d", "c", Seq("""{"v":1}"""))
        db
      }
      val db = seeded()
      val (docs0, log0) = (liveDocs(db), logRows(db))
      arm(db, s"$op:afterAppend")
      intercept[Boom](run(db))
      disarm(db)
      // pre-crash state: the in-flight block is invisible (commit = cell)
      assert(liveDocs(db) === docs0)
      assert(logRows(db) === log0)
      assert(db.nextBlockId("d", "c") === 1L)
      // at-least-once retry: the result, the fold and the log equal one
      // clean run of the op — the orphan's stamps are reused exactly once
      val clean = seeded()
      assert(run(db) === result)
      assert(run(clean) === result)
      assert(liveDocs(db) === liveDocs(clean))
      assert(logRows(db) === logRows(clean))
    }

  test("first commit: a crash before a collection's first commit leaves it empty") {
    val db = freshDb(); db.createCollection("d", "c")
    arm(db, "addDocuments:afterAppend")
    intercept[Boom](db.addDocuments("d", "c", Seq("""{"v":1}""")))
    disarm(db)
    assert(liveDocs(db).isEmpty)
    assert(db.mutationLog("d", "c").isEmpty)
    assert(db.nextBlockId("d", "c") === 0L)
    assert(db.addDocuments("d", "c", Seq("""{"v":2}""")) === Seq(0L))
    assert(liveDocs(db) === Seq((0L, """{"v":2}""")))
  }

  test("updateDocuments: crash before state commit leaves the doc at its previous value") {
    val db = freshDb(); db.createCollection("d", "c")
    val Seq(id) = db.addDocuments("d", "c", Seq("""{"a":1,"b":2}"""))
    arm(db, "updateDocuments:afterAppend")
    intercept[Boom] {
      db.updateDocuments("d", "c", Seq(id), Seq("""{"a":9}"""), Seq(Seq("a")))
    }
    disarm(db)
    assert(liveDocs(db) === Seq((0L, """{"a":1,"b":2}"""))) // pre-crash
    db.updateDocuments("d", "c", Seq(id), Seq("""{"a":9}"""), Seq(Seq("a")))
    val doc = liveDocs(db).head._2
    assert(doc.contains("\"a\":9") && doc.contains("\"b\":2")) // post-commit
  }

  // freshness is the state cell's docWrites count: a document write that
  // crashes before its commit leaves the count, and so the index, as is
  for ((op, write) <- Seq[(String, GraftDB => Any)](
      "addDocuments" -> (_.addDocuments("d", "c", Seq("""{"k":1,"v":9}"""))),
      "updateDocuments" -> (_.updateDocuments("d", "c", Seq(0L), Seq("""{"k":1}"""), Seq(Seq("k"))))))
    test(s"$op: a crash before the commit leaves a built index fresh, the retry stales it") {
      import graft.docstore.{FieldFilter, FieldValue, Op, StructuredQuery}
      val db = freshDb(); db.createCollection("d", "c")
      db.addDocuments("d", "c", Seq("""{"k":2,"v":0}""", """{"k":1,"v":1}"""))
      db.addIndex("d", "c", "k", "Int64Key")
      val q = StructuredQuery(where = Some(FieldFilter("k", Op.Eq, FieldValue.I64(1))))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val before = rows(db.query("d", "c", q))
      arm(db, s"$op:afterAppend")
      intercept[Boom](write(db))
      disarm(db)
      // the uncommitted rows are invisible, so the index still answers
      assert(db.hasIndex("d", "c", "k"))
      assert(rows(db.queryWithIndex("d", "c", q)) === before)
      assert(rows(db.query("d", "c", q)) === before)
      write(db)
      assert(!db.hasIndex("d", "c", "k"))
      assert(rows(db.queryWithIndex("d", "c", q)) === rows(db.query("d", "c", q)))
      assert(rows(db.query("d", "c", q)).length === 2)
    }

  test("appendDocumentsAt: crash after block write — invisible until commit, Overwrite retry idempotent") {
    import spark.implicits._
    val db = freshDb(); db.createCollection("d", "c")
    db.addDocuments("d", "c", Seq("""{"v":0}"""))
    val batch = Seq("""{"s":1}""", """{"s":2}""").toDF("doc")
    arm(db, "appendAt:afterData")
    intercept[Boom] { db.appendDocumentsAt("d", "c", 7L, batch) }
    disarm(db)
    assert(liveDocs(db).length === 1) // orphan block_7 invisible
    db.appendDocumentsAt("d", "c", 7L, batch) // the replayed micro-batch
    assert(liveDocs(db).length === 3)
    // exactly one copy of each (block, order) row in the visible log
    assert(db.mutationLog("d", "c")
      .groupBy("block", "order").count().filter(col("count") > 1).isEmpty)
  }

  test("snapshot: crash between state write and manifest append — unlisted, reads unaffected, retry lists once") {
    val db = freshDb(); db.createCollection("d", "c")
    db.addDocuments("d", "c", Seq("""{"v":1}""", """{"v":2}"""))
    val before = liveDocs(db)
    arm(db, "snapshot:afterData")
    intercept[Boom] { db.snapshot("d", "c") }
    disarm(db)
    assert(db.scanSnapshots("d", "c").isEmpty) // data orphaned, not published
    assert(liveDocs(db) === before)            // fold unaffected
    val (blk, n) = db.snapshot("d", "c")       // retry overwrites + publishes
    assert(n === 2L)
    assert(db.scanSnapshots("d", "c").count() === 1)
    assert(liveDocs(db) === before)            // snapshot-seeded fold agrees
    assert(db.collectionAt("d", "c", blk).df.count() === 2)
  }

  test("rollup: crash after batch write, before manifest — tail intact, retry rolls once") {
    val db = freshDb(); db.createCollection("d", "c")
    db.addDocuments("d", "c", Seq("""{"v":1}"""))
    db.addDocuments("d", "c", Seq("""{"v":2}"""))
    val before = liveDocs(db)
    val committedLog = db.mutationLog("d", "c").count()
    val committedState = db.mutationState("d", "c")
    arm(db, "rollup:afterData")
    intercept[Boom] { db.rollup("d", "c") }
    disarm(db)
    assert(db.scanRollupRecords("d", "c").isEmpty) // nothing committed
    assert(db.tailBytes("d", "c") > 0)             // tail untouched
    assert(liveDocs(db) === before)
    // the unlisted batch dir stays out of the log RPCs too
    assert(db.mutationLog("d", "c").count() === committedLog)
    assert(db.mutationState("d", "c") === committedState)
    assert(db.getBlock("d", "c", 0L).length === 1)
    val recs = db.rollup("d", "c")                 // retry
    assert(recs.nonEmpty)
    assert(db.scanRollupRecords("d", "c").count() === recs.length.toLong)
    assert(db.tailBytes("d", "c") === 0L)
    assert(liveDocs(db) === before)
  }

  test("rollup: crash after manifest, before GC — no double-visibility, re-entry finishes the GC") {
    val db = freshDb(); db.createCollection("d", "c")
    db.addDocuments("d", "c", Seq("""{"v":1}""", """{"v":2}"""))
    db.deleteDocuments("d", "c", Seq(1L))
    val before = liveDocs(db)
    val committedLog = db.mutationLog("d", "c").count()
    arm(db, "rollup:afterManifest")
    intercept[Boom] { db.rollup("d", "c") }
    disarm(db)
    // blocks now live in BOTH the committed batches and the un-GC'd tail,
    // but the manifest bound keeps the tail copy invisible
    assert(db.scanRollupRecords("d", "c").count() > 0)
    assert(db.tailBytes("d", "c") > 0)
    assert(db.mutationLog("d", "c").count() === committedLog)
    assert(liveDocs(db) === before)
    val manifestRows = db.scanRollupRecords("d", "c").count()
    val recs = db.rollup("d", "c") // re-entry: GC only, no re-roll
    assert(recs.isEmpty)
    assert(db.scanRollupRecords("d", "c").count() === manifestRows) // no dupes
    assert(db.scanGcRecords("d", "c").count() === 1)
    assert(db.tailBytes("d", "c") === 0L)
    assert(liveDocs(db) === before)
  }

  test("rollup: crash after GC record, before tail delete — no duplicate GcRecord on re-entry") {
    val db = freshDb(); db.createCollection("d", "c")
    db.addDocuments("d", "c", Seq("""{"v":1}"""))
    db.addDocuments("d", "c", Seq("""{"v":2}"""))
    val before = liveDocs(db)
    arm(db, "rollup:afterGc")
    intercept[Boom] { db.rollup("d", "c") }
    disarm(db)
    assert(db.scanGcRecords("d", "c").count() === 1) // record committed
    assert(db.tailBytes("d", "c") > 0)               // delete didn't run
    assert(liveDocs(db) === before)
    db.rollup("d", "c") // re-entry: finishes the delete, skips the append
    assert(db.scanGcRecords("d", "c").count() === 1) // still exactly one
    assert(db.tailBytes("d", "c") === 0L)
    assert(liveDocs(db) === before)
  }

  test("setup: crash after nonce burn, before config write — config atomic, nonce monotone, replay dead") {
    val db = freshDb()
    def req(cfg: String, nonce: Long): (String, String) = {
      import graft.functions.crypto.Keccak256
      val hex = Keccak256.hexLower(cfg.getBytes("UTF-8"))
      val td = s"""{"types":{"EIP712Domain":[],"Message":[{"name":"payload","type":"bytes"},{"name":"nonce","type":"string"}]},"domain":{},"primaryType":"Message","message":{"payload":"0x$hex","nonce":"$nonce"}}"""
      (td, graft.functions.crypto.Eip712.signOrNull(td, 1L).toString)
    }
    val (td1, sig1) = req("""{"networkId":7}""", 1L)
    arm(db, "setup:afterNonce")
    intercept[Boom] { db.setup(td1, sig1) }
    disarm(db)
    // config stayed atomically at its previous (unset) value
    assert(!db.systemStatus().hasInited)
    assert(db.systemStatus().config.networkId === 0L)
    // the nonce burned — monotone cell, replay of the crashed request is
    // dead on arrival (chain semantics: a consumed nonce never un-burns)
    val admin = graft.functions.crypto.Secp256k1.privToAddress(BigInt(1))
    assert(db.getNonce(admin) === 2L)
    intercept[IllegalArgumentException] { db.setup(td1, sig1) }
    // the client retries with the NEXT nonce and the config applies
    val (td2, sig2) = req("""{"networkId":7}""", 2L)
    db.setup(td2, sig2)
    assert(db.systemStatus().hasInited)
    assert(db.systemStatus().config.networkId === 7L)
    assert(db.getNonce(admin) === 3L)
  }
}
