package graft.api

import graft.SparkSpec
import graft.docstore.{FieldFilter, FieldValue, Op, StructuredQuery}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import java.nio.file.Files

class GraftDBSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def freshDb(): GraftDB = {
    val dir = Files.createTempDirectory("graftdb").toString
    new GraftDB(spark, dir)
  }

  test("add → query round trip") {
    val db = freshDb()
    db.createCollection("d1", "books")
    val ids = db.addDocuments("d1", "books", Seq(
      """{"title":"Dune","rate":5}""",
      """{"title":"Foundation","rate":4}""",
      """{"title":"Hyperion","rate":5}"""))
    assert(ids === Seq(0L, 1L, 2L))
    val fives = db.query("d1", "books", StructuredQuery(
      where = Some(FieldFilter("rate", Op.Eq, FieldValue.I64(5))),
      select = Seq("title")))
    assert(fives.select("title").collect().map(_.getString(0)).sorted
      === Array("Dune", "Hyperion"))
  }

  test("masked update merges only masked fields; absent masked field deletes") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val Seq(id) = db.addDocuments("d1", "c", Seq("""{"a":1,"b":2,"c":3}"""))
    db.updateDocuments("d1", "c", Seq(id), Seq("""{"a":10}"""), Seq(Seq("a", "c")))
    val doc = db.collection("d1", "c").df.filter(col("_id") === id)
      .select("doc").head().getString(0)
    val parsed = org.json4s.jackson.JsonMethods.parse(doc)
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    assert((parsed \ "a").extract[Int] === 10) // masked, replaced
    assert((parsed \ "b").extract[Int] === 2)  // unmasked, untouched
    assert((parsed \ "c") === JNothing)        // masked but absent -> deleted
  }

  test("unmasked update replaces whole doc; delete tombstones") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val ids = db.addDocuments("d1", "c", Seq("""{"x":1}""", """{"x":2}"""))
    db.updateDocuments("d1", "c", Seq(ids.head), Seq("""{"y":9}"""), Seq(Nil))
    db.deleteDocuments("d1", "c", Seq(ids(1)))
    val live = db.collection("d1", "c").df.collect()
    assert(live.length === 1)
    assert(live.head.getLong(0) === ids.head)
    assert(live.head.getString(1) === """{"y":9}""")
  }

  test("re-add after delete revives the id") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val Seq(id) = db.addDocuments("d1", "c", Seq("""{"v":1}"""))
    db.deleteDocuments("d1", "c", Seq(id))
    assert(db.collection("d1", "c").df.count() === 0)
    db.addDocuments("d1", "c", Seq("""{"v":2}"""))
    assert(db.collection("d1", "c").df.count() === 1)
  }

  test("time-travel read returns state as of an earlier block") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val Seq(id) = db.addDocuments("d1", "c", Seq("""{"v":1}"""))    // block 0
    db.updateDocuments("d1", "c", Seq(id), Seq("""{"v":2}"""), Seq(Nil)) // block 1
    db.deleteDocuments("d1", "c", Seq(id))                          // block 2
    def docAt(b: Long) = db.collectionAt("d1", "c", b).df.collect()
    assert(docAt(0).map(_.getString(1)).toSeq === Seq("""{"v":1}"""))
    assert(docAt(1).map(_.getString(1)).toSeq === Seq("""{"v":2}"""))
    assert(docAt(2).isEmpty)
  }

  test("getDoc point-reads the live doc, None when absent or tombstoned") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val ids = db.addDocuments("d1", "c", Seq("""{"v":1}""", """{"v":2}"""))
    db.updateDocuments("d1", "c", Seq(ids.head), Seq("""{"v":9}"""), Seq(Nil))
    assert(db.getDoc("d1", "c", ids.head) === Some("""{"v":9}"""))
    assert(db.getDoc("d1", "c", ids(1)) === Some("""{"v":2}"""))
    assert(db.getDoc("d1", "c", 999L).isEmpty)
    db.deleteDocuments("d1", "c", Seq(ids(1)))
    assert(db.getDoc("d1", "c", ids(1)).isEmpty)
  }

  test("json ingestion and export round trip") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val in = Files.createTempDirectory("graft-in")
    Files.writeString(in.resolve("docs.ndjson"),
      "{\"a\":1}\n{\"a\":2}\n\n{\"a\":3}\n")
    val n = db.addDocumentsFromJson("d1", "c", in.resolve("docs.ndjson").toString)
    assert(n === 3)
    val out = Files.createTempDirectory("graft-out").resolve("dump").toString
    db.export("d1", "c", out, "json")
    val back = spark.read.json(out)
    assert(back.count() === 3)
  }

  test("addIndex materializes a sorted typed key projection") {
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", Seq(
      """{"rate":5,"t":"a"}""", """{"rate":3,"t":"b"}""", """{"t":"c"}"""))
    db.addIndex("d1", "c", "rate", "Int64Key")
    val idx = db.index("d1", "c", "rate").collect()
    assert(idx.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((3L, 1L), (5L, 0L)))
  }

  test("index-aware query equals plain query and prunes via the index") {
    import graft.docstore._
    import graft.docstore.FieldValue._
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", (0 until 100).map(i =>
      s"""{"rate":${i % 10},"tag":"t${i % 3}"}"""))
    db.addIndex("d1", "c", "rate", "Int64Key")
    val q = StructuredQuery(where = Some(AndFilter(Seq(
      FieldFilter("rate", Op.Ge, I64(7)),
      FieldFilter("tag", Op.Eq, Str("t1"))))))
    val plain = db.query("d1", "c", q)
    // the driver fold: the id lookup skips addIndex's lifecycle block,
    // whose id range (-1) holds none of the ids
    val decoded0 = db.driverRowsDecoded.get
    val viaIdx = db.queryWithIndex("d1", "c", q)
    assert(db.driverRowsDecoded.get - decoded0 === 100)
    // the Spark fold, past the bound
    val viaIdxSpark = onSpark(db.queryWithIndex("d1", "c", q))
    for (v <- Seq(viaIdx, viaIdxSpark)) {
      assert(v.exceptAll(plain).count() === 0)
      assert(plain.exceptAll(v).count() === 0)
      assert(v.count() > 0)
    }
    // the index resolved the id set, which is In-pushed into the log scan
    val plan = viaIdxSpark.queryExecution.executedPlan.toString
    assert(plan.contains("In(id"))
    // unindexed field falls back to the fused compiler
    val q2 = StructuredQuery(where = Some(FieldFilter("tag", Op.Eq, Str("t2"))))
    assert(db.queryWithIndex("d1", "c", q2).count() === db.query("d1", "c", q2).count())
  }

  test("a document write after addIndex stops queryWithIndex reading the stale index") {
    import graft.docstore.FieldValue._
    val db = freshDb()
    db.createCollection("d1", "c")
    val ids = db.addDocuments("d1", "c", (0 until 20).map(i => s"""{"rate":${i % 10}}"""))
    db.addIndex("d1", "c", "rate", "Int64Key")
    // lifecycle mutations, another index included, leave it fresh
    db.createEventDb("d1", "c")
    db.addIndex("d1", "c", "tag", "StringKey")
    assert(db.hasIndex("d1", "c", "rate"))
    // one doc moves into the range, one out of it, one new doc lands in it
    db.updateDocuments("d1", "c", Seq(ids(1), ids(8)),
      Seq("""{"rate":9}""", """{"rate":0}"""), Seq(Nil, Nil))
    db.addDocuments("d1", "c", Seq("""{"rate":8}"""))
    val q = StructuredQuery(where = Some(FieldFilter("rate", Op.Ge, I64(7))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("_id", "doc").collect().map(_.toString).sorted.toSeq
    val want = rows(db.query("d1", "c", q))
    assert(rows(db.queryWithIndex("d1", "c", q)) === want)
    assert(!db.hasIndex("d1", "c", "rate") && !db.hasIndex("d1", "c", "tag"))
    // the next addIndex makes it serve again, with the new state
    db.addIndex("d1", "c", "rate", "Int64Key")
    assert(db.hasIndex("d1", "c", "rate"))
    assert(rows(db.queryWithIndex("d1", "c", q)) === want)
  }

  test("indexed Eq lookup prunes the log scan via a pushed id filter") {
    import graft.docstore._
    import graft.docstore.FieldValue._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val db = freshDb()
    db.createCollection("d1", "c")
    // five appends → five mutation-log files with disjoint id ranges
    (0 until 5).foreach { b =>
      db.addDocuments("d1", "c",
        (0 until 200).map(i => s"""{"rate":${b * 200 + i},"blk":$b}"""))
    }
    db.addIndex("d1", "c", "rate", "Int64Key")
    val q = StructuredQuery(where = Some(FieldFilter("rate", Op.Eq, I64(777))))
    // the driver fold decodes only the row groups whose id range can
    // hold the id: one 200-row block of the 1000-mutation log
    val decoded0 = db.driverRowsDecoded.get
    assert(db.queryWithIndex("d1", "c", q).collect().length === 1)
    val decoded = db.driverRowsDecoded.get - decoded0
    assert(decoded > 0 && decoded <= 200, s"driver fold decoded $decoded rows")
    // the Spark fold, past the bound
    val viaIdx = onSpark(db.queryWithIndex("d1", "c", q))
    assert(viaIdx.collect().length === 1)
    assert(db.query("d1", "c", q).count() === 1)
    // a single surviving id gets rewritten In → EqualTo by OptimizeIn
    val logScans = collect(viaIdx.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      .filter(_.metadata.get("PushedFilters").exists(m =>
        m.contains("In(id") || m.contains("EqualTo(id")))
    // the id set reached the parquet reader as a pushed filter...
    assert(logScans.nonEmpty, "no log scan with a pushed In(id) filter")
    // ...and row-group stats skipped every block that cannot contain the
    // id: the executed scan produced strictly fewer rows than the
    // 1000-mutation log (one 200-row block survives)
    val rowsRead = logScans.map(_.metrics("numOutputRows").value).sum
    assert(rowsRead > 0 && rowsRead <= 200, s"log scan read $rowsRead rows")
  }

  test("keyset cursor on the leading order key prunes the log scan via the index") {
    import graft.docstore._
    import graft.docstore.FieldValue._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val db = freshDb()
    db.createCollection("d1", "c")
    (0 until 5).foreach { b =>
      db.addDocuments("d1", "c",
        (0 until 200).map(i => s"""{"rate":${b * 200 + i},"blk":$b}"""))
    }
    db.addIndex("d1", "c", "rate", "Int64Key")
    // NO where filter — paging alone must ride the index: asc head key +
    // startAt derives idx_key >= 899, ~100 surviving ids get id-pushed
    val q = StructuredQuery(
      orderBy = Seq(Order("rate", keyType = I64(0))),
      startAt = Some(Cursor(Seq(Some(I64(899))), inclusive = false)),
      limit = Some(50))
    val plain = DocFuzz.canon(db.query("d1", "c", q))
    // the driver fold decodes one 200-row block of the 1000-row log
    val decoded0 = db.driverRowsDecoded.get
    assert(DocFuzz.canon(db.queryWithIndex("d1", "c", q)) === plain)
    val decoded = db.driverRowsDecoded.get - decoded0
    assert(decoded > 0 && decoded <= 200, s"cursor-pruned driver fold decoded $decoded of 1000 log rows")
    // the Spark fold, past the bound
    val viaIdx = onSpark(db.queryWithIndex("d1", "c", q))
    assert(DocFuzz.canon(viaIdx) === plain)
    val logScans = collect(viaIdx.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      .filter(_.metadata.get("PushedFilters").exists(m =>
        m.contains("In(id") || m.contains("EqualTo(id")))
    assert(logScans.nonEmpty, "cursor bound never reached the log scan as an id push")
    viaIdx.collect()
    val rowsRead = logScans.map(_.metrics("numOutputRows").value).sum
    assert(rowsRead > 0 && rowsRead <= 200,
      s"cursor-pruned scan read $rowsRead of 1000 log rows")
    // the null-ADMITTING side (asc endAt) derives no bound — and must
    // still return exactly the full-scan answer
    val qEnd = StructuredQuery(
      orderBy = Seq(Order("rate", keyType = I64(0))),
      endAt = Some(Cursor(Seq(Some(I64(99))))),
      limit = Some(25))
    assert(onBothExecutors(DocFuzz.canon(db.queryWithIndex("d1", "c", qEnd))) ===
      DocFuzz.canon(db.query("d1", "c", qEnd)))
    // desc head key: endAt is the null-rejecting side and DOES derive
    val qDesc = StructuredQuery(
      orderBy = Seq(Order("rate", desc = true, keyType = I64(0))),
      endAt = Some(Cursor(Seq(Some(I64(950))))),
      limit = Some(25))
    assert(onBothExecutors(DocFuzz.canon(db.queryWithIndex("d1", "c", qDesc))) ===
      DocFuzz.canon(db.query("d1", "c", qDesc)))
  }

  test("nested dotted paths work end-to-end: queryStr, addIndex, queryWithIndex") {
    import graft.docstore._
    import graft.docstore.FieldValue._
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", (0 until 50).map(i =>
      s"""{"meta":{"k":$i,"tag":"t${i % 3}"},"flat":$i}"""))
    // dotted path through the SDK query-string surface (fused compiler)
    val viaStr = db.queryStr("d1", "c", "/[meta.k >= 40] and [meta.tag = t1] | {meta.k}")
    val strRows = viaStr.collect()
    val want = (40 until 50).filter(i => i % 3 == 1)
    assert(strRows.map(_.getString(1).toLong).sorted.toSeq === want.map(_.toLong))
    // nested Index.path (db3_database_v2.proto:92): typed key extraction
    // via the same dotted traversal
    db.addIndex("d1", "c", "meta.k", "Int64Key")
    val idx = db.index("d1", "c", "meta.k")
    assert(idx.count() === 50)
    val q = StructuredQuery(where = Some(FieldFilter("meta.k", Op.Eq, I64(7))))
    val viaIdx = db.queryWithIndex("d1", "c", q)
    assert(viaIdx.count() === 1)
    assert(db.query("d1", "c", q).count() === 1)
  }

  test("unselective index lookups keep the distributed semi-join path") {
    import graft.docstore._
    import graft.docstore.FieldValue._
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", (0 until 1200).map(i =>
      s"""{"rate":${i % 2},"n":$i}"""))
    db.addIndex("d1", "c", "rate", "Int64Key")
    // rate=0 matches 600 docs (pushed path); rate>=0 matches all 1200 —
    // past the push cap, so the semi-join fallback must produce the same
    // answer as the plain fused query
    val qWide = StructuredQuery(where = Some(FieldFilter("rate", Op.Ge, I64(0))))
    val viaIdx = db.queryWithIndex("d1", "c", qWide)
    assert(viaIdx.count() === 1200)
    assert(db.query("d1", "c", qWide).count() === 1200)
    // fallback really joined (no pushed id set in the plan)
    val plan = viaIdx.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") || plan.toLowerCase.contains("left_semi"))
  }

  test("nonce cell serializes across GraftDB instances (file-locked cell)") {
    import graft.api.GraftDB
    val root = java.nio.file.Files.createTempDirectory("noncelock").toString
    val db1 = new GraftDB(spark, root)
    val db2 = new GraftDB(spark, root)
    db1.createCollection("d", "c")
    // two instances share the persisted cell
    assert(db1.getNonce("0xAB") === 1L)
    db1.addDocuments("d", "c", Seq("{}"), "0xAB", 1L)
    assert(db2.getNonce("0xAB") === 2L)
    db2.addDocuments("d", "c", Seq("{}"), "0xAB", 2L)
    assert(db1.getNonce("0xAB") === 3L)
    // concurrent racers across both instances, ALL presenting the same
    // nonce: the check-and-consume must accept exactly one (a second
    // acceptance = the replay the cell exists to reject). Losers fail
    // BEFORE any write — the single-sequencer write contract holds.
    val nonce = db1.getNonce("0xAB") // 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val successes = new java.util.concurrent.atomic.AtomicInteger
    (0 until 40).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val db = if (i % 2 == 0) db1 else db2
          try {
            db.addDocuments("d", "c", Seq("{}"), "0xAB", nonce)
            successes.incrementAndGet()
          } catch { case _: IllegalArgumentException => () } // replay rejected
          ()
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(successes.get() === 1)
    assert(db1.getNonce("0xAB") === nonce + 1L)
  }

  test("log-inspection RPCs: header/body point reads, paging, block, state view") {
    import graft.api.GraftDB
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", Seq("""{"a":1}""", """{"a":2}""")) // block 0
    db.addDocuments("d1", "c", Seq("""{"a":3}"""))                // block 1
    // point reads by (block, order)
    val h = db.getMutationHeader("d1", "c", 0L, 1)
    assert(h.exists(v => v.action === GraftDB.ActionAdd && v.id === 1L && !v.rolledUp))
    assert(db.getMutationBody("d1", "c", 1L, 0) === Some(("""{"a":3}""", None)))
    assert(db.getMutationHeader("d1", "c", 9L, 0).isEmpty)
    // paging in (block, order) order
    val page = db.scanMutationHeaders("d1", "c", start = 1, limit = 2)
    assert(page.map(h => (h.block, h.order)) === Seq((0L, 1), (1L, 0)))
    assert(page.forall(!_.rolledUp))
    // one block's mutations
    assert(db.getBlock("d1", "c", 0L).map(m => (m.order, m.doc)) ===
      Seq((0, """{"a":1}"""), (1, """{"a":2}""")))
    // state view before and after a rollup
    val st0 = db.mutationState("d1", "c")
    assert(st0.mutationCount === 3 && st0.lastBlock === 1 &&
      st0.rollupCount === 0 && st0.gcCount === 0 && st0.totalMutationBytes > 0)
    val recs = db.rollup("d1", "c")
    assert(recs.nonEmpty)
    val st1 = db.mutationState("d1", "c")
    assert(st1.mutationCount === 3) // rollups preserve the log
    assert(st1.rollupCount > 0 && st1.totalRollupMutationCount === 3 &&
      st1.gcCount > 0 && st1.totalGcMutationCount === 3 &&
      st1.totalRollupBytes > 0 && st1.totalRollupRawBytes > 0)
    // headers now report rolled-up status
    assert(db.getMutationHeader("d1", "c", 0L, 1).exists(_.rolledUp))
    assert(db.scanMutationHeaders("d1", "c", 0, 10).map(_.rolledUp) === Seq(true, true, true))
  }

  private def setupReq(cfgJson: String, key: Long, nonce: Long): (String, String) = {
    import graft.functions.crypto.Keccak256
    val hex = Keccak256.hexLower(cfgJson.getBytes("UTF-8"))
    val td = s"""{"types":{"EIP712Domain":[],"Message":[{"name":"payload","type":"bytes"},{"name":"nonce","type":"string"}]},"domain":{},"primaryType":"Message","message":{"payload":"0x$hex","nonce":"$nonce"}}"""
    val sig = graft.functions.crypto.Eip712.signOrNull(td, key)
    (td, sig.toString)
  }

  test("setup pins the admin and persists the config cell (signed write)") {
    val db = freshDb()
    assert(!db.systemStatus().hasInited)
    assert(db.systemStatus().config.minRollupSizeBytes === 64L * 1024 * 1024)
    val (td1, sig1) = setupReq("""{"minRollupSizeBytes":1024,"networkId":7}""", 1L, nonce = 1L)
    val admin = db.setup(td1, sig1)
    val st = db.systemStatus()
    assert(st.hasInited && st.adminAddr === Some(admin))
    assert(st.config.minRollupSizeBytes === 1024L && st.config.networkId === 7L)
    assert(st.config.rollupIntervalMs === 60000L) // absent knob keeps default
    // a different signer cannot re-setup (rejected at the admin gate, so
    // the outsider's nonce is NOT consumed)
    val (td2, sig2) = setupReq("""{"networkId":9}""", 2L, nonce = 1L)
    intercept[IllegalArgumentException](db.setup(td2, sig2))
    assert(db.systemStatus().config.networkId === 7L)
    // the admin can update; untouched knobs persist
    val (td3, sig3) = setupReq("""{"networkId":9}""", 1L, nonce = 2L)
    db.setup(td3, sig3)
    val st3 = db.systemStatus()
    assert(st3.config.networkId === 9L && st3.config.minRollupSizeBytes === 1024L)
    // REPLAYING the first accepted setup is dead on arrival: its nonce is
    // spent, so a captured admin-signed request cannot revert the policy
    intercept[IllegalArgumentException](db.setup(td1, sig1))
    assert(db.systemStatus().config.networkId === 9L)
    // tampered signature rejected
    intercept[IllegalArgumentException](db.setup(td3, "0x" + "00" * 65))
    // the Setup'd policy drives the rollup tick (rollup_executor.rs
    // reads min_rollup_size from the admin config)
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", (1 to 20).map(i => s"""{"n":$i}"""))
    val (tdHi, sigHi) = setupReq("""{"minRollupSizeBytes":1073741824}""", 1L, nonce = 3L)
    db.setup(tdHi, sigHi)
    assert(db.rollupIfDue("d1", "c").isEmpty) // 1 GiB floor: not due
    val (tdLo, sigLo) = setupReq("""{"minRollupSizeBytes":1}""", 1L, nonce = 4L)
    db.setup(tdLo, sigLo)
    assert(db.rollupIfDue("d1", "c").nonEmpty) // floor lowered: compacts
    assert(db.rollupIfDue("d1", "c").isEmpty) // tail drained: idempotent
  }

  test("a constructor-pinned admin closes the trust-on-first-use window") {
    // the reference fixes admin_addr at node boot (system_impl.rs:50) —
    // with a pin, even the FIRST setup from another signer is rejected
    val dir = Files.createTempDirectory("graftdb-pin").toString
    val (tdOutsider, sigOutsider) = setupReq("""{"networkId":5}""", 2L, nonce = 1L)
    // learn key 1's address from a TOFU instance, then pin it on a fresh root
    val probe = new GraftDB(spark, Files.createTempDirectory("graftdb-probe").toString)
    val (tdProbe, sigProbe) = setupReq("""{}""", 1L, nonce = 1L)
    val adminAddr = probe.setup(tdProbe, sigProbe)
    val db = new GraftDB(spark, dir, pinnedAdmin = Some(adminAddr))
    assert(db.systemStatus().adminAddr === Some(adminAddr)) // fixed at boot
    intercept[IllegalArgumentException](db.setup(tdOutsider, sigOutsider))
    assert(!db.systemStatus().hasInited) // the outsider initialized nothing
    val (tdAdmin, sigAdmin) = setupReq("""{"networkId":3}""", 1L, nonce = 1L)
    assert(db.setup(tdAdmin, sigAdmin) === adminAddr)
    assert(db.systemStatus().config.networkId === 3L)
  }

  test("lifecycle mutations ride the log without touching doc state") {
    import graft.api.GraftDB._
    val db = freshDb()
    db.createCollection("d1", "ev")
    db.addDocuments("d1", "ev", Seq("""{"a":1}""", """{"a":2}"""))
    val bCreate = db.createEventDb("d1", "ev", """{"ttl":3600}""")
    db.addDocuments("d1", "ev", Seq("""{"a":3}"""))
    val bMintDb = db.recordLifecycleMutation("d1", "ev", ActionMintDocumentDB,
      """{"to":"0xabc"}""")
    val bMintColl = db.recordLifecycleMutation("d1", "ev", ActionMintCollection)
    val bDelete = db.deleteEventDb("d1", "ev")
    // headers report the lifecycle actions at their stamped blocks
    assert(db.getMutationHeader("d1", "ev", bCreate, 0).map(_.action)
      === Some(ActionCreateEventDB))
    assert(db.getMutationHeader("d1", "ev", bMintDb, 0).map(_.action)
      === Some(ActionMintDocumentDB))
    assert(db.getMutationHeader("d1", "ev", bDelete, 0).map(_.action)
      === Some(ActionDeleteEventDB))
    assert(db.getMutationBody("d1", "ev", bCreate, 0)
      === Some(("""{"ttl":3600}""", None)))
    // the full header page shows every action; stats count all 7 rows
    val actions = db.scanMutationHeaders("d1", "ev", 0, 100).map(_.action)
    assert(actions.count(_ == ActionAdd) === 3)
    assert(Seq(ActionCreateEventDB, ActionMintDocumentDB, ActionMintCollection,
      ActionDeleteEventDB).forall(actions.contains))
    assert(db.mutationState("d1", "ev").mutationCount === 7)
    assert(bMintColl > bMintDb && bMintDb > bCreate)
    // document state is untouched by any of them
    assert(db.collectionState("d1", "ev") === 3)
    // doc actions are rejected at this door
    intercept[IllegalArgumentException](
      db.recordLifecycleMutation("d1", "ev", ActionAdd))
    // lifecycle rows survive rollup + recovery like any other mutation
    db.rollup("d1", "ev")
    assert(db.mutationState("d1", "ev").mutationCount === 7)
    assert(db.collectionState("d1", "ev") === 3)
    assert(db.getMutationHeader("d1", "ev", bCreate, 0).exists(_.rolledUp))
  }

  test("metadata listings mirror db/collection layout") {
    val db = freshDb()
    db.createCollection("d1", "books")
    db.createCollection("d1", "authors")
    db.createCollection("d2", "events")
    assert(db.listDatabases() === Seq("d1", "d2"))
    assert(db.listCollections("d1") === Seq("authors", "books"))
    db.addDocuments("d1", "books", Seq("""{"x":1}""", """{"x":2}"""))
    assert(db.collectionState("d1", "books") === 2)
    assert(db.collectionState("d1", "authors") === 0)
    // the node-level state dir (nonce/config cells) is NOT a database
    db.addDocuments("d2", "events", Seq("""{"y":1}"""), "0xAB", db.getNonce("0xAB"))
    assert(db.listDatabases() === Seq("d1", "d2"))
    // per-collection sync progress (GetContractSyncStatus analog)
    val sync = db.syncStatus()
    assert(sync.map(s => (s.db, s.collection, s.mutationCount)).toSet ===
      Set(("d1", "books", 2L), ("d1", "authors", 0L), ("d2", "events", 1L)))
    assert(sync.find(_.collection == "events").exists(_.lastBlock >= 0L))
  }

  test("rollup compacts the tail, GCs it, and state survives recovery") {
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", (1 to 50).map(i => s"""{"n":$i}"""))
    db.updateDocuments("d1", "c", Seq(0L), Seq("""{"n":100}"""), Seq(Nil))
    db.deleteDocuments("d1", "c", Seq(1L))
    val before = db.collection("d1", "c").df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val recs = db.rollup("d1", "c")
    assert(recs.map(_.mutationCount).sum === 52)
    recs.foreach(r => assert(r.compressedBytes > 0))
    val after = db.recover("d1", "c").df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === before)
    assert(after(0L) === """{"n":100}""" && !after.contains(1L) && after.size === 49)
    // appends continue after rollup with fresh blocks
    db.addDocuments("d1", "c", Seq("""{"n":999}"""))
    assert(db.collection("d1", "c").df.count() === 50)
  }

  test("rollup GC deletes tail files under a root with a space (percent-encoded input_file_name)") {
    // input_file_name() returns percent-encoded file: URIs; a decode bug
    // here makes GC silently no-op and the tail grow unboundedly.
    val dir = Files.createTempDirectory("graft db spc").toString
    val db = new GraftDB(spark, dir)
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", (1 to 20).map(i => s"""{"n":$i}"""))
    val mutDir = java.nio.file.Paths.get(dir, "d1", "c", "mutations")
    def tailParquets(): Seq[java.nio.file.Path] = {
      val st = java.nio.file.Files.walk(mutDir)
      try st.filter(p => p.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).toSeq
      finally st.close()
    }
    assert(tailParquets().nonEmpty)
    db.rollup("d1", "c")
    assert(tailParquets().isEmpty,
      "GC left tail parquet files behind — percent-decoding regressed")
    // and the fold still reads back exactly from rollups
    assert(db.recover("d1", "c").df.count() === 20)
  }

  test("size-bounded rollup cuts multiple batches; manifest matches dirs; recovery exact") {
    val db = freshDb()
    db.createCollection("d1", "c")
    // 3 blocks of ~30 bytes payload each
    db.addDocuments("d1", "c", Seq("""{"n":1,"pad":"xxxxxxxxxx"}"""))
    db.addDocuments("d1", "c", Seq("""{"n":2,"pad":"xxxxxxxxxx"}"""))
    db.addDocuments("d1", "c", Seq("""{"n":3,"pad":"xxxxxxxxxx"}"""))
    val before = db.collection("d1", "c").df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // threshold below one block's bytes → every block its own batch
    val recs = db.rollup("d1", "c", maxBatchBytes = 10L)
    assert(recs.length === 3, recs.mkString(";"))
    // batches partition the block range in order, without overlap
    assert(recs.map(r => (r.startBlock, r.endBlock)) === Seq((0L, 0L), (1L, 1L), (2L, 2L)))
    // manifest rows mirror the returned records and their dirs exist
    val manifest = db.scanRollupRecords("d1", "c").collect()
    assert(manifest.length === 3)
    manifest.foreach { m =>
      assert(new java.io.File(m.getAs[String]("path")).isDirectory,
        m.getAs[String]("path"))
      assert(m.getAs[Long]("compressed_bytes") > 0)
    }
    val gc = db.scanGcRecords("d1", "c").collect()
    assert(gc.length === 1 && gc.head.getAs[Long]("mutation_count") === 3)
    // recovery from the rolled-up batches is byte-identical
    val after = db.recover("d1", "c").df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === before)
    // a second rollup appends to the manifest rather than clobbering it
    db.addDocuments("d1", "c", Seq("""{"n":4}"""))
    db.rollup("d1", "c")
    assert(db.scanRollupRecords("d1", "c").count() === 4)
    // recovery locates batches THROUGH the manifest: every rolled-up
    // input file sits under a manifested path (no directory re-listing)
    val manifestPaths = db.scanRollupRecords("d1", "c")
      .select("path").collect().map(_.getString(0))
    val rolledInputs = db.mutationLog("d1", "c").inputFiles
      .map(f => java.nio.file.Paths.get(new java.net.URI(f)).toString)
      .filter(_.contains("/rollups/"))
    assert(rolledInputs.nonEmpty)
    rolledInputs.foreach { f =>
      assert(manifestPaths.exists(f.startsWith), f)
    }
  }

  test("block/id assignment comes from the state cell, not a log scan") {
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", Seq("""{"v":1}""", """{"v":2}"""))
    db.deleteDocuments("d1", "c", Seq(0L))
    // blow away the log: a state-cell implementation keeps assigning
    // correct fresh (block, id) without it; a log-scanning one would
    // restart from zero. Batches live in blk_<block>_<token> subdirs of
    // mutations/ — delete those dirs wholesale.
    val mutDir = java.nio.file.Paths.get(new java.net.URI(
      db.mutationLog("d1", "c").inputFiles.head)).getParent.getParent
    assert(mutDir.getFileName.toString === "mutations")
    mutDir.toFile.listFiles().foreach { f =>
      if (f.isDirectory && f.getName.startsWith("blk_"))
        f.listFiles().foreach(_.delete())
    }
    val ids = db.addDocuments("d1", "c", Seq("""{"v":3}"""))
    assert(ids === Seq(2L)) // dense continuation despite the missing log
    val blocks = db.mutationLog("d1", "c").select("block").distinct().collect()
      .map(_.getLong(0)).sorted
    assert(blocks.toSeq === Seq(2L)) // only the fresh block remains on disk
  }

  test("legacy collections without a state cell fall back to one log scan") {
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", Seq("""{"v":1}"""))
    // simulate a pre-state-cell layout by removing the cell (input files
    // sit at mutations/blk_<block>_<token>/part-*.parquet — three levels
    // below the collection dir)
    val stateDir = java.nio.file.Paths.get(new java.net.URI(
      db.mutationLog("d1", "c").inputFiles.head))
      .getParent.getParent.getParent.resolve("state")
    assert(stateDir.toFile.isDirectory)
    stateDir.toFile.listFiles().foreach(_.delete())
    stateDir.toFile.delete()
    val ids = db.addDocuments("d1", "c", Seq("""{"v":2}"""))
    assert(ids === Seq(1L)) // continued densely from the scanned log
    assert(stateDir.toFile.isDirectory) // and the cell was re-persisted
  }

  test("reads never write the state cell: a never-written collection keeps state/ empty") {
    val root = Files.createTempDirectory("graftdb")
    val db = new GraftDB(spark, root.toString)
    db.createCollection("d1", "c")
    assert(db.collection("d1", "c").df.count() === 0L)
    assert(db.getDoc("d1", "c", 0L).isEmpty)
    assert(db.nextBlockId("d1", "c") === 0L)
    assert(db.syncStatus() === Seq(GraftDB.SyncStatusView("d1", "c", -1L, 0L)))
    // a reader that persisted its scan could roll back a concurrent
    // commit; only lock holders write the cell
    val written = Option(root.resolve("d1/c/state").toFile.list()).toSeq.flatten
    assert(written.isEmpty, s"reads wrote ${written.mkString(", ")}")
  }

  test("distributed json ingestion assigns dense deterministic ids without collect") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val in = Files.createTempDirectory("graft-bulk")
    // multiple files → multiple partitions
    Files.writeString(in.resolve("a.ndjson"), (0 until 40).map(i => s"""{"a":$i}""").mkString("\n"))
    Files.writeString(in.resolve("b.ndjson"), (40 until 75).map(i => s"""{"a":$i}""").mkString("\n"))
    val n = db.addDocumentsFromJson("d1", "c", in.toString)
    assert(n === 75)
    val log = db.mutationLog("d1", "c")
    // dense ids 0..74, one block
    val idSet = log.select("id").collect().map(_.getLong(0)).toSet
    assert(idSet === (0L until 75L).toSet)
    assert(log.select("block").distinct().count() === 1)
    // deterministic: a second identical ingest into a fresh collection
    // produces the same (id, doc) mapping
    db.createCollection("d1", "c2")
    db.addDocumentsFromJson("d1", "c2", in.toString)
    val m1 = log.select("id", "doc").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m2 = db.mutationLog("d1", "c2").select("id", "doc").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1 === m2)
    // and the ingestion plan is distributed — no Collect anywhere
    // (structural guarantee: addDocumentsFromJson builds the mutation
    // rows from lines.rdd.zipWithIndex, which never materializes on the
    // driver; nothing to assert on a plan here because the write already
    // happened, so assert on behavior: ids dense + deterministic above)
  }

  test("appendDocumentsAt stamps partition-parallel orders and block-encoded ids") {
    import org.apache.spark.sql.functions.col
    val db = freshDb()
    db.createCollection("d1", "c")
    val docs = spark.range(0, 1000, 1, 8) // 8 partitions
      .selectExpr("""concat('{"v":', id, '}') as doc""")
    val block = db.nextBlockId("d1", "c")
    assert(block === 0L)
    db.appendDocumentsAt("d1", "c", block, docs)
    val log = db.mutationLog("d1", "c")
    assert(log.count() === 1000)
    // ids encode (block, order); orders unique within the block
    assert(log.select("order").distinct().count() === 1000)
    assert(log.filter(col("id") =!= col("block") * GraftDB.IdStride + col("order")).count() === 0)
    // state advanced past the block-encoded range
    assert(db.nextBlockId("d1", "c") === 1L)
    // retrying the same block is idempotent (overwrite, not duplicate)
    db.appendDocumentsAt("d1", "c", block, docs)
    assert(db.mutationLog("d1", "c").count() === 1000)
    // live state folds every doc
    assert(db.collection("d1", "c").df.count() === 1000)
  }

  test("snapshot seeds the fold; reads replay only the tail after it") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val ids = db.addDocuments("d1", "c",
      (0 until 50).map(i => s"""{"v":$i,"keep":1}"""))            // block 0
    db.updateDocuments("d1", "c", ids.take(10),
      ids.take(10).map(i => s"""{"v":${i + 100}}"""), Seq.fill(10)(Seq("v"))) // block 1
    db.deleteDocuments("d1", "c", ids.slice(10, 15))               // block 2
    val expected = db.collection("d1", "c").df
      .orderBy("_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val (snapBlock, nDocs) = db.snapshot("d1", "c")
    assert(snapBlock === 2L && nDocs === 45L)
    assert(db.scanSnapshots("d1", "c").count() === 1)

    // post-snapshot mutations
    db.updateDocuments("d1", "c", Seq(ids(20)), Seq("""{"v":999}"""), Seq(Seq("v"))) // block 3
    db.deleteDocuments("d1", "c", Seq(ids(21)))                    // block 4

    val after = db.collection("d1", "c")
    // both executors read the snapshot files, proving the seeded path
    assert(db.driverFold("d1", "c", Long.MaxValue, None).get
      .inputFiles.exists(_.contains("snapshots/block_2")), "driver fold did not engage the snapshot")
    assert(db.sparkFold("d1", "c", Long.MaxValue, None)
      .inputFiles.exists(_.contains("snapshots/block_2")), "fold did not engage the snapshot")
    assert(db.sparkFold("d1", "c", Long.MaxValue, None).collect().toSet === after.df.collect().toSet)
    val got = after.df.orderBy("_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // masked update over a snapshot-seeded doc (mergeMasked re-appends
    // the masked field, hence the order)
    assert(got(ids(20)) === """{"keep":1,"v":999}""")
    assert(!got.contains(ids(21)))
    assert(got.size === 44)
    // every untouched doc identical to the unsnapshotted fold
    expected.filter(e => e._1 != ids(20) && e._1 != ids(21))
      .foreach(e => assert(got(e._1) === e._2))
    // time-travel BELOW the snapshot never uses it
    val early = db.collectionAt("d1", "c", 0L)
    assert(!db.driverFold("d1", "c", 0L, None).get.inputFiles.exists(_.contains("snapshots")))
    assert(!db.sparkFold("d1", "c", 0L, None).inputFiles.exists(_.contains("snapshots")))
    assert(early.df.count() === 50)
    assert(db.sparkFold("d1", "c", 0L, None).count() === 50)
    // snapshot chaining: a second snapshot seeds from the first
    val (b2, n2) = db.snapshot("d1", "c")
    assert(b2 === 4L && n2 === 44L)
    assert(db.driverFold("d1", "c", Long.MaxValue, None).get
      .inputFiles.exists(_.contains("snapshots/block_4")))
    assert(db.sparkFold("d1", "c", Long.MaxValue, None)
      .inputFiles.exists(_.contains("snapshots/block_4")))
  }

  test("a snapshot asked for past the committed block records the committed block") {
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", Seq("""{"v":0}"""))                  // block 0
    // the fold stops at block 0, so that is the state the snapshot holds
    assert(db.snapshot("d1", "c", 5L) === ((0L, 1L)))
    (1 to 6).foreach(i => db.addDocuments("d1", "c", Seq(s"""{"v":$i}"""))) // blocks 1-6
    // reads seed from the snapshot and replay every later block
    assert(db.collection("d1", "c").df.count() === 7)
    assert(db.getDoc("d1", "c", 3L) === Some("""{"v":3}"""))
  }

  test("snapshot survives rollup GC of the replayed tail") {
    val db = freshDb()
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", (0 until 30).map(i => s"""{"v":$i}"""))
    db.snapshot("d1", "c")
    db.addDocuments("d1", "c", (30 until 40).map(i => s"""{"v":$i}"""))
    db.rollup("d1", "c") // drains + GCs the whole tail into rollups/
    val state = db.collection("d1", "c").df
    assert(state.count() === 40)
    assert(db.driverFold("d1", "c", Long.MaxValue, None).get
      .inputFiles.exists(_.contains("snapshots/block_0")))
    val sparkState = db.sparkFold("d1", "c", Long.MaxValue, None)
    assert(sparkState.count() === 40)
    assert(sparkState.inputFiles.exists(_.contains("snapshots/block_0")))
  }

  test("a driver snapshot is one file whose row groups a point read prunes") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val db = freshDb()
    db.createCollection("d1", "c")
    // ~1 KB of incompressible padding per doc: a ~4 MB state, several
    // row groups, still under the driver fold's bound
    val ids = db.addDocuments("d1", "c", (0 until 4000).map(i =>
      s"""{"v":$i,"pad":"${new scala.util.Random(i).alphanumeric.take(1000).mkString}"}"""))
    assert(db.snapshot("d1", "c") === ((0L, 4000L)))
    val dir = new java.io.File(db.scanSnapshots("d1", "c").head().getAs[String]("path"))
    val files = dir.listFiles().filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    assert(files.length === 1, files.map(_.getName).mkString(", "))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head.toURI), spark.sparkContext.hadoopConfiguration))
    val groups = try reader.getRowGroups.size finally reader.close()
    assert(groups > 1, s"the 4000-doc state wrote $groups row group")
    val decoded0 = db.driverRowsDecoded.get
    assert(db.getDoc("d1", "c", ids(2500)).exists(_.startsWith("""{"v":2500,""")))
    val decoded = db.driverRowsDecoded.get - decoded0
    assert(decoded > 0 && decoded < 4000, s"point read decoded $decoded of 4000 snapshot rows")
  }

  test("nonce state: fresh sender starts at 1, write path rejects stale/out-of-order") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val alice = "0xAAAA000000000000000000000000000000000001"
    assert(db.getNonce(alice) === 1L)
    // exact next nonce accepted
    val ids = db.addDocuments("d1", "c", Seq("""{"v":1}"""), alice, 1L)
    assert(ids.nonEmpty)
    assert(db.getNonce(alice) === 2L)
    // replay of a consumed nonce rejected, nothing written
    val before = db.collection("d1", "c").df.count()
    val e1 = intercept[IllegalArgumentException] {
      db.addDocuments("d1", "c", Seq("""{"v":2}"""), alice, 1L)
    }
    assert(e1.getMessage.contains("bad nonce"))
    // skipping ahead rejected too (must be exactly used+1)
    val e2 = intercept[IllegalArgumentException] {
      db.addDocuments("d1", "c", Seq("""{"v":2}"""), alice, 5L)
    }
    assert(e2.getMessage.contains("bad nonce"))
    assert(db.collection("d1", "c").df.count() === before)
    // per-sender isolation: bob's stream starts at 1 independently
    val bob = "0xBBBB000000000000000000000000000000000002"
    assert(db.getNonce(bob) === 1L)
    db.addDocuments("d1", "c", Seq("""{"v":9}"""), bob, 1L)
    assert(db.getNonce(alice) === 2L)
    // nonce-guarded bulk append shares the same stream
    import spark.implicits._
    db.appendDocumentsAt("d1", "c", db.nextBlockId("d1", "c"),
      Seq("""{"v":3}""").toDF("doc"), "doc", alice, 2L)
    assert(db.getNonce(alice) === 3L)
  }

  test("nonce state survives reopen") {
    val dir = Files.createTempDirectory("graftdb").toString
    val db1 = new GraftDB(spark, dir)
    db1.createCollection("d1", "c")
    val s = "0xCCCC000000000000000000000000000000000003"
    db1.addDocuments("d1", "c", Seq("""{"v":1}"""), s, 1L)
    db1.addDocuments("d1", "c", Seq("""{"v":2}"""), s, 2L)
    val db2 = new GraftDB(spark, dir) // reopen from disk
    assert(db2.getNonce(s) === 3L)
    val e = intercept[IllegalArgumentException] {
      db2.addDocuments("d1", "c", Seq("""{"v":3}"""), s, 2L)
    }
    assert(e.getMessage.contains("bad nonce"))
    db2.addDocuments("d1", "c", Seq("""{"v":3}"""), s, 3L)
    assert(db2.collection("d1", "c").df.count() === 3L)
  }

  test("sendMutation recovers the sender from the signature and applies the docs") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val key = 7L
    val sender = graft.functions.crypto.Secp256k1.privToAddress(BigInt(key))
    val docs = Seq("""{"title":"Dune","rate":5}""", """{"title":"Foundation","rate":4}""")
    val (td, sig) = GraftDB.signedMutationRequest(docs, nonce = 1L, key = key)
    val (recovered, ids) = db.sendMutation("d1", "c", td, sig)
    assert(recovered === sender)
    assert(ids.length === 2)
    assert(db.collection("d1", "c").df.count() === 2L)
    assert(db.getNonce(sender) === 2L)
    // replaying the same signed request is rejected by the nonce check
    val e = intercept[IllegalArgumentException] { db.sendMutation("d1", "c", td, sig) }
    assert(e.getMessage.contains("bad nonce"))
    // a second request signed with the next nonce goes through
    val (td2, sig2) = GraftDB.signedMutationRequest(Seq("""{"v":2}"""), 2L, key)
    db.sendMutation("d1", "c", td2, sig2)
    assert(db.getNonce(sender) === 3L)
  }

  test("sendMutation rejects tampered payloads and garbage signatures") {
    val db = freshDb()
    db.createCollection("d1", "c")
    val (td, sig) = GraftDB.signedMutationRequest(Seq("""{"v":1}"""), 1L, 5L)
    // flip one hex digit inside the signed payload: the signature still
    // recovers SOME address, but not key 5's — and that unknown sender's
    // nonce stream expects 1, so the tampered write would land under a
    // different identity; the reference property is that it can never
    // land under the original signer. Verify exactly that.
    val tampered = td.replace("\"nonce\":\"1\"", "\"nonce\":\"2\"")
    val signer5 = graft.functions.crypto.Secp256k1.privToAddress(BigInt(5))
    try {
      val (recovered, _) = db.sendMutation("d1", "c", tampered, sig)
      assert(recovered !== signer5)
    } catch { case _: IllegalArgumentException => () } // nonce 2 ≠ expected 1 → also fine
    assert(db.getNonce(signer5) === 1L) // signer 5's stream untouched
    // structurally invalid signature → rejected outright
    val e = intercept[IllegalArgumentException] {
      db.sendMutation("d1", "c", td, "0x" + "00" * 65)
    }
    assert(e.getMessage.contains("invalid signature"))
  }
}
