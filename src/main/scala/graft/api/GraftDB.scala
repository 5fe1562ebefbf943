package graft.api

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import com.fasterxml.jackson.databind.ObjectMapper
import org.json4s.{DefaultFormats, Formats, JArray, JInt, JNothing, JNull, JString, JValue}
import org.json4s.jackson.{JsonMethods, Serialization}
import graft.docstore.{DocCollection, DocStore, StructuredQuery}
import graft.functions.crypto.{Eip712, Keccak256}
import java.io.FileNotFoundException
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Parquet-backed document database with the reference's mutation
  * semantics (reference: src/storage/src/db_store_v2.rs apply_mutation;
  * src/node/src/rollup_executor.rs process/gc; proto
  * db3_mutation_v2.proto MutationAction + DocumentMask).
  *
  * Layout under `root`:
  * {{{
  *   state/                            node cells: nonces.json, config.json, nonces.lock
  *   <db>/<collection>/mutations/      live mutation tail, one blk_<block>_<token>/
  *                                     (or block_<block>/) parquet dir per block
  *   <db>/<collection>/rollups/        gzip batches: run_<lo>_<hi>/batch=N, compact_*
  *   <db>/<collection>/state/          cell state.json (lastBlock, nextId,
  *                                     docWrites) + state.lock
  *   <db>/<collection>/manifest/       append-only records: rollup/, gc/,
  *                                     compact/, snapshot/; one JSON file of
  *                                     records per append, written and read
  *                                     like a cell (no Spark job)
  *   <db>/<collection>/snapshots/      folded state per block_<block>
  *   <db>/<collection>/indexes/        sorted key tables, each with its cell
  *                                     _INDEX.json (key type, docWrites at build)
  * }}}
  *
  * A mutation row = (block, order, action, id, doc, mask) — the exact
  * MutationHeader ordering key of the reference. Live state is the
  * latest-wins fold with DocumentMask merge and delete tombstones of the
  * committed log (`readPlan` decides what a read sees), computed on the
  * driver when a read's input is small, else distributed (one shuffle
  * on doc id).
  *
  * Scale posture: the log is append-only parquet partitioned by block
  * range; materialization shuffles once on id; rollup compaction is the
  * reference's Arweave batch write re-expressed as gzip parquet + manifest,
  * and `recover()` proves state is reconstructible from rollups alone.
  *
  * Write protocol: data lands first, invisible; one atomic commit then
  * publishes it — the state cell for appends, a manifest record for
  * rollups, compactions and snapshots, the config cell for setup. Every
  * writer of a collection holds its lock (a JVM monitor plus a
  * FileChannel lock on `state/state.lock`), so any number of GraftDB
  * instances, in one JVM or in several processes on one filesystem,
  * can write one collection: block assignment is serialized like the
  * reference's storage node (mutation_store.rs:444
  * increase_block_return_last_state). Collection readers take no lock
  * and never write.
  *
  * @param pinnedAdmin fix the node admin at construction (the reference
  *   pins `admin_addr` at node boot — system_impl.rs:50): when set, ONLY
  *   this address can ever `setup`, including the first time. When None,
  *   the first successful signed setup pins the admin
  *   (trust-on-first-use). */
class GraftDB(spark: SparkSession, root: String,
    pinnedAdmin: Option[String] = None) {
  import GraftDB._

  /** Crash-injection hook (tests only): called with a window label at
    * every point where dying between a data write and its manifest/state
    * commit would leave the protocol mid-flight. `GraftDBCrashSpec` makes
    * it throw to prove each window recovers to the pre-crash or
    * post-commit state — never between. Default no-op. */
  private[api] var failpoint: String => Unit = _ => ()

  private def collPath(db: String, coll: String) = s"$root/$db/$coll"
  private def mutPath(db: String, coll: String) = s"${collPath(db, coll)}/mutations"
  private def rollPath(db: String, coll: String) = s"${collPath(db, coll)}/rollups"
  private def statePath(db: String, coll: String) = s"${collPath(db, coll)}/state/state.json"
  private def manifestPath(db: String, coll: String) = s"${collPath(db, coll)}/manifest"
  private def snapPath(db: String, coll: String, block: Long) =
    s"${collPath(db, coll)}/snapshots/block_$block"
  private def noncesPath = s"$root/state/nonces.json"
  private def configPath = s"$root/state/config.json"

  def createCollection(db: String, coll: String): Unit = {
    Files.createDirectories(Paths.get(mutPath(db, coll)))
    Files.createDirectories(Paths.get(rollPath(db, coll)))
  }

  // ---- cells and locks -------------------------------------------------
  // The reference keeps (block, order) in a single tiny KV cell and bumps
  // it per mutation batch (mutation_store.rs:444
  // increase_block_return_last_state) — O(1) per append. The analog: a
  // one-line JSON cell per collection. The node keeps two more cells the
  // same way, per-sender nonces and the Setup config; manifest records and
  // index cells are cells too. Only a holder of the cell's lock writes it,
  // atomically (a `.`-prefixed temp, which listings skip, then a move), so
  // a reader sees the old or the new value whole.

  private def readCell[T: Manifest](path: String): Option[T] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else {
      implicit val fmts: Formats = DefaultFormats
      Some(JsonMethods.parse(Files.readString(p)).extract[T])
    }
  }

  private def writeCell(path: String, value: AnyRef): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    Files.writeString(tmp, Serialization.write(value))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Serialize a critical section against BOTH same-JVM instances (a
    * monitor keyed by the lock file's canonical path) and other processes
    * on the same filesystem (an exclusive FileChannel lock on that file).
    * OS file locks are held on behalf of the whole JVM, so a second
    * same-JVM `lock()` would throw OverlappingFileLockException instead
    * of blocking: the monitor comes first, and a holder never takes the
    * same lock again. */
  private def withLock[T](lockFile: String)(body: => T): T = {
    val path = Paths.get(lockFile).toAbsolutePath.normalize
    monitors.computeIfAbsent(path.toString, _ => new Object).synchronized {
      Files.createDirectories(path.getParent)
      val ch = FileChannel.open(path, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }
  }

  /** The collection lock: block assignment (read cell → append → commit
    * cell), rollup drain, compaction, snapshot and index build. Without
    * it two writers read the same lastBlock and stamp the SAME block. */
  private def collLock(db: String, coll: String) =
    s"${collPath(db, coll)}/state/state.lock"

  /** The node lock: the nonce and config cells. Two writers could
    * otherwise both accept the same nonce — exactly the replay the nonce
    * cell exists to reject. */
  private def nodeLock = s"$root/state/nonces.lock"

  /** Current (lastBlock, nextId): the state cell, else one full-log scan
    * (a collection written before the cell existed, or whose cell was
    * lost). Never writes: a reader persisting a scan it took before a
    * concurrent commit would roll the cell back, and the next writer's
    * orphan sweep would then delete the committed block. */
  private def currentState(db: String, coll: String): CollState =
    readCell[CollState](statePath(db, coll)).getOrElse(scanState(db, coll))

  private def scanState(db: String, coll: String): CollState = {
    val log = mutationLog(db, coll)
    val r = if (log.isEmpty) Row(-1L, -1L) else log.agg(max(col("block")), max(col("id"))).head()
    CollState(r.getLong(0), r.getLong(1) + 1L)
  }

  /** The next block a writer would stamp — state-cell read, no log scan.
    * A read, not a reservation: a concurrent writer may stamp it first. */
  def nextBlockId(db: String, coll: String): Long =
    currentState(db, coll).lastBlock + 1L

  // ---- per-sender nonce state ----------------------------------------
  // The reference's replay protection (storage/src/state_store.rs:120,171
  // get_nonce/incr_nonce; RPC db3_storage.proto GetNonce): the node keeps
  // one u64 "used nonce" per sender address, GetNonce answers used+1, and
  // a write is accepted ONLY if its nonce is exactly used+1 — stale or
  // out-of-order nonces are rejected before anything is applied. The
  // analog: a node-level JSON cell (address → used nonce). O(1) per
  // write, no log scan.

  private def nonces: Map[String, Long] =
    readCell[Map[String, Long]](noncesPath).getOrElse(Map.empty)

  /** GetNonce RPC semantics: the next nonce `sender` must sign with
    * (used + 1; 1 for a never-seen sender). */
  def getNonce(sender: String): Long =
    withLock(nodeLock) { nonces.getOrElse(normAddr(sender), 0L) + 1L }

  /** incr_nonce semantics, for a holder of the node lock: accept exactly
    * used+1, else reject (`what` names the nonce in the message). */
  private def consumeNonce(sender: String, nonce: Long, what: String): Unit = {
    val key = normAddr(sender)
    val m = nonces
    val expected = m.getOrElse(key, 0L) + 1L
    if (nonce != expected)
      throw new IllegalArgumentException(
        s"bad $what for $key: got $nonce, expected $expected")
    writeCell(noncesPath, m.updated(key, nonce))
  }

  /** Called BEFORE the write is applied, like the reference's
    * send_mutation. */
  private def checkAndIncrNonce(sender: String, nonce: Long): Unit =
    withLock(nodeLock)(consumeNonce(sender, nonce, "nonce"))

  private def normAddr(a: String): String = a.trim.toLowerCase

  /** Nonce-guarded AddDocument: rejects a stale/out-of-order nonce before
    * anything is written, then consumes it. */
  def addDocuments(db: String, coll: String, docs: Seq[String],
      sender: String, nonce: Long): Seq[Long] = {
    checkAndIncrNonce(sender, nonce)
    addDocuments(db, coll, docs)
  }

  /** Nonce-guarded partition-parallel bulk append. */
  def appendDocumentsAt(db: String, coll: String, block: Long,
      docs: DataFrame, docCol: String, sender: String, nonce: Long): Unit = {
    checkAndIncrNonce(sender, nonce)
    appendDocumentsAt(db, coll, block, docs, docCol)
  }

  /** A signed request, verified (mutation_utils.rs:93
    * unwrap_and_light_verify): an EIP-712 TypedData JSON whose
    * `message.payload` is hex-encoded bytes and `message.nonce` the
    * sender's next nonce. The sender is RECOVERED from the signature —
    * never trusted from a field. Returns (sender, nonce, payload). */
  private def decodeSigned(typedDataJson: String,
      sigHex: String): (String, Long, Array[Byte]) = {
    val recovered = Eip712.recoverAddressOrNull(typedDataJson, sigHex)
    if (recovered == null)
      throw new IllegalArgumentException("invalid signature or typed data")
    val msg = new ObjectMapper().readTree(typedDataJson).get("message")
    if (msg == null || msg.get("payload") == null || msg.get("nonce") == null)
      throw new IllegalArgumentException("bad typed data: missing payload/nonce")
    val nonce = msg.get("nonce").asText.toLongOption.getOrElse(
      throw new IllegalArgumentException("bad typed data: non-numeric nonce"))
    val payload = Keccak256.fromHex(msg.get("payload").asText).getOrElse(
      throw new IllegalArgumentException("bad typed data: non-hex payload"))
    (recovered.toString, nonce, payload)
  }

  /** The reference's full signed write path (node/src/
    * storage_node_light_impl.rs send_mutation): the payload is UTF-8
    * NDJSON, one document per line; the nonce is checked-and-consumed,
    * then the docs applied. Returns (recovered sender, assigned doc
    * ids). */
  def sendMutation(db: String, coll: String,
      typedDataJson: String, sigHex: String): (String, Seq[Long]) = {
    val (sender, nonce, payload) = decodeSigned(typedDataJson, sigHex)
    val docs = new String(payload, StandardCharsets.UTF_8)
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    (sender, addDocuments(db, coll, docs, sender, nonce))
  }

  /** The full mutation log: rolled-up batches + live tail, one schema,
    * the committed blocks `readPlan` admits, over exactly the files it
    * listed. A frame built before a rollup's GC deleted tail files it
    * listed fails its job (FileNotFoundException) and must be built
    * again; it never silently drops rows. */
  def mutationLog(db: String, coll: String): DataFrame =
    planned(db, coll, Long.MaxValue, seeded = false)(logFrame(_))

  /** What a read as of `block` sees — the one rule, shared by
    * `mutationLog`, the log RPCs and both folds: each source's files,
    * listed once by `readableFiles` and stat'ed once. Both executors read
    * exactly these files; Spark's file index is handed their statuses and
    * lists nothing.
    *
    * Only committed data is visible. COMMIT POINT = the state cell
    * (Delta-style: data files land first, invisible; the atomic cell flip
    * publishes them): a tail block above it is a crashed or in-flight
    * append's, so the plan's bound is min(`block`, lastBlock) (every
    * block the cell admits had all its files in place before the cell
    * moved; no cell — a legacy collection — and everything on disk
    * counts). Rolled-up batches are located through the manifests (the
    * reference recovers from its rollup records the same way, recover.rs
    * over scan_rollup_records): a batch dir no record lists is a crashed
    * rollup's, and on an object store that is one small manifest read
    * instead of a huge eventually-consistent prefix listing. Blocks at or
    * below the rollup store's high-water mark are the batches': a rollup
    * that crashed between its manifest append and the tail GC leaves the
    * same blocks in BOTH places, and the tail copy stays invisible until
    * the GC finishes. With `seeded`, the newest snapshot at or below the
    * bound seeds the fold and every source replays only blocks after it.
    *
    * Order matters: the cell, then the snapshot record, then the tail is
    * LISTED (all of it, now), THEN the rollup and compact manifests are
    * read, then the live batch dirs are listed. A rollup whose manifest
    * append and GC both complete between the tail listing and the
    * manifest read then still surfaces via the manifest, and tail files
    * its GC deleted fail the read CLOSED (FileNotFoundException: gone at
    * planning or in the driver decode, the read re-plans; gone when a
    * Spark job opens them, the job fails and its caller must re-plan —
    * never silently dropped rows, the same failure mode a Delta reader
    * has past checkpoint retention). The reverse order silently loses the
    * freshly-rolled blocks: absent from the stale manifest snapshot AND
    * from the post-GC listing. A live batch dir that holds no files fails
    * the plan the same way: a compaction retired it after the manifest
    * read and the next one deleted it. */
  private def readPlan(db: String, coll: String, block: Long, seeded: Boolean): ReadPlan = {
    val committed = readCell[CollState](statePath(db, coll))
      .fold(block)(c => math.min(block, c.lastBlock))
    val seed =
      if (!seeded) None
      else readManifest(db, coll, "snapshot", snapshotManifestSchema)
        .map(r => (r.getAs[Long]("block"), r.getAs[String]("path")))
        .filter(_._1 <= committed).maxByOption(_._1)
        .map { case (at, path) => at -> statuses(path) }.filter(_._2.nonEmpty)
    val tail = statuses(mutPath(db, coll))
    val store = batches(db, coll)
    val seedAt = seed.map(_._1)
    val tailAfter = (seedAt ++ Some(store.committedHi).filter(_ >= 0)).maxOption
    ReadPlan(committed, seed,
      Seq(store.live.flatMap(batchFiles) -> seedAt, tail -> tailAfter).filter(_._1.nonEmpty),
      store.committedHi)
  }

  /** `read` over a fresh `readPlan`, planned again (three times at most)
    * while a file the plan listed is gone when `read` opens it — at
    * planning, in the driver decode or in a job `read` runs: a rollup's
    * GC or a compaction deleted it, and the new plan finds its rows
    * through the manifests. */
  private def planned[T](db: String, coll: String, block: Long, seeded: Boolean, left: Int = 3)(
      read: ReadPlan => T): T =
    try read(readPlan(db, coll, block, seeded)) catch {
      case e: Exception if left > 0 && ExceptionUtils.indexOfType(e, classOf[FileNotFoundException]) >= 0 =>
        planned(db, coll, block, seeded, left - 1)(read)
    }

  /** A plan's log sources (after `seed`, when given) as one Spark frame,
    * each kept to the blocks the plan replays from it. */
  private def logFrame(plan: ReadPlan, seed: Option[DataFrame] = None): DataFrame =
    (seed.toSeq ++ plan.logs.map { case (files, after) =>
      val df = readLog(files)
      val above = after.fold(df)(a => df.filter(col("block") > a))
      if (plan.committed == Long.MaxValue) above else above.filter(col("block") <= plan.committed)
    }).reduceOption(_ unionByName _).getOrElse(readLog(Nil))

  /** Parquet `files` as a Spark relation over exactly those files: its
    * file index finds every status in its cache, so building the frame
    * lists nothing and runs no job, and no partition column is inferred
    * (the file schema is the whole schema). A file deleted since its stat
    * fails the job that opens it. */
  private def readLog(files: Seq[FileStatus], schema: StructType = mutationSchema): DataFrame = {
    val listed = files.map(f => f.getPath -> Array(f)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = listed.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty, Some(schema),
      cache, Some(PartitionSpec.emptySpec))
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** A live rollup batch's files; a dir that holds none fails the read
    * (FileNotFoundException) rather than dropping the batch's blocks. */
  private def batchFiles(b: Batch): Seq[FileStatus] =
    Some(statuses(b.path)).filter(_.nonEmpty)
      .getOrElse(throw new FileNotFoundException(s"rollup batch ${b.path} holds no files"))

  /** The rollup store as its manifests publish it (base records minus
    * the ones compaction retired, plus the live compacted dirs). Two
    * small driver-side manifest reads. */
  private def batches(db: String, coll: String): Batches = {
    val compact = readManifest(db, coll, "compact", compactManifestSchema)
    val base = readManifest(db, coll, "rollup", rollupManifestSchema)
    Batches((base ++ compact).map(r =>
        Batch(r.getAs[Long]("start_block"), r.getAs[Long]("end_block"),
          r.getAs[Long]("mutation_count"), r.getAs[String]("path"))),
      compact.flatMap(_.getAs[Seq[String]]("replaced")).toSet)
  }

  /** The one locked block commit, for a holder of the collection lock
    * (`addIndex` records its declaration and builds the index in one
    * hold, and the lock does not nest): read the cell, sweep orphan
    * batch dirs, stamp block = lastBlock + 1, write `rows(block, nextId)`
    * into a UNIQUE `blk_<block>_<token>` dir, then commit the cell with
    * nextId advanced by `newIds` and, for a document write, docWrites by
    * one (the count index cells compare against). Returns the state the
    * commit started from.
    *
    * The token makes a crashed attempt's data distinguishable garbage: a
    * writer that dies between the data write and the cell commit releases
    * the lock with uncommitted rows at block N on disk, and the NEXT
    * writer to stamp N (same or different process) must not let those
    * rows ride its commit — same (block, order) stamps, different
    * content, the fold would pick arbitrarily. `sweepOrphanBatchDirs`
    * deletes them by NAME. A collection's first commit persists the
    * scanned cell before its data lands, so the cell already excludes a
    * crashed first attempt. */
  private def commitBlock(db: String, coll: String, op: String,
      newIds: Long = 0L, docWrite: Boolean = true)(
      rows: (Long, Long) => RDD[Row]): CollState = {
    val cell = statePath(db, coll)
    val st = readCell[CollState](cell).getOrElse {
      val s = scanState(db, coll)
      writeCell(cell, s)
      s
    }
    sweepOrphanBatchDirs(db, coll, st.lastBlock)
    val block = st.lastBlock + 1
    spark.createDataFrame(rows(block, st.nextId), mutationSchema)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${mutPath(db, coll)}/blk_${block}_${UUID.randomUUID.toString.take(8)}")
    failpoint(s"$op:afterAppend")
    writeCell(cell, CollState(block, st.nextId + newIds, st.docWrites + (if (docWrite) 1 else 0)))
    st
  }

  /** Any blk_ dir whose block exceeds the committed lastBlock is a
    * crashed locked-writer attempt — a live one would be holding the lock
    * the caller holds. A dir listing + name parse, no data read. */
  private def sweepOrphanBatchDirs(db: String, coll: String, lastCommitted: Long): Unit =
    listDir(mutPath(db, coll)).foreach { f =>
      if (f.isDirectory && f.getName.startsWith("blk_")) {
        val b = f.getName.drop(4).takeWhile(_ != '_')
        if (b.nonEmpty && b.forall(_.isDigit) && b.toLong > lastCommitted)
          deleteRecursively(f.toPath)
      }
    }

  /** One-partition RDD of driver-built rows. */
  private def local(rows: Seq[Row]): RDD[Row] = spark.sparkContext.parallelize(rows, 1)

  /** AddDocument: assigns monotonically increasing ids (doc_order analog).
    * Block/id come from the state cell — no log scan per batch. */
  def addDocuments(db: String, coll: String, docs: Seq[String]): Seq[Long] = {
    val base = withLock(collLock(db, coll)) {
      commitBlock(db, coll, "addDocuments", newIds = docs.length) { (block, first) =>
        local(docs.zipWithIndex.map { case (d, i) =>
          Row(block, i, ActionAdd, first + i, d, null)
        })
      }.nextId
    }
    docs.indices.map(base + _)
  }

  /** UpdateDocument with DocumentMask: only `mask` fields are replaced;
    * fields in the mask but absent from `doc` are deleted (the proto's
    * documented mask semantics). Empty mask = whole-doc replace. */
  def updateDocuments(db: String, coll: String, ids: Seq[Long],
      docs: Seq[String], masks: Seq[Seq[String]]): Unit = {
    require(ids.length == docs.length && ids.length == masks.length,
      s"ids/docs/masks length mismatch: ${ids.length}/${docs.length}/${masks.length}")
    withLock(collLock(db, coll)) {
      commitBlock(db, coll, "updateDocuments") { (block, _) =>
        local(ids.indices.map { i =>
          Row(block, i, ActionUpdate, ids(i), docs(i),
            if (masks(i).isEmpty) null else masks(i).mkString(","))
        })
      }
    }
  }

  /** DeleteDocument tombstones. */
  def deleteDocuments(db: String, coll: String, ids: Seq[Long]): Unit =
    withLock(collLock(db, coll)) {
      commitBlock(db, coll, "deleteDocuments") { (block, _) =>
        local(ids.zipWithIndex.map { case (id, i) =>
          Row(block, i, ActionDelete, id, null, null)
        })
      }
    }

  /** Partition-parallel bulk append of one block: every input partition
    * stamps its own rows (order = partitionId·2^20 + rowIdx, the
    * reference's (block, order) entry-id composition) and writes its own
    * parquet — no driver materialization anywhere. The block's rows land
    * in their own sub-directory with Overwrite, so a retried streaming
    * micro-batch is idempotent. Doc ids encode (block, order) like the
    * reference's DocumentEntryId; caps: 2^11 partitions × 2^20 rows per
    * block. */
  def appendDocumentsAt(db: String, coll: String, block: Long,
      docs: DataFrame, docCol: String = "doc"): Unit = {
    val stride = 1 << 20
    val rows = docs.select(col(docCol).cast("string")).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        require(pid < (1 << 11), s"partition id $pid exceeds order budget")
        it.zipWithIndex.map { case (row, i) =>
          require(i < stride, s"partition row count exceeds $stride")
          val order = pid * stride + i
          Row(block, order, ActionAdd, block * IdStride + order,
            row.getString(0), null)
        }
      }
    spark.createDataFrame(rows, mutationSchema)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${mutPath(db, coll)}/block_$block")
    failpoint("appendAt:afterData")
    // data lands outside the lock (the block dir is caller-exclusive and
    // Overwrite-idempotent); only the max-merge state bump needs
    // serializing, or a concurrent bump's write could be lost
    withLock(collLock(db, coll)) {
      val st = currentState(db, coll)
      // a max-merge commit can advance lastBlock PAST blocks a crashed
      // locked writer left orphan dirs at (the caller's block may gap
      // over them) — sweep before the bump, while the lock guarantees
      // every blk_ dir above lastBlock is a dead attempt, or those
      // uncommitted rows would become visible under the new bound
      sweepOrphanBatchDirs(db, coll, st.lastBlock)
      // the block's rows stay invisible until this bump commits them
      writeCell(statePath(db, coll), CollState(math.max(st.lastBlock, block),
        math.max(st.nextId, (block + 1) * IdStride), st.docWrites + 1))
    }
  }

  /** Live document state: `foldLog` of the whole committed log, folded
    * on the driver when its input fits the broadcast bound, else by Spark
    * (groupByKey(id), one shuffle). */
  def collection(db: String, coll: String): DocCollection =
    collectionAt(db, coll, Long.MaxValue)

  // ---- state snapshots ------------------------------------------------
  // Without snapshots every read folds the WHOLE log — O(history), the
  // thing that kills a long-lived 100 TB collection whose live state is a
  // fraction of its mutation history. A snapshot materializes the folded
  // state at block B once; later reads seed the fold from the snapshot
  // and replay only blocks > B. The reference gets the same effect from
  // its materialized index-node state (db_store_v2.rs holds current docs;
  // the log is for recovery/audit) — here the snapshot IS that
  // materialized state, versioned and manifest-tracked.

  /** Materialize the folded state as of `block` (defaults to the last
    * stamped block; a later block is clamped to it) under snapshots/ and
    * record it in the manifest. Returns (block, docCount). The state is
    * written sorted by `_id` — one file after a driver fold — in row
    * groups of at most `SnapshotRowGroupBytes`, so its groups hold
    * disjoint id ranges that a point read prunes by footer stats. The
    * count comes from the fold:
    * its rows on the driver, the written files' footers after a Spark
    * fold — never a read-and-count job. */
  def snapshot(db: String, coll: String, block: Long = Long.MinValue): (Long, Long) =
    withLock(collLock(db, coll)) {
      // the fold stops at the committed block, so the snapshot holds the
      // state of min(block, lastBlock): recording a later block would let
      // reads seeded from it skip the blocks committed in between
      val last = currentState(db, coll).lastBlock
      val at = if (block == Long.MinValue) last else math.min(block, last)
      val dir = snapPath(db, coll, at)
      def write(state: DataFrame): Unit = state.write
        .option("parquet.block.size", SnapshotRowGroupBytes).mode(SaveMode.Overwrite).parquet(dir)
      val n = planned(db, coll, at, seeded = true) { plan =>
        foldOnDriver(plan, None) match {
          case Some(f) => // already sorted: one file
            write(foldedFrame(f.rows).coalesce(1))
            f.rows.length.toLong
          case None =>
            write(foldOnSpark(plan, None).orderBy("_id"))
            statuses(dir).map(f => Using.resource(parquet.open(f))(_.getRecordCount)).sum
        }
      }
      failpoint("snapshot:afterData")
      appendManifest(db, coll, "snapshot", Seq(Row(at, n, dir)), snapshotManifestSchema)
      (at, n)
    }

  /** Persisted snapshot history (block, n_docs, path). */
  def scanSnapshots(db: String, coll: String): DataFrame =
    manifestFrame(db, coll, "snapshot", snapshotManifestSchema)

  /** Time-travel read: live state as of `block` (inclusive) — the
    * blockchain-versioned view the reference's (block,order)-stamped log
    * makes natural. Seeds from the newest snapshot ≤ block when one
    * exists (snapshot docs enter the fold as synthetic AddDocument rows
    * ordered before every replayed mutation) and replays only the blocks
    * after it; otherwise folds the full truncated log. */
  def collectionAt(db: String, coll: String, block: Long): DocCollection =
    DocCollection(coll, foldLog(db, coll, block))

  /** Point-lookup fold: replay ONLY the given doc ids. Both executors
    * prune by the ids: the driver fold keeps the snapshot and log row
    * groups whose `_id`/`id` footer range holds one of them, and the
    * Spark fold (past the bound) In-pushes them into the parquet reader.
    * ADD mutations are id-disjoint per block file (ids encode (block,
    * order)) and snapshots are sorted by `_id`, so the stats skip every
    * block whose adds cannot contain the ids; UPDATE/DELETE mutations
    * carry the ORIGINAL doc id into later blocks, widening those blocks'
    * id ranges and reducing (never breaking — the id filter still matches
    * all of a doc's mutations) the skip rate on update-heavy logs. A
    * selective lookup on an append-mostly log thus reads O(matching
    * blocks) — the B-tree fetch analog of the reference's `doc_store.rs
    * get_doc`. */
  def collectionForIds(db: String, coll: String, ids: Seq[Long]): DocCollection =
    DocCollection(coll, foldLog(db, coll, Long.MaxValue, Some(ids)))

  /** GetDoc RPC analog (db3_indexer.proto:64; doc_store.rs:240 get_doc):
    * one doc's live JSON by id, or None if absent/tombstoned. Reads
    * through the pruned point-lookup fold above — O(matching blocks), on
    * the driver with no Spark job while those blocks fit the bound. */
  def getDoc(db: String, coll: String, id: Long): Option[String] =
    collectionForIds(db, coll, Seq(id)).df
      .select("doc").head(1).headOption.map(_.getString(0))

  /** The live state as of `block` (ids `onlyIds` only, when given), as
    * (_id, doc), over one plan. Two executors run the same `replay` per
    * id: the driver fold when the row groups the read must decode (pruned
    * by their footer stats on block and id) hold at most the session's
    * `spark.sql.autoBroadcastJoinThreshold` uncompressed bytes — a
    * `LocalRelation`, no Spark job — else the Spark fold over the same
    * files. */
  private def foldLog(db: String, coll: String, block: Long,
      onlyIds: Option[Seq[Long]] = None): DataFrame =
    planned(db, coll, block, seeded = true)(folded(_, onlyIds))

  /** One plan's live state, on whichever executor `foldLog` picks. */
  private def folded(plan: ReadPlan, onlyIds: Option[Seq[Long]]): DataFrame =
    foldOnDriver(plan, onlyIds).fold(foldOnSpark(plan, onlyIds))(f => foldedFrame(f.rows))

  private def foldedFrame(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, doc) => Row(id, doc) }.asJava, foldSchema)

  /** Log and snapshot rows the driver fold has decoded, over the life of
    * this instance (the pruning specs read it). */
  private[api] val driverRowsDecoded = new java.util.concurrent.atomic.AtomicLong()

  /** `foldLog`'s driver executor alone, over a plan of its own. */
  private[api] def driverFold(db: String, coll: String, block: Long,
      onlyIds: Option[Seq[Long]]): Option[DriverFold] =
    planned(db, coll, block, seeded = true)(foldOnDriver(_, onlyIds))

  /** The driver executor: the folded state sorted by `_id` and the files
    * it decoded, or None when the plan's input exceeds the broadcast
    * bound (a negative bound turns the driver fold off). */
  private def foldOnDriver(plan: ReadPlan, onlyIds: Option[Seq[Long]]): Option[DriverFold] = {
    // (file, snapshot seed?, blocks replayed only above this)
    val inputs: Seq[(FileStatus, Boolean, Option[Long])] =
      plan.seed.toSeq.flatMap(_._2).map((_, true, None)) ++
        plan.logs.flatMap { case (files, after) => files.map((_, false, after)) }
    val sortedIds = onlyIds.map(_.distinct.sorted.toArray)
    val idSet = onlyIds.map(_.toSet)
    def admits(rg: BlockMetaData, seed: Boolean, after: Option[Long]): Boolean =
      sortedIds.forall(statsAdmitAny(rg, if (seed) "_id" else "id", _)) &&
        (seed || statsAdmit[java.lang.Long](rg, "block",
          after.map(a => java.lang.Long.valueOf(a + 1)), Some(java.lang.Long.valueOf(plan.committed))))
    readSmall(inputs.map { case (f, seed, after) => f -> (admits(_, seed, after)) },
        spark.sessionState.conf.autoBroadcastJoinThreshold) { picked =>
      val muts = picked.zip(inputs).flatMap { case ((_, r, groups), (_, seed, after)) =>
        val rows = parquet.decode(r, groups, if (seed) snapshotSchema else mutationSchema).toVector
        driverRowsDecoded.addAndGet(rows.length.toLong)
        if (seed)
          rows.map(row => MutationRow(plan.seed.get._1, Int.MinValue, ActionAdd,
            row.getLong(0), row.getString(1), null))
        else
          rows.map(row => MutationRow(row.getLong(0), row.getInt(1), row.getInt(2),
              row.getLong(3), row.getString(4), row.getString(5)))
            .filter(m => after.forall(m.block > _) && m.block <= plan.committed)
      }
      DriverFold(
        muts.filter(m => idSet.forall(_(m.id))).groupBy(_.id).toSeq
          .flatMap { case (id, ms) => replay(ms).map(id -> _) }
          .sortBy(_._1),
        picked.collect { case (f, _, groups) if groups.nonEmpty => f.getPath.toString })
    }
  }

  /** A driver read: opens each input file, keeps the row groups its
    * filter admits, and runs `body` over them — or returns None, having
    * decoded nothing, once their uncompressed bytes pass `bound`. The
    * footers come first: the bytes to decode are known before any row
    * is. */
  private def readSmall[T](inputs: Seq[(FileStatus, BlockMetaData => Boolean)], bound: Long)(
      body: Seq[(FileStatus, ParquetFileReader, Seq[Int])] => T): Option[T] = {
    val open = scala.collection.mutable.ArrayBuffer[(FileStatus, ParquetFileReader, Seq[Int])]()
    try {
      var bytes = 0L
      val it = inputs.iterator
      while (bytes <= bound && it.hasNext) {
        val (f, keep) = it.next()
        val r = parquet.open(f)
        val rgs = r.getRowGroups.asScala
        val groups = rgs.indices.filter(i => keep(rgs(i)))
        open += ((f, r, groups))
        bytes += groups.map(rgs(_).getTotalByteSize).sum
      }
      if (bytes > bound) None else Some(body(open.toSeq))
    } finally open.foreach(_._2.close())
  }

  /** `foldLog`'s Spark executor alone, over a plan of its own. */
  private[api] def sparkFold(db: String, coll: String, block: Long,
      onlyIds: Option[Seq[Long]]): DataFrame =
    planned(db, coll, block, seeded = true)(foldOnSpark(_, onlyIds))

  /** The Spark executor: a groupByKey/mapGroups replay over the snapshot
    * seed plus the log after it. */
  private def foldOnSpark(plan: ReadPlan, onlyIds: Option[Seq[Long]]): DataFrame = {
    import spark.implicits._
    // the replayed sources' block bounds prune rolled-up batches and tail
    // dirs by parquet row-group stats — the replay reads O(tail)
    val source = logFrame(plan, plan.seed.map { case (at, files) =>
      readLog(files, snapshotSchema).select(lit(at).as("block"), lit(Int.MinValue).as("order"),
        lit(ActionAdd).as("action"), col("_id").as("id"), col("doc"), lit(null).cast("string").as("mask"))
    })
    onlyIds.fold(source)(ids => source.filter(col("id").isin(ids: _*)))
      .as[MutationRow]
      .groupByKey(_.id)
      .mapGroups((id, muts) => (id, replay(muts.toSeq).orNull))
      .filter(_._2 != null)
      .toDF("_id", "doc")
  }

  def query(db: String, coll: String, q: StructuredQuery): DataFrame =
    DocStore.queryFused(collection(db, coll), q)

  /** The reference SDK's queryDoc surface: an EJDB-style query string with
    * optional bound parameters (`/[age = :age]`). */
  def queryStr(db: String, coll: String, q: String,
      params: Map[String, graft.docstore.FieldValue] = Map.empty): DataFrame = {
    val parsed = graft.docstore.QueryStr.parse(q, params)
    val res = DocStore.queryFused(collection(db, coll), parsed.sq)
    if (parsed.count) res.agg(count(lit(1)).as("count")) else res
  }

  /** Rollup (rollup_executor.rs:256 `process`): drain the live mutation
    * tail into SIZE-BOUNDED gzip parquet batches under rollups/ — batches
    * are whole blocks in block order, cut when the running payload size
    * crosses `maxBatchBytes` (the reference drains the log into multiple
    * batches bounded by size/interval, never one unbounded blob). Every
    * batch writes a RollupRecord row into the persisted manifest
    * (mutation_store.rs:291 add_rollup_record); the GC'd tail writes a
    * GcRecord (mutation_store.rs:248 add_gc_record).
    *
    * Scale shape: one stats pass, (tail file, block) → (rows, bytes),
    * is collected to the driver — #files rows, the same bound as the
    * drain's file list. The driver derives everything else from it: the
    * drained files, the GcRecord, the batch assignment (a fold over the
    * #blocks per-block sizes, `assignBatches`) and every RollupRecord.
    * The assignment broadcast-joins back as a local relation, and the
    * only other job over the tail is the write: one distributed
    * partitionBy(batch) pass sorted by (block, order) — compaction
    * parallelism = #batches, no repartition(1) single-core gzip. */
  def rollup(db: String, coll: String,
      maxBatchBytes: Long = 64L * 1024 * 1024): Seq[RollupRecord] =
    // the collection lock serializes racing rollups (two drains would
    // write the same runDir and manifest the same blocks twice) and
    // fences the tail FILE LISTING against writer appends: everything
    // this run rolls and GCs is pinned to the listing below, so a writer
    // queued on the lock can never lose its new block to the GC
    withLock(collLock(db, coll)) { rollupLocked(db, coll, maxBatchBytes) }

  private def rollupLocked(db: String, coll: String,
      maxBatchBytes: Long): Seq[RollupRecord] = {
    val tail = statuses(mutPath(db, coll))
    if (tail.isEmpty) return Seq.empty
    val rawTail = readLog(tail)
    // Only blocks <= the state cell's lastBlock are fully committed: the
    // state bump happens under this lock strictly AFTER the data commit,
    // while appendDocumentsAt's data write (and Spark's non-atomic
    // part-file commit renames) happen OUTSIDE it. A listing taken
    // mid-commit would otherwise capture a SUBSET of the block's part
    // files, roll that subset, and leave the late-renamed rest to be
    // deleted as "redundant" by the next rollup's GC — silent row loss.
    // Bounding BOTH the drained set and the GC file list to committed
    // blocks closes the window: the mid-commit block stays untouched
    // until its writer's state bump (under this same lock) commits it.
    val lastCommitted = currentState(db, coll).lastBlock
    val rowBytes = coalesce(length(col("doc")).cast("long"), lit(0L)) +
      coalesce(length(col("mask")).cast("long"), lit(0L)) + lit(24L)
    // the one stats pass; rows = tail files (one block per file)
    val stats = rawTail
      .groupBy(input_file_name().as("f"), col("block"))
      .agg(count(lit(1)), sum(rowBytes))
      .collect()
      .map(r => r.getString(0) -> BlockStat(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // drain only files whose every block is committed
    val drained = stats.groupBy(_._1).values
      .filter(_.forall(_._2.block <= lastCommitted)).flatten.toSeq
    if (drained.isEmpty) return Seq.empty
    val tailFiles = drained.map(_._1).distinct
    val (rawLo, rawHi, rawN) = (drained.map(_._2.block).min,
      drained.map(_._2.block).max, drained.map(_._2.rows).sum)
    // idempotent re-entry: blocks already manifest-committed by a prior
    // (possibly crashed) run never roll twice — the manifest is the
    // commit point, the tail copy is redundant data awaiting GC
    val committedHi = batches(db, coll).committedHi
    val blocks = stats.map(_._2)
      .filter(s => s.block > committedHi && s.block <= lastCommitted)
      .groupBy(_.block).toSeq.sortBy(_._1)
      .map { case (b, ss) => BlockStat(b, ss.map(_.rows).sum, ss.map(_.bytes).sum) }
    if (blocks.isEmpty) {
      // every tail row is already rolled (crash landed between the
      // manifest append and the tail GC, or a replayed micro-batch
      // re-appended rolled blocks): finish the GC and stop
      finishGc(db, coll, tailFiles, rawLo, rawHi, rawN)
      return Seq.empty
    }
    val assigned = blocks.zip(assignBatches(blocks.map(b => (b.block, b.bytes)), maxBatchBytes))
    val runDir = s"${rollPath(db, coll)}/run_${blocks.head.block}_${blocks.last.block}"
    val assign = spark.createDataFrame(
      assigned.map { case (b, batch) => Row(b.block, batch) }.asJava,
      StructType(Seq(StructField("block", LongType), StructField("batch", LongType))))
    rawTail.filter(col("block") > committedHi && col("block") <= lastCommitted)
      .join(broadcast(assign), Seq("block"))
      .repartition(col("batch"))
      .sortWithinPartitions("batch", "block", "order")
      .write.partitionBy("batch").mode(SaveMode.Overwrite)
      .option("compression", "gzip").parquet(runDir)
    failpoint("rollup:afterData")
    // per-batch records from the stats rows: #batches rows of metadata
    // on the driver (the reference's record list lives in RocksDB the
    // same way)
    val records = assigned.groupBy(_._2).toSeq.sortBy(_._1).map { case (batch, members) =>
      val bs = members.map(_._1)
      val path = s"$runDir/batch=$batch"
      RollupRecord(bs.map(_.block).min, bs.map(_.block).max, bs.map(_.rows).sum,
        dirSize(path), bs.map(_.bytes).sum, path)
    }
    appendManifest(db, coll, "rollup", records.map(Row.fromTuple), rollupManifestSchema)
    failpoint("rollup:afterManifest")
    // GC the rolled-up tail. The GcRecord covers the WHOLE deleted tail
    // (rawLo..rawHi — includes any redundant rows a crashed prior run
    // left behind) and is written BEFORE the delete: a crash between the
    // two leaves the record in place and the re-entry branch above skips
    // the duplicate append while finishing the delete.
    finishGc(db, coll, tailFiles, rawLo, rawHi, rawN)
    records
  }

  /** GC the rolled tail FILES — never the directory: a block appended
    * after this rollup's tail listing (e.g. by a writer that queued on
    * the collection lock, or a streaming micro-batch mid-write in its
    * own block dir) must survive the sweep. Appends the GcRecord exactly
    * once (idempotent under crash-retry: skips the append when
    * (start, end) is already recorded); block subdirs emptied by the
    * sweep are pruned, non-empty ones (including a concurrent writer's
    * _temporary) are left alone. */
  private def finishGc(db: String, coll: String, tailFiles: Seq[String],
      lo: Long, hi: Long, n: Long): Unit = {
    val recorded = readManifest(db, coll, "gc", gcManifestSchema).exists(r =>
      r.getAs[Long]("start_block") == lo && r.getAs[Long]("end_block") == hi)
    if (!recorded)
      appendManifest(db, coll, "gc", Seq(Row(lo, hi, n)), gcManifestSchema)
    failpoint("rollup:afterGc")
    val parents = scala.collection.mutable.LinkedHashSet[java.nio.file.Path]()
    tailFiles.foreach { f =>
      // input_file_name() strings are the percent-encoded file: URIs of
      // the listed statuses (a root with a space arrives as
      // file:/a%20b/...), so they go through java.net.URI to decode; the
      // Hadoop-Path roundtrip would leave a literal "%20" and silently
      // never delete the tail
      val fp = Paths.get(new java.net.URI(f))
      Files.deleteIfExists(fp)
      Files.deleteIfExists(fp.resolveSibling("." + fp.getFileName + ".crc"))
      parents += fp.getParent
    }
    parents.foreach { d =>
      // drop write-commit litter, then the dir itself if truly empty
      Seq("_SUCCESS", "._SUCCESS.crc").foreach(m =>
        Files.deleteIfExists(d.resolve(m)))
      val n = d.getFileName.toString
      if (listDir(d.toString).isEmpty && (n.startsWith("block_") || n.startsWith("blk_")))
        Files.delete(d)
    }
  }

  /** Append records to one manifest (`kind` = rollup, gc, compact or
    * snapshot), for a holder of the collection lock: one JSON cell of
    * `rows`, keyed by `schema`'s field names, named by its append's
    * sequence number. Its move is the commit point of the operation that
    * wrote the records; no Spark job. */
  private[api] def appendManifest(db: String, coll: String, kind: String,
      rows: Seq[Row], schema: StructType): Unit = {
    val dir = s"${manifestPath(db, coll)}/$kind"
    writeCell(f"$dir/${readableFiles(dir).size}%020d.json",
      rows.map(r => ListMap(schema.fieldNames.zip(r.toSeq): _*)))
  }

  /** One manifest's records in append order, decoded by `schema` on the
    * driver; a key a record lacks reads as null. Reads the files
    * `readableFiles` lists, so a crashed append's temp file is skipped.
    * Empty before the first append. A dir that holds anything but JSON
    * records (the parquet part files manifests were before) fails the
    * read: reading past them would drop the rolled-up batches they
    * list. */
  private def readManifest(db: String, coll: String, kind: String,
      schema: StructType): Seq[Row] = {
    val dir = s"${manifestPath(db, coll)}/$kind"
    readableFiles(dir).toVector.flatMap { f =>
      require(f.getName.endsWith(".json"),
        s"manifest dir $dir holds ${f.getName}, not a JSON record (an older layout)")
      JsonMethods.parse(Files.readString(f.toPath)).children.map(rec => new GenericRowWithSchema(
        schema.fields.map(c => recordValue(rec \ c.name, c.dataType)), schema): Row)
    }
  }

  /** The driver's parquet reader, on the session's Hadoop conf. */
  private lazy val parquet = new DriverParquet(spark.sparkContext.hadoopConfiguration)

  /** A manifest as a local DataFrame over `readManifest`'s rows, with
    * the nullable schema `spark.read.schema(schema)` returns. */
  private def manifestFrame(db: String, coll: String, kind: String,
      schema: StructType): DataFrame =
    spark.createDataFrame(readManifest(db, coll, kind, schema).asJava,
      StructType(schema.map(_.copy(nullable = true))))

  /** Persisted rollup history (mutation_store.rs:430 scan_rollup_records). */
  def scanRollupRecords(db: String, coll: String): DataFrame =
    manifestFrame(db, coll, "rollup", rollupManifestSchema)

  /** On-disk size of the live (un-rolled-up) mutation tail — the rollup
    * executor's trigger metric (rollup_executor.rs periodic size check). */
  def tailBytes(db: String, coll: String): Long = dirSize(mutPath(db, coll))

  /** Persisted GC history (mutation_store.rs scan_gc_records). */
  def scanGcRecords(db: String, coll: String): DataFrame =
    manifestFrame(db, coll, "gc", gcManifestSchema)

  /** Persisted rollup-compaction history: each record publishes one
    * compacted batch dir and retires the dirs it replaced. */
  def scanCompactRecords(db: String, coll: String): DataFrame =
    manifestFrame(db, coll, "compact", compactManifestSchema)

  /** OPTIMIZE tick for the rollup store — `Layout.compactSmallFiles`'
    * discipline applied to GraftDB-owned batch dirs, under the
    * collection lock (every retired path is manifest-listed, so this
    * never touches a concurrent writer's tail): every rollup RUN's last
    * batch is size-truncated, so runs accumulate small dirs under
    * rollups/ that a 100 TB log would fragment into thousands of tiny
    * gzip files. Adjacent (in block order) batches whose sizes sum
    * below `targetBytes` are rewritten into one dir sorted by
    * (block, order) — the fold is unchanged: same schema, same rows,
    * and read order never depended on file layout. Publish discipline:
    * the compacted dir is written first, the append-only COMPACT RECORD
    * is the commit point (readers switch to the new dir and drop the
    * replaced paths the moment it lands). Retired dirs are NOT deleted
    * in the same call: `collection()` DataFrames are lazy and hold
    * their file listing from plan time, so a reader that planned before
    * the record and executes after it would hit FileNotFoundException
    * on an immediate delete (the collection lock is writer-side only).
    * Deletion is deferred to the NEXT call's self-heal pass — a full
    * tick's grace period for in-flight plans to drain. Crash before the
    * record → an orphan compact dir invisible to readers; crash after →
    * the same lingering-retired state the no-crash path now leaves;
    * both kinds of litter are swept by the next call. Returns the
    * number of bins compacted. */
  def compactRollups(db: String, coll: String,
      targetBytes: Long = 64L * 1024 * 1024): Int = withLock(collLock(db, coll)) {
    val rollBase = rollPath(db, coll)
    val store = batches(db, coll)
    val known = store.all.map(_.path).toSet
    // self-heal: orphan compact dirs (crash before their record) and
    // lingering retired dirs (crash after their replacement's record)
    listDir(rollBase).foreach { d =>
      if (d.getName.startsWith("compact_") && !known(s"$rollBase/${d.getName}"))
        deleteRecursively(d.toPath)
    }
    store.retired.foreach(p => deleteRecursively(Paths.get(p)))
    // greedy adjacent bins below the target; only multi-member bins work
    val bins = scala.collection.mutable.ArrayBuffer[Vector[Batch]]()
    var cur = Vector.empty[Batch]
    var curBytes = 0L
    for (rec <- store.live) {
      val sz = dirSize(rec.path)
      if (cur.nonEmpty && curBytes + sz > targetBytes) {
        if (cur.length >= 2) bins += cur
        cur = Vector.empty; curBytes = 0L
      }
      if (sz < targetBytes) { cur :+= rec; curBytes += sz }
      else { if (cur.length >= 2) bins += cur; cur = Vector.empty; curBytes = 0L }
    }
    if (cur.length >= 2) bins += cur
    bins.foreach { bin =>
      val (lo, hi) = (bin.map(_.start).min, bin.map(_.end).max)
      val outDir = s"$rollBase/compact_${lo}_${hi}_${UUID.randomUUID().toString.take(8)}"
      readLog(bin.flatMap(batchFiles))
        .repartition(1)
        .sortWithinPartitions("block", "order")
        .write.option("compression", "gzip").parquet(outDir)
      failpoint("compact:afterData")
      appendManifest(db, coll, "compact", Seq(Row(lo, hi, bin.map(_.count).sum,
        dirSize(outDir), outDir, bin.map(_.path))), compactManifestSchema)
      failpoint("compact:afterRecord")
      // retired dirs stay on disk until the next call's self-heal pass
      // (grace period for in-flight reader plans — see scaladoc)
    }
    bins.length
  }

  /** Recovery = re-reading state from rollups (+ any live tail); the fold
    * is identical because the log schema and ordering keys are preserved. */
  def recover(db: String, coll: String): DocCollection = collection(db, coll)

  // ---- node setup & status (db3_system.proto Setup / GetSystemStatus) -
  // The reference's admin surface: Setup is a SIGNED config write
  // (SystemConfig's rollup-policy knobs) whose sender becomes — and must
  // remain — the node admin; GetSystemStatus reads it back. The chain /
  // Arweave / EVM account fields have no Spark analog and are omitted;
  // the signed-write requirement and the admin pinning are kept.

  /** Setup analog: `typedDataJson.message.payload` hex-encodes a JSON
    * object with any of minRollupSizeBytes / rollupIntervalMs /
    * minGcOffset / networkId, and `message.nonce` the sender's next
    * nonce; the sender is RECOVERED from the signature
    * (db3_system.proto:23 SetupRequest{signature, payload}). Admin
    * check: the constructor-pinned admin when set, else the stored admin
    * from the first successful setup (TOFU). The nonce rides the same
    * per-sender replay cell as `sendMutation` and is consumed ONLY by an
    * accepted setup — a captured admin-signed Setup cannot be replayed
    * later to revert the policy. Returns the admin address. */
  def setup(typedDataJson: String, sigHex: String): String = {
    val (sender, nonce, payload) = decodeSigned(typedDataJson, sigHex)
    val req = new ObjectMapper().readTree(new String(payload, StandardCharsets.UTF_8))
    def knob(name: String, dflt: Long): Long =
      Option(req.get(name)).map(_.asLong(dflt)).getOrElse(dflt)
    withLock(nodeLock) { // the nonce and config cells share one lock
      systemStatus().adminAddr.foreach { admin =>
        if (normAddr(admin) != normAddr(sender))
          throw new IllegalArgumentException(s"setup rejected: $sender is not the admin")
      }
      // nonce check-and-consume AFTER the admin gate (a rejected
      // non-admin attempt burns nothing) and inside the SAME lock hold.
      // Rejecting a stale nonce here is what makes a replayed Setup dead
      // on arrival.
      consumeNonce(sender, nonce, "setup nonce")
      // a crash here burns the nonce without applying the config — the
      // chain-standard failure mode: the config stays atomically at its
      // previous value, a REPLAY of the same signed request is dead on
      // arrival, and the client retries with the next nonce
      failpoint("setup:afterNonce")
      val prev = systemStatus().config
      val cfg = NodeConfig(
        minRollupSizeBytes = knob("minRollupSizeBytes", prev.minRollupSizeBytes),
        rollupIntervalMs = knob("rollupIntervalMs", prev.rollupIntervalMs),
        minGcOffset = knob("minGcOffset", prev.minGcOffset),
        networkId = knob("networkId", prev.networkId))
      writeCell(configPath, StoredConfig(sender, cfg))
    }
    sender
  }

  /** The rollup executor's tick under the Setup'd policy
    * (rollup_executor.rs reads min_rollup_size from the admin config):
    * compact the tail only once it has outgrown the configured minimum.
    * Returns the records written, empty when not yet due. */
  def rollupIfDue(db: String, coll: String): Seq[RollupRecord] = {
    val recs =
      if (tailBytes(db, coll) >= systemStatus().config.minRollupSizeBytes)
        rollup(db, coll)
      else Seq.empty
    // OPTIMIZE rides the same tick: a drain that cut new batches may
    // have left sub-target dirs (every run's LAST batch is size-
    // truncated); compaction is a no-op when no adjacent pair fits a
    // bin, so the tick stays idempotent. Separate lock acquisitions (the
    // collection lock does not nest), which is safe: compaction only
    // ever touches manifest-listed dirs, never the tail a writer that
    // squeezed between the locks might be appending.
    if (recs.nonEmpty)
      compactRollups(db, coll, systemStatus().config.minRollupSizeBytes)
    recs
  }

  /** GetSystemStatus analog: admin, init flag and the config cell
    * (defaults before any setup). A constructor-pinned admin is reported
    * even before the first setup — it is fixed at boot, not learned. */
  def systemStatus(): SystemStatus =
    readCell[StoredConfig](configPath) match {
      case None => SystemStatus(hasInited = false, pinnedAdmin, NodeConfig())
      // a boot-time pin outranks the stored admin (the stored value only
      // matters on TOFU nodes)
      case Some(st) =>
        SystemStatus(hasInited = true, pinnedAdmin.orElse(Some(st.admin)), st.config)
    }

  // ---- mutation-log inspection (the storage node's log RPCs) ----------
  // db3_storage.proto:191-202: GetMutationHeader / GetMutationBody are
  // point reads by mutation id, ScanMutationHeader pages the log, GetBlock
  // returns one block's mutations, GetMutationState aggregates the
  // MutationStateView counters. All are pushed-filter scans over the log
  // (the block predicate prunes row groups) or manifest reads — nothing
  // folds state.

  /** GetMutationHeader analog: one mutation's header plus its rollup
    * status (the proto's MutationRollupStatus: rolled-up vs live tail). */
  def getMutationHeader(db: String, coll: String, block: Long, order: Int)
      : Option[MutationHeaderView] =
    logRead(db, coll) { (log, rolledHi) =>
      log.filter(col("block") === block && col("order") === order)
        .select("block", "order", "action", "id").head(1).headOption
        .map(r => MutationHeaderView(r.getLong(0), r.getInt(1), r.getInt(2),
          r.getLong(3), rolledUp = block <= rolledHi))
    }

  /** `read` over the whole committed log (and the last rolled-up block),
    * run inside one `planned` read: the job it runs re-plans when a
    * rollup's GC deleted a file the plan listed. */
  private def logRead[T](db: String, coll: String)(read: (DataFrame, Long) => T): T =
    planned(db, coll, Long.MaxValue, seeded = false)(plan => read(logFrame(plan), plan.rolledHi))

  /** GetMutationBody analog: one mutation's payload (doc + mask). */
  def getMutationBody(db: String, coll: String, block: Long, order: Int)
      : Option[(String, Option[String])] =
    logRead(db, coll) { (log, _) =>
      log.filter(col("block") === block && col("order") === order)
        .select("doc", "mask").head(1).headOption
        .map(r => (r.getString(0), Option(r.getString(1))))
    }

  /** ScanMutationHeader analog: a (start, limit) page of headers in
    * (block, order) log order — sort+limit fuses to TakeOrderedAndProject
    * when start is 0. */
  def scanMutationHeaders(db: String, coll: String, start: Int, limit: Int)
      : Seq[MutationHeaderView] =
    logRead(db, coll) { (log, rolledHi) =>
      val page = log.select("block", "order", "action", "id")
        .orderBy(col("block").asc, col("order").asc)
      (if (start > 0) page.offset(start) else page).head(limit).toSeq
        .map(r => MutationHeaderView(r.getLong(0), r.getInt(1), r.getInt(2),
          r.getLong(3), rolledUp = r.getLong(0) <= rolledHi))
    }

  /** GetBlock analog: every mutation stamped in one block, in order. */
  def getBlock(db: String, coll: String, block: Long): Seq[MutationRow] =
    logRead(db, coll) { (log, _) =>
      import spark.implicits._
      log.filter(col("block") === block).orderBy(col("order").asc)
        .as[MutationRow].collect().toSeq
    }

  /** GetMutationState analog: the MutationStateView counters
    * (db3_storage.proto:169-182) from one log aggregate + the rollup/gc
    * manifests. */
  def mutationState(db: String, coll: String): MutationStateView = {
    val logAgg = logRead(db, coll) { (log, _) =>
      log.agg(
        count(lit(1)).as("n"),
        coalesce(sum(coalesce(length(col("doc")).cast("long"), lit(0L)) +
          coalesce(length(col("mask")).cast("long"), lit(0L))), lit(0L)).as("bytes"),
        coalesce(max(col("block")), lit(-1L)).as("last_block")).head()
    }
    val roll = readManifest(db, coll, "rollup", rollupManifestSchema)
    val gc = readManifest(db, coll, "gc", gcManifestSchema)
    def total(rows: Seq[Row], field: String) = rows.map(_.getAs[Long](field)).sum
    MutationStateView(
      mutationCount = logAgg.getLong(0),
      totalMutationBytes = logAgg.getLong(1),
      lastBlock = logAgg.getLong(2),
      rollupCount = roll.length,
      totalRollupBytes = total(roll, "compressed_bytes"),
      totalRollupRawBytes = total(roll, "raw_bytes"),
      totalRollupMutationCount = total(roll, "mutation_count"),
      gcCount = gc.length,
      totalGcMutationCount = total(gc, "mutation_count"))
  }

  /** Bulk-ingest documents from newline-delimited JSON files (the
    * reference SDK's addDoc over an external dump): each line becomes one
    * AddDocument mutation. Fully distributed — the lines never visit the
    * driver: ids are assigned densely by zipWithIndex over the
    * deterministic file/split ordering, every partition writes its own
    * parquet, and the driver only reserves the (block, id-base) range in
    * the state cell. (A single bulk block holds up to 2^31 lines — the
    * `order` column's width; ids are unbounded longs.) */
  def addDocumentsFromJson(db: String, coll: String, jsonPath: String): Long = {
    import spark.implicits._
    val lines = spark.read.textFile(jsonPath)
      .map(_.trim).filter((l: String) => l.nonEmpty)
    val n = lines.count()
    if (n == 0) return 0L
    // bulk-ingest is a (rare) admin op: the block/id range assignment AND
    // the distributed write serialize under the collection lock, so a
    // concurrent sequential writer can neither reuse the block nor
    // observe the batch before its state bump publishes it
    withLock(collLock(db, coll)) {
      commitBlock(db, coll, "addDocumentsFromJson", newIds = n) { (block, first) =>
        lines.rdd.zipWithIndex().map { case (doc, i) =>
          Row(block, i.toInt, ActionAdd, first + i, doc, null)
        }
      }
    }
    n
  }

  /** Export live state (sink): parquet or ndjson of (_id, doc). */
  def `export`(db: String, coll: String, outPath: String, format: String = "parquet"): Unit = {
    val df = collection(db, coll).df
    format match {
      case "json" => df.write.mode(SaveMode.Overwrite).json(outPath)
      case _ => df.write.mode(SaveMode.Overwrite).parquet(outPath)
    }
  }

  /** Record one LIFECYCLE mutation in the log (CreateEventDB /
    * DeleteEventDB / Mint* / AddCollection / CreateDocumentDB /
    * AddIndex — db3_mutation_v2.proto:103-114): a bookkeeping row with
    * id = -1 that pages through `scanMutationHeaders`, counts in
    * `mutationState`, and rolls up with everything else, but NEVER
    * touches document state (the fold interprets only `DocActions`).
    * The Mint* actions are on-chain NFT ownership transfers in the
    * reference — here pure metadata, recorded for log completeness.
    * Returns the stamped block. */
  def recordLifecycleMutation(db: String, coll: String, action: Int,
      payload: String = null): Long = {
    require(!DocActions.contains(action),
      s"action $action is a document mutation; use add/update/deleteDocuments")
    withLock(collLock(db, coll))(appendLifecycle(db, coll, action, payload))
  }

  /** `recordLifecycleMutation`'s body; the caller holds the lock.
    * Lifecycle rows leave indexes fresh: the fold ignores them. */
  private def appendLifecycle(db: String, coll: String, action: Int,
      payload: String): Long =
    commitBlock(db, coll, "recordLifecycleMutation", docWrite = false) { (block, _) =>
      local(Seq(Row(block, 0, action, -1L, payload, null)))
    }.lastBlock + 1

  /** CreateEventDB lifecycle record (db3_mutation_v2.proto:109): the
    * event-DB CAPABILITY (ABI decode, typed tables, TTL) lives in
    * graft.events; this records the lifecycle act in the collection's
    * log like the reference's mutation stream does. */
  def createEventDb(db: String, coll: String, configJson: String = null): Long =
    recordLifecycleMutation(db, coll, ActionCreateEventDB, configJson)

  /** DeleteEventDB lifecycle record (db3_mutation_v2.proto:114). */
  def deleteEventDb(db: String, coll: String): Long =
    recordLifecycleMutation(db, coll, ActionDeleteEventDB)

  /** AddIndexMutation analog: RECORD the index declaration in the
    * mutation log (AddIndex = 8) and materialize the typed key
    * extraction as a sorted parquet index table — on a cluster this is
    * the bucketed/sorted projection that replaces the reference's EJDB2
    * B-tree (row-group pruning on the sorted key). The build runs under
    * the collection lock, so no document write lands between the state
    * it folds and its index cell, written last with the state cell's
    * docWrites. */
  def addIndex(db: String, coll: String, path: String, indexType: String): Unit =
    withLock(collLock(db, coll)) {
      appendLifecycle(db, coll, ActionAddIndex,
        s"""{"path":"$path","type":"$indexType"}""")
      val idxDir = indexDir(db, coll, path)
      // try_cast: an index build over schemaless docs must skip mismatched
      // values (they fall out via the isNotNull below), not abort the scan
      // under ANSI mode
      val keyCol = indexType match {
        case "Int64Key" => get_json_object(col("doc"), "$." + path).try_cast("long")
        case "DoubleKey" => get_json_object(col("doc"), "$." + path).try_cast("double")
        case _ => get_json_object(col("doc"), "$." + path)
      }
      collection(db, coll).df
        .select(keyCol.as("idx_key"), col("_id"))
        .filter(col("idx_key").isNotNull)
        .sort("idx_key")
        .write.mode(SaveMode.Overwrite).parquet(idxDir)
      writeCell(indexCellPath(db, coll, path),
        IndexCell(indexType, currentState(db, coll).docWrites))
    }

  private def indexDir(db: String, coll: String, path: String) =
    s"${collPath(db, coll)}/indexes/$path"

  /** The index cell: the type `addIndex` was given (a read knows the
    * key's type without inferring the parquet schema, a Spark job) and
    * the state cell's docWrites the index was built at. `readableFiles`
    * skips `_`-prefixed files. */
  private def indexCellPath(db: String, coll: String, path: String) =
    s"${indexDir(db, coll, path)}/_INDEX.json"

  private def keyType(db: String, coll: String, path: String): DataType =
    readCell[IndexCell](indexCellPath(db, coll, path)).getOrElse(
        throw new IllegalStateException(s"no index cell for $coll.$path")).`type` match {
      case "Int64Key" => LongType
      case "DoubleKey" => DoubleType
      case _ => StringType
    }

  /** Read a materialized index (idx_key, _id). */
  def index(db: String, coll: String, path: String): DataFrame =
    readLog(statuses(indexDir(db, coll, path)), indexSchema(db, coll, path))

  private def indexSchema(db: String, coll: String, path: String): StructType =
    StructType(Seq(StructField("idx_key", keyType(db, coll, path)), StructField("_id", LongType)))

  /** Whether a fresh index on `path` exists: its cell's docWrites equals
    * the state cell's, so no document write committed since `addIndex`
    * built it. The index is not maintained incrementally; a stale one
    * serves again after the next `addIndex`. A document write that
    * crashes before its commit leaves the count, and the index, as they
    * were. */
  def hasIndex(db: String, coll: String, path: String): Boolean =
    readCell[IndexCell](indexCellPath(db, coll, path)).exists(i =>
      readCell[CollState](statePath(db, coll)).exists(_.docWrites == i.docWrites))

  /** Index-aware execution: when the query's leading field filter has a
    * materialized index, evaluate the predicate against the index
    * (sorted parquet — min/max row-group pruning on idx_key; read on the
    * driver, no Spark job, while the admitted row groups fit the
    * `spark.sql.autoBroadcastJoinThreshold` bound, else a Spark scan),
    * then fetch the surviving `_id`s: a selective lookup (at most
    * `MaxPushedIds`) folds only those ids (`collectionForIds`: driver or
    * Spark fold, block skip via row-group stats, O(matching blocks)
    * read), an unselective one left-semi joins distributed; remaining
    * filters/projection run as usual. Falls back to the plain fused
    * compiler when no index applies — the reference's planner does
    * exactly this over its EJDB index set
    * (doc_store.rs add_index / execute_query). */
  def queryWithIndex(db: String, coll: String, q: StructuredQuery): DataFrame = {
    import graft.docstore._
    // only scalar comparisons use the sorted index; membership/array ops
    // (and OR trees) fall back to the fused compiler
    def indexable(op: Op) = op match {
      // scalar comparisons walk the sorted index; membership/array/regex
      // ops fall back (array-contains-any and regex can never id-push —
      // the index holds scalar keys, not array elements or raw text)
      case Op.Eq | Op.Neq | Op.Lt | Op.Le | Op.Gt | Op.Ge => true
      case _ => false
    }
    val (indexed, rest) = q.where match {
      case Some(ff @ FieldFilter(f, op, _)) if indexable(op) && hasIndex(db, coll, f) =>
        (Some(ff), None)
      case Some(AndFilter(fs)) =>
        val (i, r) = fs.partition {
          case FieldFilter(f, op, _) => indexable(op) && hasIndex(db, coll, f)
          case _ => false
        }
        i.headOption.map(_.asInstanceOf[FieldFilter]) match {
          case Some(ff) =>
            val remaining = (i.drop(1) ++ r)
            (Some(ff), if (remaining.isEmpty) None else Some(AndFilter(remaining)))
          case None => (None, q.where)
        }
      case other => (None, other)
    }
    def scalarLit(v: FieldValue): Column = v match {
      case FieldValue.I64(x) => lit(x)
      case FieldValue.Dbl(x) => lit(x)
      case FieldValue.Bool(x) => lit(x)
      case FieldValue.Str(x) => lit(x)
      case FieldValue.Arr(_) =>
        throw new IllegalStateException("array operand is never indexable")
    }
    // KEYSET-CURSOR range for the index scan: a cursor on the LEADING
    // order key narrows the index exactly like a range filter — the
    // O(page) pagination story against the index. Only the
    // null-REJECTING side can narrow (the index drops null keys, and
    // the other side's tuple-compare ADMITS null keys, which sort
    // before/after everything): ascending head key ⇒ startAt implies
    // idx_key >= v; descending ⇒ endAt implies idx_key >= v. Both
    // derivable sides are relaxations — the full tuple-compare still
    // runs in the fused compiler over the narrowed rows, so this is
    // purely a scan reduction, never a semantics change.
    // ... and only when the cursor value, the order witness and the
    // index key all agree on ONE type: an Int64 index narrows
    // numerically while a string-witnessed ordering compares
    // lexicographically ("10" < "9"), so a type-crossed bound would
    // drop rows the query admits.
    // (no index key is boolean or an array: those compare as NullType)
    def sparkTypeOf(v: FieldValue): DataType = v match {
      case FieldValue.I64(_) => LongType
      case FieldValue.Dbl(_) => DoubleType
      case FieldValue.Str(_) => StringType
      case _ => NullType
    }
    val cursorBound: Option[(String, FieldValue)] =
      q.orderBy.headOption.flatMap { o =>
        val side = if (o.desc) q.endAt else q.startAt
        side.flatMap(_.values.headOption.flatten) match {
          case Some(v) if v.getClass == o.keyType.getClass &&
              hasIndex(db, coll, o.field) &&
              keyType(db, coll, o.field) == sparkTypeOf(v) =>
            Some((o.field, v))
          case _ => None
        }
      }
    if (indexed.isEmpty && cursorBound.isEmpty)
      return DocStore.queryFused(collection(db, coll), q)
    val key = col("idx_key")
    // pick the scan: the where-filter's index wins; the cursor bound
    // ANDs in when it binds the same field, else it serves alone. Beside
    // the predicate, an inclusive [lo, hi] key range it implies: the
    // driver probe's row-group pruning bound
    val (f, pred, lo, hi) = indexed match {
      case Some(FieldFilter(f0, op, v)) =>
        val lit0 = scalarLit(v)
        val (base, l, h) = op match {
          case Op.Eq => (key === lit0, Some(v), Some(v))
          case Op.Neq => (key =!= lit0, None, None)
          case Op.Lt => (key < lit0, None, Some(v))
          case Op.Le => (key <= lit0, None, Some(v))
          case Op.Gt => (key > lit0, Some(v), None)
          case Op.Ge => (key >= lit0, Some(v), None)
          // membership/array/regex ops are filtered out by indexable() above
          case _ => (lit(true), None, None)
        }
        cursorBound match {
          case Some((cf, cv)) if cf == f0 =>
            (f0, base && key >= scalarLit(cv), l.orElse(Some(cv)), h)
          case _ => (f0, base, l, h)
        }
      case None =>
        val (cf, cv) = cursorBound.get
        (cf, key >= scalarLit(cv), Some(cv), None)
    }
    val ids = index(db, coll, f).filter(pred).select(col("_id"))
    // Selective lookups (the indexed-Eq hot path) collect the small
    // surviving id set and PUSH it into the fold via collectionForIds —
    // which then skips every block whose id range excludes the set, so
    // the lookup reads O(matching blocks), not the whole log. The probe
    // itself reads the index's row groups on the driver while those
    // the key range admits fit the bound. Unselective predicates keep
    // the distributed left-semi join (never a big driver collect).
    val probed = driverIndex(db, coll, f, lo, hi).fold(ids)(_.filter(pred).select(col("_id")))
    val probe = probed.limit(MaxPushedIds + 1).collect().map(_.getLong(0)).toSeq
    val narrowed =
      if (probe.length > MaxPushedIds) collection(db, coll).df.join(ids, Seq("_id"), "left_semi")
      else collectionForIds(db, coll, probe).df
    DocStore.queryFused(DocCollection(coll, narrowed), q.copy(where = rest))
  }

  /** Max index-lookup ids pushed as an id filter into the fold; beyond
    * this the distributed semi-join path takes over. */
  private val MaxPushedIds = 1024

  /** A materialized index's rows as a `LocalRelation`, read on the
    * driver from the row groups whose `idx_key` footer range meets
    * [lo, hi] (an operand of another type than the key bounds nothing),
    * or None when those exceed the broadcast bound. */
  private def driverIndex(db: String, coll: String, path: String,
      lo: Option[graft.docstore.FieldValue], hi: Option[graft.docstore.FieldValue]): Option[DataFrame] = {
    import graft.docstore.FieldValue
    val schema = indexSchema(db, coll, path)
    val keep: BlockMetaData => Boolean = schema.head.dataType match {
      case LongType =>
        def v(b: Option[FieldValue]) = b.collect { case FieldValue.I64(x) => java.lang.Long.valueOf(x) }
        statsAdmit[java.lang.Long](_, "idx_key", v(lo), v(hi))
      case StringType =>
        def v(b: Option[FieldValue]) = b.collect { case FieldValue.Str(x) => Binary.fromString(x) }
        statsAdmit[Binary](_, "idx_key", v(lo), v(hi))
      case _ => _ => true
    }
    readSmall(statuses(indexDir(db, coll, path)).map(_ -> keep),
        spark.sessionState.conf.autoBroadcastJoinThreshold) { picked =>
      spark.createDataFrame(
        picked.flatMap { case (_, r, gs) => parquet.decode(r, gs, schema) }.toVector.asJava, schema)
    }
  }

  /** Metadata listings (db_store_v2.rs get_database_of_owner /
    * get_collection_of_database). The node-level `state/` dir (nonce +
    * config cells) is reserved, not a database. */
  def listDatabases(): Seq[String] = listDirs(root).filterNot(_ == "state")

  def listCollections(db: String): Seq[String] = listDirs(s"$root/$db")

  /** GetContractSyncStatus analog (db3_indexer.proto:43
    * ContractSyncStatus{addr, block_number, event_number}): the
    * indexer's per-contract sync progress maps to per-collection ingest
    * progress — last stamped block and mutation count. State-cell +
    * manifest reads; the count is one aggregate over the log. */
  def syncStatus(): Seq[SyncStatusView] =
    for (db <- listDatabases(); coll <- listCollections(db)) yield
      SyncStatusView(db, coll, currentState(db, coll).lastBlock,
        logRead(db, coll)((log, _) => log.count()))

  /** CollectionState.total_doc_count analog. */
  def collectionState(db: String, coll: String): Long =
    planned(db, coll, Long.MaxValue, seeded = true)(folded(_, None).count())

  private def listDirs(p: String): Seq[String] =
    listDir(p).filter(_.isDirectory).map(_.getName).sorted
}

object GraftDB {
  /** JVM-wide monitor per lock file (see `withLock`). */
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // the FULL MutationAction enum (db3_mutation_v2.proto:103-114)
  val ActionCreateDocumentDB = 0
  val ActionAddCollection = 1
  val ActionAdd = 2 // MutationAction.AddDocument
  val ActionDelete = 3 // MutationAction.DeleteDocument
  val ActionUpdate = 4 // MutationAction.UpdateDocument
  val ActionCreateEventDB = 5
  val ActionMintDocumentDB = 6 // on-chain NFT transfer: metadata-only here
  val ActionMintCollection = 7 // on-chain NFT transfer: metadata-only here
  val ActionAddIndex = 8
  val ActionDeleteEventDB = 9

  /** The three actions the document fold interprets; every other enum
    * value is lifecycle bookkeeping that rides the log untouched. */
  val DocActions: Set[Int] = Set(ActionAdd, ActionDelete, ActionUpdate)

  case class MutationRow(block: Long, order: Int, action: Int,
      id: Long, doc: String, mask: String)

  /** RollupRecord analog (rollup_executor.rs RollupRecord{start_block,
    * end_block, mutation_count, raw_data_size, compress_data_size,
    * arweave_tx → path}). Its fields are `rollupManifestSchema`'s
    * columns in order: the rollup manifest stores each record's tuple. */
  case class RollupRecord(startBlock: Long, endBlock: Long,
      mutationCount: Long, compressedBytes: Long,
      rawBytes: Long = 0L, path: String = "")

  /** The per-collection block-state cell (mutation_store.rs:444):
    * last stamped block + next dense doc id, and the count of committed
    * document writes (a cell written before the count existed reads 0). */
  case class CollState(lastBlock: Long, nextId: Long, docWrites: Long = 0L)

  /** An index's cell: its key type and the docWrites it was built at. */
  private[api] case class IndexCell(`type`: String, docWrites: Long)

  /** GetMutationHeader view: header fields + rollup status. */
  case class MutationHeaderView(block: Long, order: Int, action: Int,
      id: Long, rolledUp: Boolean)

  /** GetMutationState view (db3_storage.proto:169-182 MutationStateView;
    * the Arweave/EVM cost fields have no Spark analog and are omitted). */
  case class MutationStateView(mutationCount: Long, totalMutationBytes: Long,
      lastBlock: Long, rollupCount: Long, totalRollupBytes: Long,
      totalRollupRawBytes: Long, totalRollupMutationCount: Long,
      gcCount: Long, totalGcMutationCount: Long)

  /** SystemConfig's rollup-policy knobs (db3_base.proto:22-33; chain and
    * node-url fields omitted — no Spark analog). */
  case class NodeConfig(minRollupSizeBytes: Long = 64L * 1024 * 1024,
      rollupIntervalMs: Long = 60000L, minGcOffset: Long = 0L,
      networkId: Long = 0L)

  private[api] case class StoredConfig(admin: String, config: NodeConfig)

  /** GetSystemStatus view (db3_base.proto:41 SystemStatus). */
  case class SystemStatus(hasInited: Boolean, adminAddr: Option[String],
      config: NodeConfig, versionLabel: String = "graft-spark")

  /** GetContractSyncStatus view (db3_indexer.proto:43). */
  case class SyncStatusView(db: String, collection: String,
      lastBlock: Long, mutationCount: Long)

  /** Doc-id stride for block-encoded ids from partition-parallel appends
    * (id = block·2^31 + order, the DocumentEntryId composition). */
  val IdStride: Long = 1L << 31

  /** SDK-side signed-request builder (the wrapTypedRequest +
    * signTypedData pair of sdk/src/provider/storage_provider_v2.ts):
    * wraps NDJSON docs + nonce in the mutation TypedData shape
    * (Message(bytes payload, string nonce), empty domain) and signs with
    * private scalar `key`. Returns (typedDataJson, signatureHex) — the
    * exact arguments `sendMutation` verifies. */
  def signedMutationRequest(docs: Seq[String], nonce: Long, key: Long): (String, String) = {
    val payloadHex = Keccak256.hexLower(
      docs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val typedData =
      s"""{"types":{"EIP712Domain":[],"Message":[{"name":"payload","type":"bytes"},{"name":"nonce","type":"string"}]},"domain":{},"primaryType":"Message","message":{"payload":"0x$payloadHex","nonce":"$nonce"}}"""
    val sig = Eip712.signOrNull(typedData, key)
    require(sig != null, "signing failed")
    (typedData, sig.toString)
  }

  val rollupManifestSchema: StructType = StructType(Seq(
    StructField("start_block", LongType, nullable = false),
    StructField("end_block", LongType, nullable = false),
    StructField("mutation_count", LongType, nullable = false),
    StructField("compressed_bytes", LongType, nullable = false),
    StructField("raw_bytes", LongType, nullable = false),
    StructField("path", StringType, nullable = false)))

  /** Snapshot manifest: folded-state checkpoints (block, n_docs, path). */
  val snapshotManifestSchema: StructType = StructType(Seq(
    StructField("block", LongType, nullable = false),
    StructField("n_docs", LongType, nullable = false),
    StructField("path", StringType, nullable = false)))

  val gcManifestSchema: StructType = StructType(Seq(
    StructField("start_block", LongType, nullable = false),
    StructField("end_block", LongType, nullable = false),
    StructField("mutation_count", LongType, nullable = false)))

  /** Rollup-compaction manifest: one row per compacted bin — the new
    * dir plus the batch dirs it retires (the OPTIMIZE commit point). */
  val compactManifestSchema: StructType = StructType(Seq(
    StructField("start_block", LongType, nullable = false),
    StructField("end_block", LongType, nullable = false),
    StructField("mutation_count", LongType, nullable = false),
    StructField("compressed_bytes", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("replaced", ArrayType(StringType), nullable = false)))

  /** A snapshot dir's data: the folded (_id, doc) state. Reading with
    * it skips the schema-inference job of an untyped parquet read. */
  private val snapshotSchema: StructType = StructType(Seq(
    StructField("_id", LongType), StructField("doc", StringType)))

  /** Row-group size bound of a snapshot's files: a point read decodes
    * the one group whose `_id` range holds the id, not the whole state. */
  private val SnapshotRowGroupBytes = 1L << 20

  /** One read's inputs, the files `readPlan` listed: blocks above
    * `committed` are invisible (Long.MaxValue: no bound); the block whose
    * state the snapshot seed holds, and its files; each log source's
    * files and the block it is replayed above (None: from its start);
    * and the highest block the rollup store owns. */
  private final case class ReadPlan(committed: Long, seed: Option[(Long, Seq[FileStatus])],
      logs: Seq[(Seq[FileStatus], Option[Long])], rolledHi: Long)

  val mutationSchema: StructType = StructType(Seq(
    StructField("block", LongType, nullable = false),
    StructField("order", IntegerType, nullable = false),
    StructField("action", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("doc", StringType, nullable = true),
    StructField("mask", StringType, nullable = true)))

  /** DocumentMask merge on JSON docs (db3_mutation_v2.proto DocumentMask):
    * masked fields copied from patch (deleted if absent there); null mask
    * = full replace. */
  private[api] def mergeMasked(base: String, patch: String, mask: Option[String]): String = {
    mask match {
      case None => patch
      case Some(m) =>
        import org.json4s._
        val baseObj = JsonMethods.parse(base).asInstanceOf[JObject]
        val patchObj = JsonMethods.parse(patch) match {
          case o: JObject => o
          case _ => JObject()
        }
        val fields = m.split(",").map(_.trim).filter(_.nonEmpty)
        val merged = fields.foldLeft(baseObj) { (acc, f) =>
          patchObj \ f match {
            case JNothing => JObject(acc.obj.filterNot(_._1 == f))
            case v => JObject(acc.obj.filterNot(_._1 == f) :+ (f -> v))
          }
        }
        JsonMethods.compact(JsonMethods.render(merged))
    }
  }

  /** A dir's entries, listed once; empty when the dir is absent or
    * vanishes (a rollup's GC prunes emptied block dirs while unlocked
    * readers size the tail). */
  private def listDir(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).fold(Seq.empty[java.io.File])(_.toSeq)

  // recursive: mutation tails nest per-block subdirs
  private def dirSize(dir: String): Long =
    listDir(dir).map(f => if (f.isFile) f.length() else dirSize(f.getPath)).sum

  /** The per-id replay of the mutation fold, shared by both executors:
    * drop repeated (block, order) stamps, order by stamp, and apply Add,
    * Delete and Update (through `mergeMasked`; an update of an absent or
    * tombstoned id is a no-op). Other actions are lifecycle rows and
    * leave the doc alone. Returns the live doc, None when absent or
    * deleted. A crashed-then-retried append lands the same stamp twice
    * (at-least-once data, exactly-once commit); each stamp replays once,
    * the first after the stable sort. */
  private[api] def replay(muts: Seq[MutationRow]): Option[String] = {
    var doc: String = null
    var last: MutationRow = null
    muts.sortBy(m => (m.block, m.order)).foreach { m =>
      if (last == null || last.block != m.block || last.order != m.order) {
        m.action match {
          case ActionAdd => doc = m.doc
          case ActionDelete => doc = null
          case ActionUpdate =>
            if (doc != null) doc = mergeMasked(doc, m.doc, Option(m.mask))
          case _ =>
        }
      }
      last = m
    }
    Option(doc)
  }

  /** A driver fold's state, (_id, doc) sorted by `_id`, and the files
    * whose row groups it decoded. */
  private[api] final case class DriverFold(rows: Seq[(Long, String)], inputFiles: Seq[String])

  /** The fold's output schema, on both executors. */
  private val foldSchema: StructType = StructType(Seq(
    StructField("_id", LongType, nullable = false),
    StructField("doc", StringType, nullable = true)))

  /** Parquet read on the driver, with one set of read options built from
    * the session's Hadoop conf. (`ParquetReader.builder` made a fresh
    * `Configuration` per file, whose first lookup re-parses the XML
    * defaults: most of a small file's read cost.) */
  private final class DriverParquet(conf: Configuration) {
    private val options = HadoopReadOptions.builder(conf).build()

    def open(file: FileStatus): ParquetFileReader =
      ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options)

    /** Row groups `groups` of an open file as rows of `schema`. A schema
      * column the file lacks reads as null. */
    def decode(r: ParquetFileReader, groups: Seq[Int], schema: StructType): Iterator[Row] = {
      val fileSchema = r.getFooter.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(fileSchema)
      groups.iterator.flatMap { i =>
        val pages = r.readRowGroup(i)
        val records = io.getRecordReader(pages, new GroupRecordConverter(fileSchema))
        Iterator.fill(pages.getRowCount.toInt)(records.read()).map { g =>
          new GenericRowWithSchema(
            schema.fields.map(f => groupValue(g, f.name, f.dataType)), schema): Row
        }
      }
    }
  }

  /** The data files under `dir`, nested dirs included: names starting
    * with `_` or `.` (`_SUCCESS`, `.crc` siblings, a crashed write's
    * `_temporary/`, a cell's temp file) are skipped, files and dirs
    * alike. The one rule for which files a dir holds: every read reads
    * exactly these, and a manifest's records are these. */
  private def readableFiles(dir: String): Seq[java.io.File] =
    listDir(dir).filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .sortBy(_.getName).flatMap(f => if (f.isDirectory) readableFiles(f.getPath) else Seq(f))

  /** `readableFiles(dir)`, each with its status from one stat: a file
    * gone since the listing raises FileNotFoundException, never a
    * zero-length status (Spark's reader would skip it as empty). */
  private def statuses(dir: String): Seq[FileStatus] =
    readableFiles(dir).map { f =>
      val p = f.toPath
      try new FileStatus(Files.size(p), false, 1, 0L, Files.getLastModifiedTime(p).toMillis, new Path(f.toURI))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }

  /** Whether a row group's footer stats on `column` admit a value in
    * [lo, hi] (None = unbounded). A column without min/max admits all. */
  private def statsAdmit[T <: Comparable[T]](rg: BlockMetaData, column: String,
      lo: Option[T], hi: Option[T]): Boolean =
    stats[T](rg, column).forall(s => lo.forall(s.compareMaxToValue(_) >= 0) && hi.forall(s.compareMinToValue(_) <= 0))

  /** Whether a row group's `column` range holds any of `sorted` (ascending). */
  private def statsAdmitAny(rg: BlockMetaData, column: String, sorted: Array[Long]): Boolean =
    stats[java.lang.Long](rg, column).forall { s =>
      val i = java.util.Arrays.binarySearch(sorted, s.genericGetMin.longValue)
      val at = if (i >= 0) i else -i - 1
      at < sorted.length && sorted(at) <= s.genericGetMax.longValue
    }

  /** A row group's footer stats on `column`, when it has a min/max. */
  private def stats[T <: Comparable[T]](rg: BlockMetaData, column: String): Option[Statistics[T]] =
    rg.getColumns.asScala.find(_.getPath.toDotString == column)
      .map(_.getStatistics.asInstanceOf[Statistics[T]]).filter(s => s != null && s.hasNonNullValue)

  private def groupValue(g: Group, name: String, t: DataType): Any =
    if (!g.getType.containsField(name) || g.getFieldRepetitionCount(name) == 0) null
    else t match {
      case LongType => g.getLong(name, 0)
      case IntegerType => g.getInteger(name, 0)
      case DoubleType => g.getDouble(name, 0)
      case StringType => g.getString(name, 0)
      case other =>
        throw new IllegalArgumentException(s"no driver decoder for $name: $other")
    }

  /** A manifest record's value for a column of type `t`; absent or null
    * reads as null. */
  private def recordValue(v: JValue, t: DataType): Any = (v, t) match {
    case (JNothing | JNull, _) => null
    case (JInt(x), LongType) => x.toLong
    case (JString(x), StringType) => x
    case (JArray(xs), ArrayType(e, _)) => xs.map(recordValue(_, e))
    case _ => throw new IllegalArgumentException(s"manifest value $v is not a $t")
  }

  /** One block's share of the mutation tail: rows and payload bytes. */
  private case class BlockStat(block: Long, rows: Long, bytes: Long)

  /** Blocks per rollup epoch: batches never span epochs. */
  private val EpochBlocks = 4096L

  /** The rollup's batch id for each block of `blockBytes` ((block,
    * payload bytes), blocks ascending). The running-size cut is keyed by
    * a 4096-block epoch (the rollup_batches query's "batches never span
    * days" pattern, EventQueries.rollupAssigned): a block's cut is the
    * epoch's bytes BEFORE it divided by `maxBatchBytes`, so a batch closes
    * once its size reaches the bound and an oversized block still opens
    * a batch of its own. Batch id = epoch * 4096 + dense rank of the cut
    * within the epoch: the rank is at most the epoch's block count
    * (<= 4096), so epoch id spaces never collide — a raw cut would
    * overflow its epoch whenever the epoch's bytes exceed
    * 4096 * maxBatchBytes (one oversized block suffices) and merge rows
    * of different epochs into one partition dir. Cuts rise with the
    * block, so batch ids do too. A fold over #blocks rows. */
  private[api] def assignBatches(blockBytes: Seq[(Long, Long)],
      maxBatchBytes: Long): Seq[Long] = {
    var epoch = Long.MinValue
    var running, cut, rank = 0L
    blockBytes.map { case (block, bytes) =>
      val e = Math.floorDiv(block, EpochBlocks)
      if (e != epoch) { epoch = e; running = 0L; cut = -1L; rank = -1L }
      val c = running / maxBatchBytes
      running += bytes
      if (c != cut) { cut = c; rank += 1 }
      e * EpochBlocks + rank
    }
  }

  /** One rollup-store batch dir and the block range it holds. */
  private case class Batch(start: Long, end: Long, count: Long, path: String)

  /** Every rollup and compact record, and the paths compact records
    * retired. A compact record RETIRES the batch dirs it replaced — the
    * record append is the commit point, so a retired dir is never read
    * even while it still exists (the crash window between the append and
    * the delete must not read rows twice), and the compacted dir serves
    * in its place. */
  private case class Batches(all: Seq[Batch], retired: Set[String]) {
    /** The batch dirs reads use, in block order. */
    def live: Seq[Batch] = all.filterNot(b => retired(b.path)).sortBy(_.start)

    /** Highest block the rollup store owns, -1 before the first rollup.
      * Retired records keep counting: their blocks are owned by the
      * compact dir that replaced them. */
    def committedHi: Long = all.map(_.end).maxOption.getOrElse(-1L)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
