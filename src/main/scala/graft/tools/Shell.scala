package graft.tools

import scala.util.control.NonFatal

import graft.api.GraftDB
import graft.docstore.FieldValue

/** Interactive console client — the reference ships one
  * (cmd/src/shell.rs: a REPL over the client command set;
  * cmd/src/command.rs:41 `DB3ClientCommand`: new-db / show-db /
  * new-collection / show-collection / new-doc / update-doc / del-doc /
  * get-doc / show-doc-with-filter / show-account / show-state). This is
  * the local analog over `GraftDB`: same verbs, the EJDB-style query
  * string for `show-doc` filters (the SDK surface `queryStr` already
  * implements), plus the rollup/snapshot/index admin the reference
  * drives through its node. Driver-side tool by design (a console
  * prints rows); the library operators it calls stay distributed.
  *
  * Reads commands from stdin, so it works interactively and piped.
  * `sbt runMain` gives a forked main no stdin, so run it on the
  * exported classpath:
  *   java --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  *     -cp "$(sbt -batch -error 'export Runtime/fullClasspath' | tail -1)" \
  *     graft.tools.Shell [rootDir]
  */
object Shell {

  val Help: String =
    """commands:
      |  show-db                                 list databases
      |  show-collection <db>                    list collections with doc counts
      |  new-collection <db> <coll>              create a collection
      |  new-doc <db> <coll> <json>              add one document (prints id)
      |  update-doc <db> <coll> <id> <json> [mask,fields]   masked/whole update
      |  del-doc <db> <coll> <id>                tombstone a document
      |  get-doc <db> <coll> <id>                point-read one live doc
      |  show-doc <db> <coll> [query] [limit]    filtered docs (EJDB query string)
      |  new-index <db> <coll> <path> <type>     materialize a typed index
      |  rollup <db> <coll>                      compact the mutation tail
      |  snapshot <db> <coll>                    checkpoint the folded state
      |  show-state <db> <coll>                  mutation/rollup/gc counters
      |  show-account <addr>                     next nonce for a sender
      |  init                                    create the keystore (like the reference's init)
      |  show-key                                the keystore's signing address
      |  send-mutation <db> <coll> <ndjson>      SIGNED write: sign with the keystore key,
      |                                          auto-nonce, sender recovered server-side
      |  help | exit""".stripMargin

  /** Keystore analog (cmd/src/keystore.rs): the signing key persisted
    * beside the node state; `init` creates it, `show-key` prints the
    * derived address, `send-mutation` signs with it. */
  private def keystorePath(root: String) = s"$root/state/keystore.json"

  private def readKey(root: String): Option[Long] = {
    val p = java.nio.file.Paths.get(keystorePath(root))
    if (!java.nio.file.Files.exists(p)) None
    else Some(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(p)).get("key").asLong())
  }

  /** The address the key signs as — derived by signing a probe message
    * and recovering it, the only address derivation the crypto surface
    * needs to expose. */
  private def keyAddress(key: Long): String = {
    val (td, sig) = GraftDB.signedMutationRequest(Seq("{}"), 0L, key)
    String.valueOf(
      graft.functions.crypto.Eip712.recoverAddressOrNull(td, sig))
  }

  /** Execute one console line against `db` rooted at `root`; returns
    * the printable result (testable core — the REPL loops over stdin). */
  def execute(db: GraftDB, root: String, line: String): String = {
    // json payloads contain spaces: split only the leading verb+args,
    // keep the tail verbatim from the nth token on
    def tail(n: Int): String = {
      var rest = line.trim
      var i = 0
      while (i < n) {
        val sp = rest.indexWhere(_.isWhitespace)
        if (sp < 0) return ""
        rest = rest.substring(sp).trim
        i += 1
      }
      rest
    }
    val toks = line.trim.split("\\s+").toList
    toks match {
      case Nil | List("") => ""
      case "help" :: _ => Help
      case "show-db" :: Nil =>
        val dbs = db.listDatabases()
        if (dbs.isEmpty) "(no databases)" else dbs.mkString("\n")
      case "show-collection" :: d :: Nil =>
        val colls = db.listCollections(d)
        if (colls.isEmpty) "(no collections)"
        else colls.map(c => s"$c\t${db.collectionState(d, c)} docs").mkString("\n")
      case "new-collection" :: d :: c :: Nil =>
        db.createCollection(d, c); s"created $d/$c"
      case "new-doc" :: d :: c :: _ =>
        val doc = tail(3)
        require(doc.nonEmpty, "new-doc needs a json body")
        val ids = db.addDocuments(d, c, Seq(doc))
        s"id ${ids.head}"
      case "update-doc" :: d :: c :: id :: _ =>
        val rest = tail(4)
        // mask = trailing comma-list token without spaces or braces
        val (doc, mask) = {
          val sp = rest.lastIndexWhere(_.isWhitespace)
          val last = if (sp >= 0) rest.substring(sp).trim else ""
          if (sp >= 0 && last.nonEmpty && !last.exists(ch => ch == '{' || ch == '}'))
            (rest.substring(0, sp).trim, last.split(",").toSeq.filter(_.nonEmpty))
          else (rest, Seq.empty[String])
        }
        require(doc.nonEmpty, "update-doc needs a json body")
        db.updateDocuments(d, c, Seq(id.toLong), Seq(doc), Seq(mask))
        s"updated $id" + (if (mask.nonEmpty) s" mask=${mask.mkString(",")}" else "")
      case "del-doc" :: d :: c :: id :: Nil =>
        db.deleteDocuments(d, c, Seq(id.toLong)); s"deleted $id"
      case "get-doc" :: d :: c :: id :: Nil =>
        db.getDoc(d, c, id.toLong).getOrElse("(not found)")
      case "show-doc" :: d :: c :: rest =>
        // optional trailing integer = limit; everything before = query
        val (limit, qToks) = rest.reverse match {
          case n :: init if n.forall(_.isDigit) => (n.toInt, init.reverse)
          case _ => (20, rest)
        }
        val q = qToks.mkString(" ")
        val df =
          if (q.isEmpty) db.collection(d, c).df
          else db.queryStr(d, c, q, Map.empty[String, FieldValue])
        val rows = df.head(limit + 1)
        val shown = rows.take(limit).map(_.toSeq.mkString("\t")).mkString("\n")
        if (rows.length > limit) shown + s"\n... (> $limit rows)" else shown
      case "new-index" :: d :: c :: path :: tpe :: Nil =>
        db.addIndex(d, c, path, tpe); s"indexed $path ($tpe)"
      case "rollup" :: d :: c :: Nil =>
        val recs = db.rollup(d, c)
        if (recs.isEmpty) "(nothing to roll)"
        else recs.map(r => s"blocks ${r.startBlock}..${r.endBlock} " +
          s"${r.mutationCount} muts ${r.compressedBytes} bytes").mkString("\n")
      case "snapshot" :: d :: c :: Nil =>
        val (blk, n) = db.snapshot(d, c); s"snapshot at block $blk ($n docs)"
      case "show-state" :: d :: c :: Nil =>
        val s = db.mutationState(d, c)
        s"mutations ${s.mutationCount} (${s.totalMutationBytes} bytes), " +
          s"last block ${s.lastBlock}, rollups ${s.rollupCount} " +
          s"(${s.totalRollupBytes} bytes of ${s.totalRollupRawBytes} raw, " +
          s"${s.totalRollupMutationCount} muts), gc ${s.gcCount} " +
          s"(${s.totalGcMutationCount} muts)"
      case "show-account" :: addr :: Nil =>
        s"next nonce ${db.getNonce(addr)}"
      case "init" :: Nil =>
        readKey(root) match {
          case Some(k) => s"keystore exists (address ${keyAddress(k)})"
          case None =>
            // mask to a POSITIVE scalar (math.abs(Long.MinValue) stays
            // negative and the signer requires key > 0)
            val k = (new java.security.SecureRandom().nextLong()
              & Long.MaxValue).max(1L)
            val p = java.nio.file.Paths.get(keystorePath(root))
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.writeString(p, s"""{"key":$k}""")
            s"keystore created (address ${keyAddress(k)})"
        }
      case "show-key" :: Nil =>
        readKey(root) match {
          case Some(k) => keyAddress(k)
          case None => "(no keystore — run 'init')"
        }
      case "send-mutation" :: d :: c :: _ =>
        // the reference client's real write path: payload signed with
        // the keystore key, nonce fetched-and-consumed, sender
        // RECOVERED from the signature server-side (never trusted).
        // Multiple docs separated by ';;' on one console line.
        val key = readKey(root).getOrElse(
          throw new IllegalStateException("no keystore — run 'init'"))
        val docs = tail(3).split(";;").map(_.trim).filter(_.nonEmpty).toSeq
        require(docs.nonEmpty, "send-mutation needs a json payload")
        val nonce = db.getNonce(keyAddress(key))
        val (td, sig) = GraftDB.signedMutationRequest(docs, nonce, key)
        val (sender, ids) = db.sendMutation(d, c, td, sig)
        s"sender $sender ids ${ids.mkString(",")}"
      case verb :: _ =>
        s"unknown command: $verb (try 'help')"
    }
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft_shell_db")
    val spark = Harness.session()
    val db = new GraftDB(spark, root)
    println(s"graft console over $root — 'help' for commands")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = ""
    while ({ print("graft> "); System.out.flush(); line = in.readLine(); line != null } &&
        line.trim != "exit" && line.trim != "quit") {
      if (line.trim.nonEmpty) {
        try println(execute(db, root, line))
        catch { case NonFatal(e) => println(s"error: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
