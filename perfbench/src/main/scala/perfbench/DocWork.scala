package perfbench

import graft.api.GraftDB
import graft.docstore._
import graft.functions.crypto.Eip712
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

/** Times operations and checks each result after its timer stops. An
  * operation that throws or whose result the check rejects is failed. */
final class Recorder {
  import Recorder.Sample
  val samples = mutable.ArrayBuffer[Sample]()
  val failures = mutable.Map[String, Int]().withDefaultValue(0)
  val notes = mutable.ArrayBuffer[String]()
  var resultRows = 0L

  def run[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = r.fold(Some(_), v => try check(v) catch { case NonFatal(e) => Some(e.toString) })
    samples += Sample(kind, ms, err.isEmpty)
    err.foreach { m =>
      failures(kind) += 1
      if (notes.size < 20) notes += s"$kind: ${m.take(300)}"
    }
    r.toOption
  }

  def ok(kinds: String*): Seq[Double] =
    samples.toSeq.filter(s => s.ok && kinds.contains(s.kind)).map(_.ms)
}

object Recorder {
  final case class Sample(kind: String, ms: Double, ok: Boolean)
}

/** One docdb query with its independent expected result. Rows render as
  * `col|col|...` in result column order; `doc` columns compare by
  * content. */
final case class DocQuery(label: String, kind: String, str: Option[(String, Map[String, FieldValue])],
    sq: Option[StructuredQuery], ordered: Boolean, expect: DocModel => Seq[String])

object DocQuery {
  import DocModel.canonical
  private val Null = "∅"

  def full(id: Long, d: com.fasterxml.jackson.databind.node.ObjectNode): String =
    s"$id|${canonical(d)}"
  def proj(m: DocModel, id: Long, d: com.fasterxml.jackson.databind.node.ObjectNode,
      fields: String*): String =
    (id.toString +: fields.map(f => m.text(d, f).getOrElse(Null))).mkString("|")

  def render(rows: Array[Row]): Seq[String] = rows.toSeq.map { r =>
    r.schema.fieldNames.indices.map { i =>
      if (r.isNullAt(i)) Null
      else r.schema.fieldNames(i) match {
        case "doc" => canonical(r.getString(i))
        case _ => r.get(i).toString
      }
    }.mkString("|")
  }

  private def tagsOf(d: com.fasterxml.jackson.databind.node.ObjectNode): Set[String] =
    Option(d.get("tags")).filter(_.isArray).toSeq
      .flatMap(a => (0 until a.size).map(a.get(_).asText)).toSet

  /** Query templates; parameters are drawn from `rnd`. */
  def queryStr(i: Int, rnd: Random, nNames: Int): DocQuery = i % 5 match {
    case 0 =>
      val r = rnd.nextInt(100)
      DocQuery("rate_eq", "query", Some(("/[rate = :r]", Map("r" -> FieldValue.I64(r)))), None,
        ordered = false, m => m.live.filter(d => m.long(d._2, "rate").contains(r)).map(d => full(d._1, d._2)).toSeq)
    case 1 =>
      val lo = rnd.nextInt(96); val hi = lo + 2 + rnd.nextInt(3)
      DocQuery("rate_range_proj", "query",
        Some(("/[rate >= :lo] and /[rate < :hi] | /{name, city}",
          Map("lo" -> FieldValue.I64(lo), "hi" -> FieldValue.I64(hi)))), None, ordered = false,
        m => m.live.filter(d => m.long(d._2, "rate").exists(v => v >= lo && v < hi))
          .map(d => proj(m, d._1, d._2, "name", "city")).toSeq)
    case 2 =>
      val cs = Seq.fill(2)(s"c${rnd.nextInt(20)}").distinct
      DocQuery("city_in_desc", "query",
        Some((s"/[city in [${cs.mkString(", ")}]] | desc name | limit 20", Map.empty)), None,
        ordered = true, m => m.live.filter(d => m.text(d._2, "city").exists(cs.contains)).toSeq
          .sortBy(d => m.text(d._2, "name").get).reverse.take(20).map(d => full(d._1, d._2)))
    case 3 =>
      val p = f"^u${rnd.nextInt(math.max(1, nNames / 10))}%05d"
      DocQuery("name_regex_count", "query", Some((s"/[name ~ $p] | count", Map.empty)), None,
        ordered = true, m => Seq(m.live.count(d => m.text(d._2, "name").exists(_.matches(p.drop(1) + ".*"))).toString))
    case _ =>
      val r = rnd.nextInt(100)
      DocQuery("active_rate_asc_proj", "query",
        Some(("/[active = true] and /[rate <= :r] | asc name | limit 10 | /{name, rate}",
          Map("r" -> FieldValue.I64(r)))), None, ordered = true,
        m => m.live.filter(d => Option(d._2.get("active")).exists(_.asBoolean(false)) &&
          m.long(d._2, "rate").exists(_ <= r)).toSeq
          .sortBy(d => m.text(d._2, "name").get).take(10).map(d => proj(m, d._1, d._2, "name", "rate")))
  }

  def structured(i: Int, rnd: Random): DocQuery = i % 2 match {
    case 0 =>
      val z = 10000 + rnd.nextInt(980)
      DocQuery("zip_range", "query", None, Some(StructuredQuery(where = Some(AndFilter(Seq(
        FieldFilter("addr.zip", Op.Ge, FieldValue.I64(z)),
        FieldFilter("addr.zip", Op.Lt, FieldValue.I64(z + 15))))))), ordered = false,
        m => m.live.filter(d => m.long(d._2, "addr.zip").exists(v => v >= z && v < z + 15))
          .map(d => full(d._1, d._2)).toSeq)
    case _ =>
      val t = s"t${rnd.nextInt(30)}"
      DocQuery("tag_contains_asc", "query", None, Some(StructuredQuery(
        where = Some(FieldFilter("tags", Op.ArrayContains, FieldValue.Str(t))),
        select = Seq("name"), orderBy = Seq(Order("name")), limit = Some(15))), ordered = true,
        m => m.live.filter(d => tagsOf(d._2).contains(t)).toSeq
          .sortBy(d => m.text(d._2, "name").get).take(15).map(d => proj(m, d._1, d._2, "name")))
  }

  def indexed(i: Int, rnd: Random): DocQuery =
    indexedFor(i, rnd.nextInt(100), s"c${rnd.nextInt(20)}")

  def indexedFor(i: Int, r: Long, c: String): DocQuery =
    if (i % 2 == 0)
      DocQuery("idx_rate_eq", "indexed_query", None,
        Some(StructuredQuery(where = Some(FieldFilter("rate", Op.Eq, FieldValue.I64(r))))),
        ordered = false, m => m.live.filter(d => m.long(d._2, "rate").contains(r)).map(d => full(d._1, d._2)).toSeq)
    else
      DocQuery("idx_rate_eq_city", "indexed_query", None, Some(StructuredQuery(where = Some(AndFilter(Seq(
        FieldFilter("rate", Op.Eq, FieldValue.I64(r)), FieldFilter("city", Op.Eq, FieldValue.Str(c))))))),
        ordered = false, m => m.live.filter(d => m.long(d._2, "rate").contains(r) &&
          m.text(d._2, "city").contains(c)).map(d => full(d._1, d._2)).toSeq)
}

/** A GraftDB collection driven in step with its reference model. Every
  * operation is timed by the recorder and checked against the model.
  * Traced, each operation is a root span and the harness calls the
  * operation's public decomposition itself, one span per layer. */
final class DocOps(spark: SparkSession, val root: String, var tr: Tracer, var rec: Recorder) {
  import DocOps._
  val db = new GraftDB(spark, root)
  val model = new DocModel
  var payloadBytes = 0L
  var lastBlock = 0L
  var snapBlock = 0L
  val tailAtRead = mutable.ArrayBuffer[Long]()
  val commitFiles = mutable.ArrayBuffer[Long]()
  val commitLogBytes = mutable.ArrayBuffer[(Long, Long)]() // (bytes written, payload bytes)
  val rollupRecords = mutable.ArrayBuffer[GraftDB.RollupRecord]()
  val rolledMs = mutable.ArrayBuffer[Double]()
  private val docSchema = StructType(Seq(StructField("doc", StringType)))

  def collDir: java.io.File = new java.io.File(s"$root/$Db/$Coll")

  def create(): Unit = db.createCollection(Db, Coll)

  /** Bulk-loads one block partition-parallel, as `appendDocumentsAt`
    * does, and mirrors the ids it assigns: partition p of the input holds
    * the p-th slice and stamps order p * 2^20 + row. */
  def bulkLoad(block: Long, docs: IndexedSeq[String], parts: Int): Unit = {
    val rdd = spark.sparkContext.parallelize(docs.map(Row(_)), parts)
    db.appendDocumentsAt(Db, Coll, block, spark.createDataFrame(rdd, docSchema), "doc")
    val n = docs.length
    for (p <- 0 until parts) {
      val start = (p.toLong * n / parts).toInt
      val end = ((p + 1).toLong * n / parts).toInt
      for (i <- start until end)
        model.add(block * GraftDB.IdStride + (p.toLong << 20) + (i - start), docs(i))
    }
    payloadBytes += docs.map(utf8).sum
    lastBlock = math.max(lastBlock, block)
  }

  private def utf8(s: String): Long = s.getBytes("UTF-8").length.toLong

  /** Runs a commit; traced, also records the files and bytes it adds. */
  private def commit[T](kind: String, payload: Long)(body: => T)(apply: T => Unit,
      check: T => Option[String] = (_: T) => None): Option[T] = {
    val before = if (tr.enabled) Some(DocOps.walk(collDir)) else None
    val r = rec.run(kind)(tr.span(s"op.$kind")(tr.span("api.commit")(body)))(check)
    r.foreach { v =>
      apply(v); payloadBytes += payload; lastBlock += 1
      before.foreach { case (f0, b0) =>
        val (f1, b1) = DocOps.walk(collDir)
        commitFiles += f1 - f0; commitLogBytes += ((b1 - b0, payload))
      }
    }
    r
  }

  def add(docs: Seq[String]): Option[Seq[Long]] =
    commit("commit", docs.map(utf8).sum)(db.addDocuments(Db, Coll, docs))(
      ids => ids.zip(docs).foreach { case (id, d) => model.add(id, d) },
      ids => if (ids.length == docs.length) None else Some(s"${ids.length} ids for ${docs.length} docs"))

  def update(ids: Seq[Long], patches: Seq[(String, Seq[String])]): Unit =
    commit("commit", patches.map(p => utf8(p._1)).sum)(
      db.updateDocuments(Db, Coll, ids, patches.map(_._1), patches.map(_._2)))(
      _ => ids.zip(patches).foreach { case (id, (p, m)) => model.update(id, p, m) })

  def delete(ids: Seq[Long]): Unit =
    commit("commit", 0L)(db.deleteDocuments(Db, Coll, ids))(_ => ids.foreach(model.delete))

  /** The signed write path. Traced, the harness runs sendMutation's
    * public steps itself: recover the sender, then the nonce-guarded add. */
  def signed(req: SignedRequest): Unit = {
    val payload = req.docs.map(utf8).sum
    val before = if (tr.enabled) Some(DocOps.walk(collDir)) else None
    rec.run("signed_commit")(tr.span("op.signed_commit") {
      if (!tr.enabled) db.sendMutation(Db, Coll, req.typedData, req.sig)._2
      else {
        val sender = tr.span("crypto.recover")(Eip712.recoverAddressOrNull(req.typedData, req.sig))
        require(sender != null, "signature did not recover")
        tr.span("api.commit")(db.addDocuments(Db, Coll, req.docs, sender.toString, req.nonce))
      }
    })(ids => if (ids.length == req.docs.length) None else Some(s"${ids.length} ids for ${req.docs.length} docs"))
      .foreach { ids =>
        ids.zip(req.docs).foreach { case (id, d) => model.add(id, d) }
        payloadBytes += payload; lastBlock += 1
        before.foreach { case (f0, b0) =>
          val (f1, b1) = DocOps.walk(collDir)
          commitFiles += f1 - f0; commitLogBytes += ((b1 - b0, payload))
        }
      }
  }

  def pointRead(id: Long): Unit = {
    tailAtRead += lastBlock - snapBlock
    val want = model.get(id)
    rec.run("point_read")(tr.span("op.point_read") {
      if (!tr.enabled) db.getDoc(Db, Coll, id)
      else {
        val c = tr.span("api.build")(db.collectionForIds(Db, Coll, Seq(id)))
        tr.span("spark.action")(c.df.select("doc").head(1).headOption.map(_.getString(0)))
      }
    }) { got =>
      rec.resultRows += 1
      if (got.map(DocModel.canonical) == want) None else Some(s"getDoc($id) = $got, model $want")
    }
  }

  /** Runs `q` and checks its rows against the model; returns whether the
    * result matched. */
  def query(q: DocQuery, kind: String = ""): Boolean = {
    tailAtRead += lastBlock - snapBlock
    val want = q.expect(model)
    val k = if (kind.isEmpty) q.kind else kind
    rec.run(k)(tr.span(s"op.$k")(runQuery(q))) { rows =>
      rec.resultRows += math.max(1, rows.length)
      val got = DocQuery.render(rows)
      val same = if (q.ordered) got == want else got.sorted == want.sorted
      if (same) None else Some(s"${q.label}: ${got.size} rows, model ${want.size}")
    }.isDefined && rec.samples.last.ok
  }

  private def runQuery(q: DocQuery): Array[Row] = (q.str, q.sq, q.kind) match {
    case (Some((s, params)), _, _) =>
      if (!tr.enabled) db.queryStr(Db, Coll, s, params).collect()
      else {
        val parsed = tr.span("docstore.parse")(QueryStr.parse(s, params))
        val c = tr.span("api.build")(db.collection(Db, Coll))
        val df = tr.span("docstore.compile") {
          val res = DocStore.queryFused(c, parsed.sq)
          if (parsed.count) res.agg(count(lit(1)).as("count")) else res
        }
        tr.span("spark.action")(df.collect())
      }
    case (None, Some(sq), "indexed_query") =>
      val df = tr.span("api.build")(db.queryWithIndex(Db, Coll, sq))
      tr.span("spark.action")(df.collect())
    case (None, Some(sq), _) =>
      if (!tr.enabled) db.query(Db, Coll, sq).collect()
      else {
        val c = tr.span("api.build")(db.collection(Db, Coll))
        val df = tr.span("docstore.compile")(DocStore.query(c, sq))
        tr.span("spark.action")(df.collect())
      }
    case _ => throw new IllegalArgumentException(s"bad query ${q.label}")
  }

  /** The rollup tick the node runs after a commit. A tick that rolled
    * counts as maintenance; a tick that found nothing due is a check. */
  def rollupTick(): Unit = {
    val t0 = System.nanoTime()
    val recs = tr.span("op.rollup")(tr.span("api.rollup")(db.rollupIfDue(Db, Coll)))
    val ms = (System.nanoTime() - t0) / 1e6
    rec.samples += Recorder.Sample(if (recs.nonEmpty) "maintenance" else "rollup_check", ms, ok = true)
    if (recs.nonEmpty) rolledMs += ms
    rollupRecords ++= recs
  }

  def snapshot(): Unit =
    rec.run("maintenance")(tr.span("op.snapshot")(tr.span("api.snapshot")(db.snapshot(Db, Coll)))) {
      case (_, n) => if (n == model.docs.size) None else Some(s"snapshot has $n docs, model ${model.docs.size}")
    }.foreach { case (b, _) => snapBlock = b }

  /** A fresh GraftDB on the same root folds to the model's state. */
  def restartCheck(): Option[String] = {
    val fresh = new GraftDB(spark, root)
    val got = fresh.collection(Db, Coll).df.collect()
      .map(r => r.getLong(0) -> DocModel.canonical(r.getString(1))).toMap
    val want = model.docs.map { case (id, d) => id -> DocModel.canonical(d) }.toMap
    if (got == want) None
    else Some(s"restart fold has ${got.size} docs, model ${want.size}; " +
      s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} differ")
  }
}

final case class SignedRequest(docs: Seq[String], nonce: Long, typedData: String, sig: String)

object DocOps {
  val Db = "bench"
  val Coll = "docs"

  /** (files, bytes) under `d`. */
  def walk(d: java.io.File): (Long, Long) =
    if (d.isFile) (1L, d.length)
    else Option(d.listFiles).toSeq.flatten.map(walk).foldLeft((0L, 0L)) {
      case ((f, b), (f2, b2)) => (f + f2, b + b2)
    }
}
