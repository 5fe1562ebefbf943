package graft.docstore

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tools.Harness

/** One-JVM A/B for the fused-dispatch boundary: times the SAME
  * StructuredQuery through the per-field compiler ([[DocStore.query]])
  * and the fused single-parse compiler ([[DocStore.queryFusedAlways]])
  * in alternating passes, so box drift hits both arms equally (the r14
  * rule was calibrated from cross-run medians, which is how the
  * single-Eq/In regression slipped in).
  *
  * Two corpora: the events collection of `sfDir` (the declared-query
  * shapes on the knife edge), and a synthetic WIDE collection — the
  * testdata's ~100-byte docs hide the parse cost that dominates real
  * multi-KB document scans, so the wide corpus carries the fused
  * compiler's case.
  *
  * Run: sbt "runMain graft.docstore.DispatchBench <sfDir> [passes]"
  */
object DispatchBench {
  /** Wide corpus shape: docs × string fields of ~40 bytes each. */
  private val WideDocs = 200000L
  private val WideFields = 24

  /** `WideDocs` docs of `WideFields` string fields, persisted, so the
    * A/B measures query cost, not doc synthesis. */
  private def wideCollection(spark: SparkSession): DocCollection = {
    val fields = (0 until WideFields).map(i =>
      concat(lit(s"v${i}_"), (col("id") * (i + 1) % 99991).cast("string"))
        .as(s"f$i"))
    val docs = spark.range(WideDocs)
      .select(col("id").as("_id"), to_json(struct(fields: _*)).as("doc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    docs.count()
    DocCollection("wide", docs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = args.drop(1).headOption.map(_.toInt).getOrElse(7)
    val spark = Harness.session()
    val events = DocStore.eventsCollection(spark, sfDir)
    events.df.count() // warm the collection fixture
    val wide = wideCollection(spark)

    import FieldValue._
    // the declared-query shapes on the knife edge (DocQueries.scala)
    val shapes: Seq[(String, DocCollection, StructuredQuery)] = Seq(
      "eq(sel=same)" -> StructuredQuery(
        where = Some(FieldFilter("event_type", Op.Eq, Str("purchase"))),
        select = Seq("event_type")),
      "in(sel=same)" -> StructuredQuery(
        where = Some(FieldFilter("event_type", Op.In,
          Arr(Seq(Str("signup"), Str("error"))))),
        select = Seq("event_type")),
      "neq(sel=same)" -> StructuredQuery(
        where = Some(FieldFilter("event_type", Op.Neq, Str("error"))),
        select = Seq("event_type")),
      "limit(sel=same)" -> StructuredQuery(
        where = Some(FieldFilter("value", Op.Gt, Dbl(150.0))),
        select = Seq("value"), limit = Some(20)),
      "orderby(sort+sel)" -> StructuredQuery(
        where = Some(FieldFilter("value", Op.Gt, Dbl(150.0))),
        select = Seq("k"),
        orderBy = Seq(Order("k", desc = true, keyType = I64(0))),
        limit = Some(50)),
      "offset(sort+sel)" -> StructuredQuery(
        where = Some(FieldFilter("event_type", Op.Eq, Str("view"))),
        select = Seq("value"),
        orderBy = Seq(Order("value", keyType = Dbl(0))),
        offset = Some(100), limit = Some(40)),
      "cursor(sort+cur)" -> StructuredQuery(
        orderBy = Seq(Order("k", keyType = I64(0))),
        startAt = Some(Cursor(Seq(Some(I64(40))), id = Some(1000L), inclusive = false)),
        endAt = Some(Cursor(Seq(Some(I64(80))))),
        limit = Some(60))).map { case (n, q) => (n, events, q) } :+ (
      // four filters + three projected fields on the wide docs: seven
      // per-field extractions against one fused parse
      ("wide(4f+3sel)", wide, StructuredQuery(
        where = Some(AndFilter(Seq(
          FieldFilter("f0", Op.Neq, Str("x")),
          FieldFilter("f1", Op.Neq, Str("y")),
          FieldFilter("f2", Op.Neq, Str("z")),
          FieldFilter("f3", Op.Neq, Str("w"))))),
        select = Seq("f4", "f5", "f6"))))

    // warm both compilers once per shape
    shapes.foreach { case (_, c, q) =>
      DocStore.query(c, q).count(); DocStore.queryFusedAlways(c, q).count()
    }
    val per = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val fus = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    for (p <- 1 to passes; (name, c, q) <- shapes) {
      def perField() = per(name) = per(name) :+ Harness.seconds(DocStore.query(c, q).count())
      def fused() = fus(name) = fus(name) :+ Harness.seconds(DocStore.queryFusedAlways(c, q).count())
      // alternate arm order per pass so neither arm always runs cold/hot
      if (p % 2 == 1) { perField(); fused() } else { fused(); perField() }
    }
    println(f"${"shape"}%-20s ${"per-field"}%10s ${"fused"}%10s   winner")
    shapes.foreach { case (name, _, _) =>
      val pm = Harness.median(per(name)); val fm = Harness.median(fus(name))
      val w = if (pm <= fm) "per-field" else "fused"
      println(f"$name%-20s $pm%10.3f $fm%10.3f   $w (${fm / pm}%.2fx)")
    }
    spark.stop()
  }
}
