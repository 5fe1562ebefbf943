package graft.api

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.util.Random

/** The rollup's driver-side batch assignment against the window-based
  * assignment it replaced, over seeded random block layouts; and every
  * RollupRecord against an aggregate over the run dir it describes. */
class GraftDBRollupSpec extends SparkSpec {

  private val EpochBlocks = 4096L

  /** One generated layout: (block, payload bytes) ascending and the
    * batch bound. */
  private case class Layout(blocks: Seq[(Long, Long)], maxBatchBytes: Long)

  private def layout(rnd: Random): Layout = {
    // at least three epochs with gaps: one block in each of epochs 0-2,
    // a contiguous run somewhere, and scattered blocks up to epoch 4
    val anchors = (0 until 3).map(e => e * EpochBlocks + rnd.nextInt(EpochBlocks.toInt))
    val runStart = rnd.nextInt(5 * EpochBlocks.toInt).toLong
    val run = (0L until 1L + rnd.nextInt(40)).map(runStart + _)
    val scattered = Seq.fill(rnd.nextInt(30))(rnd.nextInt(5 * EpochBlocks.toInt).toLong)
    val ids = (anchors ++ run ++ scattered).distinct.sorted
    val blocks = ids.map { b =>
      val bytes = rnd.nextInt(10) match {
        case 0 => 100000L + rnd.nextInt(1000000) // far above most bounds
        case 1 => 24L // one empty mutation
        case _ => 24L + rnd.nextInt(2000)
      }
      (b, bytes)
    }
    val total = blocks.map(_._2).sum
    val max = rnd.nextInt(6) match {
      case 0 => 1L
      case 1 => total + 1 + rnd.nextInt(1000) // above the total
      case _ => 1L + (math.pow(rnd.nextDouble(), 3) * total).toLong
    }
    Layout(blocks, max)
  }

  /** The assignment as the rollup computed it before the driver fold:
    * per-epoch running sum, cut = bytes before the block / bound, batch
    * = epoch * 4096 + dense rank of the cut. All layouts in one pass,
    * partitioned by layout. */
  private def windowAssign(layouts: Seq[Layout]): Map[(Int, Long), Long] = {
    import spark.implicits._
    val rows = layouts.zipWithIndex.flatMap { case (l, i) =>
      l.blocks.map { case (b, bytes) => (i, b, bytes, l.maxBatchBytes) }
    }
    val byEpoch = Window.partitionBy(col("case"), col("epoch")).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byCut = Window.partitionBy(col("case"), col("epoch")).orderBy(col("cut"))
    rows.toDF("case", "block", "bytes", "max")
      .withColumn("epoch", floor(col("block") / EpochBlocks))
      .withColumn("running", sum(col("bytes")).over(byEpoch))
      .withColumn("cut", ((col("running") - col("bytes")) / col("max")).cast("long"))
      .withColumn("batch", col("epoch") * EpochBlocks + dense_rank().over(byCut) - 1)
      .select("case", "block", "batch").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("driver batch assignment equals the window assignment (240 seeded layouts)") {
    val layouts = (1 to 240).map(seed => layout(new Random(seed)))
    assert(layouts.exists(_.maxBatchBytes == 1L))
    assert(layouts.exists(l => l.maxBatchBytes > l.blocks.map(_._2).sum))
    assert(layouts.forall(l => l.blocks.map(_._1 / EpochBlocks).distinct.length >= 3))
    val reference = windowAssign(layouts)
    layouts.zipWithIndex.foreach { case (l, i) =>
      val got = GraftDB.assignBatches(l.blocks, l.maxBatchBytes)
      val ctx = s"layout $i (max ${l.maxBatchBytes})"
      assert(l.blocks.map(b => reference((i, b._1))) === got, ctx)
      // ids rise with block order, and each epoch keeps its own id space
      assert(got.zip(got.drop(1)).forall { case (a, b) => a <= b }, ctx)
      l.blocks.map(_._1).zip(got).foreach { case (block, batch) =>
        assert(Math.floorDiv(batch, EpochBlocks) === Math.floorDiv(block, EpochBlocks), ctx)
      }
    }
  }

  test("each RollupRecord equals an aggregate over the written run dir") {
    val rowBytes = coalesce(length(col("doc")).cast("long"), lit(0L)) +
      coalesce(length(col("mask")).cast("long"), lit(0L)) + lit(24L)
    (1 to 6).foreach { seed =>
      val rnd = new Random(seed)
      val db = new GraftDB(spark, Files.createTempDirectory("graftrollup").toString)
      db.createCollection("d", "c")
      def docs(n: Int) = (1 to n).map(i => s"""{"i":$i,"p":"${"y" * rnd.nextInt(300)}"}""")
      // locked writes, one jump into a later epoch, masked updates, deletes
      val ids = (1 to 4).flatMap(_ => db.addDocuments("d", "c", docs(1 + rnd.nextInt(6))))
      import spark.implicits._
      db.appendDocumentsAt("d", "c", EpochBlocks + rnd.nextInt(100),
        docs(1 + rnd.nextInt(5)).toDF("doc"))
      db.updateDocuments("d", "c", ids.take(2), Seq("""{"i":0}""", """{"z":1}"""),
        Seq(Seq("i"), Seq("z", "p")))
      db.deleteDocuments("d", "c", ids.slice(2, 3))
      (1 to 3).foreach(_ => db.addDocuments("d", "c", docs(1 + rnd.nextInt(4))))
      val before = db.collection("d", "c").df.collect().toSet
      val recs = db.rollup("d", "c", maxBatchBytes = 1L + rnd.nextInt(1500))
      assert(recs.nonEmpty)
      val runDir = new java.io.File(recs.head.path).getParent
      val agg = spark.read.parquet(runDir).groupBy(col("batch").cast("long"))
        .agg(min(col("block")), max(col("block")), count(lit(1)), sum(rowBytes))
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(agg.size === recs.length, s"seed $seed")
      recs.foreach { rec =>
        val r = agg(rec.path.split("batch=").last.toLong)
        assert((rec.startBlock, rec.endBlock, rec.mutationCount, rec.rawBytes) ===
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))), s"seed $seed")
        val files = new java.io.File(rec.path).listFiles()
        assert(rec.compressedBytes === files.map(_.length).sum, s"seed $seed")
      }
      assert(db.collection("d", "c").df.collect().toSet === before, s"seed $seed")
    }
  }
}
