package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.sources.Tables

/** SURVEY.md §2D — multimodal-column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata; the
  * decode / feature-extract step runs BATCHED per partition via a typed
  * `mapPartitions` (the Scala analog of `mapInPandas`: one opaque decoder
  * instantiation per batch, not per row — the shape a real image/audio
  * codec needs). The decoder here is a DETERMINISTIC STUB (no media libs
  * in this container): it derives fake width/height/frames from the bytes.
  * Everything around it — binary schema, metadata, batching, partition
  * parallelism — is the real plumbing and is oracle-checked.
  */
case class MediaRow(doc_id: Long, n_bytes: Long, sha: String)
case class DecodedMedia(doc_id: Long, n_bytes: Long, sha: String,
    width: Long, height: Long, n_frames: Long)
case class FeatRow(doc_id: Long, dim: Long, feat: Long)

object Multimodal {

  def mmBinaryMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withBin = Tables.documents(spark, dir)
      .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha"))
      .as[MediaRow]
    // Batched opaque decode: one "decoder" per partition, rows streamed
    // through it. STUB: replace decodeStub with a real codec binding.
    withBin.mapPartitions { rows =>
      val decoder = new Object // per-partition decoder instantiation point
      rows.map { r =>
        val _ = decoder
        decodeStub(r)
      }
    }.toDF()
  }

  /** Deterministic fake decode — stands in for image/audio decoding. */
  private def decodeStub(r: MediaRow): DecodedMedia =
    DecodedMedia(r.doc_id, r.n_bytes, r.sha,
      width = r.n_bytes % 640L,
      height = (r.n_bytes * 31L) % 480L,
      n_frames = (r.doc_id % 10L) + 1L)

  val mmBinaryMetaSql: String =
    """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, sha256(text) AS sha,
      |  CAST(strlen(text) AS BIGINT) % 640 AS width,
      |  (CAST(strlen(text) AS BIGINT) * 31) % 480 AS height,
      |  (doc_id % 10) + 1 AS n_frames
      |FROM documents""".stripMargin

  /** Frame sampling: a uniform-stride schedule of up to 4 frames per
    * video, computed from the decoded frame count — the plan a real
    * frame extractor executes (idx_j = ⌊j·n/4⌋, deduped when n < 4).
    * Pure column math over the decode output; the extraction itself
    * would be another batched opaque pass. */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 4
    mmBinaryMeta(spark, dir)
      .select(col("doc_id"), col("n_frames"),
        explode(array_distinct(transform(sequence(lit(0), lit(k - 1)),
          j => (j * col("n_frames") / k).cast("long")))).as("frame_idx"))
  }

  val mmFrameSampleSql: String =
    """SELECT DISTINCT doc_id, (doc_id % 10) + 1 AS n_frames,
      |  (j * ((doc_id % 10) + 1)) // 4 AS frame_idx
      |FROM documents, range(4) t(j)""".stripMargin

  /** Batched feature extraction (the `mapInPandas` shape in Scala): one
    * "model" instantiation per partition, rows streamed through it, an
    * 8-dim feature row per (doc, dim). The model is a DETERMINISTIC STUB
    * (integer mix of payload length and id — no media/ML libs in this
    * container); the batching, typed long-format output, and partition
    * parallelism are the real plumbing, oracle-checked. */
  def mmFeatureStub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dims = 8
    Tables.documents(spark, dir)
      .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("payload"))
      .select(col("doc_id"), octet_length(col("payload")).cast("long").as("n_bytes"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        val model = new Object // per-partition model-load point
        rows.flatMap { case (docId, nBytes) =>
          val _ = model
          (0 until dims).map { i =>
            FeatRow(docId, i.toLong,
              (nBytes * (31 + 7 * i) + docId * (17 + 3 * i)) % 1000)
          }
        }
      }.toDF()
  }

  val mmFeatureStubSql: String =
    """SELECT doc_id, j AS dim,
      |  (CAST(strlen(text) AS BIGINT) * (31 + 7 * j) + doc_id * (17 + 3 * j)) % 1000 AS feat
      |FROM documents, range(8) t(j)""".stripMargin

  /** Resize planning: target dimensions fitting the decoded frame into
    * 224×224 preserving aspect ratio — integer math over the decode
    * metadata (the resize itself is the next batched opaque pass). */
  def mmResizePlan(spark: SparkSession, dir: String): DataFrame = {
    mmBinaryMeta(spark, dir)
      .withColumn("w1", greatest(col("width"), lit(1L)))
      .withColumn("h1", greatest(col("height"), lit(1L)))
      .select(col("doc_id"), col("w1"), col("h1"),
        when(col("w1") >= col("h1"), 224L)
          .otherwise(expr("(w1 * 224) div h1")).as("new_w"),
        when(col("w1") >= col("h1"), expr("(h1 * 224) div w1"))
          .otherwise(224L).as("new_h"))
  }

  val mmResizePlanSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    greatest(CAST(strlen(text) AS BIGINT) % 640, 1) AS w1,
      |    greatest((CAST(strlen(text) AS BIGINT) * 31) % 480, 1) AS h1
      |  FROM documents)
      |SELECT doc_id, w1, h1,
      |  CASE WHEN w1 >= h1 THEN 224 ELSE (w1 * 224) // h1 END AS new_w,
      |  CASE WHEN w1 >= h1 THEN (h1 * 224) // w1 ELSE 224 END AS new_h
      |FROM d""".stripMargin

  /** Perceptual-hash (dHash) near-duplicate detection over decoded
    * images — the image twin of simhash dedup: resized/cropped/
    * re-encoded copies keep a near-identical gradient hash even though
    * their bytes (and so `dedup_exact`) differ completely.
    *
    * The decode→8×9-grayscale-grid step is the per-partition batched
    * STUB (no codecs in this container); the dHash construction on top
    * of the grid — row-wise gradient bits — and everything after it is
    * the real operator. The stub gives consecutive doc pairs (2k, 2k+1)
    * the same scrambled pixel grid with the odd doc brightened at one
    * cell (≤ 2 flipped gradient bits), so genuine near-dups exist and
    * are LINEAR in corpus size (no quadratic dup classes).
    *
    * Scale shape: identical to `dedup_simhash` — 4×16-bit pigeonhole
    * bands (hamming ≤ 3 pairs must share a band), candidate pairs only
    * within (band, chunk) buckets, exact hamming verify. Rows-only;
    * spec re-derives every hash driver-side and checks the planted
    * pairs are exactly recovered. */
  def mmPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val decoder = new Object // per-partition codec instantiation point
        ids.map { d => val _ = decoder; (d, phashStub(d)) }
      }.toDF("doc_id", "ph")
    // collapse to DISTINCT hashes before banding (the duplicate-cluster
    // guard, cf. Dedup.dedupSimhash — identical images have identical
    // dHashes, so every chunk of a k-duplicate cluster collides: k²
    // candidate rows per band). Banding runs over unique hashes;
    // identical-hash members expand afterward with hamming exactly 0.
    val members = hashed.select(col("ph"), col("doc_id"))
    val reps = hashed.groupBy(col("ph")).agg(min(col("doc_id")).as("rid"))
    val banded = reps.select(col("ph"), col("rid"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("ph"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .select(col("ph"), col("rid"), col("pos").as("band"), col("col").as("chunk"))
    val l = banded.select(col("band"), col("chunk"), col("ph").as("a_ph"), col("rid").as("a_rid"))
    val r = banded.select(col("band"), col("chunk"), col("ph").as("b_ph"), col("rid").as("b_rid"))
    val repPairs = l.join(r, Seq("band", "chunk"))
      .filter(col("a_rid") < col("b_rid"))
      .select(col("a_ph"), col("b_ph"),
        bit_count(col("a_ph").bitwiseXOR(col("b_ph"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    val cross = repPairs
      .join(members.select(col("ph").as("a_ph"), col("doc_id").as("aid")), Seq("a_ph"))
      .join(members.select(col("ph").as("b_ph"), col("doc_id").as("bid")), Seq("b_ph"))
      .select(least(col("aid"), col("bid")).as("a_id"),
        greatest(col("aid"), col("bid")).as("b_id"), col("hamming"))
    val within = members.select(col("ph"), col("doc_id").as("aid"))
      .join(members.select(col("ph"), col("doc_id").as("bid")), Seq("ph"))
      .filter(col("aid") < col("bid"))
      .select(col("aid").as("a_id"), col("bid").as("b_id"), lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  /** Deterministic stub for decode→resize→grayscale→dHash: the pixel
    * grid is a per-image-class integer scramble (classes = doc_id/2, so
    * class hashes are ~independent and planted pairs are linear); the
    * dHash on top — bit (r,c) = px(r,c) < px(r,c+1) over an 8×9 grid —
    * is the real construction a codec-backed decoder would feed. */
  private[pipeline] def phashStub(d: Long): Long = {
    val cls = d / 2
    val odd = (d & 1L) == 1L
    val pr = (d % 8).toInt
    val pc = (d % 9).toInt
    // splitmix64 finalizer over the injective (cls, rr, cc) index — the
    // grid must look like an actual image hash (i.i.d. bits per class),
    // else unrelated "images" land within the hamming threshold
    def px(rr: Int, cc: Int): Long = {
      var z = cls * 72L + rr * 9L + cc + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      val base = (z ^ (z >>> 31)) & 0xffL
      if (odd && rr == pr && cc == pc) (base + 200L) & 0xffL else base
    }
    var h = 0L
    var bit = 0
    var r0 = 0
    while (r0 < 8) {
      var c0 = 0
      while (c0 < 8) {
        if (px(r0, c0) < px(r0, c0 + 1)) h |= (1L << bit)
        bit += 1
        c0 += 1
      }
      r0 += 1
    }
    h
  }

  /** Audio-segmentation summary — the third modality's plumbing: chop
    * the payload into fixed 256-sample frames, compute per-frame energy,
    * and roll up the segmentation signals a speech-data pipeline filters
    * on (silence ratio, mean/peak energy). The per-frame energy is a
    * DETERMINISTIC STUB of RMS (same stance as `decodeStub`: no audio
    * codec in this container — a real one rides `mmBinaryMeta`'s batched
    * mapPartitions shape); the frame schedule and rollup are the real
    * thing. All frame math is array HOFs over `sequence(...)` — the
    * frame list never explodes into rows, so the plan is a pure scan +
    * project regardless of audio length; energies are exact integers and
    * the two ratios are single IEEE divisions of exact longs. */
  def mmAudioSegments(spark: SparkSession, dir: String): DataFrame = {
    val nBytes = octet_length(to_binary(col("text"), lit("utf-8"))).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), nBytes.as("n_bytes"))
      .withColumn("n_frames",
        greatest(lit(1L), expr("(n_bytes + 255) div 256")))
      .withColumn("en", transform(
        sequence(lit(0L), col("n_frames") - 1),
        f => (col("n_bytes") * 31L + f * 7919L) % 1000L))
      .select(col("doc_id"), col("n_frames"),
        size(filter(col("en"), e => e < 100L)).cast("long").as("n_silent"),
        (size(filter(col("en"), e => e < 100L)).cast("double") /
          col("n_frames")).as("silence_ratio"),
        (aggregate(col("en"), lit(0L), (acc, e) => acc + e).cast("double") /
          col("n_frames")).as("mean_energy"),
        array_max(col("en")).as("max_energy"))
  }

  val mmAudioSegmentsSql: String =
    """WITH a AS (
      |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
      |    GREATEST(1, (CAST(strlen(text) AS BIGINT) + 255) // 256) AS n_frames
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, n_frames,
      |    list_transform(range(0, CAST(n_frames AS INTEGER)),
      |      f -> (n_bytes * 31 + f * 7919) % 1000) AS en
      |  FROM a)
      |SELECT doc_id, n_frames,
      |  CAST(len(list_filter(en, x -> x < 100)) AS BIGINT) AS n_silent,
      |  CAST(len(list_filter(en, x -> x < 100)) AS DOUBLE) / n_frames AS silence_ratio,
      |  CAST(list_sum(en) AS DOUBLE) / n_frames AS mean_energy,
      |  CAST(list_max(en) AS BIGINT) AS max_energy
      |FROM e""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("mm_binary_meta", mmBinaryMeta, Some(mmBinaryMetaSql)),
    Declared("mm_frame_sample", mmFrameSample, Some(mmFrameSampleSql)),
    Declared("mm_feature_stub", mmFeatureStub, Some(mmFeatureStubSql)),
    Declared("mm_resize_plan", mmResizePlan, Some(mmResizePlanSql)),
    Declared("mm_phash_dedup", mmPhashDedup),
    Declared("mm_audio_segments", mmAudioSegments, Some(mmAudioSegmentsSql)),
  )
}
