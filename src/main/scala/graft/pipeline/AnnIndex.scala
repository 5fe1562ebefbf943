package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.sources.Tables

/** Persisted ANN index artifacts — the serving layout the reference's
  * index-node role implies (it persists its EJDB indexes beside the doc
  * store; FAISS persists trained quantizers the same way) and every
  * 100 TB deployment needs: training is a once-per-corpus job whose
  * output is TABLES, and the search path reads those tables with ZERO
  * training work. In-session, Ann memoizes the trained quantizers per
  * (corpus, params); this module makes that artifact durable across
  * sessions and shareable across a cluster. Each search runs `Ann`'s
  * search body for its family (`ivfSearch`, `pqSearch`, `lshSearch`)
  * over the artifacts it reads, after `validate`.
  *
  * Layout under `indexDir` (all parquet):
  *   ivf_centroids/   (cid, centroid)                — coarse quantizer
  *   pq_codebooks/    (m, ksub, dim, flat)           — one row
  *   gen<N>/ivf_cells/ cid=<c>/ (vec_id, embedding)  — the inverted
  *                    file, PARTITIONED BY cid: a probe of nprobe cells
  *                    reads only those partitions (partition pruning is
  *                    the whole point of IVF at scale)
  *   gen<N>/pq_codes/  (vec_id, codes)               — m small ints/vec
  *   gen<N>/lsh_tables/ (vec_id, tbl, bucket)        — L banded tables
  *   _INDEX_MANIFEST.json                            — commit point
  *
  * GENERATIONS are the incremental-ingestion story (the FAISS
  * train-once/add-many pattern, closing the loop with
  * `dedup_incremental`): `build` writes gen0; each `append` assigns the
  * corpus's NEW vectors to the EXISTING centroids/codebooks — no
  * retrain, no rewrite of earlier gens — and publishes them as the next
  * gen. The manifest's `gens` count is the reader's source of truth: a
  * gen directory the manifest doesn't cover is invisible (a crashed
  * append's orphan, deleted and rebuilt by the next append).
  *
  * Publish discipline = ArtifactIo's: `build` and `compact` stage under
  * `<indexDir>.build.tmp` with the manifest last and publish by two
  * renames (`ArtifactIo.commitBuild`); `append` stages `gen<N>.tmp`,
  * renames it in (still invisible) and commits by the manifest swap
  * (`ArtifactIo.commitGen`). Loaders REQUIRE the
  * manifest and validate both the index params and the corpus
  * fingerprint — file paths PLUS length and mtime, so a corpus
  * rewritten in place under the same names invalidates the index
  * instead of silently serving wrong vec_ids. */
object AnnIndex {

  case class Params(c: Int = 16, m: Int = 16, ksub: Int = 16,
      bits: Int = 4, tables: Int = 16)

  private val ManifestName = "_INDEX_MANIFEST.json"
  private val Version = 2

  /** Corpus identity: per-file (path, length, mtime) — not names alone,
    * so a same-name in-place rewrite (rsync, manual copy, non-Spark
    * writer) invalidates dependent indexes. */
  private def fingerprint(spark: SparkSession, e: DataFrame): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val lines = e.inputFiles.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f|${st.getLen}|${st.getModificationTime}"
    }.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def manifestJson(fp: String, params: Params, gens: Int): String =
    s"""{"version":$Version,"corpus_fingerprint":"$fp",""" +
    s""""c":${params.c},"m":${params.m},"ksub":${params.ksub},""" +
    s""""bits":${params.bits},"tables":${params.tables},"gens":$gens}"""

  /** Stage one generation's encodings under `genTmp`: assignment to the
    * FIXED centroids, PQ codes from the FIXED codebooks, LSH bands (the
    * hyperplanes are deterministic functions of (bits, tables)). Shared
    * verbatim by build (gen0, freshly trained quantizers) and append
    * (gen N, quantizers read back from the index). */
  private def writeGen(vectors: DataFrame, cents: DataFrame,
      flat: Array[Float], params: Params, genTmp: String): Unit = {
    // three independent encodings of the same vector set — concurrent
    // jobs (the ClusterIndex gen-write pattern): at small deltas each
    // write is fixed-overhead-dominated, so serializing them tripled the
    // append's constant
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    ArtifactIo.awaitAll(Seq(
      Future(Ann.nearestCell(vectors, cents, 1)
        .select(col("cid"), col("vec_id"), col("embedding"))
        .write.partitionBy("cid").parquet(s"$genTmp/ivf_cells")),
      Future(Ann.pqCodes(vectors, flat, params.m, params.ksub)
        .write.parquet(s"$genTmp/pq_codes")),
      Future(Ann.lshBands(vectors, params.bits, params.tables)
        .write.parquet(s"$genTmp/lsh_tables"))))
  }

  /** Train + encode + write every index family, publish atomically.
    * `pretrainedFrom` reads centroids + codebooks from another committed
    * index instead of training — the FAISS "train on a sample, add all"
    * pattern, and the equivalence anchor for `append` (a one-shot build
    * with the same quantizers must equal build+append; AnnIndexSpec). */
  def build(spark: SparkSession, corpusDir: String, indexDir: String,
      params: Params = Params(), pretrainedFrom: Option[String] = None): Unit = {
    val e = Tables.embeddings(spark, corpusDir)
    ArtifactIo.commitBuild(spark, indexDir, ManifestName,
        manifestJson(fingerprint(spark, e), params, gens = 1)) { tmp =>
      val (cents, flat) = pretrainedFrom match {
        case Some(src) =>
          val m = readManifest(spark, src)
          val got = Params(m("c").toInt, m("m").toInt, m("ksub").toInt,
            m("bits").toInt, m("tables").toInt)
          require(got == params,
            s"pretrained index $src has params $got, build expects $params")
          (spark.read.parquet(s"$src/ivf_centroids"), readCodebooks(spark, src))
        case None =>
          (Ann.ivfCentroids(e, params.c),
            Ann.pqCodebooks(e, params.m, params.ksub))
      }
      cents.write.parquet(s"$tmp/ivf_centroids")
      val dim = flat.length / (params.m * params.ksub) * params.m
      spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(params.m, params.ksub, dim, flat.toSeq)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("m", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("ksub", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("flat",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
        .write.parquet(s"$tmp/pq_codebooks")
      writeGen(e, cents, flat, params, s"$tmp/gen0")
    }
  }

  /** Incremental ingestion: index the corpus's vectors that no committed
    * generation covers, against the EXISTING quantizers — zero training,
    * zero rewrite of earlier gens. The new generation is staged at
    * `gen<N>.tmp`, renamed into place (still invisible — the manifest
    * doesn't cover it), and committed by the manifest swap, which also
    * advances the corpus fingerprint to the grown corpus. Crash before
    * the swap → an orphan gen dir readers never touch, deleted and
    * rebuilt by the next append; crash mid-swap → healed from
    * `.new` by every loader. At 100 TB this is what makes corpus growth
    * O(delta): the alternative — full rebuild — re-encodes every vector
    * ever ingested. */
  def append(spark: SparkSession, corpusDir: String, indexDir: String,
      params: Params = Params()): Unit = {
    val man = readManifest(spark, indexDir)
    Seq("c" -> params.c, "m" -> params.m, "ksub" -> params.ksub,
        "bits" -> params.bits, "tables" -> params.tables).foreach {
      case (k, v) => require(man.get(k).contains(v.toString),
        s"index $indexDir has $k=${man.getOrElse(k, "?")}, append expects $v")
    }
    val n = man("gens").toInt
    val e = Tables.embeddings(spark, corpusDir)
    // ids-only anti-join finds the uncovered vectors (8 B/row shuffle);
    // persist: three encode jobs below share the delta
    val existing = readAcrossGens(spark, indexDir, n, "pq_codes")
      .select(col("vec_id"))
    val fresh = e.join(existing, Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // full count: no-op probe + cache materialization in ONE job (the
      // three encode jobs below all consume the persisted delta)
      if (fresh.count() == 0L) return // nothing new: no-op
      ArtifactIo.commitGen(spark, indexDir, n, ManifestName,
          manifestJson(fingerprint(spark, e), params, gens = n + 1)) { genTmp =>
        writeGen(fresh, spark.read.parquet(s"$indexDir/ivf_centroids"),
          readCodebooks(spark, indexDir), params, genTmp)
      }
    } finally fresh.unpersist()
  }

  /** Auto-compaction for the maintenance tick — ClusterIndex
    * .compactIfDue's twin: fold when the committed gen count reaches
    * `maxGens`, so repeated appends hold O(maxGens) gen dirs. Crash
    * mid-compact is harmless (two-rename publish). */
  def compactIfDue(spark: SparkSession, indexDir: String, maxGens: Int = 8): Unit =
    if (readManifest(spark, indexDir)("gens").toInt >= maxGens)
      compact(spark, indexDir)

  /** Fold every committed generation back into a single gen0 — the
    * rollup-compaction story for this artifact (ClusterIndex.compact's
    * twin): each append adds a gen dir, and searches pay a per-gen
    * listing + union until compaction restores the build-fresh shape.
    * Quantizers and the corpus fingerprint are UNCHANGED (compaction
    * moves encodings, it re-derives nothing); the folded cells rewrite
    * under `partitionBy(cid)` so nprobe partition pruning survives.
    * Staged as a full `.build.tmp` and published by the same two-rename
    * discipline as build — a crash anywhere leaves the multi-gen index
    * intact and serving. */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val man = readManifest(spark, indexDir)
    val n = man("gens").toInt
    if (n <= 1) return
    val params = Params(man("c").toInt, man("m").toInt, man("ksub").toInt,
      man("bits").toInt, man("tables").toInt)
    ArtifactIo.commitBuild(spark, indexDir, ManifestName,
        manifestJson(man("corpus_fingerprint"), params, gens = 1)) { tmp =>
      spark.read.parquet(s"$indexDir/ivf_centroids")
        .write.parquet(s"$tmp/ivf_centroids")
      spark.read.parquet(s"$indexDir/pq_codebooks")
        .write.parquet(s"$tmp/pq_codebooks")
      readAcrossGens(spark, indexDir, n, "ivf_cells")
        .write.partitionBy("cid").parquet(s"$tmp/gen0/ivf_cells")
      readAcrossGens(spark, indexDir, n, "pq_codes")
        .write.parquet(s"$tmp/gen0/pq_codes")
      readAcrossGens(spark, indexDir, n, "lsh_tables")
        .write.parquet(s"$tmp/gen0/lsh_tables")
    }
  }

  private def readCodebooks(spark: SparkSession, indexDir: String): Array[Float] = {
    val row = spark.read.parquet(s"$indexDir/pq_codebooks").head()
    row.getSeq[Float](row.fieldIndex("flat")).toArray
  }

  /** Union of one artifact across every committed generation. Flat
    * artifacts (pq_codes, lsh_tables) read all gen paths in ONE reader
    * call — per-gen reads pay a listing + schema job each, which at 20
    * gens dominated the append's fixed cost. The `cid=`-partitioned
    * ivf_cells must stay a per-gen union: Spark refuses multiple
    * partition-discovery roots in one read (KD009), and the union keeps
    * per-gen partition pruning for nprobe probes anyway. */
  private def readAcrossGens(spark: SparkSession, indexDir: String,
      gens: Int, sub: String): DataFrame =
    if (sub == "ivf_cells")
      (0 until gens).map(i => spark.read.parquet(s"$indexDir/gen$i/$sub"))
        .reduce(_ unionByName _)
    else
      spark.read.parquet((0 until gens).map(i => s"$indexDir/gen$i/$sub"): _*)

  private def readManifest(spark: SparkSession, indexDir: String): Map[String, String] =
    ArtifactIo.readManifest(spark, indexDir, ManifestName, "index")

  /** Validate the manifest against the serving corpus + expected params,
    * returning the manifest (loaders need `gens`). Corpus check is
    * strict: ids in the index are positions in THAT corpus; serving a
    * rewritten corpus from a stale index is the silent failure mode this
    * exists to prevent (the fingerprint covers file length + mtime, so
    * in-place rewrites are caught too). */
  private def validate(spark: SparkSession, corpusDir: String,
      indexDir: String, expect: Map[String, Int]): Map[String, String] = {
    val m = readManifest(spark, indexDir)
    val fp = fingerprint(spark, Tables.embeddings(spark, corpusDir))
    require(m.get("corpus_fingerprint").contains(fp),
      s"index $indexDir was built from a different corpus than $corpusDir")
    expect.foreach { case (k, v) =>
      require(m.get(k).contains(v.toString),
        s"index $indexDir has $k=${m.getOrElse(k, "?")}, search expects $v")
    }
    m
  }

  /** IVF search from the persisted index: centroids and the inverted
    * file are READ, never retrained — the only per-query work is the
    * probe assignment (queries × C broadcast centroids) and exact
    * cosine inside the probed cells. */
  def searchIvf(spark: SparkSession, corpusDir: String, indexDir: String,
      nprobe: Int = 12, k: Int = Ann.K, c: Int = 16): DataFrame = {
    // expected params come from the CALLER (defaults = Ann.annIvf's),
    // never from the manifest itself — reading c out of the manifest
    // and comparing it against the manifest would always pass
    val man = validate(spark, corpusDir, indexDir, Map("c" -> c))
    Ann.ivfSearch(Tables.embeddings(spark, corpusDir),
      spark.read.parquet(s"$indexDir/ivf_centroids"),
      readAcrossGens(spark, indexDir, man("gens").toInt, "ivf_cells"), nprobe, k)
  }

  /** PQ search from the persisted codes + codebooks: the ADC scan reads
    * m-byte codes instead of raw vectors (the persisted form of the
    * 16× memory win), the codebook row is driver-read once, and only
    * the rescore joins raw embeddings back by candidate id. */
  def searchPq(spark: SparkSession, corpusDir: String, indexDir: String,
      rescoreDepth: Int = 128, k: Int = Ann.K,
      m: Int = 16, ksub: Int = 16): DataFrame = {
    val man = validate(spark, corpusDir, indexDir, Map("m" -> m, "ksub" -> ksub))
    Ann.pqSearch(Tables.embeddings(spark, corpusDir), readCodebooks(spark, indexDir),
      readAcrossGens(spark, indexDir, man("gens").toInt, "pq_codes"),
      m, ksub, rescoreDepth, k)
  }

  /** LSH search from the persisted tables: the corpus side's banding is
    * READ; only the (tiny) query set is re-hashed — the hyperplanes are
    * deterministic functions of (bits, tables), so fresh query buckets
    * collide with the stored corpus buckets exactly as an in-session
    * banding would. */
  def searchLsh(spark: SparkSession, corpusDir: String, indexDir: String,
      k: Int = Ann.K, bits: Int = 4, tables: Int = 16): DataFrame = {
    val e = Tables.embeddings(spark, corpusDir)
    val man = validate(spark, corpusDir, indexDir,
      Map("bits" -> bits, "tables" -> tables))
    Ann.lshSearch(broadcast(Ann.lshBands(Ann.queries(e), bits, tables)),
      readAcrossGens(spark, indexDir, man("gens").toInt, "lsh_tables"), e, k)
  }
}
