package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** STREAMING INCREMENTAL DEDUP — `Dedup.dedupIncremental`'s audit flags
  * computed per micro-batch against a PERSISTED corpus artifact: it runs
  * Dedup's bodies (`incrementalPrep`, `incrementalCorpusSide`,
  * `incrementalFlags`) over each increment. Documents arrive on a file
  * stream, and each micro-batch is flagged
  *   exact_corpus   content hash already present in the corpus artifact
  *   exact_batch    a smaller-id twin exists among batch docs INGESTED
  *                  SO FAR (earlier micro-batches via the persisted seen
  *                  state, plus the min-id rule within this micro-batch)
  *   neardup_corpus n-gram jaccard ≥ 0.5 vs any corpus doc (inverted-
  *                  index join against the artifact's shingle table)
  * and `kept` = none of the above. Under doc_id-ordered arrival (the
  * library contract; a monotonic ingest id is what any real pipeline
  * stamps) the union of micro-batch outputs is ROW-IDENTICAL to the
  * one-shot batch query on the same slices — spec-pinned across ≥4
  * micro-batches with a restart.
  *
  * Scale shape: the corpus contributes ONLY its distinct hash set
  * (16 B/doc) and its (lang, shingle-hash, id, sz) inverted index —
  * both written once by `writeCorpusIndex`, never recomputed per batch;
  * the per-batch work is proportional to the batch and its shared
  * content, exactly like the batch query. Restart safety: outputs and
  * seen-state land under `batch=<id>` subdirs written with Overwrite,
  * so a crash-replayed micro-batch rewrites its own directories
  * byte-identically instead of appending duplicates (the
  * `ingestWithRollup` idempotence discipline).
  */
object StreamingDedup {

  /** Build the corpus-side artifact: `hashes/` (distinct content md5)
    * and `shingles/` (lang, c_id, c_sz, sh) — the two tables the batch
    * query derives from the corpus slice on every run, persisted once
    * here (a real deployment refreshes them when the corpus version
    * bumps, not per arriving batch). */
  def writeCorpusIndex(spark: SparkSession, corpus: DataFrame,
      artifactDir: String): Unit = {
    val (hashes, shingles) = Dedup.incrementalCorpusSide(Dedup.incrementalPrep(corpus))
    hashes.write.mode(SaveMode.Overwrite).parquet(s"$artifactDir/hashes")
    shingles.write.mode(SaveMode.Overwrite).parquet(s"$artifactDir/shingles")
  }

  /** Seen-hash state from every micro-batch before `batchId` (None when
    * none). Each batch's dir is self-contained, so a replayed batch reads
    * exactly the state its first run read. Listed through the Hadoop FS
    * API — the state dir lives wherever the checkpoint does (HDFS/S3 on a
    * cluster), not only on local disk. */
  private def readSeen(spark: SparkSession, stateDir: String,
      batchId: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      (if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .filter(_.getPath.getName.drop(6).toLong < batchId)
        .map(_.getPath.toString)
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** One micro-batch's audit flags (package-private for the spec). */
  private[streaming] def microBatchFlags(spark: SparkSession,
      artifactDir: String, stateDir: String, mb: DataFrame,
      batchId: Long): DataFrame =
    Dedup.incrementalFlags(Dedup.incrementalPrep(mb),
      spark.read.parquet(s"$artifactDir/hashes"),
      spark.read.parquet(s"$artifactDir/shingles"),
      seen = readSeen(spark, stateDir, batchId))

  /** The streaming lane: documents matching `glob` under `srcDir` stream
    * in (doc_id-ordered files; `filesPerTrigger` bounds batch size),
    * every micro-batch's flags land at `outDir/batch=<id>` and its
    * hashes at `stateDir/batch=<id>` — both Overwrite, so restarts are
    * idempotent; committed batches are never re-run (foreachBatch's
    * checkpoint contract). */
  def incrementalDedupStream(spark: SparkSession, srcDir: String,
      artifactDir: String, stateDir: String, outDir: String,
      checkpointDir: String, glob: String = "documents.parquet",
      filesPerTrigger: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val r = spark.readStream.schema(Streaming.docSchema)
      .option("pathGlobFilter", glob)
    val src = (if (filesPerTrigger > 0)
      r.option("maxFilesPerTrigger", filesPerTrigger.toString) else r)
      .parquet(srcDir)
    src.writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        if (!mb.isEmpty) {
          val cached = mb.persist()
          try {
            microBatchFlags(spark, artifactDir, stateDir, cached, batchId)
              .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
            // seen-state AFTER the flags (a replayed batch must not see
            // its own hashes); Overwrite keeps the replay idempotent
            Dedup.incrementalPrep(cached).select(col("h")).distinct()
              .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/batch=$batchId")
          } finally cached.unpersist()
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
