package graft.tools

/** Core-count scaling lane at a SF where WORK, not scheduling, dominates
  * (r16, VERDICT #6): at sf0.1 every query is fixed-overhead-bound and
  * the 8c/32c ratio reads ≈1 for the whole suite — parallelism claims
  * need a corpus big enough that the ratio is informative. This lane
  * times the top-20 heaviest queries COLD on the ScaleSmoke-built
  * copies× corpus (10× sf0.1 ≈ sf1: scaled docs/events/embeddings/
  * facts, dims shared) at the env core count and prints one JSON line;
  * scripts/scale_lane.sh runs it at 32 and 8 cores and commits the
  * paired ratios as bench_scale_lane.json.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScaleLane [base] [copies] [csv]"
  */
object ScaleLane {
  /** Heaviest bench queries (r15 record, 32c adjusted medians) — the
    * ones whose scaling behavior carries the 100 TB story. */
  val DefaultLane: Seq[String] = Seq(
    "dedup_clusters_incremental", "dedup_clusters_exact",
    "pipeline_keep_list", "dedup_ngram_jaccard", "dedup_keep_best",
    "asof_join_bucketed", "q11_part_value_share", "q2_min_cost",
    "dedup_clusters", "text_bigram_lm", "dedup_simhash_band_exact",
    "pipeline_e2e", "dedup_minhash_band_exact", "dedup_minhash",
    "evt_sessionize_buckets", "dedup_substring", "q21_waiting_supplier",
    "dedup_simhash", "q8_market_share", "q18_top_buyers")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val names = args.drop(2).headOption.map(_.split(",").toSeq)
      .getOrElse(DefaultLane)
    val scaled = s"/tmp/graft_scale_${copies}x"
    val spark = Harness.session(
      // the scaled corpus is written as `copies` part files (~10 MB
      // each); at the default 128 MB maxPartitionBytes a 10x corpus
      // scans as <=10 splits and 32 cores can never engage — the lane
      // would measure FILE COUNT, not compute scaling. Real corpora
      // have files >> cores; splitting finer here restores that shape
      // for both arms (same config at 32c and 8c, so ratios compare
      // compute, not scan granularity).
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.files.openCostInBytes" -> "512k")
    ScaleSmoke.buildCorpus(spark, base, scaled, copies)
    // JIT/codegen warmup on the base corpus (the memo is cleared before
    // every timed query, so no warm-up artifact is reused); cold-per-shape
    // on the scaled corpus is the measurement — it includes index/sample
    // builds, which must themselves scale
    Harness.warm(spark)
    Harness.warmQueries(spark, base, names)
    val times = names.map { n =>
      graft.sources.Memo.clear()
      val dt = Harness.timeOrFail("scale-lane", n)(
        graft.SparkEntry.queries(n)(spark, scaled).count())
      println(f"[scale-lane] $n%-28s ${if (dt >= 0) f"$dt%8.3f s" else "FAILED"}")
      n -> dt
    }
    println("{\"lane\":\"scale\",\"copies\":" + copies + ",\"cpus\":" + Harness.cpus +
      ",\"queries\":" + Harness.obj(times.map { case (n, t) => n -> Harness.num(t) }) + "}")
    spark.stop()
  }
}
