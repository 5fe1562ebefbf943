package graft.pipeline

import graft.SparkSpec
import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim matches a hand-rolled dot product") {
    val df = Seq((Array(1f, 0f, 1f), Array(1f, 1f, 0f))).toDF("a", "b")
    val got = df.select(cosine_sim(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(got - 0.5) < 1e-12)
    val zero = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
      .select(cosine_sim(col("a"), col("b"))).head().getDouble(0)
    assert(zero === 0.0)
  }

  test("simhash of identical token sets is identical; disjoint sets differ") {
    val df = Seq(
      ("x", Seq("a", "b", "c", "d", "e", "f")),
      ("y", Seq("a", "b", "c", "d", "e", "f")),
      ("z", Seq("q", "r", "s", "t", "u", "v"))).toDF("id", "toks")
    val hashes = df.select(col("id"), simhash64(col("toks"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hashes("x") === hashes("y"))
    assert(hashes("x") !== hashes("z"))
  }

  test("minhash estimated jaccard tracks true jaccard for similar sets") {
    val a = (1 to 100).map("tok" + _)
    val b = (1 to 90).map("tok" + _) ++ (200 to 209).map("tok" + _)
    val df = Seq((a, b)).toDF("a", "b")
    val est = df.select(
        (aggregate(zip_with(minhash_sig(col("a"), 128), minhash_sig(col("b"), 128),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, m) => acc + m)
          .cast("double") / 128).as("est"))
      .head().getDouble(0)
    val trueJac = 90.0 / 110.0
    assert(math.abs(est - trueJac) < 0.15, s"est=$est true=$trueJac")
  }

  test("fused shingle_minhash equals minhash over materialized shingles") {
    val d = graft.sources.Tables.documents(spark, sf).limit(50)
    val unfused = d.select(col("doc_id"),
      minhash_sig(Dedup.shingles(col("text")), 64).as("sig"))
    val fused = d.select(col("doc_id"),
      shingle_minhash(split(trim(col("text")), "\\s+"), 3, 64).as("sig"))
    assert(unfused.exceptAll(fused).count() === 0)
  }

  test("minhash LSH finds the high-jaccard pairs that exact jaccard finds") {
    val exact = Dedup.dedupNgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.dedupMinhash(spark, sf)
      .filter(col("est_jaccard") >= 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh), s"missing: ${exact -- lsh}")
  }

  test("simhash near-dup pairs are symmetric-free and low-hamming") {
    val rows = Dedup.dedupSimhash(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= 3)
    }
  }

  test("ann brute-force returns k ranked neighbors per query") {
    val df = Ann.annCosineTopk(spark, sf)
    val perQuery = df.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty)
    perQuery.foreach(r => assert(r.getLong(1) === 10))
  }

  test("fused hyperplane_buckets is bit-identical to the declarative plane composition") {
    val e = graft.sources.Tables.embeddings(spark, sf).limit(50)
    val fused = e.select(col("vec_id"),
      hyperplane_buckets(col("embedding"), 4, 3).as("b"))
    val decl = e.select(col("vec_id"), array((0 until 3).map(t =>
      Ann.hyperplaneBucket(col("embedding"), 4, Ann.Dim, t.toLong)): _*).as("b"))
    assert(fused.exceptAll(decl).count() === 0)
    assert(decl.exceptAll(fused).count() === 0)
  }

  test("multi-table ann LSH recalls >= 0.8 of brute-force neighbors") {
    val brute = Ann.annCosineTopk(spark, sf)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.annLsh(spark, sf)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall") // measured 0.895 at 4 bits × 16 tables
    // and single-table recall is strictly worse — the OR over tables is
    // what buys the recall
    val one = Ann.annLshTables(spark, sf, bits = 4, tables = 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert((brute & one).size < (brute & lsh).size)
  }

  test("near-dup clusters are consistent with their pair graph") {
    val pairs = Dedup.dedupMinhash(spark, sf)
      .filter(col("est_jaccard") >= 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val clusters = Dedup.dedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    // every paired doc got a cluster; paired docs share a cluster;
    // cluster label is the component minimum
    pairs.foreach { case (a, b) =>
      assert(clusters.contains(a) && clusters.contains(b))
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split")
      assert(clusters(a) <= math.min(a, b))
    }
    clusters.foreach { case (id, c) => assert(c <= id) }
  }

  test("ann IVF recalls >= 0.8 of brute-force neighbors at nprobe=12/16") {
    val brute = Ann.annCosineTopk(spark, sf)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.annIvf(spark, sf)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall") // measured 0.985
    // every IVF result is a real vector pair
    ivf.foreach { case (q, c) => assert(q != c) }
  }

  test("ann PQ recalls >= 0.8 of brute-force neighbors after ADC rescore") {
    val brute = Ann.annCosineTopk(spark, sf)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val pq = Ann.annPq(spark, sf)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(pq.nonEmpty)
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall")
    // codes really are m bytes per vector
    val e = graft.sources.Tables.embeddings(spark, sf)
    val cb = float_array_lit(Ann.pqCodebooks(e, 16, 16))
    val lens = e.limit(20)
      .select(size(pq_encode(col("embedding"), cb, 16, 16)))
      .as[Int].collect()
    assert(lens.forall(_ === 16))
    // a shallower rescore can only lose recall (ADC ordering is load-bearing)
    val narrow = Ann.annPqTuned(spark, sf, m = 16, ksub = 16, rescoreDepth = 12)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert((brute & narrow).size <= (brute & pq).size)
  }

  test("BPE trainer finds the dominant pair first; apply is lossless and monotone") {
    // hand corpus: "ab" occurs 9 times (5 in abab·2 + 4 in abc), far ahead
    val counts = Seq(("abab", 5L), ("abc", 4L), ("xy", 1L))
    val merges = Bpe.trainMerges(counts, 8)
    assert(merges.head === "a b", s"merges=$merges")
    // after merging "a b": pair (ab, ab) has count 5 → second merge
    assert(merges(1) === "ab ab", s"merges=$merges")
    // apply: lossless (tokens concatenate back) and monotone in merges
    val df = Seq("abab abc xy zq").toDF("text")
    def tokens(n: Int): Seq[String] =
      df.select(bpe_tokens(col("text"), string_array_lit(merges.take(n))))
        .head().getSeq[String](0)
    assert(tokens(0) === "abababcxyzq".map(_.toString)) // 0 merges → chars
    assert(tokens(merges.length).mkString === "abababcxyzq") // lossless concat
    (0 to merges.length).sliding(2).foreach { case Seq(a, b) =>
      assert(tokens(b).length <= tokens(a).length)
    }
    // corpus query: BPE count is between word count and char count
    val rows = Bpe.textBpe(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1)) // >= whitespace tokens
    }
  }

  test("emb PCA: descending eigenvalues, orthonormal basis, variance-preserving projection") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val k = 8
    val m = Pca.model(e, k)
    val dim = m.dim
    // eigenvalues descending and non-negative (covariance is PSD)
    m.evals.sliding(2).foreach { case Array(a, b) => assert(a >= b - 1e-9) }
    m.evals.foreach(v => assert(v >= -1e-9))
    // basis rows orthonormal
    for (r1 <- 0 until k; r2 <- r1 until k) {
      var dot = 0.0
      for (d <- 0 until dim)
        dot += m.affine(r1 * (dim + 1) + d).toDouble * m.affine(r2 * (dim + 1) + d)
      if (r1 == r2) assert(math.abs(dot - 1.0) < 1e-5, s"row $r1 not unit: $dot")
      else assert(math.abs(dot) < 1e-5, s"rows $r1,$r2 not orthogonal: $dot")
    }
    // per-component variance of the projected corpus == its eigenvalue
    // (population covariance was fit on exactly this corpus)
    val proj = Pca.embPcaVectors(spark, sf, k).select(col("proj")).as[Array[Float]].collect()
    val n = proj.length.toDouble
    for (r <- 0 until k) {
      val mean = proj.map(_(r).toDouble).sum / n
      val varr = proj.map(p => (p(r) - mean) * (p(r) - mean)).sum / n
      assert(math.abs(varr - m.evals(r)) < 1e-3 * math.max(1.0, m.evals(r)),
        s"component $r variance $varr != eigenvalue ${m.evals(r)}")
      // projected components are centered
      assert(math.abs(mean) < 1e-3)
    }
    // PCA optimality: top-k eigenvalues explain at least as much variance
    // as the k highest-variance RAW dimensions (cross-checked against the
    // oracle-exact emb_dim_stats)
    val rawVars = CorpusStats.embDimStats(spark, sf)
      .select(col("variance")).as[Double].collect().sorted.reverse.take(k)
    assert(m.evals.sum >= rawVars.sum - 1e-6)
  }

  test("emb_pca registered query emits k scalar rows per vector, rounded") {
    // the driver-compared shape: (vec_id, component, value) — a schema
    // regression here crashed the r3 driver compare, so pin it
    val df = Pca.embPca(spark, sf)
    assert(df.columns.toSeq === Seq("vec_id", "component", "value"))
    val k = 8
    val perVec = df.groupBy(col("vec_id")).count().select(col("count")).distinct().collect()
    assert(perVec.length === 1 && perVec(0).getLong(0) === k.toLong)
    // values carry at most 4 decimals (canonicalized for the compare)
    val bad = df.filter(round(col("value"), 4) =!= col("value")).count()
    assert(bad === 0L)
  }

  test("embedding near-dup blocker covers the label-blocked ground truth") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    // the previous label-blocked form, as ground truth on the fixture
    val a = e.select(col("label"), col("vec_id").as("a_id"), col("embedding").as("a_v"))
    val b = e.select(col("label"), col("vec_id").as("b_id"), col("embedding").as("b_v"))
    val labelPairs = a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine_sim(col("a_v"), col("b_v")))
      .filter(col("cos") >= 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val blocked = Dedup.dedupEmbedding(spark, sf)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(labelPairs.nonEmpty)
    assert(labelPairs.subsetOf(blocked), s"missing: ${labelPairs -- blocked}")
    // the candidate join is keyed on the IVF cell — no unkeyed self-join
    // anywhere in the pair generation (the only nested-loop join is the
    // broadcast of the 16-row centroid table)
    val plan = Dedup.dedupEmbedding(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cell"), plan.take(500))
  }

  test("connected components reach fixpoint on a diameter-8 path graph") {
    // min-label propagation would need 8+ rounds here (one per hop);
    // star contraction must collapse the whole path to min=0 in <= 4
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // driverFloor=0 forces the distributed fixpoint loop (the default
    // would take the driver union-find fast path on a graph this small)
    val (ccDf, rounds) =
      Dedup.connectedComponentsWithRounds(pairs, driverFloor = 0)
    val cc = ccDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size === 9)
    assert(cc.values.toSet === Set(0L))
    assert(rounds >= 1 && rounds <= 4, s"star contraction took $rounds rounds")
    // the default (driver fast path) must agree exactly
    val (ccFast, roundsFast) = Dedup.connectedComponentsWithRounds(pairs)
    assert(roundsFast === 0, "small graph should take the driver path")
    assert(ccFast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === cc)
    // the distributed loop over reliable checkpoints (Cut's reliable
    // mode) agrees, and its rounds write checkpoint files
    val dir = java.nio.file.Files.createTempDirectory("graft-cc").toString
    val cc2 = SparkSpec.withConf("graft.cut.mode" -> "reliable", "graft.cut.dir" -> dir) {
      Dedup.connectedComponentsWithRounds(pairs, driverFloor = 0)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(cc2 === cc)
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .anyMatch(p => java.nio.file.Files.isRegularFile(p)), s"no checkpoint file under $dir")
    // runaway guard trips rather than returning a wrong answer
    intercept[IllegalStateException](
      Dedup.connectedComponentsWithRounds(pairs, maxRounds = 2,
        driverFloor = 0)._1.collect())
  }

  test("connected components match a driver union-find on random graphs") {
    val rnd = new scala.util.Random(8008)
    for (_ <- 1 to 4) {
      val n = 30 + rnd.nextInt(120)
      val m = 1 + rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // driver union-find; union roots larger onto smaller, so every
      // node's final root is its component's minimum id
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val present = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = present.map(id => id -> find(id.toInt).toLong).toMap
      // distributed star contraction (floor 0) AND the default driver
      // fast path must both match the reference union-find
      val got = Dedup.connectedComponentsWithRounds(edges.toDF("a_id", "b_id"),
        driverFloor = 0)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"n=$n m=$m")
      val gotFast = Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotFast === expected, s"fast path diverged: n=$n m=$m")
    }
  }

  test("fingerprint is deterministic and content-sensitive") {
    val fp = TextOps.textFingerprint(spark, sf)
    assert(fp.select("fingerprint").distinct().count() > 400)
    val fp2 = TextOps.textFingerprint(spark, sf)
    assert(fp.exceptAll(fp2).count() === 0)
  }

  test("dedup_lines matches a driver-side reimplementation incl. order") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def mk(id: Long, text: String, src: String): Seq[String] =
      Seq(s"hdr:$src", text, s"pair:${id % 250}", s"foot:${id % 20}")
    val ndocs = docs.flatMap { case (id, t, s) => mk(id, t, s).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
    val expected = docs.map { case (id, t, s) =>
      val ls = mk(id, t, s)
      val kept = ls.filter(l => ndocs(l) <= 2)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (id, kept.size.toLong, (ls.size - kept.size).toLong, md)
    }.filter(_._2 > 0).toSet
    val got = Dedup.dedupLines(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got === expected)
    // the planted boilerplate is actually exercised: something was dropped
    assert(expected.exists(_._3 > 0))
  }

  test("mm phash dedup recovers exactly the planted near-dup image pairs") {
    val found = Multimodal.mmPhashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent driver-side verification of every reported pair
    found.foreach { case (a, b, h) =>
      val real = java.lang.Long.bitCount(
        Multimodal.phashStub(a) ^ Multimodal.phashStub(b)).toLong
      assert(h === real, s"pair ($a,$b) hamming $h != recomputed $real")
      assert(h <= 3)
    }
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = ids.filter(i => i % 2 == 0 && ids.contains(i + 1))
      .map(i => (i, i + 1))
    assert(found.map(t => (t._1, t._2)).toSet === planted,
      "banded candidates + hamming verify must recover exactly the planted pairs")
    assert(planted.nonEmpty)
  }

  test("multimodal decode stub preserves row count and schema") {
    val df = Multimodal.mmBinaryMeta(spark, sf)
    assert(df.columns.toSeq ===
      Seq("doc_id", "n_bytes", "sha", "width", "height", "n_frames"))
    assert(df.count() === graft.sources.Tables.documents(spark, sf).count())
  }
}
