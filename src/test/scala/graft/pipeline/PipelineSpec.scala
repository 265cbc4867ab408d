package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LLM-pipeline operators over the driver's sf0.001 documents/embeddings
  * testdata: self-oracle checks (LSH candidates must cover brute-force
  * truth) + determinism goldens. */
class PipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("minhash-LSH near-dup recall == 1 vs brute-force jaccard at 0.8") {
    val sh = Dedup.shingles(docs)
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle_set").as("set_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle_set").as("set_b"))
    val truth = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("j", col("inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("inter")))
      .where(col("j") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.nearDupPairs(docs, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === truth)
    assert(truth.nonEmpty, "testdata should contain planted near-duplicates")
  }

  test("nearDupPairsAgainst equals the cross-set slice of nearDupPairs") {
    val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    // self-join on the union, sliced to cross-set pairs: the R-S tier uses
    // the identical hash family, so candidates (and verified pairs) agree
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.nearDupPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .flatMap { case (a, b, i, u) =>
        if (batchIds.contains(a) && !batchIds.contains(b)) Some((a, b, i, u))
        else if (batchIds.contains(b) && !batchIds.contains(a)) Some((b, a, i, u))
        else None
      }.toSet
    val delta = Dedup.nearDupPairsAgainst(corpus, batch, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(delta === full)
    assert(delta.nonEmpty, "testdata should contain cross-set near-duplicates")
  }

  test("simhash band blocking finds all pairs with hamming < bands") {
    val sims = TextOps.simhash(docs).cache()
    val brute = TextOps.simhashPairs(sims, maxDist = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashBandPairs(sims, bands = 4, bits = 60, maxDist = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute) // pigeonhole: recall 1 for hamming < #bands
  }

  test("simhash band blocking: maxBucket caps the quadratic bucket expansion") {
    val sims = TextOps.simhash(docs).cache()
    val dflt = Dedup.simhashBandPairs(sims, bands = 4, bits = 60, maxDist = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // an effectively-unbounded cap changes nothing on a sane corpus
    val wide = Dedup.simhashBandPairs(sims, bands = 4, bits = 60, maxDist = 3,
        maxBucket = Int.MaxValue)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === dflt)
    // cap 1 rejects every multi-doc bucket → zero candidate pairs, no blow-up
    assert(Dedup.simhashBandPairs(sims, bands = 4, bits = 60, maxDist = 3,
      maxBucket = 1).count() === 0)
  }

  test("vocabulary is a deterministic top-k with df <= tf and monotone counts") {
    val k = 10
    val v1 = TextOps.vocabulary(docs, topK = k).collect()
    val v2 = TextOps.vocabulary(docs, topK = k).collect()
    assert(v1.toSeq === v2.toSeq, "top-k must be deterministic (total order)")
    assert(v1.length === k, "synthetic corpus has more than k distinct tokens")
    val tfs = v1.map(_.getAs[Long]("tf"))
    assert(tfs.sameElements(tfs.sorted(Ordering[Long].reverse)), "sorted by tf desc")
    assert(v1.forall(r => r.getAs[Long]("df") <= r.getAs[Long]("tf")))
    // the top-k is a prefix of a larger top-k (the order is total)
    val wide = TextOps.vocabulary(docs, topK = 3 * k).collect()
    assert(wide.take(k).toSeq === v1.toSeq)
  }

  test("ANN LSH top-k hits are a subset of brute-force with decent recall") {
    val queries = emb.where(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(queries, emb, 5)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // These embeddings are near-isotropic random vectors — the hardest case
    // for hyperplane LSH (neighbors barely correlate with sign patterns), so
    // recall ≈ candidate fraction: h=4 → 16 buckets, 5 probes ≈ 31% of the
    // corpus examined. Real clustered embeddings do far better.
    val approx = Ann.lshTopK(queries, emb, 5, h = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid")))
    val recall = approx.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.3, s"LSH recall $recall")
  }

  test("rrfFuse sums fixed-point reciprocal ranks across lists") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rnk")
    val b = Seq((3L, 1L), (1L, 2L), (9L, 3L)).toDF("doc_id", "rnk")
    val out = TextOps.rrfFuse(Seq(a, b), topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def c(r: Long) = 1000000000000L / (60L + r)
    // doc 1: ranks 1,2; doc 3: ranks 3,1; doc 2: rank 2; doc 9: rank 3
    val want = Seq(
      (1L, c(1) + c(2), 2L), (3L, c(3) + c(1), 2L),
      (2L, c(2), 1L), (9L, c(3), 1L))
      .sortBy { case (id, s2, _) => (-s2, id) }
    assert(out.toSeq === want)
    // ties on rrf break by id: two singleton lists at the same rank
    val t1 = Seq((5L, 1L)).toDF("doc_id", "rnk")
    val t2 = Seq((4L, 1L)).toDF("doc_id", "rnk")
    val tied = TextOps.rrfFuse(Seq(t1, t2), topK = 2).collect()
    assert(tied.map(_.getLong(0)).toSeq === Seq(4L, 5L))
  }

  test("signBits packs the exact sign pattern, 32 bits per word") {
    val rows = emb.select(col("vec_id"),
        col("embedding"), Ann.signBits(col("embedding"), 64).as("b"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[scala.collection.Seq[Float]]("embedding")
      val got = r.getAs[scala.collection.Seq[Long]]("b")
      val want = (0 until 2).map { w =>
        (0 until 32).foldLeft(0L) { (acc, i) =>
          acc | (if (e(32 * w + i) > 0f) 1L << i else 0L)
        }
      }
      assert(got.toSeq === want, s"vec ${r.getLong(0)}")
    }
  }

  test("hammingTopK matches driver brute force with (distance, vid) ties") {
    val all = emb.select(col("vec_id"), Ann.signBits(col("embedding"), 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("b").toArray)
    val byId = all.toMap
    val qids = all.map(_._1).filter(_ < 5)
    val want = qids.flatMap { q =>
      all.filter(_._1 != q)
        .map { case (v, b) =>
          val d = b.zip(byId(q)).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
          (v, d)
        }
        .sortBy { case (v, d) => (d, v) }.take(5).zipWithIndex
        .map { case ((v, d), i) => (q, v, d, i + 1L) }
    }.toSet
    val got = Ann.hammingTopK(emb.where(col("vec_id") < 5), emb, k = 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("pqTopK matches a driver-side PQ replica exactly") {
    val m = 4; val ksub = 16; val dsub = 16
    val all = emb.select(col("vec_id"), Ann.quantize(col("embedding")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    val cent = all.take(ksub).map(_._2)
    def subDist(v: Array[Long], c: Array[Long], j: Int): Long = {
      var s = 0L; var i = 0
      while (i < dsub) {
        val d = v(j * dsub + i) - c(j * dsub + i); s += d * d; i += 1
      }
      s
    }
    def codes(v: Array[Long]): Array[Int] =
      Array.tabulate(m) { j =>
        var best = 0; var bd = Long.MaxValue
        for (c <- 0 until ksub) {
          val d = subDist(v, cent(c), j)
          if (d < bd) { bd = d; best = c } // strict < keeps smallest c on tie
        }
        best
      }
    val codeMap = all.map { case (id, v) => id -> codes(v) }.toMap
    val qids = all.map(_._1).filter(_ < 3)
    val want = qids.flatMap { qid =>
      val qv = all.find(_._1 == qid).get._2
      val dtab = Array.tabulate(m, ksub)((j, c) => subDist(qv, cent(c), j))
      all.filter(_._1 != qid).map { case (vid, _) =>
        val ad = (0 until m).map(j => dtab(j)(codeMap(vid)(j))).sum
        (vid, ad)
      }.sortBy { case (v, ad) => (ad, v) }.take(5).zipWithIndex
        .map { case ((v, ad), i) => (qid, v, ad, i + 1L) }
    }.toSet
    val got = Ann.pqTopK(emb.where(col("vec_id") < 3), emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === want)
  }

  test("IVF top-k probes a fraction of the corpus with reasonable recall") {
    val queries = emb.where(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(queries, emb, 5)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe/nlist = 1/4 of the corpus examined
    val ivf = Ann.ivfTopK(queries, emb, 5, nlist = 16, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid")))
    val recall = ivf.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall $recall")
    assert(ivf.length <= 50)
  }

  test("k-means centroids are deterministic and beat the first-N placeholder's spread") {
    val a = Ann.kmeansCentroids(emb, 16, iters = 3)
    val b = Ann.kmeansCentroids(emb, 16, iters = 3)
    assert(a.map(_._2.toSeq).toSeq === b.map(_._2.toSeq).toSeq) // bit-reproducible
    assert(a.length === 16)
    // Lloyd's must not collapse lists: every centroid keeps members
    val sizes = Ann.ivfAssign(emb, a).groupBy("list_id").count()
      .collect().map(_.getLong(1))
    assert(sizes.length >= 12, s"only ${sizes.length}/16 lists populated")
  }

  test("IVF search fails a malformed vector by its id instead of dropping it") {
    val short = emb.where(col("vec_id") === 400)
      .withColumn("embedding", slice(col("embedding"), 1, 3))
    val corpus = emb.where(col("vec_id") < 64).unionByName(short)
    val queries = emb.where(col("vec_id") < 3)
    for (iters <- Seq(0, 3)) {
      val e = intercept[Exception](
        Ann.ivfTopK(queries, corpus, 5, nlist = 4, nprobe = 4, kmeansIters = iters).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("vec_id 400"))), e.toString)
    }
    val z = intercept[IllegalArgumentException](Ann.ivfTopK(queries, corpus, 5, nlist = 0))
    assert(z.getMessage.contains("nlist = 0"))
  }

  test("cosinePairsFast is bit-identical to the column-expression version") {
    val slow = Ann.cosinePairs(emb, 0.3).orderBy("vid_a", "vid_b").collect()
    val fast = Ann.cosinePairsFast(emb, 0.3).orderBy("vid_a", "vid_b").collect()
    assert(slow.length === fast.length)
    slow.zip(fast).foreach { case (a, b) => assert(a === b) }
  }

  test("cosinePairsFast refuses an oversized corpus with the LSH routing hint") {
    val e = intercept[IllegalArgumentException] {
      Ann.cosinePairsFast(emb, 0.3, maxExact = 3)
    }
    assert(e.getMessage.contains("lshCosinePairs"))
  }

  test("lshCosinePairs fast path is bit-identical to the expression reference") {
    val ref = Ann.lshCosinePairsExpr(emb, 0.3, h = 4, dim = 64)
      .orderBy("vid_a", "vid_b").collect()
    val fast = Ann.lshCosinePairs(emb, 0.3, h = 4, dim = 64)
      .orderBy("vid_a", "vid_b").collect()
    assert(ref.nonEmpty, "fixture should produce within-bucket pairs")
    assert(ref.length === fast.length)
    ref.zip(fast).foreach { case (a, b) => assert(a === b) }
  }

  test("lshCosinePairs drops buckets over the cap") {
    // With h=4 over 500 near-isotropic vectors every bucket exceeds cap=2,
    // so a tiny cap must yield zero pairs — and a generous cap must not.
    assert(Ann.lshCosinePairs(emb, -1.0, h = 4, dim = 64, maxBucket = 2).count() === 0)
    assert(Ann.lshCosinePairs(emb, -1.0, h = 4, dim = 64).count() > 0)
  }

  test("streaming exact dedup keeps first copies, drops in-watermark duplicates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val in = mem.toDF().toDF("doc_id", "t_sec", "text")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(col("t_sec")))
    val q = Dedup.streamingExactDedup(in, "ts", "10 minutes")
      .writeStream.format("memory").queryName("streamdedup").outputMode("append").start()
    try {
      mem.addData((1L, 100L, "alpha"), (2L, 110L, "beta"), (3L, 120L, "alpha"))
      q.processAllAvailable()
      // duplicate of "alpha" in a later batch, still inside the watermark
      mem.addData((4L, 130L, "alpha"), (5L, 140L, "gamma"))
      q.processAllAvailable()
      val got = s.table("streamdedup").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === Set(1L, 2L, 5L), "first copies pass, later duplicates drop")
    } finally q.stop()
  }

  test("per-row minhash signature is bit-identical to the batch build") {
    val batch = Dedup.minhashSignatures(Dedup.shingleHashRows(docs, distinct = false))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val perRow = Dedup.withRowSignature(docs.select("doc_id", "text"),
        "text", "sig", 3, 32)
      .select("doc_id", "sig")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(perRow === batch)
  }

  test("streaming near-dup candidates match batch LSH and are replay-stable") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batchCands = Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.shingleHashRows(docs, distinct = false), 32),
        bands = 16, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchCands.nonEmpty, "testdata should contain planted near-duplicates")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val in = mem.toDF().toDF("doc_id", "t_sec", "text")
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    val q = Dedup.streamingNearDupCandidates(in, "ts", "10 minutes")
      .writeStream.format("memory").queryName("streamlsh").outputMode("append").start()
    try {
      // split the corpus across micro-batches: pairs whose docs arrive in
      // DIFFERENT batches can only surface through the bucket state
      val (first, second) = corpus.splitAt(corpus.length / 2)
      mem.addData(first.map { case (id, t) => (id, 100L, t) }.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.map { case (id, t) => (id, 200L, t) }.toSeq: _*)
      q.processAllAvailable()
      val got = s.table("streamlsh").select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === batchCands, "stream and batch candidate sets must agree")
      // full corpus replay inside the horizon: already-seen docs emit nothing
      val emitted = s.table("streamlsh").count()
      mem.addData(corpus.map { case (id, t) => (id, 210L, t) }.toSeq: _*)
      q.processAllAvailable()
      assert(s.table("streamlsh").count() === emitted,
        "replayed docs must not re-emit candidate pairs")
    } finally q.stop()
  }

  test("streaming VERIFIED near-dup pairs equal batch nearDupPairs, once each") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batch = Dedup.nearDupPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(batch.nonEmpty, "testdata should contain planted near-duplicates")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val in = mem.toDF().toDF("doc_id", "t_sec", "text")
      .withColumn("ts", timestamp_seconds(col("t_sec")))
    val q = Dedup.streamingNearDupPairs(in, "ts", "10 minutes", threshold = 0.8)
      .writeStream.format("memory").queryName("streamverified")
      .outputMode("append").start()
    try {
      // pairs split across micro-batches can only verify through state
      val (first, second) = corpus.splitAt(corpus.length / 2)
      mem.addData(first.map { case (id, t) => (id, 100L, t) }.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.map { case (id, t) => (id, 200L, t) }.toSeq: _*)
      q.processAllAvailable()
      val rows = s.table("streamverified")
        .select("doc_a", "doc_b", "inter", "uni", "jaccard").collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
      assert(got === batch, "stream-verified pairs must equal the batch tier")
      assert(rows.length === got.size,
        "minimal-band rule must emit each pair exactly once")
      // full corpus replay inside the horizon: nothing re-emits
      mem.addData(corpus.map { case (id, t) => (id, 210L, t) }.toSeq: _*)
      q.processAllAvailable()
      assert(s.table("streamverified").count() === rows.length)
    } finally q.stop()
  }

  test("persisted IVF index round-trips and probes with partition pruning") {
    val root = tmpDir("ivf")
    val idx = Ann.writeIvfIndex(emb, root, nlist = 16, kmeansIters = 3)
    val queries = emb.where(col("vec_id") < 3)
    val direct = Ann.ivfTopK(queries, emb, k = 5, nlist = 16, nprobe = 4,
        kmeansIters = 3)
      .orderBy("qid", "rnk").collect()
    assert(direct.nonEmpty)
    val probe = Ann.ivfProbeTopK(queries, idx, k = 5, nprobe = 4)
    assert(probe.orderBy("qid", "rnk").collect() === direct,
      "persisted probe must equal the in-memory plan bit-for-bit")
    // reopen from disk: quantizer and results survive the round-trip
    val reopened = Ann.openIvfIndex(spark, root)
    assert(reopened.centroids.map(_._1).toSeq === idx.centroids.map(_._1).toSeq)
    assert(reopened.centroids.map(_._2.toSeq).toSeq ===
      idx.centroids.map(_._2.toSeq).toSeq)
    val probe2 = Ann.ivfProbeTopK(queries, reopened, k = 5, nprobe = 4)
    assert(probe2.orderBy("qid", "rnk").collect() === direct)
    // the probe scan must be partition-PRUNED to the probed lists — reading
    // all nlist inverted lists would defeat the index
    val plan = probe2.queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l =>
      l.contains("PartitionFilters") && l.contains("list_id")),
      s"probe scan must show list_id partition pruning:\n$plan")
  }

  test("curation layout round-trips and PRUNES on lang and len_bin") {
    val root = java.nio.file.Files.createTempDirectory("graft_layout")
      .toString
    Curate.writeCurationLayout(docs, root)
    val back = Curate.openCurationLayout(spark, root)
    assert(back.count() === docs.count(), "no rows lost in the layout")
    // bin assignment matches quantileBins exactly
    val wantBins = graft.pipeline.Profile.quantileBins(
        docs.select(col("doc_id"), col("n_chars")), "n_chars", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val gotBins = back.select("doc_id", "len_bin").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(gotBins === wantBins)
    // the selective read prunes to the matching partitions
    val q = back.where(col("lang") === "en" && col("len_bin") === 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l => l.contains("PartitionFilters") &&
      l.contains("lang") && l.contains("len_bin")),
      s"curation filters must show as PartitionFilters:\n$plan")
  }

  test("exact dedup finds no duplicates in clean corpus, finds planted ones") {
    assert(Dedup.exactDupGroups(docs).count() === 0)
    val withDup = docs.select("doc_id", "text")
      .union(docs.select(col("doc_id") + 100000, col("text")).limit(3))
    assert(Dedup.exactDupGroups(withDup).count() === 6) // 3 pairs → 6 members
  }

  test("token stats and quality are consistent") {
    val st = TextOps.tokenStats(docs).collect()
    assert(st.forall(r => r.getAs[Long]("n_uniq") <= r.getAs[Long]("n_tokens")))
    assert(st.forall(r => r.getAs[Long]("stop_cnt") <= r.getAs[Long]("n_tokens")))
    val q = TextOps.qualityScore(docs).collect()
    assert(q.forall(r => r.getAs[Double]("uniq_ratio") > 0 &&
      r.getAs[Double]("uniq_ratio") <= 1.0))
  }

  test("repetition stats match hand-computed values on crafted docs") {
    val s = spark
    import s.implicits._
    val crafted = Seq(
      // "a b a b a": tokens a×3 b×2; bigrams (a b)×2 (b a)×2; trigrams
      // (a b a)×2 (b a b)×1 → dup instances 2
      (1L, "a b a b a"),
      // all-distinct: top token 1, top bigram 1, no dup trigrams
      (2L, "p q r s t"),
      // two tokens: trigram row must be NULL-fraction, not a crash
      (3L, "x x")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(crafted).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_tokens") === 5)
    assert(r(0).getAs[Long]("top_token_cnt") === 3)
    assert(r(0).getAs[Long]("top_bigram_cnt") === 2)
    assert(r(0).getAs[Long]("dup_trigram_cnt") === 2)
    assert(r(0).getAs[Double]("top_token_frac") === 3.0 / 5)
    assert(r(0).getAs[Double]("top_bigram_frac") === 2.0 / 4)
    assert(r(0).getAs[Double]("dup_trigram_frac") === 2.0 / 3)
    assert(r(1).getAs[Long]("top_token_cnt") === 1)
    assert(r(1).getAs[Long]("dup_trigram_cnt") === 0)
    assert(r(2).getAs[Long]("top_token_cnt") === 2)
    assert(r(2).getAs[Long]("top_bigram_cnt") === 1)
    assert(r(2).isNullAt(r(2).fieldIndex("dup_trigram_frac")))
  }

  test("decontamination flags planted benchmark overlap and nothing else") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // shares the 8-gram w2..w9
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"), // disjoint
      (3L, "short doc")).toDF("doc_id", "text") // whole-text fallback, clean
    val bench = Seq(
      (100L, "v0 w2 w3 w4 w5 w6 w7 w8 w9")).toDF("doc_id", "text")
    val r = Dedup.decontaminate(corpus, bench, n = 8)
      .orderBy("doc_id").collect()
    assert(r.map(_.getAs[Boolean]("contaminated")).toSeq ===
      Seq(true, false, false))
    assert(r(0).getAs[Long]("n_overlap") === 1)
    assert(r(0).getAs[Long]("n_grams") === 3)
    assert(r(0).getAs[Double]("contam_frac") === 1.0 / 3)
    // whole-text fallback doc matches itself when planted into the benchmark
    val r2 = Dedup.decontaminate(corpus, corpus.where(col("doc_id") === 3), n = 8)
      .orderBy("doc_id").collect()
    assert(r2.map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("contaminated")))
      .toSeq === Seq((1L, false), (2L, false), (3L, true)))
  }

  test("bloom decontamination tier matches the exact tier bit for bit") {
    val s = spark
    import s.implicits._
    // real corpus slice: varied doc lengths, overlap + disjoint + fallback
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.where(col("doc_id") % 11 =!= 0)
    val bench = docs.where(col("doc_id") % 11 === 0)
    val exact = Dedup.decontaminate(corpus, bench, n = 8)
      .orderBy("doc_id").collect().toSeq
    val viaBloom = Dedup.decontaminateBloom(corpus, bench, n = 8)
      .orderBy("doc_id").collect().toSeq
    assert(viaBloom === exact)
    // the codegen'd graft_might_contain probe is live on this session; a
    // doc shorter than one gram takes the whole-text hash on both paths
    assert(spark.catalog.functionExists("graft_might_contain"))
    val tiny = Seq((1L, "a b c d e f g h i"), (2L, "x y")).toDF("doc_id", "text")
    val tb = Seq((9L, "a b c d e f g h")).toDF("doc_id", "text")
    assert(Dedup.decontaminateBloom(tiny, tb, n = 8).orderBy("doc_id")
      .collect().toSeq ===
      Dedup.decontaminate(tiny, tb, n = 8).orderBy("doc_id").collect().toSeq)
  }

  test("keywords rank rare-but-frequent tokens first with a total order") {
    val s = spark
    import s.implicits._
    val crafted = Seq(
      (1L, "rare rare common common common"), // rare: df 1; common: df 2
      (2L, "common other")).toDF("doc_id", "text")
    val r = TextOps.keywords(crafted, k = 2).orderBy("doc_id", "rnk").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("token"),
        x.getAs[Long]("score"), x.getAs[Long]("rnk")))
    // doc 1: rare tf2/df1 = 2e6 beats common tf3/df2 = 1.5e6
    assert(r.toSeq === Seq((1L, "rare", 2000000L, 1L),
      (1L, "common", 1500000L, 2L),
      (2L, "other", 1000000L, 1L), (2L, "common", 500000L, 2L)))
  }

  test("redactPii counts on original text and replaces email before IP before phone") {
    val s = spark
    import s.implicits._
    val crafted = Seq(
      // the email's local+domain contain digit runs an IP/phone pattern
      // could bite into — email MUST be replaced first so they don't
      (1L, "mail 555-1234@10.0.0.1.example.com now"),
      // standalone instances of each kind, plus case/space normalization
      (2L, "Contact a@b.co  via 192.168.0.1 or 555-0000 TODAY"),
      (3L, "no pii here")).toDF("doc_id", "text")
    val r = TextOps.redactPii(crafted).orderBy("doc_id").collect()
    assert(r(0).getAs[String]("red_text") === "mail <EMAIL> now")
    assert((r(0).getAs[Long]("n_email"), r(0).getAs[Long]("n_ip"),
      r(0).getAs[Long]("n_phone")) === ((1L, 1L, 1L)),
      "counts run on the ORIGINAL text, not the redacted one")
    assert(r(1).getAs[String]("red_text") ===
      "Contact <EMAIL>  via <IP> or <PHONE> TODAY")
    assert(r(1).getAs[String]("norm_text") ===
      "contact <email> via <ip> or <phone> today")
    assert(r(2).getAs[String]("red_text") === "no pii here")
    assert((r(2).getAs[Long]("n_email"), r(2).getAs[Long]("n_ip"),
      r(2).getAs[Long]("n_phone")) === ((0L, 0L, 0L)))
  }

  test("lineDedup removes cross-document boilerplate, keeps order and blanks") {
    val s = spark
    import s.implicits._
    val boiler = "(c) footer"
    val crafted = Seq(
      (1L, s"alpha one\n$boiler\nalpha two"),
      (2L, s"beta\n\n$boiler"),      // blank line must survive
      (3L, s"$boiler\ngamma"),
      (4L, boiler),                  // every line removed -> ""
      (5L, "delta only")).toDF("doc_id", "text")
    val r = TextOps.lineDedup(crafted, minDocs = 3).orderBy("doc_id").collect()
      .map(x => (x.getAs[String]("clean_text"), x.getAs[Long]("n_lines"),
        x.getAs[Long]("n_removed")))
    assert(r.toSeq === Seq(
      ("alpha one\nalpha two", 3L, 1L), // interior removal re-joins in order
      ("beta\n", 3L, 1L),               // trailing blank kept
      ("gamma", 2L, 1L),
      ("", 1L, 1L),
      ("delta only", 1L, 0L)))
    // boiler is in 4 docs; above that threshold nothing is frequent ->
    // identity on text
    val id = TextOps.lineDedup(crafted, minDocs = 5).orderBy("doc_id").collect()
    assert(id.map(_.getAs[Long]("n_removed")).forall(_ === 0L))
  }

  test("curate applies dup > quality > repetition priority and exact-integer gates") {
    val s = spark
    import s.implicits._
    val good = "the cat sat on a mat and it was warm for hours here"
    val crafted = Seq(
      (1L, good),                    // clean -> keep
      (2L, good),                    // exact dup of 1 -> dropped as 'dup'
      (3L, "tiny doc"),              // < 10 tokens, no stopword -> 'quality'
      // >= 10 tokens with a stopword (passes quality) but one token is
      // 4/12 = 33% > 15% of the doc -> 'repetition'
      (4L, "the spam spam spam spam words words other other other more more"),
      // dup AND low quality -> 'dup' wins (priority order)
      (5L, "tiny doc")).toDF("doc_id", "text")
    val r = Curate.curate(crafted).orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Boolean]("keep"),
        x.getAs[String]("reason")))
    assert(r.toSeq === Seq(
      (1L, true, "ok"), (2L, false, "dup"), (3L, false, "quality"),
      (4L, false, "repetition"), (5L, false, "dup")))
  }

  test("encodeDocs assigns rank ids, position order, and -1 for OOV") {
    val s = spark
    import s.implicits._
    val crafted = Seq(
      (1L, "b a a c"),   // tf: a=3, b=2, c=1  ->  ids a=0, b=1, c=2
      (2L, "a b rare")).toDF("doc_id", "text")
    val vocab = TextOps.vocabularyWithIds(crafted, topK = 2) // a, b only
    assert(vocab.orderBy("tok_id").collect()
      .map(x => (x.getAs[String]("token"), x.getAs[Long]("tok_id")))
      .toSeq === Seq(("a", 0L), ("b", 1L)))
    val r = TextOps.encodeDocs(crafted, vocab).orderBy("doc_id", "pos")
      .collect().map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("pos"),
        x.getAs[Long]("tok_id")))
    assert(r.toSeq === Seq(
      (1L, 0L, 1L), (1L, 1L, 0L), (1L, 2L, 0L), (1L, 3L, -1L), // c OOV
      (2L, 0L, 0L), (2L, 1L, 1L), (2L, 2L, -1L)))              // rare OOV
  }

  test("fingerprints are deterministic across evaluations") {
    val f1 = TextOps.minFingerprint(docs).orderBy("doc_id").collect()
    val f2 = TextOps.minFingerprint(docs).orderBy("doc_id").collect()
    assert(f1 === f2)
  }

  test("duplicatedSpans marks shared ranges, merges islands, skips short docs") {
    val s = spark
    import s.implicits._
    // docs 1/2 share tokens 0-9 (a0..a9); doc 1 also repeats c0..c7 at its
    // tail (second island, gap between); doc 3 is unique; doc 4 too short
    val shared = (0 until 10).map(i => s"a$i").mkString(" ")
    val mid1 = (0 until 6).map(i => s"b$i").mkString(" ")
    val dupTail = (0 until 8).map(i => s"c$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$shared $mid1 $dupTail"),
      (2L, s"$shared x0 x1 x2"),
      (3L, (0 until 20).map(i => s"u$i").mkString(" ")),
      (4L, "w0 w1 w2"),
      (5L, s"y0 y1 $dupTail")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(corpus, n = 4)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1: tokens 0..9 shared with doc2 (grams 0..6 -> span [0,10));
    //       c-run at positions 16..23 shared with doc5 (grams 16..20 ->
    //       span [16,24)) - two islands, not one
    // doc2: span [0,10); doc5: c-run at 2..9 -> span [2,10)
    assert(got === Array(
      (1L, 0L, 10L, 7L), (1L, 16L, 24L, 5L),
      (2L, 0L, 10L, 7L), (5L, 2L, 10L, 5L)))
  }

  test("duplicatedSpans merges ABUTTING intervals into one maximal span") {
    val s = spark
    import s.implicits._
    // doc1 "x y z w": dup grams (x y)@0 and (z w)@2 — intervals [0,2) and
    // [2,4) abut (contiguous coverage) -> ONE span [0,4)
    // doc2 "x y q z w": dup hits @0 and @3 — gap -> two spans
    val corpus = Seq((1L, "x y z w"), (2L, "x y q z w")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(corpus, n = 2)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (1L, 0L, 4L, 2L),
      (2L, 0L, 2L, 1L), (2L, 3L, 5L, 1L)))
  }

  test("duplicatedSpans island merge joins overlapping gram hits") {
    val s = spark
    import s.implicits._
    // two docs sharing one long run: every gram duplicates, spans must
    // coalesce into ONE maximal range per doc, n_grams = len - n + 1
    val run = (0 until 15).map(i => s"t$i").mkString(" ")
    val corpus = Seq((1L, run), (2L, run)).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(corpus, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((1L, 0L, 15L, 11L), (2L, 0L, 15L, 11L)))
  }

  test("hashVectorize: counts preserved, zero-filled, partition-invariant") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "a a a b"),
      (2L, "a"),
      (3L, "c d e f g h")).toDF("doc_id", "text")
    val vecs = TextOps.hashVectorize(corpus, dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs.keySet === Set(1L, 2L, 3L))
    assert(vecs.values.forall(_.length === 16))
    // total mass = token count; doc1's 'a' bucket holds exactly 3
    assert(vecs(1L).sum === 4f && vecs(2L).sum === 1f && vecs(3L).sum === 6f)
    assert(vecs(1L).max === 3f)
    // same token -> same bucket across docs
    val aBucket = vecs(2L).indexWhere(_ > 0f)
    assert(vecs(1L)(aBucket) === 3f)
    val again = TextOps.hashVectorize(corpus.repartition(7), dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(again === vecs)
    // the bridge property: the vectors feed the embedding dedup tier as-is
    val emb = TextOps.hashVectorize(corpus, dim = 16)
      .select(col("doc_id").as("vec_id"), col("vec").as("embedding"))
    val top = Ann.bruteForceTopK(emb.where(col("vec_id") === 1L), emb, k = 1)
      .collect()
    assert(top.length === 1 && top.head.getLong(1) === 2L,
      "doc2 (pure 'a') must be doc1's nearest neighbour")
  }

  test("searchTopK scores by exact-integer tf-idf with deterministic ties") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "join join join common"),
      (2L, "join common common x"),
      (3L, "rare common y z"),
      (4L, "none of these w")).toDF("doc_id", "text")
    val got = TextOps.searchTopK(corpus, Seq("join", "rare"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // df(join)=2, df(rare)=1, N=4: idf(join)=2000000, idf(rare)=4000000
    assert(got === Array((1L, 6000000L), (3L, 4000000L), (2L, 2000000L)))
    // non-matching docs never appear even with k to spare
    assert(!got.map(_._1).contains(4L))
  }

  test("chunkDocs windows with stride and a short tail") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(d, window = 3, stride = 2)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // split-semantics parity: "" tokenizes to [""], one empty chunk
    assert(out.toSeq === Seq(
      (1L, 0L, 0L, 3L, "a b c"), (1L, 1L, 2L, 3L, "c d e"),
      (1L, 2L, 4L, 3L, "e f g"), (1L, 3L, 6L, 1L, "g"),
      (2L, 0L, 0L, 1L, "x"), (3L, 0L, 0L, 1L, "")))
    // stride == window: non-overlapping partition of the token stream
    val flat = TextOps.chunkDocs(d.where(col("doc_id") === 1), 3, 3)
      .orderBy("chunk_id").collect().map(_.getString(4))
    assert(flat.toSeq === Seq("a b c", "d e f", "g"))
  }

  test("labelOutliers flags the planted off-centroid member exactly") {
    val s = spark
    import s.implicits._
    // label 0: three near-identical vectors + one far outlier (vec 4);
    // label 1: a tie on distance broken by the smaller vec_id
    val rows = Seq(
      (1L, 0, Array(0.1f, 0.2f)), (2L, 0, Array(0.1f, 0.2f)),
      (3L, 0, Array(0.1f, 0.2f)), (4L, 0, Array(0.9f, -0.5f)),
      (10L, 1, Array(1.0f, 0.0f)), (11L, 1, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Ann.labelOutliers(rows).orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // manual: q = round(x*10000); label 0 sums S = (12000, 1000)
    // vec 4: n*q - S = (4*9000-12000, 4*-5000-1000) = (24000, -21000)
    val d4 = 24000L * 24000L + 21000L * 21000L
    assert(out(0) === ((0, 4L, 4L, d4)))
    // label 1: symmetric pair — equal distance, vec 10 wins the tie
    assert(out(1)._3 === 10L && out(1)._2 === 2L)
    // partitioning invariance (integer sums)
    val re = Ann.labelOutliers(rows.repartition(5)).orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(re.toSeq === out.toSeq)
  }

  test("bigramFluency: repeated transitions score high, unique ones low") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "a b a b a b"),   // transitions all repeated corpus-wide
      (2L, "c d e f"),       // every transition unique
      (3L, "a b c d"),       // mixed
      (4L, "x")).toDF("doc_id", "text") // single token: no bigram row
    val out = TextOps.bigramFluency(corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // hand counts over all docs: c(a,b)=4 (3 in doc1 + 1 in doc3),
    // c_x(a)=4; c(b,a)=2, c_x(b)=3 (b->a twice, b->c once)
    // doc1: p(ab)=1e6*4/4=1000000 x3, p(ba)=2e6/3=666666 x2
    val d1 = (3L * 1000000L + 2L * 666666L) / 5L
    assert(out(1L) === ((5L, d1)))
    // doc2: every transition deterministic given w1 (c_xy == c_x) -> 1e6
    assert(out(2L) === ((3L, 1000000L)))
    assert(!out.contains(4L))
    // cross-corpus reference: doc2's transitions absent -> score 0
    val ref = corpus.where(col("doc_id") === 1L)
    val vs = TextOps.bigramFluency(corpus.where(col("doc_id") === 2L),
        counts = Some(ref)).collect()
    assert(vs.length === 1 && vs.head.getLong(2) === 0L)
  }

  test("collocations rank bound phrases above chance pairs by exact lift") {
    val s = spark
    import s.implicits._
    // "new york" always bound; "the cat" rides the common word "the"
    val corpus = Seq(
      (1L, "new york is big the cat sat on the mat"),
      (2L, "i love new york the dog ran to the park"),
      (3L, "new york new york the cat hid in the box")).toDF("doc_id", "text")
    val out = TextOps.collocations(corpus, minCount = 2L, k = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // hand counts: tokens N = 30; c(new)=4, c(york)=4, c(new york)=4
    val (cxy, cx, cy, lift) = out(("new", "york"))
    assert((cxy, cx, cy) === ((4L, 4L, 4L)))
    assert(lift === 4L * 30L * 1000000L / (4L * 4L))
    // the bound phrase dominates the chance pair
    assert(lift > out(("the", "cat"))._4)
    // minCount prunes singletons ("york is" occurs once)
    assert(!out.contains(("york", "is")))
  }

  test("bm25TopK matches the hand-evaluated integer rational") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "join join join common"),      // dl 4
      (2L, "join common common x"),       // dl 4
      (3L, "rare common y z"),            // dl 4
      (4L, "none of these w")).toDF("doc_id", "text") // dl 4
    // N=4, L=16; df(join)=2 -> idf 2000000; df(rare)=1 -> idf 4000000
    // sat_e6(tf, dl=4) = 22*tf*16*1e6 div (10*tf*16 + 3*16 + 9*4*4)
    def sat(tf: Long): Long = (22L * tf * 16 * 1000000L) / (10 * tf * 16 + 48 + 144)
    val expected = Map(
      1L -> 2000000L * sat(3),                  // join tf=3
      2L -> 2000000L * sat(1),                  // join tf=1
      3L -> 4000000L * sat(1))                  // rare tf=1
    val got = TextOps.bm25TopK(corpus, Seq("join", "rare"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)
    // saturation: doc 1's tf=3 scores < 3x doc 2's tf=1 (unlike linear tf-idf)
    assert(got(1L) < 3 * got(2L))
    // determinism under repartition
    val re = TextOps.bm25TopK(corpus.repartition(7), Seq("join", "rare"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(re === expected)
  }
}
