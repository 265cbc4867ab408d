package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Embeddings are quantized to an int grid (`round(x*10000)`) before any
  * arithmetic: dot products and norms become exact 64-bit integer sums, so
  * (a) results are bit-reproducible across engines/partitionings (the DuckDB
  * oracle matches exactly — float summation order can never flip a rank),
  * and (b) at 100 TB the narrow int64 math is cheaper than doubles.
  *
  * Tiers:
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set,
  *    one scan of the corpus, per-query top-k via window. Linear in corpus.
  *  - [[lshTopK]]: random-hyperplane LSH (Charikar '02) — corpus is bucketed
  *    by sign-pattern of h deterministic hyperplanes; queries probe only
  *    their own bucket (plus multiprobe neighbors at distance 1). Search cost
  *    drops 2^h-fold at the recall cost LSH implies.
  */
object Ann {

  val Q: Long = 10000L

  /** embedding array<float> → array<long> quantized. */
  def quantize(e: Column): Column =
    transform(e, x => round(x.cast("double") * Q).cast("long"))

  /** The interpreted dot product, the reference form `graft_dot` is pinned
    * bit-identical to (DotProductLongSpec); [[cosinePairs]], [[lshBucket]]
    * and [[lshCosinePairsExpr]] score through it on purpose. */
  private def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Dot product for the candidate-scoring JOINS: the codegen'd
    * `graft_dot` expression `GraftExtensions` registers in every graft
    * session (a session without it fails at analysis naming the routine).
    * The scoring join evaluates one dot per (query, candidate) pair, the
    * only per-PAIR expression in the engine, so the interpreted [[dotQ]]'s
    * constant (zipped-array allocation + two closures per element) would
    * multiply by n·q — this is a primitive loop inside whole-stage codegen
    * instead. */
  private[pipeline] def dotFast(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def normQ(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0L), (acc, x) => acc + x).cast("double"))

  /** [[normQ]] through the codegen'd graft_dot primitive — Σa² = ⟨a,a⟩ is
    * the same exact int64 sum, so the double sqrt is bit-identical. Used
    * at every per-CORPUS-row call site (norms run once per corpus vector;
    * the interpreted transform/aggregate pair allocates a squared array
    * and runs two closures per element). normQ stays for the reference
    * (interpreted-on-purpose) forms. */
  private def normFast(a: Column): Column =
    sqrt(dotFast(a, a).cast("double"))

  /** Exact cosine top-k for each query vector. `queries` and `corpus` both
    * (id, embedding); queries assumed small → broadcast (no shuffle of the
    * corpus at all; the only wide op is the per-query top-k window over
    * corpus-partition-local candidates). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qe"))
      .withColumn("qn", normFast(col("qe"))))
    val c = corpus.select(col("vec_id").as("vid"), quantize(col("embedding")).as("ve"))
      .withColumn("vn", normFast(col("ve")))
    val scored = c.join(q, col("qid") =!= col("vid"))
      .withColumn("cosine", dotFast(col("qe"), col("ve"))
        .cast("double") / (col("qn") * col("vn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "vid", "rnk", "cosine")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most-similar corpus vectors with a DIFFERENT label —
    * near misses are what teach a retriever its decision boundary
    * (random negatives are trivially far; same-label neighbors are
    * positives, not negatives). Exactly [[bruteForceTopK]]'s broadcast
    * shape — queries broadcast, the corpus never shuffles, and the
    * label-mismatch predicate rides INSIDE the join condition so
    * same-label pairs are dropped before scoring — plus the identical
    * per-query top-k window. Swap in the IVF/LSH tier when the query
    * side outgrows a broadcast.
    *
    * @return (qid, q_label, vid, neg_label, rnk, cosine), ≤ k rows per
    *         query */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"),
        col("label").as("q_label"), quantize(col("embedding")).as("qe"))
      .withColumn("qn", normFast(col("qe"))))
    val c = corpus.select(col("vec_id").as("vid"),
        col("label").as("neg_label"), quantize(col("embedding")).as("ve"))
      .withColumn("vn", normFast(col("ve")))
    val scored = c.join(q, col("q_label") =!= col("neg_label"))
      .withColumn("cosine", dotFast(col("qe"), col("ve"))
        .cast("double") / (col("qn") * col("vn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "q_label", "vid", "neg_label", "rnk", "cosine")
  }

  /** Sign-bit binary quantization: a dim-float embedding becomes
    * ceil(dim/32) packed words (bit i of word w = 1 iff element
    * 32w+i > 0) — a 32× size cut vs float32 that turns distance into
    * XOR+popcount. Bits are packed 32 per int64 word rather than 64 so
    * the identical arithmetic stays overflow-free in engines that check
    * BIGINT overflow (the oracle builds words as Σ 2^i, and 2^63 has no
    * unsigned escape hatch there); Hamming distances are unaffected.
    *
    * The word is accumulated as acc·2 + bit from the high bit down — no
    * shift-by-column needed, pure integer ops, bit-identical everywhere.
    * Elements beyond `dim` (ragged last word) contribute 0. */
  def signBits(e: Column, dim: Int): Column = {
    val nw = (dim + 31) / 32
    transform(sequence(lit(0), lit(nw - 1)), w =>
      aggregate(sequence(lit(31), lit(0), lit(-1)), lit(0L), (acc, i) =>
        acc * 2 + when(element_at(e, w * 32 + i + 1) > lit(0f), 1L)
          .otherwise(0L)))
  }

  /** Exact Hamming top-k over sign-bit-quantized embeddings: the
    * compressed-domain ANN tier. Semantics of [[bruteForceTopK]] with
    * cosine replaced by Hamming distance between sign patterns (their
    * angular-distance estimator, Charikar '02) — ranks are exact for the
    * quantized representation, so the whole operator is
    * integer-deterministic and hash-oracle-checkable, unlike recall-based
    * float ANN.
    *
    * Shape at 100 TB: quantization is a narrow projection (precompute and
    * store the array<long> column next to the corpus — it is 32× smaller
    * than the floats and this scan then never touches them); queries
    * broadcast; the corpus never shuffles — the only exchange is the
    * per-query top-k window over partition-local candidates, identical to
    * the brute-force tier. Distance is ceil(dim/32) XOR+popcounts per
    * pair instead of dim float multiplies. */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                  dim: Int): DataFrame = {
    val nw = (dim + 31) / 32
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      signBits(col("embedding"), dim).as("qb")))
    val c = corpus.select(col("vec_id").as("vid"),
      signBits(col("embedding"), dim).as("vb"))
    // per-PAIR distance unrolled over the literal word count: a plain
    // codegen'd sum of nw XOR+popcounts (r17 — the zip_with/aggregate
    // lambda pair was interpreted, paid once per (query, candidate) pair);
    // both arrays are exactly nw words by construction, so the sum is the
    // identical fold
    val hammingCol = (0 until nw).map(i =>
        bit_count(element_at(col("qb"), i + 1)
          .bitwiseXOR(element_at(col("vb"), i + 1))).cast("long"))
      .reduce(_ + _)
    val scored = c.join(q, col("qid") =!= col("vid"))
      .withColumn("hamming", hammingCol)
    val w = Window.partitionBy("qid").orderBy(col("hamming").asc, col("vid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "vid", "hamming", "rnk")
  }

  /** All corpus pairs with cosine >= threshold (embedding near-dup dedup).
    * Correctness tier is all-pairs; at scale route through [[lshBuckets]]
    * first exactly like Dedup.lshCandidates. */
  def cosinePairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("vid_a"), quantize(col("embedding")).as("ea"))
      .withColumn("na", normQ(col("ea")))
    val b = corpus.select(col("vec_id").as("vid_b"), quantize(col("embedding")).as("eb"))
      .withColumn("nb", normQ(col("eb")))
    a.join(b, col("vid_a") < col("vid_b"))
      .withColumn("cosine", dotQ(col("ea"), col("eb")).cast("double") / (col("na") * col("nb")))
      .where(col("cosine") >= threshold)
      .select("vid_a", "vid_b", "cosine")
  }

  /** Exact all-pairs cosine >= threshold via the broadcast-matrix pattern:
    * the quantized corpus (8 bytes × dim per vector) is broadcast and each
    * partition scans its vectors against the in-memory matrix in a tight
    * long-arithmetic loop — identical integer results to [[cosinePairs]],
    * but ~100× cheaper than per-pair interpreted zip_with/aggregate (those
    * higher-order functions don't codegen).
    *
    * Scale note: this is for corpora whose QUANTIZED matrix fits an executor
    * (≲ 10M × 64 dims ≈ 5 GB). Beyond that, route through [[lshTopK]]-style
    * bucketing — an unbucketed n² pass at 100 TB is a non-starter no matter
    * the constant. */
  private val pairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vid_a",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("vid_b",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cosine",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  // Row/RDD form rather than Dataset[(Long, Array[Long])]: Product encoders
  // need runtime reflection that breaks under REPL/notebook classloaders,
  // and a library entry point can't assume an application one.
  def cosinePairsFast(corpus: DataFrame, threshold: Double,
                      maxExact: Long = 10000000L): DataFrame = {
    val spark = corpus.sparkSession
    val q = corpus.select(col("vec_id"), quantize(col("embedding")).as("e"))
    // enforce the documented exact-tier cap BEFORE collecting: a silent
    // driver-side materialization of an oversized corpus OOMs the driver;
    // failing fast with the routing hint is the contract
    val n = q.count()
    require(n <= maxExact,
      s"cosinePairsFast broadcasts the quantized corpus ($n vectors > cap " +
        s"$maxExact): this exact tier is for corpora whose matrix fits an " +
        "executor — route through Ann.lshCosinePairs (bucketed, never " +
        "collected) instead, or raise maxExact deliberately")
    val all = q.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(all)
    val t = threshold
    val rdd = q.repartition(spark.sparkContext.defaultParallelism)
      .rdd.mapPartitions { it =>
        val mat = bc.value
        val norms = mat.map { case (_, v) =>
          var s = 0L; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          math.sqrt(s.toDouble)
        }
        val ids = mat.map(_._1)
        it.flatMap { r =>
          val ida = r.getLong(0)
          val va = r.getSeq[Long](1).toArray
          var na = 0L; var i = 0
          while (i < va.length) { na += va(i) * va(i); i += 1 }
          val normA = math.sqrt(na.toDouble)
          // only pairs (ida < idb); ids sorted so start past ida
          var lo = java.util.Arrays.binarySearch(ids, ida) + 1
          if (lo < 0) lo = -lo
          (lo until mat.length).iterator.flatMap { j =>
            val vb = mat(j)._2
            var d = 0L; var k = 0
            while (k < va.length) { d += va(k) * vb(k); k += 1 }
            val cos = d.toDouble / (normA * norms(j))
            if (cos >= t) Some(org.apache.spark.sql.Row(ida, ids(j), cos)) else None
          }
        }
      }
    spark.createDataFrame(rdd, pairSchema)
  }

  /** Product-quantization codebook: the sub-vectors of the first `ksub`
    * corpus vectors by vec_id, on the integer grid — the same
    * deterministic "sampled centroids" discipline as the IVF tier
    * (kmeansIters=0), so a SQL oracle can recompute the codebook exactly;
    * substitute per-subspace k-means at production scale, the code
    * assignment and ADC scan below are unchanged. ksub × dim longs —
    * driver-held, broadcast as a literal. */
  def pqCentroids(corpus: DataFrame, ksub: Int): Seq[Seq[Long]] =
    corpus.select(col("vec_id"), quantize(col("embedding")).as("e"))
      .orderBy("vec_id").limit(ksub).collect()
      .map(_.getSeq[Long](1).toSeq).toSeq

  /** Product-quantization ANN (Jégou, Douze & Schmid, PAMI 2011): the
    * dim-dimensional grid vector is split into `m` subspaces of dim/m;
    * each sub-vector is replaced by the id of its nearest codebook entry
    * (squared-L2, ties to the smaller id) — m small ints instead of dim
    * floats, a dim·4/m-fold compression (64-dim float32 → 4 bytes at
    * m=4). Search is asymmetric distance computation (ADC): the query
    * computes one m×ksub distance TABLE, and each corpus vector scores
    * as m table lookups summed — no per-pair arithmetic beyond adds.
    *
    * Everything is exact int64 (grid L2² sub-distances), so codes, ADC
    * distances and ranks are hash-oracle-checkable. Approximation error
    * lives in the quantization itself, not the arithmetic.
    *
    * Shape at 100 TB: code assignment is a narrow projection (one pass,
    * m·ksub·(dim/m) int ops per vector — precompute and STORE the codes
    * column next to the corpus like [[signBits]]; the scan then reads
    * m bytes/vector); queries broadcast with their tables; the corpus
    * never shuffles — only the per-query top-k window moves candidates.
    *
    * @return (qid, vid, adist, rnk) top-k per query by (ADC dist, vid) */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 4,
             ksub: Int = 16): DataFrame = {
    val cent = pqCentroids(corpus, ksub)
    require(cent.nonEmpty, "corpus smaller than one codebook entry")
    val dim = cent.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(cent.length == ksub, s"corpus has fewer than ksub=$ksub rows")
    val dsub = dim / m
    val centLit = typedlit(cent)
    // c·c sub-norm table (ksub × m), computed driver-side from the literal
    // codebook — zero runtime cost (r17: the runtime dotFast(subc, subc)
    // re-derived this compile-time constant per row × subspace × centroid)
    val ccTab: Seq[Seq[Long]] = cent.map { cv =>
      (0 until m).map { j =>
        var s = 0L; var i = 0
        while (i < dsub) { val x = cv(j * dsub + i); s += x * x; i += 1 }
        s
      }
    }
    val ccLit = typedlit(ccTab)
    // x·c between sub-vector j of `vec` and codebook entry c (1-based
    // element_at positions; j, c are 0-based lambda ints) — one codegen'd
    // graft_dot primitive loop over array slices instead of a dsub-step
    // aggregate() whose per-element lambda machinery dominated the encode
    // (r16 profile: the whole query ran as one interpreted stage).
    def subXc(vec: Column, j: Column, c: Column): Column = {
      val sub = slice(vec, j * dsub + lit(1), lit(dsub))
      val subc = slice(element_at(centLit, c + 1), j * dsub + lit(1), lit(dsub))
      dotFast(sub, subc)
    }
    // code assignment = argmin_c Σ(x−c)² = argmin_c (c·c − 2·x·c): the x·x
    // term is constant across the ksub candidates, so dropping it shifts
    // every score equally — argmin position and ties are bit-identical
    // (exact int64), and the encode pays ONE dot per (j, c) instead of the
    // r16 form's three (x·x re-evaluated per centroid, c·c per row).
    val codesCol = transform(sequence(lit(0), lit(m - 1)), j => {
      val scores = transform(sequence(lit(0), lit(ksub - 1)), c => {
        val xc = subXc(col("ve"), j, c)
        element_at(element_at(ccLit, c + 1), j + 1) - xc - xc
      })
      // first position of the min → smallest c on ties
      (array_position(scores, array_min(scores)) - 1).cast("int")
    })
    val c = corpus.select(col("vec_id").as("vid"),
        quantize(col("embedding")).as("ve"))
      .withColumn("codes", codesCol).select("vid", "codes")
    // the query table needs the FULL sub-distance x·x − 2·x·c + c·c (adist
    // values are output); x·x is hoisted to one eval per subspace via the
    // qxx array column instead of ksub re-evals inside the inner lambda
    val qxxCol = transform(sequence(lit(0), lit(m - 1)), j => {
      val sub = slice(col("qe"), j * dsub + lit(1), lit(dsub))
      dotFast(sub, sub)
    })
    val dtabCol = transform(sequence(lit(0), lit(m - 1)), j =>
      transform(sequence(lit(0), lit(ksub - 1)), cc => {
        val xc = subXc(col("qe"), j, cc)
        element_at(col("qxx"), j + 1) - xc - xc +
          element_at(element_at(ccLit, cc + 1), j + 1)
      }))
    val q = broadcast(queries.select(col("vec_id").as("qid"),
        quantize(col("embedding")).as("qe"))
      .withColumn("qxx", qxxCol)
      .withColumn("dtab", dtabCol).select("qid", "dtab"))
    // ADC fold unrolled over the literal m: a plain codegen'd sum of m
    // element_at lookups, not an interpreted aggregate() lambda — this
    // runs once per (query, candidate) pair, the true inner loop
    val adistCol = (0 until m).map(j =>
        element_at(element_at(col("dtab"), j + 1),
          element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val scored = c.join(q, col("qid") =!= col("vid"))
      .withColumn("adist", adistCol)
    val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("vid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "vid", "adist", "rnk")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * partitions the corpus into inverted lists; queries probe only the
    * `nprobe` nearest lists. Centroids here are a deterministic sample of
    * the corpus (first nlist by vec_id — at production scale substitute a
    * k-means job; the index structure, assignment join and probe plan are
    * identical). Search cost drops nlist/nprobe-fold.
    *
    * Layout at scale: `corpus.repartition(col("list_id"))` + parquet
    * partitionBy(list_id) makes each probe a partition-pruned scan. */
  private val ivfAssignSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vid",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("ve",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)),
    org.apache.spark.sql.types.StructField("list_id",
      org.apache.spark.sql.types.LongType, nullable = false)))

  def ivfAssign(corpus: DataFrame, centroids: Array[(Long, Array[Long])]): DataFrame =
    ivfAssignWithDist(corpus, centroids).drop("adist")

  /** [[ivfAssign]] plus `adist`, the SQUARED distance to the assigned
    * centroid in quantized-long units — the per-vector quantization
    * residual. All-integer (exact in any engine), and the ingredient the
    * IVF drift monitor observes: under a frozen quantizer, a drop drawn
    * from a drifted distribution lands FAR from every stored centroid,
    * so its residuals grow while an in-distribution drop's match the
    * build-time baseline ([[graft.store.IvfStore.driftStats]]). */
  def ivfAssignWithDist(corpus: DataFrame,
                        centroids: Array[(Long, Array[Long])]): DataFrame = {
    // the codegen'd `graft_ivf_argmin` expression: exact Σ(v−c)² in int64,
    // strict-< keep-first tie rule (IvfArgminL2Spec), oracle-checked through
    // q196/q43/q193/q194; both struct fields are projected from ONE
    // expression eval (codegen subexpression elimination)
    val centLit = typedlit(centroids.map(_._2.toSeq).toSeq)
    val why =
      if (centroids.isEmpty) "the quantizer has no centroids"
      else "its embedding is null, holds a null element or does not match " +
        "the quantizer's dimension"
    corpus
      .select(col("vec_id").as("vid"), quantize(col("embedding")).as("ve"))
      .withColumn("_bd", call_function("graft_ivf_argmin", col("ve"), centLit))
      .select(col("vid"), col("ve"),
        // NULL for a malformed vector: fail it by id, or every join on
        // list_id downstream drops it silently (and a store write files it
        // under list_id=__HIVE_DEFAULT_PARTITION__, which no probe reads)
        when(col("_bd").isNull, raise_error(concat(lit("IVF assignment: vec_id "),
            col("vid"), lit(s" has no list ($why)"))).cast("long"))
          .otherwise(col("_bd").getField("list_id")).as("list_id"),
        col("_bd").getField("adist").as("adist"))
  }

  def ivfCentroids(corpus: DataFrame, nlist: Int): Array[(Long, Array[Long])] = {
    requireLists(nlist)
    corpus.select(col("vec_id"), quantize(col("embedding")).as("e"))
      .orderBy("vec_id").limit(nlist).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
  }

  /** An empty quantizer (`nlist` = 0) cannot hold a vector: every one
    * would fail [[ivfAssignWithDist]]. */
  private def requireLists(nlist: Int): Unit =
    require(nlist > 0, s"IVF quantizer needs nlist > 0, got nlist = $nlist")

  /** Deterministic distributed k-means (Lloyd's) for the IVF coarse
    * quantizer. Init = `nlist` evenly-spaced vectors in vec_id order (spread
    * across the corpus, reproducible — no RNG); each round broadcasts the
    * centroids (nlist × dim longs) and does ONE partial-aggregated shuffle
    * for the per-list element-wise means — the corpus itself is never
    * collected. Centroids stay on the quantized long grid (rounded means)
    * so assignments and search results are bit-reproducible run to run.
    * Empty lists keep their previous centroid.
    *
    * Note the trade Lloyd's buys at scale: BALANCED lists (measured 19–46
    * members across 16 lists on the near-isotropic test embeddings, vs a
    * long tail for raw-sample centroids), i.e. bounded per-probe cost and
    * no hot lists — at the price of lower equal-nprobe recall on
    * unclustered data (probing 4/16 of a balanced corpus examines fewer
    * points than probing 4 skewed lists). Real clustered embeddings recover
    * the recall; raise nprobe to trade it back explicitly. */
  def kmeansCentroids(corpus: DataFrame, nlist: Int,
                      iters: Int = 3): Array[(Long, Array[Long])] = {
    requireLists(nlist)
    val q = corpus.select(col("vec_id"), quantize(col("embedding")).as("e"))
    val n = q.count()
    val step = math.max(1L, n / nlist)
    var cents: Array[(Long, Array[Long])] = q.orderBy("vec_id").rdd
      .zipWithIndex()
      .filter { case (_, i) => i % step == 0 && i / step < nlist }
      .map { case (r, i) => (i / step, r.getSeq[Long](1).toArray) }
      .collect().sortBy(_._1)
    val dim = if (cents.nonEmpty) cents(0)._2.length else 0
    for (_ <- 0 until iters if cents.nonEmpty) {
      val sums = ivfAssign(corpus, cents)
        .groupBy("list_id")
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(j => sum(element_at(col("ve"), j + 1)).as(s"s$j")): _*)
        .collect()
      val byId = sums.map { r =>
        val cnt = r.getLong(1)
        r.getLong(0) -> (0 until dim).map(j =>
          Math.round(r.getLong(2 + j).toDouble / cnt)).toArray
      }.toMap
      cents = cents.map { case (i, old) => (i, byId.getOrElse(i, old)) }
    }
    cents
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              kmeansIters: Int = 3): DataFrame = {
    val cents =
      if (kmeansIters > 0) kmeansCentroids(corpus, nlist, kmeansIters)
      else ivfCentroids(corpus, nlist)
    val spark = corpus.sparkSession
    val assigned = ivfAssign(corpus, cents)
      .withColumn("vn", normFast(col("ve")))
    val bc = spark.sparkContext.broadcast(cents)
    val qRdd = queries.select(col("vec_id"), quantize(col("embedding")).as("e"))
      .rdd.flatMap { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Long](1).toArray
        val cs = bc.value
        val byDist = cs.indices.map { i =>
          val c = cs(i)._2
          var d = 0L; var kk = 0
          while (kk < v.length) { val t = v(kk) - c(kk); d += t * t; kk += 1 }
          (d, i.toLong)
        }.sortBy(x => (x._1, x._2)).take(nprobe)
        byDist.map { case (_, list) => org.apache.spark.sql.Row(id, v.toSeq, list) }
      }
    val q = spark.createDataFrame(qRdd,
      org.apache.spark.sql.types.StructType(ivfAssignSchema.fields.toSeq.map {
        f => f.copy(name = f.name match {
          case "vid" => "qid"; case "ve" => "qe"; case other => other })
      }))
    val qb = broadcast(q.withColumn("qn", normFast(col("qe"))))
    val scored = assigned.join(qb, Seq("list_id")).where(col("qid") =!= col("vid"))
      .withColumn("cosine", dotFast(col("qe"), col("ve"))
        .cast("double") / (col("qn") * col("vn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "vid", "rnk", "cosine")
  }

  // ======================= persisted IVF index ==========================

  /** Handle to a persisted IVF index: the (tiny) coarse quantizer lives on
    * the driver, the inverted lists stay on disk as a `list_id=`-partitioned
    * parquet layout that probes read with partition pruning. */
  final case class IvfIndex(root: String, centroids: Array[(Long, Array[Long])])

  private val centroidSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("list_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("ce",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))))

  /** Materialize the IVF index [[ivfTopK]] only documents:
    *   `root/centroids/`        — (list_id, ce) parquet, nlist rows
    *   `root/vectors/list_id=N/` — (vid, ve, vn) parquet, partitioned
    * `partitionBy(list_id)` is the point: a probe turns into a
    * partition-PRUNED scan of nprobe/nlist of the corpus (asserted by
    * PipelineSpec), the same layout discipline as the warehouse's
    * `interval=` levels. Norms are precomputed at write time so probes do
    * no corpus-side sqrt work. One assignment pass over the corpus, one
    * shuffle into the list partitions — both linear. */
  def writeIvfIndex(corpus: DataFrame, root: String, nlist: Int = 16,
                    kmeansIters: Int = 3): IvfIndex =
    writeIvfIndex(corpus, root, nlist, kmeansIters, 0)

  private[graft] def writeIvfIndex(corpus: DataFrame, root: String,
                    nlist: Int, kmeansIters: Int,
                    crashAfterStep: Int): IvfIndex =
      graft.store.Lease.withLease(root, "Ann.writeIvfIndex") {
    // the new generation (quantizer AND lists) is staged beside the live
    // index, which stays probe-able until the commit: a crash (or a lease
    // lost to a takeover) during the long list write must not leave new
    // centroids over old assignments, or half-written lists
    val spark = corpus.sparkSession
    graft.store.StagedCommit.rebuild(root, graft.store.IvfStore.store,
        "Ann.writeIvfIndex", crashAfterStep) { tmp =>
      val cents =
        if (kmeansIters > 0) kmeansCentroids(corpus, nlist, kmeansIters)
        else ivfCentroids(corpus, nlist)
      // list_id is the centroid's ARRAY INDEX (what ivfAssign emits), not
      // the seed vector's vec_id
      val indexed = cents.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
      val cRows = indexed.map { case (i, v) => org.apache.spark.sql.Row(i, v.toSeq) }
      spark.createDataFrame(java.util.Arrays.asList(cRows: _*), centroidSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp("centroids"))
      // drift baseline: the build-time assignment-residual distribution,
      // observed on the SAME pass that writes the lists (zero extra jobs)
      // — appends compare their drops against it (IvfStore.driftStats);
      // the aggregates travel in the commit marker so the roll-forward
      // writes the fresh ledger whoever completes it
      val obs = new org.apache.spark.sql.Observation()
      graft.store.withWriterCoalesce(spark) {
        ivfStoredRowsWithDist(corpus, indexed)
          .observe(obs, count(lit(1)).as("n"),
            sum(col("adist").cast("double")).as("s"),
            sum(col("adist").cast("double") * col("adist").cast("double")).as("s2"))
          .drop("adist")
          .repartition(col("list_id"))
          .write.partitionBy("list_id").mode("overwrite")
          .parquet(tmp("vectors"))
      }
      (graft.store.IvfStore.readObs3(obs) match {
        case Some((n, s, s2)) => s"""{"n":$n,"s":$s,"s2":$s2}"""
        case None => "{}"
      }, IvfIndex(root, indexed))
    }
  }

  /** The persisted row form of one corpus slice under a FROZEN quantizer —
    * exactly what [[writeIvfIndex]] writes, factored out so the staged
    * delta append ([[graft.store.IvfStore.append]]) stages byte-compatible
    * rows: assignment against the stored centroids plus the precomputed
    * norm probes consume. */
  private[graft] def ivfStoredRows(corpus: DataFrame,
                                   cents: Array[(Long, Array[Long])]): DataFrame =
    ivfAssign(corpus, cents)
      .withColumn("vn", normFast(col("ve")))

  /** [[ivfStoredRows]] plus the `adist` residual column — the writer
    * observes drift aggregates on it DURING the write pass
    * (`Dataset.observe`, zero extra jobs) and drops it before persisting,
    * so the stored schema stays (vid, ve, list_id, vn). */
  private[graft] def ivfStoredRowsWithDist(corpus: DataFrame,
                                           cents: Array[(Long, Array[Long])]): DataFrame =
    ivfAssignWithDist(corpus, cents)
      .withColumn("vn", normFast(col("ve")))

  /** Open a persisted index: only the nlist-row quantizer is read eagerly
    * (it must sit on the driver to route probes); the inverted lists stay
    * on disk until a probe prunes into them. */
  def openIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   root: String): IvfIndex =
    IvfIndex(root, spark.read.parquet(s"$root/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1))

  /** Top-k probe against a persisted index — same scoring/ranking contract
    * as [[ivfTopK]] (bit-identical results for the same centroids, pinned by
    * PipelineSpec). Queries are the SMALL side by contract (every ANN tier
    * here broadcasts them), so probe-list selection runs on the driver and
    * the vectors scan gets a LITERAL `list_id` IN-filter — static partition
    * pruning visible in the plan, no runtime DPP dependence: the scan reads
    * at most `nprobe × nqueries` of the nlist partitions. */
  def ivfProbeTopK(queries: DataFrame, index: IvfIndex, k: Int,
                   nprobe: Int = 4,
                   exclude: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    val qs = queries.select(col("vec_id"), quantize(col("embedding")).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val cs = index.centroids
    val probes = qs.flatMap { case (id, v) =>
      cs.map { case (li, c) =>
        var d = 0L; var kk = 0
        while (kk < v.length) { val t = v(kk) - c(kk); d += t * t; kk += 1 }
        (d, li)
      }.sortBy(x => (x._1, x._2)).take(nprobe).map { case (_, li) => (id, v, li) }
    }
    // prune on the raw (partition-inferred int) column, then normalize type
    val lists = probes.map(_._3.toInt).distinct.sorted
    val vecs0 = spark.read.parquet(s"${index.root}/vectors")
      .where(col("list_id").isin(lists: _*))
      .withColumn("list_id", col("list_id").cast("long"))
    // retirement support (IvfStore tombstones): excluded ids leave the
    // candidate side BEFORE ranking, so the top-k backfills from live
    // vectors exactly as a fresh index of the survivors would
    val vecs = exclude match {
      case Some(t) => vecs0.join(
        broadcast(t.select(col("vec_id").cast("long").as("vid"))),
        Seq("vid"), "left_anti")
      case None => vecs0
    }
    val qRows = probes.map { case (id, v, li) =>
      org.apache.spark.sql.Row(id, v.toSeq, li)
    }
    val q = spark.createDataFrame(java.util.Arrays.asList(qRows: _*),
      org.apache.spark.sql.types.StructType(ivfAssignSchema.fields.toSeq.map {
        f => f.copy(name = f.name match {
          case "vid" => "qid"; case "ve" => "qe"; case other => other })
      }))
    val qb = broadcast(q.withColumn("qn", normFast(col("qe"))))
    val scored = vecs.join(qb, Seq("list_id")).where(col("qid") =!= col("vid"))
      .withColumn("cosine", dotFast(col("qe"), col("ve"))
        .cast("double") / (col("qn") * col("vn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "vid", "rnk", "cosine")
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is a
    * zero-mean int derived from md5(p:j) — reproducible without a RNG
    * (public so the DuckDB oracle can render the same planes). */
  def planeComponent(p: Int, j: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$j".getBytes("UTF-8"))
    (((hex(0) & 0xffL) << 8) | (hex(1) & 0xffL)) - 32768L
  }

  /** Sign-pattern bucket id of an embedding under `h` hyperplanes (dim
    * components each). Pure column expression → computed at scan time.
    * Note this form re-quantizes `e` once PER PLANE (h× interpreted
    * transforms per row) — the internal call sites stage the quantized
    * column once and use [[lshBucketFromQuantized]]; this stays as the
    * self-contained public form. */
  def lshBucket(e: Column, h: Int, dim: Int): Column =
    (0 until h).map { p =>
      val plane = array((0 until dim).map(j => lit(planeComponent(p, j))): _*)
      when(dotQ(quantize(e), plane) >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** [[lshBucket]] over an ALREADY-quantized column attribute: the caller
    * projects `quantize(embedding).as("e")` once and the h plane dots read
    * that attribute (CollapseProject keeps the stages apart — `e` is
    * non-cheap and multiply-referenced), through the codegen'd `graft_dot`.
    * Bit-identical bucket ids to [[lshBucket]]. */
  private def lshBucketFromQuantized(q: Column, h: Int, dim: Int): Column =
    (0 until h).map { p =>
      val plane = array((0 until dim).map(j => lit(planeComponent(p, j))): _*)
      when(dotFast(q, plane) >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** Embedding near-dup pairs at 100 TB scale: hyperplane-LSH bucketing, then
    * within-bucket pairs only. Fully distributed — ONE shuffle on the bucket
    * key, pair expansion bounded per bucket, NO driver-side collect (unlike
    * [[cosinePairsFast]], which is the exact small-corpus tier). Each vector
    * belongs to exactly one bucket, so no pair is scored twice. Recall is the
    * LSH trade: pairs split across buckets are missed — lower `h` raises
    * recall and bucket size; production stacks several independent tables.
    *
    * Execution shape: after `repartition(bucket)` every bucket lands whole in
    * one partition, so pair scoring is a partition-local primitive-long loop
    * (same integer math as [[cosinePairsFast]] — the per-pair
    * zip_with/aggregate lambdas it replaces don't codegen and ran ~100×
    * slower). The `maxBucket` cap is enforced partition-locally too: a hot
    * bucket (clustered embeddings can put an O(n²) blowup in one sign
    * pattern) buffers at most maxBucket+1 vectors before the whole bucket is
    * dropped, mirroring `Dedup.lshCandidates`. At real scale grow `h` so
    * 2^h ≫ cores (bucket count = parallelism) and stack tables for recall. */
  def lshCosinePairs(corpus: DataFrame, threshold: Double,
                     h: Int = 4, dim: Int = 64,
                     maxBucket: Int = 10000): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(col("vec_id"), quantize(col("embedding")).as("e"))
      .withColumn("bucket", lshBucketFromQuantized(col("e"), h, dim))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket")
    val t = threshold
    val cap = maxBucket
    val out = c.rdd.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[org.apache.spark.sql.Row] {
        private var cur: Iterator[org.apache.spark.sql.Row] = Iterator.empty

        // Consume one whole bucket (contiguous after sortWithinPartitions);
        // emit its (vid_a < vid_b, cosine >= t) pairs, or nothing if the
        // bucket exceeds the cap (buffering stops at cap+1 — bounded memory).
        private def fillNextBucket(): Unit = {
          val bucket = buf.head.getLong(2)
          val ids = new scala.collection.mutable.ArrayBuffer[Long]
          val vecs = new scala.collection.mutable.ArrayBuffer[Array[Long]]
          var over = false
          while (buf.hasNext && buf.head.getLong(2) == bucket) {
            val r = buf.next()
            if (!over) {
              ids += r.getLong(0)
              vecs += r.getSeq[Long](1).toArray
              if (ids.length > cap) { over = true; ids.clear(); vecs.clear() }
            }
          }
          cur = if (over || ids.length < 2) Iterator.empty else {
            val order = ids.indices.sortBy(ids(_)).toArray
            val sIds = order.map(ids(_))
            val sVecs = order.map(vecs(_))
            val norms = sVecs.map { v =>
              var s = 0L; var i = 0
              while (i < v.length) { s += v(i) * v(i); i += 1 }
              math.sqrt(s.toDouble)
            }
            val n = sIds.length
            (0 until n).iterator.flatMap { i =>
              val va = sVecs(i); val na = norms(i)
              (i + 1 until n).iterator.flatMap { j =>
                val vb = sVecs(j)
                var d = 0L; var k = 0
                while (k < va.length) { d += va(k) * vb(k); k += 1 }
                val cos = d.toDouble / (na * norms(j))
                if (cos >= t) Some(org.apache.spark.sql.Row(sIds(i), sIds(j), cos))
                else None
              }
            }
          }
        }

        def hasNext: Boolean = {
          while (!cur.hasNext && buf.hasNext) fillNextBucket()
          cur.hasNext
        }
        def next(): org.apache.spark.sql.Row = {
          if (!hasNext) throw new NoSuchElementException("empty")
          cur.next()
        }
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vid_a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vid_b",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cosine",
        org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Embedding-level dup CLUSTERS — the embedding sibling of
    * [[Dedup.nearDupClusters]] and the end of the embedding-dedup pipeline:
    * LSH-bucketed cosine pairs at `threshold` → connected components →
    * one canonical survivor (minimum vec_id) per cluster. Returns one row
    * per corpus vector: (vec_id, cluster_id, keep); filter on `keep` for
    * the deduplicated embedding set.
    *
    * The component frame is vertex-sized (vectors appearing in a pair —
    * a vanishing fraction), so the final assignment join is corpus ×
    * small; singleton vectors keep themselves. Same shapes as the text
    * pipeline: bucketed pair generation ([[lshCosinePairs]] — no all-pairs
    * join), edge-sized component rounds, nothing pinned. */
  def embeddingDupClusters(emb: DataFrame, threshold: Double,
                           h: Int = 4, dim: Int = 64,
                           maxBucket: Int = 10000): DataFrame = {
    val pairs = lshCosinePairs(emb, threshold, h, dim, maxBucket)
      .select("vid_a", "vid_b")
    val comp = Dedup.connectedComponents(pairs, "vid_a", "vid_b")
      .withColumnRenamed("doc_id", "vec_id")
    emb.select("vec_id").join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
  }

  /** Reference (interpreted column-expression) form of [[lshCosinePairs]] —
    * identical integer math, no cap; kept for the bit-equality spec that
    * pins the fast path. Not for the hot path: per-pair zip_with/aggregate
    * doesn't codegen. */
  private[graft] def lshCosinePairsExpr(corpus: DataFrame, threshold: Double,
                                        h: Int = 4, dim: Int = 64): DataFrame = {
    val c = corpus.select(col("vec_id"), quantize(col("embedding")).as("e"),
        lshBucket(col("embedding"), h, dim).as("bucket")) // reference form on purpose
      .withColumn("n", normQ(col("e")))
    val a = c.select(col("bucket"), col("vec_id").as("vid_a"),
      col("e").as("ea"), col("n").as("na"))
    val b = c.select(col("bucket"), col("vec_id").as("vid_b"),
      col("e").as("eb"), col("n").as("nb"))
    a.join(b, Seq("bucket")).where(col("vid_a") < col("vid_b"))
      .withColumn("cosine",
        dotQ(col("ea"), col("eb")).cast("double") / (col("na") * col("nb")))
      .where(col("cosine") >= threshold)
      .select("vid_a", "vid_b", "cosine")
  }

  /** ANN via hyperplane-LSH buckets: queries join only their bucket.
    * Multiprobe: each query also probes the h buckets at hamming distance 1,
    * recovering most near-boundary misses. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              h: Int = 8, dim: Int = 64): DataFrame = {
    val c = corpus.select(col("vec_id").as("vid"), quantize(col("embedding")).as("ve"))
      .withColumn("bucket", lshBucketFromQuantized(col("ve"), h, dim))
      .withColumn("vn", normFast(col("ve")))
    val probes = (0 to h).map { i =>
      if (i == 0) col("qb") else col("qb").bitwiseXOR(lit(1L << (i - 1)))
    }
    val q = broadcast(queries
      .select(col("vec_id").as("qid"), quantize(col("embedding")).as("qe"))
      .withColumn("qb", lshBucketFromQuantized(col("qe"), h, dim))
      .withColumn("qn", normFast(col("qe")))
      .withColumn("bucket", explode(array(probes: _*))))
    val scored = c.join(q, Seq("bucket")).where(col("qid") =!= col("vid"))
      .withColumn("cosine", dotFast(col("qe"), col("ve"))
        .cast("double") / (col("qn") * col("vn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "vid", "rnk", "cosine")
  }

  /** Per-label centroid outliers — the embedding-QA pass that flags each
    * cluster's farthest member (mislabeled/contaminated vectors sit far
    * from their class centroid). EXACT integers end to end: on the
    * quantized grid, `‖v − mean‖²` scaled by n² is
    * `Σ_d (n·q_d − S_d)²` with S_d the label's per-dimension sum — no
    * mean division, no float accumulation, so the winner (max d2_num,
    * ties to the smaller vec_id) is bit-deterministic and SQL-matchable.
    *
    * Shape at scale: one (label, dim) partial-agg shuffle builds the
    * centroid sums (labels×dims rows, broadcast back), one (label,
    * vec_id) partial-agg shuffle scores members, and the per-label
    * argmax is a combiner-friendly `max_by`. The corpus is read once.
    * Headroom: `(n·|q| + n·|q|)² · dims < 2⁶³` — n·10⁴ per label to
    * ~3e8, far beyond any per-label cluster size in practice.
    *
    * @return per label: (label, n, outlier_id, d2_num) */
  def labelOutliers(emb: DataFrame): DataFrame = {
    val x = emb.select(col("vec_id"), col("label"),
      posexplode(quantize(col("embedding"))).as(Seq("d", "q")))
    val s = x.groupBy("label", "d").agg(sum("q").as("_sd"))
    val n = emb.groupBy("label").agg(count(lit(1)).as("n"))
    val d2 = x.join(broadcast(s), Seq("label", "d"))
      .join(broadcast(n), "label")
      .withColumn("_t",
        (col("n") * col("q") - col("_sd")) * (col("n") * col("q") - col("_sd")))
      .groupBy("label", "vec_id").agg(sum("_t").as("d2_num"))
    d2.groupBy("label")
      .agg(max_by(struct(col("vec_id").as("outlier_id"), col("d2_num")),
        struct(col("d2_num"), -col("vec_id"))).as("_r"))
      .join(n, "label")
      .select(col("label"), col("n"), col("_r.outlier_id"), col("_r.d2_num"))
  }

  /** Per-dimension corpus statistics over an embedding column — the
    * whitening/normalization prep every embedding pipeline runs before
    * indexing (mean-centering vectors, spotting dead or runaway
    * dimensions, sanity-checking a new encoder drop). All arithmetic on
    * the exact quantized grid: counts, sums, sums of squares and
    * min/max per dimension are BIGINTs, `mean_q` is the negative-safe
    * floor division `(Σq − pmod(Σq, n)) div n` — bit-reproducible
    * cross-engine; variance derives from (n, sum_q, sumsq_q) in
    * whatever precision the caller wants.
    *
    * Shape at 100 TB: `posexplode` is a NARROW projection (dim rows per
    * vector, no shuffle); the only exchange is the (dim)-keyed groupBy,
    * partial-aggregated map-side to at most `dim` rows per task — the
    * shuffle carries dim × tasks rows regardless of corpus size.
    * Headroom: `sumsq_q ≤ q_max² · n` = 10⁸·n, safe to n ≈ 9·10¹⁰
    * vectors per dimension.
    *
    * @return one row per dimension: (dim, n, sum_q, sumsq_q, min_q,
    *         max_q, mean_q), all BIGINT */
  def embeddingStats(corpus: DataFrame): DataFrame =
    corpus
      .select(posexplode(quantize(col("embedding"))).as(Seq("dim", "q")))
      .select(col("dim").cast("long").as("dim"), col("q"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum("q").as("sum_q"),
        sum(col("q") * col("q")).as("sumsq_q"),
        min("q").as("min_q"),
        max("q").as("max_q"))
      .withColumn("mean_q", expr("(sum_q - pmod(sum_q, n)) div n"))

  /** Exact epsilon-ball R-S join — the embedding-space decontamination
    * pass: flag every CORPUS vector within squared quantized distance
    * `d2max` of ANY probe vector (probes = the eval/benchmark set that
    * must not leak into training data). The n-gram twin is q46's
    * decontaminate; this one catches paraphrases that share no exact
    * grams but embed nearby.
    *
    * EXACT, recall 1, all-integer decisions: both sides live on the
    * [[quantize]]d long grid, a pair's squared distance is the integer
    * identity `d2 = ‖c‖² + ‖p‖² − 2·⟨c,p⟩` (dot via the codegen'd
    * `graft_dot`), and candidate pruning is the triangle inequality made
    * integer-exact — probe p can reach a member of IVF list L (radius
    * r_L = max member↔centroid distance) only if
    * `d(p,c_L) ≤ r_L + d_max`, decided without any square root as
    * `A ≤ B + C  ∨  (A−B−C)² ≤ 4·B·C` on the squared values
    * A = d²(p,c_L), B = r²_L, C = d2max (both sides of the surviving
    * `√A ≤ √B + √C` are nonnegative, so squaring twice is sound).
    * Pruned lists provably contain no qualifying pair, so recall stays 1
    * and a brute-force SQL oracle matches bit-for-bit.
    *
    * Shape at 100 TB: the corpus is assigned once to `nlist` IVF lists
    * (narrow map over broadcast centroids) and NEVER shuffled — the
    * probe set (small by nature: eval benchmarks) is exploded per
    * surviving list and BROADCAST, so the candidate join is a
    * broadcast-hash join on `list_id` against the unshuffled corpus and
    * the only exchange is the final per-vector partial-agg groupBy. On
    * clustered corpora the triangle test prunes most lists per probe; on
    * isotropic data it degrades to scoring every list — the honest
    * worst case of any EXACT threshold join. Overflow contract: the
    * twice-squared decision needs A,B ≤ ~1.5e9 (unit-norm embeddings
    * sit at ≤ 4e8); violations raise loudly rather than wrap.
    *
    * @return flagged corpus rows only: (vec_id, n_hits, min_d2) */
  def epsilonJoin(corpus: DataFrame, probes: DataFrame, d2max: Long,
                  nlist: Int = 8): DataFrame = {
    require(d2max >= 0 && d2max <= 1500000000L,
      s"d2max must be in [0, 1.5e9] for int64-exact pruning: $d2max")
    val spark = corpus.sparkSession
    val cents = kmeansCentroids(corpus, nlist)
    val asg = ivfAssign(corpus, cents)   // (vid, ve, list_id), corpus-narrow
    // r17: both distance forms through the codegen'd graft_dot primitive
    // instead of interpreted aggregate/zip_with lambdas — the n2 form runs
    // once per CORPUS row. Σ(a−b)² = a·a + b·b − 2⟨a,b⟩ and Σa² = ⟨a,a⟩
    // are bit-exact int64 identities (congruent mod 2⁶⁴ even under
    // wraparound), so every guard fires on exactly the same values.
    val d2 = (a: Column, b: Column) => {
      val ab = dotFast(a, b)
      dotFast(a, a) + dotFast(b, b) - ab - ab
    }
    val n2 = (a: Column) => dotFast(a, a)
    // centroid table: nlist rows, rides broadcast everywhere below
    val centDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(cents.toIndexedSeq.zipWithIndex.map {
        case ((_, c), i) => org.apache.spark.sql.Row(i.toLong, c.toSeq)
      }, 1), ivfAssignSchema("list_id", "ce")))
    val guard = (c: Column, what: String) =>
      when(c > 1500000000L || c < 0L,
        raise_error(concat(lit(s"epsilonJoin: $what squared distance "),
          c, lit(" exceeds the int64-exact pruning bound 1.5e9 — " +
            "normalize the embeddings or shrink the quantization grid")))
          .cast("long")).otherwise(c)
    // the pair identity n2c + n2p − 2·dot stays inside int64 while each
    // squared norm ≤ 2e18 (sum magnitude ≤ 4·maxN2 < 2⁶³); a vector whose
    // norm evades the distance guard (all mass shared with its centroid)
    // raises here instead of wrapping
    val guardN2 = (c: Column) =>
      when(c > 2000000000000000000L || c < 0L,
        raise_error(concat(lit("epsilonJoin: squared norm "), c,
          lit(" exceeds the int64-exact bound 2e18 — normalize the " +
            "embeddings or shrink the quantization grid")))
          .cast("long")).otherwise(c)
    // per-list radius²: one tiny agg over the corpus assignment
    val r2 = asg.join(centDf, "list_id")
      .select(col("list_id"), guard(d2(col("ve"), col("ce")), "member").as("_d2c"))
      .groupBy("list_id").agg(max("_d2c").as("r2"))
    // probe × centroids (nlist-wide broadcast), keep lists the triangle
    // test cannot rule out: √A ≤ √B + √C  ⟺  A ≤ B+C  ∨  (A−B−C)² ≤ 4BC
    val pQ = probes.select(col("vec_id").as("pid"),
      quantize(col("embedding")).as("pe"))
    val a = guard(d2(col("pe"), col("ce")), "probe")
    val pCand = broadcast(pQ.crossJoin(centDf) // nlist-row broadcast fan-out
      .join(broadcast(r2), "list_id")
      .withColumn("_a", a)
      .withColumn("_s", col("_a") - col("r2") - d2max)
      // CaseWhen evaluates lazily, so _s² is only formed when _s > 0
      // (then _s ≤ A ≤ 1.5e9 and both sides stay inside int64)
      .where(when(col("_s") <= 0L, lit(true))
        .otherwise(col("_s") * col("_s") <= lit(4L) * col("r2") * d2max))
      .select(col("list_id"), col("pid"), col("pe"),
        guardN2(n2(col("pe"))).as("_n2p")))
    // candidate scoring: broadcast-hash join on list_id — the corpus side
    // stays exactly where the scan put it
    asg.withColumn("_n2c", guardN2(n2(col("ve"))))
      .join(pCand, "list_id")
      .withColumn("_d2", col("_n2c") + col("_n2p") -
        lit(2L) * dotFast(col("ve"), col("pe")))
      .where(col("_d2") <= d2max)
      .groupBy(col("vid").as("vec_id"))
      .agg(count(lit(1)).as("n_hits"), min("_d2").as("min_d2"))
  }

  private def ivfAssignSchema(idName: String, vecName: String) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idName,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(vecName,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))))
}
