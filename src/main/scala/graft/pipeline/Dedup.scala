package graft.pipeline

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One (doc, band-bucket) membership row of the streaming LSH tier. */
case class BucketDoc(band: Int, bkey: Long, doc_id: Long, ts: java.sql.Timestamp)

/** Per-bucket streaming state: docs seen in the bucket (capped) and the
  * latest event time, which anchors the state's eviction timeout. */
case class LshBucketState(ids: List[Long], maxTs: Long)

/** A near-dup candidate pair emitted by the streaming LSH tier. The same
  * pair can surface from several bands (`band` says which) — downstream
  * exact-set consumers dedup on (doc_a, doc_b), e.g. per micro-batch or
  * with a watermark-bounded dropDuplicates. */
case class CandidatePair(doc_a: Long, doc_b: Long, band: Int, ts: java.sql.Timestamp)

/** One (doc, band-bucket) membership row of the streaming VERIFIED tier:
  * carries the full signature (for the minimal-band emission rule) and the
  * distinct gram-hash set (for in-operator exact Jaccard). */
case class SigGramDoc(band: Int, bkey: Long, doc_id: Long,
                      ts: java.sql.Timestamp, sig: Seq[Long], grams: Seq[Long])

/** A doc resident in a verify-tier bucket's state. */
case class BucketMember(doc_id: Long, sig: Seq[Long], grams: Seq[Long])

/** Per-bucket state of the streaming verified tier. */
case class LshVerifyState(members: List[BucketMember], maxTs: Long)

/** An exact-Jaccard-VERIFIED near-dup pair from the streaming tier — same
  * columns and arithmetic as the batch verify tier, plus the event time of
  * the later-arriving doc. Emitted exactly once per pair (minimal-band
  * rule), so no downstream dedup is needed. */
case class VerifiedPair(doc_a: Long, doc_b: Long, inter: Long, uni: Long,
                        jaccard: Double, ts: java.sql.Timestamp)

/** Document deduplication for training-data pipelines.
  *
  * Tiers (all shuffle-bucketed — nothing here ever does an O(n²) crossJoin,
  * which at 100 TB / billions of docs is the difference between a job and a
  * non-starter):
  *  - exact: content-hash groupBy (one shuffle on a 16-byte key)
  *  - near: MinHash-LSH (Broder '97 / Leskovec MMDS ch.3) — shingle →
  *    signature → band buckets → within-bucket candidate pairs → exact
  *    Jaccard verification. Cost: O(n·bands) shuffled rows; pair blowup is
  *    bounded per bucket, and only candidates (a vanishing fraction) reach
  *    the verify join.
  *  - SimHash banding for hamming-distance blocking (see TextOps.simhash).
  */
object Dedup {

  /** Exact duplicates: annotate every doc whose content hash collides.
    * One shuffle on md5(text); at scale use this as the delete-list builder. */
  def exactDupGroups(docs: DataFrame, text: String = "text"): DataFrame = {
    val h = docs.select(col("doc_id"), md5(col(text)).as("content_hash"))
    val groups = h.groupBy("content_hash").agg(count(lit(1)).as("group_size"))
      .where(col("group_size") > 1)
    // group table is tiny (only colliding hashes) → broadcast join back
    h.join(broadcast(groups), Seq("content_hash"))
      .select("doc_id", "content_hash", "group_size")
  }

  /** STREAMING exact dedup: keep the first occurrence of each content hash,
    * with state BOUNDED by the event-time watermark — the plain
    * `dropDuplicates` alternative accumulates one state row per distinct
    * document forever, which on an unbounded corpus stream is an OOM with a
    * delay. Duplicates arriving within `delay` of the first copy are
    * dropped; a re-arrival after the watermark evicted its hash passes
    * through (the standard horizon trade — size the delay to the dedup
    * window the pipeline needs, and run batch [[exactDupGroups]] over the
    * landed corpus for the global pass). */
  def streamingExactDedup(docs: DataFrame, eventTime: String, delay: String,
                          text: String = "text"): DataFrame =
    docs.withColumn("content_hash", md5(col(text)))
      .withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Append `out` = MinHash signature of `text`, computed PER ROW —
    * bit-identical to [[minhashSignatures]] over [[shingleHashRows]] (pinned
    * by PipelineSpec) but needing no window and no aggregation, because one
    * row already holds the whole document. This is what makes the signature
    * computable inside a streaming micro-batch with no extra stateful
    * operator.
    *
    * Built from higher-order array functions (interpreted, not codegen'd) —
    * the right trade for streaming micro-batches; the batch pipeline keeps
    * its codegen'd explode+window form for full-corpus passes. Each
    * intermediate (tokens → token hashes → gram hashes → signature) is a
    * SEPARATE projection column, which matters enormously for interpreted
    * evaluation: inlined into one expression, the token-hash array is
    * re-evaluated by every `element_at` of every gram of every one of the
    * `numHashes` minima — O(numHashes · tokens²) md5 calls per document
    * (measured: minutes for 500 small docs). Staged, each array is computed
    * once per row and the lambdas only read attributes: O(tokens) md5 calls.
    * Catalyst's CollapseProject keeps the stages apart because each helper
    * is a non-cheap expression referenced more than once downstream. */
  private[pipeline] def withRowSignature(df: DataFrame, text: String,
                                         out: String, n: Int,
                                         numHashes: Int): DataFrame = {
    val gramsN = Sessionize.freshName("_sig_gs", df.columns.toSeq :+ out)
    withRowSigAndGrams(df, text, out, gramsN, n, numHashes).drop(gramsN)
  }

  /** Append BOTH the per-row minhash signature and the DISTINCT raw 60-bit
    * gram-hash set in one staged projection chain (one md5 per token; the
    * raw gram array is computed once and feeds both outputs — Catalyst
    * prunes whichever output a caller drops). `sigOut` is bit-identical to
    * [[minhashSignatures]] over [[shingleHashRows]] (spec-pinned);
    * `gramsOut` holds the same raw gram values [[shingleHashRows]] emits
    * (incl. the short-doc whole-text fallback), so an exact Jaccard over
    * the arrays reproduces the batch verify tier's counts exactly. */
  private[pipeline] def withRowSigAndGrams(df: DataFrame, text: String,
                                           sigOut: String, gramsOut: String,
                                           n: Int, numHashes: Int): DataFrame = {
    val taken = df.columns.toSeq ++ Seq(sigOut, gramsOut)
    val tkN = Sessionize.freshName("_sig_tk", taken)
    val thN = Sessionize.freshName("_sig_th", taken)
    val gxN = Sessionize.freshName("_sig_gx", taken)
    val hxN = Sessionize.freshName("_sig_hx", taken)
    df.withColumn(tkN, TextOps.tokens(col(text)))
      .withColumn(thN, transform(col(tkN), t => TextOps.md5Long(t)))
      // RAW gram hashes: same per-token md5 + positional rotate-XOR combine
      // as shingleHashRows; docs shorter than n tokens hash their whole text
      .withColumn(gxN,
        when(size(col(tkN)) >= n,
          transform(sequence(lit(0), size(col(tkN)) - n), i =>
            (0 until n).map(j =>
              TextOps.rot60(element_at(col(thN), i + j + 1), (7 * j) % 60))
              .reduce(_ bitwiseXOR _)))
          .otherwise(array(TextOps.md5Long(col(text)))))
      .withColumn(hxN, transform(col(gxN), x => pmod(x, lit(P))))
      .withColumn(sigOut, array((0 until numHashes).map { k =>
        val (a, b) = hashCoef(k)
        array_min(transform(col(hxN), x => pmod(x * a + b, lit(P))))
      }: _*))
      .withColumn(gramsOut, array_distinct(col(gxN)))
      .drop(tkN, thN, gxN, hxN)
  }

  /** STREAMING MinHash-LSH near-dup tier: incremental candidate pairs per
    * micro-batch, with state BOUNDED by the event-time watermark (the same
    * horizon contract as [[streamingExactDedup]]).
    *
    * Shape: the signature is a per-row projection ([[withRowSignature]] — no
    * aggregation), bands explode to (band, bkey) membership rows, and ONE
    * stateful operator keyed on the bucket holds the doc ids seen there.
    * A new doc emits a pair with every doc already in its bucket; a
    * replayed doc (same id re-delivered inside the horizon) emits nothing,
    * so candidate output is stable under source replay. Bucket state is
    * dropped once the watermark passes the bucket's last arrival + `delay`.
    *
    * Capacity contract vs batch [[lshCandidates]]: batch drops an over-cap
    * bucket WHOLESALE (it sees the full bucket up front); a stream cannot
    * retract, so this tier stops admitting docs once a bucket holds
    * `maxBucket` ids — the first `maxBucket` arrivals keep their pairs.
    * Below the cap the two tiers emit the same distinct (doc_a, doc_b)
    * set on the same corpus (pinned by PipelineSpec). The same pair may
    * arrive from several bands; dedup downstream on (doc_a, doc_b). */
  def streamingNearDupCandidates(docs: DataFrame, eventTime: String,
                                 delay: String, ngram: Int = 3,
                                 numHashes: Int = 32, bands: Int = 16,
                                 maxBucket: Int = 1000,
                                 text: String = "text"): Dataset[CandidatePair] = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val rowsPerBand = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    // watermark AFTER the projections: a cast/rename mints a new attribute
    // without the event-time tag, which would strip the watermark the
    // stateful operator below requires
    val banded = withRowSignature(
        docs.select(col("doc_id").cast("long").as("doc_id"),
          col(eventTime).cast("timestamp").as("ts"), col(text)),
        text, "sig", ngram, numHashes)
      .select("doc_id", "ts", "sig")
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b) +: (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*)): _*))
          .as(Seq("band", "bkey")))
      .as[BucketDoc]
    banded.groupByKey(d => (d.band, d.bkey))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), it: Iterator[BucketDoc],
         state: org.apache.spark.sql.streaming.GroupState[LshBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(LshBucketState(Nil, 0L))
            var ids = st.ids
            var seen = ids.toSet
            var maxTs = st.maxTs
            val out = List.newBuilder[CandidatePair]
            // deterministic intra-batch order: micro-batch iterators are
            // unordered, so sort by (ts, doc_id) before folding
            for (d <- it.toSeq.sortBy(x => (x.ts.getTime, x.doc_id))) {
              maxTs = math.max(maxTs, d.ts.getTime)
              if (!seen.contains(d.doc_id) && ids.size < maxBucket) {
                for (o <- ids)
                  out += CandidatePair(math.min(o, d.doc_id),
                    math.max(o, d.doc_id), key._1, d.ts)
                ids = d.doc_id :: ids
                seen += d.doc_id
              }
            }
            state.update(LshBucketState(ids, maxTs))
            // evict once no doc inside the dedup horizon can still pair here
            state.setTimeoutTimestamp(maxTs, delay)
            out.result().iterator
          }
      }
  }

  /** STREAMING near-dup pairs, VERIFIED — the end-to-end streaming sibling
    * of [[nearDupPairs]]: one stateful operator both discovers candidates
    * (LSH bucket collision) and settles them (exact Jaccard over the two
    * docs' distinct gram-hash sets, held in bucket state), so the stream
    * emits finished `(doc_a, doc_b, inter, uni, jaccard)` rows with the
    * batch tier's exact arithmetic — no reconciliation pass, no re-reading
    * a landed corpus.
    *
    * Cross-band dedup without a second stateful operator: a colliding pair
    * shares signature slots in EVERY band whose slots are equal, so it
    * meets in each such band's bucket — and only the MINIMAL slot-equal
    * band emits it. Exactly one emission per pair (a pure-hash bkey
    * collision with no slot-equal band verifies nowhere — odds ~2⁻⁶⁴,
    * and such a pair was never a real LSH candidate).
    *
    * State cost vs the candidates-only tier: each bucket holds its docs'
    * signature + distinct gram hashes (~8 B/gram), i.e. the horizon's docs
    * ×`bands` in gram footprint — the price of a stream that cannot
    * re-scan its corpus; bounded by the watermark horizon and `maxBucket`,
    * and sharded across executors by the (band, bkey) key. Same capacity
    * contract as [[streamingNearDupCandidates]]: below the cap, output ==
    * batch [[nearDupPairs]] on the same corpus (spec-pinned); a replayed
    * doc emits nothing. */
  def streamingNearDupPairs(docs: DataFrame, eventTime: String,
                            delay: String, threshold: Double = 0.8,
                            ngram: Int = 3, numHashes: Int = 0,
                            bands: Int = 0, maxBucket: Int = 1000,
                            text: String = "text"): Dataset[VerifiedPair] = {
    // geometry derives from the threshold like the batch sibling — the
    // parity spec compares both tiers' DEFAULTS, so they must move together
    val (nh, nb) = resolveBandGeometry(numHashes, bands, threshold,
      "streamingNearDupPairs", ngram)
    val rowsPerBand = nh / nb
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = withRowSigAndGrams(
        docs.select(col("doc_id").cast("long").as("doc_id"),
          col(eventTime).cast("timestamp").as("ts"), col(text)),
        text, "sig", "grams", ngram, nh)
      .select("doc_id", "ts", "sig", "grams")
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"), col("sig"), col("grams"),
        posexplode(array((0 until nb).map(b =>
          xxhash64(lit(b) +: (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*)): _*))
          .as(Seq("band", "bkey")))
      .as[SigGramDoc]
    banded.groupByKey(d => (d.band, d.bkey))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), it: Iterator[SigGramDoc],
         state: org.apache.spark.sql.streaming.GroupState[LshVerifyState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(LshVerifyState(Nil, 0L))
            var members = st.members
            var seen = members.iterator.map(_.doc_id).toSet
            var maxTs = st.maxTs
            val out = List.newBuilder[VerifiedPair]
            for (d <- it.toSeq.sortBy(x => (x.ts.getTime, x.doc_id))) {
              maxTs = math.max(maxTs, d.ts.getTime)
              if (!seen.contains(d.doc_id) && members.size < maxBucket) {
                val dg = d.grams.toSet
                for (o <- members) {
                  // minimal slot-equal band rule: emit here only if this
                  // band is the FIRST whose signature slots agree
                  val minBand = (0 until nb).find(b =>
                    (0 until rowsPerBand).forall(r =>
                      d.sig(b * rowsPerBand + r) == o.sig(b * rowsPerBand + r)))
                  if (minBand.contains(key._1)) {
                    val inter = o.grams.count(dg.contains).toLong
                    val uni = dg.size.toLong + o.grams.size - inter
                    val j = inter.toDouble / uni
                    if (j >= threshold)
                      out += VerifiedPair(math.min(d.doc_id, o.doc_id),
                        math.max(d.doc_id, o.doc_id), inter, uni, j, d.ts)
                  }
                }
                members = BucketMember(d.doc_id, d.sig, d.grams) :: members
                seen += d.doc_id
              }
            }
            state.update(LshVerifyState(members, maxTs))
            state.setTimeoutTimestamp(maxTs, delay)
            out.result().iterator
          }
      }
  }

  /** Word n-gram shingles, one row per DISTINCT (doc_id, gram) — the
    * exploded form every consumer actually needs. Built with posexplode +
    * lead windows (codegen'd) rather than per-element array lambdas
    * (interpreted, ~10× slower). Documents shorter than n tokens contribute
    * their whole text as the single shingle. */
  def shingleRows(docs: DataFrame, n: Int = 3, text: String = "text",
                  distinct: Boolean = true): DataFrame = {
    val tk = TextOps.tokens(col(text))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val long = docs.where(size(tk) >= n)
      .select(col("doc_id"), size(tk).as("n"), posexplode(tk).as(Seq("pos", "tok")))
      .withColumn("gram", concat_ws(" ",
        col("tok") +: (1 until n).map(o => lead(col("tok"), o).over(win)): _*))
      .where(col("pos") <= col("n") - n)
      .select("doc_id", "gram")
    val short = docs.where(size(tk) < n).select(col("doc_id"), col(text).as("gram"))
    val all = long.unionByName(short)
    if (distinct) all.distinct() else all
  }

  /** Like [[shingleRows]] but emits 60-bit HASHED grams built from per-token
    * hashes (one md5 per token, positional rotate-XOR combine — the q23
    * trick): n× less hashing than md5 per gram string and no concat. Valid
    * for the minhash pipeline because its ground truth is defined on gram
    * SETS — any injective-enough gram hash preserves set cardinalities
    * (collision odds ~1e-7 across ~1e6 grams). Short docs hash their whole
    * text, mirroring [[shingleRows]]'s single-shingle fallback.
    *
    * `distinct = false` skips the corpus-wide dedup shuffle — correct for
    * consumers whose aggregates are duplicate-insensitive (a per-doc MIN
    * cannot change under duplicates: the minhash path). */
  /** Positional 60-bit gram hashes: (doc_id, pos, gram) for every n-gram
    * start position, one md5 per token with the rotate-XOR combine. The
    * shared kernel of [[shingleHashRows]] (which drops pos and adds the
    * short-doc fallback) and [[duplicatedSpans]] (which keeps pos) — one
    * place to touch if the hash schedule ever changes, including its
    * `rot60Sql` oracle rendering. Docs shorter than n tokens emit nothing
    * here. */
  private def positionalGramHashes(docs: DataFrame, n: Int,
                                   text: String): DataFrame = {
    val tk = TextOps.tokens(col(text))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    // repartition the COMPACT text rows by doc_id BEFORE the token
    // explode: the per-doc window below needs a doc_id exchange anyway,
    // and moving it ahead of the explode (a) shuffles raw text (~1 KB/doc)
    // instead of exploded token-hash rows (~24 B x tokens/doc — 4-5x the
    // bytes; guide §2.3), and (b) parallelizes the tokenize+md5 fan-out,
    // which otherwise runs inside the SCAN stage — a single task when the
    // input is one small file (measured 1.6 s/branch on q48 at sf0.1).
    // The window then reuses this HashPartitioning, so the exchange COUNT
    // is unchanged: it moved earlier and carries fewer bytes.
    val tokHashed = pinParallelism(docs.where(size(tk) >= n), col("doc_id"))
      .select(col("doc_id"), size(tk).as("_n"), posexplode(tk).as(Seq("pos", "tok")))
      .withColumn("th", TextOps.md5Long(col("tok")))
    val gram = (0 until n).map { i =>
      val h = if (i == 0) col("th") else lead(col("th"), i).over(win)
      TextOps.rot60(h, (7 * i) % 60)
    }.reduce(_ bitwiseXOR _)
    tokHashed.withColumn("gram", gram)
      .where(col("pos") <= col("_n") - n)
      .select("doc_id", "pos", "gram")
  }

  def shingleHashRows(docs: DataFrame, n: Int = 3, text: String = "text",
                      distinct: Boolean = true): DataFrame = {
    val tk = TextOps.tokens(col(text))
    val long = positionalGramHashes(docs, n, text).select("doc_id", "gram")
    val short = docs.where(size(tk) < n)
      .select(col("doc_id"), TextOps.md5Long(col(text)).as("gram"))
    val all = long.unionByName(short)
    if (distinct) all.distinct() else all
  }

  /** Word n-gram shingle set per document (distinct), array form. */
  def shingles(docs: DataFrame, n: Int = 3, text: String = "text"): DataFrame =
    shingleRows(docs, n, text)
      .groupBy("doc_id").agg(collect_list("gram").as("shingle_set"))

  /** Deterministic universal-hash family over the 60-bit md5 token hash:
    * h_i(x) = (a_i * (x mod P) + b_i) mod P, P = 2^31-1 (Carter-Wegman).
    * Constants are fixed so signatures are reproducible run-to-run. */
  val P: Long = 2147483647L
  private val rng = {
    // deterministic LCG-derived coefficients, no runtime randomness
    val as = Iterator.iterate(1103515245L)(a => (a * 69069 + 1) & 0x7fffffffL)
    // 256 coefficients = up to 128 hash functions; extending the stream
    // keeps the prefix (existing 32/64-hash signatures are unchanged)
    as.filter(_ > 1).take(256).toVector
  }
  def hashCoef(i: Int): (Long, Long) = (rng(2 * i) | 1L, rng(2 * i + 1))

  /** The S-curve knee of a (bands, rowsPerBand) LSH geometry: the Jaccard
    * value (1/b)^(1/r) where a pair's candidate probability 1-(1-j^r)^b
    * crosses ~1-1/e. Pairs far below the knee are (almost) never
    * candidates; pairs above it (almost) always are — so the knee must sit
    * ABOVE the corpus's random-pair similarity floor or the prescreen
    * admits ~everything (round-13 SelectivityBench: unigram token sets on
    * Zipf vocabulary have a stopword floor near J≈0.1-0.3, and the old
    * 16-band/2-row default's knee of 0.25 made 14% of UNRELATED pairs
    * collide — near-quadratic candidates, rescued only by the bucket cap's
    * silent recall loss). */
  def bandKnee(numHashes: Int, bands: Int): Double =
    math.pow(1.0 / bands, bands.toDouble / numHashes)

  /** Derive an LSH band geometry (numHashes, bands) from the similarity
    * threshold — the measured knee rule from round-13's SelectivityBench
    * encoded as the API default: pick the LARGEST rows-per-band r (the
    * most selective geometry, highest knee) whose recall at the threshold,
    * 1-(1-t^r)^b with b = numHashesMax/r, still clears 0.9 — recall rises
    * steeply above t, so true near-dups land well past 0.9 while the knee
    * sits as close under t as the hash budget allows. At the default
    * 128-hash budget: t ≥ 0.92 → r=16/b=8 (knee 0.88); t in [0.78, 0.92)
    * → r=8/b=16 (knee 0.707 — the geometry the bench measured at
    * 1,994/1,994 predicted true pairs and 8e-6 of all pairs as
    * candidates, 41.5 s vs 2,290 s for the r=2 knee); t in [0.52, 0.78)
    * → r=4/b=32 (knee 0.42); lower thresholds fall back to r=2/r=1 where
    * no selective geometry can also recall (callers there want the exact
    * joins). [[hashCoef]] bounds numHashesMax at 128. */
  def bandGeometryFor(threshold: Double, numHashesMax: Int = 128): (Int, Int) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(numHashesMax >= 2 && numHashesMax <= 128,
      s"numHashesMax must be in [2, 128] (hashCoef budget): $numHashesMax")
    val r = Seq(16, 8, 4, 2).filter(r => r <= numHashesMax / 2).find { r =>
      val b = numHashesMax / r
      1.0 - math.pow(1.0 - math.pow(threshold, r), b) >= 0.9
    }.getOrElse(1)
    val b = numHashesMax / r
    (b * r, b)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val kneeWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int, Int)]()

  /** Resolve a caller-supplied geometry: (0, 0) — the API default — derives
    * from the threshold via [[bandGeometryFor]]; explicit values are kept
    * verbatim but WARNED (once per call site and geometry) when the
    * similarity space is UNIGRAM TOKEN SETS (`ngram == 1` — the space
    * whose random-pair floor round-13's SelectivityBench measured at
    * J ≈ 0.1-0.3 on natural vocabulary) and the knee sits far enough
    * under the threshold that the floor floods the candidate set.
    * Shingle-space callers (`ngram ≥ 2`, random shingle overlap ≈ 0)
    * stay quiet: a low knee only costs them a larger exact-verify input,
    * never a quadratic prescreen. */
  private[graft] def resolveBandGeometry(numHashes: Int, bands: Int,
                                         threshold: Double,
                                         caller: String,
                                         ngram: Int = 3): (Int, Int) = {
    require((numHashes == 0) == (bands == 0),
      s"pass both numHashes and bands or neither: $numHashes/$bands")
    if (numHashes == 0) bandGeometryFor(threshold)
    else {
      require(bands > 0 && numHashes % bands == 0,
        s"bands must divide numHashes: $numHashes/$bands")
      if (ngram <= 1 && bandKnee(numHashes, bands) < threshold - 0.35 &&
          kneeWarned.add((caller, numHashes, bands)))
        log.warn(s"$caller: forced geometry $numHashes hashes/$bands bands " +
          f"has S-curve knee ${bandKnee(numHashes, bands)}%.2f, far below " +
          f"threshold $threshold%.2f - on unigram token sets the random-" +
          "pair floor (J~0.1-0.3 on natural vocabulary) floods the " +
          "candidate set: expect near-quadratic candidates or bucket-cap " +
          "recall loss. Pass (0, 0) to derive the knee-rule geometry.")
      (numHashes, bands)
    }
  }

  /** MinHash signatures from shingle rows: one row per doc, `sig` = array of
    * numHashes minima — a single groupBy(doc) with numHashes
    * partial-aggregated min columns (one shuffle, map-side combined). */
  def minhashSignatures(shingleRows: DataFrame, numHashes: Int = 32): DataFrame = {
    // `gram` may be the raw string or an already-hashed long (nearDupPairs)
    val gramHash =
      if (shingleRows.schema("gram").dataType == org.apache.spark.sql.types.LongType)
        col("gram")
      else TextOps.md5Long(col("gram"))
    val ex = shingleRows
      .withColumn("hx", pmod(gramHash, lit(P)))
    val mins = (0 until numHashes).map { i =>
      val (a, b) = hashCoef(i)
      min(pmod(col("hx") * a + b, lit(P))).as(s"m$i")
    }
    ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Bucket-cap drop accounting of the most recent capped tier — rows and
    * buckets discarded by a `maxBucket` bound (round-13 VERDICT: silent
    * cap drops are invisible, so a clean run and one that dropped its
    * hottest — most duplicated, most important — buckets look identical).
    * Collected with `Dataset.observe` DURING the tier's own pass (no
    * extra job, whole-stage codegen preserved) and read after any action
    * on the result.
    *
    * Scoping (round-14 VERDICT #2): the observation is tracked PER
    * THREAD — the thread that builds a capped tier's plan reads its own
    * run's stats via [[lastCapDropStats]]/[[capDropHandle]], so
    * concurrent queries on separate threads no longer clobber each
    * other. A JVM-global last-writer-wins fallback remains for callers
    * that build on one thread and read on another (documented, not a
    * ledger). */
  final case class CapDropStats(droppedRows: Long, droppedBuckets: Long,
                                maxBucketSeen: Long)

  /** Per-run handle to one capped tier's drop observation — returned by
    * [[capDropHandle]] right after the tier's frame is built; [[stats]]
    * is then immune to anything other queries do on any thread. */
  final class CapDropHandle private[pipeline] (
      obs: org.apache.spark.sql.Observation) {
    /** The run's [[CapDropStats]]; None if its action has not completed
      * within `waitMs` (plan built but never executed, or AQE's
      * empty-relation propagation removed the metrics node — never
      * reported as a fake clean run). Bounded poll, never a long stall. */
    def stats(waitMs: Long = 2000): Option[CapDropStats] =
      statsOf(obs, waitMs)
  }

  private val dropObsCounter = new java.util.concurrent.atomic.AtomicLong()
  private val lastDropObs =
    new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.Observation]()
  private val threadDropObs =
    new ThreadLocal[org.apache.spark.sql.Observation]()

  /** Handle to the most recent capped tier whose plan THIS THREAD built —
    * grab it right after the tier call and read stats after the action,
    * concurrency-safe by thread confinement. None if this thread never
    * built a capped tier. */
  def capDropHandle(): Option[CapDropHandle] =
    Option(threadDropObs.get()).map(new CapDropHandle(_))

  /** Attach cap-drop metrics to a frame carrying the bucket-size column
    * `_n`: dropped_rows (exact), dropped_buckets (each over-cap row adds
    * 1/_n — exact after rounding: the fp error is ≤ 2e-16·rows, far
    * below 0.5 at any realistic scale), and the largest bucket seen. */
  private def observeCapDrops(sized: DataFrame, maxBucket: Int): DataFrame = {
    val obs = new org.apache.spark.sql.Observation(
      s"graft_cap_drop_${dropObsCounter.incrementAndGet()}")
    lastDropObs.set(obs)
    threadDropObs.set(obs)
    sized.observe(obs,
      sum(when(col("_n") > maxBucket, 1L).otherwise(0L)).as("dropped_rows"),
      sum(when(col("_n") > maxBucket,
        lit(1.0) / col("_n")).otherwise(0.0)).as("dropped_buckets"),
      max(col("_n")).as("max_bucket_seen"))
  }

  /** The [[CapDropStats]] of the most recent capped tier whose action has
    * finished; None before any capped tier ran, if its query never
    * executed, or if AQE's empty-relation propagation eliminated the
    * metrics node before it ran (the observation then completes with an
    * EMPTY row — reported as None, never as a fake clean run; the
    * tiers' own eager checkpoints go through
    * [[checkpointKeepingMetrics]], which disables exactly that rule for
    * the one materialization, so the library paths always report).
    * See [[CapDropStats]] for the concurrency caveat. */
  def lastCapDropStats(): Option[CapDropStats] = lastCapDropStats(2000)

  /** As [[lastCapDropStats]]() with an explicit poll bound: prefers the
    * capped tier THIS THREAD built (concurrency-safe), falling back to
    * the JVM-global most-recent one (cross-thread convenience,
    * last-writer-wins). Returns None within `waitMs` when the tier's
    * action never ran — a bounded poll, not the old 10 s stall
    * (round-14 ADVICE). */
  def lastCapDropStats(waitMs: Long): Option[CapDropStats] =
    Option(threadDropObs.get()).orElse(Option(lastDropObs.get()))
      .flatMap(obs => statsOf(obs, waitMs))

  private def statsOf(obs: org.apache.spark.sql.Observation,
                      waitMs: Long): Option[CapDropStats] = {
    // metrics are delivered by a listener AFTER the action returns —
    // they arrive in milliseconds once the query ran. Poll in short
    // steps up to waitMs instead of blocking: a plan that was built but
    // never executed costs the caller at most waitMs, never a stall.
    val deadline = System.nanoTime() + waitMs * 1000000L
    while (!obs.future.isCompleted && System.nanoTime() < deadline)
      Thread.sleep(20)
    if (!obs.future.isCompleted) None
    else Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(1, "s")))
      .filter(_.length == 3).map { row =>
        // positional: metrics arrive in the observe() declaration order
        def longOf(i: Int): Long =
          if (row.isNullAt(i)) 0L
          else row.get(i) match {
            case v: Long => v
            case v: Double => math.round(v)
            case v: Number => v.longValue()
          }
        CapDropStats(longOf(0), longOf(1), longOf(2))
      }
  }

  /** Eagerly localCheckpoint a frame whose plan carries a cap-drop
    * metrics node, with AQE's empty-relation propagation excluded for
    * exactly this materialization: when a cap drops EVERY bucket (the
    * case the stats exist to expose!) the downstream subtree is empty,
    * and AQEPropagateEmptyRelation would replace it — metrics node
    * included — before it ever runs, completing the observation with an
    * empty row. Excluding one pruning rule for one drop-bounded
    * materialization costs nothing measurable; the session conf is
    * restored immediately (brief visibility to concurrent queries loses
    * only that optimization, never correctness). */
  /** Eagerly localCheckpoint `df` while OBSERVING one long-valued
    * aggregate on the same materialization pass — the iterative-loop
    * version of the cap-drop ride-along: convergence tests (changed-row
    * counts, frontier sizes, fixpoint row counts) previously cost one
    * extra count() action per round on top of the checkpoint job, and at
    * bench scale the per-round job overhead IS the cost of the loop
    * (q51: 133 jobs, 4.3 s, biggest stage 0.25 s). The observation rides
    * the checkpoint job — zero extra jobs.
    *
    * Round-14 observe traps all apply and are handled: the delivered Row
    * is positional; AQE's empty-relation propagation can delete the
    * CollectMetrics node (empty row) — excluded for this materialization
    * via [[checkpointKeepingMetrics]]; a null aggregate (sum over zero
    * rows) reads as 0; and any residual delivery failure falls back to
    * `fallback` on the cached blocks, so the stat is never wrong, only
    * occasionally one cheap job slower. */
  private[pipeline] def checkpointWithStat(df: DataFrame, agg: Column)(
      fallback: DataFrame => Long): (DataFrame, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val ck = checkpointKeepingMetrics(df.observe(obs, agg.as("_stat")))
    val stat =
      try {
        val row = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(30,
            java.util.concurrent.TimeUnit.SECONDS))
        if (row.length == 0) fallback(ck)
        else if (row.isNullAt(0)) 0L
        else row.getLong(0)
      } catch { case _: java.util.concurrent.TimeoutException => fallback(ck) }
    (ck, stat)
  }

  /** Repartition to the session's CONFIGURED shuffle parallelism, keyed
    * on `key`, ahead of an eager localCheckpoint that feeds an expensive
    * fan-out join. AQE's bytes-based coalescing is blind to downstream
    * per-row cost: a few-MB candidate-vector frame coalesces to ONE
    * post-shuffle partition, the checkpoint inherits it, and every map
    * stage over the checkpoint then runs single-task — measured 3.6 s on
    * one core for q180's verify join at sf0.1 (guide §2.5/2.6: idle
    * capacity, not skew). A NUMBERED repartition is exempt from AQE
    * coalescing, and the number comes from spark.sql.shuffle.partitions,
    * so it stays cluster- and CPU-adaptive (the bench drives it through
    * SPARK_GRAFT_CPUS) rather than hard-coding local geometry. At scale
    * these frames are candidate-doc-sized and shuffle once more (cheap —
    * they are about to be scanned by 2-3 joins), keyed by doc id so the
    * doc-keyed probe joins can reuse the distribution. */
  private def pinParallelism(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, key)

  private def checkpointKeepingMetrics(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    val rule =
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    spark.conf.set(key, (prev.toSeq :+ rule).mkString(","))
    try df.localCheckpoint()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Shared band-bucket pair expansion with a BOUNDED-MEMORY cap. A window
    * COUNT over the (band, bkey) shuffle partitions sizes every bucket
    * BEFORE anything is materialized (WindowExec's row buffer spills to
    * disk; a `collect_list` aggregation buffer cannot — capping after the
    * collect would still assemble one unbounded array per degenerate
    * bucket), oversized buckets are dropped wholesale, and only surviving
    * (≤ maxBucket) buckets are collected and exploded into distinct
    * `a.doc_id < b.doc_id` pairs. The groupBy reuses the window's
    * hash-partitioning, so the cap costs a sort, not a second shuffle.
    *
    * Dropping a bucket trades recall for the bound: pairs inside an
    * over-cap bucket are NOT emitted — and since round 14 the drops are
    * VISIBLE: [[lastCapDropStats]] reports rows/buckets discarded by the
    * run, observed during the same pass. At production caps an over-cap
    * bucket means thousands of near-identical documents — content that
    * exact dedup ([[exactDupGroups]]) removes more cheaply than any
    * pairwise pass. */
  private def cappedBucketPairs(banded: DataFrame, payload: Column,
                                maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")
    val buckets = observeCapDrops(
        banded.withColumn("_n", count(lit(1)).over(w)), maxBucket)
      .where(col("_n") > 1 && col("_n") <= maxBucket)
      .groupBy("band", "bkey")
      .agg(collect_list(payload).as("ids"))
    buckets
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** LSH banding: candidate pairs = docs sharing any (band, band-signature)
    * bucket. `bands * rowsPerBand == numHashes`. Returns distinct (doc_a <
    * doc_b) pairs. The within-bucket pair expansion is the only quadratic
    * step; [[cappedBucketPairs]] bounds it (buckets over `maxBucket` are
    * dropped — see its recall note). */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                    maxBucket: Int = 1000): DataFrame = {
    val banded = sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b) +: (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*)): _*)).as(Seq("band", "bkey")))
    cappedBucketPairs(banded, struct(col("doc_id")), maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** Benchmark decontamination: for every corpus document, count its
    * distinct word n-grams that also occur anywhere in `benchmark` (the
    * eval/test set a training corpus must not leak). Returns one row per
    * corpus doc — (doc_id, n_grams, n_overlap, contam_frac, contaminated) —
    * so the caller can threshold (the common rule: drop on ANY shared
    * 13-gram, or on contam_frac for shorter n).
    *
    * Shape at scale: grams are the 8-byte hashes of [[shingleHashRows]]
    * (one md5 per token, distinct per doc); the benchmark's distinct gram
    * set is BROADCAST — eval benchmarks are small by nature — and probed
    * with a LEFT join that marks hits, so gram total and overlap fall out
    * of ONE pass over the corpus grams and ONE doc_id-keyed count shuffle;
    * the corpus never shuffles on gram and is never read twice. Docs
    * shorter than n tokens fall back to their whole-text hash, mirroring
    * the shingle pipeline. Counts are hash-invariant, so the DuckDB oracle
    * counts textual grams (q15's argument). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                    text: String = "text"): DataFrame = {
    val corpusGrams = shingleHashRows(corpus, n, text)
    val benchGrams = shingleHashRows(benchmark, n, text)
      .select("gram").distinct().withColumn("_hit", lit(1))
    // bench grams are distinct → the left join never fans out: one output
    // row per corpus gram, _hit non-null exactly on overlap
    corpusGrams.join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_overlap"))
      .withColumn("contam_frac",
        col("n_overlap").cast("double") / col("n_grams"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Multi-benchmark decontamination with per-suite attribution: one pass
    * over the corpus gram stream scores every document against EVERY eval
    * suite at once, emitting (doc_id, suite, n_grams, n_overlap,
    * contam_frac) for each contaminated pair — the report a release
    * pipeline needs ("which benchmark leaked into this shard"), where
    * [[decontaminate]] answers only the single-suite yes/no.
    *
    * Same machinery as the single-suite tier: per-doc DISTINCT 8-gram
    * hashes, suite gram sets (suite, gram)-distinct and BROADCAST (eval
    * suites are small by nature; a gram shared by k suites fans its
    * corpus row out k times — bounded by the suite count). Totals are one
    * doc-keyed count; the settle joins the contaminated-pairs-sized
    * overlap frame back (AQE broadcasts it). The corpus is scanned once
    * for grams and never shuffles on gram.
    *
    * @param benchmark docs with a `suiteCol` label; a doc_id may appear
    *        under several suites */
  def decontaminateMulti(corpus: DataFrame, benchmark: DataFrame,
                         suiteCol: String = "suite", n: Int = 8,
                         text: String = "text"): DataFrame = {
    val corpusGrams = shingleHashRows(corpus, n, text)
    // shingle under the (doc_id, suite) COMPOSITE key: two suites that
    // independently number their docs from 0 (the normal case for
    // unrelated benchmarks) must not cross-pollinate their gram sets
    // through a doc_id collision
    val benchGrams = shingleHashRows(
        benchmark.select(
          struct(col("doc_id"), col(suiteCol).as("_suite")).as("doc_id"),
          col(text)), n, text)
      .select(col("doc_id").getField("_suite").as(suiteCol), col("gram"))
      .distinct()
    val totals = corpusGrams.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
    val overlap = corpusGrams.join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col("doc_id"), col(suiteCol))
      .agg(count(lit(1)).as("n_overlap"))
    overlap.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col(suiteCol), col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_grams")).as("contam_frac"))
  }

  /** MOSS-style overlap pairs over winnowing fingerprints: document pairs
    * sharing ≥ `minShared` selected fingerprints ([[TextOps
    * .winnowFingerprints]]), with exact-integer containment
    * `overlap_e6 = n_shared·10⁶ div min(n_a, n_b)` — the plagiarism/
    * excerpt-detection report. Winnowing's guarantee transfers: any
    * shared run of `n + w − 1` tokens yields a shared fingerprint, so
    * at minShared=1 recall over such runs is 1 while the join runs on
    * the ~2/(w+1)-density fingerprint sets instead of the full gram
    * streams.
    *
    * Shape at 100 TB: the distinct fingerprint frame is localCheckpointed
    * once (three consumers — per-doc counts and both join sides — would
    * otherwise re-run the winnow window thrice); the self-join keys on
    * the 60-bit fp with `doc_a < doc_b`; `maxDf` drops fingerprints in
    * more than that many docs (boilerplate hubs — the documented recall
    * trade, the q15/q38 cap discipline), bounding pair fan-out by
    * df² ≤ maxDf·df. Per-doc counts are answer-sized and AQE-broadcast. */
  def winnowOverlapPairs(docs: DataFrame, n: Int = 8, w: Int = 4,
                         minShared: Long = 1L, maxDf: Int = 1000,
                         text: String = "text"): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"winnowOverlapPairs(minShared=$minShared, maxDf=$maxDf)")
    val fps = TextOps.winnowFingerprints(docs, n, w, text)
      .select("doc_id", "fp").distinct().localCheckpoint()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("_df"))
        .where(col("_df") <= maxDf).select("fp"), Seq("fp"))
    // per-doc sizes over the KEPT space: numerator and denominator must
    // live in the same universe, or a cap that bites would understate
    // containment (shared hubs dropped from n_shared but not n_a/n_b)
    val nf = kept.groupBy("doc_id").agg(count(lit(1)).as("_nf"))
    val pairs = kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    pairs
      .join(nf.select(col("doc_id").as("doc_a"), col("_nf").as("n_a")), Seq("doc_a"))
      .join(nf.select(col("doc_id").as("doc_b"), col("_nf").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        expr("(n_shared * 1000000L) div least(n_a, n_b)").as("overlap_e6"))
  }

  /** [[decontaminate]]'s SCALE tier for benchmarks whose distinct gram set
    * is too large to broadcast exactly (the exact tier ships 8 bytes per
    * gram to every executor; past a few hundred million grams that
    * broadcast is the bottleneck). Identical output, different shape:
    *
    *  1. build a Bloom filter of the benchmark grams DISTRIBUTED
    *     (`stat.bloomFilter` tree-aggregates partial filters; the driver
    *     only ever holds the merged ~`-log2(fpp)·1.44` bits/gram result —
    *     ~6x smaller than the exact set at the default 1% fpp);
    *  2. probe it with Spark's own codegen'd `BloomFilterMightContain`
    *     (registered as `graft_might_contain` by GraftExtensions) to cut the corpus gram
    *     stream to candidates — the only rows that must SHUFFLE on gram;
    *  3. exact-verify candidates against the benchmark grams with a
    *     left-semi shuffle join, so Bloom false positives are removed and
    *     the output matches the exact tier BIT FOR BIT (spec-pinned).
    *
    * The gram-keyed shuffle thus moves `overlap + fpp·|corpus|` rows
    * instead of `|corpus|` — on a decontamination workload overlap is a
    * vanishing fraction by construction. The corpus is scanned twice
    * (per-doc totals, candidate extraction): the keywords trade — at
    * corpus scale a second narrow scan beats materializing the gram
    * stream anywhere. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         n: Int = 8, text: String = "text",
                         fpp: Double = 0.01): DataFrame = {
    // benchmark-sized, referenced three times (count, filter build, verify
    // join) — checkpoint rather than re-shingle thrice; blocks free on GC
    val benchGrams = shingleHashRows(benchmark, n, text)
      .select("gram").distinct().localCheckpoint()
    val bloom = benchGrams.stat.bloomFilter(
      "gram", math.max(benchGrams.count(), 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val probe = call_function("graft_might_contain", lit(bytes), col("gram"))
    val corpusGrams = shingleHashRows(corpus, n, text)
    val totals = corpusGrams.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
    val overlap = corpusGrams.where(probe)
      .join(benchGrams, Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    totals.join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contam_frac",
        col("n_overlap").cast("double") / col("n_grams"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Exact Jaccard verification of candidate pairs against shingle sets. */
  def verifyJaccard(cands: DataFrame, shingled: DataFrame, threshold: Double): DataFrame = {
    val a = shingled.select(col("doc_id").as("doc_a"), col("shingle_set").as("set_a"))
    val b = shingled.select(col("doc_id").as("doc_b"), col("shingle_set").as("set_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("uni",
        (size(col("set_a")) + size(col("set_b"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "uni", "jaccard")
  }

  /** Exact-Jaccard verification of a candidate-pair frame against the
    * corpus, touching ONLY candidate documents: semi-join the corpus down
    * to docs that appear in a pair, re-shingle just those with per-doc
    * dedup (Jaccard needs set semantics), and count shared grams with a
    * gram-equality join. Never an O(#docs) broadcast, never a corpus-wide
    * dedup shuffle, and no corpus-sized cached frame — the candidate set
    * is a vanishing fraction of the corpus by construction (that is the
    * point of the candidate generators feeding this). Shared tail of
    * [[nearDupPairs]] and [[jaccardJoin]]. */
  private def verifyCandidatePairs(docs: DataFrame, candsDf: DataFrame,
                                   threshold: Double, ngram: Int,
                                   text: String): DataFrame = {
    // measured routing (see routePairFrame): the capped generators bound
    // the pair frame, but jaccardJoin's exact prefix filter does not, and
    // a copy-dense corpus grows it with true pair density
    val cands = routePairFrame(candsDf)
    // distinct BEFORE the broadcast: without it the probe frame is
    // pair-count-sized (2 rows per pair — tens of millions on a
    // copy-dense corpus), and an unconditional broadcast of it is the
    // same OOM routePairFrame exists to prevent; with it the frame is
    // genuinely candidate-DOC-bounded
    val candDocs = candsDf.select(col("doc_a").as("doc_id"))
      .unionByName(candsDf.select(col("doc_b").as("doc_id")))
      .distinct()
    val candSh = pinParallelism(shingleHashRows(
      docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi"), ngram,
      text, distinct = true), col("doc_id")).localCheckpoint()
    val sizes = candSh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = candSh.select(col("doc_id").as("doc_a"), col("gram"))
    val b = candSh.select(col("doc_id").as("doc_b"), col("gram"))
    cands.join(a, "doc_a").join(b, Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("sz").as("_sa"))), "doc_a")
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("sz").as("_sb"))), "doc_b")
      .withColumn("uni", col("_sa") + col("_sb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "uni", "jaccard")
  }

  /** End-to-end MinHash-LSH near-dup pairs at a Jaccard threshold.
    * Geometry defaults to the knee-rule derivation [[bandGeometryFor]]
    * (numHashes = bands = 0 means "derive from the threshold"); explicit
    * values are honored with a once-per-geometry warning when the knee
    * sits far below the threshold (the round-13-measured degenerate zone).
    * The verify step is a gram-equality join on the (tiny) candidate set —
    * no array materialization anywhere in the pipeline. */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.8, ngram: Int = 3,
                   numHashes: Int = 0, bands: Int = 0): DataFrame = {
    val (nh, nb) = resolveBandGeometry(numHashes, bands, threshold,
      "nearDupPairs", ngram)
    // grams are 60-bit longs from per-token hashes (shingleHashRows): every
    // shuffle in the pipeline moves 8-byte keys, never ~25-char strings, and
    // hashing work is one md5 per TOKEN rather than per gram. NO corpus-wide
    // distinct: duplicate grams cannot change a per-doc minhash MIN, and the
    // window shuffle already partitions by doc_id, so the 32-way min
    // aggregate needs no further shuffle — the signature build is one
    // shuffle total. NOT cached: corpus-sized, and the verify tier below
    // re-derives its (tiny) slice from the candidate docs instead — at
    // 100 TB, pinning corpus-sized shingle rows in the cache is the cost,
    // not re-tokenizing a vanishing fraction of documents.
    val sh = shingleHashRows(docs, ngram, distinct = false)
    // the candidate set is referenced three times (pair join + two candidate-
    // doc projections) — localCheckpoint so the sig+banding pipeline runs
    // ONCE, without pinning a CacheManager entry the caller cannot release
    // (blocks go when the frame is GC'd)
    val candsDf = checkpointKeepingMetrics(lshCandidates(
      minhashSignatures(sh, nh), nb, nh / nb))
    verifyCandidatePairs(docs, candsDf, threshold, ngram, "text")
  }

  /** EXACT cosine-threshold similarity self-join over the corpus's sparse
    * integer term-frequency vectors — the cosine member of the exact
    * similarity-join family (Jaccard: [[jaccardJoin]]; edit distance:
    * [[editDistancePairs]]): every pair with tf-vector cosine ≥ tau is
    * returned, none missed, no LSH approximation.
    *
    * Scales by PREFIX FILTERING on the L2 mass (Bayardo, Ma & Srikant,
    * "Scaling up all pairs similarity search", WWW'07): order each
    * vector's terms by DESCENDING global df (commonest first, ties on
    * term) and index a position only once the prefix's squared-norm share
    * reaches tau² — any pair whose shared terms all sit in an un-indexed
    * prefix U has cos ≤ ‖U‖·1 < tau (Cauchy–Schwarz), so every
    * qualifying pair shares at least one INDEXED term of each side and
    * the full ⋈ indexed join has recall exactly 1. Common terms carry the
    * un-indexed mass, so inverted-index postings hold the rare tail —
    * short lists where all-pairs would explode.
    *
    * Everything is EXACT INTEGER: tau is the rational tauNum/tauDen, the
    * index condition is `psum·tauDen² ≥ tauNum²·n2` (prefix sum of w²
    * against the vector's total), and the final acceptance is
    * `dot²·tauDen² ≥ tauNum²·na2·nb2` — no float enters any decision, so
    * a brute-force SQL oracle matches bit-for-bit. Headroom: token counts
    * to ~1e4 per doc keep `dot²·tauDen²` under 2⁶³ for single-digit
    * tauDen.
    *
    * Shape at scale: one term-df shuffle (inherent — the order is
    * global), one doc_id window exchange carrying prefix sums AND totals,
    * the full×indexed term equi-join (posting lists cappable via
    * `maxPosting`, recall note as [[lshCandidates]]; oracles pass
    * Int.MaxValue), then the candidate-docs-only exact verify. The corpus
    * tf frame is never self-joined in full and never cached. */
  def cosineJoin(docs: DataFrame, tauNum: Long, tauDen: Long,
                 text: String = "text",
                 maxPosting: Int = Int.MaxValue): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be in (0, 1]: $tauNum/$tauDen")
    val W = org.apache.spark.sql.expressions.Window
    val f = tfVectors(docs, text)
    val dfTbl = f.groupBy("term").agg(count(lit(1)).as("_df"))
    val wDoc = W.partitionBy("doc_id").orderBy(desc("_df"), asc("term"))
    val withPs = f.join(dfTbl, "term")
      .withColumn("_psum", sum(col("w") * col("w")).over(wDoc))
      .withColumn("_n2", sum(col("w") * col("w")).over(W.partitionBy("doc_id")))
    val t2n = tauNum * tauNum; val t2d = tauDen * tauDen
    val idx0 = withPs.where(col("_psum") * t2d >= col("_n2") * t2n)
    val idx =
      if (maxPosting == Int.MaxValue) idx0
      else idx0.withColumn("_np", count(lit(1)).over(W.partitionBy("term")))
        .where(col("_np") <= maxPosting).drop("_np")
    val cands = withPs.select(col("doc_id").as("_fa"), col("term"))
      .join(idx.select(col("doc_id").as("_fb"), col("term")), "term")
      .where(col("_fa") =!= col("_fb"))
      .select(least(col("_fa"), col("_fb")).as("doc_a"),
        greatest(col("_fa"), col("_fb")).as("doc_b"))
      .distinct()
      .localCheckpoint()
    cosineVerify(f, cands, tauNum, tauDen)
  }

  /** Per-doc sparse integer term-frequency vectors — the feature space
    * every cosine tier ([[cosineJoin]], [[cosineJoinBucketed]]) shares, so
    * their accept decisions are comparable bit-for-bit. */
  private def tfVectors(docs: DataFrame, text: String): DataFrame =
    // text shuffles by doc_id BEFORE the explode (same trade as
    // positionalGramHashes: fewer bytes than exploded token rows, and the
    // tokenize fan-out parallelizes out of the scan stage); the
    // (doc_id, term) aggregation then needs NO exchange — HashPartitioning
    // on doc_id already clusters every (doc_id, term) group
    pinParallelism(docs, col("doc_id"))
      .select(col("doc_id"), explode(TextOps.tokens(col(text))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("w"))

  /** Shared EXACT-INTEGER cosine accept tier over a candidate pair set:
    * `dot²·tauDen² ≥ tauNum²·na2·nb2`, no float in any decision (the
    * [[cosineJoin]] rule verbatim — extracted so the LSH-prescreened mode
    * is exactness-per-candidate by construction). `f` is the corpus tf
    * frame; only candidate docs' vectors are re-derived (left_semi), the
    * corpus is never self-joined. */
  /** Actual bytes the frame's localCheckpoint blocks occupy in the block
    * manager, if the frame IS a materialized localCheckpoint — a measured
    * size with ZERO extra jobs (vs the count() fallback's one action per
    * verify tail). Deserialized MEMORY_AND_DISK block sizes overestimate
    * the serialized broadcast payload, so a bytes-threshold decision made
    * on them can only be conservative (route a broadcastable frame to
    * merge), never the reverse. */
  private def checkpointedBytes(df: DataFrame): Option[Long] = {
    // only when the frame IS the checkpoint root — a frame merely derived
    // from one (filters, projections) has a different size than its blocks
    val rddId = df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Some(r.rdd.id)
      case _ => None
    }
    rddId.flatMap { id =>
      df.sparkSession.sparkContext.getRDDStorageInfo
        .find(i => i.id == id && i.numCachedPartitions > 0)
        .map(i => i.memSize + i.diskSize)
    }
  }

  /** Candidate-PAIR frames are data-dependent and unbounded (the uncapped
    * oracle mode on a copy-dense corpus reached 50 M pairs), and
    * localCheckpoint PRESERVES the child plan's size estimate — so the
    * static planner once saw a few-MB join-output estimate and
    * auto-broadcast a multi-GB frame into the driver. Every verify tail
    * therefore routes on the MEASURED size: the frame is already
    * localCheckpoint'd by every caller (the count is a cached-block scan,
    * not a recompute), small frames keep the one-shuffle broadcast plan,
    * big ones get an explicit merge hint — never an estimate-driven
    * broadcast. */
  private def routePairFrame(cands: DataFrame): DataFrame = {
    val spark = cands.sparkSession
    // candidate frames arrive localCheckpoint'd from every caller, so the
    // primary routing signal is the frame's MEASURED block-manager
    // footprint — free. The pair-count fallback (one cached-block count
    // job) covers frames routed here without a checkpoint.
    // default aligned with the 4M-pair count threshold: a pair row is
    // ~84 bytes DESERIALIZED in the block manager (measured: 1M two-long
    // UnsafeRows = 80.1 MiB), so 4M pairs ≈ 336 MiB — 400 MiB keeps the
    // two signals routing the same frames the same way, and deserialized
    // block size can only OVERESTIMATE the serialized broadcast payload
    val maxBytes = GraftSession.confLong(spark, "spark.graft.maxBroadcastPairBytes",
      400L << 20)
    checkpointedBytes(cands) match {
      case Some(bytes) =>
        if (bytes <= maxBytes) broadcast(cands) else cands.hint("merge")
      case None =>
        val maxPairs = GraftSession.confLong(spark, "spark.graft.maxBroadcastPairs",
          4000000L)
        if (cands.count() <= maxPairs) broadcast(cands)
        else cands.hint("merge")
    }
  }

  private def cosineVerify(f: DataFrame, cands: DataFrame,
                           tauNum: Long, tauDen: Long): DataFrame = {
    val t2n = tauNum * tauNum; val t2d = tauDen * tauDen
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .unionByName(cands.select(col("doc_b").as("doc_id"))).distinct()
    val candF = pinParallelism(f.join(candDocs, Seq("doc_id"), "left_semi"),
      col("doc_id")).localCheckpoint()
    val n2 = candF.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val c = routePairFrame(cands)
    c.join(candF.select(col("doc_id").as("doc_a"), col("term"),
        col("w").as("_wa")), "doc_a")
      .join(candF.select(col("doc_id").as("doc_b"), col("term"),
        col("w").as("_wb")), Seq("doc_b", "term"))
      .groupBy("doc_a", "doc_b").agg(sum(col("_wa") * col("_wb")).as("dot"))
      .join(n2.select(col("doc_id").as("doc_a"), col("n2").as("na2")), "doc_a")
      .join(n2.select(col("doc_id").as("doc_b"), col("n2").as("nb2")), "doc_b")
      .where(col("dot") * col("dot") * t2d >= col("na2") * col("nb2") * t2n)
      .withColumn("cosine", col("dot").cast("double") /
        sqrt(col("na2").cast("double") * col("nb2").cast("double")))
      .select("doc_a", "doc_b", "dot", "na2", "nb2", "cosine")
  }

  /** LSH-PRESCREENED cosine-threshold join — the bounded-pair-space mode of
    * [[cosineJoin]] for copy-dense corpora where the exact join's inverted
    * index (and its qualifying-pair output) grows quadratically: candidates
    * come from MinHash-LSH banding over the document's token SET (Broder
    * 1997 minima, the [[minhashSignatures]] Carter-Wegman family;
    * banding as in [[lshCandidates]]), and each candidate is decided by the
    * EXACT integer accept rule of [[cosineJoin]] ([[cosineVerify]]) — so
    * precision is exactly 1 (output ⊆ the exact join's, pair for pair,
    * bit-identical rows) and the only approximation is candidate recall.
    *
    * STATED MARGIN: a qualifying pair whose token-set Jaccard is j reaches
    * the verify tier with probability 1 − (1 − j^r)^b (r = numHashes/bands
    * rows per band, b = bands). At the 32/16 default that is a miss of
    * 2.3e-5 at j = 0.7 and 8e-8 at j = 0.8 — but 3.8e-2 at j = 0.43, the
    * set-Jaccard floor observed among cos ≥ 0.8 tf-vector pairs on the
    * test corpus. Callers below the margin want [[cosineJoin]]; this mode
    * trades tail recall for candidate-bounded cost (CosineLshSpec pins the
    * measured recall; the q180 oracle reproduces the banding itself in SQL,
    * so the hash check pins the IMPLEMENTATION, not a recall claim).
    *
    * GEOMETRY RULE (measured on a 50 k-type Zipf corpus — round-13
    * SelectivityBench): the (b, r) S-curve knee sits at (1/b)^(1/r), and
    * it must be placed ABOVE the corpus's random-pair set-Jaccard floor
    * or the prescreen admits ~everything (the 16/2 default's knee of
    * 0.25 is fine on shingle-like sets, but unigram token sets on
    * natural vocabulary have a stopword floor near 0.1-0.3: there, use
    * r ≥ 8 — e.g. numHashes 32 / bands 4, knee 0.84 — and buy recall
    * back with more hashes at fixed r: 128/16 measured 1,994 of the
    * 1,994 predicted true near-dups while keeping candidates at 8e-6 of
    * all pairs). [[hashCoef]] provides up to 128 hash functions.
    *
    * Shape at scale: one tokenize pass for the tf frame, one doc_id-keyed
    * signature shuffle (numHashes partial-aggregated mins), the capped
    * band-bucket expansion (8-byte keys, `maxBucket` bounds the quadratic
    * step), then the candidate-docs-only exact verify. The corpus tf frame
    * is never self-joined and never cached; an xxhash64 band-key collision
    * can only ADD a candidate, which the exact verify discards. */
  def cosineJoinBucketed(docs: DataFrame, tauNum: Long, tauDen: Long,
                         text: String = "text", numHashes: Int = 0,
                         bands: Int = 0,
                         maxBucket: Int = 1000): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be in (0, 1]: $tauNum/$tauDen")
    // geometry derives from tau directly (numHashes = bands = 0): the
    // recall law is stated in token-set Jaccard, and measured true
    // cosine-tau pairs on natural text sit near set-J ≈ tau (round-13: the
    // 128/16 derivation at tau 9/10 caught 1,994/1,994) — the conservative
    // binary-set floor is J = tau², so borderline-tau pairs with extreme
    // length ratios may be missed; callers below that margin want the
    // exact [[cosineJoin]]
    val (nh, nb) = resolveBandGeometry(numHashes, bands,
      tauNum.toDouble / tauDen, "cosineJoinBucketed", ngram = 1)
    val f = tfVectors(docs, text)
    // f already holds one row per distinct (doc, term): duplicate grams
    // cannot change a min, so no further distinct is needed
    val sigs = minhashSignatures(
      f.select(col("doc_id"), col("term").as("gram")), nh)
    val cands = checkpointKeepingMetrics(
      lshCandidates(sigs, nb, nh / nb, maxBucket))
    cosineVerify(f, cands, tauNum, tauDen)
  }

  /** Incremental (delta) near-dup: MinHash-LSH pairs between a NEW batch
    * and an EXISTING corpus — the R-S join form of [[nearDupPairs]], for
    * the pipeline that lands data continuously and must ask "is anything
    * in this drop a near-copy of what we already have?" WITHOUT re-pairing
    * the corpus against itself.
    *
    * Both sides run the same one-shuffle signature+banding pipeline
    * (identical hash family, so a batch signature meets exactly the corpus
    * buckets a self-join would have met — spec-pinned equal to the
    * cross-set slice of [[nearDupPairs]] on the union); the candidate join
    * is batch-bands ⋈ corpus-bands on (band, bkey) — the corpus side is
    * capped per bucket with the usual recall note, and at scale its banded
    * frame is the thing to PERSIST AS A TABLE (band, bkey, doc_id —
    * append-only, 16 bytes/row/band) so each new drop joins against stored
    * bands and signatures are never recomputed. Verify is the exact-
    * Jaccard tier over candidate docs only, one side each.
    *
    * Doc-id spaces of the two inputs must be disjoint (they identify rows
    * in the output pair). @return (batch_id, corpus_id, inter, uni,
    * jaccard) at `threshold`. */
  def nearDupPairsAgainst(corpus: DataFrame, batch: DataFrame,
                          threshold: Double = 0.8, ngram: Int = 3,
                          numHashes: Int = 0, bands: Int = 0,
                          maxBucket: Int = 1000,
                          text: String = "text"): DataFrame = {
    val (nh, nb) = resolveBandGeometry(numHashes, bands, threshold,
      "nearDupPairsAgainst", ngram)
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")
    val cb = observeCapDrops(bandedRows(corpus, ngram, nh, nb, text)
        .withColumn("_n", count(lit(1)).over(wB)), maxBucket)
      .where(col("_n") <= maxBucket).drop("_n")
      .select(col("doc_id").as("corpus_id"), col("band"), col("bkey"))
    val bb = bandedRows(batch, ngram, nh, nb, text)
      .select(col("doc_id").as("batch_id"), col("band"), col("bkey"))
    val cands = checkpointKeepingMetrics(bb.join(cb, Seq("band", "bkey"))
      .select("batch_id", "corpus_id").distinct())
    // exact-Jaccard verify over candidate docs only, one side each; the
    // broadcast probes are distinct'd so they are candidate-DOC-bounded,
    // never pair-count-sized (a copy-dense corpus reaches tens of
    // millions of pairs over far fewer distinct docs)
    val bSh = shingleHashRows(
      batch.join(broadcast(cands.select(col("batch_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi"), ngram, text, distinct = true)
      .localCheckpoint()
    val cSh = shingleHashRows(
      corpus.join(broadcast(cands.select(col("corpus_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi"), ngram, text, distinct = true)
      .localCheckpoint()
    crossJaccardVerify(cands, bSh, cSh, threshold)
  }

  /** (doc_id, band, bkey) LSH band rows — the signature+banding pipeline
    * shared verbatim by [[nearDupPairsAgainst]] and the persisted
    * [[graft.store.BandIndex]] (identical hash family and band keys, so a
    * probe against stored bands meets exactly the buckets a live
    * signature build would). */
  private[graft] def bandedRows(docs: DataFrame, ngram: Int, numHashes: Int,
                                bands: Int, text: String): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    minhashSignatures(shingleHashRows(docs, ngram, text, distinct = false),
      numHashes)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b) +: (0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1)): _*)): _*))
          .as(Seq("band", "bkey")))
  }

  /** Exact-Jaccard accept tier over cross-set candidate pairs: `bSh`/`cSh`
    * are the (doc_id, gram) DISTINCT shingle rows of the candidate docs
    * only (batch / corpus side respectively). Shared by the live and the
    * index-backed delta paths so their accept decisions are the same code
    * — the pair frame routes on measured size, the per-doc size frames
    * are answer-bounded broadcasts. */
  private def crossJaccardVerify(cands: DataFrame, bSh: DataFrame,
                                 cSh: DataFrame,
                                 threshold: Double): DataFrame = {
    val bSz = bSh.groupBy("doc_id").agg(count(lit(1)).as("_sb_"))
    val cSz = cSh.groupBy("doc_id").agg(count(lit(1)).as("_sc_"))
    routePairFrame(cands)
      .join(bSh.select(col("doc_id").as("batch_id"), col("gram")), "batch_id")
      .join(cSh.select(col("doc_id").as("corpus_id"), col("gram")),
        Seq("corpus_id", "gram"))
      .groupBy("batch_id", "corpus_id").agg(count(lit(1)).as("inter"))
      .join(broadcast(bSz.select(col("doc_id").as("batch_id"), col("_sb_"))), "batch_id")
      .join(broadcast(cSz.select(col("doc_id").as("corpus_id"), col("_sc_"))), "corpus_id")
      .withColumn("uni", col("_sb_") + col("_sc_") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "inter", "uni", "jaccard")
  }

  /** Incremental near-dup against a PERSISTED band index — the O(drop)
    * form of [[nearDupPairsAgainst]]: corpus signatures were banded once
    * at [[graft.store.BandIndex.write]] time (and extended per accepted
    * drop by `append`), so a new batch probes STORED (band, bkey, doc_id)
    * rows and STORED (doc_id, gram) shingle rows — corpus text is never
    * read and corpus signatures are never recomputed. Output is
    * spec-pinned equal to [[nearDupPairsAgainst]] on the same inputs.
    *
    * Shape at scale: the batch's band rows are drop-sized and BROADCAST
    * into a single join pass over the stored band table (no corpus-wide
    * shuffle; the only window runs over MATCHED rows, whose count is
    * bounded by drop-bands × bucket occupancy, and occupancy over the
    * matched frame equals true bucket occupancy because the equi-join
    * keeps every stored row of a touched bucket). The verify tail probes
    * the stored gram table with a candidate-DOC-bounded broadcast
    * semi-join. Both probes are scans WITHOUT shuffle of index bytes —
    * at 100 TB the nightly drop costs O(drop + touched buckets), never
    * O(corpus). */
  def nearDupPairsAgainstIndex(handle: graft.store.BandIndex.Handle,
                               batch: DataFrame,
                               threshold: Double = 0.8,
                               maxBucket: Int = 1000,
                               text: String = "text"): DataFrame = {
    val spark = batch.sparkSession
    val bb = bandedRows(batch, handle.ngram, handle.numHashes, handle.bands,
      text)
      .select(col("doc_id").as("batch_id"), col("band"), col("bkey"))
      .localCheckpoint()
    // outstanding retirements are honored IMMEDIATELY: the tombstone
    // anti-join runs BEFORE bucket occupancy is sized, so retired rows
    // neither match nor inflate a bucket toward the cap — the probe is
    // bit-equal to one against a fresh index of the surviving corpus
    // (compact later makes the drop physical and clears the table)
    val stored0 = spark.read.parquet(s"${handle.path}/bands")
      .select(col("doc_id").as("corpus_id"), col("band"), col("bkey"))
    val stored = graft.store.BandIndex.tombstones(spark, handle.path) match {
      case Some(t) => stored0.join(
        broadcast(t.select(col("doc_id").as("corpus_id"))),
        Seq("corpus_id"), "left_anti")
      case None => stored0
    }
    // batch bands are drop-sized and normally BROADCAST into the
    // stored-band scan — but "drop-sized" is caller-controlled, so the
    // probe frame routes on MEASURED size like every other data-
    // dependent frame (a corpus-sized batch degrades to a sort-merge
    // join instead of an unbounded broadcast); then size ONLY the
    // touched buckets (matched rows = every stored row of a touched
    // bucket, so the count is exact)
    val touched = stored.join(
      routePairFrame(bb.select("band", "bkey").distinct().localCheckpoint()),
      Seq("band", "bkey"))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")
    val cb = observeCapDrops(
        touched.withColumn("_n", count(lit(1)).over(wB)), maxBucket)
      .where(col("_n") <= maxBucket).drop("_n")
    val cands = checkpointKeepingMetrics(bb.join(cb, Seq("band", "bkey"))
      .select("batch_id", "corpus_id").distinct())
    val bSh = shingleHashRows(
      batch.join(broadcast(cands.select(col("batch_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi"), handle.ngram, text, distinct = true)
      .localCheckpoint()
    // corpus side: STORED grams, candidate-doc-bounded probe — no corpus
    // text scan anywhere in this plan (asserted by PlanShapeSpec's q184 row)
    val cSh = spark.read.parquet(s"${handle.path}/grams")
      .join(broadcast(cands.select(col("corpus_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .localCheckpoint()
    crossJaccardVerify(cands, bSh, cSh, threshold)
  }

  /** EXACT n-gram Jaccard similarity self-join at threshold `tau` — the
    * non-approximate sibling of [[nearDupPairs]]: every pair with set
    * Jaccard ≥ tau over distinct word n-grams is returned, none missed.
    * Scales via PREFIX FILTERING (Chaudhuri et al., ICDE'06; Xiao et al.
    * PPJoin, WWW'08) instead of an all-pairs join: order each document's
    * grams by ascending global document frequency (rarest first — a TOTAL
    * order, ties on the gram hash), index only the first
    * `sz - ceil(tau·sz) + 1` grams, and join on those. Any pair with
    * Jaccard ≥ tau needs ≥ ceil(tau·max(sa,sb)) shared grams, so under a
    * GLOBAL gram order the two prefixes must intersect — recall is exactly
    * 1, and the rarest-first order keeps prefix buckets small (a heavy
    * gram enters prefixes only for documents where little else is rarer).
    * A size filter (min ≥ tau·max) and ppjoin's POSITIONAL filter (overlap
    * upper-bounded via the minimal shared prefix gram's ranks — see the
    * inline proof) prune further before the exact verify tier; both are
    * epsilon-slacked so float rounding can only ADD candidates.
    *
    * Shape at scale: one gram-df shuffle (vocabulary-sized result joined
    * back on gram), one doc_id window exchange for (rank, size), a
    * prefix-only equi-join, then the shared candidate-docs-only verify —
    * the corpus-sized gram frame is never self-joined and never cached. */
  def jaccardJoin(docs: DataFrame, tau: Double, ngram: Int = 3,
                  text: String = "text"): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    val grams = shingleHashRows(docs, ngram, text, distinct = true)
    val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("_df"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("_df"), col("gram"))
    val wSize = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val ranked = grams.join(dfreq, "gram")
      .withColumn("_sz", count(lit(1)).over(wSize))
      .withColumn("_rk", row_number().over(wRank))
    // ceil on doubles can only round the true product DOWN across an
    // integer boundary (never up past one), so the computed prefix is
    // never shorter than the exact one — recall-safe
    val prefix = ranked
      .where(col("_rk") <= col("_sz") - ceil(lit(tau) * col("_sz")) + 1)
      .select(col("doc_id"), col("gram"), col("_sz"), col("_rk"))
    val candsDf = prefix.select(col("doc_id").as("doc_a"), col("gram"),
        col("_sz").as("_sa"), col("_rk").as("_ra"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("gram"),
        col("_sz").as("_sb"), col("_rk").as("_rb")), Seq("gram"))
      .where(col("doc_a") < col("doc_b") &&
        // J ≥ tau ⇒ min(sa,sb) ≥ tau·max(sa,sb); 1e-6 slack so double
        // rounding of tau·max can only admit extra candidates, not drop one
        least(col("_sa"), col("_sb")).cast("double") >=
          greatest(col("_sa"), col("_sb")) * tau - 1e-6)
      // POSITIONAL filter (the ppjoin half the prefix filter needs for
      // precision): each doc's grams are ranked in the SAME global (df,
      // gram) order, so the minimal shared prefix gram — ranks (min _ra,
      // min _rb); both minima land on the same gram because the orders
      // agree — has every other shared gram ranking after it in BOTH
      // docs, bounding total overlap by 1 + min(sa-ra0, sb-rb0). Any
      // shared gram ranking before a prefix match is itself a prefix
      // match in both docs (its ranks are smaller on both sides), so the
      // bound is sound over ALL shared grams, and J ≥ tau needs overlap
      // ≥ tau·(sa+sb)/(1+tau) — pairs whose bound falls short (the bulk:
      // one mid-prefix collision between unrelated docs) never reach the
      // verify tier. The groupBy also replaces the candidate distinct.
      .groupBy("doc_a", "doc_b")
      .agg(first(col("_sa")).as("_sa"), first(col("_sb")).as("_sb"),
        min(col("_ra")).as("_ra0"), min(col("_rb")).as("_rb0"))
      .where((lit(1L) + least(col("_sa") - col("_ra0"),
          col("_sb") - col("_rb0"))).cast("double") >=
        (col("_sa") + col("_sb")) * lit(tau / (1.0 + tau)) - 1e-6)
      // localCheckpoint, not cache: the candidate set is referenced three
      // times downstream, but a CacheManager entry would pin storage until
      // an explicit unpersist no caller can issue (the returned plan hides
      // it). Checkpoint blocks are released when the frame is GC'd.
      .select("doc_a", "doc_b").localCheckpoint()
    verifyCandidatePairs(docs, candsDf, tau, ngram, text)
  }

  /** Cross-document duplicated spans at n-token granularity — the span
    * form of exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", at gram rather than
    * suffix-array resolution): for every document, the maximal token
    * ranges covered by n-grams that also occur in at least one OTHER
    * document. Callers cut or down-weight the returned spans.
    *
    * Pipeline: positional n-gram hashes (one md5 per token, rot-XOR
    * combine — the q23/q44 machinery, with `pos` kept), gram df over
    * distinct docs, semi-join the positional stream down to duplicated
    * grams, then per-doc island merge: hits are fixed-width intervals
    * [pos, pos+n) in ascending pos, so a new span starts exactly where
    * `pos > lag(pos) + n` (strictly: an interval starting AT the previous
    * end abuts it — contiguous coverage, one maximal span) — one lag +
    * running sum, no interval tree.
    *
    * Shape at scale: every shuffle key is 8 bytes (gram hash) or the
    * doc id; the corpus token stream shuffles once for the lead window,
    * once for the gram df, and the HIT stream (duplicated grams only — a
    * vanishing fraction of a healthy corpus) once for the island merge.
    * Docs shorter than n tokens have no n-gram and yield no spans.
    * Gram-hash membership stands in for textual grams by the q15
    * injectivity argument.
    *
    * @return (doc_id, span_start, span_end, n_grams) — token indexes,
    *         end exclusive, n_grams = duplicated grams inside the span */
  def duplicatedSpans(docs: DataFrame, n: Int = 8,
                      text: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = positionalGramHashes(docs, n, text)
    val dup = grams.select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("_df"))
      .where(col("_df") >= 2)
    val hits = grams.join(dup.select("gram"), Seq("gram"), "left_semi")
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("_new", (col("pos") >
        coalesce(lag(col("pos"), 1).over(w2) + n, lit(-1))).cast("long"))
      .withColumn("_sid", sum("_new").over(
        w2.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("doc_id", "_sid")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + n).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  /** Edit-distance near-duplicate pairs: every (doc_a < doc_b) with
    * Levenshtein distance ≤ `maxDist`, without the all-pairs product.
    *
    * Blocking is RECALL-1 by the length lower bound lev(a,b) ≥ |len(a) −
    * len(b)|: with band width w = maxDist+1, a qualifying pair's length
    * bands `len div w` differ by at most 1, so each doc is emitted to
    * bands {bd, bd+1} and candidates meet on band equality. The pair is
    * kept only where the meeting band equals greatest(bd_a, bd_b) — the
    * single band both emission sets share when bands differ, and the lower
    * of the two shared bands when they agree — so each candidate pair is
    * produced EXACTLY once and no distinct shuffle is needed.
    *
    * Verification is Spark's codegen'd banded-DP `levenshtein(l, r,
    * threshold)` — O(maxDist·min(len)) per pair, not O(len²) — over
    * UNICODE CODE POINTS (`'中' → '国'` is distance 1, not the 3 a
    * byte-level engine reports).
    *
    * Shape at scale: one window count + one equi-join, both keyed on the
    * 8-byte band id — the text column shuffles once per side. Length-only
    * blocking concentrates same-length docs in one bucket; `maxBucket`
    * bounds the quadratic within-bucket expansion (buckets above it are
    * dropped — the [[lshCandidates]] recall note), and callers with a
    * natural partition key (language, source) should pre-filter or union
    * per block, which also keeps cross-language "near-dups" out. */
  def editDistancePairs(docs: DataFrame, maxDist: Int, text: String = "text",
                        maxBucket: Int = 10000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val w = maxDist + 1
    val probe = docs
      .select(col("doc_id"), col(text).as("_t"), length(col(text)).as("_len"))
      .withColumn("_bd", expr(s"_len div $w"))
      .select(col("doc_id"), col("_t"), col("_len"), col("_bd"),
        explode(array(col("_bd"), col("_bd") + 1)).as("_bk"))
    val wnd = org.apache.spark.sql.expressions.Window.partitionBy("_bk")
    val capped = probe.withColumn("_n", count(lit(1)).over(wnd))
      .where(col("_n") <= maxBucket).drop("_n")
    val a = capped.select(col("doc_id").as("doc_a"), col("_t").as("_ta"),
      col("_len").as("_la"), col("_bd").as("_bda"), col("_bk"))
    val b = capped.select(col("doc_id").as("doc_b"), col("_t").as("_tb"),
      col("_len").as("_lb"), col("_bd").as("_bdb"), col("_bk"))
    a.join(b, Seq("_bk"))
      .where(col("doc_a") < col("doc_b") &&
        col("_bk") === greatest(col("_bda"), col("_bdb")) &&
        abs(col("_la") - col("_lb")) <= maxDist)
      .withColumn("dist",
        levenshtein(col("_ta"), col("_tb"), maxDist).cast("long"))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
  }

  /** Record linkage: all (left, right) CROSS-TABLE pairs within a
    * Levenshtein threshold — the R-S join form of [[editDistancePairs]]
    * (entity resolution between two catalogs rather than self-dedup).
    *
    * Same recall-1 length-band blocking (`lev ≥ |Δlen|`, band width
    * `maxDist+1`), different probe shape: the RIGHT side sits in its home
    * band and the LEFT side probes `{bd−1, bd, bd+1}` — a qualifying pair's
    * bands differ by at most one, and the 3-band probe set covers each
    * possible right band EXACTLY once, so every pair is emitted exactly
    * once with no dedup pass and no ownership rule. Cost: the left frame
    * triples (vs q61's doubling); both sides still shuffle only on the
    * 8-byte band key, and `maxBucket` caps each side's occupancy of a band
    * (a capped band silently loses its pairs — the [[lshCandidates]]
    * recall note; oracle queries pass Int.MaxValue).
    *
    * Output columns `left_id`/`right_id` carry the two tables' id columns;
    * `dist` uses Spark's banded DP `levenshtein(l, r, threshold)` —
    * O(maxDist·len) per comparison, code-point semantics. */
  def editDistanceJoin(left: DataFrame, right: DataFrame, maxDist: Int,
                       text: String = "text", idCol: String = "doc_id",
                       maxBucket: Int = 10000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val w = maxDist + 1
    val wnd = org.apache.spark.sql.expressions.Window.partitionBy("_bk")
    val l = left
      .select(col(idCol).as("left_id"), col(text).as("_tl"),
        length(col(text)).as("_ll"))
      .withColumn("_bd", expr(s"_ll div $w"))
      .select(col("left_id"), col("_tl"), col("_ll"),
        explode(array(col("_bd") - 1, col("_bd"), col("_bd") + 1)).as("_bk"))
      .withColumn("_n", count(lit(1)).over(wnd))
      .where(col("_n") <= maxBucket).drop("_n")
    val r = right
      .select(col(idCol).as("right_id"), col(text).as("_tr"),
        length(col(text)).as("_lr"))
      .withColumn("_bk", expr(s"_lr div $w"))
      .withColumn("_n", count(lit(1)).over(wnd))
      .where(col("_n") <= maxBucket).drop("_n")
    l.join(r, Seq("_bk"))
      .where(abs(col("_ll") - col("_lr")) <= maxDist)
      .withColumn("dist",
        levenshtein(col("_tl"), col("_tr"), maxDist).cast("long"))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
      .select("left_id", "right_id", "dist")
  }

  /** SEGMENT-SIGNATURE edit-distance pairs — the scale tier of
    * [[editDistancePairs]] for corpora whose lengths collapse the length
    * bands (the ×10 finding: identical-length copies put everything in one
    * band and the within-band join goes quadratic). Same output contract,
    * recall still EXACTLY 1, but blocking is on CONTENT, not length alone:
    * the partition-based candidate scheme of PASS-JOIN (Li, Deng, Wang,
    * Feng, "PASS-JOIN: a partition-based method for similarity joins",
    * PVLDB 5(3), 2011), simplified to the recall-safe ±maxDist shift
    * window.
    *
    * Pigeonhole: split the SHORTER string x of a pair into k = maxDist+1
    * contiguous segments (deterministic convention: the first `len mod k`
    * segments get `len div k + 1` chars). An optimal alignment with
    * lev ≤ maxDist edits touches at most maxDist of them, so at least one
    * segment survives UNEDITED and appears in y verbatim, starting within
    * ±maxDist of its position in x (net indels before it cannot exceed the
    * edit budget). So: every doc emits its k segment hashes keyed by
    * (len, segIdx) as the INDEX side, and for each candidate shorter
    * length ls ∈ [len−maxDist, len] enumerates the substrings of segment
    * shape (ls, i) at starts within the shift window as the PROBE side —
    * an equi-join on (ls, segIdx, substringHash) meets every qualifying
    * pair at least once. Both emissions are O(maxDist²) per doc (the probe
    * side ≤ (d+1)²·(2d+1) keys), i.e. LINEAR in the corpus with a constant
    * — no within-band quadratic step survives, because buckets are keyed
    * by segment CONTENT: unrelated same-length docs no longer meet.
    * xxhash64 substring-key collisions can only ADD candidates; the exact
    * DP verify discards them.
    *
    * Docs shorter than k chars cannot host k non-empty segments; any pair
    * whose shorter member has len ≤ maxDist has BOTH members ≤ 2·maxDist
    * (the length gate), so the ≤ 2·maxDist-char stub set is routed through
    * [[editDistancePairs]]' length bands instead — a set of ≤ 12-char
    * strings at the default, exact-dedup fodder long before this join.
    *
    * Verification is the same codegen'd banded-DP
    * `levenshtein(a, b, threshold)` over candidate docs only (texts are
    * re-fetched by a left-semi probe — the 637-key probe stream carries
    * 8-byte hashes, never the text). @return (doc_a, doc_b, dist), doc_a <
    * doc_b, spec-pinned equal to [[editDistancePairs]]. */
  def editDistancePairsSegmented(docs: DataFrame, maxDist: Int,
                                 text: String = "text",
                                 maxBucket: Int = 10000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val k = maxDist + 1
    // pinParallelism: both the index and probe sides explode k (resp.
    // k·(maxDist+1)·(2·maxDist+1)) substr+hash rows per doc out of this
    // frame — fused into a single-task scan stage on a one-row-group
    // input (profiled 5.5 s on one core at sf0.1). One text exchange,
    // REUSED by both consumers (ReuseExchange), parallelizes the
    // segment-signature fan-out on both sides.
    val base = pinParallelism(docs
      .select(col("doc_id"), col(text).as("_t"), length(col(text)).as("_len")),
      col("doc_id"))
    // ---- segment shape under the fixed convention, as column arithmetic:
    //      for a string of length ls, segment i has
    //        li = ls div k + (i < ls mod k ? 1 : 0)
    //        si = i·(ls div k) + min(i, ls mod k)
    def segLen(ls: Column, i: Column): Column =
      (ls / k).cast("int") + when(i < pmod(ls, lit(k)), 1).otherwise(0)
    def segStart(ls: Column, i: Column): Column =
      (i * (ls / k).cast("int")) + least(i, pmod(ls, lit(k)))
    val is = array((0 until k).map(lit): _*)
    // INDEX side: each doc as the potential SHORTER member — its own k
    // segments, verbatim. ls ≥ k so every segment is non-empty.
    val index = base.where(col("_len") >= k)
      .select(col("doc_id").as("_sid"), col("_t"), col("_len").as("_ls"),
        explode(is).as("_i"))
      .withColumn("_kh", xxhash64(
        col("_t").substr(segStart(col("_ls"), col("_i")) + 1,
          segLen(col("_ls"), col("_i")))))
      .select("_sid", "_ls", "_i", "_kh")
    // PROBE side: each doc as the potential LONGER-or-equal member — for
    // each admissible shorter length and segment index, the substrings at
    // starts within the ±maxDist shift window. Keys are hashes; the text
    // never leaves the row.
    val probe = base.where(col("_len") >= k)
      .select(col("doc_id").as("_lid"), col("_t"), col("_len"),
        explode(array((0 to maxDist).map(lit): _*)).as("_dl"))
      .withColumn("_ls", col("_len") - col("_dl"))
      .where(col("_ls") >= k)
      .withColumn("_i", explode(is))
      .withColumn("_li", segLen(col("_ls"), col("_i")))
      .withColumn("_si", segStart(col("_ls"), col("_i")))
      .withColumn("_s", explode(array((-maxDist to maxDist).map(lit): _*)))
      .withColumn("_p", col("_si") + col("_s"))
      .where(col("_p") >= 0 && col("_p") <= col("_len") - col("_li"))
      .withColumn("_kh", xxhash64(col("_t").substr(col("_p") + 1, col("_li"))))
      .select("_lid", "_ls", "_i", "_kh")
    val mainCands = index.join(probe, Seq("_ls", "_i", "_kh"))
      .where(col("_sid") =!= col("_lid"))
      .select(least(col("_sid"), col("_lid")).as("doc_a"),
        greatest(col("_sid"), col("_lid")).as("doc_b"))
      .distinct()
      .localCheckpoint()
    // re-fetch candidate texts (pair-count-sized broadcast, corpus-side
    // left-semi — the verifyCandidatePairs discipline)
    val candDocs = mainCands.select(col("doc_a").as("doc_id"))
      .unionByName(mainCands.select(col("doc_b").as("doc_id"))).distinct()
    val candT = base.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val mainPairs = mainCands
      .join(candT.select(col("doc_id").as("doc_a"), col("_t").as("_ta"),
        col("_len").as("_la")), "doc_a")
      .join(candT.select(col("doc_id").as("doc_b"), col("_t").as("_tb"),
        col("_len").as("_lb")), "doc_b")
      .where(abs(col("_la") - col("_lb")) <= maxDist)
      .withColumn("dist",
        levenshtein(col("_ta"), col("_tb"), maxDist).cast("long"))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
    // stub tier: pairs whose SHORTER member is under k chars — both ends
    // then sit at ≤ 2·maxDist chars, a set the length bands handle exactly.
    // Pairs with both ends ≥ k may ALSO surface here (short-band overlap);
    // the union distinct collapses them (identical verified rows).
    val stubPairs = editDistancePairs(
      docs.where(length(col(text)) <= 2 * maxDist), maxDist, text, maxBucket)
    mainPairs.unionByName(stubPairs).distinct()
  }

  /** Connected components of an undirected pair graph (columns `a`/`b`)
    * by iterative min-label propagation: every vertex starts labelled with
    * its own id; each round every vertex takes the minimum of its own and
    * its neighbours' labels; at the fixpoint the label is the component's
    * minimum id. Converges in O(graph diameter) rounds — for dedup
    * cluster graphs (near-cliques by construction) that is 2-3 rounds; an
    * adversarial long-path graph would want the O(log²) star-contraction
    * variant (Kiveris et al., "Connected components in MapReduce", SoCC'14)
    * instead. Each round is two shuffles over EDGE/VERTEX-sized frames
    * (the corpus itself is never touched) plus one scalar convergence
    * action; labels are deterministic values, so a recomputed partition
    * after cache eviction reproduces them exactly — caching here is purely
    * a performance choice, never a correctness dependency (the q42 lesson).
    *
    * Returns (doc_id, cluster_id) for every vertex that appears in an edge. */
  def connectedComponents(edges: DataFrame, a: String = "doc_a",
                          b: String = "doc_b", maxIters: Int = 64): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = edges.sparkSession
    // read before the persist below, so a malformed value leaves no cache
    val maxBcVerts = GraftSession.confLong(spark, "spark.graft.maxBroadcastVertices", 4000000L)
    // symmetric edges partitioned by DST before the persist (r17, guide
    // §2.4): every round's neighbour propagation groups by dst, and the
    // label side of the propagation join broadcasts under the measured
    // vertex cap (below), so the join preserves this partitioning and the
    // groupBy(dst) plans with NO exchange — one edge-sized shuffle at
    // build time replaces one per round. persist keeps the partitioning
    // visible (an eager localCheckpoint under AQE reports
    // UnknownPartitioning — probed r17); the partition count is the
    // session's shuffle.partitions, scale-adaptive.
    val sym = edges.select(col(a).as("src"), col(b).as("dst"))
      .unionByName(edges.select(col(b).as("src"), col(a).as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each round is locally CHECKPOINTED, not persisted: `next` references
    // `labels` twice (propagation join + carry), so the logical plan would
    // DOUBLE per round — persist truncates recomputation but not plan
    // analysis, and by ~10 rounds the analyzer walks 2^10 copies of the
    // base plan (OOM on an adversarial path graph; spec-pinned).
    // Checkpointing also leaves no CacheManager entry a caller could never
    // release — blocks go when the superseded frame is GC'd.
    var labels = sym.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint()
    var changed = labels.count() // any vertices? enter the loop
    // vertex-sized join sides get an EXPLICIT broadcast under a measured
    // cap (checkpointed frames give the static planner no usable estimate
    // — the q180/routePairFrame lesson applied in reverse), and a plain
    // shuffle join above it so a 100 TB vertex set is never collected on
    // an estimate. `changed` here is exactly the vertex count.
    val vertexSide: DataFrame => DataFrame =
      if (changed <= maxBcVerts) broadcast else identity
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      // POINTER JUMP first (label := min(label, label of the label) —
      // every label value is itself a vertex of the component, so the
      // lookup always resolves), then the one-hop neighbour propagation.
      // Jumping halves chain distances per round on top of the hop,
      // turning O(diameter) rounds into O(log diameter) on the
      // chain-shaped graphs transitive near-dup pairs produce (measured:
      // q51's pair graph took ~19 one-hop rounds at ~5 jobs each). The
      // jump self-joins the CHECKPOINTED labels frame only — both sides
      // are cached blocks, so the twice-referenced `jumped` subtree
      // re-evaluates a broadcast join of cached vertex-sized frames, not
      // the edge-sized prop chain. Fixpoint — min reachable id — is
      // unchanged (spec: ComponentsSpec; oracle: q49/q51/q114/q186).
      val jt = labels.select(col("doc_id").as("_jk"), col("cluster_id").as("_jmp"))
      val jumped = labels.join(vertexSide(jt), col("cluster_id") === jt("_jk"), "left")
        .select(col("doc_id"), col("cluster_id").as("_old"),
          least(col("cluster_id"), coalesce(col("_jmp"), col("cluster_id")))
            .as("_jl"))
      val prop = sym
        .join(vertexSide(
          jumped.select(col("doc_id").as("src"), col("_jl").as("_lbl"))), "src")
        .groupBy(col("dst").as("doc_id")).agg(min("_lbl").as("_nbr"))
      // the changed-row count rides the checkpoint materialization
      // (checkpointWithStat) instead of a second count() action per round
      val (next, nChanged) = checkpointWithStat(
        jumped.join(vertexSide(prop), Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("_jl"), coalesce(col("_nbr"), col("_jl")))
              .as("cluster_id"),
            (least(col("_jl"), coalesce(col("_nbr"), col("_jl"))) <
              col("_old")).as("_chg")),
        sum(col("_chg").cast("long")))(_.where(col("_chg")).count())
      changed = nChanged
      labels = next.drop("_chg")
      iters += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds")
    sym.unpersist()
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al., "Connected components in MapReduce and
    * beyond", SoCC'14): large-star hangs each vertex's larger neighbours
    * off its minimum neighbour, small-star re-hangs the smaller ones; the
    * edge set converges to a star forest rooted at each component's
    * minimum id in O(log² n) rounds REGARDLESS of graph diameter. This is
    * the safe variant for arbitrary graphs — [[connectedComponents]]'s
    * O(diameter) label propagation is the right default only for the
    * near-clique graphs dedup pair generators produce (a 10⁴-vertex path
    * would need 10⁴ label rounds but ~15 star rounds; spec-pinned).
    *
    * Each round is two groupBy shuffles over an EDGE-sized frame; every
    * round's result is locally checkpointed (the iterated plan would
    * otherwise double in depth per round) and superseded checkpoint blocks
    * are released when the previous frame is GC'd. Same output contract as
    * [[connectedComponents]]: (doc_id, cluster_id) for every vertex that
    * appears in an input edge. */
  def connectedComponentsStars(edges: DataFrame, a: String = "doc_a",
                               b: String = "doc_b",
                               maxIters: Int = 64): DataFrame = {
    // canonical undirected form: u > v, no self-loops, set semantics
    def canon(e: DataFrame): DataFrame =
      e.where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("_m"))
      sym.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("_m").as("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = canon(e) // u > v: every vertex's smaller neighbourhood
      val m = dir.groupBy("u").agg(min("v").as("_m"))
      dir.join(m, "u").select(col("v").as("u"), col("_m").as("v"))
        .unionByName(m.select(col("u"), col("_m").as("v")))
        .where(col("u") =!= col("v")).distinct()
    }
    val verts = edges.select(col(a).as("doc_id"))
      .unionByName(edges.select(col(b).as("doc_id"))).distinct()
    // row counts ride each checkpoint materialization (checkpointWithStat)
    // so the fixpoint test costs zero extra jobs per round until the
    // counts first agree — only then is the set-equality anti-join run
    val (cur0, cnt0) = checkpointWithStat(
      canon(edges.select(col(a).as("u"), col(b).as("v"))),
      count(lit(1)))(_.count())
    var cur = cur0
    var curCnt = cnt0
    var iters = 0
    var done = curCnt == 0L // edge-free input: nothing to contract
    while (!done && iters < maxIters) {
      val (next, nextCnt) = checkpointWithStat(
        canon(smallStar(largeStar(cur))), count(lit(1)))(_.count())
      // fixpoint test on canonical SETS: equal count + no fresh edge
      done = nextCnt == curCnt &&
        next.join(cur, Seq("u", "v"), "left_anti").isEmpty
      cur = next
      curCnt = nextCnt
      iters += 1
    }
    require(done,
      s"connectedComponentsStars did not converge in $maxIters rounds")
    // fixpoint = star forest: every canonical edge is (leaf, component min);
    // vertices absent from the leaf side are roots (or singletons)
    val nonRoot = cur.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    val roots = verts.join(cur.select(col("u").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    nonRoot.unionByName(roots)
  }

  /** Near-dup CLUSTER assignment — the end of the dedup pipeline the pair
    * generators feed: verified near-dup pairs → connected components →
    * one canonical survivor per cluster (the minimum doc_id). Returns one
    * row per corpus document: (doc_id, cluster_id, keep); filtering on
    * `keep` yields the deduplicated corpus.
    *
    * The component frame is vertex-sized (only docs that appear in a
    * verified pair — a vanishing fraction of the corpus), so the final
    * assignment join is corpus × small; singleton docs keep themselves. */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.8,
                      ngram: Int = 3, numHashes: Int = 0,
                      bands: Int = 0): DataFrame = {
    val pairs = nearDupPairs(docs, threshold, ngram, numHashes, bands)
      .select("doc_a", "doc_b")
    val comp = connectedComponents(pairs)
    docs.select("doc_id").join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** [[nearDupClusters]] with a SURVIVORSHIP POLICY: the kept copy per
    * cluster is the row maximizing `score` (ties to the smaller doc_id),
    * not the smallest id — the production rule when copies differ in
    * quality ("keep the longest / highest-quality variant"). cluster_id
    * stays the component's minimum doc_id (a stable cluster KEY must not
    * depend on the policy), only `keep` moves.
    *
    * Shape at scale: identical to [[nearDupClusters]] plus one window
    * over the VERTEX-SIZED component frame (only docs in a verified pair
    * rank; singletons keep themselves without entering the window), so
    * the policy costs nothing corpus-sized. */
  def nearDupClustersBy(docs: DataFrame, score: Column,
                        threshold: Double = 0.8, ngram: Int = 3,
                        numHashes: Int = 0, bands: Int = 0): DataFrame = {
    val pairs = nearDupPairs(docs, threshold, ngram, numHashes, bands)
      .select("doc_a", "doc_b")
    val comp = connectedComponents(pairs)
    val scored = comp.join(docs.select(col("doc_id"), score.as("_score")),
      Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(desc("_score"), asc("doc_id"))
    val kept = scored
      .withColumn("_rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), (col("_rn") === 1).as("keep"))
    docs.select("doc_id").join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("keep"), lit(true)).as("keep"))
  }

  /** SimHash band blocking: split the fingerprint into `bands` bit-slices;
    * docs sharing any slice value are candidates (pigeonhole: any pair with
    * hamming < bands shares at least one slice → recall 1 for d < bands,
    * PROVIDED no shared bucket exceeds `maxBucket` — [[cappedBucketPairs]]
    * drops over-cap buckets to bound the quadratic expansion; see its
    * recall note). One groupBy shuffle, not a both-sides self-join. */
  def simhashBandPairs(sims: DataFrame, bands: Int = 4, bits: Int = 60,
                       maxDist: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val w = bits / bands
    val mask = (1L << w) - 1
    val banded = sims.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("simhash"), b * w).bitwiseAND(mask)): _*)).as(Seq("band", "bkey")))
    cappedBucketPairs(banded, struct(col("doc_id"), col("simhash")), maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Containment join: ordered pairs (sub, sup) where the DISTINCT-token
    * set of `sub` is at least tauNum/tauDen contained in `sup`'s —
    * C(A,B) = |A∩B| / |A|. The ASYMMETRIC sibling of the Jaccard join:
    * a quote, snippet, or boilerplate-wrapped copy has low Jaccard
    * against its source (the union is dominated by the bigger doc) but
    * containment ≈ 1 — the signal quote/excerpt detection actually needs
    * (Broder 1997 distinguishes resemblance from containment for exactly
    * this reason).
    *
    * Exact tier: one distinct-(doc, token) pass keyed by the 60-bit token
    * hash (8-byte shuffle keys, text never shuffles — q15's injectivity
    * argument), the inverted-list self-join counts intersections, and the
    * integer rule `inter · tauDen >= |A| · tauNum` decides — no floats.
    * Pair space is Σ df² over tokens (the same budget class as the exact
    * Jaccard/cosine joins q48/q102): run it on a candidate subset or
    * behind an LSH prefilter at corpus scale; this is the verify tier.
    *
    * @return (doc_sub, doc_sup, inter, n_sub, cont_e6) */
  def containmentJoin(docs: DataFrame, tauNum: Long, tauDen: Long,
                      text: String = "text"): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be in (0, 1]: $tauNum/$tauDen")
    val f = docs
      .select(col("doc_id"), explode(TextOps.tokens(col(text))).as("_tok"))
      .select(col("doc_id"), TextOps.md5Long(col("_tok")).as("th"))
      .distinct()
    val na = f.groupBy("doc_id").agg(count(lit(1)).as("n_sub"))
    f.select(col("doc_id").as("doc_sub"), col("th"))
      .join(f.select(col("doc_id").as("doc_sup"), col("th")), "th")
      .where(col("doc_sub") =!= col("doc_sup"))
      .groupBy("doc_sub", "doc_sup").agg(count(lit(1)).as("inter"))
      .join(na.select(col("doc_id").as("doc_sub"), col("n_sub")), "doc_sub")
      .where(col("inter") * tauDen >= col("n_sub") * tauNum)
      .select(col("doc_sub"), col("doc_sup"), col("inter"), col("n_sub"),
        expr("inter * 1000000 div n_sub").as("cont_e6"))
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * shingles whose FIRST owner (smallest doc_id corpus-wide) is the
    * document itself — the "how much of this is new" curation signal
    * that separates original content from recombined boilerplate, and
    * the doc-granular view of the corpus-growth curves used to diagnose
    * crawl saturation.
    *
    * Shape at scale: shingles are 60-bit hashes end to end (one
    * [[shingleHashRows]] pass), the first-owner table is ONE gram-keyed
    * groupBy with map-side min, and the join back is gram-hash to
    * gram-hash — two shuffles total on 8-byte keys, partition width
    * bounded by a gram's owner count.
    *
    * @return (doc_id, n_grams, n_novel, novelty_e6) */
  def gramNovelty(docs: DataFrame, n: Int = 3,
                  text: String = "text"): DataFrame = {
    val g = shingleHashRows(docs, n, text, distinct = true)
    val first = g.groupBy("gram").agg(min("doc_id").as("first_doc"))
    g.join(first, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000 div n_grams").as("novelty_e6"))
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus in a cheap embedding space, then compare pairs
    * ONLY within a cluster — the clustering bounds the quadratic pair
    * space that makes corpus-wide cosine dedup infeasible, on the bet
    * that semantic duplicates land in the same cluster.
    *
    * This build keeps the whole loop under the exact-integer oracle
    * discipline: the embedding is [[TextOps.hashVectorize]]'s `dim` token
    * count buckets (longs), the coarse quantizer is the q43/q114 seeded
    * assignment ([[Ann.ivfCentroids]] — deterministic, no RNG), and a
    * pair is a duplicate iff cosine >= tauNum/tauDen decided as
    * `dot² · tauDen² >= |a|²·|b|² · tauNum²` on raw counts — no float
    * anywhere. Survivorship is the deterministic dominated-by-smaller
    * rule: a doc is dropped iff some SMALLER doc_id in its cluster is
    * within tau of it (q14's min-id convention; no transitive closure —
    * chains longer than a pair are [[nearDupClusters]]' job).
    *
    * Shape at scale: one token pass builds the vectors; assignment is a
    * broadcast-centroid narrow map; the only quadratic work is the
    * within-cluster self-join, whose width is the CLUSTER size — pick
    * `nlist` ≈ corpus/targetClusterSize so each cluster's pair block fits
    * a task (SemDeDup runs 50k clusters at web scale for exactly this
    * reason).
    *
    * Skew: `nlist` bounds the EXPECTED cluster size, not the max — seeded
    * assignment on lumpy data can put most of the corpus in one list (the
    * ×10 organic corpus lands 86% in a single cluster), and a plain
    * `join(..., "list_id")` then builds that cluster's entire pair
    * cross-product in ONE task (AQE's skew-join split never fires: an
    * equal-key cross product below the 256 MB partition threshold is
    * invisible to it). So the triangle is grid-decomposed: each doc gets a
    * content-hash block in [0, `blocks`), side A replicates a doc to cells
    * (blk, j ≥ blk), side B to cells (i ≤ blk, blk), and the join key is
    * (list_id, i, j) — every unordered pair lands in exactly one of the
    * blocks·(blocks+1)/2 cells per list (same-block pairs in their
    * diagonal cell, evaluated from both orderings and deduped by the
    * symmetric dominated rule), so a hot cluster parallelizes across
    * cells at the price of ~(blocks+1)/2× vector-shuffle replication.
    *
    * Overflow contract: the duplicate rule's largest term is bounded by
    * `n2a·n2b·tauDen²` (Cauchy–Schwarz gives dot² ≤ n2a·n2b), so int64
    * exactness holds iff every doc's squared norm n2 ≤ √(2⁶³−1)/tauDen.
    * hashVectorize counts give n2 ≈ L²/dim, so with the defaults
    * (dim = 16, tauDen = 20) the bound trips around L ≈ 40k tokens. A doc
    * over the bound RAISES (loudly, per doc, at the first pair decision
    * that touches it) instead of silently flipping keep/drop on wrapped
    * arithmetic — chunk long docs ([[TextOps.chunkDocs]]), raise `dim`,
    * or reduce `tauDen`.
    *
    * nlist contract: the in-cluster exact verify is quadratic PER
    * cluster (≈ n²/nlist pairs total when balanced), so a fixed nlist is
    * quadratically infeasible as the corpus grows — round-13's ScaleProbe
    * measured the registered demo geometry (nlist 64) structurally
    * un-runnable at 500 k docs. The DEFAULT (`nlist = 0`) therefore
    * derives `max(8, ceil(n/1000))` from one cheap count: expected
    * cluster size ~1000 keeps the verify at ~500·n pairs — linear in the
    * corpus — and the `blocks` grid already parallelizes skewed clusters.
    *
    * @return one row per doc: (doc_id, list_id, is_kept) */
  def semanticDedup(docs: DataFrame, tauNum: Long, tauDen: Long,
                    dim: Int = 16, nlist: Int = 0,
                    text: String = "text", blocks: Int = 8): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be in (0, 1]: $tauNum/$tauDen")
    require(blocks >= 1, s"blocks must be >= 1: $blocks")
    require(nlist >= 0, s"nlist must be >= 0 (0 = derive from count): $nlist")
    val nlist0 =
      if (nlist > 0) nlist
      else math.max(8L, (docs.count() + 999L) / 1000L).toInt
    val spark = docs.sparkSession
    // hashVectorize emits no row for a zero-token doc (its explode yields
    // nothing) — left-join the vectors back onto the input so empty docs
    // participate as ZERO vectors: they get assigned to a coarse cell like
    // any other doc and are always kept (the accept rule below requires
    // strictly positive norms, so a zero vector can neither dominate nor
    // be dominated), matching the oracle's zero-filled dense grid.
    val v = docs.select(col("doc_id"))
      .join(TextOps.hashVectorize(docs, dim, text)
        .select(col("doc_id"),
          transform(col("vec"), x => x.cast("long")).as("cv")),
        Seq("doc_id"), "left")
      .withColumn("cv",
        coalesce(col("cv"), array_repeat(lit(0L), dim)))
    val emb = v.select(col("doc_id").as("vec_id"), col("cv").as("embedding"))
    val cents = Ann.ivfCentroids(emb, nlist0)
    val asg = Ann.ivfAssign(emb, cents)
      .select(col("vid").as("doc_id"), col("list_id"))
    // max n2 with n2a·n2b·tauDen² provably < 2⁶³ (see the Scaladoc
    // contract); n2 < 0 additionally catches a wrapped squared-norm sum
    val t2dL = tauDen * tauDen
    val maxN2 = math.sqrt(Long.MaxValue.toDouble / t2dL).toLong - 1
    // (r16 optimization note: eagerly checkpointing this thrice-referenced
    // frame — pinParallelism + localCheckpoint — was MEASURED 2-3x SLOWER
    // at sf0.1 (q115 4.1 -> 11.9 s repeatable, OPTIMIZATION_r16.md:164-166):
    // Spark's exchange reuse already deduplicates the heavy vectorize
    // subtree across the three branches, and the eager materialization
    // serializes what the lazy plan overlaps. Left lazy. A ×100 probe
    // (graft.ScalingLeg, 500 k docs) was reported slower for the
    // materialized variant at 8 and 32 cores, but its numbers were never
    // committed (ROADMAP item 6 owns that record). The conf below exists
    // for that probe and for corpora where re-tokenizing 3× loses to one
    // materialization —
    // identical results either way, it only moves WHEN the frame is
    // computed.)
    val materialize = GraftSession.confBool(spark,
      "spark.graft.semanticDedup.materializeAssigned", default = false)
    val withN0 = v.join(asg, "doc_id")
      // Σcv² through the codegen'd graft_dot (r17): same exact int64 sum
      // as the interpreted transform/aggregate pair, evaluated once per
      // corpus row on a frame that is referenced three times below
      .withColumn("n2", Ann.dotFast(col("cv"), col("cv")))
      .withColumn("n2",
        when(col("n2") > maxN2 || col("n2") < 0L,
          raise_error(concat(lit("semanticDedup: doc "), col("doc_id"),
            lit(s" squared-norm exceeds the int64-exact bound $maxN2 for " +
              s"tauDen=$tauDen — chunk the doc, raise dim, or reduce tauDen")))
            .cast("long"))
          .otherwise(col("n2")))
    val withN = if (materialize)
      pinParallelism(withN0, col("doc_id")).localCheckpoint()
    else withN0
    val withB = withN.withColumn("_blk",
      pmod(xxhash64(col("doc_id")), lit(blocks.toLong)).cast("int"))
    val a = withB
      .withColumn("_cj", explode(expr(s"sequence(_blk, ${blocks - 1})")))
      .select(col("list_id"), col("_blk").as("_ci"), col("_cj"),
        col("doc_id").as("_ida"), col("cv").as("_cva"), col("n2").as("_n2a"))
    val b = withB
      .withColumn("_ci", explode(expr("sequence(0, _blk)")))
      .select(col("list_id"), col("_ci"), col("_blk").as("_cj"),
        col("doc_id").as("_idb"), col("cv").as("_cvb"), col("n2").as("_n2b"))
    val t2n = tauNum * tauNum; val t2d = tauDen * tauDen
    val dot = Ann.dotFast(col("_cva"), col("_cvb"))
    val dominated = a.join(b, Seq("list_id", "_ci", "_cj"))
      .where(col("_ida") =!= col("_idb"))
      // strictly positive norms: without the guard the integer accept
      // rule degenerates to 0 ≥ 0 (accept) for zero-norm vectors, so two
      // empty docs would spuriously dominate each other
      .where(col("_n2a") > 0L && col("_n2b") > 0L)
      .where(dot * dot * t2d >= col("_n2a") * col("_n2b") * t2n)
      .select(greatest(col("_ida"), col("_idb")).as("doc_id")).distinct()
    withN.join(dominated.withColumn("_dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("list_id"),
        coalesce(col("_dup"), lit(false)).unary_!.as("is_kept"))
  }
}
