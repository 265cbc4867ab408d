package graft.store

import graft.pipeline.TextOps
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted text index — the warehouse `interval=` discipline
  * applied to keyword search: postings and dictionary live as
  * `bucket=`-partitioned parquet (bucket = 60-bit token hash mod
  * `buckets`), so a query probes ONLY its terms' buckets through a
  * LITERAL partition filter (statically pruned, plan-asserted in
  * TextIndexSpec) instead of scanning the corpus the way the on-the-fly
  * q65 scorer must. Build once per corpus snapshot; at 100 TB the
  * postings build is one (doc, token) partial-agg shuffle + a
  * partitioned write, and every later query touches
  * `|query terms| / buckets` of the index bytes.
  *
  * Search semantics are EXACTLY [[TextOps.searchTopK]] (same integer
  * `(N·10⁶) div df` idf, same tf·idf sum, same (score desc, doc_id)
  * top-k) — spec-pinned bit-equal, so the q65 oracle SQL is also this
  * tier's oracle. df is precomputed at build time (corpus stats are
  * static per snapshot), shipped in the bucket-partitioned `dict`
  * table; `n_docs` rides text_index.json and enters the plan as a
  * literal.
  *
  * All file operations go through the Hadoop FileSystem API resolved
  * from the index path itself, so the store (and every crash heal)
  * works the same on local disk, HDFS or an object store. */
object TextIndex {

  final case class Handle(path: String, nDocs: Long, buckets: Int,
                          bigL: Long)

  /** Driver-side replica of [[TextOps.md5Long]] for bucket routing. */
  def md5Long60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(15), 16)
  }

  import StagedCommit.{fsOf, readSmall, writeSmall, jsonField, jsonFieldOpt}

  /** The staged-commit protocols' view of a text index: an append stages
    * postings and doclen and replaces the dict whole (`dict.next`); the
    * meta lands the staged intent's counts. */
  private val store = StagedCommit.Store("TextIndex",
    tables = Seq("postings", "doclen"),
    swapped = Seq("postings", "doclen", "positions"),
    rebuilt = Seq("postings", "dict", "doclen"),
    // the POSITIONAL tier indexes the superseded corpus: phraseSearch
    // answering from it after a rebuild would silently return the old
    // corpus's phrases — re-run writePositional after a rebuild
    superseded = Seq("positions"),
    publish = (path, staged) => {
      val fs = fsOf(path)
      val intent = readSmall(fs, new HPath(staged, "intent.json"))
      val meta = readSmall(fs, new HPath(path, "text_index.json"))
      // an intent from a pre-BM25 binary lacks big_l — keep the meta's
      // (possibly absent → -1 legacy marker) rather than crash
      val bigL = jsonFieldOpt(intent, "big_l")
        .orElse(jsonFieldOpt(meta, "big_l")).getOrElse(-1L)
      writeSmall(fs, new HPath(path, "text_index.json"),
        s"""{"n_docs":${jsonField(intent, "n_docs")},""" +
          s""""buckets":${jsonField(meta, "buckets")},"big_l":$bigL}""")
    },
    land = (path, intent) =>
      writeSmall(fsOf(path), new HPath(path, "text_index.json"),
        s"""{"n_docs":${jsonField(intent, "n_docs")},""" +
          s""""buckets":${jsonField(intent, "buckets")},""" +
          s""""big_l":${jsonField(intent, "big_l")}}"""),
    replaced = Seq("dict"))

  private def postingsOf(docs: DataFrame, buckets: Int,
                         text: String): DataFrame =
    docs
      .select(col("doc_id"), explode(TextOps.tokens(col(text))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        pmod(TextOps.md5Long(col("token")), lit(buckets.toLong)))

  def write(docs: DataFrame, path: String, buckets: Int = 64,
            text: String = "text"): Handle =
    write(docs, path, buckets, text, 0)

  /** [[write]] with an injected crash point — spec-only seam for the
    * rebuild matrix (1 = staged, 2 = committed). A rebuild at a path
    * SUPERSEDES any staged append there, even one past its commit marker:
    * rebuilding at a fixed path after a crashed append is the CLI `index` /
    * textIndexDeltaFor flow. */
  private[store] def write(docs: DataFrame, path: String, buckets: Int,
            text: String, crashAfterStep: Int): Handle =
      Lease.withLease(path, "TextIndex.write") {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val spark = docs.sparkSession
    StagedCommit.rebuild(path, store, "TextIndex.write", crashAfterStep) { tmp =>
      withWriterCoalesce(spark) {
        postingsOf(docs, buckets, text).write.mode("overwrite")
          .partitionBy("bucket").parquet(tmp("postings"))
        // df = docs-per-token over the postings just written (re-read: the
        // written files are the one materialization; no second corpus scan)
        spark.read.parquet(tmp("postings"))
          .groupBy("bucket", "token").agg(count(lit(1)).as("df"))
          .write.mode("overwrite").partitionBy("bucket").parquet(tmp("dict"))
        // per-doc length (Σ tf) — the BM25 normalizer; derived from the
        // written postings, so still a single corpus scan overall
        spark.read.parquet(tmp("postings"))
          .groupBy("doc_id").agg(sum("tf").as("dl"))
          .write.mode("overwrite").parquet(tmp("doclen"))
      }
      val bigL = spark.read.parquet(tmp("doclen"))
        .agg(coalesce(sum("dl"), lit(0L))).head().getLong(0)
      val nDocs = docs.count()
      (s"""{"n_docs":$nDocs,"buckets":$buckets,"big_l":$bigL}""",
        Handle(path, nDocs, buckets, bigL))
    }
  }

  def open(path: String): Handle = {
    StagedCommit.heal(path, store)
    val s = readSmall(fsOf(path), new HPath(path, "text_index.json"))
    // big_l = -1 marks an index persisted before the BM25 tier existed:
    // tf-idf/phrase search still work; bm25TopK refuses loudly
    Handle(path, jsonField(s, "n_docs"), jsonField(s, "buckets").toInt,
      jsonFieldOpt(s, "big_l").getOrElse(-1L))
  }

  /** Incremental maintenance: index a batch of NEW documents into an
    * existing index, by the staged offline append of [[StagedCommit]]:
    *
    *  1. delta postings and doc lengths → the staging dir;
    *  2. intent (target n_docs, big_l) → its `intent.json`;
    *  3. merged dict (vocab-sized `df` sums) → `dict.next`;
    *  4. its `_staged` marker — the commit point;
    *  5. staged files RENAMED into the live bucket dirs (unique part
    *     names — idempotent on replay), the dict swapped in, the meta
    *     rewritten to the intent's target, staging removed.
    *
    * Crash before the `_staged` marker → [[open]] ABORTS the append
    * (staging + `dict.next` deleted, index untouched — re-run it);
    * crash after → [[open]] ROLLS FORWARD. At no point does a reader see
    * new postings with the old dict or vice versa after heal. The doc_ids
    * MUST be new — this is append, not upsert; re-adding an id
    * double-counts it exactly as appending the same rows twice to any
    * log would.
    *
    * Search results after append are BIT-EQUAL to a fresh [[write]] of
    * the union corpus (spec-pinned): postings/df/n_docs are all
    * additive. At 100 TB this is the point — the nightly crawl delta
    * indexes in time ∝ delta, never corpus. */
  def append(newDocs: DataFrame, h: Handle,
             text: String = "text"): Handle =
    append(newDocs, h, text, crashAfterStep = 99)

  /** [[append]] with an injected crash point — spec-only seam for the
    * heal matrix (2 = before the commit marker, 4 = after it). */
  private[store] def append(newDocs: DataFrame, h: Handle, text: String,
                            crashAfterStep: Int): Handle =
      Lease.withLease(h.path, "TextIndex.append") {
    def crash(step: Int): Unit = if (step == crashAfterStep)
      throw new IllegalStateException(s"injected crash after step $step")
    // a legacy (pre-BM25) index carries bigL = -1 as a refusal marker;
    // targetL = -1 + deltaL would launder it into a bogus non-negative
    // big_l whose doclen table covers ONLY the appended docs — bm25TopK
    // would then mis-score silently instead of refusing
    require(h.bigL >= 0,
      "append: index has no big_l/doclen (built before the BM25 tier) — " +
        "rebuild it with TextIndex.write before appending")
    val spark = newDocs.sparkSession
    val fs = fsOf(h.path)
    val pending = StagedCommit.beginPending(h.path, store)
    // 1. stage the delta postings + doc lengths
    val tf = postingsOf(newDocs, h.buckets, text)
    withWriterCoalesce(spark) {
      tf.write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$pending/postings")
      spark.read.parquet(s"$pending/postings")
        .groupBy("doc_id").agg(sum("tf").as("dl"))
        .write.mode("overwrite").parquet(s"$pending/doclen")
    }
    crash(1)
    // 2. intent: the TARGET counts (idempotent for the heal)
    val target = h.nDocs + newDocs.count()
    val targetL = h.bigL + spark.read.parquet(s"$pending/doclen")
      .agg(coalesce(sum("dl"), lit(0L))).head().getLong(0)
    writeSmall(fs, new HPath(pending, "intent.json"),
      s"""{"n_docs":$target,"big_l":$targetL}""")
    crash(2)
    // 3. merged dict
    val add = spark.read.parquet(s"$pending/postings")
      .groupBy("bucket", "token").agg(count(lit(1)).as("df"))
    withWriterCoalesce(spark) {
      spark.read.parquet(s"${h.path}/dict")
        .select("bucket", "token", "df").unionByName(add)
        .groupBy("bucket", "token").agg(sum("df").as("df"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"${h.path}/dict.next")
    }
    crash(3)
    // 4. commit point
    StagedCommit.commitPending(h.path, store)
    crash(4)
    // 5. publish
    StagedCommit.publishPending(h.path, store)
    Handle(h.path, target, h.buckets, targetL)
  }

  /** Offline maintenance: rewrite the index into few large sorted files
    * per bucket. Every [[append]] renames its delta's part files into the
    * live bucket dirs, so after many small deltas each bucket holds one
    * file set PER APPEND — the classic small-files fragmentation that
    * erodes probe efficiency (tiny row groups defeat min/max pruning,
    * file opens dominate the bucket-pruned scan). Compaction restores
    * `filesPerPartition` token-sorted files per bucket with content
    * identical, so search results are bit-equal before and after
    * (spec-pinned). Crash-safe by [[StagedCommit.swap]], which [[open]]
    * (or the next compact) restores. Run offline, like every reference
    * maintenance tool. */
  def compact(spark: SparkSession, h: Handle,
              filesPerPartition: Int = 1): Handle =
      Lease.withLease(h.path, "TextIndex.compact") {
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1: $filesPerPartition")
    StagedCommit.heal(h.path, store) // an unresolved append publishes first
    val fs = fsOf(h.path)
    def rewrite(dir: String)(
        layout: DataFrame => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): Unit =
      if (fs.exists(new HPath(h.path, dir)))
        StagedCommit.swap(h.path, dir, "TextIndex.compact") { tmp =>
          layout(spark.read.parquet(s"${h.path}/$dir")).mode("overwrite").parquet(tmp)
        }
    withWriterCoalesce(spark) {
      rewrite("postings")(_.repartition(col("bucket"),
          pmod(xxhash64(col("token")), lit(filesPerPartition)))
        .sortWithinPartitions("token", "doc_id").write.partitionBy("bucket"))
      rewrite("doclen")(_.repartition(filesPerPartition, col("doc_id"))
        .sortWithinPartitions("doc_id").write)
      rewrite("positions")(_.repartition(col("bucket"),
          pmod(xxhash64(col("token")), lit(filesPerPartition)))
        .sortWithinPartitions("token", "doc_id", "pos").write.partitionBy("bucket"))
    }
    h // layout maintenance only — content and meta are unchanged
  }

  /** The POSITIONAL tier: per-occurrence postings (bucket, token,
    * doc_id, pos) alongside the tf index — what indexed PHRASE search
    * needs. One row per token occurrence (corpus-token-sized; the
    * documented cost of positional retrieval — build it only when
    * phrase/proximity queries matter). Same bucket routing, so a
    * phrase probes only its terms' buckets. */
  def writePositional(docs: DataFrame, h: Handle,
                      text: String = "text"): Unit =
      Lease.withLease(h.path, "TextIndex.writePositional") {
    Lease.fence(h.path, "TextIndex.writePositional")
    withWriterCoalesce(docs.sparkSession) {
      docs
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col(text))).as(Seq("pos", "token")))
        .withColumn("bucket",
          pmod(TextOps.md5Long(col("token")), lit(h.buckets.toLong)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"${h.path}/positions")
    }
    }

  /** Exact phrase search over the positional tier — [[TextOps
    * .phraseSearch]] semantics (consecutive tokens, overlapping matches
    * counted) with the corpus never scanned: every phrase term's
    * postings come from its bucket partition (literal bucket IN
    * filter), then the |phrase|−1 equi-join chain on (doc_id, pos − i)
    * runs over term-sized frames. */
  def phraseSearch(spark: SparkSession, h: Handle,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "phrase needs at least two tokens")
    // refuse loudly, like bm25TopK on a pre-BM25 index: a missing
    // positional tier (never built, or superseded by a rebuild — write()
    // deletes positions/ because they index the OLD corpus) must not
    // surface as an opaque path-not-found from the scan
    require(fsOf(h.path).exists(new HPath(h.path, "positions")),
      s"TextIndex.phraseSearch: no positional tier at ${h.path} — run " +
        "writePositional(...) first (a rebuild supersedes positions/: " +
        "they index the superseded corpus)")
    val bs = phrase.map(t => md5Long60(t) % h.buckets).distinct
    val post = spark.read.parquet(s"${h.path}/positions")
      .where(col("bucket").isin(bs: _*) &&
        col("token").isInCollection(phrase.distinct))
    val anchor = post.where(col("token") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.tail
      .foldLeft(anchor) { case (acc, (t, i)) =>
        acc.join(
          post.where(col("token") === t)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
      }
      .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
  }

  /** BM25 top-k over the index — [[TextOps.bm25TopK]]'s exact rational
    * (k1 = 1.2, b = 0.75 multiplied through by 10·L, fixed point 1e6)
    * with the corpus never scanned: tf from the bucket-pruned postings,
    * df from the dict, dl from the doc-keyed `doclen` table (candidate
    * docs are query-term-sized, so AQE broadcasts them into the dl
    * join), L and N as literals from meta. Spec-pinned bit-equal to the
    * on-the-fly scorer, so the q99 oracle shape carries over. */
  def bm25TopK(spark: SparkSession, h: Handle, query: Seq[String],
               k: Int): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    require(k >= 1, s"k must be >= 1, got $k")
    require(h.bigL >= 0,
      "bm25TopK: index has no big_l/doclen (built before the BM25 " +
        "tier) — rebuild it with TextIndex.write")
    // the saturation numerator is 22·tf·L·10⁶ — already past int64 at
    // tf = 1 once L exceeds ~4.19e11 tokens; shard or rescale beyond
    require(h.bigL <= Long.MaxValue / 22000000L,
      s"bm25TopK: big_l=${h.bigL} wraps the 22·tf·L·1e6 fixed point — " +
        "shard the corpus or drop the e6 scale")
    // real tf MULTIPLIES the requirement: the driver-side require above
    // only covers tf = 1, so rows whose tf pushes 22·tf·L·1e6 past int64
    // raise per-row (the epsilonJoin/semanticDedup discipline) instead
    // of wrapping silently. _tf_ok feeds the live score expression, so
    // the guard can never be pruned away.
    val maxTf: Long =
      if (h.bigL == 0L) Long.MaxValue
      else (BigInt(Long.MaxValue) / (BigInt(22) * h.bigL * 1000000L)).toLong
    val bs = query.map(t => md5Long60(t) % h.buckets).distinct
    val tf = spark.read.parquet(s"${h.path}/postings")
      .where(col("bucket").isin(bs: _*) &&
        col("token").isInCollection(query))
      .select("doc_id", "token", "tf")
      .withColumn("_tf_ok",
        when(col("tf") > maxTf,
          raise_error(concat(lit("bm25TopK: tf="), col("tf"),
            lit(s" wraps the 22·tf·L·1e6 fixed point at big_l=${h.bigL}" +
              " — shard the corpus or drop the e6 scale")))
            .cast("long"))
          .otherwise(col("tf")))
    val idf = spark.read.parquet(s"${h.path}/dict")
      .where(col("bucket").isin(bs: _*) &&
        col("token").isInCollection(query))
      .select(col("token"),
        expr(s"(${h.nDocs}L * 1000000L) div df").as("idf_scaled"))
    val dl = spark.read.parquet(s"${h.path}/doclen")
    tf.join(broadcast(idf), "token")
      .join(dl, "doc_id")
      .withColumn("_sat_e6", expr(
        s"(22 * _tf_ok * ${h.bigL}L * 1000000) div " +
          s"(10 * _tf_ok * ${h.bigL}L + 3 * ${h.bigL}L + 9 * dl * ${h.nDocs}L)"))
      .groupBy("doc_id")
      .agg(sum(col("idf_scaled") * col("_sat_e6")).as("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
  }

  /** Top-k docs for a term bag — [[TextOps.searchTopK]] over the index.
    * Both scans carry the literal `bucket IN (...)` partition filter of
    * the query's own buckets plus the term filter; everything after is
    * query-term-sized. */
  def searchTopK(spark: SparkSession, h: Handle, query: Seq[String],
                 k: Int): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    require(k >= 1, s"k must be >= 1, got $k")
    val bs = query.map(t => md5Long60(t) % h.buckets).distinct
    val post = spark.read.parquet(s"${h.path}/postings")
      .where(col("bucket").isin(bs: _*) &&
        col("token").isInCollection(query))
    val idf = spark.read.parquet(s"${h.path}/dict")
      .where(col("bucket").isin(bs: _*) &&
        col("token").isInCollection(query))
      .select(col("token"),
        expr(s"(${h.nDocs}L * 1000000L) div df").as("idf_scaled"))
    post.join(broadcast(idf), "token")
      .groupBy("doc_id").agg(sum(col("tf") * col("idf_scaled")).as("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
  }
}
