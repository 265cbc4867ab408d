package graft.store

import graft.pipeline.Dedup
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band index — the corpus side of incremental
  * near-dup dedup ([[graft.pipeline.Dedup.nearDupPairsAgainstIndex]])
  * materialized once and extended per accepted drop, so the nightly
  * "is anything in this drop a near-copy of what we already have?" job
  * costs O(drop), never O(corpus):
  *
  *  - `bands/` — (doc_id, bkey) as `band=`-partitioned parquet, 16
  *    bytes/row/band: the banded signature frame
  *    [[graft.pipeline.Dedup.bandedRows]] produces, identical hash
  *    family and band keys, so a live batch signature meets exactly
  *    the stored buckets a full re-band of the corpus would meet;
  *  - `grams/` — (doc_id, gram) DISTINCT 60-bit shingle hashes: what
  *    the exact-Jaccard verify tier consumes, so accepted candidates
  *    are verified WITHOUT re-reading or re-tokenizing corpus text;
  *  - `band_index.json` — n_docs + the (ngram, num_hashes, bands)
  *    family parameters a probe must reuse.
  *
  * Maintenance follows the [[StagedCommit]] staged offline append
  * (stage → intent → `_staged` commit marker → publish-by-rename →
  * meta → clean), with a simpler heal matrix than [[TextIndex]]'s because
  * every table here is PURELY ADDITIVE — there is no merged dictionary to
  * swap. A crash
  * before the marker aborts the append (index untouched, re-run it); a
  * crash after rolls forward on the next [[open]]. [[compact]] closes
  * the small-files fragmentation that per-drop appends accumulate,
  * crash-safe via the directory-swap-with-backup discipline.
  *
  * All file operations go through the Hadoop FileSystem API resolved
  * from the index path, so local disk, HDFS and object stores behave
  * the same (the TextIndex/Warehouse rule). */
object BandIndex {
  import StagedCommit.{fsOf, readSmall, writeSmall, jsonField, jsonFieldOpt,
    readObsRow}

  final case class Handle(path: String, nDocs: Long, ngram: Int,
                          numHashes: Int, bands: Int)

  private def writeMeta(path: String, nDocs: Long, ngram: Int,
                        numHashes: Int, bands: Int): Unit =
    writeSmall(fsOf(path), new HPath(path, "band_index.json"),
      s"""{"n_docs":$nDocs,"ngram":$ngram,"num_hashes":$numHashes,""" +
        s""""bands":$bands}""")

  /** The staged-commit protocols' view of a band index: every table is
    * purely additive, so an append stages and publishes bands and grams and
    * the meta lands the staged intent's doc count. */
  private val store: StagedCommit.Store = StagedCommit.Store("BandIndex",
    tables = Seq("bands", "grams"), swapped = Seq("bands", "grams"),
    rebuilt = Seq("bands", "grams"),
    superseded = StagedCommit.StreamAndRetireState,
    publish = (path, staged) => {
      val fs = fsOf(path)
      val intent = readSmall(fs, new HPath(staged, "intent.json"))
      val meta = readSmall(fs, new HPath(path, "band_index.json"))
      writeMeta(path, jsonField(intent, "n_docs"),
        jsonField(meta, "ngram").toInt, jsonField(meta, "num_hashes").toInt,
        jsonField(meta, "bands").toInt)
    },
    // the drift ledger resets with the re-derived geometry
    land = (path, intent) => {
      val nDocs = jsonField(intent, "n_docs")
      writeMeta(path, nDocs, jsonField(intent, "ngram").toInt,
        jsonField(intent, "num_hashes").toInt,
        jsonField(intent, "bands").toInt)
      for (g <- jsonFieldOpt(intent, "drift_grams") if nDocs > 0)
        StagedCommit.writeBaseline(path, store,
          s""""build_n":$nDocs,"build_grams":$g""")
    },
    ledger = Some(StagedCommit.Ledger("band_drift.json", "grams",
      integral = true,
      drift = j => parseDrift(j).map(d => (d.ratio, d.rebuildAdvised())),
      warning = (path, ratio, appN) =>
        s"BandIndex: appended shingle-count drift at $path crossed the " +
          s"rebuild bound (ratio $ratio over $appN appended docs) — the " +
          "knee-rule geometry no longer matches the appended docs and probe " +
          "recall on them is degrading; rebuild with BandIndex.write to " +
          "re-derive the geometry and reset the baseline")),
    batchGuard = "intent.json")

  /** Build the index from a corpus snapshot: one signature shuffle for
    * the band rows, one shingle pass for the gram table, both written
    * as parquet. A rebuild at a path SUPERSEDES any staged append there
    * (even one past its commit marker) — same rationale as
    * [[TextIndex.write]]: healing a stale staging into a fresh rebuild
    * would corrupt it with no error.
    *
    * Geometry defaults (numHashes = bands = 0) derive from `threshold` —
    * the Jaccard level the index's PROBES will target — via the knee rule
    * [[graft.pipeline.Dedup.bandGeometryFor]]; the family parameters are
    * fixed at write time (probes reuse them from `band_index.json`), so
    * choose the threshold here, not at probe time. */
  def write(corpus: DataFrame, path: String, ngram: Int = 3,
            numHashes: Int = 0, bands: Int = 0,
            text: String = "text", threshold: Double = 0.8): Handle =
    write(corpus, path, ngram, numHashes, bands, text, threshold, 0)

  private[store] def write(corpus: DataFrame, path: String, ngram: Int,
            numHashes: Int, bands: Int, text: String, threshold: Double,
            crashAfterStep: Int): Handle =
      Lease.withLease(path, "BandIndex.write") {
    val (nHashes, nBands) = Dedup.resolveBandGeometry(numHashes, bands,
      threshold, "BandIndex.write", ngram)
    StagedCommit.rebuild(path, store, "BandIndex.write", crashAfterStep) { tmp =>
      withWriterCoalesce(corpus.sparkSession) {
        Dedup.bandedRows(corpus, ngram, nHashes, nBands, text)
          .select(col("doc_id"), col("bkey"), col("band"))
          .write.mode("overwrite").partitionBy("band")
          .parquet(tmp("bands"))
      }
      // drift baseline: observe the corpus's distinct-shingle volume on the
      // SAME pass that writes the gram table (zero extra jobs)
      val gobs = new org.apache.spark.sql.Observation()
      withWriterCoalesce(corpus.sparkSession) {
        Dedup.shingleHashRows(corpus, ngram, text, distinct = true)
          .observe(gobs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(tmp("grams"))
      }
      val nDocs = corpus.count()
      val baseGrams = readObs1(gobs)
      (s"""{"n_docs":$nDocs,"ngram":$ngram,"num_hashes":$nHashes,""" +
        s""""bands":$nBands${baseGrams.map(g => s""","drift_grams":$g""").getOrElse("")}}""",
        Handle(path, nDocs, ngram, nHashes, nBands))
    }
  }

  def open(path: String): Handle = {
    StagedCommit.heal(path, store)
    val s = readSmall(fsOf(path), new HPath(path, "band_index.json"))
    Handle(path, jsonField(s, "n_docs"), jsonField(s, "ngram").toInt,
      jsonField(s, "num_hashes").toInt, jsonField(s, "bands").toInt)
  }

  /** Retire documents from the index: their ids land in a `tombstones/`
    * parquet table that every probe ANTI-JOINS before sizing or matching
    * buckets — takedowns, license changes and quality purges stop
    * suppressing new near-copies immediately, without the O(corpus)
    * rebuild that was previously the only remedy. Physical removal is
    * deferred to [[compact]], which applies the tombstones and clears
    * them; until then retired rows cost only their storage.
    *
    * Crash-safe by staging + rename ([[StagedCommit.retire]]): an
    * interrupted retire is aborted at the next [[open]] and the caller
    * re-runs it — tombstones are a SET. Retiring an id not in the index is
    * allowed (and meaningless); re-appending a retired doc_id FAILS FAST
    * at append (the tombstone would silently suppress the reincarnation
    * until the next compact); the sanctioned takedown-then-repost path is
    * [[compact]] (applies + clears tombstones), then append. */
  def retire(ids: DataFrame, h: Handle): Handle = {
    StagedCommit.retire(ids, h.path, "doc_id", "BandIndex.retire")
    h
  }

  /** The retired-doc_id table, if any retirements are outstanding —
    * probes anti-join it; [[compact]] applies and clears it. */
  private[graft] def tombstones(spark: SparkSession,
                                path: String): Option[DataFrame] =
    StagedCommit.tombstones(spark, path)

  /** Index an ACCEPTED drop: its band rows and gram rows are staged,
    * then renamed into the live tables — time ∝ drop, the corpus is
    * never re-signed. Doc_ids must be new (append, not upsert — same
    * contract as [[TextIndex.append]]); probe results after append are
    * spec-pinned bit-equal to a fresh [[write]] of the union corpus,
    * because every table is additive and the hash family is fixed. */
  def append(newDocs: DataFrame, h: Handle, text: String = "text"): Handle =
    append(newDocs, h, text, crashAfterStep = 99)

  /** [[append]] with an injected crash point — spec-only seam for the
    * heal matrix (2 = before the commit marker, 3 = after it). The staged
    * offline append of [[StagedCommit]]: stage → intent → `_staged`
    * commit marker → publish-by-rename → meta → clean; a crash before the
    * marker aborts the append (index untouched, re-run it), a crash after
    * rolls forward on the next [[open]]. */
  private[store] def append(newDocs: DataFrame, h: Handle, text: String,
                            crashAfterStep: Int): Handle =
      Lease.withLease(h.path, "BandIndex.append") {
    def crash(step: Int): Unit = if (step == crashAfterStep)
      throw new IllegalStateException(s"injected crash after step $step")
    val pending = StagedCommit.beginPending(h.path, store)
    StagedCommit.requireNoTombstoned(newDocs, h.path, "doc_id",
      "BandIndex.append")
    // 1. stage the drop's band rows + gram rows
    withWriterCoalesce(newDocs.sparkSession) {
      Dedup.bandedRows(newDocs, h.ngram, h.numHashes, h.bands, text)
        .select(col("doc_id"), col("bkey"), col("band"))
        .write.mode("overwrite").partitionBy("band")
        .parquet(s"$pending/bands")
    }
    // drift: observe the drop's distinct-shingle volume on the staging
    // pass itself (zero extra jobs) — recorded after publish
    val gobs = new org.apache.spark.sql.Observation()
    withWriterCoalesce(newDocs.sparkSession) {
      Dedup.shingleHashRows(newDocs, h.ngram, text, distinct = true)
        .observe(gobs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$pending/grams")
    }
    crash(1)
    // 2. intent: the TARGET count (idempotent for the roll-forward)
    val target = h.nDocs + newDocs.count()
    writeSmall(fsOf(h.path), new HPath(pending, "intent.json"),
      s"""{"n_docs":$target}""")
    crash(2)
    // 3. commit point
    StagedCommit.commitPending(h.path, store)
    crash(3)
    // 4-6. publish (renames, meta, clean)
    StagedCommit.publishPending(h.path, store)
    // advisory update AFTER publish: a crash in this window loses the
    // drop's drift record (statistic goes stale, never wrong/doubled)
    readObs1(gobs).foreach(g =>
      StagedCommit.recordDrop(h.path, store, target - h.nDocs, g.toDouble))
    h.copy(nDocs = target)
  }

  /** Idempotent, batch-id-keyed streaming append — the continuous form
    * of [[append]] for `foreachBatch` sinks, by the stage-once stream batch
    * of [[StagedCommit.appendBatch]]: a committed bid no-ops; otherwise
    * `novel` (by name) is evaluated ONCE and its band/gram rows staged with
    * an ABSOLUTE-target `intent.json`, then published under bid-keyed
    * names, the meta rewritten from the intent, and the marker written
    * LAST. A replay after staging publishes the staged rows without
    * re-evaluating `novel`, so a probe that feeds `novel` never sees this
    * bid's own partially published rows.
    *
    * `autoCompactAt > 0` bounds small-file fragmentation: when the live
    * `bands/` part-file count exceeds it after a publish, [[compact]]
    * runs in-line. 0 disables — offline callers schedule [[compact]]
    * themselves.
    *
    * Readers see an append-only index: a batch's rows become visible
    * file-by-file during publish and atomically "count" only once the
    * meta/marker land — the same eventual-append exposure every streaming
    * sink in this store family documents. */
  def appendBatch(path: String, bid: Long, text: String = "text",
                  autoCompactAt: Int = 0)
                 (novel: => DataFrame): Unit =
    StagedCommit.appendBatch(path, bid, store, autoCompactAt)(open(path)) {
        (h, staging) =>
      // evaluate `novel` exactly ONCE (round-14 VERDICT: three separate
      // actions — two writes + a count — re-ran the thunk's plan, and in
      // StreamDedup that plan is the corpus probe + verify anti-join).
      // An eager localCheckpoint materializes it a single time; both
      // staging writes read the checkpointed blocks and the row count
      // rides along as an observed metric on the checkpoint job itself.
      val obs = new org.apache.spark.sql.Observation()
      val docs = novel.observe(obs, count(lit(1)).as("n")).localCheckpoint()
      StagedCommit.requireNoTombstoned(docs, path, "doc_id",
        "BandIndex.appendBatch")
      withWriterCoalesce(docs.sparkSession) {
        Dedup.bandedRows(docs, h.ngram, h.numHashes, h.bands, text)
          .select(col("doc_id"), col("bkey"), col("band"))
          .write.mode("overwrite").partitionBy("band")
          .parquet(s"$staging/bands")
      }
      // drift: the drop's distinct-shingle volume rides the gram staging
      // write (zero extra jobs; persisted WITH the staging so a replay —
      // which never re-runs `novel` — still merges it post-marker)
      val gobs = new org.apache.spark.sql.Observation()
      withWriterCoalesce(docs.sparkSession) {
        Dedup.shingleHashRows(docs, h.ngram, text, distinct = true)
          .observe(gobs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$staging/grams")
      }
      val n = try {
        val row = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(30, "s"))
        if (row.length == 1 && !row.isNullAt(0)) row.getLong(0)
        else docs.count() // metrics node pruned (empty batch) — cheap scan
      } catch { // never observed — count the checkpointed blocks instead
        case _: java.util.concurrent.TimeoutException => docs.count()
      }
      (s"""{"n_docs":${h.nDocs + n}}""", readObs1(gobs).map(g => (n, g.toDouble)))
    } { _ => compact(SparkSession.active, open(path)) }

  /** Offline maintenance: rewrite both tables into `filesPerPartition`
    * sorted files per band / per gram shard — every append renames one
    * file set per drop into the live dirs, and after many drops the
    * probe pays file-open latency instead of scan throughput. Outstanding
    * [[retire]] tombstones are APPLIED (retired rows physically dropped,
    * tombstone table cleared, meta doc count refreshed); live content is
    * otherwise identical before and after (spec-pinned). Crash-safe via
    * the swap-with-backup discipline [[open]] restores — a crash between
    * the swaps and the tombstone clear leaves the anti-join to re-apply
    * over already-dropped rows, a no-op. */
  def compact(spark: SparkSession, h: Handle,
              filesPerPartition: Int = 1): Handle =
      Lease.withLease(h.path, "BandIndex.compact") {
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1: $filesPerPartition")
    StagedCommit.heal(h.path, store) // an unresolved append publishes first
    val tomb = tombstones(spark, h.path)
    def dropRetired(df: DataFrame): DataFrame = tomb match {
      case Some(t) => df.join(broadcast(t.select("doc_id")),
        Seq("doc_id"), "left_anti")
      case None => df
    }
    // Tombstones covering EVERY live doc would compact into a zero-row
    // partitionBy parquet dir (only _SUCCESS) that spark.read can no
    // longer infer a schema from — the index would be unreadable until a
    // full rebuild (round-14 ADVICE). Refuse instead: probes keep working
    // (tombstones apply logically), and retiring the whole corpus means
    // delete-or-rebuild, never compact. Existence probe, not a count.
    if (tomb.isDefined)
      require(dropRetired(spark.read.parquet(s"${h.path}/grams"))
          .select("doc_id").limit(1).count() > 0,
        s"BandIndex.compact: tombstones at ${h.path} retire EVERY live " +
          "doc — compacting would write an empty unreadable index. Delete " +
          "the index or rebuild it instead of compacting a full retirement")
    StagedCommit.swap(h.path, "bands", "BandIndex.compact") { tmp =>
      withWriterCoalesce(spark) {
        dropRetired(spark.read.parquet(s"${h.path}/bands"))
          .repartition(col("band"),
            pmod(xxhash64(col("bkey")), lit(filesPerPartition)))
          .sortWithinPartitions("bkey", "doc_id")
          .write.mode("overwrite").partitionBy("band").parquet(tmp)
      }
    }
    StagedCommit.swap(h.path, "grams", "BandIndex.compact") { tmp =>
      withWriterCoalesce(spark) {
        dropRetired(spark.read.parquet(s"${h.path}/grams"))
          .repartition(filesPerPartition, col("doc_id"))
          .sortWithinPartitions("doc_id", "gram")
          .write.mode("overwrite").parquet(tmp)
      }
    }
    if (tomb.isEmpty) h // layout maintenance only — content/meta unchanged
    else {
      // retirement applied: refresh the doc count from the surviving gram
      // table (exact — grams hold every doc once) and clear the tombstones
      val nLive = spark.read.parquet(s"${h.path}/grams")
        .select("doc_id").distinct().count()
      writeMeta(h.path, nLive, h.ngram, h.numHashes, h.bands)
      StagedCommit.clearTombstones(h.path)
      h.copy(nDocs = nLive)
    }
  }

  // ================ shingle-distribution drift monitoring ================
  //
  // The [[graft.pipeline.Dedup.bandGeometryFor]] knee rule fixes (bands,
  // rows-per-band) at WRITE time from the probe threshold, and the
  // resulting S-curve's effective recall depends on the document/shingle
  // distribution the index was built over: a corpus whose appended docs
  // become much SHORTER (fewer distinct shingles) gets noisier MinHash
  // signatures — near-dup pairs at the threshold start missing buckets —
  // while much LONGER docs shift where real-world Jaccard mass sits
  // relative to the fixed threshold. Both directions are SILENT: probes
  // keep answering, recall decays only for the drifted docs. The per-drop
  // mean distinct-shingle count is the drop-side observable (it needs no
  // join against the corpus — the IVF monitor's zero-extra-jobs
  // discipline: the aggregate rides the gram staging write). A bucket-
  // collision-rate observable would need a probe join per drop; the
  // streaming sink already RUNS that probe, and its accept/drop ledger is
  // the collision signal there — so the store-level monitor keeps to the
  // join-free statistic. The remedy on advisory is a rebuild: [[write]]
  // re-derives the geometry over the union corpus and resets the
  // baseline. Failure mode is bounded: drift only degrades recall on
  // NEW (drifted) docs; the stored corpus's buckets are unaffected.

  /** Drift state of a persisted band index: the build-time mean
    * distinct-shingle count vs everything appended since (cumulative)
    * and the most recent drop. [[ratio]] ~ 1.0 for in-distribution
    * appends; it moves AWAY from 1 in either direction as appended docs
    * stop resembling the corpus the knee-rule geometry was derived
    * from. */
  final case class BandDrift(buildN: Long, buildMeanShingles: Double,
                             appendedN: Long, appendedMeanShingles: Double,
                             lastDropN: Long, lastDropMean: Double) {
    /** Mean appended shingles-per-doc over the build-time mean. */
    def ratio: Double =
      if (appendedN == 0 || buildMeanShingles <= 0) 1.0
      else appendedMeanShingles / buildMeanShingles
    /** Rebuild advisory: appended shingle counts deviate from the
      * baseline by `bound`× IN EITHER DIRECTION over a non-noise sample
      * (shorter docs → noisier signatures; longer docs → shifted Jaccard
      * mass — both erode the fixed geometry's recall law). */
    def rebuildAdvised(bound: Double = 1.5): Boolean =
      appendedN >= 16 && (ratio > bound || ratio < 1.0 / bound)
  }

  /** Drift state at `path`: None for an index built before the monitor
    * existed (no baseline — rebuild to start monitoring) — or whose
    * ledger is unreadable/corrupt: the monitor is ADVISORY, so a damaged
    * ledger degrades to "no baseline" (rebuild restarts monitoring),
    * never to a parse error that breaks probes or appends. */
  def driftStats(path: String): Option[BandDrift] =
    StagedCommit.driftOf(path, "band_drift.json")(parseDrift)

  private def parseDrift(j: String): Option[BandDrift] =
    for {
      buildN <- jsonFieldOpt(j, "build_n")
      buildG <- jsonFieldOpt(j, "build_grams")
      appN <- jsonFieldOpt(j, "app_n")
      appG <- jsonFieldOpt(j, "app_grams")
      lastN <- jsonFieldOpt(j, "last_n")
      lastG <- jsonFieldOpt(j, "last_grams")
    } yield BandDrift(buildN,
      if (buildN > 0) buildG.toDouble / buildN else 0.0,
      appN, if (appN > 0) appG.toDouble / appN else 0.0,
      lastN, if (lastN > 0) lastG.toDouble / lastN else 0.0)

  /** The count of a single-`count` observation riding a staging write
    * ([[StagedCommit.readObsRow]] poll). */
  private def readObs1(obs: org.apache.spark.sql.Observation): Option[Long] =
    readObsRow(obs).filter(r => r.length >= 1 && !r.isNullAt(0))
      .map(_.getLong(0))
}
