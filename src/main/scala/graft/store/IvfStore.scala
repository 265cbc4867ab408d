package graft.store

import graft.pipeline.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance discipline for the persisted IVF ANN index
  * ([[Ann.writeIvfIndex]]) — the embedding-space sibling of [[BandIndex]],
  * for the pipeline that lands embeddings continuously and must not
  * re-quantize the corpus per drop:
  *
  *  - [[append]]: a new drop is assigned under the FROZEN stored
  *    quantizer (centroids never move — the standard IVF delta contract;
  *    recall drifts only as far as the data distribution does, and a
  *    rebuild refreshes the geometry) and staged into the `list_id=`
  *    partitions by rename — time ∝ drop, the corpus is never re-read;
  *  - [[retire]]: takedowns land in a `tombstones/` table that probes
  *    anti-join BEFORE ranking, so retired vectors stop matching
  *    immediately and the top-k backfills from live vectors exactly as
  *    a fresh index of the survivors would;
  *  - [[compact]]: applies tombstones physically and merges the small
  *    files per-drop appends accumulate, crash-safe via the
  *    swap-with-backup discipline;
  *  - [[open]]: heals any interrupted append (abort before the commit
  *    marker, roll forward after), restores interrupted swaps, aborts
  *    interrupted retires — then reads the quantizer.
  *
  * The staged-append/commit-marker file protocols of [[StagedCommit]], as
  * [[TextIndex]] and [[BandIndex]]; vec_ids must be new per the append contract.
  * Re-appending a RETIRED id fails fast (the tombstone would silently
  * suppress it — run [[compact]] first, which applies and clears
  * tombstones). All mutations run under the single-writer [[Lease]]. */
object IvfStore {
  import StagedCommit.{jsonFieldOpt, jsonD, readObsRow}

  /** The staged-commit protocols' view of an IVF index: an append stages
    * and publishes the vector lists; a rebuild swaps the quantizer and its
    * lists in together, so probes never see new centroids over old
    * assignments. No meta: the quantizer is the index. */
  private[graft] val store: StagedCommit.Store = StagedCommit.Store("IvfStore",
    tables = Seq("vectors"), swapped = Seq("vectors"),
    rebuilt = Seq("centroids", "vectors"),
    superseded = StagedCommit.StreamAndRetireState,
    publish = (_, _) => (),
    // the fresh residual baseline (observed aggregates carried in the
    // marker) resets the drift ledger with the fresh quantizer
    land = (root, intent) =>
      for (n <- jsonFieldOpt(intent, "n") if n > 0) {
        val mean = jsonD(intent, "s") / n
        val variance = math.max(0.0, jsonD(intent, "s2") / n - mean * mean)
        StagedCommit.writeBaseline(root, store,
          s""""build_n":$n,"build_mean":$mean,""" +
            s""""build_std":${math.sqrt(variance)}""")
      },
    ledger = Some(StagedCommit.Ledger("drift.json", "sum", integral = false,
      drift = j => parseDrift(j).map(d => (d.ratio, d.rebuildAdvised())),
      warning = (root, ratio, appN) =>
        s"IvfStore: appended-residual drift at $root crossed the rebuild " +
          s"bound (ratio $ratio over $appN appended vectors) — probe recall " +
          "is degrading under the frozen quantizer; rebuild with " +
          "Ann.writeIvfIndex to refresh the geometry and reset the baseline")))

  /** Stage a drop's assigned+normed rows, then publish by rename (the
    * staged offline append of [[StagedCommit]]). The probe result after
    * append is spec-pinned equal to an index WRITTEN with the same
    * centroids over the union corpus. */
  def append(newVecs: DataFrame, index: Ann.IvfIndex): Ann.IvfIndex =
      Lease.withLease(index.root, "IvfStore.append") {
    val pending = StagedCommit.beginPending(index.root, store)
    StagedCommit.requireNoTombstoned(newVecs, index.root, "vec_id",
      "IvfStore.append")
    // drift: observe the drop's assignment residuals on the staging pass
    // itself (zero extra jobs) — recorded after publish
    val obs = new org.apache.spark.sql.Observation()
    stageVectors(newVecs, index.centroids, obs, s"$pending/vectors")
    StagedCommit.commitPending(index.root, store)
    StagedCommit.publishPending(index.root, store)
    // advisory update AFTER publish: a crash in this window loses the
    // drop's drift record (statistic goes stale, never wrong/doubled)
    readObs2(obs).foreach { case (n, s) =>
      StagedCommit.recordDrop(index.root, store, n, s) }
    index
  }

  /** Writes `vecs` assigned under the frozen quantizer to `dir`, observing
    * the drop's (count, Σ residual) on `obs`. */
  private def stageVectors(vecs: DataFrame, cents: Array[(Long, Array[Long])],
                           obs: org.apache.spark.sql.Observation,
                           dir: String): Unit =
    withWriterCoalesce(vecs.sparkSession) {
      Ann.ivfStoredRowsWithDist(vecs, cents)
        .observe(obs, count(lit(1)).as("n"),
          sum(col("adist").cast("double")).as("s"))
        .drop("adist")
        .repartition(col("list_id"))
        .write.partitionBy("list_id").mode("overwrite")
        .parquet(dir)
    }

  /** Idempotent, batch-id-keyed streaming append — the continuous form
    * of [[append]] for `foreachBatch` sinks, by the stage-once stream batch
    * of [[StagedCommit.appendBatch]] (the [[BandIndex.appendBatch]] replay
    * discipline): a committed bid no-ops; a batch whose staging finished
    * publishes without re-evaluating `novel`; otherwise `novel` is staged
    * under the FROZEN quantizer, then published with bid-keyed names, the
    * marker LAST. `autoCompactAt > 0` bounds small-file fragmentation
    * (post-marker, replay-safe). */
  def appendBatch(root: String, bid: Long, autoCompactAt: Int = 0)
                 (novel: => DataFrame): Unit =
    StagedCommit.appendBatch(root, bid, store, autoCompactAt)(
        open(SparkSession.active, root)) { (h, staging) =>
      // `novel` stays single-evaluation: its one action is the staged
      // write below, except when tombstones are outstanding — then the
      // reincarnation guard needs a second action, so checkpoint first
      val docs0 = novel
      val docs =
        if (tombstones(SparkSession.active, root).isDefined)
          docs0.localCheckpoint()
        else docs0
      StagedCommit.requireNoTombstoned(docs, root, "vec_id",
        "IvfStore.appendBatch")
      val obs = new org.apache.spark.sql.Observation()
      stageVectors(docs, h.centroids, obs, s"$staging/vectors")
      // drift aggregates persist WITH the staging (the accepted set is
      // fixed at first evaluation; a replay publishes without re-running
      // `novel`, so the observation only exists on this first attempt)
      ("", readObs2(obs))
    } (h => compact(SparkSession.active, h))

  /** Retire vectors: ids land in `tombstones/` through the staged-rename
    * discipline ([[StagedCommit.retire]]: interrupted retires abort at
    * [[open]]; tombstones are a set, so re-running is harmless). Probes
    * exclude them immediately; [[compact]] makes the drop physical.
    * Retiring a vector whose id seeded a CENTROID does not move the
    * quantizer — frozen geometry is the delta contract, and the seed's
    * VALUE is part of the index, not a live vector. */
  def retire(ids: DataFrame, index: Ann.IvfIndex): Ann.IvfIndex = {
    StagedCommit.retire(ids, index.root, "vec_id", "IvfStore.retire")
    index
  }

  /** The retired-id table, if any retirements are outstanding. */
  private[graft] def tombstones(spark: SparkSession,
                                root: String): Option[DataFrame] =
    StagedCommit.tombstones(spark, root)

  /** Tombstone-aware probe: [[Ann.ivfProbeTopK]] with outstanding
    * retirements excluded before ranking. */
  def probeTopK(queries: DataFrame, index: Ann.IvfIndex, k: Int,
                nprobe: Int = 4): DataFrame =
    Ann.ivfProbeTopK(queries, index, k, nprobe,
      exclude = tombstones(queries.sparkSession, index.root))

  /** Apply tombstones physically and merge per-drop file sets into
    * `filesPerPartition` sorted files per list. Probe answers are
    * identical before and after (spec-pinned); crash-safe via the
    * swap-with-backup discipline [[open]] restores. */
  def compact(spark: SparkSession, index: Ann.IvfIndex,
              filesPerPartition: Int = 1): Ann.IvfIndex =
      Lease.withLease(index.root, "IvfStore.compact") {
    require(filesPerPartition >= 1)
    StagedCommit.heal(index.root, store)
    val tomb = tombstones(spark, index.root)
    val live = tomb match {
      case Some(t) => spark.read.parquet(s"${index.root}/vectors")
        .join(broadcast(t.select(col("vec_id").as("vid"))),
          Seq("vid"), "left_anti")
      case None => spark.read.parquet(s"${index.root}/vectors")
    }
    // A full retirement would compact into a zero-row partitionBy dir
    // (only _SUCCESS) that open/probe can't infer a schema from — the
    // index would be unreadable until rebuild (round-14 ADVICE). Refuse:
    // probes keep working (tombstones apply logically at probe time).
    if (tomb.isDefined)
      require(live.select("vid").limit(1).count() > 0,
        s"IvfStore.compact: tombstones at ${index.root} retire EVERY " +
          "live vector — compacting would write an empty unreadable " +
          "index. Delete or rebuild instead of compacting a full retirement")
    StagedCommit.swap(index.root, "vectors", "IvfStore.compact") { tmp =>
      withWriterCoalesce(live.sparkSession) {
        live
          .repartition(col("list_id"),
            pmod(xxhash64(col("vid")), lit(filesPerPartition)))
          .sortWithinPartitions("vid")
          .write.mode("overwrite").partitionBy("list_id").parquet(tmp)
      }
    }
    StagedCommit.clearTombstones(index.root)
    index
  }

  /** Heal-then-open: resolve any interrupted rebuild/append/compact/
    * retire, then read the stored quantizer. */
  def open(spark: SparkSession, root: String): Ann.IvfIndex = {
    StagedCommit.heal(root, store)
    Ann.openIvfIndex(spark, root)
  }

  /** The (n, Σd, Σd²) residual aggregates of a rebuild's staging-write
    * observation, for the drift-baseline marker. */
  private[graft] def readObs3(
      obs: org.apache.spark.sql.Observation): Option[(Long, Double, Double)] =
    readObsRow(obs)
      .filter(r => r.length >= 3 && !r.isNullAt(0) && r.getLong(0) > 0)
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) 0.0 else r.getDouble(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2)))

  // ===================== recall-drift monitoring =========================
  //
  // The frozen-quantizer delta contract is standard IVF practice, but its
  // failure mode is SILENT: a pipeline appending distribution-drifted
  // embeddings for months gets steadily worsening probe recall with no
  // signal — drifted vectors land far from every stored centroid, cram
  // into a few lists, and nprobe stops covering the true neighbors. The
  // per-vector squared assignment distance (`adist`) is the observable:
  // in-distribution drops reproduce the build-time residual distribution;
  // drifted drops inflate it. Every write pass already computes the
  // assignment, so the monitor costs zero extra jobs (`Dataset.observe`
  // on the staging write — the cap-drop pattern).

  /** Drift state of a persisted index: the build-time residual baseline
    * vs everything appended since (cumulative) and the most recent drop.
    * [[ratio]] ~ 1.0 for in-distribution appends; it grows as appends
    * drift off the frozen quantizer's geometry. */
  final case class IvfDrift(buildN: Long, buildMean: Double,
                            buildStd: Double, appendedN: Long,
                            appendedMean: Double, lastDropN: Long,
                            lastDropMean: Double) {
    /** Mean appended residual over mean build residual. */
    def ratio: Double =
      if (appendedN == 0 || buildMean <= 0) 1.0 else appendedMean / buildMean
    /** Rebuild advisory: appended residuals exceed the baseline by
      * `bound`× over a non-noise sample. The remedy is a rebuild
      * ([[Ann.writeIvfIndex]] re-derives the quantizer over the union
      * corpus and writes a FRESH baseline); the bound is a policy knob —
      * 1.5 flags a clearly stale geometry while tolerating ordinary
      * corpus evolution. */
    def rebuildAdvised(bound: Double = 1.5): Boolean =
      appendedN >= 16 && ratio > bound
  }

  /** Drift state at `root`: None for an index built before the monitor
    * existed (no baseline — rebuild to start monitoring) — or whose
    * ledger is unreadable/corrupt: the monitor is ADVISORY, so a damaged
    * ledger degrades to "no baseline" (rebuild restarts monitoring),
    * never to a parse error that breaks probes or appends. */
  def driftStats(spark: SparkSession, root: String): Option[IvfDrift] =
    StagedCommit.driftOf(root, "drift.json")(parseDrift)

  private def parseDrift(j: String): Option[IvfDrift] =
    for {
      buildN <- jsonFieldOpt(j, "build_n")
      appN <- jsonFieldOpt(j, "app_n")
      lastN <- jsonFieldOpt(j, "last_n")
    } yield IvfDrift(buildN, jsonD(j, "build_mean"), jsonD(j, "build_std"),
      appN, if (appN > 0) jsonD(j, "app_sum") / appN else 0.0,
      lastN, if (lastN > 0) jsonD(j, "last_sum") / lastN else 0.0)

  /** The (n, sum) pair of a drop observation riding a staging write
    * ([[StagedCommit.readObsRow]] poll). */
  private def readObs2(obs: org.apache.spark.sql.Observation): Option[(Long, Double)] =
    readObsRow(obs).filter(r => r.length >= 2 && !r.isNullAt(0))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
}
