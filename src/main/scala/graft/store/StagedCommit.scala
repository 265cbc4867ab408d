package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The crash-safe commit protocols of the persisted stores, each written
  * once. [[TextIndex]], [[BandIndex]] and [[IvfStore]] describe themselves
  * with a [[Store]]; the Warehouse writers use the swap alone.
  *
  *  1. Filesystem helpers: [[fsOf]] (with its object-store warning), small
  *     files, checked renames, observation polls, JSON field readers.
  *  2. Swap with backup ([[swap]] / [[restore]]): compaction's directory
  *     replacement (TextIndex, BandIndex, IvfStore, `Warehouse.compact`,
  *     `Tools.retire`).
  *  3. Staged offline append: `append.pending` + its `_staged` marker
  *     ([[beginPending]], [[commitPending]], [[healPending]],
  *     [[publishPending]]) — the three indexes.
  *  4. Stage-once stream batch ([[appendBatch]]): the batch-id-keyed commit
  *     of the Structured Streaming paper's idempotent sinks — BandIndex and
  *     IvfStore.
  *  5. Rebuild roll-forward ([[rebuild]], [[completeRebuild]]): the
  *     `rebuild.intent.json` marker — the three indexes.
  *  6. One drift ledger ([[recordDrop]], [[writeBaseline]]) — BandIndex and
  *     IvfStore; with it the tombstones they share ([[retire]],
  *     [[tombstones]], [[requireNoTombstoned]]).
  *
  * Every directory, marker and ledger name here is the on-disk format: an
  * index written before this module opens, heals and appends unchanged.
  * `StreamIngest.publishBatch` keeps its own replace-on-replay discipline: a
  * Warehouse micro-batch is deterministic on replay and restages, where an
  * index's `novel` thunk is not and must be staged once. */
object StagedCommit {

  private val Pending = "append.pending"
  private val Staged = "_staged"
  private val CompactTmp = "_compact_tmp"
  private val CompactBak = "_compact_bak"
  private val RebuildTmp = "_rebuild_tmp"
  private val RebuildBak = "_rebuild_bak"
  private val RebuildIntent = "rebuild.intent.json"
  private val StreamCommits = "_stream_commits"
  private val StreamStaging = "_stream_staging"
  private val Tombstones = "tombstones"
  private val RetirePending = "retire.pending"
  private val DriftStats = "drift_stats.json"

  /** The streaming and retirement state a rebuild supersedes: stale
    * tombstones would suppress new rows, stale stream markers a fresh
    * stream's first batches. */
  private[store] val StreamAndRetireState =
    Seq(StreamCommits, StreamStaging, Tombstones, RetirePending)

  /** What the protocols need to know of one index.
    *
    * @param name       prefixed to every lease and fence op
    * @param tables     what an append stages and publishes by rename; the
    *                   first is the table auto-compaction counts
    * @param swapped    the dirs a compact swaps, restored on every heal
    * @param rebuilt    the dirs a rebuild stages and swaps in
    * @param superseded state a committed rebuild deletes besides a staged
    *                   append and the drift ledger
    * @param publish    after the staged tables moved in: the index's meta
    *                   rewrite from the staged dir's `intent.json`
    * @param land       after a rebuild's dirs swapped in: the index's meta
    *                   and drift baseline from the rebuild intent
    * @param replaced   tables an append replaces whole, staged beside the
    *                   live one as `<table>.next` (TextIndex's dict)
    * @param ledger     the drift ledger, if the index keeps one
    * @param batchGuard the file that says a stream batch finished staging */
  private[graft] final case class Store(
      name: String, tables: Seq[String], swapped: Seq[String],
      rebuilt: Seq[String], superseded: Seq[String],
      publish: (String, HPath) => Unit, land: (String, String) => Unit,
      replaced: Seq[String] = Nil, ledger: Option[Ledger] = None,
      batchGuard: String = Staged)

  /** A drift ledger: `file` holds the build baseline, then `app_n`,
    * `app_<sum>`, `last_n` and `last_<sum>` — the appended and last-drop
    * counts and sums (printed as longs when `integral`). `drift` reads a
    * ledger's text as its ratio and whether it advises a rebuild;
    * `warning(root, ratio, appended)` is logged when a drop first crosses
    * into the advisory. */
  private[store] final case class Ledger(
      file: String, sum: String, integral: Boolean,
      drift: String => Option[(Double, Boolean)],
      warning: (String, Double, Long) => String) {
    def num(d: Double): String = if (integral) d.toLong.toString else d.toString
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ============================ 1. filesystem ============================

  /** Schemes already warned about — the store contract ([[Lease]]
    * scaladoc) requires HDFS-class atomic create/rename, which S3-class
    * object stores emulate non-atomically; warn once per scheme, not per
    * call. */
  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def fsOf(path: String): FileSystem = {
    val p = new HPath(path)
    val scheme = Option(p.toUri.getScheme).getOrElse("").toLowerCase
    if (Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss")(scheme) &&
        warnedSchemes.add(scheme))
      log.warn(
        s"graft store at a '$scheme' object-store path: the Lease and " +
          "staging protocols require HDFS-class atomic create/rename " +
          "(see graft.store.Lease scaladoc) — on this store the lease " +
          "degrades to advisory and crash atomicity is best-effort; use " +
          "a conditional-write backend for production mutation")
    p.getFileSystem(
      org.apache.spark.SparkContext.getOrCreate().hadoopConfiguration)
  }

  private[store] def readSmall(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.commons.io.IOUtils.copy(in, bos)
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  private[store] def writeSmall(fs: FileSystem, p: HPath, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Atomic replacement for [[writeSmall]] where a PARTIAL file must
    * never be observable (commit markers, ledgers, the store catalog): the
    * content lands complete in a tmp name first and the rename is the
    * publish. A crash leaves either the old file, no file, or the new file
    * — never a truncated one (the plain create-truncate shape can strand a
    * 0-byte file that poisons every later parse). The delete→rename pair
    * is not itself atomic (Hadoop rename refuses existing targets): a
    * crash between them loses the OLD file, so callers must tolerate
    * absence — every caller here does (markers are existence checks,
    * ledgers degrade to "no baseline", a missing catalog is derived). */
  private[store] def writeSmallAtomic(fs: FileSystem, p: HPath,
                                      s: String): Unit = {
    val tmp = new HPath(p.getParent,
      s"${p.getName}.tmp.${System.nanoTime()}")
    writeSmall(fs, tmp, s)
    fs.delete(p, false)
    renameOrFail(fs, tmp, p)
  }

  private[store] def renameOrFail(fs: FileSystem, src: HPath, dst: HPath): Unit =
    require(fs.rename(src, dst),
      s"store: rename $src -> $dst failed (Hadoop rename returns " +
        "false on missing destination parents or existing targets)")

  /** Bounded poll of a `Dataset.observe` metric row — the observed write
    * is the action, so metrics arrive within milliseconds of it; None
    * (callers skip their advisory update, never block a pipeline) if the
    * metrics node was pruned (e.g. an empty batch) or never fires within
    * `timeoutMs`. One implementation for every store-side ride-along
    * observation (drift, baselines). */
  private[store] def readObsRow(obs: org.apache.spark.sql.Observation,
                                timeoutMs: Long = 30000L): Option[org.apache.spark.sql.Row] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!obs.future.isCompleted && System.nanoTime() < deadline)
      Thread.sleep(10)
    if (!obs.future.isCompleted) None
    else Some(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(1, "s")))
  }

  private[store] def jsonField(s: String, k: String): Long =
    s.split(s""""$k":""")(1).takeWhile(c => c.isDigit || c == '-').toLong

  /** Absent field → None instead of an opaque index-out-of-bounds —
    * metas written before a field existed must stay openable. */
  private[store] def jsonFieldOpt(s: String, k: String): Option[Long] = {
    val parts = s.split(s""""$k":""")
    if (parts.length < 2) None
    else Some(parts(1).takeWhile(c => c.isDigit || c == '-').toLong)
  }

  /** Numeric JSON field as Double, 0.0 when absent (drift means and sums
    * are fractional). */
  private[store] def jsonD(s: String, k: String): Double = {
    val parts = s.split(s""""$k":""")
    if (parts.length < 2) 0.0
    else parts(1).takeWhile(c => c.isDigit || "+-.eE".contains(c)).toDouble
  }

  /** Moves a staged parquet table's `part-` files into the live table,
    * partition dirs included, under `rename`d names. A file an earlier
    * attempt already published stays, and its staged copy goes, so every
    * publish below is idempotent on replay. */
  private def moveIn(fs: FileSystem, src: HPath, dst: HPath,
                     rename: String => String): Unit =
    if (fs.exists(src)) {
      fs.mkdirs(dst) // rename silently returns false without the parent
      for (f <- fs.listStatus(src))
        if (f.isDirectory)
          moveIn(fs, f.getPath, new HPath(dst, f.getPath.getName), rename)
        else if (f.getPath.getName.startsWith("part-")) {
          val to = new HPath(dst, rename(f.getPath.getName))
          if (fs.exists(to)) fs.delete(f.getPath, false)
          else renameOrFail(fs, f.getPath, to)
        }
    }

  /** Publishes a staged dir: its tables moved in, each `<table>.next`
    * swapped in, then the index's meta rewrite. */
  private def publishStaged(fs: FileSystem, root: String, staged: HPath,
                            s: Store, rename: String => String): Unit = {
    for (t <- s.tables) moveIn(fs, new HPath(staged, t), new HPath(root, t), rename)
    for (t <- s.replaced) {
      val next = new HPath(root, t + ".next")
      if (fs.exists(next)) {
        fs.delete(new HPath(root, t), true)
        renameOrFail(fs, next, new HPath(root, t))
      }
    }
    s.publish(root, staged)
  }

  // ========================= 2. swap with backup =========================

  /** `write` fills `<dir>_compact_tmp`; then, fenced (a writer that lost
    * its lease must not swap into the successor's generation), the live
    * dir moves aside to `<dir>_compact_bak`, the tmp moves in, and the
    * backup goes. No crash point leaves the store without the dir's data:
    * between the two renames the backup holds the only copy, and
    * [[restore]] puts it back. Every rename is checked — a rename that
    * returned false would otherwise drop the dir silently. */
  private[graft] def swap(root: String, dir: String, op: String)
                         (write: String => Unit): Unit = {
    val tmp = s"$root/$dir$CompactTmp"
    write(tmp)
    Lease.fence(root, op)
    val fs = fsOf(root)
    val dst = new HPath(root, dir)
    val bak = new HPath(root, dir + CompactBak)
    fs.delete(bak, true)
    if (fs.exists(dst)) renameOrFail(fs, dst, bak)
    renameOrFail(fs, new HPath(tmp), dst)
    fs.delete(bak, true)
  }

  /** Undoes a [[swap]] that crashed between its renames: `dir` is missing
    * and the backup holds the only copy. Every reader and writer of a
    * swapped dir runs it first — a writer that recreated the missing dir
    * would strand the backup for the next swap to delete. Two concurrent
    * restores can both pass the exists checks; the rename loser is fine as
    * long as someone completed the restore. */
  private[graft] def restore(root: String, dir: String): Unit = {
    val fs = fsOf(root)
    val dst = new HPath(root, dir)
    val bak = new HPath(root, dir + CompactBak)
    if (!fs.exists(dst) && fs.exists(bak) && !fs.rename(bak, dst))
      require(fs.exists(dst), s"store: restore $bak -> $dst failed")
  }

  /** The heal every index runs on open and before a compact: a committed
    * rebuild rolls forward (it supersedes every other pending state),
    * interrupted swaps are restored (before the append heal: its publish
    * mkdirs into the swapped dirs), an interrupted append resolves, and an
    * interrupted retire aborts (tombstones are a set, and the caller
    * re-runs a failed retire). */
  private[store] def heal(root: String, s: Store): Unit = {
    completeRebuild(root, s)
    s.swapped.foreach(restore(root, _))
    healPending(root, s)
    fsOf(root).delete(new HPath(root, RetirePending), true)
  }

  // ======================= 3. staged offline append ======================

  /** The start of an offline append: any interrupted predecessor resolved,
    * then no staging left. Returns the staging dir the append writes its
    * tables and `intent.json` under. */
  private[store] def beginPending(root: String, s: Store): String = {
    healPending(root, s)
    require(!fsOf(root).exists(new HPath(root, Pending)),
      s"$Pending survived heal — concurrent append? $root")
    s"$root/$Pending"
  }

  /** The commit point of an offline append — fenced: a writer that lost
    * its lease to a stale-takeover while staging must not commit into the
    * successor's generation (open() then ABORTS the unmarked staging). */
  private[store] def commitPending(root: String, s: Store): Unit = {
    Lease.fence(root, s"${s.name}.append")
    writeSmall(fsOf(root), new HPath(s"$root/$Pending", Staged), "")
  }

  /** Resolves an interrupted offline append: rolled forward past its
    * `_staged` marker, aborted before it (staging and every `<t>.next`
    * deleted, the index untouched — re-run the append). With no staging, a
    * lone `<t>.next` is a swap interrupted between its delete and rename
    * (finished), or stale (deleted). */
  private[store] def healPending(root: String, s: Store): Unit = {
    val fs = fsOf(root)
    val pending = new HPath(root, Pending)
    if (fs.exists(pending)) {
      if (fs.exists(new HPath(pending, Staged))) publishPending(root, s)
      else {
        fs.delete(pending, true)
        s.replaced.foreach(t => fs.delete(new HPath(root, t + ".next"), true))
      }
    } else for (t <- s.replaced) {
      val next = new HPath(root, t + ".next")
      if (fs.exists(next)) {
        if (fs.exists(new HPath(root, t))) fs.delete(next, true)
        else fs.rename(next, new HPath(root, t))
      }
    }
  }

  /** Publishes a committed offline append — safe to re-run from any crash
    * point: Spark part names are unique per job and a moved file leaves
    * the staging listing, the swap skips when done, and the meta rewrite
    * lands the intent's absolute target. Fenced: a no-op from the
    * lease-free heal path (open); aborts a leased writer whose lease was
    * taken over while it staged. */
  private[store] def publishPending(root: String, s: Store): Unit = {
    Lease.fence(root, s"${s.name}.publishPending")
    val fs = fsOf(root)
    val pending = new HPath(root, Pending)
    publishStaged(fs, root, pending, s, identity)
    fs.delete(pending, true)
  }

  // ======================= 4. stage-once stream batch ====================

  /** Idempotent, batch-id-keyed streaming append for `foreachBatch` sinks
    * (Structured Streaming replays a micro-batch after a crash):
    *
    *  1. commit marker `_stream_commits/<bid>` present → no-op, no lease;
    *  2. under the lease, `open` heals any interrupted offline append;
    *  3. unless the batch's staging guard exists, `stage` writes its
    *     tables under `_stream_staging/bid=N` and returns the guard's
    *     content and the drop's drift (count, sum), which persists with
    *     the staging; the guard lands last. A replay whose guard exists
    *     publishes the STAGED rows without re-evaluating the batch — its
    *     accepted set was fixed at first evaluation;
    *  4. fenced, the staged files move in as `bid-N-<staged name>`: the
    *     staged names are stable across replays, so files already
    *     published keep their names and are never deleted; the meta
    *     rewrite follows;
    *  5. the marker lands LAST, then the drift merge (a replayed bid
    *     no-ops at the marker and can never double-count; a crash between
    *     marker and merge loses one drop's advisory record), then staging
    *     is dropped;
    *  6. `autoCompactAt > 0`: when the first table's part-file count
    *     exceeds it, `compact` runs — post-marker, so a replay never
    *     re-triggers it, and crash-safe by its swap.
    *
    * Underscore-prefixed staging/marker dirs are invisible to parquet
    * scans. */
  private[store] def appendBatch[H](root: String, bid: Long, s: Store,
                                    autoCompactAt: Int)(open: => H)(
      stage: (H, String) => (String, Option[(Long, Double)]))(
      compact: H => Unit): Unit = {
    val fs = fsOf(root)
    val marker = new HPath(s"$root/$StreamCommits/$bid")
    if (fs.exists(marker)) return
    Lease.withLease(root, s"${s.name}.appendBatch") {
      val h = open
      val staging = new HPath(s"$root/$StreamStaging/bid=$bid")
      val guard = new HPath(staging, s.batchGuard)
      if (!fs.exists(guard)) {
        val (intent, drop) = stage(h, staging.toString)
        for (l <- s.ledger; (n, sum) <- drop)
          writeSmall(fs, new HPath(staging, DriftStats),
            s"""{"n":$n,"${l.sum}":${l.num(sum)}}""")
        writeSmall(fs, guard, intent)
      }
      Lease.fence(root, s"${s.name}.appendBatch")
      publishStaged(fs, root, staging, s, name => s"bid-$bid-$name")
      fs.mkdirs(new HPath(s"$root/$StreamCommits"))
      writeSmall(fs, marker, "")
      val ds = new HPath(staging, DriftStats)
      for (l <- s.ledger if fs.exists(ds)) {
        val j = readSmall(fs, ds)
        recordDrop(root, s, jsonField(j, "n"), jsonD(j, l.sum))
      }
      fs.delete(staging, true)
      if (autoCompactAt > 0 &&
          countPartFiles(fs, new HPath(root, s.tables.head)) > autoCompactAt)
        compact(h)
    }
  }

  // streaming publishes bid-keyed names (bid-N-part-...): contains, not
  // startsWith, or auto-compaction would never count the very files the
  // per-batch appends accumulate
  private def countPartFiles(fs: FileSystem, dir: HPath): Int =
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).map { st =>
      if (st.isDirectory) countPartFiles(fs, st.getPath)
      else if (st.getPath.getName.contains("part-")) 1 else 0
    }.sum

  /** Drops all streaming bookkeeping (`_stream_commits` markers and any
    * `_stream_staging` batches) at an index root. A NEW stream — fresh
    * checkpoint, batch ids restarting at 0 — must call this before its
    * first batch: a stale staged batch from a dead stream at the same bid
    * would otherwise be published in place of the new batch (whose thunk
    * would never run), and a stale marker would suppress the new batch
    * outright. Safe because markers and staging only ever belong to ONE
    * live stream (the append contract forbids concurrent writers). */
  private[graft] def clearStreamState(root: String): Unit = {
    val fs = fsOf(root)
    fs.delete(new HPath(root, StreamCommits), true)
    fs.delete(new HPath(root, StreamStaging), true)
  }

  // ========================= 5. rebuild roll-forward =====================

  /** Rebuilds an index at `root` in place: a committed predecessor rolls
    * forward first (its marker supersedes everything), stale tmp dirs go,
    * then `stage` writes the new generation into the tmp dir it is handed
    * for each rebuilt dir and returns the intent and the caller's result.
    * The live index stays
    * fully intact and readable until the commit: a crash (or a lease lost
    * to a takeover) while staging must not leave a mixed-generation index.
    * The commit is fenced, then the marker's atomic write; everything after
    * rolls forward, here or in the next open. Crash seams: 1 = staged, not
    * committed; 2 = committed. */
  private[graft] def rebuild[T](root: String, s: Store, op: String,
                                crashAfterStep: Int)
                               (stage: (String => String) => (String, T)): T = {
    def crash(step: Int): Unit = if (step == crashAfterStep)
      throw new RuntimeException(s"spec crash seam: rebuild step $step")
    val fs = fsOf(root)
    completeRebuild(root, s)
    for (d <- s.rebuilt) fs.delete(new HPath(root, d + RebuildTmp), true)
    val (intent, result) = stage(d => s"$root/$d$RebuildTmp")
    crash(1)
    Lease.fence(root, op)
    writeSmallAtomic(fs, new HPath(root, RebuildIntent), intent)
    crash(2)
    completeRebuild(root, s)
    result
  }

  /** Rolls a COMMITTED rebuild forward — idempotent from every crash
    * point; no-op without the marker. The superseded generation's
    * maintenance state dies first: a staged append, even one past its
    * commit marker, belongs to the dead generation (healing it into the
    * new index would roll stale rows in and overwrite the fresh meta with
    * no error), and so do the drift ledger and the index's `superseded`
    * state. Then each rebuilt dir swaps in (old aside, tmp in, old
    * dropped; a tmp that is gone already swapped), the index lands its
    * meta and baseline, and the marker clears. Fenced: a no-op from the
    * lease-free heal path; aborts a leased writer whose lease was taken
    * over — the successor's own open rolls the marker forward to the same
    * end state. */
  private[graft] def completeRebuild(root: String, s: Store): Unit = {
    val fs = fsOf(root)
    val marker = new HPath(root, RebuildIntent)
    if (!fs.exists(marker)) return
    Lease.fence(root, s"${s.name}.completeRebuild")
    val intent = readSmall(fs, marker)
    for (d <- Pending +: (s.replaced.map(_ + ".next") ++ s.superseded ++
        s.ledger.map(_.file)))
      fs.delete(new HPath(root, d), true)
    for (d <- s.rebuilt) {
      val tmp = new HPath(root, d + RebuildTmp)
      val bak = new HPath(root, d + RebuildBak)
      val dst = new HPath(root, d)
      if (fs.exists(tmp)) {
        fs.delete(bak, true)
        if (fs.exists(dst)) renameOrFail(fs, dst, bak)
        renameOrFail(fs, tmp, dst)
      }
      fs.delete(bak, true)
    }
    s.land(root, intent)
    fs.delete(marker, false)
  }

  // ======================= 6. drift ledger, tombstones ===================

  /** Parses the ledger at `root` with `parse`: None without a ledger, or
    * when it is unreadable — the monitor is advisory, so a damaged ledger
    * degrades to "no baseline", never to an error that breaks probes or
    * appends. */
  private[store] def driftOf[D](root: String, file: String)
                               (parse: String => Option[D]): Option[D] = {
    val fs = fsOf(root)
    val p = new HPath(root, file)
    if (!fs.exists(p)) None
    else try parse(readSmall(fs, p)) catch { case _: Exception => None }
  }

  /** Writes a fresh ledger: the `build` baseline fields, nothing appended.
    * A rebuild thus resets the ledger. Atomic and best-effort: a failed
    * write means no baseline (and never a failed rebuild). */
  private[store] def writeBaseline(root: String, s: Store, build: String): Unit =
    for (l <- s.ledger) try writeSmallAtomic(fsOf(root), new HPath(root, l.file),
      s"""{$build,"app_n":0,"app_${l.sum}":${l.num(0)},"last_n":0,""" +
        s""""last_${l.sum}":${l.num(0)}}""")
    catch { case e: Exception =>
      log.warn(s"${s.name}: drift baseline write at $root failed — " +
        s"monitoring disabled until the next rebuild (${e.getMessage})")
    }

  /** Merges one drop (`n` rows, summing `sum`) into the ledger and warns
    * when the advisory FIRST crosses its bound (once per crossing, not per
    * append). No-op without a readable baseline. Best-effort and strictly
    * after the drop published: an advisory bookkeeping failure must never
    * surface as a failed append — the caller would retry an append that
    * committed and duplicate its rows. */
  private[store] def recordDrop(root: String, s: Store, n: Long,
                                sum: Double): Unit =
    for (l <- s.ledger if n > 0) try {
      val fs = fsOf(root)
      val p = new HPath(root, l.file)
      val j = if (fs.exists(p)) readSmall(fs, p) else ""
      val at = j.indexOf("\"app_n\":")
      // a missing or garbled field means a damaged ledger: skip it
      // (monitoring resumes at the next rebuild)
      for (priorN <- jsonFieldOpt(j, "app_n")
           if at > 0 && jsonFieldOpt(j, "build_n").isDefined) {
        val appN = priorN + n
        val appSum = jsonD(j, s"app_${l.sum}") + sum
        val next = j.substring(0, at) +
          s""""app_n":$appN,"app_${l.sum}":${l.num(appSum)},""" +
          s""""last_n":$n,"last_${l.sum}":${l.num(sum)}}"""
        writeSmallAtomic(fs, p, next)
        for ((ratio, true) <- l.drift(next) if !l.drift(j).exists(_._2))
          log.warn(l.warning(root, ratio, appN))
      }
    } catch { case e: Exception =>
      log.warn(s"${s.name}: drift ledger update at $root failed — advisory " +
        s"is stale, the published append is unaffected (${e.getMessage})")
    }

  /** Retires ids: their `idCol` values are staged in `retire.pending`,
    * then, fenced, published file by file into `tombstones/` (Spark part
    * names are unique per job, so a republish cannot collide). An
    * interrupted retire aborts at the next heal and the caller re-runs it;
    * tombstones are a set, so re-retiring is a no-op in effect. */
  private[store] def retire(ids: DataFrame, root: String, idCol: String,
                            op: String): Unit = Lease.withLease(root, op) {
    val fs = fsOf(root)
    val pending = new HPath(root, RetirePending)
    fs.delete(pending, true)
    withWriterCoalesce(ids.sparkSession) {
      ids.select(col(idCol).cast("long").as(idCol)).distinct()
        .write.mode("overwrite").parquet(pending.toString)
    }
    Lease.fence(root, op)
    moveIn(fs, pending, new HPath(root, Tombstones), identity)
    fs.delete(pending, true)
  }

  /** The retired-id table, if any retirements are outstanding — probes
    * anti-join it; compact applies and clears it. */
  private[store] def tombstones(spark: SparkSession,
                                root: String): Option[DataFrame] = {
    val fs = fsOf(root)
    val dir = new HPath(root, Tombstones)
    if (fs.exists(dir) &&
        fs.listStatus(dir).exists(f => f.isFile &&
          f.getPath.getName.startsWith("part-")))
      Some(spark.read.parquet(s"$root/$Tombstones"))
    else None
  }

  /** Drops the tombstones a compact applied. */
  private[store] def clearTombstones(root: String): Unit =
    fsOf(root).delete(new HPath(root, Tombstones), true)

  /** Fail-fast guard on the reincarnation hazard: appending an id that is
    * currently TOMBSTONED would not resurrect it — the probe anti-join
    * keeps suppressing it until the next compact, so the "successful"
    * append silently contributes nothing. The sanctioned repost path is
    * compact (applies and clears tombstones), then append. Answer-sized
    * work, and only when retirements are outstanding. */
  private[store] def requireNoTombstoned(rows: DataFrame, root: String,
                                         idCol: String, op: String): Unit =
    tombstones(rows.sparkSession, root).foreach { t =>
      val clash = rows.join(
          broadcast(t.select(col(idCol).cast("long").as(idCol))),
          Seq(idCol), "left_semi")
        .select(idCol).limit(3).collect().map(_.getLong(0))
      require(clash.isEmpty,
        s"$op: ${idCol}s ${clash.mkString(", ")} are tombstoned at $root — " +
          "a tombstone would suppress the re-appended row until the next " +
          "compact; run compact(...) (applies + clears tombstones) before " +
          "re-appending a retired id")
    }
}
