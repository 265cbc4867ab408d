package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Single-writer lease for the persisted stores ([[BandIndex]],
  * [[graft.store.IvfStore]], [[TextIndex]]). Their append contracts have
  * always FORBIDDEN concurrent writers — two jobs interleaving staged
  * renames at one index root corrupt meta counts silently — but nothing
  * enforced it; a production scheduler double-firing a nightly job is
  * exactly the event that hits it. Every mutating entry point now runs
  * under `Lease.withLease(root, op)`:
  *
  *  - **acquire**: create `<root>/_writer.lease` atomically
  *    (`FileSystem.create(overwrite = false)` — the same rename/create
  *    atomicity every staging protocol here already relies on). If a
  *    lease exists and its holder is LIVE (heartbeat younger than
  *    `staleMs`), fail fast with the holder's identity — never queue,
  *    never interleave.
  *  - **stale recovery**: a crashed writer's lease (heartbeat older than
  *    `staleMs`) is taken over by atomically RENAMING it aside to a
  *    unique tomb name — rename picks exactly one winner among racing
  *    waiters (delete-then-create could interleave: waiter B's delete
  *    would remove waiter A's freshly created lease) — then creating
  *    atomically and reading the file back to confirm it names us. The
  *    crashed writer's half-done staging is then healed by the store's
  *    own open/heal matrix, which predates and is independent of the
  *    lease.
  *  - **fencing**: acquisition-time exclusion cannot see a writer that
  *    LOST its lease mid-operation (a GC pause or VM migration longer
  *    than `staleMs` lets a waiter take over; the paused writer then
  *    resumes and would publish its staged renames into the successor's
  *    generation — classic lease-without-fencing split brain). Two
  *    guards bound it: the heartbeat re-reads the lease before every
  *    refresh and STOPS (recording the loss) instead of clobbering a
  *    successor's lease, and every publish/swap/commit step in the
  *    stores calls [[fence]] immediately before mutating shared state —
  *    a writer whose lease no longer names it aborts instead of
  *    publishing. Without a compare-and-swap primitive (see the
  *    filesystem contract below) the read-check-act window is
  *    milliseconds, not airtight; it shrinks the exposure from "the
  *    whole operation" to "one FS read before each rename".
  *  - **release**: stop the heartbeat, JOIN it (an in-flight refresh
  *    write must not recreate the lease after the delete and strand a
  *    live-looking orphan for `staleMs`), then delete the lease ONLY if
  *    it still names this writer — a successor's lease survives.
  *  - **reentrant per thread**: a store operation that invokes another on
  *    the same root (e.g. `appendBatch` auto-compact, append's heal)
  *    re-enters the held lease instead of deadlocking on itself.
  *
  * A daemon heartbeat refreshes the lease timestamp every `staleMs / 3`
  * while an operation runs, so `staleMs` (default 30 min) bounds how
  * fast a CRASHED writer is detected — not how long a live compact may
  * take. Readers (probes, `open`) take no lease: every table here
  * exposes append-only or swap-published state that readers tolerate by
  * design.
  *
  * ==Filesystem contract==
  * The lease (and every staging/publish protocol in this store family)
  * requires HDFS-class single-operation atomicity: `create(overwrite =
  * false)` fails exactly one of two racing creators, and `rename` is
  * atomic with exactly one winner. Local filesystems and HDFS provide
  * both. S3-class object stores do NOT (the S3A "rename" is a
  * copy+delete emulation and create-exclusivity is best-effort) — on
  * such stores the lease degrades to advisory and the staging protocols
  * lose crash atomicity; run these stores there only behind a
  * conditional-write/CAS backend (e.g. a coordination service or S3
  * conditional PUT seam). [[StagedCommit.fsOf]] warns once per scheme when
  * an index root resolves to a known object-store scheme. */
object Lease {
  import StagedCommit.{fsOf, readSmall, writeSmall}

  /** Liveness horizon: a lease whose timestamp is older than this is a
    * crashed writer and may be taken over. */
  @volatile var staleMs: Long = 30L * 60 * 1000

  /** Per-thread map of held lease roots → the owner id written into the
    * lease file (what [[fence]] verifies against the file's content). */
  private val held = new ThreadLocal[scala.collection.mutable.Map[String, String]] {
    override def initialValue() =
      scala.collection.mutable.Map.empty[String, String]
  }

  /** Roots whose heartbeat observed a foreign owner in the lease file —
    * ownership was lost to a stale-takeover while this writer was paused.
    * [[fence]] aborts on sight without another FS read. */
  private val lostRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def ownerId: String =
    java.net.InetAddress.getLocalHost.getHostName + ":" +
      java.lang.management.ManagementFactory.getRuntimeMXBean.getPid + ":" +
      Thread.currentThread().getId

  private def leasePath(root: String) = new HPath(root, "_writer.lease")

  /** The `owner` field of a lease file, if it parses — None means a file
    * caught mid-write (or not a lease at all). */
  private def ownerOf(s: String): Option[String] = {
    val i = s.indexOf("\"owner\":\"")
    if (i < 0) None
    else {
      val rest = s.substring(i + 9)
      val j = rest.indexOf('"')
      if (j < 0) None else Some(rest.substring(0, j))
    }
  }

  /** Run `body` as the sole writer at `root`. Fail-fast
    * IllegalStateException if another live writer holds the lease.
    * While held, a daemon heartbeat rewrites the lease timestamp every
    * `staleMs / 3`, so liveness detection is independent of how long the
    * operation runs — `staleMs` bounds crash DETECTION latency, not the
    * longest permissible compact. */
  def withLease[T](root: String, op: String)(body: => T): T = {
    val key = new HPath(root).toString // normalized
    if (held.get().contains(key)) return body // reentrant on this thread
    val fs = fsOf(root)
    val owner = ownerId
    acquire(fs, root, op, owner)
    lostRoots.remove(key)
    held.get().put(key, owner)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = new Thread(() => {
      while (!stop.get()) {
        try Thread.sleep(math.max(250L, staleMs / 3))
        catch { case _: InterruptedException => stop.set(true) }
        if (!stop.get()) {
          // re-read BEFORE refreshing: if a stale-takeover replaced the
          // lease while this writer was paused, refreshing would clobber
          // the successor's lease — record the loss and stop instead
          // (the fence aborts this writer's next publish). A read that
          // fails or doesn't parse is treated as still-ours: the only
          // same-root writer is this thread's own heartbeat, so an
          // unparsable read is a transient, and refreshing our own lease
          // is always safe.
          val foreign =
            try ownerOf(readSmall(fs, leasePath(root))).exists(_ != owner)
            catch { case _: Exception => false }
          if (foreign) { lostRoots.add(key); stop.set(true) }
          else
            try writeSmall(fs, leasePath(root),
              s"""{"owner":"$owner","ts":${System.currentTimeMillis()}}""")
            catch { case _: Exception => () }
        }
      }
    }, s"graft-lease-heartbeat-$key")
    beat.setDaemon(true)
    beat.start()
    try body
    finally {
      stop.set(true)
      beat.interrupt()
      // join BEFORE deleting: an interrupt does not abort an in-progress
      // FS write, so an un-joined heartbeat could recreate the lease
      // after the delete — an orphan "live" lease that blocks every
      // writer for staleMs
      try beat.join(30000) catch { case _: InterruptedException => () }
      held.get().remove(key)
      // delete only OUR lease: after a stale-takeover the file names the
      // successor, and deleting it would re-open the root to a third
      // writer while the successor still operates. A TRANSIENT read
      // failure must not be mistaken for "not ours" — skipping the
      // delete then strands a fresh-timestamped orphan that fail-fasts
      // every writer for up to staleMs — so an unreadable lease retries
      // (the fence's discipline) and, if it stays unreadable, is deleted
      // anyway UNLESS the heartbeat observed a takeover: the only way
      // the file can name a successor is a takeover after a > staleMs
      // pause, which the stopped heartbeat records in lostRoots.
      var verdict: Option[Boolean] = None // Some(ours?) once a read parses
      var tries = 0
      while (verdict.isEmpty && tries < 5) {
        try verdict = ownerOf(readSmall(fs, leasePath(root))).map(_ == owner)
        catch { case _: Exception => () }
        tries += 1
        if (verdict.isEmpty && tries < 5) Thread.sleep(20)
      }
      if (verdict.getOrElse(!lostRoots.contains(key)))
        fs.delete(leasePath(root), false)
      lostRoots.remove(key)
    }
  }

  /** Publish-time fence: verify the lease at `root` still names this
    * thread's writer, immediately before a publish/swap/commit rename.
    * A writer that lost its lease to a stale-takeover (it was paused
    * longer than `staleMs`) must ABORT, not publish into the successor's
    * generation. No-op when this thread holds no lease for `root` — the
    * lease-free callers are the heal paths ([[BandIndex.open]] etc.),
    * which predate the lease and publish only already-committed staging.
    *
    * The read races our own heartbeat's refresh of the same file, so an
    * unparsable read retries briefly before concluding loss. */
  private[graft] def fence(root: String, op: String): Unit = {
    val key = new HPath(root).toString
    held.get().get(key) match {
      case None => () // lease-free heal path
      case Some(owner) =>
        if (lostRoots.contains(key))
          throw new IllegalStateException(
            s"$op: writer lease at $root was lost to a takeover (this " +
              "writer was stalled past staleMs and a waiter took over) — " +
              "aborting before publish to avoid split-brain")
        val fs = fsOf(root)
        var tries = 0
        while (tries < 5) {
          val o = try ownerOf(readSmall(fs, leasePath(root)))
                  catch { case _: Exception => None }
          o match {
            case Some(x) if x == owner => return
            case Some(_) =>
              lostRoots.add(key)
              throw new IllegalStateException(
                s"$op: writer lease at $root now names another writer " +
                  "(stale-takeover during a pause) — aborting before " +
                  "publish to avoid split-brain")
            case None => // missing or mid-write (our heartbeat) — retry
              tries += 1
              if (tries < 5) Thread.sleep(20)
          }
        }
        lostRoots.add(key)
        throw new IllegalStateException(
          s"$op: writer lease at $root is gone or unreadable — a " +
            "takeover deleted it; aborting before publish")
    }
  }

  private def acquire(fs: FileSystem, root: String, op: String,
                      owner: String): Unit = {
    val p = leasePath(root)
    if (fs.exists(p)) {
      // read defensively: a lease mid-write (or 0-byte from a dying
      // holder) parses as live — conservative, the operator retries
      val s = try readSmall(fs, p) catch { case _: Exception => "" }
      val ts = StagedCommit.jsonFieldOpt(s, "ts").getOrElse(Long.MaxValue)
      val age = System.currentTimeMillis() - ts
      if (age <= staleMs)
        throw new IllegalStateException(
          s"$op: another writer holds the lease at $root " +
            s"(${ownerField(s)}, ${age / 1000}s old; the append contract " +
            "forbids concurrent writers — wait for it or investigate)")
      // stale: crashed writer — take over. Rename the stale lease aside
      // atomically: exactly one of several racing waiters wins the
      // rename; the losers fail here instead of interleaving
      // delete/create (two waiters deleting+creating could leave both
      // believing they own the root).
      val tomb = new HPath(root,
        s"_writer.lease.stale.${System.nanoTime()}.${Thread.currentThread().getId}")
      if (!fs.rename(p, tomb))
        throw new IllegalStateException(
          s"$op: lost the stale-lease takeover race at $root (another " +
            "waiter claimed the crashed writer's lease first) — the " +
            "append contract forbids concurrent writers")
      fs.delete(tomb, false)
    }
    fs.mkdirs(new HPath(root))
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"$op: lost the lease race at $root (a concurrent writer " +
              "created the lease first) — the append contract forbids " +
              "concurrent writers", e)
      }
    try out.write(
      s"""{"owner":"$owner","ts":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"))
    finally out.close()
    // read-back verify: create(overwrite = false) is the atomic arbiter
    // on an HDFS-class filesystem, but a resumed paused writer's
    // heartbeat (or a non-compliant store) can overwrite between our
    // create and now — require the file to name us before proceeding
    val back = try readSmall(fs, p) catch { case _: Exception => "" }
    if (!ownerOf(back).contains(owner))
      throw new IllegalStateException(
        s"$op: lease at $root was overwritten right after acquisition " +
          s"(${ownerField(back)}) — a concurrent writer is active; " +
          "aborting")
  }

  private def ownerField(s: String): String = {
    val i = s.indexOf("\"owner\":\"")
    if (i < 0) "owner unknown"
    else "held by " + s.substring(i + 9).takeWhile(_ != '"')
  }

  /** Spec seam: plant a lease as a FOREIGN writer would leave it —
    * `ageMs` in the past (0 = live now, > staleMs = crashed). */
  private[graft] def plant(root: String, ageMs: Long): Unit = {
    val fs = fsOf(root)
    fs.mkdirs(new HPath(root))
    writeSmall(fs, leasePath(root),
      s"""{"owner":"foreign:0:0","ts":${System.currentTimeMillis() - ageMs}}""")
  }

  private[graft] def exists(root: String): Boolean =
    fsOf(root).exists(leasePath(root))
}
