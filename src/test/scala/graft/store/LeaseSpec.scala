package graft.store

import graft.SparkSpec
import graft.pipeline.Ann
import org.apache.spark.sql.functions._

/** Single-writer lease on the persisted stores: a live foreign lease
  * fails every mutation fast, a crashed writer's stale lease is taken
  * over, the lease is released on success AND on failure, and nested
  * store operations (appendBatch → auto-compact, append → heal) re-enter
  * the held lease instead of deadlocking. */
class LeaseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs =
    spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb =
    spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val base = docs.where(col("doc_id") < 20)
  private lazy val drop = docs.where(col("doc_id") >= 400 && col("doc_id") < 405)

  test("live foreign lease fails BandIndex / IvfStore / TextIndex mutations fast") {
    val bp = tmpDir("lease-band")
    val h = BandIndex.write(base, bp)
    Lease.plant(bp, ageMs = 0) // a live concurrent writer
    for (op <- Seq[() => Any](
        () => BandIndex.write(base, bp),
        () => BandIndex.append(drop, h),
        () => BandIndex.appendBatch(bp, bid = 0)(drop),
        () => BandIndex.retire(drop.select("doc_id"), h),
        () => BandIndex.compact(spark, h))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("another writer holds the lease"))
    }
    assert(Lease.exists(bp), "a failed acquire must not release the foreign lease")

    val ip = tmpDir("lease-ivf")
    val ebase = emb.where(col("vec_id") < 64)
    val ih = Ann.writeIvfIndex(ebase, ip, nlist = 4, kmeansIters = 0)
    Lease.plant(ip, ageMs = 0)
    val vdrop = emb.where(col("vec_id") >= 400 && col("vec_id") < 405)
    for (op <- Seq[() => Any](
        () => Ann.writeIvfIndex(ebase, ip, nlist = 4, kmeansIters = 0),
        () => IvfStore.append(vdrop, ih),
        () => IvfStore.appendBatch(ip, bid = 0)(vdrop),
        () => IvfStore.retire(vdrop.select("vec_id"), ih),
        () => IvfStore.compact(spark, ih))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("another writer holds the lease"))
    }

    val tp2 = tmpDir("lease-text")
    val th = TextIndex.write(base, tp2, buckets = 4)
    Lease.plant(tp2, ageMs = 0)
    for (op <- Seq[() => Any](
        () => TextIndex.write(base, tp2, buckets = 4),
        () => TextIndex.append(drop, th),
        () => TextIndex.compact(spark, th),
        () => TextIndex.writePositional(base, th))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("another writer holds the lease"))
    }
  }

  test("a crashed writer's stale lease is taken over and the op succeeds") {
    val bp = tmpDir("lease-stale")
    val h = BandIndex.write(base, bp)
    Lease.plant(bp, ageMs = Lease.staleMs + 60000) // crashed long ago
    val h2 = BandIndex.append(drop, h) // takes over, completes
    assert(h2.nDocs === 25)
    assert(!Lease.exists(bp), "released after the takeover op")
  }

  test("lease is released on success and on failure") {
    val bp = tmpDir("lease-release")
    BandIndex.write(base, bp)
    assert(!Lease.exists(bp))
    // a FAILING mutation (reincarnated doc_id) must still release
    val h = BandIndex.open(bp)
    val someDoc = docs.where(col("doc_id") === 3)
    BandIndex.retire(someDoc.select("doc_id"), h)
    intercept[IllegalArgumentException](BandIndex.append(someDoc, h))
    assert(!Lease.exists(bp), "released after the failed append")
    // and the store is still writable afterwards (fresh, un-retired ids)
    val h3 = BandIndex.append(drop, BandIndex.open(bp))
    assert(h3.nDocs === 25)
  }

  test("heartbeat keeps a LONG operation's lease live past staleMs") {
    // staleMs bounds crash DETECTION, not op duration: with a 2 s
    // horizon, an op running 5 s must still hold off a waiter probing at
    // 3.5 s — the daemon heartbeat refreshes the timestamp under it
    val bp = tmpDir("lease-beat")
    val prev = Lease.staleMs
    Lease.staleMs = 2000
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val slowOp = Future(Lease.withLease(bp, "spec.slowOp") {
        Thread.sleep(5000); "done"
      })
      Thread.sleep(3500) // well past staleMs, inside the op
      val e = intercept[IllegalStateException](
        Lease.withLease(bp, "spec.waiter") { "stolen" })
      assert(e.getMessage.contains("another writer holds the lease"),
        "the heartbeat must keep the running op's lease live")
      assert(Await.result(slowOp, Duration(30, "s")) === "done")
      assert(!Lease.exists(bp))
      // and once released, a new writer proceeds immediately
      assert(Lease.withLease(bp, "spec.next") { 42 } === 42)
    } finally Lease.staleMs = prev
  }

  private def leaseOwner(root: String): String = {
    val fs = StagedCommit.fsOf(root)
    val s = StagedCommit.readSmall(fs,
      new org.apache.hadoop.fs.Path(root, "_writer.lease"))
    s.split("\"owner\":\"")(1).takeWhile(_ != '"')
  }

  test("fence passes while owned, aborts after a foreign takeover") {
    val p = tmpDir("lease-fence-unit")
    Lease.withLease(p, "spec.op") {
      Lease.fence(p, "spec.op") // owned: no throw
      Lease.plant(p, ageMs = 0) // a takeover replaced our lease
      val e = intercept[IllegalStateException](Lease.fence(p, "spec.op"))
      assert(e.getMessage.contains("takeover"))
    }
    // release must NOT delete the successor's lease
    assert(Lease.exists(p), "release deleted the successor's lease")
    assert(leaseOwner(p) === "foreign:0:0")
    // and with no lease held, fence is a no-op (the heal paths)
    Lease.fence(p, "spec.heal")
  }

  test("a writer that loses its lease mid-operation aborts at the commit " +
    "fence and the store heals clean") {
    val bp = tmpDir("lease-fence-store")
    val h = BandIndex.write(base, bp)
    // simulate the GC-pause split brain: while we hold the lease (outer
    // withLease — the inner append re-enters it), a waiter takes over
    val e = intercept[IllegalStateException] {
      Lease.withLease(bp, "spec.outer") {
        Lease.plant(bp, ageMs = 0) // takeover landed during our "pause"
        BandIndex.append(drop, h)  // stages, then must abort at the fence
      }
    }
    assert(e.getMessage.contains("takeover"))
    // the abort happened BEFORE the commit marker: the staged append is
    // rolled back by the next open(), and the index is untouched
    val healed = BandIndex.open(bp)
    assert(healed.nDocs === h.nDocs, "aborted staging must not publish")
    assert(!StagedCommit.fsOf(bp).exists(
      new org.apache.hadoop.fs.Path(bp, "append.pending")),
      "open() must abort the unmarked staging")
    // the successor's lease survived our release; once IT crashes
    // (stale), a new writer takes over and the store works normally
    Lease.plant(bp, ageMs = Lease.staleMs + 60000)
    assert(BandIndex.append(drop, healed).nDocs === h.nDocs + 5)
  }

  test("fence symmetry: TextIndex and IvfStore appends also abort at the " +
    "commit fence after a takeover, staging rolled back") {
    // TextIndex
    val tp = tmpDir("lease-fence-text")
    val th = TextIndex.write(base, tp, buckets = 4)
    val te = intercept[IllegalStateException] {
      Lease.withLease(tp, "spec.outer") {
        Lease.plant(tp, ageMs = 0)
        TextIndex.append(drop, th)
      }
    }
    assert(te.getMessage.contains("takeover"))
    Lease.plant(tp, ageMs = Lease.staleMs + 60000) // successor "crashed"
    val tHealed = TextIndex.open(tp)
    assert(tHealed.nDocs === th.nDocs, "aborted staging must not publish")
    assert(TextIndex.append(drop, tHealed).nDocs === th.nDocs + 5)

    // IvfStore
    val ip = tmpDir("lease-fence-ivf")
    val ih = Ann.writeIvfIndex(emb.where(col("vec_id") < 64), ip,
      nlist = 4, kmeansIters = 0)
    val vdrop = emb.where(col("vec_id") >= 400 && col("vec_id") < 405)
    val ie = intercept[IllegalStateException] {
      Lease.withLease(ip, "spec.outer") {
        Lease.plant(ip, ageMs = 0)
        IvfStore.append(vdrop, ih)
      }
    }
    assert(ie.getMessage.contains("takeover"))
    Lease.plant(ip, ageMs = Lease.staleMs + 60000)
    val before = spark.read.parquet(s"$ip/vectors").count()
    assert(before === 64, "aborted staging must not publish")
    IvfStore.append(vdrop, IvfStore.open(spark, ip))
    assert(spark.read.parquet(s"$ip/vectors").count() === 69)
  }

  test("heartbeat observes a takeover, stops, and never clobbers the " +
    "successor's lease") {
    val p = tmpDir("lease-beat-loss")
    val prev = Lease.staleMs
    Lease.staleMs = 750 // heartbeat every 250 ms
    try {
      Lease.withLease(p, "spec.paused") {
        Lease.plant(p, ageMs = 0)
        Thread.sleep(900) // >= 3 heartbeat cycles observe the takeover
        assert(leaseOwner(p) === "foreign:0:0",
          "the heartbeat must stop refreshing, not clobber the successor")
        val e = intercept[IllegalStateException](Lease.fence(p, "spec.paused"))
        assert(e.getMessage.contains("takeover"))
      }
      assert(leaseOwner(p) === "foreign:0:0",
        "release must leave the successor's lease in place")
    } finally Lease.staleMs = prev
  }

  test("release joins the heartbeat: no lease file survives rapid " +
    "acquire/release loops under a fast heartbeat") {
    val p = tmpDir("lease-join")
    val prev = Lease.staleMs
    Lease.staleMs = 750 // heartbeat every 250 ms
    try {
      for (i <- 0 until 8) {
        // op duration must STRADDLE the heartbeat interval (250 ms) so
        // releases land while refresh writes can be in flight — without
        // the join, a refresh could recreate the lease after the delete
        // and strand an orphan "live" lease for staleMs. Sleeping under
        // 250 ms would release before the FIRST refresh ever fires and
        // assert nothing (the round-16 review's vacuity finding).
        Lease.withLease(p, "spec.loop") { Thread.sleep(255 + 10 * (i % 4)) }
        assert(!Lease.exists(p), s"iteration $i left an orphan lease")
      }
    } finally Lease.staleMs = prev
  }

  test("nested store ops re-enter the held lease (appendBatch auto-compact)") {
    val bp = tmpDir("lease-reenter")
    BandIndex.write(base, bp)
    // autoCompactAt = 1 forces an in-line compact inside the held lease;
    // without reentrancy this would fail on its own lease
    BandIndex.appendBatch(bp, bid = 0, autoCompactAt = 1)(drop)
    assert(!Lease.exists(bp))
    assert(BandIndex.open(bp).nDocs === 25)
  }
}
