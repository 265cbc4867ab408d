package htabench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed operation. Failed ops keep their record (they count toward the
  * failure share) but the report never takes a latency from them. */
final case class OpRecord(id: Long, cls: String, group: String, startMs: Long,
                          constructEndMs: Long, endMs: Long, constructS: Double,
                          executeS: Double, ok: Boolean, err: String,
                          traced: Boolean, notes: Map[String, Any])

/** A check that failed: the op's output disagreed with the expected value. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, plant: Option[String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("work"), m.get("plant-failure"))
  }
}

/** Closed-loop op runner: one client thread, each op waits for its reply.
  * `construct` runs the engine call up to the DataFrame it returns (driver
  * collects and eager checkpoints included), `execute` materializes it, and
  * `check` validates the output outside the timed region. */
final class Harness(val spark: SparkSession, val args: Args, tracer: Tracer) {
  val ops = mutable.ArrayBuffer[OpRecord]()
  /** `all`: trace every op; `paired`: trace the ops whose notes say
    * `trace -> true` (workloads run each read twice, once each way, so the
    * pairs give the tracing overhead); `off`: trace nothing. */
  var traceMode = "off"
  /** Off during warm-up: warm-up ops are dropped, and their checks would
    * only lengthen the run (the timed ops make the same checks). */
  var checking = true
  private var tracing = false
  private var nextId = 0L
  private val planted = mutable.Set[String]()

  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) spark.sparkContext.addSparkListener(tracer)
    else {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
    }
    tracing = on
  }

  /** Detaches the tracer once every event has arrived. */
  def stopTracing(): Unit = setTracing(on = false)

  /** True once, for the first checked op of class `cls`, when the
    * planted-failure self-test targets that class: the workload then checks
    * against a deliberately wrong expected value. Warm-up ops, which are
    * not checked, never use it up. */
  def plant(cls: String): Boolean =
    checking && args.plant.contains(cls) && planted.add(cls)

  def op[A, R](cls: String, notes: mutable.Map[String, Any] = mutable.Map.empty)(
      construct: => A)(execute: A => R)(check: R => Unit): Option[R] = {
    val id = nextId; nextId += 1
    setTracing(traceMode == "all" || (traceMode == "paired" && notes.get("trace").contains(true)))
    val group = s"htabench-op-$id"
    val sc = spark.sparkContext
    // no description: SQL executions then keep their call site as theirs
    sc.setJobGroup(group, null, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var constructEndMs = startMs
    var t1 = t0
    val result = try {
      val a = construct
      t1 = System.nanoTime(); constructEndMs = System.currentTimeMillis()
      Right(execute(a))
    } catch { case e: Throwable => Left(e) }
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    result match {
      case Left(e) =>
        if (t1 == t0) { t1 = endNs; constructEndMs = endMs }
        ops += OpRecord(id, cls, group, startMs, constructEndMs, endMs,
          (t1 - t0) / 1e9, (endNs - t1) / 1e9, ok = false, err = s"threw: $e",
          tracing, notes.toMap)
        None
      case Right(r) =>
        val rec = OpRecord(id, cls, group, startMs, constructEndMs, endMs,
          (t1 - t0) / 1e9, (endNs - t1) / 1e9, ok = true, err = "", tracing, Map.empty)
        try { if (checking) check(r); ops += rec.copy(notes = notes.toMap); Some(r) }
        catch { case e: Throwable =>
          ops += rec.copy(ok = false, err = s"check: ${e.getMessage}", notes = notes.toMap)
          None
        }
    }
  }

  def expect[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

/** A workload: prepared inputs, set up several times (set-up is its own
  * metric), a warm-up that fills caches and codegen before anything is
  * timed, and the timed run. */
trait Workload {
  /** Writes the generated inputs where the engine reads them, once, before
    * the set-ups: making the inputs is not the engine's set-up. */
  def prepare(h: Harness): Unit = ()
  def setup(h: Harness, round: Int): Unit
  def warmup(h: Harness): Unit
  /** Runs whole units of ops until `deadlineNs`, at least one. */
  def run(h: Harness, deadlineNs: Long): Unit
  /** The traced run: like `run`, with every read made twice, once traced
    * and once not, in alternation (see `Harness.traceMode`). */
  def runTraced(h: Harness): Unit
  /** Final checks and layer-specific figures. */
  def finish(h: Harness): Map[String, Any]
}

/** Bytes and parquet files under a store directory. */
object DiskStats {
  def of(dir: String): (Long, Int) = {
    val root = new java.io.File(dir)
    if (!root.exists()) return (0L, 0)
    var bytes = 0L; var files = 0
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else {
        bytes += f.length()
        if (f.getName.endsWith(".parquet")) files += 1
      }
    walk(root)
    (bytes, files)
  }

  /** Data bytes and files of a Warehouse store: `raw/` plus `levels/`. */
  def store(root: String): Map[String, Any] = {
    val (rb, rf) = of(s"$root/raw")
    val (lb, lf) = of(s"$root/levels")
    Map("raw_bytes" -> rb, "raw_files" -> rf, "levels_bytes" -> lb,
      "levels_files" -> lf, "bytes" -> (rb + lb), "files" -> (rf + lf))
  }

  def delete(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
  }
}
