package htabench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession

/** Runs one workload and writes its raw record (ops, set-up times, store
  * and stream figures, trace summary and spans) as JSON under `--work`.
  * `run.py` turns that record into the reported metrics. */
object Main {
  /** `local[4]`: the host the benchmark is sized for has four cores. */
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. The first carries the
    * JVM's own warm-up, like every user's first set-up. */
  val Setups = 2
  /** Renders the record, the spans and the oracle SQL: Scala maps,
    * sequences and options as JSON objects, arrays and values. */
  val Json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a thread the engine left running must not keep the
    // JVM alive, and any failure must give a non-zero code
    val code = try { run(Args.parse(argv)); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Args): Unit = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    new java.io.File(args.work).mkdirs()
    val t = System.nanoTime()
    val spark = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    try measure(spark, args, loadBefore, (System.nanoTime() - t) / 1e9)
    finally spark.stop()
  }

  private def measure(spark: org.apache.spark.sql.SparkSession, args: Args,
                      loadBefore: Double, sessionS: Double): Unit = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.quietAdjudicatedWarnings()

    val tracer = new Tracer
    val h = new Harness(spark, args, tracer)
    val w: Workload = args.workload match {
      case "hta-serve" => new HtaServe(args)
      case "pipeline" => new Pipeline(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // wall time of each phase of the run, for the record
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]("session" -> sessionS)
    def phase[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t) / 1e9
    }
    phase("prepare")(w.prepare(h))
    // set-up ops (the serving store's bulk ingest) are kept, and traced in
    // a traced run
    if (args.trace) h.traceMode = "all"
    val setupS = (1 to Setups).map { round =>
      val t0 = System.nanoTime()
      w.setup(h, round)
      (System.nanoTime() - t0) / 1e9
    }
    h.traceMode = "off"
    val mark = h.ops.size
    h.checking = false
    phase("warmup")(w.warmup(h))
    h.checking = true
    h.ops.remove(mark, h.ops.size - mark)

    val t0 = System.nanoTime()
    if (args.trace) {
      h.traceMode = "paired"
      w.runTraced(h)
    } else w.run(h, t0 + (args.seconds * 1e9).toLong)
    h.stopTracing()
    val measuredS = (System.nanoTime() - t0) / 1e9
    val extra = phase("finish")(w.finish(h))

    val traced = h.ops.filter(_.traced).toSeq
    val (opStats, spans) =
      if (args.trace) tracer.summarize(traced) else (Map.empty[Long, Map[String, Any]], Nil)
    val ops = h.ops.map { o =>
      Map[String, Any]("id" -> o.id, "cls" -> o.cls, "ok" -> o.ok, "err" -> o.err,
        "construct_s" -> o.constructS, "execute_s" -> o.executeS,
        "latency_s" -> (o.constructS + o.executeS), "traced" -> o.traced,
        "notes" -> o.notes, "trace" -> opStats.get(o.id))
    }
    val record = Map[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "seconds" -> args.seconds, "measured_s" -> measuredS, "setup_s" -> setupS,
      "phases_s" -> phases,
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> Cores, "load1_before" -> loadBefore,
        "load1_after" -> os.getSystemLoadAverage, "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"), "seed" -> args.seed),
      "ops" -> ops, "extra" -> extra)
    def write(name: String, body: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${args.work}/$name"), body)
    write(s"record-${args.workload}.json", Json.writeValueAsString(record))
    if (args.trace) write(s"spans-${args.workload}.json", Json.writeValueAsString(spans))
  }
}
