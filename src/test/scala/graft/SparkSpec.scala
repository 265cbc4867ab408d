package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every registered query built once at sf0.001, in name order: building
    * all of them takes over a minute (several entries build a store or run
    * a pass at construction), so the specs that walk the registry share
    * this one map. */
  lazy val registered: Map[String, DataFrame] =
    scala.collection.immutable.ListMap.from(SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) => name -> fn(spark, "/root/testdata/sf0.001")
    })
}

/** Shared base for golden suites. The canonical 110-point fixture is the one
  * every reference test reuses (tests/retrieve.cpp:95-110,
  * tests/aggregate.cpp:96-112, tests/count.cpp:93-109): offset 1519130000 s,
  * values -37…45 with a 99-point constant run, Meta(10 s, 1000 s, 10). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  val S: Long = 1000000000L // ns per second
  val Offset: Long = 1519130000L * S
  def tp(sec: Long, eps: Long = 0L): Long = Offset + sec * S + eps

  def pointsDf(pts: Seq[(Long, Double)], metric: String = "foo"): DataFrame = {
    val s = spark
    import s.implicits._
    pts.map { case (t, v) => (metric, t, v) }.toDF("metric", "time", "value")
  }

  /** The 110-point canonical fixture (times in ns via tp). */
  def fixture110: Seq[(Long, Double)] =
    Seq(11L -> -37.0, 21L -> -36.0, 42L -> -30.0, 48L -> -20.0, 53L -> -10.0,
      67L -> 0.0, 80L -> -10.0) ++
      (101L until 200L).map(i => i -> 20.0) ++
      Seq(203L -> 31.0, 217L -> 35.0, 219L -> 45.0, 225L -> 35.0) map {
      case (sec, v) => tp(sec) -> v
    }

  def fixtureDf: DataFrame = pointsDf(fixture110)

  /** Spark jobs started by `body`: a marker job run after it drains the
    * listener bus, whose events arrive in submission order. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "drain"))
          drained.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription("drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  /** The FORMATTED explain string of `df`'s physical plan with expression
    * ids stripped (`metric#12` reads `metric`). Plan-shape checks read this
    * string, never `executedPlan.collect`: under AQE the wrapper has no
    * children until the first stage runs, so node matching counts 0. */
  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .replaceAll("#\\d+L?", "")

  /** Physical operators named `op` in a formatted plan. Tree lines read
    * "<Op> [qualifiers] (12)" and the details repeat them as "(12) <Op>",
    * so only the id-terminated tree lines count; `Exchange` (a shuffle)
    * matches neither BroadcastExchange nor ReusedExchange. */
  def countOps(plan: String, op: String): Int = {
    val opRe = ("\\b" + op + "\\b").r
    plan.linesIterator.count(l => l.trim.matches(".*\\(\\d+\\)$") &&
      opRe.findFirstIn(l).isDefined)
  }

  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}
