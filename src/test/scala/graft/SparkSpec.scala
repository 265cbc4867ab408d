package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
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

  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}
