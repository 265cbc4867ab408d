package htabench

import graft.hta.{Queries, RetrieveFlex, Telescope}
import graft.model.Meta
import graft.plans.RollupRouting
import graft.store.{Hta, Warehouse}
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.Sample
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** `hta-serve`: interactive reads against one default-Meta store while
  * writes run alongside. Set-up bulk-ingests the store (`ingest` ops). Each
  * unit of 7 ops is one `append` of the next time slice, one `stream` (the
  * hot metric's first points through the level and raw sinks into a fresh
  * side store, one parquet file per fixed-size micro-batch), then 5 reads
  * in seeded order: 2 flex, 1 aggregate, 1 raw and 1 sql. */
final class HtaServe(args: Args) extends Workload {
  private val data = HtaData.serve(args.seed)
  private val meta = Meta()
  private val sliceNs = data.span / 100
  private val rnd = new SplittableRandom(args.seed * 31 + 1)
  /** Set-up loads the first 80 % of the span; appends add the rest. */
  private val setupHorizon = data.t0 + data.span * 8 / 10
  private var horizon = 0L
  private var root = ""
  private var hta: Hta = _
  private val storeLog = mutable.ArrayBuffer[Map[String, Any]]()
  private val view = "serve_raw"
  private val streamSrc = s"${args.work}/serve/stream-src"
  private val staged = s"${args.work}/serve/input"
  private val hot = data.series.head
  private val streamBatchPoints = 2400
  private val streamPoints = 2 * streamBatchPoints

  private val schema = StructType(Seq(StructField("metric", StringType),
    StructField("time", LongType), StructField("value", DoubleType)))

  private def points(h: Harness, from: Long, until: Long): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    for (s <- data.series; i <- s.lowerBound(from) until s.lowerBound(until))
      rows.add(Row(s.name, s.times(i), s.values(i)))
    h.spark.createDataFrame(rows, schema)
  }

  private def loadedPoints: Long =
    data.series.map(_.lowerBound(horizon).toLong).sum

  private def reopen(h: Harness): Unit = {
    hta = Warehouse.open(h.spark, root)
    hta.raw.createOrReplaceTempView(view)
  }

  /** The set-up's input as a user holds it, in parquet files (a local
    * relation of this size would ship its rows with every task of every
    * job), and the stream's source files. */
  override def prepare(h: Harness): Unit = {
    points(h, data.t0, setupHorizon).write.mode("overwrite").parquet(staged)
    writeStreamSource(h)
  }

  def setup(h: Harness, round: Int): Unit = {
    // a fresh root per round: RollupRouting keeps every installed route and
    // answers the first whose raw path matches
    root = s"${args.work}/serve/store-$round"
    DiskStats.delete(root)
    horizon = setupHorizon
    val input = h.spark.read.parquet(staged)
    val notes = mutable.Map[String, Any]("points" -> loadedPoints, "rows" -> loadedPoints)
    h.op("ingest", notes)(Warehouse.ingest(input, meta, root))(identity) { st =>
      h.expect("raw rows after ingest", st.raw.count(), loadedPoints)
    }
    if (!h.ops.last.ok) throw new IllegalStateException(s"set-up ingest: ${h.ops.last.err}")
    reopen(h)
    RollupRouting.install(h.spark, hta)
    if (round > 1) DiskStats.delete(s"${args.work}/serve/store-${round - 1}")
    storeLog.clear()
    storeLog += (Map[String, Any]("after" -> "ingest", "points" -> loadedPoints) ++
      DiskStats.store(root))
  }

  /** The stream's input: the hot metric's first `streamPoints` points, one
    * parquet file per micro-batch, with increasing modification times so
    * the file source reads them in time order. */
  private def writeStreamSource(h: Harness): Unit = {
    DiskStats.delete(streamSrc)
    val n = streamPoints
    for ((from, k) <- (0 until n by streamBatchPoints).zipWithIndex) {
      val rows = (from until math.min(n, from + streamBatchPoints))
        .map(i => Row(hot.name, hot.times(i), hot.values(i)))
      val tmp = s"${args.work}/serve/stream-staging"
      h.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(f"$streamSrc/batch-$k%05d.parquet")
      dst.getParentFile.mkdirs()
      require(part.renameTo(dst), s"move $part")
      dst.setLastModified(1000000000000L + k * 1000L)
      DiskStats.delete(tmp)
    }
  }

  /** Each read class once, over the whole span, so the planner's code is
    * compiled before a read is timed; the write paths are warm from
    * set-up. */
  def warmup(h: Harness): Unit =
    shuffled(mix.distinct).foreach(c => read(h, draw(c, frac = Some(1.0)), 0))

  private def shuffled[T](xs: Seq[T]): List[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toList.asInstanceOf[List[T]]
  }

  /** The read mix of a unit: flex 40 %, aggregate, raw and sql 20 % each. */
  private val mix = Seq("flex", "flex", "aggregate", "raw", "sql")
  private val fracs = Seq(0.01, 0.1, 1.0)

  /** A read of class `cls` over a window covering a seeded fraction (1 %,
    * 10 % or 100 %) of the loaded span at a seeded position. Flex draws
    * min_samples from 30, 300 and 3000; sql aligns the window to a coarser
    * level as it grows (1e3, 1e4, 1e5 s); raw adds a one-hour window for
    * `countRange`. */
  private def draw(cls: String, frac: Option[Double] = None): Read = {
    val f = frac.getOrElse(fracs(rnd.nextInt(fracs.size)))
    val width = ((horizon - data.t0) * f).toLong
    val b = data.t0 + rnd.nextLong(0, horizon - data.t0 - width + 1)
    val param = cls match {
      case "flex" => Seq(30L, 300L, 3000L)(rnd.nextInt(3))
      case "sql" => Map(0.01 -> 1000L, 0.1 -> 10000L, 1.0 -> 100000L)(f) * HtaData.Sec
      case "raw" => data.t0 + rnd.nextLong(0, horizon - data.t0 - 3600 * HtaData.Sec)
      case _ => 0L
    }
    Read(cls, f, b, b + width, param)
  }

  /** One unit: an append, a stream, then the reads in seeded order.
    * Units repeat until the deadline. */
  def run(h: Harness, deadlineNs: Long): Unit =
    do {
      append(h)
      stream(h)
      reads(h, shuffled(mix).map(draw(_)), rounds = 1)
    } while (System.nanoTime() < deadlineNs)

  /** The append and the stream, traced, then every read class at every
    * window fraction (so a traced run almost always meets both routed and
    * unrouted sql windows), each read made twice, traced in one round and
    * not in the other. */
  def runTraced(h: Harness): Unit = {
    append(h)
    stream(h)
    reads(h, shuffled(for (f <- fracs; c <- mix.distinct) yield draw(c, Some(f))), rounds = 2)
  }

  private def reads(h: Harness, rs: Seq[Read], rounds: Int): Unit =
    for (round <- 0 until rounds; (r, i) <- rs.zipWithIndex)
      read(h, r, i, trace = (i + round) % 2 == 0)

  /** A read: its class, window fraction and window [b, e), and a class
    * parameter (flex: min_samples; sql: the ladder interval the window is
    * aligned to; raw: the start of the `countRange` window). */
  private final case class Read(cls: String, frac: Double, b: Long, e: Long, param: Long)

  /** Read `r`, the `i`-th of its unit: the op's `pair` note names it, so a
    * traced run can pair its traced and untraced runs and the report can
    * sum one unit. */
  private def read(h: Harness, r: Read, i: Int, trace: Boolean = false): Unit = {
    val frac = r.frac
    val (b, e) = (r.b, r.e)
    val notes = mutable.Map[String, Any]("frac" -> frac, "trace" -> trace,
      "pair" -> s"$i/${r.cls}/$frac/${r.param}")
    val planted = h.plant(r.cls)
    r.cls match {
      case "flex" =>
        val minSamples = r.param
        val limit = (e - b) / minSamples
        notes("min_samples") = minSamples
        val ladder = meta.levelIntervals.toSet + 0L
        h.op("flex", notes)(RetrieveFlex.retrieveFlex(hta, b, e, limit))(_.collect()) { rows =>
          notes("rows") = rows.length
          val bad = rows.count { r =>
            val i = r.getAs[Long]("interval"); !ladder.contains(i) || i > limit
          }
          h.expect("flex rows off the routed ladder", bad, if (planted) -1 else 0)
        }
      case "aggregate" =>
        h.op("aggregate", notes)(Telescope.aggregateRange(hta, b, e))(_.collect()) { rows =>
          notes("rows") = rows.length
          val want = Queries.aggregateRange(hta.raw, b, e).collect()
            .map(r => r.getString(0) -> r).toMap
          h.expect("aggregate metrics", rows.map(_.getString(0)).toSet, want.keySet)
          for (r <- rows) {
            val w = want(r.getString(0))
            for (f <- Seq("minimum", "maximum", "sum"))
              h.expect(s"aggregate $f ${r.getString(0)}", r.getAs[Double](f),
                w.getAs[Double](f) + (if (planted && f == "sum") 1.0 else 0.0))
            for (f <- Seq("count", "active_time"))
              h.expect(s"aggregate $f ${r.getString(0)}", r.getAs[Long](f), w.getAs[Long](f))
            val gi = r.getAs[Double]("integral"); val wi = w.getAs[Double]("integral")
            if (math.abs(gi - wi) > 1e-9 * math.max(1.0, math.abs(wi)))
              throw new CheckFailed(s"aggregate integral ${r.getString(0)}: $gi vs $wi")
          }
        }
      case "raw" =>
        val sb = r.param
        val se = sb + 3600 * HtaData.Sec
        h.op("raw", notes) {
          (Queries.retrieveRaw(hta.raw, b, e), Queries.countRange(hta.raw, sb, se))
        } { case (raw, cnt) => (raw.collect(), cnt.collect()) } { case (raw, cnt) =>
          notes("rows") = raw.length
          val got = raw.groupBy(_.getAs[String]("metric")).map { case (k, v) => k -> v.length.toLong }
          h.expect("raw rows per metric", got, expectedScoped(b, e, planted))
          val gotCnt = cnt.map(r => r.getString(0) -> r.getLong(1)).toMap
          h.expect("count per metric", gotCnt, expectedScoped(sb, se, planted = false))
        }
      case "sql" =>
        // ladder-aligned [B, E) so RollupRouting may answer from a level
        val level = r.param
        val lb = b - Math.floorMod(b, level)
        val le = math.max(lb + level, e - Math.floorMod(e, level))
        val q = s"SELECT metric, SUM(value) AS s, COUNT(value) AS c FROM $view " +
          s"WHERE time >= $lb AND time < $le GROUP BY metric"
        h.op("sql", notes)(h.spark.sql(q))(df => (df, df.collect())) { case (df, rows) =>
          notes("rows") = rows.length
          notes("routed") = df.queryExecution.optimizedPlan.collect {
            case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
              fs.location.rootPaths.exists(_.toString.endsWith("/levels"))
          }.contains(true)
          val got = rows.map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
          val want = data.series.flatMap { s =>
            val (lo, hi) = (s.lowerBound(lb), s.lowerBound(math.min(le, horizon)))
            if (hi > lo) Some(s.name -> ((s.values.slice(lo, hi).sum +
              (if (planted) 1.0 else 0.0), (hi - lo).toLong))) else None
          }.toMap
          h.expect("sql SUM/COUNT per metric", got, want)
        }
    }
  }

  /** Loaded points per metric under the raw default scope (closed begin,
    * extended end): [b, e) plus the first point at or after e. */
  private def expectedScoped(b: Long, e: Long, planted: Boolean): Map[String, Long] =
    data.series.flatMap { s =>
      val loaded = s.lowerBound(horizon)
      val lo = s.lowerBound(b)
      val hi = math.min(s.lowerBound(e), loaded)
      val n = math.max(0, hi - lo) + (if (s.lowerBound(e) < loaded && lo < loaded) 1 else 0)
      if (n > 0) Some(s.name -> (n.toLong + (if (planted) 1 else 0))) else None
    }.toMap

  private def append(h: Harness): Unit = {
    if (horizon >= data.t0 + data.span) return
    val from = horizon
    val until = horizon + sliceNs
    val before = DiskStats.store(root)
    val df = points(h, from, until)
    val notes = mutable.Map[String, Any]("rows" -> df.count(), "trace" -> true)
    val planted = h.plant("append")
    h.op("append", notes) {
      Warehouse.append(df, root)
      reopen(h)
      val t = System.nanoTime()
      RollupRouting.install(h.spark, hta)
      notes("install_s") = (System.nanoTime() - t) / 1e9
    }(identity) { _ =>
      horizon = until
      val after = DiskStats.store(root)
      notes("files_added") = after("files").asInstanceOf[Int] - before("files").asInstanceOf[Int]
      storeLog += (Map[String, Any]("after" -> "append", "points" -> loadedPoints) ++ after)
      h.expect("raw rows after append", hta.raw.count(),
        loadedPoints + (if (planted) 1 else 0))
    }
    if (h.ops.last.cls == "append" && !h.ops.last.ok) horizon = until
  }

  /** Streams the hot metric's first points into a fresh side store. Its
    * closed level rows must equal the served store's rows for the same
    * metric and intervals (closed: ending at or before the last streamed
    * point); its raw rows must be every streamed point. */
  private def stream(h: Harness): Unit = {
    val side = s"${args.work}/serve/stream-side"
    DiskStats.delete(side)
    val spark = h.spark
    val n = streamPoints.toLong
    val notes = mutable.Map[String, Any]("points" -> n, "rows" -> n, "trace" -> true)
    val planted = h.plant("stream")
    val batches = mutable.ArrayBuffer[Map[String, Any]]()
    def source() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamSrc)
      .as(Encoders.product[Sample])
    h.op("stream", notes) {
      val queries = Seq(
        "level" -> StreamIngest.sinkToWarehouse(source(), meta, side, s"$side/_ckpt/level"),
        "raw" -> StreamIngest.sinkRawToWarehouse(source(), meta, side, s"$side/_ckpt/raw"))
      try queries.foreach(_._2.processAllAvailable())
      finally queries.foreach(_._2.stop())
      for ((sink, q) <- queries; p <- q.recentProgress if p.numInputRows > 0) {
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val state = p.stateOperators.headOption
        batches += Map("sink" -> sink, "rows" -> p.numInputRows,
          "triggerExecution_ms" -> ms("triggerExecution"), "addBatch_ms" -> ms("addBatch"),
          "queryPlanning_ms" -> ms("queryPlanning"), "walCommit_ms" -> ms("walCommit"),
          "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
          "state_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L))
      }
    }(identity) { _ =>
      notes("batches") = batches.toSeq
      h.expect("stream raw rows", spark.read.parquet(s"$side/raw").count(),
        n + (if (planted) 1 else 0))
      val last = hot.times(n.toInt - 1)
      val cols = Warehouse.levelSchema.fieldNames.map(col).toSeq
      def rows(df: DataFrame) = df.select(cols: _*).collect().map(_.toSeq).toSeq
        .groupBy(identity).map { case (r, rs) => r -> rs.size }
      val streamed = rows(Warehouse.readLevels(spark, side))
      val batch = rows(hta.levels.where(col("metric") === hot.name &&
        col("time") + col("interval") <= last))
      h.expect("stream vs batch closed level rows", streamed, batch)
    }
    DiskStats.delete(side)
  }

  def finish(h: Harness): Map[String, Any] = {
    val last = DiskStats.store(root)
    Map("store_log" -> storeLog.toSeq,
      "store_bytes_per_point" -> last("bytes").asInstanceOf[Long].toDouble / loadedPoints,
      "store_files" -> last("files"), "points" -> loadedPoints)
  }
}
