package graft.store

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A metric's first and last point time and its number of points. */
final case class MetricExtent(first: Long, last: Long, count: Long)

/** A (level, metric)'s first row time and closed end (the last row's end).
  * Rows are dense in between, one per interval: `AggOps.boundarySplit`
  * writes count-0 rows through pauses. */
final case class LevelExtent(first: Long, closedEnd: Long)

/** The store catalog: the facts the reference reads off the ends of its
  * files (src/storage/file/metric.cpp:341-345) — per metric its first and
  * last point and point count, per (level interval, metric) its first row
  * and closed end — so reads plan by arithmetic instead of scanning.
  *
  * `files` lists the raw and level files the catalog describes, relative to
  * the store root. [[Warehouse.open]] trusts the catalog only when that list
  * equals its own listing, so a catalog is exact or unused: any other writer
  * (a stream sink, a file added by hand) or a crash between the data write
  * and the catalog write leaves it unused, and the handle derives what a
  * caller asks for from the data. Ingest, append, `Warehouse.compact` and
  * `Tools.retire` write it after their data. */
final case class StoreCatalog(files: Seq[String],
                              metrics: Map[String, MetricExtent],
                              levels: Map[(Long, String), LevelExtent])

object StoreCatalog {

  private val fileName = "catalog.json"

  /** The metric half, from one raw aggregate. */
  def metricsOf(raw: DataFrame): Map[String, MetricExtent] =
    raw.groupBy("metric").agg(min("time"), max("time"), count(lit(1))).collect()
      .map(r => r.getString(0) -> MetricExtent(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  /** The level half, from one aggregate over every level partition. */
  def levelsOf(levels: DataFrame): Map[(Long, String), LevelExtent] =
    levels.groupBy("interval", "metric").agg(min("time"), max(col("time") + col("interval")))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> LevelExtent(r.getLong(2), r.getLong(3)))
      .toMap

  /** Both halves derived from `hta`'s data, with no file list. */
  def derive(hta: Hta): StoreCatalog =
    StoreCatalog(Nil, metricsOf(hta.raw), levelsOf(hta.levels))

  /** The files `tables` read, sorted, relative to `root` (the file index's
    * listing: no Spark job). */
  def filesOf(root: String, tables: DataFrame*): Seq[String] = {
    val fs = StagedCommit.fsOf(root)
    val prefix = fs.makeQualified(new Path(root)).toUri.getPath.stripSuffix("/") + "/"
    tables.flatMap(_.inputFiles).map { f =>
      val p = new Path(f).toUri.getPath
      if (p.startsWith(prefix)) p.substring(prefix.length) else f
    }.sorted
  }

  /** Replaces the catalog atomically: written beside it, then renamed in. */
  def write(spark: SparkSession, root: String, c: StoreCatalog): Unit = {
    val om = new ObjectMapper()
    val doc = om.createObjectNode()
    val files = doc.putArray("files")
    c.files.foreach(files.add)
    val ms = doc.putArray("metrics")
    for ((m, e) <- c.metrics.toSeq.sortBy(_._1))
      ms.addObject().put("metric", m).put("first", e.first).put("last", e.last)
        .put("count", e.count)
    val ls = doc.putArray("levels")
    for (((i, m), e) <- c.levels.toSeq.sortBy(_._1))
      ls.addObject().put("interval", i).put("metric", m).put("first", e.first)
        .put("closed_end", e.closedEnd)
    StagedCommit.writeSmallAtomic(StagedCommit.fsOf(root), new Path(s"$root/$fileName"),
      om.writeValueAsString(doc))
  }

  /** The catalog file's content, if the store has one. */
  def read(spark: SparkSession, root: String): Option[StoreCatalog] = {
    val p = new Path(s"$root/$fileName")
    val fs = StagedCommit.fsOf(root)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val doc = try new ObjectMapper().readTree(in) finally in.close()
      def each[T](f: String)(g: com.fasterxml.jackson.databind.JsonNode => T): Seq[T] = {
        val out = Seq.newBuilder[T]
        doc.get(f).elements().forEachRemaining(n => out += g(n))
        out.result()
      }
      Some(StoreCatalog(
        each("files")(_.asText),
        each("metrics")(n => n.get("metric").asText ->
          MetricExtent(n.get("first").asLong, n.get("last").asLong, n.get("count").asLong)).toMap,
        each("levels")(n => (n.get("interval").asLong, n.get("metric").asText) ->
          LevelExtent(n.get("first").asLong, n.get("closed_end").asLong)).toMap))
    }
  }
}
