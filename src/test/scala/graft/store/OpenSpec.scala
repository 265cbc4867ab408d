package graft.store

import graft.SparkSpec
import graft.model.Meta
import org.apache.spark.sql.types.LongType

/** `Warehouse.open` reads the store with its declared schemas: no Spark job,
  * partition columns as long however small their values. */
class OpenSpec extends SparkSpec {

  test("open runs no Spark job") {
    val root = tmpDir("open_jobs")
    Warehouse.ingest(fixtureDf, Meta(10 * S, 1000 * S, 10), root)
    var hta: Hta = null
    assert(jobsOf { hta = Warehouse.open(spark, root) } === 0)
    assert(hta.raw.count() === fixture110.length)
    assert(hta.catalog.map(_.metrics.keySet) === Some(Set("foo")))
  }

  test("small tb and interval values read as long") {
    // ns-scale ladder near the epoch: every partition value fits an int
    val root = tmpDir("open_small")
    val hta = Warehouse.ingest(
      pointsDf((1L to 40L).map(t => t * 7 -> (t % 5).toDouble)), Meta(10L, 1000L, 10), root)
    assert(hta.raw.schema("tb").dataType === LongType)
    assert(hta.levels.schema("interval").dataType === LongType)
    assert(hta.levels.where("interval = 10").count() > 0)
  }

  test("a store whose span closes no interval opens with empty levels") {
    val root = tmpDir("open_empty")
    Warehouse.ingest(pointsDf(Seq(tp(23) -> 42.0, tp(25) -> 1.0)),
      Meta(10 * S, 1000 * S, 10), root)
    val hta = Warehouse.open(spark, root)
    assert(hta.levels.schema === Warehouse.levelSchema)
    assert(hta.levels.count() === 0L)
    assert(hta.raw.count() === 2L)
  }
}
