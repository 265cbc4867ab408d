package htabench

import graft.registry.Registry
import java.util.SplittableRandom
import scala.collection.mutable

/** `pipeline`: registry queries the HTA workloads never touch. For each of
  * the eight `*Entries` families, its slowest query under 0.5 s in the
  * committed full-bench record (`BENCH_DETAIL.json`): the per-query fixed
  * overhead, leaving out queries whose stores the registry pins under a
  * fixed `/tmp` root. The seed sets the order; each pass runs the whole
  * list once and writes every result, which the DuckDB oracle then checks. */
final class Pipeline(args: Args) extends Workload {
  val queries: Seq[(String, String)] = Seq(
    "Analytics" -> "q143_quantile_map", "Ann" -> "q20_cosine_pairs",
    "Dedup" -> "q61_edit_neardup", "Hta" -> "q21_flex_route",
    "Multimodal" -> "q96_image_ahash", "Relational" -> "q178_small_qty_revenue",
    "Series" -> "q76_resample_lerp", "Text" -> "q55_encode")

  private val fns = Registry.queries
  private val order: Seq[(String, String)] = {
    val rnd = new SplittableRandom(args.seed)
    val a = queries.toArray
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
  private var data = ""
  private val results = s"${args.work}/pipeline/results"
  private var passes = 0

  def setup(h: Harness, round: Int): Unit = {
    data = s"${args.work}/pipeline/data-$round"
    DiskStats.delete(data)
    // the tables are fixed (seed 42, like the registry's testdata); the
    // workload seed only orders the queries
    TableGen.write(h.spark, data, 42L, 0.01)
    if (round > 1) DiskStats.delete(s"${args.work}/pipeline/data-${round - 1}")
  }

  /** One untimed pass, so codegen is filled before anything is timed. */
  def warmup(h: Harness): Unit =
    for ((_, q) <- order) fns(q)(h.spark, data).queryExecution.toRdd.count()

  /** Each pass writes every result under `results/<pass>/<query>`; the
    * DuckDB oracle compares them all after the run. */
  def run(h: Harness, deadlineNs: Long): Unit =
    do pass(h) while (System.nanoTime() < deadlineNs)

  /** Two passes; each query traced in one of them. */
  def runTraced(h: Harness): Unit = { pass(h); pass(h) }

  private def pass(h: Harness): Unit = {
    passes += 1
    for (((family, q), i) <- order.zipWithIndex) {
      val notes = mutable.Map[String, Any]("query" -> q, "family" -> family,
        "pass" -> passes, "trace" -> ((i + passes) % 2 == 0), "pair" -> q)
      val out = s"$results/$passes/$q"
      val planted = h.plant("pipeline")
      h.op("pipeline", notes)(fns(q)(h.spark, data)) { df =>
        df.write.mode("overwrite").parquet(out)
      } { _ =>
        val n = h.spark.read.parquet(out).count()
        notes("rows") = n
        notes("result") = out
        if (planted) h.expect(s"$q rows", n, n + 1)
      }
    }
  }

  def finish(h: Harness): Map[String, Any] = {
    val sql = Registry.oracleSql.filter { case (k, _) => queries.exists(_._2 == k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      Main.Json.writeValueAsString(sql))
    Map("passes" -> passes, "data" -> data, "oracle_sql" -> s"$results/oracle_sql.json")
  }
}
