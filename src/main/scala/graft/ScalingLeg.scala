package graft

import graft.pipeline.{Ann, Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-evidence harness (round-17 VERDICT item 3): at sf0.1 every
  * low/high-core wall-clock ratio is ≈1 — fixed per-query overhead
  * (scheduling, codegen, per-round jobs) dominates, so the bench point
  * cannot distinguish a real parallelization win from overhead shuffling.
  * This tool times one leg per operator family touched by the r16/r17
  * optimization rounds on a ×100 corpus (tools/synth_x10_organic.py
  * --factor 100: 500 k docs / 200 k embeddings), honoring
  * `SPARK_GRAFT_CPUS` exactly like the bench, so an 8-core vs 32-core run
  * pair measures whether the parallelized stages actually scale.
  *
  * Methodology matches graft.Bench: each leg's frame is fully
  * materialized via `toRdd.foreachPartition` (no sink cost), wall time is
  * min of `SPARK_GRAFT_BENCH_PASSES` (default 2 here — legs are minutes,
  * not seconds), one JSON line per leg on stdout; a leg in which any pass
  * threw prints `"ok":false` and no `wall_s`. Legs are selectable via
  * `SPARK_GRAFT_LEG_ONLY=name1,name2`.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScalingLeg /tmp/testdata_x100"
  */
object ScalingLeg {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/testdata_x100")
    val passes = GraftSession.envInt("SPARK_GRAFT_BENCH_PASSES", 2)
    val spark = GraftSession.local()
    val cpus = spark.sparkContext.defaultParallelism.toString

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val only = sys.env.get("SPARK_GRAFT_LEG_ONLY")
      .map(_.split(',').map(_.trim).toSet)

    def run(name: String)(body: => DataFrame): Unit = {
      if (only.exists(!_.contains(name))) return
      val timed = Bench.passes(name, passes, floor = None) { () =>
        spark.sparkContext.setJobDescription(s"scalingleg: $name")
        try body.queryExecution.toRdd.foreachPartition(
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
            while (it.hasNext) it.next())
        finally spark.sparkContext.setJobDescription(null)
      }
      println(legLine(name, cpus, timed))
    }

    // shingle/gram family (r16 finding B: doc_id exchange before the
    // token explode) — q197/q23/q15 shape
    run("shingle_agg") {
      Dedup.shingleHashRows(docs, n = 3)
        .groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    }
    // winnow fingerprint family — q161/q166 shape
    run("winnow") {
      TextOps.winnowFingerprints(docs, n = 8, w = 4)
        .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    }
    // pair tier end-to-end (band + verify fan-out, q187 knee-rule
    // geometry) — the verify tier's pinParallelism is what r16 added
    run("neardup_pairs") {
      Dedup.nearDupPairs(docs, threshold = 0.9)
    }
    // iterative clustering over a deterministic 500 k-vertex tree
    // (diameter ~19 → pointer jumping converges in ~5 rounds); exercises
    // the r17 dst-partitioned persist + measured-broadcast rounds
    run("cc_rounds") {
      val edges = docs.select(col("doc_id").as("doc_a"),
          (col("doc_id") / 2).cast("long").as("doc_b"))
        .where(col("doc_id") > 0)
      Dedup.connectedComponents(edges)
    }
    // PageRank over a two-level hub graph derived from doc ids — the r17
    // dst-partitioned edge frame + per-round broadcast routing
    run("pagerank") {
      val e = docs.select(col("doc_id").as("src"),
        pmod(col("doc_id"), lit(1000L)).as("dst"))
      graft.pipeline.Graph.pageRank(e, iters = 5)
    }
    // PQ encode + ADC scan (r17 minimal-arithmetic form) over the ×100
    // embedding table
    run("pq_encode") {
      Ann.pqTopK(emb.where(col("vec_id") < 3), emb, k = 5, m = 4, ksub = 16)
    }
    // codegen'd IVF assignment (graft_ivf_argmin) over the ×100 table
    run("ivf_assign") {
      Ann.ivfAssignWithDist(emb, Ann.ivfCentroids(emb, 16))
    }
    // semanticDedup at the scale-correct auto geometry — the r17 ×100
    // probe for VERDICT item 7: lazy 3×-re-evaluated assigned frame (the
    // r16 bench-point winner) vs one pinned materialization, toggled by
    // spark.graft.semanticDedup.materializeAssigned
    run("semdedup_lazy") {
      spark.conf.set("spark.graft.semanticDedup.materializeAssigned", "false")
      Dedup.semanticDedup(docs, tauNum = 19L, tauDen = 20L, dim = 64)
    }
    run("semdedup_mat") {
      spark.conf.set("spark.graft.semanticDedup.materializeAssigned", "true")
      val out = Dedup.semanticDedup(docs, tauNum = 19L, tauDen = 20L, dim = 64)
      spark.conf.set("spark.graft.semanticDedup.materializeAssigned", "false")
      out
    }
    spark.stop()
  }

  private def round2(t: Double): Double = math.round(t * 100) / 100.0

  /** One leg's JSON line: `"ok":false` and no `wall_s` when any pass threw
    * (a thrown pass has no time: `null` in `passes`), else `wall_s` is the
    * fastest pass. */
  def legLine(name: String, cpus: String, passes: Seq[Option[Double]]): String = {
    val ok = passes.forall(_.isDefined)
    val wall = if (ok) s""""wall_s":${round2(passes.flatten.min)},""" else ""
    s"""SCALINGLEG {"leg":"$name","cpus":$cpus,"ok":$ok,$wall""" +
      s""""passes":[${passes.map(_.fold("null")(t => round2(t).toString)).mkString(",")}]}"""
  }
}
