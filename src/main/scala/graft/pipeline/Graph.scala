package graft.pipeline

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge-list DataFrames.
  *
  * Connected components (the dedup-cluster workhorse) lives in
  * [[Dedup.connectedComponents]] / [[Dedup.connectedComponentsStars]];
  * this object holds the rank/centrality side. Everything here is kept in
  * EXACT INTEGER arithmetic so results are bit-reproducible across engines
  * (the hash-compared oracle gate) and across cluster re-runs: a
  * floating-point PageRank sums contributions in shuffle-arrival order,
  * and float addition is not associative — two runs of the same job can
  * legitimately disagree in the last ulp, which a hash compare fails.
  * Scaled-integer ranks sum identically under ANY ordering.
  */
object Graph {

  /** PageRank by fixed-iteration power method in scaled-integer
    * arithmetic. Ranks are maintained as `rank_scaled = round-down of
    * rank * scale`; one iteration is
    *
    *   contrib(v) = sum over in-neighbours u of (rank(u) div outdeg(u))
    *   rank'(v)   = ((scale - damp) * scale) div scale
    *                + (damp * contrib(v)) div scale
    *
    * with every division an INTEGER floor-div — monotone in the same
    * direction as the real-valued recurrence and within ~iters ulps-of-
    * scale of it (mass lost to floor-div simply damps slightly harder),
    * but exactly reproducible: integer sums are order-independent, so the
    * shuffle's nondeterministic arrival order cannot change a single bit.
    * Dangling vertices (no out-edges) keep receiving the teleport term but
    * redistribute nothing — the "drop dangling mass" variant, documented
    * over the redistribute-uniformly variant because it needs no extra
    * global aggregate per round.
    *
    * Shape at scale: the degree-annotated edge list is built ONCE
    * (edge-sized, one groupBy shuffle) and locally checkpointed — each of
    * the `iters` rounds is then one src-keyed join (rank frame is
    * vertex-sized; AQE broadcasts it when small), one dst-keyed partial-
    * aggregated sum shuffle, and one vertex-sized left join. Per-round
    * results are locally checkpointed, NOT persisted: the iterated frame
    * otherwise doubles the logical plan per round (the spec-pinned
    * connectedComponents lesson), and checkpoint blocks free on GC where
    * CacheManager entries would pin until an unpersist no caller can
    * issue. The edge frame — the only corpus-scale object — is never
    * re-derived inside the loop.
    *
    * @param edges directed edge list; pass both directions for an
    *              undirected graph
    * @param iters fixed iteration count (power-method rounds)
    * @param scale rank fixed-point scale (default 1e6: rank 1.0 = 1000000)
    * @param damp  damping numerator out of `scale` (default 0.85)
    * @return (node, rank_scaled) for every vertex incident to an edge
    */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
               iters: Int = 5, scale: Long = 1000000L,
               damp: Long = 850000L): DataFrame = {
    require(iters >= 1 && scale > 0 && damp >= 0 && damp <= scale)
    import org.apache.spark.storage.StorageLevel
    val spark = edges.sparkSession
    val e = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("_deg"))
    // degree-annotated edges: built once, reused every round. Partitioned
    // by DST and PERSISTED (r17, guide §2.4): every round's contribution
    // aggregate groups by dst, so when the rank side of the per-round
    // join broadcasts (below), the join preserves this partitioning and
    // the groupBy(dst) plans with NO exchange — one edge-sized shuffle at
    // build time replaces one per iteration (profiled at sf0.1: 13.8 MB
    // × 5 rounds, and under AQE the runtime SMJ→BHJ conversion still
    // paid the per-round shuffle WRITE). persist, not localCheckpoint:
    // an eager checkpoint under AQE reports UnknownPartitioning (probed
    // r17), while a cached plan keeps its output partitioning
    // (canChangeCachedPlanOutputPartitioning defaults to false). The
    // partition count is the session's shuffle.partitions —
    // scale-adaptive, not a local constant. Unpersisted before return.
    val ed = e.join(deg, "src").repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // vertex count rides the nodes checkpoint (zero extra jobs) and
    // routes the per-round vertex-sized join sides: an explicit broadcast
    // under the cap (the static planner never sees a usable estimate for
    // checkpointed frames — the q180/routePairFrame lesson applied in
    // reverse), a plain shuffle join above it, so the 100 TB vertex set
    // can never be collected into the driver on an estimate.
    val (nodes, nVerts) = Dedup.checkpointWithStat(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct(), count(lit(1)))(_.count())
    val maxBcVerts = GraftSession.confLong(spark, "spark.graft.maxBroadcastVertices", 4000000L)
    val vertexSide: DataFrame => DataFrame =
      if (nVerts <= maxBcVerts) broadcast else identity
    val teleport = ((scale - damp) * scale) / scale
    // Per-round eager checkpoints keep plan depth constant. (r16
    // optimization note: chaining all rounds into one lazy plan — `rank`
    // is single-referenced, so depth only grows linearly — was MEASURED
    // 6x SLOWER at sf0.1: the un-materialized rank side loses its runtime
    // size, the per-round joins fall back to shuffle joins on estimates,
    // and the edge frame re-shuffles every round. Kept per-round.)
    var rank = nodes.withColumn("rank_scaled", lit(scale))
    for (_ <- 1 to iters) {
      val contrib = ed
        .join(vertexSide(rank.select(col("node").as("src"), col("rank_scaled"))),
          "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank_scaled div _deg")).as("_c"))
      rank = nodes.join(vertexSide(contrib), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"($damp * coalesce(_c, 0L)) div $scale")).as("rank_scaled"))
        .localCheckpoint()
    }
    ed.unpersist()
    rank
  }

  /** Exact per-vertex triangle counts by degree-ordered orientation
    * (Schank & Wagner 2005 "forward" / compact-forward of Latapy 2008).
    *
    * The undirected edge set is canonicalized (u < v, distinct) and each
    * edge oriented from the endpoint that is SMALLER under the total order
    * (degree, node-id) toward the larger. In the resulting DAG a triangle
    * {x,y,z} with x < y < z in that order appears as exactly the edge
    * triple x→y, y→z, x→z — so one wedge join (on the middle vertex) plus
    * one closing semi-check counts every triangle once, no /6 or /3
    * dedup division.
    *
    * Why degree ordering and not node-id: it bounds every vertex's
    * OUT-degree by O(√m) on arbitrary graphs (a vertex keeps only edges
    * toward higher-degree peers), so the wedge join's output — the one
    * super-linear frame — is O(m^1.5) worst-case instead of
    * O(Σ deg²), and the hub vertices that make co-occurrence graphs
    * skewed contribute IN-edges only. Shape at scale: two edge-sized
    * degree joins build the oriented list once; the wedge join shuffles
    * on the middle vertex (out-degree-bounded partitions), the closing
    * join on the (low, high) edge key; the per-node rollup is
    * vertex-sized with map-side combine. Nothing is collected.
    *
    * Determinism: counts are integers and the orientation is a pure
    * function of the edge set, so results are bit-stable under any
    * partitioning or arrival order.
    *
    * @param edges undirected edge list (either or both directions;
    *              self-loops dropped, duplicates collapsed)
    * @return (node, n_tri): triangle participation count per vertex that
    *         closes at least one triangle
    */
  def triangleCounts(edges: DataFrame, src: String = "src",
                     dst: String = "dst"): DataFrame = {
    val e0 = edges
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val deg = e0.select(col("u").as("node"))
      .unionByName(e0.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val ann = e0
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = ann.select(
      when(fwd, col("u")).otherwise(col("v")).as("a"),
      when(fwd, col("v")).otherwise(col("u")).as("b"))
    val e1 = o.select(col("a").as("x"), col("b").as("y"))
    val e2 = o.select(col("a").as("y"), col("b").as("z"))
    val e3 = o.select(col("a").as("x"), col("b").as("z"))
    val tri = e1.join(e2, "y").join(e3, Seq("x", "z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Multi-source BFS shortest-path distances over an UNWEIGHTED directed
    * edge list: (node, dist) for every vertex reachable from any source
    * within `maxDepth` hops, dist = the minimum hop count (sources are
    * dist 0). Pass both edge directions for an undirected graph.
    *
    * Frontier expansion, the scalable BFS shape: round d joins only the
    * CURRENT frontier (vertices first reached at d−1) against the edge
    * list, then anti-joins the visited set — so each round's work is
    * (frontier out-edges + visited-set probe), and over the whole run
    * every edge is scanned at most once per endpoint discovery, never
    * O(V·E) like iterated full relaxation. The edge frame is checkpointed
    * once; per-round frames are vertex-sized and locally checkpointed
    * (the plan-doubling lesson from connectedComponents). Rounds are
    * O(diameter) — right for the short-diameter co-occurrence/bipartite
    * graphs this engine builds; `maxDepth` is the explicit contract, so
    * callers on adversarial diameters choose their bound.
    *
    * Determinism: dist is the unique BFS level — independent of edge
    * arrival order, partitioning, or tie-breaks. */
  def bfsDistances(edges: DataFrame, sources: Seq[Long],
                   src: String = "src", dst: String = "dst",
                   maxDepth: Int = 16): DataFrame = {
    require(sources.nonEmpty, "need at least one source vertex")
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    import org.apache.spark.storage.StorageLevel
    // edge frame partitioned by _s and PERSISTED (r17): each round joins
    // the frontier on _s, and the frontier side broadcasts under the
    // measured vertex cap (below) — the join then preserves this
    // partitioning and pays NO edge shuffle per round (same pattern as
    // pageRank/connectedComponents; localCheckpoint under AQE loses the
    // partitioning). Unpersisted before return.
    val e = edges.select(col(src).as("_s"), col(dst).as("_d"))
      .distinct().repartition(col("_s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    import spark.implicits._
    // sources restricted to vertices that exist in the graph keeps the
    // output contract "vertices of the graph", matching an SQL oracle
    // that walks the edge list
    val verts = e.select(col("_s").as("node"))
      .unionByName(e.select(col("_d").as("node"))).distinct()
    // distinct: duplicate source ids must not multiply the dist-0 rows
    var dist = verts.join(sources.distinct.toDF("node"), "node")
      .withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = dist
    var d = 0L
    var frontierSize = frontier.count()
    // frontier/visited sides are vertex-BOUNDED: explicit broadcast under
    // the measured cap (checkpointed frames carry no usable estimate for
    // the static planner), plain joins above it — never an
    // estimate-driven driver collect at 100 TB vertex counts
    val maxBcVerts = GraftSession.confLong(spark, "spark.graft.maxBroadcastVertices", 4000000L)
    def vertexSide(df: DataFrame, rows: Long): DataFrame =
      if (rows <= maxBcVerts) broadcast(df) else df
    // the frontier size rides the frontier's checkpoint materialization
    // (Dedup.checkpointWithStat) instead of a per-round count() action.
    // (r16 optimization note: replacing the accumulated visited-set
    // checkpoint with a lazy union of per-round legs was MEASURED SLOWER
    // — 3.0 -> 3.5 s at sf0.1 — the per-round anti-join over a growing
    // union re-plans worse than one cached frame; kept as-is.)
    var distSize = frontierSize
    while (frontierSize > 0 && d < maxDepth) {
      d += 1
      val (next, n) = Dedup.checkpointWithStat(
        vertexSide(frontier, frontierSize)
          .join(e, frontier("node") === e("_s"))
          .select(col("_d").as("node")).distinct()
          .join(vertexSide(dist, distSize), Seq("node"), "left_anti")
          .withColumn("dist", lit(d)),
        count(lit(1)))(_.count())
      frontierSize = n
      distSize += n
      if (frontierSize > 0) dist = dist.unionByName(next).localCheckpoint()
      frontier = next
    }
    e.unpersist()
    dist
  }

  /** Per-vertex degree summary of a directed edge list: out-degree,
    * in-degree, and total. One shuffle per direction over edge-sized
    * frames, vertex-sized output. */
  def degrees(edges: DataFrame, src: String = "src",
              dst: String = "dst"): DataFrame = {
    val out = edges.groupBy(col(src).as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col(dst).as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("total_deg", col("out_deg") + col("in_deg"))
  }
}
