package graft.plans

import graft.{SparkSpec, SparkTestSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}

/** Inventory enforcement for unpartitioned windows: WindowExec's
  * all-to-one warning is silenced at the session ([[graft.GraftSession]]
  * — the adjudicated frames are answer-sized by construction and a
  * constant partition key cannot express that: the optimizer's
  * EliminateWindowPartitions removes foldable specs), so this spec is
  * the guarantee the log line used to hint at: every registered query
  * that PLANS a window with an empty partitionSpec must be on the
  * adjudicated list below, each entry justified by the bounded frame it
  * ranks. A new offender fails the build instead of logging a warning
  * nobody reads. */
class UnpartitionedWindowAuditSpec extends SparkSpec {

  /** Queries adjudicated to carry unpartitioned windows over frames
    * bounded by construction (never corpus-sized). */
  private val adjudicated: Map[String, String] = Map(
    "q92_rrf_fuse" -> "two TakeOrdered-cut 100-row rankings, ranked after the cut",
    "q176_hybrid_search" -> "20-row lexical + ANN rankings, ranked after the cut",
    "q55_encode" -> "vocabulary rank: <= max(ks)-row frequency cut",
    "q167_vocab_coverage" -> "TakeOrdered-limited vocabulary coverage frame",
    "q135_ranking_agreement" -> "two answer-sized rankings under comparison",
    "q142_temperature_mix" -> "cumulative sqrt-weight normalizer over the source-mixture table (tens of rows)",
    "q144_partition_balance" -> "one row per partition of the layout under audit",
    "q148_slo_burn" -> "hourly grid carry: (end-begin)/1h rows, aggregated before the window")

  test("only adjudicated queries plan unpartitioned windows") {
    def hasUnpartitioned(p: LogicalPlan): Boolean =
      p.collectWithSubqueries {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty
    val offenders = SparkTestSession.registered.toSeq.flatMap { case (name, df) =>
      if (hasUnpartitioned(df.queryExecution.optimizedPlan)) Some(name)
      else None
    }
    val unexpected = offenders.filterNot(adjudicated.contains)
    val stale = adjudicated.keys.toSeq.filterNot(offenders.contains)
    assert(unexpected.isEmpty,
      s"queries planning UNADJUDICATED unpartitioned windows: $unexpected")
    assert(stale.isEmpty,
      s"adjudicated entries no longer planning one (prune them): $stale")
  }
}
