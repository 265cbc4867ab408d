package graft.plans

import graft.{SparkSpec, SparkTestSession}
import PlanShapeSpec._

/** The plan claims of the registered queries, asserted: one row per
  * registered query names the claim its implementation documents and the
  * facts of its physical plan (sf0.001, the shared test session) that carry
  * it. Facts are read from the formatted explain string and hold whatever
  * the broadcast threshold picks: which keys the aggregate and window
  * exchanges partition on, literal vs join, top-k vs global sort, equi vs
  * product joins, scans and pushed filters. A broadcast-vs-shuffle choice
  * is never asserted — at sf0.001 the session broadcasts almost every join.
  *
  * Claims about store probes, and claims a spec already asserted, stay in
  * their owning specs (ScopeMatrixSpec, RetrieveFlexSpec, TelescopeSpec,
  * RestoreSpec, RollupRoutingSpec, PipelineSpec, TextIndexSpec, ...). */
class PlanShapeSpec extends SparkSpec {

  /** One formatted physical plan, parsed into its tree lines and the
    * per-node detail blocks. */
  final class Plan(val text: String) {
    private val tree: Vector[Node] = text.split("\n\n\n")(0).linesIterator
      .map(_.trim.replaceAll("^[\\s:+\\-*|]*", ""))
      .collect { case TreeLine(op, id) => Node(op.trim, id) }.toVector

    private val details: Map[String, String] = Detail.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap

    private def arg(n: Node, key: String): Option[String] =
      details.get(n.id).flatMap(b => (key + "(.*)").r.findFirstMatchIn(b).map(_.group(1)))

    private def isExchange(n: Node) = n.op.split(' ').head == "Exchange"

    /** "metric,cents" for hashpartitioning(metric, cents, n), "range(a,b)"
      * for a range shuffle, "single", "roundrobin". */
    private def partitioning(n: Node): String = {
      val a = arg(n, "Arguments: ").getOrElse("")
      val s = Hash.findFirstMatchIn(a).map(_.group(1))
        .orElse(Range.findFirstMatchIn(a).map(m =>
          "range(" + m.group(1).replaceAll(" (ASC|DESC) NULLS (FIRST|LAST)", "") + ")"))
        .getOrElse(if (a.startsWith("SinglePartition")) "single"
          else if (a.startsWith("RoundRobin")) "roundrobin" else a)
      s.replace(", ", ",")
    }

    /** Tree positions of the shuffles, less the registry's output ordering
      * (the range shuffle under the root Sort). */
    private val shuffleAt: Vector[Int] = {
      val output = tree.lift(1).exists(_.op == "Sort") &&
        tree.lift(2).exists(n => isExchange(n) && partitioning(n).startsWith("range("))
      tree.indices.filter(i => isExchange(tree(i)) && !(output && i == 2)).toVector
    }

    val shuffles: Seq[String] = shuffleAt.map(i => partitioning(tree(i)))

    /** Every shuffle reads an aggregate's output: no raw rows move. */
    val preAggregated: Boolean = shuffleAt.forall(i =>
      tree.lift(i + 1).exists(_.op.split(' ').head.endsWith("Aggregate")))

    val globalSort: Boolean =
      tree.exists(n => isExchange(n) && partitioning(n).startsWith("range("))

    /** Left and right key lists of every equi-join. */
    val joinKeys: Seq[String] = tree.filter(_.op.split(' ').head.endsWith("Join"))
      .flatMap(n => Seq("Left keys \\[\\d+\\]: \\[", "Right keys \\[\\d+\\]: \\[")
        .flatMap(k => arg(n, k)).map(_.stripSuffix("]").replace(", ", ",")))

    val joins: Int =
      tree.count(n => n.op.split(' ').head.endsWith("Join") || n.op == "CartesianProduct")

    def count(op: String): Int = countOps(text, op)
  }

  /** A fact is a check of one plan: None when it holds, else what failed. */
  type Fact = Plan => Option[String]

  private def fact(ok: Plan => Boolean, what: => String): Fact =
    p => if (ok(p)) None else Some(what)

  /** Exactly these shuffles, in any order (the output ordering aside). */
  private def shuffles(keys: String*): Fact = p =>
    if (p.shuffles.sorted == keys.sorted) None
    else Some(s"shuffles ${p.shuffles.mkString("[", "; ", "]")}, expected ${keys.mkString("[", "; ", "]")}")
  private def shuffledOn(keys: String): Fact = p =>
    if (p.shuffles.contains(keys)) None else Some(s"no shuffle on ($keys): ${p.shuffles}")
  private def allShuffledOn(keys: String): Fact = p =>
    if (p.shuffles.nonEmpty && p.shuffles.forall(_ == keys)) None
    else Some(s"shuffles ${p.shuffles}, expected every one on ($keys)")
  private val preAggregated: Fact =
    fact(_.preAggregated, "a shuffle moves rows that no aggregate has reduced")
  private val noGlobalSort: Fact = fact(!_.globalSort, "a range-partitioned global sort")
  private def joinOn(keys: String): Fact = p =>
    if (p.joinKeys.contains(keys)) None else Some(s"no join keyed ($keys): ${p.joinKeys}")
  private def allJoinsOn(keys: String): Fact = p =>
    if (p.joinKeys.nonEmpty && p.joinKeys.forall(_ == keys)) None
    else Some(s"join keys ${p.joinKeys}, expected every join on ($keys)")
  private def joins(n: Int): Fact = p =>
    if (p.joins == n) None else Some(s"${p.joins} joins, expected $n")
  private def ops(op: String, n: Int): Fact = p =>
    if (p.count(op) == n) None else Some(s"${p.count(op)} × $op, expected $n")
  private def atLeast(op: String, n: Int): Fact = p =>
    if (p.count(op) >= n) None else Some(s"${p.count(op)} × $op, expected at least $n")
  private def absent(op: String*): Fact = p =>
    op.find(p.count(_) > 0).map(o => s"plans $o")
  private val noProductJoin: Fact = absent("CartesianProduct", "BroadcastNestedLoopJoin")
  private def scans(n: Int): Fact = ops("Scan parquet", n)
  private def mentions(re: String): Fact =
    fact(p => re.r.findFirstIn(p.text).isDefined, s"nothing matches /$re/")
  private def notMentions(re: String): Fact =
    fact(p => re.r.findFirstIn(p.text).isEmpty, s"matches /$re/")

  private final class Row(val query: String, val claim: String, val facts: Seq[Fact])
  private def row(query: String, claim: String)(facts: Fact*) = new Row(query, claim, facts)

  private val rows = Seq(
    row("q07_level_1h", "the level build shuffles only on metric: the " +
      "(metric, bucket) aggregate rides the lag window's exchange")(
      allShuffledOn("metric")),
    row("q15_dedup_neardup", "the verify tier reads the checkpointed " +
      "signature and candidate frames: no corpus re-scan, no corpus-sized cache")(
      scans(0), absent("InMemoryTableScan")),
    row("q38_simhash_banded", "ONE (band, bkey) groupBy shuffle and no " +
      "self-join: pairs come from the capped bucket explode")(
      shuffles("doc_id", "band,bkey", "a,b"), joins(0)),
    row("q48_jaccard_join", "prefix-only equi-join: the gram frame is never " +
      "self-joined as a product and never cached")(
      noProductJoin, absent("InMemoryTableScan")),
    row("q49_neardup_clusters", "the corpus is read once, for the final " +
      "equi-join against the checkpointed component map")(
      scans(1), noProductJoin),
    row("q184_neardup_index", "no corpus documents scan anywhere in the probe plan")(
      notMentions("documents\\.parquet")),
    row("q52_line_dedup", "one (line-hash, doc) distinct, one line-hash " +
      "frequency shuffle, an anti join on the 8-byte key, one doc_id reassembly")(
      shuffles("lh,doc_id", "lh", "doc_id"), preAggregated, joinOn("lh")),
    row("q53_curate", "one content-hash window exchange, repetition's single " +
      "gram shuffle, doc-keyed flag joins only")(
      shuffles("content_hash", "doc_id"), allJoinsOn("doc_id")),
    row("q54_quantiles", "EXACTLY two exchanges: the (metric, cents) " +
      "partial-agg histogram, then one metric exchange shared by both windows")(
      shuffles("metric,cents", "metric"), preAggregated),
    row("q55_encode", "the exploded token stream never shuffles: the only " +
      "shuffle is the vocabulary count")(
      shuffles("token"), preAggregated),
    row("q56_pagerank", "the final ranks are a checkpoint block: no scan, " +
      "the degree groupBy is not re-derived")(
      scans(0), absent("HashAggregate")),
    row("q58_retention", "EXACTLY the minimal shuffles: one user min-agg, one " +
      "(cohort, offset, user) distinct and its count; the cohort map joins back user-keyed")(
      shuffles("user_id", "_cohort,_groupingexpression,user_id", "_cohort,_groupingexpression"),
      preAggregated, joinOn("user_id")),
    row("q59_decontaminate_bloom", "the gram stream is filtered by the Bloom " +
      "probe; a left-semi verify join removes false positives")(
      mentions("might_contain\\("), atLeast("LeftSemi", 1)),
    row("q60_probe_meta", "ZERO shuffles: container parsing is a narrow " +
      "per-partition projection")(
      shuffles()),
    row("q61_edit_neardup", "one band-keyed window exchange per side; the " +
      "banded levenshtein(…, threshold) sits in the equi-join's condition")(
      shuffles("_bk", "_bk"), noProductJoin, mentions("levenshtein\\([^)]*, Some\\(\\d+\\)\\)")),
    row("q62_heavy_hitters", "the candidate filter sits below the partial " +
      "aggregate: only candidate rows reach the one exchange")(
      shuffles("value"), preAggregated, mentions("Condition : token (INSET|IN) ")),
    row("q64_dup_spans", "8-byte keys everywhere: the doc_id lead-window " +
      "exchange, one gram groupBy, a left-semi gram join")(
      shuffles("doc_id", "doc_id", "gram"), atLeast("LeftSemi", 1), joinOn("gram")),
    row("q65_search", "the query-term filter sits on the exploded scan; " +
      "the top-k is TakeOrderedAndProject, never a global sort")(
      ops("TakeOrderedAndProject", 1), noGlobalSort, mentions("Condition : token (INSET|IN) ")),
    row("q67_m4_downsample", "ONE (metric, bucket) partial-agg exchange")(
      shuffles("metric,bucket"), preAggregated),
    row("q69_resample", "one metric-keyed window exchange for the " +
      "union-and-carry; the grid is generated, never joined per point")(
      shuffles("metric", "metric"), joins(0)),
    row("q70_mad_outliers", "histogram-sized selection exchanges (q54's " +
      "shape): the corpus never shuffles wide")(
      shuffles("metric,cents", "metric", "metric,cents", "metric", "metric,cents", "metric"),
      preAggregated),
    row("q71_hysteresis", "ONE metric-keyed window exchange shared by the " +
      "fill and lag windows")(
      shuffles("metric")),
    row("q78_triangles", "the wedge join is keyed on the middle vertex, the " +
      "closing join on the (x, z) edge; the per-node rollup partial-aggregates")(
      joinOn("y"), joinOn("x,z"), noProductJoin, shuffledOn("node")),
    row("q79_hamming_topk", "the per-query top-k window is the only " +
      "exchange: the corpus never shuffles")(
      shuffles("qid")),
    row("q84_encoding_cost", "ONE metric window exchange carries both lags " +
      "and the per-metric rollup")(
      shuffles("metric")),
    row("q89_pq_topk", "code assignment is a literal projection (no codebook " +
      "join); only the top-k window exchanges")(
      shuffles("qid"), joins(1)),
    row("q91_sliding_hll", "the corpus moves only as daily register partial " +
      "aggregates; the grid join and merge run on register-sized frames")(
      shuffles("metric,_day", "metric,_day,_j", "metric,day,_j", "metric,day"), preAggregated),
    row("q93_profile", "ONE stack projection over ONE scan, no Expand; one " +
      "(column, value) partial-agg exchange and a column-sized rollup")(
      scans(1), absent("Expand"), mentions("stack\\("),
      shuffles("col_name,lv,sv,vk", "col_name")),
    row("q96_image_ahash", "decode and hash are one narrow mapPartitions: no exchange")(
      shuffles(), atLeast("MapPartitions", 1)),
    row("q99_bm25", "the token stream is filtered to the query terms and " +
      "shuffles only reduced; the cut is TakeOrderedAndProject, never a global sort")(
      mentions("Condition : token (INSET|IN) "), preAggregated,
      ops("TakeOrderedAndProject", 1), noGlobalSort),
    row("q104_hdr_quantiles", "ONE partial-agg exchange to register rows " +
      "(keys, _b); the cumulative windows run over register partitions")(
      shuffles("source,_b", "source"), preAggregated),
    row("q105_collocations", "a doc-keyed window exchange for the lead, one " +
      "(w1, w2) partial-agg shuffle, unigram joins, a TakeOrderedAndProject cut")(
      shuffledOn("doc_id"), shuffledOn("_w,_w2"), joinOn("w1"), joinOn("w2"),
      ops("TakeOrderedAndProject", 1), noGlobalSort),
    row("q126_epoch_shuffle", "no single-partition window: zipWithIndex adds the offsets")(
      absent("Window"), shuffles()),
    row("q128_embedding_stats", "posexplode is narrow over the scan; ONE " +
      "dim-keyed partial-agg exchange")(
      mentions("posexplode\\("), shuffles("dim"), preAggregated),
    row("q129_dict_tags", "the dictionary is a plan literal: no join, no " +
      "broadcast; one (doc, tag) partial-agg shuffle")(
      joins(0), ops("BroadcastExchange", 0), shuffles("doc_id,tag"), preAggregated),
    row("q130_linear_trend", "ONE metric-keyed partial-agg exchange; x " +
      "centering is a literal, no first pass")(
      shuffles("metric"), preAggregated, scans(1)),
    row("q131_phrase_search", "postings are filtered to the phrase terms " +
      "before the first exchange; the chain joins are equi on (doc_id, pos)")(
      mentions("Condition : \\(?tok (INSET|IN) "), joinOn("doc_id,pos"),
      shuffles("doc_id"), preAggregated),
    row("q132_join_probe", "two per-key partial-agg exchanges, one " +
      "key-cardinality join, a TakeOrderedAndProject cut")(
      shuffles("user_id", "user_id"), preAggregated, joins(1), ops("TakeOrderedAndProject", 1)),
    row("q133_autocorr", "grid partial-agg exchanges, then a grid-sized " +
      "equi self-join on (metric, lagged bucket), never corpus²")(
      preAggregated, noProductJoin, joinOn("metric,jb")),
    row("q134_rank_normalize", "a histogram exchange and histogram-partition " +
      "windows; the rank table joins back on (source, value)")(
      shuffles("source,_groupingexpression", "source"), preAggregated, joinOn("source,_v")),
    row("q135_ranking_agreement", "both rankings are cut by TakeOrdered before the window")(
      ops("TakeOrderedAndProject", 2)),
    row("q136_fd_check", "nothing corpus-sized shuffles: every exchange " +
      "reads a partial aggregate")(
      preAggregated),
    row("q137_hard_negatives", "the label-mismatch predicate sits in the " +
      "join; the per-query top-k window is the only exchange")(
      shuffles("qid"), mentions("NOT \\(q_label = neg_label\\)")),
    row("q138_seasonal_outliers", "the baseline joins back on (metric, " +
      "hour); the corpus never shuffles whole")(
      preAggregated, joinOn("metric,hour")),
    row("q139_leak_safe_split", "the fingerprint pass's doc-keyed exchange, " +
      "then the split label as a narrow projection")(
      shuffles("doc_id")),
    row("q140_deletion_audit", "subject keys and one scalar fold per table; " +
      "every shuffle is reduced")(
      shuffles("_k", "single", "_k", "single", "o_custkey", "_k", "single"), preAggregated),
    row("q141_interarrival_hist", "ONE metric-keyed window exchange; the " +
      "bit-length bucket has no float log")(
      shuffles("metric"), notMentions("\\blog\\w*\\(")),
    row("q142_temperature_mix", "one source partial-agg exchange; the windows " +
      "run on the source-cardinality frame")(
      shuffles("source", "single")),
    row("q143_quantile_map", "per-source and pooled histogram exchanges off " +
      "the scan; the mapping pass is narrow")(
      shuffles("source,_groupingexpression", "source", "_v", "_qb"), joinOn("source,_v")),
    row("q144_partition_balance", "ONE nParts-row partial-agg exchange; " +
      "exactly one Scan parquet with a single-column ReadSchema")(
      shuffles("part", "single"), scans(1), mentions("(?m)^ReadSchema: struct<[^,]*>$")),
    row("q145_robust_trend", "ONE (metric, bucket, cents) histogram " +
      "exchange; median windows over histogram partitions")(
      shuffles("metric,bucket,cents", "metric,bucket", "metric"), preAggregated),
    row("q146_frequent_paths", "TWO leads over ONE user-keyed window " +
      "exchange; a trigram groupBy; a TakeOrderedAndProject cut")(
      shuffles("user_id", "e1,e2,e3"), ops("Window", 1), ops("TakeOrderedAndProject", 1)),
    row("q147_seasonal_impute", "bucket and hour histograms off the scan; " +
      "grid-sized joins")(
      shuffles("metric", "metric,bucket,cents", "metric,bucket", "metric,hour,cents", "metric,hour")),
    row("q148_slo_burn", "one (bucket) partial-agg exchange; the trailing " +
      "windows run over grid rows")(
      shuffles("bucket", "single")),
    row("q149_uptime", "one metric window exchange and a per-metric fold, nothing else")(
      shuffles("metric")),
    row("q150_mix_drift", "(day, type) partial-agg exchanges only: the " +
      "corpus never shuffles")(
      preAggregated),
    row("q151_theilsen_trend", "corpus histogram exchanges; the pairwise " +
      "stage works over medians; nothing corpus-sized shuffles")(
      preAggregated),
    row("q152_concordance", "match rows are term-filtered and joined back " +
      "onto the token arrays with no shuffle")(
      shuffles(), joinOn("doc_id,pos")),
    row("q155_image_neardup", "the candidate self-join is keyed (bidx, bval), never a cross join")(
      joinOn("bidx,bval"), noProductJoin),
    row("q156_best_lag", "q88's grid pipeline plus a per-pair window: the " +
      "grid aggregate, the (pair, lag) sum and the pair window are the only shuffles")(
      shuffles("metric,bucket", "metric,bucket", "metric_a,metric_b,lag", "metric_a,metric_b")),
    row("q158_token_classifier", "test docs shuffle only on doc_id for their " +
      "score sum; the confusion aggregate is tiny")(
      shuffles("single", "doc_id,_cls", "true_class,pred_class")),
    row("q159_stratified_alloc", "ONE stratum-keyed exchange for the " +
      "per-stratum rank window")(
      shuffles("lang")),
    row("q160_semantic_decontaminate", "the corpus never shuffles: candidates " +
      "join on list_id by broadcast hash join, then one vec_id partial-agg")(
      shuffles("list_id", "vid"), preAggregated, joinOn("list_id"),
      atLeast("BroadcastHashJoin", 1)),
    row("q161_winnow", "ONE doc_id exchange; no self-join")(
      shuffles("doc_id"), joins(0)),
    row("q162_dsir_select", "bigrams by narrow zip_with, no lead window; the " +
      "weight table joins on the bucket; a TakeOrderedAndProject cut")(
      mentions("zip_with\\("), absent("Window"), joinOn("_bkt"),
      ops("TakeOrderedAndProject", 1), noGlobalSort),
    row("q163_decontaminate_multi", "corpus grams never shuffle on the gram " +
      "alone; one doc-keyed total and one (doc, suite) overlap count")(
      shuffles("doc_id", "doc_id,gram", "doc_id", "suite,gram", "doc_id,suite",
        "doc_id", "doc_id,gram", "doc_id")),
    row("q164_shard_assign", "shard_id and pos_in_shard are narrow arithmetic: no shuffle")(
      shuffles()),
    row("q166_winnow_overlap", "the fingerprint frame is checkpointed, not " +
      "recomputed; the self-join is keyed on the 60-bit fp")(
      scans(0), joinOn("fp")),
    row("q167_vocab_coverage", "the rank and cumulative windows run over the " +
      "checkpointed vocabulary frame")(
      scans(0), shuffles()),
    row("q168_mixture_schedule", "no weight join: the offsets table is the only join")(
      joins(1), shuffles()),
    row("q169_rag_probe", "one doc-token exchange for the chunk vectors; the " +
      "per-query top-k window over candidates only")(
      shuffles("doc_id,b", "doc_id", "qid")),
    row("q165_antijoin_balance", "the URGENT filter is pushed into the orders " +
      "scan; the anti join is keyed on custkey")(
      mentions("EqualTo\\(o_orderpriority,1-URGENT\\)"), joinOn("c_custkey"),
      ops("LeftAnti", 1)))

  for (r <- rows) test(s"${r.query}: ${r.claim}") {
    val p = new Plan(formatted(SparkTestSession.registered(r.query)))
    val failed = r.facts.flatMap(_(p))
    assert(failed.isEmpty, failed.mkString("\n", "\n", "\n") + p.text)
  }
}

object PlanShapeSpec {
  private final case class Node(op: String, id: String)

  private val TreeLine = "(.*) \\((\\d+)\\)$".r
  private val Detail = "(?m)^\\((\\d+)\\) [^\\n]*\\n((?:[^\\n]+\\n?)*)".r
  private val Hash = "^hashpartitioning\\((.*), \\d+\\), ".r
  private val Range = "^rangepartitioning\\((.*), \\d+\\), ".r
}
