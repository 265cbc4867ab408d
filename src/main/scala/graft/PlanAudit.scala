package graft

import graft.hta.{RetrieveFlex, Scoped, Telescope}
import graft.model.{IntervalScope, Meta}
import graft.store.Warehouse
import graft.registry.{Registry, Tables}
import org.apache.spark.sql.functions._

/** Prints the physical plans of the hot paths so pushdown/pruning claims can
  * be audited (`PushedFilters`, partition pruning, WholeStageCodegen spans).
  * Run: sbt "runMain graft.PlanAudit /root/testdata/sf0.01 /tmp/audit_wh" */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val whRoot = args.lift(1).getOrElse("/tmp/audit_wh")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val ev = Tables.events(spark, sfDir)
    val meta = Meta(Registry.I1, 100 * Registry.I1, 10)
    val hta =
      if (new java.io.File(s"$whRoot/meta.json").exists) Warehouse.open(spark, whRoot)
      else Warehouse.ingest(ev.select("metric", "time", "value"), meta, whRoot)

    def section(name: String)(body: => Unit): Unit = {
      println(s"\n========== $name ==========")
      body
    }

    // Count physical operators from the FORMATTED explain string: a
    // `.collect` over `executedPlan` sees only the AdaptiveSparkPlanExec
    // wrapper before execution (children empty until the first stage
    // runs), so node-matching undercounts to 0 under AQE.
    def countOps(df: org.apache.spark.sql.DataFrame, op: String): Int = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // tree lines read "<Op> [qualifiers] (12)"; details repeat as
      // "(12) <Op>" — count only the id-terminated tree lines
      val opRe = ("\\b" + op + "\\b").r
      s.linesIterator.count(l => l.trim.matches(".*\\(\\d+\\)$") &&
        opRe.findFirstIn(l).isDefined)
    }

    section("S1/F1 scoped raw scan (expect PushedFilters on time + tb pruning)") {
      Scoped.scopedRange(hta.raw, Registry.B, Registry.E,
        IntervalScope(graft.model.Scope.Closed, graft.model.Scope.Open),
        bucket = Some(("tb", meta.intervalMax)))
        .explain("formatted")
    }
    section("S2 level scan (expect partition pruning interval=..)") {
      hta.levels.where(col("interval") === meta.intervalMin &&
        col("time") >= Registry.B && col("time") < Registry.E)
        .explain("formatted")
    }
    section("Q2 retrieveFlex routed plan") {
      RetrieveFlex.retrieveFlex(hta, Registry.B, Registry.E, 5 * Registry.I1)
        .explain("formatted")
    }
    section("A6 telescoped aggregate (expect levels scanned once with PartitionFilters " +
      "interval IN (..), raw twice under one tb bound, broadcast slice tables, one merge)") {
      Telescope.aggregateRange(hta, Registry.B, Registry.E).explain("formatted")
    }
    section("q07 level build (expect single shuffle per grouping; pushdown of nothing — full scan is inherent)") {
      Registry.levelExact(ev, Registry.I1).explain("formatted")
    }
    section("Q4 append tail scan (expect PartitionFilters on tb + PushedFilters on time)") {
      val starts = hta.levelExtents.collect {
        case ((i, m), ext) if i == meta.levelIntervals.head => m -> ext.closedEnd
      }
      Warehouse.tailRegion(spark, whRoot, starts, meta.intervalMax)
        .explain("formatted")
    }
    section("routed MIN/MAX/SUM/COUNT (expect scan of levels/, no raw, group filter on count)") {
      graft.plans.RollupRouting.install(spark, hta)
      val b = Registry.B - Math.floorMod(Registry.B, Registry.I1) + Registry.I1
      hta.raw.where(col("time") >= b && col("time") < b + 24 * Registry.I1)
        .groupBy("metric")
        .agg(min("value").as("mn"), max("value").as("mx"),
          sum("value").as("s"), count("value").as("c"))
        .explain("formatted")
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    section("q15 nearDupPairs (expect: ONE corpus shuffle to signatures; " +
      "candidate-side frames all BroadcastExchange; no corpus-sized InMemoryRelation)") {
      graft.pipeline.Dedup.nearDupPairs(docs).explain("formatted")
    }
    section("q18 simhashBandPairs (expect: ONE groupBy shuffle on (band,bkey), " +
      "capped bucket explode — no both-sides self-join exchange)") {
      graft.pipeline.Dedup.simhashBandPairs(
        graft.pipeline.TextOps.simhash(docs)).explain("formatted")
    }
    section("q43 persisted IVF probe (expect: PartitionFilters list_id IN (...) " +
      "on the vectors scan — nprobe/nlist of the corpus read, broadcast query side)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val idx = Registry.ivfIndexFor(spark, sfDir)
      graft.pipeline.Ann.ivfProbeTopK(emb.where(col("vec_id") < 3), idx,
        k = 5, nprobe = 4).explain("formatted")
    }
    section("q48 jaccardJoin (expect: one gram-df shuffle for the global rank, " +
      "one doc_id window exchange, prefix-only equi-join, broadcast verify side — " +
      "the full gram frame is never self-joined)") {
      graft.pipeline.Dedup.jaccardJoin(docs, tau = 0.5).explain("formatted")
    }
    section("q49 nearDupClusters tail (expect: edge/vertex-sized checkpointed " +
      "frames only; final corpus join against a small broadcastable component map)") {
      graft.pipeline.Dedup.nearDupClusters(docs, threshold = 0.8).explain("formatted")
    }
    section("q184 band-index probe (expect: scans of the index's bands/grams " +
      "parquet plus the BATCH only — no corpus documents scan anywhere; " +
      "batch-band side BroadcastExchange into the stored-band scan)") {
      val h = Registry.bandIndexFor(spark, sfDir)
      graft.pipeline.Dedup.nearDupPairsAgainstIndex(h,
        docs.where(pmod(col("doc_id"), lit(5)) === 0)).explain("formatted")
    }
    section("q52 lineDedup (expect: one (line-hash) groupBy shuffle for the " +
      "frequency table, broadcast/AQE anti join on the 8-byte key, one doc_id " +
      "reassembly shuffle — line strings never shuffle for the join)") {
      val seeded = docs.select(col("doc_id"),
        concat(col("text"), lit("\nfooter")).as("text"))
      graft.pipeline.TextOps.lineDedup(seeded, minDocs = 5).explain("formatted")
    }
    section("q53 curate (expect: quality+lang as ONE narrow projection; one " +
      "content-hash window exchange; repetition's single gram shuffle; " +
      "doc-keyed flag joins only)") {
      graft.pipeline.Curate.curate(docs).explain("formatted")
    }
    section("q54 valueQuantiles (expect: EXACTLY two exchanges — partial-agg " +
      "(metric,cents) groupBy = histogram-sized shuffle, then one metric " +
      "exchange shared by both windows. Over the events VIEW the time filter " +
      "stays above the scan (time is derived from ts); run it over " +
      "warehouse raw for physical-time pushdown + tb pruning at scale)") {
      graft.hta.Queries.valueQuantiles(ev, Registry.B, Registry.E, Seq(50, 95, 99))
        .explain("formatted")
    }
    section("q54 over warehouse raw (the scale path: expect PushedFilters on " +
      "physical time + PartitionFilters on tb)") {
      val pre = hta.raw.where(
        col("tb") >= Registry.B - Math.floorMod(Registry.B, meta.intervalMax) &&
          col("tb") < Registry.E)
      graft.hta.Queries.valueQuantiles(pre, Registry.B, Registry.E,
        Seq(50, 95, 99), valueCol = "value").explain("formatted")
    }
    section("q55 encodeDocs (expect: BroadcastExchange on the vocabulary — " +
      "the exploded token stream never shuffles)") {
      graft.pipeline.TextOps.encodeDocs(docs,
        graft.pipeline.TextOps.vocabularyWithIds(docs, topK = 20))
        .explain("formatted")
    }
    section("q56 pageRank final round (expect: the degree-annotated edge " +
      "frame and per-round ranks enter as 'Scan ExistingRDD' checkpoint " +
      "blocks — the degree groupBy is NOT re-derived inside the loop; one " +
      "src join + one dst-keyed partial-agg sum + one vertex-sized left join)") {
      val e = spark.range(0, 2000).select(
        (col("id") % 97).as("src"), (col("id") % 89 + 100).as("dst"))
      graft.pipeline.Graph.pageRank(e, iters = 2).explain("formatted")
    }
    section("q57 funnel (expect: per-step user-keyed partial-agg min " +
      "shuffles over frames that only SHRINK step to step; AQE free to " +
      "broadcast the reached-user side of each step join)") {
      val fv = ev.select(col("metric"), col("time"),
        (col("time") % 1000).as("user_id"))
      graft.pipeline.Sessionize.funnel(fv, Seq("a", "b"))
        .explain("formatted")
    }
    section("q58 retention (expect: EXACTLY the minimal shuffles — one " +
      "user min-agg, one (cohort,offset,user) distinct + count rollup; " +
      "cohort map joined back user-keyed, AQE-broadcastable)") {
      val rv = ev.select(col("time"), (col("time") % 1000).as("user_id"))
      graft.pipeline.Sessionize.retention(rv).explain("formatted")
    }
    section("q59 decontaminateBloom (expect: corpus gram stream filtered by " +
      "graft_might_contain/BloomFilterMightContain BEFORE the gram join — " +
      "only bloom survivors shuffle; left-semi verify join removes false " +
      "positives; benchmark side broadcast)") {
      graft.pipeline.Dedup.decontaminateBloom(
        docs.where(pmod(col("doc_id"), lit(11)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(11)) === 0), n = 8)
        .explain("formatted")
    }
    section("q60 probeMeta (expect: ZERO exchanges — container parsing is a " +
      "narrow per-partition projection over the binary column)") {
      graft.pipeline.Multimodal.probeMeta(
        graft.pipeline.Multimodal.syntheticContainers(spark, 50))
        .explain("formatted")
    }
    section("q61 editDistancePairs (expect: band-keyed window exchange per " +
      "side — text shuffles once per side on the 8-byte band id; AQE " +
      "broadcasts one side at this SF, SMJ + ReuseExchange dedupes the " +
      "identical subplans at scale; levenshtein is the threshold " +
      "(banded-DP) form inside the post-join filter, not a cross product)") {
      graft.pipeline.Dedup.editDistancePairs(
        docs.select(col("doc_id"), col("text")), maxDist = 6)
        .explain("formatted")
    }
    section("q62 heavyHitters recount (expect: candidate isInCollection " +
      "filter BELOW the partial-agg groupBy — only candidate rows reach " +
      "the one exchange; MG pass itself is a separate collect job). " +
      "Audited over a 50-doc slice: heavyHitters EXECUTES its MG pass at " +
      "construction, so a full-corpus call here would scan data just to " +
      "print a plan") {
      graft.pipeline.Sketches.heavyHitters(
        docs.limit(50).select(explode(graft.pipeline.TextOps.tokens(col("text")))
          .as("token")), "token", k = 40)
        .explain("formatted")
    }
    section("q64 duplicatedSpans (expect: 8-byte gram keys everywhere — " +
      "one doc_id lead-window exchange, one gram distinct+groupBy, " +
      "left-semi gram join, and the island-merge window over HIT rows " +
      "only; token strings never shuffle past the first window)") {
      graft.pipeline.Dedup.duplicatedSpans(docs, n = 8).explain("formatted")
    }
    section("q65 searchTopK (expect: isInCollection query filter DIRECTLY " +
      "over the exploded scan — only matching (doc,term) rows reach the " +
      "tf groupBy; idf side BroadcastExchange; TakeOrderedAndProject " +
      "for the top-k, never a global sort)") {
      graft.pipeline.TextOps.searchTopK(docs,
        Seq("join", "filter", "vector"), k = 10).explain("formatted")
    }
    section("q67 m4Downsample (expect: ONE (metric,bucket) partial-agg " +
      "exchange — min_by/max_by fold map-side; time filter above the " +
      "events view, pushed to the scan over warehouse raw)") {
      graft.hta.Series.m4Downsample(ev, Registry.B, Registry.E, w = 48)
        .explain("formatted")
    }
    section("q69 resampleFfill (expect: ONE metric-keyed window exchange " +
      "for the union-and-carry — the grid generates distributed via " +
      "sequence explode, no per-grid-point join)") {
      graft.hta.Series.resampleFfill(ev, Registry.B, Registry.E,
        step = 6L * 3600000000000L).explain("formatted")
    }
    section("q70 madOutliers (expect: two histogram-sized selection " +
      "exchanges (q54's shape) + BroadcastExchange for both " +
      "metric-cardinality median maps — the corpus never shuffles wide)") {
      graft.hta.Series.madOutliers(ev, Registry.B, Registry.E)
        .explain("formatted")
    }
    section("q71 hysteresisAlerts (expect: ONE metric-keyed window " +
      "exchange shared by the fill and lag windows — same sort order, " +
      "Catalyst plans one Window node chain, no second exchange)") {
      graft.hta.Series.hysteresisAlerts(ev, Registry.B, Registry.E,
        hiCents = 15000L, loCents = 5000L).explain("formatted")
    }
    section("q78 triangleCounts (expect: edge-sized degree joins build " +
      "the oriented list once; the wedge join exchanges on the middle " +
      "vertex (out-degree-bounded partitions), the closing join on the " +
      "(x,z) edge key; per-node rollup partial-aggregates)") {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .where(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.select(col("ok"), col("pk").as("src"))
        .join(li.select(col("ok"), col("pk").as("dst")), "ok")
        .where(col("src") < col("dst")).select("src", "dst")
      graft.pipeline.Graph.triangleCounts(edges).explain("formatted")
    }
    section("q79 hammingTopK (expect: corpus scan -> narrow signBits " +
      "projection, BroadcastExchange on the query side, per-query " +
      "top-k window as the only exchange — the corpus never shuffles)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.pipeline.Ann.hammingTopK(emb.where(col("vec_id") < 3), emb,
        k = 5, dim = 64).explain("formatted")
    }
    section("q81 saltedJoin (expect: fact exchange hashpartitioning on " +
      "(key, _salt) — the hot key split 8 ways; dim side exploded ×8 " +
      "BEFORE its exchange/broadcast)") {
      val e = ev.select("metric", "time", "cents", "event_id")
      val dim = e.groupBy("metric").agg(sum("cents").as("s"),
        count(lit(1)).as("c"))
      graft.pipeline.Joins.saltedJoin(e, dim, Seq("metric"), 8,
        col("event_id")).explain("formatted")
    }
    section("q84 deltaEncodingStats (expect: ONE metric window exchange " +
      "carrying both lags, and the per-metric rollup riding the same " +
      "exchange — subset-key clustering, no second shuffle)") {
      graft.hta.Series.deltaEncodingStats(ev).explain("formatted")
    }
    section("q89 pqTopK (expect: code assignment as a narrow projection " +
      "over the corpus scan (literal codebook, no join); query tables " +
      "BroadcastExchange; only the top-k window exchanges)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.pipeline.Ann.pqTopK(emb.where(col("vec_id") < 3), emb, k = 5)
        .explain("formatted")
    }
    section("q91 approxDistinctSliding (expect: corpus -> daily register " +
      "partial-agg as the ONE corpus-sized exchange; grid join and " +
      "window merge run on register-sized frames only)") {
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val f = raw.select(col("event_type").as("metric"),
        Tables.tsNs(raw).as("time"), col("user_id"))
      graft.pipeline.Sketches.approxDistinctSliding(f, Seq("metric"),
        "user_id", "time", windowDays = 7).explain("formatted")
    }
    section("q93 profile (expect: ONE stack projection over ONE scan — " +
      "no per-column scans, no Expand —, one (column, value) partial-agg " +
      "exchange, column-sized rollup)") {
      graft.pipeline.Profile.profile(
        spark.read.parquet(s"$sfDir/lineitem.parquet"),
        Seq("l_orderkey", "l_partkey"), Seq("l_returnflag"))
        .explain("formatted")
    }
    section("q94 cdc latestByKey (expect: partial max_by BEFORE the one " +
      "hashpartitioning(user_id) exchange — a combiner-sized shuffle; NO " +
      "Window operator anywhere)") {
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val f = raw.select(col("user_id"), col("event_id"),
        Tables.tsNs(raw).as("time"), col("event_type"))
      graft.pipeline.Cdc.latestByKey(f, Seq("user_id"),
        Seq("time", "event_id")).explain("formatted")
    }
    section("q96 imageAHash (expect: one narrow mapPartitions over the " +
      "media scan — decode+hash with NO exchange; the Hamming join " +
      "BroadcastExchange on the 1-row reference)") {
      val media = graft.pipeline.Multimodal.syntheticMedia(spark, 300)
      val h = graft.pipeline.Multimodal.imageAHash(media)
      val ref = h.where(col("media_id") === 0)
        .select(col("ahash_hi").as("rh"), col("ahash_lo").as("rl"))
      h.crossJoin(broadcast(ref))
        .select(col("media_id"),
          (bit_count(col("ahash_hi").bitwiseXOR(col("rh"))) +
            bit_count(col("ahash_lo").bitwiseXOR(col("rl")))).as("d"))
        .explain("formatted")
    }
    section("q99 bm25TopK (expect: the token stream FILTERED to query " +
      "terms before any wide op; idf + (L, N) scalars as " +
      "BroadcastExchange; final cut TakeOrderedAndProject, never a " +
      "global Sort)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.TextOps.bm25TopK(docs,
        Seq("join", "filter", "vector"), k = 20).explain("formatted")
    }
    section("q100 quantileBins (expect: the ASSIGNMENT plan is one narrow " +
      "projection over the scan — boundaries are literals; the histogram " +
      "exchange happened once in the boundary job)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.Profile.quantileBins(
        docs.select(col("doc_id"), col("n_chars")), "n_chars", k = 8)
        .explain("formatted")
    }
    section("q104 hdrQuantiles (expect: ONE corpus-sized partial-agg " +
      "exchange to register rows (keys, _b); cumulative windows over " +
      "REGISTER partitions only)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.Sketches.hdrQuantiles(
        docs.select(col("source"), col("n_chars")), Seq("source"),
        "n_chars", Seq(50, 90, 99)).explain("formatted")
    }
    section("q105 collocations (expect: doc-keyed window exchange for the " +
      "lead, one (w1, w2) partial-agg shuffle, unigram joins " +
      "vocabulary-sized/broadcast, TakeOrderedAndProject cut)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.TextOps.collocations(docs).explain("formatted")
    }
    section("q115 semanticDedup (expect: pair join keyed on list_id — " +
      "never Cartesian/NestedLoop; one token pass for vectors)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.Dedup.semanticDedup(docs, 19L, 20L, dim = 16, nlist = 4)
        .explain("formatted")
    }
    section("q117 overlapJoin (expect: EQUI-join on _band — SortMergeJoin/" +
      "ShuffledHashJoin, never BroadcastNestedLoop; band explode narrow)") {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      val base = ev.select(col("user_id"),
        graft.registry.Tables.tsNs(ev).as("time"))
      val sess = graft.pipeline.Sessionize.sessionize(
          base, "user_id", "time", gapNs = 300000000000L)
        .withColumn("en", col("session_end") + 120000000000L)
      val a = sess.select(col("user_id").as("ua"),
        col("session_start").as("sa"), col("en").as("ea"))
      val b = sess.select(col("user_id").as("ub"),
        col("session_start").as("sb"), col("en").as("eb"))
      graft.pipeline.Joins.overlapJoin(a, "sa", "ea", b, "sb", "eb",
        band = 3600000000000L).explain("formatted")
    }
    section("q121 orderStatOutliers (expect: histogram partial-agg " +
      "exchange; threshold table BROADCAST back onto the scan)") {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      graft.pipeline.Profile.orderStatOutliers(
        ev.select("event_id", "event_type", "value"),
        Seq("event_type"), "value", 19, 20).explain("formatted")
    }
    section("q126 deterministicShuffle (expect: RANGE exchange for the " +
      "sort — no single-partition window; zipWithIndex adds the offsets)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.Sampling.deterministicShuffle(
        docs.select("doc_id", "n_chars"), "doc_id", "ep1").explain("formatted")
    }
    section("q128 embeddingStats (expect: posexplode NARROW over the scan; " +
      "ONE dim-keyed partial-agg exchange carrying dim rows per task)") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.pipeline.Ann.embeddingStats(emb).explain("formatted")
    }
    section("q129 dictTag (expect: dictionary as a plan LITERAL array — " +
      "no join, no BroadcastExchange; one (doc, tag) partial-agg shuffle)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.TextOps.dictTag(docs,
        Seq("hash join" -> "topic_join", "batch" -> "topic_stream"))
        .explain("formatted")
    }
    section("q130 linearTrend (expect: ONE metric-keyed partial-agg " +
      "exchange; x centering is a literal subtraction, no first pass)") {
      graft.hta.Series.linearTrend(ev, Registry.B, Registry.E,
        step = 3600000000000L).explain("formatted")
    }
    section("q131 phraseSearch (expect: postings FILTERED to phrase terms " +
      "before the first exchange; chain joins equi on (doc_id, pos))") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.TextOps.phraseSearch(docs, Seq("hash", "join"))
        .explain("formatted")
    }
    section("q132 joinSizeProbe (expect: two per-key partial-agg " +
      "exchanges, key-cardinality join, TakeOrderedAndProject cut — the " +
      "probed join itself NEVER runs)") {
      val e = spark.read.parquet(s"$sfDir/events.parquet")
      graft.pipeline.Joins.joinSizeProbe(e, e, "user_id", k = 20)
        .explain("formatted")
    }
    section("q133 autoCorrelation (expect: grid partial-agg exchange, " +
      "then grid-sized self-join on (metric, bucket) — never corpus²)") {
      graft.hta.Series.autoCorrelation(ev, Registry.B, Registry.E,
        step = 6L * 3600000000000L, maxLag = 8).explain("formatted")
    }
    section("q134 rankNormalize (expect: histogram exchange + " +
      "histogram-partition windows; rank table BROADCAST back, " +
      "assignment narrow)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.Profile.rankNormalize(
        docs.select("doc_id", "source", "n_chars"), "n_chars",
        Seq("source")).explain("formatted")
    }
    section("q135 rankingAgreement (expect: both rankings cut by " +
      "TakeOrdered BEFORE the window; agreement join and cumulative " +
      "window k-sized)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("n_chars"), asc("doc_id"))
      val a = docs.orderBy(desc("n_chars"), asc("doc_id")).limit(50)
        .withColumn("rnk", row_number().over(w)).select("doc_id", "rnk")
      val w2 = org.apache.spark.sql.expressions.Window
        .orderBy(asc("doc_id"))
      val b = docs.orderBy(asc("doc_id")).limit(50)
        .withColumn("rnk", row_number().over(w2)).select("doc_id", "rnk")
      graft.pipeline.Eval.rankingAgreement(a, b, k = 50).explain("formatted")
    }
    section("q136 checkFunctionalDep (expect: one det-key partial-agg " +
      "exchange, scalar fold — two exchanges total, nothing corpus-sized " +
      "twice)") {
      val e = spark.read.parquet(s"$sfDir/events.parquet")
      graft.pipeline.Profile.checkFunctionalDep(e, Seq("user_id"),
        "event_type", "fd").explain("formatted")
    }
    section("q137 hardNegatives (expect: queries BROADCAST with the " +
      "label-mismatch predicate in the join — corpus never shuffles; " +
      "per-query top-k window over partition-local candidates)") {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.pipeline.Ann.hardNegatives(e.where(col("vec_id") < 3), e, k = 5)
        .explain("formatted")
    }
    section("q138 seasonalOutliers (expect: 24-row/metric baseline " +
      "BROADCAST back; residual histogram exchange; threshold broadcast " +
      "— corpus read once, never shuffled whole)") {
      graft.hta.Series.seasonalOutliers(
        ev.select("metric", "time", "cents"), Registry.B, Registry.E,
        39, 40).explain("formatted")
    }
    section("q139 leak-safe split (expect: the q23 fingerprint pass — " +
      "one doc-keyed window exchange — then the split label as a NARROW " +
      "hash projection, no extra shuffle)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.Sampling.hashSplit(
        graft.pipeline.TextOps.minFingerprint(docs, w = 8), "fingerprint",
        Seq(0.9, 0.1), Seq("train", "test"), salt = "lk1")
        .explain("formatted")
    }
    section("q140 deletionImpact (expect: subject keys BROADCAST; one " +
      "scan + scalar fold per table — the deletion itself never runs)") {
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      val subjects = cust.where(pmod(col("c_custkey"), lit(97L)) === 0L)
        .select("c_custkey")
      graft.pipeline.Cdc.deletionImpact(cust, "c_custkey", subjects,
        "customer").explain("formatted")
    }
    section("q141 interArrivalHist (expect: ONE metric-keyed window " +
      "exchange; (metric, bucket) partial-agg on its lineage — " +
      "bit-length bucket is codegen'd, no float log)") {
      graft.hta.Series.interArrivalHist(ev, Registry.B, Registry.E)
        .explain("formatted")
    }
    section("q142 temperatureShares (expect: one source partial-agg " +
      "exchange; windows run on the source-cardinality frame only)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.Sampling.temperatureShares(docs, "source")
        .explain("formatted")
    }
    section("q143 quantileMap (expect: per-source + pooled histogram " +
      "exchanges off the scan; 1001-row inverse-CDF table BROADCAST " +
      "back; mapping pass narrow)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.Profile.quantileMap(
        docs.select("doc_id", "source", "n_chars"), "n_chars", "source")
        .explain("formatted")
    }
    section("q144 partitionBalance (expect: ONE nParts-row partial-agg " +
      "exchange; total via a window over the counts frame — exactly one " +
      "Scan parquet, single-column ReadSchema)") {
      val e = spark.read.parquet(s"$sfDir/events.parquet")
      graft.pipeline.Joins.partitionBalance(e, "user_id", nParts = 32)
        .explain("formatted")
    }
    section("q145 robustTrend (expect: ONE (metric,bucket,cents) " +
      "histogram exchange; median window over histogram partitions; " +
      "OLS fold on the grid-median frame)") {
      graft.hta.Series.robustTrend(ev, Registry.B, Registry.E,
        step = 3600000000000L).explain("formatted")
    }
    section("q146 frequentPaths (expect: TWO leads over ONE user-keyed " +
      "window exchange; trigram groupBy |types|^3-bounded; " +
      "TakeOrderedAndProject cut)") {
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val f = raw.select(col("event_type").as("metric"),
        graft.registry.Tables.tsNs(raw).as("time"), col("user_id"),
        col("event_id"))
      graft.pipeline.Sessionize.frequentPaths(f, k = 20)
        .explain("formatted")
    }
    section("q147 seasonalImpute (expect: bucket+hour histograms off " +
      "ONE scan lineage; hour-median table BROADCAST; grid join " +
      "grid-sized)") {
      graft.hta.Series.seasonalImpute(ev, Registry.B, Registry.E,
        step = 3600000000000L).explain("formatted")
    }
    section("q148 sloBurn (expect: one (bucket) partial-agg exchange; " +
      "trailing windows over GRID rows only)") {
      graft.hta.Series.sloBurn(ev, Registry.B, Registry.E, "error", 4L)
        .explain("formatted")
    }
    section("q149 uptimeReport (expect: one metric window exchange, " +
      "per-metric fold — nothing else)") {
      graft.hta.Series.uptimeReport(ev, Registry.B, Registry.E,
        maxGap = 1800000000000L).explain("formatted")
    }
    section("q150 mixDrift (expect: one (day, type) partial-agg " +
      "exchange; marginals broadcast; grid cross join day×type-sized)") {
      graft.pipeline.Profile.mixDrift(ev.select("metric", "time"),
        "metric", "time").explain("formatted")
    }
    section("q151 theilSenTrend (expect: ONE corpus histogram exchange; " +
      "pairwise stage a grid² self-join over MEDIANS; slope-median " +
      "windows over slope-histogram partitions)") {
      graft.hta.Series.theilSenTrend(ev, Registry.B, Registry.E,
        step = 3600000000000L).explain("formatted")
    }
    section("q152 concordance (expect: match rows term-filtered before " +
      "any exchange, then a broadcast-back join onto token arrays — " +
      "slice pass narrow)") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.TextOps.concordance(docs, Seq("hash", "join"), 3)
        .explain("formatted")
    }
    section("q153 curation layout probe (expect: PartitionFilters on " +
      "lang AND len_bin — the curation read prunes statically)") {
      val root = Registry.curationLayoutFor(spark, sfDir)
      graft.pipeline.Curate.openCurationLayout(spark, root)
        .where(col("lang") === "en" && col("len_bin") === 3)
        .groupBy("source").count().explain("formatted")
    }
    section("q154 retired-store dump (expect: raw scan over the " +
      "RETAINED tb= partitions only — retention is physical)") {
      graft.tools.Tools.dump(Registry.retiredFor(spark, sfDir))
        .explain("formatted")
    }
    section("q155 imageNearDupPairs (expect: candidate self-join keyed " +
      "(bidx, bval) — never a cross join; verify after distinct)") {
      graft.pipeline.Multimodal.imageNearDupPairs(
        graft.pipeline.Multimodal.syntheticMedia(spark, 120), maxDist = 6)
        .explain("formatted")
    }
    section("q156 bestLag (expect: q88's grid pipeline + a per-pair " +
      "window over (2·maxLag+1)-row partitions — nothing corpus-sized " +
      "added)") {
      graft.hta.Series.bestLag(ev, Registry.B, Registry.E,
        step = 6L * 3600000000000L, maxLag = 3).explain("formatted")
    }
    section("q157 mp4 decode through the seam (expect: ONE narrow " +
      "mapPartitions over the media rows — per-partition demux+decode, " +
      "NO exchange anywhere; the 100 TB shape for media feature " +
      "extraction)") {
      val media = graft.pipeline.Multimodal.syntheticMp4(spark, 20)
      val plan = graft.pipeline.Multimodal.extractFeatures(media, dim = 16,
        fallback = graft.pipeline.Multimodal.mp4Decoder)
      plan.explain("formatted")
      println(s"[audit] q157 shuffle count = ${countOps(plan, "Exchange")} " +
        "(expect 0)")
    }
    section("q158 tokenClassifier (expect: vocab-sized weight table built " +
      "by ONE term partial-agg, BROADCAST into the apply join; test docs " +
      "exchange only on doc_id for their score sum; confusion agg tiny)") {
      graft.pipeline.TextOps.tokenClassifier(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        "lang", "en", "de").explain("formatted")
    }
    section("q159 stratifiedAlloc (expect: quota table BROADCAST — the " +
      "allocation itself ran driver-side over the strata-sized counts " +
      "frame; ONE stratum-keyed exchange for the per-stratum rank window; " +
      "no unpartitioned window anywhere)") {
      graft.pipeline.Sampling.stratifiedAlloc(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        "lang", "doc_id", n = 100L).explain("formatted")
    }
    section("q160 epsilonJoin (expect: corpus NEVER shuffled — IVF assign " +
      "is a narrow map, candidate join is BroadcastHashJoin on list_id " +
      "with the probe side broadcast, then one vec_id partial-agg; the " +
      "only other exchanges are the nlist-row radius agg)") {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val plan = graft.pipeline.Ann.epsilonJoin(
        e.where("vec_id % 10 <> 0"), e.where("vec_id % 10 = 0"),
        d2max = 120000000L, nlist = 8)
      plan.explain("formatted")
      println("[audit] q160 broadcast-hash joins = " +
        s"${countOps(plan, "BroadcastHashJoin")} (expect >= 1: " +
        "probe candidates into the unshuffled corpus)")
    }
    section("q161 winnowFingerprints (expect: ONE doc_id exchange; the " +
      "lag/lead chain and run arithmetic are narrow over that single " +
      "sort — no self-join, no per-window explode)") {
      val plan = graft.pipeline.TextOps.winnowFingerprints(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      plan.explain("formatted")
      println(s"[audit] q161 shuffle count = ${countOps(plan, "Exchange")} " +
        "(expect <= 2: gram-build window + union-side partitioning)")
    }
    section("q162 dsirSelect (expect: bigrams NARROW zip_with — no " +
      "lead-window exchange; two buckets-sized count frames; weight " +
      "table BROADCAST onto the raw gram stream; TakeOrdered cut, never " +
      "a global sort)") {
      val dd = spark.read.parquet(s"$sfDir/documents.parquet")
      val plan = graft.pipeline.Sampling.dsirSelect(
        dd.where("lang <> 'de'"), dd.where("lang = 'de'"), n = 50)
      plan.explain("formatted")
      println("[audit] q162 TakeOrderedAndProject = " +
        s"${countOps(plan, "TakeOrderedAndProject")} (expect >= 1: the cut " +
        "is the top-k operator, never a global sort)")
    }
    section("q163 decontaminateMulti (expect: suite gram sets BROADCAST; " +
      "corpus grams never shuffle on gram; one doc-keyed total count + " +
      "one (doc, suite) overlap count)") {
      val all = spark.read.parquet(s"$sfDir/documents.parquet")
      val bench = all.where("doc_id % 13 = 0").withColumn("suite", lit("sA"))
        .unionByName(all.where("doc_id % 17 = 0").withColumn("suite", lit("sB")))
      graft.pipeline.Dedup.decontaminateMulti(
        all.where("doc_id % 13 <> 0 AND doc_id % 17 <> 0"), bench, n = 8)
        .explain("formatted")
    }
    section("q164 shardAssign (expect: the deterministicShuffle range " +
      "exchange is the ONLY exchange — shard_id/pos_in_shard are narrow " +
      "integer arithmetic over shuffle_pos)") {
      graft.pipeline.Sampling.shardAssign(
        spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id"),
        "doc_id", nShards = 7, salt = "ep1").explain("formatted")
    }
    section("q166 winnowOverlapPairs (expect: fingerprint frame " +
      "localCheckpointed ONCE — no triple winnow recompute; self-join " +
      "keyed on the 60-bit fp; per-doc count joins AQE-broadcast)") {
      graft.pipeline.Dedup.winnowOverlapPairs(
        spark.read.parquet(s"$sfDir/documents.parquet")).explain("formatted")
    }
    section("q167 vocabCoverage (expect: ONE corpus-token partial-agg " +
      "shuffle; rank/cum windows over the localCheckpointed VOCAB-sized " +
      "frame only; literal rank lookups per k)") {
      graft.pipeline.TextOps.vocabCoverage(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        ks = Seq(10, 100, 1000, 10000)).explain("formatted")
    }
    section("q168 mixtureSchedule (expect: weights as a literal " +
      "when-chain — NO weight join; positions from the group-major " +
      "RANGE sort + zipWithIndex two-phase offsets (multi-partition " +
      "even when one source is the whole corpus — the visible plan " +
      "starts at the RDD scan because zipWithIndex sits in the " +
      "lineage); offsets table BROADCAST)") {
      val plan = graft.pipeline.Sampling.mixtureSchedule(
        spark.read.parquet(s"$sfDir/documents.parquet"), "lang", "doc_id",
        weights = Seq("en" -> 4L, "de" -> 2L, "fr" -> 1L), salt = "ep1")
      plan.explain("formatted")
      println("[audit] q168 broadcast joins = " +
        s"${countOps(plan, "BroadcastHashJoin")} (expect 1: the " +
        "source-sized start-offset table)")
    }
    section("q169 RAG probe capstone (expect: chunking NARROW, one " +
      "doc-token exchange for the chunk vectors, centroids collected " +
      "driver-side (8 rows), probe queries BROADCAST into the assigned " +
      "corpus, per-query top-k window over candidates only)") {
      val ch = graft.pipeline.TextOps.chunkDocs(
          spark.read.parquet(s"$sfDir/documents.parquet"),
          window = 30, stride = 30)
        .select((col("doc_id") * 1000000L + col("chunk_id")).as("doc_id"),
          col("chunk").as("text"))
      val v = graft.pipeline.TextOps.hashVectorize(ch, dim = 16)
        .select(col("doc_id").as("vec_id"), col("vec").as("embedding"))
      graft.pipeline.Ann.ivfTopK(v.orderBy("vec_id").limit(3), v, k = 5,
        nlist = 8, nprobe = 2, kmeansIters = 0).explain("formatted")
    }
    section("q171 indexed search (expect: PartitionFilters bucket IN " +
      "(...) on BOTH postings and dict scans — the corpus is never " +
      "scanned; idf broadcast; TakeOrdered cut)") {
      graft.store.TextIndex.searchTopK(spark,
        Registry.textIndexFor(spark, sfDir),
        Seq("query", "index", "merge"), k = 10).explain("formatted")
    }
    section("q165 anti-join balance (expect: segment scalar agg BROADCAST " +
      "back; URGENT filter PUSHED into the orders scan before the anti " +
      "join builds; anti join on custkey)") {
      val c = spark.read.parquet(s"$sfDir/customer.parquet")
        .withColumn("bal_cents", round(col("c_acctbal") * 100, 0).cast("long"))
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      val seg = c.where(col("bal_cents") > 0L).groupBy("c_mktsegment")
        .agg(sum("bal_cents").as("_s"), count(lit(1)).as("_n"))
      c.join(broadcast(seg), Seq("c_mktsegment"))
        .where(col("bal_cents") * col("_n") > col("_s"))
        .join(o.where(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").count().explain("formatted")
    }
    spark.stop()
  }
}
