package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-call corpus curation: the keep/drop verdict a training-data pipeline
  * applies before tokenization, composing the individual filters this
  * library already verifies one by one —
  *
  *   - exact-duplicate survivorship (`canonical`: the minimum doc_id of each
  *     identical-text group; later copies are dropped),
  *   - quality gate (`quality_ok`, [[TextOps.qualityScore]]'s rule:
  *     >= 1 English stopword and >= 10 tokens),
  *   - repetition gate (`rep_ok`, Gopher-style: top-token and duplicate-
  *     trigram fractions below caller thresholds — compared in EXACT integer
  *     arithmetic, `cnt * 100 <= n * pct`, so no cross-engine float drift),
  *
  * plus `lang_pred` as routing metadata. `reason` is the FIRST failing gate
  * in (dup, quality, repetition) priority order — the standard curation
  * report shape — and `keep = (reason == 'ok')`.
  *
  * Shape at scale: quality + language are one narrow projection over the
  * scan (no shuffle). Exact-dup survivorship is one shuffle on the 16-byte
  * content hash with partition width = one duplicate group. Repetition adds
  * its one gram shuffle ([[TextOps.repetitionStats]]). The final assembly
  * joins doc-keyed flag frames (a few bytes per row) — at 100 TB the
  * dominant cost stays the two corpus passes, same as running the filters
  * individually, but one call and one output table. */
object Curate {

  def curate(docs: DataFrame, topTokenPctMax: Int = 15,
             dupTrigramPctMax: Int = 10, text: String = "text"): DataFrame = {
    val tk = TextOps.tokens(col(text))
    // quality + language in ONE narrow pass (both are per-row expressions)
    val flat = docs.select(
      col("doc_id"),
      (TextOps.countIn(tk, TextOps.EnStop) >= 1 && size(tk) >= 10)
        .as("quality_ok"),
      TextOps.countIn(tk, TextOps.EnStop).as("en_hits"),
      TextOps.countIn(tk, TextOps.DeStop).as("de_hits"),
      TextOps.countIn(tk, TextOps.FrStop).as("fr_hits"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("de_hits") &&
             col("en_hits") >= col("fr_hits"), "en")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))
      .select("doc_id", "quality_ok", "lang_pred")
    val canon = docs
      .select(col("doc_id"), md5(col(text)).as("content_hash"))
      .withColumn("canonical",
        col("doc_id") === min("doc_id").over(Window.partitionBy("content_hash")))
      .select("doc_id", "canonical")
    val rep = TextOps.repetitionStats(docs, text)
      .select(col("doc_id"), col("n_tokens"),
        col("top_token_cnt"), col("dup_trigram_cnt"))
    flat.join(canon, "doc_id").join(rep, "doc_id")
      .withColumn("rep_ok",
        col("top_token_cnt") * 100 <= col("n_tokens") * topTokenPctMax &&
          (col("n_tokens") < 3 ||
            col("dup_trigram_cnt") * 100 <= (col("n_tokens") - 2) * dupTrigramPctMax))
      .withColumn("reason",
        when(!col("canonical"), "dup")
          .when(!col("quality_ok"), "quality")
          .when(!col("rep_ok"), "repetition")
          .otherwise("ok"))
      .withColumn("keep", col("reason") === "ok")
      .select("doc_id", "lang_pred", "canonical", "quality_ok", "rep_ok",
        "keep", "reason")
  }

  /** Curation-partitioned corpus layout: documents written under
    * `lang=<l>/len_bin=<b>/` with len_bin the equal-frequency quartile
    * of n_chars ([[Profile.quantileBins]]) — the storage discipline
    * that turns the two filters every curation query starts with
    * ("this language, this length band") into PARTITION PRUNING
    * instead of a corpus scan. Same pattern as the warehouse's
    * `interval=` levels and the IVF index's `list_id=`: pay one
    * partitioned write, then every selective read prunes statically
    * (asserted by PipelineSpec's curation-layout test).
    *
    * The write shuffles once on the bin join; boundary cuts are the
    * driver-literal quantileBins discipline, so the layout is
    * deterministic under retry. */
  def writeCurationLayout(docs: DataFrame, root: String,
                          k: Int = 4): String = {
    val bins = Profile.quantileBins(
      docs.select(col("doc_id"), col("n_chars")), "n_chars", k)
      .select(col("doc_id"), col("bin").as("len_bin"))
    graft.store.withWriterCoalesce(docs.sparkSession) {
      docs.join(bins, "doc_id")
        .write.mode("overwrite").partitionBy("lang", "len_bin")
        .parquet(root)
    }
    root
  }

  /** Open a curation layout; filters on `lang` / `len_bin` prune. */
  def openCurationLayout(spark: org.apache.spark.sql.SparkSession,
                         root: String): DataFrame =
    spark.read.parquet(root)
}
