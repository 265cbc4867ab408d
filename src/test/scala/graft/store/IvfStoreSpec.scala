package graft.store

import graft.SparkSpec
import graft.pipeline.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted IVF index's maintenance discipline: frozen-quantizer
  * delta appends (probe bit-equal to a rebuild when the quantizer
  * agrees), crash healing, tombstone retirement with top-k backfill,
  * and compaction. */
class IvfStoreSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private lazy val queries = emb.where(col("vec_id") < 3)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq

  test("append == rebuild of the union when the quantizer agrees") {
    // base holds the 16 smallest vec_ids, so first-N centroids of base
    // and of the union are IDENTICAL — append (frozen quantizer) must
    // then be indistinguishable from a full rebuild
    val base = emb.where(col("vec_id") < 250)
    val drop = emb.where(col("vec_id") >= 250)
    val inc = IvfStore.append(drop,
      Ann.writeIvfIndex(base, tmpDir("ivf-inc"), nlist = 16, kmeansIters = 0))
    val full = Ann.writeIvfIndex(emb, tmpDir("ivf-full"), nlist = 16,
      kmeansIters = 0)
    assert(inc.centroids.map(_._2.toSeq) === full.centroids.map(_._2.toSeq))
    val got = rows(IvfStore.probeTopK(queries, inc, k = 5))
    assert(got === rows(Ann.ivfProbeTopK(queries, full, k = 5)))
    assert(got.nonEmpty)
    // appended vectors are actually findable: a query equal to an
    // appended vector returns it at rank 1 (cosine 1 beats everything)
    val probe400 = emb.where(col("vec_id") === 400)
      .withColumn("vec_id", lit(9400L))
    val hit = IvfStore.probeTopK(probe400, inc, k = 1).collect()
    assert(hit.length === 1 && hit(0).getLong(1) === 400L)
  }

  test("crash healing: no marker aborts, marker rolls forward") {
    val base = emb.where(col("vec_id") < 250)
    val drop = emb.where(col("vec_id") >= 250)
    val root = tmpDir("ivf-heal")
    val h = Ann.writeIvfIndex(base, root, nlist = 16, kmeansIters = 0)
    val before = rows(IvfStore.probeTopK(queries, h, k = 5))
    // stage without a marker (crash before commit): open() must abort
    Ann.ivfStoredRows(drop, h.centroids)
      .repartition(col("list_id"))
      .write.partitionBy("list_id").mode("overwrite")
      .parquet(s"$root/append.pending/vectors")
    val healed = IvfStore.open(spark, root)
    assert(!new java.io.File(s"$root/append.pending").exists)
    assert(rows(IvfStore.probeTopK(queries, healed, k = 5)) === before)
    // stage WITH the marker (crash after commit): open() must publish
    Ann.ivfStoredRows(drop, h.centroids)
      .repartition(col("list_id"))
      .write.partitionBy("list_id").mode("overwrite")
      .parquet(s"$root/append.pending/vectors")
    val pw = new java.io.PrintWriter(s"$root/append.pending/_staged")
    pw.write(""); pw.close()
    val rolled = IvfStore.open(spark, root)
    val full = Ann.writeIvfIndex(emb, tmpDir("ivf-heal-full"), nlist = 16,
      kmeansIters = 0)
    assert(rows(IvfStore.probeTopK(queries, rolled, k = 5)) ===
      rows(Ann.ivfProbeTopK(queries, full, k = 5)))
  }

  test("retire excludes vectors immediately and the top-k backfills") {
    val root = tmpDir("ivf-ret")
    val h = Ann.writeIvfIndex(emb, root, nlist = 16, kmeansIters = 0)
    val before = rows(IvfStore.probeTopK(queries, h, k = 5))
    // retire ids >= 16 only, so a survivors-rebuild keeps the same
    // first-16 quantizer and bit-equality is well-defined
    val retired = emb.where(col("vec_id") >= 16 &&
      pmod(col("vec_id"), lit(7)) === 0).select("vec_id")
    IvfStore.retire(retired, h)
    val got = rows(IvfStore.probeTopK(queries, IvfStore.open(spark, root),
      k = 5))
    assert(got !== before, "retirement must change some top-k")
    val retSet = retired.collect().map(_.getLong(0)).toSet
    assert(!got.exists(r => retSet.contains(r(1).asInstanceOf[Long])),
      "no retired vector may appear in any top-k")
    assert(got.map(_(0)).distinct.size === before.map(_(0)).distinct.size,
      "every query keeps a full result")
    val survivors = Ann.writeIvfIndex(
      emb.join(retired, Seq("vec_id"), "left_anti"),
      tmpDir("ivf-ret-fresh"), nlist = 16, kmeansIters = 0)
    assert(got === rows(Ann.ivfProbeTopK(queries, survivors, k = 5)),
      "tombstoned probe must equal a fresh index of the survivors")
  }

  test("compact applies tombstones physically and preserves answers") {
    val root = tmpDir("ivf-cpt")
    val base = emb.where(col("vec_id") < 250)
    val h0 = Ann.writeIvfIndex(base, root, nlist = 16, kmeansIters = 0)
    val h = IvfStore.append(emb.where(col("vec_id") >= 250), h0)
    val retired = emb.where(col("vec_id") >= 16 &&
      pmod(col("vec_id"), lit(7)) === 0).select("vec_id")
    IvfStore.retire(retired, h)
    val before = rows(IvfStore.probeTopK(queries, h, k = 5))
    val hc = IvfStore.compact(spark, h)
    assert(!new java.io.File(s"$root/tombstones").exists)
    val retSet = retired.collect().map(_.getLong(0)).toSet
    val remaining = spark.read.parquet(s"$root/vectors")
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(remaining.intersect(retSet).isEmpty,
      "retired vectors must be physically gone")
    assert(rows(IvfStore.probeTopK(queries, hc, k = 5)) === before)
    // interrupted retire aborts at open
    spark.range(3).select(col("id").as("vec_id"))
      .write.mode("overwrite").parquet(s"$root/retire.pending")
    IvfStore.open(spark, root)
    assert(!new java.io.File(s"$root/retire.pending").exists)
  }

  test("re-appending a TOMBSTONED vec_id fails fast; compact-then-append succeeds") {
    val root = tmpDir("ivf-reinc")
    val h = Ann.writeIvfIndex(emb.where(col("vec_id") < 250), root,
      nlist = 16, kmeansIters = 0)
    val victim = emb.where(col("vec_id") === 100)
    IvfStore.retire(victim.select("vec_id"), h)
    val e = intercept[IllegalArgumentException](IvfStore.append(victim, h))
    assert(e.getMessage.contains("tombstoned") &&
      e.getMessage.contains("compact"))
    val e2 = intercept[IllegalArgumentException](
      IvfStore.appendBatch(root, bid = 0)(victim))
    assert(e2.getMessage.contains("tombstoned"))
    // sanctioned repost: compact applies + clears, append lands, and the
    // reincarnated vector is findable again (cosine-1 self hit)
    val hc = IvfStore.compact(spark, h)
    IvfStore.append(victim, hc)
    val probe = victim.withColumn("vec_id", lit(9100L))
    val hit = IvfStore.probeTopK(probe, IvfStore.open(spark, root), k = 1)
      .collect()
    assert(hit.length === 1 && hit(0).getLong(1) === 100L)
  }

  test("compact refuses a FULL retirement instead of writing an unreadable index") {
    val root = tmpDir("ivf-full-ret")
    val sub = emb.where(col("vec_id") < 64)
    val h = Ann.writeIvfIndex(sub, root, nlist = 4, kmeansIters = 0)
    IvfStore.retire(sub.select("vec_id"), h)
    val e = intercept[IllegalArgumentException](IvfStore.compact(spark, h))
    assert(e.getMessage.contains("EVERY"))
    // the index stays open-able and the probe answers (empty: everything
    // is retired, excluded logically) instead of throwing schema errors
    val got = IvfStore.probeTopK(queries, IvfStore.open(spark, root), k = 5)
    assert(got.count() === 0)
  }

  test("a vector of the wrong dimension fails the append with its id, " +
    "never lands in a null list") {
    val root = tmpDir("ivf-short-dim")
    val h = Ann.writeIvfIndex(emb.where(col("vec_id") < 64), root,
      nlist = 4, kmeansIters = 0)
    val count = spark.read.parquet(s"$root/vectors").count()
    val short = emb.where(col("vec_id") === 400)
      .withColumn("embedding", slice(col("embedding"), 1, 3))
    val e = intercept[Exception](IvfStore.append(short, h))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("vec_id 400"))),
      e.toString)
    IvfStore.open(spark, root)
    assert(spark.read.parquet(s"$root/vectors").count() === count)
    assert(!new java.io.File(s"$root/vectors/list_id=__HIVE_DEFAULT_PARTITION__").exists)
  }
}
