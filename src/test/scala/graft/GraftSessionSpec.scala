package graft

/** `spark.graft.*` settings and `SPARK_GRAFT_*` environment values: a
  * malformed value fails naming its key. */
class GraftSessionSpec extends SparkSpec {

  private val key = "spark.graft.test.probe"

  test("confLong and confBool: default when unset, parsed when set, loud when malformed") {
    try {
      spark.conf.unset(key)
      assert(GraftSession.confLong(spark, key, 7L) === 7L)
      assert(GraftSession.confBool(spark, key, default = true))
      spark.conf.set(key, " 42 ")
      assert(GraftSession.confLong(spark, key, 7L) === 42L)
      spark.conf.set(key, "TRUE")
      assert(GraftSession.confBool(spark, key, default = false))
      spark.conf.set(key, "4e6")
      val l = intercept[IllegalArgumentException](GraftSession.confLong(spark, key, 7L))
      assert(l.getMessage.contains(key) && l.getMessage.contains("'4e6'"))
      spark.conf.set(key, "yes")
      val b = intercept[IllegalArgumentException](
        GraftSession.confBool(spark, key, default = false))
      assert(b.getMessage.contains(key) && b.getMessage.contains("'yes'"))
    } finally spark.conf.unset(key)
  }

  test("the broadcast-vertex cap is read through confLong") {
    val s = spark
    import s.implicits._
    val k = "spark.graft.maxBroadcastVertices"
    spark.conf.set(k, "4M")
    try {
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      val e = intercept[IllegalArgumentException](
        graft.pipeline.Dedup.connectedComponents(edges).collect())
      assert(e.getMessage.contains(k) && e.getMessage.contains("'4M'"))
    } finally spark.conf.unset(k)
  }

  test("a scaling leg with a failed pass reports ok:false and no wall time") {
    assert(ScalingLeg.legLine("cc", "8", Seq(Some(2.0), Some(1.5))) ===
      """SCALINGLEG {"leg":"cc","cpus":8,"ok":true,"wall_s":1.5,"passes":[2.0,1.5]}""")
    assert(ScalingLeg.legLine("cc", "8", Seq(Some(2.0), None)) ===
      """SCALINGLEG {"leg":"cc","cpus":8,"ok":false,"passes":[2.0,null]}""")
  }

  test("an environment integer parses when positive and names its key when malformed") {
    assert(GraftSession.positiveInt("SPARK_GRAFT_CPUS", " 8 ") === 8)
    for (raw <- Seq("eight", "4.0", "0", "-2", "", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.positiveInt("SPARK_GRAFT_BENCH_PASSES", raw))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_PASSES") &&
        e.getMessage.contains(s"'$raw'"), e.getMessage)
    }
  }
}
