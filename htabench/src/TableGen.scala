package htabench

import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The registry's input tables (TPC-H-like star schema, an `events` stream,
  * a text corpus and embeddings) in the shapes and value ranges of the
  * registry's testdata, at `scale` × the sf1 row counts. Timestamps are
  * written as TIMESTAMP_NTZ, i.e. parquet `timestamp[us]`. */
object TableGen {
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group " +
    "hash index join key line merge order part query row scan slow small sort " +
    "spark stream table the value vector window").split(" ")

  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    val rnd = new SplittableRandom(seed)
    def n(sf1: Int): Int = math.max(1, (sf1 * scale).toInt)
    def r2(d: Double): Double = math.round(d * 100) / 100.0
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def day(from: LocalDateTime, days: Int): LocalDateTime = from.plusDays(rnd.nextInt(days).toLong)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet.tmp")
    def f(name: String, t: DataType) = StructField(name, t)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000)
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(rnd.nextDouble(-999.99, 9999.99)),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))
    val nSupp = n(10000)
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(rnd.nextDouble(-999.99, 9999.99)))))
    val nPart = n(200000)
    val adj = Seq("blue", "cold", "hot", "new", "old", "red", "small", "big")
    val noun = Seq("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adj)} ${pick(noun)}",
        s"Brand#${1 + rnd.nextInt(25)}",
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        1 + rnd.nextInt(50), 900.0 + rnd.nextInt(1000) / 10.0)))
    val nOrd = n(1500000)
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong, pick(Seq("F", "O", "P")),
        r2(rnd.nextDouble(1000.0, 500000.0)), day(d0, 2404),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until n(6000000)).map { _ =>
        val qty = 1 + rnd.nextInt(50)
        Row(rnd.nextInt(nOrd).toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong,
          1 + rnd.nextInt(7), qty.toDouble, r2(qty * rnd.nextDouble(900.0, 2100.0)),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
          pick(Seq("O", "F")), day(d0.plusDays(1), 2499))
      })

    // events: unique (event_type, ts) — the store's one-point-per-time rule
    val types = Seq("click", "error", "purchase", "signup", "view")
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val seen = scala.collection.mutable.HashSet[(String, Long)]()
    val events = (0 until n(1000000)).map { _ =>
      var key = (pick(types), rnd.nextLong(0L, 30L * 86400L * 1000000L))
      while (!seen.add(key)) key = (key._1, rnd.nextLong(0L, 30L * 86400L * 1000000L))
      key
    }.sortBy(_._2).zipWithIndex.map { case ((t, us), i) =>
      Row(i.toLong, e0.plusNanos(us * 1000L), rnd.nextInt(n(15000)).toLong, t,
        r2(0.01 + -math.log(1 - rnd.nextDouble()) * 60.0), s"""{"k": ${rnd.nextInt(100)}}""")
    }
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))), events)

    // documents: a 31-word corpus; one in five is a light edit of an earlier
    // document, so the dedup families find near-duplicates
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val nDocs = math.max(500, n(50000))
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    for (i <- 0 until nDocs) {
      val words =
        if (i > 10 && rnd.nextInt(5) == 0) {
          val w = texts(rnd.nextInt(i)).trim.split(" ")
          for (_ <- 0 until 1 + rnd.nextInt(3)) w(rnd.nextInt(w.length)) = pick(Vocab.toSeq)
          w.toSeq
        } else Seq.fill(10 + rnd.nextInt(90))(pick(Vocab.toSeq))
      texts += words.mkString(" ")
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, pick(langs), s"src${i % 20}", t.length.toLong) }.toSeq)

    val centers = Array.fill(10, 64)(rnd.nextDouble(-0.3, 0.3))
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until math.max(500, n(20000))).map { i =>
        val l = rnd.nextInt(10)
        Row(i.toLong, centers(l).map(c => (c + rnd.nextDouble(-0.15, 0.15)).toFloat).toSeq, l)
      })

    // a single part file per table, at the path the registry reads
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")) {
      val tmp = new java.io.File(s"$dir/$t.parquet.tmp")
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      require(part.renameTo(new java.io.File(s"$dir/$t.parquet")), s"move $part")
      DiskStats.delete(tmp.getPath)
    }
  }
}
