package htabench

import java.util.SplittableRandom

/** One generated metric: strictly increasing ns times, integer values. */
final case class Series(name: String, times: Array[Long], values: Array[Double]) {
  /** Index of the first point with time >= t. */
  def lowerBound(t: Long): Int = {
    val i = java.util.Arrays.binarySearch(times, t)
    if (i >= 0) i else -i - 1
  }
}

/** Seeded point generators. The engine only ever sees the points they make. */
object HtaData {
  val Sec = 1000000000L
  val Day = 86400L * Sec

  /** Points from `start`, `n` of them, each step `spacing` ± 20 % jitter;
    * an optional gap of `gapNs` after point `gapAt`. Values are integers in
    * [0, 100) on a bounded random walk, so level sums and integrals of
    * value × gap stay exact in doubles (below 2^53). */
  def series(name: String, rnd: SplittableRandom, start: Long, n: Int,
             spacing: Long, gapAt: Int = -1, gapNs: Long = 0L): Series = {
    val t = new Array[Long](n)
    val v = new Array[Double](n)
    var time = start
    var value = rnd.nextInt(100)
    val jitter = math.max(1L, spacing / 5)
    for (i <- 0 until n) {
      t(i) = time
      v(i) = value.toDouble
      value = math.max(0, math.min(99, value + rnd.nextInt(-7, 8)))
      time += spacing + rnd.nextLong(-jitter, jitter + 1)
      if (i == gapAt) time += gapNs
    }
    Series(name, t, v)
  }

  /** `hta-serve`: over a 5-day span, one hot metric at 10 s spacing holds
    * about half the points; eleven more, at 1 s / 10 s / 60 s, start late,
    * most stop before the set-up horizon (80 % of the span) and every
    * other one pauses for hours. */
  final case class ServeData(t0: Long, span: Long, series: Seq[Series])

  /** The eleven other metrics: spacing in seconds, points, and where the
    * metric ends, as a share of the span. The layout is fixed, so seeds
    * differ in jitter, values and pauses, not in how much data a window
    * holds. Every metric loaded at set-up ends after 60 % of the span: the
    * routing watermark is the minimum over metrics of the last closed level
    * end, so windows ending before that point can be answered from the
    * levels and later ones cannot. Lives are 1 h at 1 s spacing, 12 h at
    * 10 s and 2 days at 60 s. */
  private val others: Seq[(Long, Int, Double)] = Seq(
    (1L, 3600, 0.62), (10L, 4320, 0.65), (60L, 2880, 0.68), (1L, 3600, 0.71),
    (10L, 4320, 0.74), (60L, 2880, 0.77), (1L, 3600, 0.79), (10L, 4320, 0.83),
    (60L, 2880, 0.88), (10L, 4320, 0.9), (60L, 2880, 1.0))

  def serve(seed: Long): ServeData = {
    val rnd = new SplittableRandom(seed * 7919 + 17)
    // aligned to the default Meta's coarsest level (1e7 s); 5 days, so a
    // full-range retrieve_flex at min_samples 30 routes to the 1e4 s level
    val t0 = 1700000000L * Sec
    val span = 5 * Day
    val hot = series("hot", rnd, t0 + rnd.nextLong(0, 10 * Sec),
      (span / (10 * Sec) * 98 / 100).toInt, 10 * Sec)
    val rest = others.zipWithIndex.map { case ((spacingS, n, end), k) =>
      val spacing = spacingS * Sec
      val gap = if (k % 2 == 1) rnd.nextLong(2, 9) * 3600L * Sec else 0L
      val last = math.min(t0 + (span * end).toLong, t0 + span - spacing) -
        rnd.nextLong(0, 3600 * Sec)
      series(f"m${k + 1}%02d", rnd, last - n.toLong * spacing - gap, n, spacing,
        gapAt = if (gap > 0) rnd.nextInt(n / 4, 3 * n / 4) else -1, gapNs = gap)
    }
    ServeData(t0, span, hot +: rest)
  }
}
