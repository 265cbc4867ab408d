package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark main's pass loop and records: a pass that throws has no
  * time, and a query with one is left out of every timed figure. */
class BenchSpec extends AnyFunSuite {

  private def fails(): Unit = throw new IllegalStateException("planted")

  test("a pass that throws gives no time, and a failed query is never rerun") {
    var calls = 0
    val ps = Bench.passes("q0_fails", 3, floor = Some(1e-9)) { () => calls += 1; fails() }
    assert(ps === Vector(None, None, None))
    assert(calls === 3, "the outlier reruns are for slow passes, not failed ones")
    var n = 0
    val mixed = Bench.passes("q0_second_fails", 3, floor = None) { () =>
      n += 1
      if (n == 2) fails()
    }
    assert(mixed.map(_.isDefined) === Vector(true, false, true))
  }

  test("a slow query reruns until a pass lands inside twice its prior min") {
    var n = 0
    val ps = Bench.passes("q0_slow", 3, floor = Some(0.05)) { () =>
      n += 1
      if (n <= 4) Thread.sleep(150)
    }
    assert(ps.size === 5 && ps.forall(_.isDefined))
    assert(ps.last.get < 0.1)
  }

  test("a query with a failed pass is ok:false and left out of the total and the map") {
    val good = Bench.Measured("q1_good", Vector(Some(2.0), Some(1.5), Some(1.75)), 0.5)
    val bad = Bench.Measured("q2_bad", Vector(Some(9.0), None, Some(8.0)), 0.5)
    assert(good.ok && !bad.ok)
    val detail = Bench.detailJson(Seq(good, bad), "sf0.1", 0.1, 0.2, 3)
    assert(detail.contains(""""value":1.5,"""))
    assert(detail.contains(""""q1_good":1.5"""))
    assert(detail.contains(""""q2_bad":{"ok":false}"""))
    assert(detail.contains(""""q2_bad":[9.0,null,8.0]"""))
    assert(detail.contains(""""n_failed":1"""))
    val line = Bench.stdoutLine(Seq(good, bad), "/data/sf0.1", Some("BENCH_DETAIL.json"))
    assert(line.contains(""""value":1.50,"""))
    assert(line.contains(""""queries":{"q1":2}"""))
    assert(line.contains(""""n_queries":2,"n_failed":1"""))
  }

  test("a pre-build that throws is named on stderr and in the detail record; the rest still run") {
    var ran = Vector.empty[String]
    val err = new java.io.ByteArrayOutputStream
    val prev = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val failed = try Bench.prebuild(Seq(
      "first" -> (() => ran :+= "first"),
      "broken" -> (() => fails()),
      "last" -> (() => ran :+= "last")))
    finally System.setErr(prev)
    assert(failed === Seq("broken"))
    assert(ran === Vector("first", "last"))
    assert(err.toString.contains("[bench] pre-build broken: java.lang.IllegalStateException: planted"))
    val good = Bench.Measured("q1_good", Vector(Some(1.0)), 0.5)
    assert(Bench.detailJson(Seq(good), "sf0.1", 0.1, 0.2, 3, failed)
      .contains(""""prebuild_failed":["broken"]"""))
    assert(Bench.detailJson(Seq(good), "sf0.1", 0.1, 0.2, 3).contains(""""prebuild_failed":[]"""))
  }

  test("the stdout line stays inside the 2000-character window it is read from") {
    // 250 registered queries, a third of them failing, all slower than 10 s
    // (the widest values the map prints); sbt's [success] trailer takes ~75
    val rs = (1 to 250).map { i =>
      Bench.Measured(f"q$i%03d_query_name", Vector.fill(3)(
        if (i % 3 == 0) None else Some(100.0 + i)), 1.0)
    }
    val line = Bench.stdoutLine(rs, "/data/sf0.1", Some("BENCH_DETAIL.json"))
    assert(line.length + 75 < 2000, s"${line.length} characters")
  }

  test("a detail record that cannot be written is named null, never a stale file") {
    // a path under a regular file cannot be created, whoever runs the test
    val f = java.io.File.createTempFile("bench-detail", ".json")
    f.deleteOnExit()
    val good = Bench.Measured("q1_good", Vector(Some(2.0)), 0.5)
    assert(Bench.writeDetail(s"$f/BENCH_DETAIL.json", "{}") === None)
    assert(Bench.stdoutLine(Seq(good), "/data/sf0.1", None).contains(""""detail":null,"""))
    assert(Bench.writeDetail(f.getPath, "{}") === Some(f.getPath))
    assert(Bench.stdoutLine(Seq(good), "/data/sf0.1", Some(f.getPath))
      .contains(s""""detail":"${f.getPath}","""))
  }
}
