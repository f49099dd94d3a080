package graftbench

import java.util.Locale

/** Checks of the harness's own arithmetic and reporting. Run under a
  * non-English default locale (`python3 perfbench/run.py --selftest`
  * starts it with user.language=de), so a locale-dependent number
  * format fails here. Exits non-zero on the first failed check. */
object HarnessTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    println((if (pass) "PASS " else "FAIL ") + name)
    if (!pass) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  private def pass(keys: KeyRun*): PassRun =
    PassRun(1, traced = false, 0L, 2000000000L, 1000000000L, keys, Map.empty)

  def main(args: Array[String]): Unit = {
    println(s"default locale ${Locale.getDefault}")

    check("median of odd and even counts") {
      close(Stats.median(Seq(3, 1, 2)), 2) && close(Stats.median(Seq(4, 1, 3, 2)), 2.5)
    }
    check("geomean") { close(Stats.geomean(Seq(1, 4, 16)), 4) }
    check("tail takes the highest ladder percentile with >= 10 samples above") {
      // n=100: p99 and p95 leave 1 and 5 above; p90 leaves 10
      val t100 = Stats.tail((1 to 100).map(_.toDouble))
      // n=1000: p99 leaves 10 above
      val t1000 = Stats.tail((1 to 1000).map(_.toDouble))
      // n=19: no step leaves 10 above, so the maximum at p100
      val t19 = Stats.tail((1 to 19).map(_.toDouble))
      t100 == ((90.0, 90.0, 100)) && t1000 == ((99.0, 990.0, 1000)) &&
        t19 == ((100.0, 19.0, 19))
    }
    check("job-interval union, overlap merged and clipped to the pass") {
      val iv = Seq((0L, 10L), (5L, 15L), (20L, 30L))
      Stats.unionLength(iv, 0, 40) == 25 && Stats.unionLength(iv, 8, 25) == 12 &&
        Stats.unionLength(Seq((0L, 5L), (5L, 9L)), 0, 100) == 9 &&
        Stats.unionLength(Nil, 0, 100) == 0
    }
    check("a throwing key is counted as failed, not timed") {
      val boom = Harness.runKey("q_boom", "M",
        () => throw new IllegalStateException("bad input\nsecond line"), _ => ())
      val okRun = KeyRun("q_ok", "M", 0L, 1000000000L, 1000000000L, None)
      val s = Harness.summarize(Seq(pass(okRun, boom), pass(okRun, boom)))
      boom.error.contains("java.lang.IllegalStateException: bad input") &&
        s.attempted == 4 && s.failed == 2 && close(s.geomeanS, 2.0) &&
        s.tail._3 == 2 && close(s.tail._2, 2.0) && s.errors.keySet == Set("q_boom")
    }
    check("JSON numbers ignore the default locale") {
      val j = Json.nums(Seq("a" -> 1234.5, "b" -> 0.000125, "c" -> 3.0, "d" -> Double.NaN))
      j == """{"a":1234.5,"b":1.25E-4,"c":3,"d":null}"""
    }
    check("JSON strings escape quotes and control characters") {
      Json.str("a\"b\\c\n\u0001") == "\"a\\\"b\\\\c\\n\\u0001\""
    }
    if (failures > 0) {
      println(s"$failures check(s) failed")
      sys.exit(1)
    }
    println("all checks passed")
  }
}
