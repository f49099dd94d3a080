package graftbench

import java.util.Locale

/** Host canary: a fixed pure-JVM integer loop on `threads` threads,
  * timed and printed as Mops/s. Run before and after each benchmark run
  * and recorded as run metadata, so a slow host reads as a number.
  * Usage: Canary <threads> */
object Canary {
  private def mix(n: Long, seed: Long): Long = {
    var x = seed
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def main(args: Array[String]): Unit = {
    val threads = args(0).toInt
    val perThread = 100000000L
    mix(perThread / 10, 1L)
    val acc = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val pool = (0 until threads).map { t =>
      val th = new Thread(() => { acc.getAndAdd(mix(perThread, 42L + t)); () })
      th.start(); th
    }
    pool.foreach(_.join())
    val mops = perThread.toDouble * threads / (System.nanoTime() - t0) * 1e3
    // the checksum keeps every thread's loop observable, so none is elided
    println(String.format(Locale.ROOT, "canary_mops %.1f threads %d ck %d",
      Double.box(mops), Int.box(threads), Long.box(acc.get & 0xff)))
  }
}
