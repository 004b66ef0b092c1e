package graft.tools

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicLong

/** Memory-bandwidth probe for BENCH artifacts — the "bwgate" from the
  * round-3 scaling methodology (BENCH/BASELINE.md), folded into `Bench`
  * so every emitted JSON line carries the host state that produced it.
  * A virtualized host's effective bandwidth swings within minutes (noisy
  * neighbors / steal); a number measured in a trough is not comparable
  * to one from a clean window, so the bench is only trusted ("gated")
  * when the probe is healthy BOTH before and after the timed region.
  *
  * Method: per-thread 256 MiB long arrays, one thread per core, fill
  * untimed, then time `reps` sequential sum sweeps — a pure-read
  * bandwidth sweep with no allocation inside the timed region. Reported
  * unit is GiB/s.
  */
object BwProbe {
  /** Gate = 0.8 × the median of 16 idle-host probes, each the first in a
    * fresh JVM as in `Bench`, on a 4-core, 15 GiB host (median 20.0
    * GiB/s; samples in BENCH/BASELINE.md, "4-core host"). */
  val Gate: Double = 16.0

  def gbps(threads: Int = Runtime.getRuntime.availableProcessors,
      mb: Int = 256, reps: Int = 3): Double = {
    val ex = Executors.newFixedThreadPool(threads)
    try {
      val bufs = new Array[Array[Long]](threads)
      val sink = new AtomicLong(0) // defeats dead-code elimination
      val filled = new CountDownLatch(threads)
      for (i <- 0 until threads) ex.submit(new Runnable {
        def run(): Unit = {
          bufs(i) = Array.fill(mb * 131072)(1L) // 131072 longs = 1 MiB
          // one untimed sweep compiles the loop, so the probe a fresh
          // JVM runs first measures memory, not the interpreter
          sink.addAndGet(sweep(bufs(i), 1))
          filled.countDown()
        }
      })
      filled.await()
      val done = new CountDownLatch(threads)
      val t0 = System.nanoTime()
      for (i <- 0 until threads) ex.submit(new Runnable {
        def run(): Unit = {
          sink.addAndGet(sweep(bufs(i), reps))
          done.countDown()
        }
      })
      done.await()
      val sec = (System.nanoTime() - t0) / 1e9
      if (sink.get() == 42L) Console.out.flush()
      threads.toDouble * mb * reps / 1024.0 / sec
    } finally ex.shutdown()
  }

  private def sweep(b: Array[Long], reps: Int): Long = {
    var s = 0L
    var r = 0
    while (r < reps) {
      var j = 0
      while (j < b.length) { s += b(j); j += 1 }
      r += 1
    }
    s
  }

  def healthy(gbps: Double): Boolean = gbps >= Gate
}
