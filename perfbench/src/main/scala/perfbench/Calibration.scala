package perfbench

import java.util.concurrent.{Callable, Executors, ThreadFactory}

/** A fixed CPU- and memory-bound job, run on `threads` threads at once,
  * whose CPU time measures how fast the machine runs this kind of work
  * at the moment it runs. Its working set, 18 MB a thread, spills out
  * of a core's cache as Spark's does, so contention for the shared
  * cache and memory slows it too.
  */
final class Calibration(threads: Int) {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-calibration")
      t.setDaemon(true)
      t
    }
  })
  @volatile private var sink = 0L
  private val sorted = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](1 << 18))
  private val table = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](1 << 21))

  /** Sorts 256k pseudo-random longs, then adds them into a 16 MB table
    * at 1M pseudo-random slots; returns a checksum, kept so none of it
    * is dead code.
    */
  private def kernel(seed: Long): Long = {
    val a = sorted.get
    val t = table.get
    var x = seed
    var i = 0
    while (i < a.length) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1 }
    java.util.Arrays.sort(a)
    var sum = 0L
    i = 0
    while (i < (1 << 20)) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val j = (x >>> 43).toInt // 21 bits
      t(j) += a(i & (a.length - 1))
      sum += t(j)
      i += 1
    }
    sum
  }

  /** CPU seconds the job took, summed over its threads. */
  def sample(): Double = {
    val tasks = (0 until threads).map { t =>
      pool.submit(new Callable[Long] {
        def call(): Long = {
          val c0 = mx.getCurrentThreadCpuTime
          sink ^= kernel(t)
          mx.getCurrentThreadCpuTime - c0
        }
      })
    }
    tasks.map(_.get).sum / 1e9
  }
}

/** Runs the calibration job in a JVM of its own, for workloads whose
  * work runs in other processes: `<threads> <samples>` prints the
  * samples' CPU seconds on one line, after three untimed ones.
  */
object Calibration {
  def main(args: Array[String]): Unit = {
    val c = new Calibration(args(0).toInt)
    (1 to 3).foreach(_ => c.sample())
    println((1 to args(1).toInt).map(_ => c.sample()).mkString(" "))
  }
}
