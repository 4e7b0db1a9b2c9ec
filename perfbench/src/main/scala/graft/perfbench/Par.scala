package graft.perfbench

import java.util.concurrent.{Executors, TimeUnit}

/** Fixed-size parallel loops for input generation and ground truth. */
object Par {
  val threads: Int = Runtime.getRuntime.availableProcessors()

  /** Run `f(0 until n)` on `threads` workers; rethrows the first failure. */
  def foreach(n: Int)(f: Int => Unit): Unit = {
    if (n <= 1 || threads == 1) { (0 until n).foreach(f); return }
    val pool = Executors.newFixedThreadPool(math.min(threads, n))
    try {
      val fs = (0 until n).map(i => pool.submit(new Runnable { def run(): Unit = f(i) }))
      fs.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }
}
