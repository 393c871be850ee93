package graft.perfbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** How fast the box is right now, measured apart from the engine.
  *
  * The benchmark shares its machine: on the reference box (4 vCPU) the
  * same code ran 35 % faster from one run to the next when other tenants
  * went quiet. A fixed amount of integer work on every core, timed just
  * before and just after the timed phase, slows down with the box and
  * with nothing else, so wall times are reported rescaled to the speed the
  * box had when [[ReferenceSeconds]] was measured. The raw times are
  * printed beside them. */
object Calibrate {
  /** What this measurement reads on the reference box (4 vCPU at 2.0 GHz)
    * when the other tenants are quiet; it only fixes the unit. */
  val ReferenceSeconds = 0.25

  private val Iterations = 100000000L

  private def spin(n: Long): Long = {
    var x = 88172645463325252L
    var i = 0L
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** The fastest of five timings of `threads` threads each doing the same
    * fixed work, after one untimed round that compiles the loop. Other
    * tenants only ever slow a round down, so the fastest one is the
    * steadiest reading of the box's speed. */
  def seconds(threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      def round(n: Long): Double = {
        val t0 = System.nanoTime()
        val tasks = Seq.fill(threads)(new Callable[Long] { def call(): Long = spin(n) })
        pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
        (System.nanoTime() - t0) / 1e9
      }
      round(Iterations / 10)
      Seq.fill(5)(round(Iterations)).min
    } finally pool.shutdown()
  }
}
