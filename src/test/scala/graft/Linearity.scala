package graft

/** Time ratios for the linear-cost tests. */
object Linearity {

  /** best-of-7 time ratio f(large) / f(small) after 5 warm-up rounds
    * (JIT), the two interleaved so a burst of host load lands on both
    */
  def ratio(small: () => Unit, large: () => Unit): Double = {
    def time(f: () => Unit): Long = { val t0 = System.nanoTime(); f(); System.nanoTime() - t0 }
    (0 until 5).foreach { _ => small(); large() }
    val (ts, tl) = (0 until 7).map(_ => (time(small), time(large))).unzip
    tl.min.toDouble / ts.min.toDouble
  }
}
