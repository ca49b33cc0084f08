package perfbench

import java.util.SplittableRandom

/** Seeded random helpers shared by the input generators. */
final class Gen(seed: Long) {
  private val r = new SplittableRandom(seed)

  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** Zipf(s) over ranks 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(g: Gen): Int = sampleBelow(g, n)

  /** A rank below `m` ≤ n: Zipf(s) over ranks 0 until m. */
  def sampleBelow(g: Gen, m: Int): Int = {
    val u = g.double() * cdf(m - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(m - 1, if (i >= 0) i else -i - 1)
  }
}
