package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Evenly spread category draws: the k-th draw of a kind is
  * frac(offset + k * stride), with a seeded offset and a per-kind
  * irrational stride. Each category's share is then exact to one row
  * whatever the seed, so seeds change which rows fall in a category but
  * not how much work the inputs hold.
  */
final class Strata(seed: Long) {
  private val r = new SplittableRandom(seed ^ 0x57a7a5L)
  private val primes = Iterator.from(2).filter(n => (2 until n).forall(n % _ != 0))
  private val kinds = mutable.Map.empty[String, (Double, Double)]
  private val drawn = mutable.Map.empty[String, Int].withDefaultValue(0)
  def pct(kind: String): Int = {
    val (offset, stride) = kinds.getOrElseUpdate(kind, {
      val root = math.sqrt(primes.next().toDouble)
      (r.nextDouble(), root - math.floor(root))
    })
    val k = drawn(kind)
    drawn(kind) = k + 1
    val x = offset + k * stride
    ((x - math.floor(x)) * 100).toInt
  }
}
