package perfbench

/** SplitMix64: a small, fully specified generator, so one seed yields the
  * same inputs and op sequences on every JVM and platform. */
final class Rng(seed: Long) {
  private var state = seed

  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    Rng.mix(state)
  }

  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt

  /** Uniform in [lo, hi]. */
  def between(lo: Long, hi: Long): Long =
    lo + java.lang.Long.remainderUnsigned(nextLong(), hi - lo + 1)

  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))

  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * nextDouble())
  }

  def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.length))

  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** An independent stream for one purpose, so adding draws to one
    * generator never shifts another. */
  def fork(tag: String): Rng = new Rng(Rng.mix(seed ^ tag.hashCode.toLong * 0x632be59bd9b4e019L))
}

object Rng {
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** A seeded closed-loop op sequence with a fixed mix: each cycle holds
  * every kind exactly its count of times, shuffled, and then the `last`
  * kinds in their given order. Two seeds then differ in op order and
  * parameters but never in the share of each kind. */
final class Schedule(rng: Rng, mix: Seq[(String, Int)], last: Seq[String] = Nil) {
  private val cycle = mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toIndexedSeq
  private var pending: List[String] = Nil

  def next(): String = {
    if (pending.isEmpty) pending = (rng.shuffle(cycle) ++ last).toList
    val k = pending.head
    pending = pending.tail
    k
  }
}
