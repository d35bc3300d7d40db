package graft.perfbench

/** The seeded order in which a closed-loop client issues its ops.
  *
  * Every cycle issues each entry of the menu exactly once, so every seed
  * runs the same mix; the seed only decides the order within each cycle
  * (and, through [[Rng]], the constants the menu entries were built
  * with). */
object OpPlan {

  /** The endless op sequence: seeded shuffles of `menu`, one per cycle. */
  def iterator[T](menu: IndexedSeq[T], seed: Long): Iterator[T] = {
    val rng = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    Iterator.continually(rng.shuffle(menu)).flatten
  }
}

/** Seeded source of workload constants (predicate bounds, slice
  * contents). One per client, derived from the run seed and a role tag,
  * so adding a client does not shift another client's constants. */
final class Rng(seed: Long, role: String) {
  private val r = new scala.util.Random(seed ^ (role.hashCode.toLong << 32) ^ role.length)
  def int(lo: Int, hiExclusive: Int): Int = lo + r.nextInt(hiExclusive - lo)
  def long(lo: Long, hiExclusive: Long): Long = lo + (r.nextDouble() * (hiExclusive - lo)).toLong
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
}
