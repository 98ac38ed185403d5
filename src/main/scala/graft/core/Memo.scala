package graft.core

/** A per-task memo of a pure function over repeated keys (tokens, mention
  * texts: Zipfian, so nearly every lookup hits). It holds at most
  * [[Memo.Cap]] entries and empties itself when it reaches that size, so a
  * partition of mostly distinct keys costs one extra map probe per key,
  * never unbounded memory. Not thread-safe: make one per task. */
final class Memo[K, V <: AnyRef] {
  private val m = new java.util.HashMap[K, V]()

  def getOrElseUpdate(k: K, v: => V): V = {
    val hit = m.get(k)
    if (hit != null) hit
    else {
      if (m.size >= Memo.Cap) m.clear()
      val got = v
      m.put(k, got)
      got
    }
  }
}

object Memo {
  private[graft] val Cap = 1 << 16
}
