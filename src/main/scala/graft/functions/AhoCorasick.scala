package graft.functions

import scala.collection.mutable

/** Aho-Corasick multi-pattern substring matcher (public algorithm; the
  * reference uses pyahocorasick for the URL banned-subword scan,
  * filters/url_filter.py:73-78,129). One pass over the text regardless of
  * list size — the right tool once blocklists reach 10^4+ entries, where
  * per-pattern `contains` or regex alternation goes quadratic. */
final class AhoCorasick private (
    next: Array[mutable.LongMap[Int]], // node → (char → node)
    fail: Array[Int],
    hit: Array[Boolean],    // some pattern ends at this node or a suffix of it
    patLen: Array[Int],     // length of the pattern ending exactly here, else 0
    nextOut: Array[Int])    // nearest proper suffix node ending a pattern, else -1
    extends Serializable {

  /** Does any pattern occur in `text`? */
  def containsAny(text: String): Boolean = {
    var state = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i).toLong
      var s = state
      var n = next(s).getOrElse(c, -1)
      while (n < 0 && s != 0) { s = fail(s); n = next(s).getOrElse(c, -1) }
      state = if (n < 0) 0 else n
      if (hit(state)) return true
      i += 1
    }
    false
  }

  /** Is there an occurrence `text[s, e)` of some pattern for which
    * `accept(s, e)` holds? Still one pass over the text: every occurrence
    * is offered in turn, longest first among those ending at the same `e`,
    * and the scan stops at the first one accepted. */
  def existsMatch(text: String)(accept: (Int, Int) => Boolean): Boolean = {
    var state = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i).toLong
      var s = state
      var n = next(s).getOrElse(c, -1)
      while (n < 0 && s != 0) { s = fail(s); n = next(s).getOrElse(c, -1) }
      state = if (n < 0) 0 else n
      if (hit(state)) {
        var t = if (patLen(state) > 0) state else nextOut(state)
        while (t >= 0) {
          if (accept(i + 1 - patLen(t), i + 1)) return true
          t = nextOut(t)
        }
      }
      i += 1
    }
    false
  }
}

object AhoCorasick {
  def apply(patterns: Iterable[String]): AhoCorasick = {
    val next = mutable.ArrayBuffer(mutable.LongMap.empty[Int])
    val hitB = mutable.ArrayBuffer(false)
    val lenB = mutable.ArrayBuffer(0)
    for (p <- patterns if p.nonEmpty) {
      var state = 0
      for (c <- p) {
        state = next(state).getOrElseUpdate(c.toLong, {
          next += mutable.LongMap.empty[Int]
          hitB += false
          lenB += 0
          next.length - 1
        })
      }
      hitB(state) = true
      lenB(state) = p.length
    }
    val n = next.length
    val fail = new Array[Int](n)
    val hit = hitB.toArray
    val patLen = lenB.toArray
    val nextOut = Array.fill(n)(-1)
    // BFS failure links; hit propagates through suffix links, and nextOut
    // chains the nodes along them that end a pattern
    val queue = mutable.Queue.empty[Int]
    next(0).foreach { case (_, s) => fail(s) = 0; queue.enqueue(s) }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      if (hit(fail(u))) hit(u) = true
      nextOut(u) = if (patLen(fail(u)) > 0) fail(u) else nextOut(fail(u))
      next(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(v) = next(f).get(c).filter(_ != v).getOrElse(0)
        queue.enqueue(v)
      }
    }
    new AhoCorasick(next.toArray, fail, hit, patLen, nextOut)
  }
}
